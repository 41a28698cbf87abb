"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload reference_etl --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root.  The run

1. generates the workload's inputs from ``--seed`` (cached under
   ``.perfbench/data``) and their expected results (DuckDB, cached
   next to the inputs) -- neither is timed;
2. starts the worker process; ``setup_s`` is the time from its spawn to
   a ready ``session.get_spark`` session that has run one trivial job
   (one sample a run: a second setup would cost the run budget another
   ~13 s on 4 cores);
3. lets the worker, one closed-loop client, run one cold pass and then
   a fixed number of later passes, one per 5 s of ``--seconds`` and at
   least two, while a ``/proc`` sampler tracks the worker tree's
   resident memory;
4. prints a report path on stderr and, as the last stdout line, one JSON
   object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
   the end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``.

Sessions run on ``local[<cores>]``, one core fewer than the process may
use, with ``SPARK_GRAFT_DRIVER_MEMORY``
(4g unless set).  Exit status is non-zero, with no result line, when
the engine cannot be imported or a process fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

#: Workload -> base-table scale.  reference_etl derives its raw files
#: from the base tables of its scale.
WORKLOADS = {"reference_etl": 0.002, "query_mix": 0.01}
DEADLINE_S = 170.0
DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "4g")

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "wall_s": "s", "op_p50_s": "s",
    "op_tail_s": "s",
}
PER_LAYER = {
    "sources.calls": "count", "sources.self_s": "s", "sources.jobs": "count",
    "inference.self_s": "s",
    "builder.self_s": "s", "builder.jobs": "count",
    "lineage.calls": "count", "lineage.self_s": "s", "lineage.jobs": "count",
    "parallelism.calls": "count", "parallelism.spread": "count",
    "plan.self_s": "s",
    "exec.self_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.longest_task_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "sinks.self_s": "s", "sinks.bytes_written": "bytes",
    "sinks.files": "count",
    "unattributed_s": "s", "trace_overhead": "ratio",
    # Peak memory of the worker tree.  Reported with the layers because
    # its run-to-run spread (30-45% over five seeds on 4 cores: heap
    # growth follows GC timing) exceeds any regression bound the
    # benchmark could fix.
    "peak_rss_mb": "MB",
}


def cores() -> int:
    """Spark task threads: one fewer than the usable CPUs, so the JVM's
    JIT and GC threads and the Python driver do not queue behind the
    tasks (on 4 cores, local[4] ran the later passes about 20% slower
    than local[3], with a similar spread)."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def prepare(workload: str, seed: int, sf: float) -> tuple[str, str, dict]:
    """Generate inputs and expected results; return (data dir, expected
    file, input sizes)."""
    import gen
    import oracle

    base = os.path.join(STATE, "data", f"base-sf{sf}-seed{seed}")
    sizes = gen.base_tables(base, sf, seed)
    if workload == "reference_etl":
        ref = os.path.join(STATE, "data", f"reference-sf{sf}-seed{seed}")
        manifest = gen.reference_inputs(ref, base, seed)
        oracle.expected_reference(ref, manifest)
        return ref, os.path.join(ref, "expected_reference.json"), manifest
    import worker  # query lists only; importing it starts no Spark

    expected = os.path.join(base, f"expected_{workload}.json")
    oracle.expected_queries(expected, base, worker.QUERY_WORKLOADS[workload])
    return base, expected, sizes


def _env() -> dict:
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # No hsperfdata files in /tmp: the run writes only under STATE.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    return env


def _group_alive(pgid: int) -> bool:
    """Whether a live (not zombie) process is left in group ``pgid``."""
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    state, _, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
            except OSError:
                continue
            if int(pgrp) == pgid and state != "Z":
                return True
    return False


def _reap_group(pgid: int, deadline: float) -> None:
    """Wait until every process of the worker's group (the JVM and its
    Python workers too) has ended; kill what is left at the deadline."""
    while _group_alive(pgid):
        if time.time() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            return
        time.sleep(0.05)


def _spawn(args: list[str], deadline: float) -> tuple[float, int]:
    """Run ``worker.py`` with ``args``; return (spawn time, peak resident
    bytes of its process tree).  The process group is killed if it
    outlives ``deadline``."""
    from rss import PeakSampler

    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        cwd=STATE, env=_env(), stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL, start_new_session=True,
    )
    sampler = PeakSampler(proc.pid)
    sampler.start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("worker overran the deadline")
    finally:
        _reap_group(proc.pid, deadline)
        sampler.stop()
    if proc.returncode != 0:
        raise SystemExit(f"worker exited with {proc.returncode}")
    return spawned, sampler.peak


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale")
    a = ap.parse_args()
    sf = a.sf or WORKLOADS[a.workload]
    deadline = time.time() + DEADLINE_S

    sys.path.insert(0, ROOT)
    import importlib.util

    if importlib.util.find_spec("blueforty___etl_data_pipeline_spark") is None:
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    data, expected, sizes = prepare(a.workload, a.seed, sf)
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_file = os.path.join(
        out_dir, f"{a.workload}-sf{sf}-seed{a.seed}-trace{a.trace}.json"
    )
    spawned, peak = _spawn(
        ["--workload", a.workload, "--data", data, "--expected", expected,
         "--seconds", str(a.seconds), "--trace", str(a.trace),
         "--out", out_file],
        deadline,
    )
    with open(out_file) as f:
        res = json.load(f)

    passes = [res["first"], *res["passes"]]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(len(p["failed"]) for p in passes)
    plain = [p for p in res["passes"] if not p["traced"]]
    op_times = [s for p in plain for _, s in p["ops"]]
    by_op: dict[str, list[float]] = {}
    for p in plain:
        for name, s in p["ops"]:
            by_op.setdefault(name, []).append(s)
    op_medians = {name: statistics.median(v) for name, v in by_op.items()}
    tail_op = max(op_medians, key=op_medians.get)
    report = {
        "workload": a.workload, "seed": a.seed, "sf": sf, "cores": cores(),
        "driver_memory": DRIVER_MEMORY, "input_sizes": sizes,
        "passes": len(res["passes"]),
        # op_tail_s is the slowest op's median latency over the later
        # passes: with 8 (query_mix) or 20 (reference_etl) op samples a
        # run, any percentile that leaves ten samples beyond it is at or
        # below the median, and the single slowest sample follows host
        # noise more than the program.
        "op_samples": len(op_times), "op_tail_op": tail_op,
        "failures": sorted({n for p in passes for n in p["failed"]}),
    }
    metrics = {
        "setup_s": res["ready"] - spawned,
        "first_pass_s": res["first"]["wall"],
        "wall_s": statistics.median(p["wall"] for p in plain),
        "op_p50_s": statistics.median(op_times),
        "op_tail_s": op_medians[tail_op],
        "peak_rss_mb": peak / 2**20,
    }
    traced = [p for p in res["passes"] if p["traced"]]
    if traced:
        for name in PER_LAYER:
            metrics.setdefault(name, statistics.median(
                p["layers"].get(name, 0) for p in traced))
        metrics["trace_overhead"] = statistics.median(
            p["wall"] for p in traced) / metrics["wall_s"]
        report["spans"] = os.path.relpath(out_file + ".spans.jsonl", ROOT)
    report["metrics"] = metrics
    units = PER_LAYER if a.trace else END_TO_END
    with open(out_file.replace(".json", ".report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {os.path.relpath(f.name, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": unit} for k, unit in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
