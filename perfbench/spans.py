"""Per-layer tracing for the benchmark's traced run.

The tracer wraps the public entry points of each engine layer, keeps one
span per call (layer, name, start, end, parent, op id) in memory, and
attributes every Spark job to the innermost span open when the job
appeared in the op's job group (``sparkContext.statusTracker()``).  Stage
metrics for the jobs of ``exec`` spans come from the local UI's REST API.

``from ... import`` copies a binding into the importing module, so each
wrapped function is also replaced wherever a loaded project module holds
a copy (``operators.graph.cut_lineage``, ``__spark_entry__.load_table``,
``plans.reference_flow.write_table`` and so on).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

PKG = "blueforty___etl_data_pipeline_spark"

#: (module, attribute, layer) of every wrapped project function.
TARGETS = [
    (f"{PKG}.sources.catalog", "load_table", "sources"),
    (f"{PKG}.sources.csv", "read_csv", "sources"),
    (f"{PKG}.sources.csv", "read_tsv", "sources"),
    (f"{PKG}.sources.xml", "shred_xml_docs", "sources"),
    (f"{PKG}.functions.inference", "infer_csv_schema", "inference"),
    (f"{PKG}.lineage", "cut_lineage", "lineage"),
    (f"{PKG}.parallelism", "spread_scan", "parallelism"),
    (f"{PKG}.sinks", "write_table", "sinks"),
    (f"{PKG}.plans.reference_flow", "run_reference_flow", "builder"),
]
#: Every public function of these modules is a builder.
BUILDER_MODULES = [f"{PKG}.plans.pipelines"]


def _data_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written table directory."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Tracer:
    def __init__(self, spark) -> None:
        self._spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seen: set[int] = set()
        self._group: str | None = None
        self._op: int | None = None
        port = self.sc.uiWebUrl.rsplit(":", 1)[1] if self.sc.uiWebUrl else None
        self._rest = (
            f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{self.sc.applicationId}" if port else None
        )

    # -- ops and spans -----------------------------------------------------
    def begin_op(self) -> None:
        """Start the next op in a job group of its own."""
        self._op = 0 if self._op is None else self._op + 1
        self._group = f"perfbench-op-{self._op}"
        self.sc.setJobGroup(self._group, self._group)

    def _sync_jobs(self) -> None:
        """Attribute jobs that appeared since the last span boundary to
        the span on top of the stack."""
        if not self.enabled or self._group is None:
            return
        ids = set(self.sc.statusTracker().getJobIdsForGroup(self._group))
        new = ids - self._seen
        if new:
            self._seen |= new
            if self._stack:
                self.spans[self._stack[-1]]["jobs"].extend(sorted(new))

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        self._sync_jobs()
        idx = len(self.spans)
        self.spans.append({
            "layer": layer, "name": name, "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "jobs": [],
        })
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._sync_jobs()
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, fn.__name__) as idx:
                out = fn(*args, **kwargs)
            if idx is None:
                return out
            span = tracer.spans[idx]
            if layer == "parallelism":
                # spread_scan returns its input unchanged unless it
                # inserted a repartition.
                span["spread"] = out is not args[0]
            elif layer == "sinks":
                path = kwargs.get("path") or args[1]
                span["files"], span["bytes"] = _data_files(path)
            return out

        return traced

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        import importlib

        from pyspark.sql import DataFrameWriter

        targets = list(TARGETS)
        for mod_name in BUILDER_MODULES:
            mod = importlib.import_module(mod_name)
            targets += [
                (mod_name, a, "builder")
                for a, v in vars(mod).items()
                if callable(v) and not a.startswith("_")
                and getattr(v, "__module__", None) == mod_name
            ]
        for mod_name, attr, layer in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            new = self.wrap(layer, orig)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "")
                if not (name.startswith(PKG) or name == "__spark_entry__"):
                    continue
                for a, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, a, new)
        # Direct checkpoint calls (cut_lineage makes them too; calls are
        # counted for outermost lineage spans only).  The session's
        # DataFrame class overrides the base class's methods.
        frame = type(self._spark.range(0))
        for attr in ("localCheckpoint", "checkpoint"):
            setattr(frame, attr, self.wrap("lineage", getattr(frame, attr)))
        # The write inside sinks.write_table is execution, not sink code.
        for attr in ("save", "parquet"):
            setattr(
                DataFrameWriter, attr,
                self.wrap("exec", getattr(DataFrameWriter, attr)),
            )

    # -- reporting -----------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._rest}/{path}", timeout=5) as r:
            return json.load(r)

    def _stage_metrics(self, stage_id: int) -> dict:
        """Totals over a stage's attempts.  A stage that cannot be read
        raises: leaving it out would under-report every exec count."""
        if self._rest is None:
            raise RuntimeError("the Spark UI is off; stages cannot be read")
        out = {"ran": 0, "tasks": 0, "failed": 0, "shuffle_write": 0,
               "spill": 0, "longest": 0.0}
        for a in self._get(f"stages/{stage_id}?details=false"):
            if a["status"] == "SKIPPED":
                continue
            out["ran"] = 1
            out["tasks"] += a["numCompleteTasks"] + a["numFailedTasks"]
            out["failed"] += a["numFailedTasks"]
            out["shuffle_write"] += a["shuffleWriteBytes"]
            out["spill"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
            summary = self._get(
                f"stages/{stage_id}/{a['attemptId']}/taskSummary"
                "?quantiles=1.0"
            )
            out["longest"] = max(
                out["longest"], summary["duration"][0] / 1000.0)
        return out

    def pass_layers(self, first: int, last: int, wall: float) -> dict:
        """Per-layer totals over spans[first:last] (one traced pass)."""
        spans = self.spans[first:last]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        m: dict[str, float] = defaultdict(float)
        stages: list[int] = []
        for k, s in enumerate(spans, start=first):
            layer = s["layer"]
            parent_layer = (
                self.spans[s["parent"]]["layer"] if s["parent"] is not None
                else None
            )
            m[f"{layer}.self_s"] += s["end"] - s["start"] - child[k]
            m[f"{layer}.jobs"] += len(s["jobs"])
            if parent_layer != layer:
                m[f"{layer}.calls"] += 1
            m["parallelism.spread"] += s.get("spread", False)
            m["sinks.files"] += s.get("files", 0)
            m["sinks.bytes_written"] += s.get("bytes", 0)
            if layer == "exec":
                for j in s["jobs"]:
                    info = self.sc.statusTracker().getJobInfo(j)
                    if info is not None:
                        stages += list(info.stageIds)
        for sid in sorted(set(stages)):
            st = self._stage_metrics(sid)
            m["exec.stages"] += st["ran"]
            m["exec.tasks"] += st["tasks"]
            m["exec.failed_tasks"] += st["failed"]
            m["exec.shuffle_write_bytes"] += st["shuffle_write"]
            m["exec.spill_bytes"] += st["spill"]
            m["exec.longest_task_s"] = max(
                m["exec.longest_task_s"], st["longest"])
        m["unattributed_s"] = wall - sum(
            v for k, v in m.items() if k.endswith(".self_s")
        )
        return dict(m)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
