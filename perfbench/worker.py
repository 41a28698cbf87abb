"""Spark side of one benchmark run; ``run.py`` starts it.

The worker builds the ``session.get_spark`` session and runs one trivial
job (the wall-clock time it is ready ends ``setup_s``), then runs the
workload as one closed-loop client: one cold first pass, then a fixed
number of later passes set by ``--seconds``.  With ``--trace 1`` the
later passes alternate untraced and traced, so the tracing overhead is measured in
the same session.  Per-op times, failed ops and the traced passes'
layer totals go to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def setup():
    from blueforty___etl_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


#: The queries the benchmark runs, looked up by name through
#: ``queries()``: relational queries that fit a short run
#: (closest_stations is left to reference_etl, which runs it too), plus
#: one iterative query so the lineage layer is measured.
QUERY_MIX = ["order_totals", "xml_shred", "cms_frequency", "bfs_hops"]
QUERY_WORKLOADS = {"query_mix": QUERY_MIX}
#: The number of untraced later passes is set by --seconds, one per this
#: many seconds and at least two, and never by how fast the passes run,
#: so every run and every commit measures the same number of op samples.
#: Two at the benchmark's 10 s: over two ten-seed sets a third pass moved
#: the spreads both ways, by up to 0.04, and made a run ~8 s longer, which
#: the run budget cannot spare when the host is slow.
PASS_SECONDS = 5.0


def later_passes(seconds: float, trace: int) -> int:
    """Later passes a run makes.  A traced run alternates untraced,
    traced, untraced, ..., so each traced pass sits between two untraced
    ones and the untraced count is the same as in an untraced run."""
    n = max(2, round(seconds / PASS_SECONDS))
    return 2 * n - 1 if trace else n


#: reference_etl relations that are collected and fingerprinted; the
#: other relations are counted.
REFERENCE_COLLECTED = ("purchase_orders_and_invoices",)
REFERENCE_COUNTED = (
    "purchases", "purchase_order_totals", "supplier_invoices",
    "supplier_case", "supplier_zip5", "zip_geo",
)


class Pass:
    """Op clock for one pass: an op runs from the end of the previous op
    (or the pass start) to its own end, in its own job group."""

    def __init__(self, tracer, traced: bool) -> None:
        self.tracer = tracer
        self.traced = traced
        self.ops: list[tuple[str, float, object]] = []
        self.span_start = len(tracer.spans)
        self.t0 = self.t = time.perf_counter()
        tracer.enabled = traced
        self.next_op()

    def next_op(self) -> None:
        self.tracer.begin_op()

    def done(self, name: str, result) -> None:
        now = time.perf_counter()
        self.ops.append((name, now - self.t, result))
        self.t = now
        self.next_op()

    def finish(self) -> dict:
        self.tracer.enabled = False
        return {"wall": self.t - self.t0, "traced": self.traced,
                "spans": [self.span_start, len(self.tracer.spans)],
                "ops": [[n, s] for n, s, _ in self.ops]}


def _plan(tracer, df) -> None:
    if tracer.enabled:
        with tracer.span("plan", "executedPlan"):
            df._jdf.queryExecution().executedPlan()


def query_pass(spark, p: Pass, names, base_dir, builders) -> None:
    for name in names:
        try:
            with p.tracer.span("builder", name):
                df = builders[name](spark, base_dir)
            _plan(p.tracer, df)
            with p.tracer.span("exec", "toPandas"):
                pdf = df.toPandas()
        except Exception as exc:  # counted as a failed op
            pdf = exc
        p.done(name, pdf)


def reference_pass(spark, p: Pass, ref_dir: str, ctas_dir: str) -> None:
    from blueforty___etl_data_pipeline_spark.plans import reference_flow

    with p.tracer.span("sources", "read_parquet"):
        stations = spark.read.parquet(f"{ref_dir}/stations.parquet")
        weather = spark.read.parquet(f"{ref_dir}/weather.parquet")
    out = reference_flow.run_reference_flow(
        spark,
        purchases_csv_dir=f"{ref_dir}/purchases",
        invoices_xml=f"{ref_dir}/supplier_invoices.xml",
        supplier_case_csv=f"{ref_dir}/supplier_case.csv",
        zip_geo_tsv=f"{ref_dir}/zipcode_geolocation.tsv",
        stations=stations,
        weather_timeseries=weather,
        materialize_dir=ctas_dir,
    )
    for name in REFERENCE_COLLECTED:
        df = out[name]
        _plan(p.tracer, df)
        with p.tracer.span("exec", "toPandas"):
            pdf = df.toPandas()
        p.done(name, pdf)
    for name in REFERENCE_COUNTED:
        with p.tracer.span("exec", "count"):
            n = out[name].count()
        p.done(name, n)


def install_ctas_clock(state: dict) -> None:
    """End an op at each CTAS write inside ``run_reference_flow``."""
    from blueforty___etl_data_pipeline_spark.plans import reference_flow

    write = reference_flow.write_table

    def write_table(df, path, *args, **kwargs):
        write(df, path, *args, **kwargs)
        state["pass"].done("ctas:" + os.path.basename(path), path)

    reference_flow.write_table = write_table


def check(ops, expected: dict) -> list[str]:
    """Names of the ops that raised or whose result does not match
    ``expected``."""
    import pyarrow.parquet as pq
    from fingerprint import fingerprint

    bad = []
    for name, _, result in ops:
        if isinstance(result, Exception):
            bad.append(f"{name}: {type(result).__name__}: {result}"[:500])
            continue
        if name.startswith("ctas:"):
            name = name[5:]
            got = fingerprint(pq.read_table(result).to_pandas())
        elif isinstance(result, int):
            got = {"rows": result}
        else:
            got = fingerprint(result)
        want = expected.get(name)
        if want is None or any(got.get(k) != v for k, v in want.items()):
            bad.append(name)
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]

    spark = setup()
    ready = time.time()

    from spans import Tracer

    import __spark_entry__ as entry

    with open(args.expected) as f:
        expected = json.load(f)
    tracer = Tracer(spark)
    if args.trace:
        tracer.install()
    state: dict = {}
    if args.workload == "reference_etl":
        install_ctas_clock(state)
        ctas_dir = os.path.join(args.data, "ctas")

        def one_pass(p):
            reference_pass(spark, p, args.data, ctas_dir)
    else:
        names = QUERY_WORKLOADS[args.workload]
        builders = entry.queries()

        def one_pass(p):
            query_pass(spark, p, names, args.data, builders)

    def run(traced: bool) -> dict:
        p = state["pass"] = Pass(tracer, traced)
        try:
            one_pass(p)
        except Exception as exc:  # the rest of the pass is one failed op
            p.done(f"error:{type(exc).__name__}", exc)
        res = p.finish()
        res["failed"] = check(p.ops, expected)
        return res

    first = run(False)
    passes = [
        run(bool(args.trace) and k % 2 == 1)
        for k in range(later_passes(args.seconds, args.trace))
    ]
    if args.trace:
        time.sleep(0.5)  # let the UI's status store catch up
        for p in passes:
            if p["traced"]:
                p["layers"] = tracer.pass_layers(*p["spans"], p["wall"])
    result = {"ready": ready, "first": first, "passes": passes}
    if args.trace:
        tracer.dump(args.out + ".spans.jsonl")
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
