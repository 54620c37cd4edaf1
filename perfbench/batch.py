"""The system under test for ``analytics_batch``, in its own process.

Builds the Spark session and the query suite, then:

1. a correctness pass that collects every query of the list (several
   at a time) and writes its row count and order-insensitive hash
   (``canon.frame_digest``) to ``--out``; ``run.py`` compares them with
   the DuckDB oracle. This pass also warms the JVM and is never a sample;
2. timed passes, one thread running the list in order with the
   noop sink, until ``--seconds`` have passed; each pass is one sample.

Run from the root of a checkout: the package is imported from there.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--queries", required=True, help="space-separated query names")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--spans")
    args = ap.parse_args()
    names = args.queries.split()

    sys.path.insert(0, os.getcwd())
    import canon
    import spans
    from city_payroll_data_pipeline_spark import session
    from city_payroll_data_pipeline_spark import suite as suite_pkg

    tracer = spans.Tracer() if args.trace else None
    span = tracer.span if tracer else spans.no_span
    if tracer:
        tracer.wrap_spark_actions()
    with span("session.get_spark"):
        spark = session.get_spark(app_name="perfbench-batch")
    with span("suite.build_suite"):
        suite = suite_pkg.build_suite()
    if tracer:
        tracer.use_spark(spark.sparkContext)
    spark.sparkContext.setLogLevel("ERROR")
    t_ready = time.monotonic()

    def check(name: str) -> dict:
        got = {"oracle": suite[name].oracle}
        try:
            pdf = suite[name].spark(spark, args.data).toPandas()
            got.update(rows=len(pdf), digest=canon.frame_digest(pdf))
        except Exception as exc:  # noqa: BLE001 - reported as a failed query
            got["error"] = f"{type(exc).__name__}: {exc}"[:300]
        return got

    # the correctness pass runs the queries side by side, like the
    # suite's own oracle tests; the timed passes below run them in turn
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        results = dict(zip(names, pool.map(check, names)))
    t_checked = time.monotonic()

    def run_query(name: str, sample: int) -> list:
        """[plan build s, execution s] of one query."""
        module = suite[name].spark.__module__.rsplit(".", 1)[-1]
        with span("suite.query", query=name, module=module, sample=sample):
            t0 = time.monotonic()
            with span("suite.plan_build"):
                df = suite[name].spark(spark, args.data)
            t1 = time.monotonic()
            with span("suite.execute"):
                df.write.format("noop").mode("overwrite").save()
        return [t1 - t0, time.monotonic() - t1]

    passes = []
    t_start = time.monotonic()
    while not passes or time.monotonic() - t_start < args.seconds:
        passes.append({name: run_query(name, len(passes)) for name in names})
    t_stop = time.monotonic()

    if tracer is not None:
        tracer.spark_counts()
        tracer.dump(args.spans)
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump({"t_ready": t_ready, "t_checked": t_checked, "t_start": t_start, "t_stop": t_stop,
                   "check": results, "passes": passes}, f)
    # no spark.stop(): run.py stops the JVM with this process's session
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
