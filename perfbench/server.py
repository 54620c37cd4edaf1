"""The system under test for the tenant workloads, in its own process.

Starts the engine's Spark session, registers the workload's tenants,
and serves ``PayrollFlightServer`` on a free localhost port. Prints one
``READY <json>`` line on stdout when it accepts requests, then serves
until a ``stop`` line (or end of file) arrives on stdin. With
``--trace`` the layers are wrapped by ``spans.install_tenant`` and the
spans are written to ``--spans`` on stop.

Run from the root of a checkout: the package is imported from there.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--storage", required=True)
    ap.add_argument("--tenants", required=True, help="JSON list of [client_id, industry, password]")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--spans")
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    import spans
    from city_payroll_data_pipeline_spark import session
    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.service import PayrollFlightServer

    tracer = spans.Tracer() if args.trace else None
    if tracer:
        spans.install_tenant(tracer)
    with (tracer.span if tracer else spans.no_span)("session.get_spark"):
        spark = session.get_spark(app_name="perfbench-server")
    if tracer:
        tracer.use_spark(spark.sparkContext)
    spark.sparkContext.setLogLevel("ERROR")

    engine = Engine(spark, args.storage)
    for client_id, industry, password in json.loads(args.tenants):
        engine.registry.register(client_id, industry, password)
    server = PayrollFlightServer(engine, "grpc://127.0.0.1:0")
    print("READY " + json.dumps({"port": server.port, "t": time.monotonic()}), flush=True)

    for line in sys.stdin:
        if line.strip() == "stop":
            break
    server.shutdown()
    if tracer is not None:
        tracer.spark_counts()
        tracer.dump(args.spans)
    # no spark.stop(): run.py stops the JVM with this process's session,
    # which saves seconds per run and measures nothing of the system
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
