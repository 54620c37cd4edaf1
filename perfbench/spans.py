"""In-memory span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: :func:`install_tenant`
replaces the public functions of each package layer with wrappers at
run time (the package source is never edited), and ``batch.py`` opens
spans around its calls into the suite. A span is
``(id, parent, request id, name, start, end, attrs)``; spans stay in
memory and are written out once, when the process ends.

Spark work is attributed per request: every root span (one Flight call,
or one suite query) runs under its own Spark job group, and the jobs and
tasks of each group are read back from the status tracker after the
run, once the listener bus has drained.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

#: Spark actions wrapped as ``spark.*`` spans, so that time spent in the
#: Spark runtime is not charged to the layer that called it.
SPARK_ACTIONS = {
    "DataFrameWriter": ("parquet", "csv", "save"),
    "DataFrameReader": ("parquet", "csv"),
    "DataFrame": ("collect", "toPandas", "count", "first", "take"),
}


@contextmanager
def no_span(_name: str, **_attrs):
    """Stand-in for :meth:`Tracer.span` in untraced runs."""
    yield {}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.roots: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._sc = None

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self):
        """``(span id, request id)`` of the innermost open span on this
        thread, or None."""
        stack = self._stack()
        return stack[-1] if stack else None

    def use_spark(self, sc) -> None:
        """Tag the Spark jobs of every root span with a job group."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span, child of the thread's innermost open span."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rid = parent[1] if parent else sid
        rec = {"id": sid, "parent": parent[0] if parent else None, "rid": rid,
               "name": name, "attrs": attrs}
        root = parent is None
        if root and self._sc is not None:
            rec["group"] = f"perfbench-{sid}"
            self._sc.setJobGroup(rec["group"], name)
        stack.append((sid, rid))
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            if root and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            if root:
                self.roots.append(rec)

    def record(self, name: str, parent, start: float, end: float, **attrs) -> None:
        """Add a finished child span of ``parent`` (``(span id, request
        id)``) measured by the caller."""
        self.spans.append({"id": next(self._ids), "parent": parent[0], "rid": parent[1],
                           "name": name, "attrs": attrs, "start": start, "end": end})

    def traced(self, fn, name: str, on_exit=None):
        """``fn`` wrapped to record span ``name``. ``on_exit(rec, args)``
        may add attributes after the span closed, outside its timing."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
            if on_exit is not None:
                on_exit(rec, args)
            return result

        return traced

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` by its traced version."""
        setattr(owner, attr, self.traced(getattr(owner, attr), name, on_exit))

    def wrap_spark_actions(self) -> None:
        from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter

        classes = {"DataFrame": DataFrame, "DataFrameReader": DataFrameReader,
                   "DataFrameWriter": DataFrameWriter}
        for cls_name, methods in SPARK_ACTIONS.items():
            for m in methods:
                self.wrap(classes[cls_name], m, f"spark.{cls_name}.{m}")

    def spark_counts(self) -> None:
        """Attach ``jobs`` and ``tasks`` to every root span. A stage
        shared by several jobs of a group (AQE submits each query stage
        as its own job) counts once."""
        if self._sc is None:
            return
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - best effort drain
            time.sleep(2.0)
        tracker = self._sc.statusTracker()
        for rec in self.roots:
            if "group" not in rec:  # opened before use_spark()
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                st = tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numCompletedTasks
            rec["attrs"]["jobs"] = len(jobs)
            rec["attrs"]["tasks"] = tasks

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def install_tenant(tracer: Tracer) -> None:
    """Wrap the public functions of every layer on the tenant path."""
    from city_payroll_data_pipeline_spark import engine, plans, service
    from city_payroll_data_pipeline_spark.operators import reports
    from city_payroll_data_pipeline_spark.sources import sinks, tenancy

    srv = service.PayrollFlightServer
    # The traced load generator adds a request id ("rid") to each ticket
    # and action body, so a client request can be matched to its spans.
    orig_put, orig_get, orig_action = srv.do_put, srv.do_get, srv.do_action

    @functools.wraps(orig_put)
    def do_put(self, context, descriptor, reader, writer):
        meta = json.loads(descriptor.path[0].decode())
        with tracer.span("service.do_put", filename=os.path.basename(meta["filename"])):
            return orig_put(self, context, descriptor, reader, writer)

    @functools.wraps(orig_get)
    def do_get(self, context, ticket):
        req = json.loads(ticket.ticket.decode())
        with tracer.span("service.do_get", client_rid=req.get("rid")):
            return orig_get(self, context, ticket)

    @functools.wraps(orig_action)
    def do_action(self, context, action):
        # do_action is a generator: its work runs while it is drained
        req = json.loads(action.body.to_pybytes().decode())
        with tracer.span("service.do_action", client_rid=req.get("rid")):
            results = list(orig_action(self, context, action))
        return iter(results)

    srv.do_put, srv.do_get, srv.do_action = do_put, do_get, do_action

    # do_get returns a stream that gRPC drains after do_get has returned.
    # Its reads are recorded as a child of the do_get that made it, with
    # only the time spent inside the parquet reader (not the time gRPC
    # takes to send each batch) as the span's duration.
    orig_egress = service.egress_batches

    @functools.wraps(orig_egress)
    def egress_batches(df):
        with tracer.span("service.egress_write"):
            schema, batches = orig_egress(df)
        owner = tracer.current()

        def timed():
            busy, nbytes, first = 0.0, 0, None
            try:
                while True:
                    t = time.monotonic()
                    first = t if first is None else first
                    try:
                        batch = next(batches)
                    except StopIteration:
                        return
                    finally:
                        busy += time.monotonic() - t
                    nbytes += batch.nbytes
                    yield batch
            finally:
                tracer.record("service.egress_read", owner, first, first + busy,
                              bytes=nbytes)

        return schema, timed()

    service.egress_batches = egress_batches

    eng = engine.Engine
    for m in ("ingest", "fact_table", "budget_report", "full_export", "list_files"):
        tracer.wrap(eng, m, f"engine.{m}")
    reg = tenancy.TenantRegistry
    tracer.wrap(reg, "authenticate", "tenancy.authenticate")
    tracer.wrap(reg, "validate_filename", "tenancy.validate_filename")

    # engine.py binds these names at import time, so the wrappers go on
    # the engine module's globals (and the shared PIPELINES dict).
    tracer.wrap(engine, "read_csv_all_string", "readers.read_csv_all_string")
    tracer.wrap(engine, "validate_fact_contract", "schemas.validate_fact_contract")
    for industry, (stg, fct) in list(plans.PIPELINES.items()):
        plans.PIPELINES[industry] = (
            tracer.traced(stg, "plans.stg"), tracer.traced(fct, "plans.fct"))

    def written(rec, args):
        rec["attrs"]["path"] = args[1]
        rec["attrs"]["bytes"] = dir_bytes(args[1])

    tracer.wrap(sinks, "write_parquet", "sinks.write_parquet", on_exit=written)
    tracer.wrap(reports, "budget_report", "reports.budget_report")
    tracer.wrap(reports, "full_export", "reports.full_export")
    tracer.wrap_spark_actions()
