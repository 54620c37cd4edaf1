"""Arrow Flight service facade — transport parity with the reference.

The reference serves its engine over Arrow Flight gRPC (reference
serve_flight.py:21 ``class BusinessSolutionServer(flight.FlightServerBase)``):
``do_put`` ingests CSV uploads (serve_flight.py:81), ``do_get`` serves
the two report queries (serve_flight.py:234,291,295), and ``do_action``
lists tenant files (serve_flight.py:337). This module reproduces that
wire surface as a THIN adapter over :class:`engine.Engine` — transport
only; every query executes in Spark. Budget reports come from
:meth:`engine.Engine.budget_report_table`: an in-memory Arrow table per
upload, recomputed only when the fact table's on-disk version token (the
sorted name/size/mtime of its files) changes, so a repeat report runs no
Spark job and a re-ingest invalidates it. Full exports are unbounded and
stream back as Arrow record batches read sequentially from an
executor-written parquet spool (columnar end to end, driver holds at
most one batch).

Scale note: Flight is a single-node ingress/egress door, fine for
reports (small) and per-tenant uploads (bounded). Bulk data belongs on
the parquet path, not the gRPC path — the reference's own design, kept
deliberately.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.flight as flight
from pyspark.errors import AnalysisException

from city_payroll_data_pipeline_spark.engine import Engine
from city_payroll_data_pipeline_spark.sources.tenancy import AuthError


def egress_batches(df):
    """Memory-bounded egress: the executors write ``df`` to parquet
    (distributed — the driver never materializes the result), then the
    part files are replayed ONE record batch at a time in filename
    order. A sorted result is range-partitioned by its sort, so
    part-file name order IS global order; peak driver memory is one
    record batch regardless of result size (the round-3 ``toPandas()``
    path would OOM the driver on a 100 TB full_export).

    Returns ``(schema, batch_iterator)``. The spool directory is
    deleted when the iterator is exhausted or closed; an atexit hook
    is the fallback for streams a client abandons mid-flight (the
    generator's ``finally`` never runs then — ADVICE r4).

    Each spool write also makes the JVM fork short-lived child
    processes: without Hadoop's native library, ``RawLocalFileSystem``
    sets permissions by shelling out, e.g. ``chmod 0644
    …/flight_egress_*/result/_SUCCESS`` and ``chmod 0755`` on the
    committer's ``_temporary`` directories. Budget reports no longer
    come through here (``Engine.budget_report_table``); exports still
    do."""
    import atexit
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="flight_egress_")

    # A per-spool closure (NOT a bare shutil.rmtree registration): the
    # normal completion path unregisters it, and atexit.unregister
    # removes every registration of the given function object — a
    # shared callee would cancel the fallback of other in-flight
    # spools. Without the unregister, a long-lived server would grow
    # one stale registry entry per completed export.
    def _sweep_spool(path=tmp):
        shutil.rmtree(path, ignore_errors=True)

    atexit.register(_sweep_spool)
    out = os.path.join(tmp, "result")
    df.write.mode("overwrite").parquet(out)
    # Sort by the PARSED task index, not lexicographically: Spark pads
    # part numbers to 5 digits only, so beyond 99,999 output files
    # 'part-100000-…' would sort before 'part-99999-…' and corrupt the
    # claimed global order of a sorted export (ADVICE r4).
    files = sorted(
        glob.glob(os.path.join(out, "part-*")),
        key=lambda f: int(os.path.basename(f).split("-")[1]),
    )
    if not files:  # defensive: Spark writes ≥1 part even when empty
        table = pa.Table.from_pandas(
            df.limit(0).toPandas(), preserve_index=False
        )
        shutil.rmtree(tmp, ignore_errors=True)
        atexit.unregister(_sweep_spool)
        return table.schema, iter(table.to_batches())

    def batches():
        try:
            for f in files:
                with pq.ParquetFile(f) as pf:
                    # iter_batches is strictly sequential (unlike
                    # multi-threaded dataset scans) — preserves order
                    yield from pf.iter_batches()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            atexit.unregister(_sweep_spool)

    return pq.ParquetFile(files[0]).schema_arrow, batches()


class PayrollFlightServer(flight.FlightServerBase):
    """do_put: CSV upload+transform; do_get: budget report / full
    export; do_action list_files — the reference's action set."""

    def __init__(self, engine: Engine, location: str = "grpc://0.0.0.0:0"):
        super().__init__(location)
        self.engine = engine

    # -- ingest (reference serve_flight.py:81-221) --------------------

    def do_put(self, context, descriptor, reader, writer):
        meta = json.loads(descriptor.path[0].decode())
        client_id = meta["client_id"]
        password = meta["password"]
        filename = os.path.basename(meta["filename"])

        table = reader.read_all()  # bulk transfer, like reference :148
        # both gates run before the raw file is written
        self.engine.registry.authenticate(client_id, password)
        self.engine.registry.validate_filename(client_id, filename)
        raw_dir = self.engine.registry.storage_path(client_id, "Raw")
        os.makedirs(raw_dir, exist_ok=True)
        raw_path = os.path.join(raw_dir, filename)
        table.to_pandas().to_csv(raw_path, index=False)
        self.engine.ingest(client_id, password, raw_path)

    # -- reports (reference serve_flight.py:234-330) ------------------

    def do_get(self, context, ticket):
        req = json.loads(ticket.ticket.decode())
        action = req["action"]
        client_id, password = req["client_id"], req["password"]
        target = req["target_file"]
        try:
            if action == "get_budget_report":
                # bounded and cached: no Spark job on a repeat request
                return flight.RecordBatchStream(
                    self.engine.budget_report_table(client_id, password, target)
                )
            if action == "get_full_clean":
                df = self.engine.full_export(client_id, password, target)
            else:
                raise flight.FlightServerError(f"unknown action: {action}")
        except AnalysisException as e:
            # catalog/binder error mapping parity (reference
            # serve_flight.py:309-312: CatalogException → friendly
            # "not found / not processed yet" instead of a raw
            # engine stack trace on the wire)
            raise flight.FlightServerError(
                f"data for {target!r} not found or not processed yet"
            ) from e
        except AuthError as e:
            raise flight.FlightUnauthenticatedError(str(e)) from e
        return self._stream_result(df)

    def _stream_result(self, df):
        schema, batches = egress_batches(df)
        return flight.GeneratorStream(schema, batches)

    # -- listings (reference serve_flight.py:337-366) -----------------

    def do_action(self, context, action):
        if action.type != "list_files":
            raise flight.FlightServerError(f"unknown action: {action.type}")
        req = json.loads(action.body.to_pybytes().decode())
        files = self.engine.list_files(
            req["client_id"], req["password"], req.get("subdir", "Clean")
        )
        yield flight.Result(json.dumps(sorted(files)).encode())


class PayrollFlightClient:
    """Client twin (reference web_dashboard/backend_client.py)."""

    def __init__(self, location: str):
        self.client = flight.FlightClient(location)

    def upload_csv(self, csv_path: str, client_id: str, password: str) -> None:
        import pandas as pd

        pdf = pd.read_csv(csv_path, dtype=str)  # all-string, like :97
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        meta = json.dumps(
            {
                "client_id": client_id,
                "password": password,
                "filename": os.path.basename(csv_path),
            }
        )
        descriptor = flight.FlightDescriptor.for_path(meta)
        writer, _ = self.client.do_put(descriptor, table.schema)
        writer.write_table(table)
        writer.close()

    def _get(self, action: str, client_id: str, password: str, target: str):
        ticket = flight.Ticket(
            json.dumps(
                {
                    "action": action,
                    "client_id": client_id,
                    "password": password,
                    "target_file": target,
                }
            ).encode()
        )
        return self.client.do_get(ticket).read_all().to_pandas()

    def get_budget_report(self, client_id, password, target):
        return self._get("get_budget_report", client_id, password, target)

    def get_full_data(self, client_id, password, target):
        return self._get("get_full_clean", client_id, password, target)

    def list_files(self, client_id, password, subdir="Clean"):
        body = json.dumps(
            {"client_id": client_id, "password": password, "subdir": subdir}
        ).encode()
        results = self.client.do_action(flight.Action("list_files", body))
        return json.loads(next(iter(results)).body.to_pybytes().decode())
