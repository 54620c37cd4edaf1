"""Arrow Flight facade round-trip: client upload → Spark transform →
report/export/listing back over gRPC (transport parity with the
reference server; queries still run in Spark)."""

import csv

import pytest


@pytest.fixture(scope="module")
def flight_setup(spark, tmp_path_factory):
    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.service import (
        PayrollFlightClient,
        PayrollFlightServer,
    )

    wh = tmp_path_factory.mktemp("flight_wh")
    engine = Engine(spark, str(wh))
    engine.registry.register("ACME", "corporate", "s3cret")
    server = PayrollFlightServer(engine, "grpc://127.0.0.1:0")
    client = PayrollFlightClient(f"grpc://127.0.0.1:{server.port}")
    yield engine, server, client, tmp_path_factory.mktemp("flight_csv")
    server.shutdown()


def test_flight_upload_report_roundtrip(flight_setup):
    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    _, _, client, csv_dir = flight_setup
    path = csv_dir / "corporate_payroll.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CORPORATE_RAW_COLUMNS)
        w.writerow(["1", "2024", "Police", "Officer", "FT",
                    "$100.00", "$10.00", "$0.00", "$5.00"])
        w.writerow(["2", "2024", "Police", "Officer", "FT",
                    "$200.00", "$0.00", "$0.00", "$5.00"])
        w.writerow(["3", "2024", "Fire", "Captain", "FT",
                    "$300.00", "$90.00", "$0.00", "$5.00"])

    client.upload_csv(str(path), "ACME", "s3cret")

    report = client.get_budget_report("ACME", "s3cret", "corporate_payroll.csv")
    by_title = report.set_index("job_title")
    assert by_title.loc["Officer", "total_employee"] == 2
    assert by_title.loc["Officer", "total_budget"] == pytest.approx(320.0)
    # ordered by total_budget desc (reference serve_flight.py:295)
    assert report["total_budget"].is_monotonic_decreasing

    full = client.get_full_data("ACME", "s3cret", "corporate_payroll.csv")
    assert len(full) == 3
    assert list(full["job_title"]) == sorted(full["job_title"])  # ORDER BY job_title

    files = client.list_files("ACME", "s3cret", "Clean")
    assert any("corporate_payroll" in f for f in files)


def test_flight_rejects_bad_credentials(flight_setup):
    import pyarrow.flight as flight

    _, _, client, _ = flight_setup
    with pytest.raises(flight.FlightError):
        client.get_budget_report("ACME", "wrong", "corporate_payroll.csv")


def _write_corporate_csv(path, rows):
    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CORPORATE_RAW_COLUMNS)
        for i, (title, base) in enumerate(rows):
            w.writerow([str(i), "2024", "Dept", title, "FT",
                        f"${base}.00", "$0.00", "$0.00", "$0.00"])


def test_flight_report_reupload_invalidates_cache(flight_setup):
    """Re-uploading the same filename with new contents changes the
    next report: the cached report is keyed on the fact table's files."""
    _, _, client, csv_dir = flight_setup
    path = csv_dir / "corporate_reupload.csv"
    _write_corporate_csv(path, [("Clerk", 100), ("Clerk", 50)])
    client.upload_csv(str(path), "ACME", "s3cret")
    first = client.get_budget_report("ACME", "s3cret", path.name)
    assert client.get_budget_report("ACME", "s3cret", path.name).equals(first)
    assert list(first["job_title"]) == ["Clerk"]

    _write_corporate_csv(path, [("Judge", 900), ("Clerk", 10)])
    client.upload_csv(str(path), "ACME", "s3cret")
    second = client.get_budget_report("ACME", "s3cret", path.name)
    assert list(second["job_title"]) == ["Judge", "Clerk"]
    assert list(second["total_budget"]) == pytest.approx([900.0, 10.0])


def test_flight_cached_report_still_authenticates(flight_setup):
    """A wrong password never reaches the cache, even for an upload
    whose report is already cached."""
    import pyarrow.flight as flight

    _, _, client, csv_dir = flight_setup
    path = csv_dir / "corporate_authcheck.csv"
    _write_corporate_csv(path, [("Clerk", 100)])
    client.upload_csv(str(path), "ACME", "s3cret")
    client.get_budget_report("ACME", "s3cret", path.name)  # now cached
    with pytest.raises(flight.FlightUnauthenticatedError):
        client.get_budget_report("ACME", "wrong", path.name)


def test_flight_report_missing_upload_not_found(flight_setup):
    """An upload that was never processed, or whose fact table is gone
    after its report was cached, maps to the friendly not-found error."""
    import shutil

    import pyarrow.flight as flight

    engine, _, client, csv_dir = flight_setup
    with pytest.raises(flight.FlightServerError, match="not processed yet"):
        client.get_budget_report("ACME", "s3cret", "corporate_never.csv")

    path = csv_dir / "corporate_dropped.csv"
    _write_corporate_csv(path, [("Clerk", 100)])
    client.upload_csv(str(path), "ACME", "s3cret")
    client.get_budget_report("ACME", "s3cret", path.name)  # now cached
    shutil.rmtree(engine.registry.clean_path("ACME", path.name))
    with pytest.raises(flight.FlightServerError, match="not processed yet"):
        client.get_budget_report("ACME", "s3cret", path.name)


def test_flight_rejects_wrong_industry_filename(flight_setup):
    import pyarrow as pa
    import pyarrow.flight as flight

    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    _, _, client, csv_dir = flight_setup
    path = csv_dir / "hospital_data.csv"  # ACME is a corporate tenant
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CORPORATE_RAW_COLUMNS)
        w.writerow(["1", "2024", "X", "Y", "FT", "$1", "$0", "$0", "$0"])
    # ValidationError surfaces as gRPC INVALID_ARGUMENT → ArrowInvalid
    with pytest.raises((flight.FlightError, pa.ArrowInvalid)):
        client.upload_csv(str(path), "ACME", "s3cret")


def test_report_error_mapping_friendly(spark, tmp_path):
    """Missing fact data and bad credentials surface as friendly Flight
    errors, not raw engine stack traces (reference serve_flight.py:309-312)."""
    import json

    import pyarrow.flight as flight
    import pytest

    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.service import PayrollFlightServer

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register("T1", "corporate", "pw")
    server = PayrollFlightServer(eng)
    try:
        client = flight.FlightClient(f"grpc://localhost:{server.port}")

        def get(action, password="pw", target="corporate_nope.csv"):
            t = flight.Ticket(json.dumps({
                "action": action, "client_id": "T1",
                "password": password, "target_file": target,
            }).encode())
            return client.do_get(t).read_all()

        with pytest.raises(flight.FlightServerError, match="not processed yet"):
            get("get_budget_report")
        with pytest.raises(flight.FlightError, match="authentication failed"):
            get("get_budget_report", password="wrong")
    finally:
        server.shutdown()


def test_stream_result_preserves_order_across_part_files(spark):
    """_stream_result egresses from a multi-part sorted parquet spool —
    the batch stream must replay the GLOBAL sort order (part-file name
    order == range-partition order) and never hold the full result."""
    from city_payroll_data_pipeline_spark.service import egress_batches

    df = spark.range(0, 10_000).orderBy("id")  # sorted → many range parts
    schema, batches = egress_batches(df)
    got = []
    for batch in batches:
        got.extend(batch.column(0).to_pylist())
    assert got == list(range(10_000))

    # empty result: zero rows out, schema intact
    empty_schema, empty_iter = egress_batches(df.where("id < 0"))
    assert "id" in empty_schema.names
    assert sum(b.num_rows for b in empty_iter) == 0


def test_egress_part_order_is_numeric_not_lexicographic():
    """ADVICE r4 regression: Spark pads part indexes to 5 digits, so
    past 99,999 files 'part-100000-…' sorts lexicographically BEFORE
    'part-99999-…'. The egress sort key must parse the integer index."""
    names = [
        "part-99999-uuid.snappy.parquet",
        "part-100000-uuid.snappy.parquet",
        "part-00001-uuid.snappy.parquet",
    ]
    key = lambda f: int(f.split("-")[1])  # noqa: E731 — mirrors service.py
    assert sorted(names) != sorted(names, key=key)  # lexical order IS wrong
    assert [key(f) for f in sorted(names, key=key)] == [1, 99999, 100000]


def test_egress_spool_cleaned_up_after_exhaustion(spark, tmp_path):
    """The spool directory dies with the iterator (prompt path) — the
    atexit hook is only the abandoned-stream fallback."""
    import glob
    import os
    import tempfile

    from city_payroll_data_pipeline_spark.service import egress_batches

    # the spool lives where tempfile.mkdtemp puts it, which follows TMPDIR
    pattern = os.path.join(tempfile.gettempdir(), "flight_egress_*")
    before = set(glob.glob(pattern))
    _, batches = egress_batches(spark.range(0, 100))
    during = set(glob.glob(pattern)) - before
    assert during  # spool exists while streaming
    list(batches)  # exhaust
    assert not (set(glob.glob(pattern)) - before)


def test_egress_atexit_registry_does_not_grow(spark):
    """A completed export must unregister its atexit fallback — a
    long-lived Flight server serving millions of do_get calls would
    otherwise accumulate one stale registry entry per export. The
    fallback must survive only for abandoned (unexhausted) streams."""
    import atexit

    from city_payroll_data_pipeline_spark.service import egress_batches

    registered = []
    real_register = atexit.register
    real_unregister = atexit.unregister

    def spy_register(fn, *a, **kw):
        registered.append(fn)
        return real_register(fn, *a, **kw)

    def spy_unregister(fn):
        if fn in registered:
            registered.remove(fn)
        return real_unregister(fn)

    atexit.register = spy_register
    atexit.unregister = spy_unregister
    try:
        _, batches = egress_batches(spark.range(0, 10))
        assert len(registered) == 1  # fallback armed while in flight
        list(batches)
        assert registered == []  # disarmed on completion
        # abandoned stream keeps its (single) fallback armed
        _, abandoned = egress_batches(spark.range(0, 10))
        next(abandoned)
        assert len(registered) == 1
        abandoned.close()  # generator close runs finally -> unregister
        assert registered == []
    finally:
        atexit.register = real_register
        atexit.unregister = real_unregister
