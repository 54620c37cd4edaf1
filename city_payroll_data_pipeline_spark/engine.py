"""End-to-end tenant pipeline: the reference's upload→transform→report
flow (SURVEY §3) as a thin orchestration over the engine library.

Reference flow (serve_flight.py:81-221): do_put → auth → filename gate
→ save raw CSV → SQLMesh plan/apply (stg, fct into a DuckDB file) →
checkpoint. Here: read CSV (all-string) → stg/fct DataFrame plan →
one overwrite parquet write. The two-layer DAG executes as a single
Catalyst plan — no intermediate materialization of the staging layer
unless ``materialize_staging=True`` (kept for bronze-audit parity).
"""

from __future__ import annotations

import os
import shutil
import threading
from collections import OrderedDict

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from city_payroll_data_pipeline_spark.operators import reports
from city_payroll_data_pipeline_spark.plans import PIPELINES
from city_payroll_data_pipeline_spark.schemas import (
    CORPORATE_RAW_COLUMNS,
    EDUCATION_RAW_COLUMNS,
    HOSPITAL_RAW_COLUMNS,
    validate_fact_contract,
)
from city_payroll_data_pipeline_spark.sources import sinks
from city_payroll_data_pipeline_spark.sources.readers import read_csv_all_string
from city_payroll_data_pipeline_spark.sources.tenancy import TenantRegistry

RAW_COLUMNS = {
    "corporate": CORPORATE_RAW_COLUMNS,
    "education": EDUCATION_RAW_COLUMNS,
    "hospital": HOSPITAL_RAW_COLUMNS,
}

#: Most budget reports :meth:`Engine.budget_report_table` keeps. A report
#: is one row per distinct job_title (a few KB), so a full cache is a
#: few MB of driver memory.
REPORT_CACHE_SIZE = 1024


def _version_token(path: str) -> tuple | None:
    """On-disk version of a parquet table directory: the sorted
    ``(name, size, mtime_ns)`` of its entries, from one ``os.scandir``.
    Every Spark overwrite writes new UUID-named part files, so a
    re-ingest always changes the token. None when the directory is
    missing or changes under the scan (an overwrite in progress)."""
    try:
        with os.scandir(path) as entries:
            return tuple(sorted(
                (e.name, st.st_size, st.st_mtime_ns)
                for e in entries
                for st in (e.stat(),)
            ))
    except FileNotFoundError:
        return None


def _assert_plain_query(session: SparkSession, query: str) -> None:
    """Reject any statement that does not parse to a plain query.

    DDL/DML/utility statements parse to *Command / *Statement /
    CreateTable / InsertInto / MergeInto / ... logical plans; a
    SELECT/WITH/VALUES query parses to ordinary relational operators.
    Gate on the PARSED plan class, not on string matching, so comment
    tricks and case games don't slip through."""
    from city_payroll_data_pipeline_spark.sources.tenancy import (
        ValidationError,
    )

    try:
        plan = (
            session._jsparkSession.sessionState()
            .sqlParser()
            .parsePlan(query)
        )
    except Exception as exc:  # parse error: let session.sql re-raise it
        if type(exc).__name__ == "Py4JJavaError":
            return
        raise
    jvm = session._jvm
    is_ddl_dml = any(
        jvm.java.lang.Class.forName(trait).isInstance(plan)
        for trait in (
            # every runnable command (CREATE/DROP/SET/CACHE/SHOW/
            # EXPLAIN/ANALYZE/MERGE/...) mixes in Command; INSERT
            # parses to a ParsedStatement. Plain SELECT/WITH/VALUES/
            # TABLE parse to ordinary relational operators, which are
            # neither — trait membership, not class-name matching, so
            # new command types stay covered.
            "org.apache.spark.sql.catalyst.plans.logical.Command",
            "org.apache.spark.sql.catalyst.plans.logical.ParsedStatement",
        )
    )
    if is_ddl_dml:
        raise ValidationError(
            "only plain queries are allowed through Engine.sql; got a "
            f"{plan.getClass().getSimpleName()} statement"
        )


class Engine:
    """Multi-tenant payroll analytics engine (library surface)."""

    def __init__(self, spark: SparkSession, storage_root: str):
        self.spark = spark
        self.registry = TenantRegistry(storage_root)
        # fact table path -> (version token, budget report), LRU order
        self._reports: OrderedDict[str, tuple[tuple, pa.Table]] = OrderedDict()
        self._reports_lock = threading.Lock()

    # -- ingest + transform (§3.1) ------------------------------------

    def ingest(
        self,
        client_id: str,
        password: str,
        csv_path: str,
        processed_at=None,
        materialize_staging: bool = False,
    ) -> str:
        """Upload→transform one CSV for a tenant; returns the Clean
        warehouse path of the fact table."""
        tenant = self.registry.authenticate(client_id, password)
        self.registry.validate_filename(client_id, csv_path)

        # bronze backup of the raw file (S4, serve_flight.py:145-151);
        # no-op when the upload already landed in Raw/ (Flight facade)
        raw_dir = self.registry.storage_path(client_id, "Raw")
        dest = os.path.join(raw_dir, os.path.basename(csv_path))
        if os.path.abspath(csv_path) != os.path.abspath(dest):
            shutil.copy(csv_path, dest)

        industry = tenant.industry
        raw = read_csv_all_string(
            self.spark,
            csv_path,
            columns=RAW_COLUMNS[industry],
            normalize_names=(industry == "hospital"),
        )
        stg_fn, fct_fn = PIPELINES[industry]
        stg = stg_fn(raw, processed_at=processed_at)

        clean = self.registry.clean_path(client_id, csv_path)
        if materialize_staging:
            sinks.write_parquet(stg, os.path.join(clean, f"stg_{industry}"))
            stg = self.spark.read.parquet(os.path.join(clean, f"stg_{industry}"))

        fct = validate_fact_contract(fct_fn(stg))
        sinks.write_parquet(fct, os.path.join(clean, f"fct_{industry}"))
        return clean

    # -- serving (§3.2 / §3.3) ----------------------------------------
    #
    # The DataFrame methods (fact_table, budget_report, full_export,
    # sql) return lazy plans; every action on them runs Spark.
    # budget_report_table is the repeat-read path the Flight service
    # uses for reports: it keeps each report as an Arrow table keyed on
    # the fact table's on-disk version token, so a dashboard asking for
    # the same report again costs one authentication and one scandir,
    # and a re-ingest of the upload invalidates the entry by itself.

    def _fact_path(self, client_id: str, industry: str, upload_basename: str) -> str:
        clean = self.registry.clean_path(client_id, upload_basename)
        return os.path.join(clean, f"fct_{industry}")

    def fact_table(self, client_id: str, password: str, upload_basename: str) -> DataFrame:
        tenant = self.registry.authenticate(client_id, password)
        return self.spark.read.parquet(
            self._fact_path(client_id, tenant.industry, upload_basename)
        )

    def budget_report_table(self, client_id: str, password: str,
                            upload_basename: str) -> pa.Table:
        """The budget report of one upload as an Arrow table, served
        from memory while the fact table on disk is unchanged.

        A hit needs the cached version token to equal the current one
        (:func:`_version_token`). A miss runs the ``budget_report``
        plan with ``toArrow()`` — the result is bounded by the number
        of distinct job titles — and stores it only if the token was
        the same before and after the query, so a report read during
        an overwrite is never cached. Spark runs outside the lock: two
        concurrent first misses both compute, and the later store
        wins. A missing fact table raises Spark's AnalysisException,
        as :meth:`budget_report` does."""
        tenant = self.registry.authenticate(client_id, password)
        path = self._fact_path(client_id, tenant.industry, upload_basename)
        token = _version_token(path)
        with self._reports_lock:
            cached = self._reports.get(path)
            # stored tokens are never None, so a missing table never hits
            if cached is not None and cached[0] == token:
                self._reports.move_to_end(path)
                return cached[1]
        table = reports.budget_report(self.spark.read.parquet(path)).toArrow()
        if token is not None and _version_token(path) == token:
            with self._reports_lock:
                self._reports[path] = (token, table)
                self._reports.move_to_end(path)
                while len(self._reports) > REPORT_CACHE_SIZE:
                    self._reports.popitem(last=False)
        return table

    def budget_report(self, client_id: str, password: str, upload_basename: str,
                      save_copy: bool = False) -> DataFrame:
        fct = self.fact_table(client_id, password, upload_basename)
        rpt = reports.budget_report(fct)
        if save_copy:
            out = os.path.join(
                self.registry.storage_path(client_id, "Downloads"),
                f"{os.path.splitext(os.path.basename(upload_basename))[0]}_summary",
            )
            sinks.write_csv(rpt, out)
        return rpt

    def full_export(self, client_id: str, password: str, upload_basename: str,
                    save_copy: bool = False) -> DataFrame:
        fct = self.fact_table(client_id, password, upload_basename)
        exp = reports.full_export(fct)
        if save_copy:
            out = os.path.join(
                self.registry.storage_path(client_id, "Downloads"),
                f"{os.path.splitext(os.path.basename(upload_basename))[0]}_full_export",
            )
            sinks.write_csv(exp, out)
        return exp

    def list_files(self, client_id: str, password: str, subdir: str = "Clean"):
        self.registry.authenticate(client_id, password)
        return self.registry.list_files(client_id, subdir)

    def sql(
        self,
        client_id: str,
        password: str,
        upload_basename: str,
        query: str,
    ) -> DataFrame:
        """Ad-hoc SQL over one tenant upload — beyond-parity: the
        reference serves only two fixed queries (serve_flight.py:
        291,295); Spark SQL makes the whole fact (and staging, if
        materialized) queryable.

        Isolation model: every call runs in a fresh
        ``SparkSession.newSession()`` — same SparkContext (no JVM
        cost), but a private temp-view namespace and SQLConf. Only
        this upload's ``fct`` / ``stg`` views exist there, so
        interleaved calls from concurrent tenants (e.g. via the
        threaded Flight facade) can never observe each other's views.
        ``spark.sql.runSQLOnFiles`` is disabled in the subsession, so
        direct path addressing (``SELECT * FROM parquet.`/any/path```)
        fails analysis instead of bypassing the auth/path scoping —
        and the statement must PARSE to a plain query: DDL/DML plans
        (CreateTable/Insert/Set/...) are rejected up front, because
        ``newSession()`` shares the persistent catalog, so an
        unchecked ``CREATE TABLE ... USING parquet LOCATION`` would
        re-open the exact cross-tenant path escape runSQLOnFiles
        closes (read another tenant's fact tables, or users.json)."""
        tenant = self.registry.authenticate(client_id, password)
        clean = self.registry.clean_path(client_id, upload_basename)
        session = self.spark.newSession()
        session.conf.set("spark.sql.runSQLOnFiles", "false")
        _assert_plain_query(session, query)
        fct = session.read.parquet(os.path.join(clean, f"fct_{tenant.industry}"))
        fct.createOrReplaceTempView("fct")
        stg_path = os.path.join(clean, f"stg_{tenant.industry}")
        try:
            session.read.parquet(stg_path).createOrReplaceTempView("stg")
        except Exception:
            pass  # staging not materialized for this upload
        return session.sql(query)
