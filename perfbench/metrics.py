"""End-to-end and per-layer metrics from one run's records.

A metric is ``{"value", "unit", "n"}`` (n: sample count). A latency
comes as a median and a tail: the highest of p50/p75/p90/p95/p99/p99.9
that has at least ten samples beyond it; below 20 samples none does and
the tail is the maximum (``percentile`` says which).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: the generic end-to-end names of BENCHMARK.json -> this workload's metric
E2E = {
    "tenant_serve": {"latency_p50_ms": "report_p50_ms", "latency_tail_ms": "report_tail_ms"},
    "tenant_ingest": {"latency_p50_ms": "ingest_p50_ms", "latency_tail_ms": "ingest_tail_ms"},
    "analytics_batch": {"latency_p50_ms": "batch_pass_p50_ms",
                        "latency_tail_ms": "batch_pass_tail_ms"},
}

SUITE_MODULES = ("parity", "relational", "textops", "vectors", "analytics", "advanced", "mlops")
ROOT_SPANS = ("service.do_get", "service.do_put", "service.do_action", "suite.query")
LAYERS = ("service", "engine", "tenancy", "readers", "plans", "schemas", "sinks",
          "reports", "spark", "suite")


def metric(value, unit: str, n: int = 1, **extra) -> dict:
    return {"value": value, "unit": unit, "n": n, **extra}


def latencies(prefix: str, seconds: list) -> dict:
    """``<prefix>_p50_ms`` and ``<prefix>_tail_ms`` of durations given in
    seconds; absent when there are no samples."""
    if not seconds:
        return {}
    ms = [s * 1000.0 for s in seconds]
    for p in TAIL_PERCENTILES:
        if len(ms) * (100.0 - p) / 100.0 >= 10:
            label, tail = f"p{p:g}", float(np.percentile(ms, p))
            break
    else:
        label, tail = "max", max(ms)
    return {f"{prefix}_p50_ms": metric(statistics.median(ms), "ms", len(ms)),
            f"{prefix}_tail_ms": metric(tail, "ms", len(ms), percentile=label)}


def _dur(rec: dict) -> float:
    return rec["t1"] - rec["t0"]


def tenant_e2e(workload: str, ops: list, t_start: float, t_stop: float) -> dict:
    kinds = defaultdict(list)
    for o in ops:
        if o["ok"]:
            kinds[o["phase"], o["kind"]].append(o)
    out = {}
    if workload == "tenant_serve":
        measured = sum((v for (phase, _), v in kinds.items() if phase == "measure"), [])
        for kind in ("report", "export", "list"):
            out.update(latencies(kind, [_dur(o) for o in kinds["measure", kind]]))
        out["serve_rps"] = metric(len(measured) / (t_stop - t_start), "1/s", len(measured))
        uploads = kinds["setup", "upload"]
    else:
        uploads = kinds["measure", "upload"]
        # the uploader asks for the report of each upload right after it
        pairs, last = [], None
        for o in sorted(uploads + kinds["measure", "upload_report"], key=lambda o: o["t0"]):
            if o["kind"] == "upload":
                last = o
            elif last is not None and last["target"] == o["target"]:
                pairs.append(o["t1"] - last["t0"])
        out.update(latencies("upload_to_report", pairs))
        out.update(latencies("report", [_dur(o) for o in kinds["measure", "report"]]))
    # tenant_serve's only uploads are its set-up: reported, not gated
    prefix = "ingest" if workload == "tenant_ingest" else "setup_ingest"
    out.update(latencies(prefix, [_dur(o) for o in uploads]))
    busy = sum(_dur(o) for o in uploads)
    if busy:
        out[f"{prefix}_mb_s"] = metric(sum(o["bytes"] for o in uploads) / 1e6 / busy,
                                       "MB/s", len(uploads))
    return out


def batch_e2e(passes: list) -> dict:
    out = latencies("batch_pass", [sum(b + e for b, e in p.values()) for p in passes])
    out.update(latencies("query", [b + e for p in passes for b, e in p.values()]))
    return out


# --------------------------------------------------------------------------
# per-layer metrics from spans (traced runs)
# --------------------------------------------------------------------------

def _self_times(spans: list) -> dict:
    """Self time of every span: its duration minus the part of its
    interval that its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_metrics(workload: str, spans: list, ops: list, t_start: float, t_stop: float,
                  storage_ratio: float | None) -> tuple[dict, list]:
    """Per-layer metrics (every name; 0 where the workload does not reach
    the layer) and a note for each zero.

    Read requests and suite queries count when they start in the timed
    window; uploads count wherever the run makes them (tenant_serve
    uploads only during set-up)."""
    by_rid = defaultdict(list)
    for s in spans:
        by_rid[s["rid"]].append(s)
    roots = [s for s in spans if s["parent"] is None and s["name"] in ROOT_SPANS]
    puts = [r for r in roots if r["name"] == "service.do_put"]
    used = puts + [r for r in roots
                   if r["name"] != "service.do_put" and t_start <= r["start"] <= t_stop]
    named = defaultdict(list)
    for r in used:
        for s in by_rid[r["rid"]]:
            named[s["name"]].append(s)

    def span_sum(r: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_rid[r["rid"]] if s["name"] == name)

    def med(values: list, unit: str, scale: float = 1000.0) -> dict:
        return metric(statistics.median(values) * scale if values else 0, unit, len(values))

    def span_med(name: str, unit: str = "ms", scale: float = 1000.0) -> dict:
        return med([s["end"] - s["start"] for s in named[name]], unit, scale)

    def mean(values: list, unit: str) -> dict:
        return metric(statistics.fmean(values) if values else 0, unit, len(values))

    m = {}
    get_spark = [s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"]
    m["session.get_spark_s"] = metric(get_spark[0] if get_spark else 0, "s")

    # -- service -------------------------------------------------------
    for name in ("do_get", "do_put", "do_action", "egress_write", "egress_read"):
        m[f"service.{name}_ms"] = span_med(f"service.{name}")
    m["service.egress_bytes"] = med(
        [s["attrs"]["bytes"] for s in named["service.egress_read"]], "bytes", 1)
    # client latency minus the server's own time for the same request
    server_time = {r["attrs"]["client_rid"]: (r["end"] - r["start"])
                   + span_sum(r, "service.egress_read")
                   for r in used if r["attrs"].get("client_rid") is not None}
    m["service.transport_ms"] = med(
        [_dur(o) - server_time[o["rid"]] for o in ops
         if o["phase"] == "measure" and o["ok"] and o["rid"] in server_time], "ms")
    m["service.do_put_decode_ms"] = med(
        [(r["end"] - r["start"]) - span_sum(r, "engine.ingest") for r in puts], "ms")

    # -- engine, tenancy, readers, plans, schemas, sinks, reports -------
    for name in ("fact_table", "budget_report", "full_export", "list_files", "ingest"):
        m[f"engine.{name}_ms"] = span_med(f"engine.{name}")
    m["tenancy.authenticate_us"] = span_med("tenancy.authenticate", "us", 1e6)
    m["tenancy.validate_filename_us"] = span_med("tenancy.validate_filename", "us", 1e6)
    m["tenancy.authenticate_calls_per_request"] = mean(
        [len([s for s in by_rid[r["rid"]] if s["name"] == "tenancy.authenticate"])
         for r in used if r["name"] != "suite.query"], "count")
    m["readers.read_csv_all_string_ms"] = span_med("readers.read_csv_all_string")
    m["plans.stg_fct_build_ms"] = med(
        [span_sum(r, "plans.stg") + span_sum(r, "plans.fct") for r in puts], "ms")
    m["schemas.validate_fact_contract_ms"] = span_med("schemas.validate_fact_contract")
    m["sinks.write_parquet_ms"] = span_med("sinks.write_parquet")
    written, source = 0, 0
    for r in puts:
        up = [o for o in ops if o["kind"] == "upload" and o["ok"]
              and o["target"] == r["attrs"]["filename"] and o["t0"] <= r["start"] <= o["t1"]]
        if up:
            source += up[0]["bytes"]
            written += sum(s["attrs"]["bytes"] for s in by_rid[r["rid"]]
                           if s["name"] == "sinks.write_parquet")
    m["sinks.bytes_written_per_upload_byte"] = metric(written / source if source else 0, "ratio")
    m["storage.bytes_per_upload_byte"] = metric(storage_ratio or 0, "ratio")
    m["reports.plan_us"] = med([s["end"] - s["start"] for s in
                                named["reports.budget_report"] + named["reports.full_export"]],
                               "us", 1e6)

    # -- Spark jobs and tasks, from requests that are the same every run -
    probe_rids = {o["rid"] for o in ops if o["phase"] == "probe" and o["kind"] == "report"}
    groups = {
        "report": [r for r in roots if r["attrs"].get("client_rid") in probe_rids],
        "ingest": [r for r in puts if r["start"] < t_start],
        "query": [r for r in roots if r["name"] == "suite.query" and r["attrs"]["sample"] == 0],
    }
    for label, group in groups.items():
        m[f"spark.jobs_per_{label}"] = mean([r["attrs"]["jobs"] for r in group], "count")
        m[f"spark.tasks_per_{label}"] = mean([r["attrs"]["tasks"] for r in group], "count")

    # -- suite: per-pass totals, median over the timed passes ------------
    queries = [r for r in used if r["name"] == "suite.query"]
    samples = sorted({r["attrs"]["sample"] for r in queries})

    def per_pass(value) -> dict:
        totals = [sum(value(r) for r in queries if r["attrs"]["sample"] == k) for k in samples]
        return med(totals, "s", 1.0)

    m["suite.plan_build_s"] = per_pass(lambda r: span_sum(r, "suite.plan_build"))
    m["suite.execute_s"] = per_pass(lambda r: span_sum(r, "suite.execute"))
    for mod in SUITE_MODULES:
        m[f"suite.{mod}.pass_s"] = per_pass(
            lambda r, mod=mod: r["end"] - r["start"] if r["attrs"]["module"] == mod else 0.0)

    # -- self time per layer, mean per request -------------------------
    self_t = _self_times(spans)
    per_layer = defaultdict(float)
    n_spans = 0
    for r in used:
        for s in by_rid[r["rid"]]:
            per_layer[s["name"].split(".")[0]] += self_t[s["id"]]
            n_spans += 1
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = metric(
            per_layer[layer] * 1000.0 / len(used) if used else 0, "ms", len(used))
    m["trace.spans_per_op"] = metric(n_spans / len(used) if used else 0, "count", len(used))

    notes = [f"{name} = 0: {workload} does not reach it" for name, v in m.items()
             if not v["value"]]
    return m, notes
