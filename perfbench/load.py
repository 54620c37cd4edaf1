"""Load generator for the tenant workloads: one process, closed loops,
at most ``nproc`` threads, each with its own ``PayrollFlightClient``.

Reads the plan written by ``run.py`` (tenants, upload files and the
expected report of each), performs the set-up uploads, runs the
workload for the planned number of seconds, and writes one record per
operation to ``--out``. Every response is checked against the
generator's expected values; a wrong answer is recorded as a failed
operation, the same as an error.

With ``--traced`` it tags each request with an id (see
:func:`traced_client_class`) and finally asks for one report of every
set-up upload, one export of the smallest one and one listing per
tenant, one at a time, so that per-request Spark counts come from the
same requests in every run.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

REL_TOL = 1e-9


class WrongAnswer(Exception):
    """A response that differs from the generator's expected values."""


def check_report(df, expected: dict) -> None:
    if set(df["job_title"]) != set(expected) or len(df) != len(expected):
        raise WrongAnswer(f"report has {len(df)} titles, expected {len(expected)}")
    for title, count, budget in zip(df["job_title"], df["total_employee"], df["total_budget"]):
        want_n, want_sum = expected[title]
        if int(count) != want_n:
            raise WrongAnswer(f"{title!r}: {count} employees, expected {want_n}")
        if abs(budget - want_sum) > REL_TOL * max(1.0, abs(want_sum)):
            raise WrongAnswer(f"{title!r}: budget {budget!r}, expected {want_sum!r}")
    if not df["total_budget"].is_monotonic_decreasing:
        raise WrongAnswer("report is not ordered by total_budget desc")


def check_export(df, rows: int) -> None:
    if len(df) != rows:
        raise WrongAnswer(f"export has {len(df)} rows, expected {rows}")
    if not df["job_title"].is_monotonic_increasing:
        raise WrongAnswer("export is not ordered by job_title")


def clean_name(upload: dict) -> str:
    return f"{upload['tenant']}_{upload['industry']}_{os.path.splitext(upload['name'])[0]}"


def traced_client_class():
    """``PayrollFlightClient`` that puts a request id (``rid``) into each
    ticket and action body; the server ignores unknown keys, and the
    traced server records it on its spans."""
    import pyarrow.flight as flight

    from city_payroll_data_pipeline_spark.service import PayrollFlightClient

    class TracedClient(PayrollFlightClient):
        rid = None

        def _get(self, action, client_id, password, target):
            ticket = flight.Ticket(json.dumps({
                "action": action, "client_id": client_id, "password": password,
                "target_file": target, "rid": self.rid}).encode())
            return self.client.do_get(ticket).read_all().to_pandas()

        def list_files(self, client_id, password, subdir="Clean"):
            body = json.dumps({"client_id": client_id, "password": password,
                               "subdir": subdir, "rid": self.rid}).encode()
            results = self.client.do_action(flight.Action("list_files", body))
            return json.loads(next(iter(results)).body.to_pybytes().decode())

    return TracedClient


class Load:
    def __init__(self, plan: dict, port: int, traced: bool):
        from city_payroll_data_pipeline_spark.service import PayrollFlightClient

        self.plan = plan
        self.location = f"grpc://127.0.0.1:{port}"
        self.client_cls = traced_client_class() if traced else PayrollFlightClient
        self._rids = itertools.count(1)
        self.passwords = {cid: pw for cid, _ind, pw in plan["tenants"]}
        self.ops: list[dict] = []
        self._local = threading.local()

    def client(self):
        c = getattr(self._local, "client", None)
        if c is None:
            c = self._local.client = self.client_cls(self.location)
        return c

    def _op(self, kind: str, phase: str, who: int, upload: dict, call, check=None, **extra) -> dict:
        rec = {"kind": kind, "phase": phase, "client": who, "tenant": upload["tenant"],
               "target": upload["name"], "ok": True, "rid": next(self._rids), **extra}
        self.client().rid = rec["rid"]
        rec["t0"] = time.monotonic()
        try:
            result = call()
            rec["t1"] = time.monotonic()
            if check is not None:
                check(result)
        except Exception as exc:  # noqa: BLE001 - every failure is counted, none is fatal
            rec.setdefault("t1", time.monotonic())
            rec["ok"] = False
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        self.ops.append(rec)
        return rec

    def upload(self, u: dict, phase: str, who: int) -> dict:
        pw = self.passwords[u["tenant"]]
        return self._op("upload", phase, who, u,
                        lambda: self.client().upload_csv(u["file"], u["tenant"], pw),
                        bytes=u["bytes"])

    def report(self, u: dict, phase: str, who: int, kind: str = "report") -> dict:
        pw = self.passwords[u["tenant"]]
        return self._op(kind, phase, who, u,
                        lambda: self.client().get_budget_report(u["tenant"], pw, u["name"]),
                        lambda df: check_report(df, u["expected"]))

    def export(self, u: dict, phase: str, who: int) -> dict:
        pw = self.passwords[u["tenant"]]
        return self._op("export", phase, who, u,
                        lambda: self.client().get_full_data(u["tenant"], pw, u["name"]),
                        lambda df: check_export(df, u["rows"]))

    def listing(self, u: dict, phase: str, who: int) -> dict:
        pw = self.passwords[u["tenant"]]

        def check(files):
            if clean_name(u) not in files:
                raise WrongAnswer(f"{clean_name(u)!r} missing from list_files")

        return self._op("list", phase, who, u,
                        lambda: self.client().list_files(u["tenant"], pw), check)

    # -- phases -------------------------------------------------------

    def setup_uploads(self) -> None:
        pre = self.plan["setup_uploads"]
        n = min(len(pre), self.plan["clients"])
        with ThreadPoolExecutor(max_workers=n) as pool:
            for fut in [pool.submit(self.upload, u, "setup", -1) for u in pre]:
                fut.result()

    def serve(self, t_end: float, phase: str) -> None:
        """``clients`` closed loops: 80% budget report, 10% listing, 10%
        full export of a small upload; targets from a Zipf over the
        uploads in plan order."""
        uploads = self.plan["setup_uploads"]
        small = [u for u in uploads if u["rows"] <= self.plan["export_max_rows"]]

        def zipf(n: int):
            w = 1.0 / np.arange(1, n + 1) ** self.plan["zipf_s"]
            return w / w.sum()

        p_all, p_small = zipf(len(uploads)), zipf(len(small))

        def loop(i: int):
            rng = np.random.default_rng([self.plan["seed"], i, phase == "measure"])
            while time.monotonic() < t_end:
                r = rng.random()
                if r < 0.8:
                    self.report(uploads[rng.choice(len(uploads), p=p_all)], phase, i)
                elif r < 0.9:
                    self.listing(uploads[rng.choice(len(uploads), p=p_all)], phase, i)
                else:
                    self.export(small[rng.choice(len(small), p=p_small)], phase, i)

        self._threads(loop, self.plan["clients"])

    def ingest(self, t_end: float) -> None:
        """One uploader walking the upload cycle (each upload followed by
        its budget report) beside one reader asking for reports on the
        set-up uploads."""
        def uploader():
            cycle = self.plan["cycle"]
            k = 0
            while time.monotonic() < t_end:
                u = cycle[k % len(cycle)]
                k += 1
                if self.upload(u, "measure", 0)["ok"]:
                    self.report(u, "measure", 0, kind="upload_report")

        def reader():
            rng = np.random.default_rng([self.plan["seed"], 1])
            older = self.plan["setup_uploads"]
            while time.monotonic() < t_end:
                self.report(older[rng.integers(len(older))], "measure", 1)

        self._threads(lambda i: (uploader if i == 0 else reader)(), 2)

    @staticmethod
    def _threads(fn, n: int) -> None:
        with ThreadPoolExecutor(max_workers=n) as pool:
            for fut in [pool.submit(fn, i) for i in range(n)]:
                fut.result()

    def probe(self) -> None:
        uploads = self.plan["setup_uploads"]
        for u in uploads:
            self.report(u, "probe", -1)
        self.export(min(uploads, key=lambda u: u["rows"]), "probe", -1)
        seen = set()
        for u in uploads:
            if u["tenant"] not in seen:
                seen.add(u["tenant"])
                self.listing(u, "probe", -1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--traced", action="store_true",
                    help="tag requests with ids and finish with a probe")
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    with open(args.plan, encoding="utf-8") as f:
        plan = json.load(f)

    load = Load(plan, args.port, args.traced)
    t_loaded = time.monotonic()
    load.setup_uploads()
    t_warm = time.monotonic()
    if plan["workload"] == "tenant_serve":
        # reads keep getting faster for tens of seconds after the first
        # (JIT); the warm-up keeps the steepest part out of the window
        load.serve(t_warm + plan["warmup_s"], "warmup")
        t_start = time.monotonic()
        load.serve(t_start + plan["seconds"], "measure")
    else:
        t_start = t_warm
        load.ingest(t_start + plan["seconds"])
    t_stop = time.monotonic()
    if args.traced:
        load.probe()
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump({"t_loaded": t_loaded, "t_warm": t_warm, "t_start": t_start, "t_stop": t_stop,
                   "ops": load.ops}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
