"""Benchmark entry point: run one workload, check every answer, print
every metric.

    python3 perfbench/run.py --workload tenant_serve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from ``--seed``, starts the system under test in its own process
(``server.py``, or ``batch.py`` for ``analytics_batch``) and, for the
tenant workloads, the load generator in another (``load.py``). It pins
the environment (``SPARK_GRAFT_CPUS`` = cores available, private
``SPARK_LOCAL_DIRS`` and ``TMPDIR``, a fixed JVM heap), samples the RSS of
the system's process tree, and after the run checks that no
``flight_egress_*`` spool was left behind.

It prints one line per metric and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). Every run is appended to ``.perfbench/results.jsonl``
with the host details; a traced run also prints its overhead against
the last untraced run of the same workload found there.
"""

from __future__ import annotations

import argparse
import glob
import importlib.metadata
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

DEADLINE_S = 150.0
HEAP = "2g"
PACKAGE = "city_payroll_data_pipeline_spark"
OUT_DIR = ".perfbench"


class RunFailed(RuntimeError):
    pass


def calibrate() -> float:
    """Host canary (the one ``bench.py`` records): a fixed single-threaded
    numpy loop, best of three. Context for reading the run, not a metric."""
    import numpy as np

    x = np.arange(4_000_000, dtype=np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0.0
        for _ in range(6):
            acc += float(np.sqrt(x + acc % 7.0).sum())
        best = min(best, time.perf_counter() - t0)
    return best


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


class Proc:
    """A child started in its own session, so that the JVM and Python
    workers it starts can be measured and stopped with it."""

    def __init__(self, argv: list, env: dict, log: str, **kw):
        self._log = open(log, "w", encoding="utf-8")
        self.p = subprocess.Popen(argv, env=env, stderr=self._log, start_new_session=True, **kw)
        self.peak_rss = 0
        self._sampling = False

    def sample_rss(self) -> None:
        """Track the peak RSS of the whole process tree, every 50 ms.

        A process counts from its second sample on: a child that the JVM
        or Python has just forked or spawned shares its parent's pages
        until it execs, and counting it would add the parent's RSS
        twice."""
        self._sampling = True
        page = os.sysconf("SC_PAGE_SIZE")

        def loop():
            seen = {self.p.pid}
            while self._sampling:
                total = 0
                pids = set(_session_pids(self.p.pid))
                for pid in pids & seen:
                    try:
                        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                            total += int(f.read().split()[1]) * page
                    except OSError:
                        pass
                self.peak_rss = max(self.peak_rss, total)
                seen = pids | {self.p.pid}
                time.sleep(0.05)

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def wait(self, deadline: float) -> int:
        try:
            return self.p.wait(timeout=max(0.1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired as exc:
            raise RunFailed(f"{self.p.args[1]} did not finish in time") from exc

    def stop(self) -> None:
        """Stop the process and everything it started, and wait for them."""
        self._sampling = False
        if self.p.poll() is None:
            self.p.terminate()
            try:
                self.p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.p.pid, sig)
            except ProcessLookupError:
                break
            t_end = time.monotonic() + 5
            while _session_pids(self.p.pid) and time.monotonic() < t_end:
                time.sleep(0.1)
            if not _session_pids(self.p.pid):
                break
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self._log.close()


def _read_ready(proc: Proc, deadline: float) -> dict:
    out = proc.p.stdout
    while time.monotonic() < deadline:
        ready, _, _ = select.select([out], [], [], 0.5)
        if ready:
            line = out.readline()
            if not line:
                raise RunFailed("server exited before accepting requests")
            if line.startswith("READY "):
                return json.loads(line[6:])
        elif proc.p.poll() is not None:
            raise RunFailed("server exited before accepting requests")
    raise RunFailed("server did not start in time")


def run_tenant(args, plan: dict, work: str, env: dict, deadline: float) -> dict:
    storage = os.path.join(work, "warehouse")
    tmp = env["TMPDIR"]
    spans_path = os.path.join(work, "server_spans.jsonl")
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(plan, f)
    argv = [sys.executable, os.path.join(HERE, "server.py"), "--storage", storage,
            "--tenants", json.dumps(plan["tenants"])]
    if args.trace:
        argv += ["--trace", "--spans", spans_path]
    t_spawn = time.monotonic()
    server = Proc(argv, env, os.path.join(work, "server.log"),
                  stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    load = None
    try:
        server.sample_rss()
        ready = _read_ready(server, deadline)
        out_path = os.path.join(work, "load.json")
        largv = [sys.executable, os.path.join(HERE, "load.py"), "--plan", plan_path,
                 "--port", str(ready["port"]), "--out", out_path] + (["--traced"] if args.trace else [])
        load = Proc(largv, env, os.path.join(work, "load.log"))
        if load.wait(deadline) != 0:
            raise RunFailed(f"load generator failed, see {work}/load.log")
        # every stream has been read by now: a spool left behind leaked
        leaked = glob.glob(os.path.join(tmp, "flight_egress_*"))
        server.p.stdin.write("stop\n")
        server.p.stdin.flush()
        if server.wait(deadline) != 0:
            raise RunFailed(f"server failed, see {work}/server.log")
    finally:
        if load is not None:
            load.stop()
        server.stop()
    with open(out_path, encoding="utf-8") as f:
        res = json.load(f)
    teardown_s = time.monotonic() - res["t_stop"]

    ops = res["ops"]
    # storage accounting: Raw + Clean bytes per byte of the CSVs stored
    latest = {}
    for o in sorted(ops, key=lambda o: o["t0"]):
        if o["kind"] == "upload" and o["ok"]:
            latest[(o["tenant"], o["target"])] = o["bytes"]
    stored = sum(spans.dir_bytes(os.path.join(storage, "storage", tenant, sub))
                 for tenant in {t for t, _ in latest} for sub in ("Raw", "Clean"))
    storage_ratio = stored / sum(latest.values()) if latest else None

    e2e = metrics.tenant_e2e(plan["workload"], ops, res["t_start"], res["t_stop"])
    e2e["storage.bytes_per_upload_byte"] = metrics.metric(storage_ratio, "ratio")
    failures = [f"{o['kind']} {o['tenant']}/{o['target']}: {o['err']}" for o in ops if not o["ok"]]
    failures += [f"leaked egress spool {os.path.basename(p)}" for p in leaked]
    out = {
        # set-up: server start, then the set-up uploads (not the load
        # generator's own start-up)
        "e2e": e2e, "setup_s": (ready["t"] - t_spawn) + (res["t_warm"] - res["t_loaded"]),
        "peak_rss": server.peak_rss,
        # the spool check counts as one more operation
        "attempted": len(ops) + 1, "failures": failures, "teardown_s": teardown_s,
    }
    if args.trace:
        with open(spans_path, encoding="utf-8") as f:
            recorded = [json.loads(line) for line in f]
        out["layers"] = metrics.layer_metrics(plan["workload"], recorded, ops, res["t_start"],
                                              res["t_stop"], storage_ratio)
    return out


def oracle_digests(plan: dict, checks: dict) -> list[str]:
    """Compare each query's Spark result with its DuckDB oracle."""
    import duckdb

    import canon

    con = duckdb.connect()
    try:
        for t in plan["tables"]:
            path = os.path.join(plan["data"], f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failures = []
        for name in plan["queries"]:
            got = checks[name]
            if "error" in got:
                failures.append(f"query {name}: {got['error']}")
                continue
            want = con.execute(got["oracle"]).df()
            if got["rows"] != len(want):
                failures.append(f"query {name}: {got['rows']} rows, oracle {len(want)}")
            elif got["digest"] != canon.frame_digest(want):
                failures.append(f"query {name}: values differ from the oracle")
        return failures
    finally:
        con.close()


def run_batch(args, plan: dict, work: str, env: dict, deadline: float) -> dict:
    out_path = os.path.join(work, "batch.json")
    spans_path = os.path.join(work, "batch_spans.jsonl")
    argv = [sys.executable, os.path.join(HERE, "batch.py"), "--data", plan["data"],
            "--queries", " ".join(plan["queries"]), "--seconds", str(args.seconds),
            "--out", out_path]
    if args.trace:
        argv += ["--trace", "--spans", spans_path]
    t_spawn = time.monotonic()
    proc = Proc(argv, env, os.path.join(work, "batch.log"))
    try:
        proc.sample_rss()
        if proc.wait(deadline) != 0:
            raise RunFailed(f"batch failed, see {work}/batch.log")
    finally:
        proc.stop()
    with open(out_path, encoding="utf-8") as f:
        res = json.load(f)
    teardown_s = time.monotonic() - res["t_stop"]
    out = {
        "e2e": metrics.batch_e2e(res["passes"]), "setup_s": res["t_ready"] - t_spawn,
        "peak_rss": proc.peak_rss, "failures": oracle_digests(plan, res["check"]),
        "attempted": len(plan["queries"]) * (1 + len(res["passes"])),
        "teardown_s": teardown_s,
    }
    if args.trace:
        with open(spans_path, encoding="utf-8") as f:
            recorded = [json.loads(line) for line in f]
        out["layers"] = metrics.layer_metrics(plan["workload"], recorded, [], res["t_start"],
                                              res["t_stop"], None)
    return out


def _last_untraced(workload: str, seed: int) -> dict | None:
    """The latest correct untraced run of ``workload``, of ``seed`` if any."""
    path = os.path.join(OUT_DIR, "results.jsonl")
    if not os.path.isfile(path):
        return None
    with open(path, encoding="utf-8") as f:
        runs = [r for r in map(json.loads, f)
                if r["workload"] == workload and not r["trace"] and r["correct"]]
    same = [r for r in runs if r["seed"] == seed]
    return (same or runs or [None])[-1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.E2E))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()
    deadline = t0 + DEADLINE_S

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"run.py: no {PACKAGE}/ here; run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(OUT_DIR, f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every process writes only under the run's directory: Python temp
    # files, Spark scratch space, and the JVM's temp files and perf data
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEMORY=HEAP,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
               PYTHONDONTWRITEBYTECODE="1")
    # a fixed-size heap: otherwise the JVM grows it when its collector
    # happens to run, and peak RSS swings by half between identical runs
    submit = [f"--driver-java-options '-Xms{HEAP} -Xmn512m'"]
    if args.trace:
        # job and stage records must outlive the run for the per-request
        # counts (the status store keeps only the last 1000 by default)
        submit += ["--conf spark.ui.retainedJobs=1000000",
                   "--conf spark.ui.retainedStages=1000000"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    canary = calibrate()
    try:
        t_gen = time.monotonic()
        plan = workloads.make_plan(args.workload, args.seed, args.seconds, cpus,
                                   os.path.join(work, "inputs"))
        gen_s = time.monotonic() - t_gen
        runner = run_batch if args.workload == "analytics_batch" else run_tenant
        r = runner(args, plan, work, env, deadline)
    except RunFailed as exc:
        print(f"run.py: {exc}", file=sys.stderr)
        return 1
    shutil.rmtree(work, ignore_errors=True)

    named = dict(r["e2e"])
    named["setup_s"] = metrics.metric(r["setup_s"], "s")
    named["peak_rss_mb"] = metrics.metric(r["peak_rss"] / 2**20, "MB")
    failed = len(r["failures"])
    named["error_rate"] = metrics.metric(failed / r["attempted"], "ratio", r["attempted"])
    alias = metrics.E2E[args.workload]
    e2e = {}
    for spec in bench["end_to_end"]:
        src = alias.get(spec["name"], spec["name"])
        if src not in named:
            print(f"run.py: no samples for {src}", file=sys.stderr)
            return 1
        e2e[spec["name"]] = named[src]["value"]

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"cpus={cpus} canary_s={canary:.4f} inputs_s={gen_s:.1f} "
          f"teardown_s={r['teardown_s']:.1f} wall_s={time.monotonic() - t0:.1f}")
    for name, m in named.items():
        label = f" {m['percentile']}" if "percentile" in m else ""
        print(f"{name:32s} {m['value']:.6g} {m['unit']}{label}  (n={m['n']})")
    for f in r["failures"][:20]:
        print(f"FAILED {f}")

    if args.trace:
        layers, notes = r["layers"]
        for name, m in layers.items():
            print(f"{name:40s} {m['value']:.6g} {m['unit']}  (n={m['n']})")
        for note in notes:
            print(f"note: {note}")
        base = _last_untraced(args.workload, args.seed)
        if base is None:
            print("# tracing overhead: no untraced run of this workload to compare with")
        else:
            print(f"# tracing overhead (traced - untraced seed={base['seed']}):")
            for name, value in e2e.items():
                was = base["e2e"][name]
                print(f"overhead {name:28s} {value - was:+.4g} ({(value / was - 1) * 100:+.1f}%)")
        chosen = {spec["name"]: (layers[spec["name"]]["value"], spec["unit"])
                  for spec in bench["per_layer"]}
    else:
        units = {spec["name"]: spec["unit"] for spec in bench["end_to_end"]}
        chosen = {name: (value, units[name]) for name, value in e2e.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "canary_s": canary,
        "pyspark": importlib.metadata.version("pyspark"),
        "pyarrow": importlib.metadata.version("pyarrow"),
        "correct": failed == 0, "e2e": e2e,
        "named": {k: v["value"] for k, v in named.items()},
        "wall_s": time.monotonic() - t0,
    }
    with open(os.path.join(OUT_DIR, "results.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"], "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
