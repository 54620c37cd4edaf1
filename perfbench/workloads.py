"""The three workloads and the inputs each one is given.

Sizes and orders are fixed; the seed only changes the generated values
(and, in ``load.py``, the request sequence), so every seed asks the
system for the same amount of work.
"""

from __future__ import annotations

import os

import datagen

PASSWORD = "perfbench-pw"
TENANTS = {"corporate": "la_city", "education": "nj_schools", "hospital": "medicare_ca"}

#: tenant_serve uploads in Zipf rank order (first = hottest), (industry, rows)
SERVE_UPLOADS = [
    ("education", 30_000), ("corporate", 10_000), ("hospital", 60_000),
    ("corporate", 20_000), ("education", 10_000), ("hospital", 15_000),
    ("education", 100_000), ("hospital", 10_000), ("corporate", 40_000),
]
SERVE_ZIPF_S = 1.1
#: closed-loop reads before the timed window, not sampled
SERVE_WARMUP_S = 10
#: full exports go only to uploads this small (the reference's full
#: export is an interactive download, not a bulk path)
SERVE_EXPORT_MAX_ROWS = 20_000

#: tenant_ingest: the older uploads the concurrent reader asks about
INGEST_OLDER = [("corporate", 20_000), ("education", 30_000), ("hospital", 25_000)]
#: the uploader's cycle, (industry, MB, filename stem). Every other
#: upload re-uploads the same 8 MB roster with new contents, so the
#: median upload is that one whatever the number of uploads a run
#: completes; the others range over 1-30 MB and all three industries.
INGEST_CYCLE = [
    ("education", 8, "roster"), ("corporate", 1, "q1"),
    ("education", 8, "roster"), ("hospital", 30, "claims"),
    ("education", 8, "roster"), ("corporate", 3, "q2"),
]

#: analytics_batch: one query of each suite module, from the joins,
#: dedup, ANN, statistics and iterative (one Spark job per round) families
BATCH_QUERIES = [
    "budget_report",        # parity
    "region_revenue",       # relational: 4-way join
    "exact_dedup_groups",   # textops: dedup
    "ivf_ann_topk",         # vectors: ANN
    "key_gini_skew",        # analytics
    "mann_whitney_test",    # advanced
    "lpa_communities",      # mlops: iterative label propagation
]
BATCH_SCALE = 0.01


def _upload(path: str, industry: str, rows: int, seed: int) -> dict:
    expected = datagen.write_payroll_csv(path, industry, rows, seed)
    return {"tenant": TENANTS[industry], "industry": industry, "file": path,
            "name": os.path.basename(path), "rows": rows,
            "bytes": os.path.getsize(path), "expected": expected}


def make_plan(workload: str, seed: int, seconds: float, clients: int, inputs: str) -> dict:
    """Generate the workload's inputs under ``inputs``; return the plan."""
    os.makedirs(inputs, exist_ok=True)
    plan = {"workload": workload, "seed": seed, "seconds": seconds, "clients": clients,
            "tenants": [[cid, ind, PASSWORD] for ind, cid in TENANTS.items()]}
    if workload == "tenant_serve":
        plan["setup_uploads"] = [
            _upload(os.path.join(inputs, f"{ind}_u{i}.csv"), ind, rows, seed * 1000 + i)
            for i, (ind, rows) in enumerate(SERVE_UPLOADS)
        ]
        plan.update(zipf_s=SERVE_ZIPF_S, export_max_rows=SERVE_EXPORT_MAX_ROWS,
                    warmup_s=SERVE_WARMUP_S)
    elif workload == "tenant_ingest":
        plan["setup_uploads"] = [
            _upload(os.path.join(inputs, f"{ind}_older{i}.csv"), ind, rows, seed * 1000 + i)
            for i, (ind, rows) in enumerate(INGEST_OLDER)
        ]
        cycle = []
        for i, (ind, mb, stem) in enumerate(INGEST_CYCLE):
            # a re-upload keeps the filename, so it goes to its own dir
            d = os.path.join(inputs, f"c{i}")
            os.makedirs(d, exist_ok=True)
            rows = int(mb * 1e6 / datagen.BYTES_PER_ROW[ind])
            cycle.append(_upload(os.path.join(d, f"{ind}_{stem}.csv"), ind, rows,
                                 seed * 1000 + 100 + i))
        plan["cycle"] = cycle
    elif workload == "analytics_batch":
        plan["data"] = inputs
        plan["queries"] = BATCH_QUERIES
        plan["tables"] = datagen.write_tables(inputs, seed, BATCH_SCALE)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return plan
