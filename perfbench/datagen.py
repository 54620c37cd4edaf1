"""Seeded input generators for the benchmark.

* :func:`write_payroll_csv` writes one tenant upload in the raw CSV
  format of its industry (the headers of ``schemas.*_RAW_COLUMNS``,
  including hospital's space-padded ones) and returns the expected
  budget report computed from the values it wrote, with the formulas of
  ``plans/*.py`` re-done in numpy. The engine is never used for this.
* :func:`write_tables` writes the TPC-H-like parquet tables the
  analytics suite reads (``region nation customer supplier part orders
  lineitem documents embeddings``), with the schemas and value
  distributions the suite's queries and DuckDB oracles are written for.

The same seed always gives the same bytes.
"""

from __future__ import annotations

import csv
import os

import numpy as np

CORPORATE_HEADER = [
    "Row ID", "Year", "Department Title", "Job Class Title", "Employment Type",
    "Base Pay", "Overtime Pay", "Longevity Bonus Pay", "Average Benefit Cost",
]
EDUCATION_HEADER = [
    "last_name", "first_name", "district", "school", "primary_job", "fte",
    "experience_total", "certificate", "salary",
]
HOSPITAL_HEADER = [
    "Provider Name", "Provider City", "Provider State", "DRG Definition",
    " Total Discharges ", " Average Total Payments ", " Average Medicare Payments ",
]

# Fixed vocabularies: the seed picks rows, never the label sets, so every
# seed produces reports of the same shape.
_CORP_TITLES = [
    f"{role} {grade}"
    for role in (
        "Police Officer", "Firefighter", "Clerk Typist", "Librarian",
        "Civil Engineer", "Equipment Operator", "Accountant", "Gardener Caretaker",
        "Detention Officer", "Systems Analyst", "Electrician", "Custodian",
        "Transit Operator", "Building Inspector", "Paramedic", "Park Ranger",
    )
    for grade in ("I", "II", "III")
]
_CORP_DEPTS = [
    "Police (LAPD)", "Fire (LAFD)", "Public Works", "Water And Power (DWP)",
    "Library", "Recreation And Parks", "Transportation", "Airports (LAWA)",
    "City Attorney", "General Services", "Harbor (Port of LA)", "Building And Safety",
]
_CORP_TYPES = ["Full Time", "Part Time", "Per Event"]

_EDU_JOBS = [
    f"{subj} Teacher {band}"
    for subj in ("Math", "English", "Science", "History", "Art", "Music", "Physical Ed", "Special Ed")
    for band in ("Gr K-4", "Gr 5-8", "Gr 9-12")
] + ["Principal", "Vice Principal", "Guidance Counselor", "School Nurse", "Librarian"]
_EDU_DISTRICTS = [f"{n} Public Schools" for n in (
    "Newark", "Trenton", "Camden", "Paterson", "Edison", "Elizabeth", "Jersey City", "Woodbridge")]
_EDU_SCHOOLS = [f"{n} {kind}" for n in ("Lincoln", "Washington", "Roosevelt", "Jefferson", "Franklin")
                for kind in ("Elementary", "Middle", "High")]
_EDU_CERTS = ["Standard", "Provisional", "Emergency", "Substitute"]
_LAST = ["Smith", "Garcia", "Nguyen", "Patel", "Kim", "Cohen", "Rossi", "Okafor", "Silva", "Brown"]
_FIRST = ["Ana", "Ben", "Chen", "Dara", "Eli", "Fatima", "Gus", "Hana", "Ivan", "June"]

_DRG = [
    f"{code:03d} - {name}"
    for code, name in enumerate(
        (
            "MAJOR JOINT REPLACEMENT W/O MCC", "SIMPLE PNEUMONIA & PLEURISY W CC, ADULT",
            "HEART FAILURE & SHOCK W MCC", "SEPSIS W/O MV 96+ HOURS", "CHEST PAIN",
            "KIDNEY & URINARY TRACT INFECTIONS", "CARDIAC ARRHYTHMIA W CC",
            "G.I. HEMORRHAGE W CC", "SYNCOPE & COLLAPSE", "RENAL FAILURE W CC",
            "CHRONIC OBSTRUCTIVE PULMONARY DISEASE", "ESOPHAGITIS, GASTROENT & MISC DIGEST",
            "CELLULITIS W/O MCC", "NUTRITIONAL & MISC METABOLIC DISORDERS",
            "INTRACRANIAL HEMORRHAGE OR CEREBRAL INFARCTION", "SPINAL FUSION EXCEPT CERVICAL",
            "PERMANENT CARDIAC PACEMAKER IMPLANT", "HIP & FEMUR PROCEDURES",
            "DIABETES W CC", "PSYCHOSES",
        ),
        start=39,
    )
]
_HOSP_NAMES = [f"{n} Medical Center" for n in (
    "Cedars-Sinai", "St. Mary", "Mercy General", "Providence", "Good Samaritan",
    "Kaiser Foundation", "Memorial", "Sutter", "Valley Presbyterian", "Methodist")]
_HOSP_CITIES = [("Los Angeles", "CA"), ("Houston", "TX"), ("Newark", "NJ"), ("Chicago", "IL"),
                ("Phoenix", "AZ"), ("Seattle", "WA")]

#: approximate CSV bytes per row, used only to size uploads in MB
BYTES_PER_ROW = {"corporate": 94, "education": 98, "hospital": 97}


def _money(cents: np.ndarray, style: np.ndarray) -> list[str]:
    """Money strings in the reference's dirty formats: ``$85,432.10``,
    ``85432.10``, ``$85432.10`` and ``85,432.10``."""
    out = []
    for c, s in zip(cents.tolist(), style.tolist()):
        d, r = divmod(c, 100)
        body = f"{d:,}.{r:02d}" if s in (0, 3) else f"{d}.{r:02d}"
        out.append("$" + body if s in (0, 2) else body)
    return out


def _skewed_index(rng, n_labels: int, n: int) -> np.ndarray:
    """Label index per row; a few labels dominate, like real payroll
    titles."""
    w = 1.0 / np.arange(1, n_labels + 1) ** 0.8
    return rng.choice(n_labels, size=n, p=w / w.sum())


def _expected(labels: list[str], idx: np.ndarray, amount: np.ndarray) -> dict:
    """Per-label row count and total_amount sum (NaN amounts are NULL
    and skipped, as SQL SUM does)."""
    count = np.bincount(idx, minlength=len(labels))
    valid = ~np.isnan(amount)
    total = np.bincount(idx[valid], weights=amount[valid], minlength=len(labels))
    return {
        labels[i]: [int(count[i]), float(total[i])]
        for i in range(len(labels))
        if count[i]
    }


def _corporate(rng, n: int):
    idx = _skewed_index(rng, len(_CORP_TITLES), n)
    base = rng.integers(2_000_000, 20_000_000, n)          # cents
    ot = (base * rng.uniform(0.0, 0.35, n)).astype(np.int64)
    lon = rng.integers(0, 500_000, n)
    ben = rng.integers(1_000_000, 3_000_000, n)
    blank_ot = rng.random(n) < 0.08
    blank_lon = rng.random(n) < 0.3
    blank_ben = rng.random(n) < 0.05
    # FIXTURES.md §5 edge cases at fixed positions
    edge = min(n, 4)
    base[:edge] = [123_456, 0, 4_000_000, 8_543_210][:edge]
    ot[:edge] = [0, 10_000, 1_000_000, 0][:edge]        # row 2: ot == 0.25*base
    blank_ot[:edge] = [True, False, False, False][:edge]
    blank_lon[:edge] = [True, False, False, True][:edge]
    blank_ben[:edge] = [True, False, False, False][:edge]
    style = rng.integers(0, 4, (4, n))
    style[:, :edge] = 0
    if n > 3:
        style[:, 3] = 1                                    # plain "85432.10"

    def val(c, blank):
        return np.where(blank, 0.0, c / 100.0)

    total = ((base / 100.0 + val(ot, blank_ot)) + val(lon, blank_lon)) + val(ben, blank_ben)

    def field(c, blank, s):
        strs = _money(c, s)
        return [("" if b else x) for x, b in zip(strs, blank.tolist())]

    dept = rng.integers(0, len(_CORP_DEPTS), n)
    etype = rng.integers(0, len(_CORP_TYPES), n)
    year = rng.integers(2013, 2021, n)
    rows = zip(
        range(1, n + 1), year.tolist(),
        [_CORP_DEPTS[i] for i in dept.tolist()],
        [_CORP_TITLES[i] for i in idx.tolist()],
        [_CORP_TYPES[i] for i in etype.tolist()],
        _money(base, style[0]),
        field(ot, blank_ot, style[1]),
        field(lon, blank_lon, style[2]),
        field(ben, blank_ben, style[3]),
    )
    return CORPORATE_HEADER, rows, _expected(_CORP_TITLES, idx, total)


def _education(rng, n: int):
    idx = _skewed_index(rng, len(_EDU_JOBS), n)
    salary = rng.integers(38_000, 140_000, n).astype(np.float64)
    exp = rng.integers(0, 41, n).astype(np.float64)
    fte = rng.choice(np.array([1.0, 1.0, 1.0, 0.5, 0.8, 0.99]), n)
    blank_sal = rng.random(n) < 0.03
    blank_exp = rng.random(n) < 0.05
    blank_fte = rng.random(n) < 0.05
    edge = min(n, 4)
    exp[:edge] = [15.0, 0.0, 16.0, 30.0][:edge]            # strict > 15 boundary
    fte[:edge] = [0.99, 1.0, 1.0, 0.5][:edge]
    blank_fte[:edge] = [False, True, False, False][:edge]
    blank_exp[:edge] = [False, False, False, True][:edge]
    blank_sal[:edge] = [False, False, True, False][:edge]

    sal_v = np.where(blank_sal, 0.0, salary)
    exp_v = np.where(blank_exp, 0.0, exp)
    total = sal_v + np.where(exp_v > 15, sal_v * 0.05, 0.0)

    def strs(values, blank, fmt):
        return [("" if b else fmt(v)) for v, b in zip(values.tolist(), blank.tolist())]

    rows = zip(
        [_LAST[i] for i in rng.integers(0, len(_LAST), n).tolist()],
        [_FIRST[i] for i in rng.integers(0, len(_FIRST), n).tolist()],
        [_EDU_DISTRICTS[i] for i in rng.integers(0, len(_EDU_DISTRICTS), n).tolist()],
        [_EDU_SCHOOLS[i] for i in rng.integers(0, len(_EDU_SCHOOLS), n).tolist()],
        [_EDU_JOBS[i] for i in idx.tolist()],
        strs(fte, blank_fte, str),
        strs(exp, blank_exp, lambda v: str(int(v))),
        [_EDU_CERTS[i] for i in rng.integers(0, len(_EDU_CERTS), n).tolist()],
        strs(salary, blank_sal, lambda v: str(int(v))),
    )
    return EDUCATION_HEADER, rows, _expected(_EDU_JOBS, idx, total)


def _hospital(rng, n: int):
    idx = _skewed_index(rng, len(_DRG), n)
    disch = rng.integers(11, 1000, n)
    pay = rng.integers(400_000, 5_000_000, n)              # cents
    medicare = (pay * rng.uniform(0.6, 0.95, n)).astype(np.int64)
    total = disch.astype(np.float64) * (pay / 100.0)
    hosp = rng.integers(0, len(_HOSP_NAMES), n)
    city = rng.integers(0, len(_HOSP_CITIES), n)
    style = np.ones(n, dtype=np.int64)                     # plain numerics
    rows = zip(
        [_HOSP_NAMES[i] for i in hosp.tolist()],
        [_HOSP_CITIES[i][0] for i in city.tolist()],
        [_HOSP_CITIES[i][1] for i in city.tolist()],
        [_DRG[i] for i in idx.tolist()],
        disch.tolist(),
        _money(pay, style),
        _money(medicare, style),
    )
    return HOSPITAL_HEADER, rows, _expected(_DRG, idx, total)


_MAKERS = {"corporate": _corporate, "education": _education, "hospital": _hospital}


def write_payroll_csv(path: str, industry: str, n_rows: int, seed: int) -> dict:
    """Write one upload; return ``{job_title: [count, total_amount_sum]}``."""
    rng = np.random.default_rng(seed)
    header, rows, expected = _MAKERS[industry](rng, n_rows)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return expected


# --------------------------------------------------------------------------
# TPC-H-like tables for the analytics suite
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _dates(rng, n: int, days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _price(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal prices as the nearest double, like the source data."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict:
    """Write the suite's parquet tables; return ``{table: rows}``.

    ``scale`` follows TPC-H's scale factor for the relational tables
    (orders = 1.5M x scale); the corpus tables keep 500 rows, as the
    suite's test data does at every scale."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_docs = 4 * n_ord, 500
    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _price(rng, -1000, 10_000, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust).tolist()]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _price(rng, -1000, 10_000, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part).tolist(), rng.integers(0, 8, n_part).tolist())],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part).tolist()],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord).tolist()],
            "o_totalprice": _price(rng, 1000, 500_000, n_ord),
            "o_orderdate": _dates(rng, n_ord, 2404),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord).tolist()]}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _price(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line).tolist()],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line).tolist()],
            "l_shipdate": _dates(rng, n_line, 2499)}),
    }
    texts = [
        " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), k).tolist())
        for k in rng.integers(10, 100, n_docs).tolist()
    ]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist()],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_docs, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
