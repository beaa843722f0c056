"""Seeded, mockdata-shaped EDC studies derived from TPC-H tables.

``generate(workload, seed, out_dir)`` writes two-row-header CSVs (a
label row, then a column-name row, as the reference's mockdata exports)
and returns a manifest that states, by construction, what a correct
lifecycle must produce: row counts per dataset, the mappings a study
team accepts, and the issue counts the planted defects cause.

The rows come from the TPC-H tables that DuckDB's built-in ``dbgen``
produces (no file is read and nothing is downloaded): one subject per
*customer*, one adverse event per *order*. Cardinalities and fan-outs
are therefore TPC-H's own (about 15 orders per ordering customer, and a
third of the customers without any).

The seed picks the window of customers that forms a study and which
rows carry a planted defect; the same seed gives byte-identical files.

Planted defects (each count is in the manifest, zero counts included):

- non-ISO dates in a --DTC source column: validation reports them as
  Format;
- non-numeric values in a Num variable's source column: the build turns
  them into missing values, so the XPT carries that many missing values
  (``missing_numeric``);
- AE rows whose subject is absent from DM (orders of customers
  outside the study window): CrossReference on USUBJID;
- RELREC rows pointing at an AESEQ no AE record has: CrossReference on
  ``RDOMAIN=AE``.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random

import duckdb

#: TPC-H scale factor each workload derives its study from
SCALE = {"study_small": 0.01, "preview_edit": 0.01}
#: study_small: subjects per study, a clinical-norm size (10^2 DM rows)
STUDY_SUBJECTS = 100
#: share of rows that carry a planted defect
DEFECT_RATE = 0.02

# TPC-H nation name -> ISO 3166 alpha-3 (the COUNTRY codelist)
ISO3 = {
    "ALGERIA": "DZA", "ARGENTINA": "ARG", "BRAZIL": "BRA", "CANADA": "CAN",
    "EGYPT": "EGY", "ETHIOPIA": "ETH", "FRANCE": "FRA", "GERMANY": "DEU",
    "INDIA": "IND", "INDONESIA": "IDN", "IRAN": "IRN", "IRAQ": "IRQ",
    "JAPAN": "JPN", "JORDAN": "JOR", "KENYA": "KEN", "MOROCCO": "MAR",
    "MOZAMBIQUE": "MOZ", "PERU": "PER", "CHINA": "CHN", "ROMANIA": "ROU",
    "SAUDI ARABIA": "SAU", "VIETNAM": "VNM", "RUSSIA": "RUS",
    "UNITED KINGDOM": "GBR", "UNITED STATES": "USA",
}
SEXES = ("M", "F", "male", "female")
# o_orderpriority -> reported severity (mixed case, as EDC exports carry it)
SEVERITY = {"1-URGENT": "SEVERE", "2-HIGH": "severe", "3-MEDIUM": "Moderate",
            "4-NOT SPECIFIED": "mild", "5-LOW": "MILD"}
# adverse-event vocabulary: verbatim, preferred term, body system
AE_TERMS = (
    ("Headache", "Headache", "Nervous system disorders"),
    ("Nausea", "Nausea", "Gastrointestinal disorders"),
    ("Sun stroke", "Heat stroke", "Injury and poisoning"),
    ("Rash on arm", "Rash", "Skin disorders"),
    ("Dizzy", "Dizziness", "Nervous system disorders"),
    ("Tired", "Fatigue", "General disorders"),
    ("Back pain", "Back pain", "Musculoskeletal disorders"),
    ("Cough", "Cough", "Respiratory disorders"),
)
BAD_DATES = ("2023-10-NK", "NK-NK-2023", "2024-UN-15", "20XX-01-01")
BAD_NUMBERS = ("unknown", "<0.5", "NEG", "n/a")

# dataset -> [(label, column name)], then the mapping a study team accepts
HEADERS = {
    "DM": [("Subject", "SubjectId"), ("Site", "SITE"), ("Gender", "GENDER"),
           ("Age", "AGEYRS"), ("Birth Date", "BRTHDAT"),
           ("Reference Start", "RFSTDAT"), ("Consent Date", "RFICDAT"),
           ("Country Name", "CNTRY"), ("Market Segment", "MKTSEG"),
           ("Site Note", "NOTE")],
    "AE": [("Subject", "SubjectId"), ("AE Term", "AETERM"),
           ("Verbatim Term", "AEVERB"), ("Preferred Term", "PTERM"),
           ("Lowest Level Term", "LLTERM"), ("Body System", "BODSYS"),
           ("System Organ Class", "SOC"), ("Severity", "SEV"),
           ("Start Date", "AESTDAT"), ("End Date", "AEENDAT")],
    "RELREC": [("Subject", "SubjectId"), ("Related Domain", "RELDOM"),
               ("Id Variable", "IDV"), ("Id Value", "IDVAL"),
               ("Relation Id", "RELIDX")],
}
MAPPINGS = {
    "DM": {"SUBJID": "SubjectId", "SITEID": "SITE", "SEX": "GENDER",
           "AGE": "AGEYRS", "BRTHDTC": "BRTHDAT", "RFSTDTC": "RFSTDAT",
           "RFICDTC": "RFICDAT", "COUNTRY": "CNTRY"},
    "AE": {"SUBJID": "SubjectId", "AETERM": "AETERM", "AEDECOD": "PTERM",
           "AEBODSYS": "BODSYS", "AESEV": "SEV", "AESTDTC": "AESTDAT",
           "AEENDTC": "AEENDAT"},
    "RELREC": {"USUBJID": "SubjectId", "RDOMAIN": "RELDOM", "IDVAR": "IDV",
               "IDVARVAL": "IDVAL", "RELID": "RELIDX"},
}
#: preview_edit's seeded remaps: (variable, copy-rule source column)
REMAPS = (
    ("AETERM", "AEVERB"), ("AETERM", "AETERM"),
    ("AEDECOD", "LLTERM"), ("AEDECOD", "PTERM"),
    ("AEBODSYS", "SOC"), ("AEBODSYS", "BODSYS"),
)


def tpch(sf: float) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB holding the TPC-H tables at scale ``sf``."""
    con = duckdb.connect()
    # tpch is compiled into the DuckDB wheel; never reach for the network
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    con.execute("LOAD tpch")
    con.execute(f"CALL dbgen(sf = {sf})")
    return con


def subject_id(custkey: int) -> str:
    return f"S{custkey:05d}"


def _iso(d) -> str:
    return d.isoformat()[:10]


def _write_csv(path: str, header: list[tuple[str, str]], rows: list[list[str]]) -> int:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow([label for label, _ in header])
    w.writerow([name for _, name in header])
    w.writerows(rows)
    data = buf.getvalue().encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


class _Plant:
    """Chooses which rows carry a defect and counts them per key."""

    def __init__(self, rng: random.Random, keys: list[str]):
        self.rng = rng
        self.counts = {k: 0 for k in keys}

    def hit(self, key: str) -> bool:
        if self.rng.random() < DEFECT_RATE:
            self.counts[key] += 1
            return True
        return False


def _dm_rows(con, lo: int, hi: int, plant: _Plant) -> list[list[str]]:
    rows = []
    for custkey, nation, acctbal, segment, first_order in con.execute(
        """
        SELECT c_custkey, n_name, c_acctbal, c_mktsegment, min(o_orderdate)
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN orders ON o_custkey = c_custkey
        WHERE c_custkey BETWEEN ? AND ?
        GROUP BY ALL ORDER BY c_custkey
        """,
        [lo, hi],
    ).fetchall():
        age = 18 + (custkey * 37) % 60
        rfst = (first_order or dt.date(1992, 1, 1) + dt.timedelta(days=custkey % 365))
        rfst -= dt.timedelta(days=1 + custkey % 28)
        consent = _iso(rfst - dt.timedelta(days=1 + custkey % 14))
        if plant.hit("DM|RFICDTC|Format"):
            consent = plant.rng.choice(BAD_DATES)
        age_s = str(age)
        if plant.hit("DM|AGE|missing"):
            age_s = plant.rng.choice(BAD_NUMBERS)
        rows.append([
            subject_id(custkey), str(100 + custkey % 10), SEXES[custkey % 4], age_s,
            f"{rfst.year - age:04d}-{rfst.month:02d}-{min(rfst.day, 28):02d}",
            _iso(rfst), consent, ISO3[nation.strip()], segment.strip(),
            "negative balance" if acctbal < 0 else "",
        ])
    return rows


def _ae_rows(con, where: str, params: list, plant: _Plant | None) -> list[list[str]]:
    """AE rows, one per order, in orderkey order."""
    rows = []
    for orderkey, custkey, status, odate, priority in con.execute(
        f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_orderpriority
        FROM orders WHERE {where} ORDER BY o_orderkey
        """,
        params,
    ).fetchall():
        verbatim, decod, soc = AE_TERMS[orderkey % len(AE_TERMS)]
        start = _iso(odate)
        if plant is not None and plant.hit("AE|AESTDTC|Format"):
            start = plant.rng.choice(BAD_DATES)
        end = _iso(odate + dt.timedelta(days=1 + orderkey % 27)) if status == "F" else ""
        rows.append([
            subject_id(custkey), verbatim, verbatim.upper(), decod, decod.lower(),
            soc, soc.upper(), SEVERITY[priority.strip()], start, end,
        ])
    return rows


def _relrec_rows(rng, ae_rows, subjects, plant: _Plant) -> list[list[str]]:
    """Relations between two AE records of one subject, for a seeded
    sample of the subjects with at least two. A planted relation names
    an AESEQ beyond every subject's AE count."""
    per_subject: dict[str, int] = {}
    for r in ae_rows:
        per_subject[r[0]] = per_subject.get(r[0], 0) + 1
    candidates = [s for s in subjects if per_subject.get(s, 0) >= 2]
    bad_seq = max(per_subject.values()) + 1
    related = rng.sample(candidates, max(10, len(candidates) // 2))
    broken = set(rng.sample(range(len(related)), max(1, len(related) // 10)))
    plant.counts["RELREC|RDOMAIN=AE|CrossReference"] = len(broken)
    rows = []
    for n, subj in enumerate(related):
        relid = f"R{n + 1:04d}"
        first, second = sorted(rng.sample(range(1, per_subject[subj] + 1), 2))
        if n in broken:
            first = bad_seq + rng.randrange(100)
        rows.append([subj, "AE", "AESEQ", str(first), relid])
        rows.append([subj, "AE", "AESEQ", str(second), relid])
    return rows


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's CSVs under ``out_dir``; return the manifest."""
    rng = random.Random(f"{workload}:{seed}")
    con = tpch(SCALE[workload])
    n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, list[list[str]]] = {}

    if workload == "preview_edit":
        # the whole customer base as one fixed DM+AE study
        plant = _Plant(rng, ["DM|RFICDTC|Format", "DM|AGE|missing"])
        rows["DM"] = _dm_rows(con, 1, n_cust, plant)
        rows["AE"] = _ae_rows(con, "TRUE", [], None)
    else:
        lo = rng.randrange(1, n_cust - STUDY_SUBJECTS + 2)
        hi = lo + STUDY_SUBJECTS - 1
        plant = _Plant(rng, ["DM|RFICDTC|Format", "DM|AGE|missing", "AE|AESTDTC|Format",
                             "RELREC|RDOMAIN=AE|CrossReference"])
        rows["DM"] = _dm_rows(con, lo, hi, plant)
        # orphans: a seeded few orders of customers outside the window
        n_own, = con.execute(
            "SELECT count(*) FROM orders WHERE o_custkey BETWEEN ? AND ?", [lo, hi]
        ).fetchone()
        outside = [k for (k,) in con.execute(
            "SELECT o_orderkey FROM orders WHERE o_custkey NOT BETWEEN ? AND ? ORDER BY 1",
            [lo, hi]).fetchall()]
        orphans = sorted(rng.sample(outside, max(2, round(n_own * DEFECT_RATE))))
        rows["AE"] = _ae_rows(
            con, f"o_custkey BETWEEN ? AND ? OR o_orderkey IN ({','.join(map(str, orphans))})",
            [lo, hi], plant)
        subjects = [r[0] for r in rows["DM"]]
        rows["RELREC"] = _relrec_rows(rng, rows["AE"], subjects, plant)
        in_dm = set(subjects)
        plant.counts["AE|USUBJID|CrossReference"] = sum(r[0] not in in_dm for r in rows["AE"])
    con.close()

    files = {}
    for code, data in rows.items():
        path = os.path.join(out_dir, f"{code.lower()}.csv")
        size = _write_csv(path, HEADERS[code], data)
        files[code] = {"path": path, "bytes": size, "rows": len(data),
                       "mappings": MAPPINGS[code]}
    counts = plant.counts
    manifest = {
        "workload": workload,
        "seed": seed,
        "scale_factor": SCALE[workload],
        "subjects": [r[0] for r in rows["DM"]],
        "datasets": files,
        # every planted key, zero counts included
        "issues": {k: v for k, v in sorted(counts.items()) if not k.endswith("|missing")},
        "missing_numeric": {k.rsplit("|", 1)[0]: v for k, v in sorted(counts.items())
                            if k.endswith("|missing")},
        "remaps": [list(r) for r in REMAPS],
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
