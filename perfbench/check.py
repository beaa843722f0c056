"""Independent check of every op's outputs.

Nothing here reuses the engine's readers, writers or validators: the
XPT files are read back with ``pandas.read_sas``, define.xml with
ElementTree, the source CSVs with the ``csv`` module. The expected
issue report is rebuilt from the generator's manifest (planted defects)
plus the SDTM presence rules applied to the XPT contents and the SDTM
variable table. Each function returns a list of failures; an empty
list means the op's outputs are correct.
"""

from __future__ import annotations

import csv
import xml.etree.ElementTree as ET
from collections import Counter

import pandas as pd

from trial_submission_studio_spark.standards.sdtm_domains import DOMAINS

#: AE variables whose build rule is a plain copy of the mapped column
COPY_VARS = ("AETERM", "AEDECOD", "AEBODSYS")


def read_source(path: str) -> list[dict[str, str]]:
    """A two-row-header CSV as dicts keyed by the column-name row."""
    with open(path, newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    names = rows[1]
    return [dict(zip(names, r)) for r in rows[2:]]


def read_xpt(path: str) -> pd.DataFrame:
    """An XPT dataset. The V5 format stores no record count: the last
    80-byte card is padded with spaces. pandas guesses the count from
    every 8-space word in that card, so a short record whose own tail is
    blank loses a row. Here trailing all-blank records are padding, which
    is exact for these studies (USUBJID is never blank)."""
    with pd.read_sas(path, format="xport", encoding="ascii", iterator=True) as reader:
        with open(path, "rb") as fh:
            fh.seek(reader.record_start)
            body = fh.read()
        size = reader.record_length
        n = len(body) // size
        while n and not body[(n - 1) * size:n * size].strip(b" "):
            n -= 1
        reader.nobs = n
        return reader.read()


def _blank(col: pd.Series) -> pd.Series:
    if pd.api.types.is_numeric_dtype(col):
        return col.isna()
    return col.isna() | (col.astype(str).str.strip() == "")


def presence_issues(code: str, df: pd.DataFrame) -> Counter:
    """SDTM presence rules over one exported dataset: a Req/Exp variable
    that is absent, a Req variable with blanks, an Exp variable blank on
    every record, an identifier with blanks."""
    out: Counter = Counter()
    n = len(df)
    for v in DOMAINS[code]["variables"]:
        name, core = v["name"], v.get("core", "Perm")
        if name not in df.columns:
            if core == "Req":
                out[(code, name, "Presence", "Error")] += 1
            elif core == "Exp":
                out[(code, name, "Presence", "Warning")] += 1
            continue
        blanks = int(_blank(df[name]).sum())
        if core == "Req" and blanks:
            out[(code, name, "Presence", "Error")] += n if blanks == n else blanks
        elif core == "Exp" and n and blanks == n:
            out[(code, name, "Presence", "Warning")] += n
        if v.get("role", "") == "Identifier" and blanks:
            out[(code, name, "Presence", "Error")] += blanks
    return out


def _report(issues: list[dict]) -> Counter:
    out: Counter = Counter()
    for r in issues:
        out[(r["domain"], r["variable"], r["category"], r["severity"])] += r["count"]
    return out


def check_study(manifest: dict, outputs: dict) -> list[str]:
    study, written = outputs["study_id"], outputs["written"]
    sources = {code: read_source(d["path"]) for code, d in manifest["datasets"].items()}
    expected_rows = {code: len(rows) for code, rows in sources.items()}
    fails = []
    if set(written) != set(expected_rows) | {"define"}:
        return [f"written artifacts {sorted(written)} != {sorted(expected_rows)} + define"]

    frames = {}
    for code, n in expected_rows.items():
        try:
            df = frames[code] = read_xpt(written[code])
        except Exception as exc:  # noqa: BLE001 -- an unreadable file fails the op
            fails.append(f"{code}: XPT does not read back: {exc}")
            continue
        if len(df) != n:
            fails.append(f"{code}: {len(df)} XPT rows, expected {n}")
        want = sorted(f"{study}-{r['SubjectId']}" for r in sources[code])
        if sorted(df["USUBJID"].astype(str)) != want:
            fails.append(f"{code}: USUBJID values are not {{study}}-{{subject}}")
        seq = f"{code}SEQ"
        if seq in df.columns:
            for subj, vals in df.groupby("USUBJID")[seq]:
                if sorted(vals.astype(int)) != list(range(1, len(vals) + 1)):
                    fails.append(f"{code}: {seq} not dense 1..n for {subj}")
                    break
        if "DOMAIN" in df.columns and set(df["DOMAIN"].astype(str)) != {code}:
            fails.append(f"{code}: DOMAIN not constant {code}")
    if fails:
        return fails
    for key, n in manifest["missing_numeric"].items():
        code, var = key.split("|")
        got = int(frames[code][var].isna().sum())
        if got != n:
            fails.append(f"{code}.{var}: {got} missing values, planted {n}")

    try:
        root = ET.parse(written["define"]).getroot()
        listed = {el.get("Name") for el in root.iter() if el.tag.endswith("ItemGroupDef")}
        if missing := set(expected_rows) - listed:
            fails.append(f"define.xml lists no ItemGroupDef for {sorted(missing)}")
    except ET.ParseError as exc:
        fails.append(f"define.xml does not parse: {exc}")

    expected: Counter = Counter()
    for code, df in frames.items():
        expected += presence_issues(code, df)
    for key, n in manifest["issues"].items():
        domain, var, category = key.split("|")
        expected[(domain, var, category, "Error")] += n
    got = _report(outputs["issues"])
    for key in sorted(set(expected) | set(got)):
        if expected[key] != got[key]:
            fails.append(f"issue {'|'.join(key)}: reported {got[key]}, expected {expected[key]}")
    return fails


def preview_index(manifest: dict) -> dict[tuple[str, int], dict[str, str]]:
    """(subject, AESEQ) -> source AE row; --SEQ is file order per subject."""
    seen: Counter = Counter()
    index = {}
    for row in read_source(manifest["datasets"]["AE"]["path"]):
        seen[row["SubjectId"]] += 1
        index[(row["SubjectId"], seen[row["SubjectId"]])] = row
    return index


def check_preview(index: dict, outputs: dict, n_rows: int) -> list[str]:
    rows, mapping = outputs["rows"], outputs["mapping"]
    prefix = outputs["study_id"] + "-"
    if len(rows) != n_rows:
        return [f"preview has {len(rows)} rows, expected {n_rows}"]
    for row in rows:
        subj = str(row["USUBJID"])
        src = index.get((subj.removeprefix(prefix), int(row["AESEQ"])))
        if not subj.startswith(prefix) or src is None:
            return [f"preview row {subj}/{row['AESEQ']} matches no source row"]
        if row["DOMAIN"] != "AE":
            return [f"preview DOMAIN {row['DOMAIN']!r}"]
        for var in COPY_VARS:
            if row[var] != src[mapping[var]]:
                return [f"preview {var}={row[var]!r}, source {mapping[var]}={src[mapping[var]]!r}"]
    return []
