"""Validation rule engine (SURVEY.md §2.11 V1–V8 + §2.5 J1–J6).

The reference runs 8 per-domain checks plus cross-domain referential
checks, producing an issue report (tss-submit/src/validate/). Every
check here is a DataFrame query producing rows of one shared issue
schema, unioned into a single report:

    (domain, variable, category, severity, count, samples)

categories ≙ validate/issue.rs taxonomy: Presence, Format,
Consistency, Limit, Terminology, CrossReference.

Scale shape: one aggregate query per domain. :func:`validate_domain`
turns a rule table into a single ``agg`` that holds every per-column
predicate and the three per-row cross checks (duplicate --SEQ via a
window, USUBJID∈DM via a broadcast left join, RDOMAIN via a plain
predicate). Only the cross-table checks of RELSUB, RELSPEC and RELREC
are anti joins of their own.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trial_submission_studio_spark.functions.datetime_iso import ISO_PARTIAL_RE
from trial_submission_studio_spark.sources.local import sql_literal

ISSUE_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("variable", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("severity", T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("samples", T.ArrayType(T.StringType())),
    ]
)


def _issue_frame(spark, rows):
    """Driver-local issue frame, built WITHOUT any Python-worker task.

    r16 put the rows on ONE parallelize slice (one Python hop instead
    of 32). r17 removes the hop entirely: on this class of host a
    single Python-worker task costs ~150-300 ms of protocol latency
    even with a warm reused worker (measured: 1-task pickle job 0.3 s,
    JVM 1-row job 0.02 s), and an issue frame is collected once per
    validation call. Issue rows are driver-known literals, so the
    frame compiles to ``inline(array(struct(...)))`` over a 1-split
    range — a pure-JVM LocalTableScan-shaped plan, zero Python tasks.
    Content and column set are identical (pinned by the validate
    tests and the v_domain_check_gates oracle). Very large row lists
    (not a validation shape — reports are per-variable summaries)
    fall back to the r16 path to keep plan size bounded.
    """
    rows = rows or []
    if len(rows) > 200:
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), ISSUE_SCHEMA
        )

    # The whole frame is ONE parsed SQL expression (a single py4j
    # round trip): the Column-API formulation cost ~100 ms of driver
    # chatter per frame (~6 F.lit + casts + struct per row).
    def _s(v) -> str:
        return "CAST(NULL AS STRING)" if v is None else sql_literal(str(v))

    if not rows:
        return spark.range(0, 0, 1, 1).selectExpr(
            "CAST(NULL AS STRING) AS domain",
            "CAST(NULL AS STRING) AS variable",
            "CAST(NULL AS STRING) AS category",
            "CAST(NULL AS STRING) AS severity",
            "CAST(NULL AS BIGINT) AS count",
            "CAST(NULL AS ARRAY<STRING>) AS samples",
        )
    structs = []
    for r in rows:
        cnt = "CAST(NULL AS BIGINT)" if r[4] is None else f"CAST({int(r[4])} AS BIGINT)"
        if r[5] is None:
            samples = "CAST(NULL AS ARRAY<STRING>)"
        elif len(r[5]) == 0:
            samples = "CAST(ARRAY() AS ARRAY<STRING>)"
        else:
            samples = "ARRAY(" + ",".join(_s(str(x)) for x in r[5]) + ")"
        structs.append(
            "named_struct("
            f"'domain',{_s(r[0])},'variable',{_s(r[1])},"
            f"'category',{_s(r[2])},'severity',{_s(r[3])},"
            f"'count',{cnt},'samples',{samples})"
        )
    return spark.range(0, 1, 1, 1).select(
        F.expr("inline(array(" + ",".join(structs) + "))")
    )

#: variable-name suffixes that must hold ISO-8601 partial-precision
#: values (reference: validate/checks/dates.rs:28)
DATE_SUFFIXES = ("DTC", "DTM", "DT", "TM", "STDTC", "ENDTC", "STDT", "ENDT")


@dataclass
class VariableSpec:
    name: str
    core: str = "Perm"  # Req | Exp | Perm
    data_type: str = "Char"  # Char | Num
    length: int | None = None
    role: str = ""
    codelist_code: str | None = None


def _blank(c: Column) -> Column:
    return c.isNull() | (F.trim(c.cast("string")) == "")


def _sample_agg(value: Column) -> Column:
    return F.slice(F.sort_array(F.collect_set(F.trim(value.cast("string")))), 1, 5)


def _summary_issue(
    offending: DataFrame, sample: Column, domain: str, variable: str, severity: str
) -> DataFrame:
    """One-row CrossReference issue frame for a cross-table check whose
    offending rows are ``offending``: their count and up to five sorted
    ``sample`` values, from one ``collect``; empty when nothing
    offends."""
    agg = offending.agg(
        F.count(F.lit(1)).alias("cnt"),
        _sample_agg(sample).alias("samples"),
    ).collect()[0]
    rows = (
        [(domain, variable, "CrossReference", severity, int(agg["cnt"]), agg["samples"])]
        if agg["cnt"]
        else []
    )
    return _issue_frame(offending.sparkSession, rows)


def validate_domain(
    df: DataFrame,
    domain: str,
    variables: list[VariableSpec],
    not_collected: set[str] | None = None,
    dm: DataFrame | None = None,
    submitted: list[str] | None = None,
    seq_domain: str | None = None,
) -> DataFrame:
    """Every per-row check of one domain in one aggregate query.

    V1–V7 come from ``variables``. Three more ride along when their
    data is given: V5 duplicate ``{seq_domain}SEQ`` per USUBJID, J1
    USUBJID∈``dm`` and J2 RDOMAIN∈``submitted``.

    One loop emits rule tuples ``(variable, category, severity, count,
    samples)``: ``count`` is a SQL aggregate, or an int when the
    driver already knows it (a missing column), which needs no scan.
    One ``agg`` evaluates every SQL rule, and one loop turns its row
    into issue rows, one per rule with a nonzero count.
    """
    not_collected = not_collected or set()
    present = {c.upper(): c for c in df.columns}

    # Aggregates are built as SQL STRINGS and parsed in one expr each:
    # the Column-DSL formulation made ~8 py4j round trips per
    # aggregate (~200 for a full domain), putting driver-side plan
    # construction above the actual 150K-row execution time. Same
    # predicates as the v_domain_check_gates oracle, pinned by it and
    # the validate tests.
    def blank(col_sql: str) -> str:
        return f"({col_sql} IS NULL OR trim(CAST({col_sql} AS STRING)) = '')"

    def hits(pred: str) -> str:
        return f"sum(CASE WHEN {pred} THEN 1 ELSE 0 END)"

    def samples(col_sql: str, pred: str, n: int = 3) -> str:
        return (
            "slice(sort_array(collect_set(CASE WHEN "
            f"{pred} THEN trim(CAST({col_sql} AS STRING)) END)), 1, {n})"
        )

    # Spark's SQL parser processes backslash escapes inside string
    # literals, so regex backslashes must double when embedded
    iso_sql = ISO_PARTIAL_RE.replace("\\", "\\\\")
    rules: list[tuple[str, str, str, int | str, str | None]] = []

    def rule(variable, category, severity, count, samples_sql=None):
        rules.append((variable, category, severity, count, samples_sql))

    for v in variables:
        c = present.get(v.name.upper())
        core = v.core.lower()
        expected = core == "exp" and v.name.upper() not in not_collected
        if c is None:
            if core == "req":
                rule(v.name, "Presence", "Error", 1)  # RequiredMissing
            elif expected:
                rule(v.name, "Presence", "Warning", 1)  # ExpectedMissing
            continue
        col = f"`{c}`"
        nulls = hits(blank(col))
        if core == "req":  # RequiredEmpty; all-null counts every row
            rule(v.name, "Presence", "Error", nulls)
        elif expected:  # all-null ≙ missing
            all_null = f"CASE WHEN count(1) > 0 AND {nulls} = count(1) THEN count(1) END"
            rule(v.name, "Presence", "Warning", all_null)
        if v.role.lower() == "identifier":
            rule(v.name, "Presence", "Error", nulls)  # V7 IdentifierNull
        if v.data_type.lower() in ("num", "numeric"):
            bad = (
                f"(NOT {blank(col)} AND try_cast(regexp_replace("
                f"trim(CAST({col} AS STRING)), '[,\\\\s]', '') AS DOUBLE) IS NULL)"
            )
            rule(v.name, "Format", "Error", hits(bad), samples(col, bad))
        if v.name.upper().endswith(DATE_SUFFIXES):
            bad = (
                f"(NOT {blank(col)} AND NOT "
                f"trim(CAST({col} AS STRING)) RLIKE '{iso_sql}')"
            )
            rule(v.name, "Format", "Error", hits(bad), samples(col, bad))
        if v.length and v.data_type.lower() == "char":
            too_long = f"length(rtrim(CAST({col} AS STRING))) > {int(v.length)}"
            rule(v.name, "Limit", "Warning", hits(too_long))

    scan = df
    seq = present.get(f"{seq_domain.upper()}SEQ") if seq_domain else None
    if seq is not None and "USUBJID" in df.columns:
        # V5: every row after the first of a (USUBJID, --SEQ) group is
        # a duplicate, so a group of n rows adds n-1 and shows its key
        key = f"USUBJID, `{seq}`"
        scan = scan.withColumn(
            "__dup", F.expr(f"row_number() OVER (PARTITION BY {key} ORDER BY {key}) > 1")
        )
        rule(seq, "Consistency", "Error", hits("__dup"),
             samples(f"concat_ws('/', {key})", "__dup", 5))
    if dm is not None and "USUBJID" in df.columns:
        keys = dm.select("USUBJID").filter(~_blank(F.col("USUBJID"))).distinct()
        scan = scan.join(F.broadcast(keys.withColumn("__in_dm", F.lit(True))), "USUBJID", "left")
        missing = f"(NOT {blank('USUBJID')} AND __in_dm IS NULL)"
        rule("USUBJID", "CrossReference", "Error", hits(missing), samples("USUBJID", missing, 5))
    if submitted is not None and "RDOMAIN" in df.columns:
        bad = f"NOT {blank('RDOMAIN')}"
        if submitted:
            codes = ",".join(sql_literal(d.upper()) for d in submitted)
            bad += f" AND upper(trim(RDOMAIN)) NOT IN ({codes})"
        rule("RDOMAIN", "CrossReference", "Error", hits(bad), samples("RDOMAIN", bad, 5))

    aggs = []
    for i, (_, _, _, count, smp) in enumerate(rules):
        if isinstance(count, str):
            aggs.append(F.expr(f"{count} AS `__c{i}`"))
            if smp is not None:
                aggs.append(F.expr(f"{smp} AS `__s{i}`"))
    row = scan.agg(*aggs).collect()[0].asDict() if aggs else {}
    issues = []
    for i, (variable, category, severity, count, smp) in enumerate(rules):
        n = row[f"__c{i}"] if isinstance(count, str) else count
        if n:
            found = row[f"__s{i}"] if smp is not None else []
            issues.append((domain, variable, category, severity, int(n), found))
    return _issue_frame(df.sparkSession, issues)


def duplicate_sequence_issues(df: DataFrame, domain: str) -> DataFrame:
    """V5 DuplicateSequence alone (see :func:`validate_domain`)."""
    return validate_domain(df, domain, [], seq_domain=domain)


# --- cross-domain checks (J1-J6) -------------------------------------------


def usubjid_not_in_dm(dom_df: DataFrame, dm_df: DataFrame, domain: str) -> DataFrame:
    """J1/V9 USUBJID∈DM alone (see :func:`validate_domain`)."""
    return validate_domain(dom_df, domain, [], dm=dm_df)


def rdomain_invalid(df: DataFrame, domain: str, submitted_domains: list[str]) -> DataFrame:
    """J2/V10 RDOMAIN∈submitted domains alone (see :func:`validate_domain`)."""
    return validate_domain(df, domain, [], submitted=submitted_domains)


def rsubjid_not_in_dm(rel: DataFrame, dm_df: DataFrame, domain: str = "RELSUB") -> DataFrame:
    """J3/V11: RELSUB RSUBJID values absent from DM (SDTM-IG 8.7;
    reference checks/cross_domain.rs:149-175) — same anti-join shape
    as J1 but probing RSUBJID."""
    spark = rel.sparkSession
    if "RSUBJID" not in rel.columns:
        return _issue_frame(spark, [])
    dm_keys = dm_df.select(
        F.trim(F.col("USUBJID").cast("string")).alias("__dm_key")
    ).filter(F.col("__dm_key") != "").distinct()
    probes = rel.select(
        F.trim(F.col("RSUBJID").cast("string")).alias("__rsubj")
    ).filter(F.col("__rsubj") != "")
    missing = probes.join(
        F.broadcast(dm_keys), probes["__rsubj"] == F.col("__dm_key"), "left_anti"
    )
    return _summary_issue(missing, F.col("__rsubj"), domain, "RSUBJID", "Error")


def relspec_invalid_parents(relspec: DataFrame, domain: str = "RELSPEC") -> DataFrame:
    """J5/V14: non-blank PARENT must reference a REFID of the same
    subject (reference checks/cross_domain.rs check_relspec)."""
    spark = relspec.sparkSession
    if not {"USUBJID", "REFID", "PARENT"} <= set(relspec.columns):
        return _issue_frame(spark, [])
    probes = relspec.select(
        F.trim(F.col("USUBJID").cast("string")).alias("__usubj"),
        F.trim(F.col("PARENT").cast("string")).alias("__parent"),
    ).filter(F.col("__parent") != "")
    keys = relspec.select(
        F.trim(F.col("USUBJID").cast("string")).alias("__usubj"),
        F.trim(F.col("REFID").cast("string")).alias("__parent"),
    ).distinct()
    missing = probes.join(keys, ["__usubj", "__parent"], "left_anti")
    return _summary_issue(
        missing, F.concat_ws("/", "__usubj", "__parent"), domain, "PARENT", "Error"
    )


def relsub_not_bidirectional(rel: DataFrame, domain: str = "RELSUB") -> DataFrame:
    """J4/V12: (U,R) pairs lacking the reverse (R,U) — self anti join."""
    a, b = rel.alias("a"), rel.alias("b")
    missing = a.join(
        b,
        (F.col("a.USUBJID") == F.col("b.RSUBJID"))
        & (F.col("a.RSUBJID") == F.col("b.USUBJID")),
        "left_anti",
    )
    return _summary_issue(
        missing, F.concat_ws("->", "USUBJID", "RSUBJID"), domain, "RSUBJID", "Warning"
    )


def relrec_invalid_references(
    relrec: DataFrame, domain_keys: DataFrame, domain: str = "RELREC"
) -> DataFrame:
    """J6/V13: (RDOMAIN, IDVAR, IDVARVAL) probes against the melted
    per-domain key universe; invalids grouped by RDOMAIN.

    ``domain_keys``: long frame (rdomain, idvar, idvarval) built by
    unpivoting each domain's --SEQ/--GRPID/--REFID/--LNKID key columns.
    """
    probes = relrec.filter(~_blank(F.col("IDVARVAL")) & ~_blank(F.col("IDVAR")))
    missing = probes.join(
        domain_keys,
        (F.upper(F.trim(probes["RDOMAIN"])) == F.upper(domain_keys["rdomain"]))
        & (F.upper(F.trim(probes["IDVAR"])) == F.upper(domain_keys["idvar"]))
        & (F.trim(probes["IDVARVAL"].cast("string")) == domain_keys["idvarval"].cast("string")),
        "left_anti",
    )
    grouped = missing.groupBy(F.upper(F.trim("RDOMAIN")).alias("rd")).agg(
        F.count(F.lit(1)).alias("cnt"),
        _sample_agg(F.concat_ws("=", "IDVAR", "IDVARVAL")).alias("samples"),
    )
    rows = [
        (domain, f"RDOMAIN={r['rd']}", "CrossReference", "Error", int(r["cnt"]), r["samples"])
        for r in grouped.collect()
    ]
    return _issue_frame(relrec.sparkSession, rows)


def melt_domain_keys(frames: dict[str, DataFrame]) -> DataFrame:
    """Build the J6 key universe: unpivot each domain's record-key
    columns to (rdomain, idvar, idvarval) and union."""
    parts = []
    for code, df in frames.items():
        key_cols = [
            c
            for c in df.columns
            if c.upper().endswith(("SEQ", "GRPID", "REFID", "LNKID"))
            or c.upper() == "VISITNUM"
        ]
        if not key_cols:
            continue
        long = df.select(
            [F.col(c).cast("string").alias(c) for c in key_cols]
        ).unpivot([], key_cols, "idvar", "idvarval")
        parts.append(
            long.filter(~_blank(F.col("idvarval"))).select(
                F.lit(code.upper()).alias("rdomain"),
                F.upper("idvar").alias("idvar"),
                F.trim("idvarval").alias("idvarval"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()
