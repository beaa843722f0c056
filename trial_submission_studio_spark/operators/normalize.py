"""The normalization plan compiler (SURVEY.md §1.1, §2.3, §3).

The reference's IR is ``NormalizationPipeline { rules:
Vec<NormalizationRule> }`` executed rule-by-rule with row loops
(tss-submit/src/normalize/types.rs:85-140, executor.rs:24-99). Here
the same IR compiles to **one** ``df.select([...])``: every rule
becomes a Column expression, so the whole domain transform is a
single narrow-dependency stage under whole-stage codegen — Catalyst
does projection pruning/CSE, parquet gets column pruning, and the
only shuffles are the ones the semantics force (the --SEQ window and
the DM reference-date join).

Join-shaped rules (CT lookup, study-codelist decode, per-subject
reference date) are applied as broadcast pre-joins before the final
select; scalar rules are pure expressions.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trial_submission_studio_spark.functions import (
    normalize_iso_date,
    normalize_iso_datetime,
    normalize_iso_duration,
    parse_numeric,
    study_day,
    usubjid_prefix,
)
from trial_submission_studio_spark.functions.exprmemo import memo_column
from trial_submission_studio_spark.operators.ct_lookup import apply_ct_normalization

#: transform kinds ≙ the reference's NormalizationType variants
#: (tss-submit/src/normalize/types.rs:16-64)
TRANSFORMS = (
    "constant",
    "usubjid_prefix",
    "sequence",
    "iso_datetime",
    "iso_date",
    "iso_duration",
    "study_day",
    "ct",
    "numeric",
    "copy",
)


@dataclass
class Rule:
    target: str
    transform: str
    source: str | None = None
    params: dict[str, Any] = field(default_factory=dict)
    order: int = 0

    def __post_init__(self) -> None:
        if self.transform not in TRANSFORMS:
            raise ValueError(f"unknown transform {self.transform!r} for {self.target}")


@dataclass
class NormalizationContext:
    study_id: str
    domain_code: str
    order_col: str = "_row_id"
    subject_col: str = "USUBJID"
    ct_lookup: DataFrame | None = None
    ref_date_df: DataFrame | None = None  # (USUBJID, RFSTDTC) from DM
    ref_date_col: str | None = None  # pre-computed reference-date column in the source
    global_ref_date: str | None = None  # reference-parity mode (one study date)
    omitted: set[str] = field(default_factory=set)


def infer_rules(
    variables: list[dict[str, Any]],
    mappings: dict[str, str],
    ctx: NormalizationContext,
) -> list[Rule]:
    """Metadata → rules, with the reference's inference priority
    (normalize/inference.rs:44-131): name pattern > described value
    domain > codelist > dtype > copy.

    ``variables``: dicts with keys name, data_type, codelist_code,
    order (an SDTM-IG Variables.csv row). ``mappings``: target
    variable → source column.
    """
    rules: list[Rule] = []
    dom = ctx.domain_code.upper()
    for i, v in enumerate(variables):
        name = v["name"].upper()
        src = mappings.get(name)
        order = int(v.get("order", i + 1))
        dvd = str(v.get("described_value_domain", "") or "").lower()
        if name in ctx.omitted:
            continue
        # tier 1: name patterns (inference.rs:53-91)
        if name == "STUDYID":
            rules.append(Rule(name, "constant", params={"value": ctx.study_id}, order=order))
        elif name == "DOMAIN":
            rules.append(Rule(name, "constant", params={"value": dom}, order=order))
        elif name == "USUBJID":
            # USUBJID derives from the SUBJID source column, falling
            # back to a direct USUBJID mapping (executor.rs:124-174)
            src_u = mappings.get("SUBJID") or src
            if src_u is not None:
                rules.append(Rule(name, "usubjid_prefix", source=src_u, order=order))
        elif name.endswith("SEQ") and name.startswith(dom) and len(name) > 3:
            rules.append(Rule(name, "sequence", order=order))
        elif name.endswith("DY") and len(name) > 2:
            # --DY derives from the sibling --DTC (inference.rs:70-75)
            rules.append(
                Rule(name, "study_day", source=name[:-2] + "DTC", order=order)
            )
        elif src is None:
            continue  # unmapped & not derivable → SUPP candidate
        elif name.endswith("DUR") or "duration" in dvd:
            rules.append(Rule(name, "iso_duration", source=src, order=order))
        elif name.endswith(("DTC", "DTM")):
            rules.append(Rule(name, "iso_datetime", source=src, order=order))
        elif name.endswith("DT"):
            rules.append(Rule(name, "iso_date", source=src, order=order))
        # tier 2: described value domain (inference.rs:93-103) — an
        # "ISO 8601"-described variable normalizes through the ladder
        # even without a DTC/DT suffix
        elif "iso 8601" in dvd and "datetime" in dvd:
            rules.append(Rule(name, "iso_datetime", source=src, order=order))
        elif "iso 8601" in dvd:
            rules.append(Rule(name, "iso_date", source=src, order=order))
        # tier 3: codelist (first code when ';'/',' separated,
        # inference.rs:105-125)
        elif str(v.get("codelist_code") or "").strip():
            first_code = (
                str(v["codelist_code"]).replace(";", ",").split(",")[0].strip()
            )
            rules.append(
                Rule(name, "ct", source=src, params={"codelist_code": first_code}, order=order)
            )
        # tier 4: dtype; tier 5: copy (inference.rs:127-131)
        elif str(v.get("data_type", "")).lower() in ("num", "numeric", "number", "float", "integer"):
            rules.append(Rule(name, "numeric", source=src, order=order))
        else:
            rules.append(Rule(name, "copy", source=src, order=order))
    return sorted(rules, key=lambda r: r.order)


def compile_pipeline(df: DataFrame, rules: list[Rule], ctx: NormalizationContext) -> DataFrame:
    """Compile the rule list into pre-joins + a two-stage ``select``.

    Stage A evaluates every scalar transform once (CT pre-joins, the
    ISO ladder, numeric parses). Stage B derives the order-dependent
    and sibling-dependent targets — --SEQ windows and --DY study days
    — from stage-A *outputs*, so a --DY whose sibling --DTC is in the
    pipeline reuses the already-normalized value instead of running
    the format ladder twice (the reference does the same by reading
    the already-built column: executor.rs:300-351).
    """
    work = df
    # Stage A evaluates the regex ladders / CT probes on the INPUT
    # partitioning (everything below the --SEQ window's exchange).
    # A narrow local source (2-split CSV scan, single-row-group
    # parquet) would run those CPU-dense expressions nearly serially,
    # so widen first — a no-op whenever the input already carries
    # cluster-width splits (operators/partitioning.py). Row values
    # are per-row functions and --SEQ orders by the explicit keys, so
    # results are partitioning-independent.
    #
    # r17: when the pipeline carries a --SEQ rule, the widen keys on
    # the SAME expression the --SEQ window will partition by (the
    # USUBJID derivation, or the carried subject column), so the one
    # repartition satisfies the window's clustering requirement via
    # alias-aware output partitioning and the plan carries ONE shuffle
    # exchange instead of two (guide §2.4 — the r16 e2e win, now in
    # the compiler itself so every registry pipeline gets it). At real
    # scale the widen no-ops and the window pays its own single
    # exchange, exactly as before.
    seq_rules = [r for r in rules if r.transform == "sequence"]
    widen_key = F.col(ctx.order_col) if ctx.order_col and ctx.order_col in df.columns else None
    if seq_rules:
        usub = next(
            (
                r
                for r in rules
                if r.transform == "usubjid_prefix"
                and r.target == "USUBJID"
                and r.source in df.columns
            ),
            None,
        )
        if usub is not None:
            widen_key = memo_column(
                ("widen_usub", usub.source, ctx.study_id),
                lambda: usubjid_prefix(F.col(usub.source), ctx.study_id),
            )
        elif ctx.subject_col and ctx.subject_col in df.columns:
            widen_key = F.col(ctx.subject_col)
    if widen_key is not None:
        from trial_submission_studio_spark.operators.partitioning import (
            widen_if_narrow,
        )

        work = widen_if_narrow(work, widen_key)

    # Pre-join 1: CT lookups rewrite their source column in place
    # (one broadcast join per CT-coded column; no shuffle).
    ct_rules = [r for r in rules if r.transform == "ct"]
    ct_out: dict[str, str] = {}
    for r in ct_rules:
        if ctx.ct_lookup is None:
            ct_out[r.target] = r.source  # no registry → copy semantics
            continue
        tmp = f"__ct_{r.target}"
        work = apply_ct_normalization(
            work, r.source, tmp, ctx.ct_lookup, r.params["codelist_code"]
        )
        ct_out[r.target] = tmp

    # Pre-join 2: per-subject reference date for study-day rules.
    needs_ref = [r for r in rules if r.transform == "study_day"]
    ref_col = "__ref_dtc"
    have_ref = False
    if needs_ref and ctx.ref_date_col is not None:
        # the caller already derived the per-row reference date (e.g. a
        # window min over the subject) — no join needed at all
        work = work.withColumn(ref_col, F.col(ctx.ref_date_col))
        have_ref = True
    elif needs_ref and ctx.ref_date_df is not None:
        subj = ctx.subject_col
        ref = ctx.ref_date_df.select(
            F.col(subj).alias("__ref_subj"), F.col("RFSTDTC").alias(ref_col)
        )
        # DM is one row per subject — small relative to event domains,
        # but can still be large in absolute terms; let AQE pick
        # broadcast vs shuffle join rather than forcing a hint.
        work = work.join(ref, work[subj] == ref["__ref_subj"], "left").drop("__ref_subj")
        have_ref = True

    target_names = {r.target for r in rules}
    exprs: list[Column] = []
    stage_b: list[Rule] = []

    # Rule expressions are pure functions of (column names + literal
    # params + study id), so each tree is built ONCE per session and
    # replayed from the expression memo on later compiles — Column-API
    # construction is ~10-60 py4j round trips per rule, which cProfile
    # put at ~0.5 s of pure driver time per compile_pipeline call
    # (guide §7.3). CT rules stay un-memoized: their expression
    # depends on the lookup frame's contents, and the residual cost
    # (an alias) is two round trips.
    def _scalar(r: Rule) -> Column:
        t = r.target
        if r.transform == "constant":
            return F.lit(str(r.params["value"])).alias(t)
        if r.transform == "usubjid_prefix":
            return usubjid_prefix(F.col(r.source), ctx.study_id).alias(t)
        if r.transform == "iso_datetime":
            return normalize_iso_datetime(r.source).alias(t)
        if r.transform == "iso_date":
            return normalize_iso_date(r.source).alias(t)
        if r.transform == "iso_duration":
            return normalize_iso_duration(F.col(r.source)).alias(t)
        if r.transform == "numeric":
            return parse_numeric(F.col(r.source)).alias(t)
        if r.transform == "copy":
            return F.col(r.source).cast("string").alias(t)
        raise ValueError(f"transform {r.transform!r} ({t}) has no compile branch")

    for r in rules:
        if r.transform in ("sequence", "study_day"):
            stage_b.append(r)
        elif r.transform == "ct":
            exprs.append(F.col(ct_out[r.target]).alias(r.target))
        else:
            key = (
                "ruleA",
                ctx.study_id,
                r.target,
                r.transform,
                r.source,
                tuple(sorted(r.params.items())),
            )
            exprs.append(memo_column(key, lambda r=r: _scalar(r)))

    # Carry what stage B needs (order/subject keys, raw sources whose
    # normalized form isn't a stage-A target, the joined ref date).
    carry: dict[str, Column] = {}
    for c in {ctx.order_col, ctx.subject_col}:
        if c in work.columns:
            carry[f"__carry_{c}"] = F.col(c)
    if have_ref:
        carry[ref_col] = F.col(ref_col)
    for r in stage_b:
        if r.transform == "study_day" and r.source and r.source not in target_names:
            if r.source in work.columns:
                carry[f"__raw_{r.source}"] = F.col(r.source)
    out = work.select(*exprs, *[c.alias(n) for n, c in carry.items()])

    for r in stage_b:
        if r.transform != "study_day":
            continue
        if r.source in target_names:
            evt_kind = "tgt"  # reuse the normalized sibling --DTC
        elif f"__raw_{r.source}" in out.columns:
            evt_kind = "raw"
        else:
            evt_kind = "null"
        ref_key = ("col", ref_col) if have_ref else ("lit", ctx.global_ref_date)

        def _dy(r=r, evt_kind=evt_kind) -> Column:
            if evt_kind == "tgt":
                evt = F.col(r.source)
            elif evt_kind == "raw":
                evt = normalize_iso_datetime(f"__raw_{r.source}")
            else:
                evt = F.lit(None).cast("string")
            ref_expr = (
                F.col(ref_col)
                if have_ref
                else F.lit(ctx.global_ref_date).cast("string")
            )
            return study_day(evt, ref_expr)

        out = out.withColumn(
            r.target,
            memo_column(("ruleB_dy", r.source, evt_kind, ref_key), _dy),
        )

    for r in stage_b:
        if r.transform != "sequence":
            continue
        subj_out = "USUBJID" if "USUBJID" in target_names else None
        part = [subj_out] if subj_out else (
            [f"__carry_{ctx.subject_col}"] if f"__carry_{ctx.subject_col}" in out.columns else []
        )
        order = (
            [f"__carry_{ctx.order_col}"]
            if f"__carry_{ctx.order_col}" in out.columns
            else part
        )
        if not part:
            # global 1..N without a subject key matches reference
            # semantics but serializes into one task — surface it
            # (the caller should provide subject_col at scale)
            import warnings

            warnings.warn(
                f"sequence rule {r.target!r} has no partition key; "
                "global window moves all rows to a single task",
                stacklevel=2,
            )

        def _seq(part=tuple(part), order=tuple(order)) -> Column:
            w = (
                Window.partitionBy(*part).orderBy(*order)
                if part
                else Window.orderBy(*order)
            )
            return F.row_number().over(w).cast("long")

        out = out.withColumn(
            r.target,
            memo_column(("ruleB_seq", tuple(part), tuple(order)), _seq),
        )

    ordered_targets = [r.target for r in sorted(rules, key=lambda r: r.order)]
    return out.select(*ordered_targets)
