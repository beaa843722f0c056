"""Operator-level semantics: sequence, CT lookup, codelist decode,
reshape, dedup, similarity, text stats."""

from pyspark.sql import functions as F

from tests.conftest import rows
from trial_submission_studio_spark.operators.codelist_decode import apply_codelist_decode
from trial_submission_studio_spark.operators.ct_lookup import apply_ct_normalization
from trial_submission_studio_spark.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from trial_submission_studio_spark.operators.reshape import (
    reciprocal_augment,
    supp_unpivot,
)
from trial_submission_studio_spark.operators.sequence import (
    add_sequence_number,
    duplicate_sequence_counts,
)
from trial_submission_studio_spark.operators.similarity import brute_force_topk
from trial_submission_studio_spark.operators.textstats import (
    quality_score,
    stopword_ratio,
    token_count,
)
from trial_submission_studio_spark.sources.local import values_df


def test_sequence_per_subject(spark):
    # subjects [001,001,002] -> seq [1,2,1] (executor.rs:561-592)
    df = values_df(
        spark, [("001", 1), ("001", 2), ("002", 3)], "subj string, rid int"
    )
    out = add_sequence_number(df, "SEQ", order_by=["rid"], partition_by=["subj"])
    assert rows(out, "subj", "SEQ") == [("001", 1), ("001", 2), ("002", 1)]


def test_duplicate_sequence_counts(spark):
    df = values_df(
        spark,
        [("A", 1), ("A", 1), ("A", 2), ("B", 1), ("B", 1), ("B", 1)],
        "USUBJID string, XSEQ int",
    )
    got = duplicate_sequence_counts(df, "USUBJID", "XSEQ").first()
    assert (got["dup_groups"], got["extra_rows"]) == (2, 3)


def _ct_lookup(spark):
    return values_df(
        spark,
        [
            ("C66731", "M", "M", False),
            ("C66731", "MALE", "M", False),
            ("C66731", "F", "F", False),
            ("C66731", "FEMALE", "F", False),
        ],
        "codelist_code string, lookup_key string, submission_value string, extensible boolean",
    )


def test_ct_normalization(spark):
    df = values_df(spark, [("male",), ("F",), ("X",), ("",)], "v string")
    out = apply_ct_normalization(df, "v", "d", _ct_lookup(spark), "C66731")
    assert rows(out, "v", "d") == [("", ""), ("F", "F"), ("X", "X"), ("male", "M")]


def test_ct_literal_map_fast_path_parity(spark):
    """r16: a values_df lookup compiles to a constant map/InSet (no
    join, no build job). Pin (a) the fast plan is join-free, (b) it is
    row-identical to the frame/join path on every edge: duplicate keys
    after normalization, '' key, NULL submission value, NULL/blank/
    padded sources, and (c) non-ASCII keys fall back to the join."""
    from trial_submission_studio_spark.operators.ct_lookup import ct_violations

    lk_rows = [
        ("CL1", "Mild", "MILD", False),
        ("CL1", " mild ", "MILD-DUP", False),  # same key post-norm
        ("CL1", "", "EMPTYKEY", False),
        ("CL1", "SEV", None, False),  # NULL submission value
        ("CL2", "X", "OTHER", False),  # other codelist must not leak
    ]
    ddl = "codelist_code string, lookup_key string, submission_value string, extensible boolean"
    lk = values_df(spark, lk_rows, ddl)
    src = values_df(
        spark,
        [("mild",), ("MILD ",), (None,), ("",), ("sev",), ("zzz",), ("x",), ("  mild",)],
        "v string",
    )
    fast = apply_ct_normalization(src, "v", "d", lk, "CL1")
    assert "Join" not in fast._jdf.queryExecution().optimizedPlan().toString()
    # identity filter strips the literal-rows provenance → join path
    slow = apply_ct_normalization(src, "v", "d", lk.filter(F.lit(True)), "CL1")
    assert "Join" in slow._jdf.queryExecution().optimizedPlan().toString()
    key = lambda rs: sorted(  # noqa: E731
        tuple("<N>" if x is None else x for x in r) for r in rs
    )
    assert key(fast.collect()) == key(slow.collect())

    vf = ct_violations(src, "v", lk, "CL1")
    vs = ct_violations(src, "v", lk.filter(F.lit(True)), "CL1")
    assert "Join" not in vf._jdf.queryExecution().optimizedPlan().toString()
    assert key(vf.collect()) == key(vs.collect())

    # empty codelist: all sources pass through / all probes are misses
    assert key(apply_ct_normalization(src, "v", "d", lk, "NOPE").collect()) == key(
        apply_ct_normalization(src, "v", "d", lk.filter(F.lit(True)), "NOPE").collect()
    )

    # non-ASCII key: Python cannot mirror Spark's upper() — join path
    lk_na = values_df(spark, [("CL1", "Müde", "TIRED", False)], ddl)
    na = apply_ct_normalization(src, "v", "d", lk_na, "CL1")
    assert "Join" in na._jdf.queryExecution().optimizedPlan().toString()

    # oversized codelist: falls back to the broadcast join
    big = values_df(
        spark, [("CL1", f"K{i}", f"V{i}", False) for i in range(80)], ddl
    )
    bigq = apply_ct_normalization(src, "v", "d", big, "CL1")
    assert "Join" in bigq._jdf.queryExecution().optimizedPlan().toString()


def test_codelist_decode_fill_only(spark):
    # decode fills only empty cells (application.rs:209-227), '1.0' ≡ '1'
    codelist = values_df(
        spark, [("1", "Male"), ("2", "Female")], "code_value string, code_text string"
    )
    df = values_df(
        spark,
        [("", "1.0"), ("Female", "2"), ("", "2")],
        "SEX string, SEXCD string",
    )
    out = apply_codelist_decode(df, "SEXCD", codelist)
    assert sorted(r["SEX"] for r in out.collect()) == ["Female", "Female", "Male"]


def test_supp_unpivot_drops_blanks(spark):
    df = values_df(
        spark,
        [("S1", "v1", ""), ("S2", "", "v2"), ("", "v3", "v4")],
        "USUBJID string, colA string, colB string",
    )
    out = supp_unpivot(df, ["colA", "colB"], "ST", "XX")
    got = rows(out, "USUBJID", "QNAM", "QVAL")
    # blank QVAL and blank USUBJID rows are excluded (export.rs:524-535)
    assert got == [("S1", "COLA", "v1"), ("S2", "COLB", "v2")]
    assert out.columns == [
        "STUDYID", "RDOMAIN", "USUBJID", "IDVAR", "IDVARVAL",
        "QNAM", "QLABEL", "QVAL", "QORIG", "QEVAL",
    ]


def test_reciprocal_augment(spark):
    rel = values_df(
        spark,
        [("S1", "S2", "MOTHER, BIOLOGICAL"), ("S3", "S4", "SPOUSE"), ("S4", "S3", "SPOUSE")],
        "USUBJID string, RSUBJID string, SREL string",
    )
    out = reciprocal_augment(rel)
    got = rows(out, "USUBJID", "RSUBJID", "SREL")
    assert ("S2", "S1", "CHILD, BIOLOGICAL") in got  # synthesized
    assert len(got) == 4  # existing pair not duplicated


def test_reciprocal_table_matches_reference_vocabulary():
    # ports reference reciprocal.rs unit tests (:154-210)
    from trial_submission_studio_spark.operators.reshape import (
        RECIPROCAL_SREL,
        is_symmetric_srel,
    )

    assert RECIPROCAL_SREL["MOTHER, BIOLOGICAL"] == "CHILD, BIOLOGICAL"
    assert RECIPROCAL_SREL["FATHER, BIOLOGICAL"] == "CHILD, BIOLOGICAL"
    assert RECIPROCAL_SREL["TWIN, DIZYGOTIC"] == "TWIN, DIZYGOTIC"
    assert RECIPROCAL_SREL["HUSBAND"] == "WIFE"
    assert RECIPROCAL_SREL["WIFE"] == "HUSBAND"
    assert RECIPROCAL_SREL["AUNT, BIOLOGICAL"] == "NEPHEW/NIECE, BIOLOGICAL"
    assert is_symmetric_srel("SIBLING")
    assert is_symmetric_srel("TWIN, MONOZYGOTIC")
    assert not is_symmetric_srel("MOTHER, BIOLOGICAL")
    assert "CHILD, BIOLOGICAL" not in RECIPROCAL_SREL  # sex-dependent
    assert len(RECIPROCAL_SREL) == 26


def test_reciprocal_sex_dependent_child(spark):
    # reference reciprocal.rs:104-147 — CHILD,* reverse resolves via
    # the parent's DM SEX; unknown sex produces no reverse row.
    rel = values_df(
        spark,
        [
            ("K1", "P1", "CHILD, BIOLOGICAL"),   # P1 is F -> MOTHER
            ("K2", "P2", "CHILD, ADOPTIVE"),     # P2 is M -> FATHER
            ("K3", "P3", "CHILD, FOSTER"),       # P3 sex U -> dropped
            ("K4", "P4", "CHILD, BIOLOGICAL"),   # P4 not in DM -> dropped
            ("K5", "P1", "HUSBAND"),             # static path unaffected
        ],
        "USUBJID string, RSUBJID string, SREL string",
    )
    dm = values_df(
        spark,
        [("P1", "F"), ("P2", "M"), ("P3", "U"), ("K5", "M")],
        "USUBJID string, SEX string",
    )
    got = set(rows(reciprocal_augment(rel, dm=dm), "USUBJID", "RSUBJID", "SREL"))
    assert ("P1", "K1", "MOTHER, BIOLOGICAL") in got
    assert ("P2", "K2", "FATHER, ADOPTIVE") in got
    assert ("P1", "K5", "WIFE") in got
    assert not any(u == "P3" for u, _, _ in got)
    assert not any(u == "P4" for u, _, _ in got)
    assert len(got) == 8  # 5 originals + 3 synthesized


def test_exact_duplicates(spark):
    df = values_df(
        spark,
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")],
        "id bigint, text string",
    )
    got = rows(exact_duplicates(df, "id", "text"), "keep_id", "dup_count")
    assert got == [(1, 3)]


def test_minhash_lsh_finds_planted_near_dupes(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet green forest until the evening light fades away"
    )
    near = base.replace("quiet", "silent")  # one-word change
    other = (
        "completely different content about spark distributed execution "
        "plans shuffles partitions and adaptive query optimization at scale"
    )
    df = values_df(
        spark, [(1, base), (2, near), (3, other)], "doc_id bigint, text string"
    )
    sig = minhash_signatures(df, "doc_id", "text", k=5, num_hashes=32)
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=8, rows_per_band=4)
    got = rows(pairs, "id_a", "id_b")
    assert (1, 2) in got
    verified = ngram_jaccard_pairs(df, "doc_id", "text", pairs, k=5, threshold=0.5)
    vr = rows(verified, "id_a", "id_b")
    assert (1, 2) in vr
    assert all(p == (1, 2) for p in vr)


def test_brute_force_topk(spark):
    df = values_df(
        spark,
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    top = brute_force_topk(df, [1.0, 0.0], k=2)
    assert [r["vec_id"] for r in top.collect()] == [1, 2]


def test_textstats(spark):
    df = values_df(
        spark,
        [("the cat sat on the mat",), ("",), ("xyzzy plugh",)],
        "text string",
    )
    got = df.select(
        token_count("text").alias("n"),
        F.round(stopword_ratio("text"), 3).alias("sw"),
        quality_score("text").alias("q"),
    ).collect()
    assert [r["n"] for r in got] == [6, 0, 2]
    assert got[0]["sw"] > 0.3  # 'the' twice + 'on' = 3/6
    assert got[1]["sw"] == 0.0


def test_repetition_metrics(spark):
    """Gopher-style repetition rules: duplicate line/paragraph
    fractions (exact e4 fixed-point), char-weighted line duplication,
    and the per-doc top-bigram share — all on documents with known
    repetition structure."""
    from trial_submission_studio_spark.operators.textstats import (
        dup_line_char_fraction,
        dup_line_fraction_e4,
        dup_paragraph_fraction_e4,
        top_ngram_stats,
    )

    spam = "buy now\nlimited offer\nbuy now\nbuy now\n\ngenuine text"
    clean = "first line\nsecond line\n\nthird paragraph here"
    df = values_df(
        spark, [(1, spam), (2, clean), (3, ""), (4, None)],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["dl"], r["dp"], r["dc"])
        for r in df.select(
            "doc_id",
            dup_line_fraction_e4("text").alias("dl"),
            dup_paragraph_fraction_e4("text").alias("dp"),
            dup_line_char_fraction("text").alias("dc"),
        ).collect()
    }
    # spam: 5 non-blank lines, 3x "buy now" -> 2 dups of 5 = 4000 e4;
    # paragraphs all distinct; dup chars = 2*7 of 7+13+7+7+12 = 46
    assert got[1] == (4000, 0, round(14 / 46, 4))
    assert got[2] == (0, 0, 0.0)
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (0, 0, 0.0)

    top = {
        r["doc_id"]: (r["top_gram"], r["occurrences"], r["gram_char_frac"])
        for r in top_ngram_stats(
            values_df(
                spark,
                [(1, "to be or not to be is to be"), (2, "a b")],
                "doc_id bigint, text string",
            )
        ).collect()
    }
    assert top[1] == ("to be", 3, round(3 * 5 / 27, 4))
    assert top[2] == ("a b", 1, round(3 / 3, 4))


def test_sessionize(spark):
    from trial_submission_studio_spark.operators.skew import salted_agg, sessionize

    df = values_df(
        spark,
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 2.0),
            (1, "2024-01-01 01:00:00", 3.0),  # 50-min gap -> new session
            (2, "2024-01-01 00:00:00", 4.0),
        ],
        "user_id bigint, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    s = sessionize(df, gap_minutes=30)
    got = rows(s.select("user_id", "session_id"))
    assert got == [(1, 1), (1, 1), (1, 2), (2, 1)]

    agg = salted_agg(
        df, ["user_id"],
        [F.count(F.lit(1)).alias("c"), F.sum("value").alias("s")],
        lambda p: [F.sum("c").cast("long").alias("n"), F.round(F.sum("s"), 2).alias("t")],
        salt_buckets=4,
    )
    assert rows(agg) == [(1, 3, 6.0), (2, 1, 4.0)]


def test_salt_spreads_single_partition_hot_key(spark):
    # VERDICT r2 #7: a hot key concentrated in ONE upstream partition
    # must still fan out across salt buckets (spark_partition_id
    # salting would give every row the same salt here).
    from trial_submission_studio_spark.operators.skew import salt_column, salted_agg

    hot = (
        spark.range(1000)
        .coalesce(1)  # the degenerate layout: whole hot key in one partition
        .select(F.lit("HOT").alias("k"), F.col("id").cast("double").alias("v"))
    )
    n_salts = (
        hot.select(salt_column(8).alias("s")).select(F.countDistinct("s")).first()[0]
    )
    assert n_salts == 8  # every bucket used despite the single partition

    agg = salted_agg(
        hot,
        ["k"],
        [F.count(F.lit(1)).alias("c"), F.sum("v").alias("s")],
        lambda p: [F.sum("c").cast("long").alias("n"), F.sum("s").alias("t")],
        salt_buckets=8,
    )
    assert rows(agg) == [("HOT", 1000, float(sum(range(1000))))]


def test_ivf_topk_recovers_exact_match(spark):
    from trial_submission_studio_spark.operators.similarity import ivf_topk

    import math
    vecs = []
    for i in range(40):
        a = (i % 8) * math.pi / 4
        vecs.append((i, [math.cos(a), math.sin(a), float(i % 3)]))
    corpus = values_df(spark, vecs, "vec_id bigint, embedding array<double>")
    queries = corpus.filter("vec_id IN (5, 17)")
    got = ivf_topk(corpus, queries, k=3, n_centroids=8, n_probe=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["sim"]))
    # each query's own vector is rank-1 with sim 1.0
    for qid, rows_ in by_q.items():
        top = sorted(rows_)[0]
        assert top[1] == qid and top[2] == 1.0


def test_lsh_multitable_and_kmeans_determinism(spark):
    """Multi-table hyperplane signatures are deterministic across
    invocations; k-means centroid training is reproducible and returns
    unit-norm centroids; auto_bits scales with corpus size."""
    import math

    from trial_submission_studio_spark.operators.similarity import (
        auto_bits,
        hyperplane_signatures,
        lsh_bucket_topk,
        train_ivf_centroids,
    )

    assert auto_bits(500) == 4
    assert auto_bits(500_000) > auto_bits(5_000) > auto_bits(500)

    vecs = []
    for i in range(60):
        a = (i % 12) * math.pi / 6
        vecs.append((i, [math.cos(a), math.sin(a), float(i % 5) / 4]))
    corpus = values_df(spark, vecs, "vec_id bigint, embedding array<double>")

    s1 = corpus.select("vec_id", hyperplane_signatures("embedding", 3, 4, 2).alias("s"))
    s2 = corpus.select("vec_id", hyperplane_signatures("embedding", 3, 4, 2).alias("s"))
    assert {tuple(r["s"]) for r in s1.collect()} == {tuple(r["s"]) for r in s2.collect()}
    assert all(len(r["s"]) == 2 for r in s1.collect())

    c1 = train_ivf_centroids(corpus, n_centroids=4, sample_size=50, iters=3)
    c2 = train_ivf_centroids(corpus, n_centroids=4, sample_size=50, iters=3)
    assert c1 == c2
    for c in c1:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9

    # self-query returns itself at rank 1 through the multi-table path
    got = lsh_bucket_topk(corpus, corpus.filter("vec_id = 7"), dim=3, k=3,
                          bits=4, n_tables=4)
    top = sorted((r["rank"], r["vec_id"], r["sim"]) for r in got.collect())[0]
    assert top[1] == 7 and top[2] == 1.0


def test_pack_sequences_token_budget(spark):
    from trial_submission_studio_spark.operators.sampling import pack_sequences

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 900 + 100).cast("long").alias("n_tok")
    )
    packed = pack_sequences(df, "id", "n_tok", budget=2048, buckets=4)
    rows_ = packed.collect()
    assert len(rows_) == 200  # every doc assigned exactly once
    by_pack: dict = {}
    for r in rows_:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for pid, members in by_pack.items():
        total = sum((m["id"] % 900) + 100 for m in members)
        assert all(m["pack_tokens"] == total for m in members)
        assert total <= 2048  # no doc exceeds the budget here
    # determinism: identical assignment on re-run
    again = {(r["id"], r["pack_id"]) for r in
             pack_sequences(df, "id", "n_tok", budget=2048, buckets=4).collect()}
    assert again == {(r["id"], r["pack_id"]) for r in rows_}
    # an overflowing doc gets its own pack, not dropped
    big = spark.range(3).select(
        F.col("id"), F.lit(5000).cast("long").alias("n_tok")
    )
    got = pack_sequences(big, "id", "n_tok", budget=2048, buckets=2).collect()
    assert len(got) == 3 and all(r["pack_tokens"] == 5000 for r in got)
    assert len({r["pack_id"] for r in got}) == 3


def test_dedup_near_end_to_end(spark):
    # full chain: minhash -> LSH -> Jaccard verify -> CC -> survivors.
    # Three copies of one text (transitively near-dup via tiny edits)
    # collapse to the min id; distinct docs survive untouched.
    from trial_submission_studio_spark.operators.dedup import dedup_near

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows_ = [
        (1, base),
        (2, base + " zq"),
        (3, base + " zx"),
        (10, "completely different content about spark partitions " * 6),
        (11, "yet another unrelated document body with words " * 6),
    ]
    df = values_df(spark, rows_, "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in dedup_near(df, "doc_id", "text").collect())
    assert kept == [1, 10, 11]


def test_duplicate_groups_connected_components(spark):
    # pairs are edges, not groups: {1-2, 2-3} and {10-11} plus a
    # self-contained pair; rep = min id of the component. The 1-2-3
    # path needs real propagation (1~3 never appears as a pair).
    from trial_submission_studio_spark.operators.dedup import duplicate_groups

    pairs = values_df(
        spark,
        [(2, 1), (2, 3), (10, 11), (7, 8), (8, 7)],
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["rep"] for r in duplicate_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 7: 7, 8: 7}


def test_duplicate_groups_long_chain(spark):
    # a 40-vertex path converges via pointer jumping well inside the
    # iteration cap (plain propagation alone would need 39 rounds)
    from trial_submission_studio_spark.operators.dedup import duplicate_groups

    pairs = values_df(
        spark, [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["rep"] for r in duplicate_groups(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(41)}


def test_deterministic_stratified_sample(spark):
    from trial_submission_studio_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    df = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("en")).otherwise(F.lit("de")).alias("lang"),
    )
    a = deterministic_sample(df, "id", 0.3, seed=7)
    b = deterministic_sample(df, "id", 0.3, seed=7)
    ids_a = sorted(r["id"] for r in a.collect())
    assert ids_a == sorted(r["id"] for r in b.collect())  # reproducible
    assert ids_a == sorted(
        r["id"] for r in deterministic_sample(df.repartition(7), "id", 0.3, seed=7).collect()
    )  # partition-layout independent
    assert 0.2 < len(ids_a) / 2000 < 0.4
    # growing the fraction only ADDS keys (consistent splits)
    bigger = {r["id"] for r in deterministic_sample(df, "id", 0.5, seed=7).collect()}
    assert set(ids_a) <= bigger

    s = stratified_sample(df, "lang", {"en": 0.5}, "id", default_fraction=0.05, seed=7)
    rows_ = s.groupBy("lang").count().collect()
    got = {r["lang"]: r["count"] for r in rows_}
    assert 0.4 < got["en"] / 1000 < 0.6
    assert got.get("de", 0) / 1000 < 0.12


def test_simhash_kernel_matches_sql_form(spark):
    # the one-pass numpy kernel must be bit-identical to the pure-SQL
    # 64-fold reference form, including empty ('' -> one token) and
    # NULL texts (both fingerprint to 0 in the SQL form).
    from trial_submission_studio_spark.operators.dedup import (
        simhash64,
        simhash_from_hashes,
        token_hashes,
    )

    texts = [
        ("the quick brown fox jumps over the lazy dog",),
        ("the quick brown fox jumps over the lazy dog tonight",),
        ("completely different content here",),
        ("",),
        (None,),
        ("one",),
        ("a b c d e f g h i j k l m n o p q r s t u v w x y z " * 40,),
    ]
    df = values_df(
        spark, [(i, t) for i, (t,) in enumerate(texts)], "doc_id bigint, text string"
    ).select("doc_id", token_hashes("text").alias("__h"))
    sql_form = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", simhash_from_hashes("__h").alias("fp")
        ).collect()
    }
    kernel = {
        r["doc_id"]: r["simhash64"] for r in simhash64(df, "__h").collect()
    }
    assert kernel == sql_form
    assert kernel[4] == 0  # NULL text -> 0, matching the SQL CASE ELSE arm
    assert kernel[0] != kernel[2]


def test_simhash_kernel_property_vs_scalar_reference():
    # pure-pandas property check (no Spark): the vectorized kernel
    # equals an independent scalar majority-vote implementation on
    # random token-hash arrays incl. extreme bit patterns.
    import numpy as np
    import pandas as pd

    from trial_submission_studio_spark.operators.dedup import _simhash_kernel

    def scalar_simhash(hashes):
        if len(hashes) == 0:
            return 0
        out = 0
        for b in range(64):
            votes = sum(1 if (h >> b) & 1 else -1 for h in (x & 0xFFFFFFFFFFFFFFFF for x in hashes))
            if votes > 0:
                out |= 1 << b
        return out - (1 << 64) if out >= (1 << 63) else out

    rng = np.random.default_rng(7)
    arrs = [
        rng.integers(-2**63, 2**63, size=int(n), dtype=np.int64)
        for n in rng.integers(0, 40, size=60)
    ]
    arrs += [
        np.array([], dtype=np.int64),
        np.array([-1], dtype=np.int64),  # all bits set
        np.array([0], dtype=np.int64),
        np.array([-2**63, 2**63 - 1], dtype=np.int64),
    ]
    pdf = pd.DataFrame({"doc_id": range(len(arrs)), "__h": arrs})
    kernel = _simhash_kernel("__h", "simhash64", ["doc_id"])
    out = pd.concat(list(kernel(iter([pdf]))))
    got = dict(zip(out["doc_id"], out["simhash64"]))
    for i, a in enumerate(arrs):
        expected = scalar_simhash([int(x) for x in a])
        assert got[i] == expected, (i, list(a)[:5])


def test_simhash_hamming_pairs_pigeonhole(spark):
    """Identical fingerprints land in every band; distance-1 pairs are
    found; far fingerprints (hamming > max) are excluded."""
    from trial_submission_studio_spark.operators.dedup import simhash_hamming_pairs

    rows_ = [
        (1, 0x0F0F0F0F0F0F0F0F),
        (2, 0x0F0F0F0F0F0F0F0F),       # identical to 1
        (3, 0x0F0F0F0F0F0F0F0E),       # hamming 1 from 1/2
        (4, -0x7070707070707071 - 1),  # complement-ish, far away
    ]
    fp = values_df(spark, rows_, "doc_id bigint, simhash64 bigint")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           simhash_hamming_pairs(fp, max_hamming=3).collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert all(4 not in pair for pair in got)


def test_supp_pivot_back_roundtrip(spark):
    """supp_unpivot -> supp_pivot_back recovers the wide qualifiers."""
    from trial_submission_studio_spark.operators.reshape import (
        supp_pivot_back,
        supp_unpivot,
    )

    src = values_df(
        spark,
        [("S1", 1, "high", "alpha"), ("S1", 2, None, "beta"), ("S2", 1, "low", None)],
        "USUBJID string, SEQ int, PRIO string, NOTE string",
    )
    supp = supp_unpivot(src, ["PRIO", "NOTE"], "ST", "XX",
                        usubjid_col="USUBJID", idvar_col="SEQ")
    wide = supp_pivot_back(supp)
    got = {(r["USUBJID"], r["IDVARVAL"]): (r["NOTE"], r["PRIO"])
           for r in wide.collect()}
    assert got[("S1", "1")] == ("alpha", "high")
    assert got[("S1", "2")] == ("beta", None)   # blank PRIO never unpivoted
    assert got[("S2", "1")] == (None, "low")


def test_numeric_profile_exact_and_approx(spark):
    import numpy as np

    from trial_submission_studio_spark.operators.profiling import numeric_profile

    vals = [float(v) for v in range(1, 1001)]
    df = spark.createDataFrame(
        [(v, v * 2.0 if v <= 500 else None) for v in vals], "a double, b double"
    )
    prof = {
        r["column"]: r
        for r in numeric_profile(
            df, ["a", "b"], quantiles=(0.5, 0.95), exact=True
        ).collect()
    }
    a = prof["a"]
    assert a["n"] == 1000 and a["min"] == 1.0 and a["max"] == 1000.0
    assert abs(a["mean"] - 500.5) < 1e-9
    # exact interpolated percentiles of 1..1000
    assert abs(a["quantiles"][0] - np.percentile(vals, 50)) < 1e-9
    assert abs(a["quantiles"][1] - np.percentile(vals, 95)) < 1e-9
    b = prof["b"]
    assert b["n"] == 500 and b["max"] == 1000.0

    # approx path: GK sketch within rank error n/accuracy
    approx = {
        r["column"]: r
        for r in numeric_profile(
            df, ["a"], quantiles=(0.5,), accuracy=10000
        ).collect()
    }
    assert abs(approx["a"]["quantiles"][0] - 500.0) <= 2.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        numeric_profile(df, [])


def test_detect_hot_keys_exact_and_sampled(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from trial_submission_studio_spark.operators.skew import (
        detect_hot_keys,
        salted_agg,
    )

    # 10_000 rows: key "hot" holds 30%, the rest spread over 700 keys
    df = spark.range(10_000).select(
        F.when(F.col("id") < 3000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 700).cast("string")))
        .alias("user"),
        F.lit(1.0).alias("value"),
    )
    hot = detect_hot_keys(df, ["user"], min_share=0.05)
    got = [(r["user"], r["n"]) for r in hot.collect()]
    assert got == [("hot", 3000)]

    # sampled mode still finds it, share estimate in the right range
    hs = detect_hot_keys(df, ["user"], min_share=0.05, sample_fraction=0.2)
    rows = {r["user"]: r["share"] for r in hs.collect()}
    assert "hot" in rows and 0.2 < rows["hot"] < 0.4

    # the detection output feeds the salted two-phase plan
    agg = salted_agg(
        df.join(hot.select("user"), "user", "left_semi"),
        ["user"],
        [F.count(F.lit(1)).alias("c")],
        lambda p: [F.sum("c").cast("long").alias("n_rows")],
    )
    assert agg.collect()[0]["n_rows"] == 3000

    with _pytest.raises(ValueError, match="min_share"):
        detect_hot_keys(df, ["user"], min_share=0.0)
    with _pytest.raises(ValueError, match="at least one"):
        detect_hot_keys(df, [], min_share=0.1)
