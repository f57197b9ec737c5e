"""Deduplication operators for LLM-scale corpora (SURVEY.md section 2C
LLM-pipeline rows; exact dedup lives in relational.py).

- dedup_minhash: word-3-shingles -> 12 MinHashes -> 4 LSH bands ->
  candidate pairs -> exact-Jaccard verify. The 100 TB shape: shingling
  and signatures are one scan + one groupBy(doc); banding self-join
  shuffles only (band_id, band_key) — candidates, not the corpus,
  hit the pair verify.
- dedup_simhash: 16-bit SimHash signatures from per-word md5 bits;
  identical signatures = near-dup buckets.
- dedup_ngram_jaccard: exact n-gram Jaccard on adjacent-id pairs
  (the verify primitive in isolation).

Determinism contract: every hash is md5 over an explicit string, and
MinHash takes the lexicographic MIN of hex digests — reproducible in
any engine, which is what makes these oracle-checkable (SURVEY.md
hard part #3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import (
    cut_lineage,
    ensure_min_partitions,
    load_table,
    reused,
)

N_HASHES = 12
BAND_SIZE = 3  # 4 bands of 3 rows; P(candidate) ~= 1-(1-J^3)^4
VERIFY_J = 0.5
VERIFY_J_PERMILLE = 500  # the same threshold in exact integer permille

# ---- shared shingle CTEs ---------------------------------------------------

_SHINGLES_ORACLE = """
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    shingles AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3)
"""


def shingle_explode(df: DataFrame, *keep_cols: str) -> DataFrame:
    """Distinct word-3-shingles per doc over ANY frame with (doc_id,
    text) — works on batch AND streaming DataFrames (pure per-row
    column algebra, no shuffle). Spark arrays are 0-based in SQL-expr
    indexing; the DuckDB oracle's lists are 1-based — both slide the
    same window. Docs under 3 words are filtered out on BOTH sides
    (a doc with no 3-gram has no shingles): without the guard the
    engines diverge — Spark's concat_ws drops the out-of-range NULLs
    and emits a degenerate short gram while DuckDB's || propagates
    NULL into zero shingles (r7 ADVICE dedup.py:1974). The words
    array is materialized ONCE per row — inlining split(text) into
    every element access makes codegen re-split per gram term."""
    return (
        df.select("doc_id", *keep_cols, F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        .select(
            "doc_id",
            *keep_cols,
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(w) - 3),"
                        " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                    )
                )
            ).alias("shingle"),
        )
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shingles: shingle_explode over the documents table.
    Shingling is CPU-bound column work: spread a few-split scan over
    the cores (same 1-partition trap as provide(); plan-side estimate,
    no RDD materialization; no-op at scale where file splits >> cores)."""
    return shingle_explode(
        ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    )


# ONE md5 per shingle, then 12 affine permutations h_i = (a_i*v + b_i) % P
# over its first 28 bits (the classic minhash family) — 12x less hashing
# than hashing per permutation, and the arithmetic replays bit-identically
# in DuckDB (CAST('0x..' AS BIGINT) == Spark conv(hex,16,10)): a_i < 2^20
# and v < 2^28 keep every product < 2^48, far from bigint overflow.
MINHASH_P = 1_000_000_007
MINHASH_A = (100003, 100019, 100043, 100057, 100069, 100103,
             100109, 100129, 100151, 100153, 100169, 100183)
MINHASH_B = (15731, 789221, 1376312589, 69069, 362437, 521288629,
             88675123, 5783321, 6543217, 96337, 71993, 915170213)

_MINHASH_V_ORACLE = "CAST(CONCAT('0x', SUBSTR(MD5(shingle), 1, 7)) AS BIGINT)"

_MINHASH_AGG_ORACLE = ",\n".join(
    f"               MIN(({MINHASH_A[i]} * {_MINHASH_V_ORACLE} + {MINHASH_B[i]})"
    f" % {MINHASH_P}) AS h{i}"
    for i in range(N_HASHES)
)

_BANDS_ORACLE = ", ".join(
    "CONCAT_WS('_', h{a}, h{b}, h{c})".format(a=3 * b, b=3 * b + 1, c=3 * b + 2)
    for b in range(N_HASHES // BAND_SIZE)
)


# Full pair pipeline as reusable CTEs: shingles -> minhash sigs -> LSH
# bands -> candidate pairs -> exact-Jaccard-verified `pairs`. Shared by
# dedup_minhash (emits the pairs) and dedup_clusters (resolves them to
# connected components).
_PAIRS_CTES = f"""{_SHINGLES_ORACLE},
    sigs AS (
        SELECT doc_id,
{_MINHASH_AGG_ORACLE}
        FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id,
               UNNEST([{_BANDS_ORACLE}]) AS band_key,
               UNNEST(GENERATE_SERIES(0, {N_HASHES // BAND_SIZE - 1})) AS band_id
        FROM sigs),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    sets AS MATERIALIZED (
        SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id),
    pairs AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b,
               LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 /
                     LEN(LIST_DISTINCT(sa.s || sb.s)) AS jaccard
        FROM cands c
        JOIN sets sa ON sa.doc_id = c.doc_a
        JOIN sets sb ON sb.doc_id = c.doc_b
        WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 /
              LEN(LIST_DISTINCT(sa.s || sb.s)) >= {VERIFY_J})"""
# ^ sets/pairs are MATERIALIZED (r9): DuckDB re-inlines a CTE per
# reference — sets is read twice per verify join and pairs twice by
# dedup_clusters' recursive oracle; without the marker the sf10 oracle
# recomputes the whole LSH pipeline per reference (the r5c
# graph_triangles lesson; dedup_containment_census was OOM-killed at
# 120 GB RSS in r8 for exactly this shape)


@query(
    "dedup_minhash",
    oracle=f"""
    WITH {_PAIRS_CTES},
    dupf AS (SELECT COUNT(*) * 1000 // COUNT(DISTINCT MD5(text))
                 AS dup_factor_permille
             FROM documents)
    SELECT doc_a, doc_b, jaccard, dup_factor_permille
    FROM pairs CROSS JOIN dupf
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-Jaccard verify —
    the DIAGNOSTIC pair tier; the PRODUCTION default is
    dedup_minhash_classes (below). The pair dump is QUADRATIC in the
    duplication factor by construction (every band bucket of an
    n-duplicated class emits ~n^2/2 candidate pairs): GROWTH_RATIO_r8
    measured this form DEAD at sf30/300x planted duplication (band-join
    shuffle) while the class form stayed flat (0.84x at 3x data). Like
    sim_knn_graph, the output self-announces the trap: every row
    carries ``dup_factor_permille`` (corpus rows * 1000 / distinct
    exact-text classes, 1000 = fully deduplicated) — above ~2000,
    switch to dedup_minhash_classes, which collapses exact classes
    FIRST, runs LSH on one representative per class, and reports
    cross-class + within-class pair counts without materializing them.

    The dup-factor side is a broadcast 1-row aggregate crossed into the
    pair relation — no added exchange on the pair side."""
    dupf = _dup_factor(spark, sf_dir)
    return _minhash_pairs(spark, sf_dir).crossJoin(F.broadcast(dupf))


def _dup_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row ``dup_factor_permille`` relation: corpus rows * 1000 //
    distinct exact-text classes (integer division on both engines —
    bit-exact vs the oracle's ``//``). 1000 = fully deduplicated."""
    return load_table(spark, sf_dir, "documents").agg(
        F.expr(
            "count(1) * 1000L div count(distinct md5(text))"
        ).alias("dup_factor_permille")
    )


def minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH candidate stage alone (`doc_a < doc_b` distinct pairs
    before the exact-Jaccard verify) — exposed so the scale harness
    (tools/stress_dedup.py, SCALE.md) can measure candidate growth
    against the all-pairs quadratic baseline."""
    cands, _ = _minhash_core(spark, sf_dir)
    return cands


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs `(doc_a, doc_b, jaccard)`, doc_a < doc_b."""
    cands, sets = _minhash_core(spark, sf_dir)
    jac = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))) / F.size(
        F.array_union(F.col("sa.s"), F.col("sb.s"))
    )
    return (
        cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= VERIFY_J)
        # int/int division of identical ints is bit-identical across
        # engines — no rounding needed (rounding could HALF_UP/HALF_EVEN
        # diverge on power-of-two denominators)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@query(
    "dedup_minhash_classes",
    oracle=f"""
    WITH classes AS MATERIALIZED (
        SELECT MD5(text) AS ck, MIN(doc_id) AS rep, COUNT(*) AS n_mem
        FROM documents GROUP BY ck),
    reps AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d JOIN classes c ON d.doc_id = c.rep),
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM reps),
    shingles AS MATERIALIZED (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3),
    sigs AS (
        SELECT doc_id,
{_MINHASH_AGG_ORACLE}
        FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id,
               UNNEST([{_BANDS_ORACLE}]) AS band_key,
               UNNEST(GENERATE_SERIES(0, {N_HASHES // BAND_SIZE - 1})) AS band_id
        FROM sigs),
    cands AS (
        SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    sets AS MATERIALIZED (
        SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id),
    ver AS (
        SELECT c.rep_a, c.rep_b,
               LEN(LIST_INTERSECT(sa.s, sb.s)) * 1000
                   // LEN(LIST_DISTINCT(sa.s || sb.s)) AS jac_permille
        FROM cands c JOIN sets sa ON sa.doc_id = c.rep_a
                     JOIN sets sb ON sb.doc_id = c.rep_b),
    cross_pairs AS (
        SELECT v.rep_a, v.rep_b, v.jac_permille,
               ca.n_mem AS n_a, cb.n_mem AS n_b,
               ca.n_mem * cb.n_mem AS n_doc_pairs
        FROM ver v JOIN classes ca ON ca.rep = v.rep_a
                   JOIN classes cb ON cb.rep = v.rep_b
        WHERE v.jac_permille >= {VERIFY_J_PERMILLE}),
    within AS (
        -- restricted to SHINGLED classes: a sub-3-word dup class has no
        -- shingles, so the pair form emits nothing for it (exact dups of
        -- gram-free docs are dedup_exact's job); the join keeps the
        -- class form == pair form identity exact
        SELECT c.rep AS rep_a, c.rep AS rep_b, 1000 AS jac_permille,
               c.n_mem AS n_a, c.n_mem AS n_b,
               c.n_mem * (c.n_mem - 1) // 2 AS n_doc_pairs
        FROM classes c JOIN sets s ON s.doc_id = c.rep
        WHERE c.n_mem >= 2)
    SELECT * FROM cross_pairs UNION ALL SELECT * FROM within
    """,
)
def dedup_minhash_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dedup in CLASS form — the production default at
    high duplication (the sim_knn_classes re-plan applied to the minhash
    family, r7 verdict item 2): exact-duplicate classes (md5(text))
    collapse FIRST, signatures/bands/verify run over class
    REPRESENTATIVES only, and each surviving representative pair
    expands to its member-pair count by class arithmetic
    (n_a * n_b cross-class; n*(n-1)/2 within-class self rows at
    jac_permille = 1000).

    The expansion is EXACT on any corpus, not an approximation:
    identical texts shingle to identical sets, hence identical
    signatures and band keys, so every member pair of (A, B) is a
    candidate iff the rep pair is, and member-pair Jaccard equals
    rep-pair Jaccard. dedup_minhash (the pair dump) stays available as
    the diagnostic on already-deduplicated corpora; pytest pins
    sum(n_doc_pairs) here == the pair form's row count.

    Scale shape: output rows scale with DISTINCT near-dup content — a
    duplication-heavy corpus (the very case near-dedup exists for)
    multiplies class sizes, not rows, so the band join and the verify
    never see the duplication-quadratic that killed the pair dump at
    sf30 (SCALE.md r7). Joins: band self-join and verify pinned
    shuffle_hash (array-carrying relations mis-sized by the planner —
    the _minhash_core trap); class-size joins rep-keyed shuffled."""
    classes, doc_agg, ver = _minhash_class_core(spark, sf_dir)
    mem = classes.select("rep", "n_mem")
    cross = (
        ver.join(
            mem.select(
                F.col("rep").alias("rep_a"), F.col("n_mem").alias("n_a")
            ).hint("shuffle_hash"),
            "rep_a",
        )
        .join(
            mem.select(
                F.col("rep").alias("rep_b"), F.col("n_mem").alias("n_b")
            ).hint("shuffle_hash"),
            "rep_b",
        )
        .select(
            "rep_a",
            "rep_b",
            "jac_permille",
            "n_a",
            "n_b",
            F.expr("n_a * n_b").alias("n_doc_pairs"),
        )
    )
    # within rows only for SHINGLED classes (see oracle comment): the
    # semi join against the signature relation reuses doc_agg's exchange
    within = (
        classes.where(F.col("n_mem") >= 2)
        .join(
            doc_agg.select(F.col("doc_id").alias("rep")).hint("shuffle_hash"),
            "rep",
            "left_semi",
        )
        .select(
            F.col("rep").alias("rep_a"),
            F.col("rep").alias("rep_b"),
            F.lit(1000).cast("long").alias("jac_permille"),
            F.col("n_mem").alias("n_a"),
            F.col("n_mem").alias("n_b"),
            F.expr("n_mem * (n_mem - 1) div 2").alias("n_doc_pairs"),
        )
    )
    return cross.unionByName(within)


def _minhash_class_core(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared class-form MinHash pipeline: exact-dup classes collapse
    first, signatures/bands/exact-Jaccard verify run over class
    representatives only. Returns ``(classes(ck, rep, n_mem),
    doc_agg(doc_id, sig…, s), ver(rep_a, rep_b, jac_permille))`` —
    consumed by dedup_minhash_classes (pair expansion) and
    dedup_clusters_classes (component resolution).

    ``doc_agg`` feeds ~5 consumers per caller (both band self-join
    sides through the posexplode, both verify-set lookups, the
    shingled-class semi joins) — left lazy, each consumer re-derived
    the scan+shingle+signature chain (the dedup_minhash_recall
    disease). r9: localCheckpoint it eagerly; alternating same-session
    A/B at sf0.1: dedup_minhash_tuning 4.42 -> 3.56 s,
    dedup_clusters_classes 5.29 -> 4.03, dedup_keep_best_classes
    3.81 -> 3.29, dedup_minhash_classes neutral (2.30 tie). Distinct-
    content-bounded (signatures + shingle arrays of class reps), so —
    unlike the REVERTED corpus-wide ranked-shingle persist in
    dedup_allpairs_prefix — the blocks stay small at any duplication."""
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy(F.md5("text").alias("ck")).agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n_mem")
    )
    reps = docs.join(
        classes.select(F.col("rep").alias("doc_id")).hint("shuffle_hash"),
        "doc_id",
    ).select("doc_id", "text")
    doc_agg = cut_lineage(
        _minhash_doc_agg_over(shingle_explode(ensure_min_partitions(reps)))
    )
    bands = _band_explode(doc_agg)
    a, b = bands.alias("a"), bands.alias("b").hint("shuffle_hash")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b")
        )
        .distinct()
    )
    sets = doc_agg.select("doc_id", "s").hint("shuffle_hash")
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    uni = F.size(F.array_union(F.col("sa.s"), F.col("sb.s")))
    ver = (
        cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("rep_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("rep_b"))
        .select(
            "rep_a",
            "rep_b",
            (inter * 1000).alias("i1000"),
            uni.alias("u"),
        )
        .select("rep_a", "rep_b", F.expr("i1000 div u").alias("jac_permille"))
        .where(F.col("jac_permille") >= VERIFY_J_PERMILLE)
    )
    return classes, doc_agg, ver


def _minhash_doc_agg_over(sh: DataFrame) -> DataFrame:
    """Signature+set aggregation over ANY (doc_id, shingle) frame —
    the class-form pipeline feeds it class representatives only."""
    sh = sh.withColumn(
        "v", F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("v") + F.lit(MINHASH_B[i])) % MINHASH_P
            ).alias(f"h{i}")
            for i in range(N_HASHES)
        ],
        F.collect_list("shingle").alias("s"),
    )


def _minhash_doc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (h0..h{N_HASHES-1}) PLUS the distinct
    shingle set, in ONE aggregation: one scan + one shuffle on doc_id,
    and every downstream reader (bands, verify-left, verify-right) hits
    the same exchange, which Spark reuses (ReusedExchange) instead of
    recomputing the corpus. Each minhash is an affine permutation of the
    one shared md5. Shared by dedup_minhash/dedup_clusters and the
    doc-level decontamination pass (curation.contamination_minhash)."""
    return _minhash_doc_agg_over(_shingles(spark, sf_dir))


def _band_explode(sigs: DataFrame) -> DataFrame:
    """LSH banding: (doc_id, band_id, band_key) — one posexplode of the
    in-row band-key array, no extra shuffle."""
    n_bands = N_HASHES // BAND_SIZE
    band_keys = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"h{BAND_SIZE * b + j}") for j in range(BAND_SIZE)]
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
    )


def _minhash_core(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared signature+LSH stages: returns (candidate pairs, shingle
    sets keyed by doc_id).

    Both the band table and the shingle-set table are POST-EXPLODE /
    array-carrying relations the planner sizes from pre-explosion scan
    stats, so left to itself it picks BroadcastHashJoin and builds a
    corpus-sized hashed relation on the driver (observed at 30x:
    broadcast materialization blows spark.driver.maxResultSize — the
    join_salted_skew lesson recurring). Pin SHUFFLED strategies: the
    band self-join and every candidate-pair -> sets verify join are
    big-x-big EQUI joins; per-partition hash tables after an exchange
    are the plan a 1000-executor cluster wants at any SF."""
    doc_agg = _minhash_doc_agg(spark, sf_dir)
    bands = _band_explode(doc_agg)
    # LSH self-join: shuffle keyed by (band_id, band_key) — collisions
    # only, never the full cross product.
    a, b = bands.alias("a"), bands.alias("b").hint("shuffle_hash")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = doc_agg.select("doc_id", "s").hint("shuffle_hash")
    return cands, sets


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach AS (
        SELECT src AS doc_id, src AS comp FROM edges
        UNION
        SELECT e.dst AS doc_id, r.comp
        FROM reach r JOIN edges e ON e.src = r.doc_id),
    comps AS (
        SELECT doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY doc_id),
    scored AS (
        SELECT doc_id,
               LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                   w -> CAST(CONCAT('0x', SUBSTR(MD5(w), 1, 7)) AS BIGINT)
                        % 1024 % 7 - 3)) AS score
        FROM documents),
    ranked AS (
        SELECT c.cluster_id, c.doc_id, s.score,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY s.score DESC, c.doc_id) AS rk
        FROM comps c JOIN scored s USING (doc_id))
    SELECT cluster_id,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS keeper_doc_id,
           MAX(CASE WHEN rk = 1 THEN score END) AS keeper_score,
           COUNT(*) AS n_docs,
           COUNT(*) - 1 AS n_dropped
    FROM ranked GROUP BY cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — the production keep/drop
    decision: near-dup clusters (MinHash LSH pairs -> connected
    components) each keep their HIGHEST-QUALITY member (hashed linear
    classifier score, text_quality_linear's model; ties -> lowest
    doc_id), not the arbitrary min-id representative dedup_clusters
    reports. This is how real pipelines dedup: among N copies of a page,
    keep the cleanest extraction, drop the boilerplate-ridden ones.

    Plan: chains the three subsystems without re-reading the corpus for
    each — ONE shingle scan feeds signatures+sets (shared exchange),
    components iterate over the LSH-bounded edge list only, and the
    score join touches just the clustered docs (near-dups are a tiny
    fraction of the corpus). Cluster census is a per-cluster window +
    one exchange. All scoring integer, rank-exact across engines.
    """
    from curatorhadoopinterface_spark.operators.textstats import _FEAT_W_SPARK

    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.expr(
            "aggregate(transform(split(text, ' '),"
            f" w -> cast({_FEAT_W_SPARK} as bigint)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("score"),
    )
    ranked = labels.join(scored, labels["node"] == scored["doc_id"]).select(
        F.col("comp").alias("cluster_id"), "doc_id", "score"
    )
    # r9: the rank window + rk=1 filter is an argmax — max_by over the
    # injective struct (score, -doc_id) picks the identical keeper
    # (score DESC, doc_id ASC) in ONE aggregation, dropping the
    # window's exchange + per-cluster sort; the keeper's score IS the
    # cluster max since ties share the score.
    return ranked.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(score, -doc_id))").alias(
            "keeper_doc_id"
        ),
        F.max("score").alias("keeper_score"),
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


_SIMHASH_BITS = 16

_SIMHASH_BIT_ORACLE = ",\n".join(
    f"""           CASE WHEN SUM(CASE WHEN SUBSTR(MD5(word), {i + 1}, 1) >= '8'
                         THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END AS b{i}"""
    for i in range(_SIMHASH_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS word
        FROM documents),
    bits AS (
        SELECT doc_id,
{_SIMHASH_BIT_ORACLE}
        FROM words GROUP BY doc_id)
    SELECT doc_id, {' || '.join(f'b{i}' for i in range(_SIMHASH_BITS))} AS simhash
    FROM bits
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: bit j = sign of the sum over distinct
    words of +-1 by the j-th hex digit of md5(word). Hex digit >= '8'
    (lexicographic on the hex alphabet) = bit set; identical signatures
    bucket near-duplicates at 100 TB without any pair join."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    )
    bit_cols = [
        F.when(
            F.sum(
                F.when(F.substring(F.md5("word"), i + 1, 1) >= "8", 1).otherwise(-1)
            )
            >= 0,
            "1",
        )
        .otherwise("0")
        .alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    bits = words.groupBy("doc_id").agg(*bit_cols)
    return bits.select(
        "doc_id", F.concat(*[F.col(f"b{i}") for i in range(_SIMHASH_BITS)]).alias("simhash")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_ORACLE},
    sets AS (SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           LEN(LIST_INTERSECT(a.s, b.s)) * 1.0 /
                 LEN(LIST_DISTINCT(a.s || b.s)) AS jaccard
    FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard on adjacent-id pairs — the verify primitive
    of dedup_minhash in isolation (O(n) pairs, no LSH)."""
    sets = _shingles(spark, sf_dir).groupBy("doc_id").agg(F.collect_list("shingle").alias("s"))
    # array-carrying self-join: never broadcast (the _minhash_core trap)
    a, b = sets.alias("a"), sets.alias("b").hint("shuffle_hash")
    jac = F.size(F.array_intersect(F.col("a.s"), F.col("b.s"))) / F.size(
        F.array_union(F.col("a.s"), F.col("b.s"))
    )
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        jac.alias("jaccard"),
    )


# Hamming search uses a WIDER 32-bit signature than dedup_simhash's 16
# (md5 has 32 hex digits, so the digit-majority rule extends for free);
# candidates come from one-bit FLIP neighbors of distinct signatures —
# see dedup_simhash_hamming's docstring for why blocking was replaced.
_HAM_BITS = 32
_HAM_K = 1

_HAM_BIT_ORACLE = ",\n".join(
    f"""           CASE WHEN SUM(CASE WHEN SUBSTR(MD5(word), {i + 1}, 1) >= '8'
                         THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END AS b{i}"""
    for i in range(_HAM_BITS)
)
_HAM_STR_ORACLE = " || ".join(f"b{i}" for i in range(_HAM_BITS))


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS word
        FROM documents),
    bits AS (
        SELECT doc_id,
{_HAM_BIT_ORACLE}
        FROM words GROUP BY doc_id),
    sigs AS (SELECT doc_id, {_HAM_STR_ORACLE} AS sig FROM bits),
    si AS (
        SELECT doc_id,
               LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {_HAM_BITS}),
                   i -> CASE WHEN SUBSTR(sig, i, 1) = '1'
                        THEN (1::BIGINT << ({_HAM_BITS} - i)) ELSE 0 END))::BIGINT AS s
        FROM sigs),
    ranked AS (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id) AS rn
        FROM si),
    grp AS (
        SELECT s, COUNT(*) AS n,
               MIN(CASE WHEN rn = 1 THEN doc_id END) AS m1,
               MIN(CASE WHEN rn = 2 THEN doc_id END) AS m2
        FROM ranked GROUP BY s),
    h0 AS (
        SELECT r.doc_id,
               CASE WHEN r.doc_id = g.m1 THEN g.m2 ELSE g.m1 END AS nearest_doc,
               0 AS hamming
        FROM ranked r JOIN grp g ON g.s = r.s WHERE g.n >= 2),
    flips AS (
        SELECT g.s,
               UNNEST(LIST_TRANSFORM(GENERATE_SERIES(0, {_HAM_BITS - 1}),
                      i -> xor(g.s, 1::BIGINT << i))) AS nb
        FROM grp g WHERE g.n = 1),
    cand AS (
        SELECT f.s, MIN(g2.m1) AS nearest_doc
        FROM flips f JOIN grp g2 ON g2.s = f.nb GROUP BY f.s),
    h1 AS (
        SELECT r.doc_id, c.nearest_doc, 1 AS hamming
        FROM ranked r
        JOIN grp g ON g.s = r.s AND g.n = 1
        JOIN cand c ON c.s = r.s)
    SELECT doc_id, nearest_doc, hamming FROM h0
    UNION ALL SELECT doc_id, nearest_doc, hamming FROM h1
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbor within Hamming distance 1 of a 32-bit SimHash,
    per document — beyond dedup_simhash's identical-signature buckets.

    Round-4 rework: FLIP-NEIGHBOR equi join over DISTINCT signatures,
    replacing the pigeonhole block join. The 30x stress caught the block
    design's failure mode: SimHash bits over same-language text are far
    from uniform (measured: ONE 16-bit block value held 21% of the
    corpus), so block buckets go quadratic on natural data no matter the
    width — the r3 '2^16 buckets per block' selectivity assumed uniform
    bits. For K=1, a signature's neighbors are exactly its 32 one-bit
    XOR flips: explode 33 keys per DISTINCT signature and equi-join on
    the full 32-bit value. Candidate volume is 32x|distinct sigs| by
    CONSTRUCTION — independent of how signatures distribute, no hot
    bucket can exist. (K>1 generalizes to C(bits,<=K) flips; past K~3
    you shard the flip set or fall back to multi-index blocking WITH a
    per-bucket cap.)

    Output is ONE row per duplicated doc (its min-distance, min-id
    neighbor), not all pairs: corpora with giant near-dup clusters make
    pair output quadratic in cluster size no matter the candidate plan —
    at 100 TB you emit doc -> nearest/representative and let the dedup
    policy act per doc. Distance-0 resolves per GROUP (the mega-cluster
    decomposition); only signature-unique docs touch the flip join."""
    d = load_table(spark, sf_dir, "documents")
    # hashing/bit-voting is CPU-bound column work: spread a few-split
    # scan over the cores (plan-side estimate, no-op at scale) — without
    # this the whole signature stage ran on 2 of 32 cores at 50k docs
    d = ensure_min_partitions(d)
    # materialize md5 once per word; the 32 per-bit aggregates below
    # each read a substring of the same hash column
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    ).select("doc_id", F.md5("word").alias("h"))
    bit_cols = [
        F.when(
            F.sum(F.when(F.substring("h", i + 1, 1) >= "8", 1).otherwise(-1)) >= 0,
            "1",
        )
        .otherwise("0")
        .alias(f"b{i}")
        for i in range(_HAM_BITS)
    ]
    sigs = (
        words.groupBy("doc_id")
        .agg(*bit_cols)
        .select(
            "doc_id",
            F.concat(*[F.col(f"b{i}") for i in range(_HAM_BITS)]).alias("sig"),
        )
    )
    # --- decompose by exact signature first (the mega-cluster killer).
    # Docs sharing a signature have a distance-0 peer — the best possible
    # nearest — resolved per GROUP (linear), never via the pair join.
    # Only signature-UNIQUE docs enter the block join, and they join
    # against DISTINCT signatures (one representative row each), so the
    # candidate volume is sigs x sigs within a bucket, not docs x docs.
    # Without this, a corpus with giant duplicate clusters (templated
    # fixture: thousands of docs per signature) makes the join quadratic
    # regardless of block width.
    w_sig = Window.partitionBy("sig").orderBy("doc_id")
    ranked = sigs.withColumn("rn", F.row_number().over(w_sig))
    heads = (
        ranked.filter(F.col("rn") <= 2)
        .groupBy("sig")
        .agg(
            F.min("doc_id").alias("m1"),
            F.max("doc_id").alias("m2"),
            F.count(F.lit(1)).alias("head_n"),
        )
    )
    grouped = sigs.join(heads, "sig")
    same_sig = grouped.filter(F.col("head_n") >= 2).select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("m1"), F.col("m2"))
        .otherwise(F.col("m1"))
        .alias("nearest_doc"),
        F.lit(0).alias("hamming"),
    )

    singles = grouped.filter(F.col("head_n") == 1).select("doc_id", "sig")
    distinct_sigs = heads.select("sig", F.col("m1").alias("min_doc"))

    # flip-neighbor candidates: each signature-unique doc explodes its 32
    # one-bit XOR flips (bigint form) and equi-joins the DISTINCT
    # signature table on the full value — 32 rows per single, ever.
    to_int = lambda c: F.conv(c, 2, 10).cast("bigint")  # noqa: E731
    flips = singles.withColumn("sig_i", to_int("sig")).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_HAM_BITS - 1}),"
                " i -> sig_i ^ shiftleft(cast(1 as bigint), i))"
            )
        ).alias("nbr_sig"),
    )
    targets = distinct_sigs.select(
        to_int("sig").alias("tgt_sig"), "min_doc"
    )
    cross_best = (
        flips.join(targets, F.col("nbr_sig") == F.col("tgt_sig"))
        .groupBy("doc_id")
        .agg(F.min("min_doc").alias("nearest_doc"))
        .withColumn("hamming", F.lit(_HAM_K))
    )
    return same_sig.unionByName(cross_best)


# ---- duplicate-cluster resolution (connected components) -------------------


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected edge list ``(src, dst)``
    via hash-to-min label propagation: every node starts labeled with
    its own id; each round replaces the label with the min over itself
    and its neighbors. Converges in O(diameter) rounds — near-dup
    clusters are dense (every member LSH-collides with most others), so
    diameters are tiny; ``max_iter`` is a runaway guard, not a tuning
    knob. Returns ``(node, comp)`` with comp = min node id reachable.

    Scale shape: each round is ONE shuffle join on node id (the edge
    list is symmetrized once and cached, so its partitioning is reused
    every round) plus a min-aggregate with map-side partials.
    ``localCheckpoint`` truncates the per-round lineage so round k's
    plan doesn't replay rounds 1..k-1 (on a cluster, a reliable
    ``checkpoint`` to the distributed store does the same job with
    lineage durability; local mode has no HDFS, and losing an executor
    loses the whole job anyway).
    """
    sym = edges.toDF("src", "dst")
    # r9 measured-and-REVERTED: pre-partitioning the cached edge list by
    # dst (repartition("dst").persist()) to spare the per-round edge
    # exchange PINNED the cache at the static 32-partition width — AQE
    # cannot re-coalesce a cached plan (canChangeCachedPlanOutputPartitioning
    # default) — so every round ran 32-wide tiny tasks instead of the
    # few AQE-coalesced ones, and the interleaved bench showed
    # dedup_clusters 3.97 -> 4.88 s. Fresh per-round exchanges + AQE
    # coalescing win at any scale where rounds are task-overhead-bound.
    # r9: the .distinct() that used to follow the symmetrizing union is
    # gone — every caller feeds distinct (a < b) pairs, whose two
    # orientations cannot collide, and the min-aggregate rounds are
    # duplicate-immune anyway — one full exchange of the edge list
    # saved before the first round. The symmetrize itself is an inline
    # EXPLODE of both orientations, not a self-union: the union's two
    # branches each embedded the caller's full pair pipeline and only
    # partially de-duplicated via exchange reuse (interleaved A/B on
    # the minhash pairs: 2.01 s union vs 1.54 s explode, min-of-3).
    sym = sym.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # the per-round cuts below are direct localCheckpoints, not
    # cut_lineage: the round count depends on the data, so they must hold
    # under lazy_plans() too (each round's plan would otherwise nest
    # every previous round)
    with reused(sym):
        # r9 round re-plan, part 1: round 0 needs NO join — every initial
        # label is the node's own id, so min over neighbors∪self is
        # least(src, min(dst)) straight off the symmetric edge list. ONE
        # aggregate replaces the old init (node-list distinct exchange)
        # PLUS the old first join+propagate round; the chg flag
        # (min nbr id < own id) matches the generic round's exactly.
        labels = (
            sym.groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("mn"))
            .select(
                "node",
                F.least("node", "mn").alias("comp"),
                (F.col("mn") < F.col("node")).alias("chg"),
            )
        )
        labels = labels.localCheckpoint(eager=True)
        changed = labels.filter("chg").limit(1).count()
        labels = labels.drop("chg")
        # r9 round re-plan, part 2: the old generic round was TWO keyed
        # joins (sym⋈labels -> per-src min, then labels⋈nbr_min to apply
        # least() and derive the changed flag) — 4 exchange sides per
        # round. The same fixpoint step is ONE join + ONE aggregate: union
        # the propagated neighbor labels with a marker-tagged self row per
        # node and take min(comp) plus max(own comp) in a single groupBy —
        # min(nbrs ∪ self) IS least(comp, min nbr), and comp < old_comp IS
        # the old chg flag (nodes with no neighbors only carry their self
        # row: comp = old, chg = false, exactly the old left-join null
        # path). Values are untouched; only the exchange count drops.
        for _ in range(max_iter - 1):
            if changed == 0:
                break
            prop = sym.join(labels, sym.dst == labels.node).select(
                F.col("src").alias("node"), "comp", F.lit(0).alias("own")
            )
            new_labels = (
                prop.unionByName(
                    labels.select("node", "comp", F.lit(1).alias("own"))
                )
                .groupBy("node")
                .agg(
                    F.min("comp").alias("comp"),
                    F.max(F.when(F.col("own") == 1, F.col("comp"))).alias(
                        "old_comp"
                    ),
                )
                .select(
                    "node", "comp", (F.col("comp") < F.col("old_comp")).alias("chg")
                )
            )
            new_labels = new_labels.localCheckpoint(eager=True)
            changed = new_labels.filter("chg").limit(1).count()
            labels = new_labels.drop("chg")
        return labels


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach AS (
        SELECT src AS doc_id, src AS comp FROM edges
        UNION
        SELECT e.dst AS doc_id, r.comp
        FROM reach r JOIN edges e ON e.src = r.doc_id),
    comps AS (
        SELECT doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY doc_id),
    dupf AS (SELECT COUNT(*) * 1000 // COUNT(DISTINCT MD5(text))
                 AS dup_factor_permille
             FROM documents)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical,
           dup_factor_permille
    FROM comps CROSS JOIN dupf
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve verified MinHash near-dup PAIRS into duplicate CLUSTERS
    (connected components) — the DIAGNOSTIC pair tier; the PRODUCTION
    default is dedup_clusters_classes (this file, below), which
    collapses exact-text classes first and propagates over class
    representatives. This pair form materializes the verified-pair
    relation, which is QUADRATIC in the duplication factor:
    GROWTH_RATIO_r8 measured it DEAD at sf30/300x planted duplication
    (>60 GB of band-join shuffle before the first propagation round,
    ENOSPC in its own process) while the class form stayed flat (1.10x
    at 3x data) and 17x faster absolute at sf10 — row-for-row identical
    output (pytest-pinned, test_round8_quality.py). Like sim_knn_graph,
    the output self-announces the trap: every row carries
    ``dup_factor_permille`` (corpus rows * 1000 / distinct exact-text
    classes, 1000 = fully deduplicated) — above ~2000, switch to
    dedup_clusters_classes.

    Cluster resolution is the step that turns pairwise detection into
    an actionable keep/drop decision: keep `is_canonical` (min doc id
    per component), drop the rest. Pair detection alone under-deletes —
    A~B and B~C must collapse to ONE cluster even when A~C was never a
    candidate pair. Reference parity: the reference dedups at the
    record-store level by exact hash only (CuratorHandler record
    lookup); cluster resolution is the corpus-scale generalization its
    users run as a batch job. The oracle replays the propagation as a
    DuckDB recursive CTE (min reachable id == hash-to-min fixpoint)."""
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("comp"))
        .alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    ).crossJoin(F.broadcast(_dup_factor(spark, sf_dir)))


# ---- LSH band tuning report ------------------------------------------------

TUNE_CONFIGS = ((2, 6), (4, 3), (6, 2))  # (bands, rows/band), b*r = 12


def _o_band_cfg(n_bands: int, r: int) -> str:
    keys = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"h{r * b + j}" for j in range(r))
        + ")"
        for b in range(n_bands)
    )
    return f"""
        SELECT {n_bands} AS bands, {r} AS rows_per_band,
               doc_id,
               UNNEST([{keys}]) AS band_key,
               UNNEST(GENERATE_SERIES(0, {n_bands - 1})) AS band_id
        FROM sigs"""


_O_TUNE_BANDS = " UNION ALL ".join(_o_band_cfg(b, r) for b, r in TUNE_CONFIGS)


@query(
    "dedup_minhash_tuning",
    oracle=f"""
    WITH classes AS MATERIALIZED (
        SELECT MD5(text) AS ck, MIN(doc_id) AS rep, COUNT(*) AS n_mem
        FROM documents GROUP BY ck),
    reps AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d JOIN classes c ON d.doc_id = c.rep),
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM reps),
    shingles AS MATERIALIZED (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3),
    sigs AS (
        SELECT doc_id,
{_MINHASH_AGG_ORACLE}
        FROM shingles GROUP BY doc_id),
    allbands AS ({_O_TUNE_BANDS}),
    cands AS (
        SELECT DISTINCT a.bands, a.rows_per_band,
               a.doc_id AS rep_a, b.doc_id AS rep_b
        FROM allbands a JOIN allbands b
          ON a.bands = b.bands AND a.band_id = b.band_id
         AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    sets AS MATERIALIZED (
        SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id),
    cross_counts AS (
        SELECT c.bands, c.rows_per_band,
               SUM(ca.n_mem * cb.n_mem) AS n_c,
               SUM(CASE WHEN LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 /
                             LEN(LIST_DISTINCT(sa.s || sb.s)) >= {VERIFY_J}
                        THEN ca.n_mem * cb.n_mem ELSE 0 END) AS n_v
        FROM cands c
        JOIN sets sa ON sa.doc_id = c.rep_a
        JOIN sets sb ON sb.doc_id = c.rep_b
        JOIN classes ca ON ca.rep = c.rep_a
        JOIN classes cb ON cb.rep = c.rep_b
        GROUP BY c.bands, c.rows_per_band),
    within AS (
        SELECT COALESCE(SUM(c.n_mem * (c.n_mem - 1) // 2), 0) AS n_w
        FROM classes c JOIN sets s ON s.doc_id = c.rep
        WHERE c.n_mem >= 2),
    configs AS (SELECT DISTINCT bands, rows_per_band FROM allbands)
    SELECT cf.bands, cf.rows_per_band,
           COALESCE(cc.n_c, 0) + w.n_w AS n_candidates,
           COALESCE(cc.n_v, 0) + w.n_w AS n_verified,
           ROUND((COALESCE(cc.n_v, 0) + w.n_w) * 1.0
                 / NULLIF(COALESCE(cc.n_c, 0) + w.n_w, 0), 4) AS precision
    FROM configs cf
    LEFT JOIN cross_counts cc
           ON cc.bands = cf.bands AND cc.rows_per_band = cf.rows_per_band
    CROSS JOIN within w
    WHERE COALESCE(cc.n_c, 0) + w.n_w > 0
    """,
)
def dedup_minhash_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-tuning report: the SAME 12 minhashes regrouped as
    (2 bands x 6 rows), (4 x 3), (6 x 2), with candidate volume,
    verified-duplicate count, and precision per configuration — the
    b/r sweep every production LSH deployment runs before fixing its
    S-curve (more bands = higher recall AND more candidates to verify;
    P(candidate) = 1-(1-J^r)^b). Measured from the live pipeline, not
    the formula.

    CLASS-FORM from r9 (same values, duplication-immune): the previous
    doc-pair plan generated candidates over ALL docs and ENOSPC'd the
    r9 sf10 sweep — 3 configs x dup-squared pre-distinct band-join rows
    on the 100x-duplicated stress corpus (the same disease the growth
    table caught in dedup_clusters/sim_knn_graph). Exact-duplicate
    classes (md5(text)) collapse first, banding/verify run over class
    REPRESENTATIVES, and the report's doc-pair counts come from class
    arithmetic: candidate rep pair (A,B) contributes n_a*n_b doc pairs
    (identical texts band identically, so every member pair is a
    candidate iff the rep pair is); every shingled class with n>=2
    contributes its n*(n-1)/2 within-class pairs in EVERY config (dup
    docs share all band keys). Values are row-identical to the doc-pair
    form on any corpus (pytest-pinned, test_round9_ops.py).

    Plan: ONE class collapse (the only full-corpus exchange), one
    signature aggregation over reps serving all three configurations;
    each LSH self-join shuffles only rep-level (band_id, band_key)
    collisions — candidate volume bounded by DISTINCT content at any
    duplication factor. At 100 TB you run exactly this to pick b/r
    before committing the full corpus pass.
    """
    classes, doc_agg, _ver = _minhash_class_core(spark, sf_dir)
    sets = doc_agg.select("doc_id", "s").hint("shuffle_hash")
    jac = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))) / F.size(
        F.array_union(F.col("sa.s"), F.col("sb.s"))
    )
    mem = classes.select("rep", "n_mem")
    # config-independent within-class pair count (shingled classes only)
    within = (
        classes.where(F.col("n_mem") >= 2)
        .join(
            doc_agg.select(F.col("doc_id").alias("rep")).hint("shuffle_hash"),
            "rep",
            "left_semi",
        )
        .agg(
            F.coalesce(
                F.sum(F.expr("n_mem * (n_mem - 1) div 2")), F.lit(0)
            ).alias("n_w")
        )
    )
    # r9 fusion: ONE band table carrying a ``cfg`` discriminator
    # replaces three independent per-config pipelines. The LSH
    # self-join keys on (cfg, band_id, band_key) — collisions never
    # cross configs, so the candidate set per cfg is IDENTICAL to the
    # per-config join — and the array-carrying ``sets`` relation
    # shuffles into the verify ONCE instead of three times (it was the
    # widest repeated operand). Per-config aggregates come from one
    # groupBy(cfg); a config with zero rep-candidates is restored by
    # the left join from the literal config relation (its n_c/n_v
    # coalesce to 0, exactly the empty-input aggregate row the
    # per-config form produced). Measured sf0.1: 5.2 s -> ~2.5 s,
    # 146 -> ~60 stages; values row-identical (oracle-verified).
    btabs = []
    for cfg, (n_bands, r) in enumerate(TUNE_CONFIGS):
        band_keys = F.array(
            *[
                F.concat_ws("_", *[F.col(f"h{r * b + j}") for j in range(r)])
                for b in range(n_bands)
            ]
        )
        btabs.append(
            doc_agg.select(
                F.lit(cfg).alias("cfg"),
                "doc_id",
                F.posexplode(band_keys).alias("band_id", "band_key"),
            )
        )
    bands = btabs[0]
    for t in btabs[1:]:
        bands = bands.unionByName(t)
    # post-explode sides never broadcast (the _minhash_core trap)
    a, b = bands.alias("a"), bands.alias("b").hint("shuffle_hash")
    cands = (
        a.join(
            b,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.cfg").alias("cfg"),
            F.col("a.doc_id").alias("rep_a"),
            F.col("b.doc_id").alias("rep_b"),
        )
        .distinct()
    )
    percfg = (
        cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("rep_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("rep_b"))
        .select(
            "cfg",
            "rep_a",
            "rep_b",
            F.when(jac >= VERIFY_J, 1).otherwise(0).alias("ok"),
        )
        .join(
            mem.select(
                F.col("rep").alias("rep_a"), F.col("n_mem").alias("n_a")
            ).hint("shuffle_hash"),
            "rep_a",
        )
        .join(
            mem.select(
                F.col("rep").alias("rep_b"), F.col("n_mem").alias("n_b")
            ).hint("shuffle_hash"),
            "rep_b",
        )
        .groupBy("cfg")
        .agg(
            F.sum(F.expr("n_a * n_b")).alias("n_c"),
            F.sum(F.expr("case when ok = 1 then n_a * n_b else 0 end")).alias(
                "n_v"
            ),
        )
    )
    cfgmap = spark.createDataFrame(
        [(i, nb, r) for i, (nb, r) in enumerate(TUNE_CONFIGS)],
        "cfg int, bands int, rows_per_band int",
    )
    out = (
        cfgmap.join(percfg, "cfg", "left")
        .crossJoin(F.broadcast(within))
        .select(
            "bands",
            "rows_per_band",
            (F.coalesce(F.col("n_c"), F.lit(0)) + F.col("n_w")).alias(
                "n_candidates"
            ),
            (F.coalesce(F.col("n_v"), F.lit(0)) + F.col("n_w")).alias(
                "n_verified"
            ),
            F.round(
                (F.coalesce(F.col("n_v"), F.lit(0)) + F.col("n_w"))
                * 1.0
                / F.nullif(
                    F.coalesce(F.col("n_c"), F.lit(0)) + F.col("n_w"),
                    F.lit(0),
                ),
                4,
            ).alias("precision"),
        )
    )
    # A config with zero candidates (no collisions AND no duplicated
    # shingled classes) has no oracle row; drop the all-zero agg row so
    # Spark and oracle agree on any corpus.
    return out.filter(F.col("n_candidates") > 0)


@query(
    "dedup_bow_signature",
    oracle="""
    WITH sigs AS (
        SELECT doc_id,
               MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
                   STRING_SPLIT(text, ' '))), ' ')) AS bow_sig
        FROM documents),
    clusters AS (
        SELECT bow_sig, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        FROM sigs GROUP BY bow_sig)
    SELECT n_docs AS cluster_size,
           COUNT(*) AS n_clusters,
           SUM(n_docs) AS n_docs_total
    FROM clusters GROUP BY n_docs
    """,
)
def dedup_bow_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words signature dedup: md5 of the SORTED distinct word
    set — catches reordered/shuffled near-duplicates that positional
    shingles (dedup_minhash) structurally miss, and template pages that
    differ only in word order. The cluster-size histogram is the
    corpus-health report.

    Scale shape: the signature is array-local (split -> distinct ->
    sort -> hash inside the row, no explode), so the only exchanges are
    the two tiny group-bys on the 16-byte signature — the cheapest
    member of the dedup family, run FIRST in a real pipeline to shrink
    the corpus before minhash/SemDedup pay their pair joins.
    """
    d = load_table(spark, sf_dir, "documents")
    sigs = d.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split("text", " ")))
            )
        ).alias("bow_sig"),
    )
    clusters = sigs.groupBy("bow_sig").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id")
    )
    return clusters.groupBy(F.col("n_docs").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_docs").alias("n_docs_total"),
    )


@query(
    "dedup_cascade",
    oracle=f"""
    WITH s0 AS (
        SELECT doc_id, text,
               MD5(text) AS exact_sig,
               MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
                   STRING_SPLIT(text, ' '))), ' ')) AS bow_sig
        FROM documents),
    exact_kept AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY exact_sig ORDER BY doc_id) AS rk
            FROM s0) WHERE rk = 1),
    bow_kept AS (
        SELECT * FROM (
            SELECT doc_id, text, ROW_NUMBER() OVER (
                PARTITION BY bow_sig ORDER BY doc_id) AS rk
            FROM exact_kept) WHERE rk = 1),
    {_SHINGLES_ORACLE.replace('FROM documents', 'FROM documents')},
    sigs AS (
        SELECT doc_id,
{_MINHASH_AGG_ORACLE}
        FROM shingles
        WHERE doc_id IN (SELECT doc_id FROM bow_kept)
        GROUP BY doc_id),
    bands AS (
        SELECT doc_id,
               UNNEST([{_BANDS_ORACLE}]) AS band_key,
               UNNEST(GENERATE_SERIES(0, {N_HASHES // BAND_SIZE - 1})) AS band_id
        FROM sigs),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    sets AS (
        SELECT doc_id, LIST(shingle) AS s FROM shingles
        WHERE doc_id IN (SELECT doc_id FROM bow_kept) GROUP BY doc_id),
    mh_dropped AS (
        SELECT DISTINCT c.doc_b AS doc_id
        FROM cands c
        JOIN sets sa ON sa.doc_id = c.doc_a
        JOIN sets sb ON sb.doc_id = c.doc_b
        WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 /
              LEN(LIST_DISTINCT(sa.s || sb.s)) >= {VERIFY_J})
    SELECT (SELECT COUNT(*) FROM s0) AS n_input,
           (SELECT COUNT(*) FROM exact_kept) AS after_exact,
           (SELECT COUNT(*) FROM bow_kept) AS after_bow,
           (SELECT COUNT(*) FROM bow_kept)
               - (SELECT COUNT(*) FROM mh_dropped) AS after_minhash
    """,
)
def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE, cheapest stage first: exact md5 →
    bag-of-words signature → MinHash-LSH near-dup, each stage seeing
    only the previous stage's survivors. The per-stage census is the
    report a 100 TB ingest runs to budget the expensive stages — the
    pair-join minhash pass prices per SURVIVOR, so the array-local
    signature stages in front directly shrink its bill (economics
    ordering: O(row) -> O(row) -> O(collisions)).

    Within each signature stage the keeper is the lowest doc_id; the
    minhash stage drops the higher id of each verified pair (the
    lower-id-wins rule dedup_semantic uses) — slight over-keep on
    chains, exactly the trade the single-pass form makes.
    """
    d = load_table(spark, sf_dir, "documents")
    s0 = d.select(
        "doc_id",
        "text",
        F.md5("text").alias("exact_sig"),
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split("text", " ")))
            )
        ).alias("bow_sig"),
    )

    def keep_first(df: DataFrame, sig: str) -> DataFrame:
        w = Window.partitionBy(sig).orderBy("doc_id")
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )

    exact_kept = keep_first(s0, "exact_sig")
    bow_kept = keep_first(exact_kept, "bow_sig").select("doc_id", "text")

    # minhash stage over the survivors only (the same signature chain as
    # dedup_minhash, restricted via a semi join)
    sh = _shingles(spark, sf_dir).join(
        bow_kept.select("doc_id"), "doc_id", "left_semi"
    ).withColumn(
        "v", F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint")
    )
    doc_agg = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("v") + F.lit(MINHASH_B[i])) % MINHASH_P
            ).alias(f"h{i}")
            for i in range(N_HASHES)
        ],
        F.collect_list("shingle").alias("s"),
    )
    n_bands = N_HASHES // BAND_SIZE
    band_keys = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"h{BAND_SIZE * b + j}") for j in range(BAND_SIZE)]
            )
            for b in range(n_bands)
        ]
    )
    bands = doc_agg.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
    )
    # post-explode sides never broadcast (the _minhash_core trap)
    a, b = bands.alias("a"), bands.alias("b").hint("shuffle_hash")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = doc_agg.select("doc_id", "s").hint("shuffle_hash")
    jac = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))) / F.size(
        F.array_union(F.col("sa.s"), F.col("sb.s"))
    )
    mh_dropped = (
        cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= VERIFY_J)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    counts = (
        s0.agg(F.count(F.lit(1)).alias("n_input"))
        .crossJoin(F.broadcast(exact_kept.agg(F.count(F.lit(1)).alias("after_exact"))))
        .crossJoin(F.broadcast(bow_kept.agg(F.count(F.lit(1)).alias("after_bow"))))
        .crossJoin(F.broadcast(mh_dropped.agg(F.count(F.lit(1)).alias("n_mh_dropped"))))
    )
    return counts.select(
        "n_input",
        "after_exact",
        "after_bow",
        (F.col("after_bow") - F.col("n_mh_dropped")).alias("after_minhash"),
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    WITH sigs AS (
        SELECT doc_id,
               MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(
                   LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                   AS norm_sig,
               MD5(text) AS raw_sig
        FROM documents),
    norm_c AS (SELECT COUNT(DISTINCT norm_sig) AS n FROM sigs),
    raw_c AS (SELECT COUNT(DISTINCT raw_sig) AS n FROM sigs)
    SELECT (SELECT COUNT(*) FROM sigs) AS n_docs,
           (SELECT n FROM raw_c) AS distinct_raw,
           (SELECT n FROM norm_c) AS distinct_normalized,
           (SELECT n FROM raw_c) - (SELECT n FROM norm_c)
               AS extra_dups_found
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-exact dedup — the rung between byte-exact md5 and
    bag-of-words: lowercase, strip punctuation, collapse whitespace,
    THEN hash. Catches the re-encoded/re-capitalized/trailing-space
    duplicates that byte-exact misses while staying order-sensitive
    (unlike dedup_bow_signature). The raw-vs-normalized distinct delta
    is the report: how many duplicates normalization alone surfaces.

    Scale shape: the normalization chain is row-local string algebra
    fused into the scan; both distinct counts are partial-aggregated
    16-byte-key group-bys — same O(row) economics as the other
    signature stages of dedup_cascade.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    sigs = d.select(
        F.md5(norm).alias("norm_sig"), F.md5("text").alias("raw_sig")
    )
    return (
        sigs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_sig").alias("distinct_raw"),
            F.countDistinct("norm_sig").alias("distinct_normalized"),
        )
        .select(
            "n_docs",
            "distinct_raw",
            "distinct_normalized",
            (F.col("distinct_raw") - F.col("distinct_normalized")).alias(
                "extra_dups_found"
            ),
        )
    )


INGEST_MOD = 2  # doc_id % 2 == 0 -> already-ingested store half (fixture)


@query(
    "dedup_incremental",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, MD5(text) AS content_hash,
               doc_id % {INGEST_MOD} = 0 AS in_store
        FROM documents),
    store AS (SELECT DISTINCT content_hash FROM hashed WHERE in_store),
    batch AS (SELECT doc_id, content_hash FROM hashed WHERE NOT in_store),
    fresh AS (
        SELECT b.doc_id, b.content_hash
        FROM batch b
        WHERE b.content_hash NOT IN (SELECT content_hash FROM store)),
    ranked AS (
        SELECT doc_id, content_hash,
               ROW_NUMBER() OVER (PARTITION BY content_hash
                                  ORDER BY doc_id) AS rn
        FROM fresh)
    SELECT doc_id, content_hash FROM ranked WHERE rn = 1
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against an existing fingerprint store — THE
    continuous-ingest pattern: yesterday's corpus is already deduped and
    its content hashes sit in a store; today's batch must drop (a) docs
    whose hash the store already holds and (b) within-batch duplicates
    (first doc_id wins), emitting only the genuinely new fingerprints
    to append back to the store. Fixture: even doc_ids play the store,
    odd doc_ids the arriving batch.

    Scale shape: the store side is a 16-byte-key column — at 100 TB it
    lives as a parquet table hash-bucketed on content_hash (the
    join_bucketed layout), so the anti join co-locates without
    shuffling the store; only the BATCH (days, not years, of data)
    shuffles. Within-batch dedup is a groupBy on the same key the anti
    join just partitioned by, so AQE reuses the exchange. Both sides
    partial-aggregate before any exchange; nothing here is
    corpus-sized except the one stored-hash scan.

    Reference parity: this is the batch twin of the record store's
    hash-keyed memoization (CuratorHandler.java:468-527 first-arrival
    wins; plans/incremental.py A21) applied to dedup instead of
    annotation reuse."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        (F.col("doc_id") % INGEST_MOD == 0).alias("in_store"),
    )
    store = hashed.filter("in_store").select("content_hash").distinct()
    batch = hashed.filter(~F.col("in_store")).select("doc_id", "content_hash")
    fresh = batch.join(store, "content_hash", "left_anti")
    return fresh.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id", "content_hash")


# --------------------------------------------------------------------------
# URL canonicalization + dedup (the web-crawl ingest pattern)
# --------------------------------------------------------------------------
# The fixture has no URL column, so one is derived deterministically
# per document (the text_pii_redact synthetic-seeding precedent): mixed
# case, a www prefix, an explicit default port, and utm_* tracking
# params — everything canonicalization must strip. Two documents
# collide exactly when (source, doc_id % 64, doc_id % 16) match, so
# duplicates exist at every SF and grow with the corpus.
_URL_SPARK = (
    "concat('HTTPS://WWW.', upper(source), '.Example.COM:443/Docs/',"
    " cast(doc_id % 64 as string), '/?utm_campaign=x&page=',"
    " cast(doc_id % 16 as string), '&utm_source=feed')"
)
_URL_ORACLE = (
    "'HTTPS://WWW.' || UPPER(source) || '.Example.COM:443/Docs/' ||"
    " CAST(doc_id % 64 AS VARCHAR) || '/?utm_campaign=x&page=' ||"
    " CAST(doc_id % 16 AS VARCHAR) || '&utm_source=feed'"
)


@query(
    "dedup_url",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, source, {_URL_ORACLE} AS url FROM documents),
    canon AS (
        SELECT doc_id, source,
               REPLACE(
                   REGEXP_REPLACE(
                       REPLACE(REPLACE(LOWER(url), '://www.', '://'),
                               ':443/', '/'),
                       '[?&]utm_[a-z]+=[^&]*', '', 'g'),
                   '/&', '/?') AS curl
        FROM raw),
    per_url AS (
        SELECT source, curl, COUNT(*) AS n, MIN(doc_id) AS keeper
        FROM canon GROUP BY source, curl)
    SELECT source,
           COUNT(*) AS n_urls,
           SUM(n) AS n_docs,
           SUM(n) - COUNT(*) AS n_dup_docs
    FROM per_url GROUP BY source
    """,
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup (the first pass of every web-crawl
    ingest, cf. CommonCrawl/C4 preprocessing): lowercase scheme+host,
    strip the www prefix, the explicit default port, and utm_*
    tracking parameters, then collapse documents sharing a canonical
    URL (first-crawled doc_id wins) and report the per-source census.
    Patterns are RE2-safe character classes (the text_pii_redact
    cross-engine regex contract) — identical under Java regex and
    DuckDB RE2.

    Scale shape: canonicalization is per-row string algebra inside
    whole-stage codegen (no UDF); the only shuffle is the group-by on
    the canonical key — equi, hash-partitionable, and at crawl scale
    the canonical-URL key is the natural bucketing column for the
    dedup store (the dedup_incremental pattern: only new batches
    shuffle). The per-source census partial-aggregates to |sources|
    rows.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    raw = d.withColumn("url", F.expr(_URL_SPARK))
    curl = F.replace(
        F.regexp_replace(
            F.replace(
                F.replace(F.lower(F.col("url")), F.lit("://www."), F.lit("://")),
                F.lit(":443/"),
                F.lit("/"),
            ),
            "[?&]utm_[a-z]+=[^&]*",
            "",
        ),
        F.lit("/&"),
        F.lit("/?"),
    )
    per_url = (
        raw.select("doc_id", "source", curl.alias("curl"))
        .groupBy("source", "curl")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
    )
    return per_url.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("n").alias("n_docs"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dup_docs"),
    )


@query(
    "dedup_source_overlap",
    oracle="""
    WITH sigs AS (
        SELECT source,
               MD5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS sig,
               COUNT(*) AS n_docs
        FROM documents GROUP BY 1, 2)
    SELECT a.source AS src_a, b.source AS src_b,
           COUNT(*) AS n_shared_contents,
           SUM(a.n_docs) AS n_docs_a,
           SUM(b.n_docs) AS n_docs_b
    FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY src_a, src_b
    """,
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication matrix: for every pair of sources, how
    many DISTINCT contents they share and how many docs on each side
    carry them — the provenance census that tells a curation pipeline
    which feeds mirror each other (syndication, scraping the same
    upstream) before any cross-source dedup decision. Content key =
    md5 of the first-10-word LEDE (syndicated copies keep the lede even
    when trailing boilerplate differs — the fingerprint used by news-
    dedup pipelines), so near-verbatim mirrors match without any
    fuzzy-join cost.

    Scale shape: contents collapse to one (source, sig, n_docs) row per
    source FIRST (map-side partial agg on the content hash — corpus
    bytes never cross the wire, 32-hex sigs do), then a self equi join
    on sig. Pair expansion per content is bounded by (sources-per-
    content choose 2) <= (|sources| choose 2) — a constant (~20 feeds),
    never corpus-quadratic. The pair census output is O(|sources|^2).
    All counts are exact BIGINTs; no float anywhere."""
    d = load_table(spark, sf_dir, "documents")
    sigs = (
        d.select(
            "source",
            F.md5(
                F.array_join(F.slice(F.split("text", " "), 1, 10), " ")
            ).alias("sig"),
        )
        .groupBy("source", "sig")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared_contents"),
            F.sum("a.n_docs").alias("n_docs_a"),
            F.sum("b.n_docs").alias("n_docs_b"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "dedup_method_agreement",
    oracle=f"""
    WITH {_PAIRS_CTES},
    ebase AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                   AS norm,
               LIST_AGGREGATE(LIST_TRANSFORM(embedding[1:8],
                   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                   'string_agg', '') AS bucket
        FROM embeddings),
    epairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM ebase a JOIN ebase b
          ON b.bucket = a.bucket AND b.vec_id > a.vec_id
        WHERE ROUND(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
              >= 0.35),
    m AS (SELECT COUNT(*) AS n_m FROM pairs),
    e AS (SELECT COUNT(*) AS n_e FROM epairs),
    b AS (SELECT COUNT(*) AS n_b
          FROM pairs p JOIN epairs q
            ON q.doc_a = p.doc_a AND q.doc_b = p.doc_b)
    SELECT m.n_m AS n_minhash_pairs, e.n_e AS n_embed_pairs,
           b.n_b AS n_both,
           CASE WHEN m.n_m + e.n_e - b.n_b = 0 THEN 0
                ELSE b.n_b * 1000 // (m.n_m + e.n_e - b.n_b)
           END AS agreement_permille
    FROM m, e, b
    """,
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-vs-semantic dedup agreement census: the pair-set overlap
    between MinHash+LSH verified near-dups (text 3-shingles) and
    embedding-space near-dups (sign-LSH + cosine) over the SAME corpus
    (doc_id == vec_id) — the measure-the-measurer audit a pipeline runs
    before trusting one method's recall claims (SemDedup's core finding
    is precisely that the two sets diverge). One row: each method's
    pair count, the intersection, and the pair-set Jaccard in exact
    integer per-mille.

    Scale shape: both pair generators are the engine's existing bounded
    machinery (LSH band equi join; sign-bucket equi join) — no new
    quadratic anywhere; the agreement join keys on (doc_a, doc_b) pairs,
    both sides candidate-bounded; the three counts are 1-row scalar
    aggregates crossed via broadcast (the graph_triangles pattern)."""
    from curatorhadoopinterface_spark.operators.similarity import (
        _SPARK_BUCKET,
        _cosine,
        _with_norm,
        NEARDUP_COS,
    )

    pm = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    bucketed = _with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", F.expr(_SPARK_BUCKET)
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pe = (
        a.join(
            b,
            (F.col("b.bucket") == F.col("a.bucket"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .filter(_cosine("a", "b") >= NEARDUP_COS)
        .select(
            F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b")
        )
    )
    # r9: pm and pe each feed TWO consumers (their own count + the
    # intersection join) — unpersisted, the minhash verify pipeline and
    # the embedding bucket self-join re-executed per branch
    # (interleaved A/B: 4.17 s lazy vs 3.38 s persisted, min-of-3).
    # Persist both candidate-bounded pair sets, eagerly checkpoint the
    # 1-row report, unpersist before return (the batch-5 pattern).
    both = pm.join(pe, ["doc_a", "doc_b"])
    out = (
        pm.agg(F.count(F.lit(1)).alias("n_minhash_pairs"))
        .crossJoin(pe.agg(F.count(F.lit(1)).alias("n_embed_pairs")))
        .crossJoin(both.agg(F.count(F.lit(1)).alias("n_both")))
        .select(
            "n_minhash_pairs",
            "n_embed_pairs",
            "n_both",
            F.expr(
                "case when n_minhash_pairs + n_embed_pairs - n_both = 0"
                " then 0L else n_both * 1000"
                " div (n_minhash_pairs + n_embed_pairs - n_both) end"
            ).alias("agreement_permille"),
        )
    )
    with reused(pm, pe):
        return cut_lineage(out)


# -- asymmetric containment (quote / excerpt detection) ------------------------

CONTAIN_T_NUM, CONTAIN_T_DEN = 4, 5  # containment >= 4/5


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_PAIRS_CTES}
    SELECT c.doc_a, c.doc_b,
           LEN(LIST_INTERSECT(sa.s, sb.s)) AS n_common,
           LEN(sa.s) AS n_a, LEN(sb.s) AS n_b,
           LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 / LEN(sa.s) AS contain_a,
           LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 / LEN(sb.s) AS contain_b
    FROM cands c
    JOIN sets sa ON sa.doc_id = c.doc_a
    JOIN sets sb ON sb.doc_id = c.doc_b
    WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * {CONTAIN_T_DEN}
          >= {CONTAIN_T_NUM} * LEAST(LEN(sa.s), LEN(sb.s))
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs (Broder's other resemblance
    measure): |A n B| / min(|A|, |B|) >= 4/5 — catches a short document
    quoted inside a long one, which symmetric Jaccard structurally
    misses (a 30-shingle doc inside a 300-shingle doc has J <= 0.1 but
    containment 1.0). The excerpt/quote-detection pass of a curation
    pipeline, sharing the MinHash+LSH candidate machinery so candidate
    generation stays bucketed. (LSH banding recall is tuned for J, so
    extreme size ratios can evade the bands — the standard caveat,
    carried by construction; candidates are the SAME bounded set as
    dedup_minhash.)

    Exactness: the threshold is integer cross-multiplication
    (n_common * 5 >= 4 * min(|A|,|B|)) — no float ratio; the reported
    containments are int/int divisions of identical ints (bit-identical
    across engines, the dedup_minhash jaccard note)."""
    cands, sets = _minhash_core(spark, sf_dir)
    n_common = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    n_a, n_b = F.size(F.col("sa.s")), F.size(F.col("sb.s"))
    return (
        cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(
            n_common * CONTAIN_T_DEN >= CONTAIN_T_NUM * F.least(n_a, n_b)
        )
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            (n_common / n_a).alias("contain_a"),
            (n_common / n_b).alias("contain_b"),
        )
    )


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_PAIRS_CTES},
    icands AS (
        SELECT DISTINCT b.doc_id AS batch_doc, s.doc_id AS store_doc
        FROM bands b JOIN bands s
          ON s.band_id = b.band_id AND s.band_key = b.band_key
        WHERE b.doc_id % {INGEST_MOD} <> 0 AND s.doc_id % {INGEST_MOD} = 0)
    SELECT i.batch_doc, i.store_doc,
           LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 /
                 LEN(LIST_DISTINCT(sa.s || sb.s)) AS jaccard
    FROM icands i
    JOIN sets sa ON sa.doc_id = i.batch_doc
    JOIN sets sb ON sb.doc_id = i.store_doc
    WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0 /
          LEN(LIST_DISTINCT(sa.s || sb.s)) >= {VERIFY_J}
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup rejection for continuous ingest — the LSH tier of
    dedup_incremental (which is exact-hash only): an arriving batch doc
    is rejected when it LSH-collides with an already-ingested store doc
    AND the exact shingle Jaccard clears the verify cut. Emits the
    (batch_doc, store_doc, jaccard) reject evidence. Fixture: even
    doc_ids play the store, odd the arriving batch (INGEST_MOD).

    Scale shape: the store side is the persisted (band_id, band_key,
    doc_id) index — at 100 TB it lives hash-bucketed on the band key
    (join_bucketed layout) so only the BATCH's bands shuffle; candidates
    are band collisions only (never batch x store), and the exact
    verify touches candidate shingle sets alone. Batch-side signatures
    are days of data; the store index append is the emitted bands of
    accepted docs (not recomputed). Same affine-minhash machinery as
    dedup_minhash (one scan, one doc_id exchange for sig+set)."""
    doc_agg = _minhash_doc_agg(spark, sf_dir)
    bands = _band_explode(doc_agg)
    # post-explode band tables must never broadcast (the _minhash_core
    # sizing trap); build the BATCH side per-partition — it's the small
    # side (days of data vs the whole store) at any real scale
    batch = bands.filter(F.col("doc_id") % INGEST_MOD != 0).hint(
        "shuffle_hash"
    )
    store = bands.filter(F.col("doc_id") % INGEST_MOD == 0)
    cands = (
        batch.alias("b")
        .join(
            store.alias("s"),
            (F.col("b.band_id") == F.col("s.band_id"))
            & (F.col("b.band_key") == F.col("s.band_key")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"),
            F.col("s.doc_id").alias("store_doc"),
        )
        .distinct()
    )
    sets = doc_agg.select("doc_id", "s").hint("shuffle_hash")
    jac = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))) / F.size(
        F.array_union(F.col("sa.s"), F.col("sb.s"))
    )
    return (
        cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("batch_doc"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("store_doc"))
        .filter(jac >= VERIFY_J)
        .select("batch_doc", "store_doc", jac.alias("jaccard"))
    )


@query(
    "dedup_containment_census",
    oracle=f"""
    WITH {_PAIRS_CTES},
    scored AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b,
               LEN(LIST_INTERSECT(sa.s, sb.s)) AS n_common,
               LEN(sa.s) AS n_a, LEN(sb.s) AS n_b
        FROM cands c
        JOIN sets sa ON sa.doc_id = c.doc_a
        JOIN sets sb ON sb.doc_id = c.doc_b),
    kept AS MATERIALIZED (
        SELECT *, CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END
               AS contained_doc
        FROM scored
        WHERE n_common * {CONTAIN_T_DEN} >= {CONTAIN_T_NUM} * LEAST(n_a, n_b))
    SELECT (SELECT COUNT(*) FROM scored) AS n_candidates,
           (SELECT COUNT(*) FROM kept) AS n_pairs,
           (SELECT COUNT(DISTINCT contained_doc) FROM kept)
               AS n_docs_contained,
           (SELECT COUNT(*) FROM kept
            WHERE n_common * 2 < n_a + n_b - n_common)
               AS n_jaccard_blind_pairs,
           (SELECT COALESCE(SUM(n_common), 0) FROM kept) AS sum_common
    """,
)
def dedup_containment_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row census of dedup_containment — the sf10-sweep form (the
    dedup_embed_cosine_census precedent): at 100x the raw pair DUMP is
    tens of millions of rows and the strict compare measures result
    canonicalization, not engine work, so the census twin carries the
    scale rung while the dump stays value-exact at driver SFs.

    ``n_jaccard_blind_pairs`` counts kept pairs whose symmetric Jaccard
    is UNDER the 0.5 verify cut (integer cross-multiplied) — the
    quote-inside-a-long-doc population that containment exists to
    catch; if it reads zero the operator is redundant with
    dedup_minhash on that corpus. All counts exact integers; same
    bounded LSH candidate set, aggregates crossed as 1-row scalar
    subqueries (graph_triangles pattern)."""
    cands, sets = _minhash_core(spark, sf_dir)
    n_common = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    n_a, n_b = F.size(F.col("sa.s")), F.size(F.col("sb.s"))
    scored = (
        cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
        )
    )
    # r9: ONE aggregate pass instead of two branches crossed — the old
    # scored.agg x kept.agg crossJoin re-executed the whole
    # minhash-core + verify-join subtree once per branch (no exchange
    # reuse across the differently-shaped aggregates). The kept-pair
    # filter becomes a conditional inside each aggregate: count/
    # distinct/sum over `when(kept, ...)` rows is exactly the old
    # filtered aggregate (nulls are skipped), and n_candidates is the
    # unconditional count of the same pass. Identical integers, half
    # the executions.
    kept_c = F.col("n_common") * CONTAIN_T_DEN >= CONTAIN_T_NUM * F.least(
        "n_a", "n_b"
    )
    contained = F.when(
        F.col("n_a") <= F.col("n_b"), F.col("doc_a")
    ).otherwise(F.col("doc_b"))
    blind = (
        F.col("n_common") * 2 < F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(kept_c, 1)).alias("n_pairs"),
        F.countDistinct(F.when(kept_c, contained)).alias("n_docs_contained"),
        F.count(F.when(kept_c & blind, 1)).alias("n_jaccard_blind_pairs"),
        F.coalesce(
            F.sum(F.when(kept_c, F.col("n_common"))), F.lit(0)
        ).alias("sum_common"),
    )


# -- measured LSH recall (the honest-ANN trade, text side) ---------------------

RECALL_SAMPLE_MOD = 10  # doc_id % 10 == 0 -> ground-truth query sample
# posting-list cap for the ground-truth inverted index: shingles shared
# by more than this many documents are dropped from the TRUTH side (and
# the drop is reported in the output row). Without it one stopword-like
# hot shingle makes the exact-truth join quadratic in its document
# frequency; with it the join fans out at most RECALL_DF_CAP per posting
# — the standard bounded-posting trade, honest because the cap and the
# number of dropped shingles ship in the result. sf0.01/sf0.1 max df is
# single/double-digit, so nothing drops at driver scale and the recall
# number is the uncapped one there.
RECALL_DF_CAP = 64


@query(
    "dedup_minhash_recall",
    oracle=f"""
    WITH {_PAIRS_CTES},
    dfc AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle),
    nhot AS (
        SELECT COUNT(CASE WHEN df > {RECALL_DF_CAP} THEN 1 END)
               AS n_hot_shingles
        FROM dfc),
    cold AS (
        SELECT s.doc_id, s.shingle
        FROM shingles s JOIN dfc d
          ON d.shingle = s.shingle AND d.df <= {RECALL_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM cold GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS q_id, b.doc_id AS c_id, COUNT(*) AS n_inter
        FROM cold a JOIN cold b
          ON b.shingle = a.shingle AND b.doc_id <> a.doc_id
        WHERE a.doc_id % {RECALL_SAMPLE_MOD} = 0
        GROUP BY 1, 2),
    truth AS (
        SELECT i.q_id, i.c_id
        FROM inter i
        JOIN sizes sq ON sq.doc_id = i.q_id
        JOIN sizes sc ON sc.doc_id = i.c_id
        WHERE i.n_inter * 1.0 / (sq.n_sh + sc.n_sh - i.n_inter)
              >= {VERIFY_J}),
    found_dir AS (
        SELECT doc_a AS q_id, doc_b AS c_id FROM cands
        WHERE doc_a % {RECALL_SAMPLE_MOD} = 0
        UNION
        SELECT doc_b AS q_id, doc_a AS c_id FROM cands
        WHERE doc_b % {RECALL_SAMPLE_MOD} = 0),
    hit AS (
        SELECT COUNT(*) AS n_found
        FROM truth t JOIN found_dir f
          ON f.q_id = t.q_id AND f.c_id = t.c_id),
    tot AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT tot.n_truth, hit.n_found,
           CASE WHEN tot.n_truth = 0 THEN 1000
                ELSE hit.n_found * 1000 // tot.n_truth END AS recall_permille,
           CAST({RECALL_DF_CAP} AS BIGINT) AS df_cap,
           nhot.n_hot_shingles
    FROM tot, hit, nhot
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the MinHash+LSH candidate stage against exact
    ground truth on a 10% deterministic doc sample: of the pairs whose
    true shingle Jaccard clears the verify threshold, how many does the
    banding actually propose? The text-side twin of sim_ann_recall —
    the honest number behind every "LSH finds the duplicates" claim
    (4 bands x 3 rows gives P(candidate) = 1-(1-J^3)^4, ~93% at J=0.7,
    ~50% at J=0.5; this query reports what the corpus actually gets).

    Scale shape: ground truth is an inverted-index POSTING-LIST
    enumeration (J >= 0.5 > 0 forces >= 1 shared shingle, so no
    sample x corpus cross verify): one shingle-keyed exchange carries
    (doc_id, shingle) rows; a count window over it computes each
    shingle's document frequency, rows of shingles hotter than
    RECALL_DF_CAP are DROPPED before any array exists (so no
    aggregation buffer ever holds more than cap doc_ids — the cap
    bounds memory, not just downstream rows), and the surviving cold
    posting lists aggregate on the SAME partitioning (no second
    exchange). Ground-truth (q, c) pairs then explode map-side as
    sample-member x other-members combinations over each cold list —
    at most cap-per-posting fan-out, the standard bounded-posting
    trade, honest because the cap and the dropped-shingle count ship
    in the output row. Jaccard is n_inter / (|q| + |c| - n_inter)
    over the capped shingle space, exact integers in both engines.
    The LSH side reuses the exact _minhash_core candidates. Counts
    crossed as 1-row aggregates; recall is exact integer per-mille.

    The signature aggregate feeds SIX consumers (LSH self-join sides,
    posting self-join sides, sizes, hot census); left lazy, Catalyst
    re-derives the whole scan+shingle+signature pipeline per consumer
    (~26 duplicate scans measured). ``localCheckpoint`` materializes it
    once — the dedup_fuzzy_edit/graph_pagerank pattern; corpus-sized
    but compact (signatures + distinct shingles), disk-spillable."""
    doc_agg = cut_lineage(_minhash_doc_agg(spark, sf_dir))
    bands = _band_explode(doc_agg)
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = doc_agg.select("doc_id", F.explode("s").alias("shingle"))
    # r9 second pass: ground-truth pairs come from a MAP-SIDE
    # combination explode over each cold posting list (sample member x
    # other members) — the same (q, c, shingle) multiset the old
    # (sample x corpus) posting equi-join produced, with zero join
    # exchanges. r10 (r9-advice medium item): the posting df and the
    # hot-shingle cap are now a COUNT WINDOW over the shingle exchange,
    # applied BEFORE any array aggregate — the previous
    # slice(collect_list(...), 1, cap) form truncated rows only AFTER
    # the full posting list had been built in the aggregation buffer,
    # so a corpus-hot shingle (df in the millions at large sf) would
    # materialize its entire posting array in one buffer before the
    # slice dropped it. Here hot rows never reach the collect: the
    # buffer holds at most RECALL_DF_CAP doc_ids per key by
    # construction. The groupBy(shingle) below reuses the window's
    # hash partitioning (no second exchange), and cold lists keep
    # every element, so the nondeterministic collect order still never
    # feeds output.
    wsh = Window.partitionBy("shingle")
    shd = sh.withColumn("df", F.count(F.lit(1)).over(wsh))
    n_hot = shd.agg(
        F.count_distinct(
            F.when(F.col("df") > RECALL_DF_CAP, F.col("shingle"))
        ).alias("n_hot_shingles")
    )
    coldrows = shd.where(F.col("df") <= RECALL_DF_CAP)
    sizes = coldrows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    cold = coldrows.groupBy("shingle").agg(
        F.collect_list("doc_id").alias("ds")
    )
    inter = (
        cold.select(
            F.explode(
                F.expr(
                    f"flatten(transform("
                    f"filter(ds, q -> q % {RECALL_SAMPLE_MOD} = 0), "
                    f"q -> transform(filter(ds, c -> c != q), "
                    f"c -> struct(q AS q_id, c AS c_id))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.q_id").alias("q_id"), F.col("p.c_id").alias("c_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("doc_id").alias("q_id"), F.col("n_sh").alias("nq")),
            "q_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("c_id"), F.col("n_sh").alias("nc")),
            "c_id",
        )
        .filter(
            F.col("n_inter") / (F.col("nq") + F.col("nc") - F.col("n_inter"))
            >= VERIFY_J
        )
        .select("q_id", "c_id")
    )
    found = (
        cands.filter(F.col("doc_a") % RECALL_SAMPLE_MOD == 0)
        .select(F.col("doc_a").alias("q_id"), F.col("doc_b").alias("c_id"))
        .unionByName(
            cands.filter(F.col("doc_b") % RECALL_SAMPLE_MOD == 0).select(
                F.col("doc_b").alias("q_id"), F.col("doc_a").alias("c_id")
            )
        )
        .distinct()
    )
    hit = truth.join(found, ["q_id", "c_id"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    tot = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        tot.crossJoin(hit)
        .crossJoin(n_hot)
        .select(
            "n_truth",
            "n_found",
            F.expr(
                "case when n_truth = 0 then 1000L"
                " else n_found * 1000 div n_truth end"
            ).alias("recall_permille"),
            F.lit(RECALL_DF_CAP).cast("long").alias("df_cap"),
            "n_hot_shingles",
        )
    )


@query(
    "dedup_containment_classes",
    oracle=f"""
    WITH classes AS MATERIALIZED (
        SELECT MD5(text) AS ck, MIN(doc_id) AS rep, COUNT(*) AS n_mem
        FROM documents GROUP BY MD5(text)),
    reps AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN classes c ON c.rep = d.doc_id),
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM reps),
    shingles AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3),
    sigs AS (
        SELECT doc_id,
{_MINHASH_AGG_ORACLE}
        FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id,
               UNNEST([{_BANDS_ORACLE}]) AS band_key,
               UNNEST(GENERATE_SERIES(0, {N_HASHES // BAND_SIZE - 1})) AS band_id
        FROM sigs),
    ccands AS (
        SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    sets AS MATERIALIZED (
        SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id),
    scored AS MATERIALIZED (
        SELECT c.rep_a, c.rep_b,
               LEN(LIST_INTERSECT(sa.s, sb.s)) AS n_common,
               LEN(sa.s) AS n_a, LEN(sb.s) AS n_b,
               ma.n_mem AS m_a, mb.n_mem AS m_b
        FROM ccands c
        JOIN sets sa ON sa.doc_id = c.rep_a
        JOIN sets sb ON sb.doc_id = c.rep_b
        JOIN classes ma ON ma.rep = c.rep_a
        JOIN classes mb ON mb.rep = c.rep_b),
    cross_stats AS (
        SELECT COALESCE(SUM(m_a * m_b), 0) AS cand_cross,
               COALESCE(SUM(CASE WHEN n_common * {CONTAIN_T_DEN}
                                      >= {CONTAIN_T_NUM} * LEAST(n_a, n_b)
                                 THEN m_a * m_b ELSE 0 END), 0) AS kept_cross,
               COALESCE(SUM(CASE WHEN n_common * {CONTAIN_T_DEN}
                                      >= {CONTAIN_T_NUM} * LEAST(n_a, n_b)
                                  AND n_common * 2 < n_a + n_b - n_common
                                 THEN m_a * m_b ELSE 0 END), 0)
                   AS blind_cross,
               COALESCE(SUM(CASE WHEN n_common * {CONTAIN_T_DEN}
                                      >= {CONTAIN_T_NUM} * LEAST(n_a, n_b)
                                 THEN m_a * m_b * n_common ELSE 0 END), 0)
                   AS common_cross
        FROM scored),
    within_stats AS (
        SELECT COUNT(*) AS n_classes,
               SUM(c.n_mem) AS n_docs,
               SUM(c.n_mem * (c.n_mem - 1) // 2) AS cand_within,
               SUM((c.n_mem * (c.n_mem - 1) // 2) * LEN(s.s))
                   AS common_within
        FROM classes c JOIN sets s ON s.doc_id = c.rep)
    SELECT w.n_classes, w.n_docs,
           w.cand_within + x.cand_cross AS n_candidates,
           w.cand_within + x.kept_cross AS n_pairs,
           x.blind_cross AS n_jaccard_blind_pairs,
           w.common_within + x.common_cross AS sum_common
    FROM within_stats w CROSS JOIN cross_stats x
    """,
)
def dedup_containment_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-CLASS form of dedup_containment_census: exact-duplicate
    classes (md5 of text) collapse first, LSH + containment verify runs
    ONCE per class representative, and pair counts come from class
    arithmetic — C(n,2) within a class, n_a*n_b across a kept class
    pair — so the statistics are IDENTICAL to the enumerated census
    (cross-query identity pinned by pytest) without ever materializing
    a pair. n_docs_contained is the one enumerated-only column (its
    doc-id-level distinct needs the pair stream; it stays on the
    census, value-exact through sf0.1).

    Why this exists: the enumerated census is pair-QUADRATIC in
    duplicate-class size by definition — at 30x the planted 300-copy
    clusters make 245M candidate pairs, each dragging two shingle-set
    payloads through the verify shuffle (measured: >70 GB of spill,
    disk exhaustion). Class arithmetic is what a production pipeline
    does anyway (exact dedup ALWAYS precedes near-dup): verify work
    drops from sum C(n_c,2) pairs to |classes| + class-collisions,
    LINEAR in distinct content at any duplication factor.

    Scale shape: one (text-hash) exchange builds classes; shingle/sig
    machinery runs on representatives only; the band self-join and
    rep-set verify joins are the pinned-shuffle _minhash_core shapes;
    member counts join rep-keyed (never broadcast — classes scale with
    the corpus); the report is 1-row scalar aggregates crossed
    broadcast (graph_triangles pattern)."""
    # r9: the signature aggregate (rep_agg) fed FIVE consumers (both
    # band self-join sides, both verify-set lookups, within_stats) and
    # was an inline copy of _minhash_class_core's doc_agg — each
    # consumer re-derived the scan+shingle+signature chain. Reuse the
    # shared core (whose doc_agg is eagerly checkpointed, batch-10
    # discipline; its lazy `ver` branch is unused here and costs
    # nothing), and checkpoint the narrow classes relation for its
    # three remaining consumers (mem x2, within_stats).
    classes, rep_agg, _ver = _minhash_class_core(spark, sf_dir)
    classes = cut_lineage(classes)
    bands = _band_explode(rep_agg)
    a, b = bands.alias("a"), bands.alias("b").hint("shuffle_hash")
    ccands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b")
        )
        .distinct()
    )
    sets = rep_agg.select("doc_id", "s").hint("shuffle_hash")
    mem = classes.select("rep", "n_mem").hint("shuffle_hash")
    scored = (
        ccands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("rep_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("rep_b"))
        .join(mem.alias("ma"), F.col("ma.rep") == F.col("rep_a"))
        .join(mem.alias("mb"), F.col("mb.rep") == F.col("rep_b"))
        .select(
            F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))).alias(
                "n_common"
            ),
            F.size(F.col("sa.s")).alias("n_a"),
            F.size(F.col("sb.s")).alias("n_b"),
            F.col("ma.n_mem").alias("m_a"),
            F.col("mb.n_mem").alias("m_b"),
        )
    )
    kept = (
        F.col("n_common") * CONTAIN_T_DEN
        >= CONTAIN_T_NUM * F.least("n_a", "n_b")
    )
    blind = kept & (
        F.col("n_common") * 2 < F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    pair_m = F.col("m_a") * F.col("m_b")
    cross_stats = scored.agg(
        F.coalesce(F.sum(pair_m), F.lit(0)).alias("cand_cross"),
        F.coalesce(F.sum(F.when(kept, pair_m).otherwise(0)), F.lit(0)).alias(
            "kept_cross"
        ),
        F.coalesce(F.sum(F.when(blind, pair_m).otherwise(0)), F.lit(0)).alias(
            "blind_cross"
        ),
        F.coalesce(
            F.sum(F.when(kept, pair_m * F.col("n_common")).otherwise(0)),
            F.lit(0),
        ).alias("common_cross"),
    )
    within_stats = (
        classes.join(
            rep_agg.select(
                F.col("doc_id").alias("rep"), F.size("s").alias("n_sh")
            ),
            "rep",
        )
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("n_mem").alias("n_docs"),
            F.sum(F.expr("n_mem * (n_mem - 1) div 2")).alias("cand_within"),
            F.sum(F.expr("(n_mem * (n_mem - 1) div 2) * n_sh")).alias(
                "common_within"
            ),
        )
    )
    return within_stats.crossJoin(cross_stats).select(
        "n_classes",
        "n_docs",
        (F.col("cand_within") + F.col("cand_cross")).alias("n_candidates"),
        (F.col("cand_within") + F.col("kept_cross")).alias("n_pairs"),
        F.col("blind_cross").alias("n_jaccard_blind_pairs"),
        (F.col("common_within") + F.col("common_cross")).alias("sum_common"),
    )


# AllPairs/PPJoin prefix filtering (Bayardo et al., WWW'07): for
# Jaccard >= t under a GLOBAL df-ascending token order, two sets can
# only qualify if their (|d| - ceil(t*|d|) + 1)-token prefixes share a
# token — so only the RAREST slice of each set is indexed.
_AP_T_PERMILLE = 500  # Jaccard threshold 0.5


@query(
    "dedup_allpairs_prefix",
    oracle=f"""
    WITH classes AS MATERIALIZED (
        SELECT MD5(text) AS ck, MIN(doc_id) AS rep, COUNT(*) AS n_mem
        FROM documents GROUP BY ck),
    reps AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d JOIN classes c ON d.doc_id = c.rep),
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM reps),
    sh AS MATERIALIZED (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3),
    dft AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
        SELECT s.doc_id, s.shingle,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id
                   ORDER BY d.df, s.shingle) AS rn,
               COUNT(*) OVER (PARTITION BY s.doc_id) AS sz
        FROM sh s JOIN dft d ON d.shingle = s.shingle),
    prefix AS MATERIALIZED (
        SELECT doc_id, shingle, sz FROM ranked
        WHERE rn <= sz - (sz + 1) // 2 + 1),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b,
                        a.sz AS sz_a, b.sz AS sz_b
        FROM prefix a JOIN prefix b ON a.shingle = b.shingle
         AND a.doc_id < b.doc_id
         AND 2 * LEAST(a.sz, b.sz) >= GREATEST(a.sz, b.sz)),
    sets AS MATERIALIZED (
        SELECT doc_id, LIST(shingle) AS s FROM sh GROUP BY doc_id),
    ver AS MATERIALIZED (
        SELECT c.rep_a, c.rep_b,
               LEN(LIST_INTERSECT(sa.s, sb.s)) * 1000
                   // (c.sz_a + c.sz_b - LEN(LIST_INTERSECT(sa.s, sb.s)))
                   AS jac_permille
        FROM cand c JOIN sets sa ON sa.doc_id = c.rep_a
                    JOIN sets sb ON sb.doc_id = c.rep_b),
    qual AS (
        SELECT v.jac_permille, ca.n_mem AS n_a, cb.n_mem AS n_b
        FROM ver v JOIN classes ca ON ca.rep = v.rep_a
                   JOIN classes cb ON cb.rep = v.rep_b
        WHERE v.jac_permille >= {_AP_T_PERMILLE}),
    agg AS (
        SELECT COUNT(*) AS n_rep_pairs,
               COALESCE(SUM(n_a * n_b), 0) AS n_doc_pairs_cross,
               COALESCE(MAX(jac_permille), 0) AS max_jac_permille,
               COALESCE(SUM(jac_permille), 0) AS sum_jac_permille
        FROM qual),
    wth AS (
        SELECT COUNT(*) AS n_classes,
               SUM((n_mem * (n_mem - 1)) // 2) AS n_doc_pairs_within,
               SUM(n_mem) AS n_docs
        FROM classes),
    cc AS (SELECT COUNT(*) AS n_rep_candidates FROM cand)
    SELECT w.n_docs, w.n_classes, cc.n_rep_candidates, a.n_rep_pairs,
           a.n_doc_pairs_cross, w.n_doc_pairs_within,
           a.n_doc_pairs_cross + w.n_doc_pairs_within AS n_doc_pairs_total,
           a.max_jac_permille, a.sum_jac_permille
    FROM wth w CROSS JOIN cc CROSS JOIN agg a
    """,
)
def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity self-join via ALLPAIRS PREFIX FILTERING
    (Bayardo et al.) at Jaccard >= 0.5 — the deterministic complement
    to dedup_minhash's probabilistic LSH: zero false negatives BY
    THEOREM (under a consistent global token order, two sets at
    J >= t must share a token in their |d|-ceil(t|d|)+1 prefixes), so
    only the RAREST slice of each shingle set is indexed and the
    candidate join runs over short posting lists. The size filter
    (2*min >= max for t=0.5) prunes mismatched-length pairs before the
    verify. Exact-dup classes collapse FIRST and pair counts expand by
    class arithmetic (the dedup_containment_classes discipline — a
    key-shifted corpus multiplies duplication, not distinct content).

    Exactness: the prefix rank orders by (df ASC, shingle ASC) — an
    injective key both engines sort identically; jaccard quantizes by
    integer division at permille; the census is all-integer.

    Scale shape: one (shingle) df exchange, one doc-keyed rank window,
    then the prefix equi join — posting lists bounded by the df of
    RARE tokens by construction (the algorithm's point); verify joins
    carry arrays and stay pinned shuffle_hash (the _minhash_core
    trap); the report is 1-row aggregates crossed broadcast. Linear in
    distinct content at any duplication factor."""
    # r9 measured-and-REVERTED: persisting the ranked shingle relation
    # for its consumers won ISOLATED (15.5 -> 8.1 s qtime in a fresh
    # session) but LOST interleaved, which is how the driver measures:
    # same-session alternating A/B gave 5.64 s (lazy) vs 7.88 s
    # (persisted), and the interleaved bench showed 5.74 -> 9.71 s
    # — caching the corpus-wide ranked relation (~300 MB of shingle
    # rows) competes with the window/join execution memory of a
    # long-lived session. The lazy form recomputes the shingle subtree
    # per consumer and still wins; kept lazy.
    # r9 second pass (no persist this time): (a) df comes from a count
    # window over the SAME shingle exchange instead of a groupBy +
    # join-back — the join-back re-derived the whole scan+shingle
    # subtree for the dft side (the plan showed FOUR shingle pipelines
    # under the candidate join alone) and paid a SortMergeJoin sort;
    # (b) the candidate census (n_rep_candidates) is FUSED into the
    # verify aggregate as an unconditional count — the separate
    # cand.agg() branch re-executed the entire prefix self-join
    # pipeline a second time (23 parquet scans total before, zero
    # ReusedExchange anywhere).
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy(F.md5("text").alias("ck")).agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n_mem")
    )
    # r9: classes sits under EVERY lazy re-execution of the shingle
    # subtree (both prefix sides + both set lookups) plus mem x2 and
    # wth — ~7 scan+md5-aggregate runs. Narrow and distinct-content-
    # bounded (the batch-16 keep shape, NOT the rejected corpus-wide
    # ranked-shingle persist): eager checkpoint measured 5.41/5.50/5.49
    # lazy vs 5.06/5.09/5.35 checkpointed (alternating, min-of-3 x3).
    classes = cut_lineage(classes)
    reps = docs.join(
        classes.select(F.col("rep").alias("doc_id")).hint("shuffle_hash"),
        "doc_id",
    ).select("doc_id", "text")
    sh = shingle_explode(ensure_min_partitions(reps))
    # shingles are DISTINCT per doc (shingle_explode contract), so the
    # per-shingle row count IS the document frequency — same integers
    # as the groupBy form, one exchange instead of three subtrees.
    ranked = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .withColumn(
            "sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    prefix = ranked.where(
        F.expr("rn <= sz - (sz + 1) div 2 + 1")
    ).select("doc_id", "shingle", "sz")
    a, b = prefix.alias("a"), prefix.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                2 * F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.greatest(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("rep_a"),
            F.col("b.doc_id").alias("rep_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("s")).hint(
        "shuffle_hash"
    )
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    ver = (
        cand.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("rep_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("rep_b"))
        .select(
            "rep_a",
            "rep_b",
            (inter * 1000).alias("i1000"),
            (F.col("sz_a") + F.col("sz_b") - inter).alias("u"),
        )
        .select("rep_a", "rep_b", F.expr("i1000 div u").alias("jac_permille"))
    )
    # class sizes join rep-keyed and stay shuffled: |classes| scales
    # with distinct content, never broadcast-size by assumption.
    # r9: the n_mem lookups now join EVERY candidate row (not just the
    # qualifying ones) so the report can aggregate the candidate census
    # and the qualifying-pair stats in ONE pass over ONE execution of
    # the verify pipeline — candidates are prefix-filter-bounded, so
    # the extra joined rows are the same order as before; the old
    # cand.agg() branch cost a full second run of the prefix self-join.
    mem = classes.select("rep", "n_mem")
    qual = F.col("jac_permille") >= _AP_T_PERMILLE
    # INVARIANT (r9 advice): n_rep_candidates is counted from verm, not
    # cand — value-identical ONLY because every candidate rep_a/rep_b is
    # guaranteed present in sets and classes (1:1 inner joins; cand reps
    # come from the same prefix relation that feeds sets, and classes
    # holds every rep). Filtering sets or mem would silently deflate
    # the candidate census; keep those joins unfiltered.
    verm = (
        ver.join(
            mem.select(
                F.col("rep").alias("rep_a"), F.col("n_mem").alias("n_a")
            ).hint("shuffle_hash"),
            "rep_a",
        )
        .join(
            mem.select(
                F.col("rep").alias("rep_b"), F.col("n_mem").alias("n_b")
            ).hint("shuffle_hash"),
            "rep_b",
        )
    )
    agg = verm.agg(
        F.count(F.lit(1)).alias("n_rep_candidates"),
        F.count(F.when(qual, F.lit(1))).alias("n_rep_pairs"),
        F.coalesce(
            F.sum(F.when(qual, F.expr("n_a * n_b"))), F.lit(0)
        ).alias("n_doc_pairs_cross"),
        F.coalesce(F.max(F.when(qual, F.col("jac_permille"))), F.lit(0)).alias(
            "max_jac_permille"
        ),
        F.coalesce(F.sum(F.when(qual, F.col("jac_permille"))), F.lit(0)).alias(
            "sum_jac_permille"
        ),
    )
    wth = classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.expr("sum((n_mem * (n_mem - 1)) div 2)").alias("n_doc_pairs_within"),
        F.sum("n_mem").alias("n_docs"),
    )
    return (
        wth.crossJoin(F.broadcast(agg))
        .select(
            "n_docs",
            "n_classes",
            "n_rep_candidates",
            "n_rep_pairs",
            "n_doc_pairs_cross",
            "n_doc_pairs_within",
            F.expr("n_doc_pairs_cross + n_doc_pairs_within").alias(
                "n_doc_pairs_total"
            ),
            "max_jac_permille",
            "sum_jac_permille",
        )
    )


# -- exact-substring duplication census (sliding word windows) ---------------

_SUB_W = 8  # window width in words (Lee et al. use 50 BPE tokens)
_SUB_FLAG_PPM = 500_000  # doc flagged when >50% of its windows repeat


@query(
    "dedup_substring_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    wins AS (
        SELECT doc_id, source,
               MD5(array_to_string(w[i.g : i.g + {_SUB_W} - 1], ' ')) AS wh
        FROM toks, LATERAL (
            SELECT UNNEST(GENERATE_SERIES(1, len(w) - {_SUB_W} + 1)) AS g) i
        WHERE len(w) >= {_SUB_W}),
    freq AS (
        SELECT wh, COUNT(DISTINCT doc_id) AS n_docs_w
        FROM wins GROUP BY wh),
    per_doc AS (
        SELECT v.doc_id, v.source, COUNT(*) AS n_windows,
               SUM(CASE WHEN f.n_docs_w >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM wins v JOIN freq f USING (wh)
        GROUP BY v.doc_id, v.source)
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(n_windows) AS n_windows,
           SUM(n_dup) AS n_dup_windows,
           SUM(CASE WHEN n_dup * 1000000 // n_windows >= {_SUB_FLAG_PPM}
                    THEN 1 ELSE 0 END) AS n_docs_flagged,
           SUM(n_dup) * 1000000 // SUM(n_windows) AS dup_window_ppm
    FROM per_doc GROUP BY source
    """,
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication census — the sliding-window pass of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every {_SUB_W}-word window is hashed; a window occurring
    in >= 2 DISTINCT docs anywhere in the corpus (cross-source, unlike
    text_boilerplate's per-source block segments) marks a duplicated
    span. Reports, per source, the duplicated-window load and how many
    docs are majority-duplicated — the metric that decides whether a
    corpus needs span-level (not doc-level) dedup.

    Scale shape — CLASS FORM (the sim_knn_classes law applied at birth
    was missed; the first pair-per-doc plan measured 417 s at sf10 and
    died at sf30 under the planted 100x duplication): docs collapse to
    (md5(text), source) classes FIRST, the window explode runs over
    class REPRESENTATIVES only (|distinct content|, immune to the
    duplication factor), and every census column expands back by class
    arithmetic — identical texts have identical windows, so per-doc
    occurrence counts, dup flags, and the distinct-doc count per window
    (sum of n_mem over classes containing it, deduped per class) are
    exact for every member. Window hashes collapse to md5 BEFORE the
    exchanges; the one self-join is co-partitioned on wh. No pair
    dump: a window shared by 10k docs is one freq row, never 10k^2
    pairs."""
    d = load_table(spark, sf_dir, "documents")
    classes = d.groupBy(F.md5("text").alias("ck"), "source").agg(
        F.count(F.lit(1)).alias("n_mem"),
        # all texts in a class are byte-identical (md5 key): first() is
        # value-deterministic here
        F.first("text").alias("text"),
    )
    wins = (
        classes.select(
            "ck", "source", "n_mem", F.split("text", " ").alias("w")
        )
        .where(F.size("w") >= _SUB_W)
        .select(
            "ck",
            "source",
            "n_mem",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {_SUB_W} + 1),"
                    f" g -> md5(array_join(slice(w, g, {_SUB_W}), ' ')))"
                )
            ).alias("wh"),
        )
    )
    # distinct docs containing a window = sum of member counts over the
    # DISTINCT class rows whose representative contains it. Class rows
    # are keyed (ck, source): the SAME content under two sources is two
    # rows, so source must stay in the dedup key — dropping it collapsed
    # equal-n_mem rows and undercounted docs (r8 fix; the planted
    # fixtures never produced that shape, the cross-source pytest does)
    freq = (
        wins.select("ck", "source", "n_mem", "wh")
        .distinct()
        .groupBy("wh")
        .agg(F.sum("n_mem").alias("n_docs_w"))
    )
    per_cls = (
        wins.join(freq, "wh")
        .groupBy("ck", "source", "n_mem")
        .agg(
            F.count(F.lit(1)).alias("nw_rep"),
            F.sum(
                F.when(F.col("n_docs_w") >= 2, 1).otherwise(0)
            ).alias("nd_rep"),
        )
    )
    return per_cls.groupBy("source").agg(
        F.sum("n_mem").alias("n_docs"),
        F.sum(F.col("nw_rep") * F.col("n_mem")).alias("n_windows"),
        F.sum(F.col("nd_rep") * F.col("n_mem")).alias("n_dup_windows"),
        F.sum(
            F.when(
                F.expr("nd_rep * 1000000 div nw_rep") >= _SUB_FLAG_PPM,
                F.col("n_mem"),
            ).otherwise(0)
        ).alias("n_docs_flagged"),
        F.expr(
            "sum(nd_rep * n_mem) * 1000000 div sum(nw_rep * n_mem)"
        ).alias("dup_window_ppm"),
    )


# --------------------------------------------------------------------------
# dedup_span_removal: the actionable span-level dedup plan (Lee et al.)
# --------------------------------------------------------------------------
@query(
    "dedup_span_removal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    wins AS (
        SELECT doc_id, g.g,
               MD5(array_to_string(w[g.g : g.g + {_SUB_W} - 1], ' ')) AS wh
        FROM toks, LATERAL (
            SELECT UNNEST(GENERATE_SERIES(1, len(w) - {_SUB_W} + 1)) AS g) g
        WHERE len(w) >= {_SUB_W}),
    dupwh AS (
        SELECT wh FROM wins GROUP BY wh
        HAVING COUNT(DISTINCT doc_id) >= 2),
    dupst AS (
        SELECT DISTINCT v.doc_id, v.g FROM wins v
        JOIN dupwh USING (wh)),
    wp AS (
        SELECT t.doc_id, t.source, p.p, LENGTH(t.w[p.p]) AS wlen
        FROM toks t, LATERAL (
            SELECT UNNEST(GENERATE_SERIES(1, len(t.w))) AS p) p),
    cov AS (
        SELECT wp.doc_id, wp.source, wp.wlen,
               COALESCE(MAX(CASE WHEN d.g IS NOT NULL THEN 1 END)
                   OVER (PARTITION BY wp.doc_id ORDER BY wp.p
                         RANGE BETWEEN {_SUB_W - 1} PRECEDING
                               AND CURRENT ROW), 0) AS covered
        FROM wp LEFT JOIN dupst d
          ON d.doc_id = wp.doc_id AND d.g = wp.p),
    per_doc AS (
        SELECT doc_id, source, COUNT(*) AS n_words,
               SUM(covered) AS n_cut,
               SUM((wlen + 1) * covered) AS chars_cut,
               MAX(covered) AS affected
        FROM cov GROUP BY doc_id, source)
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(affected) AS n_docs_affected,
           SUM(n_words) AS words_total,
           SUM(n_cut) AS words_cut,
           SUM(chars_cut) AS chars_cut,
           SUM(n_cut) * 1000000 // SUM(n_words) AS cut_ppm
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE form of exact-substring dedup (Lee et al. 2022):
    where dedup_substring_windows reports the duplication load, this
    computes the removal PLAN — for every document, which words fall
    inside some cross-doc-duplicated {_SUB_W}-word window (the spans
    the dedup pass would cut) — and the per-source bill: documents
    touched, words cut, characters reclaimed, cut rate in ppm.

    Coverage without a per-span join: a word at position p is covered
    iff SOME duplicated window STARTS in [p-{_SUB_W - 1}, p]; that is
    ONE range-frame window (MAX over the start flags) per document —
    group size bounded by document length, never by corpus size — so
    overlapping duplicated windows merge into maximal spans for free,
    with no interval-merge loop and no explode of window membership.

    Scale shape — class form (the dedup_substring_windows law): docs
    collapse to (md5(text), source) content classes FIRST; the window
    explode, dup-start flags, and the coverage window all run over
    class REPRESENTATIVES (|distinct content|, immune to the planted
    100x duplication); every census column expands back by class
    arithmetic. The only corpus-width work is the class groupBy. The
    duplicated-window set stays hash-keyed (16-byte md5) through its
    one co-partitioned equi-join; no pair relation anywhere.

    Exactness: all counts integer; cut rate is integer ppm; the
    chars_cut accounting charges each cut word its length + one
    separator (documented over-count of one separator per span edge,
    identical in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    classes = d.groupBy(F.md5("text").alias("ck"), "source").agg(
        F.count(F.lit(1)).alias("n_mem"),
        F.first("text").alias("text"),
    )
    toks = classes.select(
        "ck", "source", "n_mem", F.split("text", " ").alias("w")
    )
    wins = toks.where(F.size("w") >= _SUB_W).select(
        "ck",
        "source",
        "n_mem",
        F.expr(
            f"explode(transform(sequence(1, size(w) - {_SUB_W} + 1),"
            f" g -> struct(g as g, md5(array_join(slice(w, g, {_SUB_W}), ' ')) as wh)))"
        ).alias("e"),
    ).select("ck", "source", "n_mem", "e.g", "e.wh")
    # distinct docs per window hash: dedupe within each (ck, source)
    # class row, then expand by member count (source stays in the key —
    # the r8 substring-windows fix)
    dupwh = (
        wins.select("ck", "source", "n_mem", "wh")
        .distinct()
        .groupBy("wh")
        .agg(F.sum("n_mem").alias("n_docs_w"))
        .where(F.col("n_docs_w") >= 2)
        .select("wh")
    )
    dupst = (
        wins.join(dupwh, "wh")
        .select("ck", "source", "g")
        .distinct()
        .withColumn("dupf", F.lit(1))
    )
    wp = toks.select(
        "ck",
        "source",
        "n_mem",
        F.posexplode("w").alias("p0", "wrd"),
    ).select(
        "ck",
        "source",
        "n_mem",
        (F.col("p0") + 1).alias("p"),
        F.length("wrd").alias("wlen"),
    )
    wcov = (
        Window.partitionBy("ck", "source")
        .orderBy("p")
        .rangeBetween(-(_SUB_W - 1), 0)
    )
    cov = (
        wp.join(
            dupst,
            (wp.ck == dupst.ck)
            & (wp.source == dupst.source)
            & (wp.p == dupst.g),
            "left",
        )
        .select(wp.ck, wp.source, wp.n_mem, wp.p, wp.wlen, dupst.dupf)
        .withColumn("covered", F.coalesce(F.max("dupf").over(wcov), F.lit(0)))
    )
    per_cls = cov.groupBy("ck", "source", "n_mem").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("covered").alias("n_cut"),
        F.sum(F.expr("(wlen + 1) * covered")).alias("chars_cut"),
        F.max("covered").alias("affected"),
    )
    return (
        per_cls.groupBy("source")
        .agg(
            F.sum("n_mem").alias("n_docs"),
            F.sum(F.expr("affected * n_mem")).alias("n_docs_affected"),
            F.sum(F.expr("n_words * n_mem")).alias("words_total"),
            F.sum(F.expr("n_cut * n_mem")).alias("words_cut"),
            F.sum(F.expr("chars_cut * n_mem")).alias("chars_cut"),
            F.expr(
                "sum(n_cut * n_mem) * 1000000 div sum(n_words * n_mem)"
            ).alias("cut_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# dedup_clusters_classes: connected components in class form
# --------------------------------------------------------------------------
@query(
    "dedup_clusters_classes",
    oracle=f"""
    WITH RECURSIVE classes AS MATERIALIZED (
        SELECT MD5(text) AS ck, MIN(doc_id) AS rep, COUNT(*) AS n_mem
        FROM documents GROUP BY ck),
    reps AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d JOIN classes c ON d.doc_id = c.rep),
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM reps),
    shingles AS MATERIALIZED (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3),
    sigs AS (
        SELECT doc_id,
{_MINHASH_AGG_ORACLE}
        FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id,
               UNNEST([{_BANDS_ORACLE}]) AS band_key,
               UNNEST(GENERATE_SERIES(0, {N_HASHES // BAND_SIZE - 1})) AS band_id
        FROM sigs),
    cands AS (
        SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    sets AS MATERIALIZED (
        SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id),
    ver AS (
        SELECT c.rep_a, c.rep_b
        FROM cands c JOIN sets sa ON sa.doc_id = c.rep_a
                     JOIN sets sb ON sb.doc_id = c.rep_b
        WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1000
                  // LEN(LIST_DISTINCT(sa.s || sb.s))
              >= {VERIFY_J_PERMILLE}),
    selfnodes AS (
        -- shingled classes with >= 2 members: their within-class pairs
        -- exist in the pair form, so the class is a component even with
        -- no cross-class edge (gram-free classes emit nothing, matching
        -- the pair form exactly)
        SELECT c.rep FROM classes c JOIN sets s ON s.doc_id = c.rep
        WHERE c.n_mem >= 2),
    edges AS MATERIALIZED (
        SELECT rep_a AS src, rep_b AS dst FROM ver
        UNION ALL SELECT rep_b, rep_a FROM ver
        UNION ALL SELECT rep, rep FROM selfnodes),
    reach AS (
        SELECT src AS rep, src AS comp FROM edges
        UNION
        SELECT e.dst AS rep, r.comp
        FROM reach r JOIN edges e ON e.src = r.rep),
    comps AS (
        SELECT rep, MIN(comp) AS cluster_id FROM reach GROUP BY rep),
    cstat AS (
        SELECT p.cluster_id, SUM(c.n_mem) AS cluster_size
        FROM comps p JOIN classes c ON c.rep = p.rep
        GROUP BY p.cluster_id)
    SELECT d.doc_id, p.cluster_id, s.cluster_size,
           d.doc_id = p.cluster_id AS is_canonical
    FROM documents d
    JOIN classes c ON MD5(d.text) = c.ck
    JOIN comps p ON p.rep = c.rep
    JOIN cstat s ON s.cluster_id = p.cluster_id
    """,
)
def dedup_clusters_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution in CLASS form — the production
    default at high duplication (the same re-plan law as
    dedup_minhash_classes/sim_knn_classes, applied to connected
    components): exact-dup classes collapse FIRST, hash-to-min label
    propagation runs over class REPRESENTATIVES (edges = verified rep
    pairs + a self-loop per multi-member shingled class), and the
    per-document rows expand back through the doc->class->component
    joins. Output is row-for-row IDENTICAL to dedup_clusters (pytest
    pins it): component ids are min reachable doc ids because every
    class representative IS its class's min doc id, and identical
    texts always land in the same component via their class.

    Why: the r8 growth table caught dedup_clusters' pair
    materialization ENOSPC-ing at sf30 (the planted 300x duplication
    makes the pair dump quadratic in class size — 66 GB of shuffle
    before the first propagation round). Here the propagation graph is
    linear in DISTINCT near-dup content: a 300-member class is ONE
    node with a self-loop, and the only corpus-width work is the class
    groupBy and the final expansion joins (both linear, both keyed).

    Bonus at the 100x evidence rung: the DuckDB oracle's recursive CTE
    now walks the REP graph (tiny), so the class form is strict-
    verifiable at sf10 where the pair form needed a tier-3 invariant
    check (oracle-side >90 GB)."""
    classes, doc_agg, ver = _minhash_class_core(spark, sf_dir)
    labels = _class_components(classes, doc_agg, ver)
    cstat = (
        labels.join(classes, labels.node == classes.rep)
        .groupBy("comp")
        .agg(F.sum("n_mem").alias("cluster_size"))
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("ck"))
        .join(classes.select("ck", "rep").hint("shuffle_hash"), "ck")
        .join(labels, F.col("rep") == labels.node)
        .join(cstat, "comp")
        .select(
            "doc_id",
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("comp")).alias("is_canonical"),
        )
    )


def _class_components(
    classes: DataFrame, doc_agg: DataFrame, ver: DataFrame
) -> DataFrame:
    """Connected components over class REPRESENTATIVES: edges are the
    verified rep pairs plus one self-loop per multi-member shingled
    class (whose within-class pairs exist in the pair form). Returns
    (node=rep, comp=min reachable rep). Shared by
    dedup_clusters_classes and dedup_keep_best_classes."""
    selfnodes = (
        classes.where(F.col("n_mem") >= 2)
        .join(
            doc_agg.select(F.col("doc_id").alias("rep")).hint("shuffle_hash"),
            "rep",
            "left_semi",
        )
        .select(F.col("rep").alias("src"), F.col("rep").alias("dst"))
    )
    edges = ver.select(
        F.col("rep_a").alias("src"), F.col("rep_b").alias("dst")
    ).unionByName(selfnodes)
    return connected_components(edges)


@query(
    "dedup_keep_best_classes",
    oracle=f"""
    WITH RECURSIVE classes AS MATERIALIZED (
        SELECT MD5(text) AS ck, MIN(doc_id) AS rep, COUNT(*) AS n_mem
        FROM documents GROUP BY ck),
    reps AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d JOIN classes c ON d.doc_id = c.rep),
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM reps),
    shingles AS MATERIALIZED (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3),
    sigs AS (
        SELECT doc_id,
{_MINHASH_AGG_ORACLE}
        FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id,
               UNNEST([{_BANDS_ORACLE}]) AS band_key,
               UNNEST(GENERATE_SERIES(0, {N_HASHES // BAND_SIZE - 1})) AS band_id
        FROM sigs),
    cands AS (
        SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
    sets AS MATERIALIZED (
        SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id),
    ver AS (
        SELECT c.rep_a, c.rep_b
        FROM cands c JOIN sets sa ON sa.doc_id = c.rep_a
                     JOIN sets sb ON sb.doc_id = c.rep_b
        WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1000
                  // LEN(LIST_DISTINCT(sa.s || sb.s))
              >= {VERIFY_J_PERMILLE}),
    selfnodes AS (
        SELECT c.rep FROM classes c JOIN sets s ON s.doc_id = c.rep
        WHERE c.n_mem >= 2),
    edges AS MATERIALIZED (
        SELECT rep_a AS src, rep_b AS dst FROM ver
        UNION ALL SELECT rep_b, rep_a FROM ver
        UNION ALL SELECT rep, rep FROM selfnodes),
    reach AS (
        SELECT src AS rep, src AS comp FROM edges
        UNION
        SELECT e.dst AS rep, r.comp
        FROM reach r JOIN edges e ON e.src = r.rep),
    comps AS (
        SELECT rep, MIN(comp) AS cluster_id FROM reach GROUP BY rep),
    scored AS (
        SELECT r.doc_id AS rep,
               LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(r.text, ' '),
                   w -> CAST(CONCAT('0x', SUBSTR(MD5(w), 1, 7)) AS BIGINT)
                        % 1024 % 7 - 3)) AS score
        FROM reps r),
    ranked AS (
        SELECT p.cluster_id, p.rep, s.score, c.n_mem,
               ROW_NUMBER() OVER (PARTITION BY p.cluster_id
                                  ORDER BY s.score DESC, p.rep) AS rk
        FROM comps p JOIN scored s ON s.rep = p.rep
                     JOIN classes c ON c.rep = p.rep)
    SELECT cluster_id,
           MAX(CASE WHEN rk = 1 THEN rep END) AS keeper_doc_id,
           MAX(CASE WHEN rk = 1 THEN score END) AS keeper_score,
           SUM(n_mem) AS n_docs,
           SUM(n_mem) - 1 AS n_dropped
    FROM ranked GROUP BY cluster_id
    """,
)
def dedup_keep_best_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection in CLASS form — dedup_keep_best
    re-planned collapse-first: components run over class
    representatives (_class_components), the quality score is computed
    once per DISTINCT text (identical texts score identically, so the
    class's best member is its min doc id = the rep), and the
    per-cluster census expands by class arithmetic (n_docs = sum of
    member counts). Row-for-row identical to dedup_keep_best (pytest
    pins it on a 3x-duplicated corpus): the keeper is the rep of the
    best-scoring class, with the (score DESC, doc_id ASC) tie-break
    preserved because every class's lowest-id member IS its rep.

    Scale: same story as dedup_clusters_classes — the propagation
    graph and the scoring scan are linear in DISTINCT content, immune
    to the duplication factor that makes the pair form quadratic; and
    the oracle's recursive CTE walks the rep graph, so this form is
    strict-verifiable at sf10 where dedup_keep_best needed a tier-3
    invariant."""
    from curatorhadoopinterface_spark.operators.textstats import _FEAT_W_SPARK

    classes, doc_agg, ver = _minhash_class_core(spark, sf_dir)
    labels = _class_components(classes, doc_agg, ver)
    docs = load_table(spark, sf_dir, "documents")
    reps = docs.join(
        classes.select(F.col("rep").alias("doc_id")).hint("shuffle_hash"),
        "doc_id",
    ).select(F.col("doc_id").alias("rep"), "text")
    scored = reps.select(
        "rep",
        F.expr(
            "aggregate(transform(split(text, ' '),"
            f" w -> cast({_FEAT_W_SPARK} as bigint)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("score"),
    )
    ranked = (
        labels.join(scored, labels.node == scored.rep)
        .join(classes.select("rep", "n_mem"), "rep")
        .select(F.col("comp").alias("cluster_id"), "rep", "score", "n_mem")
    )
    # r9: argmax via max_by (see dedup_keep_best) — identical keeper
    # (score DESC, rep ASC), one aggregation instead of window+agg.
    return ranked.groupBy("cluster_id").agg(
        F.expr("max_by(rep, struct(score, -rep))").alias("keeper_doc_id"),
        F.max("score").alias("keeper_score"),
        F.sum("n_mem").alias("n_docs"),
        (F.sum("n_mem") - 1).alias("n_dropped"),
    )
