"""Embedding similarity search (SURVEY.md section 2C `sim_topk` row and the
LLM-pipeline extension list: ANN over an ``array<float>`` column).

Four query families over the ``embeddings`` table (64-dim float vectors):

- sim_topk:           brute-force cosine top-k — the exactness baseline.
  Query set is broadcast, so the big side never shuffles: at 100 TB this
  is one scan with a map-side join, and the per-query top-k is a
  partial-aggregated window (k rows per query per partition survive).
- sim_lsh_topk:       sign-bit LSH — bucket = sign pattern of the first
  8 dimensions (8 axis-aligned hyperplanes). Candidates share the
  bucket, so the join is equi on bucket key: shuffle moves buckets,
  not the cross product. The scale path for query sets too large to
  broadcast.
- sim_ivf_topk:       IVF with nprobe=1 — coarse centroids are the
  per-``label`` mean vectors (the table's label column is the cluster
  assignment); a query searches only its own partition. Centroid table
  is tiny (one row per label) and broadcast both times it is used.
- dedup_embed_cosine: near-duplicate pairs (cosine >= threshold) found
  within LSH buckets — embedding-space analogue of dedup_minhash.

Determinism contract (what makes these oracle-checkable): every dot
product is a SEQUENTIAL left fold over the array after an exact
float->double widening, identically ordered in Spark
(``aggregate(zip_with(...))``) and DuckDB (``list_dot_product`` /
``list_reduce``, both sequential loops); cosines are rounded to 6
decimals IN the query before any ranking, and ranking ties break on
vec_id — so rank order can never depend on sub-1e-6 float dust.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from curatorhadoopinterface_spark.functions.vec import (
    dot_double,
    dot_float_as_double,
)
from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import cut_lineage, load_table

_DIM = 64  # embeddings fixture dimension (FIXTURES.md)

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
LSH_BITS = 8  # sign of dims 0..7 -> 256 buckets
NEARDUP_COS = 0.35  # calibrated to the synthetic fixture (real corpora: ~0.95+)


def _dot(a: str, b: str):
    """Sequential-fold dot product in double precision (deterministic).

    r9: unrolled left-associative form (functions/vec.py) — value-
    identical to the aggregate(zip_with(...)) fold (same IEEE addition
    sequence), but whole-stage-codegen'd instead of interpreted."""
    return F.expr(dot_float_as_double(a, b, _DIM))


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.sqrt(_dot("embedding", "embedding")))


def _cosine(pref_a: str, pref_b: str):
    return F.round(
        _dot(f"{pref_a}.embedding", f"{pref_b}.embedding")
        / (F.col(f"{pref_a}.norm") * F.col(f"{pref_b}.norm")),
        6,
    )


# Oracle-side building blocks. list_dot_product on DOUBLE[] is the same
# sequential multiply-add loop as the Spark fold (verified equal to the
# explicit list_reduce fold); the cast FLOAT[] -> DOUBLE[] is exact.
_O_BASE = """
    base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e,
               SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings)
"""


def _o_cos(a: str, b: str) -> str:
    return f"ROUND(list_dot_product({a}.e, {b}.e) / ({a}.norm * {b}.norm), 6)"


@query(
    "sim_topk",
    oracle=f"""
    WITH {_O_BASE},
    q AS (SELECT * FROM base WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_o_cos('q', 'c')} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_o_cos('q', 'c')} DESC, c.vec_id) AS rk
        FROM q JOIN base c ON c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cosine, rk
    FROM scored WHERE rk <= {TOP_K}
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set over one corpus
    scan, window top-k per query. The exact-answer baseline every ANN
    variant is measured against."""
    base = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = base.filter(F.col("vec_id") < N_QUERIES)
    joined = (
        F.broadcast(q.select(F.col("vec_id").alias("query_id"), "embedding", "norm")).alias("q")
        .join(base.alias("c"), F.col("c.vec_id") != F.col("q.query_id"))
    )
    scored = joined.select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        _cosine("q", "c").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


# -- LSH: bucket key = sign bits of the first LSH_BITS dimensions ------------

_SPARK_BUCKET = (
    "concat_ws('', transform(slice(embedding, 1, " + str(LSH_BITS) + "),"
    " x -> case when x >= cast(0 as float) then '1' else '0' end))"
)
_O_BUCKET = (
    "LIST_AGGREGATE(LIST_TRANSFORM(embedding[1:" + str(LSH_BITS) + "],"
    " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '')"
)


@query(
    "sim_lsh_topk",
    oracle=f"""
    WITH {_O_BASE},
    bucketed AS (
        SELECT b.*, {_O_BUCKET} AS bucket
        FROM base b JOIN embeddings USING (vec_id)),
    q AS (SELECT * FROM bucketed WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_o_cos('q', 'c')} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_o_cos('q', 'c')} DESC, c.vec_id) AS rk
        FROM q JOIN bucketed c
          ON c.bucket = q.bucket AND c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cosine, rk
    FROM scored WHERE rk <= {TOP_K}
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates must share the 8-hyperplane sign
    bucket, making the join equi on the bucket key — a shuffle keyed by
    256 buckets instead of a broadcast cross product. The variant that
    scales when the query side is itself huge."""
    base = _with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", F.expr(_SPARK_BUCKET)
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket"),
        F.col("embedding"),
        F.col("norm"),
    )
    joined = q.alias("q").join(
        base.alias("c"),
        (F.col("c.bucket") == F.col("q.bucket")) & (F.col("c.vec_id") != F.col("q.query_id")),
    )
    scored = joined.select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        _cosine("q", "c").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


# -- IVF (nprobe=1): coarse centroids = per-label mean vectors ---------------

# Element-wise mean via index explode keeps summation order defined by
# GROUP BY — so both engines must round (4 decimals) the centroid
# coordinates to kill summation-order dust BEFORE the assignment dot
# products.
@query(
    "sim_ivf_topk",
    oracle=f"""
    WITH {_O_BASE},
    cent AS (
        SELECT label,
               LIST(ROUND(s, 4) ORDER BY i) AS ce
        FROM (
            SELECT label, i, SUM(e[i]) / COUNT(*) AS s
            FROM base, UNNEST(GENERATE_SERIES(1, 64)) AS t(i)
            GROUP BY label, i)
        GROUP BY label),
    q AS (SELECT * FROM base WHERE vec_id < {N_QUERIES}),
    assign AS (
        SELECT q.vec_id, q.e, q.norm, c.label,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_dot_product(q.e, c.ce), 6) DESC, c.label) AS rk
        FROM q CROSS JOIN cent c),
    probed AS (SELECT * FROM assign WHERE rk = 1),
    scored AS (
        SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_dot_product(p.e, c.e) / (p.norm * c.norm), 6) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY ROUND(list_dot_product(p.e, c.e) / (p.norm * c.norm), 6) DESC,
                            c.vec_id) AS rk
        FROM probed p JOIN base c
          ON c.label = p.label AND c.vec_id <> p.vec_id)
    SELECT query_id, neighbor_id, cosine, rk
    FROM scored WHERE rk <= {TOP_K}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search, nprobe=1: assign each query to its nearest coarse
    centroid (per-label mean vector), then search only that inverted
    list. Centroids are one row per label — broadcast for assignment;
    the list probe is an equi join on label. At 100 TB the corpus would
    be PARTITIONED BY label so the probe prunes partitions at the scan."""
    base = _with_norm(load_table(spark, sf_dir, "embeddings"))
    # centroid = element-wise mean, rounded so summation order is moot
    cent = (
        base.select("label", F.posexplode(F.expr("transform(embedding, x -> cast(x as double))")).alias("i", "v"))
        .groupBy("label", "i")
        .agg((F.sum("v") / F.count("*")).alias("s"))
        .groupBy("label")
        .agg(F.expr("transform(array_sort(collect_list(struct(i, s))), p -> round(p.s, 4))").alias("ce"))
    )
    q = base.filter(F.col("vec_id") < N_QUERIES)
    qdot = F.round(F.expr(dot_double("e", "ce", _DIM)), 6)
    assign = (
        q.select("vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("e"), "norm")
        .crossJoin(F.broadcast(cent))
        .withColumn("qc", qdot)
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("qc"), F.asc("label"))
    probed = (
        assign.withColumn("rk", F.row_number().over(w_assign))
        .filter(F.col("rk") == 1)
        .select("vec_id", "e", "norm", "label")
    )
    cos = F.round(
        F.expr(
            "aggregate(zip_with(p.e, transform(c.embedding, x -> cast(x as double)),"
            " (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)"
        )
        / (F.col("p.norm") * F.col("c.norm")),
        6,
    )
    scored = (
        F.broadcast(probed).alias("p")
        .join(
            base.alias("c"),
            (F.col("c.label") == F.col("p.label")) & (F.col("c.vec_id") != F.col("p.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


@query(
    "dedup_embed_cosine",
    oracle=f"""
    WITH {_O_BASE},
    bucketed AS (
        SELECT b.*, {_O_BUCKET} AS bucket
        FROM base b JOIN embeddings USING (vec_id))
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_o_cos('a', 'b')} AS cosine
    FROM bucketed a JOIN bucketed b
      ON b.bucket = a.bucket AND b.vec_id > a.vec_id
    WHERE {_o_cos('a', 'b')} >= {NEARDUP_COS}
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs: LSH-bucketed candidate join
    (equi on bucket, never all-pairs), exact cosine verify at the threshold."""
    bucketed = _with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", F.expr(_SPARK_BUCKET)
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cos = _cosine("a", "b")
    return (
        a.join(
            b,
            (F.col("b.bucket") == F.col("a.bucket")) & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .filter(cos >= NEARDUP_COS)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
    )


# -- ANN quality measurement: recall of the LSH path vs the exact baseline --

@query(
    "sim_ann_recall",
    oracle=f"""
    WITH {_O_BASE},
    q AS (SELECT * FROM base WHERE vec_id < {N_QUERIES}),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_o_cos('q', 'c')} DESC, c.vec_id) AS rk
            FROM q JOIN base c ON c.vec_id <> q.vec_id)
        WHERE rk <= {TOP_K}),
    bucketed AS (
        SELECT b.*, {_O_BUCKET} AS bucket
        FROM base b JOIN embeddings USING (vec_id)),
    bq AS (SELECT * FROM bucketed WHERE vec_id < {N_QUERIES}),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT bq.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY bq.vec_id
                       ORDER BY {_o_cos('bq', 'c')} DESC, c.vec_id) AS rk
            FROM bq JOIN bucketed c
              ON c.bucket = bq.bucket AND c.vec_id <> bq.vec_id)
        WHERE rk <= {TOP_K}),
    hits AS (
        SELECT e.query_id, COUNT(*) AS n_overlap
        FROM exact e JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id)
    SELECT e.query_id,
           COUNT(*) AS n_exact,
           COALESCE(MIN(h.n_overlap), 0) AS n_overlap,
           ROUND(COALESCE(MIN(h.n_overlap), 0) * 1.0 / {TOP_K}, 4) AS recall
    FROM exact e LEFT JOIN hits h ON h.query_id = e.query_id
    GROUP BY e.query_id
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH path against the brute-force baseline — the
    metric ANN indexes are actually judged by, computed as a QUERY so it
    runs on the production corpus itself (both engines compute the same
    deterministic pipelines, so the whole recall table is value-checked,
    not just a tolerance flag).

    Shape at 100 TB: the exact side is the expensive one (broadcast
    cross-scan), but this runs on a SAMPLE of queries (vec_id <
    N_QUERIES) — the standard recall-estimation protocol: you never need
    exact answers for every query, only for enough sampled queries to
    estimate recall. Both sides reuse the same single corpus scan."""
    exact = sim_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = sim_lsh_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / TOP_K, 4).alias("recall"),
        )
    )


@query(
    "dedup_embed_cosine_census",
    oracle=f"""
    WITH {_O_BASE},
    bucketed AS MATERIALIZED (
        SELECT b.*, {_O_BUCKET} AS bucket
        FROM base b JOIN embeddings USING (vec_id)),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_o_cos('a', 'b')} AS cosine
        FROM bucketed a JOIN bucketed b
          ON b.bucket = a.bucket AND b.vec_id > a.vec_id),
    pair_stats AS (
        SELECT COUNT(*) AS n_candidates,
               SUM(CASE WHEN cosine >= {NEARDUP_COS} THEN 1 ELSE 0 END)
                   AS n_dup_pairs,
               COUNT(DISTINCT CASE WHEN cosine >= {NEARDUP_COS}
                                   THEN vec_b END) AS n_dropped
        FROM pairs),
    bucket_stats AS (
        SELECT COUNT(*) AS n_buckets, MAX(n) AS max_bucket
        FROM (SELECT bucket, COUNT(*) AS n FROM bucketed GROUP BY bucket)),
    corpus AS (SELECT COUNT(*) AS n_vecs FROM bucketed)
    SELECT c.n_vecs, b.n_buckets, b.max_bucket,
           p.n_candidates, p.n_dup_pairs, p.n_dropped
    FROM corpus c CROSS JOIN bucket_stats b CROSS JOIN pair_stats p
    """,
)
def dedup_embed_cosine_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The census twin of dedup_embed_cosine: the SAME LSH-bucketed
    candidate join and exact-cosine verify, aggregated to one summary
    row (candidates, verified dup pairs, lower-id-wins drops, bucket
    profile) instead of the raw pair dump. This is the form the sf10+
    scale rung sweeps — at 100x the pair table is tens of millions of
    rows, where a strict value-diff measures result canonicalization
    rather than engine work (sweep_sf10 exclusion policy); the census
    exercises the identical join plan with an O(1) output.

    Scale shape: candidates partial-count inside the bucket-equi join's
    exchange; the distinct-drop count is the only second aggregate, and
    the three 1-row stat tables cross via broadcast (graph_triangles
    precedent — BNLJ of one-row sides, never a cartesian of data).
    """
    bucketed = _with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", F.expr(_SPARK_BUCKET)
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cos = _cosine("a", "b")
    pairs = a.join(
        b,
        (F.col("b.bucket") == F.col("a.bucket"))
        & (F.col("b.vec_id") > F.col("a.vec_id")),
    ).select(cos.alias("cosine"), F.col("b.vec_id").alias("vec_b"))
    pair_stats = pairs.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("cosine") >= NEARDUP_COS, 1).otherwise(0)).alias(
            "n_dup_pairs"
        ),
        F.countDistinct(
            F.when(F.col("cosine") >= NEARDUP_COS, F.col("vec_b"))
        ).alias("n_dropped"),
    )
    bucket_stats = (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.count(F.lit(1)).alias("n_buckets"), F.max("n").alias("max_bucket"))
    )
    corpus = bucketed.agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        corpus.crossJoin(F.broadcast(bucket_stats))
        .crossJoin(F.broadcast(pair_stats))
    )


# class key: md5 of the micro-quantized component string — integers
# render identically in both engines (float formatting would not)
_CLS_KEY_SPARK = (
    "md5(array_join(transform(embedding,"
    " x -> cast(cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)"
    " as string)), ','))"
)
_CLS_KEY_DUCK = (
    "MD5(ARRAY_TO_STRING(LIST_TRANSFORM(embedding,"
    " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)), ','))"
)


@query(
    "sim_knn_graph",
    oracle=f"""
    WITH {_O_BASE},
    bkt AS (
        SELECT b.*, {_O_BUCKET} AS bucket
        FROM base b JOIN embeddings USING (vec_id)),
    scored AS (
        SELECT a.vec_id AS src, c.vec_id AS dst,
               ROUND(list_dot_product(a.e, c.e) / (a.norm * c.norm), 6)
                   AS cosine
        FROM bkt a JOIN bkt c
          ON c.bucket = a.bucket AND c.vec_id <> a.vec_id),
    edges AS (
        SELECT src, dst, cosine,
               CAST(FLOOR(cosine * 1e6 + 0.5) AS BIGINT) AS cos_micro
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY src ORDER BY cosine DESC, dst) AS rk
              FROM scored)
        WHERE rk <= {TOP_K}),
    mut AS (
        SELECT COUNT(*) AS n_mutual
        FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src),
    tot AS (SELECT COUNT(*) AS n_vectors FROM base),
    ncls AS (
        SELECT COUNT(DISTINCT {_CLS_KEY_DUCK}) AS n_classes
        FROM embeddings)
    SELECT t.n_vectors,
           COUNT(DISTINCT e.src) AS n_nodes,
           t.n_vectors - COUNT(DISTINCT e.src) AS n_isolated,
           COUNT(*) AS n_edges,
           m.n_mutual,
           SUM(e.cos_micro) // COUNT(*) AS mean_cosine_micro,
           t.n_vectors * 1000 // k.n_classes AS dup_factor_permille
    FROM edges e CROSS JOIN mut m CROSS JOIN tot t CROSS JOIN ncls k
    GROUP BY t.n_vectors, m.n_mutual, k.n_classes
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH construction census, DIAGNOSTIC form for
    already-deduplicated corpora — the PRODUCTION default is
    sim_knn_classes (below): this pair-shaped plan is QUADRATIC in the
    duplication factor (GROWTH_RATIO_r7 measured 8.68x wall at 3x data
    under 300x duplication; no join strategy fixes a pair-shaped
    output). The census now carries ``dup_factor_permille``
    (n_vectors * 1000 / distinct-embedding classes, 1000 = fully
    deduplicated) so the trap announces itself: above ~2000 switch to
    sim_knn_classes, whose candidate volume is bounded by distinct
    classes per bucket and whose result coincides with this one on a
    deduplicated corpus (pytest-pinned).

    Every vector (not just a query sample) finds its top-k cosine
    neighbors within its sign-bucket, and the census reports edge
    count, MUTUAL-edge count (a->b and b->a both in the graph — the
    symmetric-kNN signal SemDedup-style clustering consumes),
    isolation (vectors alone in their bucket), and mean neighbor
    cosine. The precursor statistic to any graph-based embedding
    dedup/clustering: if n_mutual is tiny or isolation is high, the
    bucket width is wrong for this corpus.

    Exactness: cosines round to 6dp off the deterministic sequential
    fold (the similarity.py contract), then quantize to integer micro
    units BEFORE the sum; the mean is an integer division; mutual
    edges are an exact equi self-join of the ranked edge set.

    Scale shape: candidates are bucket-equi (the sim_lsh_topk join,
    shuffle keyed by 2^{LSH_BITS} buckets — at 100 TB raise the plane
    count so per-bucket population stays bounded); the per-vector
    top-k is one window over the bucket-partitioned exchange (k rows
    per vector survive); the mutual join runs on the k*N edge set,
    never on candidates; report is 1-row aggregates crossed broadcast.
    The post-compute array-carrying sides are PINNED shuffled (the
    _minhash_core broadcast trap)."""
    base = _with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", F.expr(_SPARK_BUCKET)
    )
    a = base.alias("a")
    c = base.alias("c").hint("shuffle_hash")
    scored = a.join(
        c,
        (F.col("c.bucket") == F.col("a.bucket"))
        & (F.col("c.vec_id") != F.col("a.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("c.vec_id").alias("dst"),
        _cosine("a", "c").alias("cosine"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    edges = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "src",
            "dst",
            F.floor(F.col("cosine") * 1e6 + 0.5).cast("bigint").alias(
                "cos_micro"
            ),
        )
    )
    rev = edges.select(
        F.col("src").alias("dst"), F.col("dst").alias("src")
    )
    mut = edges.join(rev, ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_mutual")
    )
    tot = base.agg(F.count(F.lit(1)).alias("n_vectors"))
    # duplication self-announcement: distinct quantized-embedding
    # classes via the sim_knn_classes key — one map-side-partial
    # count-distinct over the same scan, constant exchange
    ncls = load_table(spark, sf_dir, "embeddings").agg(
        F.countDistinct(F.expr(_CLS_KEY_SPARK)).alias("n_classes")
    )
    return (
        edges.agg(
            F.countDistinct("src").alias("n_nodes"),
            F.count(F.lit(1)).alias("n_edges"),
            F.expr("sum(cos_micro) div count(1)").alias("mean_cosine_micro"),
        )
        .crossJoin(F.broadcast(mut))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ncls))
        .select(
            "n_vectors",
            "n_nodes",
            (F.col("n_vectors") - F.col("n_nodes")).alias("n_isolated"),
            "n_edges",
            "n_mutual",
            "mean_cosine_micro",
            F.expr("n_vectors * 1000 div n_classes").alias(
                "dup_factor_permille"
            ),
        )
        # Degenerate-corpus guard: with zero kNN edges the oracle's
        # GROUP BY over the empty edge join yields 0 rows; drop the
        # all-null census row so both sides agree on every input.
        .filter(F.col("n_edges") > 0)
    )


# Matryoshka (MRL) truncation ladder: recall@k when ranking by the
# FIRST P dimensions only, vs the full-dim exact baseline
_MRL_PREFIXES = (8, 16, 32)


def _mrl_oracle() -> str:
    parts = []
    rows = []
    for p in _MRL_PREFIXES:
        cos = (
            f"ROUND(list_dot_product(q.e[1:{p}], c.e[1:{p}]) /"
            f" (SQRT(list_dot_product(q.e[1:{p}], q.e[1:{p}]))"
            f" * SQRT(list_dot_product(c.e[1:{p}], c.e[1:{p}]))), 6)"
        )
        parts.append(f"""
    ap{p} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {cos} DESC, c.vec_id) AS rk
            FROM q JOIN base c ON c.vec_id <> q.vec_id)
        WHERE rk <= {TOP_K}),
    h{p} AS (
        SELECT e.query_id, COUNT(*) AS n_overlap
        FROM exact e JOIN ap{p} a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id),
    r{p} AS (
        SELECT {p} AS prefix_dim,
               COUNT(*) AS n_queries,
               SUM(COALESCE(h.n_overlap, 0)) * 1000
                   // (COUNT(*) * {TOP_K}) AS recall_permille,
               MIN(COALESCE(h.n_overlap, 0)) * 1000 // {TOP_K}
                   AS min_recall_permille
        FROM (SELECT DISTINCT query_id FROM exact) e
        LEFT JOIN h{p} h USING (query_id))""")
        rows.append(f"SELECT * FROM r{p}")
    return (
        f"WITH {_O_BASE},\n"
        f"    q AS (SELECT * FROM base WHERE vec_id < {N_QUERIES}),\n"
        f"""    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_o_cos('q', 'c')} DESC, c.vec_id) AS rk
            FROM q JOIN base c ON c.vec_id <> q.vec_id)
        WHERE rk <= {TOP_K}),"""
        + ",".join(parts)
        + "\n"
        + " UNION ALL ".join(rows)
        + "\nORDER BY prefix_dim"
    )


@query("emb_matryoshka_recall", oracle=_mrl_oracle())
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation-recall ladder (Kusupati et al. 2022): how
    much ANN recall survives when vectors are truncated to their first
    P dimensions (P = 8/16/32 of 64) — the dimension-budget curve that
    decides how small the serving index can be when embeddings are
    MRL-trained (prefix dims carry the signal). Complements the
    compression ladder sim_pq_recall measures for product quantization
    and emb_random_projection measures for JL projection: THREE
    compression families, one recall protocol.

    Exactness: the sim_ann_recall protocol verbatim — sampled query
    set, cosines rounded to 6dp before ranking, vec_id tie-break,
    recall as integer per-mille divisions; both engines replay the
    identical slices (Spark slice(e,1,P) == DuckDB e[1:P], both
    1-based inclusive).

    Scale shape: each rung is the sim_topk shape (broadcast query
    sample x one corpus scan, partial-agged window top-k) — the ladder
    shares the scan; no pair dump, census output is |prefixes| rows.
    At 100 TB the exact baseline runs on the query SAMPLE only (the
    standard recall-estimation protocol)."""
    base = _with_norm(load_table(spark, sf_dir, "embeddings"))
    exact = sim_topk(spark, sf_dir).select("query_id", "neighbor_id")
    # r9 measured-and-REVERTED: eagerly checkpointing exact (it feeds
    # one hits join per rung + the qids spine = 4 executions of the
    # sim_topk pipeline) measured 1.42 s lazy vs 1.60 s checkpointed
    # min (alternating A/B, 3 passes) — the query side is a broadcast
    # 10-row sample, so the duplicate corpus passes run concurrently
    # and the checkpoint barrier costs more (batch-14 lesson again).
    qids = exact.select("query_id").distinct()
    out = None
    for p in _MRL_PREFIXES:
        bp = base.select(
            "vec_id",
            F.expr(
                f"transform(slice(embedding, 1, {p}),"
                f" x -> cast(x as double))"
            ).alias("ep"),
        ).withColumn(
            "normp", F.sqrt(F.expr(dot_double("ep", "ep", p)))
        )
        q = bp.filter(F.col("vec_id") < N_QUERIES)
        scored = (
            F.broadcast(
                q.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("ep").alias("qe"),
                    F.col("normp").alias("qn"),
                )
            )
            .join(bp.alias("c"), F.col("c.vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("c.vec_id").alias("neighbor_id"),
                F.round(
                    F.expr(dot_double("qe", "ep", p))
                    / (F.col("qn") * F.col("normp")),
                    6,
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        approx = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )
        hits = (
            exact.join(approx, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
        rung = (
            qids.join(hits, "query_id", "left")
            .select(
                F.coalesce("n_overlap", F.lit(0)).alias("n_overlap")
            )
            .agg(
                F.lit(p).alias("prefix_dim"),
                F.count(F.lit(1)).alias("n_queries"),
                F.expr(
                    f"sum(n_overlap) * 1000 div (count(1) * {TOP_K})"
                ).alias("recall_permille"),
                F.expr(f"min(n_overlap) * 1000 div {TOP_K}").alias(
                    "min_recall_permille"
                ),
            )
        )
        out = rung if out is None else out.unionAll(rung)
    return out.orderBy("prefix_dim")


@query(
    "sim_knn_classes",
    oracle=f"""
    WITH cls AS MATERIALIZED (
        SELECT {_CLS_KEY_DUCK} AS ck, MIN(vec_id) AS rep,
               COUNT(*) AS n_mem
        FROM embeddings GROUP BY ck),
    base AS (
        SELECT emb.vec_id, emb.embedding::DOUBLE[] AS e,
               SQRT(list_dot_product(emb.embedding::DOUBLE[],
                                     emb.embedding::DOUBLE[])) AS norm
        FROM embeddings emb JOIN cls ON emb.vec_id = cls.rep),
    bkt AS (
        SELECT b.*, {_O_BUCKET} AS bucket
        FROM base b JOIN embeddings USING (vec_id)),
    scored AS (
        SELECT a.vec_id AS src, c.vec_id AS dst,
               ROUND(list_dot_product(a.e, c.e) / (a.norm * c.norm), 6)
                   AS cosine
        FROM bkt a JOIN bkt c
          ON c.bucket = a.bucket AND c.vec_id <> a.vec_id),
    edges AS (
        SELECT src, dst,
               CAST(FLOOR(cosine * 1e6 + 0.5) AS BIGINT) AS cos_micro
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY src ORDER BY cosine DESC, dst) AS rk
              FROM scored)
        WHERE rk <= {TOP_K}),
    em AS (
        SELECT e.src, e.dst, e.cos_micro,
               ca.n_mem AS n_a, cb.n_mem AS n_b
        FROM edges e JOIN cls ca ON ca.rep = e.src
                     JOIN cls cb ON cb.rep = e.dst),
    mut AS (
        SELECT COUNT(*) AS n_rep_mutual
        FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src),
    tot AS (SELECT COUNT(*) AS n_vectors FROM embeddings),
    cstat AS (
        SELECT COUNT(*) AS n_classes,
               SUM((n_mem * (n_mem - 1)) // 2) AS within_pairs
        FROM cls)
    SELECT t.n_vectors, c.n_classes, c.within_pairs,
           COUNT(DISTINCT em.src) AS n_rep_nodes,
           COUNT(*) AS n_rep_edges,
           m.n_rep_mutual,
           SUM(em.n_a * em.n_b) AS expanded_cross_pairs,
           SUM(em.cos_micro) // COUNT(*) AS mean_cosine_micro
    FROM em CROSS JOIN mut m CROSS JOIN tot t CROSS JOIN cstat c
    GROUP BY t.n_vectors, c.n_classes, c.within_pairs, m.n_rep_mutual
    """,
)
def sim_knn_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph, PRODUCTION DEFAULT — reach for this one first; the
    pair-shaped sim_knn_graph (above) is the diagnostic for corpora its
    dup_factor_permille column already certifies as deduplicated.

    The round-7 growth-table catch re-planned the house way
    (dedup_containment_classes applied to
    vector space): identical embeddings (md5 of the micro-quantized
    component string — integers render identically in both engines)
    collapse into classes FIRST, the bucket-equi kNN join runs over
    class REPRESENTATIVES only, and doc-level pair counts expand by
    class arithmetic — within_pairs = sum C(n,2) (distance-0 duplicate
    pairs, all trivially mutual), expanded_cross_pairs = sum n_a*n_b
    over rep edges.

    Why: GROWTH_RATIO_r7.json measured sim_knn_graph at 8.68x wall for
    3x data — the planted 300-copy duplication makes each kNN bucket
    pair-QUADRATIC in copies (pairs grow 9x when data grows 3x; no
    join strategy fixes an output that is pair-shaped). Candidate
    volume here is bounded by DISTINCT classes per bucket, flat at any
    duplication factor, and the rep graph answers the production
    question: the near-neighbor structure of distinct content. On an
    already-deduplicated corpus the two forms coincide (classes ==
    vectors, within_pairs == 0 — the sf0.01 oracle fixture).

    Exactness: the class key quantizes components to integer micro
    units before hashing; cosines follow the similarity.py sequential-
    fold + 6dp contract; every census column is an exact integer.

    Scale shape: one (class-key) exchange collapses duplicates
    map-side; the kNN machinery inherits sim_knn_graph's pinned
    shuffles over the rep-sized relation; class sizes join rep-keyed
    (never broadcast — classes scale with distinct content); report is
    1-row aggregates crossed broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    classes = emb.groupBy(F.expr(_CLS_KEY_SPARK).alias("ck")).agg(
        F.min("vec_id").alias("rep"), F.count(F.lit(1)).alias("n_mem")
    )
    # r9: classes roots FOUR consumer branches (reps, the two n_mem
    # lookups, cstat) — uncheckpointed, each re-ran the emb scan +
    # class-key exchange (the batch-10 _minhash_class_core finding in
    # vector space). Distinct-content-bounded and narrow, so safe to
    # materialize once.
    classes = cut_lineage(classes)
    reps = emb.join(
        classes.select(F.col("rep").alias("vec_id")).hint("shuffle_hash"),
        "vec_id",
    )
    base = _with_norm(reps).withColumn("bucket", F.expr(_SPARK_BUCKET))
    a = base.alias("a")
    c = base.alias("c").hint("shuffle_hash")
    scored = a.join(
        c,
        (F.col("c.bucket") == F.col("a.bucket"))
        & (F.col("c.vec_id") != F.col("a.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("c.vec_id").alias("dst"),
        _cosine("a", "c").alias("cosine"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    edges = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "src",
            "dst",
            F.floor(F.col("cosine") * 1e6 + 0.5).cast("bigint").alias(
                "cos_micro"
            ),
        )
    )
    mem = classes.select("rep", "n_mem")
    # r9: the mutual-edge census used to self-join edges against its
    # own reversal — TWO more executions of the whole kNN pipeline
    # (scored join + top-k window). A directed edge is mutual exactly
    # when its canonical unordered pair occurs twice in the edge list
    # (each (src, dst) appears at most once: one bucket per vector, one
    # rank row per neighbor), so a count window over the canonical pair
    # key flags mutuality on the SAME edge relation and the census
    # fuses into the per-edge aggregate.
    wp = Window.partitionBy(
        F.least(F.col("src"), F.col("dst")),
        F.greatest(F.col("src"), F.col("dst")),
    )
    em = (
        edges.withColumn("mcnt", F.count(F.lit(1)).over(wp))
        .join(
            mem.select(
                F.col("rep").alias("src"), F.col("n_mem").alias("n_a")
            ).hint("shuffle_hash"),
            "src",
        )
        .join(
            mem.select(
                F.col("rep").alias("dst"), F.col("n_mem").alias("n_b")
            ).hint("shuffle_hash"),
            "dst",
        )
    )
    tot = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    cstat = classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.expr("sum((n_mem * (n_mem - 1)) div 2)").alias("within_pairs"),
    )
    return (
        em.agg(
            F.countDistinct("src").alias("n_rep_nodes"),
            F.count(F.lit(1)).alias("n_rep_edges"),
            F.count(F.when(F.col("mcnt") == 2, 1)).alias("n_rep_mutual"),
            F.expr("sum(n_a * n_b)").alias("expanded_cross_pairs"),
            F.expr("sum(cos_micro) div count(1)").alias("mean_cosine_micro"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(cstat))
        .select(
            "n_vectors",
            "n_classes",
            "within_pairs",
            "n_rep_nodes",
            "n_rep_edges",
            "n_rep_mutual",
            "expanded_cross_pairs",
            "mean_cosine_micro",
        )
        .filter(F.col("n_rep_edges") > 0)
    )
