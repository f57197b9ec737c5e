"""Training-data curation operators (LLM-pipeline extension list).

The four stages a 100 TB pretraining-data pipeline runs after cleanup
and dedup, each expressed as whole-stage-codegen column algebra so the
hot path never leaves the JVM, and each replayed verbatim by the DuckDB
oracle:

- contamination_ngram: benchmark-contamination check — word-3-gram
  overlap between a held-out eval slice and the training slice, the
  standard n-gram decontamination pass (cf. GPT-3 appendix C / PaLM
  contamination analysis, done with 8-13-grams on real corpora; the
  synthetic fixture's short docs use the same 3-gram shingles as
  dedup_minhash so the two passes share one shingle stage).
- pack_sequences:      token-budget sequence packing — assign documents
  to fixed-budget training sequences by running token count, the
  deterministic contract of the greedy packer.
- mixture_sample:      deterministic domain-mixture sampling — keep a
  per-language target fraction of documents via a content-hash
  threshold, so the sample is reproducible row-by-row with no RNG
  state and no shuffle.
- eval_split:          exact stratified train/val/test split (80/10/10
  per (lang, source) stratum) by hashed rank — integer arithmetic
  only, so stratum boundaries are bit-stable across engines.

Scale shapes (100 TB honest): contamination joins the corpus against a
benchmark-sized eval set — the eval shingle list is tiny and broadcast,
so the corpus never shuffles; packing is one range-partitioned window
per language; mixture sampling and splitting are scan-local except for
the split's per-stratum window (strata are (lang, source) — thousands
of groups, no skew).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.operators.dedup import (
    _BANDS_ORACLE,
    _MINHASH_AGG_ORACLE,
    _SHINGLES_ORACLE,
    _band_explode,
    _minhash_doc_agg,
    _shingles,
    BAND_SIZE,
    N_HASHES,
    VERIFY_J,
)
from curatorhadoopinterface_spark.operators.textstats import (
    _FEAT_W_ORACLE,
    _FEAT_W_SPARK,
)
from curatorhadoopinterface_spark.session import cut_lineage, load_table, reused

EVAL_MOD = 10  # doc_id % 10 == 0 -> held-out eval slice
SEQ_BUDGET = 2048  # tokens per packed training sequence

# deterministic per-language keep percentages (domain-mixture targets)
MIX_PCT: dict[str, int] = {"en": 80, "de": 50, "es": 40, "fr": 30, "zh": 20}
MIX_DEFAULT = 10

# content-hash uniform in [0, 100): first 28 bits of md5(doc_id), mod 100.
# Same md5->bigint idiom as the minhash chain (dedup.py) so DuckDB
# replays it bit-identically.
_SPARK_U100 = (
    "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10)"
    " as bigint), 100)"
)
_ORACLE_U100 = (
    "CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100"
)


@query(
    "contamination_ngram",
    oracle=f"""
    WITH {_SHINGLES_ORACLE},
    eval_sh AS (
        SELECT DISTINCT shingle FROM shingles WHERE doc_id % {EVAL_MOD} = 0),
    train AS (
        SELECT doc_id, shingle FROM shingles WHERE doc_id % {EVAL_MOD} <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id),
    hit AS (
        SELECT doc_id, COUNT(*) AS n_contaminated
        FROM train WHERE shingle IN (SELECT shingle FROM eval_sh)
        GROUP BY doc_id)
    SELECT h.doc_id,
           t.n_shingles,
           h.n_contaminated,
           h.n_contaminated * 1.0 / t.n_shingles AS contamination
    FROM hit h JOIN tot t ON t.doc_id = h.doc_id
    """,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination report: for every training document that
    shares at least one word-3-gram with the held-out eval slice
    (doc_id % 10 == 0), the count and fraction of its shingles that are
    contaminated.

    Plan: one shingle stage (shared shape with dedup_minhash), the eval
    side reduced to DISTINCT shingles — benchmark-sized, so Spark
    broadcasts it and the training corpus is scanned exactly once with a
    map-side semi join; the only shuffle is the per-doc count. Ratio is
    int/int division (bit-identical across engines, same note as
    dedup_minhash's jaccard).
    """
    sh = _shingles(spark, sf_dir)
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("shingle").distinct()
    )
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    tot = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = (
        train.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return hit.join(tot, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        (F.col("n_contaminated") / F.col("n_shingles")).alias("contamination"),
    )


@query(
    "contamination_minhash",
    oracle=f"""
    WITH {_SHINGLES_ORACLE},
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
        SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
        FROM bands t JOIN bands e
          ON t.band_id = e.band_id AND t.band_key = e.band_key
       WHERE t.doc_id % {EVAL_MOD} <> 0 AND e.doc_id % {EVAL_MOD} = 0),
    sets AS (SELECT doc_id, LIST(shingle) AS s FROM shingles GROUP BY doc_id)
    SELECT c.train_id, c.eval_id,
           LEN(LIST_INTERSECT(st.s, se.s)) * 1.0 /
               LEN(LIST_DISTINCT(st.s || se.s)) AS jaccard
    FROM cands c
    JOIN sets st ON st.doc_id = c.train_id
    JOIN sets se ON se.doc_id = c.eval_id
    WHERE LEN(LIST_INTERSECT(st.s, se.s)) * 1.0 /
          LEN(LIST_DISTINCT(st.s || se.s)) >= {VERIFY_J}
    """,
)
def contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-LEVEL decontamination: training documents that are NEAR-DUPS
    of a held-out eval document (MinHash+LSH candidates, exact-Jaccard
    >= {VERIFY_J} verified) — the whole-document complement of
    contamination_ngram's shingle-overlap report. This is the pass the
    Llama/GPT-4 data notes describe as "remove training docs too
    similar to benchmark items", where n-gram overlap alone over- or
    under-fires on reformatted copies.

    Plan (shared machinery with dedup_minhash — ONE scan, ONE doc_id
    shuffle produces signatures AND shingle sets, the exchange reused):
    eval-side bands filter down to the benchmark-sized slice, so the
    LSH join shuffles only band-key collisions; the verify stage joins
    the LSH-bounded candidate list back to the shared sets exchange on
    each side. At 100 TB the eval side is benchmark-sized (thousands of
    docs) — its bands broadcast and the corpus never shuffles against
    the benchmark; the fixture's 10%-eval split exercises the same plan
    with the join strategy left to AQE. Jaccard is int/int division —
    bit-identical across engines (dedup_minhash note).
    """
    doc_agg = _minhash_doc_agg(spark, sf_dir)
    bands = _band_explode(doc_agg)
    eval_b = bands.filter(F.col("doc_id") % EVAL_MOD == 0).alias("e")
    train_b = bands.filter(F.col("doc_id") % EVAL_MOD != 0).alias("t")
    cands = (
        train_b.join(
            eval_b,
            (F.col("t.band_id") == F.col("e.band_id"))
            & (F.col("t.band_key") == F.col("e.band_key")),
        )
        .select(
            F.col("t.doc_id").alias("train_id"),
            F.col("e.doc_id").alias("eval_id"),
        )
        .distinct()
    )
    sets = doc_agg.select("doc_id", "s")
    jac = F.size(F.array_intersect(F.col("st.s"), F.col("se.s"))) / F.size(
        F.array_union(F.col("st.s"), F.col("se.s"))
    )
    return (
        cands.join(sets.alias("st"), F.col("st.doc_id") == F.col("train_id"))
        .join(sets.alias("se"), F.col("se.doc_id") == F.col("eval_id"))
        .filter(jac >= VERIFY_J)
        .select("train_id", "eval_id", jac.alias("jaccard"))
    )


# quality-weighted keep percentages (GPT-3 appendix A importance
# sampling: high-quality docs kept outright, low-quality heavily
# downsampled rather than dropped)
_QKEEP = {"high": 100, "mid": 30, "low": 5}


def _qkeep_case_sql() -> str:
    return (
        "CASE bucket WHEN 'high' THEN 100 WHEN 'low' THEN 5 ELSE 30 END"
    )


@query(
    "mixture_quality",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               LEN(STRING_SPLIT(text, ' ')) AS n_words,
               LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                        w -> {_FEAT_W_ORACLE})) AS score
        FROM documents),
    b AS (
        SELECT lang, n_words,
               CASE WHEN 5 * score > n_words THEN 'high'
                    WHEN 5 * score < -n_words THEN 'low'
                    ELSE 'mid' END AS bucket,
               {_ORACLE_U100} AS u
        FROM scored)
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN u < {_qkeep_case_sql()} THEN 1 ELSE 0 END) AS n_kept,
           SUM(CASE WHEN u < {_qkeep_case_sql()} THEN n_words ELSE 0 END)
               AS kept_tokens
    FROM b GROUP BY lang, bucket
    """,
)
def mixture_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (the GPT-3 appendix-A /
    CCNet pipeline step): every document is scored by the hashed linear
    classifier (text_quality_linear's model), bucketed high/mid/low by
    integer cross-multiplied mean cuts, then KEPT with a per-bucket
    probability (high 100%, mid 30%, low 5%) decided by the
    deterministic content-hash u100 — reproducible row-by-row with no
    RNG state, retry-stable, and exactly replayable by the oracle.
    Output is the per-(lang, bucket) sampling census (docs, kept docs,
    kept token budget) — the table a mixture planner reads.

    Plan: scoring, bucketing, and the keep decision are ALL scan-local
    column algebra (one higher-order aggregate per row, no explode, no
    join — the model rides in the expression); the only exchange is the
    |langs x 3|-row census partial-agg. At 100 TB: one read, map-side
    combine, done.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_words"),
        F.expr(
            "aggregate(transform(split(text, ' '),"
            f" w -> cast({_FEAT_W_SPARK} as bigint)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("score"),
    )
    bucket = (
        F.when(5 * F.col("score") > F.col("n_words"), "high")
        .when(5 * F.col("score") < -F.col("n_words"), "low")
        .otherwise("mid")
    )
    pct = (
        F.when(F.col("bucket") == "high", _QKEEP["high"])
        .when(F.col("bucket") == "low", _QKEEP["low"])
        .otherwise(_QKEEP["mid"])
    )
    kept = F.expr(_SPARK_U100) < pct
    return (
        scored.withColumn("bucket", bucket)
        .withColumn("kept", kept)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_words")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
    )


_OPTOUT_PCT = 25  # ~25% of domains have opted out in the fixture

_DOMAIN_U100_ORACLE = (
    "CAST(CONCAT('0x', SUBSTR(MD5(domain), 1, 7)) AS BIGINT) % 100"
)


@query(
    "filter_optout",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, lang, n_chars,
               LOWER(source) || '.example.com' AS domain
        FROM documents),
    block AS (
        SELECT DISTINCT domain FROM docs
        WHERE {_DOMAIN_U100_ORACLE} < {_OPTOUT_PCT})
    SELECT lang,
           SUM(CASE WHEN b.domain IS NULL THEN 1 ELSE 0 END) AS n_kept,
           SUM(CASE WHEN b.domain IS NOT NULL THEN 1 ELSE 0 END)
               AS n_blocked,
           SUM(CASE WHEN b.domain IS NULL THEN n_chars ELSE 0 END)
               AS kept_chars
    FROM docs d LEFT JOIN block b USING (domain)
    GROUP BY lang
    """,
)
def filter_optout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain opt-out / blocklist filtering — the robots.txt +
    copyright-opt-out compliance pass every responsible crawl pipeline
    runs before training: documents whose source domain appears in the
    opt-out list are dropped, and the per-language census (kept docs,
    blocked docs, surviving byte budget) is the audit artifact. The
    fixture derives domains from `source` (the dedup_url synthetic-URL
    precedent) and opts out a deterministic ~{_OPTOUT_PCT}% of them by
    content hash, so the blocklist is replayable at any SF.

    Scale shape: a real opt-out list is millions of domains against a
    100 TB corpus — list-side DISTINCT then BROADCAST left join, so the
    corpus is scanned once, never shuffled against the blocklist; the
    disposition flag and census are map-side, one |langs|-row exchange.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.concat(F.lower("source"), F.lit(".example.com")).alias("domain"),
    )
    block = (
        d.select("domain")
        .distinct()
        .filter(
            F.expr(
                "pmod(cast(conv(substring(md5(domain), 1, 7), 16, 10)"
                f" as bigint), 100) < {_OPTOUT_PCT}"
            )
        )
        .withColumn("blocked", F.lit(True))
    )
    joined = d.join(F.broadcast(block), "domain", "left")
    kept = F.col("blocked").isNull()
    return joined.groupBy("lang").agg(
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, 0).otherwise(1)).alias("n_blocked"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
        FROM documents),
    packed AS (
        SELECT lang, n_tokens,
               CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / {SEQ_BUDGET}) AS BIGINT) AS seq_id
        FROM toks)
    SELECT lang, seq_id,
           COUNT(*) AS n_docs,
           SUM(n_tokens) AS total_tokens,
           SUM(n_tokens) * 1.0 / {SEQ_BUDGET} AS fill
    FROM packed GROUP BY lang, seq_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents stream in doc_id order
    within each language and land in the training sequence whose running
    token count they start in (seq_id = floor(tokens-before / budget)) —
    the deterministic contract of a greedy first-fit packer. Output is
    the per-sequence fill report.

    Plan: one scan, one range shuffle for the per-lang window, then the
    group-by reuses the same partitioning (no second exchange for the
    agg's lang grouping prefix). fill divides by a power of two, so the
    double is exact and needs no rounding.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    packed = toks.withColumn(
        "seq_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / SEQ_BUDGET),
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens") / F.lit(SEQ_BUDGET)).alias("fill"),
    )


PACK_BUCKET_DOCS = 1000  # docs per packing bucket (hierarchical variant)


@query(
    "pack_sequences_hier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
        FROM documents),
    packed AS (
        SELECT lang, n_tokens,
               CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / {SEQ_BUDGET}) AS BIGINT) AS seq_id
        FROM toks)
    SELECT lang, seq_id,
           COUNT(*) AS n_docs,
           SUM(n_tokens) AS total_tokens,
           SUM(n_tokens) * 1.0 / {SEQ_BUDGET} AS fill
    FROM packed GROUP BY lang, seq_id
    """,
)
def pack_sequences_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical sequence packing — BIT-IDENTICAL to pack_sequences
    (same oracle: the single global per-language window), with the
    single-language range chain broken.

    pack_sequences' one range exchange per language is correct but
    serializes: at 1000x, a one-language corpus runs its entire running
    sum through ONE sorted partition chain. The fix is telescoping: cut
    each language into doc_id-range buckets, compute the running sum
    WITHIN each bucket (parallel across buckets), and add each bucket's
    prefix offset (the running sum of whole-bucket token totals over the
    tiny per-bucket table). Because bucket order ⊕ within-bucket order
    equals global doc_id order,

        global_before(doc) = offset(bucket) + within_before(doc)

    EXACTLY — the greedy first-fit seq_id contract survives unchanged,
    which the shared oracle proves on every run.

    One tokenization, one (lang, bucket) exchange: the within-bucket
    window runs first and is PERSISTED as the narrow (doc_id, lang,
    bucket, n_tokens, within_before) projection — ~1% of corpus bytes —
    so the per-bucket totals (max(within_before + n_tokens) per bucket,
    |buckets| rows) derive from the same pass instead of re-splitting
    the text. The tiny offset table windows driver-cheap and broadcasts
    back onto the persisted stream. At 100 TB the bucket key would be
    the ingest date/file-id — anything that refines doc order — giving
    width = corpus/bucket_size parallel chains instead of one per
    language."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (F.col("doc_id") / PACK_BUCKET_DOCS).cast("bigint").alias("bucket"),
    )
    # within-bucket running sums: parallel across (lang, bucket) chains
    ww = Window.partitionBy("lang", "bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    within = toks.withColumn(
        "within_before", F.coalesce(F.sum("n_tokens").over(ww), F.lit(0))
    )
    # per-bucket totals fall out of the SAME windowed pass; the prefix
    # offsets window over the |buckets|-row table (trivial) and broadcast
    wb = Window.partitionBy("lang").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        within.groupBy("lang", "bucket")
        .agg(F.max(F.col("within_before") + F.col("n_tokens")).alias("bucket_tokens"))
        .withColumn(
            "bucket_offset",
            F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)),
        )
        .drop("bucket_tokens")
    )
    packed = within.join(F.broadcast(offsets), ["lang", "bucket"]).withColumn(
        "seq_id",
        F.floor((F.col("bucket_offset") + F.col("within_before")) / SEQ_BUDGET),
    )
    out = packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens") / F.lit(SEQ_BUDGET)).alias("fill"),
    )
    with reused(within):
        return cut_lineage(out)  # fill report: |sequences| rows


def _mix_pct_spark():
    expr = F.lit(MIX_DEFAULT)
    for lang, pct in MIX_PCT.items():
        expr = F.when(F.col("lang") == lang, pct).otherwise(expr)
    return expr


_MIX_PCT_ORACLE = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in MIX_PCT.items())
    + f" ELSE {MIX_DEFAULT} END"
)


@query(
    "pack_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
        FROM documents),
    pos AS (
        SELECT lang, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS st
        FROM toks),
    frag AS (
        SELECT lang, st, n_tokens,
               UNNEST(GENERATE_SERIES(st // {SEQ_BUDGET},
                      (st + n_tokens - 1) // {SEQ_BUDGET})) AS seq_id
        FROM pos)
    SELECT lang, seq_id,
           COUNT(*) AS n_fragments,
           SUM(LEAST(st + n_tokens, (seq_id + 1) * {SEQ_BUDGET})
               - GREATEST(st, seq_id * {SEQ_BUDGET})) AS seq_tokens
    FROM frag GROUP BY lang, seq_id
    """,
)
def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing — THE standard pretraining packing
    (GPT-2/3, Llama): the per-language token stream is conceptually
    concatenated in doc_id order and cut every {SEQ_BUDGET} tokens, so
    documents SPLIT across sequence boundaries (unlike pack_sequences'
    whole-doc first-fit). Every sequence except each language's last is
    exactly full — zero padding waste, the property the planted pytest
    asserts. Output is the per-sequence fragment census.

    Plan: one range shuffle for the per-lang running sum, then each
    doc explodes into ONLY the sequences it overlaps
    (1 + tokens/budget fragments — bounded by doc length, never
    corpus-quadratic), then the census partial-aggregates. All
    arithmetic is integer (div/least/greatest on BIGINT) — bit-stable
    at any SF. At 100 TB: same contract as pack_sequences, and the
    hierarchical prefix-offset rewrite (pack_sequences_hier) applies
    unchanged if one language dominates.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = toks.select(
        "lang",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("st"),
    )
    frag = pos.select(
        "lang",
        "st",
        "n_tokens",
        F.explode(
            F.expr(
                f"sequence(st div {SEQ_BUDGET},"
                f" (st + n_tokens - 1) div {SEQ_BUDGET})"
            )
        ).alias("seq_id"),
    )
    seq_tokens = F.least(
        F.col("st") + F.col("n_tokens"),
        (F.col("seq_id") + 1) * SEQ_BUDGET,
    ) - F.greatest(F.col("st"), F.col("seq_id") * SEQ_BUDGET)
    return frag.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_fragments"),
        F.sum(seq_tokens).alias("seq_tokens"),
    )


@query(
    "mixture_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_ORACLE_U100} < {_MIX_PCT_ORACLE}
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: keep each document iff a
    uniform-in-[0,100) content hash of its id falls under its language's
    target percentage (en 80 / de 50 / es 40 / fr 30 / zh 20). No RNG
    state, no shuffle, reproducible row-by-row — re-running the pipeline
    on a grown corpus keeps exactly the rows it kept before, which is
    what makes incremental 100 TB ingestion possible (a seeded
    df.sample() re-draws on every added file).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.expr(_SPARK_U100) < _mix_pct_spark()).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "table_diff",
    oracle="""
    WITH old AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 17 <> 0),
    new AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 13 <> 0),
    j AS (
        SELECT COALESCE(o.lang, n.lang) AS lang,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN MD5(o.text) <> MD5(n.text) THEN 'changed'
                    ELSE 'unchanged' END AS disposition
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
    SELECT lang, disposition, COUNT(*) AS n_docs
    FROM j GROUP BY lang, disposition
    """,
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (the CDC / table-diff job): given two
    versions of a corpus, classify every document as added / removed /
    changed / unchanged and report the per-language census — the audit
    a pipeline runs between ingest generations before retraining, and
    the batch twin of the record store's staleness compare (A22,
    plans/incremental.py stale_views_col). The fixture derives both
    snapshots deterministically from `documents` (old drops doc_id%17,
    new drops %13 and revises %5 — the synthetic-seeding precedent), so
    adds, removes, and edits all exist at every SF.

    Plan: content compare is by hash, not payload equality, so only the
    16-byte digests cross the join; ONE co-partitioned full outer join
    on the key (both sides hash-shuffle on doc_id — with bucketed
    snapshot stores it co-locates with zero shuffle, the
    join_bucketed layout), then the census partial-aggregates. At
    100 TB: diffing is exactly one reduce over the key space.
    """
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    new = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        "lang",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    )
    disposition = (
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("o.lang"), F.col("n.lang")).alias("lang"),
            disposition.alias("disposition"),
        )
        .groupBy("lang", "disposition")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "eval_split",
    oracle="""
    WITH ranked AS (
        SELECT lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY lang, source) AS n
        FROM documents),
    tagged AS (
        SELECT lang, source,
               CASE WHEN rk * 10 <= n * 8 THEN 'train'
                    WHEN rk * 10 <= n * 9 THEN 'val'
                    ELSE 'test' END AS split
        FROM ranked)
    SELECT lang, source, split, COUNT(*) AS n_docs
    FROM tagged GROUP BY lang, source, split
    """,
)
def eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified train/val/test split: within every (lang, source)
    stratum, order documents by a content hash (shuffle-proof, not
    arrival order) and cut at 80%/90% with integer arithmetic
    (rk*10 <= n*8), so the boundary is bit-stable — no float ratio, no
    engine-dependent rounding. Output is the per-stratum split census a
    pipeline asserts before training.

    Plan: one shuffle on (lang, source) serves the rank window, the
    count window, and the final group-by (same partitioning prefix).
    """
    d = load_table(spark, sf_dir, "documents")
    wtag = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wn = Window.partitionBy("lang", "source")
    tagged = d.select(
        "lang",
        "source",
        F.row_number().over(wtag).alias("rk"),
        F.count("*").over(wn).alias("n"),
    ).select(
        "lang",
        "source",
        F.when(F.col("rk") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rk") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("lang", "source", "split").agg(
        F.count("*").alias("n_docs")
    )


SHUFFLE_SEED = "seed42:"  # version the seed string to re-deal the order


@query(
    "shuffle_deterministic",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               MD5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents)
    SELECT doc_id,
           SUBSTRING(h, 1, 2) AS shard,
           ROW_NUMBER() OVER (ORDER BY h, doc_id) AS global_pos
    FROM keyed
    """,
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle — the training-order deal.

    Epoch order must be (a) statistically shuffled, (b) reproducible
    bit-for-bit across reruns/partition layouts/file additions, and
    (c) computable without one global sort chain. A seeded content hash
    gives (a)+(b) — same reasoning as mixture_sample's md5-threshold:
    no RNG state, the permutation is a pure function of (seed, doc_id).
    For (c), global rank is computed HIERARCHICALLY: the first hex byte
    of the hash is the shard (256 of them), and because the shard key
    is a PREFIX of the sort key, ORDER BY hash == ORDER BY (shard,
    rest) — so global_pos = shard_offset + within-shard row_number,
    the pack_sequences_hier telescoping identity applied to ordering.
    256 parallel sort chains, one tiny (256-row) offset table broadcast
    back; no driver sort, no sampled range boundaries (rangepartitioner
    sampling would break (b): boundaries depend on the data sample).
    At 100 TB widen the prefix (2 hex chars = 65k shards) and write
    shard-partitioned — readers stream shards in order and get the
    exact global permutation."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    ).withColumn("shard", F.substring("h", 1, 2))
    ww = Window.partitionBy("shard").orderBy("h", "doc_id")
    within = keyed.withColumn("within_pos", F.row_number().over(ww))
    wb = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        within.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("off", F.coalesce(F.sum("n").over(wb), F.lit(0)))
        .drop("n")
    )
    return within.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "shard",
        (F.col("off") + F.col("within_pos")).alias("global_pos"),
    )


@query(
    "mixture_temperature",
    oracle=f"""
    WITH cnt AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    mn AS (SELECT MIN(n) AS n_min FROM cnt),
    kept AS (
        SELECT d.lang
        FROM documents d
        JOIN cnt ON cnt.lang = d.lang
        CROSS JOIN mn
        WHERE {_ORACLE_U100} < 100 * SQRT(mn.n_min * 1.0 / cnt.n))
    SELECT cnt.lang, cnt.n AS n_in,
           (SELECT COUNT(*) FROM kept k WHERE k.lang = cnt.lang) AS n_kept
    FROM cnt
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling (the multilingual
    rebalancing of XLM-R / mT5: sample language i with probability
    proportional to n_i^alpha, alpha=0.5): each language keeps the
    fraction sqrt(n_min / n_i), so the rarest language keeps 100% and
    the head language is downsampled by the square-root of its size
    advantage — derived FROM THE DATA, where mixture_sample uses fixed
    target percentages. Per-row keep decisions reuse the deterministic
    content-hash u100 (no RNG state, reproducible under re-ingestion).

    Exactness: n_min/n_i is one IEEE double division and SQRT is
    correctly rounded in both engines, so the per-language threshold is
    bit-identical; u100 is an integer — the comparison cannot drift.

    Scale shape: the per-language count table is tiny (|langs| rows)
    and broadcasts back onto the corpus scan with the 1-row n_min
    cross-joined; the keep decision is scan-local (no corpus shuffle),
    and the output census partial-aggregates to |langs| rows. At
    100 TB this is one pass over (doc_id, lang) — two pruned columns.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mn = cnt.agg(F.min("n").alias("n_min"))
    thresh = cnt.crossJoin(F.broadcast(mn)).select(
        F.col("lang").alias("t_lang"),
        F.col("n").alias("n_in"),
        (F.lit(100) * F.sqrt(F.col("n_min") / F.col("n"))).alias("keep_below"),
    )
    kept = (
        d.join(F.broadcast(thresh), d.lang == F.col("t_lang"))
        .filter(F.expr(_SPARK_U100) < F.col("keep_below"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        cnt.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_in"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


@query(
    "filter_census",
    oracle="""
    WITH feat AS (
        SELECT n_chars,
               LENGTH(REPLACE(text, ' ', '')) AS nospace,
               LEN(STRING_SPLIT(text, ' ')) AS n_words,
               LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct
        FROM documents),
    tagged AS (
        SELECT CASE WHEN n_chars < 150 THEN 'too_short'
                    WHEN nospace > 6 * n_words THEN 'long_words'
                    WHEN 2 * n_distinct < n_words THEN 'repetitious'
                    ELSE 'kept' END AS reason,
               n_chars
        FROM feat)
    SELECT reason, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
    FROM tagged GROUP BY reason
    """,
)
def filter_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade census (the C4/Gopher-style rule pipeline
    report): every document is attributed to its FIRST failing rule —
    too_short (hard char floor), long_words (mean word length > 6,
    the gibberish screen), repetitious (distinct-word ratio < 0.5, the
    boilerplate screen) — or 'kept'. The per-rule rejection counts are
    the census a pipeline operator reads before committing a filter
    change; the cascade ordering matches how production filters
    short-circuit (cheap length checks before tokenized ratios).

    Exactness: every rule is an integer cross-multiplication
    (nospace > 6*n_words, 2*n_distinct < n_words) — no float ratios,
    no rounding, bit-stable at any SF.

    Scale shape: all features are per-row column algebra (split /
    array_distinct stay inside codegen, no explode, no shuffle); the
    only exchange is the final |rules|-row census partial-aggregate.
    One corpus scan at 100 TB, reading (text, n_chars) only.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    nospace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    feat = d.select(
        "n_chars",
        nospace.alias("nospace"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    )
    reason = (
        F.when(F.col("n_chars") < 150, "too_short")
        .when(F.col("nospace") > 6 * F.col("n_words"), "long_words")
        .when(2 * F.col("n_distinct") < F.col("n_words"), "repetitious")
        .otherwise("kept")
    )
    return (
        feat.select(reason.alias("reason"), "n_chars")
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---- privacy: k-anonymity suppression --------------------------------------

KANON_K = 10  # minimum group size a cell may be published at


@query(
    "privacy_kanon",
    oracle=f"""
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS n_members,
               SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
        FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT c_nationkey, c_mktsegment, n_members,
           CAST(ROUND(bal, 2) AS DOUBLE) AS sum_acctbal
    FROM cells WHERE n_members >= {KANON_K}
    UNION ALL
    SELECT -1 AS c_nationkey, '*' AS c_mktsegment,
           COALESCE(SUM(n_members), 0) AS n_members,
           CAST(ROUND(COALESCE(SUM(bal), CAST(0 AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS sum_acctbal
    FROM cells WHERE n_members < {KANON_K}
    """,
)
def privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release: publish a (nation, market-segment) cell only
    when at least k={KANON_K} customers share it; every smaller cell is
    suppressed into ONE residual row (nationkey=-1, segment='*') so the
    published table still reconciles to the full population — the
    governance gate a curation pipeline applies before statistics about
    a corpus's contributors leave the platform.

    Exactness: balances sum as DECIMAL(18,2) (house money rule — a
    double sum drifts cents at 100x), rounded to 2dp before the double
    cast; the suppression threshold is an integer count compare.

    Plan shape: one hash-partitioned partial-agg groupBy builds the
    cells; the k-filter is a post-agg predicate on that same exchange,
    and the residual branch re-aggregates the (tiny) cell table — at
    most |nations| x |segments| rows — not the base scan. At 100 TB the
    base table is read ONCE; both output branches reuse the aggregated
    exchange (AQE ReusedExchange).
    """
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal"),
    )
    pub = cells.filter(F.col("n_members") >= KANON_K).select(
        "c_nationkey",
        "c_mktsegment",
        "n_members",
        F.round("bal", 2).cast("double").alias("sum_acctbal"),
    )
    residual = (
        cells.filter(F.col("n_members") < KANON_K)
        .agg(
            F.coalesce(F.sum("n_members"), F.lit(0)).alias("n_members"),
            F.round(
                F.coalesce(F.sum("bal"), F.lit(0).cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("sum_acctbal"),
        )
        .select(
            F.lit(-1).cast("int").alias("c_nationkey"),
            F.lit("*").alias("c_mktsegment"),
            "n_members",
            "sum_acctbal",
        )
    )
    return pub.unionByName(residual)


# ---- leakage-safe grouped holdout split ------------------------------------

_HEX = "0123456789abcdef"
# 0..255 bucket from the first two md5 hex chars; cuts at 204/230 give
# a 204/26/26 (~80/10/10) expected split.
SPLIT_SEED = "holdout-v1:"


def _o_src_bucket(expr: str) -> str:
    h = f"MD5('{SPLIT_SEED}' || {expr})"
    return (
        f"(STRPOS('{_HEX}', SUBSTR({h}, 1, 1)) - 1) * 16"
        f" + (STRPOS('{_HEX}', SUBSTR({h}, 2, 1)) - 1)"
    )


@query(
    "eval_split_grouped",
    oracle=f"""
    WITH tagged AS (
        SELECT lang, source, n_chars,
               CASE WHEN {_o_src_bucket('source')} < 204 THEN 'train'
                    WHEN {_o_src_bucket('source')} < 230 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents)
    SELECT split, lang,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS total_chars
    FROM tagged GROUP BY split, lang
    """,
)
def eval_split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-holdout train/val/test split: the WHOLE source (domain)
    goes to one split, so near-duplicates and boilerplate shared within
    a domain can never straddle the train/eval boundary — the
    leakage-safe counterpart of eval_split's within-stratum cut (the
    split discipline decontamination papers assume).

    Assignment is stateless and map-only: bucket = the first two hex
    chars of md5(seed || source) as an integer 0..255, cut at 204/230
    (~80/10/10 in expectation). No global rank over distinct sources is
    needed — at 100 TB with millions of domains the assignment stays a
    per-row expression in whole-stage codegen (both engines index the
    same hex alphabet, so the bucket is bit-identical), and the only
    shuffle is the final (split, lang) census aggregate. Every count is
    an integer — nothing to round.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(SPLIT_SEED), F.col("source")))
    bucket = (
        (F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1) * 16
        + (F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1)
    )
    tagged = d.select(
        "lang",
        "source",
        "n_chars",
        F.when(bucket < 204, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("split", "lang").agg(
        F.countDistinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---- water-filling token budget allocation ---------------------------------


@query(
    "mixture_waterfill",
    oracle="""
    WITH counts AS (
        SELECT lang, SUM(LEN(STRING_SPLIT(text, ' '))) AS n
        FROM documents GROUP BY lang),
    tot AS (
        SELECT SUM(n) AS total, COUNT(*) AS nl, SUM(n) // 2 AS b FROM counts),
    ranked AS (
        SELECT lang, n,
               ROW_NUMBER() OVER (ORDER BY n, lang) AS j,
               SUM(n) OVER (ORDER BY n, lang
                            ROWS UNBOUNDED PRECEDING) AS prefix
        FROM counts),
    star AS (
        SELECT MAX(CASE WHEN r.prefix + r.n * (t.nl - r.j) <= t.b
                        THEN r.j ELSE 0 END) AS jstar
        FROM ranked r CROSS JOIN tot t),
    lev AS (
        SELECT s.jstar, t.b, t.nl,
               COALESCE(MAX(CASE WHEN r.j = s.jstar THEN r.prefix END), 0)
                   AS pstar
        FROM tot t CROSS JOIN star s CROSS JOIN ranked r
        GROUP BY s.jstar, t.b, t.nl),
    lev2 AS (
        SELECT jstar, (b - pstar) // (nl - jstar) AS level,
               (b - pstar) % (nl - jstar) AS rem
        FROM lev),
    capped AS (
        SELECT r.lang, ROW_NUMBER() OVER (ORDER BY r.lang) AS cap_ord
        FROM ranked r CROSS JOIN lev2 l WHERE r.j > l.jstar)
    SELECT r.lang, r.n AS n_tokens,
           CASE WHEN r.j <= l.jstar THEN r.n
                ELSE l.level + CASE WHEN c.cap_ord <= l.rem
                                    THEN 1 ELSE 0 END END AS allocated,
           r.j > l.jstar AS capped
    FROM ranked r CROSS JOIN lev2 l
    LEFT JOIN capped c ON c.lang = r.lang
    """,
)
def mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact water-filling allocation of a global token budget (half the
    corpus) across languages: small languages keep ALL their tokens,
    large languages are capped at a common water level chosen so the
    allocations sum EXACTLY to the budget — the capped-proportional
    budget allocator behind 'don't let English eat the mixture'
    (the hard-cap complement of mixture_temperature's soft n^0.5).

    Entirely integer arithmetic: feasibility of funding the j smallest
    languages is the cross-multiplied test prefix_j + n_j*(L-j) <= B;
    the level is one integer floor-division, and the remainder tokens
    go +1 each to the first (lang-ordered) capped languages, so the
    invariant sum(allocated) == B holds bit-exactly in any engine.

    Scale shape: ONE partial-aggregated exchange builds the per-language
    token counts; every later step (rank window, feasibility scan,
    level, remainder) runs on the |languages|-row table crossed with
    1-row stat tables via broadcast — corpus volume only ever touches
    the first aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("n")
    )
    tot = counts.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("nl"),
        F.expr("sum(n) div 2").alias("b"),
    )
    w = Window.orderBy("n", "lang")
    ranked = counts.select(
        "lang",
        "n",
        F.row_number().over(w).alias("j"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("prefix"),
    )
    rt = ranked.crossJoin(F.broadcast(tot))
    star = rt.agg(
        F.max(
            F.when(
                F.col("prefix") + F.col("n") * (F.col("nl") - F.col("j"))
                <= F.col("b"),
                F.col("j"),
            ).otherwise(0)
        ).alias("jstar")
    )
    lev = (
        rt.crossJoin(F.broadcast(star))
        .groupBy("jstar", "b", "nl")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("j") == F.col("jstar"), F.col("prefix"))),
                F.lit(0),
            ).alias("pstar")
        )
        .select(
            "jstar",
            F.expr("(b - pstar) div (nl - jstar)").alias("level"),
            F.expr("(b - pstar) % (nl - jstar)").alias("rem"),
        )
    )
    rl = ranked.crossJoin(F.broadcast(lev))
    capped = rl.filter(F.col("j") > F.col("jstar")).select(
        "lang", F.row_number().over(Window.orderBy("lang")).alias("cap_ord")
    )
    return (
        rl.join(F.broadcast(capped), on="lang", how="left")
        .select(
            "lang",
            F.col("n").alias("n_tokens"),
            F.when(F.col("j") <= F.col("jstar"), F.col("n"))
            .otherwise(
                F.col("level")
                + F.when(F.col("cap_ord") <= F.col("rem"), 1).otherwise(0)
            )
            .alias("allocated"),
            (F.col("j") > F.col("jstar")).alias("capped"),
        )
    )


# ---- length-bucketed batching: padding-waste census ------------------------


@query(
    "pack_length_buckets",
    oracle="""
    WITH toks AS (
        SELECT lang, LEN(STRING_SPLIT(text, ' ')) AS n FROM documents),
    bucketed AS (
        SELECT lang, n,
               CASE WHEN n <= 1 THEN 1
                    ELSE CAST(POWER(2, LENGTH(BIN(n - 1))) AS BIGINT)
               END AS bucket
        FROM toks)
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           SUM(n) AS n_tokens,
           bucket * COUNT(*) AS padded_slots,
           (bucket * COUNT(*) - SUM(n)) * 1000 // (bucket * COUNT(*))
               AS waste_permille
    FROM bucketed GROUP BY lang, bucket
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching census: assign every document to the
    next-power-of-2 length bucket and report per-(lang, bucket) doc
    count, real tokens, padded slots, and padding waste in exact
    per-mille — the measurement that decides bucket boundaries before a
    training job pads sequences (the padding-efficiency complement of
    pack_sequences' concat packing).

    Exactness: next_pow2(n) = 2^LENGTH(BIN(n-1)) — the BIN-length
    integer-log2 identity (dedup_semantic_scaledk precedent), no float
    log; waste is integer cross-multiplied per-mille via floor
    division. Output is bounded by |langs| x log2(max doc length)
    buckets regardless of corpus size.

    Scale shape: tokenize+bucket are scan-local expressions; ONE
    partial-aggregated (lang, bucket) exchange produces the census.
    """
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    bucket = F.when(n <= 1, F.lit(1).cast("bigint")).otherwise(
        F.expr(
            "cast(shiftleft(1L, cast(length(bin(size(split(text, ' ')) - 1))"
            " as int)) as bigint)"
        )
    )
    return (
        d.select("lang", n.alias("n"), bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            (F.col("bucket") * F.count(F.lit(1))).alias("padded_slots"),
            F.expr(
                "(bucket * count(1) - sum(n)) * 1000 div (bucket * count(1))"
            ).alias("waste_permille"),
        )
    )


# -- semantic (embedding-space) decontamination -------------------------------

_SEM_EVAL_MOD = 100  # vec_id % 100 == 0 -> held-out benchmark embedding
_SEM_COS = 0.35  # match threshold (calibrated to the synthetic fixture,
#                  same constant as similarity.NEARDUP_COS; real: ~0.95)


@query(
    "contamination_semantic",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e,
               SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                   AS norm,
               LIST_AGGREGATE(LIST_TRANSFORM(embedding[1:8],
                   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                   'string_agg', '') AS bucket
        FROM embeddings),
    ev AS (SELECT * FROM base WHERE vec_id % {_SEM_EVAL_MOD} = 0),
    corpus AS (SELECT * FROM base WHERE vec_id % {_SEM_EVAL_MOD} <> 0),
    hits AS (
        SELECT c.vec_id, c.label FROM corpus c
        WHERE EXISTS (
            SELECT 1 FROM ev q
            WHERE q.bucket = c.bucket
              AND ROUND(list_dot_product(q.e, c.e) / (q.norm * c.norm), 6)
                  >= {_SEM_COS}))
    SELECT c.label, COUNT(*) AS n_corpus,
           (SELECT COUNT(*) FROM hits h WHERE h.label = c.label)
               AS n_contaminated,
           (SELECT COUNT(*) FROM hits h WHERE h.label = c.label) * 1000
               // COUNT(*) AS contamination_permille
    FROM corpus c GROUP BY c.label ORDER BY c.label
    """,
)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination census — the third leg of the
    decontamination trio (contamination_ngram: surface n-grams;
    contamination_minhash: doc-level MinHash; this: SEMANTIC near-match
    a paraphrased benchmark leaks through). A corpus vector is
    contaminated if ANY held-out benchmark vector in its 8-bit sign-LSH
    bucket has cosine >= the near-dup threshold.

    Scale shape: the benchmark side is tiny (1% here; real decontam is
    a few eval suites) and BROADCAST — the corpus never shuffles for
    candidate generation, exactly the contamination_ngram contract.
    The bucket equality keeps the per-row probe list at ~1/256 of the
    broadcast side; the match test is a broadcast LEFT SEMI join
    (existence, no pair materialization, output bounded by the corpus).
    Census is one |labels|-sized exchange with integer-exact per-mille."""
    from curatorhadoopinterface_spark.operators.similarity import (
        _SPARK_BUCKET,
        _dot,
        _with_norm,
    )

    base = _with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", F.expr(_SPARK_BUCKET)
    )
    ev = base.filter(F.col("vec_id") % _SEM_EVAL_MOD == 0).select(
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    corpus = base.filter(F.col("vec_id") % _SEM_EVAL_MOD != 0)
    cos = F.round(
        _dot("embedding", "q_emb") / (F.col("norm") * F.col("q_norm")), 6
    )
    hits = corpus.join(
        F.broadcast(ev),
        (F.col("bucket") == F.col("q_bucket")) & (cos >= _SEM_COS),
        "left_semi",
    )
    census = corpus.groupBy("label").agg(F.count(F.lit(1)).alias("n_corpus"))
    hit_census = hits.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        census.join(hit_census, "label", "left")
        .select(
            "label",
            "n_corpus",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
                "n_contaminated"
            ),
            # integral DIV, not double-divide-then-cast: a correctly-
            # rounded double quotient can land ON an integer boundary at
            # big counts; DuckDB's // is exact integer floor division
            F.expr(
                "coalesce(n_contaminated, 0L) * 1000 div n_corpus"
            ).alias("contamination_permille"),
        )
        .orderBy("label")
    )


# ---- privacy: l-diversity audit ---------------------------------------------

LDIV_L = 3  # minimum distinct sensitive values per released cell


@query(
    "privacy_ldiversity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS n_members,
           COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
               AS n_sensitive_values,
           COUNT(*) >= {KANON_K}
               AND COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
                   >= {LDIV_L} AS released
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def privacy_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit on top of the k-anonymity gate: a
    (nation, segment) cell may be released only if it has >= k members
    AND its members span >= l distinct SENSITIVE values (balance
    brackets of 1000) — the refinement that stops a k-anonymous cell
    from leaking a sensitive attribute every member shares (homogeneity
    attack; Machanavajjhala et al.). Published as an audit table: every
    cell with both counts and its release verdict.

    Exactness: the bracket is floor(x/1000) over IDENTICAL double
    inputs — one correctly-rounded IEEE division then floor, the same
    value in both engines; counts and both thresholds are integers.

    Plan shape: ONE hash-partitioned groupBy carrying a count and a
    distinct-count (Spark plans the distinct as a two-phase partial
    aggregate on (cell, bracket) — still a single exchange family, no
    join); output is |nations| x |segments| rows. At 100 TB: one scan,
    one exchange."""
    c = load_table(spark, sf_dir, "customer")
    bracket = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct(bracket).alias("n_sensitive_values"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_members",
            "n_sensitive_values",
            (
                (F.col("n_members") >= KANON_K)
                & (F.col("n_sensitive_values") >= LDIV_L)
            ).alias("released"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# ---- mixture drift under deduplication ---------------------------------------


@query(
    "mixture_dedup_drift",
    oracle="""
    WITH per_doc AS (
        SELECT lang, MD5(text) AS sig,
               LEN(STRING_SPLIT(text, ' ')) AS n FROM documents),
    before_t AS (
        SELECT lang, SUM(n) AS toks_before FROM per_doc GROUP BY lang),
    uniq AS (
        SELECT lang, sig, MIN(n) AS n
        FROM per_doc GROUP BY lang, sig),
    after_t AS (
        SELECT lang, SUM(n) AS toks_after FROM uniq GROUP BY lang),
    tot AS (
        SELECT SUM(toks_before) AS tb,
               (SELECT SUM(toks_after) FROM after_t) AS ta
        FROM before_t)
    SELECT b.lang, b.toks_before, a.toks_after,
           b.toks_before * 1000 // t.tb AS share_before_permille,
           a.toks_after * 1000 // t.ta AS share_after_permille,
           a.toks_after * 1000 // t.ta - b.toks_before * 1000 // t.tb
               AS drift_permille
    FROM before_t b
    JOIN after_t a ON a.lang = b.lang
    CROSS JOIN tot t
    ORDER BY b.lang
    """,
)
def mixture_dedup_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How exact dedup SHIFTS the language mixture: per-language token
    shares before vs after within-language exact dedup, in exact
    integer per-mille — the audit that catches "our 30% zh target became
    24% because zh was the most duplicated feed" BEFORE training on a
    mixture computed from pre-dedup counts. (Duplication rates are never
    uniform across sources — the reason mixture targets must be set on
    DEDUPED token counts.)

    Plan shape: ONE scan computes (lang, content-hash, token-count)
    rows; the before-census is a lang groupBy and the after-census
    adds one (lang, sig) partial-agged exchange where duplicates
    collapse map-side (the dedup_exact shape); totals are two 1-row
    broadcasts. All arithmetic integer."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.md5("text").alias("sig"),
        F.size(F.split("text", " ")).alias("n"),
    )
    before = per_doc.groupBy("lang").agg(F.sum("n").alias("toks_before"))
    uniq = per_doc.groupBy("lang", "sig").agg(F.min("n").alias("n"))
    after = uniq.groupBy("lang").agg(F.sum("n").alias("toks_after"))
    tot = before.agg(F.sum("toks_before").alias("tb")).crossJoin(
        after.agg(F.sum("toks_after").alias("ta"))
    )
    return (
        before.join(after, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "toks_before",
            "toks_after",
            F.expr("toks_before * 1000 div tb").alias("share_before_permille"),
            F.expr("toks_after * 1000 div ta").alias("share_after_permille"),
            F.expr(
                "toks_after * 1000 div ta - toks_before * 1000 div tb"
            ).alias("drift_permille"),
        )
        .orderBy("lang")
    )


_DSIR_B = 1024  # hashed-feature buckets (DSIR keeps this model-tiny)


@query(
    "dsir_importance",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, lang = 'en' AS is_target,
               CAST(CONCAT('0x', SUBSTR(MD5(word), 1, 7)) AS BIGINT)
                   % {_DSIR_B} AS bucket
        FROM (SELECT doc_id, source, lang,
                     UNNEST(STRING_SPLIT(text, ' ')) AS word
              FROM documents)),
    bt AS (
        SELECT bucket,
               SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_b,
               SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS r_b
        FROM w GROUP BY bucket),
    tot AS (SELECT SUM(t_b) AS t_tot, SUM(r_b) AS r_tot FROM bt),
    lr AS (
        SELECT bucket,
               CAST(FLOOR(LN(
                   (CAST(t_b + 1 AS DOUBLE) * CAST(r_tot + {_DSIR_B} AS DOUBLE))
                   / (CAST(r_b + 1 AS DOUBLE) * CAST(t_tot + {_DSIR_B} AS DOUBLE))
               ) * 1e9) AS BIGINT) AS lr_nano
        FROM bt CROSS JOIN tot),
    docw AS (
        SELECT w.doc_id, w.source, SUM(c.c_db * lr.lr_nano) AS w_nano
        FROM (SELECT doc_id, source, bucket, COUNT(*) AS c_db
              FROM w WHERE NOT is_target
              GROUP BY doc_id, source, bucket) c
        JOIN lr ON lr.bucket = c.bucket
        JOIN (SELECT DISTINCT doc_id, source FROM w WHERE NOT is_target) w
          ON w.doc_id = c.doc_id
        GROUP BY w.doc_id, w.source)
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN w_nano > 0 THEN 1 ELSE 0 END) AS n_selected,
           ROUND(SUM(w_nano) / 1e9 / COUNT(*), 6) AS mean_logweight_nats,
           SUM(CASE WHEN w_nano > 0 THEN 1 ELSE 0 END) * 1000
               // COUNT(*) AS selected_permille
    FROM docw GROUP BY source ORDER BY source
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, public): hashed
    word-unigram features, a target distribution fit on the in-domain
    slice (lang='en' stands in for "looks like my eval set"), a raw
    distribution on the rest, and a per-document importance log-weight
    sum(count_b * ln(p_b/q_b)) with Laplace smoothing over B=1024
    buckets. Docs with positive log-weight are the importance-resampled
    keep set; output is the per-source selection census (which feeds
    the mixture_* budget allocators).

    Exactness: the text_kl_divergence fixed-point recipe — the
    per-bucket smoothed log ratio quantizes to integer nano-nats FIRST
    (identical explicit-DOUBLE ln argument chain in both engines, md5
    28-bit bucket hash replays bit-identically), the per-doc reduction
    is a pure BIGINT sum of count x lr_nano, and the only float op is
    the final display round. Selection threshold (> 0) is an integer
    compare, so the keep set can't flip on summation order.

    Scale shape: ONE word-explode feeding two partial-agged exchanges —
    (bucket) for the B-row ratio table and (doc, bucket) for the doc
    features (both collapse map-side; the bucket table is 1024 rows
    REGARDLESS of corpus size and broadcasts to the doc side); the
    census output is |sources| rows. The hashed-feature trick is
    exactly what makes DSIR linear at 100 TB: the "model" never grows
    past B integers."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        "source",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(F.split("text", " ")).alias("word"),
    ).select(
        "doc_id",
        "source",
        "is_target",
        F.pmod(
            F.conv(F.substring(F.md5("word"), 1, 7), 16, 10).cast("bigint"),
            F.lit(_DSIR_B),
        ).alias("bucket"),
    )
    bt = w.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t_b"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("r_b"),
    )
    tot = bt.agg(F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot"))
    lr = bt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"cast(floor(ln("
            f"(cast(t_b + 1 as double) * cast(r_tot + {_DSIR_B} as double))"
            f" / (cast(r_b + 1 as double) * cast(t_tot + {_DSIR_B} as double))"
            f") * 1e9) as bigint)"
        ).alias("lr_nano"),
    )
    doc_feats = (
        w.where(~F.col("is_target"))
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c_db"))
    )
    docw = (
        doc_feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("c_db") * F.col("lr_nano")).alias("w_nano"))
    )
    return (
        docw.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("w_nano") > 0, 1).otherwise(0)).alias(
                "n_selected"
            ),
            F.round(F.sum("w_nano") / F.lit(1e9) / F.count(F.lit(1)), 6).alias(
                "mean_logweight_nats"
            ),
            F.expr(
                "sum(case when w_nano > 0 then 1 else 0 end) * 1000"
                " div count(1)"
            ).alias("selected_permille"),
        )
        .orderBy("source")
    )


# ---- privacy: t-closeness audit ----------------------------------------------

TCLOSE_NUM, TCLOSE_DEN = 1, 5  # release threshold t <= 0.2 as an integer ratio
_TC_LO, _TC_HI = -1, 9  # clamped acctbal brackets (floor(x/1000) domain)


@query(
    "privacy_tcloseness",
    oracle=f"""
    WITH base AS (
        SELECT c_nationkey, c_mktsegment,
               LEAST({_TC_HI}, GREATEST({_TC_LO},
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT))) AS bracket
        FROM customer),
    cellb AS (
        SELECT c_nationkey, c_mktsegment, bracket, COUNT(*) AS cnt
        FROM base GROUP BY c_nationkey, c_mktsegment, bracket),
    cells AS (
        SELECT c_nationkey, c_mktsegment, SUM(cnt) AS n_members
        FROM cellb GROUP BY c_nationkey, c_mktsegment),
    spine AS (
        SELECT c.c_nationkey, c.c_mktsegment, c.n_members, s.bracket,
               COALESCE(b.cnt, 0) AS cnt
        FROM cells c
        CROSS JOIN (SELECT UNNEST(GENERATE_SERIES({_TC_LO}, {_TC_HI}))
                        AS bracket) s
        LEFT JOIN cellb b
          ON b.c_nationkey = c.c_nationkey
         AND b.c_mktsegment = c.c_mktsegment
         AND b.bracket = s.bracket),
    cum AS (
        SELECT *, SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                                 ORDER BY bracket) AS cum_cell
        FROM spine),
    gcnt AS (
        SELECT bracket, COUNT(*) AS gc FROM base GROUP BY bracket),
    gdist AS (
        SELECT s.bracket,
               SUM(COALESCE(g.gc, 0)) OVER (ORDER BY s.bracket) AS cum_glob,
               SUM(COALESCE(g.gc, 0)) OVER () AS n_glob
        FROM (SELECT UNNEST(GENERATE_SERIES({_TC_LO}, {_TC_HI})) AS bracket) s
        LEFT JOIN gcnt g ON g.bracket = s.bracket),
    terms AS (
        SELECT c.c_nationkey, c.c_mktsegment, c.n_members, g.n_glob,
               ABS(c.cum_cell * g.n_glob - g.cum_glob * c.n_members) AS term
        FROM cum c JOIN gdist g ON g.bracket = c.bracket)
    SELECT c_nationkey, c_mktsegment, n_members,
           ROUND(SUM(term) * 1.0
                 / (n_members * n_glob * {_TC_HI - _TC_LO}), 6) AS t_emd,
           n_members >= {KANON_K}
               AND SUM(term) * {TCLOSE_DEN}
                   <= {TCLOSE_NUM} * n_members * n_glob
                       * {_TC_HI - _TC_LO} AS released
    FROM terms
    GROUP BY c_nationkey, c_mktsegment, n_members, n_glob
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def privacy_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit completing the release trilogy (k-anonymity ->
    l-diversity -> t-closeness, Li et al.): a (nation, segment) cell is
    releasable only if the distribution of its SENSITIVE attribute
    (ordered balance brackets) is within Earth-Mover's-Distance t of
    the GLOBAL distribution — the refinement that stops an l-diverse
    cell from still skewing ("diverse but all low balances" leaks).
    For an ordered attribute with unit ground distance, EMD is the
    mean absolute difference of the two cumulative distributions.

    Exactness: pure integer EMD — the cumulative-fraction difference
    |cum_cell/n_cell - cum_glob/n_glob| is cross-multiplied to the
    common denominator (|cum_cell*n_glob - cum_glob*n_cell| as BIGINT,
    ~1e14 at 100x, far under 2^63), summed exactly, and the release
    verdict is the integer cross-compare 5*sum <= n_cell*n_glob*10 —
    one display-only float division at the end.

    Scale shape: ONE (cell, bracket) partial-agged exchange off the
    scan; the dense bracket spine is |cells| x 11 rows (dimension-
    bounded, never row-bounded), the global distribution is an 11-row
    broadcast, and the cumulative windows run over 11-row partitions.
    At 100 TB the scan dominates and nothing else grows."""
    c = load_table(spark, sf_dir, "customer")
    bracket = F.least(
        F.lit(_TC_HI),
        F.greatest(
            F.lit(_TC_LO), F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        ),
    ).alias("bracket")
    base = c.select("c_nationkey", "c_mktsegment", bracket)
    cellb = base.groupBy("c_nationkey", "c_mktsegment", "bracket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cells = cellb.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("n_members")
    )
    spine = (
        cells.select(
            "c_nationkey",
            "c_mktsegment",
            "n_members",
            F.explode(F.sequence(F.lit(_TC_LO), F.lit(_TC_HI))).alias(
                "bracket"
            ),
        )
        .join(cellb, ["c_nationkey", "c_mktsegment", "bracket"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_members",
            "bracket",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )
    wcell = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "bracket"
    )
    cum = spine.withColumn("cum_cell", F.sum("cnt").over(wcell))
    # densify the GLOBAL distribution over the same spine: a bracket
    # absent globally must still contribute its |cum diff| terms (the
    # planted two-point fixture caught the sparse-join undercount)
    gcnt = base.groupBy("bracket").agg(F.count(F.lit(1)).alias("gcnt"))
    glob = (
        spark.range(_TC_LO, _TC_HI + 1)
        .select(F.col("id").cast("bigint").alias("bracket"))
        .join(gcnt, "bracket", "left")
        .select("bracket", F.coalesce("gcnt", F.lit(0)).alias("gcnt"))
        .select(
            "bracket",
            F.sum("gcnt").over(Window.orderBy("bracket")).alias("cum_glob"),
            F.sum("gcnt")
            .over(Window.partitionBy(F.lit(1)))
            .alias("n_glob"),
        )
    )
    terms = cum.join(F.broadcast(glob), "bracket").select(
        "c_nationkey",
        "c_mktsegment",
        "n_members",
        "n_glob",
        F.abs(
            F.col("cum_cell") * F.col("n_glob")
            - F.col("cum_glob") * F.col("n_members")
        ).alias("term"),
    )
    span = _TC_HI - _TC_LO
    return (
        terms.groupBy("c_nationkey", "c_mktsegment", "n_members", "n_glob")
        .agg(F.sum("term").alias("t_num"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_members",
            F.round(
                F.col("t_num")
                / (F.col("n_members") * F.col("n_glob") * F.lit(span)),
                6,
            ).alias("t_emd"),
            (
                (F.col("n_members") >= KANON_K)
                & (
                    F.col("t_num") * TCLOSE_DEN
                    <= F.col("n_members") * F.col("n_glob") * (TCLOSE_NUM * span)
                )
            ).alias("released"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# ---- data-constrained epoch planning ----------------------------------------

EPOCH_CAP = 4  # max useful epochs before repetition value decays
EPOCH_BUDGET_X = 3  # token budget as a multiple of the unique corpus


@query(
    "mixture_epochs",
    oracle=f"""
    WITH counts AS (
        SELECT lang, SUM(LEN(STRING_SPLIT(text, ' '))) AS n
        FROM documents GROUP BY lang),
    base AS (
        SELECT lang, n, {EPOCH_CAP} * n AS cap,
               CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS w
        FROM counts),
    tot AS (
        SELECT SUM(n) * {EPOCH_BUDGET_X} AS b, SUM(w) AS wt, COUNT(*) AS nl
        FROM base),
    ranked AS (
        SELECT lang, n, cap, w,
               ROW_NUMBER() OVER (ORDER BY CAST(cap AS DOUBLE) / w, lang)
                   AS j,
               SUM(cap) OVER (ORDER BY CAST(cap AS DOUBLE) / w, lang
                              ROWS UNBOUNDED PRECEDING) AS prefix_c,
               SUM(w) OVER (ORDER BY CAST(cap AS DOUBLE) / w, lang
                            ROWS UNBOUNDED PRECEDING) AS prefix_w
        FROM base),
    star AS (
        SELECT MAX(CASE WHEN r.cap * (t.wt - r.prefix_w)
                             + r.prefix_c * r.w <= t.b * r.w
                        THEN r.j ELSE 0 END) AS jstar
        FROM ranked r CROSS JOIN tot t),
    lev AS (
        SELECT s.jstar, t.b, t.wt,
               COALESCE(MAX(CASE WHEN r.j = s.jstar THEN r.prefix_c END), 0)
                   AS cstar,
               COALESCE(MAX(CASE WHEN r.j = s.jstar THEN r.prefix_w END), 0)
                   AS wstar
        FROM tot t CROSS JOIN star s CROSS JOIN ranked r
        GROUP BY s.jstar, t.b, t.wt),
    alloc0 AS (
        SELECT r.lang, r.n, r.w, r.cap, r.j, l.jstar,
               CASE WHEN r.j <= l.jstar THEN r.cap
                    ELSE (l.b - l.cstar) * r.w // (l.wt - l.wstar) END
                   AS alloc_floor
        FROM ranked r CROSS JOIN lev l),
    remn AS (
        SELECT (SELECT b FROM lev)
               - SUM(alloc_floor) AS r_total
        FROM alloc0),
    uncapped AS (
        SELECT lang, ROW_NUMBER() OVER (ORDER BY lang) AS unc_ord
        FROM alloc0 WHERE j > jstar)
    SELECT a.lang, a.n AS n_tokens, a.w AS weight_milli,
           a.cap AS cap_tokens,
           a.alloc_floor + CASE WHEN u.unc_ord IS NOT NULL
                                 AND u.unc_ord <= r.r_total
                                THEN 1 ELSE 0 END AS allocated,
           (a.alloc_floor + CASE WHEN u.unc_ord IS NOT NULL
                                  AND u.unc_ord <= r.r_total
                                 THEN 1 ELSE 0 END) * 1000 // a.n
               AS epochs_milli,
           a.j <= a.jstar AS capped
    FROM alloc0 a
    CROSS JOIN remn r
    LEFT JOIN uncapped u ON u.lang = a.lang
    ORDER BY a.lang
    """,
)
def mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planner (the Muennighoff et al. regime:
    repeating data beyond ~4 epochs stops paying): allocate a token
    budget of {X} x the unique corpus across languages with
    temperature-weighted shares (w ~ sqrt(n), the mixture_temperature
    exponent) under a hard per-language cap of {E} epochs. Small
    languages hit the epoch cap (repetition maxes out), head languages
    split the rest proportionally to sqrt(n) — the repetition-side
    complement of mixture_waterfill's truncation-side allocator.

    Entirely integer arithmetic (the waterfill machinery generalized to
    per-item caps and weights): languages sort by binding ratio cap/w;
    the feasibility test is the cross-multiplied
    cap_j*(W - prefix_w_j) + prefix_c_j*w_j <= B*w_j; uncapped shares
    are one integer floor-division each and the remainder goes +1 to
    the first (lang-ordered) uncapped languages, so
    sum(allocated) == B bit-exactly in any engine. The only doubles are
    the sqrt weight (one correctly-rounded IEEE op, floored to milli
    units) and the sort-key ratio — both identical cross-engine.

    Scale shape: ONE partial-aggregated exchange builds per-language
    token counts; everything after runs on the |languages|-row table
    crossed with 1-row stat tables via broadcast. With budget {X}x and
    cap {E}x, at least one language is always uncapped (B < sum caps),
    so the proportional divisor never hits zero."""
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n"))
        .select(
            "lang",
            "n",
            (F.lit(EPOCH_CAP) * F.col("n")).alias("cap"),
            F.expr(
                "cast(floor(sqrt(cast(n as double)) * 1000) as bigint)"
            ).alias("w"),
        )
    )
    tot = base.agg(
        (F.sum("n") * EPOCH_BUDGET_X).alias("b"),
        F.sum("w").alias("wt"),
        F.count(F.lit(1)).alias("nl"),
    )
    ratio = F.col("cap").cast("double") / F.col("w")
    win = Window.orderBy(ratio, "lang")
    cum = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = base.select(
        "lang",
        "n",
        "cap",
        "w",
        F.row_number().over(win).alias("j"),
        F.sum("cap").over(cum).alias("prefix_c"),
        F.sum("w").over(cum).alias("prefix_w"),
    )
    star = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.when(
                    F.col("cap") * (F.col("wt") - F.col("prefix_w"))
                    + F.col("prefix_c") * F.col("w")
                    <= F.col("b") * F.col("w"),
                    F.col("j"),
                ).otherwise(F.lit(0))
            ).alias("jstar")
        )
    )
    lev = (
        ranked.crossJoin(F.broadcast(star))
        .crossJoin(F.broadcast(tot))
        .groupBy("jstar", "b", "wt")
        .agg(
            F.coalesce(
                F.max(
                    F.when(F.col("j") == F.col("jstar"), F.col("prefix_c"))
                ),
                F.lit(0),
            ).alias("cstar"),
            F.coalesce(
                F.max(
                    F.when(F.col("j") == F.col("jstar"), F.col("prefix_w"))
                ),
                F.lit(0),
            ).alias("wstar"),
        )
    )
    alloc0 = ranked.crossJoin(F.broadcast(lev)).select(
        "lang",
        "n",
        "w",
        "cap",
        "j",
        "jstar",
        "b",
        F.when(F.col("j") <= F.col("jstar"), F.col("cap"))
        .otherwise(
            F.expr("(b - cstar) * w div (wt - wstar)")
        )
        .alias("alloc_floor"),
    )
    remn = alloc0.groupBy("b").agg(
        (F.col("b") - F.sum("alloc_floor")).alias("r_total")
    ).select("r_total")
    unc = (
        alloc0.where(F.col("j") > F.col("jstar"))
        .select("lang", F.row_number().over(Window.orderBy("lang")).alias("unc_ord"))
    )
    bump = F.when(
        F.col("unc_ord").isNotNull() & (F.col("unc_ord") <= F.col("r_total")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        alloc0.crossJoin(F.broadcast(remn))
        .join(F.broadcast(unc), "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_tokens"),
            F.col("w").alias("weight_milli"),
            F.col("cap").alias("cap_tokens"),
            (F.col("alloc_floor") + bump).alias("allocated"),
            F.expr(
                "(alloc_floor + (case when unc_ord is not null"
                " and unc_ord <= r_total then 1 else 0 end)) * 1000 div n"
            ).alias("epochs_milli"),
            (F.col("j") <= F.col("jstar")).alias("capped"),
        )
        .orderBy("lang")
    )


# ---- deterministic weighted sampling (A-RES) ---------------------------------

_ARES_K = 100  # sample size
_ARES_DEN = (1 << 28) + 1  # md5-28bit hash -> u in (0,1), never 0 or 1


@query(
    "sample_weighted",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, source,
               GREATEST(n_chars, 1) AS weight,
               CAST(FLOOR(LN(
                   CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)),
                                    1, 7)) AS BIGINT) + 1 AS DOUBLE)
                   / {_ARES_DEN}.0) * 1e9) AS BIGINT) AS ln_nano
        FROM documents)
    SELECT doc_id, lang, source, weight,
           ROUND(CAST(ln_nano AS DOUBLE) / weight / 1e9, 9) AS ares_key
    FROM keyed
    ORDER BY CAST(ln_nano AS DOUBLE) / weight DESC, doc_id
    LIMIT {_ARES_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-RES,
    public): each doc draws u in (0,1) and ranks by u^(1/w) —
    equivalently ln(u)/w — so a doc with twice the weight is twice as
    likely to make the top-k. The quality-weighted data-selection
    sampler (here w = doc length), with NO RNG state: u derives from
    md5(doc_id), so the sample is reproducible under re-ingestion and
    identical across engines.

    Exactness: u = (md5_28bit + 1)/(2^28 + 1) is exact in a double;
    ln(u) quantizes to integer nano-nats (one correctly-rounded IEEE ln,
    identical both engines); the rank key ln_nano/w is ONE double
    division of exact integers — bit-identical cross-engine — and ties
    break on doc_id. Display key rounded at 9dp from those same exact
    inputs.

    Scale shape: scan-local key computation in whole-stage codegen
    (hash, ln, divide — no joins, no state), then top-k via TakeOrdered
    (per-partition heaps + driver merge of k rows), never a global
    sort. The classic one-pass distributed weighted reservoir."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        "source",
        F.greatest(F.col("n_chars"), F.lit(1)).alias("weight"),
        F.expr(
            f"cast(floor(ln(cast("
            f"cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10)"
            f" as bigint) + 1 as double) / {_ARES_DEN}.0) * 1e9) as bigint)"
        ).alias("ln_nano"),
    )
    return (
        keyed.select(
            "doc_id",
            "lang",
            "source",
            "weight",
            F.round(
                F.col("ln_nano").cast("double") / F.col("weight") / 1e9, 9
            ).alias("ares_key"),
            (F.col("ln_nano").cast("double") / F.col("weight")).alias("_k"),
        )
        .orderBy(F.desc("_k"), "doc_id")
        .limit(_ARES_K)
        .drop("_k")
    )


# two-sided-geometric DP noise, alpha = 1/2 (epsilon = ln 2 ~ 0.693):
# with u uniform on [0, 2^28), the geometric tail count
# G = #{k >= 1 : u < 2^(28-k)} satisfies P(G >= k) = 2^-k EXACTLY —
# every threshold is a power of two, so no float ever enters the
# sampling path and both engines replay it bit-identically
_DP_BITS = 28


def _dp_geom(u_expr: str, dialect: str) -> str:
    """SQL for the geometric tail count over a 28-bit uniform."""
    cast = "CAST" if dialect == "duck" else "cast"
    terms = [
        f"{cast}(({u_expr}) < {1 << (_DP_BITS - k)} AS INT)"
        if dialect == "duck"
        else f"{cast}(({u_expr}) < {1 << (_DP_BITS - k)} as int)"
        for k in range(1, _DP_BITS + 1)
    ]
    return "(" + " + ".join(terms) + ")"


_DP_U_SPARK = (
    "cast(conv(substring(md5(concat(c_mktsegment, '#{tag}')), 1, 7),"
    " 16, 10) as bigint)"
)
_DP_U_DUCK = (
    "CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(c_mktsegment, '#{tag}')), 1, 7))"
    " AS BIGINT)"
)


@query(
    "privacy_dp_count",
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment, COUNT(*) AS true_count
        FROM customer GROUP BY c_mktsegment),
    n AS (
        SELECT c_mktsegment, true_count,
               {_dp_geom(_DP_U_DUCK.format(tag='a'), 'duck')}
             - {_dp_geom(_DP_U_DUCK.format(tag='b'), 'duck')} AS noise
        FROM g)
    SELECT c_mktsegment, true_count, noise,
           GREATEST(0, true_count + noise) AS noisy_count,
           693 AS epsilon_milli
    FROM n ORDER BY c_mktsegment
    """,
)
def privacy_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release — the fourth rung of the
    privacy ladder (k-anon -> l-div -> t-closeness -> DP): per-segment
    customer counts perturbed with TWO-SIDED GEOMETRIC noise (the
    discrete Laplace; Ghosh-Roughgarden-Sundararajan's universally
    optimal mechanism for counts) at epsilon = ln 2. The noise is
    SEEDED — u = md5(segment||tag) as a 28-bit uniform — so the release
    is reproducible and the oracle replays it exactly; a production
    deployment swaps the seed for a secret per-release salt (same
    plumbing, the query's noise distribution is unchanged).

    Exactness: alpha = 1/2 makes every geometric threshold a power of
    two (P(G >= k) = 2^-k exactly on the 2^28 lattice) — the sampling
    path is pure integer comparisons, no ln/exp anywhere, so both
    engines compute identical noise. true_count + noise clamps at 0
    (counts are non-negative by postprocessing invariance).

    Scale shape: one partial-agged groupBy on the segment key; the
    noise is a per-GROUP scalar expression over the |segments|-row
    aggregate — the DP layer costs nothing at any corpus size (the
    defining property that makes DP releases feasible at 100 TB).

    Reference tie-in: the reference's record store gates re-release of
    derived views (CuratorHandler.java:468-537); a DP count is the
    same gate applied to aggregate egress."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("true_count"))
    noise = F.expr(
        _dp_geom(_DP_U_SPARK.format(tag="a"), "spark")
        + " - "
        + _dp_geom(_DP_U_SPARK.format(tag="b"), "spark")
    )
    return (
        g.select(
            "c_mktsegment",
            "true_count",
            noise.alias("noise"),
            F.greatest(
                F.lit(0).cast("bigint"),
                (F.col("true_count") + noise).cast("bigint"),
            ).alias("noisy_count"),
            F.lit(693).alias("epsilon_milli"),
        )
        .orderBy("c_mktsegment")
    )


# Consistent-hash ring: V virtual nodes per shard, positions from
# md5("shard_{s}_vnode_{v}") on the 2^28 lattice — the ring is a
# CONSTANT computed once here and inlined into both engines
_CH_SHARDS_A = 8
_CH_SHARDS_B = 9  # the reshard target: only ~1/9 of keys should move
_CH_VNODES = 32


def _ch_ring(n_shards: int) -> list[tuple[int, int]]:
    """Sorted (position, shard) ring."""
    import hashlib

    ring = []
    for s in range(n_shards):
        for v in range(_CH_VNODES):
            pos = (
                int(
                    hashlib.md5(f"shard_{s}_vnode_{v}".encode()).hexdigest()[
                        :7
                    ],
                    16,
                )
                % (1 << 28)
            )
            ring.append((pos, s))
    return sorted(ring)


def _ch_case(ring: list[tuple[int, int]], dialect: str) -> str:
    """Ring lookup as a CASE over sorted cut points: key h goes to the
    first vnode clockwise (position >= h), wrapping to ring[0].
    CASE syntax is dialect-identical; dialect is kept for symmetry
    with the other dual-engine fragment builders."""
    del dialect
    whens = "".join(f" WHEN h <= {pos} THEN {shard}" for pos, shard in ring)
    return f"CASE{whens} ELSE {ring[0][1]} END"


_CH_H_SPARK = (
    "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10)"
    " as bigint), 268435456)"
)
_CH_H_DUCK = (
    "CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 7))"
    " AS BIGINT) % 268435456"
)


@query(
    "shard_consistent_hash",
    oracle=f"""
    WITH k AS (
        SELECT doc_id, {_CH_H_DUCK} AS h FROM documents),
    a AS (
        SELECT doc_id, {_ch_case(_ch_ring(_CH_SHARDS_A), 'duck')} AS shard_a
        FROM k),
    b AS (
        SELECT doc_id, {_ch_case(_ch_ring(_CH_SHARDS_B), 'duck')} AS shard_b
        FROM k),
    j AS (
        SELECT a.shard_a, b.shard_b FROM a JOIN b USING (doc_id))
    SELECT shard_a,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN shard_b <> shard_a THEN 1 ELSE 0 END) AS n_moved,
           SUM(CASE WHEN shard_b <> shard_a THEN 1 ELSE 0 END) * 1000
               // COUNT(*) AS moved_permille
    FROM j GROUP BY shard_a ORDER BY shard_a
    """,
)
def shard_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT-HASH shard assignment with the reshard-movement
    census: documents map onto a 2^28 hash ring with 32 virtual nodes
    per shard; the query assigns every doc under an 8-shard ring AND a
    9-shard ring and reports, per original shard, how many keys MOVE —
    the defining consistent-hashing guarantee (≈ 1/(N+1) of keys move
    when a shard is added, vs ~8/9 under doc_id % N). This is how a
    100 TB record store (A18/A21's identifier-keyed parquet) grows
    capacity without rewriting 8/9 of its layout, and the census is
    the pre-flight check that the ring constants are balanced.

    Exactness: key and vnode positions are md5-28-bit integers; the
    ring lookup is a CASE over the sorted cut points (the identical
    literal ring inlined in both engines); every count exact.

    Scale shape: pure map (two CASE lookups per row) + one
    partial-agged groupBy on shard_a — assignment never shuffles the
    corpus, exactly like the production path where the ring is a
    broadcast constant."""
    d = load_table(spark, sf_dir, "documents")
    k = d.select("doc_id", F.expr(_CH_H_SPARK).alias("h"))
    assigned = k.select(
        F.expr(_ch_case(_ch_ring(_CH_SHARDS_A), "spark")).alias("shard_a"),
        F.expr(_ch_case(_ch_ring(_CH_SHARDS_B), "spark")).alias("shard_b"),
    )
    return (
        assigned.groupBy("shard_a")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard_b") != F.col("shard_a"), 1).otherwise(0)
            ).alias("n_moved"),
            F.expr(
                "sum(case when shard_b <> shard_a then 1 else 0 end) * 1000"
                " div count(1)"
            ).alias("moved_permille"),
        )
        .orderBy("shard_a")
    )


# Hash-ring negative sampling for contrastive training: every doc
# sits on the 2^28 md5 ring; anchor a's j-th negative is the first
# doc CLOCKWISE of u = md5(a||'#neg'||j) (wrapping to the ring's
# first doc) — deterministic, uniform-ish, and computable with ONE
# sorted merge instead of per-anchor random access
_NEG_K = 4
_NEG_EVERY = 20  # doc_id % 20 == 0 are anchors


@query(
    "contrastive_negatives",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, lang,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 7))
                    AS BIGINT) % 268435456 AS r
        FROM documents),
    probes AS (
        SELECT d.doc_id AS anchor_id, d.lang AS anchor_lang, j.j,
               CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(d.doc_id AS VARCHAR),
                    '#neg', CAST(j.j AS VARCHAR))), 1, 7)) AS BIGINT)
                   % 268435456 AS u
        FROM documents d
        CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {_NEG_K - 1})) AS j) j
        WHERE d.doc_id % {_NEG_EVERY} = 0),
    uni AS (
        SELECT r AS pos, 0 AS is_probe, doc_id, lang,
               NULL AS anchor_id, NULL AS anchor_lang, NULL AS j
        FROM pos
        UNION ALL
        SELECT u AS pos, 1 AS is_probe, NULL, NULL,
               anchor_id, anchor_lang, j
        FROM probes),
    nxt AS (
        SELECT *,
               LAST_VALUE(doc_id IGNORE NULLS) OVER w AS neg_id,
               LAST_VALUE(lang IGNORE NULLS) OVER w AS neg_lang
        FROM uni
        WINDOW w AS (ORDER BY pos DESC, is_probe
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    wrap AS (
        SELECT doc_id AS w_id, lang AS w_lang
        FROM pos ORDER BY r, doc_id LIMIT 1),
    pairs AS (
        SELECT n.anchor_id, n.anchor_lang,
               COALESCE(n.neg_id, w.w_id) AS neg_id,
               COALESCE(n.neg_lang, w.w_lang) AS neg_lang
        FROM nxt n CROSS JOIN wrap w WHERE n.is_probe = 1)
    SELECT anchor_lang,
           COUNT(DISTINCT anchor_id) AS n_anchors,
           COUNT(*) AS n_negatives,
           SUM(CASE WHEN neg_id = anchor_id THEN 1 ELSE 0 END)
               AS n_self_hits,
           SUM(CASE WHEN neg_lang = anchor_lang THEN 1 ELSE 0 END) * 1000
               // COUNT(*) AS same_lang_permille
    FROM pairs GROUP BY anchor_lang ORDER BY anchor_lang
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE SAMPLING for contrastive training, as one sorted merge:
    each anchor document draws k = 4 deterministic negatives by hashing
    (anchor, j) onto the md5 ring and taking the first document
    clockwise — the in-batch-negatives alternative that works ACROSS
    batches and replays exactly (the sampling seed is the hash, so the
    epoch's negative set is reproducible without RNG state — the
    sample_weighted A-RES philosophy applied to pair mining). The
    census reports, per anchor language, the self-hit count (anchor
    drawn as its own negative — should be ~0) and the same-language
    collision rate in per-mille — the "false negative" rate a
    contrastive objective actually suffers when negatives share the
    anchor's class.

    Exactness: ring positions are md5-28-bit integers; the
    first-clockwise lookup is FIRST_VALUE(... IGNORE NULLS) over the
    (position, probe-first) ordering — the join_asof union trick on
    the hash axis — with the wrap-around resolved by the ring's global
    first doc (1-row broadcast); counts exact.

    Scale shape: ONE sort of |docs| + k*|anchors| rows replaces
    k*|anchors| random lookups; at 100 TB the union range-partitions
    by ring position (the join_asof exchange) so the merge is
    per-partition-local with boundary carry — no per-anchor shuffle,
    no candidate explosion."""
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        "lang",
        F.expr(
            "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 7),"
            " 16, 10) as bigint), 268435456)"
        ).alias("r"),
    )
    probes = (
        d.where(F.col("doc_id") % _NEG_EVERY == 0)
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("lang").alias("anchor_lang"),
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("j"),
        )
        .withColumn(
            "u",
            F.expr(
                "pmod(cast(conv(substring(md5(concat(cast(anchor_id as"
                " string), '#neg', cast(j as string))), 1, 7), 16, 10)"
                " as bigint), 268435456)"
            ),
        )
    )
    uni = pos.select(
        F.col("r").alias("pos"),
        F.lit(0).alias("is_probe"),
        "doc_id",
        "lang",
        F.lit(None).cast("bigint").alias("anchor_id"),
        F.lit(None).cast("string").alias("anchor_lang"),
    ).unionAll(
        probes.select(
            F.col("u").alias("pos"),
            F.lit(1).alias("is_probe"),
            F.lit(None).cast("bigint").alias("doc_id"),
            F.lit(None).cast("string").alias("lang"),
            "anchor_id",
            "anchor_lang",
        )
    )
    # DESCENDING running frame: Spark evaluates UNBOUNDED PRECEDING ->
    # CURRENT ROW incrementally (O(n)), while CURRENT -> UNBOUNDED
    # FOLLOWING re-scans the tail per row (O(n^2) — measured as a
    # 1h+ hang at sf10's 900k union rows before this rewrite). Scanning
    # the ring from high to low, the LAST doc seen is exactly the
    # first-clockwise doc of every probe passed on the way down.
    w = (
        Window.orderBy(F.desc("pos"), F.asc("is_probe"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nxt = uni.select(
        "is_probe",
        "anchor_id",
        "anchor_lang",
        F.last("doc_id", ignorenulls=True).over(w).alias("neg_id"),
        F.last("lang", ignorenulls=True).over(w).alias("neg_lang"),
    ).where(F.col("is_probe") == 1)
    wrap = (
        pos.orderBy("r", "doc_id")
        .limit(1)
        .select(
            F.col("doc_id").alias("w_id"), F.col("lang").alias("w_lang")
        )
    )
    pairs = nxt.crossJoin(F.broadcast(wrap)).select(
        "anchor_id",
        "anchor_lang",
        F.coalesce("neg_id", "w_id").alias("neg_id"),
        F.coalesce("neg_lang", "w_lang").alias("neg_lang"),
    )
    return (
        pairs.groupBy("anchor_lang")
        .agg(
            F.countDistinct("anchor_id").alias("n_anchors"),
            F.count(F.lit(1)).alias("n_negatives"),
            F.sum(
                F.when(F.col("neg_id") == F.col("anchor_id"), 1).otherwise(0)
            ).alias("n_self_hits"),
            F.expr(
                "sum(case when neg_lang = anchor_lang then 1 else 0 end)"
                " * 1000 div count(1)"
            ).alias("same_lang_permille"),
        )
        .orderBy("anchor_lang")
    )


# DP median: the seeded 28-bit uniforms are Python-computed constants
# (md5('dpmedian6#a'/'#b') first 7 hex chars) inlined into BOTH engines;
# the geometric tail count runs in-query on the same power-of-two
# lattice as privacy_dp_count.
_DPM_U_A = 237218170
_DPM_U_B = 37988488


@query(
    "privacy_dp_median",
    oracle=f"""
    WITH hist AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               COUNT(*) AS cnt
        FROM orders GROUP BY cents),
    cum AS (
        SELECT cents,
               SUM(cnt) OVER (ORDER BY cents) AS cum,
               SUM(cnt) OVER () AS n
        FROM hist),
    ranks AS (
        SELECT *,
               (n + 1) // 2 AS true_rank,
               {_dp_geom(str(_DPM_U_A), 'duck')}
                 - {_dp_geom(str(_DPM_U_B), 'duck')} AS noise
        FROM cum),
    picked AS (
        SELECT MAX(n) AS n, MAX(true_rank) AS true_rank, MAX(noise) AS noise,
               LEAST(GREATEST(MAX(true_rank) + MAX(noise), 1), MAX(n))
                   AS noisy_rank,
               MIN(CASE WHEN cum >= true_rank THEN cents END)
                   AS true_median_cents,
               MIN(CASE WHEN cum >=
                   LEAST(GREATEST(true_rank + noise, 1), n)
                   THEN cents END) AS dp_median_cents
        FROM ranks)
    SELECT n, true_rank, noise, noisy_rank, true_median_cents,
           dp_median_cents, 693 AS epsilon_milli
    FROM picked
    """,
)
def privacy_dp_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private MEDIAN release via the noisy-rank
    mechanism: the true median rank (n+1)//2 is perturbed with the
    same seeded two-sided geometric noise as privacy_dp_count (discrete
    Laplace on the 2^28 power-of-two lattice — pure integer
    comparisons, no ln/exp to diverge between engines), clamped to
    [1, n], and the released value is the order statistic at the noisy
    rank — rank perturbation gives the quantile mechanism's robustness
    (the answer is always a VALUE THAT OCCURS, and an outlier can move
    the release by at most its rank distance). Completes the privacy
    shelf: counts (dp_count) and now quantiles.

    Exactness: the value histogram + cumulative window make the rank
    pick a pure integer selection (the winsorize_stats discipline);
    the seeded uniforms are Python-computed constants inlined into
    both engines, so the release replays bit-identically. true_median
    is emitted alongside for the A19-style audit delta; a production
    release drops that column and swaps the seed for a secret salt.

    Scale shape: one partial-agged (cents) value histogram — bounded
    by the price domain, not the corpus; the cumulative window and the
    rank pick run over that domain-sized relation. The DP layer is a
    scalar expression."""
    o = load_table(spark, sf_dir, "orders")
    hist = (
        o.select(
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("cents"))
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy()))
    noise_sql = (
        _dp_geom(str(_DPM_U_A), "spark")
        + " - "
        + _dp_geom(str(_DPM_U_B), "spark")
    )
    ranks = cum.withColumn("true_rank", F.expr("(n + 1) div 2")).withColumn(
        "noise", F.expr(noise_sql)
    )
    picked = ranks.agg(
        F.max("n").alias("n"),
        F.max("true_rank").alias("true_rank"),
        F.max("noise").alias("noise"),
        F.expr(
            "least(greatest(max(true_rank) + max(noise), 1), max(n))"
        ).alias("noisy_rank"),
        F.min(
            F.when(F.col("cum") >= F.col("true_rank"), F.col("cents"))
        ).alias("true_median_cents"),
        F.min(
            F.when(
                F.col("cum")
                >= F.expr("least(greatest(true_rank + noise, 1), n)"),
                F.col("cents"),
            )
        ).alias("dp_median_cents"),
    )
    return picked.select(
        "n",
        "true_rank",
        "noise",
        "noisy_rank",
        "true_median_cents",
        "dp_median_cents",
        F.lit(693).alias("epsilon_milli"),
    )


# -- source reputation gate (host-level corpus filtering) --------------------

# verdict thresholds, exact integer per-milles over source aggregates
_REP_DUP_DROP = 300  # >30.0% exact-dup docs within the source -> drop
_REP_SHORT_DROP = 400  # >40.0% short docs -> drop
_REP_DUP_REVIEW = 100
_REP_SHORT_REVIEW = 200
_REP_SHORT_CHARS = 120  # doc under this many chars counts as short


@query(
    "source_reputation",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(LENGTH(text)) AS n_chars,
               COUNT(DISTINCT MD5(text)) AS n_distinct,
               SUM(CASE WHEN LENGTH(text) < {_REP_SHORT_CHARS}
                        THEN 1 ELSE 0 END) AS n_short
        FROM documents GROUP BY source)
    SELECT source, n_docs, n_chars,
           (n_docs - n_distinct) * 1000 // n_docs AS dup_permille,
           n_short * 1000 // n_docs AS short_permille,
           n_chars // n_docs AS mean_doc_chars,
           CASE
             WHEN (n_docs - n_distinct) * 1000 // n_docs > {_REP_DUP_DROP}
                  OR n_short * 1000 // n_docs > {_REP_SHORT_DROP} THEN 'drop'
             WHEN (n_docs - n_distinct) * 1000 // n_docs > {_REP_DUP_REVIEW}
                  OR n_short * 1000 // n_docs > {_REP_SHORT_REVIEW}
                  THEN 'review'
             ELSE 'keep'
           END AS verdict
    FROM per_source
    """,
)
def source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level (here: source-level) reputation gate — the web-corpus
    curation step that drops WHOLE sites rather than single documents
    (UT1-blocklist / RefinedWeb host filtering; document-level gates
    miss template farms whose every page individually looks fine).
    Per source: exact-dup rate (1 - distinct md5 / docs), short-doc
    rate, mean length, and a keep/review/drop verdict from fixed
    integer per-mille thresholds.

    Scale shape: ONE two-level hash aggregate keyed on source — the
    md5 collapses each doc to 32 bytes map-side before the exchange,
    and COUNT(DISTINCT md5) rewrites to a (source, md5) partial agg
    then a source regroup (both map-side combining). No join, no
    window, no explode; output is O(sources). All verdict arithmetic
    is integer per-milles — bit-identical in both engines. Parallels
    the reference's per-directory job accounting
    (JobHandler.java:579-606) lifted to content-derived statistics.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        F.sum(
            F.when(F.length("text") < _REP_SHORT_CHARS, 1).otherwise(0)
        ).alias("n_short"),
    )
    dup_pm = F.expr("(n_docs - n_distinct) * 1000 div n_docs")
    short_pm = F.expr("n_short * 1000 div n_docs")
    return per.select(
        "source",
        "n_docs",
        "n_chars",
        dup_pm.alias("dup_permille"),
        short_pm.alias("short_permille"),
        F.expr("n_chars div n_docs").alias("mean_doc_chars"),
        F.when(
            (dup_pm > _REP_DUP_DROP) | (short_pm > _REP_SHORT_DROP),
            F.lit("drop"),
        )
        .when(
            (dup_pm > _REP_DUP_REVIEW) | (short_pm > _REP_SHORT_REVIEW),
            F.lit("review"),
        )
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


# -- curriculum global order (scale-safe global permutation) -----------------

_CURR_BUCKETS = 10  # difficulty deciles
_CURR_SHARDS = 16  # md5-nibble shards per bucket (the scale knob)


@query(
    "curriculum_global_order",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               LENGTH(text) * 1000 // len(string_split(text, ' '))
                   AS score_milli,
               MD5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM scored),
    by_score AS (
        SELECT score_milli, COUNT(*) AS c FROM scored GROUP BY score_milli),
    bucketed_vals AS (
        SELECT score_milli,
               COALESCE(SUM(c) OVER (ORDER BY score_milli
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM by_score),
    assign AS (
        SELECT s.doc_id, s.h,
               b.cum_before * {_CURR_BUCKETS} // t.n AS bucket,
               CAST(('0x' || s.h[1]) AS BIGINT) % {_CURR_SHARDS} AS shard
        FROM scored s
        JOIN bucketed_vals b USING (score_milli) CROSS JOIN tot t),
    rn AS (
        SELECT doc_id, bucket, shard,
               ROW_NUMBER() OVER (PARTITION BY bucket, shard
                                  ORDER BY h, doc_id) AS r
        FROM assign),
    grp AS (
        SELECT bucket, shard, COUNT(*) AS c FROM rn GROUP BY bucket, shard),
    offs AS (
        SELECT bucket, shard,
               COALESCE(SUM(c) OVER (ORDER BY bucket, shard
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off
        FROM grp),
    pos AS (
        SELECT r.doc_id, r.bucket, o.off + r.r AS global_pos
        FROM rn r JOIN offs o USING (bucket, shard))
    SELECT bucket, COUNT(*) AS n_docs,
           MIN(global_pos) AS min_pos, MAX(global_pos) AS max_pos,
           SUM(global_pos * (doc_id % 1000003)) AS pos_checksum
    FROM pos GROUP BY bucket
    """,
)
def curriculum_global_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: a GLOBAL training-order permutation —
    difficulty deciles first (easy->hard curriculum), deterministic
    hash-shuffle within each decile — built WITHOUT a global sort or a
    single-partition window. The permutation is assembled from local
    ranks plus broadcast offsets:

    1. difficulty = chars-per-word in exact milli units (scan-local);
    2. decile boundaries from the VALUE-DOMAIN histogram (distinct
       score values + counts — bounded rows — one tiny cumulative
       window), so bucketing never ranks individual docs;
    3. within (bucket, md5-nibble shard): row_number ordered by
       (md5(doc_id), doc_id) — {_CURR_BUCKETS}x{_CURR_SHARDS} window
       groups, each ~N/160 rows; the shard count is the scale knob (a
       1000-executor run uses 10k+ shards so every window group fits
       one task);
    4. global_pos = broadcast per-(bucket, shard) offset + local rank —
       {_CURR_BUCKETS * _CURR_SHARDS} offset rows, computed exactly.

    Output is the per-decile census with an exact BIGINT position
    checksum (sum(pos * (doc_id mod 1000003))), so the strict compare
    pins the ENTIRE permutation, not just bucket sizes. Everything is
    integer arithmetic; md5 ordering is byte-identical across engines.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.expr(
            "length(text) * 1000 div size(split(text, ' '))"
        ).alias("score_milli"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    by_score = scored.groupBy("score_milli").agg(F.count(F.lit(1)).alias("c"))
    w_val = (
        Window.orderBy("score_milli")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.orderBy("score_milli").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bucketed_vals = by_score.select(
        "score_milli",
        F.coalesce(F.sum("c").over(w_val), F.lit(0)).alias("cum_before"),
        F.sum("c").over(w_all).alias("n_total"),
    )
    assign = (
        scored.join(F.broadcast(bucketed_vals), "score_milli")
        .select(
            "doc_id",
            "h",
            F.expr(f"cum_before * {_CURR_BUCKETS} div n_total").alias(
                "bucket"
            ),
            (F.conv(F.substring("h", 1, 1), 16, 10).cast("bigint")
             % _CURR_SHARDS).alias("shard"),
        )
    )
    w_rn = Window.partitionBy("bucket", "shard").orderBy("h", "doc_id")
    rn = assign.select(
        "doc_id", "bucket", "shard", F.row_number().over(w_rn).alias("r")
    )
    grp = rn.groupBy("bucket", "shard").agg(F.count(F.lit(1)).alias("c"))
    w_off = Window.orderBy("bucket", "shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = grp.select(
        "bucket",
        "shard",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
    )
    pos = rn.join(F.broadcast(offs), ["bucket", "shard"]).select(
        "doc_id", "bucket", (F.col("off") + F.col("r")).alias("global_pos")
    )
    return pos.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("global_pos").alias("min_pos"),
        F.max("global_pos").alias("max_pos"),
        F.sum(F.col("global_pos") * (F.col("doc_id") % 1000003)).alias(
            "pos_checksum"
        ),
    )


# --------------------------------------------------------------------------
# privacy_dp_topk: stability-thresholded DP heavy-hitters release
# --------------------------------------------------------------------------
# Per-word noise seeds ride the same 2^28 md5 lattice as privacy_dp_count.
_DPT_U_SPARK = (
    "cast(conv(substring(md5(concat(word, '%{tag}')), 1, 7),"
    " 16, 10) as bigint)"
)
_DPT_U_DUCK = (
    "CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(word, '%{tag}')), 1, 7))"
    " AS BIGINT)"
)
# Stability threshold for (eps = ln 2, delta = 1e-6):
# T = 1 + ceil(ln(1/(2*delta)) / eps) = 1 + ceil(13.1224/0.6931) = 20.
_DPT_THRESHOLD = 20
_DPT_K = 10


def _dpt_noise(dialect: str) -> str:
    u = _DPT_U_SPARK if dialect == "spark" else _DPT_U_DUCK
    return (
        _dp_geom(u.format(tag="a"), dialect)
        + " - "
        + _dp_geom(u.format(tag="b"), dialect)
    )


@query(
    "privacy_dp_topk",
    oracle=f"""
    WITH w AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
    g AS (
        SELECT word, COUNT(*) AS true_count FROM w
        WHERE word <> '' GROUP BY word),
    n AS (
        SELECT word, true_count,
               true_count + ({_dpt_noise('duck')}) AS noisy_count
        FROM g)
    SELECT word, noisy_count, {_DPT_THRESHOLD} AS threshold,
           693 AS epsilon_milli
    FROM n
    WHERE noisy_count > {_DPT_THRESHOLD}
    ORDER BY noisy_count DESC, word
    LIMIT {_DPT_K}
    """,
)
def privacy_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private heavy-hitters release — the fifth rung of
    the privacy ladder: the corpus vocabulary's top-{_DPT_K} words by
    NOISY count, released only above a STABILITY threshold (Korolova
    et al.'s thresholded release: a word whose noisy count fails to
    clear T = 1 + ceil(ln(1/(2*delta))/eps) stays unpublished, which is
    what turns "top-k over an unbounded candidate domain" into an
    (eps, delta)-DP mechanism — rare words, the ones that identify a
    document, can't ride a lucky noise draw into the release). The
    TRUE counts never appear in the output.

    Exactness: the same two-sided-geometric power-of-two lattice as
    privacy_dp_count (alpha = 1/2, 2^28 md5 uniforms seeded per word)
    — pure integer comparisons, no ln/exp, identical noise in both
    engines; threshold and k are inlined literals.

    Scale shape: the split/explode is linear in corpus tokens and
    collapses immediately to the vocabulary-DOMAIN-bounded count
    relation (one partial-agged groupBy); noise + threshold are
    per-group scalar expressions over that bounded relation and the
    release is TakeOrdered — the DP layer costs nothing extra at
    100 TB."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    noisy = g.select(
        "word",
        (F.col("true_count") + F.expr(_dpt_noise("spark"))).alias(
            "noisy_count"
        ),
    )
    return (
        noisy.where(F.col("noisy_count") > _DPT_THRESHOLD)
        .select(
            "word",
            "noisy_count",
            F.lit(_DPT_THRESHOLD).alias("threshold"),
            F.lit(693).alias("epsilon_milli"),
        )
        .orderBy(F.desc("noisy_count"), "word")
        .limit(_DPT_K)
    )
