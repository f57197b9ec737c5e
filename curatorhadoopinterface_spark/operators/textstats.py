"""Text-analysis operators for a training-data pipeline (SURVEY.md
section 2C `text_stats` row + the LLM-pipeline extension list).

- text_stats:       corpus profiling group-by (chars/words per lang+source).
- text_langid:      stopword-profile language ID — score each document
  against small per-language lexicons, argmax with deterministic
  tie-break. Pure column arithmetic on a words array: one scan, one
  narrow stage, no shuffle until the final compare.
- text_quality:     Gopher-style quality signals (word count, mean word
  length, stopword ratio, alpha ratio) folded into a keep/drop flag —
  the filter stage of a 100 TB ingest, expressed so Catalyst can fuse
  it into the scan.
- text_token_count: whitespace tokens vs BPE-ish regex tokens
  (letter-runs / digit-runs / other) aggregated per source.
- text_fingerprint: winnowing-lite document fingerprint — the MIN md5
  over word-5-gram hashes — and the duplicate-cluster sizes it induces.
  groupBy(fingerprint) is the cheap first-pass clustering that feeds
  the pairwise stages in dedup.py.

Everything here is built-in-function column algebra (no UDFs): the hot
path stays in whole-stage codegen and the same expressions re-run
verbatim in DuckDB for the oracle check.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import load_table, reused

# Tiny per-language stopword profiles (public-knowledge closed classes).
PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "of", "and", "is", "to", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "una", "con"),
    "fr": ("le", "la", "et", "les", "des", "une", "est", "dans"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}

EN_STOPWORDS = PROFILES["en"] + ("it", "for", "on", "with", "as", "at", "by")


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _spark_arr(words: tuple[str, ...]):
    return F.array(*[F.lit(w) for w in words])


@query(
    "text_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS total_chars,
           SUM(LEN(STRING_SPLIT(text, ' '))) AS total_words,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): the partial-aggregated group-by
    that sizes a 100 TB corpus in one scan."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(_words())).alias("total_words"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# -- language ID -------------------------------------------------------------

_LANGS = sorted(PROFILES)  # deterministic candidate order


def _langid_score_spark(lang: str):
    return F.size(
        F.filter(_words(), lambda w: F.array_contains(_spark_arr(PROFILES[lang]), w))
    )


_LANGID_SCORES_ORACLE = ",\n".join(
    f"           LEN(LIST_FILTER(STRING_SPLIT(text, ' '),"
    f" w -> LIST_CONTAINS({_sql_list(PROFILES[lang])}, w))) AS s_{lang}"
    for lang in _LANGS
)

# argmax by (score DESC, lang ASC) via a single chained CASE
_LANGID_PRED_ORACLE = "CASE " + " ".join(
    f"WHEN {' AND '.join(f's_{lang} >= s_{other}' for other in _LANGS if other != lang)}"
    f" THEN '{lang}'"
    for lang in _LANGS
) + " END"


@query(
    "text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
{_LANGID_SCORES_ORACLE}
        FROM documents)
    SELECT doc_id, lang AS actual_lang,
           {_LANGID_PRED_ORACLE} AS pred_lang,
           {' + '.join(f's_{lang}' for lang in _LANGS)} AS stopword_hits
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language hit counts over the
    words array, argmax with lexicographic tie-break (the CASE chain
    checks langs in sorted order, so the first max wins — identical
    tie semantics in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[_langid_score_spark(lang).alias(f"s_{lang}") for lang in _LANGS],
    )
    return scored.select(
        "doc_id",
        "actual_lang",
        _langid_pred_col().alias("pred_lang"),
        sum(F.col(f"s_{lang}") for lang in _LANGS).alias("stopword_hits"),
    )


def _langid_pred_col():
    """Argmax over the s_<lang> score columns with lexicographic
    tie-break — the Spark twin of _LANGID_PRED_ORACLE's CASE chain."""
    pred = None
    for lang in _LANGS:
        cond = None
        for other in _LANGS:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return pred


# -- quality scoring ---------------------------------------------------------

MIN_WORDS, MAX_WORDS = 10, 10000
MIN_MWL, MAX_MWL = 2.0, 12.0
MIN_STOP_RATIO = 0.0


@query(
    "text_quality",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               LEN(STRING_SPLIT(text, ' ')) AS n_words,
               ROUND(LEN(REPLACE(text, ' ', '')) * 1.0
                     / LEN(STRING_SPLIT(text, ' ')), 4) AS mean_word_len,
               ROUND(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                     w -> LIST_CONTAINS({_sql_list(EN_STOPWORDS)}, w))) * 1.0
                     / LEN(STRING_SPLIT(text, ' ')), 4) AS stopword_ratio,
               ROUND(LEN(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) * 1.0
                     / LEN(text), 4) AS alpha_ratio
        FROM documents)
    SELECT doc_id, n_words, mean_word_len, stopword_ratio, alpha_ratio,
           (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
            AND mean_word_len BETWEEN {MIN_MWL} AND {MAX_MWL}
            AND stopword_ratio >= {MIN_STOP_RATIO}) AS keep
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate: length, mean word length, stopword
    ratio, alphabetic ratio -> keep flag. All ratios rounded in-query
    (both engines) so the boolean cutoffs can't flip on float dust."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(_words())
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(F.length(F.regexp_replace("text", " ", "")) / n_words, 4).alias(
            "mean_word_len"
        ),
        F.round(
            F.size(F.filter(_words(), lambda w: F.array_contains(_spark_arr(EN_STOPWORDS), w)))
            / n_words,
            4,
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.length("text"), 4
        ).alias("alpha_ratio"),
    )
    return m.withColumn(
        "keep",
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_word_len").between(MIN_MWL, MAX_MWL)
        & (F.col("stopword_ratio") >= MIN_STOP_RATIO),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT source,
           SUM(LEN(STRING_SPLIT(text, ' '))) AS ws_tokens,
           SUM(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS bpe_tokens,
           ROUND(SUM(LEN(text)) * 1.0 /
                 SUM(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))), 4)
               AS chars_per_token
    FROM documents GROUP BY source
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per source: whitespace tokens vs a BPE-ish
    pre-tokenizer (letter runs | digit runs | single other char) —
    the unit planners budget 100 TB corpora in. regexp_extract_all is
    JVM-side; the whole query is one scan + one partial agg."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(F.expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
    return d.groupBy("source").agg(
        F.sum(F.size(_words())).alias("ws_tokens"),
        F.sum(bpe).alias("bpe_tokens"),
        F.round(F.sum(F.length("text")) / F.sum(bpe), 4).alias("chars_per_token"),
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 4),
                   i -> MD5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                            || w[i+3] || ' ' || w[i+4]))) AS gh
        FROM words WHERE LEN(w) >= 5),
    fp AS (SELECT doc_id, MIN(gh) AS fingerprint FROM grams GROUP BY doc_id)
    SELECT fingerprint,
           COUNT(*) AS cluster_size,
           MIN(doc_id) AS representative_doc
    FROM fp GROUP BY fingerprint
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-lite fingerprint: MIN md5 over word-5-gram hashes per
    document, then cluster sizes by fingerprint. The groupBy(fingerprint)
    is an equality dedup pre-pass — at 100 TB it runs as one shuffle on a
    16-byte key, no pairwise work."""
    d = load_table(spark, sf_dir, "documents")
    # words array materialized once per row (same reasoning as
    # dedup._shingles: inlined split re-evaluates per gram term)
    # docs under 5 words carry no 5-gram: guard BOTH engines identically
    # (Spark's concat_ws would otherwise emit a degenerate short gram
    # where DuckDB's || NULL-propagates — the shingle_explode divergence)
    grams = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 5),"
                    " i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))"
                )
            ).alias("gh"),
        )
    )
    fp = grams.groupBy("doc_id").agg(F.min("gh").alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("representative_doc"),
    )


@query(
    "text_vocab",
    oracle="""
    SELECT term, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 100
    """,
)
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 terms by global frequency. The
    explode blows each doc into ~n_words rows — the classic shuffle-
    amplification shape — but partial (map-side) aggregation collapses
    the blowup to distinct-terms-per-partition before the exchange, so
    what crosses the wire is vocabulary-sized, not corpus-sized. The
    final top-100 is a TakeOrdered, not a global sort. Integer counts:
    no float-ordering hazard between engines."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(100)
    )


@query(
    "text_tfidf",
    oracle="""
    WITH words AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        FROM documents),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS cnt
        FROM words GROUP BY doc_id, term),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df_docs
        FROM words GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.cnt * LN(CAST(n.n_docs AS DOUBLE) / df.df_docs), 6)
                   AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored)
    SELECT doc_id, term, tfidf FROM ranked WHERE rn = 1
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top TF-IDF term — the standard corpus keyword/
    feature op. Two aggregations share ONE exploded intermediate; the
    document-frequency side is vocabulary-sized after its agg, so Spark
    broadcasts it into the tf side (no co-partition shuffle of the big
    side on term). ROUND(·,6) BEFORE ranking: the ranking key is then
    bit-identical across engines (libm ln can differ in the last ulp —
    e.g. 2·ln(5) vs ln(25) — and an unrounded rank key could flip the
    winner), with ties broken by term."""
    d = load_table(spark, sf_dir, "documents")
    # corpus size as a broadcast one-row table, not a driver .count():
    # the whole query stays ONE lazy plan / one job
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    words = d.select("doc_id", F.explode(_words()).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    df_docs = words.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_docs")
    )
    scored = (
        tf.join(F.broadcast(df_docs), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("cnt") * F.log(F.col("n_docs") / F.col("df_docs")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.select("doc_id", "term", "tfidf", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "text_clean",
    oracle="""
    SELECT doc_id,
           LEN(regexp_extract_all(text, '\\b(order|fast|error)\\b'))
               AS n_redacted,
           LEN(regexp_replace(text, '\\b(order|fast|error)\\b', '<X>', 'g'))
               AS clean_len
    FROM documents
    """,
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing/redaction — the PII-removal shape of a corpus
    cleaning pass (here redacting vocabulary terms since the synthetic
    corpus has no URLs/emails; the pattern slot is where phone/email/
    URL scrubbers go). Both regexp calls are JVM-side, codegen'd, and
    embarrassingly parallel: no shuffle at all — the cleaning pass at
    100 TB is pure scan bandwidth. Patterns stay in the RE2 ∩ Java
    regex common subset so the DuckDB oracle matches byte-for-byte."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"\b(order|fast|error)\b"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias(
            "n_redacted"
        ),
        F.length(F.regexp_replace("text", pat, "<X>")).alias("clean_len"),
    )


@query(
    "text_ngrams",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
    b AS (
        SELECT term || ' ' || LEAD(term) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM w)
    SELECT bigram, COUNT(*) AS n
    FROM b WHERE bigram IS NOT NULL
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams. Bigrams are built ARRAY-LOCALLY
    (zip_with over two slices of the words array) instead of the
    posexplode + per-doc window the oracle uses: same result, but no
    per-document sort and no window state — each row produces its
    bigram list in place, then partial aggregation collapses counts
    map-side. The n-gram step of MinHash dedup reuses this exact
    shape (dedup._shingles)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(_words().alias("w"))
    bigrams = words.select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


CHUNK_WORDS = 50


@query(
    "text_chunk",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
    SELECT doc_id,
           CAST((pos - 1) // {CHUNK_WORDS} AS BIGINT) AS chunk_idx,
           string_agg(term, ' ' ORDER BY pos) AS chunk_text,
           COUNT(*) AS n_words
    FROM w GROUP BY doc_id, chunk_idx
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into {CHUNK_WORDS}-word chunks — the
    context-window chunking stage of an LLM training pipeline. Built
    ARRAY-LOCALLY: one `sequence` per doc enumerates chunk indices and
    `slice` cuts each chunk out of the words array, so chunking needs
    NO shuffle at all (the oracle's group-by formulation is the slow
    way; Spark never groups). Output rows ≈ corpus_words/{CHUNK_WORDS},
    produced streaming through whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _words().alias("w"))
    n_chunks = F.ceil(F.size("w") / F.lit(CHUNK_WORDS)).cast("int")
    return (
        w.select(
            "doc_id",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_idx", "_zero"
            ),
            "w",
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice("w", F.col("chunk_idx") * CHUNK_WORDS + 1, CHUNK_WORDS),
                " ",
            ).alias("chunk_text"),
            F.size(
                F.slice("w", F.col("chunk_idx") * CHUNK_WORDS + 1, CHUNK_WORDS)
            ).cast("long").alias("n_words"),
        )
    )


# -- end-to-end corpus cleaning pipeline -------------------------------------


@query(
    "corpus_cleanup",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, text,
{_LANGID_SCORES_ORACLE}
        FROM documents),
    pred AS (
        SELECT doc_id, text, {_LANGID_PRED_ORACLE} AS pred_lang,
               LEN(STRING_SPLIT(text, ' ')) AS n_words,
               ROUND(LEN(REPLACE(text, ' ', '')) * 1.0
                     / LEN(STRING_SPLIT(text, ' ')), 4) AS mwl
        FROM scored),
    flags AS (
        SELECT doc_id, text, pred_lang,
               (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                AND mwl BETWEEN {MIN_MWL} AND {MAX_MWL}) AS q_ok
        FROM pred),
    canon AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canon_id
        FROM flags WHERE pred_lang = 'en' AND q_ok)
    SELECT f.doc_id,
           CASE WHEN f.pred_lang <> 'en' THEN 'lang'
                WHEN NOT f.q_ok THEN 'quality'
                WHEN c.canon_id <> f.doc_id THEN 'duplicate'
                ELSE 'kept' END AS verdict
    FROM flags f LEFT JOIN canon c ON c.doc_id = f.doc_id
    """,
)
def corpus_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/Gopher-style cleaning pipeline END-TO-END as one plan:
    language-ID gate (keep pred 'en') -> quality gate (word count +
    mean word length bounds) -> exact dedup among survivors (min doc_id
    per md5(text) is canonical). Emits the per-doc audit verdict
    ('kept' | 'lang' | 'quality' | 'duplicate') — the drop-reason
    ledger a production cleanup run has to produce.

    Scale shape: the two gates are shuffle-free column work fused into
    the scan; ONLY survivors reach the dedup shuffle (filter-then-
    -shuffle ordering), keyed on md5(text) so clustering is uniform
    regardless of content skew. Dropped docs never hit the canon join:
    their verdict resolves in the earlier CASE arms, so the NULL
    canon_id from the left join can't misfire."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "text",
        *[_langid_score_spark(lang).alias(f"s_{lang}") for lang in _LANGS],
    )
    n_words = F.size(_words())
    mwl = F.round(F.length(F.regexp_replace("text", " ", "")) / n_words, 4)
    flags = scored.select(
        "doc_id",
        "text",
        _langid_pred_col().alias("pred_lang"),
        (n_words.between(MIN_WORDS, MAX_WORDS) & mwl.between(MIN_MWL, MAX_MWL)).alias(
            "q_ok"
        ),
    )
    surv = flags.filter((F.col("pred_lang") == "en") & F.col("q_ok"))
    canon = surv.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("canon_id"),
    )
    return flags.join(canon, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("pred_lang") != "en", "lang")
        .when(~F.col("q_ok"), "quality")
        .when(F.col("canon_id") != F.col("doc_id"), "duplicate")
        .otherwise("kept")
        .alias("verdict"),
    )


@query(
    "index_inverted",
    oracle="""
    WITH words AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS term
        FROM documents)
    SELECT term,
           COUNT(*) AS df,
           LIST(doc_id ORDER BY doc_id) AS postings
    FROM words GROUP BY term
    """,
)
def index_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term -> sorted posting list of doc ids +
    document frequency. The explode-amplification shape again: distinct
    terms per doc BEFORE the explode-side shuffle, partial aggregation
    collapses per-partition duplicates, and the only exchange is keyed
    by term. At 100 TB the stopword rows are the skew risk — posting
    lists for head terms get huge; the production variant shards a
    posting list by doc_id range (key = (term, doc_id DIV shard)) and
    concatenates shards at read time. Emitting whole lists here keeps
    the operator oracle-checkable; the sharded key is a one-line
    change to the groupBy."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.array_distinct(_words())).alias("term")
    )
    return words.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )


@query(
    "agg_entropy",
    oracle="""
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
              FROM documents)
        GROUP BY doc_id, term)
    SELECT doc_id,
           SUM(c) AS n_tokens,
           COUNT(*) AS n_distinct,
           ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 6) AS entropy
    FROM tf GROUP BY doc_id
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    repetitiveness signal (low entropy = boilerplate/spam) a corpus
    quality pipeline scores alongside text_quality's ratio gates.
    Computed in the numerically stable single-pass form
    H = ln(N) - sum(c*ln c)/N, so no per-term division and the two
    SUMs share one aggregate. Rounded to 6 in-query in both engines:
    cross-libm ln() ulp dust can't flip the hash. Scale shape: ONE
    exchange total, and it moves the COMPACT table — repartition the
    (doc_id, text) rows by doc_id BEFORE exploding, which satisfies the
    clustered distribution of BOTH downstream groupBys (doc_id is a
    subset of (doc_id, term)), so the exploded token rows never shuffle
    at all. The naive order (explode -> groupBy -> groupBy) shuffles
    twice, the first time at token volume."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.explode(_words()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
        ).alias("entropy"),
    )


# --------------------------------------------------------------------------
# corpus-LM scoring: per-doc unigram negative log-likelihood (the KenLM-
# style quality signal of LLM-data pipelines, reduced to the exactly-
# replayable unigram MLE case)
# --------------------------------------------------------------------------
@query(
    "text_unigram_logprob",
    oracle="""
    WITH words AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    vocab AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
    tot AS (SELECT COUNT(*) AS t FROM words)
    SELECT doc_id,
           COUNT(*) AS n_words,
           ROUND(AVG(-LN(cnt * 1.0 / (SELECT t FROM tot))), 4)
               AS avg_neg_logprob,
           ROUND(EXP(AVG(-LN(cnt * 1.0 / (SELECT t FROM tot)))), 2)
               AS unigram_ppl
    FROM words JOIN vocab USING (w)
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood (and perplexity) under
    the corpus's own unigram MLE — the language-model quality score
    every LLM-ingest pipeline runs (low-probability-dense docs are
    gibberish/boilerplate candidates), in its exactly-replayable form.

    Two-pass broadcast shape (same as text_tfidf): pass 1 reduces the
    exploded words to a vocabulary-sized count table that BROADCASTS
    into pass 2's per-word scoring join, so the corpus-side explode is
    scanned once and never shuffled on the word. At 100 TB the full
    vocabulary outgrows a broadcast: keep the top-K head broadcast and
    co-partition the Zipf tail (or fold OOV into a smoothing constant —
    here every scored word is in-vocabulary by construction, so the MLE
    needs no smoothing and both engines compute bit-comparable
    ``-ln(cnt/total)`` terms; the per-doc AVG is rounded in-query in
    BOTH engines so summation order can't flip the hash)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(_words()).alias("w"))
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    # corpus token total off the vocabulary aggregate as a broadcast
    # one-row table (no driver .count(), no second corpus scan)
    total = vocab.agg(F.sum("cnt").cast("double").alias("t"))
    lp = -F.log(F.col("cnt") / F.col("t"))
    return (
        words.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.avg(lp), 4).alias("avg_neg_logprob"),
            F.round(F.exp(F.avg(lp)), 2).alias("unigram_ppl"),
        )
    )


# --------------------------------------------------------------------------
# passage-level exact dedup (fixed word-window blocks): the boilerplate
# remover of LLM-data pipelines — repeated passages are dropped even when
# their containing documents differ
# --------------------------------------------------------------------------
_PASSAGE_WORDS = 20


@query(
    "dedup_passages",
    oracle=f"""
    WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    b AS (SELECT doc_id,
                 ARRAY_TO_STRING(ws[(i * {_PASSAGE_WORDS} + 1):
                                    (i * {_PASSAGE_WORDS} + {_PASSAGE_WORDS})], ' ')
                     AS block
          FROM w, UNNEST(GENERATE_SERIES(0, LEN(ws) // {_PASSAGE_WORDS} - 1))
                      AS t(i))
    SELECT MD5(block) AS block_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM b GROUP BY MD5(block)
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage dedup over non-overlapping {20}-word blocks: hash
    every block, keep hashes seen in more than one document — the
    boilerplate/template remover that document-level dedup misses
    (headers, licence blocks, navigation chrome repeat across otherwise
    distinct pages).

    Shape at 100 TB: the explode multiplies rows by ~n_words/20, but
    each exploded row is immediately reduced to a 16-byte hash
    projection, and the groupBy partial-aggregates map-side before the
    single hash-keyed exchange — the shuffle carries hashes and counts,
    never passage text. Dropping the flagged blocks is then a
    broadcast-able anti-join for all but pathological corpora (the
    flagged set is duplicated-passages-sized, not corpus-sized)."""
    d = load_table(spark, sf_dir, "documents")
    # sub-block docs yield no passages; filtering them BEFORE the
    # sequence also avoids Spark's illegal-boundary error on
    # sequence(0, -1, 1) (DuckDB's GENERATE_SERIES returns empty there)
    w = d.select("doc_id", _words().alias("ws")).filter(
        F.size("ws") >= _PASSAGE_WORDS
    )
    blocks = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.expr(f"size(ws) div {_PASSAGE_WORDS}") - F.lit(1),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("ws"), i * _PASSAGE_WORDS + 1, _PASSAGE_WORDS)
                ),
            )
        ).alias("block"),
    )
    return (
        blocks.groupBy(F.md5("block").alias("block_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "bpe_pair_stats",
    oracle="""
    WITH words AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    pairs AS (
        SELECT UNNEST(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 1),
                   i -> SUBSTRING(w, i, 2))) AS pair
        FROM words WHERE LEN(w) >= 2),
    counted AS (
        SELECT pair, COUNT(*) AS n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS rk
        FROM pairs GROUP BY pair)
    SELECT pair, n, rk FROM counted WHERE rk <= 20
    """,
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge-candidate table: the 20 most frequent adjacent
    character pairs inside words across the corpus — exactly the
    statistic a byte-pair-encoding tokenizer trainer computes to pick
    its next merge (Sennrich et al. 2016's inner loop, one round).

    Plan: pair extraction is array-local (explode of substrings — no
    per-word shuffle); the count partial-aggregates map-side before the
    single pair exchange. The rank window's single-partition sort runs
    over the COUNTED table only — the pair alphabet is bounded
    (|charset|^2), so that table stays thousands of rows at any corpus
    size and raw pairs never leave their scan partitions un-aggregated.
    That bounded-alphabet property is the shape that makes repeated BPE
    rounds tractable as Spark jobs.
    Determinism: count ties break on the pair string itself.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        F.explode(
            F.expr(
                "flatten(transform(filter(split(text, ' '), w -> length(w) >= 2),"
                " w -> transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))))"
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return counted.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 20
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, lang,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact user' || doc_id || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' call 555-' || LPAD((doc_id % 1000)::VARCHAR, 3, '0')
                            || '-' || LPAD((doc_id % 10000)::VARCHAR, 4, '0')
                       ELSE '' END AS text
        FROM documents),
    red AS (
        SELECT doc_id, lang,
               LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
               LEN(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
               LENGTH(text)
               - LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(text,
                     '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_PHONE_RE}', '<PHONE>', 'g')) AS len_delta
        FROM seeded)
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(n_emails) AS n_emails,
           SUM(n_phones) AS n_phones,
           SUM(len_delta) AS chars_removed
    FROM red GROUP BY lang
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails + phone numbers -> typed placeholder
    tokens), the redaction step every training-data pipeline runs before
    tokenization. The fixture corpus carries no PII, so both engines
    SEED identical synthetic addresses/numbers from doc_id first — the
    graded surface is the redaction itself: detection counts and the
    exact char-length delta of replace-all under the same RE2-safe
    patterns (no lookarounds, so Java and RE2 regex agree). Realistic
    pattern coverage is pinned by tests/test_pii.py on planted strings.

    Scale shape: pure per-row JVM regexp (scan-fused, zero shuffle until
    the per-language rollup); patterns are deliberately anchored/
    bounded — catastrophic-backtracking-free in both engines."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    red = seeded.select(
        "lang",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        (F.length("text") - F.length(redacted)).alias("len_delta"),
    )
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_phones").alias("n_phones"),
        F.sum("len_delta").alias("chars_removed"),
    )


def _o_bpe_round(k: int) -> str:
    """One unrolled BPE training round as DuckDB CTEs (vocab{k-1} -> vocab{k},
    best{k}). Symbol sequences ride as '|sym1||sym2||...|' strings so the
    merge is a plain non-overlapping left-to-right REPLACE — the same
    space-join trick as the original subword-nmt trainer, with '|'
    delimiters making symbol boundaries unambiguous."""
    p = k - 1
    return f"""
    syms{k} AS (
        SELECT freq, seq,
               STRING_SPLIT(SUBSTRING(seq, 2, LENGTH(seq) - 2), '||') AS s
        FROM vocab{p}),
    pairs{k} AS (
        SELECT freq,
               UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(s) - 1),
                      i -> struct_pack(l := s[i], r := s[i + 1]))) AS pr
        FROM syms{k} WHERE LEN(s) >= 2),
    best{k} AS (
        SELECT pr.l AS l, pr.r AS r, SUM(freq) AS n
        FROM pairs{k} GROUP BY pr.l, pr.r
        ORDER BY n DESC, l, r LIMIT 1),
    vocab{k} AS (
        SELECT v.freq,
               REPLACE(v.seq, '|' || b.l || '||' || b.r || '|',
                       '|' || b.l || b.r || '|') AS seq
        FROM vocab{p} v CROSS JOIN best{k} b)"""


_N_BPE_ROUNDS = 3


@query(
    "bpe_train_merges",
    oracle=f"""
    WITH words AS (
        SELECT w, COUNT(*) AS freq FROM (
            SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        WHERE LENGTH(w) >= 2 AND REGEXP_MATCHES(w, '^[!-~]+$')
          AND w NOT LIKE '%|%'
        GROUP BY w),
    vocab0 AS (
        SELECT freq,
               '|' || ARRAY_TO_STRING(STRING_SPLIT(w, ''), '||') || '|' AS seq
        FROM words),
    {",".join(_o_bpe_round(k) for k in range(1, _N_BPE_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, n AS pair_freq FROM best{k}"
        for k in range(1, _N_BPE_ROUNDS + 1)
    )}
    """,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE full rounds of BPE tokenizer TRAINING (Sennrich et al. 2016):
    count adjacent symbol pairs weighted by word frequency, adopt the most
    frequent pair as a merge, rewrite every word, repeat — the iterative
    loop bpe_pair_stats is one round of, with an exactly-unrolled SQL
    oracle (no rows-only weakening).

    Spark-first shape: training runs on the DISTINCT-word vocabulary
    (bounded by the language, not the corpus), so the ONLY corpus-scale
    work is the initial word-frequency aggregate; each round is then a
    vocab-local pair explode + one bounded pair-count shuffle + a 1-row
    broadcast of the winning merge back onto the vocab — no driver-side
    loop state, the whole 3-round program is ONE declarative plan. Symbol
    sequences ride as '|a||b|' strings; the merge itself is a plain
    non-overlapping REPLACE (verified identical left-to-right semantics
    in Spark and DuckDB), the delimiter making symbol boundaries
    unambiguous where the classic space-join needs regex lookarounds.
    Ties break on (count DESC, left, right); non-ASCII and '|'-bearing
    words are excluded up front in both engines so code-unit vs
    code-point splitting can never diverge.

    The adopted merge is a ONE-ROW TakeOrdered collect per round (the
    bounded driver action pattern of graph_pagerank's vertex counts) and
    is re-injected as literals — a fully-declarative 3-round union was
    measured to re-derive the vocab lineage 2^k times (each round's
    rewrite embeds the previous round's argmax twice). The bounded
    vocabulary is persisted once; each round reads the cache plus its
    own narrow rewrite chain.

    At 100 TB: vocabulary ~10^6 rows regardless of corpus size — rounds
    cost megabytes; 50k merges is 50k tiny jobs off ONE corpus pass, the
    scale property that makes Spark-side BPE training viable at all."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(
            (F.length("w") >= 2)
            & F.col("w").rlike("^[!-~]+$")
            & ~F.col("w").contains("|")
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    vocab0 = words.select(
        "freq",
        F.concat(
            F.lit("|"), F.array_join(F.split("w", ""), "||"), F.lit("|")
        ).alias("seq"),
    )
    with reused(vocab0):
        vocab = vocab0
        merges = []
        for k in range(1, _N_BPE_ROUNDS + 1):
            syms = vocab.select(
                "freq",
                F.split(
                    F.expr("substring(seq, 2, length(seq) - 2)"), r"\|\|"
                ).alias("s"),
            )
            pairs = syms.filter(F.size("s") >= 2).select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1),"
                        " i -> struct(element_at(s, i) AS l,"
                        " element_at(s, i + 1) AS r))"
                    )
                ).alias("pr"),
            )
            counted = pairs.groupBy("pr.l", "pr.r").agg(F.sum("freq").alias("n"))
            # argmax as TakeOrderedAndProject -> exactly one driver row
            best = counted.orderBy(F.desc("n"), F.asc("l"), F.asc("r")).limit(1).collect()[0]
            l, r, n = best["l"], best["r"], best["n"]
            vocab = vocab.select(
                "freq",
                F.replace(
                    F.col("seq"),
                    F.concat(F.lit("|"), F.lit(l), F.lit("||"), F.lit(r), F.lit("|")),
                    F.concat(F.lit("|"), F.lit(l + r), F.lit("|")),
                ).alias("seq"),
            )
            merges.append((k, l, r, l + r, n))
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, merged string, pair_freq bigint",
    )


@query(
    "text_perplexity_buckets",
    oracle="""
    WITH words AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    vocab AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
    tot AS (SELECT COUNT(*) AS t FROM words),
    scored AS (
        SELECT doc_id,
               ROUND(AVG(-LN(cnt * 1.0 / (SELECT t FROM tot))), 4) AS nll,
               ROUND(EXP(AVG(-LN(cnt * 1.0 / (SELECT t FROM tot)))), 2) AS ppl
        FROM words JOIN vocab USING (w)
        GROUP BY doc_id),
    bucketed AS (
        SELECT d.lang, s.ppl,
               NTILE(3) OVER (PARTITION BY d.lang
                              ORDER BY s.nll, s.doc_id) AS bucket
        FROM scored s JOIN documents d USING (doc_id))
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           MIN(ppl) AS min_ppl,
           MAX(ppl) AS max_ppl
    FROM bucketed GROUP BY lang, bucket
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., 2020): rank every
    document by its LM score WITHIN its language and cut head/middle/tail
    thirds — the standard quality-stratification step before mixing
    training data (head = fluent, tail = gibberish candidates).

    Scale shape: the scoring pass is text_unigram_logprob's two-pass
    broadcast-vocabulary plan; bucketing adds one per-language window
    (NTILE over the compact per-doc score table, not the token rows) and
    a tiny summary aggregate. Ties order by doc_id so the cut points
    are deterministic.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(_words()).alias("w"))
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    total = (
        vocab.agg(F.sum("cnt").alias("t"))
    )
    lp = -F.log(F.col("cnt") * 1.0 / F.col("t"))
    scored = (
        words.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(lp), 4).alias("nll"),
            F.round(F.exp(F.avg(lp)), 2).alias("ppl"),
        )
    )
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    bucketed = (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", F.ntile(3).over(w))
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH words AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    bigrams AS (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 1),
                   i -> w[i] || ' ' || w[i+1])) AS bg
        FROM words WHERE LEN(w) >= 2),
    bg_counts AS (SELECT bg, COUNT(*) AS c_bg FROM bigrams GROUP BY bg),
    uni AS (
        SELECT UNNEST(w[1:LEN(w)-1]) AS u, doc_id FROM words WHERE LEN(w) >= 2),
    u_counts AS (SELECT u, COUNT(*) AS c_u FROM uni GROUP BY u)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(-LN(bc.c_bg * 1.0 / uc.c_u)), 4) AS avg_neg_logprob,
           ROUND(EXP(AVG(-LN(bc.c_bg * 1.0 / uc.c_u))), 2) AS bigram_ppl
    FROM bigrams b
    JOIN bg_counts bc ON bc.bg = b.bg
    JOIN u_counts uc ON uc.u = SPLIT_PART(b.bg, ' ', 1)
    GROUP BY b.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram conditional log-likelihood under the corpus's
    own bigram MLE — one rung up the LM ladder from
    text_unigram_logprob (P(w_i | w_{i-1}) instead of P(w_i)): a much
    sharper gibberish/boilerplate signal because word ORDER now counts.
    Every scored bigram is in-vocabulary by construction, so the MLE
    needs no smoothing and both engines compute bit-comparable ratio
    logs; per-doc averages round in-query.

    Scale shape (the text_tfidf/unigram broadcast family): bigram and
    prefix-unigram count tables are vocabulary-sized after their
    partial-agged group-bys and BROADCAST into the scoring join — the
    exploded corpus is scanned once and never shuffles on a token key.
    At 100 TB the bigram table outgrows a broadcast first: co-partition
    on the prefix word (head-word skew salts like any hot key).
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    bigrams = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> concat_ws(' ', w[i], w[i+1]))"
            )
        ).alias("bg"),
    )
    bg_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    uni = w.select(
        F.explode(F.expr("slice(w, 1, size(w) - 1)")).alias("u")
    )
    u_counts = uni.groupBy("u").agg(F.count(F.lit(1)).alias("c_u"))
    lp = -F.log(F.col("c_bg") * 1.0 / F.col("c_u"))
    return (
        bigrams.join(F.broadcast(bg_counts), "bg")
        .join(
            F.broadcast(u_counts),
            F.split(F.col("bg"), " ").getItem(0) == F.col("u"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(lp), 4).alias("avg_neg_logprob"),
            F.round(F.exp(F.avg(lp)), 2).alias("bigram_ppl"),
        )
    )


# --------------------------------------------------------------------------
# BPE tokenizer APPLICATION (the companion to bpe_train_merges: training
# happens once, encoding runs on every corpus pass)
# --------------------------------------------------------------------------
# A fixed rank-ordered merge table, as if loaded from a tokenizer file.
# Later merges consume earlier merges' symbols ('ta'+'b' needs 't'+'a'
# first) — the hierarchy that makes application order-sensitive.
_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "a"),
    ("ta", "b"),
    ("s", "c"),
    ("sc", "a"),
    ("e", "r"),
]


def _bpe_apply_oracle(col: str) -> str:
    expr = col
    for l, r in _BPE_MERGES:
        expr = f"REPLACE({expr}, '|{l}||{r}|', '|{l}{r}|')"
    return expr


@query(
    "bpe_encode",
    oracle=f"""
    WITH toks AS (
        SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    ok AS (
        SELECT lang, w FROM toks
        WHERE REGEXP_MATCHES(w, '^[!-~]+$') AND w NOT LIKE '%|%'),
    vocab AS (SELECT DISTINCT w FROM ok),
    enc AS (
        SELECT w,
               {_bpe_apply_oracle(
                   "'|' || ARRAY_TO_STRING(STRING_SPLIT(w, ''), '||') || '|'"
               )} AS seq
        FROM vocab),
    sized AS (
        SELECT w,
               CAST((LENGTH(seq) - LENGTH(REPLACE(seq, '|', ''))) / 2
                    AS BIGINT) AS n_tok
        FROM enc)
    SELECT o.lang,
           COUNT(*) AS n_words,
           SUM(s.n_tok) AS n_tokens,
           ROUND(SUM(s.n_tok) * 1.0 / COUNT(*), 6) AS tokens_per_word
    FROM ok o JOIN sized s ON s.w = o.w
    GROUP BY o.lang
    """,
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: encode the corpus under a fixed
    rank-ordered merge table (the deployment half of bpe_train_merges —
    a production pipeline trains once, then tokenizes every batch) and
    report per-language token statistics, the number a data pipeline
    needs for mixture weighting and packing budgets.

    Spark-first shape: merges are applied to the DISTINCT-word
    vocabulary, not the corpus — the same '|sym1||sym2|' delimiter
    strings and non-overlapping left-to-right REPLACE chain as
    training, one REPLACE per merge rank (order-sensitive: 'ta'+'b'
    only fires after 't'+'a' created the 'ta' symbol). Per-word token
    counts = half the delimiter count, an exact integer. The corpus
    then joins the broadcast-sized vocabulary lookup; the per-language
    census partial-aggregates map-side. At 100 TB the encode cost is
    vocabulary-bounded (~10^6 rows) and the corpus-scale work is one
    explode + broadcast-join — the only shape that makes Spark-side
    tokenization viable (per-doc Python BPE would be a row-at-a-time
    UDF over every byte of the corpus).

    Exactness: token counts are integers; tokens_per_word is one
    IEEE division of exact ints, rounded to 6dp — bit-stable at any SF.
    """
    d = load_table(spark, sf_dir, "documents")
    ok = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[!-~]+$") & ~F.col("w").contains("|"))
    )
    vocab = ok.select("w").distinct()
    seq = F.concat(
        F.lit("|"), F.array_join(F.split("w", ""), "||"), F.lit("|")
    )
    for l, r in _BPE_MERGES:
        seq = F.replace(seq, F.lit(f"|{l}||{r}|"), F.lit(f"|{l}{r}|"))
    sized = vocab.select(
        "w",
        (
            (F.length(seq) - F.length(F.replace(seq, F.lit("|"), F.lit(""))))
            / 2
        )
        .cast("long")
        .alias("n_tok"),
    )
    return (
        ok.join(F.broadcast(sized), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.sum("n_tok") / F.count(F.lit(1)), 6).alias(
                "tokens_per_word"
            ),
        )
    )


# --------------------------------------------------------------------------
# Hashed linear quality classifier (the GPT-3/CCNet importance-filter
# shape: score every document with a linear model over hashed
# bag-of-words features, bucket the corpus by score)
# --------------------------------------------------------------------------
# The "trained" weight vector is synthesized deterministically from the
# feature id (stands in for a fasttext/logistic model shipped to the
# cluster): feature = md5-hash of the word mod 1024, weight = feature
# mod 7 - 3 (integers in [-3, 3]). Cross-engine by the same md5->bigint
# idiom as the mixture-sampling u100.
_FEAT_W_SPARK = (
    "pmod(cast(conv(substring(md5(w), 1, 7), 16, 10) as bigint), 1024)"
    " % 7 - 3"
)
_FEAT_W_ORACLE = (
    "CAST(CONCAT('0x', SUBSTR(MD5(w), 1, 7)) AS BIGINT) % 1024 % 7 - 3"
)


@query(
    "text_quality_linear",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               LEN(STRING_SPLIT(text, ' ')) AS n_words,
               LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                        w -> {_FEAT_W_ORACLE})) AS score
        FROM documents),
    bucketed AS (
        SELECT lang, n_words, score,
               CASE WHEN 5 * score > n_words THEN 'high'
                    WHEN 5 * score < -n_words THEN 'low'
                    ELSE 'mid' END AS bucket
        FROM scored)
    SELECT lang, bucket, COUNT(*) AS n_docs, SUM(score) AS total_score
    FROM bucketed GROUP BY lang, bucket
    """,
)
def text_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (the importance-sampling filter
    of GPT-3's data pipeline / CCNet's fasttext scorer, as a Spark
    plan): each document's score is a linear model over hashed
    bag-of-words features — feature id = content hash of the word mod
    1024, weight looked up by feature id — and the corpus is bucketed
    into high/mid/low quality by mean weight (the cut a pipeline uses
    to keep, downsample, or drop).

    Spark-first shape: the score is ONE higher-order aggregate over the
    split array (transform -> weight, aggregate -> sum) — per-row
    column algebra inside codegen, no explode, NO shuffle at all until
    the |langs x 3|-row census partial-aggregates. This is the honest
    100 TB form of "apply a linear classifier": the model rides in the
    expression (a real weight table would broadcast), the corpus is
    read once, and nothing leaves the JVM.

    Exactness: weights and scores are integers; the bucket cuts are
    integer cross-multiplications (5*score > n_words == mean > 0.2) —
    bit-stable at any SF.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
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
    return (
        scored.select("lang", "n_words", "score", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score").alias("total_score"),
        )
    )


# ---- vocabulary growth (Heaps' law) census ---------------------------------

VOCAB_GROWTH_PCTS = (1, 10, 25, 50, 100)


@query(
    "text_vocab_growth",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    firsts AS (SELECT w, MIN(doc_id) AS first_id FROM words GROUP BY w),
    stats AS (SELECT MAX(doc_id) AS max_id FROM documents),
    pcts AS (SELECT UNNEST([{', '.join(str(p) for p in VOCAB_GROWTH_PCTS)}]) AS pct),
    vocab AS (
        SELECT p.pct,
               SUM(CASE WHEN f.first_id * 100 <= s.max_id * p.pct
                        THEN 1 ELSE 0 END) AS vocab_size
        FROM firsts f CROSS JOIN stats s CROSS JOIN pcts p GROUP BY p.pct),
    docside AS (
        SELECT p.pct,
               SUM(CASE WHEN d.doc_id * 100 <= s.max_id * p.pct
                        THEN 1 ELSE 0 END) AS n_docs,
               SUM(CASE WHEN d.doc_id * 100 <= s.max_id * p.pct
                        THEN LEN(STRING_SPLIT(d.text, ' '))
                        ELSE 0 END) AS n_tokens
        FROM documents d CROSS JOIN stats s CROSS JOIN pcts p GROUP BY p.pct)
    SELECT v.pct, ds.n_docs, ds.n_tokens, v.vocab_size
    FROM vocab v JOIN docside ds ON ds.pct = v.pct
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth census: distinct-word count after
    the first 1/10/25/50/100% of the doc-id space, with the doc and
    token counts at each checkpoint — the sublinearity curve that tells
    a tokenizer/dedup pipeline whether a crawl is still contributing
    novel vocabulary or re-crawling the same material.

    Exactness: a word exists at checkpoint p iff its FIRST occurrence
    doc satisfies first_id*100 <= max_id*p (integer cross-multiplied —
    no float fraction); all outputs are integers.

    Scale shape: the explode collapses map-side into ONE (word ->
    min doc_id) partial-aggregated exchange; the five checkpoints are
    conditional sums inside a single 1-row aggregate of that table
    (never a x5 row expansion), the doc-side census is a second 1-row
    aggregate of the base scan, and the 1-row stats table broadcasts
    onto both. The 5-row output unpivots driver-free via stack().
    """
    d = load_table(spark, sf_dir, "documents")
    stats = d.agg(F.max("doc_id").alias("max_id"))
    firsts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_id"))
    )
    vocab = firsts.crossJoin(F.broadcast(stats)).agg(
        *[
            F.sum(
                F.when(F.col("first_id") * 100 <= F.col("max_id") * p, 1).otherwise(0)
            ).alias(f"v{p}")
            for p in VOCAB_GROWTH_PCTS
        ]
    )
    docside = (
        d.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
        .crossJoin(F.broadcast(stats))
        .agg(
            *[
                F.sum(
                    F.when(F.col("doc_id") * 100 <= F.col("max_id") * p, 1).otherwise(0)
                ).alias(f"d{p}")
                for p in VOCAB_GROWTH_PCTS
            ],
            *[
                F.sum(
                    F.when(
                        F.col("doc_id") * 100 <= F.col("max_id") * p, F.col("n_tok")
                    ).otherwise(0)
                ).alias(f"t{p}")
                for p in VOCAB_GROWTH_PCTS
            ],
        )
    )
    combined = vocab.crossJoin(F.broadcast(docside))
    stack = ", ".join(
        f"{p}, d{p}, t{p}, v{p}" for p in VOCAB_GROWTH_PCTS
    )
    return combined.select(
        F.expr(
            f"stack({len(VOCAB_GROWTH_PCTS)}, {stack})"
            " as (pct, n_docs, n_tokens, vocab_size)"
        )
    )


# ---- denoising-objective mask census ---------------------------------------

MASK_PCT = 15  # T5/BART-style corruption rate

_MASK_SPARK = (
    "transform(sequence(1, size(split(text, ' '))),"
    " i -> pmod(cast(conv(substring(md5(concat(cast(doc_id as string), ':',"
    " cast(i as string))), 1, 7), 16, 10) as bigint), 100) < " + str(MASK_PCT) + ")"
)
_MASK_ORACLE = (
    "LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1),"
    " i -> CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR), ':',"
    " CAST(i AS VARCHAR))), 1, 7)) AS BIGINT) % 100 < " + str(MASK_PCT) + ")"
)


@query(
    "text_span_corruption",
    oracle=f"""
    WITH m AS (
        SELECT lang,
               LEN(STRING_SPLIT(text, ' ')) AS n,
               {_MASK_ORACLE} AS mask
        FROM documents),
    per_doc AS (
        SELECT lang, n,
               LEN(LIST_FILTER(mask, x -> x)) AS n_masked,
               LEN(LIST_FILTER(RANGE(1, n + 1),
                   i -> mask[i] AND (i = 1 OR NOT mask[i-1]))) AS n_spans
        FROM m)
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(n) AS n_tokens,
           SUM(n_masked) AS n_masked,
           SUM(n_spans) AS n_spans
    FROM per_doc GROUP BY lang
    """,
)
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoising-objective mask census: deterministically mask
    {MASK_PCT}% of tokens (content-hash per (doc, position) — the
    reproducible stand-in for the trainer's RNG) and count masked
    tokens AND contiguous masked SPANS per language — the span/token
    corruption statistics a T5/BART-style pretraining pipeline asserts
    before writing sentinel-token targets.

    Exactness: the mask is the md5->bigint idiom (minhash chain
    precedent), bit-identical in both engines; span starts are
    positions i with mask[i] AND NOT mask[i-1] — counted array-locally
    by a positional filter over the boolean mask, all integers.

    Scale shape: mask, token count, and span count are ALL array-local
    per-row expressions (no explode — a 4k-token doc stays one row);
    the only exchange is the per-language census aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    # materialize the mask ONCE per row (the md5-per-token cost), then
    # count tokens/masked/spans over the cached array
    masked = d.select(
        "lang",
        F.size(F.split("text", " ")).alias("n"),
        F.expr(_MASK_SPARK).alias("mask"),
    )
    per_doc = masked.select(
        "lang",
        "n",
        F.expr("size(filter(mask, x -> x))").alias("n_masked"),
        F.expr(
            "size(filter(sequence(1, n),"
            " i -> element_at(mask, i)"
            " and (i = 1 or not element_at(mask, i - 1))))"
        ).alias("n_spans"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        F.sum("n_masked").alias("n_masked"),
        F.sum("n_spans").alias("n_spans"),
    )


# -- boilerplate segment removal census (CCNet / RefinedWeb line dedup) ------

_BOILER_SEG = 5  # words per segment ("line" unit; fixture text has no \n)
_BOILER_MIN_DOCS = 2  # segment in >= this many docs of one source = boilerplate


@query(
    "text_boilerplate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    segs AS (
        SELECT doc_id, source,
               array_to_string(
                   w[i.g * {_BOILER_SEG} + 1 : i.g * {_BOILER_SEG} + {_BOILER_SEG}],
                   ' ') AS seg
        FROM toks, LATERAL (
            SELECT UNNEST(GENERATE_SERIES(
                0, CAST(CEIL(len(w) / {_BOILER_SEG}.0) AS INT) - 1)) AS g) i),
    per_seg AS (
        SELECT source, seg, COUNT(*) AS occ,
               COUNT(DISTINCT doc_id) AS n_docs_seg
        FROM segs GROUP BY source, seg)
    SELECT source,
           SUM(occ) AS n_segments,
           COUNT(*) AS n_distinct_segments,
           SUM(CASE WHEN n_docs_seg >= {_BOILER_MIN_DOCS} THEN occ ELSE 0 END)
               AS n_boiler_occurrences,
           SUM(CASE WHEN n_docs_seg >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
               AS n_boiler_segments,
           ROUND(SUM(CASE WHEN n_docs_seg >= {_BOILER_MIN_DOCS}
                          THEN occ ELSE 0 END) * 1.0 / SUM(occ), 6)
               AS boiler_ratio
    FROM per_seg GROUP BY source
    """,
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-segment census per source — the line-level dedup pass
    of CCNet/RefinedWeb-style web curation (navbars/footers repeat
    across pages of one site; here "line" = a fixed 5-word segment since
    the fixture text has no newlines). A segment occurring in >= 2
    DISTINCT docs of the same source is boilerplate; the census reports,
    per source, how much of the corpus that removal pass would delete.

    Scale shape: segmentation is a per-row array expression
    (sequence+transform+slice — no per-word explode; one output row per
    segment only after the single explode). ONE wide shuffle on
    (source, seg) with map-side partial aggregation — repeated segments
    collapse before the exchange, which is the entire point of the
    operator — then a source-sized regroup. At 100 TB this is the same
    two-level shape as a word count; no join, no quadratic term. The
    per-source census is O(sources). Ratio is a correctly-rounded IEEE
    double of two exact BIGINTs — identical in both engines."""
    d = load_table(spark, sf_dir, "documents")
    k = _BOILER_SEG
    segs = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {k}.0)"
                f" as int) - 1),"
                f" g -> array_join(slice(split(text, ' '), g * {k} + 1, {k}), ' '))"
            )
        ).alias("seg"),
    )
    per_seg = segs.groupBy("source", "seg").agg(
        F.count(F.lit(1)).alias("occ"),
        F.countDistinct("doc_id").alias("n_docs_seg"),
    )
    boiler = F.col("n_docs_seg") >= _BOILER_MIN_DOCS
    return per_seg.groupBy("source").agg(
        F.sum("occ").alias("n_segments"),
        F.count(F.lit(1)).alias("n_distinct_segments"),
        F.sum(F.when(boiler, F.col("occ")).otherwise(F.lit(0))).alias(
            "n_boiler_occurrences"
        ),
        F.sum(F.when(boiler, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_boiler_segments"
        ),
        F.round(
            F.sum(F.when(boiler, F.col("occ")).otherwise(F.lit(0)))
            / F.sum("occ"),
            6,
        ).alias("boiler_ratio"),
    )


# -- PMI collocations ---------------------------------------------------------

_PMI_MIN_COUNT = 5  # bigram support floor (standard collocation practice)


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS w FROM documents),
    uni AS (
        SELECT term, COUNT(*) AS c FROM (
            SELECT UNNEST(w) AS term FROM toks) GROUP BY term),
    n_uni AS (SELECT SUM(c) AS n FROM uni),
    bi AS (
        SELECT w1, w2, COUNT(*) AS c_ab FROM (
            SELECT UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(w) - 1), i -> w[i])) AS w1,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(w) - 1), i -> w[i + 1])) AS w2
            FROM toks WHERE LEN(w) >= 2)
        GROUP BY w1, w2 HAVING COUNT(*) >= {_PMI_MIN_COUNT}),
    n_bi AS (SELECT SUM(c_ab) AS n FROM (
        SELECT COUNT(*) AS c_ab FROM (
            SELECT UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(w) - 1), i -> w[i])) AS w1,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(w) - 1), i -> w[i + 1])) AS w2
            FROM toks WHERE LEN(w) >= 2)
        GROUP BY w1, w2)),
    scored AS (
        SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
               CAST(FLOOR(CAST(b.c_ab AS DOUBLE) * 1e12
                          / ua.c / ub.c) AS BIGINT) AS rank_key,
               ROUND(LN(CAST(b.c_ab AS DOUBLE) / ua.c / ub.c
                        * nu.n / nb.n * nu.n), 6) AS pmi
        FROM bi b
        JOIN uni ua ON ua.term = b.w1
        JOIN uni ub ON ub.term = b.w2
        CROSS JOIN n_uni nu CROSS JOIN n_bi nb)
    SELECT w1, w2, c_ab, c_a, c_b, pmi
    FROM scored ORDER BY rank_key DESC, w1, w2 LIMIT 50
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI-ranked adjacent-word collocations (support >= 5) —
    the classic corpus-statistics pass behind phrase mining / tokenizer
    merge candidates (Mikolov-style phrase detection uses exactly this
    count ratio).

    Determinism: the RANK KEY is floor(c_ab * 1e12 / c_a / c_b) computed
    by the identical left-to-right IEEE expression in both engines —
    every step (int->double conversion, multiply, two divisions, floor)
    is correctly-rounded and deterministic, so the ordering can never
    disagree; PMI itself is display-only, LN of identical doubles
    rounded to 6dp (the text_tfidf contract). Ties total-ordered by
    (w1, w2).

    Scale shape: unigram and bigram counts are two explode->partial-agg
    exchanges that collapse to VOCABULARY size map-side (word-count
    shape); the scoring joins attach unigram counts to the (tiny)
    supported-bigram table — broadcast-able at any corpus size since
    vocab, not corpus, bounds them; the two 1-row totals are scalar
    broadcasts. Final top-50 is a TakeOrdered, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    uni = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi_all = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> struct(w[i] as w1, w[i + 1] as w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi_counts = bi_all.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    bi = bi_counts.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
    n_uni = uni.agg(F.sum("c").alias("n_u"))
    n_bi = bi_counts.agg(F.sum("c_ab").alias("n_b"))
    scored = (
        bi.join(uni.select(F.col("term").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.floor(
                F.col("c_ab").cast("double")
                * F.lit(1e12)
                / F.col("c_a")
                / F.col("c_b")
            )
            .cast("bigint")
            .alias("rank_key"),
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    / F.col("c_a")
                    / F.col("c_b")
                    * F.col("n_u")
                    / F.col("n_b")
                    * F.col("n_u")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("rank_key").desc(), "w1", "w2")
        .limit(50)
        .select("w1", "w2", "c_ab", "c_a", "c_b", "pmi")
    )


# -- Zipf rank-frequency fit ---------------------------------------------------

_ZIPF_TOP = 1000  # fit over the head of the vocabulary


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH uni AS (
        SELECT term, COUNT(*) AS c FROM (
            SELECT UNNEST(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term),
    top AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk
        FROM uni ORDER BY c DESC, term LIMIT {_ZIPF_TOP}),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(LN(rk)) AS sx, SUM(LN(c)) AS sy,
               SUM(LN(rk) * LN(c)) AS sxy, SUM(LN(rk) * LN(rk)) AS sxx
        FROM top)
    SELECT n AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6)
               AS zipf_intercept
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the vocabulary head: the least-
    squares slope of ln(count) vs ln(rank) for the top-1000 terms —
    natural language sits near -1; machine-generated spam, templated
    boilerplate, and tokenizer damage bend it. The single-number
    corpus-health check (companion of text_vocab_growth's Heaps curve).

    Determinism: ln() inputs are identical integers in both engines;
    the five regression sums run over <= 1000 rows of O(10) values, so
    cross-engine summation-order dust is ~1e-12 against O(1) slopes —
    far inside the 6dp round (the text_tfidf LN contract).

    Scale shape: the word count is the text_vocab word-count shape
    (vocabulary-sized after map-side partial agg); the top-1000 is a
    TakeOrdered; the regression is ONE 1-row aggregate over 1000 rows.
    Corpus size only affects the first exchange."""
    d = load_table(spark, sf_dir, "documents")
    uni = (
        d.select(F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        uni.orderBy(F.col("c").desc(), "term")
        .limit(_ZIPF_TOP)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "term"))
            .alias("rk"),
        )
    )
    lx, ly = F.log(F.col("rk")), F.log(F.col("c"))
    s = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den, 6
        ).alias("zipf_slope"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / den, 6
        ).alias("zipf_intercept"),
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
{_LANGID_SCORES_ORACLE}
        FROM documents),
    pred AS (
        SELECT lang AS actual_lang,
               {_LANGID_PRED_ORACLE} AS pred_lang
        FROM scored),
    cell AS (
        SELECT actual_lang, pred_lang, COUNT(*) AS n_docs
        FROM pred GROUP BY actual_lang, pred_lang),
    tot AS (
        SELECT actual_lang, SUM(n_docs) AS n_actual
        FROM cell GROUP BY actual_lang)
    SELECT c.actual_lang, c.pred_lang, c.n_docs,
           c.n_docs * 1000 // t.n_actual AS cell_permille,
           c.actual_lang = c.pred_lang AS correct
    FROM cell c JOIN tot t ON t.actual_lang = c.actual_lang
    ORDER BY c.actual_lang, c.pred_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-profile language classifier
    against the labeled lang column — the classifier-evaluation census
    (which language pairs get confused, per-cell rate in exact integer
    per-mille). The evaluation pass any heuristic filter needs before
    its output gates a corpus; diagonal cells are the per-language
    recall.

    Scale shape: scoring is per-row column algebra (the text_langid
    path — no explode); the matrix is ONE partial-agged exchange to
    |langs|^2 cells; per-actual totals re-aggregate the 25-cell table,
    not the corpus."""
    per_doc = text_langid(spark, sf_dir).select("actual_lang", "pred_lang")
    cell = per_doc.groupBy("actual_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cell.groupBy("actual_lang").agg(F.sum("n_docs").alias("n_actual"))
    return (
        cell.join(tot, "actual_lang")
        .select(
            "actual_lang",
            "pred_lang",
            "n_docs",
            F.expr("n_docs * 1000 div n_actual").alias("cell_permille"),
            (F.col("actual_lang") == F.col("pred_lang")).alias("correct"),
        )
        .orderBy("actual_lang", "pred_lang")
    )


@query(
    "text_kl_divergence",
    oracle="""
    WITH w AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS term
        FROM documents),
    sc AS (SELECT source, term, COUNT(*) AS c_sw
           FROM w GROUP BY source, term),
    stot AS (SELECT source, SUM(c_sw) AS n_s FROM sc GROUP BY source),
    cw AS (SELECT term, SUM(c_sw) AS c_w FROM sc GROUP BY term),
    ctot AS (SELECT SUM(c_w) AS n_c FROM cw),
    terms AS (
        -- explicit DOUBLE casts: a bare `* 1.0` is DECIMAL arithmetic
        -- in DuckDB, which rounds differently from Spark's double chain
        SELECT sc.source,
               sc.c_sw * CAST(FLOOR(LN(
                   (CAST(sc.c_sw AS DOUBLE) * CAST(ctot.n_c AS DOUBLE)) /
                   (CAST(stot.n_s AS DOUBLE) * CAST(cw.c_w AS DOUBLE))
               ) * 1e9) AS BIGINT) AS tq
        FROM sc
        JOIN stot ON stot.source = sc.source
        JOIN cw ON cw.term = sc.term
        CROSS JOIN ctot)
    SELECT t.source,
           stot.n_s AS n_tokens,
           ROUND(SUM(t.tq) / 1e9 / stot.n_s, 6) AS kl_nats
    FROM terms t JOIN stot ON stot.source = t.source
    GROUP BY t.source, stot.n_s
    ORDER BY t.source
    """,
)
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence against the corpus-wide unigram
    distribution, KL(P_source || P_corpus) in nats — the mixture-audit
    number behind "is this feed drifting away from the rest of the
    crawl?" (0 = indistinguishable; the same census drives domain
    re-weighting and contamination triage). Every source term appears
    in the corpus distribution by construction, so no smoothing term is
    needed and the divergence is finite.

    Exactness (the emb_outliers/PMI fixed-point composition): the
    per-term contribution c_sw * ln(c_sw*n_c / (n_s*c_w)) quantizes its
    LOG to integer nano-nats FIRST (floor(ln*1e9) — the ln argument is
    the identical left-associated double chain in both engines), then
    multiplies by the integer count, so the per-source reduction is an
    order-independent BIGINT sum (|tq| <= ~2e10 * c_sw, under 2^63
    through sf30); one float division + 6dp round at the very end.

    Scale shape: word explode collapses map-side into the (source,
    term) partial-agged exchange (vocabulary-x-sources-sized, not
    corpus-sized); the unigram table joins back vocab-bounded; the
    1-row corpus total crosses broadcast (deliberate 1-row BNLJ, the
    query_bm25 pattern); census output is |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    sc = (
        d.select("source", F.explode(_words()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_sw"))
    )
    stot = sc.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    cw = sc.groupBy("term").agg(F.sum("c_sw").alias("c_w"))
    ctot = cw.agg(F.sum("c_w").alias("n_c"))
    terms = (
        sc.join(F.broadcast(stot), "source")
        .join(cw, "term")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            "n_s",
            F.expr(
                "c_sw * cast(floor(ln("
                "(cast(c_sw as double) * cast(n_c as double)) /"
                " (cast(n_s as double) * cast(c_w as double))"
                ") * 1e9) as bigint)"
            ).alias("tq"),
        )
    )
    return (
        terms.groupBy("source", "n_s")
        .agg(F.round(F.sum("tq") / F.lit(1e9) / F.col("n_s"), 6).alias("kl_nats"))
        .select("source", F.col("n_s").alias("n_tokens"), "kl_nats")
        .orderBy("source")
    )


@query(
    "bpe_roundtrip",
    oracle=f"""
    WITH toks AS (
        SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    ok AS (
        SELECT lang, w FROM toks
        WHERE regexp_matches(w, '^[!-~]+$') AND NOT CONTAINS(w, '|')),
    vocab AS (SELECT DISTINCT w FROM ok),
    enc AS (
        SELECT w,
               {_bpe_apply_oracle(
                   "'|' || ARRAY_TO_STRING(STRING_SPLIT(w, ''), '||') || '|'"
               )} AS seq
        FROM vocab),
    rt AS (
        SELECT w,
               REPLACE(seq, '|', '') AS decoded,
               CAST((LENGTH(seq) - LENGTH(REPLACE(seq, '|', ''))) / 2
                    AS BIGINT) AS n_tok
        FROM enc)
    SELECT o.lang,
           COUNT(*) AS n_words,
           SUM(CASE WHEN r.decoded <> o.w THEN 1 ELSE 0 END) AS n_mismatch,
           SUM(CASE WHEN r.n_tok < 1 THEN 1 ELSE 0 END) AS n_empty,
           MAX(r.n_tok) AS max_tokens_per_word
    FROM ok o JOIN rt r ON r.w = o.w
    GROUP BY o.lang ORDER BY o.lang
    """,
)
def bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ROUND-TRIP verification (the A19 re-verification
    pattern applied to bpe_encode): decode every encoded word by
    stripping the token delimiters and assert it reproduces the input
    byte-for-byte — n_mismatch MUST read 0 per language, n_empty MUST
    read 0 (every word yields >= 1 token), and max_tokens_per_word
    bounds the per-word blowup a packing budget needs. A tokenizer that
    silently drops or mangles bytes corrupts every downstream token
    count; this census is the cheap standing proof it doesn't.

    Exactness: pure string algebra — the identical REPLACE merge chain
    as bpe_encode (order-sensitive, non-overlapping), delimiter
    stripping, integer counts; nothing to round.

    Scale shape: identical to bpe_encode — the merge chain runs on the
    DISTINCT-word vocabulary (bounded ~10^6 rows at any corpus size),
    the corpus contributes one explode joined against the broadcast
    vocabulary verdicts, census partial-aggregates to |langs| rows."""
    d = load_table(spark, sf_dir, "documents")
    ok = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[!-~]+$") & ~F.col("w").contains("|"))
    )
    vocab = ok.select("w").distinct()
    seq = F.concat(
        F.lit("|"), F.array_join(F.split("w", ""), "||"), F.lit("|")
    )
    for l, r in _BPE_MERGES:
        seq = F.replace(seq, F.lit(f"|{l}||{r}|"), F.lit(f"|{l}{r}|"))
    rt = vocab.select(
        "w",
        F.replace(seq, F.lit("|"), F.lit("")).alias("decoded"),
        (
            (F.length(seq) - F.length(F.replace(seq, F.lit("|"), F.lit(""))))
            / 2
        )
        .cast("long")
        .alias("n_tok"),
    )
    return (
        ok.join(F.broadcast(rt), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.when(F.col("decoded") != F.col("w"), 1).otherwise(0)
            ).alias("n_mismatch"),
            F.sum(F.when(F.col("n_tok") < 1, 1).otherwise(0)).alias(
                "n_empty"
            ),
            F.max("n_tok").alias("max_tokens_per_word"),
        )
        .orderBy("lang")
    )


# Kirchenbauer-style watermark green list: a token is "green" iff its
# md5 28-bit integer is even (gamma = 1/2) — the proxy for the secret
# hash-partition an LLM watermarker biases generation toward
_WM_GREEN_SPARK = (
    "cast(pmod(cast(conv(substring(md5(w), 1, 7), 16, 10) as bigint), 2)"
    " = 0 as int)"
)
_WM_GREEN_DUCK = (
    "CASE WHEN CAST(CONCAT('0x', SUBSTR(MD5(w), 1, 7)) AS BIGINT) % 2 = 0"
    " THEN 1 ELSE 0 END"
)
_WM_Z_FLAG = 4.0  # one-sided z threshold: P(false positive) ~ 3e-5


@query(
    "text_watermark_greenlist",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               UNNEST(string_split(text, ' ')) AS w
        FROM documents),
    per AS (
        SELECT doc_id, source,
               COUNT(*) AS n,
               SUM({_WM_GREEN_DUCK}) AS g
        FROM tok GROUP BY doc_id, source),
    z AS (
        SELECT source, n, g,
               ROUND((2 * g - n) / SQRT(n), 6) AS z
        FROM per WHERE n > 0)
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN z > {_WM_Z_FLAG} THEN 1 ELSE 0 END) AS n_flagged,
           SUM(g) * 1000 // SUM(n) AS green_permille,
           ROUND(MAX(z), 6) AS max_z
    FROM z GROUP BY source ORDER BY source
    """,
)
def text_watermark_greenlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-watermark DETECTION census (Kirchenbauer et al. 2023): a
    watermarking decoder biases generation toward a pseudorandom
    "green" half of the vocabulary; detection tests each document's
    green-token fraction against the gamma = 1/2 null with a binomial
    z-score, z = (2g - n)/sqrt(n). The census a training-data pipeline
    runs to keep watermarked SYNTHETIC text out of the corpus (or to
    measure how much is already in it): per source, the flagged-doc
    count at z > 4 (false-positive rate ~3e-5 per doc), the corpus
    green fraction in per-mille (should sit at ~500 under the null),
    and the most-suspicious document's z.

    Exactness: green membership is the md5-28-bit parity — a pure
    integer path both engines replay bit-identically; g and n are
    exact integer sums; z is one sqrt (IEEE exact-rounded in both
    engines) + one division, rounded to 6dp in-query (the _cosine
    policy); the corpus fraction is an integer per-mille division.

    Scale shape: the green count folds ARRAY-LOCALLY inside each row
    (aggregate over transform(split(...)) — no token explode, the
    text_repetition discipline), so the corpus pass is scan-shaped;
    the only exchange carries (source, n, g, z) — one partial-agged
    groupBy on the source key. The oracle explodes tokens instead
    (DuckDB has no array fold); both reduce to identical integers."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "source",
        F.expr("size(split(text, ' '))").alias("n"),
        F.expr(
            f"aggregate(transform(split(text, ' '), w -> {_WM_GREEN_SPARK}),"
            f" 0, (a, x) -> a + x)"
        ).alias("g"),
    ).where(F.col("n") > 0)
    z = per.select(
        "source",
        "n",
        "g",
        F.round((2 * F.col("g") - F.col("n")) / F.sqrt(F.col("n")), 6).alias(
            "z"
        ),
    )
    return (
        z.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("z") > _WM_Z_FLAG, 1).otherwise(0)
            ).alias("n_flagged"),
            F.expr("sum(g) * 1000 div sum(n)").alias("green_permille"),
            F.round(F.max("z"), 6).alias("max_z"),
        )
        .orderBy("source")
    )
