"""Analytics batch 2 (SURVEY.md section 2C growth): unpivot/melt,
collected-list aggregates, statistical moments, median/mode, EXISTS
subqueries (TPC-H Q4 shape), HAVING + join-back top-k (Q18 shape),
ORC source round-trip, range-clustered sorted layout, distribution
window functions, cross join, bitwise aggregates, and blocked
edit-distance near-dedup.

Scale notes:
- every aggregate here partial-aggregates map-side before its exchange;
- the Q18 shape filters the fat side (HAVING over lineitem) BEFORE
  joining back to orders/customer, so the join input is the ~1% of
  orders that survive, not the full fact table;
- the EXISTS shape is a left-semi join: no row multiplication, and the
  probe side is pre-filtered to the qualifying lineitem subset;
- fuzzy dedup bounds its candidate pairs with a (prefix, length-bucket)
  blocking key — the O(n^2) edit distance only runs inside blocks, the
  same containment trick the minhash/simhash dedups use;
- the sorted-layout writer (repartitionByRange + sortWithinPartitions)
  produces parquet whose row-group min/max stats make point/range scans
  prune: the read side shows PushedFilters reaching the scan.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from curatorhadoopinterface_spark.io import proc_scratch
from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import cut_lineage, load_table, reused


# --------------------------------------------------------------------------
# unpivot / melt (wide -> long). Reference analogue: view maps are the
# "long" form already (SURVEY.md section 1.2); this is the inverse of
# pivot_table for feature-matrix style corpora.
# --------------------------------------------------------------------------
@query(
    "unpivot_melt",
    oracle="""
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt two numeric part attributes into (key, attr, val) rows.
    Spark's unpivot is a zero-shuffle narrow op (row-local expand)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    )


# --------------------------------------------------------------------------
# collected-list aggregate (posting-list shape, A17 view-list analogue)
# --------------------------------------------------------------------------
@query(
    "agg_collect_list",
    oracle="""
    SELECT l_orderkey,
           ARRAY_TO_STRING(LIST(l_linenumber ORDER BY l_linenumber), ',') AS line_numbers,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_returnflag)), ',') AS flags,
           COUNT(*)                                                AS n_lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order collected line-number list (sorted for determinism) +
    distinct flag set. collect_list partial-aggregates map-side; the
    per-key list is bounded (7 lines/order), so no skew risk — unbounded
    variants should shard the key like index_inverted's postings.

    The list column is serialized to a ``,``-joined string in BOTH
    engines: the driver's pandas canonicalizer cannot hash array cells
    (CORRECTNESS_r01 err) — the native array variant stays under pytest
    (tests/test_analytics.py)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias("line_numbers"),
        F.array_join(F.sort_array(F.collect_set("l_returnflag")), ",").alias("flags"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# statistical moments (corr/covar/stddev/var) — single-pass streaming
# aggregates in both engines; definitions (sample vs population) match.
# --------------------------------------------------------------------------
@query(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           ROUND(COVAR_POP(l_quantity, l_extendedprice), 2)  AS qty_price_covar_pop,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS qty_price_covar_samp,
           ROUND(STDDEV_SAMP(l_extendedprice), 2)            AS price_stddev_samp,
           ROUND(STDDEV_POP(l_extendedprice), 2)             AS price_stddev_pop,
           ROUND(VAR_SAMP(l_quantity), 6)                    AS qty_var_samp,
           ROUND(VAR_POP(l_quantity), 6)                     AS qty_var_pop
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar_pop"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar_samp"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev_samp"),
        F.round(F.stddev_pop("l_extendedprice"), 2).alias("price_stddev_pop"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var_samp"),
        F.round(F.var_pop("l_quantity"), 6).alias("qty_var_pop"),
    )


# --------------------------------------------------------------------------
# median + deterministic mode. Mode is done as a SINGLE-PASS two-level
# aggregate with min_by over a (-count, value) ordering struct — no
# window sort over the fact table (the row_number idiom sorts every
# partition; min_by is a hash-agg partial like agg_argmax).
# --------------------------------------------------------------------------
@query(
    "agg_median_mode",
    oracle="""
    WITH med AS (
        SELECT o_orderpriority, ROUND(MEDIAN(o_totalprice), 4) AS median_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderpriority),
    cnt AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c
        FROM orders GROUP BY o_orderpriority, o_orderstatus),
    pick AS (
        SELECT o_orderpriority, o_orderstatus AS mode_status,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY c DESC, o_orderstatus) AS rn
        FROM cnt)
    SELECT m.o_orderpriority, m.median_price, p.mode_status, m.n_orders
    FROM med m JOIN pick p
      ON m.o_orderpriority = p.o_orderpriority AND p.rn = 1
    """,
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (exact, interpolated — sort-based in both engines) and a
    deterministic mode (max count, ties broken by min value). The mode
    side never window-sorts: counts collapse to (priority x status)
    cardinality, then min_by picks per group."""
    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    mode = (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("o_orderpriority")
        .agg(
            F.min_by(
                "o_orderstatus", F.struct((-F.col("c")).alias("nc"), F.col("o_orderstatus"))
            ).alias("mode_status")
        )
    )
    return med.join(mode, "o_orderpriority").select(
        "o_orderpriority", "median_price", "mode_status", "n_orders"
    )


# --------------------------------------------------------------------------
# EXISTS subquery (TPC-H Q4 shape; A21 cache-hit semantics is the same
# left-semi pattern). Adapted predicate: lineitem has no commit/receipt
# dates in the fixture, so "has any large-quantity line" stands in.
# --------------------------------------------------------------------------
@query(
    "subquery_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS = left-semi join: probe side pre-filtered (quantity
    predicate pushed to the lineitem scan), no row multiplication, and
    the date filter prunes orders before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    big = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select(
        "l_orderkey"
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# HAVING + join-back top-k (TPC-H Q18 shape: large-volume customers)
# --------------------------------------------------------------------------
@query(
    "having_topk",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_totalprice,
           ROUND(s.sum_qty, 2) AS sum_qty
    FROM (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 250) s
    JOIN orders o ON o.o_orderkey = s.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def having_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape. The aggregate+HAVING runs FIRST, shrinking the fact
    table to the ~1% qualifying orders; the joins back to orders and
    customer then move only survivor keys. Top-k is TakeOrdered (no
    global sort). Deterministic tie-break on o_orderkey."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.round(F.col("sum_qty_raw"), 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# ORC source round trip (columnar interop beyond parquet; A5 sink family)
# --------------------------------------------------------------------------
@query(
    "scan_orc",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem projection as ORC, read it back, aggregate.
    DuckDB can't read ORC, so the oracle aggregates the same rows from
    parquet — the round trip is exact (no row/value drift) by
    construction if the hashes match. ORC keeps the same columnar
    pruning/pushdown properties as parquet under Spark's scan.
    Money sum is exact DECIMAL (the sf10 rung caught a 1-cent
    double-summation-order drift at ~5e11 — the flagship_pricing_summary
    rule: sum exactly, cast to double only for display)."""
    out = proc_scratch("scan_orc")
    shutil.rmtree(out, ignore_errors=True)
    l = load_table(spark, sf_dir, "lineitem")
    l.select("l_returnflag", "l_linestatus", "l_extendedprice").write.mode(
        "overwrite"
    ).orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# --------------------------------------------------------------------------
# range-clustered sorted layout (the 100 TB scan-pruning play)
# --------------------------------------------------------------------------
@query(
    "write_sorted",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 2000
    GROUP BY l_orderkey
    """,
)
def write_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartitionByRange + sortWithinPartitions on the probe key, then
    a key-range read over the clustered copy. Each output file covers a
    disjoint orderkey range, so parquet row-group min/max stats prune
    the scan to ~1 file — the layout that turns a 100 TB full scan into
    a seek. The oracle runs the same range query on the original."""
    out = proc_scratch("write_sorted")
    shutil.rmtree(out, ignore_errors=True)
    l = load_table(spark, sf_dir, "lineitem")
    (
        l.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("l_orderkey").between(1000, 2000))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# distribution window functions (percent_rank/cume_dist/nth_value)
# --------------------------------------------------------------------------
@query(
    "win_percentiles",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume,
           FIRST_VALUE(c_acctbal) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS min_bal,
           LAST_VALUE(c_acctbal)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS max_bal,
           NTH_VALUE(c_acctbal, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS third_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist are exact double ratios — identical in
    both engines, no rounding needed. Order key includes c_custkey so
    ties can't reorder frames. One shuffle on c_mktsegment serves all
    five windows."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_acctbal").over(wfull).alias("min_bal"),
        F.last("c_acctbal").over(wfull).alias("max_bal"),
        F.nth_value("c_acctbal", 3).over(wfull).alias("third_bal"),
    )


# --------------------------------------------------------------------------
# cross join (dimension cartesian — only ever small x small)
# --------------------------------------------------------------------------
@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name,
           CONCAT(r.r_name, '/', n.n_name) AS pair,
           (n.n_regionkey = r.r_regionkey) AS is_member
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian of two dims (5 x 25). Spark requires
    crossJoin() to be deliberate — a guard the engine keeps: cartesians
    of fact tables are a plan bug, and plan_audit asserts no accidental
    CartesianProduct anywhere else in the suite."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        F.concat(F.col("r_name"), F.lit("/"), F.col("n_name")).alias("pair"),
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_member"),
    )


# --------------------------------------------------------------------------
# bitwise aggregates (fingerprint folding — the simhash accumulate
# pattern as first-class aggregates)
# --------------------------------------------------------------------------
@query(
    "agg_bitwise",
    oracle="""
    SELECT event_type,
           BIT_AND(event_id) AS ids_and,
           BIT_OR(event_id)  AS ids_or,
           BIT_XOR(event_id) AS ids_xor,
           COUNT(*)          AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "events")
    return l.groupBy("event_type").agg(
        F.bit_and("event_id").alias("ids_and"),
        F.bit_or("event_id").alias("ids_or"),
        F.bit_xor("event_id").alias("ids_xor"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# blocked edit-distance near-dedup (the fuzzy tier between exact-hash
# and minhash: catches small in-place edits)
# --------------------------------------------------------------------------
# below this corpus size the rep-pair localCheckpoint costs more than
# the DP it avoids (sf0.1 = 5k docs measured 1.87x the lazy shape); at
# 50k+ docs the blocked-pair count crosses where re-inlined Levenshtein
# dominates (the 17-min sf10 task) and the barrier is mandatory
FUZZY_CHECKPOINT_MIN_DOCS = 50_000


@query(
    "dedup_fuzzy_edit",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               SUBSTR(text, 1, 20) AS blk_prefix,
               n_chars // 20 AS blk_len,
               MD5(SUBSTR(text, 1, 200)) AS h,
               SUBSTR(text, 1, 200) AS t200
        FROM documents),
    reps AS (SELECT DISTINCT blk_prefix, blk_len, h, t200 FROM m),
    rep_pairs AS MATERIALIZED (
        SELECT r1.blk_prefix, r1.blk_len, r1.h AS ha, r2.h AS hb,
               LEVENSHTEIN(r1.t200, r2.t200) AS edit_dist
        FROM reps r1 JOIN reps r2
          ON r1.blk_prefix = r2.blk_prefix AND r1.blk_len = r2.blk_len
         AND r1.h <= r2.h
        WHERE LEVENSHTEIN(r1.t200, r2.t200) <= 5)
    SELECT LEAST(a.doc_id, b.doc_id) AS doc_id,
           GREATEST(a.doc_id, b.doc_id) AS dup_id,
           rp.edit_dist
    FROM rep_pairs rp
    JOIN m a ON a.blk_prefix = rp.blk_prefix AND a.blk_len = rp.blk_len
            AND a.h = rp.ha
    JOIN m b ON b.blk_prefix = rp.blk_prefix AND b.blk_len = rp.blk_len
            AND b.h = rp.hb
    WHERE rp.ha < rp.hb OR a.doc_id < b.doc_id
    """,
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by bounded edit distance, REP-FACTORED: the
    O(len^2)-per-pair Levenshtein runs once per DISTINCT 200-char text
    prefix pair inside each (20-char prefix, length/20) block — never
    per document pair. The sf10 rung caught the original per-pair form
    melting down on planted mega-duplicate blocks (500k docs = 27M
    within-block pairs, but only 4,869 distinct reps / <=3 per block →
    ~10^12 DP cell-ops collapsed to ~10^5). Expansion back to document
    pairs is DRIVEN FROM the verified rep-pair table (tiny), so only
    emitting pairs are ever enumerated — the same exact-dup-collapse
    trick as dedup_simhash's mega-cluster resolution (r4). Identical
    pair set and distances as the naive form: a pair {x, y} appears
    once as (min_id, max_id); docs sharing a rep orient by id, docs in
    different reps orient by the rep hash canonical order then min/max.
    Distance on a 200-char cap: per-rep-pair cost bounded no matter how
    long documents get. JVM-side F.levenshtein (no Python).

    The rep-pair barrier is gated on corpus size: below
    FUZZY_CHECKPOINT_MIN_DOCS the lazy r1-r4 plan wins (the barrier pays
    fixed materialization cost a small fixture never recoups — the lone
    1.87x bench grazer of round 5); at scale the barrier is what keeps
    the DP once-per-distinct-pair. The size probe is a parquet metadata
    COUNT (row-group stats, no data read)."""
    docs = load_table(spark, sf_dir, "documents")
    big = docs.count() >= FUZZY_CHECKPOINT_MIN_DOCS
    m = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 20).alias("blk_prefix"),
        (F.col("n_chars") / 20).cast("bigint").alias("blk_len"),
        F.md5(F.substring("text", 1, 200)).alias("h"),
        F.substring("text", 1, 200).alias("t200"),
    )
    reps = m.select("blk_prefix", "blk_len", "h", "t200").distinct()
    r1, r2 = reps.alias("r1"), reps.alias("r2")
    rep_pairs = (
        r1.join(
            r2,
            (F.col("r1.blk_prefix") == F.col("r2.blk_prefix"))
            & (F.col("r1.blk_len") == F.col("r2.blk_len"))
            & (F.col("r1.h") <= F.col("r2.h")),
        )
        .select(
            F.col("r1.blk_prefix").alias("bp"),
            F.col("r1.blk_len").alias("bl"),
            F.col("r1.h").alias("ha"),
            F.col("r2.h").alias("hb"),
            F.levenshtein(F.col("r1.t200"), F.col("r2.t200")).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") <= 5)
    )
    if big:
        # materialization BARRIER: without it Catalyst inlines rep_pairs
        # into the expansion joins and recomputes the Levenshtein DP per
        # EXPANDED pair — the naive cost again, observed live at sf10
        # (jstack: levenshteinDistance inside the final-stage BHJ, 17 min
        # single-task). The rep-pair table is a few thousand rows, so the
        # eager cut is milliseconds. (Oracle twin: AS MATERIALIZED.)
        rep_pairs = cut_lineage(rep_pairs, eager=False)
    a, b = m.alias("a"), m.alias("b")
    return (
        rep_pairs.join(
            a,
            (F.col("a.blk_prefix") == F.col("bp"))
            & (F.col("a.blk_len") == F.col("bl"))
            & (F.col("a.h") == F.col("ha")),
        )
        .join(
            b,
            (F.col("b.blk_prefix") == F.col("bp"))
            & (F.col("b.blk_len") == F.col("bl"))
            & (F.col("b.h") == F.col("hb")),
        )
        .filter((F.col("ha") < F.col("hb")) | (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("dup_id"),
            "edit_dist",
        )
    )


# --------------------------------------------------------------------------
# approximate quantiles (the bounded-memory sketch path for 100 TB)
# --------------------------------------------------------------------------
_AQ_QS = (0.25, 0.50, 0.90, 0.95, 0.99)
_AQ_ACC = 10_000  # GK accuracy: rank error <= n/_AQ_ACC
_AQ_TOL = 2.0 / _AQ_ACC  # x2 margin over the guarantee for cont-vs-disc edges


@query(
    "agg_approx_quantile",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           TRUE AS in_range_ok, TRUE AS sorted_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx = the Greenwald-Khanna sketch: single pass,
    bounded memory, mergeable partials — the quantile that still works
    when a group holds 10^12 rows (exact percentile must sort).

    THE BENCHED PRODUCTION PATH: exactly ONE scan + ONE aggregation.
    min/max ride the same groupBy (free next to the sketch), giving two
    in-pass invariants the oracle pins at any scale: every estimate lies
    in [min, max] of its group, and the estimate vector is monotone in
    q. The rigorous GK rank-interval verification (exact cnt_lt/cnt_le
    counting — a second full pass) lives in agg_approx_quantile_verified
    below: verification is A19's job (plans/verify.py pattern), not a
    cost the production query pays per run. r4 verdict: the fused
    sketch+verify form benched 2.03x its r1 baseline; this split
    restores the single-pass cost while keeping the strict check in the
    registry/verify_local sweep."""
    l = load_table(spark, sf_dir, "lineitem")
    g = l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", list(_AQ_QS), _AQ_ACC).alias("est"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    in_range = functools.reduce(
        lambda a, b: a & b,
        [
            (F.col("est")[i] >= F.col("mn")) & (F.col("est")[i] <= F.col("mx"))
            for i in range(len(_AQ_QS))
        ],
    )
    sorted_ok = functools.reduce(
        lambda a, b: a & b,
        [F.col("est")[i] <= F.col("est")[i + 1] for i in range(len(_AQ_QS) - 1)],
    )
    return g.select(
        "l_returnflag",
        "n_rows",
        in_range.alias("in_range_ok"),
        sorted_ok.alias("sorted_ok"),
    )


@query(
    "agg_approx_quantile_verified",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p90_ok,
           TRUE AS p95_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_quantile_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx = the Greenwald-Khanna sketch: single pass,
    bounded memory, mergeable partials — the quantile that still works
    when a group holds 10^12 rows (exact percentile must sort).

    SELF-VERIFYING oracle contract (the agg_sketch_hll pattern, and
    SCALE-INDEPENDENT — the round-2 NOTE about the exact==quantile_disc
    identity breaking past ~1e6 rows/group is now moot): pass 1 computes
    the sketch; pass 2 broadcasts the groups-sized estimate table back
    onto the fact and counts each estimate's exact rank interval
    ``[cnt_lt+1, cnt_le]``. The GK guarantee — the returned element has
    a rank within ``q*n ± n/accuracy`` — is then checked as
    ``cnt_lt <= q*n + n/acc  AND  cnt_le >= q*n - n/acc`` (±1 row slop
    for floor conventions). Rank counting is EXACT at every group size,
    unlike interpolated-percentile bounds, which sit between adjacent
    order statistics and break for groups under ~tol⁻¹ rows. The oracle
    pins group counts and expects every flag TRUE, so an out-of-bound
    sketch flips a boolean and fails the value hash — at sf0.001 or
    sf100 alike. Pass 2 is the verification harness, not the production
    path; production reads the sketch alone (single pass, mergeable)."""
    l = load_table(spark, sf_dir, "lineitem")
    g = l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", list(_AQ_QS), _AQ_ACC).alias("est"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    j = l.join(F.broadcast(g), "l_returnflag")
    # est/n_rows ride the rank aggregation (first() per group) so the GK
    # sketch computes ONCE — a separate g-join here re-ran the whole
    # sketch aggregation a second time (bench: 0.95s -> ~0.6s)
    out = j.groupBy("l_returnflag").agg(
        F.first("est").alias("est"),
        F.first("n_rows").alias("n_rows"),
        *[
            F.sum((F.col("l_extendedprice") < F.col("est")[i]).cast("long")).alias(f"lt{i}")
            for i in range(len(_AQ_QS))
        ],
        *[
            F.sum((F.col("l_extendedprice") <= F.col("est")[i]).cast("long")).alias(f"le{i}")
            for i in range(len(_AQ_QS))
        ],
    )
    slack = F.col("n_rows") / _AQ_ACC + 1
    checks = [
        (
            (F.col(f"lt{i}") <= F.lit(q) * F.col("n_rows") + slack)
            & (F.col(f"le{i}") >= F.lit(q) * F.col("n_rows") - slack)
        ).alias(f"p{int(q * 100)}_ok")
        for i, q in enumerate(_AQ_QS)
    ]
    return out.select("l_returnflag", "n_rows", *checks)


# --------------------------------------------------------------------------
# bucketed co-located join (M7: the recurring-join shuffle, paid once)
# --------------------------------------------------------------------------
@query(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join over PRE-BUCKETED copies of orders/lineitem (8 buckets on
    the join key, sorted within buckets). The bucketing shuffle is paid
    once at write time; every later join on the key is a local merge —
    the physical plan has NO exchange on either join side (asserted in
    tests/test_bucketed_join.py and the plan audit: only the group-by
    exchanges). This is the 100 TB answer for a join that runs daily."""
    wh = proc_scratch("bucketed_q")
    for tbl, src, key in (
        ("bq_orders", "orders", "o_orderkey"),
        ("bq_lineitem", "lineitem", "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        load_table(spark, sf_dir, src).write.bucketBy(8, key).sortBy(key).option(
            "path", os.path.join(wh, tbl)
        ).mode("overwrite").saveAsTable(tbl)
    o = spark.table("bq_orders")
    l = spark.table("bq_lineitem").hint("merge")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# fixed-iteration PageRank (iterative algorithm as repeated join+agg,
# with an UNROLLED exact SQL oracle — no "weaker rows-only check")
# --------------------------------------------------------------------------
@query(
    "graph_pagerank",
    oracle="""
    WITH edges AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    deg_o AS (SELECT o, COUNT(*) AS d FROM edges GROUP BY o),
    deg_p AS (SELECT p, COUNT(*) AS d FROM edges GROUP BY p),
    n_o AS (SELECT COUNT(*) AS c FROM deg_o),
    n_p AS (SELECT COUNT(*) AS c FROM deg_p),
    r0 AS (SELECT o, 1000000000000000 // (SELECT c FROM n_o) AS s FROM deg_o),
    p1 AS (SELECT e.p,
                  (15 * 1000000000000000) // (100 * (SELECT c FROM n_p))
                  + (85 * SUM(r0.s // deg_o.d)) // 100 AS s
           FROM edges e JOIN r0 ON e.o = r0.o JOIN deg_o ON e.o = deg_o.o
           GROUP BY e.p),
    r1 AS (SELECT e.o,
                  (15 * 1000000000000000) // (100 * (SELECT c FROM n_o))
                  + (85 * SUM(p1.s // deg_p.d)) // 100 AS s
           FROM edges e JOIN p1 ON e.p = p1.p JOIN deg_p ON e.p = deg_p.p
           GROUP BY e.o),
    p2 AS (SELECT e.p,
                  (15 * 1000000000000000) // (100 * (SELECT c FROM n_p))
                  + (85 * SUM(r1.s // deg_o.d)) // 100 AS s
           FROM edges e JOIN r1 ON e.o = r1.o JOIN deg_o ON e.o = deg_o.o
           GROUP BY e.p)
    SELECT p2.p AS l_partkey,
           ROUND(p2.s / 1000000000000000.0, 9) AS pagerank,
           p2.s AS pagerank_fp,
           deg_p.d AS part_degree
    FROM p2 JOIN deg_p ON p2.p = deg_p.p
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full power-iteration rounds of PageRank (damping 0.85) over
    the bipartite order<->part graph from lineitem edges. Each round is
    join(scores, edges) + groupBy — the Pregel-in-DataFrames shape. The
    edge table is the reused, key-partitioned operand: at scale you
    persist edges bucketed by the join key so every iteration is
    shuffle-free on the edge side (see join_bucketed).

    FIXED-POINT EXACT (round-4, after the sf1 sweep caught 2/200k rows
    flipping at the old round-to-9-decimals boundary): scores are
    BIGINT multiples of 1e-15 — contributions are integer divisions
    s div d, the damping is (85*sum) div 100 + (15*SCALE) div (100*n),
    every sum is exact integer arithmetic, so the result is
    ORDER-INDEPENDENT and bit-identical in both engines at any scale
    factor. Quantization truncates ~1e-15 per hop (far below the 9dp
    reported); the damping leak and graph layout are preserved exactly.
    The oracle unrolls the same two integer rounds as CTEs — exact value
    check, not rows-only.

    Cache layout (round-4 rework, two persisted edge copies instead of
    three): ``repartition("o")`` FIRST, then distinct — HashPartitioning
    on ``o`` satisfies the (o,p) aggregate's ClusteredDistribution, so
    the dedup is partition-local and ONE shuffle yields the distinct
    edge list already laid out for the o-side pushes. The p-side copy is
    one further exchange off that cache (never a lineitem re-scan). Every
    push round's edge join is then exchange-free on the edge side and
    each iteration pays exactly ONE shuffle (its group-by); the degree
    aggregates fall out of the pre-partitioned copies without an
    exchange of their own. Per-edge contributions are computed
    SCORE-side (s/d on the small vertex table) before touching edges, so
    no widened edges⋈degrees operand is ever built or cached. The final
    result is eagerly localCheckpoint-ed (the dedup.py pattern) so every
    cache can be unpersisted before return — no cached blocks leak into
    the shared session, raise or return.

    Measured at sf0.1 local[32]: 3.3-3.7s (r3 triple-persist layout) ->
    2.7-2.8s clean."""
    l = load_table(spark, sf_dir, "lineitem")
    base = l.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    edges_o = base.repartition("o").distinct()
    edges_p = edges_o.repartition("p")
    deg_o = edges_o.groupBy("o").agg(F.count(F.lit(1)).alias("d_o"))
    deg_p = edges_p.groupBy("p").agg(F.count(F.lit(1)).alias("d_p"))

    SCALE = 10**15

    def push(scores: DataFrame, deg: DataFrame, src: str, dst: str, n_dst: int) -> DataFrame:
        # divide by out-degree on the small per-vertex table FIRST, then
        # join edges — the wide side never carries degree columns; the
        # edge copy partitioned on the source key makes the join
        # exchange-free (scores/deg are both group-by outputs on src,
        # so they arrive pre-partitioned too). All integer ops: exact.
        ek = edges_o if src == "o" else edges_p
        contrib = scores.join(deg, src).select(
            src, F.expr(f"s div {deg.columns[1]}").alias("c")
        )
        leak = (15 * SCALE) // (100 * n_dst)
        return (
            ek.join(contrib, src)
            .groupBy(dst)
            .agg(
                (F.lit(leak) + F.expr("(85 * sum(c)) div 100")).alias("s")
            )
        )

    with reused(edges_o, edges_p, deg_o, deg_p):
        # materialize the o-side chain first, THEN the p-side: edges_p's
        # lineage reads the edges_o cache, which must already be
        # populated (a single fused action would race the two branches
        # into a double scan+distinct)
        n_o = deg_o.count()
        n_p = deg_p.count()
        r0 = deg_o.select("o", F.lit(SCALE // n_o).alias("s"))
        p1 = push(r0, deg_o, "o", "p", n_p)
        r1 = push(p1, deg_p, "p", "o", n_o)
        p2 = push(r1, deg_o, "o", "p", n_p)
        out = p2.join(deg_p, "p").select(
            F.col("p").alias("l_partkey"),
            F.round(F.col("s") / F.lit(float(SCALE)), 9).alias("pagerank"),
            F.col("s").alias("pagerank_fp"),
            F.col("d_p").alias("part_degree"),
        )
        return cut_lineage(out)


@query(
    "graph_bfs_hops",
    oracle="""
    WITH edges AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    h0_p AS (SELECT DISTINCT e.p FROM edges e
             JOIN part ON p_partkey = e.p WHERE p_size <= 2),
    h1_o AS (SELECT DISTINCT e.o FROM edges e JOIN h0_p ON e.p = h0_p.p),
    h2_p AS (SELECT DISTINCT e.p FROM edges e JOIN h1_o ON e.o = h1_o.o
             WHERE e.p NOT IN (SELECT p FROM h0_p)),
    h3_o AS (SELECT DISTINCT e.o FROM edges e JOIN h2_p ON e.p = h2_p.p
             WHERE e.o NOT IN (SELECT o FROM h1_o))
    SELECT 'part' AS node_type, p AS node_id, 0 AS hop FROM h0_p
    UNION ALL SELECT 'order', o, 1 FROM h1_o
    UNION ALL SELECT 'part', p, 2 FROM h2_p
    UNION ALL SELECT 'order', o, 3 FROM h3_o
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the bipartite order<->part graph: minimum
    hop distance (0-3) from the seed set (parts with p_size <= 2) —
    the third member of the iterative-graph family next to
    graph_pagerank (power iteration) and dedup_clusters (label
    propagation). The reference analogue is the dependency-closure walk
    (JobHandler.determineDependencies / CuratorHandler's recursive
    provide) lifted from the static mode DAG to a data-scale graph.

    Scale shape: each hop is ONE semi join of the edge table against the
    current frontier plus an anti join against the visited set — the
    frontier-expansion Pregel step. The edge list is the loop-invariant
    operand (persist bucketed by join key at scale, as graph_pagerank
    notes); visited sets stay per-side (order/part namespaces never
    mix, so no tagged-union key is needed). Hops are exact set algebra
    — no FP anywhere — so the oracle unrolls the same three expansions
    with NOT IN.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    # r9 measured-and-REVERTED: checkpointing edges + each frontier
    # (the kcore unroll discipline) to collapse the 21-scan recursive
    # hop lineage measured 1.53 s lazy vs 2.96 s checkpointed
    # (alternating A/B, min-of-3 x3 passes) — the duplicate subtrees
    # here are SMALL (node-id lists, one distinct edge build) and the
    # DAG scheduler runs them concurrently on idle cores, while
    # checkpoints serialize the four hops into a barrier chain (the
    # batch-14 lesson holding at a fifth operator). Kept lazy.
    part = load_table(spark, sf_dir, "part")
    h0_p = (
        edges.select("p")
        .distinct()
        .join(
            part.filter(F.col("p_size") <= 2).select(F.col("p_partkey").alias("p")),
            "p",
            "left_semi",
        )
    )
    h1_o = edges.join(h0_p, "p", "left_semi").select("o").distinct()
    h2_p = (
        edges.join(h1_o, "o", "left_semi")
        .select("p")
        .distinct()
        .join(h0_p, "p", "left_anti")
    )
    h3_o = (
        edges.join(h2_p, "p", "left_semi")
        .select("o")
        .distinct()
        .join(h1_o, "o", "left_anti")
    )
    def lvl(df, col, typ, hop):
        return df.select(
            F.lit(typ).alias("node_type"),
            F.col(col).alias("node_id"),
            F.lit(hop).cast("int").alias("hop"),
        )
    return (
        lvl(h0_p, "p", "part", 0)
        .unionAll(lvl(h1_o, "o", "order", 1))
        .unionAll(lvl(h2_p, "p", "part", 2))
        .unionAll(lvl(h3_o, "o", "order", 3))
    )


@query(
    "lateral_explode_outer",
    oracle="""
    WITH ex AS (
        SELECT doc_id, lang, regexp_extract_all(text, 'vector') AS ms
        FROM documents)
    SELECT doc_id, lang,
           CASE WHEN LEN(ms) = 0 THEN NULL ELSE i - 1 END AS pos,
           CASE WHEN LEN(ms) = 0 THEN NULL ELSE ms[i] END AS hit,
           LEN(ms) AS n_hits
    FROM ex, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ms), 1))) AS t(i)
    """,
)
def lateral_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving lateral explode (LATERAL VIEW OUTER posexplode):
    every pattern occurrence becomes a row, and documents with ZERO
    occurrences survive as a single null row — the generator variant a
    plain explode silently drops (the classic silent-data-loss bug in
    extraction pipelines; A3's empty-text filter is the reference's
    batch-side guard, CuratorClient.java:527-536).

    Scale shape: a pure narrow expand — regexp_extract_all + posexplode
    are array-local, the scan never shuffles, and the match-count column
    is computed before the explode so it costs one size(), not a window
    over exploded rows.
    """
    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id",
        "lang",
        F.expr("regexp_extract_all(text, 'vector', 0)").alias("ms"),
    )
    return ex.select(
        "doc_id",
        "lang",
        F.posexplode_outer("ms").alias("pos", "hit"),
        F.size("ms").alias("n_hits"),
    )


@query(
    "agg_modern",
    oracle="""
    SELECT event_type,
           COUNT(*) FILTER (WHERE value > 50) AS n_big,
           BOOL_AND(value >= 0) AS all_nonneg,
           BOOL_OR(value > 99)  AS any_huge,
           MIN(event_id)        AS stable_any_id,
           ROUND(SUM(value) FILTER (WHERE user_id % 2 = 0), 4) AS even_user_sum
    FROM events GROUP BY event_type
    """,
)
def agg_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern aggregate surface: count_if, bool_and/bool_or, a
    DETERMINISTIC any-value (min — any_value() is nondeterministic under
    retries/partial ordering, so a value-hash contract demands an
    order-independent pick), and filtered aggregation (sum FILTER) — all
    in one partial-aggregated pass.

    Scale shape: every one of these folds map-side; FILTER clauses are
    per-row predicates inside the aggregate, not pre-shuffles — one
    exchange of five partial cells per group.
    """
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).alias("n_big"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 99).alias("any_huge"),
        F.min("event_id").alias("stable_any_id"),
        F.round(
            F.sum(F.when(F.col("user_id") % 2 == 0, F.col("value"))), 4
        ).alias("even_user_sum"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts >= s.t_signup
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / (SELECT COUNT(*) FROM s), 6) AS conversion
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase): users counted at each
    stage only if the stage event happens AT OR AFTER their previous
    stage's first event — the sequencing constraint that separates a
    funnel from three independent counts.

    Scale shape: each stage is a partial-aggregated MIN keyed on
    user_id, and every stage join is user_id-equi against the
    already-aggregated (small) previous stage — the event table is
    scanned once per stage with the stage's type predicate pushed into
    the scan. The final counts are three one-row aggregates. At 100 TB
    the stage tables are |users|-sized, typically broadcastable.
    """
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )
    return counts.select(
        "n_signup",
        "n_click_after",
        "n_purchase_after",
        F.round(
            F.col("n_purchase_after") * 1.0 / F.col("n_signup"), 6
        ).alias("conversion"),
    )


@query(
    "retention_cohort",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id)
    SELECT f.cohort_week,
           CAST(DATE_DIFF('day', f.cohort_week,
                          DATE_TRUNC('week', e.ts)) / 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen f ON f.user_id = e.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    distinct in every later week they return — the (cohort, offset)
    triangle every growth dashboard draws.

    Scale shape: first_seen is one partial-aggregated MIN per user; the
    join back is user_id-equi (at 100 TB: broadcast if users fit, else
    the one co-partitioned shuffle both sides already need); the final
    distinct-count shuffles (cohort_week, offset, user_id) once —
    Spark's two-phase distinct aggregate, partials before the exchange.
    """
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        # cast to DATE: week truncation is a calendar value, and the
        # oracle's DATE_TRUNC yields DATE (timestamp would hash-mismatch)
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        e.join(first_seen, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """(p1, p2, together) census of distinct part pairs per order —
    the pair generator shared by the co-purchase graph family.

    r9 re-plan (guide 2.4 "remove shuffles outright"): one
    groupBy(order) collect_set exchange — the DISTINCT (o, p) step is
    folded into the set aggregate — followed by a MAP-SIDE combination
    explode over the sorted part array, then the (p1, p2) count
    exchange. The previous form paid the distinct's own exchange, a
    second join-input exchange and the sort-merge sort of the basket
    self-join (a.o = b.o AND a.p < b.p). Value-identical by
    construction: the array holds each order's distinct parts sorted
    ascending, and index pairs i < j enumerate exactly the strict
    p1 < p2 combinations the self-join produced — all SEVEN consumer
    queries strict oracle-green at sf0.01 AND sf0.1 on this form.
    Alternating A/B at sf0.1 (two passes each side, min-of-3):
    triangles 3.71 -> 2.64 s, copurchase_topk 3.48 -> 1.60,
    association_rules 2.94 -> 1.70, degree_distribution 2.22 -> 1.70,
    link_prediction 3.59 -> 3.06, kcore 3.52 -> 3.16, LPA 3.58 ->
    2.93; census shuffle read 26 -> 18 MB. Skew note: a hot order is
    ONE array row here — the per-basket pair blowup (|basket| choose
    2) is unchanged and still the documented scale guard."""
    return (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("together"))
    )


@query(
    "graph_triangles",
    oracle="""
    -- MATERIALIZED: the final SELECT references each CTE from several
    -- scalar subqueries; DuckDB's default inlining re-computes the
    -- whole basket-self-join chain per reference (OOM/timeout at sf10;
    -- materialized the oracle runs in ~43 s there).
    WITH basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
        SELECT a.p AS p1, b.p AS p2, COUNT(*) AS together
        FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p),
    edges AS MATERIALIZED (SELECT p1, p2 FROM pairs WHERE together >= 2),
    deg AS MATERIALIZED (
        SELECT node, COUNT(*) AS d FROM (
            SELECT p1 AS node FROM edges
            UNION ALL SELECT p2 AS node FROM edges) GROUP BY node),
    oriented AS MATERIALIZED (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.p1 < e.p2)
                    THEN e.p1 ELSE e.p2 END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND e.p1 < e.p2)
                    THEN e.p2 ELSE e.p1 END AS dst
        FROM edges e
        JOIN deg da ON da.node = e.p1
        JOIN deg db ON db.node = e.p2),
    wedges AS MATERIALIZED (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM oriented e1 JOIN oriented e2 ON e2.src = e1.dst),
    tri AS MATERIALIZED (
        SELECT w.a FROM wedges w
        JOIN oriented e3 ON e3.src = w.a AND e3.dst = w.c)
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT COUNT(*) FROM wedges) AS n_wedges,
           (SELECT COUNT(*) FROM tri) AS n_triangles,
           ROUND((SELECT COUNT(*) FROM tri) * 1.0 /
                 (SELECT COUNT(*) FROM wedges), 6) AS closure
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global closure coefficient over the co-purchase
    graph (parts sharing >= 2 orders), using the DEGREE-ORIENTATION
    algorithm (Schank-Wagner / the MapReduce classic): every undirected
    edge points from its lower-(degree, id) endpoint to the higher, so
    wedges are enumerated only at their lowest-degree corner — the trick
    that makes triangle counting survive power-law graphs. A celebrity
    node with degree 1M contributes ZERO wedges as a source unless its
    neighbors are bigger still; candidate wedges are sum(out_deg^2)
    with out-degree bounded by sqrt(|E|)-ish, never deg^2 of the hubs.

    Plan: pair-gen shares graph_copurchase_topk's basket self-join
    (order-bounded); orientation is two broadcast-able degree joins;
    wedge+closure are two equi joins on node keys — all shuffles
    hash-partitioned, no cartesian anywhere. The tie-break compares
    (degree, id) lexicographically as explicit boolean algebra — valid
    for ANY id domain (the earlier d*1e9+id packing silently collided
    for ids >= 1e9), and the identical CASE replays in the oracle.
    """
    l = load_table(spark, sf_dir, "lineitem")
    pairs = _copurchase_pairs(l)
    edges = pairs.filter(F.col("together") >= 2).select("p1", "p2")
    return triangle_stats(edges)


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Degree-oriented triangle tally over undirected (p1 < p2) edges —
    the core of graph_triangles, factored so planted tests can feed
    known graphs (K4 -> 4 triangles, star -> 0).

    Round-7 restructure (the r6 verdict's 1.37x regression recovered
    STRUCTURALLY, not by reverting the injective tie-break): the wedge
    relation is never materialized or shuffled. One exploded pass over
    the oriented edge list yields n_nodes, n_edges (sum of out-degrees)
    and n_wedges (sum over nodes of in*out — exactly |e1 JOIN e2 ON
    e2.src = e1.dst|); triangles are sum over edges (u,v) of
    |N_out(u) INTERSECT N_out(v)| via per-node adjacency arrays and a
    map-side array_intersect — each triangle x<y<z (degree order)
    counted exactly once at edge (x,y). The old shape shuffled the
    wedge set twice (build + closure join); this one's largest
    exchange is the edge list itself, and the r5 n_nodes branch that
    silently RE-RAN the whole upstream pair-generation (only
    ``oriented`` was checkpointed, ``deg.agg`` was not downstream of
    it) is gone — every consumer reads the checkpoint. Out-degree is
    bounded ~sqrt(|E|) by the orientation, so adjacency arrays stay
    small even on power-law graphs (the Schank-Wagner guarantee)."""
    # r9: edges roots THREE consumer subtrees before the orientation
    # checkpoint (both halves of the old degree self-union + the
    # orientation join's base); checkpoint it so the upstream pair
    # census runs ONCE, and build the degree census as one explode
    # pass instead of the two-branch self-union (the
    # graph_degree_distribution fix — that plan showed zero
    # ReusedExchange between the union's branches). deg itself feeds
    # both orientation lookups, so it checkpoints too (the graph_kcore
    # discipline). Same rows everywhere; only re-executions go away.
    edges = cut_lineage(edges, eager=False)
    deg = cut_lineage(
        edges.select(F.explode(F.array("p1", "p2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d")),
        eager=False,
    )
    e = (
        edges.join(deg.alias("da"), F.col("p1") == F.col("da.node"))
        .join(deg.alias("db"), F.col("p2") == F.col("db.node"))
        .select("p1", "p2", F.col("da.d").alias("d1"), F.col("db.d").alias("d2"))
    )
    # lexicographic (degree, id) — injective for any id domain, unlike
    # an integer packing which collides once ids reach its radix
    lt = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    oriented = e.select(
        F.when(lt, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(lt, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    )
    # oriented feeds three consumers (degree census, adjacency build,
    # intersect probe): the cut materializes the heavy upstream chain
    # once and — unlike a persist() with no unpersist — its blocks are
    # freed by the ContextCleaner when the returned plan is dropped, so
    # a 150-query bench session doesn't accumulate cached edges
    oriented = cut_lineage(oriented, eager=False)
    # branch A — one exploded pass: per-node (out, in) degrees, then
    # n_nodes = count, n_edges = sum(out), n_wedges = sum(out*in)
    node_stats = (
        oriented.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("od"),
                        F.lit(0).alias("inb"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("od"),
                        F.lit(1).alias("inb"),
                    ),
                )
            ).alias("x")
        )
        .groupBy("x.node")
        .agg(F.sum("x.od").alias("od"), F.sum("x.inb").alias("inb"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum("od"), F.lit(0)).alias("n_edges"),
            F.coalesce(F.sum(F.col("od") * F.col("inb")), F.lit(0)).alias(
                "n_wedges"
            ),
        )
    )
    # branch B — adjacency intersect: nodes with no out-edges have a
    # NULL nv after the left join (contribute 0 closing edges)
    adj = oriented.groupBy(F.col("src").alias("u")).agg(
        F.collect_list("dst").alias("nbrs")
    )
    tri = (
        oriented.join(adj, F.col("src") == F.col("u"))
        .withColumnRenamed("nbrs", "nu")
        .drop("u")
        .join(adj, F.col("dst") == F.col("u"), "left")
        .withColumnRenamed("nbrs", "nv")
        .select(
            F.when(F.col("nv").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("nu", "nv")))
            .alias("c")
        )
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_triangles"))
    )
    return (
        node_stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(F.col("n_triangles") / F.col("n_wedges"), 6),
            ).alias("closure"),
        )
    )


@query(
    "graph_copurchase_topk",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    deg AS (SELECT p, COUNT(*) AS d FROM basket GROUP BY p),
    pairs AS (
        SELECT a.p AS p1, b.p AS p2, COUNT(*) AS together
        FROM basket a JOIN basket b
          ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p),
    scored AS (
        SELECT p1, p2, together,
               ROUND(together * 1.0 / (d1.d + d2.d - together), 6) AS jaccard
        FROM pairs JOIN deg d1 ON d1.p = p1 JOIN deg d2 ON d2.p = p2)
    SELECT p1, p2, together, jaccard
    FROM scored
    ORDER BY together DESC, jaccard DESC, p1, p2
    LIMIT 20
    """,
)
def graph_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence (market-basket similarity): the top-20
    part pairs by shared-order count, scored with Jaccard over their
    order sets — the classic collaborative-filtering co-occurrence
    matrix, computed sparsely.

    Scale shape: the pair join is EQUI on the order key, so the blowup
    is per-basket-local (sum of |basket| choose 2, NOT |parts|^2 — at
    100 TB the guard is capping basket size, since one 10k-item basket
    contributes 50M pairs); pair counts partial-aggregate before their
    exchange; the degree table joins back broadcast-sized. Top-20 is a
    TakeOrdered with full deterministic tie-break.
    """
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    deg = basket.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    pairs = _copurchase_pairs(li)
    d1 = deg.select(F.col("p").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("p").alias("p2"), F.col("d").alias("d2"))
    return (
        pairs.join(F.broadcast(d1), "p1")
        .join(F.broadcast(d2), "p2")
        .select(
            "p1",
            "p2",
            "together",
            F.round(
                F.col("together")
                * 1.0
                / (F.col("d1") + F.col("d2") - F.col("together")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("together"), F.desc("jaccard"), "p1", "p2")
        .limit(20)
    )


@query(
    "basket_association_rules",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM basket),
    supp AS (SELECT p, COUNT(*) AS s FROM basket GROUP BY p),
    pairs AS (
        SELECT a.p AS p1, b.p AS p2, COUNT(*) AS together
        FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= 2),
    scored AS (
        SELECT p1, p2, together,
               together * 1000 // s1.s AS conf_1to2_permille,
               together * 1000 // s2.s AS conf_2to1_permille,
               together * 1000000 * n.n_orders // (s1.s * s2.s) AS lift_ppm
        FROM pairs
        JOIN supp s1 ON s1.p = p1
        JOIN supp s2 ON s2.p = p2
        CROSS JOIN n)
    SELECT p1, p2, together, conf_1to2_permille, conf_2to1_permille,
           lift_ppm
    FROM scored
    ORDER BY lift_ppm DESC, together DESC, p1, p2
    LIMIT 20
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over market baskets — support, directional
    confidence, and lift for the top-20 part pairs by lift (min support
    2 orders): the Apriori-style readout behind "customers who bought X
    also bought Y", one rung above graph_copurchase_topk's symmetric
    Jaccard (lift normalizes by BOTH marginals, so a pair of merely
    popular items scores ~1 while a true association scores >> 1).

    Exactness: confidence is exact integer per-mille (together*1000 div
    supp); lift is the integer rank key together*1e6*N div (s1*s2) —
    the PMI pattern, identical integer arithmetic in both engines, so
    the TakeOrdered ranking can never flip on float dust (products stay
    under 2^63 through sf30: together<=1e5, N<=5e7, 1e6 scale).

    Scale shape: identical to graph_copurchase_topk — pair blowup is
    basket-local, pair counts partial-aggregate before their exchange,
    the support table broadcasts back, the 1-row order count crosses
    broadcast, and top-20 is TakeOrdered (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = basket.agg(F.countDistinct("o").alias("n_orders"))
    supp = basket.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    pairs = _copurchase_pairs(li).filter(F.col("together") >= 2)
    s1 = supp.select(F.col("p").alias("p1"), F.col("s").alias("s1"))
    s2 = supp.select(F.col("p").alias("p2"), F.col("s").alias("s2"))
    return (
        pairs.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "together",
            F.expr("together * 1000 div s1").alias("conf_1to2_permille"),
            F.expr("together * 1000 div s2").alias("conf_2to1_permille"),
            F.expr("together * 1000000 * n_orders div (s1 * s2)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.desc("lift_ppm"), F.desc("together"), "p1", "p2")
        .limit(20)
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH ranked AS (
        SELECT value,
               NTILE(10) OVER (ORDER BY value, event_id) AS bucket
        FROM events)
    SELECT bucket,
           COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM ranked GROUP BY bucket
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (decile buckets of equal row count) — the
    complement of agg_histogram's fixed-width buckets, and what an
    optimizer's column statistics actually store (bounds adapt to the
    distribution, so skewed data still gets informative buckets).

    Scale shape: NTILE needs a global order — at this size one sort
    exchange; at 100 TB the production form samples quantile boundaries
    (approx_percentile partials) and buckets by range comparison in one
    scan, trading exact equal-depth for a sort-free plan. Ties order by
    event_id so bucket assignment is deterministic.
    """
    e = load_table(spark, sf_dir, "events")
    ranked = e.withColumn(
        "bucket", F.ntile(10).over(Window.orderBy("value", "event_id"))
    )
    return ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


@query(
    "agg_mad_outlier",
    oracle="""
    WITH med AS (
        SELECT event_type, MEDIAN(value) AS m
        FROM events GROUP BY event_type),
    dev AS (
        SELECT e.event_type, e.value, ABS(e.value - med.m) AS ad, med.m
        FROM events e JOIN med USING (event_type)),
    mad AS (
        SELECT event_type, MAX(m) AS m, MEDIAN(ad) AS mad
        FROM dev GROUP BY event_type)
    SELECT d.event_type,
           COUNT(*) AS n,
           SUM(CASE WHEN d.ad > 3 * mad.mad THEN 1 ELSE 0 END) AS n_outliers,
           ROUND(mad.mad, 4) AS mad
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type, mad.mad
    """,
)
def agg_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen — the ROBUST twin of
    agg_zscore_outlier: a handful of extreme values can drag a mean and
    inflate a stddev until the screen misses everything (masking), but
    medians don't move, so MAD keeps flagging. The telemetry gate to
    prefer when the data is the thing being checked.

    Scale shape: two median passes (per-group sort-based aggregates,
    partial-merged like any TypedImperativeAggregate) with the tiny
    per-group tables broadcast back onto the fact scan — the
    agg_zscore_outlier two-pass-broadcast plan, one extra pass for the
    deviation median. Exact medians keep the oracle exact; at 100 TB
    swap in approx_percentile partials for a single-pass sketch.
    """
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("m"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", F.abs(F.col("value") - F.col("m")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(F.median("ad").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", F.round("mad", 4).alias("mad"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select("event_type", "n", "n_outliers", "mad")
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY from_type, to_type),
    tot AS (
        SELECT from_type, SUM(n) AS row_total FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type, p.n,
           ROUND(p.n * 1.0 / t.row_total, 6) AS prob
    FROM pairs p JOIN tot t USING (from_type)
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral model
    behind next-action prediction and anomalous-session detection
    (a transition that is rare in the matrix is the anomaly signal).

    Scale shape: one user_id sort exchange produces the LEAD pairs;
    pair counts partial-aggregate into a |types|^2-sized matrix; the
    row-normalizing totals join back broadcast-sized. Ties in ts order
    by event_id so the successor is deterministic.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") * 1.0 / F.col("row_total"), 6).alias("prob"),
        )
    )


@query(
    "customer_rfm",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey),
    scored AS (
        SELECT o_custkey,
               NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
               NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
               NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
        FROM rfm)
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           (r_score = 1 AND f_score = 1 AND m_score = 1) AS is_champion
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles): the
    classic customer-value grid — champions are top-quartile on all
    three axes. Per-customer aggregates first (partial-agged, one
    o_custkey exchange), then three NTILE windows over the compact
    customer-level table (NOT the order rows), then the segment census.
    Quartile ties break on o_custkey so the cuts are deterministic.

    At 100 TB the windows run over |customers| rows, and the production
    variant replaces exact NTILE with approx_percentile boundaries to
    avoid the global sorts — same trade agg_histogram_equidepth
    documents.
    """
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        F.ntile(4).over(Window.orderBy(F.desc("last_order"), "o_custkey")).alias("r_score"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), "o_custkey")).alias("f_score"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), "o_custkey")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            (F.col("r_score") == 1) & (F.col("f_score") == 1) & (F.col("m_score") == 1)
        ).alias("is_champion"),
    ).select("r_score", "f_score", "m_score", "n_customers", "is_champion")


@query(
    "events_sequence_anomaly",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events),
    steps AS (SELECT * FROM seq WHERE next_type IS NOT NULL),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM steps GROUP BY from_type, to_type),
    tot AS (SELECT from_type, SUM(n) AS row_total FROM pairs GROUP BY from_type),
    probs AS (
        SELECT p.from_type, p.to_type, p.n * 1.0 / t.row_total AS prob
        FROM pairs p JOIN tot t USING (from_type)),
    scored AS (
        SELECT s.user_id,
               COUNT(*) AS n_steps,
               ROUND(AVG(-LN(pr.prob)), 4) AS avg_surprise
        FROM steps s
        JOIN probs pr ON pr.from_type = s.event_type
                     AND pr.to_type = s.next_type
        GROUP BY s.user_id)
    SELECT user_id, n_steps, avg_surprise
    FROM scored
    ORDER BY avg_surprise DESC, user_id
    LIMIT 10
    """,
)
def events_sequence_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-anomaly scoring: each user's mean transition surprise
    (-ln P(next|current) under the corpus transition matrix,
    events_transition_matrix) — users whose behavior the population
    model finds most improbable. The unsupervised fraud/bot screen that
    needs no labels: the model IS the corpus.

    Scale shape: the matrix is |types|^2 rows and broadcasts onto the
    same LEAD pass that built it (one user_id sort exchange total);
    the top-10 is a TakeOrdered with (surprise, user_id) tie-break and
    the surprise average rounds in-query.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    pairs = steps.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    probs = pairs.join(F.broadcast(tot), "from_type").select(
        "from_type", "to_type", (F.col("n") * 1.0 / F.col("row_total")).alias("prob")
    )
    return (
        steps.join(
            F.broadcast(probs),
            (F.col("event_type") == F.col("from_type"))
            & (F.col("next_type") == F.col("to_type")),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.round(F.avg(-F.log("prob")), 4).alias("avg_surprise"),
        )
        .orderBy(F.desc("avg_surprise"), "user_id")
        .limit(10)
    )


@query(
    "orders_seasonality",
    oracle="""
    WITH monthly AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS month,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY month)
    SELECT CAST(month AS DATE) AS month, n_orders, revenue,
           LAG(revenue, 12) OVER (ORDER BY month) AS revenue_prev_year,
           ROUND((revenue - LAG(revenue, 12) OVER (ORDER BY month))
                 / LAG(revenue, 12) OVER (ORDER BY month) * 100, 4)
               AS yoy_pct
    FROM monthly
    """,
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year deltas: the LAG-12 seasonal
    comparison every revenue dashboard draws (the month series is dense
    in this fixture; a production variant joins a generated month spine
    first — ts_spine_fill's densification — so missing months surface
    as NULL rows instead of silently mis-lagging).

    Scale shape: one partial-aggregated month rollup shrinks the order
    stream to a few dozen rows BEFORE the single-partition window — the
    window sort is over months, never orders, so the global ordering
    costs nothing at any corpus size.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue", 12).over(w)
    return monthly.select(
        F.col("month").cast("date").alias("month"),
        "n_orders",
        "revenue",
        prev.alias("revenue_prev_year"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias("yoy_pct"),
    )


@query(
    "events_pareto_share",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    ranked AS (
        SELECT user_id, n,
               SUM(n) OVER (ORDER BY n DESC, user_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n) OVER () AS total,
               ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk
        FROM per_user)
    SELECT MAX(total) AS total_events,
           COUNT(*) AS n_users,
           MIN(CASE WHEN cum * 2 >= total THEN rk END) AS users_for_50pct,
           MIN(CASE WHEN cum * 5 >= total * 4 THEN rk END) AS users_for_80pct,
           ROUND(MIN(CASE WHEN cum * 5 >= total * 4 THEN rk END) * 100.0
                 / COUNT(*), 4) AS pct_users_for_80pct
    FROM ranked
    """,
)
def events_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration report: how many of the heaviest users
    account for 50% / 80% of all events — the skew census that decides
    whether a per-user workload needs salting at all (a flat corpus
    doesn't; a head-heavy one pins reducers). Threshold tests use
    integer cross-multiplication (cum*2 >= total), never a float share,
    so the cut ranks are exact in both engines.

    Scale shape: the per-user rollup partial-aggregates the stream down
    to |users| rows; the cumulative window sorts THAT compact table
    (single partition, deliberate — it's the report's global order),
    and the final reduction is one row.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w_order = Window.orderBy(F.desc("n"), "user_id")
    ranked = per_user.select(
        "n",
        F.sum("n").over(w_order.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("n").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
        F.row_number().over(w_order).alias("rk"),
    )
    return ranked.agg(
        F.max("total").alias("total_events"),
        F.count(F.lit(1)).alias("n_users"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("rk"))).alias(
            "users_for_50pct"
        ),
        F.min(
            F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rk"))
        ).alias("users_for_80pct"),
        F.round(
            F.min(F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rk")))
            * 100.0
            / F.count(F.lit(1)),
            4,
        ).alias("pct_users_for_80pct"),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s.t_signup
        GROUP BY e.user_id),
    deltas AS (
        SELECT s.user_id,
               CAST(DATE_DIFF('second', s.t_signup, p.t_purchase) AS BIGINT)
                   / 60.0 AS minutes
        FROM s JOIN p ON p.user_id = s.user_id)
    SELECT COUNT(*) AS n_converted,
           ROUND(MEDIAN(minutes), 4) AS median_minutes,
           ROUND(MIN(minutes), 4) AS min_minutes,
           ROUND(MAX(minutes), 4) AS max_minutes
    FROM deltas
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: minutes from first signup to first
    at-or-after purchase, summarized as exact median/min/max — the
    latency half of the funnel story (funnel_conversion counts WHO
    converts; this measures HOW FAST). Seconds are integer datediffs
    divided by 60, so both engines produce identical doubles.

    Scale shape: two partial-aggregated per-user MINs (the
    funnel_conversion stages) joined user-keyed; the distribution
    reduces over |converted users| rows — median's sort-based aggregate
    partials merge like any TypedImperativeAggregate.
    """
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    deltas = s.join(p, "user_id").select(
        (
            (
                F.unix_timestamp("t_purchase") - F.unix_timestamp("t_signup")
            ).cast("bigint")
            / 60.0
        ).alias("minutes")
    )
    return deltas.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.median("minutes"), 4).alias("median_minutes"),
        F.round(F.min("minutes"), 4).alias("min_minutes"),
        F.round(F.max("minutes"), 4).alias("max_minutes"),
    )


@query(
    "agg_gini_activity",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    ranked AS (
        SELECT n,
               ROW_NUMBER() OVER (ORDER BY n ASC, user_id) AS i
        FROM per_user)
    SELECT COUNT(*) AS n_users,
           SUM(n) AS total_events,
           ROUND((2.0 * SUM(i * n) - (COUNT(*) + 1) * SUM(n))
                 / (COUNT(*) * SUM(n)), 6) AS gini
    FROM ranked
    """,
)
def agg_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity — the one-number inequality
    summary beside events_pareto_share's threshold table (0 = uniform
    load, →1 = one user is the workload). Every term before the final
    division is exact integer arithmetic (rank-weighted sums of counts),
    so the coefficient is deterministic to the last rounded digit.

    Scale shape: the stream partial-aggregates to |users| rows; one
    compact-table sort window assigns ranks; one more one-row reduction.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = per_user.select(
        "n",
        F.row_number().over(Window.orderBy(F.asc("n"), "user_id")).alias("i"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("total_events"),
        F.round(
            (
                2.0 * F.sum(F.col("i") * F.col("n"))
                - (F.count(F.lit(1)) + 1) * F.sum("n")
            )
            / (F.count(F.lit(1)) * F.sum("n")),
            6,
        ).alias("gini"),
    )


# -- open-order backlog over time (interval stabbing by event-ization) --------


@query(
    "orders_backlog",
    oracle="""
    WITH spans AS (
        SELECT DATE_TRUNC('month', CAST(o.o_orderdate AS DATE)) AS m_start,
               DATE_TRUNC('month', MAX(CAST(l.l_shipdate AS DATE)))
                   + INTERVAL 1 MONTH AS m_close
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, DATE_TRUNC('month', CAST(o.o_orderdate AS DATE))),
    ev AS (
        SELECT CAST(m_start AS DATE) AS month, 1 AS delta FROM spans
        UNION ALL
        SELECT CAST(m_close AS DATE) AS month, -1 AS delta FROM spans),
    per AS (
        SELECT month,
               SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS opened,
               SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS closed,
               SUM(delta) AS net
        FROM ev GROUP BY month)
    SELECT month, opened, closed,
           CAST(SUM(net) OVER (ORDER BY month
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
    FROM per ORDER BY month
    """,
)
def orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog curve: how many orders are in flight (placed,
    not yet fully shipped) in each month — the classic interval-stabbing
    question, answered by EVENT-IZATION instead of the months x orders
    cross join: each order contributes a +1 at its placement month and a
    -1 the month AFTER its last shipment; a running sum over the month
    axis is the backlog.

    Scale shape: the per-order span is one groupBy on the join key the
    lineitem scan is already keyed by; orders collapse to <= 2 events
    each, then to ONE row per (month, direction) by map-side partial
    agg — so the unpartitioned running-sum window sees a MONTHS-sized
    table (~80 rows here, ~centuries at most), not order volume. That
    single-task window over a bounded-by-calendar input is the correct
    trade at 100 TB; the orders x months quadratic never materializes.
    Orders with no lineitems are out of scope (inner join), matching
    the oracle."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            "o_orderkey",
            F.trunc(F.to_date("o_orderdate"), "mm").alias("m_start"),
        )
        .agg(
            F.add_months(
                F.trunc(F.max(F.to_date("l_shipdate")), "mm"), 1
            ).alias("m_close")
        )
    )
    ev = spans.select(
        F.col("m_start").alias("month"), F.lit(1).alias("delta")
    ).unionAll(
        spans.select(F.col("m_close").alias("month"), F.lit(-1).alias("delta"))
    )
    per = ev.groupBy("month").agg(
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("opened"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0)).alias("closed"),
        F.sum("delta").alias("net"),
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "month",
        "opened",
        "closed",
        F.sum("net").over(w).cast("bigint").alias("backlog"),
    ).orderBy("month")


# -- degree distribution of the co-purchase graph -----------------------------


@query(
    "graph_degree_distribution",
    oracle="""
    WITH basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS MATERIALIZED (
        SELECT a.p AS p1, b.p AS p2
        FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= 2),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT p1 AS node FROM edges
            UNION ALL SELECT p2 AS node FROM edges) GROUP BY node)
    SELECT CAST(POWER(2, LENGTH(BIN(d)) - 1) AS BIGINT) AS degree_bucket,
           COUNT(*) AS n_nodes,
           MIN(d) AS min_degree,
           MAX(d) AS max_degree,
           SUM(d) AS sum_degree
    FROM deg GROUP BY degree_bucket ORDER BY degree_bucket
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree histogram of the co-purchase graph — the
    power-law check that decides every downstream graph plan (a heavy
    tail means degree-oriented triangle counting and skew-aware joins
    are mandatory; a flat histogram means plain hash partitioning is
    fine). The diagnostic twin of graph_triangles' orientation trick.

    Exactness: the bucket is the floor power of two via the BIN-length
    identity (2^(len(bin(d))-1), pack_length_buckets precedent) —
    integer in both engines, no log() float.

    Scale shape: shares graph_triangles' pair generation (order-bounded
    basket self-join, hash-only shuffles); degrees are one partial-agged
    exchange over edge endpoints; the histogram output is
    O(log(max_degree)) rows."""
    l = load_table(spark, sf_dir, "lineitem")
    edges = (
        _copurchase_pairs(l)
        .filter(F.col("together") >= 2)
        .select("p1", "p2")
    )
    # r9: endpoint census via an inline explode of both ends, not a
    # two-branch self-union — the union's branches each embedded the
    # FULL pair-census pipeline (scan -> basket self-join -> pair agg)
    # and the plan showed zero ReusedExchange between them: one whole
    # pair-census execution saved (38 MB -> ~19 MB shuffle read),
    # identical degree rows (each edge still contributes each endpoint
    # exactly once).
    deg = (
        edges.select(F.explode(F.array("p1", "p2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bucket = F.expr("cast(power(2, length(bin(d)) - 1) as bigint)")
    return (
        deg.groupBy(bucket.alias("degree_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
            F.sum("d").alias("sum_degree"),
        )
        .orderBy("degree_bucket")
    )


# -- fulfillment latency distribution -----------------------------------------


@query(
    "orders_fulfillment_latency",
    oracle="""
    WITH first_ship AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                         MIN(CAST(l.l_shipdate AS DATE))) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority,
                 CAST(o.o_orderdate AS DATE))
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           MIN(days) AS min_days,
           ROUND(MEDIAN(days), 1) AS median_days,
           MAX(days) AS max_days,
           SUM(CASE WHEN days < 0 THEN 1 ELSE 0 END) AS n_preship_anomalies
    FROM first_ship GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency distribution per priority class —
    the SLA dashboard (does URGENT actually ship faster?) plus an
    anomaly count of lines shipped BEFORE their order date (the
    data-quality tripwire that catches clock skew or bad joins at
    ingest).

    Exactness: day diffs are exact integers from identical dates;
    median over integers interpolates halves identically in both
    engines (the agg_median_mode contract), rounded to 1dp.

    Plan shape: the per-order first-ship is ONE groupBy on the join
    key (partial-agged); the census regroups by the 5 priorities.
    At scale both tables bucket on orderkey, making the join
    shuffle-free; nothing here is row-multiplied."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    fs = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            "o_orderkey",
            "o_orderpriority",
            F.to_date("o_orderdate").alias("od"),
        )
        .agg(F.min(F.to_date("l_shipdate")).alias("ship"))
        .select(
            "o_orderpriority", F.datediff("ship", "od").alias("days")
        )
    )
    return (
        fs.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("days").alias("min_days"),
            F.round(F.median("days"), 1).alias("median_days"),
            F.max("days").alias("max_days"),
            F.sum(F.when(F.col("days") < 0, 1).otherwise(0)).alias(
                "n_preship_anomalies"
            ),
        )
        .orderBy("o_orderpriority")
    )


# -- cohort LTV curve ----------------------------------------------------------


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH first_o AS (
        SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS fd
        FROM orders GROUP BY o_custkey),
    aged AS (
        SELECT CAST(DATE_TRUNC('month', f.fd) AS DATE) AS cohort_month,
               (YEAR(o.o_orderdate) - YEAR(f.fd)) * 12
                   + (MONTH(o.o_orderdate) - MONTH(f.fd)) AS age_months,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS rev
        FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey),
    cell AS (
        SELECT cohort_month, age_months,
               COUNT(*) AS n_orders, SUM(rev) AS revenue
        FROM aged GROUP BY cohort_month, age_months)
    SELECT cohort_month, age_months, n_orders,
           CAST(ROUND(revenue, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(SUM(revenue) OVER (
               PARTITION BY cohort_month ORDER BY age_months
               ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS cum_revenue
    FROM cell ORDER BY cohort_month, age_months
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, revenue accumulated by cohort age in months — the
    growth-accounting complement of retention_cohort (that one counts
    RETURNING customers; this one accumulates MONEY).

    Exactness: cohort age is pure integer year/month arithmetic
    (identical in both engines — no interval/months_between float);
    revenue sums are exact DECIMAL(18,2) including the CUMULATIVE
    window sum, each rounded to 2dp only at the final double cast
    (house money rule).

    Scale shape: first-order is one partial-agged groupBy on the
    customer key; the cohort attach is an equi join on the same key
    (bucketable); cells collapse to cohorts x ages BEFORE the running
    sum, so the window input is calendar-bounded, not order-bounded."""
    o = load_table(spark, sf_dir, "orders")
    first_o = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("fd")
    )
    aged = o.join(first_o, "o_custkey").select(
        F.trunc("fd", "mm").alias("cohort_month"),
        (
            (F.year("o_orderdate") - F.year("fd")) * 12
            + (F.month("o_orderdate") - F.month("fd"))
        ).alias("age_months"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    cell = aged.groupBy("cohort_month", "age_months").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("rev").alias("revenue")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        "cohort_month",
        "age_months",
        "n_orders",
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.round(F.sum("revenue").over(w), 2).cast("double").alias(
            "cum_revenue"
        ),
    ).orderBy("cohort_month", "age_months")


@query(
    "ts_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
        FROM orders GROUP BY day),
    trended AS (
        SELECT day, rev_cents,
               CASE WHEN COUNT(*) OVER w7 = 7
                    THEN SUM(rev_cents) OVER w7 // 7 END AS trend_cents
        FROM daily
        WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                      AND 3 FOLLOWING)),
    detr AS (
        SELECT *, DATE_DIFF('day', DATE '1970-01-01', day) % 7 AS dow,
               rev_cents - trend_cents AS detrended_cents
        FROM trended),
    season AS (
        SELECT dow, SUM(detrended_cents) // COUNT(*) AS seasonal_cents
        FROM detr WHERE detrended_cents IS NOT NULL GROUP BY dow)
    SELECT d.day, d.dow,
           ROUND(d.rev_cents / 100.0, 2) AS revenue,
           ROUND(d.trend_cents / 100.0, 2) AS trend,
           ROUND(s.seasonal_cents / 100.0, 2) AS seasonal,
           ROUND((d.detrended_cents - s.seasonal_cents) / 100.0, 2)
               AS residual
    FROM detr d JOIN season s ON s.dow = d.dow
    ORDER BY d.day
    """,
)
def ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition of daily revenue:
    trend = centered 7-day moving average (full windows only),
    seasonal = day-of-week mean of the detrended series, residual =
    the rest — the anomaly-hunting preprocessing step (a residual
    spike is a real event; a raw spike might just be Saturday).

    Exactness: revenue quantizes to integer cents BEFORE aggregation
    (the events_ab_test recipe); trend and seasonal means are integer
    floor-divisions (truncation parity verified both engines), the
    day-of-week key is epoch-days mod 7 (engine-neutral — no Sunday=0
    vs Sunday=1 convention trap), and every displayed value is an
    exact integer over 100.

    Scale shape: the ONLY corpus-sized work is the one partial-agged
    (day) rollup off the scan; the moving-average window, the 7-row
    seasonal table (broadcast back), and the residual join all run on
    the days-sized series (~2.4k rows for 7 years — dimension-bounded
    at any corpus scale). The single-partition window over days is
    deliberate: days don't grow with volume."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "rev_cents",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.expr("sum(rev_cents)").over(w7),
        ).alias("win_sum"),
    ).select(
        "day",
        "rev_cents",
        F.expr("win_sum div 7").alias("trend_cents"),
    )
    detr = trended.select(
        "day",
        "rev_cents",
        "trend_cents",
        (F.datediff(F.col("day"), F.lit("1970-01-01")) % 7).alias("dow"),
        (F.col("rev_cents") - F.col("trend_cents")).alias("detrended_cents"),
    )
    season = (
        detr.where(F.col("detrended_cents").isNotNull())
        .groupBy("dow")
        .agg(F.expr("sum(detrended_cents) div count(1)").alias("seasonal_cents"))
    )
    return (
        detr.join(F.broadcast(season), "dow")
        .select(
            "day",
            "dow",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            F.round(F.col("trend_cents") / 100.0, 2).alias("trend"),
            F.round(F.col("seasonal_cents") / 100.0, 2).alias("seasonal"),
            F.round(
                (F.col("detrended_cents") - F.col("seasonal_cents")) / 100.0, 2
            ).alias("residual"),
        )
        .orderBy("day")
    )


_LP_MIN_SUP = 2  # co-purchase support for a pair to count as an EDGE
_LP_DEG_CAP = 200  # wedge-center degree cap (hub guard; AA weight ~0 there)


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    cop AS (
        SELECT a.p AS p1, b.p AS p2
        FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= {_LP_MIN_SUP}),
    adj AS (
        SELECT p1 AS node, p2 AS nbr FROM cop
        UNION ALL
        SELECT p2 AS node, p1 AS nbr FROM cop),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    ctr AS (
        SELECT a.node, a.nbr,
               CAST(FLOOR(1e9 / LN(d.d)) AS BIGINT) AS aa_nano
        FROM adj a JOIN deg d ON d.node = a.node
        WHERE d.d <= {_LP_DEG_CAP} AND d.d >= 2),
    wedge AS (
        SELECT a.nbr AS u, b.nbr AS v,
               COUNT(*) AS common, SUM(a.aa_nano) AS aa_sum_nano
        FROM ctr a JOIN ctr b ON b.node = a.node AND a.nbr < b.nbr
        GROUP BY a.nbr, b.nbr),
    cand AS (
        SELECT w.* FROM wedge w
        ANTI JOIN cop e ON e.p1 = w.u AND e.p2 = w.v)
    SELECT c.u, c.v, c.common,
           ROUND(c.aa_sum_nano / 1e9, 6) AS adamic_adar,
           c.common * 1000 // (du.d + dv.d - c.common) AS jaccard_permille
    FROM cand c
    JOIN deg du ON du.node = c.u
    JOIN deg dv ON dv.node = c.v
    ORDER BY c.aa_sum_nano DESC, c.common DESC, c.u, c.v
    LIMIT 20
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: for part pairs NOT yet
    connected (no edge with support >= {min_sup}), score the likelihood
    of a future edge by their common neighbors — Adamic-Adar
    (sum 1/ln(deg(n)) over shared neighbors n; rare shared neighbors
    count more) plus the common-neighbor Jaccard — the recommender /
    graph-completion primitive (Liben-Nowell & Kleinberg).

    Exactness: the per-center AA weight floor(1e9/ln(deg)) quantizes to
    integer nano-units BEFORE the wedge sum (one correctly-rounded IEEE
    ln+div chain, identical both engines), so candidate scores are
    exact BIGINTs; Jaccard is an integer per-mille; top-20 fully
    tie-broken (aa, common, u, v).

    Scale shape: wedges enumerate via the EQUI self-join on the CENTER
    node, so the blowup is sum-over-centers deg^2, bounded by the
    degree cap (hubs are excluded where AA weight -> 1/ln(d) is noise
    anyway — the df-cap discipline of dedup_minhash_recall applied to
    graphs); edge set and degree table partial-agg before their
    exchanges; existing edges leave via one anti join; top-20 is a
    TakeOrdered, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    # r9: cop is the root of FOUR consumer branches (adj -> deg, adj ->
    # ctr, the existing-edge anti join, and through deg the du/dv
    # lookups); unpersisted, Catalyst re-executed the full pair census
    # for each branch — the plan's dominant cost (isolated qtime
    # 11.0 s / 101 MB shuffle read, mostly repeated pair-census
    # exchanges). Persist the small shared relations and materialize
    # ONCE before the branches fan out. The result is eagerly
    # localCheckpoint-ed so the caches unpersist before return (the
    # graph_pagerank discipline — no blocks leak into the shared
    # session).
    cop = (
        _copurchase_pairs(li)
        .where(F.col("together") >= _LP_MIN_SUP)
        .select("p1", "p2")
    )
    # r9 second pass (the _copurchase_pairs discipline applied to the
    # WEDGE enumeration): the Adamic-Adar weight depends only on the
    # CENTER's degree, so a wedge is just an unordered pair of the
    # center's (distinct, sorted) neighbor array — ONE adjacency-list
    # aggregate (both orientations via an inline explode, the LPA
    # shape) plus a map-side combination explode replaces the ctr
    # repartition+persist AND the ctr x ctr self-join (two exchange
    # sides + join sort); the degree relation falls out of the same
    # aggregate as size(nbrs), so the separate deg groupBy+persist
    # goes too. Per-center blowup is C(deg, 2), still bounded by the
    # degree cap exactly as the self-join was. Caveat (r9 advice): the
    # cap bounds the WEDGE EXPLODE only — the collect_set below still
    # builds a hub's full neighbor array in its aggregation buffer
    # before the size() filter drops it (the old deg-join form filtered
    # row-wise before any array existed). Exact degrees du/dv of hub
    # CANDIDATE endpoints feed the Jaccard output, so hub arrays can't
    # simply be truncated here; the buffer is bounded by the distinct
    # co-purchased-part domain (~|parts|), not by corpus volume — fine
    # at any sf of this schema, but a graph with unbounded hub degree
    # would need a two-level (node, salt) pre-aggregation first.
    nb = (
        cop.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("p1").alias("node"), F.col("p2").alias("nbr")
                    ),
                    F.struct(
                        F.col("p2").alias("node"), F.col("p1").alias("nbr")
                    ),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.node").alias("node"))
        .agg(F.sort_array(F.collect_set("e.nbr")).alias("nbrs"))
    )
    deg = nb.select("node", F.size("nbrs").alias("d"))
    # deg-1 centers can't form a wedge, and ln(1) = 0 would divide by
    # zero under ANSI mode (surfaced at sf10 — sf0.01's graph is dense
    # enough that every node has deg >= 2): filter BEFORE the weight
    wedge = (
        nb.where(
            (F.size("nbrs") <= _LP_DEG_CAP) & (F.size("nbrs") >= 2)
        )
        .select(
            F.expr(
                "cast(floor(1e9 / ln(size(nbrs))) as bigint)"
            ).alias("aa_nano"),
            F.explode(
                F.expr(
                    "flatten(transform(nbrs, (x, i) -> "
                    "transform(slice(nbrs, i + 2, size(nbrs) - i - 1), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("w"),
        )
        .groupBy(F.col("w.u").alias("u"), F.col("w.v").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum("aa_nano").alias("aa_sum_nano"),
        )
    )
    cand = wedge.join(
        cop,
        (F.col("p1") == F.col("u")) & (F.col("p2") == F.col("v")),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    out = (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.round(F.col("aa_sum_nano") / 1e9, 6).alias("adamic_adar"),
            F.expr(
                "common * 1000 div (du + dv - common)"
            ).alias("jaccard_permille"),
        )
        .orderBy(F.desc("aa_sum_nano"), F.desc("common"), "u", "v")
        .limit(20)
    )
    with reused(cop, nb):
        nb.count()
        return cut_lineage(out)


_EWMA_DEPTH = 8  # halving weights 2^7..2^0 over the last 8 days, sum 255


@query(
    "ts_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
        FROM orders GROUP BY day),
    lagged AS (
        SELECT day, rev_cents,
               {" + ".join(
                   f"LAG(rev_cents, {k}) OVER (ORDER BY day)"
                   f" * {1 << (_EWMA_DEPTH - 1 - k)}"
                   for k in range(_EWMA_DEPTH)
               )} AS wsum,
               COUNT(*) OVER (ORDER BY day ROWS BETWEEN {_EWMA_DEPTH - 1}
                              PRECEDING AND CURRENT ROW) AS n_win
        FROM daily)
    SELECT day,
           ROUND(rev_cents / 100.0, 2) AS revenue,
           ROUND((wsum // {(1 << _EWMA_DEPTH) - 1}) / 100.0, 2) AS ewma,
           (rev_cents - wsum // {(1 << _EWMA_DEPTH) - 1}) * 1000
               // GREATEST(wsum // {(1 << _EWMA_DEPTH) - 1}, 1)
               AS deviation_permille
    FROM lagged WHERE n_win = {_EWMA_DEPTH}
    ORDER BY day
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with
    EXACT integer arithmetic: halving weights 2^7..2^0 over the last 8
    days (weight sum 255, a fixed-depth truncation of alpha=1/2 EWMA —
    the infinite tail's weight is < 0.4%, traded for exactness), plus
    the per-day deviation from trend in integer per-mille — the
    smoothing + anomaly-flag pair ts_decompose's seasonal model doesn't
    cover (EWMA tracks level shifts; decomposition assumes a stable
    weekly shape).

    Exactness: revenue quantizes to cents BEFORE aggregation; the
    window combination is a SUM OF LAGS with power-of-two integer
    weights — no float smoothing recursion to drift — and the EWMA is
    one integer floor-division by 255; deviation is a cross-multiplied
    integer per-mille. Both engines emit identical BIGINTs.

    Scale shape: identical to ts_decompose — the corpus touches only
    the partial-agged (day) rollup; the lag window runs on the
    days-sized series (single partition by design: days don't grow
    with volume)."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = Window.orderBy("day")
    wsum = None
    for k in range(_EWMA_DEPTH):
        term = F.lag("rev_cents", k).over(w) * (1 << (_EWMA_DEPTH - 1 - k))
        wsum = term if wsum is None else wsum + term
    den = (1 << _EWMA_DEPTH) - 1
    lagged = daily.select(
        "day",
        "rev_cents",
        wsum.alias("wsum"),
        F.count(F.lit(1))
        .over(w.rowsBetween(-(_EWMA_DEPTH - 1), 0))
        .alias("n_win"),
    )
    return (
        lagged.where(F.col("n_win") == _EWMA_DEPTH)
        .select(
            "day",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            F.round(F.expr(f"(wsum div {den}) / 100.0"), 2).alias("ewma"),
            F.expr(
                f"(rev_cents - wsum div {den}) * 1000"
                f" div greatest(wsum div {den}, 1L)"
            ).alias("deviation_permille"),
        )
        .orderBy("day")
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
        FROM orders GROUP BY day),
    tot AS (
        SELECT COUNT(*) AS n_days, SUM(rev_cents) AS total_cents FROM daily),
    dev AS (
        SELECT d.day, d.rev_cents,
               d.rev_cents * t.n_days - t.total_cents AS dev_scaled,
               t.n_days, t.total_cents
        FROM daily d CROSS JOIN tot t),
    cs AS (
        SELECT day, rev_cents, n_days, total_cents,
               SUM(dev_scaled) OVER (ORDER BY day) AS cusum_scaled
        FROM dev),
    mx AS (SELECT MAX(ABS(cusum_scaled)) AS max_abs FROM cs)
    SELECT c.day,
           ROUND(c.rev_cents / 100.0, 2) AS revenue,
           c.cusum_scaled * 1000 // (c.n_days * c.total_cents)
               AS cusum_permille,
           c.cusum_scaled = m.max_abs OR c.cusum_scaled = -m.max_abs
               AS is_changepoint
    FROM cs c CROSS JOIN mx m
    ORDER BY c.day
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over daily revenue — the
    level-SHIFT locator that completes the time-series triad
    (ts_decompose: stable weekly shape; ts_ewma: smoothed level;
    CUSUM: WHERE the mean changed). The cumulative sum of deviations
    from the global mean drifts while the series sits above or below
    it; the |max| of that walk is the classic CUSUM change-point
    estimate (Page 1954), emitted here as a per-day normalized census
    with the argmax day(s) flagged.

    Exactness: deviations are CROSS-MULTIPLIED integers
    (rev*n - total), so the "mean" is never a rounded division; the
    cusum is an exact BIGINT running sum (|cusum| <= n^2 * max_rev
    ~ 6e15 at sf10's 2.4k days — in range); normalization is one
    integer per-mille division at output.

    Scale shape: the corpus touches only the partial-agged (day)
    rollup (ts_decompose's shape); totals are a 1-row broadcast; the
    running sum orders the DAYS-sized series (bounded by calendar,
    not volume). The argmax flag is a 1-row max broadcast back —
    no second corpus pass anywhere."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev_cents").alias("total_cents"),
    )
    dev = daily.join(F.broadcast(tot)).select(
        "day",
        "rev_cents",
        "n_days",
        "total_cents",
        (F.col("rev_cents") * F.col("n_days") - F.col("total_cents")).alias(
            "dev_scaled"
        ),
    )
    cs = dev.select(
        "day",
        "rev_cents",
        "n_days",
        "total_cents",
        F.sum("dev_scaled").over(Window.orderBy("day")).alias("cusum_scaled"),
    )
    mx = cs.agg(F.max(F.abs(F.col("cusum_scaled"))).alias("max_abs"))
    return (
        cs.join(F.broadcast(mx))
        .select(
            "day",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            F.expr(
                "cusum_scaled * 1000 div (n_days * total_cents)"
            ).alias("cusum_permille"),
            (
                (F.col("cusum_scaled") == F.col("max_abs"))
                | (F.col("cusum_scaled") == -F.col("max_abs"))
            ).alias("is_changepoint"),
        )
        .orderBy("day")
    )


_KCORE_K = 3  # peel to the 3-core
_KCORE_ROUNDS = 5  # unrolled peel rounds (census reports convergence)


def _kcore_oracle() -> str:
    """Unrolled peel: e0 = co-purchase edges; round r keeps nodes with
    degree >= K in e_{r-1} and the edges both of whose endpoints
    survive. MATERIALIZED everywhere — each CTE is referenced twice
    (the graph_triangles DuckDB re-inlining lesson)."""
    parts = [f"""
    e0 AS MATERIALIZED (
        SELECT a.p AS p1, b.p AS p2
        FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= 2)"""]
    rows = []
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(f"""
    d{r} AS MATERIALIZED (
        SELECT node, COUNT(*) AS d FROM (
            SELECT p1 AS node FROM e{r - 1}
            UNION ALL SELECT p2 AS node FROM e{r - 1}) GROUP BY node),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
        SELECT e.p1, e.p2 FROM e{r - 1} e
        JOIN k{r} a ON a.node = e.p1
        JOIN k{r} b ON b.node = e.p2)""")
        rows.append(
            f"SELECT {r} AS round, (SELECT COUNT(*) FROM k{r}) AS n_kept,"
            f" (SELECT COUNT(*) FROM e{r}) AS n_edges,"
            f" (SELECT COUNT(*) FROM d{r}) - (SELECT COUNT(*) FROM k{r})"
            f" AS n_peeled"
        )
    return (
        "WITH basket AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem),"
        + ",".join(parts)
        + "\n"
        + " UNION ALL ".join(rows)
        + "\nORDER BY round"
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE decomposition by iterative peeling (Matula-Beck / the
    Batagelj-Zaversnik census form): repeatedly delete nodes of degree
    < k from the co-purchase graph until the k-core remains, reporting
    per round how many nodes survive, how many peel off, and the
    surviving edge count — the density-skeleton census that locates
    the cohesive cluster structure triangles/link-prediction operate
    on, and the classic robustness measure for recommendation graphs
    (a 3-core member keeps >= 3 co-purchase partners no matter what
    fringe products are removed).

    Exactness: the peel recurrence is pure integer degree counting —
    both engines replay the identical unrolled rounds; no floats
    anywhere. The round census converges when n_peeled reads 0 (at
    this graph's density that's within the unrolled depth; the census
    SHOWS convergence instead of asserting it, so the depth constant
    is auditable).

    Scale shape: pair-gen shares graph_triangles' order-bounded basket
    self-join; each peel round is one partial-agged degree census (the
    exploded union partial-aggregates map-side) plus two equi
    semi-joins of the shrinking edge set against the |kept|-sized node
    list — every exchange is keyed, every relation monotonically
    shrinks, and each round's edge set is checkpointed so round r+1
    never replays rounds 1..r (the graph_pagerank unroll discipline).
    At 100 TB the first round dominates (it touches the full edge
    set); later rounds cost |core| alone."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = cut_lineage(
        _copurchase_pairs(li).where(F.col("together") >= 2).select("p1", "p2"),
        eager=False,
    )
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        # r9: endpoint census as one explode pass over the round's edge
        # checkpoint instead of a two-branch self-union (one scan of
        # the checkpointed blocks per round, not two; same rows).
        # r9: deg roots THREE consumer branches per round (the p1
        # semi-join, the p2 semi-join, the n_all/n_kept census);
        # uncheckpointed, each branch re-ran the degree union+exchange
        # against the round's edge blocks — 3 degree censuses per peel
        # round. Checkpointing the (node, d) relation (one row per
        # surviving node) computes it once.
        deg = cut_lineage(
            edges.select(F.explode(F.array("p1", "p2")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d")),
            eager=False,
        )
        kept = deg.where(F.col("d") >= _KCORE_K).select("node")
        new_edges = cut_lineage(
            edges.join(kept.withColumnRenamed("node", "p1"), "p1")
            .join(kept.withColumnRenamed("node", "p2"), "p2")
            .select("p1", "p2"),
            eager=False,
        )
        # r9: n_kept and n_all come from ONE pass over deg (a count and
        # a conditional count are the same aggregate), instead of two
        # independent aggregate branches that each re-derived deg from
        # the edge checkpoint — one fewer deg recompute + exchange per
        # peel round, identical integers. n_kept MUST be a conditional
        # COUNT, not sum(when): once the core empties (sf0.1 peels to
        # nothing by round 3), sum over the empty deg relation is NULL
        # while the r8 count form — and the oracle — read 0.
        census = (
            deg.agg(
                F.count(F.lit(1)).alias("n_all"),
                F.count(
                    F.when(F.col("d") >= _KCORE_K, F.lit(1))
                ).alias("n_kept"),
            )
            .crossJoin(
                F.broadcast(
                    new_edges.agg(F.count(F.lit(1)).alias("n_edges"))
                )
            )
            .select(
                F.lit(r).alias("round"),
                "n_kept",
                "n_edges",
                (F.col("n_all") - F.col("n_kept")).alias("n_peeled"),
            )
        )
        rounds.append(census)
        edges = new_edges
    out = rounds[0]
    for c in rounds[1:]:
        out = out.unionAll(c)
    return out.orderBy("round")


@query(
    "ts_theilsen_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
        FROM orders GROUP BY day),
    pairs AS (
        SELECT (b.rev_cents - a.rev_cents) * 1000
               // DATE_DIFF('day', a.day, b.day) AS slope_milli
        FROM daily a JOIN daily b ON b.day > a.day),
    ranked AS (
        SELECT slope_milli,
               ROW_NUMBER() OVER (ORDER BY slope_milli) AS rk,
               COUNT(*) OVER () AS n
        FROM pairs),
    med AS (
        SELECT slope_milli AS median_slope_milli, n AS n_pairs
        FROM ranked WHERE rk = (n + 1) // 2),
    spn AS (
        SELECT COUNT(*) AS n_days,
               MIN(day) AS first_day, MAX(day) AS last_day
        FROM daily)
    SELECT s.n_days, m.n_pairs, m.median_slope_milli,
           s.first_day, s.last_day
    FROM spn s CROSS JOIN med m
    """,
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend over daily revenue: the median of all
    pairwise day-to-day slopes — the estimator that shrugs off the
    outlier days OLS bends toward (29% breakdown point), and the
    third member of the trend shelf (ts_decompose's moving average,
    ts_ewma's level, Theil-Sen's robust slope). Emits the lower-median
    slope in integer milli-cents/day plus the span census.

    Exactness: slopes quantize to integer milli-cents/day (dc*1000 div
    dd, denominator always > 0) BEFORE ranking, so the median
    selection is a pure integer rank pick — no double comparison can
    flip it; lower median at even counts keeps the answer a value
    that actually occurs.

    Scale shape: the corpus collapses to the partial-agged (day)
    rollup FIRST; the pairwise join is days x days — bounded by the
    CALENDAR, not by volume (2.4k days -> ~3M pairs at any corpus
    size), the same days-sized-relation argument as ts_decompose's
    windows. The rank runs once over the pair relation."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    # r9 re-plan (measured 3.5 s -> ~1 s at sf0.1): the old global
    # Window.orderBy ranked all ~2.9M pair slopes in ONE task (a global
    # sort is a single partition), and the pair generation itself ran at
    # the width of the post-agg daily relation (1 after AQE coalescing).
    # Now: (1) the tiny daily relation is spread over the cores so the
    # O(days^2) slope generation is parallel; (2) the median is a
    # TWO-LEVEL selection — equal-width value buckets (65536 cells over
    # the observed range) aggregate map-side, a trivial cumulative pass
    # over the bucket census locates the target bucket, and only THAT
    # bucket's rows are ranked. Same integer k-th order statistic
    # (k = (n+1) div 2, lower median), so the picked VALUE is identical
    # regardless of tie order. At 100 TB the days relation is still
    # calendar-bounded; the selection avoids any corpus-scale sort.
    dp = spark.sparkContext.defaultParallelism
    a = daily.repartition(dp).alias("a")
    b = daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.day") > F.col("a.day")).select(
        F.expr(
            "(b.rev_cents - a.rev_cents) * 1000"
            " div datediff(b.day, a.day)"
        ).alias("slope_milli")
    )
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("slope_milli").alias("mn"),
        F.max("slope_milli").alias("mx"),
    ).select(
        "n",
        "mn",
        F.expr("(n + 1) div 2").alias("k"),
        F.expr("(mx - mn) div 65536 + 1").alias("c"),
    )
    bp = pairs.crossJoin(F.broadcast(stats)).select(
        "slope_milli",
        "n",
        "k",
        F.expr("(slope_milli - mn) div c").alias("bucket"),
    )
    bcum = (
        bp.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("k").alias("k"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )
    target = bcum.where(
        (F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("cnt") < F.col("k"))
    ).select("bucket", (F.col("cum") - F.col("cnt")).alias("base"))
    med = (
        bp.join(F.broadcast(target), "bucket")
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("slope_milli"))
        )
        .where(F.expr("rn = k - base"))
        .select(
            F.col("slope_milli").alias("median_slope_milli"),
            F.col("n").alias("n_pairs"),
        )
    )
    spn = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )
    return spn.crossJoin(F.broadcast(med)).select(
        "n_days", "n_pairs", "median_slope_milli", "first_day", "last_day"
    )


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """3 unrolled synchronous label-propagation rounds; each round's
    relabel is (count DESC, label ASC) over neighbor labels — the
    deterministic LPA tie-break both engines replay identically."""
    parts = [
        """
    WITH basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS MATERIALIZED (
        SELECT a.p AS p1, b.p AS p2
        FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= 2),
    und AS MATERIALIZED (
        SELECT p1 AS src, p2 AS dst FROM edges
        UNION ALL SELECT p2 AS src, p1 AS dst FROM edges),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM und)"""
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""",
    c{r} AS (SELECT e.src AS node, l.label, COUNT(*) AS c
             FROM und e JOIN l{r - 1} l ON e.dst = l.node
             GROUP BY e.src, l.label),
    l{r} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                       ORDER BY c DESC, label) AS rk
            FROM c{r}) t WHERE rk = 1)"""
        )
    rows = " UNION ALL ".join(
        f"""
    SELECT {r} AS round,
           (SELECT COUNT(*) FROM l{r} j JOIN l{r - 1} p
             ON j.node = p.node AND j.label <> p.label) AS n_changed,
           (SELECT COUNT(DISTINCT label) FROM l{r}) AS n_comms"""
        for r in range(1, _LPA_ROUNDS + 1)
    )
    return "".join(parts) + rows + " ORDER BY round"


@query("graph_community_lpa", oracle=_lpa_oracle())
def graph_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-PROPAGATION community detection (Raghavan et al.) over the
    co-purchase graph, 3 unrolled SYNCHRONOUS rounds: every node adopts
    its neighbors' most frequent label (count DESC, then MIN label —
    an injective tie-break, so both engines relabel identically).
    Complements dedup_clusters' connected components: LPA finds DENSE
    communities inside a component, the structure mixture/dedup
    policies act on. Census per round: labels changed + distinct
    communities — convergence is SHOWN, not asserted (the graph_kcore
    discipline).

    Exactness: labels are node ids, counts are integers, the relabel
    rank is injective — no float anywhere.

    Scale shape: pair-gen shares graph_triangles' order-bounded basket
    self-join and runs ONCE (checkpointed, so round r never replays
    rounds 1..r-1 — the graph_pagerank unroll discipline); each round
    is one keyed equi join (edge dst -> label) into one partial-agged
    (node, label) count exchange and a per-node rank. Per-round cost
    is |edges| regardless of round number; rounds are a constant."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = cut_lineage(
        _copurchase_pairs(li).where(F.col("together") >= 2).select("p1", "p2"),
        eager=False,
    )
    # r9: the undirected edge list is the operand EVERY round joins on
    # dst — hash-partition it by dst ONCE and checkpoint that layout
    # (Dataset.localCheckpoint preserves outputPartitioning), so each
    # round's edge-side exchange disappears: profiled at sf0.1, the 3
    # per-round und union+shuffle stages (64 tasks each, ~20 s summed
    # executor time) collapse into the single checkpoint write.
    # r9: both orientations via one inline explode pass over the edge
    # checkpoint instead of a two-branch self-union (one scan, not two
    # — the graph_degree_distribution fix; same rows).
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("p1").alias("src"), F.col("p2").alias("dst")
                    ),
                    F.struct(
                        F.col("p2").alias("src"), F.col("p1").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("dst")
    )
    und = cut_lineage(und, eager=False)
    labels = cut_lineage(
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        eager=False,
    )
    rounds = []
    for r in range(1, _LPA_ROUNDS + 1):
        cand = (
            und.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # r9: per-node argmax via max_by instead of a rank window — the
        # struct key (c, -label) is maximal exactly at (count DESC,
        # label ASC), the window's injective order, so the adopted
        # label is identical; the window's per-partition sort and its
        # extra exchange-side row traffic go away (partial max_by
        # aggregates map-side into one row per node).
        new_labels = cut_lineage(
            cand.groupBy("node").agg(
                F.expr("max_by(label, struct(c, -label))").alias("label")
            ),
            eager=False,
        )
        # r9: changed-count and community-count fused into ONE pass over
        # the (new, previous) label join — a filtered count is a
        # conditional count, and the node-keyed join is 1:1 so the
        # distinct-label census is unchanged. One aggregate branch per
        # round instead of two (each re-read the round checkpoint).
        # count(when), not sum(when): over an EMPTY graph (an edge set
        # with no together>=2 pair at tiny SFs) the label join is empty
        # and sum would read NULL where the oracle's scalar COUNT
        # subquery reads 0 (the graph_kcore empty-core lesson).
        rounds.append(
            new_labels.alias("j")
            .join(labels.alias("p"), "node")
            .agg(
                F.count(
                    F.when(
                        F.col("j.label") != F.col("p.label"), F.lit(1)
                    )
                ).alias("n_changed"),
                F.countDistinct("j.label").alias("n_comms"),
            )
            .select(F.lit(r).alias("round"), "n_changed", "n_comms")
        )
        labels = new_labels
    out = rounds[0]
    for c in rounds[1:]:
        out = out.unionAll(c)
    return out.orderBy("round")


# --------------------------------------------------------------------------
# ts_anomaly_residual: seasonal-residual anomaly days via exact MAD
# --------------------------------------------------------------------------
# flag when |residual - median| > 3 * 1.4826 * MAD; 4448/1000 is the
# integer form of 3 * 1.4826 (identical literal in both engines)
_TSA_K_MILLI = 4448


@query(
    "ts_anomaly_residual",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS cents
        FROM orders GROUP BY day),
    dowm AS (
        SELECT DATE_DIFF('day', DATE '1970-01-01', day) % 7 AS dow,
               SUM(cents) // COUNT(*) AS mean_cents
        FROM daily GROUP BY 1),
    resid AS (
        SELECT d.day, m.dow, d.cents - m.mean_cents AS r
        FROM daily d JOIN dowm m
          ON DATE_DIFF('day', DATE '1970-01-01', d.day) % 7 = m.dow),
    med AS (
        SELECT r AS median_r FROM (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, day) AS rn,
                   COUNT(*) OVER () AS n
            FROM resid) WHERE rn = (n + 1) // 2),
    dev AS (
        SELECT resid.*, ABS(r - med.median_r) AS adev, med.median_r
        FROM resid CROSS JOIN med),
    mad AS (
        SELECT adev AS mad_v FROM (
            SELECT adev, ROW_NUMBER() OVER (ORDER BY adev, day) AS rn,
                   COUNT(*) OVER () AS n
            FROM dev) WHERE rn = (n + 1) // 2)
    SELECT d.day, d.dow, d.r AS residual_cents, d.adev AS dev_cents,
           m.mad_v AS mad_cents
    FROM dev d CROSS JOIN mad m
    WHERE d.adev * 1000 > {_TSA_K_MILLI} * m.mad_v
    ORDER BY d.day
    """,
)
def ts_anomaly_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly days: daily revenue minus its
    day-of-week mean leaves a residual; days whose |residual - median|
    exceeds 3 x 1.4826 x MAD (the robust z-score gate — MAD is immune
    to the very outliers it hunts, unlike a stddev gate that an
    anomaly inflates to hide itself) are flagged. The monitoring alarm
    a revenue pipeline runs nightly, with weekday seasonality removed
    so a strong Monday never masks a broken Saturday.

    Exactness: money in integer cents end-to-end; the medians are
    EXACT order statistics (row_number = (n+1) div 2 under a total
    (value, day) order — lower median on even n, identical in both
    engines); the gate is an integer cross-multiplication
    (adev * 1000 > {_TSA_K_MILLI} * mad), no float z anywhere.

    Scale shape: the corpus collapses to the day rollup FIRST (one
    partial-agged groupBy — the ts-shelf law); everything after runs
    over the calendar-bounded daily relation (~2.4k rows at any
    corpus size): dow means are a 7-row aggregate, the two median
    passes are windows over the bounded relation, and the 1-row
    median/MAD relations broadcast back via cross joins."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("cents"))
        .withColumn("dow", F.expr("datediff(day, date'1970-01-01') % 7"))
    )
    dowm = daily.groupBy("dow").agg(
        F.expr("sum(cents) div count(1)").alias("mean_cents")
    )
    resid = daily.join(F.broadcast(dowm), "dow").select(
        "day", "dow", (F.col("cents") - F.col("mean_cents")).alias("r")
    )
    w_r = Window.orderBy("r", "day")
    w_all = Window.partitionBy()
    med = (
        resid.select(
            "r",
            F.row_number().over(w_r).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        .where(F.expr("rn = (n + 1) div 2"))
        .select(F.col("r").alias("median_r"))
    )
    dev = resid.crossJoin(F.broadcast(med)).select(
        "day",
        "dow",
        "r",
        F.abs(F.col("r") - F.col("median_r")).alias("adev"),
    )
    w_a = Window.orderBy("adev", "day")
    mad = (
        dev.select(
            "adev",
            F.row_number().over(w_a).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        .where(F.expr("rn = (n + 1) div 2"))
        .select(F.col("adev").alias("mad_v"))
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .where(F.expr(f"adev * 1000 > {_TSA_K_MILLI} * mad_v"))
        .select(
            "day",
            "dow",
            F.col("r").alias("residual_cents"),
            F.col("adev").alias("dev_cents"),
            F.col("mad_v").alias("mad_cents"),
        )
        .orderBy("day")
    )
