"""Analytics batch 2: scale-claim evidence that the oracle gate can't
see — sorted-layout file disjointness (the row-group pruning
precondition), deterministic mode tie-breaking, and fuzzy-dedup
blocking behavior on planted near-duplicates."""

from __future__ import annotations

import glob
import os
import tempfile

import pyspark.sql.functions as F
from curatorhadoopinterface_spark.io import proc_scratch


def test_write_sorted_files_cover_disjoint_key_ranges(spark):
    """repartitionByRange guarantees each output file owns a disjoint
    l_orderkey interval — the property that lets parquet min/max stats
    prune a key-range scan to ~1 file at 100 TB."""
    import pyarrow.parquet as pq

    from curatorhadoopinterface_spark.operators.analytics import write_sorted

    write_sorted(spark, "/root/testdata/sf0.001").collect()
    out = proc_scratch("write_sorted")
    ranges = []
    for f in glob.glob(os.path.join(out, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_orderkey"]
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            los.append(st.min)
            his.append(st.max)
        ranges.append((min(los), max(his)))
    assert len(ranges) > 1
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, ranges


def test_write_sorted_readback_pushes_key_filter(spark):
    from curatorhadoopinterface_spark.operators.analytics import write_sorted

    write_sorted(spark, "/root/testdata/sf0.001").collect()
    out = proc_scratch("write_sorted")
    rb = spark.read.parquet(out).filter(F.col("l_orderkey").between(1000, 2000))
    plan = rb._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    start = plan.index("PushedFilters")
    assert "l_orderkey" in plan[start : plan.index("]", start)]


def test_mode_tie_breaks_to_min_value(spark):
    """Two statuses with equal counts -> the lexicographically smaller
    one wins (the determinism contract shared with the oracle)."""
    from curatorhadoopinterface_spark.operators.analytics import agg_median_mode

    rows = [
        (1, "P1", "B", 10.0),
        (2, "P1", "A", 20.0),
        (3, "P1", "C", 30.0),
        (4, "P1", "A", 40.0),
        (5, "P1", "B", 50.0),
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderstatus string, o_totalprice double"
    )
    out = proc_scratch("test_mode")
    df.write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))
    got = {r.o_orderpriority: r for r in agg_median_mode(spark, out).collect()}
    assert got["P1"].mode_status == "A"  # A and B both count 2; A < B
    assert got["P1"].median_price == 30.0
    assert got["P1"].n_orders == 5


def test_fuzzy_edit_finds_planted_near_dup_only(spark):
    """A 2-char edit inside the same block is caught; a same-prefix doc
    with a large tail rewrite (distance > 5) is not; a different-length
    doc never even pairs (blocking)."""
    from curatorhadoopinterface_spark.operators.analytics import dedup_fuzzy_edit

    base = "the quick brown fox jumps over the lazy dog " * 4  # 180 chars
    near = base[:-8] + "lazy cat"                      # small edit, same length
    far = base[:20] + ("Z" * (len(base) - 20))         # same block key, big rewrite
    other = "completely different and much shorter text"
    rows = [
        (1, base, "en", "web", len(base)),
        (2, near, "en", "web", len(near)),
        (3, far, "en", "web", len(far)),
        (4, other, "en", "web", len(other)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = proc_scratch("test_fuzzy")
    df.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    pairs = {(r.doc_id, r.dup_id) for r in dedup_fuzzy_edit(spark, out).collect()}
    assert pairs == {(1, 2)}


def test_fuzzy_edit_checkpoint_gate_branches_agree(spark, sf_dir, monkeypatch):
    """The size-gated rep-pair barrier (picked by corpus row count) must
    be a pure physical choice: the barrier branch (gate forced to 0),
    the default (sf0.001 sits below the gate: lazy) and the lazy_plans()
    form all emit the identical pair set and distances."""
    from curatorhadoopinterface_spark.operators import analytics
    from curatorhadoopinterface_spark.session import lazy_plans

    def pairs():
        return sorted(
            (r["doc_id"], r["dup_id"], r["edit_dist"])
            for r in analytics.dedup_fuzzy_edit(spark, sf_dir).collect()
        )

    # the sf0.001 fixture sits far below the gate: the default is lazy
    assert analytics.FUZZY_CHECKPOINT_MIN_DOCS > 1_000
    default = pairs()
    with lazy_plans():
        lazy = pairs()
    monkeypatch.setattr(analytics, "FUZZY_CHECKPOINT_MIN_DOCS", 0)
    barrier = pairs()
    assert barrier == default == lazy


def test_native_array_collect_and_percentile(spark):
    """The native-array variant of agg_collect_list (docstring claim):
    collect_list/sort_array kept as real ARRAY columns (the driver
    oracle only sees the ,-joined projection because its canonicalizer
    can't hash array cells), plus exact `percentile` continuous
    interpolation on a hand-checkable group."""
    rows = [
        (10, 3, "R", 4.0),
        (10, 1, "N", 8.0),
        (10, 2, "R", 6.0),
        (20, 1, "A", 10.0),
        (20, 2, "A", 20.0),
    ]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_returnflag string, l_quantity double"
    )
    got = {
        r.l_orderkey: r
        for r in df.groupBy("l_orderkey")
        .agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("line_numbers"),
            F.sort_array(F.collect_set("l_returnflag")).alias("flags"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        )
        .collect()
    }
    assert got[10].line_numbers == [1, 2, 3]
    assert got[10].flags == ["N", "R"]
    assert got[10].median_qty == 6.0
    assert got[20].line_numbers == [1, 2]
    assert got[20].flags == ["A"]
    # continuous interpolation: midpoint of 10 and 20
    assert got[20].median_qty == 15.0


def test_triangle_stats_on_known_graphs(spark):
    """K4 has C(4,3)=4 triangles and 4/ (sum over wedge corners) closure;
    a star has wedges but ZERO triangles; orientation must count each
    triangle exactly once regardless of input edge order."""
    from curatorhadoopinterface_spark.operators.analytics import triangle_stats

    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "p1 long, p2 long"
    )
    r = triangle_stats(k4).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    # in an oriented K4 every wedge closes: closure == 1
    assert r["n_wedges"] == r["n_triangles"] and r["closure"] == 1.0

    star = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3), (100, 4), (100, 5)], "p1 long, p2 long"
    )
    s = triangle_stats(star).collect()[0]
    assert s["n_triangles"] == 0 and s["n_edges"] == 5
    # degree orientation: the hub sources NO wedges (all point into it),
    # so the star generates zero candidate wedges — the power-law claim
    assert s["n_wedges"] == 0 and s["closure"] is None


def test_fuzzy_edit_rep_factored_equals_naive_pairwise(spark):
    """The rep-factored plan must emit EXACTLY the naive per-pair
    form's result — same pairs, same distances, same orientation."""
    import pyspark.sql.functions as F

    from curatorhadoopinterface_spark.operators.analytics import dedup_fuzzy_edit
    from curatorhadoopinterface_spark.session import load_table

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["doc_id"], r["dup_id"]): r["edit_dist"]
        for r in dedup_fuzzy_edit(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 20).alias("bp"),
        (F.col("n_chars") / 20).cast("bigint").alias("bl"),
        F.substring("text", 1, 200).alias("t200"),
    )
    a, b = d.alias("a"), d.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.bp") == F.col("b.bp"))
            & (F.col("a.bl") == F.col("b.bl"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("dup_id"),
            F.levenshtein(F.col("a.t200"), F.col("b.t200")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 5)
    )
    want = {(r["doc_id"], r["dup_id"]): r["edit_dist"] for r in naive.collect()}
    assert got == want and want
