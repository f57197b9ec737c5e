"""session.py helpers: the one materialization policy (``reused`` /
``cut_lineage`` / ``lazy_plans``) and the load_table plan-handle cache.

The cache-hygiene layer runs every builder that materializes in three
forms — default, ``lazy_plans()``, and with ``localCheckpoint`` made to
raise — and asserts the session's CacheManager holds nothing afterwards:
cached blocks never outlive the builder, whether it returns or raises.
"""

from __future__ import annotations

import pytest

# every registered builder that persists or cuts lineage through the
# session helpers
MATERIALIZING = [
    "annotate_entity_pmi",
    "dedup_allpairs_prefix",
    "dedup_clusters_classes",
    "dedup_containment_classes",
    "dedup_fuzzy_edit",
    "dedup_keep_best_classes",
    "dedup_method_agreement",
    "dedup_minhash_classes",
    "dedup_minhash_recall",
    "dedup_minhash_tuning",
    "graph_community_lpa",
    "graph_kcore",
    "graph_link_prediction",
    "graph_pagerank",
    "graph_triangles",
    "pack_sequences_hier",
    "sim_knn_classes",
    "text_ngram_novelty",
]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean_cache(spark):
    spark.catalog.clearCache()
    yield spark


def _builder(name):
    import __spark_entry__ as entrymod

    return entrymod.queries()[name]


@pytest.mark.parametrize("name", MATERIALIZING)
def test_default_form_leaves_no_cached_relation(clean_cache, sf_dir, name):
    spark = clean_cache
    _builder(name)(spark, sf_dir).collect()
    assert _cache_empty(spark)


@pytest.mark.parametrize("name", MATERIALIZING)
def test_lazy_form_leaves_no_cached_relation(clean_cache, sf_dir, name):
    from curatorhadoopinterface_spark.session import lazy_plans

    spark = clean_cache
    with lazy_plans():
        _builder(name)(spark, sf_dir)
    assert _cache_empty(spark)


@pytest.mark.parametrize("name", MATERIALIZING)
def test_failed_cut_releases_cached_relations(clean_cache, sf_dir, monkeypatch, name):
    from curatorhadoopinterface_spark.operators import analytics

    spark = clean_cache

    def boom(self, eager=True):
        raise RuntimeError("injected localCheckpoint failure")

    # the fuzzy-edit barrier only cuts above its size gate
    monkeypatch.setattr(analytics, "FUZZY_CHECKPOINT_MIN_DOCS", 0)
    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="injected"):
        _builder(name)(spark, sf_dir)
    assert _cache_empty(spark)


def test_helpers_are_identity_under_lazy_plans(clean_cache):
    from curatorhadoopinterface_spark.session import cut_lineage, lazy_plans, reused

    spark = clean_cache
    df = spark.range(10)
    with lazy_plans():
        assert cut_lineage(df) is df
        with reused(df):
            assert not df.is_cached
            assert _cache_empty(spark)
    # the seam closes with its block
    with reused(df):
        assert not _cache_empty(spark)
    assert _cache_empty(spark)
    assert cut_lineage(df, eager=False) is not df


def test_reused_unpersists_when_the_block_raises(clean_cache):
    from curatorhadoopinterface_spark.session import reused

    spark = clean_cache
    a, b = spark.range(5), spark.range(7)
    with pytest.raises(ValueError):
        with reused(a, b):
            assert a.count() == 5
            raise ValueError
    assert _cache_empty(spark)


def test_load_table_cache_one_entry_per_path(spark, tmp_path):
    """A rewritten parquet file replaces its cache entry (and is re-read);
    a directory dataset is never cached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curatorhadoopinterface_spark import session

    d = str(tmp_path)
    path = f"{d}/t.parquet"
    pq.write_table(pa.table({"x": [1, 2]}), path)
    assert session.load_table(spark, d, "t").count() == 2
    pq.write_table(pa.table({"x": [1, 2, 3, 4, 5]}), path)
    assert session.load_table(spark, d, "t").count() == 5
    entries = session._TABLE_CACHE[spark]
    assert [k for k in entries if k.startswith(d)] == [path]
    assert entries[path][2] is session.load_table(spark, d, "t")

    spark.range(3).write.parquet(f"{d}/ds.parquet")
    assert session.load_table(spark, d, "ds").count() == 3
    assert f"{d}/ds.parquet" not in entries
