"""Record store: memoization join, staleness, cascade invalidation,
view-count upsert (SURVEY.md A18-A23)."""

import pyspark.sql.functions as F
import pytest

from curatorhadoopinterface_spark.io import records_from_texts
from curatorhadoopinterface_spark.plans.incremental import (
    RecordStore,
    remove_stale_views,
    stale_views_col,
    view_count_col,
)
from curatorhadoopinterface_spark.plans.provide import provide


@pytest.fixture()
def store_path(tmp_path):
    return str(tmp_path / "record_store")


def test_store_roundtrip_and_hit_skip(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    annotated = store.provide_incremental(corpus, "POS")
    assert annotated.count() == corpus.count()
    stored = store.load()
    assert stored.count() == corpus.count()
    # second run: all cache hits, same results
    again = store.provide_incremental(corpus, "POS")
    assert again.count() == corpus.count()
    a = {r.identifier: r.label_views["pos"] for r in annotated.collect()}
    b = {r.identifier: r.label_views["pos"] for r in again.collect()}
    assert a == b


def test_incremental_annotates_only_new(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.provide_incremental(corpus, "TOKEN")
    extended = records_from_texts(
        spark, ["Completely new document text here."]
    ).unionByName(corpus.select("identifier", "raw_text", "whitespaced"))
    out = store.provide_incremental(extended, "TOKEN")
    assert out.count() == corpus.count() + 1
    assert store.load().count() == corpus.count() + 1


def test_upsert_keeps_richer_record(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    rich = provide(corpus, "POS")  # tokens+pos
    store.write_full(rich)
    poor = provide(corpus, "TOKEN")  # tokens only
    store.upsert(poor)
    stored = store.load()
    # the stored copies keep their pos view (poor had FEWER views)
    assert all("pos" in r.label_views for r in stored.collect())


def test_stale_version_detected_and_cascaded(spark, corpus):
    ann = provide(corpus, "CHUNK")
    # age the pos view: enginepos-1.0 -> enginepos-0.9 (A22 stimulus,
    # FIXTURES.md corpus_annotated spec)
    aged = ann.withColumn(
        "label_views",
        F.expr(
            """transform_values(label_views, (k, v) -> IF(k = 'pos',
                 named_struct('labels', v.labels, 'source', 'enginepos-0.9',
                              'score', v.score), v))"""
        ),
    )
    stale = aged.select(stale_views_col(aged).alias("s")).collect()
    assert all(r.s == ["pos"] for r in stale)
    cleaned = remove_stale_views(aged)
    for r in cleaned.collect():
        views = set(r.label_views.keys())
        assert "pos" not in views  # stale dropped
        assert "chunk" not in views  # cascaded (chunk requires pos)
        assert "tokens" in views  # untouched upstream survives


def test_fresh_versions_not_invalidated(spark, corpus):
    ann = provide(corpus, "CHUNK")
    cleaned = remove_stale_views(ann)
    for r in cleaned.collect():
        assert {"tokens", "pos", "chunk"} <= set(r.label_views.keys())


def test_view_count(spark, corpus):
    ann = provide(corpus, "POS")
    counts = ann.select(view_count_col(ann).alias("n")).collect()
    assert all(r.n == 2 for r in counts)  # tokens + pos


def test_store_compaction_reduces_files_and_preserves_content(spark, sf_dir):
    import glob
    import os

    from curatorhadoopinterface_spark.io import scratch_dir
    from curatorhadoopinterface_spark.operators.incremental_q import (
        store_compaction,
    )

    out = store_compaction(spark, sf_dir).collect()
    base = scratch_dir("store_compact", sf_dir)
    before = glob.glob(f"{base}/bucket=*/part-*.parquet")
    after = glob.glob(f"{base}_compacted/bucket=*/part-*.parquet")
    buckets = {os.path.basename(os.path.dirname(p)) for p in after}
    # every bucket compacts to exactly ONE file
    assert len(after) == len(buckets)
    # the appends left strictly more files than buckets
    assert len(before) > len(after)
    # content preserved: compacted census equals the pre-compaction one
    import pyspark.sql.functions as F

    pre = {
        (r["bucket"], r["n_records"], r["total_tokens"])
        for r in spark.read.parquet(base)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_records"), F.sum("n_tokens").alias("total_tokens"))
        .collect()
    }
    post = {(r["bucket"], r["n_records"], r["total_tokens"]) for r in out}
    assert pre == post


# --- one annotate pass per store op, one record per identifier -------------

# four distinct documents, one verbatim duplicate, and one document held
# back for the delta op
_BASE_TEXTS = [
    "The fast Spark job runs quickly. Hadoop customers merged data!",
    "A small hash join is running on the vector table.",
    "Lorem ipsum dolor sit amet. The customer said nothing?",
    "Numbers like 42 and 7 appeared. Spark and Hadoop clusters scaled.",
    "A small hash join is running on the vector table.",
]
_HELD_TEXT = "Completely new document text, held back for the delta."


def _jvm_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _with_annotation_runs(spark, action):
    """``action()``'s result and the number of SQL executions it started
    whose physical plan runs the annotation worker (MapInPandas), read
    from the SQL status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    sql = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    before = max((e.executionId() for e in _jvm_list(sql.executionsList())), default=-1)
    result = action()
    bus.waitUntilEmpty()
    runs = sum(
        1
        for e in _jvm_list(sql.executionsList())
        if e.executionId() > before and "MapInPandas" in e.physicalPlanDescription()
    )
    return result, runs


def test_every_op_keeps_one_record_per_identifier_and_input_row(spark, store_path):
    base = records_from_texts(spark, _BASE_TEXTS)
    full = records_from_texts(spark, [*_BASE_TEXTS, _HELD_TEXT])
    store = RecordStore(spark, store_path)
    ops = [
        ("cold", base, {}),
        ("warm", base, {}),
        ("force", base, {"force": True}),
        ("force_start", base, {"force_start": "TOKEN"}),
        ("delta", full, {}),
    ]
    for name, batch, kw in ops:
        n, runs = _with_annotation_runs(
            spark, lambda: store.provide_incremental(batch, "POS", **kw).count()
        )
        if name == "cold":
            # the cut, the store write and the caller's count share ONE
            # annotation pass
            assert runs == 1
        assert n == batch.count(), name
        stored = store.load()
        ids = stored.select("identifier").distinct().count()
        assert stored.count() == ids, name
        assert ids == batch.select("identifier").distinct().count(), name
        assert all({"tokens", "pos"} <= set(r.label_views) for r in stored.collect()), name


def test_record_store_sets_no_session_conf(spark, store_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try:
        before = spark.conf.getAll
        RecordStore(spark, store_path)
        assert spark.conf.getAll == before
    finally:
        spark.conf.unset(key)


def _bucket_files(path: str) -> dict[str, set[str]]:
    import os

    return {
        b: {f for f in os.listdir(os.path.join(path, b)) if f.startswith("part-")}
        for b in os.listdir(path)
        if b.startswith("id_bucket=")
    }


def test_upsert_rewrites_only_touched_buckets(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus, "TOKEN"))
    before = _bucket_files(store_path)
    new = provide(records_from_texts(spark, [_HELD_TEXT]), "TOKEN")
    touched = f"id_bucket={new.first().identifier[0]}"
    untouched = set(before) - {touched}
    assert untouched, "the fixture must leave a bucket the upsert does not touch"
    store.upsert(new)
    after = _bucket_files(store_path)
    assert {b: after[b] for b in untouched} == {b: before[b] for b in untouched}
    assert after[touched] != before.get(touched)
    assert store.load().count() == corpus.count() + 1


def test_write_full_replaces_the_whole_store(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus, "TOKEN"))
    one = provide(records_from_texts(spark, [_HELD_TEXT]), "TOKEN")
    store.write_full(one)
    assert [r.identifier for r in store.load().collect()] == [one.first().identifier]


def test_store_accepts_runs_with_and_without_best_effort(spark, corpus, store_path):
    # only a best-effort run carries annotation_error; the store takes
    # both kinds of run in either order
    store = RecordStore(spark, store_path)
    store.provide_incremental(corpus, "TOKEN", best_effort=True)
    assert store.provide_incremental(corpus, "POS").count() == corpus.count()
    assert store.provide_incremental(corpus, "CHUNK", best_effort=True).count() == corpus.count()
    stored = store.load().collect()
    assert len(stored) == corpus.count()
    assert all("chunk" in r.label_views and r.annotation_error is None for r in stored)
