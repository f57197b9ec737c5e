"""Incremental record store: content-hash memoization, version staleness,
cascading invalidation, view-count upsert (SURVEY.md A18-A23).

Reference semantics being reproduced:
- archive keyed by ``Identifier.getId(text)``, one record each; a cache
  hit reuses its views (CuratorHandler.getRecord, :468-527)  -> left join
- a view is stale iff its ``source`` version is older than the live
  annotator's (updateRequired, :816-896)                     -> version expr
- removing a stale view removes all transitive dependents
  (cascadeRemoveStaleFields, :600-644)                       -> closure map_filter
- after a run, store the record iff it has MORE views than the stored
  copy (informDatabaseOfUpdatedRecords, CuratorClient.java:581-651)
                                                             -> view-count merge

All staleness/cascade logic is pure JVM column expressions generated
from the static mode registry — no Python round-trip.

Scale: the store is Parquet partitioned by the first hex char of the
SHA-1 identifier (16 uniform buckets; raise to 2 chars = 256 at real
scale). Upserts overwrite only the touched buckets (a dynamic partition
overwrite set on that one write, not on the session) — the non-ACID-safe
but deterministic batch equivalent of the reference's DB upsert.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from curatorhadoopinterface_spark.plans.provide import VIEW_COLS, provide
from curatorhadoopinterface_spark.plans.registry import MODES, VIEW_TO_MODE, invalidation_closure

_BUCKET_COL = "id_bucket"


def _registry_version_map() -> Column:
    """MAP<view, version-string> literal from the registry."""
    pairs: list[Column] = []
    for m in MODES.values():
        for v in (m.view, *m.extra_views):
            pairs.extend([F.lit(v), F.lit(m.version)])
    return F.create_map(*pairs)


def _closure_map() -> Column:
    """MAP<view, ARRAY<view>> literal: view -> its invalidation closure."""
    pairs: list[Column] = []
    for view in VIEW_TO_MODE:
        closure = sorted(invalidation_closure({view}))
        pairs.extend([F.lit(view), F.array(*[F.lit(c) for c in closure])])
    return F.create_map(*pairs)


def _version_lt(a: Column, b: Column) -> Column:
    """version('name-X.Y') < version('name-X.Y') as (major, minor) ints
    (CuratorHandler.updateRequired's compare, :848-890)."""

    def major(c: Column) -> Column:
        return F.split(F.substring_index(c, "-", -1), r"\.").getItem(0).cast("int")

    def minor(c: Column) -> Column:
        return F.coalesce(F.split(F.substring_index(c, "-", -1), r"\.").getItem(1).cast("int"), F.lit(0))

    return (major(a) < major(b)) | ((major(a) == major(b)) & (minor(a) < minor(b)))


def stale_views_col(df: DataFrame) -> Column:
    """ARRAY<view> of views on each record whose source version is older
    than the registry's annotator (A22)."""
    regmap = _registry_version_map()
    arrays = []
    for col in VIEW_COLS:
        if col not in df.columns:
            continue
        entries = F.map_entries(F.col(col))
        stale = F.filter(
            entries,
            lambda e: F.map_contains_key(regmap, e.getField("key"))
            & _version_lt(e.getField("value").getField("source"), regmap[e.getField("key")]),
        )
        arrays.append(F.transform(stale, lambda e: e.getField("key")))
    if not arrays:
        return F.array().cast("array<string>")
    out = arrays[0]
    for a in arrays[1:]:
        out = F.concat(out, a)
    return out


def remove_stale_views(df: DataFrame) -> DataFrame:
    """Drop stale views AND their transitive dependents per record
    (A22+A23), entirely with map_filter column expressions."""
    closure = _closure_map()
    drop = F.array_distinct(
        F.flatten(F.transform(stale_views_col(df), lambda v: closure[v]))
    )
    out = df.withColumn("__drop", drop)
    for col in VIEW_COLS:
        if col in df.columns:
            out = out.withColumn(
                col,
                F.map_filter(F.col(col), lambda k, _v: ~F.array_contains(F.col("__drop"), k)),
            )
    return out.drop("__drop")


def view_count_col(df: DataFrame) -> Column:
    """Total number of views on a record (RecordTools.getNumViews,
    RecordTools.java:88-94)."""
    parts = [
        F.size(F.coalesce(F.map_keys(F.col(c)), F.array()))
        for c in VIEW_COLS
        if c in df.columns
    ]
    out = parts[0] if parts else F.lit(0)
    for p in parts[1:]:
        out = out + p
    return out


class RecordStore:
    """Content-hash-keyed Parquet archive of annotated Records (the
    Curator archive, A21), with hash-bucket partitioning."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def load(self) -> DataFrame | None:
        try:
            df = self.spark.read.parquet(self.path)
        except Exception:
            return None
        return df.drop(_BUCKET_COL)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(_BUCKET_COL, F.substring("identifier", 1, 1))

    def write_full(self, df: DataFrame) -> None:
        self._bucketed(df).write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(self.path)

    def upsert(self, records: DataFrame, force: bool = False) -> None:
        """A18: replace a stored record only if the new copy has MORE
        views; insert unseen records; keep one copy per identifier (copies
        share their text). Only touched hash buckets rewrite.

        ``force=True`` (the forceUpdate path): a freshly recomputed record
        has the SAME view count as its cached copy, so the count rule
        would keep the stale one — prefer the new copy whenever present.
        """
        records = records.dropDuplicates(["identifier"])
        stored = self.load()
        if stored is None:
            self.write_full(records)
            return
        new = records.withColumn("__n_new", view_count_col(records))
        # restrict the rewrite to buckets that contain new records
        touched = new.select(F.substring("identifier", 1, 1).alias(_BUCKET_COL)).distinct()
        old = self._bucketed(stored).join(F.broadcast(touched), _BUCKET_COL, "inner").drop(
            _BUCKET_COL
        )
        old = old.withColumn("__n_old", view_count_col(stored))
        # decide winners on a NARROW (identifier, count) relation, then
        # move the WIDE records once via semi-joins. The previous plan
        # full-outer-joined the wide records themselves, holding BOTH
        # copies of every annotation-view payload in the join buffers —
        # at sf10 (500k wide records x 32 concurrent tasks in one 8g
        # JVM) that exhausted execution memory (UNABLE_TO_ACQUIRE_MEMORY)
        # mid-overwrite; at 100 TB it is also just the wrong shape: the
        # decision needs 16 bytes per record, not the record.
        dec = (
            old.select("identifier", "__n_old")
            .join(new.select("identifier", "__n_new"), "identifier", "full_outer")
            .select(
                "identifier",
                (
                    F.col("__n_new").isNotNull()
                    & (
                        F.lit(force)
                        | F.col("__n_old").isNull()
                        | (F.col("__n_new") > F.col("__n_old"))
                    )
                ).alias("__take_new"),
            )
        )
        win_new = dec.where("__take_new").select("identifier")
        win_old = dec.where("not __take_new").select("identifier")
        picked = (
            new.drop("__n_new")
            .join(win_new, "identifier", "left_semi")
            .unionByName(
                old.drop("__n_old").join(win_old, "identifier", "left_semi"),
                allowMissingColumns=True,
            )
        )
        # the merge plan READS the store files this write deletes:
        # materialize to a STAGING dir and cut lineage by reading it
        # back (read-before-overwrite). This replaced an eager
        # localCheckpoint in r8: checkpoint blocks pin the full wide
        # store in JVM block memory and OOM'd the 8g driver at sf10
        # (500k annotation-view records); the staging parquet streams
        # through the writers instead — the reliable-checkpoint/staging
        # swap a real cluster would use, at any scale.
        import shutil as _shutil

        # Scoped heap guard for the merge's actions: annotated Records
        # are WIDE (every token a span struct), and the default
        # 4096-row vectorized reader batch x 32 concurrent local tasks
        # intermittently heap-OOMs an 8g JVM at sf10 (500k records).
        # 512-row batches bound the in-flight columnar buffers ~8x;
        # restored after the merge so narrow scans elsewhere keep the
        # default. On a real cluster each executor holds a slice and
        # the default is fine — this is the local[32] single-JVM knob.
        _bs_key = "spark.sql.parquet.columnarReaderBatchSize"
        _bs_old = self.spark.conf.get(_bs_key, "4096")
        self.spark.conf.set(_bs_key, "512")
        staging = self.path.rstrip("/") + "_staging"
        try:
            _shutil.rmtree(staging, ignore_errors=True)
            picked.write.parquet(staging)
            picked = self.spark.read.parquet(staging)
            self._bucketed(picked).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(_BUCKET_COL).parquet(self.path)
        finally:
            # remove staging on failure too — a failed final overwrite
            # must not leak a full wide copy of the store (r8 ADVICE)
            _shutil.rmtree(staging, ignore_errors=True)
            self.spark.conf.set(_bs_key, _bs_old)

    def provide_incremental(
        self,
        new_records: DataFrame,
        target: str | list[str],
        force: bool = False,
        force_start: str | None = None,
        best_effort: bool = False,
    ) -> DataFrame:
        """The full memoized pipeline (A20+A21) in one annotation pass.
        Every input row takes its identifier's stored, stale-invalidated
        views when the store holds it (a cache hit) and its own views
        otherwise; ONE :func:`provide` over that batch computes only
        what each row is missing, and the result is upserted back.
        Returns one annotated record per input row.

        ``force=True`` is the per-call forceUpdate of the reference's
        provide (curator.thrift:66): cached TARGET views are recomputed
        even on cache hits (dependencies still reused), and the refreshed
        records are upserted back over the stale cached copies.
        ``force_start`` restarts the pipeline at an interior mode
        (JobHandler.java:78-109 [START] parity) — the forced modes are
        recomputed even on cache hits, exactly as in :func:`provide`.
        A forced record has the same view count as its cached copy, so
        the upsert must prefer-new whenever any recompute was requested.
        """
        batch = new_records
        stored = self.load()
        if stored is not None:
            memo = remove_stale_views(stored)
            views = [c for c in VIEW_COLS if c in memo.columns]
            memo = memo.select("identifier", *[F.col(c).alias(f"__stored_{c}") for c in views])
            batch = new_records.join(memo, "identifier", "left")
            for c in views:
                own = F.col(c) if c in new_records.columns else F.lit(None)
                batch = batch.withColumn(c, F.coalesce(f"__stored_{c}", own)).drop(f"__stored_{c}")
        annotated = provide(
            batch, target, force=force, force_start=force_start, best_effort=best_effort
        )
        # materialize before upsert rewrites the store this plan reads,
        # and so the caller's action does not re-run the annotation
        annotated = annotated.localCheckpoint(eager=True)
        self.upsert(annotated, force=force or force_start is not None)
        return annotated
