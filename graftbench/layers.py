"""Per-layer probes for the traced run.

Each layer is measured from outside, by timing calls into its public
functions on the workload's generated documents, inside a
:class:`measure.Tracer` span whose job group carries that call's Spark
counters. The same probes run for every workload, so every per-layer
metric is reported for each of them; ``spark.*`` comes from the traced
round of the workload itself.
"""

from __future__ import annotations

import os
import shutil
import time

import inputs
from workloads import TARGETS, dir_files

#: registry queries timed by the operators probe and checked against
#: their DuckDB oracles: a headline scan/aggregate, an exact-dedup
#: aggregate and a class-form dedup builder that runs jobs at build time
OPERATOR_QUERIES = ("flagship_pricing_summary", "dedup_exact_normalized", "dedup_minhash_classes")
#: scale factor of the lineitem table the operators probe reads
OPERATOR_SF = 0.01
#: fully annotated records the codec probe decodes and re-encodes
CODEC_SAMPLE = 100

PER_LAYER = {
    "session.start_s": "s",
    "session.load_table_s": "s",
    "io.text_ingest_s": "s",
    "io.thrift_read_s": "s",
    "io.thrift_read_tasks": "count",
    "io.thrift_write_s": "s",
    "thrift_codec.decode_mb_per_s": "MB/s",
    "thrift_codec.encode_mb_per_s": "MB/s",
    "annotators.ms_per_doc": "ms",
    "provide.compute_s": "s",
    "provide.memo_s": "s",
    "provide.worker_rows": "count",
    "incremental.load_s": "s",
    "incremental.upsert_s": "s",
    "incremental.bytes_written": "B",
    "incremental.store_files": "count",
    "incremental.dup_id_rows": "count",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.core_util": "fraction",
    "trace.overhead_s": "s",
}


PER_LAYER_SPARK = [k.split(".", 1)[1] for k in PER_LAYER if k.startswith("spark.")]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span_s(span: dict) -> float:
    return span["end"] - span["start"]


def canon_rows(rows, cols: list[str]):
    """Order-insensitive form of a result: multiset of rows with columns
    sorted by name and floats rounded to 9 places."""
    from collections import Counter

    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return round(v, 9) + 0.0
        if hasattr(v, "isoformat"):
            return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if type(v).__name__ == "Decimal":
            return round(float(v), 9) + 0.0
        return v

    return Counter(tuple(norm(r[i]) for i in order) for r in rows)


def check_against_oracle(spark, con, name: str, fn, sf_dir: str, oracle: str) -> list[str]:
    """Row count and values of one registry query against its DuckDB
    oracle over the same parquet files."""
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if len(srows) != len(drows):
        return [f"{name}: {len(srows)} rows, oracle {len(drows)}"]
    if sorted(sdf.columns) != sorted(dcols):
        return [f"{name}: columns {sorted(sdf.columns)}, oracle {sorted(dcols)}"]
    if canon_rows(srows, sdf.columns) != canon_rows(drows, dcols):
        return [f"{name}: values differ from the oracle"]
    return []


def probe(ctx, wl, counters, tracer, session_s: float) -> dict:
    """Run every layer probe; returns {"metrics", "checks", "failures"}."""
    import duckdb
    import pyspark.sql.functions as F

    import __spark_entry__ as entry
    from curatorhadoopinterface_spark.annotators.light import annotate_record
    from curatorhadoopinterface_spark.io import (
        read_text_corpus,
        read_thrift_records,
        write_thrift_records,
    )
    from curatorhadoopinterface_spark.plans.incremental import RecordStore, remove_stale_views
    from curatorhadoopinterface_spark.plans.provide import provide
    from curatorhadoopinterface_spark.session import load_table
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record, encode_thrift_record

    spark = ctx.spark
    corpus = wl.corpus
    pdir = os.path.join(ctx.work, "probe")
    text_dir, base_dir = os.path.join(pdir, "text"), os.path.join(pdir, "base")
    thrift_dir, out_dir = os.path.join(pdir, "thrift"), os.path.join(pdir, "thrift-out")
    tables_dir = os.path.join(pdir, "tables")
    inputs.write_text_corpus(corpus.texts, text_dir)
    inputs.write_text_corpus(corpus.base_texts, base_dir)
    inputs.write_thrift_corpus(corpus.texts, thrift_dir)
    tables = inputs.operator_tables(ctx.seed, OPERATOR_SF, corpus.docs)
    inputs.write_tables(tables, tables_dir)
    m: dict[str, float] = {"session.start_s": session_s}
    span = tracer.span

    # session: first load_table of each table (plan-handle cache cold)
    with span("session.load_table") as s:
        for name in tables:
            load_table(spark, tables_dir, name)
    m["session.load_table_s"] = _span_s(s)

    # io
    with span("io.text_ingest") as s:
        read_text_corpus(spark, text_dir).count()
    m["io.text_ingest_s"] = _span_s(s)
    with span("io.thrift_read") as s:
        read_thrift_records(spark, thrift_dir).count()
    m["io.thrift_read_s"] = _span_s(s)
    m["io.thrift_read_tasks"] = s["spark"]["tasks"]

    # plans.provide: all modes computed on blank records (materialized
    # with localCheckpoint, which the probes below reuse), then all
    # modes memo hits on those records
    with span("provide.compute") as s:
        full = provide(read_text_corpus(spark, text_dir), TARGETS).localCheckpoint(eager=True)
    m["provide.compute_s"] = _span_s(s)
    with span("provide.memo") as s:
        _noop(provide(full, TARGETS))
    m["provide.memo_s"] = _span_s(s)
    m["provide.worker_rows"] = counters.python_rows(s["group"])
    with span("io.thrift_write") as s:
        write_thrift_records(full, out_dir)
    m["io.thrift_write_s"] = _span_s(s)

    # thrift_codec: single-threaded over a seeded sample of the fully
    # annotated blobs
    blobs = []
    for ident in corpus.sample_ids(set(corpus.ids), k=CODEC_SAMPLE):
        with open(os.path.join(out_dir, f"{ident}.txt"), "rb") as fh:
            blobs.append(fh.read())
    mb = sum(len(b) for b in blobs) / 1e6
    t0 = time.perf_counter()
    recs = [decode_thrift_record(b) for b in blobs]
    m["thrift_codec.decode_mb_per_s"] = mb / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    for r in recs:
        encode_thrift_record(r)
    m["thrift_codec.encode_mb_per_s"] = mb / (time.perf_counter() - t0)

    # annotators: single-threaded, every mode of the targets' closure
    t0 = time.perf_counter()
    for t in corpus.texts:
        annotate_record(t, {}, TARGETS)
    m["annotators.ms_per_doc"] = 1e3 * (time.perf_counter() - t0) / len(corpus.texts)

    # plans.incremental: a cold store of the base docs, then load and upsert
    store, copy = os.path.join(pdir, "store"), os.path.join(pdir, "store-copy")
    RecordStore(spark, store).provide_incremental(read_text_corpus(spark, base_dir), TARGETS)
    stored = spark.read.parquet(store)
    m["incremental.dup_id_rows"] = stored.count() - stored.select("identifier").distinct().count()
    with span("incremental.load") as s:
        remove_stale_views(RecordStore(spark, store).load()).count()
    m["incremental.load_s"] = _span_s(s)
    shutil.copytree(store, copy)
    held = [t for t, h in zip(corpus.texts, corpus.held) if h]
    delta = provide(
        read_text_corpus(spark, text_dir).where(F.col("raw_text").isin(held)), TARGETS
    ).localCheckpoint(eager=True)
    with span("incremental.upsert") as s:
        RecordStore(spark, copy).upsert(delta)
    m["incremental.upsert_s"] = _span_s(s)
    m["incremental.bytes_written"] = s["spark"]["output_bytes"]
    m["incremental.store_files"] = dir_files(copy)

    # operators: build (with any eager build-time jobs), then the noop
    # action; each result is checked against its DuckDB oracle
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables_dir}/{name}.parquet')"
        )
    build = exec_ = 0.0
    failures: list[str] = []
    for q in OPERATOR_QUERIES:
        with span(f"operators.build.{q}") as s:
            df = queries[q](spark, tables_dir)
        build += _span_s(s)
        with span(f"operators.exec.{q}") as s:
            _noop(df)
        exec_ += _span_s(s)
        failures += check_against_oracle(spark, con, q, queries[q], tables_dir, oracles[q])
    con.close()
    m["operators.build_s"], m["operators.exec_s"] = build, exec_
    return {"metrics": m, "checks": len(OPERATOR_QUERIES), "failures": failures}
