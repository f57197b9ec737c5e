"""Isolated window-stage stress for hierarchical sequence packing.

pack_sequences' per-language range chain is correct but serializes: ONE
sorted partition carries the whole language's running sum. On real
corpora below ~10M docs/language the tokenize stage dominates and the
chain cost is invisible — this harness strips tokenization away (narrow
synthetic (doc_id, lang, n_tokens) rows, one language) so the chain
itself is measured against the telescoped bucket plan that
pack_sequences_hier uses (same arithmetic: within-bucket running sum +
per-bucket prefix offset == global running sum, exactly).

Usage: python tools/stress_pack_hier.py [n_rows]   (default 50M)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F
from pyspark.sql import Window

from curatorhadoopinterface_spark.session import get_spark, reused

BUDGET = 2048
BUCKET_ROWS = 100_000


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    spark = get_spark("stress-pack-hier")
    spark.sparkContext.setLogLevel("ERROR")
    toks = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        (F.pmod(F.xxhash64("id"), F.lit(200)) + 1).alias("n_tokens"),
        (F.col("id") / BUCKET_ROWS).cast("bigint").alias("bucket"),
    )

    wf = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ww = Window.partitionBy("lang", "bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wb = Window.partitionBy("lang").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )

    with reused(toks):
        toks.count()
        for rep in range(2):
            t0 = time.time()
            flat = (
                toks.withColumn(
                    "seq_id",
                    F.floor(F.coalesce(F.sum("n_tokens").over(wf), F.lit(0)) / BUDGET),
                )
                .groupBy("lang", "seq_id")
                .agg(F.count("*").alias("n"), F.sum("n_tokens").alias("t"))
            )
            flat.write.format("noop").mode("overwrite").save()
            print(f"flat  run {rep}: {time.time() - t0:.2f} s", flush=True)

        for rep in range(2):
            t0 = time.time()
            within = toks.withColumn(
                "within_before", F.coalesce(F.sum("n_tokens").over(ww), F.lit(0))
            )
            offsets = (
                within.groupBy("lang", "bucket")
                .agg(F.max(F.col("within_before") + F.col("n_tokens")).alias("bt"))
                .withColumn("off", F.coalesce(F.sum("bt").over(wb), F.lit(0)))
                .drop("bt")
            )
            hier = (
                within.join(F.broadcast(offsets), ["lang", "bucket"])
                .withColumn(
                    "seq_id",
                    F.floor((F.col("off") + F.col("within_before")) / BUDGET),
                )
                .groupBy("lang", "seq_id")
                .agg(F.count("*").alias("n"), F.sum("n_tokens").alias("t"))
            )
            with reused(within):
                hier.write.format("noop").mode("overwrite").save()
            print(f"hier  run {rep}: {time.time() - t0:.2f} s", flush=True)


if __name__ == "__main__":
    main()
