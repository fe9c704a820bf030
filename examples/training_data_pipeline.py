"""Training-data curation walkthrough over the documents table.

The LLM-pipeline composition the extension operators exist for:
quality-score → filter → near-dup dedup (MinHash+LSH → components →
canonical survivors) → deterministic train/val/test split. Every step is a
declarative DataFrame op; nothing collects to the driver except the final
counts.

    python examples/training_data_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.engine import get_spark
from end_to_end_azure_data_engineering_spark.functions import sketches as S
from end_to_end_azure_data_engineering_spark.functions import text as X
from end_to_end_azure_data_engineering_spark.operators.neardup import dedup_corpus


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("training_data_pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()

    # 1. quality screen: drop short / low-alpha / stopword-free docs
    scored = docs.select(
        "doc_id", "text", "lang",
        X.token_count("text").alias("n_tokens"),
        X.punct_ratio("text").alias("punct_ratio"),
        X.stopword_ratio("text").alias("stopword_ratio"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("punct_ratio") < 0.3)
        & (F.col("stopword_ratio") > 0.05)
    )
    n1 = kept.count()

    # 2. near-dup dedup: canonical survivor per duplicate cluster
    clean = dedup_corpus(kept, "doc_id", "text", threshold=0.8)
    n2 = clean.count()

    # 3. deterministic hash split (stable under corpus growth / re-runs)
    h = S.hash32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    final = clean.withColumn(
        "split", F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )

    print(f"\ndocs: {n0} -> quality-kept: {n1} -> deduped: {n2}")
    print("\n== split x lang ==")
    final.groupBy("split").pivot("lang").count().orderBy("split").show()

    # 4. temperature-scaled source mixture (∝ √tokens) for the train split
    train = final.filter(F.col("split") == "train").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    src = train.groupBy("source").agg(F.sum("n_tokens").alias("n_tokens"))
    w = src.withColumn(
        "w_raw", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint")
    )
    total = w.agg(F.sum("w_raw").alias("total_w"))
    mix = w.crossJoin(F.broadcast(total)).select(
        "source", "n_tokens",
        F.round(F.col("w_raw") / F.col("total_w"), 4).alias("sample_weight"),
    )
    print("== mixture weights (top 5 by weight) ==")
    mix.orderBy(F.desc("sample_weight")).show(5)

    # 5. deterministic epoch shuffle -> shard layout a data loader reads:
    # salted-hash permutation, one directory per shard (partitionBy write)
    import tempfile

    hv = S.hash32(F.concat(F.lit("epoch-0:"), F.col("doc_id").cast("string")))
    sharded = train.select("doc_id", "text", hv.alias("hv")).withColumn(
        "shard", F.col("hv") % 8
    )
    out = tempfile.mkdtemp(prefix="train_shards_")
    (
        sharded.repartition(8, "shard")
        .sortWithinPartitions("shard", "hv")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    print(f"epoch-0 shards written under {out} (one dir per trainer rank)")

    # 6. the same dedup running CONTINUOUSLY: feed the corpus through the
    # foreachBatch dedup sink in three arrivals — the signature store and
    # component state accrete incrementally (batch-vs-corpus band mining,
    # never a full re-cluster), converging to the batch result above
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.streaming.ingest import dedup_stream_sink

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="stream_wh_"))
    sink = dedup_stream_sink(wh, threshold=0.8)
    for i in range(3):
        sink(kept.filter(F.col("doc_id") % 3 == i).select("doc_id", "text"), i)
    state = wh.read("silver", "dedup_components")
    n_losers = state.filter(F.col("node") != F.col("label")).count()
    print(f"continuous dedup state: {n_losers} non-survivors "
          f"(batch pass removed {n1 - n2})")


if __name__ == "__main__":
    main()
