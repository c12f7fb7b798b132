"""Training-data pipeline demo: documents.parquet -> packed, split,
dedup'd chunk corpus via ``prepare_training_corpus``, then the maintenance
loop a production corpus needs (incremental merge into an UpsertTable +
change-data-feed + compaction-style vacuum).

Run: python examples/training_corpus_demo.py [sf_dir] [workdir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.embeddings import quantize_int8
from weatherdatapipeline_spark.operators.sampling import (
    sample_per_group,
    temperature_mixture_weights,
)
from weatherdatapipeline_spark.pipelines import prepare_training_corpus
from weatherdatapipeline_spark.session import get_spark
from weatherdatapipeline_spark.sources.catalog import TableCatalog
from weatherdatapipeline_spark.sources.upsert import UpsertTable


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="corpus_")
    spark = get_spark("training-corpus-demo")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    print(f"input docs: {docs.count()}")

    # 1. full prep chain -> chunk corpus partitioned by split
    stats = prepare_training_corpus(spark, docs, f"{workdir}/chunks")
    stats.show(truncate=False)

    # 2. serve the corpus incrementally through a MERGE table keyed by
    # (doc_id) and partitioned by split — re-running the pipeline after a
    # corpus refresh only rewrites the splits whose docs changed
    chunks = spark.read.parquet(f"{workdir}/chunks")
    seqs = chunks.groupBy("doc_id", "split").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
    )
    table = UpsertTable(spark, workdir, "doc_index", key="doc_id", partition_col="split")
    v0 = table.merge(seqs)
    print(f"doc index v{v0}: {table.read().count()} docs")

    # simulate a refresh touching a handful of docs
    refreshed = seqs.limit(3).withColumn("n_tokens", F.col("n_tokens") + 1)
    v1 = table.merge(refreshed)
    delta = table.read_changes(since_version=v0, to_version=v1)
    print(f"CDF v{v0}->v{v1}:")
    delta.show(truncate=False)

    removed = table.vacuum(keep_last=1)
    print(f"vacuumed versions: {removed}")

    # 3. mixture design: temperature-reweighted source shares (alpha=0.5
    # up-weights tail sources), plus a stable per-source audit sample
    print("mixture weights (alpha=0.5):")
    temperature_mixture_weights(docs, "source", alpha=0.5).orderBy("source").show()
    cat = TableCatalog(spark, workdir)
    cat.write_jsonl(sample_per_group(docs, "source", "doc_id", 3), "audit_sample")
    print("audit sample exported as JSONL (3 docs/source)")

    # 4. embedding lake: int8-quantized (4x smaller), range-sorted by id
    # so point/range lookups prune to one file via parquet zone maps
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cat.write_range_sorted(quantize_int8(emb), "emb_int8", "vec_id", n_ranges=8)
    print(f"quantized embedding lake: {cat.read('emb_int8').count()} vectors")
    print(f"corpus + index under {workdir}")


if __name__ == "__main__":
    main()
