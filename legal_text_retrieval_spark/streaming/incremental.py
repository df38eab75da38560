"""Incremental index maintenance with Structured Streaming.

``start_incremental`` watches a corpus directory and appends each
micro-batch to an existing index as a new posting *generation* (same
codec and layout, packed against the manifest's snapshot avgdl); new
terms get ids above the current max with an ``idf=0`` placeholder.
``compact_merged`` restores batch exactness with one ``repack`` of the
index (index/repack.py) and swaps it into place.  Checkpointing and
restart come from Structured Streaming's checkpoint dir.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexParams
from ..index.builder import (
    DISTRIBUTED_TERMID_THRESHOLD,
    POSTINGS_SCHEMA,
    IndexPaths,
    _make_pack_fn,
    assign_term_ids,
    params_from_manifest,
)
from ..index.repack import Source, repack
from ..operators import stats as ops_stats


def _check_params(paths: IndexPaths, params: IndexParams) -> None:
    """The caller's params must be the ones the index at ``paths`` was
    built with, or block maxima would stop bounding the scorer recorded
    in its manifest."""
    on_disk = params_from_manifest(json.loads(Path(paths.manifest).read_text()))
    if params != on_disk:
        raise ValueError(f"incompatible params: caller {params} != index {on_disk}")


def _append_batch(batch: DataFrame, paths: IndexPaths, text_col: str) -> None:
    spark = batch.sparkSession
    manifest = json.loads(Path(paths.manifest).read_text())
    params = params_from_manifest(manifest)
    avgdl = manifest["avgdl"]  # snapshot stats (refreshed at compaction)

    batch = batch.select("doc_id", text_col).withColumn(
        "content_sha", F.sha2(F.col(text_col), 256)
    )
    batch.write.mode("append").parquet(paths.docs)

    dl = ops_stats.doc_lengths(batch, text_col)
    dl.write.mode("append").parquet(paths.docstats)

    # dictionary merge: new terms appended above current max id
    dictionary = spark.read.parquet(paths.dictionary)
    max_id = dictionary.agg(F.max("term_id")).collect()[0][0]
    terms = ops_stats.document_frequencies(batch, text_col)
    new_terms = terms.join(dictionary.select("term"), "term", "left_anti")
    n_new = new_terms.count()
    if n_new:
        add = assign_term_ids(new_terms, distributed=n_new > DISTRIBUTED_TERMID_THRESHOLD)
        add.withColumn("term_id", F.col("term_id") + F.lit(max_id + 1)).withColumn(
            "idf", F.lit(0.0)  # refreshed at compaction
        ).select(*dictionary.columns).write.mode("append").parquet(paths.dictionary)
        dictionary = spark.read.parquet(paths.dictionary)

    tf = ops_stats.term_frequencies(batch, text_col)
    flat = (
        tf.join(F.broadcast(dictionary.select("term", "term_id")), "term")
        .join(dl, "doc_id")
        .withColumn("seg_id", (F.col("doc_id") / params.segment_doc_window).cast("long"))
        .select("term_id", "seg_id", "doc_id", "tf", "dl")
    )
    packed = (
        flat.repartition(
            max(1, spark.sparkContext.defaultParallelism), "term_id", "seg_id"
        )
        .sortWithinPartitions("term_id", "seg_id", "doc_id")
        .mapInPandas(_make_pack_fn(params, avgdl), POSTINGS_SCHEMA)
    )
    packed.write.mode("append").parquet(paths.postings)


def start_incremental(
    spark: SparkSession,
    watch_dir: str,
    index_root: str,
    params: IndexParams,
    checkpoint_dir: str,
    text_col: str = "content",
    schema=None,
):
    """Start the file-watch stream; returns the StreamingQuery.
    The index at ``index_root`` must already exist (batch-built) with
    the same ``params``."""
    paths = IndexPaths(index_root)
    _check_params(paths, params)
    src = spark.readStream.schema(
        schema or spark.read.parquet(watch_dir).schema
    ).parquet(watch_dir)
    return (
        src.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda b, _eid: _append_batch(b, paths, text_col))
        .trigger(availableNow=True)
        .start()
    )


def _swap_into_place(spark: SparkSession, index_root: str, tmp_root: str) -> IndexPaths:
    backup = index_root.rstrip("/") + ".old"
    shutil.rmtree(backup, ignore_errors=True)
    Path(index_root).rename(backup)
    Path(tmp_root).rename(index_root)
    shutil.rmtree(backup, ignore_errors=True)
    # the same paths now hold different data: invalidate cached plans
    spark.catalog.clearCache()
    paths = IndexPaths(index_root)
    for p in (paths.dictionary, paths.docstats, paths.postings, paths.docs):
        try:
            spark.catalog.refreshByPath(p)
        except Exception:
            pass
    return paths


def compact_merged(spark: SparkSession, index_root: str, params: IndexParams):
    """Exactness-restoring compaction without the build shuffle: one
    ``repack`` of the index's base + streamed generations (exact
    n_docs/avgdl from the appended docstats, df from the packed rows,
    dense lexical term_ids replacing the appended ones, idf=0
    placeholders recomputed, maxima against the exact avgdl), then a
    swap into place.  ``params`` must be the index's own.  Bit-identical
    to a rebuild over the accumulated docs
    (tests/test_streaming_incremental.py)."""
    _check_params(IndexPaths(index_root), params)
    tmp_root = index_root.rstrip("/") + ".compact"
    shutil.rmtree(tmp_root, ignore_errors=True)
    # compaction leaves the docs/docstats rows as they are: copy their
    # files verbatim, and repack resumes past those two stages
    for table in ("docs", "docstats"):
        shutil.copytree(f"{index_root}/{table}", f"{tmp_root}/{table}")
    repack(spark, [Source(index_root)], tmp_root, {"compacted_from": index_root})
    return _swap_into_place(spark, index_root, tmp_root)
