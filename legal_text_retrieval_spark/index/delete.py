"""Document deletion from a packed index — repack, not tombstones.

``delete_docs`` is ``repack.repack`` over one source minus the deleted
ids; the result is bit-identical to a fresh build over the surviving
corpus (tests/test_index_delete.py).  Terms left with df = 0 vanish and
term_ids re-rank over the surviving vocabulary.

The reference engine has no deletion at all (its index is a pickled
in-memory scorer rebuilt from scratch — /root/reference/src/
data_generator.py:186-199); batch deletion (takedowns, license
filtering, dedup sweeps feeding back into the index) is a first-class
need at training-corpus scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .builder import IndexPaths
from .repack import Source, repack


def delete_docs(
    spark: SparkSession,
    root: str,
    doc_ids,
    out_dir: str,
    resume: bool = True,
) -> IndexPaths:
    """Delete ``doc_ids`` from the index at ``root`` into a new index
    at ``out_dir`` — bit-identical to a rebuild over the surviving docs.

    Two input shapes, one result:

    - **iterable of int** (batch deletes — takedowns): the ids are
      broadcast and the postings pass stays map-only.
    - **single-column DataFrame** (bulk deletes — dedup-sweep feedback,
      license filtering at 10⁸ ids): never collected to the driver.
      The ids are grouped into per-segment lists (≤ segment_doc_window
      ids each, so per-row state is bounded) and sort-merge-joined to
      the packed rows on ``seg_id``.

    The resume fingerprint derives from an order-independent
    distributed digest of the id set, the same for both shapes, so a
    list delete and the equivalent DataFrame delete resume each other's
    artifacts."""
    bulk = isinstance(doc_ids, DataFrame)
    if bulk:
        drop = (
            doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
            .distinct()
            .cache()
        )
    else:
        ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        drop = spark.createDataFrame([(int(x),) for x in ids], "doc_id bigint")

    # TWO independently-seeded hash sums (ADVICE r5: one commutative
    # sum of hashes aliases too easily), plus count/min/max; decimal(38,0)
    # sums, since a BIGINT sum of 64-bit hashes overflows under ANSI mode
    digest = drop.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64("doc_id").cast("decimal(38,0)")), F.lit(0)).alias("h"),
        F.coalesce(
            F.sum(F.xxhash64(F.lit("lts-delete-digest-seed2"), F.col("doc_id")).cast("decimal(38,0)")),
            F.lit(0),
        ).alias("h2"),
        F.coalesce(F.min("doc_id"), F.lit(0)).alias("lo"),
        F.coalesce(F.max("doc_id"), F.lit(0)).alias("hi"),
    ).collect()[0]
    try:
        return repack(
            spark, [Source(root, drop, broadcast=not bulk)], out_dir,
            {"deleted_from": root,
             "delete_digest": ["digest-v3", *(int(v) for v in digest)]},
            resume,
        )
    finally:
        if bulk:
            drop.unpersist()
