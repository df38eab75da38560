"""Packed-index MERGE and UPSERT — incremental corpus growth without a
rebuild (north_rule: "posting-list construction, merge, compression,
top-k").  Both are thin wrappers over ``repack.repack``, which holds
the one decode/re-pack kernel and the bit-identity argument: the
result equals a fresh build over the union corpus, and the build's raw
(term, doc) posting shuffle never reruns.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .builder import IndexPaths
from .repack import Source, repack


def merge_indexes(
    spark: SparkSession,
    root_a: str,
    root_b: str,
    out_dir: str,
    resume: bool = True,
    check_disjoint: bool = True,
) -> IndexPaths:
    """Merge the packed indexes at ``root_a`` and ``root_b`` (same
    params, disjoint doc_ids) into a new index at ``out_dir`` that is
    bit-identical to a fresh build over the union corpus
    (tests/test_index_merge.py asserts table-level and score-level
    equality).  ``check_disjoint`` raises before the postings pass when
    the sources share doc_ids; the kernel refuses them either way."""
    return repack(
        spark, [Source(root_a), Source(root_b)], out_dir,
        {"merged_from": [root_a, root_b]}, resume, check_disjoint,
    )


def upsert_index(
    spark: SparkSession,
    base_root: str,
    delta_root: str,
    out_dir: str,
    resume: bool = True,
) -> IndexPaths:
    """UPSERT: documents present in both indexes take the DELTA's
    version (re-ingested/updated docs), everything else unions — one
    repack of (base − delta's doc_ids) ∪ delta, equal to a fresh build
    over (base − overlap) ∪ delta (tests/test_index_merge.py::
    test_upsert_parity).  The delta's doc_ids never touch the driver:
    they are sort-merge-joined to the base as per-segment lists, and no
    intermediate index is written.  The two sources are disjoint by
    construction, so only the kernel's duplicate guard runs."""
    delta_ids = spark.read.parquet(IndexPaths(delta_root).docstats).select("doc_id")
    return repack(
        spark, [Source(base_root, delta_ids), Source(delta_root)], out_dir,
        {"upserted_from": [base_root, delta_root]}, resume, check_disjoint=False,
    )
