"""One repack path for the packed-index lifecycle.

Merge, delete, upsert and streaming compaction are one operation:
take the packed (term, segment) rows of one or more source indexes,
drop some doc_ids, and re-pack what is left into an index that is
bit-identical to a fresh build over the surviving docs
(tests/test_index_merge.py, test_index_delete.py,
test_streaming_incremental.py, test_repack.py).  Three rules make it so:

- **term_ids are lexical ranks**, so they are reassigned over the
  surviving vocabulary; the term string is the key across sources.
- **idf derives only from (term, df) + n_docs** (the okapi ε-fold
  too); df is Σ n_docs over a term's repacked rows.
- **block/segment maxima recompute against the new avgdl**: stored
  maxima are upper bounds only for the avgdl they were packed with.
  The codec is deterministic, so surviving docs re-encode to the bytes
  a rebuild writes.

Plan: the docs and docstats stages (each source anti-joined with its
drop set); one docstats aggregate for n_docs, total_tokens and the
duplicate-doc check; one kernel over all sources' packed rows,
range-partitioned by (term, seg_id), that decodes each group, masks
dropped ids, doc-sorts the sources' rows together and re-packs with
``_pack_group``; its output is the ``repacked`` stage, whose per-term
Σ n_docs feeds ``dictionary_from_dfreq``.  A map-only broadcast join
then stamps term_ids — since term_id is the term's lexical rank, the
range-partitioned rows are already term_id-clustered, so no second
exchange runs.  The raw (term, doc) posting stream of a build is
never re-shuffled: repack cost is O(packed bytes).

The reference has no index persistence at all: it pickles a scorer per
corpus (its src/data_generator.py:186-199).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import reduce
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec
from .builder import (
    POSTINGS_SCHEMA,
    IndexPaths,
    _pack_group,
    dictionary_from_dfreq,
    input_fingerprint,
    params_from_manifest,
    stage_runner,
    write_lineage_and_metrics,
)

# manifest keys that must agree between source indexes for the
# repacked scores to be well-defined
_COMPAT_KEYS = ("format_version", "eps_fold", "params")

_ENC = ("doc_ids_enc", "tfs_enc", "dls_enc")

# kernel output: a postings row keyed by the term string (term_ids are
# stamped after the dictionary is rebuilt)
REPACKED_SCHEMA = T.StructType(
    [T.StructField("term", T.StringType())]
    + [f for f in POSTINGS_SCHEMA.fields if f.name != "term_id"]
)


@dataclass
class Source:
    """An index root minus the doc_ids of ``drop`` (a one-column
    ``doc_id`` DataFrame, or None).  ``broadcast`` picks how the drop
    set is joined: broadcast for small id batches (the postings pass
    stays map-only), sort-merge for bulk sets that must never reach the
    driver."""

    root: str
    drop: DataFrame | None = None
    broadcast: bool = False


def _make_repack_fn(params, avgdl: float):
    """mapInPandas kernel over rows range-partitioned by (term, seg_id)
    and sorted by (term, seg_id): each contiguous run is one group,
    with at most one row per source.  Decode each row, mask its
    ``_drop`` ids, doc-sort the rows together (a duplicate doc_id across
    sources is a hard error) and re-pack against ``avgdl``.  Groups
    whose docs are all dropped emit nothing."""
    window = params.segment_doc_window

    def pack(term: str, seg_id: int, rows: list):
        base = seg_id * window
        d, t, l = [], [], []
        for ids_enc, tfs_enc, dls_enc, drop in rows:
            ids = codec.decode_docids(ids_enc, base)
            keep = np.ones(len(ids), bool) if drop is None else ~np.isin(ids, drop)
            d.append(ids[keep])
            t.append(codec.decode_varint(tfs_enc).astype(np.int64)[keep])
            l.append(codec.decode_varint(dls_enc).astype(np.int64)[keep])
        d, t, l = np.concatenate(d), np.concatenate(t), np.concatenate(l)
        if not len(d):
            return None
        if len(rows) > 1:
            order = np.argsort(d, kind="stable")
            d, t, l = d[order], t[order], l[order]
            if not bool(np.all(np.diff(d) > 0)):
                raise ValueError(
                    f"duplicate doc_id in repacked group (term={term!r}, "
                    f"seg_id={seg_id}): source indexes must cover disjoint docs"
                )
        row = _pack_group(0, seg_id, d, t, l, params, avgdl)
        del row["term_id"]
        row["term"] = term
        return row

    def repack_fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        key, rows, out = None, [], []

        def flush():
            packed = pack(*key, rows)
            if packed is not None:
                out.append(packed)

        def emit():
            pdf = pd.DataFrame(out)
            pdf["build_part"] = pid
            return pdf

        for pdf in batches:
            for term, seg_id, *row in zip(
                pdf["term"], pdf["seg_id"].to_numpy(np.int64),
                *(pdf[c] for c in _ENC), pdf["_drop"],
            ):
                if (term, seg_id) != key:
                    if rows:
                        flush()
                    key, rows = (term, int(seg_id)), []
                rows.append(row)
            if len(out) >= 256:
                yield emit()
                out = []
        if rows:
            flush()
        if out:
            yield emit()

    return repack_fn


def repack(
    spark: SparkSession,
    sources: list[Source],
    out_dir: str,
    provenance: dict,
    resume: bool = True,
    check_disjoint: bool = True,
) -> IndexPaths:
    """Repack ``sources`` (disjoint docs after their drops, same params)
    into a new index at ``out_dir``, bit-identical to a build over the
    surviving docs.  ``provenance`` is recorded in the manifest and,
    with the sources' roots and stats, keys the ``input_fp`` that
    guards resuming from an ``out_dir`` written by another call."""
    mans = [json.loads(Path(IndexPaths(s.root).manifest).read_text()) for s in sources]
    for m in mans[1:]:
        for key in _COMPAT_KEYS:
            if m.get(key) != mans[0].get(key):
                raise ValueError(
                    f"incompatible indexes: {key} differs "
                    f"({mans[0].get(key)!r} != {m.get(key)!r})"
                )
    params = params_from_manifest(mans[0])
    paths = IndexPaths(out_dir)
    input_fp = input_fingerprint(
        provenance,
        [(s.root, m.get("n_docs"), m.get("total_tokens"), m.get("input_fp"))
         for s, m in zip(sources, mans)],
    )
    manifest: dict = {
        "format_version": mans[0]["format_version"],
        "eps_fold": mans[0]["eps_fold"],
        "params": mans[0]["params"],
        "stages": {},
        **provenance,
        "input_fp": input_fp,
    }
    if resume and Path(paths.manifest).exists():
        old = json.loads(Path(paths.manifest).read_text())
        if old.get("input_fp") == input_fp:
            # resume only timing bookkeeping — never the derived stats
            manifest["stages"] = old.get("stages", {})
        else:
            # the _done markers on disk belong to another call — recompute
            resume = False
    stage = stage_runner(spark, manifest, resume)

    def kept(s: Source, table: str) -> DataFrame:
        # mergeSchema: a streamed index's docs files lack the batch-only
        # columns of its base build
        df = spark.read.option("mergeSchema", "true").parquet(getattr(IndexPaths(s.root), table))
        if s.drop is None:
            return df
        ids = F.broadcast(s.drop) if s.broadcast else s.drop.hint("merge")
        return df.join(ids, "doc_id", "left_anti")

    def union(table: str) -> DataFrame:
        # keep the UNION of columns (null-filled where a source lacks
        # one): a rebuild over the union corpus keeps every input column
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [kept(s, table) for s in sources],
        )

    stage("docs", paths.docs, lambda: union("docs"))
    docstats = stage("docstats", paths.docstats, lambda: union("docstats"))
    aggs = [F.count("*"), F.coalesce(F.sum("dl"), F.lit(0))]
    if check_disjoint and len(sources) > 1:
        aggs.append(F.countDistinct("doc_id"))
    n_docs, total_tokens, *distinct = (int(v) for v in docstats.agg(*aggs).collect()[0])
    if distinct and distinct[0] != n_docs:
        raise ValueError(
            f"source indexes share {n_docs - distinct[0]} doc_ids — "
            "merge requires disjoint docs"
        )
    if n_docs == 0:
        raise ValueError("deleting every document — refuse to build an empty index")
    avgdl = float(total_tokens) / n_docs
    manifest.update(n_docs=n_docs, total_tokens=total_tokens, avgdl=avgdl)
    if any(s.drop is not None for s in sources):
        manifest["n_deleted"] = sum(int(m["n_docs"]) for m in mans) - n_docs

    window = params.segment_doc_window

    def packed_rows(s: Source) -> DataFrame:
        terms = spark.read.parquet(IndexPaths(s.root).dictionary).select("term_id", "term")
        rows = spark.read.parquet(IndexPaths(s.root).postings).join(terms, "term_id")
        if s.drop is None:
            drop = F.lit(None).cast("array<bigint>")
            return rows.select("term", "seg_id", *_ENC, drop.alias("_drop"))
        # per-segment id lists (≤ segment_doc_window ids each, so per-row
        # state stays bounded) joined on seg_id
        seg_drop = (
            s.drop.groupBy(F.floor(F.col("doc_id") / window).cast("long").alias("seg_id"))
            .agg(F.collect_list("doc_id").alias("_drop"))
        )
        seg_drop = F.broadcast(seg_drop) if s.broadcast else seg_drop.hint("merge")
        return rows.join(seg_drop, "seg_id", "left").select("term", "seg_id", *_ENC, "_drop")

    def make_repacked() -> DataFrame:
        # range-partition the PRE-kernel rows: the range sampler re-runs
        # only the map-side joins, and the kernel runs once
        rows = reduce(DataFrame.unionByName, [packed_rows(s) for s in sources])
        return (
            rows.repartitionByRange(
                max(1, spark.sparkContext.defaultParallelism), "term", "seg_id"
            )
            .sortWithinPartitions("term", "seg_id")
            .mapInPandas(_make_repack_fn(params, avgdl), REPACKED_SCHEMA)
        )

    repacked = stage("repacked", f"{out_dir}/_repacked", make_repacked)
    dictionary = stage(
        "dictionary",
        paths.dictionary,
        lambda: dictionary_from_dfreq(
            repacked.groupBy("term").agg(F.sum("n_docs").alias("df")),
            n_docs, params, total_tokens, out_dir,
        ),
    )
    manifest["min_idf"] = float(dictionary.agg(F.min("idf")).collect()[0][0])
    stage(
        "postings",
        paths.postings,
        lambda: repacked.join(F.broadcast(dictionary.select("term", "term_id")), "term")
        .select(*POSTINGS_SCHEMA.fieldNames()),
    )
    write_lineage_and_metrics(spark, paths, manifest, resume)
    return paths
