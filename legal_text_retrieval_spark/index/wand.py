"""Top-k BM25 query engine over the packed index — block-max WAND.

Plan shape (all-queries-at-once, SURVEY.md §2.4 Q1/Q5):

    queries → tokenize → (query_id, term, qtf)
            → broadcast-join dictionary → (query_id, term_id, qtf, idf)
    postings.filter(term_id ∈ query terms)      ← parquet min/max pruning
            → broadcast-join query terms
            → (query_id, seg_id) runs → mapInPandas(WAND kernel)
            → score = per-query δ-constant + ms (rounded if asked)
            → bm25.topk_padded: window top-k + δ-padding

The kernel is Arrow-vectorized NumPy; it prunes at block granularity
using (block_first, block_last, block_max_tfpart) metadata and is
**bit-identical** to exhaustive scoring by construction:

- terms are processed in term_id (= lexical term) order, so surviving
  docs accumulate contributions in exactly the order the relational
  path folds them;
- any decoded block's docs all become candidates, and blocks
  intersecting candidates are always decoded, so a surviving doc's
  score is complete;
- a block is skipped only when block_ub + remaining-terms-ub < θ −
  slack (θ = current k-th partial score), which proves every doc first
  seen in it can never reach the true top-k.  slack = 2·10^-r when the
  scores are rounded to r decimals (a doc that ties the k-th only
  after rounding must survive), else 0.

Correctness-fallback ``mode="exhaustive"`` decodes everything; tests
assert bitwise equality of the two modes (SURVEY.md §5.3).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BM25Params
from . import codec
from .builder import FORMAT_VERSION, IndexPaths

# max distinct query term_ids pushed down as an .isin literal list
# (parquet min/max pruning); larger batches use a broadcast semi-join
TERM_ID_PUSHDOWN_LIMIT = 4096

_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("ms", T.DoubleType()),
        T.StructField("n_cand", T.LongType()),
    ]
)


@dataclass
class FulltextIndex:
    spark: SparkSession
    paths: IndexPaths
    manifest: dict

    # manifest invariants an index must carry to be scored correctly:
    # eps_fold (okapi ε provenance) and the current format_version
    # (min_idf + block-max layout).  repack.py guards the same keys
    # across sources (_COMPAT_KEYS); load guards them absolutely.  The value
    # is builder.FORMAT_VERSION — the writer's constant — so a layout
    # bump cannot leave readers accepting stale indexes (or rejecting
    # fresh ones).
    REQUIRED_FORMAT_VERSION = FORMAT_VERSION

    @classmethod
    def load(
        cls, spark: SparkSession, root: str, allow_legacy: bool = False
    ) -> "FulltextIndex":
        paths = IndexPaths(root)
        manifest = json.loads(Path(paths.manifest).read_text())
        fv = manifest.get("format_version")
        legacy = fv != cls.REQUIRED_FORMAT_VERSION or "eps_fold" not in manifest
        if legacy:
            msg = (
                f"index at {root}: format_version={fv!r}, "
                f"eps_fold={'present' if 'eps_fold' in manifest else 'MISSING'} — "
                f"expected format_version={cls.REQUIRED_FORMAT_VERSION} with eps_fold; "
                "okapi ε-fold provenance and block-max layout cannot be trusted. "
                "Rebuild the index, or pass allow_legacy=True to open anyway."
            )
            if not allow_legacy:
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)
        # the index dirs may have been rewritten in-place (compaction,
        # resumed builds) — drop any stale cached relations for them
        for p in (paths.dictionary, paths.docstats, paths.postings, paths.docs):
            try:
                spark.catalog.refreshByPath(p)
            except Exception:
                pass
        idx = cls(spark, paths, manifest)
        # opening an index hydrates its metadata tables (dictionary,
        # docstats) into the cache eagerly — every query needs them, and
        # serving-style loads (index/serving.py) have always done the
        # equivalent.  One small job at open instead of inside the first
        # query's critical path.
        idx.dictionary().count()
        idx.docstats().count()
        return idx

    @property
    def params(self) -> BM25Params:
        p = self.manifest["params"]
        return BM25Params(
            k1=p["k1"], b=p["b"], delta=p["delta"], variant=p["variant"], epsilon=p["epsilon"]
        )

    _dict_cache: DataFrame | None = None
    _docstats_cache: DataFrame | None = None
    _n_terms_cache: int | None = None

    @staticmethod
    def _pinned(df: DataFrame) -> DataFrame:
        """Re-register the cache if a query_scope / clearCache dropped
        it (storageLevel reads NONE then) — keeps long-lived index
        handles valid across batch-scoped cache lifecycles."""
        lvl = df.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            df.cache()
        return df

    def dictionary(self) -> DataFrame:
        if self._dict_cache is None:
            self._dict_cache = self.spark.read.parquet(self.paths.dictionary).cache()
        return self._pinned(self._dict_cache)

    def n_terms(self) -> int:
        """Vocabulary size, computed once per index lifetime (manifest
        stats if recorded, else one count over the cached dictionary) —
        lets repeated query batches skip the per-batch isin-vs-semi-join
        probe when the whole vocabulary fits the pushdown limit."""
        if self._n_terms_cache is None:
            n = self.manifest.get("vocab_size")
            self._n_terms_cache = int(n) if n is not None else self.dictionary().count()
        return self._n_terms_cache

    def postings(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.postings)

    def docstats(self) -> DataFrame:
        if self._docstats_cache is None:
            self._docstats_cache = self.spark.read.parquet(self.paths.docstats).cache()
        return self._pinned(self._docstats_cache)


def _make_group_fn(
    params: BM25Params,
    avgdl: float,
    window: int,
    k: int,
    prune: bool,
    block_size: int = 128,
    slack: float = 0.0,
):
    """The per-(qid, segment) WAND evaluation on raw arrays, run by the
    streaming mapInPandas kernel.  ``rows`` fields must already be in
    ascending term_id order (fold order == lexical term order).
    ``slack`` widens both the block-skip bound and the emitted set: a
    doc within ``slack`` of the k-th may still tie it once the final
    scores are rounded, so it must be scored and emitted."""
    p = params
    bs = block_size

    def group_topk(seg_id, qtf_arr, idf_arr, segmax_arr, blocks, bufs):
        """blocks[i] = (block_first, block_last, block_max) lists;
        bufs[i] = (doc_ids_enc, tfs_enc, dls_enc).  Returns
        (doc_ids, scores, n_cand) of the segment-local top-k (plus the
        rows within ``slack`` of its k-th), or None when no candidate
        survives.

        Dense window-local accumulator (the serving-mode scatter-add
        trick, index/serving.py): scores/seen are arrays indexed by
        doc_id − base, so a term merges in O(postings) instead of the
        previous O(candidates·log) np.unique merge.  Bit-identity is
        preserved: each (doc, term) contributes exactly one float add,
        applied in ascending term order — the same adds in the same
        order as the sorted-merge version (tests/test_wand_kernel_
        property.py, test_index_engine.py)."""
        base = int(seg_id) * window
        scores = np.zeros(window, dtype=np.float64)
        seen = np.zeros(window, dtype=bool)
        n_seen = 0
        weights = qtf_arr * idf_arr
        seg_ubs = weights * segmax_arr
        rem_ub = float(seg_ubs.sum())

        for i in range(len(weights)):
            w = weights[i]
            rem_after = rem_ub - seg_ubs[i]
            rem_ub = rem_after
            theta = (
                float(np.partition(scores[seen], n_seen - k)[n_seen - k]) - slack
                if prune and n_seen >= k
                else -np.inf
            )
            bf = np.asarray(blocks[i][0], dtype=np.int64)
            blast = np.asarray(blocks[i][1], dtype=np.int64)
            bmax = np.asarray(blocks[i][2], dtype=np.float64)
            # decode-block decision (vectorized over blocks)
            if prune and theta > -np.inf and n_seen:
                # any seen doc inside [bf, bl]?  prefix-sum range test
                cs = np.concatenate([[0], np.cumsum(seen)])
                intersects = cs[blast - base + 1] - cs[bf - base] > 0
                keep = intersects | (w * bmax + rem_after >= theta)
            elif prune and theta > -np.inf:
                keep = w * bmax + rem_after >= theta
            else:
                keep = np.ones(len(bf), dtype=bool)
            if not keep.any():
                continue
            ids_all = codec.decode_docids(bufs[i][0], base)
            tfs_all = codec.decode_varint(bufs[i][1]).astype(np.int64)
            dls_all = codec.decode_varint(bufs[i][2]).astype(np.int64)
            if keep.all():
                ids, tfs, dls = ids_all, tfs_all, dls_all
            else:
                # blocks are fixed-size except the last — expand the
                # per-block mask with the TRUE build block size (an
                # inferred size would misalign on a short tail block)
                sel = np.repeat(keep, bs)[: len(ids_all)]
                ids, tfs, dls = ids_all[sel], tfs_all[sel], dls_all[sel]
            contrib = w * codec.tf_part(tfs, dls, p.k1, p.b, avgdl, p.variant)
            # dense scatter-add: one add per (doc, term), term order
            slots = ids - base
            scores[slots] += contrib
            seen[slots] = True
            n_seen = int(seen.sum())

        if n_seen == 0:
            return None
        cand_ids = np.flatnonzero(seen) + base
        cand_scores = scores[seen]
        k_loc = min(k, n_seen)
        order = np.lexsort((cand_ids, cand_scores))  # asc score, asc doc_id
        if slack:
            asc = cand_scores[order]
            k_loc = n_seen - int(np.searchsorted(asc, asc[-k_loc] - slack))
        sel = order[-k_loc:][::-1]  # desc score, desc doc_id among ties
        return cand_ids[sel], cand_scores[sel], n_seen

    return group_topk


def _group_arrays(pdf: pd.DataFrame):
    """Column extraction for one group (pdf already in ascending
    term_id order)."""
    qtf = pdf["qtf"].to_numpy(np.float64)
    idf = pdf["idf"].to_numpy(np.float64)
    segmax = pdf["seg_max_tfpart"].to_numpy(np.float64)
    blocks = list(zip(pdf["block_first"], pdf["block_last"], pdf["block_max_tfpart"]))
    bufs = list(zip(pdf["doc_ids_enc"], pdf["tfs_enc"], pdf["dls_enc"]))
    return qtf, idf, segmax, blocks, bufs


def _make_stream_kernel(
    params: BM25Params,
    avgdl: float,
    window: int,
    k: int,
    prune: bool,
    block_size: int = 128,
    slack: float = 0.0,
):
    """mapInPandas kernel: the joined relation arrives hash-partitioned
    by (qid, seg_id) and sorted by (qid, seg_id, term_id), so groups
    are contiguous runs; a carry buffer stitches runs spanning Arrow
    batch boundaries.  No per-group Spark overhead — the same
    streaming-runs trick the posting pack kernel uses
    (builder._make_pack_fn)."""
    group_topk = _make_group_fn(params, avgdl, window, k, prune, block_size, slack)

    def kernel(batches):
        carry: pd.DataFrame | None = None
        out: list[pd.DataFrame] = []

        def run_group(g: pd.DataFrame) -> None:
            res = group_topk(int(g["seg_id"].iloc[0]), *_group_arrays(g))
            if res is None:
                return
            ids, scores, n_cand = res
            out.append(
                pd.DataFrame(
                    {
                        "qid": g["qid"].iloc[0],
                        "doc_id": ids,
                        "ms": scores,
                        "n_cand": np.int64(n_cand),
                    }
                )
            )

        def emit():
            nonlocal out
            if out:
                yield pd.concat(out, ignore_index=True)
                out = []

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            q = pdf["qid"].to_numpy(object)
            s = pdf["seg_id"].to_numpy(np.int64)
            change = np.flatnonzero((q[1:] != q[:-1]) | (s[1:] != s[:-1])) + 1
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [len(pdf)]])
            # last run may continue in the next batch — carry it
            for gi in range(len(starts) - 1):
                run_group(pdf.iloc[starts[gi] : ends[gi]])
            if len(starts):
                carry = pdf.iloc[starts[-1] :]
            yield from emit()
        if carry is not None and len(carry):
            run_group(carry)
        yield from emit()

    return kernel


def query_topk(
    index: FulltextIndex,
    queries: DataFrame,
    k: int,
    query_col: str = "query_text",
    mode: str = "wand",
    score_round: int | None = None,
) -> DataFrame:
    """(query_id, doc_id, rank, score) — rank-identical to the
    reference scorer (argsort-parity tie-break, δ-padding through
    ``bm25.topk_padded``).  With ``score_round`` it ranks on the rounded
    score it returns, exactly like ``bm25.bm25_topk``."""
    from ..operators import bm25

    spark = index.spark
    params = index.params
    avgdl = index.manifest["avgdl"]
    window = index.manifest["params"]["segment_doc_window"]

    qocc = bm25.query_term_occurrences(queries, query_col).withColumn(
        "qid", F.col("query_id").cast("string")
    )
    # ONE broadcast hydration of the query terms: qterms (the candidate
    # generator) and qconst (the δ-constant) both derive from it, so the
    # former qmap.distinct() exchange and its left-join back are gone
    # (guide §2.4).  Every query appears in qocc — tokenize('') is [''],
    # a 1-token doc — so qconst still covers all-OOV queries.
    qjoin = qocc.join(
        F.broadcast(index.dictionary().select("term", "term_id", "idf")), "term", "left"
    ).fillna({"idf": 0.0})
    # idf == 0 terms (okapi df == n/2 exactly) contribute nothing but
    # would mark their postings as "matched" candidates — the relational
    # plan (and the reference) filters them out (bm25.py: idf != 0), so
    # the index path must too, or candidacy/deficit/pad sets diverge and
    # w == 0 invalidates the block-skip bound.
    qterms = (
        qjoin.filter(F.col("idf") != 0).select("qid", "term_id", "qtf", "idf")
    )

    # per-query δ-constant over ALL occurrences, folded in term order
    # exactly like the relational qconst (the same helper); one row per
    # query, referenced by the score join and the pad branch — cached
    # (session-lifetime by design; session.query_scope clears it)
    qconst = (
        bm25.query_constants(qjoin, queries, params)
        .withColumn("qid", F.col("query_id").cast("string"))
        .cache()
    )

    # okapi negative-ε corner (mean idf0 < 0: tiny-vocab/repetitive
    # corpora): WAND's block-max bounds assume non-negative weights
    # (w·block_max is only an upper bound for w ≥ 0) and matched docs
    # can score BELOW the unmatched 0, so pads may outrank matched.
    # Handled exactly: pruning off (exhaustive decode — still the
    # compressed-index path) and topk_padded(pad_all=True): pads for
    # EVERY query, re-ranked together with matched rows.  Indexes built before
    # min_idf was recorded must not silently default to "safe": compute
    # it from the (cached, small) dictionary instead.
    negative_weights = False
    if params.variant == "okapi":
        min_idf = index.manifest.get("min_idf")
        if min_idf is None:
            min_idf = index.dictionary().agg(F.min("idf")).collect()[0][0]
        negative_weights = min_idf < 0

    # term_id pruning: an .isin literal list buys parquet row-group
    # min/max pruning, but collecting an unbounded distinct set to the
    # driver is a scale hazard — above the guard, switch to a broadcast
    # LEFT SEMI join (same rows, no driver materialization).  When the
    # whole VOCABULARY fits the limit (manifest vocab_size, cached per
    # index — no job after the first call) the query term set trivially
    # does too, so the limit+1 probe is skipped and the only collect is
    # the one that builds the literal list itself.
    if index.n_terms() <= TERM_ID_PUSHDOWN_LIMIT:
        id_rows = qterms.select("term_id").distinct().collect()
    else:
        id_rows = (
            qterms.select("term_id").distinct().limit(TERM_ID_PUSHDOWN_LIMIT + 1).collect()
        )
    if len(id_rows) <= TERM_ID_PUSHDOWN_LIMIT:
        post = index.postings().where(
            F.col("term_id").isin([r.term_id for r in id_rows])
        )
    else:
        post = index.postings().join(
            F.broadcast(qterms.select("term_id").distinct()), "term_id", "left_semi"
        )
    joined = post.join(F.broadcast(qterms), "term_id")

    # negative-weight mode must emit EVERY candidate from the kernel
    # (k_eff = window): the pad anti-join treats "not emitted" as
    # unmatched, and a matched doc dropped by a segment-local top-k
    # would be resurrected as a score-qconst pad — wrong when its true
    # score is below qconst.
    kernel = _make_stream_kernel(
        params,
        avgdl,
        window,
        window if negative_weights else k,
        prune=(mode == "wand" and not negative_weights),
        block_size=index.manifest["params"].get("block_size", 128),
        slack=0.0 if score_round is None else 2 * 10.0 ** -score_round,
    )
    # hash-partition by group key + sort within partitions: groups are
    # contiguous term_id-sorted runs for the streaming kernel — ONE
    # shuffle, no per-group pandas overhead (same layout as the pack
    # stage).  local top-k rows are tiny (≤ queries × segments × k) —
    # cached so the top-k window, the pad probe and the pad anti-join
    # reuse one kernel materialization.
    # explicit partition count: the kernel is CPU-heavy per input byte,
    # so AQE's size-based coalescing (which a countless repartition
    # would enable) collapses a small-but-compute-dense batch onto one
    # or two cores — measured r7: batch 1.1 s → 2.7 s.  Keep one
    # partition per core and eat the mostly-empty Python round-trips on
    # tiny batches instead.
    spark_parallelism = max(1, spark.sparkContext.defaultParallelism)
    local = (
        joined.repartition(spark_parallelism, "qid", "seg_id")
        .sortWithinPartitions("qid", "seg_id", "term_id")
        .mapInPandas(kernel, _KERNEL_SCHEMA)
        .cache()
    )
    scored, base = bm25.qconst_scores(local, qconst, score_round, on="qid")
    return bm25.topk_padded(scored, base, index.docstats(), k, pad_all=negative_weights)
