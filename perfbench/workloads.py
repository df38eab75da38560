"""The two workloads: set-up, one timed cycle on fresh inputs, and the
untimed checks of every output.

Every timed call is one span whose ``kind`` names the public function
family it times, with ``plan`` (inside the call until it returns) and
``action`` (consuming a returned lazy result) children where the call
returns one.  ``Ctx.calls`` keeps one record per timed call; a call
that raises or fails a check is marked failed there.
"""

from __future__ import annotations

import gc
import json
import math
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

import inputs as I
from spans import Tracer, work_cpu_s

from legal_text_retrieval_spark.config import NORTH_STAR_BM25, BM25Params, IndexParams
from legal_text_retrieval_spark.index import serving, wand
from legal_text_retrieval_spark.index.builder import build_index
from legal_text_retrieval_spark.index.delete import delete_docs
from legal_text_retrieval_spark.index.merge import merge_indexes
from legal_text_retrieval_spark.operators import bm25 as B
from legal_text_retrieval_spark.oracle.reference_scorer import (
    RefBM25,
    standardize_data,
    topk_desc,
    ws_split,
)
from legal_text_retrieval_spark.session import query_scope
from legal_text_retrieval_spark.streaming import incremental

PARAMS = IndexParams()  # north-star BM25Plus k1=1.2 b=0.75 δ=1, block 128

# sizes (docs / queries per call); Ingest.cycle sizes its deltas from N_DOCS
N_DOCS = I.CORPUS_DOCS
WAND_Q, REL_Q, SINGLE_CALLS, SERVE_Q = 16, 4, 2, 1000
K_BATCH, K_ONLINE = 150, 10
REF_Q = 6
WARM_DOCS = 200  # ingest's untimed warm-up build, run in set-up
WARM_REP = 10**5  # repetition number of warm-up inputs, apart from timed ones
PROBE_DOCS = 200  # ingest's overhead probe: one small fresh build


def tokenize(text: str) -> list[str]:
    return ws_split(standardize_data(text))


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    qgen: I.QueryGen
    seed: int
    work: Path
    cores: int
    trace: bool = False  # also measure the per-layer values outside spans
    calls: list[dict] = field(default_factory=list)
    extra: dict = field(default_factory=dict)  # per-layer values measured outside spans

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs)

    @contextmanager
    def timed(self, kind: str, items: int, rep: int):
        """Span + call record (wall and work CPU seconds) for one timed
        call; a call that raises is marked failed and the error re-raised."""
        rec = {"kind": kind, "items": items, "rep": rep, "ok": True}
        self.calls.append(rec)
        cpu0 = work_cpu_s()
        try:
            with self.span(kind, timed=True, rep=rep) as sp:
                yield rec
        except Exception as e:
            self.fail(rec, f"{type(e).__name__}: {e}")
            raise
        finally:
            rec["cpu_s"] = work_cpu_s() - cpu0
            rec["seconds"] = sp["end"] - sp["start"]

    def fail(self, rec: dict, why: str) -> None:
        rec["ok"] = False
        rec.setdefault("why", why)

    def parquet(self, name: str, pdf: pd.DataFrame) -> str:
        path = self.work / "inputs" / name
        path.mkdir(parents=True, exist_ok=True)
        pdf.to_parquet(path / "part-0.parquet", row_group_size=2000, index=False)
        return str(path)

    def queries(self, stream: int, rep: int, n: int, rare: bool = False):
        pdf = self.qgen.batch(stream, rep, n, rare)
        return pdf, self.spark.createDataFrame(pdf)


# ------------------------------------------------------------------ checks


class IndexedRef(RefBM25):
    """``RefBM25`` that builds each query term's tf column from an
    inverted map instead of scanning every doc per query token.  The
    score fold is the parent's BM25Plus fold, term by term in query
    order, so the scores are the parent's bit for bit; ``Query.finish``
    checks that on the fixed sample before using it on the served
    queries."""

    def __init__(self, corpus_tokens: list[list[str]], params=NORTH_STAR_BM25):
        super().__init__(corpus_tokens, params)
        assert params.variant == "plus"
        inv: dict[str, tuple[list, list]] = {}
        for i, f in enumerate(self.doc_freqs):
            for t, c in f.items():
                ix, cs = inv.setdefault(t, ([], []))
                ix.append(i)
                cs.append(c)
        self.inv = {t: (np.array(ix), np.array(cs, dtype=np.float64)) for t, (ix, cs) in inv.items()}

    def get_scores(self, query_tokens: list[str]) -> np.ndarray:
        p = self.p
        score = np.zeros(self.corpus_size)
        dl = self.doc_len
        for q in query_tokens:
            q_freq = np.zeros(self.corpus_size)
            if q in self.inv:
                ix, cs = self.inv[q]
                q_freq[ix] = cs
            idf = self.idf.get(q) or 0
            score += idf * (
                p.delta
                + (q_freq * (p.k1 + 1)) / (p.k1 * (1 - p.b + p.b * dl / self.avgdl) + q_freq)
            )
        return score


def ranks_match_reference(got: pd.DataFrame, ref: RefBM25, doc_ids: np.ndarray,
                          qpdf: pd.DataFrame, k: int) -> dict[str, str]:
    """Rank identity with the reference scorer ``ref`` (north-star
    params) over the docs ``doc_ids`` (ascending, in ``ref``'s order):
    same top-k ids in the same order, swaps allowed only between docs
    whose reference scores agree to 1e-12 (float fold order).  Returns
    query id → what differs, for the queries that do not match."""
    pos = {d: i for i, d in enumerate(doc_ids.tolist())}
    by_q = {q: g.sort_values("rank")["doc_id"].tolist() for q, g in got.groupby("query_id")}
    bad = {}
    for qid, text in zip(qpdf["query_id"], qpdf["query_text"]):
        scores = ref.get_scores(tokenize(text))
        want = doc_ids[topk_desc(scores, k)].tolist()
        have = by_q.get(qid, [])
        if sorted(have) != sorted(want):
            bad[qid] = f"top-{k} doc set differs from the reference"
            continue
        for a, b in zip(have, want):
            sa, sb = scores[pos[a]], scores[pos[b]]
            if a != b and abs(sa - sb) > 1e-12 * max(abs(sa), abs(sb), 1.0):
                bad[qid] = f"rank order differs from the reference ({a} vs {b})"
                break
    return bad


def serve_rows(srv, qpdf: pd.DataFrame, k: int, recs: list | None = None) -> pd.DataFrame:
    """``LocalIndexServer.query`` over ``qpdf`` as (query_id, rank,
    doc_id, score) rows.  With ``recs``, each query is timed and gets a
    call record there (closed loop, one client).  Serving runs in this
    process alone, so its CPU time is this process's: the JVM's
    background threads stay out of it."""
    rows = []
    for qid, text in zip(qpdf["query_id"], qpdf["query_text"]):
        rec = {"kind": "serving.query", "items": 1, "ok": True}
        t0, cpu0 = time.perf_counter(), time.process_time()
        try:
            res = srv.query(text, k)
        except Exception as e:  # counted against error_rate; the run goes on
            res = []
            rec.update(ok=False, why=f"serving.query: {type(e).__name__}: {e}")
        rec["seconds"] = time.perf_counter() - t0
        rec["cpu_s"] = time.process_time() - cpu0
        rec["query_id"] = qid
        if recs is not None:
            recs.append(rec)
        rows += [(qid, r + 1, d, sc) for r, (d, sc) in enumerate(res)]
    return pd.DataFrame(rows, columns=["query_id", "rank", "doc_id", "score"])


def same_topk(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Doc ids, ranks and score bits equal, query by query."""
    cols = ["query_id", "rank", "doc_id", "score"]
    a = a[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    return (
        len(a) == len(b)
        and a["query_id"].astype(str).tolist() == b["query_id"].astype(str).tolist()
        and a["rank"].tolist() == b["rank"].tolist()
        and a["doc_id"].tolist() == b["doc_id"].tolist()
        and bool((a["score"].to_numpy().view("int64") == b["score"].to_numpy().view("int64")).all())
    )


def well_formed(got: pd.DataFrame, qpdf: pd.DataFrame, k: int, n_docs: int) -> bool:
    """Every query returns ranks 1..min(k, n_docs), distinct docs."""
    want = list(range(1, min(k, n_docs) + 1))
    groups = dict(tuple(got.groupby("query_id")))
    for qid in qpdf["query_id"]:
        g = groups.get(qid)
        if g is None or sorted(g["rank"]) != want or g["doc_id"].nunique() != len(want):
            return False
    return True


def index_bytes(root: str) -> int:
    return sum(p.stat().st_size for p in Path(root).rglob("*") if p.is_file())


def record_build(ctx: Ctx, root: str, content: pd.Series) -> None:
    """Keep what a finished build reports before its directory goes."""
    m = json.loads(Path(root, "manifest.json").read_text())
    ctx.extra.setdefault("builds", []).append({
        "stages": {k: v["seconds"] for k, v in m["stages"].items()},
        "bytes_per_posting": m["bytes_compressed"] / m["total_postings"],
        "index_bytes_per_input_byte": index_bytes(root) / sum(len(t.encode()) for t in content),
    })


def decode_rate(root: str) -> float:
    """Postings decoded per second by the codec over every packed row."""
    from legal_text_retrieval_spark.index import codec

    rows = pd.read_parquet(f"{root}/postings", columns=["seg_id", "n_docs", "doc_ids_enc", "tfs_enc", "dls_enc"])
    window = PARAMS.segment_doc_window
    t0 = time.perf_counter()
    for seg, ids, tfs, dls in zip(rows["seg_id"], rows["doc_ids_enc"], rows["tfs_enc"], rows["dls_enc"]):
        codec.decode_docids(ids, int(seg) * window)
        codec.decode_varint(tfs)
        codec.decode_varint(dls)
    return int(rows["n_docs"].sum()) / (time.perf_counter() - t0)


def wand_candidate_frac(root: str, texts, k: int) -> float:
    """Share of the candidate docs an exhaustive evaluation scores that
    block-max WAND still scores, over ``texts`` at top-``k``: 1.0 means
    no block was skipped.  Both counts come from the program's own
    per-(query, segment) kernel (``wand._make_group_fn``, the code each
    Spark task of ``query_topk`` runs), called here in-process on the
    index's posting rows with pruning on and off."""
    from collections import Counter

    m = json.loads(Path(root, "manifest.json").read_text())
    p = m["params"]
    bm25 = BM25Params(k1=p["k1"], b=p["b"], delta=p["delta"], variant=p["variant"],
                      epsilon=p["epsilon"])
    fns = {prune: wand._make_group_fn(bm25, m["avgdl"], p["segment_doc_window"], k, prune,
                                      p.get("block_size", 128))
           for prune in (True, False)}
    d = pd.read_parquet(f"{root}/dictionary", columns=["term", "term_id", "idf"]).set_index("term")
    post = pd.read_parquet(f"{root}/postings")
    cand = {True: 0, False: 0}
    for text in texts:
        qtf = Counter(tokenize(text))
        q = d.reindex(list(qtf)).dropna()
        q = q[q["idf"] != 0]
        q = pd.DataFrame({"term_id": q["term_id"].astype(np.int64), "idf": q["idf"],
                          "qtf": [qtf[t] for t in q.index]})
        rows = post.merge(q, on="term_id").sort_values(["seg_id", "term_id"])
        for seg, g in rows.groupby("seg_id"):
            arrays = wand._group_arrays(g)
            for prune, fn in fns.items():
                res = fn(seg, *arrays)
                cand[prune] += res[2] if res is not None else 0
    return cand[True] / cand[False]


def query_layer_stats(ctx: Ctx, root: str, texts) -> None:
    """Serving tokenize cost and Σ df of each query's in-vocabulary terms."""
    t0 = time.perf_counter()
    toks = [tokenize(t) for t in texts]
    ctx.extra["serving.tokenize_us"] = (time.perf_counter() - t0) / len(toks) * 1e6
    df = dict(pd.read_parquet(f"{root}/dictionary", columns=["term", "df"]).itertuples(index=False))
    ctx.extra["serving.postings_per_query"] = float(np.mean([sum(df.get(t, 0) for t in set(q)) for q in toks]))


def layer_extras(ctx: Ctx, root: str, docs: pd.DataFrame, texts, batch_texts) -> None:
    """Per-layer values measured outside spans (traced runs only): codec
    decode rate, serving tokenize cost and postings per query (over
    ``texts``), WAND's candidate share at top-150 (over
    ``batch_texts``), and the NumPy reference clone's build and
    per-query time on the same docs."""
    ctx.extra["codec.decode_postings_per_s"] = decode_rate(root)
    query_layer_stats(ctx, root, texts)
    ctx.extra["wand.candidate_frac"] = wand_candidate_frac(root, batch_texts, K_BATCH)
    t0 = time.perf_counter()
    ref = RefBM25([tokenize(c) for c in docs["content"]], NORTH_STAR_BM25)
    ctx.extra["reference.build_s"] = time.perf_counter() - t0
    qs = ctx.extra["ref_queries"]["query_text"]
    t0 = time.perf_counter()
    for text in qs:
        topk_desc(ref.get_scores(tokenize(text)), K_BATCH)
    ctx.extra["reference.query_ms"] = (time.perf_counter() - t0) / len(qs) * 1e3


# --------------------------------------------------------------- workloads


class Ingest:
    """A fresh build, then merge / delete / stream-append writes on the
    built index; no query runs.  Set-up runs one small untimed build, so
    the JVM, code generation and Python worker warm-up of the first
    Spark work in the application fall in ``setup_s`` rather than in the
    timed build.  (Warming merge, delete and the stream append as well
    would add ~20 s a run.)"""

    name = "ingest"
    min_cycles = 1

    def setup(self, ctx: Ctx) -> None:
        ctx.extra["ref_queries"] = ctx.qgen.batch(I.Q_REF, 0, REF_Q, rare=True)
        pdf = I.corpus(ctx.seed, I.CORPUS, WARM_REP, WARM_DOCS)
        src = ctx.parquet("warmup", pdf)
        with ctx.span("setup.warmup"):
            build_index(ctx.spark, ctx.spark.read.parquet(src), str(ctx.work / "warmup"), PARAMS,
                        resume=False)

    def reopen(self, ctx: Ctx) -> None:
        pass

    def finish(self, ctx: Ctx) -> None:
        pass  # each cycle checks its own indexes

    def cycle(self, ctx: Ctx, rep: int) -> None:
        """Build over n docs, build + merge a delta of n/10 docs, delete
        n/100 ids, stream-append n/10 docs and compact; then check every
        written index."""
        n = N_DOCS
        d, x, s = n // 10, n // 100, n // 10
        base_pdf = I.corpus(ctx.seed, I.CORPUS, rep, n)
        delta_pdf = I.corpus(ctx.seed, I.DELTA, rep, d, id_base=n)
        stream_pdf = I.corpus(ctx.seed, I.STREAM, rep, s, id_base=n + d)
        dels = I.delete_ids(ctx.seed, rep, n + d, x)
        if "inputs" not in ctx.extra:
            ctx.extra["inputs"] = I.corpus_stats(base_pdf, tokenize)
        base_src = ctx.parquet(f"base{rep}", base_pdf)
        delta_src = ctx.parquet(f"delta{rep}", delta_pdf)
        watch = ctx.parquet(f"stream{rep}", stream_pdf)
        out = ctx.work / f"ingest{rep}"
        spark = ctx.spark
        roots = {k: str(out / k) for k in ("base", "delta", "merged", "deleted", "compacted")}

        recs = {}
        with ctx.timed("builder", n, rep) as recs["builder"]:
            build_index(spark, spark.read.parquet(base_src), roots["base"], PARAMS, resume=False)
        with ctx.timed("merge", d, rep) as recs["merge"]:
            with ctx.span("merge.delta_build"):
                build_index(spark, spark.read.parquet(delta_src), roots["delta"], PARAMS, resume=False)
            with ctx.span("merge.merge"):
                merge_indexes(spark, roots["base"], roots["delta"], roots["merged"], resume=False)
        with ctx.timed("delete", x, rep) as recs["delete"]:
            delete_docs(spark, roots["merged"], dels, roots["deleted"], resume=False)
        shutil.copytree(roots["deleted"], roots["compacted"])  # keep `deleted` for its check
        with ctx.timed("incremental", s, rep) as recs["incremental"]:
            with ctx.span("incremental.append"):
                with ctx.span("incremental.plan"):
                    q = incremental.start_incremental(
                        spark, watch, roots["compacted"], PARAMS, checkpoint_dir=str(out / "ckpt"))
                with ctx.span("incremental.action"):
                    q.awaitTermination()
            with ctx.span("incremental.compact"):
                incremental.compact_merged(spark, roots["compacted"], PARAMS)

        record_build(ctx, roots["base"], base_pdf["content"])
        all_docs = pd.concat([base_pdf, delta_pdf, stream_pdf], ignore_index=True)
        toks = dict(zip(all_docs["doc_id"], map(tokenize, all_docs["content"])))
        merged = np.arange(n + d)
        deleted = merged[~np.isin(merged, dels)]
        compacted = np.concatenate([deleted, np.arange(n + d, n + d + s)])
        with ctx.span("check"):
            with ctx.span("wand.load"):
                wand.FulltextIndex.load(spark, roots["base"])
            terms = sorted({t for q in ctx.extra["ref_queries"]["query_text"] for t in tokenize(q)})
            for kind, root, ids in (("builder", "base", np.arange(n)), ("merge", "merged", merged),
                                    ("delete", "deleted", deleted),
                                    ("incremental", "compacted", compacted)):
                check_index(ctx, roots[root], ids, [toks[i] for i in ids], recs[kind], terms)
        if ctx.trace and "codec.decode_postings_per_s" not in ctx.extra:
            q = ctx.extra["ref_queries"]["query_text"]
            layer_extras(ctx, roots["base"], base_pdf, q, q)
        shutil.rmtree(out)

    def probe(self, ctx: Ctx, i: int) -> float:
        """One small fresh build: the call the overhead of tracing is
        measured on."""
        pdf = I.corpus(ctx.seed, I.CORPUS, 10**6 + i, PROBE_DOCS)
        src = ctx.parquet(f"probe{i}", pdf)
        t0 = time.perf_counter()
        build_index(ctx.spark, ctx.spark.read.parquet(src), str(ctx.work / f"probe{i}"), PARAMS,
                    resume=False)
        return time.perf_counter() - t0


def check_index(ctx: Ctx, root: str, ids: np.ndarray, toks: list[list[str]], rec: dict,
                terms: list[str]) -> None:
    """A written index holds exactly the docs ``ids`` (ascending, with
    reference-tokenizer tokens ``toks``): its manifest counts their docs,
    tokens, postings and distinct terms, and for every term of the fixed
    query sample the dictionary's df/idf and the decoded posting list
    (doc ids, tfs, doc lengths) equal what the docs imply."""
    from collections import Counter

    from legal_text_retrieval_spark.index import codec

    if not rec["ok"]:
        return
    kind = rec["kind"]
    m = json.loads(Path(root, "manifest.json").read_text())
    want = {"n_docs": len(ids), "total_tokens": sum(map(len, toks)),
            "total_postings": sum(len(set(t)) for t in toks),
            "vocab_size": len(set().union(*map(set, toks)))}
    got = {k: m.get(k) for k in want}
    if got != want:
        ctx.fail(rec, f"{kind}: manifest counts {got} != {want}")
        return
    d = pd.read_parquet(f"{root}/dictionary", columns=["term", "term_id", "df", "idf"],
                        filters=[("term", "in", terms)]).set_index("term")
    post = pd.read_parquet(f"{root}/postings",
                           columns=["term_id", "seg_id", "doc_ids_enc", "tfs_enc", "dls_enc"],
                           filters=[("term_id", "in", [int(x) for x in d["term_id"]])])
    window = m["params"]["segment_doc_window"]
    tf = [Counter(t) for t in toks]
    dls = np.array([len(t) for t in toks])
    for term in terms:
        has = np.array([term in c for c in tf], dtype=bool)
        if not has.any():
            if term in d.index:
                ctx.fail(rec, f"{kind}: term {term!r} in the dictionary but in no doc")
                return
            continue
        df = int(has.sum())
        row = d.loc[term] if term in d.index else None
        if row is None or int(row["df"]) != df or not math.isclose(
                row["idf"], math.log((len(ids) + 1) / df), rel_tol=1e-12):
            ctx.fail(rec, f"{kind}: dictionary entry of {term!r} != df {df}")
            return
        rows = post[post["term_id"] == row["term_id"]].sort_values("seg_id")
        got_ids = np.concatenate([codec.decode_docids(b, int(s) * window)
                                  for s, b in zip(rows["seg_id"], rows["doc_ids_enc"])])
        got_tf = np.concatenate([codec.decode_varint(b) for b in rows["tfs_enc"]]).astype(np.int64)
        got_dl = np.concatenate([codec.decode_varint(b) for b in rows["dls_enc"]]).astype(np.int64)
        want_tf = np.array([c[term] for c, h in zip(tf, has) if h])
        if not (np.array_equal(got_ids, ids[has]) and np.array_equal(got_tf, want_tf)
                and np.array_equal(got_dl, dls[has])):
            ctx.fail(rec, f"{kind}: postings of {term!r} differ from the docs")
            return


class Query:
    """Queries against a built, opened and warmed index: fresh WAND
    top-150 batches and relational top-150 batches (many queries share a
    Spark job), then one-query WAND jobs and the in-process server (one
    query per call; closed loop, one client)."""

    name = "query"
    min_cycles = 1

    def setup(self, ctx: Ctx) -> None:
        ctx.extra["ref_queries"] = ctx.qgen.batch(I.Q_REF, 0, REF_Q, rare=True)
        self.base_pdf = I.corpus(ctx.seed, I.CORPUS, 0, N_DOCS)
        ctx.extra["inputs"] = I.corpus_stats(self.base_pdf, tokenize)
        self.src = ctx.parquet("base", self.base_pdf)
        self.root = str(ctx.work / "index")
        self.batch, self.rel, self.single, self.served = [], [], [], []
        with ctx.span("builder"):
            build_index(ctx.spark, ctx.spark.read.parquet(self.src), self.root, PARAMS, resume=False)
        record_build(ctx, self.root, self.base_pdf["content"])
        self.reopen(ctx)

    def reopen(self, ctx: Ctx) -> None:
        """Open the built index in the current session and run one
        throwaway WAND query."""
        with ctx.span("wand.load"):
            self.idx = wand.FulltextIndex.load(ctx.spark, self.root)
        self.docs = ctx.spark.read.parquet(self.src).select("doc_id", "content").cache()
        self.docs.count()
        with ctx.span("setup.warmup"):
            warm = len(ctx.qgen.seen)  # a new warm-up batch on every reopen
            with query_scope(ctx.spark, keep=(self.docs,)):
                self.wand_fn(ctx.queries(I.Q_WARM, warm, 4, rare=True)[1], K_ONLINE).toPandas()

    def wand_fn(self, qdf, k):
        return wand.query_topk(self.idx, qdf, k=k)

    def rel_fn(self, qdf, k):
        return B.bm25_topk(self.docs, qdf, NORTH_STAR_BM25, k=k, score_round=None)

    def spark_query(self, ctx, kind, stream, n, k, rep, fn, draw=None, rare=False):
        """One timed operator call + collect, in a batch-scoped cache
        lifecycle (``query_scope``, the documented long-lived-session
        usage).  The queries are the (``stream``, ``draw``) batch;
        ``draw`` defaults to the cycle number ``rep``."""
        qpdf, qdf = ctx.queries(stream, rep if draw is None else draw, n, rare)
        got = None
        with ctx.timed(kind, n, rep) as rec:
            with query_scope(ctx.spark, keep=(self.docs,)):
                with ctx.span(f"{kind}.plan"):
                    df = fn(qdf, k)
                with ctx.span(f"{kind}.action"):
                    got = df.toPandas()
        if not well_formed(got, qpdf, k, N_DOCS):
            ctx.fail(rec, f"{kind}: malformed top-{k}")
        return rec, qpdf, got

    def cycle(self, ctx: Ctx, rep: int) -> None:
        self.batch.append(
            self.spark_query(ctx, "wand.batch", I.Q_WAND, WAND_Q, K_BATCH, rep, self.wand_fn,
                             rare=True))
        self.rel.append(self.spark_query(ctx, "bm25", I.Q_REL, REL_Q, K_BATCH, rep, self.rel_fn))
        for i in range(SINGLE_CALLS):
            self.single.append(self.spark_query(ctx, "wand.single", I.Q_SINGLE, 1, K_ONLINE, rep,
                                                self.wand_fn, draw=rep * SINGLE_CALLS + i))
        gc.collect()
        rss0 = _rss_bytes()
        with ctx.timed("serving.load", 0, rep):
            self.srv = serving.LocalIndexServer.load(ctx.spark, self.root)
        ctx.extra.setdefault("serve_rss_mib", (_rss_bytes() - rss0) / 2**20)
        qpdf = ctx.qgen.batch(I.Q_SERVE, rep, SERVE_Q)
        recs: list = []
        with ctx.span("serving.batch"):
            rows = serve_rows(self.srv, qpdf, K_ONLINE, recs)
        for r in recs:
            r["rep"] = rep
        ctx.calls += recs
        self.served.append((recs, qpdf, rows))

    def finish(self, ctx: Ctx) -> None:
        """Untimed checks of every timed output, after the loop:

        - relational == WAND bit for bit on every relational batch, from
          one WAND top-150 batch over those queries and the fixed sample;
        - serving == WAND bit for bit on every WAND batch (top-150) and
          every single query (top-10), the server re-asked;
        - the fixed sample ranks like ``RefBM25`` over the corpus, and
          ``IndexedRef`` scores it bit for bit like ``RefBM25``;
        - every served query (top-10) ranks like ``IndexedRef``.  (A WAND
          batch over all served queries would cost ~25 s a run.)"""
        ref_q = ctx.extra["ref_queries"]
        with ctx.span("check"):
            wand_150 = self.wand_fn(ctx.spark.createDataFrame(
                pd.concat([ref_q, *[q for _, q, _ in self.rel]])), K_BATCH).toPandas()

        def rows_of(got, qpdf):
            return got[got["query_id"].isin(qpdf["query_id"])]

        for rec, qpdf, got in self.rel:
            if rec["ok"] and not same_topk(rows_of(wand_150, qpdf), got):
                ctx.fail(rec, "bm25: relational top-150 != WAND top-150")
        for rec, qpdf, got in self.batch:
            if rec["ok"] and not same_topk(serve_rows(self.srv, qpdf, K_BATCH), got):
                ctx.fail(rec, "wand.batch: serving top-150 != WAND top-150")
        for rec, qpdf, got in self.single:
            if rec["ok"] and not same_topk(serve_rows(self.srv, qpdf, K_ONLINE), got):
                ctx.fail(rec, "wand.single: serving top-10 != WAND top-10")

        toks = [tokenize(c) for c in self.base_pdf["content"]]
        ids = self.base_pdf["doc_id"].to_numpy()
        oracle, fast = RefBM25(toks, NORTH_STAR_BM25), IndexedRef(toks)
        bad = ranks_match_reference(rows_of(wand_150, ref_q), oracle, ids, ref_q, K_BATCH)
        same = all(np.array_equal(oracle.get_scores(tokenize(t)).view(np.int64),
                                  fast.get_scores(tokenize(t)).view(np.int64))
                   for t in ref_q["query_text"])
        if bad or not same:
            ctx.fail(ctx.calls[0], f"reference: {bad or 'IndexedRef scores != RefBM25 scores'}")
        for recs, qpdf, rows in self.served:
            bad = ranks_match_reference(rows, fast, ids, qpdf, K_ONLINE)
            for rec in recs:
                if rec["ok"] and rec["query_id"] in bad:
                    ctx.fail(rec, f"serving.query {rec['query_id']}: {bad[rec['query_id']]}")
        if ctx.trace:
            layer_extras(ctx, self.root, self.base_pdf,
                         pd.concat([q for _, q, _ in self.served])["query_text"],
                         pd.concat([q for _, q, _ in self.batch])["query_text"])

    def probe(self, ctx: Ctx, i: int) -> float:
        """One fresh single-query WAND job: the call the overhead of
        tracing is measured on."""
        _, qdf = ctx.queries(I.Q_SINGLE, 10**6 + i, 1)
        t0 = time.perf_counter()
        with query_scope(ctx.spark, keep=(self.docs,)):
            self.wand_fn(qdf, K_ONLINE).toPandas()
        return time.perf_counter() - t0


def _rss_bytes() -> int:
    import resource

    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * resource.getpagesize()


WORKLOADS = {w.name: w for w in (Ingest, Query)}
