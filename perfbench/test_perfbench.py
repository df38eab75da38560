"""Unit tests of the benchmark's own code (no Spark):

    python -m pytest perfbench/test_perfbench.py -q

- the traced-run parser on a hand-written event log and span list;
- the input generator: deterministic per seed, fresh per repetition,
  no query text ever repeats within a session;
- the indexed reference scorer the served-query check uses scores
  bit for bit like ``RefBM25``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import inputs as I  # noqa: E402
from spans import Trace, read_event_log, self_times  # noqa: E402

T0 = 1_000.0  # epoch seconds of the hand-written timeline


def _span(sid, name, parent, start, end, **attrs):
    return {"id": sid, "name": name, "parent": parent, "op": 0,
            "start": T0 + start, "end": T0 + end, **attrs}


# one timed call: [0, 10] s, with its plan [0, 6] and action [6, 10]
SPANS = [
    _span(0, "wand.batch", None, 0.0, 10.0, timed=True, rep=0),
    _span(1, "wand.batch.plan", 0, 0.0, 6.0),
    _span(2, "wand.batch.action", 0, 6.0, 10.0),
    _span(3, "check", None, 12.0, 14.0),
]


def _job(jid, submit, end, stages, ok=True):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": int((T0 + submit) * 1e3),
         "Stage IDs": stages, "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": int((T0 + end) * 1e3),
         "Job Result": {"Result": "JobSucceeded" if ok else "JobFailed"}},
    ]


def _task(stage, launch, finish, shuffle=0, spill=0, py=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": int((T0 + launch) * 1e3), "Finish Time": int((T0 + finish) * 1e3),
                      "Failed": failed,
                      "Accumulables": [{"Name": "data sent to Python workers", "Update": py},
                                       {"Name": "data returned from Python workers", "Update": py}]},
        "Task Metrics": {"Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                         "Output Metrics": {"Bytes Written": 0}},
    }


EVENTS = [
    # plan: two probe jobs, [1, 2] and [3, 5] — the second submitted from
    # another thread while the plan span is open
    *_job(0, 1.0, 2.0, [0]),
    *_job(1, 3.0, 5.0, [1]),
    # action: one job [6, 9] whose stage list also names stage 1 (reused,
    # skipped): its tasks must stay with job 1
    *_job(2, 6.0, 9.0, [1, 2]),
    # a check job, outside the timed call
    *_job(3, 12.5, 13.0, [3]),
    _task(0, 1.0, 2.0, shuffle=100),
    _task(1, 3.0, 5.0, shuffle=50, spill=7),
    _task(1, 3.0, 4.0, shuffle=50),
    _task(2, 6.0, 9.0, py=10),
    _task(2, 6.0, 7.0, py=5),
    _task(2, 6.0, 7.0),
    _task(3, 12.5, 13.0, failed=True),
]


@pytest.fixture()
def trace(tmp_path):
    log = tmp_path / "events_1_local-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    jobs, tasks = read_event_log(log)
    return Trace(SPANS, jobs, tasks, cores=4)


def test_jobs_go_to_the_innermost_span_open_at_submission(trace):
    assert trace.job_span == {0: 1, 1: 1, 2: 2, 3: 3}
    # a stage listed by a later job runs in the first job that lists it
    assert trace.stage_job == {0: 0, 1: 1, 2: 2, 3: 3}


def test_self_time_is_duration_minus_child_coverage():
    st = self_times(SPANS)
    assert st[0] == pytest.approx(0.0)  # plan + action cover the call
    assert st[1] == pytest.approx(6.0)
    assert st[3] == pytest.approx(2.0)
    partial = [_span(0, "a", None, 0.0, 10.0), _span(1, "b", 0, 1.0, 4.0),
               _span(2, "c", 0, 3.0, 6.0)]  # children overlap on [3, 4]
    assert self_times(partial)[0] == pytest.approx(10.0 - 5.0)


def test_plan_action_split(trace):
    assert trace.plan_action([0]) == pytest.approx(
        {"plan_s": 6.0, "plan_jobs": 2, "action_s": 4.0, "action_jobs": 1})


def test_call_stats(trace):
    st = trace.span_stats([0])
    assert st["jobs"] == 3 and st["tasks"] == 6
    assert st["shuffle_bytes"] == 200 and st["spill_bytes"] == 7
    assert st["python_bytes"] == 2 * (10 + 5)
    # Σ task time 1+2+1+3+1+1 = 9 s over 10 s × 4 cores
    assert st["busy_frac"] == pytest.approx(9.0 / 40.0)
    # jobs run during [1,2] ∪ [3,5] ∪ [6,9] = 6 s of the 10 s call
    assert st["driver_only_frac"] == pytest.approx(0.4)
    # costliest stage is 2 (5 s of tasks): max 3 s / median 1 s
    assert st["task_skew"] == pytest.approx(3.0)
    assert st["failed_tasks"] == 0
    assert trace.span_stats([3])["failed_tasks"] == 1


# ------------------------------------------------------------------ inputs


def test_inputs_depend_only_on_seed_and_repetition():
    a = I.corpus(7, I.CORPUS, 0, 200)
    assert a.equals(I.corpus(7, I.CORPUS, 0, 200))
    assert not a["content"].equals(I.corpus(7, I.CORPUS, 1, 200)["content"])
    assert not a["content"].equals(I.corpus(8, I.CORPUS, 0, 200)["content"])
    assert I.QueryGen(7).batch(I.Q_WAND, 3, 50).equals(I.QueryGen(7).batch(I.Q_WAND, 3, 50))
    assert I.delete_ids(7, 0, 1000, 20) == I.delete_ids(7, 0, 1000, 20)
    assert I.delete_ids(7, 0, 1000, 20) != I.delete_ids(7, 1, 1000, 20)


def test_no_query_repeats_within_a_session():
    """Every batch a session can draw — warm-up, timed, check sample —
    is new: identical plans would replay cached operator output."""
    gen = I.QueryGen(3)
    texts, ids = [], []
    for rep in range(12):
        draws = [(I.Q_WAND, rep, 16, True), (I.Q_REL, rep, 4, False), (I.Q_SERVE, rep, 1000, False),
                 (I.Q_WARM, rep, 4, True), *[(I.Q_SINGLE, rep * 2 + i, 1, False) for i in range(2)]]
        for stream, draw, n, rare in draws:
            b = gen.batch(stream, draw, n, rare)
            texts += b["query_text"].tolist()
            ids += b["query_id"].tolist()
    texts += gen.batch(I.Q_REF, 0, 6, rare=True)["query_text"].tolist()
    assert len(set(texts)) == len(texts)
    assert len(set(ids)) == len(ids)


def test_corpus_and_query_shapes():
    from legal_text_retrieval_spark.oracle.reference_scorer import standardize_data, ws_split

    pdf = I.corpus(5, I.CORPUS, 0, 2000, id_base=100)
    assert pdf["doc_id"].tolist() == list(range(100, 2100))
    lens = pdf["content"].str.count(" ") + 1
    assert lens.min() >= 5 and lens.max() <= 400 + 4  # punctuated docs add a few
    assert pdf["content"].str.contains("  ").any()  # empty-token path
    head = sum(t == I.VOCAB[0] for c in pdf["content"] for t in c.split(" "))
    assert head > 0.05 * lens.sum()  # heavy head term
    q = I.QueryGen(5).batch(I.Q_WAND, 0, 400, rare=True)
    toks = [ws_split(standardize_data(t)) for t in q["query_text"]]
    rare = set(I.VOCAB[I.VOCAB_SIZE // 2:])
    assert set(toks[0]) <= rare and len(toks[0]) == I.MIN_QUERY_LEN  # the batch's rare-term query
    n_words = q["query_text"].str.split().map(len)  # punctuation adds a "," and a "?"
    assert n_words.min() == I.MIN_QUERY_LEN and n_words.max() <= I.MAX_QUERY_LEN + 2
    assert any(t[0] == t[1] for t in toks)  # duplicate term
    assert q["query_text"].str.contains("zq").any()  # OOV term
    assert any("" in t for t in toks)  # punctuation → empty token
    stats = I.corpus_stats(pdf.iloc[:50], lambda s: ws_split(standardize_data(s)))
    assert set(stats) == {"docs", "tokens", "postings", "vocabulary", "content_bytes"}
    assert stats["docs"] == 50 and stats["postings"] <= stats["tokens"]


def test_indexed_reference_scores_like_the_reference():
    from workloads import IndexedRef, tokenize

    from legal_text_retrieval_spark.config import NORTH_STAR_BM25
    from legal_text_retrieval_spark.oracle.reference_scorer import RefBM25

    toks = [tokenize(c) for c in I.corpus(9, I.CORPUS, 0, 300)["content"]]
    ref, fast = RefBM25(toks, NORTH_STAR_BM25), IndexedRef(toks)
    for text in I.QueryGen(9).batch(I.Q_SERVE, 0, 40)["query_text"]:
        a, b = ref.get_scores(tokenize(text)), fast.get_scores(tokenize(text))
        assert (a.view("int64") == b.view("int64")).all()
