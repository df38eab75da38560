"""Seeded input generator for the benchmark.

Self-contained on purpose: the corpus and queries do not come from the
package's test fixtures, so editing a fixture cannot shift the inputs.

Every draw comes from ``numpy.random.default_rng([seed, stream, rep])``:
the same (seed, stream, rep) always gives the same rows, and different
repetitions give different rows.  ``QueryGen`` also remembers every
query text it handed out in the session and redraws a repeat, so no
timed query is ever seen twice.
"""

from __future__ import annotations

import hashlib
import itertools

import numpy as np
import pandas as pd

# stream ids: one independent RNG stream per kind of input
CORPUS, DELTA, STREAM, DELETE = 1, 2, 3, 4
Q_WAND, Q_REL, Q_SINGLE, Q_SERVE, Q_REF, Q_WARM = 10, 11, 12, 13, 14, 15

_KEYWORDS = (
    "def import class return self if else for while try except lambda yield "
    "async await public static void int string func var val let const new "
    "null true false print len range map filter open close read write append "
    "split join assert raise pass break continue struct impl match case"
).split()
_HEADS = "get set is has make load save parse read build find to from on add".split()
_TAILS = (
    "value name item node list map key index count size path file buffer "
    "state config error result token query table row column user event"
).split()
# Shape parameters.  Doc lengths, Zipf exponent, query lengths and the
# query mix are the ones FIXTURES.md documents for the package's own
# synthetic corpus (fixtures.make_corpus / make_queries), which the
# engine's tests are written against; they are restated here, not
# imported.  The vocabulary size, which that fixture keeps at 500 terms
# for speed, follows Heaps' law M = 44 · T^0.49 with the Reuters-RCV1
# constants of Manning, Raghavan & Schütze, "Introduction to Information
# Retrieval" (2008), §5.1.1, at T = CORPUS_DOCS × the mean doc length.
CORPUS_DOCS = 2_000  # docs in the base corpus of both workloads
ZIPF_S = 1.07
MIN_DOC_LEN, MAX_DOC_LEN = 5, 400  # 5 + 395·u³: mean 103.75 tokens
MIN_QUERY_LEN, MAX_QUERY_LEN = 3, 25
PUNCT_DOC_FRAC = 0.02
VOCAB_SIZE = int(round(44 * (CORPUS_DOCS * (MIN_DOC_LEN + (MAX_DOC_LEN - MIN_DOC_LEN) / 4)) ** 0.49))
LANGS = ("py", "java", "scala", "go", "js")


def _vocabulary(n: int) -> np.ndarray:
    """Keywords first (the Zipf head), then identifier-like terms.  The
    order fixes each term's Zipf rank; it does not depend on the seed."""
    words = list(_KEYWORDS)
    for i in itertools.count():
        if len(words) >= n:
            break
        h, t = _HEADS[i % len(_HEADS)], _TAILS[(i // len(_HEADS)) % len(_TAILS)]
        words.append(f"{h}{t}{i // (len(_HEADS) * len(_TAILS)) or ''}")
    return np.array(words[:n])


VOCAB = _vocabulary(VOCAB_SIZE)
_W = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
ZIPF_P = _W / _W.sum()


def rng(seed: int, stream: int, rep: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, rep])


def corpus(seed: int, stream: int, rep: int, n_docs: int, id_base: int = 0) -> pd.DataFrame:
    """Iceberg-shaped code corpus ``(doc_id, repo, path, commit, lang,
    content)`` with dense ids ``id_base ..``.  Doc lengths 5-400 tokens,
    skewed short (5 + 395·u³); ~2% of docs carry punctuation and doubled
    spaces (the standardize / empty-token path)."""
    r = rng(seed, stream, rep)
    lens = (MIN_DOC_LEN + (MAX_DOC_LEN - MIN_DOC_LEN) * r.random(n_docs) ** 3).astype(np.int64)
    toks = VOCAB[r.choice(VOCAB_SIZE, size=int(lens.sum()), p=ZIPF_P)]
    bounds = np.cumsum(lens)[:-1]
    contents = [" ".join(c) for c in np.split(toks, bounds)]
    for i in np.nonzero(r.random(n_docs) < PUNCT_DOC_FRAC)[0]:
        contents[i] = contents[i].replace(" ", ",  ", 2) + " ."
    ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "repo": [f"org{i % 7}/repo{i % 23}" for i in ids],
            "path": [f"src/m{i % 11}/f{i}.{LANGS[i % 5]}" for i in ids],
            "commit": [hashlib.sha1(f"{seed}-{i}".encode()).hexdigest() for i in ids],
            "lang": [LANGS[i % 5] for i in ids],
            "content": contents,
        }
    )


def delete_ids(seed: int, rep: int, id_space: int, n: int) -> list[int]:
    """``n`` distinct ids scattered over ``[0, id_space)``, sorted."""
    return sorted(int(x) for x in rng(seed, DELETE, rep).choice(id_space, size=n, replace=False))


def _rare_query_text(r: np.random.Generator, qlen: int) -> str:
    """``qlen`` terms drawn uniformly from the rarer half of the
    vocabulary: a handful of docs match, fewer than any top-k asks for."""
    return " ".join(VOCAB[r.integers(VOCAB_SIZE // 2, VOCAB_SIZE, size=qlen)])


def _query_text(r: np.random.Generator, tag: str, qlen: int) -> str:
    toks = list(VOCAB[r.choice(VOCAB_SIZE, size=qlen, p=ZIPF_P)])
    u = r.random()
    if u < 0.20:
        toks[1] = toks[0]  # duplicate occurrence: contributes twice
    elif u < 0.30:
        toks[int(r.integers(qlen))] = f"zq{tag}"  # OOV: idf 0
    text = " ".join(toks)
    if r.random() < 0.10:
        text = text.replace(" ", " ,  ", 1) + " ?"  # empty tokens
    return text


class QueryGen:
    """Query batches keyed by (stream, rep); never repeats a text within
    one generator, so a session that draws all its queries from one
    ``QueryGen`` sees each query once.

    With ``rare``, the first query of a batch is a rare-term query, so
    the batch surely takes the δ-padding path of a query with fewer than
    k matching docs.  Without one, whether a batch pads, and so its
    cost, would turn on the seed: 32 ordinary queries padded on 3 seeds
    in 5, 7 on 1 seed in 30."""

    def __init__(self, seed: int):
        self.seed = seed
        self.seen: set[str] = set()

    def batch(self, stream: int, rep: int, n: int, rare: bool = False) -> pd.DataFrame:
        r = rng(self.seed, stream, rep)
        span = MAX_QUERY_LEN - MIN_QUERY_LEN + 1
        offset = int(r.integers(span))
        ids, texts = [], []
        for j in range(n):
            tag = f"{stream}x{rep}x{j}"
            # lengths spread evenly over the range within a batch, from a
            # random start: a 1-query batch gets a uniform length
            qlen = MIN_QUERY_LEN + (j * span // n + offset) % span
            text = None
            while text is None or text in self.seen:
                text = (_rare_query_text(r, MIN_QUERY_LEN) if rare and j == 0
                        else _query_text(r, tag, qlen))
            self.seen.add(text)
            ids.append(f"q{tag}")
            texts.append(text)
        return pd.DataFrame({"query_id": ids, "query_text": texts})


def corpus_stats(pdf: pd.DataFrame, tokenize) -> dict:
    """docs, tokens, postings, vocabulary and content bytes of a corpus
    (``tokenize`` is the engine's reference tokenizer)."""
    tokens = postings = 0
    vocab: set[str] = set()
    for text in pdf["content"]:
        toks = tokenize(text)
        tokens += len(toks)
        uniq = set(toks)
        postings += len(uniq)
        vocab |= uniq
    return {
        "docs": len(pdf),
        "tokens": tokens,
        "postings": postings,
        "vocabulary": len(vocab),
        "content_bytes": int(sum(len(t.encode()) for t in pdf["content"])),
    }
