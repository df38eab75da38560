"""Randomized equivalence: the deficit-padded top-k plan must equal
the dense full-matrix plan rank-for-rank on random corpora/query mixes
(OOV queries, empty-ish docs, duplicate docs, both BM25 variants and
TF-IDF cosine), at several k."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from legal_text_retrieval_spark.config import BM25Params

VOCAB = [f"w{i}" for i in range(25)]


def _random_case(seed: int):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(4, 25))
    docs = []
    for i in range(n_docs):
        ln = int(rng.integers(0, 30))
        toks = list(rng.choice(VOCAB, size=ln)) if ln else [""]
        docs.append({"doc_id": i, "content": " ".join(toks)})
    if n_docs > 6:  # exact duplicate pair → score ties
        docs[3]["content"] = docs[2]["content"]
    queries = []
    for q in range(int(rng.integers(1, 5))):
        kind = rng.integers(0, 3)
        if kind == 0:  # fully OOV
            text = "zzz qqq"
        elif kind == 1:  # common terms (many matches)
            text = " ".join(rng.choice(VOCAB[:5], size=3))
        else:  # mixed + duplicate term
            t = str(rng.choice(VOCAB))
            text = f"{t} {t} zzz"
        queries.append({"query_id": q, "query_text": text})
    k = int(rng.integers(1, n_docs + 3))  # sometimes k > n_docs
    return pd.DataFrame(docs), pd.DataFrame(queries), k


@pytest.mark.parametrize(
    "seed,score_round",
    [
        pytest.param(seed, r, id=str(seed) if r == 6 else f"{seed}-r{r}")
        for r in (6, 2, 1)
        for seed in range(8)
    ],
)
def test_bm25_padded_equals_dense_random(spark, seed, score_round):
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.functions.numeric import round_sql
    from legal_text_retrieval_spark.operators.bm25 import bm25_scores, bm25_topk, topk

    dp, qp, k = _random_case(seed)
    docs, qs = spark.createDataFrame(dp), spark.createDataFrame(qp)
    for variant in ("plus", "okapi"):
        params = BM25Params(variant=variant)
        dense = (
            topk(bm25_scores(docs, qs, params, score_round=score_round), k)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        padded = (
            bm25_topk(docs, qs, params, k=k, score_round=score_round)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert dense.equals(padded), (seed, variant, dense, padded)


@pytest.mark.parametrize("seed", range(4))
def test_tfidf_padded_equals_dense_random(spark, seed):
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.functions.numeric import round_sql
    from legal_text_retrieval_spark.operators.bm25 import topk
    from legal_text_retrieval_spark.operators.tfidf import (
        tfidf_cosine_scores,
        tfidf_cosine_topk,
    )

    dp, qp, k = _random_case(100 + seed)
    docs, qs = spark.createDataFrame(dp), spark.createDataFrame(qp)
    dense = (
        topk(
            tfidf_cosine_scores(docs, qs).withColumn("score", F.expr(round_sql("score", 6))),
            k,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    padded = (
        tfidf_cosine_topk(docs, qs, k=k)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert dense.equals(padded), (seed, dense, padded)
