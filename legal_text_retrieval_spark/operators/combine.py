"""Score-combination operators Q6/Q7 (SURVEY.md §2.4) — the two final
modes of the reference's ``do_classify``
(/root/reference/src/tfidf_classifier.py:44-51).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25Params
from ..functions.numeric import dlit, round_sql
from . import tfidf as TF
from .bm25 import _bm25_pieces, bm25_scores, bm25_topk, topk, topk_padded
from .chunk import keep_first

_COMBINE = "CAST(0.33 AS DOUBLE) * cs + CAST(0.67 AS DOUBLE) * bs / bmax"


def combine_weighted_topk(
    docs: DataFrame,
    queries: DataFrame,
    params: BM25Params,
    k: int,
    text_col: str = "content",
    score_round: int | None = 6,
) -> DataFrame:
    """Q6: final = 0.33·cosine + 0.67·bm25/max(bm25), where max is over
    the WHOLE queries×docs bm25 matrix
    (/root/reference/src/tfidf_classifier.py:44-46).

    Sparse plan: candidates = bm25-matched ∪ tfidf-matched pairs (full
    outer join; the missing side fills with its base — qconst / 0), and
    the global bm25 max is derived IN-PLAN from the matched relation
    (max over queries of qconst + max(ms); bitwise equal to the dense
    max since addition is monotone and unmatched pairs contribute
    qconst + 0).  Every candidate strictly beats the per-query base
    0.67·qconst/bmax, so deficit-padding is rank-exact; each scorer
    runs exactly once (the verdict's double-computation fix)."""
    p = _bm25_pieces(docs, queries, params, text_col=text_col)
    if not p.pad_safe:
        b = bm25_scores(docs, queries, params, text_col=text_col, _pieces=p)
        c = TF.tfidf_cosine_scores(docs, queries, text_col=text_col)
        bmax = b.agg(F.max("score")).collect()[0][0]
        j = (
            b.withColumnRenamed("score", "bs")
            .join(c.withColumnRenamed("score", "cs"), ["query_id", "doc_id"])
            .withColumn(
                "score",
                F.expr(
                    f"CAST(0.33 AS DOUBLE) * cs + CAST(0.67 AS DOUBLE) * bs / {dlit(bmax)}"
                ),
            )
            .select("query_id", "doc_id", "score")
        )
        if score_round is not None:
            j = j.withColumn("score", F.expr(round_sql("score", score_round)))
        return topk(j, k)

    # the matched relation feeds BOTH the bmax derivation and the
    # candidate join — Catalyst does not share subplans, so cache it
    # (MEMORY_AND_DISK default; size = matched pairs, the same relation
    # the old code computed twice)
    p.matched = p.matched.cache()
    qmax = p.matched.groupBy("query_id").agg(F.max("ms").alias("mms"))
    bmax_1 = (
        p.qconst.join(qmax, "query_id", "left")
        .select(
            (F.col("qconst") + F.coalesce(F.col("mms"), F.lit(0.0))).alias("qm")
        )
        .agg(F.max("qm").alias("bmax"))
    )
    bm = p.matched.join(F.broadcast(p.qconst), "query_id").select(
        "query_id", "doc_id", (F.col("qconst") + F.col("ms")).alias("bs")
    )
    cm = TF.tfidf_cosine_matched(docs, queries, text_col=text_col).withColumnRenamed(
        "score", "cs"
    )
    cand = (
        bm.join(cm, ["query_id", "doc_id"], "full")
        .join(F.broadcast(p.qconst), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.coalesce(F.col("bs"), F.col("qconst")).alias("bs"),
            F.coalesce(F.col("cs"), F.lit(0.0)).alias("cs"),
        )
        .crossJoin(F.broadcast(bmax_1))
        .select("query_id", "doc_id", F.expr(_COMBINE).alias("score"))
    )
    base = (
        p.qconst.crossJoin(F.broadcast(bmax_1))
        .select(
            "query_id",
            F.lit(0.0).alias("cs"),
            F.col("qconst").alias("bs"),
            "bmax",
        )
        .select("query_id", F.expr(_COMBINE).alias("base_score"))
    )
    if score_round is not None:
        cand = cand.withColumn("score", F.expr(round_sql("score", score_round)))
        base = base.withColumn("base_score", F.expr(round_sql("base_score", score_round)))
    return topk_padded(cand, base, docs.select("doc_id"), k)


def combine_weighted_topk_sql(
    table: str,
    queries_sql: str,
    params: BM25Params,
    k: int,
    text_col: str = "text",
    score_round: int = 6,
) -> str:
    from .bm25 import bm25_ctes, topk_sql

    return (
        "WITH "
        + bm25_ctes(table, queries_sql, params, text_col)
        + ",\n"
        + TF.cosine_ctes(table, None, text_col)
        + ",\nw_max AS (SELECT max(score) AS m FROM b_scored),\n"
        + "w_scored AS (SELECT query_id, doc_id, "
        + "CAST(0.33 AS DOUBLE) * c.score + CAST(0.67 AS DOUBLE) * b.score / w_max.m AS score "
        + "FROM b_scored b JOIN c_scored c USING (query_id, doc_id), w_max)"
        + topk_sql("w_scored", k, score_round)
    )


def combine_interleave_topk(
    docs: DataFrame,
    queries: DataFrame,
    params: BM25Params,
    k: int,
    text_col: str = "content",
    score_round: int = 6,
) -> DataFrame:
    """Q7: alternate bm25[j], tfidf[j] per rank j, dedup keep-first,
    stop at k (/root/reference/src/utils.py:188-205).  Output
    (query_id, doc_id, rank) — the interleave has no score.

    Both source rank lists use the shared-rounded score so the
    interleave order is engine-independent.
    """
    b = bm25_topk(docs, queries, params, k, score_round=score_round, text_col=text_col).select(
        "query_id", "doc_id", (2 * F.col("rank") - 1).alias("pos")
    )
    t = TF.tfidf_cosine_topk(docs, queries, k, text_col=text_col, score_round=score_round).select(
        "query_id", "doc_id", (2 * F.col("rank")).alias("pos")
    )
    return keep_first(b.unionByName(t)).filter(F.col("rank") <= k)


def combine_interleave_topk_sql(
    table: str,
    queries_sql: str,
    params: BM25Params,
    k: int,
    text_col: str = "text",
    score_round: int = 6,
) -> str:
    from .bm25 import bm25_ctes

    sc = round_sql("score", score_round)
    return f"""WITH {bm25_ctes(table, queries_sql, params, text_col)},
{TF.cosine_ctes(table, None, text_col)},
i_b AS (
  SELECT query_id, doc_id, 2 * rank - 1 AS pos FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY {sc} DESC, doc_id DESC) AS rank
    FROM b_scored) WHERE rank <= {k}),
i_t AS (
  SELECT query_id, doc_id, 2 * rank AS pos FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY {sc} DESC, doc_id DESC) AS rank
    FROM c_scored) WHERE rank <= {k}),
i_first AS (
  SELECT query_id, doc_id, min(pos) AS pos
  FROM (SELECT * FROM i_b UNION ALL SELECT * FROM i_t)
  GROUP BY query_id, doc_id)
SELECT query_id, doc_id, rank FROM (
  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY pos) AS rank
  FROM i_first)
WHERE rank <= {k}
ORDER BY query_id, rank
"""
