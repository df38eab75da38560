"""TF-IDF (sklearn-default semantics) + cosine retrieval + stopword
derivation — A6/A7/A8/Q4 of SURVEY.md §2.

Clones the reference's TfidfVectorizer(ngram_range=(1,2)) stage
(/root/reference/src/tfidf_classifier.py:20-35):

- analyzer: token_pattern \\b\\w\\w+\\b over the standardized string,
  unigrams + adjacent bigrams;
- smooth idf = ln((1+N)/(1+df)) + 1, raw tf, L2 row norm;
- transform drops out-of-vocabulary terms; zero-norm vectors stay zero;
- cosine = sparse dot of normalized vectors = equi-join on term +
  ordered-fold sum per (query, doc) — never a dense Q×D matrix.

All folds are term-ordered (array_sort + aggregate / list ORDER BY +
list_reduce) so Spark and DuckDB agree bit-for-bit before the final
shared rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import dlit, round_sql
from ..functions.sqlgen import sklearn_tokens_sql
from ..functions.text import bigram_expr, sklearn_tokens

_FOLD = "aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v)"


def _analyzed(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, tf) for unigrams + bigrams of the sklearn analyzer."""
    toks = df.select(id_col, sklearn_tokens(F.col(text_col)).alias("t"))
    grams = toks.select(
        id_col, F.explode(F.concat(F.col("t"), bigram_expr("t"))).alias("term")
    )
    return grams.groupBy(id_col, "term").agg(F.count("*").alias("tf"))


def _analyzed_sql(table: str, text_col: str, id_col: str, id_alias: str | None = None) -> str:
    t = sklearn_tokens_sql(text_col)
    ida = id_alias or id_col
    return (
        f"SELECT {id_col} AS {ida}, term, count(*)::BIGINT AS tf FROM ("
        f"  SELECT {id_col}, unnest(list_concat(t, "
        f"    list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])"
        f"  )) AS term FROM (SELECT {id_col}, {t} AS t FROM {table})"
        f") GROUP BY 1, 2"
    )


def tfidf_weights(
    docs: DataFrame, text_col: str = "content", n_docs: int | None = None
) -> DataFrame:
    """(doc_id, term, w) — L2-normalized tf·idf (A6+A7).  ``n_docs``
    lets callers that already know the corpus size skip the count job
    (N must include token-less docs — sklearn counts every document,
    so it cannot be derived from the analyzed relation)."""
    n = docs.count() if n_docs is None else n_docs
    tf = _analyzed(docs, text_col, "doc_id")
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("idf", F.expr(f"ln({dlit(1 + n)} / (1 + df)) + CAST(1.0 AS DOUBLE)"))
    )
    w = tf.join(idf.select("term", "idf"), "term").withColumn("w", F.expr("tf * idf"))
    norms = (
        w.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", (F.col("w") * F.col("w")).alias("v")))).alias("a"))
        .select("doc_id", F.expr(f"sqrt({_FOLD})").alias("norm"))
    )
    return (
        w.join(norms, "doc_id")
        .select("doc_id", "term", F.expr("CASE WHEN norm = 0 THEN CAST(0.0 AS DOUBLE) ELSE w / norm END").alias("w"))
    )


def _weights_sql(table: str, text_col: str, id_col: str, ida: str) -> str:
    """CTE body producing ({ida}, term, w) L2-normalized; vocabulary/idf
    come from the ``idf`` CTE that the caller must define."""
    return f"""
  SELECT tf.{ida}, tf.term, CASE WHEN n.norm = 0 THEN CAST(0.0 AS DOUBLE) ELSE tf.tf * idf.idf / n.norm END AS w
  FROM ({_analyzed_sql(table, text_col, id_col, ida)}) tf
  JOIN idf USING (term)
  JOIN (
    SELECT {ida}, sqrt(list_reduce(list_prepend(0.0::DOUBLE, list(v ORDER BY term)), (a, b) -> a + b)) AS norm
    FROM (SELECT tf2.{ida}, tf2.term, (tf2.tf * idf.idf) * (tf2.tf * idf.idf) AS v
          FROM ({_analyzed_sql(table, text_col, id_col, ida)}) tf2 JOIN idf USING (term))
    GROUP BY {ida}
  ) n USING ({ida})
"""


def tfidf_weights_sql(table: str, text_col: str = "text") -> str:
    return f"""
WITH n AS (SELECT count(*)::DOUBLE AS n FROM {table}),
tfd AS ({_analyzed_sql(table, text_col, "doc_id")}),
idf AS (SELECT term, ln((1 + n.n) / (1 + df)) + CAST(1.0 AS DOUBLE) AS idf
        FROM (SELECT term, count(*) AS df FROM tfd GROUP BY term), n)
SELECT doc_id, term, {round_sql("w", 9)} AS w FROM ({_weights_sql(table, text_col, "doc_id", "doc_id")})
ORDER BY doc_id, term
"""


def tfidf_cosine_matched(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "content",
    query_col: str = "query_text",
    n_docs: int | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) for term-MATCHED pairs only (Q4 sparse
    kernel).  Every emitted score is strictly > 0: idf ≥ 1, so a doc or
    query with any in-vocabulary term has norm > 0, and a matched pair
    shares at least one such term — unmatched pairs (implicit score 0)
    are therefore always outranked, which makes deficit-padding
    rank-exact (see tfidf_cosine_topk).

    One ``_analyzed(docs)`` pass feeds df/idf, doc weights and the dot
    products (the fit and the transform share the scan; cached because
    Catalyst does not share the subtree across its three consumers).
    ``n_docs``: see tfidf_weights."""
    n = docs.count() if n_docs is None else n_docs
    tfd = _analyzed(docs, text_col, "doc_id").cache()
    idf = (
        tfd.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("idf", F.expr(f"ln({dlit(1 + n)} / (1 + df)) + CAST(1.0 AS DOUBLE)"))
    )
    wd = tfd.join(idf.select("term", "idf"), "term").withColumn("w", F.expr("tf * idf"))
    dnorms = (
        wd.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", (F.col("w") * F.col("w")).alias("v")))).alias("a"))
        .select("doc_id", F.expr(f"sqrt({_FOLD})").alias("norm"))
    )
    dwn = wd.join(dnorms, "doc_id").select(
        "doc_id",
        "term",
        F.expr("CASE WHEN norm = 0 THEN CAST(0.0 AS DOUBLE) ELSE w / norm END").alias("wd"),
    )
    # query side: same vocabulary/idf as the corpus fit
    tfq = _analyzed(queries, query_col, "query_id")
    wq = tfq.join(F.broadcast(idf.select("term", "idf")), "term").withColumn(
        "w", F.expr("tf * idf")
    )
    qnorms = (
        wq.groupBy("query_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", (F.col("w") * F.col("w")).alias("v")))).alias("a"))
        .select("query_id", F.expr(f"sqrt({_FOLD})").alias("norm"))
    )
    wqn = wq.join(qnorms, "query_id").select(
        "query_id",
        "term",
        F.expr("CASE WHEN norm = 0 THEN CAST(0.0 AS DOUBLE) ELSE w / norm END").alias("wq"),
    )
    # repartition by query_id so the aggregation and the downstream
    # top-k window share one exchange (bm25._bm25_pieces pattern)
    return (
        wqn.join(dwn, "term")
        .withColumn("v", F.expr("wq * wd"))
        .repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "v"))).alias("a"))
        .select("query_id", "doc_id", F.expr(_FOLD).alias("score"))
    )


def tfidf_cosine_scores(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "content",
    query_col: str = "query_text",
) -> DataFrame:
    """(query_id, doc_id, score) over ALL (query, doc) pairs (Q4) —
    the dense oracle form; retrieval goes through tfidf_cosine_topk's
    padded plan instead."""
    dots = tfidf_cosine_matched(docs, queries, text_col, query_col).withColumnRenamed(
        "score", "cos"
    )
    return (
        docs.select("doc_id")
        .crossJoin(queries.select("query_id"))
        .join(dots, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            F.coalesce(F.col("cos"), F.lit(0.0)).alias("score"),
        )
    )


def cosine_ctes(table: str, queries_sql: str | None, text_col: str = "text") -> str:
    """Comma-joined DuckDB CTEs defining ``c_scored(query_id, doc_id,
    score)`` (unrounded full matrix).  Pass ``queries_sql=None`` when a
    ``q`` CTE is already defined by the caller (composition with
    bm25_ctes)."""
    qcte = f"q AS ({queries_sql}),\n" if queries_sql is not None else ""
    return f"""{qcte}c_n AS (SELECT count(*)::DOUBLE AS n FROM {table}),
c_tfd AS ({_analyzed_sql(table, text_col, "doc_id")}),
idf AS (SELECT term, ln((1 + c_n.n) / (1 + df)) + CAST(1.0 AS DOUBLE) AS idf
        FROM (SELECT term, count(*) AS df FROM c_tfd GROUP BY term), c_n),
c_dw AS ({_weights_sql(table, text_col, "doc_id", "doc_id")}),
c_qw AS ({_weights_sql("q", "query_text", "query_id", "query_id")}),
c_dots AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(v ORDER BY term)), (a, b) -> a + b) AS cos
  FROM (SELECT c_qw.query_id, c_dw.doc_id, c_dw.term, c_qw.w * c_dw.w AS v FROM c_qw JOIN c_dw USING (term))
  GROUP BY query_id, doc_id),
c_scored AS (
  SELECT q.query_id, d.doc_id, COALESCE(c_dots.cos, CAST(0.0 AS DOUBLE)) AS score
  FROM (SELECT DISTINCT doc_id FROM {table}) d CROSS JOIN (SELECT query_id FROM q) q
  LEFT JOIN c_dots USING (query_id, doc_id))"""


def tfidf_cosine_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int,
    score_round: int | None = 6,
    **kw,
) -> DataFrame:
    """Q4 retrieval: deficit-padded top-k over the sparse matched
    kernel — unmatched pairs (score 0) never materialize; queries with
    fewer than k matches are padded by bm25.topk_padded.  Matched
    scores are strictly positive (see tfidf_cosine_matched), the
    topk_padded precondition."""
    from .bm25 import topk_padded

    matched = tfidf_cosine_matched(docs, queries, **kw)
    if score_round is not None:
        matched = matched.withColumn("score", F.expr(round_sql("score", score_round)))
    base = queries.select("query_id", F.lit(0.0).alias("base_score"))
    return topk_padded(matched, base, docs.select("doc_id"), k)


def tfidf_cosine_topk_sql(
    table: str, queries_sql: str, k: int, text_col: str = "text", score_round: int = 6
) -> str:
    from .bm25 import topk_sql

    return "WITH " + cosine_ctes(table, queries_sql, text_col) + topk_sql("c_scored", k, score_round)


def stopwords_low_tfidf(docs: DataFrame, threshold: float = 0.02, text_col: str = "content") -> DataFrame:
    """A8: any term whose normalized weight is < threshold in ANY doc
    vector (EXISTS semantics —
    /root/reference/src/stopwords_tfidf_generator.py:16-24)."""
    return (
        tfidf_weights(docs, text_col)
        .filter(F.expr(f"w < {dlit(threshold)}"))
        .select("term")
        .distinct()
    )


def stopwords_low_tfidf_sql(table: str, threshold: float = 0.02, text_col: str = "text") -> str:
    return f"""
WITH n AS (SELECT count(*)::DOUBLE AS n FROM {table}),
tfd AS ({_analyzed_sql(table, text_col, "doc_id")}),
idf AS (SELECT term, ln((1 + n.n) / (1 + df)) + CAST(1.0 AS DOUBLE) AS idf
        FROM (SELECT term, count(*) AS df FROM tfd GROUP BY term), n)
SELECT DISTINCT term FROM ({_weights_sql(table, text_col, "doc_id", "doc_id")})
WHERE w < {dlit(threshold)} ORDER BY term
"""
