"""Keyword retrieval over a document corpus: BM25 top-k.

The lexical-search complement to the ANN operators
(operators/similarity.py) — hybrid retrieval pipelines run both and
fuse. Okapi BM25 with the Lucene-style smoothed idf
(``ln(1 + (N - df + 0.5)/(df + 0.5))``, non-negative), expressed
entirely in DataFrame built-ins with a DuckDB twin for the oracle
gate.

Scale shape (the part that matters at 100 TB):

- corpus stats (N, average token length) are a 1-row aggregate that
  broadcasts;
- documents that share no term with the query are pruned BEFORE the
  explode by an ``arrays_overlap`` filter against the (tiny, literal)
  query-term array — the exploded probe is O(matching docs' tokens),
  not O(corpus tokens);
- per-term document frequencies and per-(doc, term) tfs are map-side-
  combined groupBys; the df table is |query terms| rows and
  broadcasts;
- the final top-k is an ``orderBy(...).limit(k)`` — Spark's
  TakeOrdered, a per-partition heap + driver merge, never a global
  sort — collected eagerly, so the tf cache is released before the
  call returns; the result is a k-row literal frame.

Scores are rounded before ranking and ties break by doc id, so the
top-k is deterministic across engines, cluster sizes and
partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def _terms_of(query: str) -> list[str]:
    out, seen = [], set()
    for t in query.lower().split():
        if t and t not in seen:
            seen.add(t)
            out.append(t)
    return out


def bm25_topk(docs: DataFrame, query: str, k: int = 10,
              k1: float = BM25_K1, b: float = BM25_B,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` documents for ``query`` by BM25. Returns
    (id_col, score) with ``score`` rounded to 4 decimals; ranking is
    (score desc, id asc) — deterministic under float jitter."""
    from kudu_spark.table import _inline_frame

    terms = _terms_of(query)
    rows = _bm25_rows(docs, terms, k, k1, b, text_col, id_col) if terms else []
    if not rows:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    id_type = docs.schema[id_col].dataType.simpleString()
    return _inline_frame(docs.sparkSession, [
        F.struct(F.lit(i).cast(id_type).alias(id_col),
                 F.lit(score).cast("double").alias("score"))
        for i, score in rows])


def _bm25_rows(docs: DataFrame, terms: list[str], k: int, k1: float, b: float,
               text_col: str, id_col: str) -> list:
    """bm25_topk's (id, score) rows, collected; the tf cache is
    released before returning."""
    qarr = F.array(*[F.lit(t) for t in terms])
    toks = F.split(F.lower(F.col(text_col)), " ")
    base = docs.select(F.col(id_col), toks.alias("__t"))

    # 1-row corpus stats (broadcast): N docs, average doc length
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("__t")).alias("avgdl"),
    )

    # prune to docs sharing a term BEFORE exploding
    hits = base.where(F.arrays_overlap(F.col("__t"), qarr))
    # persist the (doc, term, tf) frame: it is referenced twice — the
    # per-term document-frequency aggregate AND the score join — and
    # without materialization Catalyst plans the whole corpus-scan +
    # explode + aggregation subtree once per reference (VERDICT r14
    # #7). The frame is small by construction (only docs passing the
    # arrays_overlap prune, ≤ |query terms| rows each), so one
    # in-memory materialization replaces a second corpus pass; the
    # skew-safe alternative shapes (a count window, or per-term
    # collected postings) would buffer a hot term's full posting list
    # in one task, which this broadcast-join shape never does.
    tf = (
        hits.select(id_col, F.size("__t").alias("dl"),
                    F.explode("__t").alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).persist()
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(df_t), on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (idf * (F.col("tf") * (k1 + 1.0))
             / (F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
             ).alias("__s"),
        )
    )
    topk = (
        per_term.groupBy(id_col)
        .agg(F.round(F.sum("__s"), 4).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )
    # materialise the (k-row) result, then drop the cache: a persisted
    # frame outlives the call, and a later bm25_topk over the same
    # corpus would read the stale cache entry instead of its sources
    try:
        return topk.collect()
    finally:
        tf.unpersist()


def bm25_sql(query: str, k: int = 10, k1: float = BM25_K1,
             b: float = BM25_B) -> str:
    """DuckDB twin of bm25_topk over the ``documents`` view."""
    terms = _terms_of(query)
    # escape embedded quotes: a query like "it's" must interpolate as
    # 'it''s', not break (or inject into) the generated SQL
    tlist = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
    WITH base AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM base
    ),
    tok AS (
      SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM base
    ),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM tok WHERE term IN ({tlist})
      GROUP BY doc_id, dl, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT doc_id,
             sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * (tf * ({k1} + 1.0))
                 / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))) AS s
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, round(s, 4) AS score
    FROM scored
    ORDER BY round(s, 4) DESC, doc_id
    LIMIT {k}
    """


RRF_K = 60


def rrf_fuse(rankings: list[DataFrame], id_col: str = "doc_id",
             k: int = RRF_K) -> DataFrame:
    """Reciprocal-rank fusion of retrieval result lists — the standard
    hybrid-search combiner (lexical BM25 + semantic ANN):
    ``score(d) = Σ_lists 1/(k + rank_d)``, k=60 per Cormack et al.
    Each input is an (``id_col``, ``rank``) frame that is ALREADY
    top-k sized (a retrieval output), so every step here runs over a
    few dozen rows regardless of corpus size — fusion adds zero
    data-sized work. Returns (id, rrf_score, n_lists) with the score
    rounded and ties broken by id: deterministic across engines."""
    from functools import reduce

    u = reduce(
        lambda a, b: a.unionByName(b),
        [df.select(F.col(id_col), F.col("rank")) for df in rankings],
    )
    return (
        u.groupBy(id_col)
        .agg(
            F.round(F.sum(1.0 / (F.lit(float(k)) + F.col("rank"))), 6)
            .alias("rrf_score"),
            F.count(F.lit(1)).alias("n_lists"),
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col))
    )


def with_rank(scored: DataFrame, id_col: str = "doc_id",
              score_col: str = "score") -> DataFrame:
    """Attach a 1-based rank to a (small, top-k sized) scored result
    list: row_number over (score desc, id) — a global window, fine
    here because retrieval outputs are k rows by construction."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(score_col), F.col(id_col))
    return scored.select(id_col, F.row_number().over(w).alias("rank"))
