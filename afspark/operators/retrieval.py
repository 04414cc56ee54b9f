"""BM25 ranked retrieval over the document corpus — pure Catalyst.

The webtext pipeline's standard relevance scorer (Robertson/Sparck Jones
BM25, the +1 idf variant Lucene uses so scores stay positive):

    score(d, q) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    idf(t)      = ln((N - df + 0.5) / (df + 0.5) + 1)

Shape chosen for 100 TB, not translated from an inverted index:

* Per-doc stats need no shuffle: each doc's tokens stay an in-row
  array (no explode), and dl plus one tf_t column per query term (the
  terms are a tiny fixed set) are array aggregates in one projection.
  No (doc x term) posting table, no doc-keyed join.
* Corpus stats (N, avgdl, df per term) reduce the per-doc frame to ONE
  row, cross-joined back as a broadcast — no second pass over the
  tokens.
* Top-k runs through TakeOrderedAndProject on the ROUNDED score (1e-6)
  with doc_id as tie-break, so the cut is reproducible across engines
  and partitionings (raw float order near the k-boundary is not).

Tokenization matches the corpus-vocabulary scan (text.top_terms /
SURVEY.md §2 text ops): lower, split on [^a-z0-9]+, length >= min_len.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 100,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 3,
) -> DataFrame:
    """Top-k docs by BM25 score for a fixed query-term set.

    Returns (doc_id, dl, n_matched, score6) — score6 is the score
    rounded half-up at 1e-6, the column the top-k orders on.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))

    # ZERO-shuffle per-doc stats: tokenization stays an ARRAY inside the
    # row (no explode) and dl / per-term tfs are array aggregates in one
    # whole-stage-codegen projection.  The previous explode + groupBy
    # shuffled ~token-count rows just to count them back per doc; row
    # values are identical (same split regex, same length filter, absent
    # docs naturally read dl = 0 = the old left-join + na.fill).
    toks_arr = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: F.length(t) >= min_len,
    )
    tf_cols = [
        F.size(F.filter(F.col("_ts"), lambda x: x == F.lit(t))).cast("long").alias(
            f"tf_{i}"
        )
        for i, t in enumerate(terms)
    ]
    base = docs.select(F.col(id_col), toks_arr.alias("_ts")).select(
        F.col(id_col), F.size("_ts").cast("long").alias("dl"), *tf_cols
    )

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    scored = base.filter(
        sum(F.col(f"tf_{i}") for i in range(len(terms))) > 0
    ).crossJoin(F.broadcast(stats))

    def _term_score(i: int):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf_{i}").cast("double")
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        return idf * tf * (k1 + 1.0) / denom

    score = sum(_term_score(i) for i in range(len(terms)))
    n_matched = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(terms))
    )
    out = scored.select(
        F.col(id_col),
        F.col("dl").cast("long").alias("dl"),
        n_matched.cast("long").alias("n_matched"),
        (F.floor(score * 1e6 + F.lit(0.5)) / 1e6).alias("score6"),
    )
    return out.orderBy(F.col("score6").desc(), F.col(id_col)).limit(k)
