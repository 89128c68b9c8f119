"""Term salience scoring over a document corpus: TF-IDF top-k terms.

Training-data curation wants "what is this document about" signals that
survive 100 TB: term frequencies, document frequencies, and a per-doc
top-k of salient terms.  This module computes them with three hash
aggregations and one window — no Python anywhere in the plan — using the
package's single tokenization rule (``dedup.words_frag``: lowercase,
ASCII-whitespace split, drop empties) so TF-IDF, dedup shingles, and the
text features all agree on what a "word" is.

Scoring uses the LINEAR-idf variant ``tf * N / df`` rather than
``tf * ln(N/df)``: for a fixed corpus size N the two rank terms within a
document identically (ln is monotone in N/df), but ln is the one
arithmetic primitive whose last-ulp rounding differs across libm
implementations (java.lang.Math.log vs C libm), which would break the
repo's exact cross-engine oracle contract.  Integer products and one
IEEE division are bit-identical on every engine; the published 4-decimal
score goes through the pinned HALF_UP rounding twins
(``text.spark_round_frag_duck``).  Rank ties after rounding break on the
term string, so the output is fully deterministic.

Scale shape (100 TB corpus):
- one scan of the corpus, words exploded JVM-side (generator codegen);
- ``tf``: hash aggregate on (doc, term) — map-side partial combine;
- ``df``: hash aggregate on term over the already-distinct (doc, term)
  rows of ``tf`` — NOT a count(distinct) over raw words, which would
  shuffle every occurrence;
- tf |><| df is a shuffle hash join on the term key (the vocabulary of a
  web corpus is ~10^8 terms — too big to broadcast, and ``df``'s
  aggregation already partitioned it by term);
- the per-doc top-k window repartitions by doc once; k rows per doc out.

The corpus size N is taken with one ``count()`` action (or passed via
``n_docs`` by callers that already know it — same hint contract as
``embedding_similar_pairs``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._batch import top_k
from .dedup import words_frag

__all__ = [
    "ngram_commonness",
    "ngram_commonness_sql",
    "tfidf_topk_terms",
    "tfidf_topk_terms_sql",
]


def tfidf_topk_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_df: int = 2,
    max_df_ratio: float | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` salient terms per document:
    ``(doc_id, term, tf, df, tfidf, rank)``.

    ``tf`` = occurrences of term in doc, ``df`` = number of docs
    containing term, ``tfidf = round(tf * N / df, 4)`` (linear idf — see
    module docstring), ``rank`` = 1..k ordered by tfidf desc, term asc.
    Terms with ``df < min_df`` are dropped (hapaxes are noise, and the
    floor also caps the join's vocabulary size); ``max_df_ratio`` drops
    near-ubiquitous terms (``df > floor(ratio * N)``), the classic
    stopword cut.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_df < 1:
        raise ValueError("min_df must be >= 1")
    # NULL-id rows are dropped on BOTH engines: keeping them would let
    # the NULL doc contribute to df while count(DISTINCT) excludes it
    # from N — an inconsistent corpus definition and a cross-engine
    # divergence (SQL count(DISTINCT) skips NULL, a Spark
    # distinct().count() would not)
    df = df.where(F.col(id_col).isNotNull())
    if n_docs is None:
        n_docs = df.select(id_col).distinct().count()
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(words_frag(text_col, "spark"))).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_df)
    )
    if max_df_ratio is not None:
        dfreq = dfreq.where(F.col("df") <= math.floor(max_df_ratio * n_docs))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        # ((tf * N) * 1.0) / df — int64-exact product, one IEEE divide;
        # operand order mirrored in the SQL twin
        F.expr(f"round(tf * {n_docs}L * 1.0D / df, 4)").alias("tfidf"),
    )
    order = [F.col("tfidf").desc(), F.col("term").asc()]
    return top_k(scored, ["doc_id"], order, k, "rank")


def tfidf_topk_terms_sql(
    table: str,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_df: int = 2,
    max_df_ratio: float | None = None,
) -> str:
    """DuckDB twin.  N comes from a scalar subquery over the same table,
    so the SQL stays self-contained at any scale factor; the ratio cut
    replicates the float64 ``floor(ratio * N)`` arithmetic exactly."""
    from ..functions.text import spark_round_frag_duck

    w = words_frag(text_col, "duck")
    maxdf = (
        f"AND df <= floor({max_df_ratio!r}::DOUBLE * n.n_docs)"
        if max_df_ratio is not None
        else ""
    )
    score = spark_round_frag_duck("tf.tf * n.n_docs * 1.0::DOUBLE / d.df", 4)
    return f"""
        WITH words AS (
            SELECT {id_col} AS doc_id, unnest({w}) AS term FROM {table}
            WHERE {id_col} IS NOT NULL
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2
        ), n AS (
            SELECT count(DISTINCT {id_col}) AS n_docs FROM {table}
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1
            HAVING count(*) >= {min_df}
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, d.df,
                   {score} AS tfidf
            FROM tf JOIN dfreq d USING (term) CROSS JOIN n
            WHERE TRUE {maxdf}
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term
            ) AS rank
            FROM scored
        )
        SELECT doc_id, term, tf, df, tfidf, rank
        FROM ranked WHERE rank <= {k}
    """


def ngram_commonness(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    persist_grams: bool = True,
) -> DataFrame:
    """Corpus-statistics document scoring — the integer-exact analog of
    LM/perplexity filtering (CCNet-style): score every document by how
    COMMON its word n-grams are across the whole corpus.  A document
    whose n-grams are frequent corpus-wide reads like typical text (low
    "perplexity"); one full of hapax n-grams (seen nowhere else) is
    boilerplate, garbled, or unique — the standard keep/flag signal.

    Why counts, not log-probabilities: a true LM score sums ``ln p`` —
    and ``ln`` is the arithmetic primitive whose last-ulp rounding
    differs across libm implementations, which would break the repo's
    exact cross-engine oracle contract (same reasoning as the linear-idf
    choice above).  Summed integer corpus frequencies rank documents by
    the same signal and hash exactly on every engine.

    Returns one row per non-NULL-text document:

        doc          the id
        n_grams      n-gram OCCURRENCES in the doc (multiplicity kept —
                     the per-occurrence LM analogy; 0 for docs shorter
                     than n words)
        commonness   sum over occurrences of the corpus-wide occurrence
                     count of that n-gram (>= n_grams; == n_grams iff
                     every n-gram is unique corpus-wide)
        n_hapax      occurrences whose n-gram appears exactly once in
                     the corpus (i.e. only here)

    N-grams are compared by the package polynomial hash (FP_MOD
    arithmetic, cross-engine exact); as with the inverted-index join,
    hash collisions merge two n-grams' counts deterministically and
    identically on every engine.

    Scale shape (100 TB): explode n-gram hashes JVM-side (bounded
    replication, ~1 row per word), ONE hash aggregate on the n-gram key
    (map-side combine), one shuffle hash join back on that key (the
    n-gram vocabulary is too big to broadcast — same posture as the
    tf |><| df join), one hash aggregate on the doc key.  No Python
    anywhere in the plan.

    ``persist_grams``: the exploded (doc, h) table feeds BOTH the
    corpus-frequency aggregate and the join probe side, and the two
    exchanges carry different payloads so Spark's exchange reuse cannot
    deduplicate them — without the persist the scan + tokenize +
    explode lineage evaluates twice.  The cached rows are two int64s
    per n-gram occurrence (~1 per word of corpus), registered in the
    module release registry (``release_dedup_caches``); pass False to
    trade the recompute for zero cache footprint on huge corpora.
    """
    from .dedup import _register_persisted, shingle_hash_frag, shingles_frag

    sh = shingles_frag(text_col, n, "spark", distinct=False)
    hashes = f"transform({sh}, s -> {shingle_hash_frag('s', 'spark')})"
    base = df.where(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    )
    ex = base.select(
        F.col(id_col).alias("doc"), F.explode(F.expr(hashes)).alias("h")
    )
    if persist_grams:
        ex = _register_persisted(ex.persist())
    cf = ex.groupBy("h").agg(F.count(F.lit(1)).alias("_cf"))
    scored = (
        ex.join(cf, "h")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("_cf").cast("long").alias("commonness"),
            F.sum((F.col("_cf") == 1).cast("int")).cast("long").alias(
                "n_hapax"
            ),
        )
    )
    ids = base.select(F.col(id_col).alias("doc"))
    return ids.join(scored, "doc", "left").select(
        "doc",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("commonness", F.lit(0)).alias("commonness"),
        F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
    )


def ngram_commonness_sql(
    table: str, text_col: str, id_col: str, n: int = 2
) -> str:
    """DuckDB twin of ngram_commonness (same hash, same arithmetic)."""
    from .dedup import shingle_hash_frag, shingles_frag

    sh = shingles_frag(text_col, n, "duck", distinct=False)
    hf = shingle_hash_frag("s", "duck")
    return f"""
        WITH base AS (
            SELECT {id_col} AS doc, {sh} AS sh FROM {table}
            WHERE {text_col} IS NOT NULL AND {id_col} IS NOT NULL
        ), ex AS (
            SELECT doc, unnest(list_transform(sh, s -> {hf})) AS h
            FROM base
        ), cf AS (
            SELECT h, count(*) AS _cf FROM ex GROUP BY h
        ), g AS (
            SELECT doc, count(*) AS n_grams,
                   CAST(sum(_cf) AS BIGINT) AS commonness,
                   CAST(sum(CASE WHEN _cf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hapax
            FROM ex JOIN cf USING (h) GROUP BY doc
        )
        SELECT b.doc,
               coalesce(g.n_grams, 0) AS n_grams,
               coalesce(g.commonness, 0) AS commonness,
               coalesce(g.n_hapax, 0) AS n_hapax
        FROM base b LEFT JOIN g USING (doc)
    """
