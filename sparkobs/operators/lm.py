"""N-gram language-model scoring for corpus quality filtering.

The CCNet/CC-100 curation shape: train n-gram counts over a (trusted
or self-) corpus, score every document by per-token perplexity, then
bucket/filter on the score. Re-expressed relationally: the "model" is
a counts DataFrame, "training" is a hash aggregation, and "scoring"
is a join of document n-grams against the counts — all JVM-side
expression work, no UDFs, so the same pipeline runs unchanged whether
the model table has 10^4 or 10^10 rows.

Scale notes (100 TB corpus):
- doc-bigram extraction is a narrow 1→N explode (no shuffle);
- model training is one hash agg keyed by the bigram (map-side
  partial combine absorbs the Zipf head before the shuffle);
- scoring joins shuffle on the bigram / context keys; hot function
  words make those keys skewed, which AQE's skew-join splitting
  handles (on by default in :mod:`sparkobs.session`) — at extreme
  scale, broadcast the model head (top-p% most frequent n-grams cover
  almost all occurrences) and shuffle only the tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkobs.operators.text import tokens_nonempty


def doc_bigrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per bigram OCCURRENCE: (id, w1, w2), document order not
    retained (scoring is order-free). Documents with fewer than two
    tokens produce no rows — they have no bigram evidence to score.

    The pair array is ``zip_with(t[1:n-1], t[2:n-1])``, NOT
    ``transform(sequence(...), i -> element_at(t, i))``: a lambda body
    re-evaluates its free subexpressions per ELEMENT inside
    GenerateExec, so the element_at form re-tokenizes the document for
    every bigram — measured O(tokens²) per doc (7.4 s → 0.6 s at sf0.1
    for the extraction). zip_with's inputs are evaluated once per row.
    """
    t = tokens_nonempty(text_col)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(t, 1, n1),
        F.slice(t, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(pairs).alias("b")
    ).select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))


def train_bigram_model(bg: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigram counts c12, context counts c1, 1-row vocab size) from a
    :func:`doc_bigrams` output. c1 is derived from c12 (sum of the
    already-aggregated counts — never a second pass over the corpus);
    the vocabulary is the count of distinct CONTEXTS (first-position
    words), which is what add-alpha smoothing normalizes over."""
    # checkpointed (bigram-vocabulary-sized): c12 feeds the context
    # counts AND the scoring join, and c1 feeds the vocab size AND the
    # join — lazy, each reference re-ran the corpus bigram extraction
    # (r13 scan audit: 4 source scans in the self-train plan; 2 after,
    # the train and score passes themselves)
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("vocab_size"))
    return c12, c1, vocab


def bigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document bigram perplexity under an add-alpha-smoothed
    model: ``p(w2|w1) = (c(w1,w2)+α) / (c(w1)+α·V)``, perplexity =
    ``exp(-mean(ln p))`` over the document's bigram occurrences.

    The model self-trains on ``df`` (the corpus scores itself — the
    unsupervised outlier-detection mode).
    """
    bg = doc_bigrams(df, id_col, text_col)
    c12, c1, vocab = train_bigram_model(bg)
    logp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + alpha)
        / (F.coalesce(F.col("c1"), F.lit(0)) + alpha * F.col("vocab_size"))
    )
    scored = (
        bg.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("id", logp.alias("lp"))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(-F.avg("lp"), 4).alias("avg_nll"),
        F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
    ).select(F.col("id").alias(id_col), "n_bigrams", "avg_nll", "ppl")
