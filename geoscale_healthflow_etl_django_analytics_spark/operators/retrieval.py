"""Ranked retrieval + corpus language models (BM25, bigram LM).

Own module rather than operators/textops.py so the quality-layer
module's bytes — in the code path of the profile/langid/tfidf/topk
queries — stay untouched by this round's additions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.exact import fround

BM25_K1 = 1.2  # term-frequency saturation
BM25_B = 0.75  # document-length normalization
ADD_K = 0.5  # Lidstone smoothing of the bigram LM


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009; the Lucene
    idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))`` so scores stay
    non-negative) over the corpus for a fixed bag of query terms —
    the retrieval primitive behind query-based decontamination and
    targeted data selection.

    Scale plan: one token explode; per-doc lengths and the (n_docs,
    avgdl) scalar are corpus-wide aggregates; the query-term table
    (|q| rows) and the per-term df table broadcast, so the only
    corpus-sized exchanges are the dl groupBy and the tf groupBy
    RESTRICTED to tokens in the query (the broadcast semi-join prunes
    everything else before the shuffle); the final top-k is
    TakeOrderedAndProject, never a global sort.  The per-doc score
    sums its (<= |q|) term contributions through the exact-decimal
    path so the result is aggregation-order-free; ranks are assigned
    AFTER rounding, over exactly k rows.
    """
    from ..functions.exact import DECIMAL_TYPE
    from pyspark.sql import Window

    spark = docs.sparkSession
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    q = spark.createDataFrame([(t,) for t in query_terms], "token string")
    qtoks = toks.join(F.broadcast(q), "token")
    tf = qtoks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df falls out of tf (one row per (doc, token)) — the second
    # corpus-side pass over qtoks is never needed, and the tf shuffle
    # is shared between the score and df branches (ReuseExchange).
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term = (
        idf
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            fround(
                F.sum(term.cast(DECIMAL_TYPE)).cast("double"), 6
            ).alias("bm25"),
            F.count("*").cast("int").alias("n_matched_terms"),
        )
    )
    topk = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "bm25",
        "n_matched_terms",
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document bigram-LM score — the perplexity filter shape
    (CCNet / Wenzek et al. 2020 filter quality by LM perplexity; this
    trains the LM on the corpus itself with Lidstone add-``ADD_K``
    smoothing,
    the classical exactly-replayable choice; a production pipeline
    plugs a pretrained KenLM the same way: a gram-keyed probability
    join).

    P(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V): bigram counts from
    ONE groupBy over the exploded gram stream, context counts derived
    from the bigram table itself (sum over its first token — never a
    second corpus pass), V = corpus vocabulary size (one-row
    broadcast).  Per-doc mean negative log-prob quantizes each term
    to DECIMAL(30,8) before the sum (the unigram-LM discipline) so
    the score is aggregation-order-free; perplexity is exp of the
    ALREADY-rounded mean so both engines exponentiate the identical
    input.  Docs with < 2 tokens have no bigrams and drop, like
    zero-token docs in the unigram query.  Gram joins are
    vocabulary-sized: broadcastable on small corpora, shuffle joins
    at 100 TB — either way linear, no self-join.
    """
    from ..functions.exact import DECIMAL_TYPE

    grams = docs.select(
        "doc_id", F.explode(T.word_ngrams(F.col("text"), 2)).alias("gram")
    )
    c2 = grams.groupBy("gram").agg(F.count("*").alias("c2"))
    w1_of = lambda c: F.element_at(F.split(c, " "), 1)  # noqa: E731
    c1 = c2.groupBy(w1_of(F.col("gram")).alias("w1")).agg(
        F.sum("c2").alias("c1")
    )
    vocab = docs.select(
        F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    ).agg(F.countDistinct("token").alias("v"))
    lp = -F.log(
        (F.col("c2") + F.lit(ADD_K))
        / (F.col("c1") + F.lit(ADD_K) * F.col("v"))
    )
    per_doc = (
        grams.withColumn("w1", w1_of(F.col("gram")))
        .join(c2, "gram")
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            fround(
                F.sum(lp.cast(DECIMAL_TYPE)).cast("double") / F.count("*"),
                6,
            ).alias("mean_nll"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "mean_nll",
        fround(F.exp(F.col("mean_nll")), 4).alias("perplexity"),
    )
