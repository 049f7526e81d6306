"""Text-analysis queries over the documents corpus — the
training-data-pipeline quality layer (language-ID, quality scoring,
token counting, fingerprinting) built on functions/text.py.

Everything is a JVM-side Column expression over one scan — at 100 TB
this is a single pass with column pruning (only ``text`` + ids read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.exact import fround


def doc_profile(docs: DataFrame) -> DataFrame:
    """Per-document quality profile: counts, ratios, composite score,
    canonical fingerprint."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        T.char_count(t).alias("char_count"),
        T.token_count(t).alias("token_count"),
        T.avg_token_length(t).alias("avg_token_len"),
        T.stopword_ratio(t, 4).alias("stopword_ratio"),
        T.non_alpha_ratio(t, 4).alias("non_alpha_ratio"),
        T.quality_score(t, 4).alias("quality_score"),
        T.fingerprint(t).alias("fingerprint"),
    )


def langid(docs: DataFrame) -> DataFrame:
    """Heuristic language-ID vs the labeled lang column: stopword-hit
    score, predicted tag, agreement flag."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        T.langid_en_score(t, 4).alias("en_score"),
        T.predict_lang(t).alias("predicted_lang"),
        (F.col("lang") == "en").alias("labeled_en"),
        (T.predict_lang(t) == F.when(F.col("lang") == "en", "en").otherwise("unknown")).alias(
            "prediction_matches_label"
        ),
    )


def token_topk(docs: DataFrame) -> DataFrame:
    """Corpus-wide token frequency top-25: explode → count → top-25.
    The classic one-shuffle wordcount; TakeOrdered caps the result."""
    return (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(25)
    )


def source_quality_summary(docs: DataFrame) -> DataFrame:
    """Per-source corpus health: doc counts, size stats, mean quality
    — the roll-up a data curator reads before sampling a source."""
    t = F.col("text")
    profiled = docs.select(
        "source",
        T.token_count(t).alias("tc"),
        T.quality_score(t, 6).alias("q"),
        T.char_count(t).alias("cc"),
    )
    return profiled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("cc").alias("min_chars"),
        F.max("cc").alias("max_chars"),
        fround(F.avg("tc"), 2).alias("avg_tokens"),
        fround(F.avg("q"), 4).alias("avg_quality"),
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Per-document top-3 terms by TF-IDF (tf * ln(N/df)). One
    explode + two aggregations + a window rank; ranking uses the
    ROUNDED score with a token tiebreak so the cut is engine-
    deterministic."""
    from pyspark.sql import Window

    n_docs = docs.count()
    tokens_df = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    )
    tf = tokens_df.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tokens_df.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(df_, "token").select(
        "doc_id",
        "token",
        fround(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rn").cast("int").alias("rank"))
    )
