"""PRETRAINED n-gram LM apply — scoring a corpus against a FIXED
gram-probability table (VERDICT r9 next-round #4).

``retrieval.bigram_lm_scores`` trains its LM on the corpus in-plan
(right for the exactly-replayable demo); the production CCNet-style
quality filter (Wenzek et al. 2020) scores against a PRETRAINED
KenLM whose table is a distribution artifact, exactly like the BPE
``merges.txt`` precedent (``bpe_apply_doc_stats``): the model ships
to every executor once and the apply is a gram-keyed join whose cost
is corpus-proportional and independent of where the table came from.

The pretrained model here is a CHARACTER-level 4-gram LM over the
closed 27-symbol alphabet a–z + ``_`` (boundary/other) — the
public language-ID / quality-model shape (Cavnar & Trenkle 1994
char-n-gram profiles; CLD2).  Two properties make it the right
stand-in for a KenLM table in an oracle-checked engine:

- **deterministically generated, engine-reproducible**: the table is
  ALL 27^4 = 531,441 grams with pseudo-count
  ``md5_int32(gram) % 9000 + 1000`` — any engine regenerates the
  identical artifact, so the DuckDB oracle replays probabilities
  closed-form without shipping a file;
- **closed vocabulary**: every corpus 4-gram (after ``[^a-z] -> _``
  normalization and ``___w_`` padding) is IN the table by
  construction, so the apply needs no backoff ladder and every score
  is exact.  A word-level KenLM with Katz/Kneser-Ney backoff slots
  behind the same join as a coalesce ladder over (4-gram, 3-gram,
  ...) probability columns — the ``wx_j1`` fill-ladder shape — on
  top of identical plumbing.

Plan shape: generate the table in-plan (``spark.range(27^4)`` →
digit decomposition → md5 counts — a few MB, broadcast: the model-
distribution move), derive the 27^3-row context-total table FROM it
with one groupBy (the BM25 df-from-tf discipline — never a second
derivation that could drift), then ONE corpus pass: explode tokens →
explode padded 4-gram windows → broadcast-join the table → per-doc
exact-decimal mean NLL.  Apply cost is corpus-proportional; the
table join is a broadcast hash lookup whose cost does not grow with
table size (measured across the 27^3 vs 27^4 tiers in the scale
bench).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.exact import fround
from ..functions.hashing import md5_int32

ALPHABET = "abcdefghijklmnopqrstuvwxyz_"
CNT_MOD = 9000
CNT_BASE = 1000
GRAM_N = 4  # character n-gram order of the pretrained table


def chargram_table(spark: SparkSession, n: int = GRAM_N) -> DataFrame:
    """(gram, cnt): the full 27^n pretrained count table, generated
    deterministically — ``spark.range`` digit decomposition in base
    27 over ALPHABET, pseudo-count md5_int32(gram) % 9000 + 1000."""
    df = spark.range(27**n)
    chars = []
    for pos in range(n):
        div = 27 ** (n - 1 - pos)
        d = (F.col("id") / F.lit(div)).cast("long") % 27
        chars.append(F.substr(F.lit(ALPHABET), d + 1, F.lit(1)))
    gram = F.concat(*chars)
    return df.select(
        gram.alias("gram"),
        (md5_int32(gram) % CNT_MOD + CNT_BASE).alias("cnt"),
    )


def chargram_model(spark: SparkSession, n: int = GRAM_N) -> DataFrame:
    """(gram, cnt, ctx, lp_u): the apply-ready model — per-gram count,
    its (n-1)-prefix context total, and the PRE-COMPUTED negative
    log-prob in integer micro-nats:
    ``lp_u = floor(ln(ctx / cnt) * 1e6 + 0.5)`` (always positive, so
    half-up == half-away — the pq._query_lut rounding).  Putting the
    transcendental math in the MODEL-sized table is the design point:
    the corpus-sized path is then one broadcast hash probe + one LONG
    add per gram, and the per-doc sum is exact integer arithmetic —
    associative, partitioning-independent, and ~an order of magnitude
    cheaper per row than a per-gram double-log + DECIMAL(30,8) cast
    (measured: the decimal form serialized the x200 cell).

    Context totals as a WINDOW sum over the generated table (r13 —
    the same §1.2/§2.4 rewrite backoff_model got in r12): the former
    groupBy + join-back spelling inlined the range → digit-decompose →
    md5 derivation TWICE in the physical plan (once per join side), so
    the 27^n md5 evaluations — the model build's entire cost — ran two
    full passes, plus an aggregate exchange and a join.  The window
    computes the identical exact LONG sum in ONE pass with one
    model-sized exchange.  Window skew is structurally impossible
    here: every prefix partition holds exactly 27 rows by construction
    (this is why the corpus-side bigram LM keeps its groupBy+join
    shape — Zipfian gram keys need map-side partial aggregation and
    AQE skew-join, which windows don't get)."""
    from pyspark.sql import Window as Wd

    tbl = chargram_table(spark, n)
    ctx = (
        F.sum("cnt")
        .over(Wd.partitionBy(F.substring(F.col("gram"), 1, n - 1)))
        .cast("long")
    )
    lp = F.log(ctx.cast("double") / F.col("cnt"))
    return tbl.select(
        "gram",
        "cnt",
        ctx.alias("ctx"),
        F.floor(lp * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("lp_u"),
    )


def chargram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document pretrained-LM score: (doc_id, n_chargrams,
    mean_nll, perplexity).

    Token -> ``[^a-z] -> _`` normalization -> ``('_' * (n-1)) + w +
    '_'`` padding -> every length-n window (n = ``GRAM_N``) (a w-char token yields
    w+1 grams, so every non-empty token scores).  NLL terms come from
    the model's pre-computed integer micro-nats (``lp_u``), so the
    per-doc sum is an exact LONG sum — aggregation-order-free by
    integer associativity, and the corpus path does no per-gram
    transcendental math at all; the mean divides once at the end and
    perplexity exponentiates the ALREADY-rounded mean.  Zero-token
    docs have no grams and drop (inner join), the bigram-LM
    convention."""
    n = GRAM_N
    spark = docs.sparkSession
    model = chargram_model(spark)
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    )
    clean = F.regexp_replace(F.col("token"), "[^a-z]", "_")
    padded = F.concat(F.lit("_" * (n - 1)), clean, F.lit("_"))
    # BIND the padded token once per row via the 1-element-array trick
    # (functions/vectors.normalized's documented fix): referencing
    # ``padded`` directly inside the window lambda gets re-inlined per
    # sequence element by projection collapse — the regexp_replace +
    # concat would re-evaluate len+1 times per token, O(len^2) regex
    # work that measurably serialized the first x200 run.  A padded
    # token of length L yields L - n + 1 windows = len(clean) + 1.
    grams = toks.select(
        "doc_id",
        F.explode(
            F.element_at(
                F.transform(
                    F.array(padded),
                    lambda p: F.transform(
                        F.sequence(F.lit(1), F.length(p) - F.lit(n - 1)),
                        lambda i: F.substr(p, i, F.lit(n)),
                    ),
                ),
                1,
            )
        ).alias("gram"),
    )
    per_doc = (
        grams.join(
            F.broadcast(model.select("gram", "lp_u")), "gram"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chargrams"),
            fround(
                F.sum("lp_u").cast("double")
                / F.lit(1_000_000.0)
                / F.count("*"),
                6,
            ).alias("mean_nll"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_chargrams",
        "mean_nll",
        fround(F.exp(F.col("mean_nll")), 4).alias("perplexity"),
    )
