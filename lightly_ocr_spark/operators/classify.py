"""In-engine trainable text classifier: multinomial Naive Bayes, expressed
entirely as DataFrame aggregations.

The training-data pipeline needs a cheap trainable scorer (domain/quality/
language buckets, a la fastText used by CCNet/RefinedWeb) that trains ON
the cluster — no driver-side model fit, no external ML runtime.  Multinomial
NB is exactly two groupBy aggregations, and the fitted model is itself a
DataFrame (label, word, log_lik), broadcastable at scoring time:

* fit:   word counts per (label, word) + totals per label + vocab size;
         Laplace-smoothed log likelihoods, log priors from doc counts.
* score: explode doc words -> join the model (broadcast: |V|x|C| rows) ->
         per (doc, label) sum + unseen-mass correction -> window argmax.

At 10^12 docs: training is two shuffles over (label, word) keys (the model
is tiny next to the corpus); scoring is one broadcast join plus one
doc-keyed aggregation — no iteration, no driver state beyond the scalar
vocabulary size.  Graft note: the reference's only "classifier" is the
charset-confidence argmax inside CRNN decoding (`ocr/net.py:190`); this
operator is the corpus-level analog the webtext pipeline actually needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightly_ocr_spark.operators.dedup import lower_words
from lightly_ocr_spark.plans.relational import load, spread


def nb_fit(
    docs: DataFrame, label_col: str = "label", eager: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial NB; returns (word_model, label_model) DataFrames.

    word_model:  (label, word, log_lik)  — ln((c_wl + 1) / (tot_l + V))
    label_model: (label, log_prior, log_unseen) — doc-count prior and the
                 per-label likelihood mass for words never seen with it.

    Exactly two corpus-wide passes (the (label, word) aggregation and the
    per-label doc count); both aggregates are persisted at model scale
    (|L|x|V| and |C| rows) so deriving |V|/priors and the scoring join
    never re-scan the corpus.  Driver pulls: |V| (one long) and the |C|
    doc counts.
    """
    from pyspark import StorageLevel

    toks = docs.select(
        F.col(label_col).alias("label"),
        F.explode(lower_words()).alias("word"),
    )
    # |L|x|V| rows — model-scale, NOT corpus-scale; persisted so every
    # derived quantity below (and the scoring join later) reads the
    # aggregate instead of re-exploding the corpus.  Exactly TWO
    # corpus-wide passes happen in fit: this aggregation and doc_counts.
    word_counts = toks.groupBy("label", "word").agg(
        F.count(F.lit(1)).alias("c")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    totals = word_counts.groupBy("label").agg(F.sum("c").alias("tot"))
    # the only driver-side scalars: |V| and the per-label doc counts
    # (|C| rows) — both independent of corpus size.  |V| comes from the
    # persisted aggregate, not a second corpus explode.
    vocab = word_counts.select("word").distinct().count()
    word_model = (
        word_counts.join(F.broadcast(totals), "label")
        .select(
            "label", "word",
            F.log((F.col("c") + F.lit(1.0))
                  / (F.col("tot") + F.lit(float(vocab)))).alias("log_lik"),
        )
    )
    doc_counts = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # n_total from the |C|-row aggregate (fills its cache) — never a
    # separate full docs.count() scan
    n_total = sum(r["n_docs"] for r in doc_counts.select("n_docs").collect())
    label_model = (
        doc_counts.join(F.broadcast(totals), "label")
        .select(
            "label",
            F.log(F.col("n_docs") / F.lit(float(n_total))).alias("log_prior"),
            F.log(F.lit(1.0)
                  / (F.col("tot") + F.lit(float(vocab)))).alias("log_unseen"),
        )
    )
    # fit is eager by default: materialize both model-scale outputs
    # (|L|x|V| and |C| rows) and release the cached corpus aggregates —
    # otherwise every nb_fit call leaks two persisted frames for the
    # session lifetime (jobs that refit in a loop must not accumulate
    # caches).  `eager=False` skips the two checkpoint barriers for
    # ONE-SHOT fit+predict plans (the driver query): the model frames
    # stay lazy views over the persisted aggregates, which then live
    # until the session ends — two fewer job launches per invocation,
    # at the cost of a model-scale cache the caller never releases.
    if eager:
        word_model = word_model.localCheckpoint(eager=True)
        label_model = label_model.localCheckpoint(eager=True)
        word_counts.unpersist()
        doc_counts.unpersist()
    return word_model, label_model


def nb_predict(
    docs: DataFrame, word_model: DataFrame, label_model: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score docs against a fitted model -> (id, pred_label, score).

    score(l) = log_prior_l + sum_w n_w * log_lik(w, l)
             + (N - seen_l) * log_unseen_l     (unseen-word mass)

    The model join is broadcast (|V|x|C| rows); the label cross join is
    |C| rows per doc.  Ties break on label ASC for determinism.

    Ids must be unique: duplicates would merge their docs' word counts,
    so the argmax aggregate raises when an id brings any label twice (a
    duplicate without words contributes nothing and passes).

    Round-6 plan (guide §2.3/§2.4): the per-doc token total comes straight
    from size(words) on the input row — the former explode -> groupBy
    -> sum computed the identical integer through a second corpus-wide
    explode and shuffle; and the per-doc argmax is a min_by hash
    aggregate over the (-score, label) ordering struct — the same
    (score DESC, label ASC) winner the row_number window picked, minus
    the window's per-doc sort."""
    toks = (
        docs.select(id_col, F.explode(lower_words()).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    doc_totals = docs.select(
        id_col, F.size(lower_words()).cast("long").alias("n_words")
    ).filter(F.col("n_words") > 0)
    # the zero-word filter preserves the exploded form's semantics
    # exactly: a doc with no tokens produced no (doc, word) rows, hence
    # no doc_totals row, hence NO output row — caught by the randomized
    # oracle fuzz when this was first rewritten without the filter
    seen = (
        toks.join(F.broadcast(word_model), "word")
        .groupBy(id_col, "label")
        .agg(
            F.sum(F.col("n") * F.col("log_lik")).alias("seen_sum"),
            F.sum("n").alias("seen_n"),
        )
    )
    base = doc_totals.crossJoin(F.broadcast(label_model))
    scored = (
        base.join(seen, [id_col, "label"], "left")
        .select(
            id_col, "label",
            (
                F.col("log_prior")
                + F.coalesce(F.col("seen_sum"), F.lit(0.0))
                + (F.col("n_words") - F.coalesce(F.col("seen_n"), F.lit(0)))
                * F.col("log_unseen")
            ).alias("score"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.when(
            F.count(F.lit(1)) == F.count_distinct("label"),
            F.min_by(
                F.struct(F.col("label"), F.col("score")),
                F.struct((-F.col("score")).alias("s"),
                         F.col("label").alias("l")),
            ),
        ).otherwise(F.raise_error(F.lit(
            f"nb_predict: duplicate {id_col} values; ids must be unique"
        ))).alias("b")
    )
    return best.select(
        F.col(id_col),
        F.col("b.label").alias("pred_label"),
        F.round("b.score", 6).alias("score"),
    )


def ml_nb_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Driver query: train NB on (lang, text) over the documents table and
    score the same corpus — trainable-classifier plumbing end-to-end in one
    declarative plan.  Fully DuckDB-oracled (counts are exact integers;
    ln/round(6) agreed bit-exactly across engines on this fixture).

    The scan is `spread` (round 6): fit and predict each explode the
    corpus into tokens, and a single-row-group parquet file otherwise
    runs both explodes on one core (guide §2.5)."""
    d = spread(load(spark, sf, "documents").select("doc_id", "lang", "text"))
    # one-shot fit+predict: lazy fit skips two checkpoint barriers (the
    # r4 leak fix stays default for session/job callers that refit)
    word_model, label_model = nb_fit(d, label_col="lang", eager=False)
    return nb_predict(d, word_model, label_model).select(
        "doc_id", F.col("pred_label").alias("pred_lang"), "score"
    )


def nb_save(word_model: DataFrame, label_model: DataFrame, path: str) -> None:
    """Persist a fitted model for cross-job reuse (train once on the
    cluster, score any later corpus without refitting).  Two parquet
    datasets — model-scale (|L|x|V| and |C| rows), trivially broadcastable
    on load."""
    word_model.write.mode("overwrite").parquet(f"{path}/word_model")
    label_model.write.mode("overwrite").parquet(f"{path}/label_model")


def nb_load(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a model written by nb_save; returns (word_model, label_model)
    ready for nb_predict."""
    return (
        spark.read.parquet(f"{path}/word_model"),
        spark.read.parquet(f"{path}/label_model"),
    )
