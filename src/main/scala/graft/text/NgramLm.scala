package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language model for quality scoring — the
  * CCNet-style filter (Wenzek et al., LREC'20): train n-gram counts on
  * a reference corpus, score candidate documents by average token
  * log-probability, drop the tail. No external model ships in this
  * environment, and none is needed: the LM IS the counts.
  *
  * Scale shape: training explodes to thin (w1, w2) bigram instances,
  * materialized once for the two count aggregates; scoring joins each
  * document's bigrams against the count tables on token keys (both
  * sides thin; the model tables broadcast when the vocabulary is
  * small). The vocabulary size is a single-row broadcast cross join,
  * never a driver round-trip.
  *
  * Determinism discipline: each bigram's Laplace log-prob
  * `ln((c12+1)/(c1+V))` is rounded to INTEGER MICRO-NATS before the
  * per-doc sum, so the aggregate is exact integer math — immune to the
  * FP association-order divergence that makes raw double sums
  * hash-unstable across engines (same rationale as the bigint-cents
  * window sums).
  */
object NgramLm {

  /** (doc, w1, w2) bigram instances of `textCol`, one row per adjacent
    * token pair; docs under two tokens emit nothing.
    */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramsFromTokens(docs.select(col(idCol).as("__doc"),
      TextFunctions.tokens(col(textCol)).as("__toks")))

  /** Same, over an already-tokenized (__doc, __toks) frame. */
  private def bigramsFromTokens(toks: DataFrame): DataFrame =
    toks
      .select(col("__doc"), explode(
        when(size(col("__toks")) >= 2,
          // zip against the 1-shifted copy; zip_with null-pads the tail,
          // the filter below drops that sentinel pair
          zip_with(col("__toks"),
            slice(col("__toks"), lit(2), size(col("__toks")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("g"))
      .select(col("__doc"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .filter(col("w2").isNotNull)

  /** Score `scoreDocs` under a bigram LM trained on `trainDocs`:
    * one row per scored doc with ≥1 bigram — bigram count and total
    * Laplace log-probability in micro-nats (divide by 10⁶·n_bigrams
    * for the per-token average). Unseen contexts/bigrams back off to
    * the Laplace floor `1/(V)` via the zero-count left joins.
    */
  /** A trained model: bigram counts, context counts, and the 1-row
    * vocabulary size — three batch frames a scorer (batch OR streaming
    * stream-static join) composes against.
    */
  final case class Model(bigramCounts: DataFrame, contextCounts: DataFrame,
                         vocabSize: DataFrame)

  /** Train the count model on a corpus. The corpus is tokenized ONCE
    * (the regex split is the expensive per-row stage): the materialized
    * token arrays feed the bigram stream and the vocabulary count
    * without a second text scan.
    */
  def train(trainDocs: DataFrame, idCol: String, textCol: String): Model = {
    val toks = trainDocs.select(col(idCol).as("__doc"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .localCheckpoint()
    // and the bigram pair stream feeds both count aggregates
    val tb = bigramsFromTokens(toks).localCheckpoint()
    // The MODEL frames are what scoring joins against — checkpoint the
    // small aggregates (vocab-bounded), not the fat per-token
    // intermediates: a streaming consumer joins the model once per
    // micro-batch, and without this each batch re-ran the corpus-wide
    // count aggregation over tb. The fat intermediates are released
    // here (eager checkpoints: the counts no longer reference them);
    // the returned Model is the CALLER's storage to release (the gate
    // queries memoize it via Scratch.once, so the bench drain frees it).
    val m = Model(
      tb.groupBy("w1", "w2").agg(count(lit(1)).as("c12")).localCheckpoint(),
      tb.groupBy("w1").agg(count(lit(1)).as("c1")).localCheckpoint(),
      toks.select(explode(col("__toks")).as("w"))
        .agg(count_distinct(col("w")).as("v")).localCheckpoint())
    graft.util.Scratch.release(tb)
    graft.util.Scratch.release(toks)
    m
  }

  /** Score a (possibly streaming) document frame against a trained
    * model: the count joins are stream-static-join compatible, and the
    * per-doc aggregate is the caller's sink concern in streaming.
    */
  def scoreWithModel(scoreDocs: DataFrame, model: Model,
                     idCol: String, textCol: String): DataFrame =
    bigrams(scoreDocs, idCol, textCol)
      .join(model.bigramCounts, Seq("w1", "w2"), "left")
      .join(model.contextCounts, Seq("w1"), "left")
      // constant-key equi join instead of crossJoin: same 1-row
      // broadcast in batch, but ALSO legal as a stream-static join
      .withColumn("__vk", lit(1))
      .join(broadcast(model.vocabSize.withColumn("__vk", lit(1))), "__vk")
      .select(col("__doc"),
        round(log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
            (coalesce(col("c1"), lit(0L)) + col("v"))) * lit(1000000.0))
          .cast("long").as("__unats"))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__unats")).as("logprob_unats"))
      .select(col("__doc").as(idCol), col("n_bigrams"), col("logprob_unats"))

  /** One-shot convenience: train + score. The transient model lives as
    * long as the returned plan (Spark reclaims it once the plan is
    * dropped; the bench drain releases it eagerly). Callers that reuse
    * a model across queries (or across micro-batches) should hold
    * [[train]]'s result themselves — typically under a
    * `Scratch.once` memo so eviction stays use-counted.
    */
  def bigramScore(trainDocs: DataFrame, scoreDocs: DataFrame,
                  idCol: String, textCol: String): DataFrame =
    scoreWithModel(scoreDocs,
      graft.util.Scratch.transientCheckpoint(train(trainDocs, idCol, textCol)),
      idCol, textCol)
}
