package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level (span) deduplication: find token spans that are
  * duplicated ACROSS documents — boilerplate, licenses, templated
  * headers — the training-data curation step finer than whole-document
  * near-dup (cf. the suffix-array approach of Lee et al., ACL'22,
  * "Deduplicating Training Data Makes Language Models Better"; this is
  * the scalable n-gram-granular approximation: any duplicated
  * substring of ≥ n tokens is covered by duplicated n-grams, so its
  * span is recovered as the union of their positions).
  *
  * Scale shape: one corpus pass explodes to THIN (doc, pos, gram-hash)
  * rows — the shuffle key is an 8-byte hash, never the gram text; the
  * duplicated-gram set derives from already-distinct (doc, hash) pairs
  * (no count_distinct shuffle); flagged positions merge into maximal
  * spans with a per-doc window (gaps-and-islands — integer logic, no
  * FP). Nothing is quadratic and no stage carries document text past
  * the first projection.
  *
  * The incremental form persists per-gram distinct-doc counts
  * ([[gramDocCounts]]) so a daily batch costs O(batch + matches), the
  * same contract as the exact/minhash `dedupAgainst` family.
  */
object SpanDedup {

  /** Thin positional gram stream: (__doc, __pos, __h), one row per
    * n-gram instance; the under-n guard matters because Spark's
    * `sequence` would otherwise count DOWNWARD. `__toks` is a bound
    * ATTRIBUTE, so the lambda's slice reads the row value instead of
    * re-tokenizing per element (the HOF recompute cliff).
    */
  private def positionalGrams(docs: DataFrame, idCol: String,
                              textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("__doc"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("__doc"), explode(
        when(size(col("__toks")) >= n,
          transform(sequence(lit(0), size(col("__toks")) - n), i =>
            struct(i.as("pos"),
              xxhash64(concat_ws(" ", slice(col("__toks"), i + lit(1), lit(n)))).as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))).as("g"))
      .select(col("__doc"), col("g.pos").as("__pos"), col("g.h").as("__h"))

  /** Merge flagged positions of equal-length [p, p+n) spans into
    * maximal half-open ranges: gaps-and-islands over sorted starts —
    * chain-merge while each gap is ≤ n. Pure integer logic.
    */
  private def mergeIslands(flagged: DataFrame, idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy("__doc").orderBy("__pos")
    flagged
      .withColumn("__brk",
        when(col("__pos") - lag("__pos", 1).over(w) > n, 1).otherwise(0))
      .withColumn("__isl",
        sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__doc"), col("__isl"))
      .agg(min("__pos").cast("long").as("span_start"),
        (max("__pos") + n).cast("long").as("span_end"))
      .select(col("__doc").as(idCol), col("span_start"), col("span_end"))
  }

  /** Maximal duplicated token spans per document: every token position
    * covered by an n-gram that occurs in ≥ `minDocs` distinct
    * documents, merged into [span_start, span_end) half-open token
    * ranges. Docs with no duplicated span simply emit no row.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs below 2 flags within-doc repeats: $minDocs")
    // one materialization feeds the dup-gram aggregate AND the
    // position join — the corpus explodes exactly once; transient: the
    // returned lazy plan reads it, so it lives as long as that plan
    val grams = graft.util.Scratch.transientCheckpoint(
      positionalGrams(docs, idCol, textCol, n).localCheckpoint())
    val dupGrams = grams.select("__doc", "__h").distinct()
      .groupBy("__h").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__h")
    val flagged = grams.join(dupGrams, "__h")
      .select(col("__doc"), col("__pos"))
    mergeIslands(flagged, idCol, n)
  }

  /** The persisted incremental model: per-gram distinct-document
    * counts (`gram_hash`, `n_docs`) — thin, mergeable, the span-dedup
    * analogue of the MinHash band table.
    */
  def gramDocCounts(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame =
    positionalGrams(docs, idCol, textCol, n)
      .select("__doc", "__h").distinct()
      .groupBy("__h").agg(count(lit(1)).as("n_docs"))
      .select(col("__h").as("gram_hash"), col("n_docs"))

  /** Incremental span dedup: spans in `batch` whose grams reach
    * `minDocs` distinct documents counting BOTH the persisted corpus
    * model and the batch itself (batch-internal duplicates count — a
    * doc set split across days flags identically to one big pass,
    * since kept and batch doc sets are disjoint). Returns
    * (spans, updated model); cost is O(batch + matched grams) — the
    * persisted table joins on the 8-byte hash and the historical
    * corpus is never re-scanned.
    */
  def duplicatedSpansAgainst(batch: DataFrame, counts: DataFrame,
                             idCol: String, textCol: String,
                             n: Int, minDocs: Int = 2): (DataFrame, DataFrame) = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs below 2 flags within-doc repeats: $minDocs")
    val grams = graft.util.Scratch.transientCheckpoint(
      positionalGrams(batch, idCol, textCol, n).localCheckpoint())
    val batchCounts = grams.select("__doc", "__h").distinct()
      .groupBy("__h").agg(count(lit(1)).as("__bnd"))
    val merged = batchCounts
      .join(counts.select(col("gram_hash").as("__h"), col("n_docs")),
        Seq("__h"), "full_outer")
      .select(col("__h"),
        (coalesce(col("__bnd"), lit(0L)) + coalesce(col("n_docs"), lit(0L)))
          .as("__total"),
        col("__bnd"))
      .localCheckpoint() // feeds the dup filter AND the updated model
      .transform(graft.util.Scratch.transientCheckpoint)
    val dupInBatch = merged
      .filter(col("__bnd").isNotNull && col("__total") >= minDocs)
      .select("__h")
    val flagged = grams.join(dupInBatch, "__h")
      .select(col("__doc"), col("__pos"))
    val updated = merged
      .select(col("__h").as("gram_hash"), col("__total").as("n_docs"))
    (mergeIslands(flagged, idCol, n), updated)
  }

  /** Rewrite each document with its duplicated spans removed (tokens
    * re-joined on single spaces). Docs without spans pass through
    * verbatim-tokenized; span lists are per-doc small, carried as a
    * broadcast-joinable aggregate.
    */
  def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                  spans: DataFrame): DataFrame = {
    val spanSets = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    docs.join(spanSets, Seq(idCol), "left")
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .withColumn(textCol,
        when(col("__spans").isNull, concat_ws(" ", col("__toks")))
          .otherwise(concat_ws(" ",
            filter(col("__toks"), (t, i) =>
              !exists(col("__spans"), s =>
                i >= s.getField("span_start") && i < s.getField("span_end"))))))
      .drop("__toks", "__spans")
  }
}
