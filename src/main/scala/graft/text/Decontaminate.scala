package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag training
  * documents that share verbatim n-grams with an evaluation/benchmark
  * set (the standard leakage check run before pretraining — e.g. the
  * 13-gram overlap filters described in public LM training reports).
  * Not in the reference (which has no text pipeline); built on the same
  * shingle machinery as MinHash dedup (graft.text.Shingles).
  *
  * Scale shape (100 TB training corpus vs kilobyte-scale eval suites):
  * the corpus explodes to thin (doc_id, gram) pairs — never the full
  * text — and the benchmark side reduces to its DISTINCT gram set,
  * which is small by construction and BROADCASTS, so the corpus is
  * never shuffled; the only aggregation is the per-doc hit count,
  * map-side combinable.
  */
object Decontaminate {

  /** Distinct lowercase n-grams of a text column. */
  def grams(text: Column, n: Int): Column =
    Shingles.shingles(TextFunctions.tokens(lower(text)), n)

  /** Per-document contamination hits: (docId, hits) where `hits` is the
    * number of DISTINCT n-grams the document shares with ANY benchmark
    * document. Documents with zero hits are absent — the clean set is
    * an anti-join against this frame.
    */
  def contaminationHits(docs: DataFrame, docId: String, docText: String,
                        bench: DataFrame, benchText: String,
                        n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val docGrams = docs.select(col(docId).as("doc_id"),
      explode(grams(col(docText), n)).as("gram"))
    val benchGrams = bench
      .select(explode(grams(col(benchText), n)).as("gram"))
      .distinct()
    // both sides are distinct-per-key, so each (doc, gram) joins at
    // most once: a plain count IS the distinct-gram hit count
    docGrams.join(broadcast(benchGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("hits"))
  }

  /** The training corpus with contaminated documents removed. */
  def decontaminated(docs: DataFrame, docId: String, docText: String,
                     bench: DataFrame, benchText: String,
                     n: Int): DataFrame =
    docs.join(
      contaminationHits(docs, docId, docText, bench, benchText, n)
        .withColumnRenamed("doc_id", "__contaminated_id"),
      col(docId) === col("__contaminated_id"), "left_anti")

  // ---------------------------------------- per-prompt containment

  /** The SECOND decontamination policy: per-PROMPT fractional
    * containment instead of [[contaminationHits]]' absolute shared-
    * gram count — `|grams(prompt) ∩ grams(doc)| / |grams(prompt)|`
    * per (doc, prompt) pair, thresholded. Length-normalized: a short
    * benchmark prompt fully quoted inside a long document scores 1.0
    * where an absolute hit count would sit below any fixed cutoff,
    * and a long prompt sharing only boilerplate scores near 0 where
    * absolute counts would false-positive. The audit view names WHICH
    * prompt leaked and how fully.
    *
    * Same broadcast scale shape as [[contaminationHits]], plus a
    * corpus-side hot-gram cap: grams appearing in more than
    * `maxPostings` documents are excluded from matching and COUNTED
    * (`decontam.dropped_grams` in [[graft.util.CapCounters]]) —
    * non-zero means measured containment is a LOWER bound for docs
    * sharing only ultra-common grams, the recall warning to check
    * before trusting a clean verdict. Prompts shorter than `n` tokens
    * have no gram and cannot match.
    *
    * Returns `(doc_id, eval_id, containment)` pairs at or above
    * `threshold`; [[decontaminatedByContainment]] is the drop.
    */
  def promptContainment(docs: DataFrame, docId: String, docText: String,
                        prompts: DataFrame, promptId: String,
                        promptText: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxPostings: Int = 1000): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val cpost = docs.select(col(docId).as("doc_id"),
      explode(array_distinct(grams(col(docText), n))).as("gram"))
    val hist = graft.util.Scratch.transientCheckpoint(
      graft.util.CapCounters.checkpointCounting("decontam.dropped_grams",
        cpost.groupBy("gram").agg(count(lit(1)).as("__n")),
        col("__n") > maxPostings))
    val epost = prompts.select(col(promptId).as("eval_id"),
        array_distinct(grams(col(promptText), n)).as("__es"))
      .withColumn("__esize", size(col("__es")))
      .filter(col("__esize") > 0)
      .select(col("eval_id"), col("__esize"), explode(col("__es")).as("gram"))
    cpost
      .join(hist.filter(col("__n") <= maxPostings).select("gram"),
        Seq("gram"), "left_semi")
      .join(broadcast(epost), Seq("gram"))
      .groupBy("doc_id", "eval_id", "__esize")
      .agg(count(lit(1)).as("__m"))
      .withColumn("containment", round(col("__m") / col("__esize"), 6))
      .filter(col("containment") >= threshold)
      .select("doc_id", "eval_id", "containment")
  }

  /** The training corpus with every row some prompt is contained in
    * (≥ threshold) removed — the ratio policy's drop. All corpus
    * columns pass through. Like [[decontaminatedSemantic]], the
    * contaminated-id side is corpus-derived (unbounded by
    * construction), so no broadcast hint — AQE broadcasts when it is
    * actually small.
    */
  def decontaminatedByContainment(docs: DataFrame, docId: String,
                                  docText: String,
                                  prompts: DataFrame, promptId: String,
                                  promptText: String,
                                  n: Int = 3, threshold: Double = 0.8,
                                  maxPostings: Int = 1000): DataFrame =
    docs.join(
      promptContainment(docs, docId, docText, prompts, promptId,
        promptText, n, threshold, maxPostings)
        .select(col("doc_id").as("__contaminated_id")).distinct(),
      col(docId) === col("__contaminated_id"), "left_anti")

  // ---------------------------------------- semantic (embedding) policy

  /** The THIRD decontamination policy: SEMANTIC — embedding cosine
    * against the benchmark's vectors, catching PARAPHRASED
    * contamination no n-gram policy can see (a reworded prompt shares
    * zero grams but sits near cosine 1 in embedding space — the
    * GPT-3-era lesson behind embedding-based decontam).
    *
    * Scale shape: an eval set is SMALL by nature (hundreds to low
    * thousands of prompts), so its vectors COLLECT to the driver
    * (bounded at `maxEval`; the overflow count is recorded as
    * `decontam.dropped_evals` in [[graft.util.CapCounters]] — non-zero
    * means verdicts are a LOWER bound) and unfold into ONE per-row
    * `array_max(struct(cosine, eval_id))` projection over the corpus:
    * one scan, ZERO shuffle, the native codegen'd `graft_cosine` where
    * registered. At 100 TB the only moving part is the corpus scan
    * itself — no join, no exchange, nothing keyed on the corpus.
    *
    * Returns `(id, eval_id, cosine)` — each corpus row's BEST match
    * (max cosine, ties to the larger eval_id via struct ordering) at
    * or above `threshold`; rows below threshold are absent.
    * [[decontaminatedSemantic]] is the drop.
    */
  def semanticHits(corpus: DataFrame, corpusId: String, corpusVec: String,
                   eval: DataFrame, evalId: String, evalVec: String,
                   threshold: Double, maxEval: Int = 1024): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"cosine threshold must be in (0, 1], got $threshold")
    val nEval = eval.count()
    graft.util.CapCounters.set("decontam.dropped_evals",
      math.max(0L, nEval - maxEval))
    // ordered truncation: WHICH evals screen when the set exceeds
    // maxEval must be deterministic run to run — an unordered limit()
    // takes whichever partitions answer first, and the verdict set
    // would drift under the very overflow the counter warns about
    val evals = eval
      .select(col(evalId).cast("long").as("__eid"),
        col(evalVec).cast("array<double>").as("__v"))
      .orderBy(col("__eid"))
      .limit(maxEval).collect()
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"semanticHits: eval rows need a non-null long-castable " +
            s"'$evalId' and a non-null '$evalVec' vector")
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }
    require(evals.nonEmpty, "semanticHits needs at least one eval vector")
    // NATIVE argmax: the whole eval matrix rides ONE expression
    // (graft.functions.BestCosineMatch — a single reference object and
    // one generated call per row), so whole-stage codegen survives any
    // maxEval; an unfolded per-eval projection at 1024 evals blows
    // Janino's method-size limit and silently de-codegens the stage
    // (DecontaminateSpec pins compilation with fallback disabled).
    // Sessions without the graft extensions fall back to a BLOCKED
    // greatest()-of-array_max unfold — same (cosine, eval_id) total
    // order and values, interpreted at worst.
    val best =
      if (nativeFns)
        call_function("graft_best_cosine", col(corpusVec),
          typedlit(evals.map(_._2.toSeq).toSeq),
          typedlit(evals.map(_._1).toSeq))
      else {
        val v = col(corpusVec).cast("array<double>")
        val blocks = evals.grouped(evalBlock).toSeq
        val blockCols = blocks.map { block =>
          array_max(array(block.map { case (eid, vec) =>
            struct(
              graft.sim.Similarity.cosine(v, typedlit(vec)).as("c"),
              lit(eid).as("e"))
          }.toSeq: _*))
        }
        if (blockCols.size == 1) blockCols.head else greatest(blockCols: _*)
      }
    corpus
      .select(col(corpusId).as("id"), best.as("__b"))
      .filter(col("__b.c") >= threshold)
      .select(col("id"), col("__b.e").as("eval_id"), col("__b.c").as("cosine"))
  }

  private def nativeFns: Boolean =
    try org.apache.spark.sql.SparkSession.active.catalog
      .functionExists("graft_best_cosine")
    catch { case _: Exception => false }

  /** Eval vectors per codegen block in the portable [[semanticHits]]
    * fallback — bounds one block's generated cosine chain.
    */
  private val evalBlock = 64

  /** The training corpus with every row semantically matching some
    * eval vector (cosine ≥ threshold) removed. All corpus columns pass
    * through. The contaminated-id side is CORPUS-derived — its size is
    * a function of corpus size × threshold, unbounded by construction
    * (a loose threshold or a genuinely contaminated crawl at 100 TB
    * would OOM a forced broadcast) — so no broadcast hint: AQE picks
    * broadcast when the hit set is actually small, exactly like the
    * n-gram policy's [[decontaminated]].
    */
  def decontaminatedSemantic(corpus: DataFrame, corpusId: String,
                             corpusVec: String,
                             eval: DataFrame, evalId: String,
                             evalVec: String,
                             threshold: Double,
                             maxEval: Int = 1024): DataFrame =
    corpus.join(
      semanticHits(corpus, corpusId, corpusVec, eval, evalId,
        evalVec, threshold, maxEval)
        .select(col("id").as("__contaminated_id")).distinct(),
      col(corpusId) === col("__contaminated_id"), "left_anti")
}
