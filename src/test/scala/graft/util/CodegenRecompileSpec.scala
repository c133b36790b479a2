package graft.util

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.{Decontaminate, TextFunctions}

/** Witness for the JVM-wide generated-class cache size
  * (`GraftSession.CodegenCacheEntries`): a curation chain's plan shapes
  * repeat call after call, so a second identical pass must find every
  * generated class cached and compile none. At Spark's default of 100
  * entries the chain's ~160-class working set evicts itself and the
  * second pass recompiles nearly all of it. Compiles are read as the
  * delta of Spark's own compile-time histogram count.
  */
class CodegenRecompileSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A small corpus with each defect the chain removes planted once or
    * more: exact copies, one-token near copies, a contained snippet,
    * PII, a contaminated document, junk and embedding near-duplicates.
    */
  private def corpus(dir: String): (String, String) = {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val vocab = (0 until 400).map(_ => (0 until 4 + r.nextInt(5))
      .map(_ => ('a' + r.nextInt(26)).toChar).mkString).distinct
    def words(n: Int) = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    def emb() = {
      val v = Vector.fill(8)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = Vector.fill(60)(words(40 + r.nextInt(20)))
    val embs = Vector.fill(60)(emb())
    val item = words(20)
    val planted = Seq(
      base(0) -> emb(),                                          // exact copy
      base(1).updated(20, "zzzz") -> emb(),                      // near copy
      base(2).slice(5, 35) -> emb(),                             // snippet
      (base(3).take(8) ++ Vector("mail a@example.com") ++ base(3).drop(8)) -> emb(),
      (base(4).take(10) ++ item ++ base(4).drop(10)) -> emb(),   // contaminated
      Vector.fill(30)("!!") -> emb(),                            // junk
      words(45) -> embs(5).map(x => x + 0.001f))                 // semantic copy
    val docs = (base.zip(embs) ++ planted).zipWithIndex.map { case ((t, e), i) =>
      (i.toLong, t.mkString(" "), e)
    }
    val docsPath = s"$dir/docs"
    val benchPath = s"$dir/bench"
    docs.toDF("id", "text", "emb").repartition(4).write.parquet(docsPath)
    Seq(item.mkString(" ")).toDF("text").write.parquet(benchPath)
    (docsPath, benchPath)
  }

  /** One pass of the curation chain; returns the surviving ids. */
  private def pass(docsPath: String, benchPath: String): Set[Long] = {
    val docs = spark.read.parquet(docsPath)
    val bench = spark.read.parquet(benchPath)
    val exact = Dedup.exactDedup(docs, "text", "id").localCheckpoint()
    val pairs = Dedup.minhashCandidates(exact, "id", "text").localCheckpoint()
    val near = Dedup.keepCanonical(exact, "id", Dedup.dupGroups(pairs)).localCheckpoint()
    val contained = Dedup.containmentPairs(near, "id", "text").localCheckpoint()
    val uncontained = near
      .join(contained.select(col("id_a").as("id")).distinct(), Seq("id"), "left_anti")
      .localCheckpoint()
    val good = uncontained.filter(TextFunctions.qualityScore(col("text")) >= 0.8)
      .localCheckpoint()
    val redacted = good.withColumn("text", TextFunctions.redactPii(col("text")))
      .localCheckpoint()
    val clean = Decontaminate.decontaminated(redacted, "id", "text", bench, "text", 13)
      .localCheckpoint()
    val centroids = Similarity.sampleCentroids(clean, "id", "emb", 4, 3L)
    Similarity.semDedup(clean, "id", "emb", centroids, 0.97)
      .select("id").collect().map(_.getLong(0)).toSet
  }

  test("a repeated curation pass compiles no generated class") {
    val (docsPath, benchPath) = corpus(tmpDir("codegen-recompile"))
    val c0 = compiles
    val first = pass(docsPath, benchPath)
    val c1 = compiles
    val second = pass(docsPath, benchPath)
    val c2 = compiles
    println(s"[codegen-recompile] first pass compiled ${c1 - c0} classes, " +
      s"second pass ${c2 - c1}")
    assert(second === first)
    assert(c1 - c0 > 0, "witness lost its teeth: the first pass compiled nothing")
    assert(c2 - c1 === 0L, "the second pass recompiled generated classes")
  }
}
