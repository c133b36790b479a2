package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.{TableRef, Warehouse}
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.sinks.MergeTable

/** Scratch materializations do not outlive their use. An operator's
  * internal `localCheckpoint`s are released by the operator once
  * consumed, or reclaimed by Spark's ContextCleaner once the caller
  * drops the returned plan; the mutation router releases its pin when
  * the commit lands. After the results are dropped and a collection
  * has run, the context's persisted RDDs and their storage must be back
  * at the level they were before the calls. A JVM-global strong
  * registry of scratch frames keeps every call's blocks resident and
  * fails both tests.
  */
class ScratchLeakSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def storedBytes(ids: Set[Int]): Long =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => i.memSize + i.diskSize).sum

  /** Collects until every RDD persisted since `baseline` is gone (or
    * the deadline passes) and returns the ones still persisted.
    */
  private def leftOver(baseline: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 60_000_000_000L
    def extra = persisted -- baseline
    while (extra.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    extra
  }

  private def assertReleased(baseline: Set[Int], what: String): Unit = {
    val baselineBytes = storedBytes(baseline)
    val left = leftOver(baseline)
    assert(left.isEmpty,
      s"$what left ${left.size} RDDs persisted (${storedBytes(left)} bytes stored)")
    assert(storedBytes(persisted) <= baselineBytes)
  }

  /** exactDedup → minhash/dupGroups/keepCanonical → containmentPairs →
    * semDedup over a small corpus with planted duplicates; every result
    * is consumed and dropped before returning.
    */
  private def curationPass(): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val vocab = (0 until 300).map(i => s"w$i")
    def words(n: Int) = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    val base = Vector.fill(40)(words(30))
    val texts = base ++ Seq(base(0), base(1).updated(10, "zz"), base(2).slice(3, 18))
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.mkString(" "), Array.fill(8)(r.nextGaussian().toFloat))
    }.toDF("id", "text", "emb")
    val exact = Dedup.exactDedup(docs, "text", "id")
    val pairs = Dedup.minhashCandidates(exact, "id", "text")
    val near = Dedup.keepCanonical(exact, "id", Dedup.dupGroups(pairs))
    assert(near.count() < texts.size)
    assert(Dedup.containmentPairs(near, "id", "text").count() > 0)
    val centroids = Similarity.sampleCentroids(near, "id", "emb", 3, 5L)
    assert(Similarity.semDedup(near, "id", "emb", centroids, 0.99).count() > 0)
  }

  test("a curation chain leaves no persisted RDD behind once its results are dropped") {
    val baseline = persisted
    (1 to 3).foreach(_ => curationPass())
    assertReleased(baseline, "three curation passes")
  }

  /** A copy-on-write upsert with the change data feed on: the router
    * pins its classified frame, read by both the data and the change
    * rows of the one commit.
    */
  private def cdfUpsert(): Unit = {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-scratch-leak"))
    val ref = TableRef("silver", "leak", "cdf_cow")
    wh.overwrite(ref, spark.range(1, 201).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k")), statsColumns = Seq("k"))
    wh.setChangeDataFeed(ref, enabled = true)
    new MergeTable(spark, wh, ref, Seq("k"), None)
      .upsert(Seq((10L, 1L), (150L, 2L), (500L, 3L)).toDF("k", "v"))
    assert(wh.read(ref).count() === 201L)
  }

  test("a change-feed copy-on-write upsert releases the router's pin") {
    val baseline = persisted
    cdfUpsert()
    assertReleased(baseline, "the upsert")
  }
}
