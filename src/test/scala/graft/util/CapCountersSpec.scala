package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.Decontaminate

/** Every recall cap's dropped-key count is observed inside the job
  * that materializes its histogram ([[CapCounters.checkpointCounting]]).
  * The counts must equal what a separate count over the histogram
  * gives: six identical documents (or vectors) fill one bucket per
  * band, chunk or shingle past a cap of 4, and documents of unique
  * tokens share nothing. Empty input records 0 and returns rather than
  * waiting on an observation that never completes.
  */
class CapCountersSpec extends SparkSpec with TimeLimits {

  private val copies = 6
  private val cap = 4
  private val shared = "a b c d e f g h" // 6 distinct 3-shingles / 3-grams

  private def docs(n: Int, firstId: Long = 0L): DataFrame = {
    import spark.implicits._
    val same = (0 until n).map(i => (firstId + i, shared))
    val unique = (0 until 4).map(i =>
      (firstId + 100 + i, (0 until 8).map(j => s"u${firstId}_${i}_$j").mkString(" ")))
    (same ++ unique).toDF("id", "text")
  }

  private def vecs(n: Int, firstId: Long = 0L): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (firstId + i, Array(1.0, 0.5, -0.25, 0.125))).toDF("id", "vec")
  }

  private def recorded(name: String): Long = CapCounters.get(name).getOrElse(-1L)

  /** The histogram's over-cap keys by a separate count action. */
  private def overCap(bands: DataFrame, keys: Seq[String]): Long =
    bands.groupBy(keys.map(col): _*).count().filter(col("count") > cap).count()

  test("each cap that fires records the count a separate histogram count gives") {
    CapCounters.reset()
    val d = docs(copies)
    Dedup.minhashCandidates(d, "id", "text", maxBucket = cap).count()
    assert(recorded("minhash.dropped_buckets") === 16L) // one bucket per band
    assert(recorded("minhash.dropped_buckets") ===
      overCap(Dedup.minhashBandTable(d, "id", "text"), Seq("band", "bucket")))

    Dedup.containmentPairs(d, "id", "text", maxPostings = cap).count()
    assert(recorded("containment.dropped_shingles") === 6L)

    Dedup.simhashNearDups(d, "id", "text", maxHamming = 3, maxBucket = cap).count()
    assert(recorded("simhash.dropped_buckets") === 4L) // one bucket per chunk

    val batch = docs(copies / 2, firstId = 1000L)
    val kept = docs(copies / 2)
    val keptBands = Dedup.minhashBandTable(kept, "id", "text")
    Dedup.minhashCandidatesAgainst(batch, kept, keptBands, "id", "text", maxBucket = cap).count()
    assert(recorded("minhash_against.dropped_buckets") === 16L)

    val v = vecs(copies)
    Similarity.signBandCandidates(v, "id", "vec", planes = 16, bands = 4, dim = 4,
      maxBucket = cap).count()
    assert(recorded("embed_lsh.dropped_buckets") === 4L) // one bucket per band
    assert(recorded("embed_lsh.dropped_buckets") ===
      overCap(Similarity.signBandTable(v, "id", "vec", 16, 4, 4), Seq("band", "bits")))

    val keptV = vecs(copies / 2)
    val keptVBands = Similarity.signBandTable(keptV, "id", "vec", 16, 4, 4)
    Similarity.cosineNearDupsAgainst(vecs(copies / 2, firstId = 1000L), keptV, keptVBands,
      "id", "vec", planes = 16, bands = 4, dim = 4, maxBucket = cap).count()
    assert(recorded("embed_lsh_against.dropped_buckets") === 4L)

    Decontaminate.promptContainment(d, "id", "text", docs(1), "id", "text",
      n = 3, maxPostings = cap).count()
    assert(recorded("decontam.dropped_grams") === 6L)
  }

  test("empty input records zero for every cap and does not wait") {
    CapCounters.reset()
    val noDocs = docs(copies).limit(0)
    val noVecs = vecs(copies).limit(0)
    failAfter(Span(120, Seconds)) {
      Dedup.minhashCandidates(noDocs, "id", "text", maxBucket = cap).count()
      Dedup.containmentPairs(noDocs, "id", "text", maxPostings = cap).count()
      Dedup.simhashNearDups(noDocs, "id", "text", maxBucket = cap).count()
      Dedup.minhashCandidatesAgainst(noDocs, noDocs,
        Dedup.minhashBandTable(noDocs, "id", "text"), "id", "text", maxBucket = cap).count()
      Similarity.signBandCandidates(noVecs, "id", "vec", 16, 4, 4, maxBucket = cap).count()
      Similarity.cosineNearDupsAgainst(noVecs, noVecs,
        Similarity.signBandTable(noVecs, "id", "vec", 16, 4, 4),
        "id", "vec", planes = 16, bands = 4, dim = 4, maxBucket = cap).count()
      Decontaminate.promptContainment(noDocs, "id", "text", noDocs, "id", "text",
        maxPostings = cap).count()
      assert(Dedup.dupGroups(spark.range(0).select(col("id").as("id_a"),
        col("id").as("id_b"))).count() === 0L)
    }
    Seq("minhash.dropped_buckets", "containment.dropped_shingles",
        "simhash.dropped_buckets", "minhash_against.dropped_buckets",
        "embed_lsh.dropped_buckets", "embed_lsh_against.dropped_buckets",
        "decontam.dropped_grams")
      .foreach(name => assert(recorded(name) === 0L, name))
  }
}
