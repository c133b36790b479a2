package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextFunctions

class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (3L, "THE QUICK  brown fox jumps over the lazy dog near the river bank today"), // case/ws variant of 1
      (4L, "the quick brown fox jumps over the lazy cat near the river bank today"), // near dup (1 token)
      (5L, "completely different content about spark catalyst optimizer rules and physical plans"),
      (6L, "completely different content about flink streaming state and watermarks tonight")
    ).toDF("doc_id", "text")
  }

  test("exactDedup keeps lowest id per normalized content") {
    import spark.implicits._
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1,2,3 collapse to 1 (fingerprint normalizes case+whitespace)
    assert(kept === Seq(1L, 4L, 5L, 6L))
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    import spark.implicits._
    val pairs = Dedup.minhashCandidates(docs.filter($"doc_id".isin(1L, 4L, 5L, 6L)),
        "doc_id", "text", k = 3, numHashes = 64, bands = 16, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.contains((1L, 5L)))
    assert(!pairs.contains((5L, 6L))) // same topic prefix but jaccard < threshold
    // no bucket exceeded the (default 1000) cap on this corpus, and
    // that fact is recorded, not silent
    assert(graft.util.CapCounters.get("minhash.dropped_buckets") === Some(0L))
    // a sub-corpus-size cap fires and is observable: with maxBucket=1,
    // every shared (band, bucket) is dropped, so no pairs AND a
    // non-zero dropped count
    val cappedPairs = Dedup.minhashCandidates(
      docs.filter($"doc_id".isin(1L, 4L, 5L, 6L)),
      "doc_id", "text", k = 3, numHashes = 64, bands = 16,
      threshold = 0.3, maxBucket = 1)
    assert(cappedPairs.count() === 0)
    assert(graft.util.CapCounters.get("minhash.dropped_buckets").exists(_ > 0L))
  }

  test("incremental exact dedup equals whole-corpus recompute on the batch") {
    import spark.implicits._
    // kept = already-deduped corpus; batch ids sort after kept ids
    val kept = docs.filter($"doc_id".isin(1L, 4L, 5L))
    val batch = Seq(
      (10L, "THE QUICK  brown fox jumps over the lazy dog near the river bank today"), // dup of kept 1
      (11L, "genuinely new content about incremental corpus deduplication semantics"),
      (12L, "genuinely new content about incremental corpus deduplication semantics"), // within-batch dup of 11
      (13L, "completely different content about spark catalyst optimizer rules and physical plans") // dup of kept 5
    ).toDF("doc_id", "text")
    val inc = Dedup.exactDedupAgainst(batch, kept, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(inc === Seq(11L))
    // equivalence: whole-corpus recompute restricted to the batch ids
    val full = Dedup.exactDedup(kept.unionByName(batch), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(inc.toSet === full.intersect(Set(10L, 11L, 12L, 13L)))
  }

  test("incremental near-dup detection finds batch×kept pairs through the persisted band table") {
    import spark.implicits._
    val kept = docs.filter($"doc_id".isin(1L, 5L, 6L))
    val keptBands = Dedup.minhashBandTable(kept, "doc_id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy cat near the river bank today"), // near dup of kept 1
      (21L, "entirely unrelated corpus material regarding distributed shuffle exchanges")
    ).toDF("doc_id", "text")
    val near = Dedup.minhashCandidatesAgainst(batch, kept, keptBands,
        "doc_id", "text", threshold = 0.3)
      .select("batch_id", "kept_id").as[(Long, Long)].collect().toSet
    assert(near === Set((20L, 1L)))
    // composition: survivors drop the exact AND near dups, keep novelty
    val batch2 = batch.unionByName(Seq(
      (22L, "the quick brown fox jumps over the lazy dog near the river bank today")) // exact dup of kept 1
      .toDF("doc_id", "text"))
    val survivors = Dedup.dedupAgainst(batch2, kept, keptBands,
        "doc_id", "text", threshold = 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors === Seq(21L))
  }

  test("incremental near-dup candidates equal whole-corpus recompute on the cross pairs") {
    import spark.implicits._
    // same signatures, same band keys, same bucket widths (the against-
    // cap counts batch ∪ kept = the whole corpus) → the incremental join
    // must reproduce the whole-corpus candidate set restricted to
    // batch×kept pairs EXACTLY, jaccard values included
    val kept = docs.filter($"doc_id" <= 4L)
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy cat near the river bank today"),
      (21L, "THE QUICK  brown fox jumps over the lazy dog near the river bank today"),
      (22L, "entirely unrelated corpus material regarding distributed shuffle exchanges"))
      .toDF("doc_id", "text")
    val keptBands = Dedup.minhashBandTable(kept, "doc_id", "text")
    val incremental = Dedup.minhashCandidatesAgainst(batch, kept, keptBands,
        "doc_id", "text", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val whole = Dedup.minhashCandidates(kept.unionByName(batch),
        "doc_id", "text", threshold = 0.3)
      .as[(Long, Long, Double)].collect()
      .collect { // cross pairs only, oriented (batch_id, kept_id)
        case (a, b, j) if a <= 4L && b >= 20L => (b, a, j)
        case (a, b, j) if a >= 20L && b <= 4L => (a, b, j)
      }.toSet
    assert(incremental === whole)
    assert(incremental.nonEmpty) // the construction really produces pairs
  }

  test("keepBest keeps the highest-scoring group member, min id on ties") {
    import spark.implicits._
    val corpus = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // group {1,2,3}: 2 wins (score tie with 3 → min id)
      (4L, 5L),                        // ungrouped: kept
      (5L, 7L), (6L, 9L)               // group {5,6}: 6 wins
    ).toDF("doc_id", "len")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "canonical_id")
    val kept = Dedup.keepBest(corpus, "doc_id", groups, col("len"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 4L, 6L))
  }

  test("dedupAgainst is idempotent: its survivors re-dedup to themselves") {
    import spark.implicits._
    val kept = docs.filter($"doc_id".isin(1L, 5L))
    val keptBands = Dedup.minhashBandTable(kept, "doc_id", "text")
    val batch = Seq(
      (30L, "the quick brown fox jumps over the lazy cat near the river bank today"), // near dup → dropped
      (31L, "fresh material on idempotent incremental ingestion semantics and proofs"),
      (32L, "fresh material on idempotent incremental ingestion semantics and proofs") // within-batch dup
    ).toDF("doc_id", "text")
    val once = Dedup.dedupAgainst(batch, kept, keptBands, "doc_id", "text",
      threshold = 0.3)
    val twice = Dedup.dedupAgainst(once, kept, keptBands, "doc_id", "text",
      threshold = 0.3)
    assert(once.select("doc_id").as[Long].collect().sorted.toSeq === Seq(31L))
    assert(twice.select("doc_id").as[Long].collect().toSeq ===
      once.select("doc_id").as[Long].collect().toSeq)
  }

  test("jaccard matches hand-computed shingle overlap") {
    import spark.implicits._
    val j = Seq(("a b c d", "a b c e"))
      .toDF("x", "y")
      .select(Dedup.ngramJaccard(col("x"), col("y"), 3).as("j"))
      .as[Double].collect()(0)
    // shingles x: {a b c, b c d}; y: {a b c, b c e} → 1/3
    assert(math.abs(j - 1.0 / 3) < 1e-9)
  }

  test("simhash: identical text → distance 0; near text → small; far text → large") {
    import spark.implicits._
    val sigs = docs.select($"doc_id",
      Dedup.simhash(TextFunctions.tokens($"text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) === sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(1L, 4L) < 12)   // one-token difference
    assert(ham(1L, 5L) > 12)   // unrelated
  }

  test("simhashNearDups blocks and verifies") {
    import spark.implicits._
    val out = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
    assert(out.contains((1L, 4L)))
    assert(!out.contains((1L, 5L)))
    // no chunk bucket exceeded the default cap here — recorded as zero
    assert(graft.util.CapCounters.get("simhash.dropped_buckets") === Some(0L))
  }

  test("containmentPairs finds quotes LSH-Jaccard misses; asymmetric; posting cap drops boilerplate") {
    import spark.implicits._
    val host = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (10 to 24).map(i => s"w$i").mkString(" ") // 15 tokens of host
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, host), (2L, quote), (3L, other)).toDF("id", "text")
    val got = Dedup.containmentPairs(df, "id", "text", k = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // quote fully contained in host; the reverse direction scores
    // 13/58 and must NOT emit — asymmetry is the point
    assert(got === Set((2L, 1L, 1.0)))
    // …and symmetric Jaccard on the same pair is far below any
    // near-dup threshold (why MinHash banding can't find it)
    val j = df.filter($"id" === 1).select(
      Dedup.ngramJaccard(lit(host), lit(quote))).head().getDouble(0)
    assert(j < 0.3)
    // boilerplate cap: every doc shares one ubiquitous shingle; with
    // maxPostings below the corpus size that shingle is unusable and
    // unrelated docs stop pairing through it
    val boiler = (1 to 8).map(i =>
      (i.toLong, s"common a b y$i z$i q$i r$i s$i t$i")).toDF("id", "text")
    val capped = Dedup.containmentPairs(boiler, "id", "text", k = 3,
      threshold = 0.1, maxPostings = 4)
    assert(capped.count() === 0)
    // ...and the drop is OBSERVABLE: "common a b" (8 postings > cap 4)
    // is the one shared shingle the cap silenced, and CapCounters
    // reports exactly it — at scale this count is the difference
    // between "deduplicated" and "silently skipped boilerplate dups"
    assert(graft.util.CapCounters.get("containment.dropped_shingles")
      === Some(1L))
    // the quote corpus above had no over-cap shingle: its run (re-run
    // here so last-run-wins ordering is explicit) records zero
    Dedup.containmentPairs(df, "id", "text", k = 3, threshold = 0.9)
      .count()
    assert(graft.util.CapCounters.get("containment.dropped_shingles")
      === Some(0L))
  }

  test("dupGroups resolves chains to the min id; keepCanonical drops losers only") {
    import spark.implicits._
    // components: {1,2,3} (chained), {7,9}, isolated pairs absent: 5 not in graph
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val groups = Dedup.dupGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // the distributed pointer-jumping path agrees with the fast path
    val distributed = Dedup.dupGroups(pairs, smallGraphEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed === groups)

    val kept = Dedup.keepCanonical(docs, "doc_id",
        Dedup.dupGroups(pairs))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // docs has ids 1..6: 2,3 dropped (losers of group 1); 7,9 not present
    assert(kept === Seq(1L, 4L, 5L, 6L))
  }

  test("a bucketed persisted band table skips corpus signature recompute") {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    // the 100 TB shape from minhashBandTable's scaladoc: the corpus band
    // table is the BIG side of every daily batch's candidate join —
    // persisted bucketed by (band, bucket), its scan arrives already
    // hash-partitioned on the join keys, so only the thin batch side
    // (and the width aggregate) shuffles
    val wh = new Warehouse(spark, tmpDir("wh-bands-bkt"))
    val ref = TableRef("silver", "dedup", "bands_bkt")
    // RUNTIME recompute witness (the checkpoint barriers inside
    // minhashCandidatesAgainst hide its stage plans from the top-level
    // executedPlan string, so plan-text counting can no longer see the
    // signature operator): every evaluation of the corpus band pipeline
    // must pass this accumulator-counting filter over the corpus text
    val corpusReads = spark.sparkContext.longAccumulator("corpusBandReads")
    val counted = org.apache.spark.sql.functions.udf { (s: String) =>
      corpusReads.add(1); true
    }
    val countingDocs = docs.filter(counted($"text"))
    val bandTable = Dedup.minhashBandTable(countingDocs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8)
    wh.overwriteBucketed(ref, bandTable, Seq("band", "bucket"), 8)
    val batch = docs.withColumn("doc_id", $"doc_id" + 100L)
      .withColumn("text", concat($"text", lit(" zymurgy")))
    def cands(bands: org.apache.spark.sql.DataFrame) =
      Dedup.minhashCandidatesAgainst(batch, docs, bands, "doc_id", "text",
        3, 32, 8, 0.5, 1000)

    // identical candidates either way
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("batch_id", "kept_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val beforeBucketed = corpusReads.value
    val got = rows(cands(wh.readBucketed(ref)))
    val bucketedReads = corpusReads.value - beforeBucketed
    val beforePlain = corpusReads.value
    assert(got === rows(cands(bandTable)))
    val plainReads = corpusReads.value - beforePlain
    assert(got.map(p => (p._1, p._2)).contains((101L, 1L))) // planted near-dup found
    // the persisted side contributes NO signature compute: the corpus
    // band pipeline (tokenize → minhash → band explode) re-runs over
    // the corpus text only for the PLAIN lazy frame; the bucketed scan
    // reads persisted rows — at 100 TB that is the daily saving, and
    // with sort-merge candidate joins the bucketed scan also arrives
    // pre-partitioned on (band, bucket) (WarehouseSpec proves the
    // exchange elimination for bucketed scans; tiny spec inputs
    // broadcast here, so shuffle counts tie)
    assert(bucketedReads === 0L,
      s"persisted bands must not re-read the corpus (saw $bucketedReads)")
    assert(plainReads > 0L,
      "witness lost its teeth: the plain variant never touched the corpus")
  }

  test("dupGroups fast path survives a descending 100k-edge chain (iterative find)") {
    import spark.implicits._
    // a chain component built top-down grows an O(n) parent chain under
    // union-by-min; a recursive find would overflow the driver stack at
    // exactly this shape and scale (the documented typical gram graph)
    val n = 100000L
    val chain = spark.range(n)
      .selectExpr(s"$n - id as id_a", s"${n - 1} - id as id_b")
    val groups = Dedup.dupGroups(chain)
    val (rows, maxCanonical) = groups
      .agg(count(lit(1)), max(col("canonical_id")))
      .as[(Long, Long)].head()
    assert(rows === n + 1)
    assert(maxCanonical === 0L)
  }

  test("dupGroups scans its pair plan once for both edge directions") {
    import spark.implicits._
    // a 4-partition pair source with no shuffle: the edge checkpoint is
    // the call's first job, one stage of one task per scanned partition
    // (a union of the two directions would scan all 4 partitions twice)
    val pairs = spark.range(0, 40, 1, 4)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val firstJobTasks = scala.collection.mutable.ArrayBuffer[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        firstJobTasks.synchronized {
          if (firstJobTasks.isEmpty) firstJobTasks += e.stageInfos.map(_.numTasks).sum
        }
    }
    org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val groups =
      try {
        val g = Dedup.dupGroups(pairs).as[(Long, Long)].collect().toMap
        org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
        g
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(firstJobTasks.toSeq === Seq(4))
    // one chain 0-1-…-40: every node resolves to 0
    assert(groups.size === 41 && groups.values.toSet === Set(0L))
  }

  test("dupGroups fails loudly when maxIters expires before convergence") {
    import spark.implicits._
    val chain = (1L to 40L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    // distributed path forced; a 40-node chain cannot converge in one
    // pointer-jumping round — silent return would hand back split groups
    assertThrows[IllegalStateException](
      Dedup.dupGroups(chain, maxIters = 1, smallGraphEdges = 0L))
    // and with room to converge the same input resolves fully
    val ok = Dedup.dupGroups(chain, maxIters = 16, smallGraphEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet === Set(1L))
  }

  test("native minhash/simhash expressions agree bit-for-bit with the HOF forms") {
    import spark.implicits._
    // includes an empty doc and a doc shorter than the shingle width
    val edge = docs.union(Seq((7L, ""), (8L, "two tokens")).toDF("doc_id", "text"))
    val toks = TextFunctions.tokens($"text")
    val rows = edge.select(
      call_function("graft_minhash", toks, lit(3), lit(64)).as("native_mh"),
      Dedup.minhashSignatureHof(toks, 3, 64).as("hof_mh"),
      call_function("graft_simhash", toks).as("native_sh"),
      Dedup.simhashHof(toks).as("hof_sh"))
      .as[(Seq[Long], Seq[Long], Long, Long)].collect()
    rows.foreach { case (nmh, hmh, nsh, hsh) =>
      assert(nmh === hmh)
      assert(nsh === hsh)
    }
  }

  test("native expressions agree with HOF forms on null token elements") {
    import spark.implicits._
    // raw token arrays (not TextFunctions.tokens, which can't produce
    // nulls): xxhash64(null) = seed 42 in the HOF path, and the window
    // nulling in shingles/minhash must match the natives' null skips
    val arrs = Seq(
      Seq("alpha", null, "beta", "gamma", "delta"),
      Seq[String](null, null, null),
      Seq("only", null),
      Seq(null, "solo", "pair", "trio")
    ).toDF("toks")
    val rows = arrs.select(
      call_function("graft_minhash", $"toks", lit(2), lit(16)).as("native_mh"),
      Dedup.minhashSignatureHof($"toks", 2, 16).as("hof_mh"),
      call_function("graft_simhash", $"toks").as("native_sh"),
      Dedup.simhashHof($"toks").as("hof_sh"),
      call_function("graft_shingles", $"toks", lit(2)).as("native_sg"),
      graft.text.Shingles.shinglesHof($"toks", 2).as("hof_sg"))
      .as[(Seq[Long], Seq[Long], Long, Long, Seq[String], Seq[String])].collect()
    rows.foreach { case (nmh, hmh, nsh, hsh, nsg, hsg) =>
      assert(nmh === hmh)
      assert(nsh === hsh)
      assert(nsg === hsg)
    }
  }

  test("minhash signature is deterministic and length-stable") {
    import spark.implicits._
    val sig = docs.limit(1).select(
      Dedup.minhashSignature(TextFunctions.tokens($"text"), 3, 32).as("s"))
      .as[Seq[Long]].collect()(0)
    assert(sig.length === 32)
    val again = docs.limit(1).select(
      Dedup.minhashSignature(TextFunctions.tokens($"text"), 3, 32).as("s"))
      .as[Seq[Long]].collect()(0)
    assert(sig === again)
  }
}
