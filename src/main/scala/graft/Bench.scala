package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** Bench-only operator variants: the gate's e2e lifecycle queries
    * (q_bucketed_join, q_compact_table) deliberately price their table
    * WRITES into the query; these variants pre-build the same tables
    * once (untimed) and measure only the downstream operator, so the
    * bench can attribute writer cost vs operator cost. Gate entries are
    * unchanged — these exist only in the bench artifact.
    */
  private def operatorVariants(spark: SparkSession, sfDir: String)
      : Map[String, () => DataFrame] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    val base = java.nio.file.Files.createTempDirectory("graft-bench-fixtures").toString
    val wh = new Warehouse(spark, s"$base/warehouse")
    val o = TableRef("silver", "bench", "orders_bkt")
    val c = TableRef("silver", "bench", "customer_bkt")
    wh.overwriteBucketed(o, Tables.load(spark, sfDir, "orders"), Seq("o_custkey"), 8)
    wh.overwriteBucketed(c, Tables.load(spark, sfDir, "customer")
      .withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"), 8)
    val compacted = TableRef("silver", "bench", "orders_compacted")
    val orders = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val mt = new graft.sinks.MergeTable(spark, wh, compacted, Seq("o_orderkey"), None)
    val edges = Seq(Long.MinValue, 20000L, 40000L, Long.MaxValue)
    edges.zip(edges.tail).foreach { case (lo, hi) =>
      mt.upsert(orders.filter($"o_orderkey" >= lo && $"o_orderkey" < hi))
    }
    // Streaming lifecycle op-twins: the SAME dedup/join operators the
    // four q_stream_* gate lifecycles run per micro-batch, executed as
    // plain batch over identical input constructions with no stream
    // machinery and no warehouse writes — lifecycle minus twin =
    // attributed stream+writer overhead in the artifact.
    import graft.dedup.Dedup
    import graft.streaming.EventStreams
    val events = Tables.load(spark, sfDir, "events")
    val docs = Tables.load(spark, sfDir, "documents")
    val keptDocs = docs.filter($"doc_id" % 3 =!= 0)
    val baseB = docs.filter($"doc_id" % 3 === 0)
    val batchIncr = baseB
      .unionByName(keptDocs.filter($"doc_id" % 7 === 1)
        .withColumn("doc_id", $"doc_id" + 1000000L))
      .unionByName(baseB.filter($"doc_id" % 5 === 0)
        .withColumn("doc_id", $"doc_id" + 2000000L))
    val reCrawls = keptDocs.filter($"doc_id" % 7 === 1)
      .withColumn("doc_id", $"doc_id" + 1000000L)
    val nearClones = docs
      .filter($"doc_id" % 3 =!= 0 && $"doc_id" % 4 === 1 && $"n_chars" >= 150)
      .withColumn("doc_id", $"doc_id" + 2000000L)
      .withColumn("text", concat($"text", lit(" zymurgy")))
    val novel = baseB.withColumn("doc_id", $"doc_id" + 3000000L)
      .withColumn("text", regexp_replace($"text", "(\\S+)", "x$1"))
    val batchNear = reCrawls.unionByName(nearClones).unionByName(novel)
    def side(tpe: String, idAs: String, tsAs: String) =
      events.filter($"event_type" === tpe)
        .select($"user_id", $"event_id".as(idAs), $"ts".as(tsAs))
    // IVF with the index PRE-BUILT (untimed): centroid sampling +
    // corpus assignment are amortized index state at scale — the gate's
    // q_ann_ivf deliberately prices them per query, this twin measures
    // search alone (same nlist/nprobe/k as the gate entry)
    import graft.sim.Similarity
    val emb = Tables.load(spark, sfDir, "embeddings")
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist = 16)
    // NOT registered as a bench transient: the q_ann_ivf_op thunk
    // consumes it several drains after this build; drainAll() at end
    // of the run releases it
    val assigned = Similarity.assign(emb, "vec_id", "embedding", centroids)
      .localCheckpoint()
    val annQueries = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    Map(
      "q_bucketed_join_op" -> (() =>
        wh.readBucketed(o).hint("merge")
          .join(wh.readBucketed(c), "o_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            sum(round($"o_totalprice" * 100).cast("long")).as("cents"))),
      "q_compact_table_op" -> (() => { wh.compact(compacted); wh.read(compacted) }),
      // dropDuplicatesWithinWatermark is streaming-only; its batch
      // equivalent over a beyond-horizon watermark is plain key dedup
      "q_stream_dedup_op" -> (() =>
        events.dropDuplicates(Seq("user_id", "event_type"))
          .select($"user_id", $"event_type")),
      "q_stream_join_op" -> (() =>
        EventStreams.intervalJoin(
            side("click", "click_id", "click_ts"),
            side("purchase", "purchase_id", "purchase_ts"),
            Seq("user_id"), "click_ts", "purchase_ts",
            within = "1 hour", watermark = "36500 days")
          .select($"click_id", $"purchase_id")),
      "q_stream_dedup_incr_op" -> (() =>
        Dedup.exactDedupAgainst(batchIncr, keptDocs, "text", "doc_id")
          .select($"doc_id", $"n_chars")),
      "q_stream_dedup_near_op" -> (() => {
        val bands = Dedup.minhashBandTable(keptDocs, "doc_id", "text", 3, 32, 8)
        Dedup.dedupAgainst(batchNear, keptDocs, bands, "doc_id", "text",
          3, 32, 8, 0.8, 1000).select($"doc_id", $"n_chars")
      }),
      "q_ann_ivf_op" -> (() =>
        Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
            annQueries, "query_id", "qvec", k = 5, nprobe = 4)
          .select($"query_id", $"rank", $"id")),
      // q_curate_corpus decomposition: the gate query composes exact
      // dedup → text scoring/filters → PII scrub as ONE plan; these
      // variants run each stage alone over the same corpus so a driver
      // outlier on the composed query is attributable to a stage
      "q_curate_dedup_op" -> (() =>
        Dedup.exactDedup(docs, "text", "doc_id").select($"doc_id")),
      "q_curate_score_op" -> (() => {
        import graft.text.TextFunctions
        docs
          .withColumn("__toks", TextFunctions.tokens($"text"))
          .withColumn("lang_pred", TextFunctions.langIdOf($"__toks"))
          .withColumn("quality", TextFunctions.qualityScoreOf($"text", $"__toks"))
          .withColumn("n_tokens", size($"__toks"))
          .withColumn("dup_token_frac", TextFunctions.dupTokenFracOf($"__toks"))
          .withColumn("top_token_frac", TextFunctions.topTokenFracOf($"__toks"))
          .filter($"lang_pred" === "en" && $"quality" >= 0.9 &&
            $"dup_token_frac" <= 0.6 && $"top_token_frac" <= 0.12)
          .select($"doc_id", $"quality", $"n_tokens")
      }),
      "q_curate_pii_op" -> (() =>
        docs.select($"doc_id",
          graft.text.TextFunctions.redactPii($"text").as("text_redacted"))),
      // BPE on the ORGANIC corpus (the gate trains on the provable
      // ladder): 16 merges over the real word-count table — prices the
      // per-iteration pair-count + rewrite loop the gate's tiny ladder
      // cannot. Eager by nature (train is a driver loop); the returned
      // frame is the learned merge table.
      "q_bpe_vocab_op" -> (() => {
        val merges = graft.text.Bpe.train(
          graft.text.Bpe.wordCounts(docs, "text"), numMerges = 16)
        merges.map(m => (m.rank, m.left, m.right, m.freq))
          .toDF("rank", "left_sym", "right_sym", "freq")
      }),
      // the 100 TB profile mode: HLL NDVs, no Expand — one scan for
      // the whole census vs the gate's exact (Expand) formulation
      "q_profile_approx_op" -> (() =>
        graft.operators.Profile.profile(
          Tables.load(spark, sfDir, "orders")
            .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
              $"o_orderpriority", $"o_totalprice"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_totalprice"),
          exact = false)))
  }

  // Locale.ROOT: the default-locale formatter would emit "1,234" under
  // comma-decimal locales and break the driver's JSON parse
  private def jnum(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Contention hardening (round-20 verdict, next #3): does this warm
    * pass warrant ONE extra pass, with the artifact reporting the min?
    * True for warm-over-cold inversions (warm > 1.25× cold and > 1 s
    * slower — a stateless recompute should not lose to its own cold
    * pass, so environment is suspected) and for any warm above 5 s
    * (the suite's slowest entries get a confirmation pass either way —
    * a contended mid-run window on exactly those entries burned the
    * r19 and r20 verdict cycles). Every pass stays on stderr; the
    * retried query's load-average sample lands in the artifact's
    * `warm_loads` map so a hot host is visible without a next-round
    * A/B.
    */
  private[graft] def warmNeedsRetry(cold: Double, warm: Double): Boolean =
    (warm > 1.25 * cold && warm - cold > 1.0) || warm > 5.0

  /** ENVIRONMENT WITNESS (round-18 verdict, What's wrong #1): a
    * fixed single-thread CPU canary — the same ~10^8-step integer
    * recurrence every round — timed before Spark starts. The binding
    * artifact can then classify a total drift on its own: canary at
    * its usual value ⇒ the drift is plan cost; canary inflated ⇒ the
    * machine was loaded (e.g. a long-lived sbt server's GC/page-cache
    * pressure — the observed 15-20% inflation), not a regression.
    */
  private def cpuCanaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("") // defeat dead-code elimination
    ms
  }

  def main(args: Array[String]): Unit = {
    val canaryMs = cpuCanaryMs()
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    System.err.println(
      f"[bench-env] canary_ms=$canaryMs%.1f load=$loadAvg%.1f")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    // Warm the session before timing: first-action costs (codegen
    // compiler, parquet footer readers, shuffle service init) belong to
    // session startup, not to whichever query happens to run first.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Explicit WARM-UP phase (round-14 verdict, next #2): the run's
    // first warehouse write, merge, delete, and streaming micro-batch
    // each pay JVM-wide one-time costs (parquet output committer,
    // whole-stage codegen families, state-store + stream-execution
    // init) that otherwise migrate into whichever fixture phase runs
    // first alphabetically — three rounds running they landed in three
    // different phases. One representative nonce of each shape runs
    // BEFORE timing starts; the cost is reported as its own `warmup`
    // line in the artifact's phases map instead of polluting a query.
    val warmupT0 = System.nanoTime()
    try {
      import org.apache.spark.sql.streaming.Trigger
      import spark.implicits._
      import graft.catalog.{TableRef, Warehouse}
      val base = java.nio.file.Files.createTempDirectory("graft-bench-warmup")
      val wh = new Warehouse(spark, s"$base/wh")
      val ref = TableRef("bench", "warmup", "t")
      wh.overwrite(ref, (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("k")),
        // bloomColumns: the 64-word bit_or bloom aggregate is the
        // suite's single largest whole-stage-codegen compile (~3-4 s,
        // JVM-once) — it belongs to the warmup line like the other
        // first-action families, not to whichever bloom table's first
        // commit runs earliest
        statsColumns = Seq("k"), bloomColumns = Seq("k"))
      new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
        .upsert(Seq((2001L, "x")).toDF("k", "v").coalesce(1))
      wh.deleteWhere(ref, org.apache.spark.sql.functions.col("k") % 500 === 0L)
      assert(wh.read(ref).count() > 0)
      val in = base.resolve("in")
      (1L to 200L).map(i => (i, i % 7)).toDF("id", "g").coalesce(1)
        .write.parquet(in.toString)
      spark.readStream.schema(spark.read.parquet(in.toString).schema)
        .parquet(in.toString)
        .groupBy($"g").count()
        .writeStream.outputMode("complete").format("noop")
        .option("checkpointLocation", base.resolve("chk").toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      // hash/shingle family (round-15 verdict, next #1: the drifting
      // families must be IN the nonce): xxhash64-over-HOF shingles,
      // posting explode + bounded self-join, minhash band signatures —
      // the same generated-code shapes the dedup gates run, so their
      // codegen + JIT cost lands here instead of in whichever dedup
      // query runs first
      val docsN = (1L to 64L).map(i =>
        (i, (1 to 40).map(t => s"w${(i * 7 + t) % 23}").mkString(" ")))
        .toDF("doc_id", "text").repartition(4)
      graft.dedup.Dedup.containmentPairs(docsN, "doc_id", "text",
        k = 3, threshold = 0.5, maxPostings = 100).count()
      graft.dedup.Dedup.minhashBandTable(docsN, "doc_id", "text",
        3, 32, 8).count()
      // media codec family: javax ImageIO / AudioSystem one-time init
      // and the mapPartitions decode shapes the mm gates pay
      import graft.mm.{MediaRecord, Multimodal}
      val media = (1L to 4L).flatMap(i => Seq(
        MediaRecord(i, "image", s"img$i",
          Multimodal.synthesizePng(8, 8, (i * 17 % 255).toInt),
          None, None, None),
        MediaRecord(i + 100L, "audio", s"aud$i",
          Multimodal.synthesizeWav(8000, 256, (i * 100).toShort),
          None, None, None))).toDS()
      Multimodal.dhashImages(media.filter($"kind" === "image")).count()
      Multimodal.ahashAudio(media.filter($"kind" === "audio")).count()
    } catch {
      case e: Throwable => System.err.println(s"[bench] warmup failed: $e")
    }
    val warmupSec = (System.nanoTime() - warmupT0) / 1e9
    System.err.println(f"[bench] warmup ${warmupSec}%.2fs")
    // optional args = subset of query names (local profiling; the
    // driver invokes with no args → full suite)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    graft.util.PhaseTimer.reset()
    graft.util.CapCounters.reset() // caps in the artifact are THIS run's
    def timed(tag: String)(name: String, thunk: () => Long): (String, Double) = {
      val t0 = System.nanoTime()
      val n = try thunk() catch { case _: Throwable => -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[$tag] $name%-24s $sec%8.2fs  rows=$n")
      name -> sec
    }
    def phaseDelta(before: Map[String, Double]): Map[String, Double] =
      graft.util.PhaseTimer.snapshot.flatMap { case (k, v) =>
        val d = v - before.getOrElse(k, 0.0)
        if (d > 0.005) Some(k -> d) else None
      }
    def fmtMap(m: Iterable[(String, Double)]): String =
      m.toSeq.sortBy { case (k, v) => (-v, k) }
        .map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    // Per-query protocol (round-8 verdict, What's wrong #1): cold pass →
    // immediate warm pass (heavies only) → evict that query's memoized
    // fixtures. Every query then runs against the same near-empty block
    // manager instead of the accumulated storage of all 100+ fixtures
    // built before it, and a cold number is explainable as
    // warm + this query's own phased fixture builds. Phase deltas are
    // captured PER PASS — the artifact's `phases` map holds cold-pass
    // deltas only (what explains cold entries); warm-pass deltas go to
    // stderr per query.
    val coldPhases = scala.collection.mutable.Map[String, Double]()
    coldPhases("warmup") = warmupSec // its own artifact line, outside total
    // Warm-pass phase deltas that go IN the artifact (stderr carries
    // the rest): EVERY warm entry above 2 s (round-15 verdict, next #1
    // — the biggest warm numbers must be attributable in the artifact
    // itself; a 5 s warm entry with stderr-only phases reads as
    // unexplained drift), which subsumes the older inversion rule
    // (warm > cold, round-10) and heavy-warm rule (> 5 s, round-11).
    val invertedWarmPhases =
      scala.collection.mutable.Map[String, Map[String, Double]]()
    // per-query load-average samples for retried warm outliers — the
    // in-artifact contention witness (round-20 verdict, next #3)
    val warmLoads = scala.collection.mutable.Map[String, Double]()
    // FIRST-pass warm timing for retried queries (r21 ADVICE: the
    // artifact reports the min, which can mask a bimodal regression —
    // the first/min pair distinguishes contention collapse from plan
    // cost without the stderr log)
    val warmFirsts = scala.collection.mutable.Map[String, Double]()
    val warmAttrSec = 2.0
    // generated classes compiled so far in this JVM: a warm pass that
    // still compiles is missing Spark's codegen cache
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def runOne(name: String, thunk: () => Long): ((String, Double), Option[(String, Double)]) = {
      val s0 = graft.util.PhaseTimer.snapshot
      val k0 = compiles
      val cold = timed("bench")(name, thunk)
      val k1 = compiles
      val passCompiles = scala.collection.mutable.ArrayBuffer(s"cold=${k1 - k0}")
      val coldD = phaseDelta(s0)
      coldD.foreach { case (k, v) =>
        coldPhases.updateWith(k)(p => Some(p.getOrElse(0.0) + v))
      }
      // Warm rerun for every query whose cold time exceeded 2 s: a
      // number that collapses on the rerun is environment (page cache,
      // JIT, fixture build), one that persists is plan cost.
      val warm = if (cold._2 > 2.0) {
        val s1 = graft.util.PhaseTimer.snapshot
        val w0 = timed("bench-warm")(name, thunk)
        val warmD0 = phaseDelta(s1)
        val k2 = compiles
        passCompiles += s"warm=${k2 - k1}"
        if (warmD0.nonEmpty)
          System.err.println(s"[bench-phases-warm $name] ${fmtMap(warmD0)}")
        // outlier confirmation pass (see warmNeedsRetry): the artifact
        // reports the MIN of the warm passes — a number that collapses
        // on the rerun was a contended window, not plan cost — with
        // the load sample recorded in `warm_loads`
        val (w, warmD) =
          if (!warmNeedsRetry(cold._2, w0._2)) (w0, warmD0)
          else {
            val load = java.lang.management.ManagementFactory
              .getOperatingSystemMXBean.getSystemLoadAverage
            val s2 = graft.util.PhaseTimer.snapshot
            val w2 = timed("bench-warm2")(name, thunk)
            val warmD2 = phaseDelta(s2)
            passCompiles += s"warm2=${compiles - k2}"
            if (warmD2.nonEmpty)
              System.err.println(s"[bench-phases-warm2 $name] ${fmtMap(warmD2)}")
            System.err.println(
              f"[bench-warm-retry] $name first=${w0._2}%.3f " +
                f"second=${w2._2}%.3f load=$load%.2f")
            warmLoads(name) = math.max(load, 0.0)
            warmFirsts(name) = w0._2
            if (w2._2 < w0._2) (w2, warmD2) else (w0, warmD0)
          }
        if (w._2 > warmAttrSec ||
            (w._2 > cold._2 * 1.25 && w._2 - cold._2 > 1.0))
          invertedWarmPhases(name) =
            if (warmD.nonEmpty) warmD
            else Map("unattributed" -> w._2)
        Some(w)
      } else None
      if (coldD.nonEmpty)
        System.err.println(s"[bench-phases-cold $name] ${fmtMap(coldD)}")
      System.err.println(s"[bench-codegen $name] ${passCompiles.mkString(" ")}")
      graft.util.Scratch.drainTouched()
      (cold, warm)
    }
    // shared-fixture staging as its own timed entry, FIRST: the three
    // big multi-gate fixtures (sqlfam / gold-MV churn / CDC churn)
    // build here so consumer gates' cold numbers are their own
    // operator work, not whichever gate ran first paying the family's
    // build. Counted in the total — the work is real — with the
    // per-fixture phases named in the artifact like any other build.
    val prebuildRun =
      if (args.nonEmpty) Nil // targeted runs keep lazy builds
      else Seq(runOne("q_fixture_prebuild",
        () => graft.queries.PipelineQueries.prebuildSharedFixtures(spark, sfDir)))
    val gateRuns = prebuildRun ++ selected.toSeq.sortBy(_._1).map {
      case (name, fn) => runOne(name, () => fn(spark, sfDir).count())
    }
    // operator-only variants over pre-built (untimed) fixtures;
    // selectable by name like gate queries (suffix _op) for targeted runs
    val wantVariants = args.isEmpty || args.exists(_.endsWith("_op"))
    val variantSel: Map[String, () => DataFrame] =
      if (!wantVariants) Map.empty
      else {
        // one bad fixture build must degrade the artifact, not kill it
        // (BENCH_r09 died with parsed=null on an analysis error here)
        val vs = try operatorVariants(spark, sfDir) catch {
          case e: Throwable =>
            System.err.println(s"[bench] operatorVariants failed: $e")
            Map.empty[String, () => DataFrame]
        }
        if (args.isEmpty) vs else vs.view.filterKeys(args.toSet).toMap
      }
    val variantRuns = variantSel.toSeq.sortBy(_._1).map { case (name, thunk) =>
      runOne(name, () => thunk().count())
    }
    val gateResults = gateRuns.map(_._1)
    val results = (gateRuns ++ variantRuns).map(_._1)
    val total = gateResults.map(_._2).sum
    val warmResults = (gateRuns ++ variantRuns).flatMap(_._2)
    graft.util.Scratch.drainAll()

    // Full per-query map on stderr for local runs / full driver logs.
    val fullMap = results.map { case (k, v) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    System.err.println(s"[bench-queries] $fullMap")
    // Artifact phases = COLD-pass deltas only (what explains the cold
    // per-query numbers); the cumulative map incl. warm passes stays on
    // stderr for full driver logs.
    val phasesAll = coldPhases.toSeq
    System.err.println("[bench-phases-cumulative] "
      + graft.util.PhaseTimer.snapshot.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}"))
    // JSON-line phases capped to the 14 costliest (the fixture-memo
    // rework multiplied the phase count; the full map is the stderr
    // line above). The remainder folds BY PREFIX FAMILY instead of one
    // opaque `other` (round-10 verdict, What's wrong #3: 60 s hid
    // there): "gincr.fixtures" → "other:*.fixtures",
    // "stream.lm.replay" → "other:stream.*", unqualified keys →
    // "other" — every folded second stays attributable to a family.
    val phasesInline = 11
    val phasesTop = phasesAll.sortBy { case (k, v) => (-v, k) }
    def family(k: String): String =
      if (k.endsWith(".fixtures")) "other:*.fixtures"
      else {
        // two-segment families where the key depth allows: the stream.*
        // prefix alone folded ~30 s across a dozen unrelated replays —
        // stream.aggmv.* vs stream.late.* etc. keep each fold small
        // enough (<~20 s) to need no further explanation
        val segs = k.split('.')
        if (segs.length >= 3) s"other:${segs(0)}.${segs(1)}.*"
        else if (segs.length == 2) s"other:${segs(0)}.*"
        else "other:misc" // distinct from the terminal re-fold bucket
      }
    // a fold ≥ 5 s names its shape in the key — member count and the
    // largest member — so the artifact's biggest folded number is
    // self-describing ("24 keys, none above 2.4 s" reads as amortized
    // small builds; "3 keys, max 9 s" reads as a hidden heavy)
    val foldedAll = phasesTop.drop(phasesInline)
      .groupMap { case (k, _) => family(k) } { case (_, v) => v }
      .map { case (fam, vs) =>
        val sum = vs.sum
        val k =
          if (sum < 5.0) fam
          else s"$fam(n=${vs.size},max=${jnum(vs.max)})"
        k -> sum
      }
      .toSeq.sortBy { case (k, v) => (-v, k) }
    // families under 3 s re-fold into one terminal bucket: they'd eat
    // the line budget the per-query section needs, and a small family
    // needs no attribution
    val (foldedBig, foldedSmall) = foldedAll.partition(_._2 >= 3.0)
    val folded = foldedBig ++
      (if (foldedSmall.isEmpty) Nil
       else {
         val sum = foldedSmall.map(_._2).sum
         val k =
           if (sum < 5.0) "other"
           else s"other(n=${foldedSmall.size},max=${jnum(foldedSmall.map(_._2).max)})"
         Seq(k -> sum)
       })
    val phases = (phasesTop.take(phasesInline)
      .map { case (k, v) => "\"" + k + "\":" + jnum(v) } ++
      folded.map { case (k, v) => "\"" + k + "\":" + jnum(v) })
      .mkString("{", ",", "}")

    // The driver keeps only the LAST 2000 chars of output and parses the
    // JSON line out of that window (BENCH_r01-r04 all arrived truncated
    // with parsed=null: the full 80-query map alone exceeds the window).
    // So the final stdout line is built to a hard budget: headline total
    // and phases always present, then per-query entries slowest-first
    // until the budget is spent; the fastest remainder is folded into
    // "rest" (count + summed seconds) instead of silently dropped.
    val warmFull = warmResults.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => "\"" + k + "\":" + jnum(v) }
    System.err.println(s"[bench-warm-map] ${warmFull.mkString("{", ",", "}")}")
    // JSON-line warm map capped to the 10 slowest so it doesn't crowd
    // the per-query section out of the line budget; the full map is
    // the stderr line above
    val warm = warmFull.take(10).mkString("{", ",", "}")

    // Warm attribution: EVERY >2 s warm entry carries its phases (the
    // r16/r17 take(6) cap left six >2 s entries unexplained in the
    // artifact), 2 phases each. "unattributed" marks a stateless
    // recompute whose phases are all sub-threshold — its warm cost is
    // the query's own plan, not a hidden fixture.
    val warmPh =
      if (invertedWarmPhases.isEmpty) "{}"
      else invertedWarmPhases.toSeq
        .sortBy { case (n, _) => -warmResults.toMap.getOrElse(n, 0.0) }
        // same 10 entries as the inline warm map — attribution beyond
        // them lives on stderr ([bench-phases-warm]); 16 inline entries
        // squeezed the per-query section to zero
        .take(10)
        .zipWithIndex
        .map { case ((n, ph), rank) =>
          // COVERAGE for the headline entries, not a fixed take(2)
          // (round-18 verdict, next #4: the suite's slowest warm entry
          // carried a ~2 s residual the cap had truncated): the 4
          // slowest warm entries include phases largest-first until
          // under 0.6 s is unnamed (max 5); the rest keep top-2 so the
          // per-query section isn't squeezed out of the line budget
          val warmSec = warmResults.toMap.getOrElse(n, 0.0)
          val sorted = ph.toSeq.sortBy { case (k, v) => (-v, k) }
          var cum = 0.0
          val keep = sorted.takeWhile { case (_, v) =>
            val need = warmSec - cum > 0.6
            cum += v
            need
          }.take(if (rank < 4) 5 else 2)
          "\"" + n + "\":" + fmtMap(keep)
        }.mkString("{", ",", "}")

    // Recall-cap observability IN the artifact (round-12 verdict, next
    // #6): every quadratic-stage cap that ran this bench reports its
    // dropped-key count — all zeros is the healthy gate-scale record,
    // a non-zero here means some dedup/ANN output was recall-bounded
    // and the per-run WARN fired. Keys absent = operator never ran.
    // all-zero is the healthy record and needs no per-key listing in
    // the size-budgeted line (the keys are stable; stderr has nothing
    // to add) — non-zero counters always list individually
    val capsSnap = graft.util.CapCounters.snapshot.toSeq.sorted
    val capsNonZero = capsSnap.filter(_._2 != 0L)
    val caps =
      if (capsNonZero.isEmpty) s"""{"all_zero":${capsSnap.size}}"""
      else (capsNonZero.map { case (k, v) => "\"" + k + "\":" + v } :+
        s""""zeros":${capsSnap.size - capsNonZero.size}""")
        .mkString("{", ",", "}")

    // Commit-log I/O across the whole run (round-14 verdict, next #5):
    // the O(churn) log-walk proof in the driver artifact, not just in
    // specs — reads = version files parsed (cache misses only), bytes
    // = log bytes parsed. A regression that re-walks logs per trigger
    // shows up here as an order-of-magnitude jump.
    val (ioReads, ioBytes) = graft.catalog.Warehouse.LogIO.snapshot()
    val logIo = s"""{"reads":$ioReads,"bytes":$ioBytes}"""

    // 1900 (was 1850): the env witness + coverage-complete warm
    // phases cost ~225 chars (bought back ~50 by warm take(10)); the
    // driver's parse window is the LAST 2000 chars and sbt's
    // [success] tail is ~60 — 1900 keeps the line inside it
    val budget = 1900
    // env witness: canary re-timed at END too — contention that built
    // up DURING the run (concurrent builds) shows as start≪end
    val canaryEndMs = cpuCanaryMs()
    val env = s"""{"canary_ms":${jnum(canaryMs)},"canary_end_ms":${jnum(
      canaryEndMs)},"load":${jnum(math.max(loadAvg, 0.0))}}"""
    // contention witness for retried warm outliers: loadavg at retry
    // time, keyed by query — bounded to the 5 highest-load entries so
    // a pathologically hot host cannot crowd out the per-query section
    val loads = warmLoads.toSeq.sortBy { case (k, v) => (-v, k) }.take(5)
      .map { case (k, v) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    // retried queries' FIRST warm pass (same 5-entry cap as the load
    // witness; the min is already the `warm` entry)
    val retries = warmFirsts.toSeq.sortBy { case (k, v) => (-v, k) }.take(5)
      .map { case (k, v) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","sf":"$sfDir","env":$env,"phases":$phases,"warm":$warm,"warm_phases":$warmPh,"warm_loads":$loads,"warm_first":$retries,"caps":$caps,"log_io":$logIo,"queries":{"""
    val sb = new StringBuilder(head)
    var included = 0
    var restN = 0
    var restSum = 0.0
    results.sortBy { case (k, v) => (-v, k) }.foreach { case (k, v) =>
      val entry = "\"" + k + "\":" + jnum(v)
      if (sb.length + entry.length + 60 <= budget) {
        if (included > 0) sb.append(',')
        sb.append(entry)
        included += 1
      } else {
        restN += 1
        restSum += v
      }
    }
    sb.append("}")
    if (restN > 0) sb.append(s""","rest":{"n":$restN,"sec":${jnum(restSum)}}""")
    sb.append("}")
    println(sb.toString)
    spark.stop()
  }
}
