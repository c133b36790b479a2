package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.catalog.{GraftCatalog, Warehouse}
import graft.util.{CapCounters, PhaseTimer}

/** One run: session start and warm-up, the workload's set-up, the
  * closed timed loop on one client thread, then the checks.
  */
object Runner {
  final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long)

  private def secs(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Heap in use right after a full collection: the live set. Spark's
    * context cleaner drops blocks of collected RDDs and broadcasts only
    * after a collection, so a second one follows once it has run.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Bytes of every file that appears under the warehouse, counted once
    * when first seen; files are immutable once written, so this is the
    * bytes written that outlived the call that wrote them.
    */
  private final class WriteWalker(root: Path) {
    private val seen = mutable.Set[String]()
    var bytes = 0L
    def scan(): (Long, Int, Int) = {
      var b = 0L; var commits = 0; var dataFiles = 0
      if (Files.exists(root)) {
        val it = Files.walk(root)
        try it.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
          val key = p.toString
          if (seen.add(key)) {
            b += Files.size(p)
            val rel = root.relativize(p).iterator().asScala.map(_.toString).toSeq
            if (rel.exists(_ == "_graft_log") && rel.last.matches("v\\d+")) commits += 1
            else if (rel.last.endsWith(".parquet") && !rel.exists(_.startsWith("_"))) dataFiles += 1
          }
        } finally it.close()
      }
      bytes += b
      (b, commits, dataFiles)
    }
  }

  def run(a: Main.Args): Outcome = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder("local[4]", 4).appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val streams = new StreamRecorder
    spark.streams.addListener(streams)
    val recorder = if (a.trace) Some(new SparkRecorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    try {
      val tracer = new Tracer(s"${a.workload}-${a.seed}", spark.sparkContext)
      def newCtx(dir: Path, catalog: String): Ctx = {
        Files.createDirectories(dir)
        spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catalog.root", dir.resolve("wh").toString)
        new Ctx(spark, dir, catalog, tracer, streams, a.corrupt)
      }
      val t1 = System.nanoTime()
      val warm = newCtx(a.work.resolve("warmup"), "graft_w")
      Main.workloadFor(a.workload, a.seed).warmUp(warm)
      deleteTree(warm.dir)
      val t2 = System.nanoTime()
      val wl = Main.workloadFor(a.workload, a.seed)
      val ctx = newCtx(a.work.resolve("run"), "graft_r")
      wl.setup(ctx)
      val setupS = secs(System.nanoTime() - t0)
      System.err.println(f"[perfbench] session ${secs(t1 - t0)}%.2fs " +
        f"warm-up ${secs(t2 - t1)}%.2fs set-up ${secs(System.nanoTime() - t2)}%.2fs")

      val walker = new WriteWalker(ctx.dir.resolve("wh"))
      walker.scan()
      val written0 = walker.bytes
      val landed0 = wl.landedBytes
      streams.take()

      var heapPeak = liveHeapMb()
      val samples = mutable.ArrayBuffer[Double]()
      // latency samples by (kind, traced): the tracing overhead compares
      // traced and untraced calls of the same kind
      val bySide = mutable.Map[(String, Boolean), mutable.ArrayBuffer[Double]]()
      val kindCalls = mutable.Map[String, Int]().withDefaultValue(0)
      val tracedWall = mutable.ArrayBuffer[Double]()
      val sparkDelta = mutable.Map[String, Long]().withDefaultValue(0L)
      val selfS = mutable.Map[String, Double]().withDefaultValue(0.0)
      val spanS = mutable.Map[String, Double]().withDefaultValue(0.0)
      val spanCalls = mutable.Map[String, Int]().withDefaultValue(0)
      var items = 0L
      var busyNs = 0L
      var attempted = 0L
      var failed = 0L
      var i = 0
      // the loop measures `seconds` of timed calls; checks between calls
      // do not count, so every run makes about the same number of calls
      val minOps = math.max(wl.minCalls, if (a.trace) 2 else 1)
      while (busyNs < a.seconds * 1000000000L || i < minOps) {
        // a traced run alternates traced and untraced calls of each kind,
        // so the difference between the two is the tracing overhead
        val kind = wl.kind(i)
        val traced = a.trace && kindCalls(kind) % 2 == 0
        kindCalls(kind) += 1
        val root = tracer.all.size
        val spark0 =
          if (traced) { SparkRecorder.drain(spark); recorder.get.snapshot }
          else Map.empty[String, Long]
        val (lr0, lb0) = Warehouse.LogIO.snapshot()
        val pt0 = PhaseTimer.snapshot
        if (traced) CapCounters.reset()
        tracer.active = traced
        ctx.traced = traced
        val s0 = System.nanoTime()
        val res = try Right(tracer.span("bench", "op")(wl.op(ctx, i)))
        catch { case e: Exception => Left(e) }
        val dt = System.nanoTime() - s0
        tracer.active = false
        busyNs += dt
        attempted += 1
        if (traced) {
          // the call's own counters, before any measuring or checking runs
          tracedWall += dt / 1e6
          SparkRecorder.drain(spark)
          recorder.get.snapshot.foreach { case (k, v) => sparkDelta(k) += v - spark0.getOrElse(k, 0L) }
          sparkDelta("wall_ns") += dt
          val (lr1, lb1) = Warehouse.LogIO.snapshot()
          ctx.counts("catalog.log_reads") += lr1 - lr0
          ctx.counts("catalog.log_bytes") += lb1 - lb0
          PhaseTimer.snapshot.foreach { case (k, v) => ctx.counts(s"pt.$k") += v - pt0.getOrElse(k, 0.0) }
          ctx.counts("dedup.cap_dropped") += CapCounters.snapshot.values.sum.toDouble
          val ss = tracer.spansOf(root)
          tracer.selfTimes(ss).foreach { case (l, s) => selfS(l) += s }
          ss.foreach(s => spanS(s.name) += s.durNs / 1e9)
          ss.map(_.name).distinct.foreach(spanCalls(_) += 1)
        }
        val (_, commits, dataFiles) = walker.scan()
        if (traced) {
          ctx.counts("catalog.commits") += commits
          ctx.counts("catalog.files_added") += dataFiles
        }
        res match {
          case Right(op) =>
            items += op.items
            val opSamples = op.samples.getOrElse(Seq(dt / 1e6))
            samples ++= opSamples
            bySide.getOrElseUpdate((kind, traced), mutable.ArrayBuffer()) ++= opSamples
            System.err.println(f"[perfbench] op $i $kind ${dt / 1e6}%.0f ms, samples " +
              opSamples.map(x => f"$x%.0f").mkString(" "))
            if (traced) op.measure()
            ctx.traced = false
            val checks = op.verify()
            checks.filterNot(_.ok).foreach(c =>
              System.err.println(s"[perfbench] op $i CHECK FAILED ${c.name}: ${c.detail}"))
            attempted += checks.size
            failed += checks.count(!_.ok)
          case Left(e) =>
            failed += 1
            System.err.println(s"[perfbench] op $i failed: $e")
            e.printStackTrace()
        }
        ctx.traced = false
        heapPeak = math.max(heapPeak, liveHeapMb())
        i += 1
      }
      val checks = wl.finish(ctx)
      checks.foreach { c =>
        if (!c.ok) System.err.println(s"[perfbench] CHECK FAILED ${c.name}: ${c.detail}")
      }
      attempted += checks.size
      failed += checks.count(!_.ok)
      System.err.println(f"[perfbench] ops=$i items=$items busy=${secs(busyNs)}%.2fs " +
        s"checks=${checks.size} failed=$failed")

      if (a.trace) {
        val spansPath = a.work.getParent.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
        tracer.writeJsonl(spansPath)
        System.err.println(s"[perfbench] spans written to $spansPath")
      }

      val metrics = if (a.trace) {
        // per kind, the median traced sample over the median untraced
        // one; the run's overhead is their geometric mean
        val ratios = bySide.keys.map(_._1).toSeq.distinct.flatMap { k =>
          for (t <- bySide.get((k, true)); u <- bySide.get((k, false)))
            yield median(t.toSeq) / median(u.toSeq)
        }
        val overheadPct =
          if (ratios.isEmpty) 0.0 else (math.exp(ratios.map(math.log).sum / ratios.size) - 1) * 100
        Metrics.perLayer(a.metrics, ctx.counts.toMap, spanS.toMap, spanCalls.toMap,
          selfS.toMap, sparkDelta.toMap, tracedWall.toSeq, overheadPct)
      } else {
        val landed = wl.landedBytes - landed0
        Map(
          "setup_s" -> setupS,
          "op_p50_ms" -> median(samples.toSeq),
          "items_per_s" -> items / secs(busyNs),
          "write_amp" -> (walker.bytes - written0).toDouble / math.max(1L, landed),
          "heap_peak_mb" -> heapPeak)
      }
      Outcome(metrics, attempted, failed)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      spark.stop()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally it.close()
  }
}
