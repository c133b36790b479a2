package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.catalog.TableRef
import graft.gold.Views
import graft.sinks.MergeTable

/** The lake's readers, which the medallion workload runs between its
  * batches. Set-up builds a silver table through the write path
  * (range-clustered on its key, stats and bloom on the key, deletion
  * vectors on, then a merge and a deletion-vector delete), a gold
  * aggregate over it, and lands an event backlog. A read round is a
  * fixed mix of SQL point lookups and range scans through the `graft`
  * catalog, time travel, a change feed and a gold read, each checked
  * against the generator's own copy of every table version. A replay
  * runs the backlog through the streaming layer and is checked against
  * a batch recomputation.
  */
final class LakeReads(seed: Long) {
  import LakeReads._

  private val gen = new Gen(seed)
  private val hot = gen.rnd.shuffle((0 until Rows).toVector)
  private val keyZipf = gen.zipf(Rows, 1.05)
  private var landed = 0L

  private val facts = TableRef("silver", "r", "facts")
  private val gold = TableRef("gold", "r", "by_grp")

  /** Table contents per committed version: key -> (grp, v). */
  private var versions = Vector.empty[(Long, Map[Long, (Int, Long)])]
  private def current = versions.last._2

  private var events: StreamReplay = _

  /** Bytes of user input landed or consumed by set-up and replays. */
  def landedBytes: Long = landed

  private def landRows(ctx: Ctx, name: String, rows: Seq[(Long, Int, Long)]): DataFrame = {
    val path = ctx.dir.resolve("landed").resolve(s"$name.json")
    landed += Gen.land(path, rows.map { case (k, g, v) =>
      s"""{"k":$k,"grp":$g,"v":$v,"name":"row-$k"}"""
    }.mkString("\n") + "\n")
    ctx.spark.read.schema("k LONG, grp INT, v LONG, name STRING").json(path.toString)
  }

  private def commit(ctx: Ctx, state: Map[Long, (Int, Long)]): Unit = {
    val v = ctx.wh.currentVersion(facts).get
    versions = versions.filterNot(_._1 == v) :+ (v -> state)
  }

  def setup(ctx: Ctx): Unit = {
    val base = (0L until Rows.toLong).map(k => (k, (k % Groups).toInt, gen.rnd.nextInt(1000000).toLong))
    ctx.wh.overwrite(facts,
      landRows(ctx, "base", base).repartitionByRange(Files, col("k")).sortWithinPartitions("k"),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    commit(ctx, base.map { case (k, g, v) => k -> (g, v) }.toMap)
    ctx.wh.setDeletionVectors(facts, enabled = true)
    commit(ctx, current)
    val merge = new MergeTable(ctx.spark, ctx.wh, facts, Seq("k"), None)
    for (step <- 0 until HistorySteps) {
      val upd = Seq.fill(MergeUpdates)(hot(keyZipf.next()).toLong).distinct
        .filter(current.contains)
        .map(k => (k, current(k)._1, current(k)._2 + 1 + gen.rnd.nextInt(1000)))
      val ins = (0 until MergeInserts).map { j =>
        val k = Rows.toLong + step * MergeInserts + j
        (k, (k % Groups).toInt, gen.rnd.nextInt(1000000).toLong)
      }
      merge.upsert(landRows(ctx, s"merge$step", upd ++ ins))
      commit(ctx, current ++ (upd ++ ins).map { case (k, g, v) => k -> (g, v) })
      val r = (step * 37 + seed.abs % 53).toInt
      ctx.wh.deleteWhere(facts, col("k") % DeleteModulus === r)
      commit(ctx, current.filter { case (k, _) => k % DeleteModulus != r })
    }
    Views.materializeAgg(ctx.spark, ctx.wh, gold, facts, Seq("grp"),
      Seq(Views.AggSpec("n", "count"), Views.AggSpec("total", "sum", "v")))
    events = new StreamReplay(gen, ctx.dir.resolve("events"), BacklogFiles)
    events.land()
    // a read of each kind before timing: the first of each plan shape in
    // a JVM pays for codegen. The first replay's cold start is part of
    // its timed call, the same in every run.
    Mix.distinct.foreach(read(ctx, _, corrupt = false))
  }

  /** Data files the plan's table scans will open. A table with
    * deletion vectors plans as a file scan joined with its vectors; the
    * vector scan itself is not counted.
    */
  private def filesRead(plan: SparkPlan): Int = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(plan) {
      case b: BatchScanExec => b.inputPartitions.flatMap {
        case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
        case _ => Nil
      }
      case f: FileSourceScanExec if f.requiredSchema.fieldNames.contains("k") =>
        f.relation.location.inputFiles.toSeq
    }.flatten.distinct.size
  }

  /** Plan (timed to `executedPlan`), then run; returns the plan and the
    * rows. Spark's input rows of the read are counted by its span.
    */
  private def read(ctx: Ctx)(df: => DataFrame): (SparkPlan, Array[org.apache.spark.sql.Row]) = {
    val t0 = System.nanoTime()
    val d = df
    val plan = d.queryExecution.executedPlan
    ctx.count("catalog.plan_ms", (System.nanoTime() - t0) / 1e6)
    ctx.count("catalog.reads", 1)
    val rows = d.collect()
    ctx.count("catalog.rows_returned", rows.length.toDouble)
    (plan, rows)
  }

  private def table(ctx: Ctx, ref: TableRef) = s"${ctx.catalog}.$ref"

  /** One read round: every read of [[Mix]], one after another. */
  def reads(ctx: Ctx, round: Int): Op = {
    val results = Mix.zipWithIndex.map { case (kind, j) =>
      // the self-test corrupts the first read of the first timed round
      read(ctx, kind, ctx.corrupt && round == 0 && j == 0)
    }
    Op(0,
      verify = () => results.map { case (kind, ok, _) => Check(s"${kind}_matches_generator", ok) },
      measure = () => results.flatMap(_._3).foreach { plan =>
        ctx.count("catalog.lookups", 1)
        ctx.count("catalog.files_read", filesRead(plan).toDouble)
      })
  }

  /** One read; returns its kind, whether it matched, and a lookup's plan. */
  private def read(ctx: Ctx, kind: String, corrupt: Boolean): (String, Boolean, Option[SparkPlan]) =
    kind match {
      case "lookup" =>
        val k = hot(keyZipf.next()).toLong
        val (plan, rows) = ctx.span("catalog", "catalog.lookup")(read(ctx)(
          ctx.spark.sql(s"SELECT grp, v FROM ${table(ctx, facts)} WHERE k = $k")))
        val got = rows.map(r => (r.getInt(0), r.getLong(1))).toSeq
        (kind, (if (corrupt) got :+ ((0, 0L)) else got) == current.get(k).toSeq, Some(plan))
      case "scan" =>
        val lo = gen.rnd.nextInt(Rows + HistorySteps * MergeInserts).toLong
        val hi = lo + RangeWidth
        val (_, rows) = ctx.span("catalog", "catalog.scan")(read(ctx)(
          ctx.spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM ${table(ctx, facts)} " +
            s"WHERE k BETWEEN $lo AND $hi")))
        (kind, (rows.head.getLong(0), rows.head.getLong(1)) == rangeAgg(current, lo, hi), None)
      case "time_travel" =>
        val (ver, state) = versions(gen.rnd.nextInt(versions.size))
        val lo = gen.rnd.nextInt(Rows).toLong
        val hi = lo + RangeWidth
        val (_, rows) = ctx.span("catalog", "catalog.time_travel")(read(ctx)(
          ctx.spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM ${table(ctx, facts)} " +
            s"VERSION AS OF $ver WHERE k BETWEEN $lo AND $hi")))
        (kind, (rows.head.getLong(0), rows.head.getLong(1)) == rangeAgg(state, lo, hi), None)
      case "change_feed" =>
        val a = gen.rnd.nextInt(versions.size - 1)
        val b = a + 1 + gen.rnd.nextInt(versions.size - 1 - a)
        val (_, rows) = ctx.span("catalog", "catalog.change_feed")(read(ctx)(
          ctx.wh.changeFeed(facts, versions(a)._1, versions(b)._1, Seq("k"))
            .groupBy("_change_type").count()))
        (kind, rows.map(r => r.getString(0) -> r.getLong(1)).toMap == feed(a, b), None)
      case "gold" =>
        val g = gen.rnd.nextInt(Groups)
        val (_, rows) = ctx.span("gold", "gold.read")(read(ctx)(
          ctx.spark.sql(s"SELECT n, total FROM ${table(ctx, gold)} WHERE grp = $g")))
        val live = current.values.filter(_._1 == g)
        (kind, rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
          Seq((live.size.toLong, live.map(_._2).sum)), None)
    }

  /** One replay of the backlog. The self-test corrupts the first timed
    * replay's output.
    */
  def replay(ctx: Ctx, round: Int): Op = {
    ctx.streams.take()
    val tag = s"r$round"
    val watermark = events.replay(ctx, tag)
    landed += events.bytes
    Op(0, measure = () => {
      SparkRecorder.drain(ctx.spark) // progress events are delivered asynchronously
      events.count(ctx, ctx.streams.take().filter(_.inputRows > 0))
    }, verify = () => events.verify(ctx, tag, watermark, ctx.corrupt && round == 0))
  }

  private def rangeAgg(state: Map[Long, (Int, Long)], lo: Long, hi: Long): (Long, Long) = {
    val vs = (lo to hi).flatMap(state.get).map(_._2)
    (vs.size.toLong, vs.sum)
  }

  /** Change-feed row counts by type over versions a → b, step by step. */
  private def feed(a: Int, b: Int): Map[String, Long] = {
    val steps = (a until b).map { s =>
      val (before, after) = (versions(s)._2, versions(s + 1)._2)
      val ins = after.keySet.count(k => !before.contains(k)).toLong
      val del = before.keySet.count(k => !after.contains(k)).toLong
      val upd = after.count { case (k, v) => before.get(k).exists(_ != v) }.toLong
      Map("insert" -> ins, "delete" -> del, "update_pre" -> upd, "update_post" -> upd)
    }
    steps.flatten.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
  }
}

object LakeReads {
  val Rows = 5000
  val Groups = 40
  val Files = 8
  val HistorySteps = 1
  val MergeUpdates = 300
  val MergeInserts = 100
  val DeleteModulus = 101
  val RangeWidth = 400L
  val BacklogFiles = 9
  /** A read round: four lookups, a range scan, time travel, a change
    * feed and a gold read.
    */
  val Mix: IndexedSeq[String] = Vector("lookup", "scan", "lookup", "time_travel", "lookup",
    "change_feed", "lookup", "gold")
}
