package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.TableRef
import graft.gold.Views
import graft.ingest.{IngestSpec, IngestorCDC, JobRunner}
import graft.meta.{JobRegistry, TableMeta}
import graft.quality.{CheckTarget, CheckerHandler}

/** The reference pipeline, batch after batch, with the lake's readers
  * between batches. A batch: tickers-shaped JSON lands in the raw zone, a
  * `full` bronze job loads it, the silver `prices` CDC ingestor merges it
  * latest-wins on (symbol, date), the checker scores silver, and an
  * incremental gold aggregate refreshes. Every
  * [[MedallionCdc.CompactEvery]]th batch, compaction and vacuum run
  * inside the batch's call but outside its latency sample. The timed
  * calls cycle through [[MedallionCdc.Cycle]]: batches, a read round and
  * a stream replay of [[LakeReads]]. Records carry
  * the full FIXTURES.md §1.1 column list, with the nulls, empty
  * histories and `''`/`'0.0'`/uncastable sentinels §1.1 and §1.3 call for.
  */
final class MedallionCdc(seed: Long) extends Workload {
  import MedallionCdc._

  private val gen = new Gen(seed)
  private val hot = gen.rnd.shuffle((0 until Symbols).toVector) // Zipf rank -> symbol
  private val symbolZipf = gen.zipf(Symbols, 1.1)
  private val pastZipf = gen.zipf(History, 1.2)
  private var landed = 0L
  private var batch = 0
  private var goldSince = 0L

  private val bronze = TableRef("bronze", "brapi", "tickers")
  private val silver = TableRef("silver", "brapi", "prices")
  private val gold = TableRef("gold", "brapi", "prices_by_symbol")
  private val aggs = Seq(Views.AggSpec("n", "count"), Views.AggSpec("volume", "sum", "volume"),
    Views.AggSpec("high", "max", "high"), Views.AggSpec("low", "min", "low"))

  /** Latest updated_at per (symbol, day): the keys silver must hold. */
  private val model = mutable.Map[(Int, Int), Long]()

  private val lake = new LakeReads(seed ^ 0x5DEECE66DL)

  def landedBytes: Long = landed + lake.landedBytes

  private def raw(ctx: Ctx) = ctx.dir.resolve("raw")
  private def meta(ctx: Ctx) = ctx.dir.resolve("meta")
  private def archive(ctx: Ctx) = ctx.dir.resolve("landed")

  private def date(day: Int): String = BaseDate.plusDays(day.toLong).toString

  /** A JSON string leaf, or now and then one of the raw zone's defects:
    * null, the `''` and `'0.0'` sentinels, or an uncastable string.
    */
  private def leaf(v: String): String = {
    val u = gen.rnd.nextDouble()
    if (u < SentinelShare / 4) "null"
    else if (u < SentinelShare / 2) "\"\""
    else if (u < 3 * SentinelShare / 4) "\"0.0\""
    else if (u < SentinelShare) "\"N/A\""
    else Gen.q(v)
  }

  private def money(x: Double): String = f"$x%.2f"

  /** One ticker record carrying a history price for each of `days`, with
    * every FIXTURES.md §1.1 field. Every leaf is a string, as the raw zone
    * delivers it; the key, the CDC time and history dates are always
    * valid.
    */
  private def ticker(sym: Int, updatedAt: Long, days: Seq[Int]): String = {
    val hist = days.map { d =>
      val base = 20 + (sym * 7 + d * 3) % 180 + gen.rnd.nextInt(1000) / 100.0
      val lo = base - gen.rnd.nextInt(300) / 100.0
      val hi = base + gen.rnd.nextInt(300) / 100.0
      s"""{"date":"${date(d)}","open":${leaf(money(base))},"high":${leaf(money(hi))},""" +
        s""""low":${leaf(money(lo))},"close":${leaf(money((lo + hi) / 2))},""" +
        s""""volume":${leaf((5000 + gen.rnd.nextInt(200000)).toString)},""" +
        s""""adjustedClose":${leaf(money((lo + hi) / 2))}}"""
    }
    val name = symbolName(sym)
    val px = sym + 10.0
    val top = Seq(
      "currency" -> "BRL", "marketCap" -> s"${(sym + 1) * 1000000L}",
      "shortName" -> s"CO $name", "longName" -> s"Company $name SA",
      "regularMarketChange" -> money(gen.rnd.nextGaussian()),
      "regularMarketChangePercent" -> money(gen.rnd.nextGaussian() / 2),
      "regularMarketPrice" -> money(px), "regularMarketDayHigh" -> money(px + 0.5),
      "regularMarketDayRange" -> s"${money(px - 0.5)} - ${money(px + 0.5)}",
      "regularMarketDayLow" -> money(px - 0.5),
      "regularMarketVolume" -> s"${10000 + gen.rnd.nextInt(900000)}",
      "regularMarketPreviousClose" -> money(px - 0.1), "regularMarketOpen" -> money(px - 0.2),
      "fiftyTwoWeekRange" -> s"${money(px * 0.7)} - ${money(px * 1.3)}",
      "fiftyTwoWeekLow" -> money(px * 0.7), "fiftyTwoWeekHigh" -> money(px * 1.3),
      "logourl" -> s"https://logo.example/$name.svg",
      "priceEarnings" -> money(5 + sym % 30), "earningsPerShare" -> money(px / (5 + sym % 30)),
      "loaded_at" -> "")
    val profile =
      if (gen.rnd.nextDouble() < NullProfileShare) "null"
      else {
        val fields = Seq("address1" -> s"Rua $sym", "address2" -> "", "city" -> "Sao Paulo",
          "state" -> "SP", "zip" -> f"0${sym % 10}%d000-000", "country" -> "Brazil",
          "industry" -> s"I${sym % 23}", "industryKey" -> s"i${sym % 23}",
          "industryDisp" -> s"Industry ${sym % 23}", "sector" -> s"S${sym % 9}",
          "sectorKey" -> s"s${sym % 9}", "sectorDisp" -> s"Sector ${sym % 9}",
          "longBusinessSummary" -> s"$name makes things in sector ${sym % 9}.")
        (fields.map { case (k, v) => s""""$k":${leaf(v)}""" } ++ Seq(
          s""""companyOfficers":[${(0 until sym % 3).map(o => Gen.q(s"Officer $o")).mkString(",")}]""",
          s""""executiveTeam":[]""")).mkString("{", ",", "}")
      }
    (Seq(s""""symbol":${Gen.q(name)}""", s""""regularMarketTime":"$updatedAt"""") ++
      top.map { case (k, v) => s""""$k":${leaf(v)}""" } ++
      Seq(s""""historicalDataPrice":[${hist.mkString(",")}]""", s""""summaryProfile":$profile"""))
      .mkString("{", ",", "}")
  }

  /** Land a batch file into the raw zone (the only file the bronze job
    * reads) and keep a copy for the answer-key fold.
    */
  private def land(ctx: Ctx, records: Seq[(Int, Long, Seq[Int])]): Unit = {
    val text = records.map { case (s, u, ds) => ticker(s, u, ds) }.mkString("\n") + "\n"
    val dir = raw(ctx).resolve("brapi").resolve("tickers")
    if (Files.exists(dir)) Runner.deleteTree(dir)
    landed += Gen.land(dir.resolve(f"batch$batch%05d.json"), text)
    Gen.land(archive(ctx).resolve(f"batch$batch%05d.json"), text)
    records.foreach { case (s, u, ds) => ds.foreach { d =>
      if (model.get((s, d)).forall(_ <= u)) model((s, d)) = u
    } }
  }

  private def runner(ctx: Ctx) = new JobRunner(ctx.spark, ctx.wh,
    JobRegistry.fromYamlFile(meta(ctx).resolve("jobs.yml").toString),
    raw(ctx).toString, meta(ctx).toString)

  private def pricesIngestor(ctx: Ctx) = new IngestorCDC(ctx.spark, ctx.wh,
    IngestSpec(silver, "delta", raw(ctx).toString, meta(ctx).resolve("silver").toString))

  private def checksMeta(ctx: Ctx) =
    TableMeta.fromYamlFile(meta(ctx).resolve("silver/prices/prices.yml").toString)

  def setup(ctx: Ctx): Unit = {
    writeMetadata(meta(ctx))
    land(ctx, (0 until Symbols).map(s => (s, updatedAt(0, s), 0 until History)))
    runner(ctx).run("full", "bronze_full")
    // IngestorCDC.run observes the rows of load(); for a table-sourced
    // spec that frame is never executed, so the call goes to upsert
    val ing = pricesIngestor(ctx)
    ing.upsert(ing.load())
    goldSince = Views.materializeAgg(ctx.spark, ctx.wh, gold, silver, Seq("symbol"), aggs)
    // a batch before timing: the first merge into an existing table, the
    // first checker run and the first incremental refresh in a JVM pay
    // for codegen
    (1 to WarmBatches).foreach(b => batchOp(ctx, -b))
    val t0 = System.nanoTime()
    lake.setup(ctx)
    System.err.println(
      f"[perfbench] read tables and backlog set up in ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  private def updatedAt(b: Int, i: Int): Long = 1700000000L + b * 100000L + i

  private def distinct(n: Int)(draw: => Int): Vector[Int] = {
    val out = mutable.LinkedHashSet[Int]()
    while (out.size < n) out += draw
    out.toVector
  }

  /** A batch: distinct tickers drawn Zipf over symbols, each carrying
    * prices for `Entries` distinct days, today (inserts) or Zipf-recent
    * past days (updates), so every batch changes the same number of
    * keys. Some tickers arrive twice with a later quote, which QUALIFY
    * resolves.
    */
  private def nextBatch(): Seq[(Int, Long, Seq[Int])] = {
    batch += 1
    val today = History - 1 + batch
    val syms = distinct(Tickers)(hot(symbolZipf.next()))
    val recs = syms.zipWithIndex.map { case (sym, i) =>
      val days = distinct(Entries) {
        if (gen.rnd.nextDouble() < 0.35) today else math.max(0, today - 1 - pastZipf.next())
      }
      (sym, updatedAt(batch, i), days)
    }
    val repeats = recs.take(Tickers / 10).map { case (s, u, ds) => (s, u + Tickers, ds) }
    // quotes with an empty history land in bronze and add no silver row
    val empty = (0 until EmptyHistories).map(j =>
      (hot(symbolZipf.next()), updatedAt(batch, Tickers * 2 + j), Nil))
    recs ++ repeats ++ empty
  }

  override def kind(i: Int): String = Cycle(i % Cycle.size)
  override def minCalls: Int = Cycle.size

  def op(ctx: Ctx, i: Int): Op = {
    // the call's number among the timed calls of its kind
    val k = kind(i)
    val nth = (i / Cycle.size) * Cycle.count(_ == k) + Cycle.take(i % Cycle.size).count(_ == k)
    k match {
      case "batch" => batchOp(ctx, nth)
      case "reads" => lake.reads(ctx, nth)
      case "replay" => lake.replay(ctx, nth)
    }
  }

  /** Batch `n` of the timed loop; warm-up batches are negative. */
  private def batchOp(ctx: Ctx, n: Int): Op = {
    val records = nextBatch()
    land(ctx, records)
    val changed = records.flatMap { case (s, _, ds) => ds.map(d => (s, d)) }.distinct.size
    val since = goldSince

    val t0 = System.nanoTime()
    ctx.span("ingest", "ingest.run")(runner(ctx).run("full", "bronze_full"))
    ctx.span("sinks", "sinks.merge") {
      val ing = pricesIngestor(ctx)
      ing.upsert(ing.load())
    }
    ctx.span("quality", "quality.check") {
      new CheckerHandler(ctx.spark, ctx.wh,
        Seq(CheckTarget("silver", "prices", ctx.wh.read(silver), checksMeta(ctx))),
        BaseDate.plusDays((History + batch).toLong)).execute()
    }
    goldSince = ctx.span("gold", "gold.refresh") {
      Views.refreshIncrementalAgg(ctx.spark, ctx.wh, gold, silver, since,
        Seq("symbol"), aggs, Seq("price_key"))
    }
    val batchMs = (System.nanoTime() - t0) / 1e6

    // timed batches 0, K, 2K, ... compact: a traced run traces every
    // other call of each kind, starting with the first
    val compacted = n >= 0 && n % CompactEvery == 0
    if (compacted) {
      ctx.span("catalog", "catalog.compact")(ctx.wh.compact(silver))
      ctx.span("catalog", "catalog.vacuum") {
        ctx.wh.vacuum(silver, keepVersions = 3)
        ctx.wh.vacuum(gold, keepVersions = 3)
      }
    }
    Op(changed.toLong, Some(Seq(batchMs)), measure = () => {
      // what the program wrote and read, from its own tables and files;
      // the gold refresh returned the silver version the merge committed,
      // and the merge commits one version
      def files(v: Long) = ctx.wh.snapshotAt(silver, v).files.toSet
      val before = files(goldSince - 1)
      val merged = files(goldSince)
      val after = files(ctx.wh.currentVersion(silver).get)
      ctx.count("ingest.rows_landed", ctx.wh.read(bronze).count().toDouble)
      ctx.count("gold.feed_rows",
        ctx.wh.changeFeed(silver, since, goldSince, Seq("price_key")).count().toDouble)
      ctx.count("sinks.merges", 1)
      ctx.count("sinks.rows_changed", changed.toDouble)
      ctx.count("sinks.files_rewritten", (before -- merged).size.toDouble)
      ctx.count("sinks.rows_rewritten",
        (merged -- before).toSeq.map(parquetRows(ctx, _)).sum.toDouble)
      if (compacted)
        ctx.count("catalog.compact_bytes_rewritten",
          (after -- merged).toSeq.map(fileBytes(ctx, _)).sum.toDouble)
    })
  }

  /** A silver data file, by its path relative to the table. */
  private def silverFile(ctx: Ctx, f: String) =
    new org.apache.hadoop.fs.Path(ctx.wh.path(silver), f)

  private def fileBytes(ctx: Ctx, f: String): Long = {
    val p = silverFile(ctx, f)
    p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
  }

  private def parquetRows(ctx: Ctx, f: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      silverFile(ctx, f), ctx.spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Silver must equal a plain-Spark latest-per-key fold of every landed
    * file, and gold its recomputation from silver.
    */
  override def finish(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    val fold = spark.read.schema(RawSchema).json(archive(ctx).toString)
      .select(col("symbol"), col("regularMarketTime").cast("long").as("updated_at"),
        explode(col("historicalDataPrice")).as("h"))
      .select(col("symbol") +: col("h.date").cast("date").as("date") +:
        Seq("open", "high", "low", "close", "adjustedClose").map(f =>
          col(s"h.$f").try_cast("float").as(f)) :+
        col("h.volume").try_cast("long").as("volume") :+ col("updated_at"): _*)
      .withColumn("rn", row_number().over(
        Window.partitionBy("symbol", "date").orderBy(col("updated_at").desc)))
      .filter(col("rn") === 1).drop("rn")
    val cols = Seq("symbol", "date", "open", "high", "low", "close", "adjustedClose",
      "volume", "updated_at")
    val silverRows = ctx.wh.read(silver).select(cols.map(col): _*)
    val got = if (ctx.corrupt) silverRows.limit(model.size - 1) else silverRows
    val silverOk = sameRows(got, fold.select(cols.map(col): _*))
    val silverKeys = silverRows.count() == model.size
    val s = ctx.wh.read(silver)
    val recomputed = s.groupBy("symbol").agg(count(lit(1)).as("n"),
      sum("volume").as("volume"), max("high").as("high"), min("low").as("low"))
    val goldOk = sameRows(ctx.wh.read(gold).select("symbol", "n", "volume", "high", "low"),
      recomputed)
    Seq(Check("silver_equals_fold", silverOk, s"batches=$batch"),
      Check("silver_one_row_per_key", silverKeys, s"keys=${model.size}"),
      Check("gold_equals_recompute", goldOk))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def writeMetadata(dir: Path): Unit = {
    Gen.land(dir.resolve("jobs.yml"), JobsYml)
    Gen.land(dir.resolve("bronze/tickers/tickers.yml"), TickersYml)
    Gen.land(dir.resolve("silver/prices/prices.yml"), PricesYml)
    Gen.land(dir.resolve("silver/prices/prices.sql"), PricesSql)
    ()
  }
}

object MedallionCdc {
  // Batch shape. No source gives the reference's traffic, so these are
  // unverified choices (see README.md, "Input shapes").
  val Symbols = 120
  val History = 20
  val Tickers = 30
  val Entries = 6
  val EmptyHistories = 2
  val SentinelShare = 0.04
  val NullProfileShare = 0.05
  val CompactEvery = 2
  /** The timed calls, in order, over and over. */
  val Cycle: IndexedSeq[String] = Vector("batch", "reads", "batch", "replay")
  val WarmBatches = 1
  val BaseDate: LocalDate = LocalDate.of(2026, 1, 1)

  def symbolName(i: Int): String = f"SYM$i%03d"

  private val priceFields = Seq("date", "open", "high", "low", "close", "volume", "adjustedClose")

  /** FIXTURES.md §1.1's top-level string fields after `symbol`. */
  private val tickerFields = Seq("currency", "marketCap", "shortName", "longName",
    "regularMarketChange", "regularMarketChangePercent", "regularMarketTime",
    "regularMarketPrice", "regularMarketDayHigh", "regularMarketDayRange",
    "regularMarketDayLow", "regularMarketVolume", "regularMarketPreviousClose",
    "regularMarketOpen", "fiftyTwoWeekRange", "fiftyTwoWeekLow", "fiftyTwoWeekHigh",
    "logourl", "priceEarnings", "earningsPerShare", "loaded_at")

  private val profileFields = Seq("address1", "address2", "city", "state", "zip", "country",
    "industry", "industryKey", "industryDisp", "sector", "sectorKey", "sectorDisp",
    "longBusinessSummary")

  /** The fields the answer-key fold reads from the landed files. */
  val RawSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("symbol", StringType), StructField("regularMarketTime", StringType),
      StructField("historicalDataPrice", ArrayType(StructType(
        priceFields.map(StructField(_, StringType)))))))
  }

  val JobsYml: String =
    """jobs:
      |  - name: 'bronze_full'
      |    type: 'full'
      |    tables:
      |    - table_name: 'tickers'
      |      input_format: 'json'
      |      catalog: 'bronze'
      |      schema: 'brapi'
      |""".stripMargin

  /** FIXTURES.md §1.1: every leaf a string, key `symbol`, CDC time
    * `regularMarketTime`.
    */
  val TickersYml: String = {
    def str(n: String, extra: String = "") =
      s"  - name: '$n'\n    type: 'string'\n$extra"
    def fields(ind: String, fs: Seq[String]) =
      fs.map(f => s"$ind- name: '$f'\n$ind  type: 'string'\n").mkString
    "schema:\n" +
      str("symbol", "    nullable: false\n    key: true\n") +
      tickerFields.map(f =>
        if (f == "regularMarketTime") str(f, "    date_predicate: true\n") else str(f)).mkString +
      "  - name: 'historicalDataPrice'\n    type: 'array'\n    element_type:\n" +
      "      type: 'struct'\n      fields:\n" + fields("        ", priceFields) +
      "  - name: 'summaryProfile'\n    type: 'struct'\n    fields:\n" +
      fields("      ", profileFields) +
      Seq("companyOfficers", "executiveTeam").map(f =>
        s"      - name: '$f'\n        type: 'array'\n        element_type:\n" +
          "          type: 'string'\n").mkString
  }

  /** Silver prices, FIXTURES.md §1.3: key (symbol, date) with the
    * missing, duplicated and type_mismatch tests on each key column,
    * `outdated(15)` on date and the four rule checks. The CDC id is the
    * first key, the composite `price_key`; the CDC ordering is the first
    * date_predicate, the quote time. `volume` stays integral so gold's
    * sums are exact.
    */
  val PricesYml: String = {
    val keyTests =
      """    tests:
        |      - test_type: missing
        |      - test_type: duplicated
        |      - test_type: type_mismatch
        |""".stripMargin
    def rule(e: String) =
      s"""    tests:
         |      - test_type: outside_of_rules
         |        kwargs:
         |          expression: '$e'
         |""".stripMargin
    "schema:\n" +
      "  - name: 'price_key'\n    type: 'string'\n    key: true\n" +
      "  - name: 'symbol'\n    type: 'string'\n    key: true\n    mandate: 'global_required'\n" +
      keyTests +
      "  - name: 'date'\n    type: 'date'\n    key: true\n    mandate: 'local_required'\n" +
      keyTests + "      - test_type: outdated\n        kwargs:\n          threshold: '15'\n" +
      "  - name: 'open'\n    type: 'float'\n" +
      "  - name: 'high'\n    type: 'float'\n" + rule("high >= low") +
      "  - name: 'low'\n    type: 'float'\n" + rule("low <= high") +
      "  - name: 'close'\n    type: 'float'\n" + rule("close > low") +
      "  - name: 'volume'\n    type: 'long'\n" + rule("volume >= 10000") +
      "  - name: 'adjustedClose'\n    type: 'float'\n" +
      "  - name: 'updated_at'\n    type: 'long'\n    date_predicate: true\n" +
      "  - name: 'loaded_at'\n    type: 'date'\n"
  }

  /** Raw price leaves may be null, `''`, `'0.0'` or junk: TRY_CAST turns
    * what does not parse into NULL, as the reference's non-ANSI casts do.
    */
  val PricesSql: String =
    """SELECT concat(symbol, '|', CAST(date AS STRING)) AS price_key,
      |  symbol, date, open, high, low, close, volume, adjustedClose, updated_at, loaded_at
      |FROM (
      |  SELECT symbol,
      |    CAST(h.date AS DATE) AS date,
      |    TRY_CAST(h.open AS FLOAT) AS open,
      |    TRY_CAST(h.high AS FLOAT) AS high,
      |    TRY_CAST(h.low AS FLOAT) AS low,
      |    TRY_CAST(h.close AS FLOAT) AS close,
      |    TRY_CAST(h.volume AS BIGINT) AS volume,
      |    TRY_CAST(h.adjustedClose AS FLOAT) AS adjustedClose,
      |    CAST(regularMarketTime AS BIGINT) AS updated_at,
      |    CAST(loaded_at AS DATE) AS loaded_at
      |  FROM bronze.brapi.tickers
      |  LATERAL VIEW explode(historicalDataPrice) t AS h
      |)
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol, date ORDER BY updated_at DESC) = 1
      |""".stripMargin
}
