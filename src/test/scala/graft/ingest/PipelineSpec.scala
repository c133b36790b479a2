package graft.ingest

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.catalog.{TableRef, Warehouse}
import graft.meta.JobRegistry

/** End-to-end medallion pipeline over reference-SHAPED fixtures
  * (FIXTURES.md §1; our own content): raw JSON → bronze full load →
  * bronze CDC merge → silver transform with explode + composite-key
  * QUALIFY dedup — the minimum slice of SURVEY.md §7.2 plus the CDC path.
  */
class PipelineSpec extends SparkSpec {

  private def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    ()
  }

  private val quotesYaml =
    """schema:
      |  - name: 'stocks'
      |    type: 'string'
      |    nullable: false
      |    key: true
      |  - name: 'close'
      |    type: 'string'
      |    nullable: false
      |  - name: 'event_time'
      |    type: 'string'
      |    nullable: false
      |    date_predicate: true
      |""".stripMargin

  private val quotesSql =
    """SELECT
      |  stocks
      |  , cast(close as double) as close_price
      |  , cast(event_time as timestamp) as event_time
      |FROM view_quotes
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY stocks ORDER BY event_time DESC) = 1""".stripMargin

  private val tickersYaml =
    """schema:
      |  - name: 'symbol'
      |    type: 'string'
      |    nullable: false
      |    key: true
      |  - name: 'marketTime'
      |    type: 'string'
      |    nullable: false
      |    date_predicate: true
      |  - name: 'history'
      |    type: 'array'
      |    nullable: true
      |    element_type:
      |      type: 'struct'
      |      fields:
      |        - name: 'date'
      |          type: 'string'
      |        - name: 'open'
      |          type: 'string'
      |        - name: 'close'
      |          type: 'string'
      |""".stripMargin

  private val pricesYaml =
    """schema:
      |  - name: 'symbol'
      |    type: 'string'
      |    nullable: false
      |    key: true
      |  - name: 'date'
      |    type: 'date'
      |    nullable: false
      |    key: true
      |    date_predicate: true
      |  - name: 'open'
      |    type: 'float'
      |  - name: 'close'
      |    type: 'float'
      |""".stripMargin

  // silver transform: reads the BRONZE table (not the batch view), same
  // shape as /root/reference/silver/prices/prices.sql:1-15
  private val pricesSql =
    """SELECT
      |  symbol
      |  , CAST(from_unixtime(cast(exploded.date as bigint)) AS DATE) as date
      |  , CAST(exploded.open as float) as open
      |  , CAST(exploded.close as float) as close
      |FROM bronze.brapi.tickers
      |LATERAL VIEW explode(history) as exploded
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol, date ORDER BY date DESC) = 1""".stripMargin

  // NOTE the full job does NOT include `quotes`: the CDC target's schema
  // is the TRANSFORMED one, while a full load lands raw columns verbatim
  // — running full-then-cdc on one table is a schema mismatch the merge
  // rejects loudly (the reference would hit the same wall in Delta; its
  // CDC targets are created from the transform output).
  private val registryYaml =
    """jobs:
      |  - name: 'bronze_full'
      |    type: 'full'
      |    tables:
      |    - table_name: 'tickers'
      |      input_format: 'json'
      |      catalog: 'bronze'
      |      schema: 'brapi'
      |  - name: 'bronze_cdc'
      |    type: 'cdc'
      |    tables:
      |    - table_name: 'quotes'
      |      input_format: 'json'
      |      catalog: 'bronze'
      |      schema: 'brapi'
      |  - name: 'silver_full'
      |    type: 'full'
      |    tables:
      |    - table_name: 'prices'
      |      input_format: 'delta'
      |      catalog: 'silver'
      |      schema: 'brapi'
      |""".stripMargin

  test("xml raw zone: schema-enforced <row> scan, markup escaping round-trips") {
    import spark.implicits._
    val base = tmpDir("xml-ingest")
    // values containing XML metacharacters: the writer must escape and
    // the schema-enforced scan must restore them verbatim — the failure
    // mode CSV/JSON raw zones don't have
    Seq(("A&B", "1.5", "2024-05-01 10:00:00"),
        ("C<D>", "2.5", "2024-05-02 10:00:00"),
        ("E\"F'", "3.5", "2024-05-03 10:00:00"))
      .toDF("stocks", "close", "event_time")
      .repartition(2) // two part files: the glob scan must union them
      .write.format("xml").option("rowTag", "row")
      .mode("overwrite").save(s"$base/raw/brapi/quotes")
    write(s"$base/meta/bronze/quotes/quotes.yml", quotesYaml)
    val wh = new Warehouse(spark, s"$base/warehouse")
    val n = new Ingestor(spark, wh, IngestSpec(
      TableRef("bronze", "brapi", "quotes"), "xml",
      s"$base/raw", s"$base/meta/bronze")).run()
    assert(n === 3)
    val out = wh.read(TableRef("bronze", "brapi", "quotes"))
    assert(out.columns.contains("loaded_at"))
    assert(out.select($"stocks").as[String].collect().toSet ===
      Set("A&B", "C<D>", "E\"F'"))
    assert(out.select($"close").as[String].collect().toSet ===
      Set("1.5", "2.5", "3.5"))
  }

  test("raw json → bronze full → bronze cdc merge → silver explode+dedup") {
    import spark.implicits._
    val base = tmpDir("pipeline")
    val rawRoot = s"$base/raw"
    val metaRoot = s"$base/meta"
    val wh = new Warehouse(spark, s"$base/warehouse")

    write(s"$metaRoot/bronze/quotes/quotes.yml", quotesYaml)
    write(s"$metaRoot/bronze/quotes/quotes.sql", quotesSql)
    write(s"$metaRoot/bronze/tickers/tickers.yml", tickersYaml)
    write(s"$metaRoot/silver/prices/prices.yml", pricesYaml)
    write(s"$metaRoot/silver/prices/prices.sql", pricesSql)

    // raw zone: two files per glob, duplicate keys across files
    write(s"$rawRoot/brapi/quotes/part1.json",
      """{"stocks":"AAA1","close":"10.5","event_time":"2024-05-01 10:00:00"}
        |{"stocks":"BBB2","close":"61.0","event_time":"2024-05-01 10:00:00"}""".stripMargin)
    write(s"$rawRoot/brapi/quotes/part2.json",
      """{"stocks":"AAA1","close":"10.9","event_time":"2024-05-02 10:00:00"}""".stripMargin)
    // epoch-second strings: 2024-05-01, 2024-05-02 (UTC midnights)
    write(s"$rawRoot/brapi/tickers/part1.json",
      """{"symbol":"AAA1","marketTime":"2024-05-02 10:00:00","history":[{"date":"1714521600","open":"1.0","close":"2.0"},{"date":"1714608000","open":"2.0","close":"3.0"},{"date":"1714608000","open":"2.0","close":"3.0"}]}
        |{"symbol":"BBB2","marketTime":"2024-05-01 10:00:00","history":[]}""".stripMargin)

    val registry = JobRegistry.fromYamlString(registryYaml)
    val runner = new JobRunner(spark, wh, registry, rawRoot, metaRoot)

    // ---- bronze full: raw columns land VERBATIM (strings) + loaded_at
    runner.run("full", "bronze_full")
    val bronzeTickers = wh.read(TableRef("bronze", "brapi", "tickers"))
    assert(bronzeTickers.columns.toSeq ===
      Seq("symbol", "marketTime", "history", "loaded_at"))
    assert(bronzeTickers.count() === 2) // full path applies NO transform (SURVEY §3.1)
    assert(bronzeTickers.schema("marketTime").dataType.typeName === "string")

    // ---- bronze cdc: transform (cast + QUALIFY latest-per-key), first
    // run bootstraps the transformed-schema target
    runner.run("cdc", "bronze_cdc")
    val cdcQuotes = wh.read(TableRef("bronze", "brapi", "quotes"))
    val byKey = cdcQuotes.selectExpr("stocks", "close_price")
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    assert(byKey === Seq(("AAA1", 10.9), ("BBB2", 61.0)))

    // a newer raw file arrives → CDC merges latest-wins
    write(s"$rawRoot/brapi/quotes/part3.json",
      """{"stocks":"AAA1","close":"11.5","event_time":"2024-05-03 10:00:00"}""")
    runner.run("cdc", "bronze_cdc")
    val afterBatch = wh.read(TableRef("bronze", "brapi", "quotes"))
      .selectExpr("stocks", "close_price")
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    assert(afterBatch === Seq(("AAA1", 11.5), ("BBB2", 61.0)))

    // re-running CDC over the same raw files is idempotent (>= match)
    runner.run("cdc", "bronze_cdc")
    assert(wh.read(TableRef("bronze", "brapi", "quotes")).count() === 2)

    // ---- silver: explode array-of-structs from the bronze table,
    // epoch-string → DATE, composite-key dedup
    runner.run("full", "silver_full")
    val prices = wh.read(TableRef("silver", "brapi", "prices"))
    val rows = prices.selectExpr("symbol", "cast(date as string)", "open")
      .as[(String, String, Float)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rows === Seq(
      ("AAA1", "2024-05-01", 1.0f),
      ("AAA1", "2024-05-02", 2.0f))) // BBB2 empty array → no rows; dup (sym,date) deduped

    // ---- gold: materialized view over silver (K5), full medallion path
    graft.gold.Views.materialize(spark, wh,
      graft.catalog.TableRef("gold", "brapi", "prices"),
      """CREATE MATERIALIZED VIEW `gold`.`brapi`.`prices` AS
        |SELECT symbol, date, (close - open) AS intraday_change
        |FROM silver.brapi.prices""".stripMargin)
    val gold = wh.read(graft.catalog.TableRef("gold", "brapi", "prices"))
      .selectExpr("symbol", "cast(intraday_change as double)")
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    assert(gold === Seq(("AAA1", 1.0), ("AAA1", 1.0)))

    // ---- structured run logs: every run emitted machine-readable
    // JSON-lines records next to the warehouse (parsed here with the
    // strict JSON reader — a malformed line would surface as a
    // _corrupt_record column / null fields)
    val records = spark.read.json(s"$base/warehouse/_logs/*.jsonl")
    assert(!records.columns.contains("_corrupt_record"))
    val tableRecs = records.filter($"event" === "table_done")
      .selectExpr("`table`", "`rows`", "outcome")
      .as[(String, Long, String)].collect().toSeq
    assert(tableRecs.forall(_._3 == "ok"))
    // bronze full landed 2 ticker rows; each of the 3 cdc runs observed
    // its batch rows; silver exploded history rows flow through too
    assert(tableRecs.filter(_._1 == "bronze.brapi.tickers").map(_._2) === Seq(2L))
    assert(tableRecs.count(_._1 == "bronze.brapi.quotes") === 3)
    assert(tableRecs.filter(_._1 == "bronze.brapi.quotes").forall(_._2 >= 1L))
    val jobRecs = records.filter($"event" === "job_done")
    assert(jobRecs.count() === 5) // bronze full + cdc ×3 + silver full
  }

  test("job failures are isolated per table and reported together") {
    val base = tmpDir("pipeline-fail")
    val wh = new Warehouse(spark, s"$base/warehouse")
    write(s"$base/meta/bronze/good/good.yml", quotesYaml)
    write(s"$base/raw/brapi/good/p.json",
      """{"stocks":"X","close":"1.0","event_time":"2024-05-01 00:00:00"}""")
    // 'bad' has no metadata file → must fail, but 'good' still lands
    val registry = JobRegistry.fromYamlString(
      """jobs:
        |  - name: 'j'
        |    type: 'full'
        |    tables:
        |    - table_name: 'good'
        |      input_format: 'json'
        |      catalog: 'bronze'
        |      schema: 'brapi'
        |    - table_name: 'bad'
        |      input_format: 'json'
        |      catalog: 'bronze'
        |      schema: 'brapi'
        |""".stripMargin)
    val runner = new JobRunner(spark, wh, registry, s"$base/raw", s"$base/meta")
    val e = intercept[RuntimeException](runner.run("full", "j"))
    assert(e.getMessage.contains("1/2 tables failed"))
    assert(wh.exists(TableRef("bronze", "brapi", "good")))
  }

  test("table-sourced CDC run() returns the batch row count instead of blocking") {
    import spark.implicits._
    val base = tmpDir("cdc-delta")
    val wh = new Warehouse(spark, s"$base/warehouse")
    val bronze = TableRef("bronze", "brapi", "ticks")
    wh.overwrite(bronze, Seq(("AAA1", "2024-05-01", 1.5), ("AAA1", "2024-05-02", 2.5),
      ("BBB2", "2024-05-01", 7.0)).toDF("symbol", "day", "px"))
    write(s"$base/meta/silver/ticks/ticks.yml",
      """schema:
        |  - name: 'symbol'
        |    type: 'string'
        |    key: true
        |  - name: 'day'
        |    type: 'date'
        |    date_predicate: true
        |  - name: 'px'
        |    type: 'double'
        |""".stripMargin)
    write(s"$base/meta/silver/ticks/ticks.sql",
      """SELECT symbol, CAST(day AS DATE) AS day, px
        |FROM bronze.brapi.ticks
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day DESC) = 1""".stripMargin)
    val ingestor = new IngestorCDC(spark, wh, IngestSpec(
      TableRef("silver", "brapi", "ticks"), "delta", s"$base/raw", s"$base/meta/silver"))
    def runWithin(): Long = {
      val f = scala.concurrent.Future(ingestor.run())(scala.concurrent.ExecutionContext.global)
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s"))
    }
    assert(runWithin() === 2L) // bootstrap: one latest row per symbol
    wh.append(bronze, Seq(("AAA1", "2024-05-03", 3.5)).toDF("symbol", "day", "px"))
    assert(runWithin() === 2L) // merge: the transform's output rows
    assert(wh.read(TableRef("silver", "brapi", "ticks")).select("symbol", "px")
      .as[(String, Double)].collect().sortBy(_._1).toSeq === Seq(("AAA1", 3.5), ("BBB2", 7.0)))
  }
}
