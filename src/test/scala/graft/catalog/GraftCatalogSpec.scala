package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec

class GraftCatalogSpec extends SparkSpec {

  /** Every DSv2 scan in the plan, descending through AQE wrappers:
    * AdaptiveSparkPlanExec and the query stages it materializes are
    * LEAF nodes to a plain collect, so an ORDER BY or join would hide
    * its scans from the walk without the recursion.
    */
  private def deepScans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
    case s: QueryStageExec        => deepScans(s.plan)
    case b: BatchScanExec         => Seq(b)
    case other                    => other.children.flatMap(deepScans)
  }

  /** Distinct parquet files the executed DSv2 scan(s) actually planned. */
  private def plannedFiles(df: DataFrame): Set[String] = {
    df.collect() // force planning through the executed plan
    val scans = deepScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no DSv2 BatchScanExec in the plan")
    scans.flatMap(_.partitions.flatten).flatMap {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
      case _                 => Seq.empty
    }.toSet
  }

  test("SQL over the catalog: current snapshot, manifest range pruning, DML-yes/DDL-no contract") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "facts")
    // range-clustered + stats: a tight WHERE must plan a strict subset
    wh.overwrite(ref, (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, $"k"), statsColumns = Seq("k"))
    val total = wh.dataFiles(ref).size
    assert(total === 8)

    spark.conf.set("spark.sql.catalog.graftsql", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsql.root", root)

    // values flow through stock parquet scan + pushdown (no ORDER BY:
    // an exchange would wrap the scan in AQE query stages and hide it
    // from the plannedFiles walk — sort client-side instead)
    val q = spark.sql(
      "SELECT k, v FROM graftsql.silver.g.facts WHERE k BETWEEN 100 AND 120")
    assert(q.as[(Long, String)].collect().toSeq.sortBy(_._1) ===
      (100L to 120L).map(i => (i, s"v$i")))
    // ...and the stats manifest pruned files BEFORE task scheduling
    assert(plannedFiles(q).size < total,
      s"range pushdown never pruned: ${plannedFiles(q).size}/$total files")
    // one-sided bound prunes too (excludedByBounds path)
    assert(plannedFiles(spark.sql(
      "SELECT k FROM graftsql.silver.g.facts WHERE k > 900")).size < total)
    // unfiltered read sees every row
    assert(spark.sql("SELECT count(*) AS n FROM graftsql.silver.g.facts")
      .head().getLong(0) === 1000L)

    // SNAPSHOT SEMANTICS: SQL resolves the committed version — after a
    // delete commits, a fresh query sees the new version
    val preDeleteMs = System.currentTimeMillis()
    Thread.sleep(50) // separate the v1/v2 commit-file mtimes
    wh.deleteWhere(ref, $"k" <= 500L)
    assert(spark.sql("SELECT count(*) AS n FROM graftsql.silver.g.facts")
      .head().getLong(0) === 500L)
    // ...and VERSION AS OF time-travels to the pre-delete commit
    assert(spark.sql(
        "SELECT count(*) AS n FROM graftsql.silver.g.facts VERSION AS OF 1")
      .head().getLong(0) === 1000L)
    val tt = intercept[IllegalArgumentException](spark.sql(
      "SELECT * FROM graftsql.silver.g.facts VERSION AS OF 'abc'").collect())
    assert(tt.getMessage.contains("numeric commit version"))
    // TIMESTAMP AS OF resolves via commit-file mtimes (the Delta
    // default clock): a pre-delete timestamp reads v1
    assert(wh.versionAsOf(ref, preDeleteMs) === 1L)
    assert(wh.versionAsOf(ref, System.currentTimeMillis()) === 2L)
    intercept[IllegalArgumentException](wh.versionAsOf(ref, 1000L))
    val preDeleteSql = java.time.LocalDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(preDeleteMs),
        java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
        s"""SELECT count(*) AS n FROM graftsql.silver.g.facts
           |TIMESTAMP AS OF '$preDeleteSql'""".stripMargin)
      .head().getLong(0) === 1000L)

    // DML writes route through the commit protocol: INSERT INTO is an
    // APPEND commit visible to the next query; RENAME is a pure-metadata
    // directory move (full semantics pinned in SqlDdlSpec:336) — here we
    // assert the catalog wiring: new name reads, old name dies
    spark.sql("INSERT INTO graftsql.silver.g.facts VALUES (9999, 'x')")
    assert(spark.sql("SELECT count(*) AS n FROM graftsql.silver.g.facts")
      .head().getLong(0) === 501L)
    assert(wh.commitMeta(ref, wh.currentVersion(ref).get)
      .get(Warehouse.OpMeta).contains("APPEND"))
    spark.sql("ALTER TABLE graftsql.silver.g.facts RENAME TO silver.g.facts2")
    assert(spark.sql("SELECT count(*) AS n FROM graftsql.silver.g.facts2")
      .head().getLong(0) === 501L)
    intercept[Exception](
      spark.sql("SELECT * FROM graftsql.silver.g.facts").collect())
    // move it back: the rest of the spec (and `ref`) addresses `facts`
    spark.sql("ALTER TABLE graftsql.silver.g.facts2 RENAME TO silver.g.facts")
    assert(spark.sql("SELECT count(*) AS n FROM graftsql.silver.g.facts")
      .head().getLong(0) === 501L)
    // unknown table resolves to the standard analysis error
    intercept[Exception](spark.sql("SELECT * FROM graftsql.silver.g.nope"))

    // LOGLESS dir (e.g. a bucketed saveAsTable output): listed tables
    // must also be loadable — the catalog synthesizes a snapshot from
    // the physical listing, like Warehouse.read's fallback
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.parquet(s"$root/silver/g/logless")
    assert(spark.sql("SELECT count(*) AS n FROM graftsql.silver.g.logless")
      .head().getLong(0) === 2L)

    // discovery: SHOW NAMESPACES / SHOW TABLES walk the warehouse layout
    assert(spark.sql("SHOW NAMESPACES IN graftsql")
      .collect().map(_.getString(0)).toSet === Set("silver"))
    assert(spark.sql("SHOW NAMESPACES IN graftsql.silver")
      .collect().map(_.getString(0)).toSet === Set("silver.g"))
    assert(spark.sql("SHOW TABLES IN graftsql.silver.g")
      .collect().map(_.getString(1)).toSet === Set("facts", "logless"))
  }

  test("partitionBy tables read VALUES (not nulls) through SQL; partition pruning plans a subset") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-part")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "bypart")
    // committed schema INCLUDES p; the parquet files physically lack it
    // (directory-encoded) — the round-12 wrong-answer path null-filled p
    wh.overwrite(ref,
      (1L to 100L).map(i => (i, s"g${i % 4}", s"v$i")).toDF("k", "p", "v"),
      partitionBy = Seq("p"))

    spark.conf.set("spark.sql.catalog.graftsqlp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlp.root", root)

    // schema carries the partition column (appended, Spark's order)
    assert(spark.sql("SELECT * FROM graftsqlp.silver.g.bypart").columns.toSeq
      === Seq("k", "v", "p"))
    // every partition value reads back — and agrees with the Scala read
    val viaSql = spark.sql("SELECT k, p, v FROM graftsqlp.silver.g.bypart")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(viaSql === (1L to 100L).map(i => (i, s"g${i % 4}", s"v$i")))
    assert(viaSql === wh.read(ref).select($"k", $"p", $"v")
      .as[(Long, String, String)].collect().sortBy(_._1))
    // WHERE on the partition column: right rows, and the plan only
    // touched that partition's files
    val q = spark.sql(
      "SELECT k FROM graftsqlp.silver.g.bypart WHERE p = 'g1'")
    assert(q.as[Long].collect().sorted === (1L to 100L).filter(_ % 4 == 1))
    val total = wh.dataFiles(ref).size
    assert(plannedFiles(q).size < total,
      s"partition pruning never engaged: ${plannedFiles(q).size}/$total files")
  }

  test("staticPartitions tables restore the partition column through SQL") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-statpart")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "statpart")
    // run_date must be ABSENT from the frame — and so from the committed
    // schema; SQL reads must still surface it (the round-12 audit found
    // the column silently dropped)
    wh.overwrite(ref, (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"),
      staticPartitions = Seq("run_date" -> "2024-01-02"))

    spark.conf.set("spark.sql.catalog.graftsqls", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqls.root", root)

    val sqlRows = spark.sql(
      "SELECT k, v, run_date FROM graftsqls.silver.g.statpart")
    assert(sqlRows.columns.contains("run_date"))
    assert(sqlRows.filter($"run_date".isNull).count() === 0)
    // type AND values agree with the Scala read (both infer from the
    // directory name: run_date=2024-01-02 → date)
    val scalaRows = wh.read(ref).select($"k", $"v", $"run_date")
    assert(sqlRows.schema("run_date").dataType
      === scalaRows.schema("run_date").dataType)
    assert(sqlRows.collect().map(_.toSeq).toSet
      === scalaRows.collect().map(_.toSeq).toSet)
    assert(sqlRows.count() === 20L)
  }

  test("time-travel SQL with pushed predicates keeps snapshot files retired from the current version") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-tt")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "ttfacts")
    wh.overwrite(ref, (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, $"k"), statsColumns = Seq("k"))     // v1
    // v2 retires every file holding k > 250 — their manifest rows are
    // dropped, so a CURRENT-version keep-list no longer mentions them
    wh.deleteWhere(ref, $"k" > 250L)                               // v2

    spark.conf.set("spark.sql.catalog.graftsqltt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqltt.root", root)

    // current version: the range is gone
    assert(spark.sql(
        """SELECT count(*) AS n FROM graftsqltt.silver.g.ttfacts
          |WHERE k BETWEEN 600 AND 620""".stripMargin)
      .head().getLong(0) === 0L)
    // VERSION AS OF 1 with the SAME pushed predicate must return the
    // pre-delete rows: exclusion-based pruning keeps v1 files absent
    // from the current manifest (a keep-list computed from the current
    // version silently dropped them — the round-12 ADVICE hole)
    val tt = spark.sql(
      """SELECT k FROM graftsqltt.silver.g.ttfacts VERSION AS OF 1
        |WHERE k BETWEEN 600 AND 620""".stripMargin)
    assert(tt.as[Long].collect().sorted === (600L to 620L))
    // ...and pruning still engages on the time-travel scan: v1 files
    // that SURVIVED the delete (all-low ranges) are still manifest-
    // described and provably excluded
    assert(plannedFiles(tt).size < wh.snapshotAt(ref, 1L).files.size,
      "time-travel scan planned every v1 file — manifest exclusion never engaged")
  }

  test("pruning breadth: IN / OR, IS NULL / IS NOT NULL, LIKE prefix, null-safe equality") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-breadth")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "wide")
    // range-clustered on k; s mirrors k's order (zero-padded, so string
    // prefix order == numeric order); n is non-null ONLY in the low band
    wh.overwrite(ref,
      (1L to 1000L).map(i =>
          (i, f"s$i%04d", if (i <= 125) Some(i) else None))
        .toDF("k", "s", "n").repartitionByRange(8, $"k"),
      statsColumns = Seq("k", "s", "n"))
    val total = wh.dataFiles(ref).size
    assert(total === 8)
    spark.conf.set("spark.sql.catalog.graftsqlb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlb.root", root)
    def t = "graftsqlb.silver.g.wide"

    // IN list: exclusion = files excluding EVERY listed value
    val qIn = spark.sql(s"SELECT k FROM $t WHERE k IN (5, 980)")
    assert(qIn.as[Long].collect().sorted === Seq(5L, 980L))
    assert(plannedFiles(qIn).size < total,
      s"IN never pruned: ${plannedFiles(qIn).size}/$total")
    // ...and the equivalent OR of equalities prunes identically
    val qOr = spark.sql(s"SELECT k FROM $t WHERE k = 5 OR k = 980")
    assert(qOr.as[Long].collect().sorted === Seq(5L, 980L))
    assert(plannedFiles(qOr) === plannedFiles(qIn))

    // IS NULL skips the all-non-null low file; IS NOT NULL skips all
    // the all-null high files (nulls_<c> manifest column)
    val qNull = spark.sql(s"SELECT k FROM $t WHERE n IS NULL")
    assert(qNull.count() === 875L)
    assert(plannedFiles(qNull).size < total, "IS NULL never pruned")
    val qNotNull = spark.sql(s"SELECT k FROM $t WHERE n IS NOT NULL")
    assert(qNotNull.count() === 125L)
    assert(plannedFiles(qNotNull).size === 1,
      s"IS NOT NULL should plan exactly the low file, " +
        s"got ${plannedFiles(qNotNull).size}")

    // LIKE prefix on string min/max
    val qLike = spark.sql(s"SELECT s FROM $t WHERE s LIKE 's012%'")
    assert(qLike.count() === 10L) // s0120..s0129
    assert(plannedFiles(qLike).size < total, "prefix never pruned")

    // null-safe equality prunes like equality
    val qNse = spark.sql(s"SELECT k FROM $t WHERE k <=> 443")
    assert(qNse.as[Long].collect() === Seq(443L))
    assert(plannedFiles(qNse).size < total, "<=> never pruned")
  }

  test("pruning survives AQE: ORDER BY + broadcast join still plan a pruned fact scan") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-aqe")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "aqefacts")
    wh.overwrite(ref, (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, $"k"), statsColumns = Seq("k"))
    val total = wh.dataFiles(ref).size
    spark.conf.set("spark.sql.catalog.graftsqla", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqla.root", root)
    (100L to 120L).map(i => (i, s"d$i")).toDF("k", "name")
      .createOrReplaceTempView("aqe_dim")

    // exchanges on both sides: the sort and the join wrap the scans in
    // AQE query stages — the round-12 plannedFiles walk found nothing
    val q = spark.sql(
      """SELECT f.k, f.v, d.name
        |FROM graftsqla.silver.g.aqefacts f JOIN aqe_dim d ON f.k = d.k
        |WHERE f.k BETWEEN 100 AND 120
        |ORDER BY f.k""".stripMargin)
    assert(q.as[(Long, String, String)].collect().map(_._1).toSeq
      === (100L to 120L))
    val planned = plannedFiles(q)
    assert(planned.nonEmpty && planned.size < total,
      s"fact scan under AQE never pruned: ${planned.size}/$total files")
  }

  test("DSv2 resolution is metadata-only: planning succeeds after a data file vanishes from disk") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-meta")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "mfiles")
    wh.overwrite(ref, (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4))
    val total = wh.dataFiles(ref).size
    assert(total === 4)
    spark.conf.set("spark.sql.catalog.graftsqlm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlm.root", root)

    // delete one committed data file BEHIND the warehouse's back: if
    // resolution or scan planning touched the filesystem (listing or
    // per-file getFileStatus), the hole would surface here — instead
    // both come entirely from the commit log's recorded (bytes, mtime)
    val victim = new org.apache.hadoop.fs.Path(wh.dataFiles(ref).head)
    assert(new java.io.File(victim.toUri.getPath).delete())
    val q = spark.sql("SELECT k FROM graftsqlm.silver.g.mfiles WHERE k > 0")
    val planned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.flatMap(_.partitions.flatten).flatMap {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
      case _                 => Seq.empty
    }.distinct
    assert(planned.size === total,
      s"metadata-only planning should schedule all $total committed files")
    assert(planned.exists(_.endsWith(victim.getName)),
      "the vanished file must still be planned — proof nothing re-listed the directory")
    // execution is where missing bytes surface (different contract)
    intercept[Exception](q.collect())
  }

  test("a two-field (pre-size) file line fails loudly instead of degrading to listing") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-legacy")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "legacy")
    wh.overwrite(ref, (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(2))
    // rewrite every version file's `file\trel\tbytes\tmtime` lines to
    // the two-field form (and drop the checksum sidecars)
    val logDir = new java.io.File(s"$root/silver/g/legacy/_graft_log")
    logDir.listFiles().filter(_.getName.startsWith("v")).foreach { f =>
      val stripped = scala.io.Source.fromFile(f).getLines().map { l =>
        if (l.startsWith("file\t")) l.split("\t").take(2).mkString("\t") else l
      }.mkString("", "\n", "\n")
      val w = new java.io.FileWriter(f); w.write(stripped); w.close()
      new java.io.File(logDir, s".${f.getName}.crc").delete()
    }
    spark.conf.set("spark.sql.catalog.graftsqll", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqll.root", root)
    val e = intercept[Exception](
      spark.sql("SELECT count(*) AS n FROM graftsqll.silver.g.legacy").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("v00000001"))),
      s"the failure must name the version file, got: $e")
  }

  test("metadata-only aggregates answer from the manifest: zero file access, exact extrema, honest fallbacks") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-magg")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "magg")
    // n is null in the high band: count(n) exercises the null counts,
    // min/max(n) the all-null-file witness (nulls_n == rows)
    wh.overwrite(ref,
      (1L to 1000L).map(i => (i, if (i <= 125) Some(i * 2) else None))
        .toDF("k", "n").repartitionByRange(8, $"k"),
      statsColumns = Seq("k", "n"))
    spark.conf.set("spark.sql.catalog.graftsqlg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlg.root", root)
    def t = "graftsqlg.silver.g.magg"

    val q = spark.sql(
      s"""SELECT count(*) AS c, count(n) AS cn, min(k) AS mnk, max(k) AS mxk,
         |       min(n) AS mnn, max(n) AS mxn FROM $t""".stripMargin)
    assert(q.collect().map(_.toSeq).toSeq ===
      Seq(Seq(1000L, 125L, 1L, 1000L, 2L, 250L)))
    // the witness: no DSv2 batch scan was planned at all
    assert(deepScans(q.queryExecution.executedPlan).isEmpty,
      "metadata-only aggregate still planned a file scan")

    // shapes the manifest CANNOT answer keep the real scan: a filter,
    // a group-by, an unsupported aggregate, a stats-less column
    Seq(
      s"SELECT count(*) AS c FROM $t WHERE k > 10",
      s"SELECT k % 2 AS g, count(*) AS c FROM $t GROUP BY k % 2",
      s"SELECT avg(k) AS a FROM $t",
      s"SELECT count(DISTINCT k) AS d FROM $t").foreach { sql =>
      val fallback = spark.sql(sql)
      fallback.collect()
      assert(deepScans(fallback.queryExecution.executedPlan).nonEmpty,
        s"expected a real scan for: $sql")
    }

    // the strongest proof of zero data access: delete EVERY data file
    // behind the warehouse's back — the aggregate still answers (a
    // scan-backed plan would throw on missing bytes)
    wh.dataFiles(ref).foreach(f =>
      assert(new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath).delete()))
    assert(spark.sql(s"SELECT count(*) AS c, max(k) AS m FROM $t")
      .collect().map(_.toSeq).toSeq === Seq(Seq(1000L, 1000L)))

    // mutation keeps the answers honest: a delete commit rewrites the
    // manifest, and the SQL count follows the new version
    val ref2 = TableRef("silver", "g", "magg2")
    wh.overwrite(ref2, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k"), statsColumns = Seq("k"))
    assert(spark.sql(s"SELECT count(*) AS c FROM graftsqlg.silver.g.magg2")
      .head().getLong(0) === 100L)
    wh.deleteWhere(ref2, $"k" > 40L)
    val after = spark.sql(
      s"SELECT count(*) AS c, max(k) AS m FROM graftsqlg.silver.g.magg2")
    assert(after.collect().map(_.toSeq).toSeq === Seq(Seq(40L, 40L)))
    assert(deepScans(after.queryExecution.executedPlan).isEmpty)
  }

  test("runtime file skipping: a broadcast star join prunes fact files through blooms at execution time") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-rt")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "rtfact")
    // hash layout on grp: every file's [min,max] over id spans the full
    // range, so ONLY the runtime bloom lookup can skip files — and the
    // probe values exist only at execution time (they come from the dim)
    wh.overwrite(ref,
      (1L to 1000L).map(i => (i, i % 97, s"v$i")).toDF("id", "grp", "v")
        .repartition(8, $"grp"),
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val total = wh.dataFiles(ref).size
    spark.conf.set("spark.sql.catalog.graftsqlr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlr.root", root)
    // the dim must be a SCANNED source with a selective filter left in
    // the plan (a literal LocalRelation folds its filter away before
    // the dynamic-pruning rule looks, and a bare boolean attribute
    // doesn't count as selective)
    val dimPath = tmpDir("rt-dim")
    (1L to 1000L).map(i => (i, i % 250)).toDF("id", "m")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rt_dim")

    val q = spark.sql(
      """SELECT /*+ BROADCAST(d) */ f.id, f.v
        |FROM graftsqlr.silver.g.rtfact f
        |JOIN rt_dim d ON f.id = d.id
        |WHERE d.m = 17""".stripMargin)
    assert(q.as[(Long, String)].collect().sortBy(_._1).toSeq ===
      Seq(17L, 267L, 517L, 767L).map(i => (i, s"v$i")))
    val (planned, kept) = RuntimePrune.lastFor("silver.g.rtfact").getOrElse(
      fail("runtime filter never reached the scan — DPP was not injected"))
    assert(planned === total)
    assert(kept > 0 && kept < planned,
      s"runtime pruning kept $kept of $planned files — blooms never excluded")
  }

  test("metadata aggregates on partitioned and time-traveled tables: exact or honest fallback") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-maggtt")
    val wh = new Warehouse(spark, root)
    spark.conf.set("spark.sql.catalog.graftsqlmt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlmt.root", root)

    // PARTITIONED: partitionBy reuses one task's part-file name across
    // partition dirs — the manifest keys by TABLE-RELATIVE PATH, so
    // every physical file keeps its own row and the one-row-per-
    // snapshot-file accounting holds: the aggregate answers
    // METADATA-ONLY (round-14 verdict, next #3)
    val pRef = TableRef("silver", "g", "maggpart")
    wh.overwrite(pRef,
      (1L to 200L).map(i => (i, s"g${i % 4}")).toDF("k", "p"),
      partitionBy = Seq("p"), statsColumns = Seq("k"))
    val pq = spark.sql(
      "SELECT count(*) AS c, max(k) AS m FROM graftsqlmt.silver.g.maggpart")
    assert(pq.collect().map(_.toSeq).toSeq === Seq(Seq(200L, 200L)))
    assert(deepScans(pq.queryExecution.executedPlan).isEmpty,
      "a partitioned table's aggregate must answer from the path-keyed " +
        "manifest alone — zero data files opened")
    // ...and per-FILE stats prune across partition dirs too: the k
    // blocks are task-contiguous, so a tight WHERE keeps only one
    // task's files in each matching partition
    val ppr = spark.sql(
      "SELECT k FROM graftsqlmt.silver.g.maggpart WHERE k <= 10")
    assert(ppr.as[Long].collect().sorted === (1L to 10L))
    assert(plannedFiles(ppr).size < wh.dataFiles(pRef).size,
      "per-file range stats must keep pruning on a partitioned layout")

    // TIME TRAVEL, append-only: the pinned version's files are a
    // SUBSET of the current manifest — the sum over exactly those
    // rows is provable, so the historical count stays metadata-only
    val tRef = TableRef("silver", "g", "maggtt")
    wh.overwrite(tRef, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))          // v1
    val mt = new graft.sinks.MergeTable(spark, wh, tRef, Seq("k"), None)
    mt.upsert((101L to 160L).map(i => (i, s"v$i")).toDF("k", "v"))    // v2: inserts
    val tt = spark.sql(
      "SELECT count(*) AS c, max(k) AS m FROM graftsqlmt.silver.g.maggtt VERSION AS OF 1")
    assert(tt.collect().map(_.toSeq).toSeq === Seq(Seq(100L, 100L)))
    assert(deepScans(tt.queryExecution.executedPlan).isEmpty,
      "append-only time travel should stay metadata-only")
    assert(spark.sql(
        "SELECT count(*) AS c FROM graftsqlmt.silver.g.maggtt")
      .head().getLong(0) === 160L)

    // TIME TRAVEL past a delete: v1 files retired since are absent
    // from the current manifest → the provability rules refuse and the
    // pinned snapshot SCANS — still the right answer
    wh.deleteWhere(tRef, $"k" <= 50L)                                 // v3
    val tt2 = spark.sql(
      "SELECT count(*) AS c FROM graftsqlmt.silver.g.maggtt VERSION AS OF 1")
    assert(tt2.head().getLong(0) === 100L)
    assert(deepScans(tt2.queryExecution.executedPlan).nonEmpty,
      "post-delete time travel must fall back to scanning the snapshot")
  }

  test("CALL procedures: SQL maintenance routes through the commit protocol") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-proc")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "maint")
    // many small files → compact has work; several versions → history
    wh.overwrite(ref, (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(8), statsColumns = Seq("k"))                          // v1
    wh.deleteWhere(ref, $"k" > 300L)                                     // v2
    spark.conf.set("spark.sql.catalog.graftsqlc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlc.root", root)

    // history: the ledger comes back as CALL results, newest first
    val hist = spark.sql("CALL graftsqlc.system.history('silver.g.maint')")
      .select("version", "operation").as[(Long, String)].collect().toSeq
    assert(hist === Seq((2L, "DELETE"), (1L, "OVERWRITE")))

    // compact: files shrink, data identical, a COMPACT commit lands
    val before = wh.dataFiles(ref).size
    val res = spark.sql("CALL graftsqlc.system.compact('silver.g.maint')").head()
    assert(res.getInt(1) > 0, "compact must report compacted files")
    assert(wh.dataFiles(ref).size < before)
    assert(wh.read(ref).count() === 300L)
    assert(wh.history(ref).select($"operation").as[String].head() === "COMPACT")

    // restore: metadata-only rollback through SQL
    spark.sql("CALL graftsqlc.system.restore('silver.g.maint', 1)")
    assert(wh.read(ref).count() === 400L)

    // RESTORE TIMESTAMP AS OF: v2's durable commit stamp resolves back
    // to v2 through versionAsOf (at-or-before, same clock as
    // time-travel reads) — count drops to the post-delete content
    val v2ts = wh.commitMeta(ref, 2L)(Warehouse.TsMeta).toLong
    val tsRow = spark.sql(
      s"""CALL graftsqlc.system.restore('silver.g.maint',
         |  timestamp => '${java.time.Instant.ofEpochMilli(v2ts)}')"""
        .stripMargin).head()
    assert(tsRow.getAs[Long]("restored_version") === 2L)
    assert(wh.read(ref).count() === 300L)
    // exactly one of version/timestamp: both and neither refuse
    intercept[Exception](spark.sql(
      "CALL graftsqlc.system.restore('silver.g.maint', 1, timestamp => '2026-01-01')"))
    intercept[Exception](spark.sql(
      "CALL graftsqlc.system.restore('silver.g.maint')"))
    // a garbage timestamp names the accepted formats
    val badTs = intercept[Exception](spark.sql(
      "CALL graftsqlc.system.restore('silver.g.maint', timestamp => 'not-a-time')"))
    assert(badTs.getMessage.contains("ISO-8601"))
    // put the table back where the rest of the arm expects it
    spark.sql("CALL graftsqlc.system.restore('silver.g.maint', version => 1)")
    assert(wh.read(ref).count() === 400L)

    // vacuum DRY RUN first: reports the blast radius, changes nothing
    val filesOnDisk = wh.path(ref)
    def diskCount(): Int = {
      val d = new java.io.File(filesOnDisk)
      def walk(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet") &&
          !f.getPath.contains("_graft_")) 1 else 0)
        else Option(f.listFiles()).toSeq.flatten.map(walk).sum
      walk(d)
    }
    val onDiskBefore = diskCount()
    val dryRow = spark.sql(
      "CALL graftsqlc.system.vacuum('silver.g.maint', 1, dry_run => true)")
      .head()
    val wouldDelete = dryRow.getInt(1)
    assert(wouldDelete > 0 && dryRow.getBoolean(2))
    assert(diskCount() === onDiskBefore, "a dry run must delete nothing")
    assert(wh.read(ref).count() === 400L)

    // vacuum: reclaims files only retired history references — exactly
    // the dry run's count
    val deleted = spark.sql(
      "CALL graftsqlc.system.vacuum('silver.g.maint', 1)").head().getInt(1)
    assert(deleted === wouldDelete, "the dry run must predict the real run")
    assert(wh.read(ref).count() === 400L, "vacuum never touches live data")

    // unknown procedures fail loudly (Spark wraps our listing message
    // in FAILED_TO_LOAD_ROUTINE; the available-procedure detail rides
    // the cause chain)
    val e = intercept[Exception](
      spark.sql("CALL graftsqlc.system.nope('x')"))
    assert(e.getMessage.contains("nope"))
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("; ")
    assert(causes.contains("compact"), s"expected the listing in: $causes")
  }

  test("scan statistics report the exact committed row count without ANALYZE") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-stats")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "statfacts")
    wh.overwrite(ref, (1L to 777L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k"), statsColumns = Seq("k"))
    spark.conf.set("spark.sql.catalog.graftsqlst", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqlst.root", root)

    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.getOrElse(fail("no DSv2 scan relation in the plan"))

    // unfiltered: the manifest's exact count feeds the planner
    val s = scanStats(spark.table("graftsqlst.silver.g.statfacts"))
    assert(s.rowCount.contains(BigInt(777)),
      s"expected exact rowCount 777, got ${s.rowCount}")
    // filtered: an exact UNFILTERED count would overstate — stays empty
    val sf = scanStats(
      spark.sql("SELECT k FROM graftsqlst.silver.g.statfacts WHERE k > 700"))
    assert(sf.rowCount.isEmpty,
      s"filtered scan must not claim the unfiltered count, got ${sf.rowCount}")
  }

  test("runtime PARTITION pruning: join keys on a directory-encoded column drop whole partitions") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-dpp")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "dppfact")
    // partitioned on seg (8 dirs); stock Spark's DSv2 parquet scan has
    // NO dynamic partition pruning — this path supplies it: the dim's
    // keys reach the scan at runtime and whole directories drop
    wh.overwrite(ref,
      (1L to 1000L).map(i => (i, i % 8, s"v$i")).toDF("k", "seg", "v"),
      partitionBy = Seq("seg"))
    val total = wh.dataFiles(ref).size
    spark.conf.set("spark.sql.catalog.graftsqld", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsqld.root", root)
    // the dim's key type must MATCH the inferred partition type (int):
    // a cast around the join key defeats the runtime-filter translation
    val dimPath = tmpDir("dpp-dim")
    (0 to 7).map(i => (i, i % 4)).toDF("seg", "m")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dpp_dim")

    val q = spark.sql(
      """SELECT /*+ BROADCAST(d) */ f.k, f.seg
        |FROM graftsqld.silver.g.dppfact f
        |JOIN dpp_dim d ON f.seg = d.seg
        |WHERE d.m = 1""".stripMargin)
    // dim keys {1, 5}: exactly rows with k % 8 in {1, 5}
    assert(q.collect().map(_.getLong(0)).sorted ===
      (1L to 1000L).filter(i => i % 8 == 1 || i % 8 == 5))
    val (planned, kept) = RuntimePrune.lastFor("silver.g.dppfact").getOrElse(
      fail("runtime partition filter never reached the scan"))
    assert(planned === total)
    // 2 of 8 partitions survive
    assert(kept > 0 && kept * 4 <= planned,
      s"partition pruning kept $kept of $planned files — directories never dropped")
  }

  test("SQL equality lookups engage bloom skipping where range stats keep everything") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-bloom")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "keyed")
    // hash layout on a different column: every file's [min,max] over
    // `id` spans nearly the full range — only blooms can prune
    wh.overwrite(ref, (1L to 1000L).map(i => (i, i % 97, s"v$i")).toDF("id", "grp", "v")
        .repartition(8, $"grp"),
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val total = wh.dataFiles(ref).size

    spark.conf.set("spark.sql.catalog.graftsql2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsql2.root", root)

    val q = spark.sql(
      "SELECT v FROM graftsql2.silver.g.keyed WHERE id = 443")
    assert(q.as[String].collect().toSeq === Seq("v443"))
    assert(plannedFiles(q).size < total,
      s"bloom pushdown never pruned: ${plannedFiles(q).size}/$total files")
  }

  test("manifest column statistics reach the optimizer: NDV-driven join cardinality without ANALYZE") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcbo")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "cbo")
    // ndvColumns: per-file NDV is opt-in since the footer-stats change —
    // this spec exercises exactly the declared-NDV planning surface
    wh.overwrite(ref, (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(8, $"k"), statsColumns = Seq("k"),
      ndvColumns = Seq("k"))
    spark.conf.set("spark.sql.catalog.graftcbo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcbo.root", root)

    // the DSv2 columnStats surface lands in catalyst attribute stats
    val q = spark.sql("SELECT * FROM graftcbo.silver.g.cbo")
    val rel = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val kStat = rel.stats.attributeStats.find(_._1.name == "k").map(_._2)
      .getOrElse(fail("no attribute stats for k — columnStats never flowed"))
    assert(kStat.distinctCount.exists(d => d >= BigInt(900) && d <= BigInt(1100)),
      s"manifest NDV should be ~1000, got ${kStat.distinctCount}")
    assert(kStat.nullCount.contains(BigInt(0)))
    assert(rel.stats.rowCount.contains(BigInt(1000)),
      "exact committed row count must ride along")

    // with CBO on, join cardinality estimates from rows·rows/max(ndv)
    // — ~1000 for this 1:1 self join, instead of a byte-ratio guess
    val cboKeys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val saved = cboKeys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val j = spark.sql(
        """SELECT a.k FROM graftcbo.silver.g.cbo a
          |JOIN graftcbo.silver.g.cbo b ON a.k = b.k""".stripMargin)
      val jStats = j.queryExecution.optimizedPlan.stats
      assert(jStats.rowCount.exists(rc => rc >= BigInt(500) && rc <= BigInt(2000)),
        s"NDV-driven join estimate should be ~1000 rows, got ${jStats.rowCount}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("SQL INSERT INTO / INSERT OVERWRITE route through the commit protocol") {
    import spark.implicits._
    val root = tmpDir("wh-sqlins")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "ins")
    wh.overwrite(ref, (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, $"k"), statsColumns = Seq("k"))        // v1
    spark.conf.set("spark.sql.catalog.graftw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftw.root", root)

    // INSERT INTO = APPEND: a delta commit (O(insert) log bytes), the
    // previous version still time-travels, stats manifest extended
    (401L to 420L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
      .createOrReplaceTempView("ins_src")
    spark.sql("INSERT INTO graftw.silver.g.ins SELECT k, v FROM ins_src")
    assert(spark.sql("SELECT count(*) AS n FROM graftw.silver.g.ins")
      .head().getLong(0) === 420L)
    assert(wh.currentVersion(ref).contains(2L))
    assert(wh.commitMeta(ref, 2).get(Warehouse.OpMeta).contains("APPEND"))
    val v2Text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/silver/g/ins/_graft_log/v00000002")), "UTF-8")
    assert(v2Text.contains("base\t1") && !v2Text.contains("file\t"),
      "a small SQL insert must land as a delta commit")
    assert(wh.readVersion(ref, 1).count() === 400L)
    // the manifest covers the inserted file too: a post-insert range
    // query still prunes AND finds the new rows
    val q = spark.sql(
      "SELECT k FROM graftw.silver.g.ins WHERE k BETWEEN 401 AND 405")
    assert(q.as[Long].collect().sorted === (401L to 405L))
    assert(plannedFiles(q).size < wh.dataFiles(ref).size)

    // the DataFrame v2 writer rides the same SupportsWrite surface
    Seq((421L, "wv")).toDF("k", "v").writeTo("graftw.silver.g.ins").append()
    assert(spark.sql("SELECT count(*) AS n FROM graftw.silver.g.ins")
      .head().getLong(0) === 421L)

    // INSERT OVERWRITE = full atomic replace, stats columns preserved
    spark.sql(
      """INSERT OVERWRITE graftw.silver.g.ins
        |SELECT k + 1000, v FROM ins_src""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graftw.silver.g.ins")
      .head().getLong(0) === 20L)
    assert(wh.commitMeta(ref, wh.currentVersion(ref).get)
      .get(Warehouse.OpMeta).contains("OVERWRITE"))
    assert(wh.statColumns(ref) === Seq("k"),
      "SQL overwrite must carry the table's stats-column property")
    // the replaced version still reads until vacuum (snapshot retention)
    assert(wh.readVersion(ref, 2).count() === 420L)
  }

  test("SQL INSERT into a partitioned table lands inside its partitions") {
    import spark.implicits._
    val root = tmpDir("wh-sqlinspart")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "inspart")
    wh.overwrite(ref,
      (1L to 200L).map(i => (i, s"g${i % 4}")).toDF("k", "seg").repartition(2),
      partitionBy = Seq("seg"))
    spark.conf.set("spark.sql.catalog.graftwp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftwp.root", root)
    spark.sql("INSERT INTO graftwp.silver.g.inspart VALUES (201, 'g1'), (202, 'g2')")
    // rows land in their k=v directories (partition pruning keeps working)
    val v = wh.currentVersion(ref).get
    val newFiles = wh.snapshotAt(ref, v).files.toSet --
      wh.snapshotAt(ref, v - 1).files.toSet
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      f.startsWith("seg=g1/") || f.startsWith("seg=g2/")),
      s"inserted files must live inside partition dirs: $newFiles")
    assert(spark.sql(
        "SELECT k FROM graftwp.silver.g.inspart WHERE seg = 'g1'")
      .as[Long].collect().sorted ===
      ((1L to 200L).filter(_ % 4 == 1) :+ 201L).sorted)
  }

  test("SQL DELETE FROM and TRUNCATE TABLE route through deleteWhere") {
    import spark.implicits._
    val root = tmpDir("wh-sqldel")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "del")
    wh.overwrite(ref, (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k"), statsColumns = Seq("k"))          // v1
    spark.conf.set("spark.sql.catalog.graftdel", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdel.root", root)
    val filesBefore = wh.dataFiles(ref).toSet

    // a range-aligned DELETE drops its fully-matched file as pure
    // metadata: surviving files keep their exact paths
    spark.sql("DELETE FROM graftdel.silver.g.del WHERE k > 300")      // v2
    assert(spark.sql("SELECT count(*) AS n FROM graftdel.silver.g.del")
      .head().getLong(0) === 300L)
    assert(wh.commitMeta(ref, 2).get(Warehouse.OpMeta).contains("DELETE"))
    assert(wh.dataFiles(ref).toSet.subsetOf(filesBefore),
      "a whole-file SQL delete must retire, not rewrite")

    // untranslatable predicates fail loudly instead of guessing
    intercept[Exception](spark.sql(
      "DELETE FROM graftdel.silver.g.del WHERE k % 2 = 0"))
    assert(spark.sql("SELECT count(*) AS n FROM graftdel.silver.g.del")
      .head().getLong(0) === 300L, "a refused delete must touch nothing")

    // TRUNCATE TABLE = always-true delete through the same protocol
    spark.sql("TRUNCATE TABLE graftdel.silver.g.del")
    assert(spark.sql("SELECT count(*) AS n FROM graftdel.silver.g.del")
      .head().getLong(0) === 0L)
    assert(wh.schemaOf(ref).fieldNames.toSeq === Seq("k", "v"),
      "truncate keeps the schema")
    // ...and the table still accepts inserts afterwards
    spark.sql("INSERT INTO graftdel.silver.g.del VALUES (1, 'x')")
    assert(spark.sql("SELECT count(*) AS n FROM graftdel.silver.g.del")
      .head().getLong(0) === 1L)
  }

  test("SQL MERGE INTO routes to the engine's incremental upsert") {
    import spark.implicits._
    val root = tmpDir("wh-sqlmerge")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "m")
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))          // v1
    spark.conf.set("spark.sql.catalog.graftm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftm.root", root)
    (51L to 150L).map(i => (i, s"u$i")).toDF("k", "v")
      .createOrReplaceTempView("msrc")

    spark.sql(
      """MERGE INTO graftm.silver.g.m t
        |USING msrc s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)               // v2
    val rows = spark.sql("SELECT k, v FROM graftm.silver.g.m")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows === ((1L to 50L).map(i => (i, s"v$i")) ++
      (51L to 150L).map(i => (i, s"u$i"))))
    assert(wh.currentVersion(ref).contains(2L))
    assert(wh.commitMeta(ref, 2).get(Warehouse.OpMeta).contains("MERGE"))

    // explicit identity assignments are the same shape post-expansion
    spark.sql(
      """MERGE INTO graftm.silver.g.m t
        |USING msrc s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graftm.silver.g.m")
      .head().getLong(0) === 150L)

    // conditional MATCHED clauses route through the CLAUSE merge
    // (round 18 — full semantics in MergeClausesSpec): only the rows
    // the condition names change
    Seq((100L, "cond100"), (130L, "cond130")).toDF("k", "v")
      .createOrReplaceTempView("mcond")
    spark.sql(
      """MERGE INTO graftm.silver.g.m t
        |USING mcond s
        |ON t.k = s.k
        |WHEN MATCHED AND s.k > 120 THEN UPDATE SET *""".stripMargin)
    val after = spark.sql("SELECT k, v FROM graftm.silver.g.m " +
      "WHERE k IN (100, 130)").as[(Long, String)].collect().toMap
    assert(after === Map(100L -> "u100", 130L -> "cond130"),
      "only the condition-matched row may change")
    assert(spark.sql("SELECT count(*) AS n FROM graftm.silver.g.m")
      .head().getLong(0) === 150L)
  }

  test("SQL UPDATE rewrites only matching files; partitioned layouts and TVL honored") {
    import spark.implicits._
    val root = tmpDir("wh-sqlupd")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "upd")
    wh.overwrite(ref, (1L to 400L).map(i =>
        (i, s"v$i", if (i % 50 == 0) null else s"n$i")).toDF("k", "v", "note")
      .repartitionByRange(4, $"k"), statsColumns = Seq("k"))          // v1
    spark.conf.set("spark.sql.catalog.graftupd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftupd.root", root)
    val before = wh.dataFiles(ref).toSet

    // range-aligned UPDATE touches one file's range; others keep paths
    spark.sql(
      """UPDATE graftupd.silver.g.upd
        |SET v = concat('u', CAST(k AS STRING)) WHERE k > 300""".stripMargin)
    val rows = spark.sql("SELECT k, v FROM graftupd.silver.g.upd")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows === (1L to 400L).map(i =>
      (i, if (i > 300) s"u$i" else s"v$i")))
    assert(wh.commitMeta(ref, wh.currentVersion(ref).get)
      .get(Warehouse.OpMeta).contains("UPDATE"))
    val after = wh.dataFiles(ref).toSet
    assert((before intersect after).nonEmpty,
      "files without matches must keep their exact paths")

    // three-valued logic: rows whose predicate evaluates NULL stay
    spark.sql(
      "UPDATE graftupd.silver.g.upd SET v = 'nulled' WHERE substring(note, 2) = CAST(k AS STRING)")
    val kept = spark.sql(
      "SELECT count(*) AS n FROM graftupd.silver.g.upd WHERE v = 'nulled'")
      .head().getLong(0)
    assert(kept === 392L, s"NULL-note rows must not update (got $kept)")

    // partitioned table: predicate on the partition column, rewrite
    // stays inside the partition dirs
    val pRef = TableRef("silver", "g", "updpart")
    wh.overwrite(pRef, (1L to 200L).map(i => (i, s"g${i % 4}", 0L))
      .toDF("k", "seg", "hits").repartition(2), partitionBy = Seq("seg"))
    spark.sql(
      "UPDATE graftupd.silver.g.updpart SET hits = hits + 1 WHERE seg = 'g1'")
    assert(spark.sql(
        "SELECT sum(hits) AS s FROM graftupd.silver.g.updpart")
      .head().getLong(0) === 50L)
    assert(wh.snapshot(pRef).get.files.forall(_.contains("seg=")),
      "rewritten files must stay inside their partition dirs")
    // a partition-moving SET is refused loudly
    intercept[Exception](spark.sql(
      "UPDATE graftupd.silver.g.updpart SET seg = 'g9' WHERE k = 1"))
  }

  test("a concurrent SQL insert and Scala merge serialize on the writer lock") {
    import spark.implicits._
    val root = tmpDir("wh-sqlrace")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "race")
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))          // v1
    spark.conf.set("spark.sql.catalog.graftrace", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrace.root", root)
    (101L to 110L).map(i => (i, s"i$i")).toDF("k", "v").coalesce(1)
      .createOrReplaceTempView("race_src")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    try {
      val sqlInsert = Future(spark.sql(
        "INSERT INTO graftrace.silver.g.race SELECT k, v FROM race_src"))
      val scalaMerge = Future(
        new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
          .upsert((111L to 120L).map(i => (i, s"m$i")).toDF("k", "v").coalesce(1)))
      Await.result(sqlInsert, 120.seconds)
      Await.result(scalaMerge, 120.seconds)
    } finally pool.shutdown()
    // both landed, serialized into distinct versions (no lost update)
    assert(wh.currentVersion(ref).contains(3L),
      s"expected two serialized commits after v1, got ${wh.currentVersion(ref)}")
    assert(wh.read(ref).count() === 120L)
    assert(spark.sql("SELECT count(*) AS n FROM graftrace.silver.g.race")
      .head().getLong(0) === 120L)
  }

  test("GROUP BY partition columns answers metadata-only: per-partition rows off the manifest") {
    import spark.implicits._
    val root = tmpDir("wh-sqlcat-gmagg")
    val wh = new Warehouse(spark, root)
    spark.conf.set("spark.sql.catalog.graftgm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftgm.root", root)
    val ref = TableRef("silver", "g", "gmagg")
    // string partition incl. a NULL partition value; n nullable so
    // count(n) exercises per-group null accounting
    wh.overwrite(ref,
      (1L to 300L).map(i => (i,
        if (i % 7 == 0) None else Some(s"g${i % 3}"),
        if (i <= 30) None else Some(i * 2))).toDF("k", "p", "n"),
      partitionBy = Seq("p"), statsColumns = Seq("k", "n"))
    def t = "graftgm.silver.g.gmagg"

    val q = spark.sql(
      s"""SELECT p, count(*) AS c, count(n) AS cn, min(k) AS mn, max(k) AS mx
         |FROM $t GROUP BY p""".stripMargin)
    val expected = (1L to 300L).map(i => (i,
        if (i % 7 == 0) None else Some(s"g${i % 3}"),
        if (i <= 30) None else Some(i * 2)))
      .groupBy(_._2).map { case (p, rows) =>
        Seq[Any](p.orNull, rows.size.toLong,
          rows.count(_._3.nonEmpty).toLong,
          rows.map(_._1).min, rows.map(_._1).max)
      }.toSet
    assert(q.collect().map(_.toSeq).toSet === expected)
    assert(deepScans(q.queryExecution.executedPlan).isEmpty,
      "a partition-grouped aggregate must answer from the manifest alone")

    // the zero-data-access proof: every data file deleted raw, the
    // grouped answer still stands
    wh.dataFiles(ref).foreach(f =>
      assert(new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath).delete()))
    assert(spark.sql(s"SELECT p, count(*) AS c FROM $t GROUP BY p")
      .collect().map(_.getLong(1)).sum === 300L)

    // honest fallbacks: a grouped query WITH a filter, a group on a
    // DATA column, and an unsupported aggregate all keep the real scan
    val ref2 = TableRef("silver", "g", "gmagg2")
    wh.overwrite(ref2,
      (1L to 60L).map(i => (i, s"g${i % 2}", i * 3)).toDF("k", "p", "n"),
      partitionBy = Seq("p"), statsColumns = Seq("k"))
    Seq(
      s"SELECT p, count(*) AS c FROM graftgm.silver.g.gmagg2 WHERE k > 5 GROUP BY p",
      s"SELECT n, count(*) AS c FROM graftgm.silver.g.gmagg2 GROUP BY n",
      s"SELECT p, avg(k) AS a FROM graftgm.silver.g.gmagg2 GROUP BY p").foreach { sql =>
      val fb = spark.sql(sql)
      fb.collect()
      assert(deepScans(fb.queryExecution.executedPlan).nonEmpty,
        s"expected a real scan for: $sql")
    }

    // a numeric partition column groups in its COMMITTED type (written
    // as bigint → reads back bigint; p=07-style dirs parse, never
    // string-match)
    val ref3 = TableRef("silver", "g", "gmagg3")
    wh.overwrite(ref3,
      (1L to 90L).map(i => (i, i % 3)).toDF("k", "b"),
      partitionBy = Seq("b"), statsColumns = Seq("k"))
    val qi = spark.sql(
      s"SELECT b, count(*) AS c FROM graftgm.silver.g.gmagg3 GROUP BY b")
    assert(qi.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((0L, 30L), (1L, 30L), (2L, 30L)))
    assert(deepScans(qi.queryExecution.executedPlan).isEmpty)
  }
}
