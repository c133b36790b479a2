package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GENERATED columns (Delta `GENERATED ALWAYS AS`): declared as the
  * carried property `graft.generated.<col>`, computed when a writer
  * omits the column, validated (null-safe equality) in the staged
  * constraint pass when a writer supplies it — on EVERY write surface,
  * including the merge's file replacement.
  */
class GeneratedColumnSpec extends SparkSpec {

  test("set validates existing rows; omitted column computes on append and overwrite; wrong values refuse") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-gen-basic"))
    val ref = TableRef("silver", "g", "gen")
    wh.overwrite(ref, Seq((1L, 2.5, 250L), (2L, 1.0, 100L))
      .toDF("k", "price", "cents"), statsColumns = Seq("k"))
    // a generation the current rows violate refuses (have-always-held)
    intercept[IllegalStateException](
      wh.setGeneratedColumn(ref, "cents", "CAST(round(price * 1000) AS BIGINT)"))
    wh.setGeneratedColumn(ref, "cents", "CAST(round(price * 100) AS BIGINT)")
    assert(wh.generatedColumns(ref) ===
      Map("cents" -> "CAST(round(price * 100) AS BIGINT)"))
    // append WITHOUT the column: computed
    wh.append(ref, Seq((3L, 4.2)).toDF("k", "price"))
    assert(wh.read(ref).filter(col("k") === 3L)
      .select("cents").as[Long].head() === 420L)
    // append WITH correct values: passes; with WRONG values: refused
    wh.append(ref, Seq((4L, 1.5, 150L)).toDF("k", "price", "cents"))
    val e = intercept[IllegalStateException](
      wh.append(ref, Seq((5L, 1.5, 999L)).toDF("k", "price", "cents")))
    assert(e.getMessage.contains("GENERATED column"))
    assert(wh.read(ref).count() === 4L, "the refused batch must not land")
    // overwrite computes omitted generations too
    wh.overwrite(ref, Seq((9L, 3.0)).toDF("k", "price"))
    assert(wh.read(ref).select("k", "cents").as[(Long, Long)]
      .collect().toSeq === Seq((9L, 300L)))
    // drop the generation: free-form values pass again
    wh.dropGeneratedColumn(ref, "cents")
    wh.append(ref, Seq((10L, 1.0, 77L)).toDF("k", "price", "cents"))
    assert(wh.read(ref).count() === 2L)
  }

  test("a WAP stage computes omitted generations and refuses wrong ones") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-gen-wap"))
    val ref = TableRef("silver", "g", "gen_wap")
    wh.overwrite(ref, Seq((1L, 10L)).toDF("k", "v"))
    wh.setGeneratedColumn(ref, "v", "k * 10")
    wh.publishStaged(ref, wh.stageOverwrite(ref, Seq(4L).toDF("k")))
    assert(wh.schemaOf(ref).fieldNames.toSeq === Seq("k", "v"))
    assert(wh.read(ref).as[(Long, Long)].collect().toSeq === Seq((4L, 40L)))
    val e = intercept[IllegalStateException](
      wh.stageOverwrite(ref, Seq((5L, 1L)).toDF("k", "v")))
    assert(e.getMessage.contains("GENERATED column"))
    assert(wh.stagedIds(ref).isEmpty)
  }

  test("UPDATE recomputes generations whose source changed: copy-on-write, DV, clause-merge paths") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-gen-upd"))
    val ref = TableRef("silver", "g", "genupd")
    wh.overwrite(ref, Seq((1L, 2.0, 200L), (2L, 3.0, 300L), (3L, 4.0, 400L))
      .toDF("k", "price", "cents").repartitionByRange(3, col("k")),
      statsColumns = Seq("k"))
    wh.setGeneratedColumn(ref, "cents", "CAST(round(price * 100) AS BIGINT)")
    // copy-on-write updateWhere: SET price must refresh cents, not
    // bounce off the staged validation with the stale value
    wh.updateWhere(ref, col("k") === 1L, Seq("price" -> lit(5.5)))
    assert(wh.read(ref).filter(col("k") === 1L)
      .select("price", "cents").as[(Double, Long)].head() === ((5.5, 550L)))
    // merge-on-read (DV) update recomputes into the appended image
    wh.setDeletionVectors(ref, enabled = true)
    wh.updateWhere(ref, col("k") === 2L, Seq("price" -> lit(7.25)))
    assert(wh.read(ref).filter(col("k") === 2L)
      .select("price", "cents").as[(Double, Long)].head() === ((7.25, 725L)))
    // explicitly SETTING the generated column to a drifted value still
    // refuses — recompute never overrides an explicit assignment
    intercept[IllegalStateException](
      wh.updateWhere(ref, col("k") === 3L,
        Seq("price" -> lit(9.0), "cents" -> lit(1L))))
    // clause merge with expression SET recomputes too (and explicit
    // INSERT computes the omitted generation)
    wh.setDeletionVectors(ref, enabled = false)
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsertClauses(Seq((3L, 2.0), (9L, 6.0)).toDF("k", "delta"),
      graft.sinks.Merge.MergeClauses(
        matched = Seq(graft.sinks.Merge.Clause(None, "update",
          Some(Seq("price" -> "price + __src_delta")))),
        inserts = Seq(graft.sinks.Merge.Clause(None, "insert",
          Some(Seq("k" -> "__src_k", "price" -> "__src_delta"))))))
    val got = wh.read(ref).select("k", "price", "cents")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(3L) === ((6.0, 600L)),
      "clause-merge SET must recompute the derived column")
    assert(got(9L) === ((6.0, 600L)),
      "explicit INSERT must compute the omitted generation")
  }

  test("generation over a generation: dependency order beats alphabetical; cycles refuse") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-gen-topo"))
    val ref = TableRef("silver", "g", "gentopo")
    // 'a_double' sorts BEFORE 'z_cents' alphabetically but DEPENDS on
    // it — alphabetical application would hit an unresolved column
    wh.overwrite(ref, Seq((1L, 2.0, 200L, 400L))
      .toDF("k", "price", "z_cents", "a_double"), statsColumns = Seq("k"))
    wh.setGeneratedColumn(ref, "z_cents", "CAST(round(price * 100) AS BIGINT)")
    wh.setGeneratedColumn(ref, "a_double", "z_cents * 2")
    wh.append(ref, Seq((2L, 3.0)).toDF("k", "price"))
    assert(wh.read(ref).filter(col("k") === 2L)
      .select("z_cents", "a_double").as[(Long, Long)].head() === ((300L, 600L)))
    // transitive recompute: SET price refreshes BOTH derivations
    wh.updateWhere(ref, col("k") === 2L, Seq("price" -> lit(5.0)))
    assert(wh.read(ref).filter(col("k") === 2L)
      .select("z_cents", "a_double").as[(Long, Long)].head() === ((500L, 1000L)))
  }

  test("generated day partition derives pruning from source-timestamp predicates") {
    import spark.implicits._
    val root = tmpDir("wh-gen-prune")
    val wh = new Warehouse(spark, root)
    val cat = "graftgenprune"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "g", "genprune")
    // 3 daily partitions, 2 files each; `day` physically generated
    val rows = (0 until 300).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i % 3}%02d ${i % 24}%02d:00:00"))
    }.toDF("k", "ts").withColumn("day", to_date(col("ts")))
    wh.overwrite(ref, rows.repartition(2), partitionBy = Seq("day"),
      statsColumns = Seq("k"))
    wh.setGeneratedColumn(ref, "day", "CAST(ts AS DATE)")
    val total = wh.dataFiles(ref).size
    def planned(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.flatMap(_.partitions.flatten).flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(_.filePath.toString).toSeq
        case _ => Seq.empty
      }.distinct.size
    // range on ts ONLY — no day predicate anywhere in the query
    val q = spark.sql(
      s"""SELECT k FROM $cat.silver.g.genprune
         |WHERE ts >= TIMESTAMP'2024-01-03 00:00:00'""".stripMargin)
    assert(q.count() === 100L, "day-3 rows")
    assert(planned(q) < total && planned(q) > 0,
      s"a ts range must prune generated day partitions: " +
        s"planned ${planned(q)} of $total")
    // equality and IN derive too
    val qe = spark.sql(s"SELECT k FROM $cat.silver.g.genprune " +
      "WHERE ts = TIMESTAMP'2024-01-02 01:00:00'")
    assert(planned(qe) < total)
    assert(qe.count() ===
      rows.filter($"ts" === "2024-01-02 01:00:00").count())
    // correctness under the derivation: full scan agrees
    val all = spark.sql(s"SELECT k FROM $cat.silver.g.genprune " +
      "WHERE ts >= TIMESTAMP'2024-01-02 00:00:00'")
    assert(all.count() === 200L)
    // a NON-monotone generation (month) must not derive range bounds
    // but still derives equality
    val ref2 = TableRef("silver", "g", "genprune2")
    wh.overwrite(ref2, rows.drop("day")
      .withColumn("m", month(col("ts"))).repartition(2),
      partitionBy = Seq("m"), statsColumns = Seq("k"))
    wh.setGeneratedColumn(ref2, "m", "month(ts)")
    val q2 = spark.sql(s"SELECT k FROM $cat.silver.g.genprune2 " +
      "WHERE ts >= TIMESTAMP'2024-01-03 00:00:00'")
    assert(q2.count() === 100L, "month is not monotone — no wrong pruning")
  }

  test("merge file replacement validates generated values; dropColumns guards generation references") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-gen-merge"))
    val ref = TableRef("silver", "g", "genm")
    wh.overwrite(ref, (1L to 20L).map(i => (i, i * 1.0, i * 100L))
      .toDF("k", "price", "cents"), statsColumns = Seq("k"))
    wh.setGeneratedColumn(ref, "cents", "CAST(round(price * 100) AS BIGINT)")
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    // a merge source carrying a DRIFTED generated value refuses at the
    // staged validation — the rewrite path enforces like any append.
    // (MergeTable retries ConcurrentWriteException, not this.)
    intercept[IllegalStateException](
      mt.upsert(Seq((3L, 5.0, 123L)).toDF("k", "price", "cents")))
    assert(wh.read(ref).filter(col("k") === 3L)
      .select("cents").as[Long].head() === 300L)
    // a consistent source lands
    mt.upsert(Seq((3L, 5.0, 500L)).toDF("k", "price", "cents"))
    assert(wh.read(ref).filter(col("k") === 3L)
      .select("cents").as[Long].head() === 500L)
    // dropColumns refuses on the generated column and on its source
    val e1 = intercept[IllegalArgumentException](
      wh.dropColumns(ref, Seq("cents")))
    assert(e1.getMessage.contains("GENERATED"))
    val e2 = intercept[IllegalArgumentException](
      wh.dropColumns(ref, Seq("price")))
    assert(e2.getMessage.contains("GENERATED"))
    wh.dropGeneratedColumn(ref, "cents")
    wh.dropColumns(ref, Seq("cents")) // fine once the generation is gone
    assert(!wh.read(ref).columns.contains("cents"))
  }

  test("SQL surface: CREATE TABLE TBLPROPERTIES declares, SET/UNSET alters, partitioned derived day column") {
    import spark.implicits._
    val root = tmpDir("wh-gen-sql")
    val wh = new Warehouse(spark, root)
    val cat = "graftgen"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(
      s"""CREATE TABLE $cat.silver.g.events (
         |  k BIGINT, ts TIMESTAMP, day STRING)
         |PARTITIONED BY (day)
         |TBLPROPERTIES (
         |  'graft.generated.day' = "date_format(ts, 'yyyy-MM-dd')")""".stripMargin)
    val ref = TableRef("silver", "g", "events")
    assert(wh.generatedColumns(ref) ===
      Map("day" -> "date_format(ts, 'yyyy-MM-dd')"))
    // the derived PARTITION column computes at write time and the rows
    // land inside their day directories — the 100 TB use of the feature
    wh.append(ref, Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 11:00:00")))
      .toDF("k", "ts"))
    assert(wh.snapshot(ref).get.files.forall(_.contains("day=2024-03-0")),
      s"generated partition values must shape the layout: " +
        wh.snapshot(ref).get.files.mkString(","))
    assert(spark.sql(
        s"SELECT k FROM $cat.silver.g.events WHERE day = '2024-03-02'")
      .as[Long].collect().toSeq === Seq(2L))
    // SET re-declares (validating), UNSET drops
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.silver.g.events SET TBLPROPERTIES " +
        s"('graft.generated.day' = \"date_format(ts, 'yyyy')\")"))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("differ"))))
    spark.sql(s"ALTER TABLE $cat.silver.g.events UNSET TBLPROPERTIES " +
      s"('graft.generated.day')")
    assert(wh.generatedColumns(ref).isEmpty)
  }
}
