package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sinks.MergeTable

/** IDENTITY columns (Delta `GENERATED ALWAYS AS IDENTITY`) and column
  * DEFAULT values (`graft.default.<col>`), plus the REORG ... APPLY
  * (PURGE) DV materializer. Identity: engine-assigned BIGINTs off a
  * durable high-water mark that advances inside the allocating commit;
  * ALWAYS semantics (supplying refuses, UPDATE/MERGE refuse). Default:
  * constant expression materialized when a writer omits the column.
  */
class IdentityDefaultSpec extends SparkSpec {

  test("identity assigns on append/overwrite, continues the high water, refuses supplied values") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-id-basic"))
    val ref = TableRef("silver", "i", "ids")
    wh.createTable(ref, StructType(Seq(
      StructField("row_id", LongType),
      StructField("k", LongType),
      StructField("v", StringType))))
    wh.setIdentityColumn(ref, "row_id")
    // first append: ids 1..3 in frame order (single partition, sorted)
    wh.append(ref, Seq((10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("k", "v").coalesce(1).sortWithinPartitions("k"))
    assert(wh.read(ref).orderBy("k").select("row_id").as[Long]
      .collect().toSeq === Seq(1L, 2L, 3L))
    // second append continues from the committed high water
    wh.append(ref, Seq((40L, "d"), (50L, "e"))
      .toDF("k", "v").coalesce(1).sortWithinPartitions("k"))
    assert(wh.read(ref).orderBy("k").select("row_id").as[Long]
      .collect().toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    // a full overwrite does NOT restart the sequence (Delta semantics):
    // ids keep advancing past everything ever allocated
    wh.overwrite(ref, Seq((60L, "f")).toDF("k", "v"))
    assert(wh.read(ref).select("row_id").as[Long].collect().toSeq ===
      Seq(6L))
    // supplying the column refuses — on append AND overwrite
    val e1 = intercept[IllegalArgumentException](
      wh.append(ref, Seq((99L, 70L, "g")).toDF("row_id", "k", "v")))
    assert(e1.getMessage.contains("IDENTITY"))
    val e2 = intercept[IllegalArgumentException](
      wh.overwrite(ref, Seq((99L, 70L, "g")).toDF("row_id", "k", "v")))
    assert(e2.getMessage.contains("IDENTITY"))
    assert(wh.read(ref).count() === 1L, "refused writes must not land")
    // UPDATE cannot SET it
    val e3 = intercept[IllegalArgumentException](
      wh.updateWhere(ref, col("k") === 60L, Seq("row_id" -> lit(999L))))
    assert(e3.getMessage.contains("IDENTITY"))
    // MERGE refuses identity targets outright
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    val e4 = intercept[IllegalArgumentException](
      mt.upsert(Seq((60L, 1L, "x")).toDF("k", "row_id", "v")))
    assert(e4.getMessage.contains("IDENTITY"))
    // WAP staging refuses too: no commit, no high-water line to ride
    val e5 = intercept[IllegalArgumentException](
      wh.stageOverwrite(ref, Seq((70L, "h")).toDF("k", "v")))
    assert(e5.getMessage.contains("IDENTITY"))
    // the streaming sink refuses identity targets at query start:
    // tasks write files verbatim, so no assignment pass could run
    val cat6 = "idstream"
    spark.conf.set(s"spark.sql.catalog.$cat6", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat6.root",
      wh.root)
    val in = tmpDir("id-sink-in")
    val ckpt = tmpDir("id-sink-ckpt")
    Seq((1L, 70L, "s")).toDF("row_id", "k", "v")
      .write.mode("append").parquet(in)
    val q = spark.readStream.schema("row_id LONG, k LONG, v STRING")
      .parquet(in).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$cat6.silver.i.ids")
    val e6 = intercept[Exception](q.awaitTermination())
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t.asInstanceOf[Throwable])(_.getCause)
        .takeWhile(_ != null).toSeq.flatMap(c => Option(c.getMessage))
    assert(chain(e6).exists(_.contains("IDENTITY")))
    assert(wh.read(ref).count() === 1L, "the refused stream wrote nothing")
    // dropping the identity frees the column
    wh.dropIdentityColumn(ref, "row_id")
    wh.append(ref, Seq((77L, 80L, "i")).toDF("row_id", "k", "v"))
    assert(wh.read(ref).count() === 2L)
  }

  test("identity start/step honored; multi-partition range layout keeps global key order") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-id-step"))
    val ref = TableRef("silver", "i", "step")
    wh.createTable(ref, StructType(Seq(
      StructField("id", LongType), StructField("k", LongType))))
    wh.setIdentityColumn(ref, "id", start = 100L, step = 5L)
    // range-partitioned + sorted staging: partition 0 holds the lowest
    // keys, so zipWithIndex's partition-ordered indices ARE key order
    val src = (1L to 200L).toDF("k")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    wh.append(ref, src)
    val got = wh.read(ref).orderBy("k").select("id").as[Long].collect()
    assert(got.toSeq === (0L until 200L).map(i => 100L + 5L * i))
    assert(wh.read(ref).agg(max("id")).as[Long].head() === 100L + 5L * 199L)
    // next batch continues exactly after it
    wh.append(ref, Seq(1000L).toDF("k"))
    assert(wh.read(ref).agg(max("id")).as[Long].head() === 100L + 5L * 200L)
  }

  test("identity declaration guards: type, partition column, existing values, generation interplay, rename follows") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-id-guards"))
    val ref = TableRef("silver", "i", "guards")
    wh.overwrite(ref, Seq((1, 10L, "x")).toDF("small", "k", "v"))
    // non-BIGINT refuses
    val e1 = intercept[IllegalArgumentException](
      wh.setIdentityColumn(ref, "small"))
    assert(e1.getMessage.contains("BIGINT"))
    // a column carrying committed values refuses
    val e2 = intercept[IllegalArgumentException](
      wh.setIdentityColumn(ref, "k"))
    assert(e2.getMessage.contains("existing row"))
    // widened-then-declared works: historical rows stay NULL
    wh.addColumns(ref, Seq(StructField("rid", LongType)))
    wh.setIdentityColumn(ref, "rid")
    wh.append(ref, Seq((2, 20L, "y")).toDF("small", "k", "v"))
    assert(wh.read(ref).filter(col("k") === 10L).select("rid")
      .as[java.lang.Long].head() === null)
    assert(wh.read(ref).filter(col("k") === 20L).select("rid")
      .as[Long].head() === 1L)
    // dropColumns refuses the identity column while declared
    val e3 = intercept[IllegalArgumentException](
      wh.dropColumns(ref, Seq("rid")))
    assert(e3.getMessage.contains("IDENTITY"))
    // a generation cannot read an identity column (computes first)
    val e4 = intercept[IllegalArgumentException](
      wh.setGeneratedColumn(ref, "k", "rid * 2"))
    assert(e4.getMessage.contains("IDENTITY"))
    // ... nor can an identity column itself be generated
    wh.addColumns(ref, Seq(StructField("rid2", LongType)))
    wh.setIdentityColumn(ref, "rid2")
    val e5 = intercept[IllegalArgumentException](
      wh.setGeneratedColumn(ref, "rid2", "k * 2"))
    assert(e5.getMessage.contains("IDENTITY"))
    // renameColumn FOLLOWS the identity: new name keeps the sequence
    wh.renameColumn(ref, "rid", "row_id")
    assert(wh.identityColumns(ref).keySet === Set("row_id", "rid2"))
    wh.append(ref, Seq((3, 30L, "z")).toDF("small", "k", "v"))
    assert(wh.read(ref).filter(col("k") === 30L).select("row_id")
      .as[Long].head() === 2L, "high water must survive the rename")
    // partition-column identity refuses
    val pref = TableRef("silver", "i", "pguard")
    wh.createTable(pref, StructType(Seq(
      StructField("p", LongType), StructField("x", LongType))),
      partitionBy = Seq("p"))
    val e6 = intercept[IllegalArgumentException](
      wh.setIdentityColumn(pref, "p"))
    assert(e6.getMessage.contains("partition"))
  }

  test("column defaults: omitted columns materialize, constants only, drop clears, merge INSERT fills") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-def"))
    val ref = TableRef("silver", "d", "defs")
    wh.overwrite(ref, Seq((1L, 5.0, "api")).toDF("k", "price", "channel"),
      statsColumns = Seq("k"))
    // non-constant refuses (a row-dependent default is a generation)
    val e1 = intercept[IllegalArgumentException](
      wh.setColumnDefault(ref, "channel", "concat(channel, '!')"))
    assert(e1.getMessage.contains("constant"))
    // mistyped/unresolvable refuses at declaration
    intercept[Exception](wh.setColumnDefault(ref, "channel", "no_such_fn()"))
    wh.setColumnDefault(ref, "channel", "'web'")
    assert(wh.columnDefaults(ref) === Map("channel" -> "'web'"))
    // append omitting the column: default materializes
    wh.append(ref, Seq((2L, 6.0)).toDF("k", "price"))
    assert(wh.read(ref).filter(col("k") === 2L).select("channel")
      .as[String].head() === "web")
    // a supplied column is the caller's truth — explicit NULL included
    wh.append(ref, Seq((3L, 7.0, null.asInstanceOf[String]))
      .toDF("k", "price", "channel"))
    assert(wh.read(ref).filter(col("k") === 3L).select("channel")
      .as[String].head() === null)
    // overwrite omitting the column materializes too, cast to the type
    wh.setColumnDefault(ref, "price", "CAST(1 AS DOUBLE)")
    wh.overwrite(ref, Seq(9L).toDF("k"))
    assert(wh.read(ref).select("price", "channel").as[(Double, String)]
      .head() === ((1.0, "web")))
    // clause-merge explicit INSERT fills the default for omitted cols
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsertClauses(
      Seq((10L, 2.5)).toDF("k", "price"),
      graft.sinks.Merge.MergeClauses(inserts = Seq(graft.sinks.Merge.Clause(
        None, "insert", Some(Seq("k" -> "__src_k", "price" -> "__src_price"))))))
    assert(wh.read(ref).filter(col("k") === 10L).select("channel")
      .as[String].head() === "web")
    // drop restores plain NULL-fill for omitted columns
    wh.dropColumnDefault(ref, "channel")
    wh.append(ref, Seq((11L, 3.0)).toDF("k", "price"))
    assert(wh.read(ref).filter(col("k") === 11L).select("channel")
      .as[String].head() === null)
    // dropping a defaulted column tombstones its default with it
    // (the untouched price default survives)
    wh.setColumnDefault(ref, "channel", "'x'")
    wh.dropColumns(ref, Seq("channel"))
    assert(wh.columnDefaults(ref) === Map("price" -> "CAST(1 AS DOUBLE)"))
  }

  test("defaults and identity govern through SQL TBLPROPERTIES and list in .detail") {
    import spark.implicits._
    val root = tmpDir("wh-dsql")
    val cat = "dsqlcat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val wh = new Warehouse(spark, root)
    spark.sql(s"CREATE TABLE $cat.silver.d.gov " +
      "(rid BIGINT, k BIGINT, channel STRING) " +
      s"TBLPROPERTIES ('graft.identity.rid' = '10,2', " +
      "'graft.default.channel' = \"'web'\")")
    val ref = TableRef("silver", "d", "gov")
    assert(wh.identityColumns(ref) === Map("rid" -> ((10L, 2L))))
    assert(wh.columnDefaults(ref) === Map("channel" -> "'web'"))
    wh.append(ref, Seq(1L, 2L).toDF("k"))
    assert(wh.read(ref).orderBy("k").select("rid", "channel")
      .as[(Long, String)].collect().toSeq ===
      Seq((10L, "web"), (12L, "web")))
    // ANSI column-list INSERT: the analyzer fills the omitted
    // defaulted column from the table's column metadata
    // (GraftSqlTable.columns), and the omitted identity arrives as a
    // NULL placeholder the engine assigns
    spark.sql(s"INSERT INTO $cat.silver.d.gov (k) VALUES (3)")
    assert(wh.read(ref).filter(col("k") === 3L)
      .select("rid", "channel").as[(Long, String)].head() ===
      ((14L, "web")))
    // .detail lists both declarations
    val d = spark.sql(s"SELECT * FROM $cat.silver.d.gov.detail").head()
    assert(d.getAs[String]("identity_columns") === "rid IDENTITY(10,2)")
    assert(d.getAs[String]("default_columns") === "channel DEFAULT ('web')")
    // UNSET drops both; ungoverned keys still refuse
    spark.sql(s"ALTER TABLE $cat.silver.d.gov UNSET TBLPROPERTIES " +
      "('graft.identity.rid', 'graft.default.channel')")
    assert(wh.identityColumns(ref).isEmpty && wh.columnDefaults(ref).isEmpty)
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.silver.d.gov SET TBLPROPERTIES ('free.form' = '1')"))
  }

  test("native SQL column syntax: IDENTITY/DEFAULT/GENERATED AS clauses, ALTER SET DEFAULT, NULL-placeholder INSERT") {
    import spark.implicits._
    val root = tmpDir("wh-native")
    val cat = "natcat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val wh = new Warehouse(spark, root)
    spark.sql(
      s"""CREATE TABLE $cat.silver.n.t (
         |  rid BIGINT GENERATED ALWAYS AS IDENTITY
         |    (START WITH 10 INCREMENT BY 2),
         |  k BIGINT,
         |  price DOUBLE,
         |  channel STRING DEFAULT 'web',
         |  cents BIGINT GENERATED ALWAYS AS
         |    (CAST(round(price * 100) AS BIGINT)))""".stripMargin)
    val ref = TableRef("silver", "n", "t")
    assert(wh.identityColumns(ref) === Map("rid" -> ((10L, 2L))))
    assert(wh.columnDefaults(ref) === Map("channel" -> "'web'"))
    assert(wh.generatedColumns(ref).keySet === Set("cents"))
    // Scala append omitting every engine-owned column
    wh.append(ref, Seq((1L, 2.5)).toDF("k", "price"))
    assert(wh.read(ref).select("rid", "k", "channel", "cents")
      .as[(Long, Long, String, Long)].collect().toSeq ===
      Seq((10L, 1L, "web", 250L)))
    // full-schema SQL INSERT: a NULL identity placeholder IS an
    // omission (assigned), supplied generated value validates
    spark.sql(s"INSERT INTO $cat.silver.n.t VALUES " +
      "(CAST(NULL AS BIGINT), 3, 2.0, 'x', 200)")
    assert(wh.read(ref).filter($"k" === 3L).select("rid", "channel")
      .as[(Long, String)].head() === ((12L, "x")))
    // a REAL supplied identity value still refuses through SQL
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO $cat.silver.n.t VALUES (999, 4, 1.0, 'y', 100)"))
    assert(e.getMessage.contains("IDENTITY"))
    // ALTER COLUMN SET/DROP DEFAULT (the ANSI spelling)
    spark.sql(s"ALTER TABLE $cat.silver.n.t ALTER COLUMN channel " +
      "SET DEFAULT 'store'")
    assert(wh.columnDefaults(ref) === Map("channel" -> "'store'"))
    wh.append(ref, Seq((5L, 4.0)).toDF("k", "price"))
    assert(wh.read(ref).filter($"k" === 5L).select("channel")
      .as[String].head() === "store")
    spark.sql(s"ALTER TABLE $cat.silver.n.t ALTER COLUMN channel " +
      "DROP DEFAULT")
    assert(wh.columnDefaults(ref) === Map.empty[String, String])
    // GENERATED BY DEFAULT refuses, and the refused CREATE is atomic:
    // no half-declared empty table lingers
    intercept[Exception](spark.sql(
      s"""CREATE TABLE $cat.silver.n.bad (
         |  rid BIGINT GENERATED BY DEFAULT AS IDENTITY,
         |  k BIGINT)""".stripMargin))
    assert(!wh.exists(TableRef("silver", "n", "bad")) &&
      wh.snapshot(TableRef("silver", "n", "bad")).isEmpty)
  }

  test("identity assignment stays in Tungsten: ids are a codegen'd projection, not an RDD round-trip") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-id-tungsten"))
    val ref = TableRef("silver", "i", "tungsten")
    wh.createTable(ref, StructType(Seq(
      StructField("rid", LongType), StructField("k", LongType))))
    wh.setIdentityColumn(ref, "rid", start = 5L, step = 3L)
    val src = (1L to 100L).toDF("k")
      .repartitionByRange(7, col("k")).sortWithinPartitions("k")
    val (out, hwMeta, cleanup) =
      wh.applyIdentityLocked(ref, src, allowSupplied = false)
    // the id column is an EXPRESSION over the checkpointed scan
    // (round-19 verdict, next #6) — the old rdd.zipWithIndex path left
    // Tungsten and paid a Row conversion per row; this pins the
    // projection shape so a regression to RDD assignment fails here
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("monotonically_increasing_id"),
      s"ids must come from the codegen'd projection, got plan:\n$plan")
    assert(!plan.contains("zipWithIndex"))
    // exact contiguous assignment in frame order, hw advance included
    val got = out.orderBy("k").select("rid").as[Long].collect()
    assert(got.toSeq === (0L until 100L).map(i => 5L + 3L * i))
    assert(hwMeta === Map(Warehouse.identityHwKey("rid") ->
      (5L + 3L * 99L).toString))
    cleanup()
  }

  test("renaming a table's SOLE identity column never resurrects it with fresh ids") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-id-solerename"))
    val ref = TableRef("silver", "i", "solere")
    wh.createTable(ref, StructType(Seq(
      StructField("rid", LongType), StructField("k", LongType))))
    wh.setIdentityColumn(ref, "rid", start = 10L, step = 2L)
    wh.append(ref, Seq(100L, 200L).toDF("k").coalesce(1)
      .sortWithinPartitions("k"))
    // the ONLY identity column renames: the internal full rewrite's
    // frame carries the column under the NEW name, so a fresh-assign
    // fallback keyed on the old name would add `rid` back populated
    // with newly minted ids (round-19 advice, high)
    wh.renameColumn(ref, "rid", "row_id")
    assert(wh.schemaOf(ref).fieldNames.toSeq === Seq("row_id", "k"),
      "the old identity name must NOT reappear in the schema")
    assert(wh.identityColumns(ref).keySet === Set("row_id"))
    assert(wh.read(ref).orderBy("k").select("row_id").as[Long]
      .collect().toSeq === Seq(10L, 12L), "committed ids carry unchanged")
    // the sequence continues from the carried high-water
    wh.append(ref, Seq(300L).toDF("k"))
    assert(wh.read(ref).filter(col("k") === 300L).select("row_id")
      .as[Long].head() === 14L)
  }

  test("re-declaring identity resets the sequence to the declared start") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-id-redeclare"))
    val ref = TableRef("silver", "i", "redecl")
    wh.createTable(ref, StructType(Seq(
      StructField("rid", LongType), StructField("k", LongType))))
    wh.setIdentityColumn(ref, "rid", start = 1L, step = 1L)
    wh.append(ref, (1L to 5L).toDF("k").coalesce(1).sortWithinPartitions("k"))
    // drop the declaration, truncate the data, re-declare from 100:
    // the stale high-water (5) must NOT silently continue the old
    // sequence — re-declaration means "fresh from MY start"
    // (round-19 advice, medium)
    wh.dropIdentityColumn(ref, "rid")
    wh.truncate(ref)
    wh.setIdentityColumn(ref, "rid", start = 100L, step = 5L)
    wh.append(ref, Seq(10L, 20L).toDF("k").coalesce(1)
      .sortWithinPartitions("k"))
    assert(wh.read(ref).orderBy("k").select("rid").as[Long]
      .collect().toSeq === Seq(100L, 105L),
      "the re-declared sequence must start at the declared start")
  }

  test("identity partition guard follows the committed layout: files outrank the declared one") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-id-relayout"))
    val ref = TableRef("silver", "i", "relayout")
    wh.createTable(ref, StructType(Seq(
      StructField("p", LongType), StructField("x", LongType))),
      partitionBy = Seq("p"))
    // a flat overwrite re-lays the table out; the declaration stays carried
    wh.overwrite(ref, Seq((Option.empty[Long], 10L)).toDF("p", "x"))
    assert(wh.snapshot(ref).get.files.forall(!_.contains("p=")))
    wh.setIdentityColumn(ref, "p")
    wh.append(ref, Seq(20L).toDF("x"))
    assert(wh.read(ref).filter(col("x") === 20L).select("p")
      .as[Long].head() === 1L)
  }

  test("malformed identity property values refuse loudly, naming the key") {
    // governed-property parse: '1,2,3', non-numerics, and empties are
    // user typos that must produce the same loud shape as every other
    // governed property — never a bare MatchError (round-19 advice)
    assert(Warehouse.parseIdentitySpec("graft.identity.c", "7") === ((7L, 1L)))
    assert(Warehouse.parseIdentitySpec("graft.identity.c", " 7 , -2 ") ===
      ((7L, -2L)))
    for (bad <- Seq("1,2,3", "x", "1,y", "", ",", "1,"))
      assert(intercept[IllegalArgumentException](
        Warehouse.parseIdentitySpec("graft.identity.c", bad))
        .getMessage.contains("graft.identity.c"),
        s"value '$bad' must refuse naming the key")
  }

  test("REORG APPLY PURGE rewrites only DV'd files; healthy bytes never move") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-reorg"))
    val ref = TableRef("silver", "r", "purge")
    // two files: keys 1-100 and 101-200
    wh.overwrite(ref, (1L to 100L).toDF("k").coalesce(1),
      statsColumns = Seq("k"))
    wh.append(ref, (101L to 200L).toDF("k").coalesce(1))
    wh.setDeletionVectors(ref, enabled = true)
    wh.deleteWhere(ref, col("k") === 5L) // DV lands on file 1 only
    val snap0 = wh.snapshot(ref).get
    assert(snap0.dvMap.size === 1)
    val dvd = snap0.dvMap.keySet
    val healthy = snap0.files.filterNot(dvd.contains)
    assert(healthy.nonEmpty)
    val n = wh.reorgPurge(ref)
    assert(n === 1, "exactly the one DV'd file rewrites")
    val snap1 = wh.snapshot(ref).get
    assert(snap1.dvMap.isEmpty, "vectors materialized away")
    assert(healthy.forall(snap1.files.contains),
      "healthy files keep their bytes and paths")
    assert(dvd.forall(f => !snap1.files.contains(f)), "DV'd file retired")
    assert(wh.read(ref).count() === 199L)
    // CALL surface
    val root2 = tmpDir("wh-reorg-sql")
    val cat = "reorgcat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root2)
    val wh2 = new Warehouse(spark, root2)
    val ref2 = TableRef("silver", "r", "p2")
    wh2.overwrite(ref2, (1L to 50L).toDF("k").coalesce(1))
    wh2.setDeletionVectors(ref2, enabled = true)
    wh2.deleteWhere(ref2, col("k") <= 10L)
    val row = spark.sql(
      s"CALL $cat.system.reorg('silver.r.p2')").head()
    assert(row.getAs[Int]("files_rewritten") === 1)
    assert(wh2.snapshot(ref2).get.dvMap.isEmpty)
    assert(wh2.read(ref2).count() === 40L)
  }
}
