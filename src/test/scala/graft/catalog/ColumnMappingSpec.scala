package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** COLUMN MAPPING ([[Warehouse.enableColumnMapping]], Delta's id
  * mode): mapped tables write parquet field ids and read by id, so
  * RENAME COLUMN is one metadata commit — files never move, values
  * stay readable under the new name, mixed-era files (written before
  * and after the rename) resolve by id in one scan, and dropped names
  * can be re-added safely (ids are never reused).
  */
class ColumnMappingSpec extends SparkSpec {

  test("mapped rename is metadata-only: files keep their bytes, values follow the new name") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-colmap"))
    val ref = TableRef("silver", "m", "mapped")
    wh.createTable(ref, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    wh.enableColumnMapping(ref)
    wh.append(ref, (1L to 100L).map(i => (i, i * 0.5)).toDF("k", "v")
      .repartitionByRange(2, col("k")))
    val filesBefore = wh.dataFiles(ref).toSet
    val vBefore = wh.currentVersion(ref).get
    wh.renameColumn(ref, "v", "price")
    assert(wh.dataFiles(ref).toSet === filesBefore,
      "mapped rename must move ZERO data files")
    assert(wh.currentVersion(ref).get === vBefore + 1,
      "mapped rename is exactly one commit")
    assert(wh.schemaOf(ref).fieldNames.toSeq === Seq("k", "price"))
    // values written under the OLD name read under the NEW one (by id)
    assert(wh.read(ref).filter(col("k") === 7L).select("price")
      .as[Double].head() === 3.5)
    // a post-rename append mixes: new files carry the new name, old
    // files the old — one scan resolves both by id
    wh.append(ref, Seq((101L, 50.5)).toDF("k", "price"))
    assert(wh.read(ref).count() === 101L)
    assert(wh.read(ref).filter(col("k") === 101L).select("price")
      .as[Double].head() === 50.5)
    // stats manifest followed the rename: pruning works on BOTH names'
    // eras through the new name; the value is never falsely excluded
    assert(wh.statColumns(ref).contains("k"))
    assert(wh.read(ref).filter(col("price") === 3.5).count() === 1L)
    // time travel below the rename keeps the old name
    assert(org.apache.spark.sql.types.DataType
      .fromJson(wh.snapshotAt(ref, vBefore).schemaJson)
      .asInstanceOf[StructType].fieldNames.toSeq === Seq("k", "v"))
    assert(wh.readVersion(ref, vBefore).select("v").count() === 100L)
  }

  test("mapped tables through SQL: TBLPROPERTIES enable, RENAME COLUMN, reads and pushdown") {
    import spark.implicits._
    val root = tmpDir("wh-colmap-sql")
    val wh = new Warehouse(spark, root)
    val cat = "graftcolmap"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.silver.m.sqlmap (k BIGINT, v DOUBLE) " +
      s"TBLPROPERTIES ('${Warehouse.ColumnMappingMeta}' = 'id')")
    val ref = TableRef("silver", "m", "sqlmap")
    assert(wh.columnMappingEnabled(ref))
    spark.sql(s"INSERT INTO $cat.silver.m.sqlmap " +
      "SELECT id AS k, id * 2.0 AS v FROM range(1, 51)")
    val filesBefore = wh.dataFiles(ref).toSet
    spark.sql(s"ALTER TABLE $cat.silver.m.sqlmap RENAME COLUMN v TO price")
    assert(wh.dataFiles(ref).toSet === filesBefore,
      "SQL RENAME COLUMN on a mapped table must be metadata-only")
    // SQL reads resolve old files by id, filters push down on the new name
    val got = spark.sql(s"SELECT k, price FROM $cat.silver.m.sqlmap " +
      "WHERE price = 20.0").as[(Long, Double)].collect()
    assert(got.toSeq === Seq((10L, 20.0)))
    assert(spark.sql(s"SELECT sum(price) FROM $cat.silver.m.sqlmap")
      .as[Double].head() === (1 to 50).map(_ * 2.0).sum)
  }

  test("mapped maintenance: compact, DV delete, overwrite reshape, add/drop/re-add") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-colmap-maint"))
    val ref = TableRef("silver", "m", "maint")
    wh.createTable(ref, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    wh.enableColumnMapping(ref)
    wh.append(ref, (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v")
      .repartition(4))
    wh.renameColumn(ref, "v", "price")
    // compaction rewrites files AFTER the rename — still readable
    wh.compact(ref)
    assert(wh.read(ref).agg(sum("price")).as[Double].head() === 1275.0)
    // DV delete on a mapped table
    wh.setDeletionVectors(ref, enabled = true)
    wh.deleteWhere(ref, col("k") <= 10L)
    assert(wh.read(ref).count() === 40L)
    // add a column, drop it, re-add the SAME name: under mapping the
    // old bytes are unreachable by id, so no resurrection tombstone
    wh.addColumns(ref, Seq(StructField("tag", StringType)))
    wh.append(ref, Seq((200L, 1.0, "x")).toDF("k", "price", "tag"))
    wh.dropColumns(ref, Seq("tag"))
    wh.addColumns(ref, Seq(StructField("tag", StringType)))
    assert(wh.read(ref).filter(col("k") === 200L).select("tag")
      .as[Option[String]].head() === None,
      "the re-added name must NOT resurrect the dropped column's bytes")
    // full overwrite reshapes: kept names keep ids, new columns mint
    wh.overwrite(ref, Seq((1L, 9.0, 7L)).toDF("k", "price", "n"))
    assert(wh.read(ref).as[(Long, Double, Long)].collect().toSeq ===
      Seq((1L, 9.0, 7L)))
    wh.renameColumn(ref, "n", "count")
    assert(wh.read(ref).select("count").as[Long].head() === 7L)
  }

  test("mapped table with CDF: merge/delete change files stay readable through .changes") {
    import spark.implicits._
    val root = tmpDir("wh-colmap-cdf")
    val wh = new Warehouse(spark, root)
    val cat = "graftcolmapcdf"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "m", "cdffeed")
    wh.createTable(ref, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    wh.enableColumnMapping(ref)
    wh.setChangeDataFeed(ref, enabled = true)
    wh.append(ref, (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v"))
    // a DELETE writes persisted change files; a mapped table's feed
    // must read them (the scan plans with the id-carrying committed
    // schema — the change files must resolve under it)
    wh.deleteWhere(ref, col("k") <= 3L)
    val v = wh.currentVersion(ref).get
    val feed = spark.sql(s"SELECT k, ${Warehouse.ChangeTypeCol} " +
      s"FROM $cat.silver.m.cdffeed.changes WHERE _commit_version = $v")
      .as[(Long, String)].collect().sorted
    assert(feed.toSeq === Seq((1L, "delete"), (2L, "delete"), (3L, "delete")),
      "the mapped table's change feed must surface the deleted rows")
    // merge-driven update pair too
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert(Seq((5L, 50.0)).toDF("k", "v"))
    val v2 = wh.currentVersion(ref).get
    val pair = spark.sql(s"SELECT k, v, ${Warehouse.ChangeTypeCol} " +
      s"FROM $cat.silver.m.cdffeed.changes WHERE _commit_version = $v2")
      .as[(Long, Double, String)].collect().sortBy(_._3)
    assert(pair.toSeq === Seq((5L, 50.0, "update_postimage"),
      (5L, 5.0, "update_preimage")),
      "a mapped merge's update pair must read back through the feed")
  }

  test("mapping composes: type widening, partitioned layout, restore below the enable point") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-colmap-compose"))
    // WIDENING × MAPPING: id matching and parquet type promotion stack
    val ref = TableRef("silver", "m", "widemap")
    wh.createTable(ref, StructType(Seq(
      StructField("k", IntegerType), StructField("v", FloatType))))
    wh.enableColumnMapping(ref)
    wh.append(ref, Seq((1, 1.5f), (2, 2.5f)).toDF("k", "v"))
    wh.widenColumnType(ref, "k", LongType)
    wh.widenColumnType(ref, "v", DoubleType)
    wh.renameColumn(ref, "k", "key") // metadata-only, id + wide type
    assert(wh.read(ref).orderBy("key").as[(Long, Double)].collect().toSeq
      === Seq((1L, 1.5), (2L, 2.5)),
      "narrow-file values must read under the new name AND wide types")
    wh.append(ref, Seq((10_000_000_000L, 9.0)).toDF("key", "v"))
    assert(wh.read(ref).count() === 3L)
    // PARTITIONED × MAPPING: dir-encoded partition values resolve by
    // name while data columns resolve by id through a rename
    val pref = TableRef("silver", "m", "partmap")
    wh.createTable(pref, StructType(Seq(
      StructField("seg", StringType), StructField("k", LongType),
      StructField("v", DoubleType))), partitionBy = Seq("seg"))
    wh.enableColumnMapping(pref)
    wh.append(pref, Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("seg", "k", "v"))
    wh.renameColumn(pref, "v", "price")
    assert(wh.read(pref).filter(col("seg") === "a")
      .select("k", "price").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0)))
    wh.append(pref, Seq(("a", 3L, 3.0)).toDF("seg", "k", "price"))
    assert(wh.read(pref).count() === 3L)
    // RESTORE below the enable point: schema loses its ids while the
    // mapping meta stays on — renames must stay safe (the metadata
    // path requires the field to CARRY its id) and re-enabling
    // re-assigns on the empty table
    val rref = TableRef("silver", "m", "restmap")
    wh.createTable(rref, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))) // v1
    wh.enableColumnMapping(rref)                                  // v2
    wh.append(rref, Seq((1L, 1.0)).toDF("k", "v"))                // v3
    wh.restore(rref, 1L)                                          // v4: id-less
    wh.renameColumn(rref, "v", "price") // must not orphan anything
    assert(wh.schemaOf(rref).fieldNames.toSeq === Seq("k", "price"))
    wh.enableColumnMapping(rref) // re-assigns ids (empty table)
    wh.append(rref, Seq((5L, 5.5)).toDF("k", "price"))
    wh.renameColumn(rref, "price", "cost") // metadata path again
    assert(wh.read(rref).as[(Long, Double)].collect().toSeq ===
      Seq((5L, 5.5)))
  }

  test("mapped tables stream and shallow-clone: renamed columns resolve by id everywhere") {
    import spark.implicits._
    val root = tmpDir("wh-colmap-stream")
    val wh = new Warehouse(spark, root)
    val cat = "graftcolmapstr"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "m", "streammap")
    wh.createTable(ref, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    wh.enableColumnMapping(ref)
    wh.append(ref, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    wh.renameColumn(ref, "v", "price")
    wh.append(ref, Seq((3L, 3.0)).toDF("k", "price"))
    // streaming source: both file eras replay under the new name
    val q = spark.readStream.table(s"$cat.silver.m.streammap")
      .writeStream.format("memory").queryName("colmap_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("colmap_stream").select("k", "price")
      .as[(Long, Double)].collect().sorted.toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      "the stream must surface pre-rename files under the new name")
    // shallow clone: foreign entries resolve the mapped source's files
    val dst = TableRef("silver", "m", "streamclone")
    wh.cloneTable(ref, dst, shallow = true)
    val got = spark.sql(s"SELECT k, price FROM $cat.silver.m.streamclone")
      .as[(Long, Double)].collect().sorted
    assert(got.toSeq === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      "a shallow clone of a mapped table must read its source by id")
  }

  test("declared stats/bloom/partition layout follows a mapped rename on a still-empty table") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-colmap-layout"))
    val ref = TableRef("silver", "m", "layoutmap")
    wh.createTable(ref, StructType(Seq(
      StructField("seg", StringType), StructField("k", LongType),
      StructField("v", DoubleType))),
      partitionBy = Seq("seg"),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    wh.enableColumnMapping(ref)
    // rename the declared stats/bloom column BEFORE any data lands:
    // the declared-layout meta must re-key, or the first append
    // filters the stale name out and never bootstraps stats/blooms
    // (pruning silently degrades). A declared PARTITION column rename
    // still refuses — the directory layout is the column.
    wh.renameColumn(ref, "k", "key")
    val e = intercept[IllegalArgumentException](
      wh.renameColumn(ref, "seg", "segment"))
    assert(e.getMessage.contains("partition column"))
    wh.append(ref, Seq(("a", 1L, 1.0), ("b", 200L, 2.0))
      .toDF("seg", "key", "v").repartition(2, col("key")))
    assert(wh.statColumns(ref) === Seq("key"),
      "the declared stats column must follow the mapped rename")
    val manifest = spark.read.parquet(s"${wh.path(ref)}/_graft_stats")
    assert(manifest.columns.contains("min_key") &&
      manifest.columns.contains("bloom_key"),
      "the first append must bootstrap stats AND blooms under the new name")
    assert(wh.read(ref).filter(col("key") === 200L)
      .select("v").as[Double].head() === 2.0)
  }

  test("refusal arms: non-empty enable, CDF rename, identity/default follow") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-colmap-refuse"))
    // enabling on a table with id-less data files refuses with the recipe
    val dirty = TableRef("silver", "m", "dirty")
    wh.overwrite(dirty, Seq((1L, "a")).toDF("k", "v"))
    val e1 = intercept[IllegalArgumentException](
      wh.enableColumnMapping(dirty))
    assert(e1.getMessage.contains("WITHOUT field ids"))
    // CDF + mapped rename refuses (committed change files carry the
    // old name); disable-feed recipe named
    val ref = TableRef("silver", "m", "cdfmap")
    wh.createTable(ref, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    wh.enableColumnMapping(ref)
    wh.setChangeDataFeed(ref, enabled = true)
    wh.append(ref, Seq((1L, 1.0)).toDF("k", "v"))
    val e2 = intercept[IllegalArgumentException](
      wh.renameColumn(ref, "v", "price"))
    assert(e2.getMessage.contains("change data feed"))
    wh.setChangeDataFeed(ref, enabled = false)
    wh.renameColumn(ref, "v", "price")
    assert(wh.read(ref).select("price").as[Double].head() === 1.0)
    // IDENTITY and DEFAULT declarations follow a mapped rename
    val iref = TableRef("silver", "m", "idmap")
    wh.createTable(iref, StructType(Seq(
      StructField("rid", LongType), StructField("k", LongType),
      StructField("ch", StringType))))
    wh.enableColumnMapping(iref)
    wh.setIdentityColumn(iref, "rid", start = 5L, step = 5L)
    wh.setColumnDefault(iref, "ch", "'web'")
    wh.append(iref, Seq(10L).toDF("k"))
    wh.renameColumn(iref, "rid", "row_id")
    wh.renameColumn(iref, "ch", "channel")
    assert(wh.identityColumns(iref).keySet === Set("row_id"))
    assert(wh.columnDefaults(iref) === Map("channel" -> "'web'"))
    wh.append(iref, Seq(20L).toDF("k"))
    assert(wh.read(iref).orderBy("k")
      .select("row_id", "channel").as[(Long, String)].collect().toSeq ===
      Seq((5L, "web"), (10L, "web")),
      "identity sequence and default must survive the mapped renames")
  }

  test("copy-on-write DELETE on a mapped table resolves a renamed column by id") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-colmap-delete"))
    val ref = TableRef("silver", "m", "mapped_delete")
    wh.createTable(ref, StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))),
      statsColumns = Seq("k"))
    wh.enableColumnMapping(ref)
    wh.append(ref, (1L to 20L).map(i => (i, i * 10)).toDF("k", "v")
      .repartitionByRange(2, col("k")))
    wh.renameColumn(ref, "v", "w")
    assert(!wh.dvEnabled(ref))
    // w = 10 is k = 1, which shares its file: a straddling rewrite
    assert(wh.deleteWhere(ref, col("w") === 10L) === 1L)
    val got = wh.read(ref)
    assert(got.columns.toSeq === Seq("k", "w"))
    assert(got.select("k", "w").as[(Long, Long)].collect().sortBy(_._1).toSeq
      === (2L to 20L).map(i => (i, i * 10)))
  }
}
