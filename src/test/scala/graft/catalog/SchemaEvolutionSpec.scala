package graft.catalog

import graft.SparkSpec

/** Metadata-only ADD COLUMNS ([[Warehouse.addColumns]]): the schema
  * rides the snapshot, reads null-backfill by name across every
  * surface, time travel keeps the old shape, and later writes mix
  * valued and legacy files freely.
  */
class SchemaEvolutionSpec extends SparkSpec {

  test("addColumns widens metadata-only: null backfill, SQL parity, time travel, mixed files") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val root = tmpDir("wh-addcol")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "widened")
    wh.overwrite(ref, (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))  // v1
    val dataFilesBefore = wh.dataFiles(ref).toSet

    val v2 = wh.addColumns(ref, Seq(StructField("score", DoubleType)))  // v2
    assert(v2 === 2L)
    // ZERO data movement: the file set is bit-identical
    assert(wh.dataFiles(ref).toSet === dataFilesBefore)

    // Scala read: new column surfaces as null on every legacy row
    val read = wh.read(ref)
    assert(read.columns.toSeq === Seq("k", "v", "score"))
    assert(read.filter($"score".isNotNull).count() === 0L)

    // SQL read through the catalog agrees
    spark.conf.set("spark.sql.catalog.graftwide", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftwide.root", root)
    val sqlRead = spark.sql("SELECT k, v, score FROM graftwide.silver.g.widened")
    assert(sqlRead.count() === 10L)
    assert(sqlRead.filter("score IS NOT NULL").count() === 0L)

    // a write carrying values mixes with legacy files (SQL INSERT)    // v3
    spark.sql("INSERT INTO graftwide.silver.g.widened VALUES (11, 'v11', 2.5)")
    val mixed = spark.sql(
      "SELECT k, score FROM graftwide.silver.g.widened WHERE score IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mixed === Seq((11L, 2.5)))
    assert(wh.read(ref).count() === 11L)

    // time travel to the pre-widening version keeps the OLD schema
    assert(wh.readVersion(ref, 1L).columns.toSeq === Seq("k", "v"))

    // collisions refuse (case-insensitive, like Spark resolution)
    intercept[IllegalArgumentException] {
      wh.addColumns(ref, Seq(StructField("V", DoubleType)))
    }

    // the SQL lifecycle: CALL add_columns with DDL text              // v4
    val r = spark.sql(
      "CALL graftwide.system.add_columns('silver.g.widened', 'note STRING')")
      .head()
    assert(r.getString(1) === "note")
    assert(wh.read(ref).columns.toSeq === Seq("k", "v", "score", "note"))

    // the ledger names the widenings
    val ops = wh.history(ref).select("operation").as[String].collect().toSeq
    assert(ops.count(_ == "ADD_COLUMNS") === 2)
  }

  test("dropColumns narrows metadata-only; refusal arms hold") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField}
    val root = tmpDir("wh-dropcol")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "narrowed")
    wh.overwrite(ref,
      Seq((1L, "a", 10L, "eu"), (2L, "b", 20L, "us"))
        .toDF("k", "v", "n", "p"),
      partitionBy = Seq("p"))
    val filesBefore = wh.dataFiles(ref).toSet

    wh.dropColumns(ref, Seq("n"))
    assert(wh.dataFiles(ref).toSet === filesBefore, "zero data movement")
    assert(wh.read(ref).columns.toSeq === Seq("k", "v", "p"))
    // time travel below the narrow keeps the column
    assert(wh.readVersion(ref, 1L).columns.contains("n"))
    // SQL agrees
    spark.conf.set("spark.sql.catalog.graftnarrow", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftnarrow.root", root)
    assert(spark.sql("SELECT * FROM graftnarrow.silver.g.narrowed")
      .columns.toSeq === Seq("k", "v", "p"))
    // re-adding the dropped name is REFUSED: live files still carry
    // its bytes, and a declared-schema read would resurrect them (the
    // hazard Delta's column mapping exists for)
    val e = intercept[IllegalArgumentException] {
      wh.addColumns(ref, Seq(StructField("n", LongType)))
    }
    assert(e.getMessage.contains("previously dropped"))

    // refusals: partition column, constraint-referenced column
    intercept[IllegalArgumentException] { wh.dropColumns(ref, Seq("p")) }
    wh.setCheckConstraint(ref, "v_nonempty", "length(v) > 0")
    intercept[IllegalArgumentException] { wh.dropColumns(ref, Seq("v")) }
    wh.dropCheckConstraint(ref, "v_nonempty")

    // a full overwrite writes fresh files: the tombstone clears and the
    // name re-adds as genuinely all-null
    wh.overwrite(ref, wh.read(ref))
    wh.addColumns(ref, Seq(StructField("n", LongType)))
    assert(wh.read(ref).filter($"n".isNotNull).count() === 0L,
      "post-rewrite re-add must start all-null")

    // SQL lifecycle
    spark.sql("CALL graftnarrow.system.drop_columns('silver.g.narrowed', 'n')")
    assert(!wh.read(ref).columns.contains("n"))
  }

  test("merges after a widening demand the new column or evolveSchema") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField}
    val root = tmpDir("wh-addcol-merge")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "widened_m")
    wh.overwrite(ref, Seq((1L, "a")).toDF("k", "v"), statsColumns = Seq("k"))
    wh.addColumns(ref, Seq(StructField("n", LongType)))
    // an old-shape batch fails loudly (schema signature mismatch)
    intercept[Exception] {
      new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
        .upsert(Seq((2L, "b")).toDF("k", "v"))
    }
    // evolveSchema widens the batch and fills values
    new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None,
      evolveSchema = true)
      .upsert(Seq((2L, "b", 7L)).toDF("k", "v", "n"))
    assert(wh.read(ref).as[(Long, String, Option[Long])].collect().sorted
      === Seq((1L, "a", None), (2L, "b", Some(7L))))
  }

  test("ALTER COLUMN TYPE widens metadata-only; old files up-cast; wide appends land") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-widen"))
    val ref = TableRef("silver", "w", "widen")
    wh.overwrite(ref,
      (1 to 100).map(i => (i, i.toFloat / 2)).toDF("k", "q")
        .repartitionByRange(2, col("k")),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    val filesBefore = wh.dataFiles(ref).toSet
    wh.widenColumnType(ref, "k", LongType)
    wh.widenColumnType(ref, "q", DoubleType)
    assert(wh.dataFiles(ref).toSet === filesBefore,
      "widening is metadata-only — no file may move")
    assert(wh.schemaOf(ref)("k").dataType === LongType)
    assert(wh.schemaOf(ref)("q").dataType === DoubleType)
    // old narrow files read up-cast
    assert(wh.read(ref).filter(col("k") === 7L).select("q")
      .as[Double].head() === 3.5)
    // values only the wide type can hold append and read back
    wh.append(ref, Seq((10_000_000_000L, 9.75)).toDF("k", "q"))
    assert(wh.read(ref).filter(col("k") > Int.MaxValue.toLong)
      .as[(Long, Double)].collect().toSeq === Seq((10_000_000_000L, 9.75)))
    assert(wh.read(ref).count() === 101L)
    // stats manifest followed: the column still stat-prunes, and a
    // value PRESENT in an old narrow file is never excluded (the old
    // int-width blooms are nulled, not probed at the wrong width)
    assert(wh.statColumns(ref).contains("k"))
    val excl = wh.excludedByValues(ref, "k", Seq(7L)).get
    val holding = wh.dataFiles(ref).toSet -- excl
    assert(holding.nonEmpty, "some file must survive pruning for k=7")
    assert(wh.readPrunedEq(ref, "k", 7L).filter(col("k") === 7L)
      .count() === 1L,
      "bloom-backed point lookup must still find the row after widening")
    // time travel below the widening keeps the narrow schema
    assert(org.apache.spark.sql.types.DataType
      .fromJson(wh.snapshotAt(ref, 1L).schemaJson)
      .asInstanceOf[StructType]("k").dataType === IntegerType)
  }

  test("ALTER COLUMN TYPE refusal arms: narrowing, scale change, partition, generated") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-widen-refuse"))
    val ref = TableRef("silver", "w", "refuse")
    wh.overwrite(ref, Seq((1L, 1, "a")).toDF("k", "n", "p"))
    // narrowing refuses
    val e1 = intercept[IllegalArgumentException](
      wh.widenColumnType(ref, "k", IntegerType))
    assert(e1.getMessage.contains("not a sanctioned widening"))
    // same-type no-op refuses (not a change)
    intercept[IllegalArgumentException](
      wh.widenColumnType(ref, "k", LongType))
    // long→double refuses (loses precision past 2^53)
    intercept[IllegalArgumentException](
      wh.widenColumnType(ref, "k", DoubleType))
    // unknown column refuses naming the schema
    val e2 = intercept[IllegalArgumentException](
      wh.widenColumnType(ref, "zzz", LongType))
    assert(e2.getMessage.contains("no column"))
    // generated interplay: a column a generation reads refuses while
    // the generation is live, widens once it is dropped
    val gref = TableRef("silver", "w", "genref")
    wh.createTable(gref, StructType(Seq(
      StructField("n", IntegerType), StructField("n2", IntegerType))))
    wh.setGeneratedColumn(gref, "n2", "n * 2")
    val e3 = intercept[IllegalArgumentException](
      wh.widenColumnType(gref, "n", LongType))
    assert(e3.getMessage.contains("GENERATED"))
    wh.dropGeneratedColumn(gref, "n2")
    wh.widenColumnType(gref, "n", LongType)
    assert(wh.schemaOf(gref)("n").dataType === LongType)
    // SQL surface: ALTER COLUMN TYPE routes to the same entry point
    val cat = "graftwiden"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
    spark.sql(s"ALTER TABLE $cat.silver.w.refuse ALTER COLUMN n TYPE BIGINT")
    assert(wh.schemaOf(ref)("n").dataType === LongType)
    // SQL narrowing refuses too — Spark's analyzer rejects the
    // non-up-cast before the catalog is even reached; either loud
    // refusal leaves the schema untouched
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.silver.w.refuse ALTER COLUMN k TYPE INT"))
    assert(wh.schemaOf(ref)("k").dataType === LongType)
    // partition columns refuse
    val pref = TableRef("silver", "w", "prefuse")
    wh.overwrite(pref, Seq((1, 10L)).toDF("p", "x"),
      partitionBy = Seq("p"))
    val e4 = intercept[IllegalArgumentException](
      wh.widenColumnType(pref, "p", LongType))
    assert(e4.getMessage.contains("partition"))
    // decimal: precision growth at same scale widens; scale change refuses
    val dref = TableRef("silver", "w", "dec")
    wh.overwrite(dref, Seq(BigDecimal("123.45")).toDF("d")
      .select(col("d").cast(DecimalType(5, 2)).as("d")))
    wh.widenColumnType(dref, "d", DecimalType(12, 2))
    assert(wh.read(dref).select(col("d").cast("string"))
      .as[String].head() === "123.45")
    intercept[IllegalArgumentException](
      wh.widenColumnType(dref, "d", DecimalType(14, 4)))
  }

  test("ALTER COLUMN TYPE follows the committed layout: files outrank the declared one") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-widen-relayout"))
    val ref = TableRef("silver", "w", "relayout")
    wh.createTable(ref, StructType(Seq(
      StructField("p", IntegerType), StructField("x", LongType))),
      partitionBy = Seq("p"))
    // still fileless: the declared layout governs
    intercept[IllegalArgumentException](wh.widenColumnType(ref, "p", LongType))
    // a flat overwrite re-lays the table out; the declaration stays carried
    wh.overwrite(ref, Seq((1, 10L)).toDF("p", "x"))
    assert(wh.snapshot(ref).get.files.forall(!_.contains("p=")))
    wh.widenColumnType(ref, "p", LongType)
    assert(wh.schemaOf(ref)("p").dataType === LongType)
  }

  test("copy-on-write DELETE reads the declared schema: a metadata-only widened column in the predicate") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField}
    val wh = new Warehouse(spark, tmpDir("wh-evo-delete"))
    val ref = TableRef("silver", "evo", "delete_widened")
    wh.overwrite(ref, (1L to 20L).map(i => (i, i * 10)).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))
    wh.addColumns(ref, Seq(StructField("c", LongType)))
    assert(!wh.dvEnabled(ref))
    // k = 1 shares its file with k = 2..10: a straddling rewrite
    assert(wh.deleteWhere(ref, $"k" === 1L && $"c".isNull) === 1L)
    val got = wh.read(ref)
    assert(got.columns.toSeq === Seq("k", "v", "c"))
    assert(got.select("k").as[Long].collect().sorted.toSeq === (2L to 20L))
    assert(got.filter($"c".isNotNull).count() === 0L)
  }
}
