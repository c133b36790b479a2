package graft.catalog

import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.catalog.{Manifest => ManifestIO}

/** [[ManifestIO.writeLocalParquet]] — the driver-side manifest writer
  * must be read-back-equivalent to Spark's own executor parquet write:
  * same values, same inferred schema, across every type a stats
  * manifest can carry (strings, longs, doubles, dates, timestamps,
  * null cells, and bloom `array<long>` columns including null arrays).
  */
class ManifestIOSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("file", StringType),
    StructField("rows", LongType),
    StructField("min_k", LongType),
    StructField("max_k", LongType),
    StructField("min_p", DoubleType),
    StructField("max_p", DoubleType),
    StructField("min_s", StringType),
    StructField("max_s", StringType),
    StructField("min_d", DateType),
    StructField("max_d", DateType),
    StructField("min_t", TimestampType),
    StructField("max_t", TimestampType),
    StructField("ndv_k", LongType),
    StructField("nulls_k", LongType),
    StructField("bloom_k", ArrayType(LongType))))

  private val rows = Seq(
    Row("part-a.parquet", 10L, 1L, 9L, 0.5, 8.25, "alpha", "zeta",
      Date.valueOf("2024-02-29"), Date.valueOf("2026-08-19"),
      Timestamp.valueOf("2024-01-01 00:00:00.123456"),
      Timestamp.valueOf("2026-06-30 23:59:59.999999"),
      7L, 0L, Seq(1L, -9223372036854775808L, 42L)),
    Row("seg=x/part-b.parquet", 0L, null, null, null, null, null, null,
      null, null, null, null, 0L, 0L, null))

  test("driver-written manifest parquet reads back identical to a Spark-written one") {
    val base = tmpDir("manifest-io")
    val sparkDir = s"$base/spark"
    val localFile = new Path(s"$base/local/part-00000-local.parquet")
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    df.coalesce(1).write.parquet(sparkDir)
    ManifestIO.writeLocalParquet(spark, schema, rows, localFile)

    val viaSpark = spark.read.parquet(sparkDir)
    val viaLocal = spark.read.parquet(localFile.toString)
    assert(viaLocal.schema === viaSpark.schema,
      "read-back schema must match the executor write path")
    val key: Row => String = _.getString(0)
    val a = viaSpark.collect().sortBy(key).toSeq
    val b = viaLocal.collect().sortBy(key).toSeq
    assert(b === a, "read-back rows must match the executor write path")
  }

  test("a real commit's manifest (driver-written) keeps pruning and registry behavior") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val wh = new Warehouse(spark, tmpDir("wh-manifest-io"))
    val ref = TableRef("silver", "mio", "t")
    wh.overwrite(ref, (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "v")
      .repartitionByRange(4, col("k")),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    // pruning over the driver-written manifest: a point predicate must
    // plan fewer files than the table holds and return exact rows
    val Some((kept, excluded)) = wh.splitFilesByValue(ref, "k", 500L)
    assert(kept.size + excluded.size === 4)
    assert(excluded.nonEmpty, "bloom/minmax pruning must drop files")
    assert(wh.readPrunedEq(ref, "k", 500L)
      .filter(col("k") === 500L).count() === 1L)
    // appends extend the manifest through the driver part path
    wh.append(ref, Seq((2000L, 1.0)).toDF("k", "v"))
    assert(wh.read(ref).count() === 1001L)
    val Some((kept2, excluded2)) = wh.splitFilesByValue(ref, "k", 2000L)
    assert(kept2.size === 1 && excluded2.size === 4,
      s"expected 1 kept / 4 excluded, got ${kept2.size}/${excluded2.size}")
  }

  test("a bloom point lookup hashes its literal without a Spark job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val wh = new Warehouse(spark, tmpDir("wh-bloom-jobs"))
    val ref = TableRef("silver", "mio", "hashed")
    // hash-distributed keys: every file's [min, max] spans the table,
    // so only the blooms can exclude a file
    wh.overwrite(ref, (1L to 1000L).toDF("k").repartition(4, col("k")),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    val holder = new Path(wh.read(ref).filter(col("k") === 500L)
      .select(input_file_name()).as[String].head()).getName
    val expected = wh.dataFiles(ref).map(new Path(_).getName).toSet - holder
    wh.excludedByValue(ref, "k", 500L) // the manifest is cached from here on
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val excluded = try wh.excludedByValue(ref, "k", 500L) finally {
      org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(excluded === Some(expected))
    assert(jobs === 0, "hashing the lookup literal ran a Spark job")
  }
}
