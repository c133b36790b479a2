package graft.catalog

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** One timestamp-literal grammar for every option and argument that
  * names a commit instant: epoch millis, an ISO-8601 instant,
  * `yyyy-MM-dd HH:mm:ss[.SSS]` in UTC, and a bare date at UTC
  * midnight — accepted alike by the row stream's and the change feed's
  * `startingTimestamp` and by `CALL ... restore(timestamp => ...)`.
  */
class TimestampLiteralSpec extends SparkSpec {

  import spark.implicits._

  private def fixture(table: String): (Warehouse, TableRef, String) = {
    val root = tmpDir(s"wh-tslit-$table")
    val cat = s"grafttslit_$table"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", table)
    wh.overwrite(ref, (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))  // v1
    wh.append(ref, (11L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))    // v2
    (wh, ref, cat)
  }

  /** Every key a `startingTimestamp = '2000-01-01'` stream emits: the
    * date is UTC midnight, long before v1, so the stream starts at v1.
    */
  private def keysFromBareDate(source: String): Seq[Long] = {
    val out = tmpDir("tslit-out")
    spark.readStream.option("startingTimestamp", "2000-01-01")
      .table(source).select("k")
      .writeStream
      .option("checkpointLocation", tmpDir("tslit-ckpt"))
      .format("parquet").option("path", out)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(out).as[Long].collect().sorted.toSeq
  }

  test("a bare-date startingTimestamp starts the row stream at UTC midnight") {
    val (_, _, cat) = fixture("rows")
    assert(keysFromBareDate(s"$cat.silver.g.rows") === (1L to 20L))
  }

  test("a bare-date startingTimestamp starts the change-feed stream at UTC midnight") {
    val (_, _, cat) = fixture("feed")
    assert(keysFromBareDate(s"$cat.silver.g.feed.changes") === (1L to 20L))
  }

  test("CALL restore takes an epoch-millis timestamp") {
    val (wh, ref, cat) = fixture("restored")
    val v1ts = wh.commitMeta(ref, 1L)(Warehouse.TsMeta)
    val row = spark.sql(
      s"CALL $cat.system.restore('silver.g.restored', timestamp => '$v1ts')")
      .head()
    assert(row.getAs[Long]("restored_version") === 1L)
    assert(wh.read(ref).count() === 10L)
  }
}
