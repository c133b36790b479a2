package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

import graft.SparkSpec

/** The deletion-vector format ([[DeletionVectors]]): per-file 64-bit
  * roaring bitmaps survive encode/decode, the sidecar file and the
  * map-side build unchanged, and a vectored file reads the same rows
  * through every read surface as its compacted (materialized) form.
  */
class DeletionVectorCodecSpec extends SparkSpec {

  private def bitmap(xs: Iterable[Long]): Roaring64NavigableMap = {
    val bm = new Roaring64NavigableMap()
    xs.foreach(bm.addLong)
    bm
  }

  test("codec round-trip: scattered, whole-file run, carried vector merged with new positions") {
    import spark.implicits._
    // scattered, with positions past 2^32 (row_index is a long)
    val scattered = bitmap((0L until 5000L by 7L) ++ Seq(5000000000L, (1L << 40) + 3))
    val run = new Roaring64NavigableMap()
    run.addRange(0L, 100000L)
    Seq(scattered, run, new Roaring64NavigableMap()).foreach { m =>
      assert(DeletionVectors.decode(DeletionVectors.encode(m)) === m)
    }
    assert(DeletionVectors.cardinality(run) === 100000L)

    val carried = bitmap(Seq(1L, 5L, 9L))
    val merged = DeletionVectors.union(Some(carried), bitmap(Seq(2L, 5L, 11L)))
    assert(merged === bitmap(Seq(1L, 2L, 5L, 9L, 11L)))
    assert(carried === bitmap(Seq(1L, 5L, 9L)), "union must not mutate its inputs")

    // the sidecar file holds each file's vector under its own name
    val wh = new Warehouse(spark, tmpDir("wh-dvcodec"))
    val table = new org.apache.hadoop.fs.Path(tmpDir("dvcodec-table"))
    val vectors = Map("p=a b/part-0.parquet" -> scattered, "part-1.parquet" -> run,
      "part-2.parquet" -> merged)
    DeletionVectors.write(wh.txnLog, new org.apache.hadoop.fs.Path(table, "_graft_dv/v00000003"),
      vectors)
    val dvMap = vectors.keys.map(_ -> "_graft_dv/v00000003").toMap
    assert(DeletionVectors.load(wh.txnLog, table, dvMap, vectors.keys) === vectors)
    assert(DeletionVectors.load(wh.txnLog, table, dvMap, Seq("part-1.parquet")) ===
      Map("part-1.parquet" -> run))

    // the map-side build ORs one file's positions across partitions
    val positions = ((0L until 300L).map(p => ("f1", p * 3)) ++
      (0L until 50L).map(p => ("f2", p))).toDF("file", "pos").repartition(4)
    assert(DeletionVectors.build(positions) === Map(
      "f1" -> bitmap((0L until 300L).map(_ * 3)), "f2" -> bitmap(0L until 50L)))
    assert(DeletionVectors.build(positions.limit(0)).isEmpty)
  }

  test("a DV'd file reads the rows of its compacted form through readFiles, readPruned, SQL and time travel") {
    import spark.implicits._
    val root = tmpDir("wh-dvcodec-reads")
    val wh = new Warehouse(spark, root)
    val cat = "graftdvcodec"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "dv", "codec")
    wh.overwrite(ref, (1L to 200L).map(i => (i, s"n$i")).toDF("k", "name")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      statsColumns = Seq("k"))
    wh.setDeletionVectors(ref, enabled = true)
    assert(wh.deleteWhere(ref, col("k") % 7 === 3) === 29L)
    // a second delete merges onto the carried vectors
    assert(wh.deleteWhere(ref, col("k") % 11 === 5) === 15L)
    val dvVersion = wh.currentVersion(ref).get
    assert(wh.snapshot(ref).get.dvMap.nonEmpty)
    def rows(df: DataFrame): Set[(Long, String)] =
      df.select("k", "name").as[(Long, String)].collect().toSet
    val viaFiles = rows(wh.readFiles(ref, wh.dataFiles(ref)))
    val viaPruned = rows(wh.readPruned(ref, "k", 40L, 120L)
      .filter(col("k").between(40L, 120L)))
    val viaSql = rows(spark.sql(s"SELECT k, name FROM $cat.silver.dv.codec"))

    assert(wh.compact(ref) > 0)
    assert(wh.snapshot(ref).get.dvMap.isEmpty, "compaction materializes the vectors")
    val compacted = rows(wh.read(ref))
    assert(compacted === (1L to 200L).filterNot(k => k % 7 == 3 || k % 11 == 5)
      .map(k => (k, s"n$k")).toSet)
    assert(viaFiles === compacted)
    assert(viaPruned === compacted.filter { case (k, _) => k >= 40L && k <= 120L })
    assert(viaSql === compacted)
    assert(rows(wh.readVersion(ref, dvVersion)) === compacted)
    assert(rows(spark.sql(
      s"SELECT k, name FROM $cat.silver.dv.codec VERSION AS OF $dvVersion")) === compacted)
  }

  test("a partition value that needs URI escaping keeps its vector") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-dvcodec-space"))
    val ref = TableRef("silver", "dv", "space")
    wh.overwrite(ref, (1L to 40L).map(i => (i, if (i <= 20) "x y%" else "z"))
      .toDF("k", "seg"), partitionBy = Seq("seg"), statsColumns = Seq("k"))
    wh.setDeletionVectors(ref, enabled = true)
    assert(wh.deleteWhere(ref, col("k") % 3 === 0) === 13L)
    val snap = wh.snapshot(ref).get
    assert(snap.dvMap.keySet.subsetOf(snap.files.toSet) &&
      snap.dvMap.keys.exists(_.startsWith("seg=x y")),
      s"vectors must map the log's file names: ${snap.dvMap.keys}")
    assert(wh.read(ref).select("k").as[Long].collect().toSet ===
      (1L to 40L).filterNot(_ % 3 == 0).toSet)
  }
}
