package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The commit log's one renderer and its parser are inverses, and the
  * write-audit-publish manifest — written by that renderer — names
  * exactly the files its stage wrote.
  */
class TxnLogSpec extends SparkSpec {

  private def dataFiles(table: Path): Set[String] =
    Files.walk(table).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !table.relativize(p).toString.startsWith("_graft"))
      .map(table.relativize(_).toString).toSet

  test("parse inverts render: a checkpoint and a delta with every line kind") {
    val schema = """{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}}]}"""
    val checkpoint = TxnLog.LogContent(schema,
      Seq("part-b.parquet", "d=1/part-a.parquet"),
      Map(TxnLog.OpMeta -> "OVERWRITE", TxnLog.TsMeta -> "1700000000000",
        "app.marker" -> "x=y"),
      Map("part-b.parquet" -> (10L, 11L), "d=1/part-a.parquet" -> (20L, 21L)),
      dvAdds = Map("part-b.parquet" -> "_graft_dv/v1-abc"))
    val delta = TxnLog.LogContent(schema, Seq("part-c.parquet"),
      Map(TxnLog.OpMeta -> "MERGE"), Map("part-c.parquet" -> (30L, 31L)),
      isDelta = true, baseVersion = Some(7L), retires = Seq("d=1/part-a.parquet"),
      dvAdds = Map("part-c.parquet" -> "_graft_dv/v8-def"),
      dvDrops = Seq("part-b.parquet"))
    Seq(checkpoint, delta).foreach { c =>
      assert(TxnLog.parse(TxnLog.render(c), "roundtrip") === c)
    }
    intercept[IllegalArgumentException](
      TxnLog.render(checkpoint.copy(fileMeta = Map.empty)))
  }

  test("committed version files re-render byte for byte") {
    import spark.implicits._
    val root = tmpDir("txn-bytes")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "bytes")
    wh.overwrite(ref, (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k"), statsColumns = Seq("k"))          // v1
    wh.setDeletionVectors(ref, enabled = true)                         // v2
    wh.deleteWhere(ref, $"k" === 3L)                                    // v3
    wh.append(ref, Seq((41L, "x")).toDF("k", "v"))                      // v4
    val logDir = Paths.get(s"$root/silver/g/bytes/_graft_log")
    val texts = (1 to 4).map(v =>
      new String(Files.readAllBytes(logDir.resolve(f"v$v%08d")), "UTF-8"))
    assert(texts.exists(_.contains("\ndv\t")) && texts.exists(_.contains("\nbase\t")),
      "the history must exercise checkpoint, delta and dv lines")
    texts.foreach(t => assert(TxnLog.render(TxnLog.parse(t, "v")) === t))
  }

  test("readStaged returns exactly the files and schema stageOverwrite staged") {
    import spark.implicits._
    val root = tmpDir("txn-wap")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "wap")
    wh.overwrite(ref, (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(2))
    val table = Paths.get(wh.path(ref))
    val before = dataFiles(table)
    val df = (100L to 130L).map(i => (i, s"s$i", i * 2.0)).toDF("k", "v", "w")
      .repartition(3)
    val id = wh.stageOverwrite(ref, df)
    val staged = dataFiles(table) -- before
    assert(staged.nonEmpty)
    val read = wh.readStaged(ref, id)
    assert(read.inputFiles.map(f => table.relativize(Paths.get(new java.net.URI(f)))
      .toString).toSet === staged)
    assert(read.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(read.count() === 31L)
    // the manifest records each staged file's on-disk (bytes, mtime)
    val manifest = TxnLog.parse(new String(Files.readAllBytes(
      table.resolve(s"_graft_log/staged-$id")), "UTF-8"), "staged")
    assert(manifest.files.toSet === staged && !manifest.isDelta)
    manifest.files.foreach { f =>
      val p = table.resolve(f)
      assert(manifest.fileMeta(f) ===
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
    }
  }
}
