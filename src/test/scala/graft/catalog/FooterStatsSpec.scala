package graft.catalog

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Footer-derived stats manifests (FooterStats via footerOrScan) must
  * be VALUE-IDENTICAL to the scan-job manifests they replace: the
  * min/max/nulls/rows columns feed metadata-only query ANSWERS
  * (Warehouse.metadataAggregate → the q_sql_agg_meta gates), not just
  * pruning. The witness here compares, per file, the committed
  * manifest against a Spark aggregate over the same files — the exact
  * computation the scan path ran — across every supported type,
  * including the orderings that differ between naive implementations
  * (UTF-8 byte order vs UTF-16 code units for supplementary
  * characters), all-null files, partitioned layouts, and the
  * NDV/bloom/double fallbacks that must keep the scan job.
  */
class FooterStatsSpec extends SparkSpec {

  import spark.implicits._

  /** Per-file Spark-aggregated stats over the table's committed files —
    * the scan path's arithmetic, recomputed independently.
    */
  private def expectedPerFile(wh: Warehouse, ref: TableRef,
                              cols: Seq[String]): Map[String, Row] = {
    val base = wh.path(ref).stripSuffix("/")
    val aggs = Seq(count(lit(1)).cast("long").as("rows")) ++ cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        (count(lit(1)) - count(col(c))).as(s"nulls_$c")))
    spark.read.option("basePath", wh.path(ref))
      .parquet(wh.dataFiles(ref): _*) // absolute paths
      .withColumn("__f", input_file_name())
      .groupBy("__f").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0).replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
        .stripPrefix(base + "/") -> r)
      .toMap
  }

  private def manifestRows(wh: Warehouse, ref: TableRef): Seq[Row] = {
    val dir = new org.apache.hadoop.fs.Path(wh.path(ref), "_graft_stats")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(dir).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    // read the BYTES ON DISK (not the seeded cache): this also proves
    // the driver-written parquet round-trips the footer-derived values
    spark.read.parquet(parts.toIndexedSeq: _*).collect().toIndexedSeq
  }

  private def checkManifestMatchesScan(wh: Warehouse, ref: TableRef,
                                       cols: Seq[String]): Unit = {
    val expected = expectedPerFile(wh, ref, cols)
    val got = manifestRows(wh, ref)
    assert(got.map(_.getAs[String]("file")).sorted ===
      expected.keys.toSeq.sorted, s"manifest file keys for $ref")
    got.foreach { m =>
      val e = expected(m.getAs[String]("file"))
      assert(m.getAs[Long]("rows") === e.getAs[Long]("rows"))
      cols.foreach { c =>
        assert(m.getAs[Any](s"min_$c") === e.getAs[Any](s"min_$c"),
          s"min_$c for ${m.getAs[String]("file")}")
        assert(m.getAs[Any](s"max_$c") === e.getAs[Any](s"max_$c"),
          s"max_$c for ${m.getAs[String]("file")}")
        assert(m.getAs[Long](s"nulls_$c") === e.getAs[Long](s"nulls_$c"),
          s"nulls_$c for ${m.getAs[String]("file")}")
      }
    }
  }

  private def mixedDf: DataFrame = {
    val rows = (1 to 40).map { i =>
      (i.toLong * 7 % 39, i,
        // supplementary char (U+1F600, 4-byte UTF-8) vs U+FFFF (3-byte):
        // UTF-8/unsigned-byte order puts the emoji LAST; UTF-16
        // code-unit order would not — a naive String.compareTo merge
        // would flip this max
        if (i == 13) "￿" else if (i == 29) "😀"
        else if (i == 7) "" else s"s${i % 11}",
        if (i % 5 == 0) null else s"n${i % 7}",
        Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i * 11 % 300)),
        new Timestamp(1700000000000L + i * 987654321L % 100000000L),
        i % 3 == 0)
    }
    rows.toDF("k", "i", "s", "sn", "d", "t", "b")
      .withColumn("allnull", lit(null).cast("string"))
  }

  // "t" sits out: Spark's default parquet timestamp encoding is INT96,
  // whose footer statistics are deprecated — timestamp stats columns
  // correctly keep the scan job (asserted below), so including one here
  // would turn the whole commit back into a scan
  private val mixedCols = Seq("k", "i", "s", "sn", "d", "b", "allnull")

  test("footer-derived manifest values equal the scan aggregate, all types") {
    val wh = new Warehouse(spark, tmpDir("wh-footer"))
    val ref = TableRef("silver", "fs", "mixed")
    wh.overwrite(ref, mixedDf.repartition(3), statsColumns = mixedCols)
    val got = manifestRows(wh, ref)
    // the footer path fired: ndv columns exist but are all-NULL
    assert(got.nonEmpty && got.forall(r => mixedCols.forall(c =>
      r.isNullAt(r.fieldIndex(s"ndv_$c")))),
      "expected the footer (ndv-less) derivation for an undeclared table")
    checkManifestMatchesScan(wh, ref, mixedCols)
    // rows still register (the registry needs no ndv for its row sum)
    assert(TableStatsRegistry.get(wh.path(ref)).exists(_.rows === 40L))
    assert(TableStatsRegistry.get(wh.path(ref)).exists(_.ndv.isEmpty))
  }

  test("metadata-only aggregates answer identically off a footer manifest") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-meta"))
    val ref = TableRef("silver", "fs", "meta")
    wh.overwrite(ref, mixedDf.repartition(3), statsColumns = mixedCols)
    // metadataAggregate keys on snapshot REL paths (the manifest's space)
    val base = wh.path(ref).stripSuffix("/")
    val files = wh.dataFiles(ref).map(
      _.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/").stripPrefix(base + "/"))
    import Warehouse.{ColCount, ColMax, ColMin, RowCount}
    val got = wh.metadataAggregate(ref, files,
      Seq(RowCount, ColMin("k"), ColMax("k"), ColMin("s"), ColMax("s"),
        ColCount("sn"), ColMin("d"), ColMax("d"))).get
    val e = wh.read(ref).agg(count(lit(1)), min($"k"), max($"k"),
      min($"s"), max($"s"), count($"sn"), min($"d"), max($"d")).head()
    assert(got === e.toSeq)
  }

  test("partitioned overwrite keys footer stats by partition-relative path") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-part"))
    val ref = TableRef("silver", "fs", "part")
    wh.overwrite(ref, mixedDf.withColumn("seg", $"k" % 3),
      partitionBy = Seq("seg"), statsColumns = Seq("k", "s"))
    val got = manifestRows(wh, ref)
    assert(got.forall(_.getAs[String]("file").startsWith("seg=")))
    assert(got.forall(r => r.isNullAt(r.fieldIndex("ndv_k"))))
    checkManifestMatchesScan(wh, ref, Seq("k", "s"))
  }

  test("appends extend a footer manifest and stay value-exact") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-append"))
    val ref = TableRef("silver", "fs", "appended")
    wh.overwrite(ref, mixedDf.repartition(2), statsColumns = Seq("k", "s", "d"))
    wh.append(ref, mixedDf.withColumn("k", $"k" + 100L).repartition(2))
    checkManifestMatchesScan(wh, ref, Seq("k", "s", "d"))
    assert(TableStatsRegistry.get(wh.path(ref)).exists(_.rows === 80L))
  }

  test("double stats columns fall back to the scan job (NaN unprovable)") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-dbl"))
    val ref = TableRef("silver", "fs", "dbl")
    val df = (1 to 30).map(i => (i.toLong, i * 0.25)).toDF("k", "p")
    wh.overwrite(ref, df.repartition(2), statsColumns = Seq("k", "p"))
    val got = manifestRows(wh, ref)
    // scan path ⇒ per-file ndv present
    assert(got.forall(r => !r.isNullAt(r.fieldIndex("ndv_p"))),
      "a double stats column must keep the scan derivation")
    checkManifestMatchesScan(wh, ref, Seq("k", "p"))
  }

  test("INT96 timestamp stats columns fall back to the scan job") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-ts"))
    val ref = TableRef("silver", "fs", "ts")
    val df = (1 to 30).map(i =>
      (i.toLong, new Timestamp(1700000000000L + i * 7777777L))).toDF("k", "t")
    wh.overwrite(ref, df.repartition(2), statsColumns = Seq("k", "t"))
    val got = manifestRows(wh, ref)
    assert(got.forall(r => !r.isNullAt(r.fieldIndex("ndv_t"))),
      "an INT96 timestamp stats column must keep the scan derivation")
    checkManifestMatchesScan(wh, ref, Seq("k", "t"))
  }

  test("declared ndvColumns keep the scan job, carried across commits") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-ndv"))
    val ref = TableRef("silver", "fs", "ndv")
    val df = (1 to 50).map(i => (i.toLong, s"v${i % 9}")).toDF("k", "s")
    wh.overwrite(ref, df.repartition(2), statsColumns = Seq("k", "s"),
      ndvColumns = Seq("k"))
    assert(manifestRows(wh, ref).forall(r => !r.isNullAt(r.fieldIndex("ndv_k"))))
    assert(TableStatsRegistry.get(wh.path(ref)).exists(_.ndv.contains("k")))
    // a later plain append keeps collecting (declaration is carried meta)
    wh.append(ref, df.withColumn("k", $"k" + 100L).repartition(2))
    assert(manifestRows(wh, ref).forall(r => !r.isNullAt(r.fieldIndex("ndv_k"))),
      "ndv declaration must survive into later commits via carried meta")
    assert(TableStatsRegistry.get(wh.path(ref))
      .exists(st => st.rows === 100L && st.ndv.contains("k")))
    checkManifestMatchesScan(wh, ref, Seq("k", "s"))
  }

  test("bloom tables keep the scan job and their word arrays") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-bloom"))
    val ref = TableRef("silver", "fs", "bloom")
    val df = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    wh.overwrite(ref, df.repartition(2), statsColumns = Seq("k"),
      bloomColumns = Seq("k"))
    val got = manifestRows(wh, ref)
    assert(got.forall(r => !r.isNullAt(r.fieldIndex("bloom_k")) &&
      !r.isNullAt(r.fieldIndex("ndv_k"))))
    // bloom pruning still proves on both sides of a point lookup
    val (kept, dropped) = wh.splitFilesByValue(ref, "k", 7L).get
    assert(kept.nonEmpty && (kept.size + dropped.size) === wh.dataFiles(ref).size)
  }

  test("scan-built manifest keys are the log's paths under escaped partition values") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-escaped"))
    val ref = TableRef("silver", "fs", "escaped")
    // a bloom column forces the scan path, whose input_file_name() URI
    // percent-encodes the space; '+' stays literal (url_decode would
    // turn it into a space)
    val df = (1 to 30).map(i => (i.toLong, Seq("x y", "z", "a+b")(i % 3)))
      .toDF("k", "seg")
    wh.overwrite(ref, df, partitionBy = Seq("seg"), statsColumns = Seq("k"),
      bloomColumns = Seq("k"))
    val files = wh.snapshot(ref).get.files
    assert(files.exists(_.startsWith("seg=x y/")))
    assert(wh.fileRowCounts(ref).keySet === files.toSet)
    assert(wh.metadataAggregate(ref, files, Seq(Warehouse.RowCount))
      .contains(Seq(30L)))
  }

  test("all-null files and mid-commit schema gaps stay conservative") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-nulls"))
    val ref = TableRef("silver", "fs", "nulls")
    val df = (1 to 20).map(i => (i.toLong, Option.empty[String])).toDF("k", "s")
    wh.overwrite(ref, df.repartition(2), statsColumns = Seq("k", "s"))
    val got = manifestRows(wh, ref)
    got.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("min_s")) && r.isNullAt(r.fieldIndex("max_s")))
      assert(r.getAs[Long]("nulls_s") === r.getAs[Long]("rows"))
    }
    checkManifestMatchesScan(wh, ref, Seq("k", "s"))
  }

  test("multi-row-group files merge per-group statistics exactly") {
    // gate-scale files hold ONE row group, so the per-file reduce over
    // group statistics (parquet's typed comparators) otherwise never
    // runs — force tiny row groups and prove the merged extrema still
    // match the scan aggregate, strings included
    val wh = new Warehouse(spark, tmpDir("wh-footer-rg"))
    val ref = TableRef("silver", "fs", "rowgroups")
    val prev = spark.conf.getOption("spark.hadoop.parquet.block.size")
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 1024)
    try {
      val df = (1 to 20000).map(i =>
        ((i.toLong * 48271) % 99991,
          if (i == 777) "￿" else if (i == 1234) "😀" else s"s${i % 797}"))
        .toDF("k", "s")
      wh.overwrite(ref, df.repartition(2), statsColumns = Seq("k", "s"))
      // witness that the multi-group path actually ran
      val conf = spark.sparkContext.hadoopConfiguration
      val groups = wh.dataFiles(ref).map { p =>
        org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
          new org.apache.hadoop.fs.Path(p),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          .getBlocks.size()
      }
      assert(groups.forall(_ > 1), s"row groups per file: $groups — the " +
        "merge path was not exercised; shrink parquet.block.size further")
      val got = manifestRows(wh, ref)
      assert(got.forall(r => r.isNullAt(r.fieldIndex("ndv_k"))),
        "expected the footer derivation")
      checkManifestMatchesScan(wh, ref, Seq("k", "s"))
    } finally {
      spark.sparkContext.hadoopConfiguration.unset("parquet.block.size")
      prev.foreach(v => spark.sparkContext.hadoopConfiguration
        .set("parquet.block.size", v))
    }
  }

  test("range pruning stays correct over footer-derived manifests") {
    val wh = new Warehouse(spark, tmpDir("wh-footer-prune"))
    val ref = TableRef("silver", "fs", "pruned")
    val df = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    wh.overwrite(ref, df.repartitionByRange(4, $"k"), statsColumns = Seq("k"))
    val (kept, dropped) = wh.splitFilesByRange(ref, "k", 10L, 20L).get
    assert(dropped.nonEmpty, "clustered files must prune")
    assert(wh.readPruned(ref, "k", 10L, 20L).filter($"k".between(10, 20)).count()
      === 11L)
  }
}
