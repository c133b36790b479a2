package graft.catalog

import graft.SparkSpec

/** SQL DDL through the commit protocol ([[GraftCatalog.createTable]] /
  * `dropTable` — round-15 verdict, next #3): CREATE TABLE commits an
  * empty version 1 carrying schema + declared layout, CTAS appends the
  * query result through the same `SupportsWrite` every INSERT uses,
  * and the declared partitioning / stats columns route the first
  * write exactly as an overwrite-created table's committed layout
  * would.
  */
class SqlDdlSpec extends SparkSpec {

  private def catalogFor(root: String, nick: String): String = {
    val cat = s"graftddl$nick"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  test("CREATE TABLE commits an empty v1; INSERT INTO appends into it") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-create")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c1")
    spark.sql(s"CREATE TABLE $cat.silver.g.fresh (k BIGINT, v STRING)")
    val ref = TableRef("silver", "g", "fresh")
    assert(wh.currentVersion(ref).contains(1L))
    assert(wh.history(ref).select("operation").as[String].collect().toSeq
      === Seq("CREATE_TABLE"))
    // readable immediately: zero rows in the declared shape, both APIs
    assert(wh.read(ref).columns.toSeq === Seq("k", "v"))
    assert(wh.read(ref).count() === 0L)
    assert(spark.sql(s"SELECT * FROM $cat.silver.g.fresh").count() === 0L)

    spark.sql(s"INSERT INTO $cat.silver.g.fresh VALUES (1, 'a'), (2, 'b')")
    assert(wh.currentVersion(ref).contains(2L))
    assert(spark.sql(s"SELECT k, v FROM $cat.silver.g.fresh ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))

    // double-create refuses; IF NOT EXISTS is quiet
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.silver.g.fresh (k BIGINT)")
    }
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.silver.g.fresh (k BIGINT)")
    assert(wh.read(ref).count() === 2L)
  }

  test("declared PARTITIONED BY and stats TBLPROPERTIES route the first write") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-layout")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c2")
    spark.sql(
      s"""CREATE TABLE $cat.silver.g.laid (k BIGINT, price DOUBLE, seg STRING)
         |PARTITIONED BY (seg)
         |TBLPROPERTIES ('graft.stats_columns' = 'k')""".stripMargin)
    val ref = TableRef("silver", "g", "laid")
    spark.sql(
      s"""INSERT INTO $cat.silver.g.laid
         |SELECT id AS k, id * 1.5 AS price,
         |       concat('g', id % 2) AS seg FROM range(10)""".stripMargin)
    // the insert landed INSIDE partition directories (the declared
    // meta routed partitionBy with no committed files to derive from)
    val files = wh.dataFiles(ref)
    assert(files.nonEmpty && files.forall(_.contains("seg=g")),
      s"expected seg= partition dirs, got $files")
    // the stats manifest bootstrapped from the declared property
    assert(wh.statColumns(ref) === Seq("k"))
    // and actually prunes
    assert(wh.excludedByBounds(ref, "k", Some(100L), None)
      .exists(_.nonEmpty), "declared stats must exclude out-of-range files")
    // reads agree across APIs, partition values intact
    assert(spark.sql(
        s"SELECT k, seg FROM $cat.silver.g.laid WHERE seg = 'g1' ORDER BY k")
      .as[(Long, String)].collect().toSeq
      === Seq(1L, 3L, 5L, 7L, 9L).map(k => (k, "g1")))
    assert(wh.read(ref).filter($"seg" === "g1").count() === 5L)
    // partition column still undroppable while the table is partitioned
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.laid DROP COLUMN seg")
    }
    // the table REPORTS its layout (DESCRIBE fidelity): identity
    // transform over seg, from the declared meta pre-insert and the
    // directory layout post-insert alike
    val desc = spark.sql(s"DESCRIBE TABLE $cat.silver.g.laid")
      .collect().map(_.getString(0))
    assert(desc.contains("# Partition Information") &&
      desc.count(_ == "seg") == 2, s"DESCRIBE must list the layout: ${desc.toSeq}")
  }

  test("CTAS: create + append through the protocol, flat and partitioned") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-ctas")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c3")
    spark.range(20).select($"id".as("k"), ($"id" % 3).as("g"))
      .createOrReplaceTempView("ctas_src")

    spark.sql(s"CREATE TABLE $cat.silver.g.flat AS SELECT * FROM ctas_src")
    val flat = TableRef("silver", "g", "flat")
    assert(wh.history(flat).select("version", "operation")
      .as[(Long, String)].collect().toSeq.sorted
      === Seq((1L, "CREATE_TABLE"), (2L, "APPEND")))
    assert(spark.sql(s"SELECT * FROM $cat.silver.g.flat").count() === 20L)
    assert(wh.read(flat).agg(org.apache.spark.sql.functions.sum("k"))
      .as[Long].head() === 190L)

    spark.sql(
      s"""CREATE TABLE $cat.silver.g.parted PARTITIONED BY (g)
         |AS SELECT k, concat('g', g) AS g FROM ctas_src""".stripMargin)
    val parted = TableRef("silver", "g", "parted")
    val files = wh.dataFiles(parted)
    assert(files.nonEmpty && files.forall(_.contains("g=g")),
      s"CTAS PARTITIONED BY must land partition dirs, got $files")
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.silver.g.parted WHERE g = 'g0'")
      .as[Long].head() === 7L)
  }

  test("DROP TABLE removes the table; IF EXISTS is quiet") {
    val root = tmpDir("wh-ddl-drop")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c4")
    spark.sql(s"CREATE TABLE $cat.silver.g.doomed AS SELECT 1 AS k")
    val ref = TableRef("silver", "g", "doomed")
    assert(wh.snapshot(ref).nonEmpty)
    spark.sql(s"DROP TABLE $cat.silver.g.doomed")
    assert(wh.snapshot(ref).isEmpty && !wh.exists(ref))
    spark.sql(s"DROP TABLE IF EXISTS $cat.silver.g.doomed") // quiet
    intercept[Exception] { spark.sql(s"DROP TABLE $cat.silver.g.doomed") }
  }

  test("refusals: LOCATION, non-identity transforms, bucket transforms") {
    val root = tmpDir("wh-ddl-refuse")
    val cat = catalogFor(root, "c5")
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.silver.g.loc (k INT) LOCATION '/tmp/elsewhere'")
    }
    assert(Iterator.iterate(e1: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("location"))))
    val e2 = intercept[Exception] {
      spark.sql(
        s"CREATE TABLE $cat.silver.g.bkt (k INT) PARTITIONED BY (bucket(4, k))")
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("unsupported transform"))))
  }

  test("SQL ALTER TABLE ADD/DROP COLUMNS maps to the metadata-only evolution") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-alter")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c6")
    spark.sql(
      s"CREATE TABLE $cat.silver.g.alt AS SELECT id AS k, 'v' AS v FROM range(5)")
    val ref = TableRef("silver", "g", "alt")
    val filesBefore = wh.dataFiles(ref).toSet

    spark.sql(s"ALTER TABLE $cat.silver.g.alt ADD COLUMNS (score DOUBLE)")
    assert(wh.dataFiles(ref).toSet === filesBefore, "zero data movement")
    assert(wh.read(ref).columns.toSeq === Seq("k", "v", "score"))
    assert(spark.sql(s"SELECT * FROM $cat.silver.g.alt")
      .filter("score IS NOT NULL").count() === 0L, "null backfill")

    spark.sql(s"ALTER TABLE $cat.silver.g.alt DROP COLUMN score")
    assert(wh.read(ref).columns.toSeq === Seq("k", "v"))
    // resurrection guard fires THROUGH SQL: same entry point as Scala
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.alt ADD COLUMNS (score DOUBLE)")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("previously dropped"))))
    // NOT NULL adds and positioned adds refuse (metadata-only widening)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.alt ADD COLUMNS (m BIGINT NOT NULL)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.alt ADD COLUMNS (m BIGINT FIRST)")
    }
    // IF EXISTS drop of a missing column is quiet; plain drop refuses
    spark.sql(s"ALTER TABLE $cat.silver.g.alt DROP COLUMN IF EXISTS ghost")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.alt DROP COLUMN ghost")
    }
    // the ledger names the evolutions
    assert(wh.history(ref).select("operation").as[String].collect()
      .count(Set("ADD_COLUMNS", "DROP_COLUMNS")) === 2)
  }

  test("SET/UNSET TBLPROPERTIES govern CHECK constraints and the CDF toggle") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-props")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c7")
    spark.sql(
      s"CREATE TABLE $cat.silver.g.gov AS SELECT id AS k, id * 1.0 AS price FROM range(1, 5)")
    val ref = TableRef("silver", "g", "gov")

    // SET a CHECK constraint through SQL: same entry point as Scala —
    // validated against existing rows, enforced on the next write
    spark.sql(s"ALTER TABLE $cat.silver.g.gov SET TBLPROPERTIES " +
      "('graft.check.pricepos' = 'price > 0')")
    assert(wh.checkConstraints(ref) === Map("pricepos" -> "price > 0"))
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.silver.g.gov VALUES (99, -1.0)")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("pricepos"))))
    // a constraint the current rows violate is refused at SET time
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.gov SET TBLPROPERTIES " +
        "('graft.check.impossible' = 'price > 100')")
    }
    assert(!wh.checkConstraints(ref).contains("impossible"))

    // UNSET drops it; the write then lands
    spark.sql(
      s"ALTER TABLE $cat.silver.g.gov UNSET TBLPROPERTIES ('graft.check.pricepos')")
    assert(wh.checkConstraints(ref).isEmpty)
    spark.sql(s"INSERT INTO $cat.silver.g.gov VALUES (99, -1.0)")
    assert(wh.read(ref).count() === 5L)

    // the CDF toggle rides the same verb
    spark.sql(
      s"ALTER TABLE $cat.silver.g.gov SET TBLPROPERTIES ('graft.cdf' = 'true')")
    assert(wh.cdfEnabled(ref))
    spark.sql(
      s"ALTER TABLE $cat.silver.g.gov UNSET TBLPROPERTIES ('graft.cdf')")
    assert(!wh.cdfEnabled(ref))

    // ungoverned keys refuse loudly rather than carrying silently
    intercept[Exception] {
      spark.sql(
        s"ALTER TABLE $cat.silver.g.gov SET TBLPROPERTIES ('owner' = 'me')")
    }

    // every governed key, through CREATE TBLPROPERTIES, SET and UNSET
    def chain(e: Throwable): Seq[String] = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).toSeq.flatMap(c => Option(c.getMessage))
    def refuses(sql: String, says: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(chain(e).exists(_.contains(says)), s"$sql: ${chain(e)}")
    }
    val cols = "(k BIGINT, rid BIGINT, price DOUBLE, ch STRING, g BIGINT)"
    spark.sql(s"CREATE TABLE $cat.silver.g.every $cols TBLPROPERTIES (" +
      "'graft.stats_columns' = 'k', 'graft.bloom_columns' = 'k', " +
      "'graft.cdf' = 'true', 'graft.dv' = 'true', " +
      "'graft.columnmapping' = 'id', 'graft.check.pos' = 'price > 0', " +
      "'graft.generated.g' = 'k * 2', 'graft.default.ch' = \"'web'\", " +
      "'graft.identity.rid' = '5,5')")
    val every = TableRef("silver", "g", "every")
    def declared(t: TableRef) = (wh.checkConstraints(t), wh.generatedColumns(t),
      wh.columnDefaults(t), wh.identityColumns(t), wh.cdfEnabled(t),
      wh.dvEnabled(t), wh.columnMappingEnabled(t))
    val all = (Map("pos" -> "price > 0"), Map("g" -> "k * 2"),
      Map("ch" -> "'web'"), Map("rid" -> ((5L, 5L))), true, true, true)
    assert(declared(every) === all)
    val meta = wh.commitMeta(every, wh.currentVersion(every).get)
    assert(meta.get("graft.stats_columns").contains("k") &&
      meta.get("graft.bloom_columns").contains("k"))
    refuses(s"CREATE TABLE $cat.silver.g.badmode (k BIGINT) " +
      "TBLPROPERTIES ('graft.columnmapping' = 'name')", "supports mode 'id'")
    refuses(s"CREATE TABLE $cat.silver.g.badflag (k BIGINT) " +
      "TBLPROPERTIES ('graft.cdf' = 'yes')", "takes true/false")
    refuses(s"CREATE TABLE $cat.silver.g.badid (rid BIGINT) " +
      "TBLPROPERTIES ('graft.identity.rid' = '1,2,3')", "graft.identity.rid")
    // SET, one key per statement: the same declarations on a bare table
    spark.sql(s"CREATE TABLE $cat.silver.g.later $cols")
    val later = TableRef("silver", "g", "later")
    Seq("'graft.columnmapping' = 'id'", "'graft.check.pos' = 'price > 0'",
      "'graft.generated.g' = 'k * 2'", "'graft.default.ch' = \"'web'\"",
      "'graft.identity.rid' = '5,5'", "'graft.cdf' = 'true'",
      "'graft.dv' = 'true'").foreach(p =>
      spark.sql(s"ALTER TABLE $cat.silver.g.later SET TBLPROPERTIES ($p)"))
    assert(declared(later) === all)
    for (p <- Seq("'graft.stats_columns' = 'k'", "'graft.bloom_columns' = 'k'",
                  "'my.custom.key' = 'x'"))
      refuses(s"ALTER TABLE $cat.silver.g.later SET TBLPROPERTIES ($p)",
        p.takeWhile(_ != '=').trim.stripPrefix("'").stripSuffix("'"))
    refuses(s"ALTER TABLE $cat.silver.g.later SET TBLPROPERTIES " +
      "('graft.identity.ch' = '1,x')", "graft.identity.ch")
    refuses(s"ALTER TABLE $cat.silver.g.later SET TBLPROPERTIES " +
      "('graft.dv' = 'on')", "takes true/false")
    // UNSET drops every declaration and turns the toggles off; column
    // mapping and ungoverned keys refuse
    Seq("graft.check.pos", "graft.generated.g", "graft.default.ch",
      "graft.identity.rid", "graft.cdf", "graft.dv").foreach(k =>
      spark.sql(s"ALTER TABLE $cat.silver.g.every UNSET TBLPROPERTIES ('$k')"))
    assert(declared(every) ===
      ((Map.empty, Map.empty, Map.empty, Map.empty, false, false, true)))
    refuses(s"ALTER TABLE $cat.silver.g.every UNSET TBLPROPERTIES " +
      "('graft.columnmapping')", "cannot be unset")
    refuses(s"ALTER TABLE $cat.silver.g.every UNSET TBLPROPERTIES " +
      "('graft.stats_columns')", "graft.stats_columns")
    assert(wh.columnMappingEnabled(every))
  }

  test("CREATE TABLE TBLPROPERTIES: governed keys route at create time, ungoverned refuse") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-createprops")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c9")
    // graft.cdf and graft.check.* at CREATE time are LIVE, not dropped:
    // the very first INSERT is gated and change-tracked
    spark.sql(s"CREATE TABLE $cat.silver.g.gated (k BIGINT, price DOUBLE) " +
      "TBLPROPERTIES ('graft.cdf' = 'true', 'graft.check.pricepos' = 'price > 0')")
    val ref = TableRef("silver", "g", "gated")
    assert(wh.cdfEnabled(ref), "graft.cdf declared at CREATE must be on")
    assert(wh.checkConstraints(ref) === Map("pricepos" -> "price > 0"))
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.silver.g.gated VALUES (1, -1.0)")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("pricepos"))))
    spark.sql(s"INSERT INTO $cat.silver.g.gated VALUES (1, 2.0)")
    assert(wh.read(ref).count() === 1L)
    // CTAS with a constraint the SELECT violates: refused, and the
    // loud failure must not leave a half-governed table behind the
    // caller believes was created clean
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.silver.g.ctasbad " +
        "TBLPROPERTIES ('graft.check.pos' = 'id > 10') " +
        "AS SELECT id FROM range(0, 5)")
    }
    // ungoverned keys refuse loudly at CREATE, mirroring ALTER
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.silver.g.badprop (k BIGINT) " +
        "TBLPROPERTIES ('my.custom.key' = 'x')")
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("not governed"))))
    assert(!wh.exists(TableRef("silver", "g", "badprop")))
  }

  test("RENAME COLUMN: guarded full rewrite — values, stats, tombstones, time travel") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val root = tmpDir("wh-ddl-rename")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c8")
    val ref = TableRef("silver", "g", "renamed")
    wh.overwrite(ref,
      (1L to 40L).map(i => (i, s"g${i % 2}", i * 1.5)).toDF("k", "seg", "price")
        .repartitionByRange(4, $"k"),
      partitionBy = Seq("seg"), statsColumns = Seq("k"))               // v1
    val filesBefore = wh.dataFiles(ref).toSet

    spark.sql(s"ALTER TABLE $cat.silver.g.renamed RENAME COLUMN k TO order_id") // v2
    // values survive under the new name; the old name is gone
    assert(wh.read(ref).columns.sorted.toSeq === Seq("order_id", "price", "seg"))
    assert(wh.read(ref).agg(org.apache.spark.sql.functions.sum("order_id"))
      .as[Long].head() === 820L)
    // it IS a rewrite: every physical file is fresh, and the ledger says why
    assert(wh.dataFiles(ref).toSet.intersect(filesBefore).isEmpty)
    assert(wh.history(ref).filter($"operation" === "RENAME_COLUMN").count() === 1L)
    // the stats manifest followed the rename and still prunes
    assert(wh.statColumns(ref) === Seq("order_id"))
    assert(wh.excludedByBounds(ref, "order_id", Some(10000L), None)
      .exists(_.nonEmpty))
    // time travel below the rename keeps the OLD name
    assert(wh.readVersion(ref, 1L).columns.contains("k"))
    // SQL reads agree
    assert(spark.sql(
        s"SELECT sum(order_id) FROM $cat.silver.g.renamed WHERE seg = 'g1'")
      .as[Long].head() === 400L)

    // refusals: partition column, constraint-referenced column, clash
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.renamed RENAME COLUMN seg TO region")
    }
    wh.setCheckConstraint(ref, "pricepos", "price > 0")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.renamed RENAME COLUMN price TO cost")
    }
    wh.dropCheckConstraint(ref, "pricepos")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.renamed RENAME COLUMN price TO seg")
    }

    // renaming INTO a previously-dropped name is safe: the rewrite
    // replaced the bytes the tombstone guarded
    wh.addColumns(ref, Seq(StructField("note", DoubleType)))
    wh.dropColumns(ref, Seq("note"))
    spark.sql(s"ALTER TABLE $cat.silver.g.renamed RENAME COLUMN price TO note")
    assert(wh.read(ref).filter($"note".isNull).count() === 0L,
      "renamed values must land, not the dropped column's ghosts")

    // a merge against the renamed table works on the new key name
    new graft.sinks.MergeTable(spark, wh, ref, Seq("order_id"), None)
      .upsert(Seq((100L, 9.0, "g0")).toDF("order_id", "note", "seg"))
    assert(wh.read(ref).count() === 41L)
  }

  test("ALTER TABLE RENAME TO: metadata move preserves history, stats, constraints; old name dies") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-rename")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c10")
    spark.sql(s"CREATE TABLE $cat.silver.g.orig (k BIGINT, price DOUBLE) " +
      "TBLPROPERTIES ('graft.stats_columns' = 'k', " +
      "'graft.check.pricepos' = 'price > 0')")
    spark.sql(s"INSERT INTO $cat.silver.g.orig " +
      "SELECT id, id * 2.0 FROM range(1, 51)")
    spark.sql(s"DELETE FROM $cat.silver.g.orig WHERE k > 40")
    val ref = TableRef("silver", "g", "orig")
    val versions = wh.currentVersion(ref).get

    spark.sql(s"ALTER TABLE $cat.silver.g.orig RENAME TO silver.g.fresh")
    val dst = TableRef("silver", "g", "fresh")
    // data, history (+ the lineage stamp), stats, constraints carried
    assert(spark.sql(s"SELECT count(*) FROM $cat.silver.g.fresh")
      .as[Long].head() === 40L)
    assert(wh.currentVersion(dst).contains(versions + 1))
    assert(wh.history(dst).filter($"operation" === "RENAME").count() === 1L)
    assert(wh.commitMeta(dst, versions + 1)
      .get("graft.renamed_from").contains(ref.toString))
    assert(wh.readVersion(dst, 2L).count() === 0L, "time travel survives")
    assert(wh.statColumns(dst) === Seq("k"))
    assert(wh.checkConstraints(dst) === Map("pricepos" -> "price > 0"))
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.silver.g.fresh VALUES (99, -1.0)")
    }
    // the old name refuses reads and writes
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.silver.g.orig") }
    assert(!wh.exists(ref))
    // renaming onto an existing table refuses
    spark.sql(s"CREATE TABLE $cat.silver.g.occupied (k BIGINT)")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.silver.g.fresh RENAME TO silver.g.occupied")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.silver.g.fresh")
      .as[Long].head() === 40L, "failed rename leaves the source intact")
    // cross-schema move is a legal directory relocation
    spark.sql(s"ALTER TABLE $cat.silver.g.fresh RENAME TO silver.h.moved")
    assert(spark.sql(s"SELECT count(*) FROM $cat.silver.h.moved")
      .as[Long].head() === 40L)
  }

  test("renameTable respects the writer lock: a held source lock refuses the move") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-rename-lock"), writerLeaseMs = 60000)
    val src = TableRef("silver", "g", "locked")
    val dst = TableRef("silver", "g", "elsewhere")
    wh.overwrite(src, Seq((1L, "a")).toDF("k", "v"))
    // a live competitor's lease file on the SOURCE: the rename must
    // conflict loudly, touching nothing
    val lock = new org.apache.hadoop.fs.Path(wh.path(src) + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.write("competitor@test 999999999999999".getBytes("UTF-8"))
    out.close()
    try {
      intercept[ConcurrentWriteException] { wh.renameTable(src, dst) }
      assert(wh.read(src).count() === 1L)
      assert(!wh.exists(dst))
    } finally fs.delete(lock, false)
  }

  test("concurrent CREATE TABLE racers: exactly one wins, the loser fails loudly") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = tmpDir("wh-ddl-race")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "raced")
    val schema = StructType(Seq(StructField("k", LongType)))
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        try { wh.createTable(ref, schema); outcomes.add("won"); () }
        catch { case _: ConcurrentWriteException => outcomes.add("lost"); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(outcomes.asScala.count(_ == "won") === 1,
      s"outcomes: ${outcomes.asScala.toList}")
    assert(wh.currentVersion(ref).contains(1L))

    // clone of a STILL-EMPTY created table keeps the declared layout:
    // the meta is the only place it lives (no files to derive from)
    val src = TableRef("silver", "g", "declared_src")
    wh.createTable(src,
      StructType(Seq(StructField("k", LongType),
        StructField("seg", org.apache.spark.sql.types.StringType))),
      partitionBy = Seq("seg"), statsColumns = Seq("k"))
    val dst = TableRef("silver", "g", "declared_dst")
    wh.cloneTable(src, dst)
    import spark.implicits._
    wh.append(dst, Seq((1L, "g0"), (2L, "g1")).toDF("k", "seg"))
    assert(wh.dataFiles(dst).forall(_.contains("seg=g")),
      "the clone's first append must route the declared partitioning")
    assert(wh.statColumns(dst) === Seq("k"),
      "the clone's first append must bootstrap the declared manifest")
  }

  test("constraint guard parses attributes: a substring-named column drops clean") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-attr")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "attrs")
    // `r` is a SUBSTRING of `price` (and of the predicate text):
    // the guard must parse the predicate's attribute set, not grep it
    wh.overwrite(ref, Seq((1L, "x", 2.0)).toDF("k", "r", "price"))
    wh.setCheckConstraint(ref, "pricepos", "price > 0")
    wh.dropColumns(ref, Seq("r")) // must NOT refuse
    assert(wh.read(ref).columns.toSeq === Seq("k", "price"))
    // the genuinely referenced column still refuses
    val e = intercept[IllegalArgumentException] {
      wh.dropColumns(ref, Seq("price"))
    }
    assert(e.getMessage.contains("pricepos"))
  }

  test("CREATE OR REPLACE TABLE AS SELECT: schema and data replace through the catalog") {
    import spark.implicits._
    val root = tmpDir("wh-ddl-rtas")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "rtas")
    val ref = TableRef("silver", "g", "r")
    spark.sql(s"CREATE TABLE $cat.silver.g.r AS SELECT 1L AS k, 'a' AS v")
    assert(wh.read(ref).count() === 1L)
    // replace swaps BOTH the rows and the SCHEMA (Spark's non-atomic
    // drop+create path over a plain TableCatalog — a reader between
    // the two statements may see the table missing; the warehouse's
    // own atomic-history alternative is overwrite, documented)
    spark.sql(s"CREATE OR REPLACE TABLE $cat.silver.g.r AS " +
      "SELECT 2L AS k, 'b' AS v, CAST(3.5 AS DOUBLE) AS extra")
    assert(spark.sql(s"SELECT k, v, extra FROM $cat.silver.g.r")
      .as[(Long, String, Double)].collect().toSeq === Seq((2L, "b", 3.5)))
    // the drop half enforces the pin guard: RTAS of a shallow-clone
    // SOURCE refuses instead of silently stranding the clone
    wh.cloneTable(ref, TableRef("dev", "g", "rc"), shallow = true)
    val e = intercept[Exception](spark.sql(
      s"CREATE OR REPLACE TABLE $cat.silver.g.r AS SELECT 9L AS k"))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("releasePin"))))
    assert(wh.read(TableRef("dev", "g", "rc")).count() === 1L,
      "the refused replace must leave the clone readable")
  }

  test("CREATE TABLE is atomic: a refused governed property leaves no table behind") {
    val root = tmpDir("wh-ddl-atomic")
    val wh = new Warehouse(spark, root)
    val cat = catalogFor(root, "c11")
    val refused = Seq(
      "(rid BIGINT, v STRING) TBLPROPERTIES ('graft.identity.rid' = '1,2,3')",
      "(rid BIGINT, v STRING) TBLPROPERTIES ('graft.cdf' = 'yes')",
      "(rid BIGINT, v STRING) TBLPROPERTIES ('graft.check.c' = 'rid > 0', " +
        "'graft.columnmapping' = 'name')",
      // the column-spec overload: its declarations run after the
      // governed properties, inside the same drop-on-refusal
      "(rid BIGINT, v STRING DEFAULT 'x') TBLPROPERTIES ('graft.cdf' = 'yes')",
      // inline constraints, the third overload
      "(rid BIGINT, v STRING, CONSTRAINT u UNIQUE (rid))")
    refused.zipWithIndex.foreach { case (ddl, i) =>
      intercept[Exception](spark.sql(s"CREATE TABLE $cat.silver.g.atomic$i $ddl"))
      assert(!wh.exists(TableRef("silver", "g", s"atomic$i")),
        s"refused CREATE left the table behind: $ddl")
      // the name stays free: a clean CREATE succeeds
      spark.sql(s"CREATE TABLE $cat.silver.g.atomic$i (rid BIGINT, v STRING)")
      assert(wh.currentVersion(TableRef("silver", "g", s"atomic$i")).contains(1L))
    }
  }
}
