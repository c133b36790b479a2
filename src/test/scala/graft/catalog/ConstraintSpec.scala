package graft.catalog

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** CHECK constraints enforced by the commit protocol
  * ([[Warehouse.setCheckConstraint]]): every write surface validates
  * its staged files before anything moves — a violating write throws
  * and the table is bit-for-bit untouched.
  */
class ConstraintSpec extends SparkSpec {

  test("constraints gate every write path; violations leave the table untouched") {
    import spark.implicits._
    val root = tmpDir("wh-check")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "checked")
    wh.overwrite(ref, (1L to 20L).map(i => (i, i * 10L)).toDF("k", "v"),
      statsColumns = Seq("k"))
    wh.setCheckConstraint(ref, "v_positive", "v > 0")
    assert(wh.checkConstraints(ref) === Map("v_positive" -> "v > 0"))

    // violating APPEND: loud, nothing committed
    val v0 = wh.currentVersion(ref).get
    val e1 = intercept[IllegalStateException] {
      wh.append(ref, Seq((21L, -5L)).toDF("k", "v"))
    }
    assert(e1.getMessage.contains("v_positive"))
    assert(wh.currentVersion(ref).get === v0)
    assert(wh.read(ref).count() === 20L)

    // valid append passes; NULL passes (SQL CHECK semantics)
    wh.append(ref, Seq((21L, Some(5L)), (22L, None))
      .toDF("k", "v"))
    assert(wh.read(ref).count() === 22L)

    // violating MERGE update: the rewrite is refused pre-move
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    val v1 = wh.currentVersion(ref).get
    intercept[IllegalStateException] {
      mt.upsert(Seq((5L, -1L)).toDF("k", "v"))
    }
    assert(wh.currentVersion(ref).get === v1)
    assert(wh.read(ref).filter($"k" === 5L).head().getLong(1) === 50L)

    // violating UPDATE
    intercept[IllegalStateException] {
      wh.updateWhere(ref, $"k" === 6L, Seq("v" -> (lit(0L) - $"v")))
    }
    assert(wh.read(ref).filter($"k" === 6L).head().getLong(1) === 60L)

    // maintenance never revalidates (and never violates): compact works
    wh.compact(ref, smallFileBytes = 1L << 30)
    assert(wh.read(ref).count() === 22L)

    // drop → tombstone → the write is allowed again
    wh.dropCheckConstraint(ref, "v_positive")
    assert(wh.checkConstraints(ref) === Map.empty)
    wh.append(ref, Seq((23L, -5L)).toDF("k", "v"))
    assert(wh.read(ref).count() === 23L)
  }

  private def lit(v: Long) = org.apache.spark.sql.functions.lit(v)
  private def $(c: String) = org.apache.spark.sql.functions.col(c)

  test("a constraint the existing data violates is refused at ADD time") {
    import spark.implicits._
    val root = tmpDir("wh-check-add")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "checked_add")
    wh.overwrite(ref, Seq((1L, 5L), (2L, -3L)).toDF("k", "v"))
    val e = intercept[IllegalStateException] {
      wh.setCheckConstraint(ref, "v_positive", "v > 0")
    }
    assert(e.getMessage.contains("existing row"))
    assert(wh.checkConstraints(ref) === Map.empty)
  }

  test("a WAP stage validates constraints; a violating batch stages nothing") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-check-wap"))
    val ref = TableRef("silver", "g", "checked_wap")
    wh.overwrite(ref, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    wh.setCheckConstraint(ref, "v_pos", "v > 0")
    val v0 = wh.currentVersion(ref)
    val e = intercept[IllegalStateException] {
      wh.stageOverwrite(ref, Seq((3L, -7L)).toDF("k", "v"))
    }
    assert(e.getMessage.contains("v_pos"))
    assert(wh.stagedIds(ref).isEmpty)
    assert(wh.currentVersion(ref) === v0)
    // a passing batch stages and publishes as before
    wh.publishStaged(ref, wh.stageOverwrite(ref, Seq((3L, 7L)).toDF("k", "v")))
    assert(wh.read(ref).as[(Long, Long)].collect().toSeq === Seq((3L, 7L)))
  }

  test("native ANSI constraint DDL: inline CHECK at CREATE, ADD/DROP CONSTRAINT, unenforced kinds refuse") {
    import spark.implicits._
    val root = tmpDir("wh-check-ansi")
    val cat = "chkansi"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "ansi")
    // inline CHECK at CREATE routes through setCheckConstraint
    spark.sql(s"CREATE TABLE $cat.silver.g.ansi " +
      "(k BIGINT, v BIGINT, CONSTRAINT v_cap CHECK (v < 1000))")
    assert(wh.checkConstraints(ref) === Map("v_cap" -> "v < 1000"))
    spark.sql(s"INSERT INTO $cat.silver.g.ansi VALUES (1, 10)")
    val e1 = intercept[Exception](spark.sql(
      s"INSERT INTO $cat.silver.g.ansi VALUES (2, 5000)"))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t.asInstanceOf[Throwable])(_.getCause)
        .takeWhile(_ != null).toSeq.flatMap(c => Option(c.getMessage))
    assert(chain(e1).exists(_.contains("v_cap")))
    assert(wh.read(ref).count() === 1L)
    // ALTER TABLE ADD CONSTRAINT validates existing rows first
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.silver.g.ansi ADD CONSTRAINT k_big CHECK (k > 5)"))
    assert(chain(e2).exists(_.contains("existing row")))
    spark.sql(s"ALTER TABLE $cat.silver.g.ansi " +
      "ADD CONSTRAINT k_pos CHECK (k > 0)")
    assert(wh.checkConstraints(ref).contains("k_pos"))
    intercept[Exception](spark.sql(
      s"INSERT INTO $cat.silver.g.ansi VALUES (-1, 1)"))
    // DROP CONSTRAINT (and IF EXISTS quietness / unknown loudness)
    spark.sql(s"ALTER TABLE $cat.silver.g.ansi DROP CONSTRAINT k_pos")
    assert(!wh.checkConstraints(ref).contains("k_pos"))
    spark.sql(s"ALTER TABLE $cat.silver.g.ansi " +
      "DROP CONSTRAINT IF EXISTS nope")
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.silver.g.ansi DROP CONSTRAINT nope"))
    // unenforced kinds refuse — and a refused inline CREATE is atomic
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.silver.g.ansi2 " +
      "(k BIGINT, CONSTRAINT pk PRIMARY KEY (k) RELY)"))
    assert(wh.snapshot(TableRef("silver", "g", "ansi2")).isEmpty)
    // the table reports its live constraints (DESCRIBE surface)
    val ddl = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.silver.g.ansi")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(ddl.contains("v_cap"))
  }

  test("SQL INSERT and the streaming sink enforce constraints") {
    import spark.implicits._
    val root = tmpDir("wh-check-sql")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "checked_sql")
    wh.overwrite(ref, Seq((1L, 10L)).toDF("k", "v"))
    wh.setCheckConstraint(ref, "v_cap", "v < 1000")
    spark.conf.set("spark.sql.catalog.graftchk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftchk.root", root)

    spark.sql("INSERT INTO graftchk.silver.g.checked_sql VALUES (2, 500)")
    val err = intercept[Exception] {
      spark.sql("INSERT INTO graftchk.silver.g.checked_sql VALUES (3, 5000)")
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
        .flatMap(c => Option(c.getMessage))
    assert(chain(err).exists(_.contains("v_cap")))
    assert(wh.read(ref).as[(Long, Long)].collect().sorted
      === Seq((1L, 10L), (2L, 500L)))

    // pure-SQL constraint lifecycle: CALL add/drop
    val r = spark.sql("CALL graftchk.system.add_constraint(" +
      "'silver.g.checked_sql', 'k_positive', 'k > 0')").head()
    assert(r.getString(1) === "k_positive")
    assert(wh.checkConstraints(ref).contains("k_positive"))
    intercept[Exception] {
      spark.sql("INSERT INTO graftchk.silver.g.checked_sql VALUES (-9, 1)")
    }
    spark.sql("CALL graftchk.system.drop_constraint(" +
      "'silver.g.checked_sql', 'k_positive')")
    assert(!wh.checkConstraints(ref).contains("k_positive"))

    // streaming sink: a violating epoch fails the query, table intact
    val in = tmpDir("check-sink-in")
    val ckpt = tmpDir("check-sink-ckpt")
    Seq((4L, 9000L)).toDF("k", "v").write.mode("append").parquet(in)
    val q = spark.readStream.schema("k LONG, v LONG").parquet(in)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("graftchk.silver.g.checked_sql")
    val serr = intercept[Exception] { q.awaitTermination() }
    assert(chain(serr).exists(_.contains("v_cap")))
    assert(wh.read(ref).count() === 2L)
  }
}
