package graft.catalog

import java.util.concurrent.CountDownLatch

import graft.SparkSpec

/** `Warehouse.metaFrame` — internal commit-scale metadata aggregates
  * run on a DEDICATED isolated session (AQE off, width 8) instead of
  * flipping the shared session's confs around the collect (the
  * round-21 shape, which leaked AQE-off/width-8 to every concurrent
  * reader for the duration). Asserts conf isolation, the intended plan
  * shape on the meta session, and value identity.
  */
class MetaSessionSpec extends SparkSpec {

  import spark.implicits._

  test("the shared session's confs never change, even mid-collect") {
    val wh = new Warehouse(spark, tmpDir("wh-meta"))
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val spBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val df = (1 to 500).map(i => (i.toLong % 37, i.toString)).toDF("k", "v")
      .groupBy($"k").count()
    val inFlight = new CountDownLatch(1)
    val sampled = new CountDownLatch(1)
    @volatile var readerAqe: String = null
    @volatile var readerSp: String = null
    val reader = new Thread(() => {
      inFlight.await()
      readerAqe = spark.conf.get("spark.sql.adaptive.enabled")
      readerSp = spark.conf.get("spark.sql.shuffle.partitions")
      sampled.countDown()
    })
    reader.start()
    // sample while a meta-session execution is demonstrably live: the
    // frame below blocks inside a filter until the reader has sampled
    val gate = (i: Long) => { inFlight.countDown(); sampled.await(); true }
    val gated = spark.udf.register("metaGate",
      org.apache.spark.sql.functions.udf(gate))
    val rows = wh.metaFrame(df.filter(gated($"k"))).collect()
    reader.join()
    assert(rows.length === 37)
    assert(readerAqe === aqeBefore,
      "a concurrent reader saw the meta session's AQE override")
    assert(readerSp === spBefore,
      "a concurrent reader saw the meta session's narrowed width")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === spBefore)
  }

  test("meta-session plans are non-adaptive at the narrow width") {
    val wh = new Warehouse(spark, tmpDir("wh-meta2"))
    val df = (1 to 100).map(i => (i.toLong, i.toString)).toDF("k", "v")
      .repartition(64).groupBy($"k").count()
    val bound = wh.metaFrame(df)
    assert(bound.sparkSession ne spark, "must execute on the meta session")
    val plan = bound.queryExecution.executedPlan.toString
    assert(!plan.contains("AdaptiveSparkPlan"), s"AQE must be off:\n$plan")
    assert(plan.contains("hashpartitioning(k#") && plan.contains(", 8)"),
      s"aggregate exchange must plan at width 8:\n$plan")
  }

  test("meta-session execution is value-identical") {
    val wh = new Warehouse(spark, tmpDir("wh-meta3"))
    val df = (1 to 200).map(i => (i.toLong % 23, i * 0.5)).toDF("k", "v")
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"v").as("s"))
    val direct = df.collect().map(_.toSeq).toSet
    val viaMeta = wh.metaFrame(df).collect().map(_.toSeq).toSet
    assert(viaMeta === direct)
  }

  /** A session that ran one meta-session collect, then was dropped:
    * only the returned weak reference still points at it.
    */
  private def usedAndDropped(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
    val s = spark.newSession()
    val wh = new Warehouse(s, tmpDir("wh-meta-leak"))
    val df = s.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    assert(wh.metaFrame(df).collect().length === 7)
    new java.lang.ref.WeakReference(s)
  }

  test("a dropped parent session is collected: the meta-session map holds it weakly") {
    val ref = usedAndDropped()
    var tries = 0
    while (ref.get != null && tries < 30) {
      System.gc()
      Thread.sleep(100)
      tries += 1
    }
    assert(ref.get == null,
      s"the parent session survived $tries GC cycles after its last use")
  }
}
