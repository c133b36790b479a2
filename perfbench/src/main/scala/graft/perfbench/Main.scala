package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.Warehouse

/** What one timed call of a workload did. `items` counts the workload's
  * unit of useful work (silver keys changed, docs curated). `samples` are
  * the latencies in ms the call contributes; None means the call's own
  * wall time. `verify` checks the call's output and `measure` takes a
  * traced call's extra counts; both run after the call's timer stops.
  */
final case class Op(items: Long, samples: Option[Seq[Double]] = None,
                    verify: () => Seq[Check] = () => Nil,
                    measure: () => Unit = () => ())

/** One correctness verdict. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** A workload: inputs from a seed, a set-up, a closed-loop timed call,
  * and checks against answers computed without the program.
  */
trait Workload {
  /** One-off JVM warm-up before the set-up, in a scratch warehouse: the
    * first call of an operator family pays codegen and class loading
    * that no later call does.
    */
  def warmUp(ctx: Ctx): Unit = ()
  def setup(ctx: Ctx): Unit
  /** The shape of timed call `i`; calls of one kind do the same work. */
  def kind(i: Int): String = "op"
  /** Timed calls a run makes however long they take, so that every run
    * measures the same mix.
    */
  def minCalls: Int = 1
  def op(ctx: Ctx, i: Int): Op
  /** Checks of the whole run, after the timed loop. */
  def finish(ctx: Ctx): Seq[Check] = Nil
  /** Bytes of user input landed or consumed so far, the base of write
    * amplification: a pass over a landed corpus consumes it again.
    */
  def landedBytes: Long
}

/** Everything a workload's calls share. `catalog` is the name the
  * `graft` SQL catalog is registered under for this set-up's warehouse.
  */
final class Ctx(val spark: SparkSession, val dir: Path,
                val catalog: String, val tracer: Tracer,
                val streams: StreamRecorder, val corrupt: Boolean) {
  val wh = new Warehouse(spark, dir.resolve("wh").toString)
  /** Layer counters of traced calls, summed; the run divides them. */
  val counts: mutable.Map[String, Double] = mutable.Map().withDefaultValue(0.0)
  /** True from a traced call's start until its `measure` has run. */
  var traced = false
  def count(name: String, v: Double): Unit = if (traced) counts(name) += v

  def span[T](layer: String, name: String)(f: => T): T = tracer.span(layer, name)(f)
}

object Main {
  /** `metrics` are the names the run reports, as BENCHMARK.json lists
    * them for its mode.
    */
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, corrupt: Boolean, work: Path, result: Path,
                        metrics: Seq[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.get("corrupt").contains("1"),
      Paths.get(need("work")), Paths.get(need("result")),
      need("metrics").split(",").toSeq.filter(_.nonEmpty))
  }

  def workloadFor(name: String, seed: Long): Workload = name match {
    case "medallion_cdc" => new MedallionCdc(seed)
    case "curate_corpus" => new CurateCorpus(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The fixed single-thread loop graft.Bench times as its CPU canary. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("")
    ms
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    workloadFor(a.workload, a.seed) // unknown names fail before any work
    val canary = canaryMs()
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    System.err.println(f"[perfbench-env] canary_ms=$canary%.1f load1=$load1%.2f")
    val out = Runner.run(a)
    Files.write(a.result, Json.result(out, a.metrics,
        Map("env.canary_ms" -> canary, "env.load1" -> load1))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}
