package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, when}

/** Per-JVM observability counters for recall-affecting caps.
  *
  * Every banded/bucketed candidate generator in this engine bounds its
  * quadratic stage with a cap (`maxPostings`, `maxBucket`, …) and
  * documents the recall tradeoff in its scaladoc — but a documented cap
  * that fires SILENTLY is unobservable at scale: on 100 TB the
  * difference between "we dedup'd" and "we dropped every
  * boilerplate-heavy duplicate pair and can't tell" is exactly this
  * number. Operators therefore record how many keys each cap dropped
  * per invocation (last-run-wins, keyed by `<operator>.<cap>`), and log
  * the count at WARN when non-zero; callers at scale poll
  * [[snapshot]] after a run (or watch the log) before trusting the
  * output as "deduplicated".
  *
  * The counts cost no job of their own: [[checkpointCounting]]
  * materializes an operator's cap histogram and counts the keys over
  * the cap in the same job, as a `Dataset.observe` metric, and the
  * driver records the observed value. Thread-safe; `set` overwrites so
  * concurrent pipelines should read promptly or scope a JVM per run,
  * like [[PhaseTimer]].
  */
object CapCounters {
  private val buf = scala.collection.concurrent.TrieMap[String, Long]()
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Record the dropped-key count of one cap for the most recent
    * invocation; warns on data loss so unattended pipelines surface it.
    */
  def set(name: String, dropped: Long): Unit = {
    buf.put(name, dropped)
    if (dropped > 0)
      log.warn(
        s"cap $name dropped $dropped keys this run - recall is bounded; " +
          "inspect the operator's histogram before trusting dedup output")
  }

  /** `localCheckpoint` a cap histogram and [[set]] `name` to the number
    * of its rows where `over` holds, observed inside the checkpoint's
    * own job rather than by a second count action. The observation
    * completes when the eager checkpoint's job does, empty input
    * included (a count over no rows is 0).
    */
  def checkpointCounting(name: String, hist: DataFrame, over: Column): DataFrame = {
    val obs = Observation()
    val cp = hist.observe(obs, count(when(over, 1)).as("over")).localCheckpoint()
    set(name, obs.get("over").asInstanceOf[Long])
    cp
  }

  def get(name: String): Option[Long] = buf.get(name)
  def snapshot: Map[String, Long] = buf.toMap
  def reset(): Unit = buf.clear()
}
