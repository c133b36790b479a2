package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Per-JVM memoized gate fixtures, and who releases a scratch frame.
  *
  * Gate queries are self-contained: each builds its own input fixture
  * (raw files in a scratch dir, a seeded warehouse, a synthesized media
  * corpus) before running the operator under test. The bench's WARM
  * pass re-invokes the same thunk, and without memoization it re-pays
  * the fixture build — which made warm numbers answer neither
  * "warm-up?" nor "plan cost?" for exactly the queries they were meant
  * to attribute (round-7 verdict, What's wrong #2).
  *
  * `once` builds a fixture the FIRST time a (session, sfDir, key)
  * triple is seen, timing the build under phase `<key>` (surfaced in
  * the bench artifact's `phases` map), and returns the memoized value
  * on every later call. The correctness gate (Verify) and the specs
  * invoke each query once per JVM+dir, so memoization is a plain
  * build there — semantics are unchanged.
  *
  * Keys include the SparkSession identity (specs may run several
  * sessions in one JVM; a fixture holding another session's
  * checkpointed data or Warehouse handle must not leak across) and the
  * sf dir (multi-SF specs run the same query at several scales).
  *
  * EVICTION (round-8 verdict, What's wrong #1): memoized
  * `localCheckpoint`ed frames live in the block manager until
  * something lets go of them. A 100+-query bench that never evicts
  * runs its last queries under the accumulated storage pressure of
  * every fixture built before them — which inflated round-8 cold
  * numbers up to 9× on the alphabetically-last streaming entries. The
  * bench therefore calls [[drainTouched]] after each query's
  * cold+warm pair: every key touched since the previous drain has its
  * remaining-query budget decremented and, once exhausted, is dropped
  * from the memo with its checkpointed RDD blocks unpersisted. Keys
  * default to `uses = 1` (private to one gate query); a fixture shared
  * by N gate queries declares `uses = N` and survives exactly until
  * its last consumer has run. Verify and the specs never drain, so
  * they see the old build-once-per-JVM behavior unchanged.
  *
  * SCRATCH FRAMES (an operator's own `localCheckpoint`s, not fixtures)
  * have one of two owners, and nothing here holds one for the life of
  * the JVM. A frame consumed entirely inside the call is released by
  * the call, in a `finally` ([[release]]). A frame the call's RETURNED
  * lazy plan still reads belongs to the caller's plan: Spark's
  * ContextCleaner unpersists it once the caller drops that plan and a
  * collection has run. [[transientCheckpoint]] marks such a frame
  * weakly so the bench can release it between gate queries.
  */
object Scratch {

  private final case class Entry(value: Any, var remainingUses: Int)

  private val memo = scala.collection.concurrent.TrieMap[String, Entry]()
  private val touched = scala.collection.concurrent.TrieMap[String, Unit]()
  // Weak on purpose: Spark's ContextCleaner unpersists a checkpoint's
  // blocks once its RDD is unreachable (SparkContext.persistentRdds is
  // weak-valued), so these references never extend a frame's life; they
  // only let the bench release the still-reachable ones eagerly at a
  // drain. Cleared references leave the set at the next registration.
  private val scratchRdds = java.util.concurrent.ConcurrentHashMap
    .newKeySet[java.lang.ref.WeakReference[RDD[_]]]()
  private val collected = new java.lang.ref.ReferenceQueue[RDD[_]]()

  /** Build-once fixture: `build` runs on the first call per
    * (session, dir, key), timed under phase `key`; later calls return
    * the memoized value. `uses` = how many DISTINCT gate queries
    * consume this fixture (the bench evicts it after that many drains
    * have seen it touched). Single-writer per key by construction (the
    * bench and Verify are sequential); TrieMap keeps concurrent specs
    * safe at worst building twice.
    */
  def once[T](spark: SparkSession, dir: String, key: String, uses: Int = 1)(
      build: => T): T = {
    val k = s"${System.identityHashCode(spark)}|$dir|$key"
    touched.put(k, ())
    memo.getOrElseUpdate(k, Entry(PhaseTimer.time(key)(build), uses))
      .value.asInstanceOf[T]
  }

  /** Run a fixture build under a NARROW shuffle width: gate fixtures
    * move a few thousand rows through several commits each, so the
    * session's 32 shuffle partitions turn every internal exchange
    * (merge joins, stats-manifest aggregates) into 32 near-empty tasks
    * of pure scheduling overhead. Explicit `repartition(n)` calls are
    * unaffected — file-count witnesses keep their layout; only
    * defaulted exchanges narrow.
    *
    * REENTRANT ACROSS THREADS per session (depth-counted): the bench's
    * fixture prebuild overlaps independent builds on a small pool
    * (guide §2.6), and the naive set/restore raced — an interleaved
    * finally could capture another build's width as "prev" and leave
    * the SESSION narrowed for every later gate. First entry captures
    * and narrows, last exit restores; all callers use the same width.
    */
  private final class NarrowState { var depth = 0; var prev: String = _ }
  private val narrowStates =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, NarrowState]()

  def narrowShuffle[T](spark: SparkSession, width: Int = 8)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val st = narrowStates.computeIfAbsent(spark, _ => new NarrowState)
    st.synchronized {
      if (st.depth == 0) { st.prev = spark.conf.get(key)
        spark.conf.set(key, width.toString) }
      st.depth += 1
    }
    try body finally st.synchronized {
      st.depth -= 1
      if (st.depth == 0) spark.conf.set(key, st.prev)
    }
  }

  /** Mark a per-invocation materialized frame (or any structure of
    * them) that an operator's RETURNED lazy plan still reads. The
    * operator cannot release it itself (the consumer has not run yet),
    * and it needs no owner: once the caller drops the returned plan the
    * checkpoint's RDD becomes unreachable and Spark's ContextCleaner
    * unpersists its blocks. The mark is a weak reference that keeps
    * nothing alive; it only lets the bench's [[drainTouched]] release
    * the frames still reachable between gate queries, so a late gate
    * never runs under storage an earlier one left to the collector.
    * Frames an operator consumes entirely inside the call are not
    * marked: their owner passes them to [[release]] in a `finally`.
    * Returns its argument for expression-position use.
    */
  def transientCheckpoint[T](v: T): T = {
    var gone = collected.poll()
    while (gone != null) { scratchRdds.remove(gone); gone = collected.poll() }
    checkpointRdds(v).foreach(r => scratchRdds.add(new java.lang.ref.WeakReference(r, collected)))
    v
  }

  /** Bench-only, called between gate queries: decrement the
    * remaining-query budget of every key touched since the last drain;
    * evict the exhausted ones, unpersisting any Dataset (and the block
    * manager storage of its localCheckpointed RDD) reachable through
    * Product/Iterable nesting of the memoized value. A query's cold
    * and warm passes both touch its keys, but a drain runs once per
    * query, so `uses` counts queries, not invocations.
    */
  def drainTouched(): Unit = {
    touched.keySet.foreach { k =>
      memo.get(k).foreach { e =>
        e.remainingUses -= 1
        if (e.remainingUses <= 0) {
          memo.remove(k)
          release(e.value)
        }
      }
    }
    touched.clear()
    releaseMarked()
  }

  /** Evict everything regardless of remaining uses (end-of-bench). */
  def drainAll(): Unit = {
    memo.keySet.foreach(k => memo.remove(k).foreach(e => release(e.value)))
    touched.clear()
    releaseMarked()
  }

  private def releaseMarked(): Unit =
    scratchRdds.removeIf { ref =>
      Option(ref.get).foreach(_.unpersist(blocking = false))
      true
    }

  /** Release block-manager storage reachable from a value. The owner of
    * a frame it materializes and consumes inside one call (an operator's
    * intermediate, the mutation router's pin) calls this in a `finally`
    * once the consumer has run; the memo evicts through it too.
    * `Dataset.unpersist` only drops CacheManager entries; a
    * localCheckpointed frame's data lives as RDD blocks referenced by
    * the plan's LogicalRDD leaf, so unpersist THAT rdd directly.
    * Non-blocking: the caller overlaps the release with its next work.
    */
  def release(v: Any): Unit = {
    checkpointRdds(v).foreach(_.unpersist(blocking = false))
    datasets(v).foreach(_.unpersist())
  }

  /** The RDDs behind the LogicalRDD leaves of every Dataset reachable
    * through Product/Iterable/Array nesting of a value.
    */
  private def checkpointRdds(v: Any): Seq[RDD[_]] =
    datasets(v).flatMap(_.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd })

  private def datasets(v: Any): Seq[Dataset[_]] = v match {
    case ds: Dataset[_] => Seq(ds)
    case p: Product     => p.productIterator.flatMap(datasets).toSeq
    case i: Iterable[_] => i.flatMap(datasets).toSeq
    case a: Array[_]    => a.toSeq.flatMap(datasets)
    case _              => Nil
  }
}
