package graft

import org.apache.spark.sql.SparkSession

/** Single place the harness sessions (Bench/Verify/Explain, specs) are
  * configured. Notably `spark.sql.legacy.parquet.nanosAsLong` is set
  * HERE, at construction — events.ts is parquet TIMESTAMP(NANOS), which
  * Spark only reads with this flag, and flipping it mid-session inside a
  * loader would silently change nanos handling for every later read.
  */
object GraftSession {
  /** Entries in Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One curation
    * pass needs ~165-190 classes and one medallion cycle ~400; an LRU
    * smaller than a repeating working set misses on every lookup, so
    * the default recompiled most of each call (~160 Janino compiles
    * per curate pass) and ran the fresh classes interpreted.
    * 1024 is over 2× the largest measured set; each cached class holds
    * ~30 KB of heap. Spark sizes the cache once, at the first codegen
    * in the JVM, so this must be a builder conf: a session not built
    * here that generates code first keeps 100 for the whole JVM.
    * `CodegenRecompileSpec` is the witness.
    */
  val CodegenCacheEntries = 1024

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions",
        "graft.functions.GraftExtensions,graft.plans.GraftOptimizations")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // JVM case mappings instead of ICU for UTF8_BINARY lower()/upper():
      // the ICU path clones a RuleBasedBreakIterator PER ROW (profiled at
      // ~200µs/row cold — it made the checker lifecycle, the suite's
      // first lower() caller, 3-10× slower than its plan warranted).
      // Identical results for Unicode default case mapping; this engine
      // does not use locale-sensitive collations.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // COLUMN MAPPING (Warehouse.enableColumnMapping): mapped tables
      // write parquet field ids and read by id. No-ops for schemas
      // without id metadata (name matching as before); ignoreMissing
      // stays false so an id-less file in a mapped table fails LOUDLY
      // instead of silently reading nulls.
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.ui.enabled", "false")
      // generated classes stay cached across calls (see CodegenCacheEntries)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // fork-free local filesystem (graft.util.LocalFs): stock Hadoop
      // spawns chmod/readlink per file create and per streaming WAL
      // rename when libhadoop is absent
      .config(graft.util.LocalFs.sparkConfs)

  def local(cpus: String): SparkSession = {
    val s = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
