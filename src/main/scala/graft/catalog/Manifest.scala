package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryComparison, Expression, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.functions.{approx_count_distinct, array, coalesce, col, count, countDistinct, element_at, expr, input_file_name, lit, max, min, pmod, regexp_replace, shiftright, substring, sum, try_element_at, typedLit, when, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, NullType, StringType, StructField, StructType}

import graft.util.PhaseTimer

/** The per-file stats manifest of every table under one warehouse — the
  * one owner of `_graft_stats/`: its format, its driver-local cache, the
  * write steps a commit takes on it, and everything read from it
  * (pruning, metadata-only aggregates, planner statistics).
  *
  * Format: one parquet row per data file, keyed by `file` (the
  * table-relative path, [[Manifest.keyOf]]), with `rows` and, per stat
  * column `c`, `min_c`, `max_c`, `ndv_c` (approximate distinct count,
  * NULL when footer-derived), `nulls_c` and, for bloom columns,
  * `bloom_c` (64 longs, two probe bits per value) — [[Manifest.layout]].
  * Insert-only commits append parts up to [[Manifest.PartCap]]; every
  * other commit rewrites it beside the live one and swaps it in after
  * the commit. A crash in between leaves a stale manifest, which every
  * reader tolerates: entries for retired files never match the live
  * list, and unknown files are kept.
  *
  * Pruning is by EXCLUSION through one translator ([[excluded]]): a
  * pushed predicate tree becomes one manifest predicate, true for the
  * files that provably hold no matching row. Exclusion sets are
  * snapshot-safe where keep-lists are not — data files are immutable
  * and uniquely named, so a manifest row describes its file forever and
  * a time-travel reader keeps every file the current manifest does not
  * exclude.
  */
private[catalog] final class Manifest(spark: SparkSession, wh: Warehouse) {
  import Manifest._

  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs(p: Path) = p.getFileSystem(hadoopConf)

  private def dir(ref: TableRef): Path = new Path(wh.path(ref), Dir)

  // ------------------------------------------------ listing and cache

  /** Every entry of the manifest directory under `tablePath` (none when
    * it is absent).
    */
  private def listing(tablePath: String): Seq[FileStatus] = {
    val d = new Path(tablePath, Dir)
    try fs(d).listStatus(d).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The manifest's part files: the listed `.parquet` entries. */
  private def parts(tablePath: String): Seq[FileStatus] =
    listing(tablePath).filter(_.getPath.getName.endsWith(".parquet"))

  private def cacheKey(tablePath: String) =
    s"${System.identityHashCode(spark)}:$tablePath"

  /** Cache `rows` as the driver-local frame of the manifest whose live
    * parts are `statuses`, and return it.
    */
  private def cachePut(tablePath: String, statuses: Seq[FileStatus],
                       schema: StructType, rows: Seq[Row]): DataFrame = {
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      relaxedNullability(schema))
    // a full flush on overflow is crude but safe: entries rebuild on
    // demand, and the cap is far above any workload's live table count
    if (cache.size >= CacheMax) cache.clear()
    cache.put(cacheKey(tablePath), (fingerprint(statuses), local))
    local
  }

  /** The manifest as a DataFrame, when present and non-empty. Small
    * manifests (≤ [[Manifest.LocalBytes]]) are served from a JVM-wide
    * DRIVER-LOCAL cache as LocalRelation frames, so every pruning pass
    * over them plans driver-side with zero Spark jobs. Freshness is
    * self-validating: the key fingerprints the part files (name, length,
    * mtime) from the one listing this needs anyway, and every swap
    * writes fresh UUID-named parts. Oversized manifests read
    * parquet-backed, or not at all when `localOnly` — planning-time
    * consumers must never pay a job over a 100k-file manifest.
    */
  private def frame(tablePath: String, localOnly: Boolean): Option[DataFrame] = {
    val statuses = parts(tablePath)
    lazy val onDisk = spark.read.parquet(statuses.map(_.getPath.toString): _*)
    if (statuses.isEmpty) None
    else if (statuses.map(_.getLen).sum > LocalBytes)
      if (localOnly) None else Some(onDisk)
    else cache.get(cacheKey(tablePath)) match {
      // identityHashCode can recur on a new session: never serve a dead
      // session's frame
      case Some((fp, df)) if fp == fingerprint(statuses) &&
          (df.sparkSession eq spark) => Some(df)
      case _ => Some(cachePut(tablePath, statuses, onDisk.schema,
        onDisk.collect().toSeq))
    }
  }

  private def frame(ref: TableRef): Option[DataFrame] =
    frame(wh.path(ref), localOnly = false)

  /** Seed the cache with rows the writer already holds, so the
    * post-commit registration and later pruning need no read-back job.
    * Skipped unless the live parts are EXACTLY the ones this writer
    * published (a cross-process swap in between would pair our rows
    * with its files' fingerprint) and small enough to cache.
    */
  private def seed(tablePath: String, schema: StructType, rows: Seq[Row],
                   published: Set[String]): Unit = {
    val statuses = parts(tablePath)
    if (statuses.map(_.getPath.getName).toSet == published &&
        statuses.map(_.getLen).sum <= LocalBytes)
      cachePut(tablePath, statuses, schema, rows)
  }

  /** Columns with min/max stats in the table's manifest (empty = none). */
  def statColumns(ref: TableRef): Seq[String] =
    frame(ref).toSeq.flatMap(statsOf(_, "min_"))

  /** Columns with bloom word-arrays in the table's manifest. */
  def bloomColumns(ref: TableRef): Seq[String] =
    frame(ref).toSeq.flatMap(statsOf(_, "bloom_"))

  /** Per-file exact row counts (driver-local manifests only; empty when
    * the table keeps none or it is too large to materialize).
    */
  def fileRowCounts(ref: TableRef): Map[String, Long] =
    frame(wh.path(ref), localOnly = true) match {
      case Some(m) if m.columns.contains(RowsCol) =>
        m.filter(col(RowsCol).isNotNull).select(FileCol, RowsCol).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      case _ => Map.empty
    }

  // ------------------------------------------------ writing

  /** Per-file stats for freshly written files: derived DRIVER-SIDE from
    * their parquet footers ([[FooterStats]] — zero Spark jobs) when the
    * commit qualifies, else the column-pruned `scan` job. Footers need:
    * no bloom columns (their words need the data), no live NDV
    * declaration ([[ndvStatsLive]] — footers carry no distinct counts),
    * a commit-scale file count, and every stat column footer-provable.
    * `keys` are the manifest keys of `absPaths`, in order.
    */
  private def footerOrScan(ref: TableRef, keys: Seq[String],
                           absPaths: Seq[Path], statsColumns: Seq[String],
                           bloomColumns: Seq[String],
                           ndvColumns: Seq[String])
                          (scan: => DataFrame): DataFrame = {
    val footer =
      if (bloomColumns.nonEmpty || ndvColumns.nonEmpty || keys.isEmpty ||
          keys.size > LocalWriteRows || ndvStatsLive(ref))
        None
      else FooterStats.derive(spark.sessionState.newHadoopConf(),
        keys.zip(absPaths), statsColumns)
    footer match {
      case Some((schema, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None => scan
    }
  }

  /** Whether stats commits on this table must keep collecting per-file
    * NDV (forcing the scan job): declared via [[Warehouse.NdvColumnsMeta]]
    * (carried meta, so one declaration covers the table's life), or the
    * live manifest already holds non-null ndv values (legacy tables keep
    * the planning signal they were written with). NDV feeds ONLY
    * planning (the row_number→top-k skip, CBO column stats), never query
    * answers.
    */
  private def ndvStatsLive(ref: TableRef): Boolean =
    wh.metaColumns(ref, Warehouse.NdvColumnsMeta).nonEmpty || {
      val tp = wh.path(ref)
      frame(tp, localOnly = true) match {
        case Some(m) =>
          val ndvIx = m.schema.fields.zipWithIndex
            .collect { case (f, i) if f.name.startsWith("ndv_") => i }
          // LocalRelation rows — zero jobs
          ndvIx.nonEmpty &&
            m.collect().exists(r => ndvIx.exists(i => !r.isNullAt(i)))
        // absent → no legacy signal; OVERSIZED (past the local cutoff)
        // → conservative: keep the scan job
        case None => parts(tp).nonEmpty
      }
    }

  /** The per-file stats rows of `data`, the rows of `staged`'s files
    * (file key = the staged relative path, whose layout the move
    * preserves): one column-pruned aggregate per file. Keyed by the
    * relative path, never the basename: `partitionBy` layouts reuse one
    * task's part-file basename across partition directories.
    *
    * Blooms are OPT-IN per column (`Warehouse.overwrite(bloomColumns)`,
    * then durable for the table's life): the 64 bit_or word aggregates
    * plus two hash projections run over every row of every commit, so
    * only point-lookup-heavy tables earn that write tax. NULL values
    * contribute no bits (IS NULL prunes on the null counts instead).
    */
  private def fileStats(data: DataFrame, staged: Warehouse.Staged,
                        statsColumns: Seq[String],
                        bloomColumns: Seq[String]): DataFrame = {
    val blooms = bloomColumns.filter(statsColumns.contains)
    // base-relative key: strip the scheme from input_file_name's URI
    // form the way the driver-side base is normalized, so
    // "file:///x/seg=a/p.parquet" under base "/x" keys as "seg=a/p.parquet"
    val base = fs(staged.dir).makeQualified(staged.dir).toUri.getPath.stripSuffix("/")
    val noScheme = regexp_replace(input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    val encoded = when(noScheme.startsWith(base + "/"),
        noScheme.substr(lit(base.length + 2), lit(Int.MaxValue)))
      .otherwise(noScheme)
    // that URI is percent-encoded: a file whose path needs escaping (a
    // partition value like `x y`) maps back to its staged relative path
    val escaped = staged.rels.zip(staged.files).map { case (r, st) =>
      fs(st.getPath).makeQualified(st.getPath).toUri.getRawPath -> r
    }.filterNot { case (raw, r) => raw.endsWith("/" + r) }.toMap
    val rel = if (escaped.isEmpty) encoded
      else coalesce(try_element_at(typedLit(escaped), noScheme), encoded)
    // the two probe positions are PROJECTED once per row before the
    // aggregate — inlined into each word aggregate, the hash would run
    // once per word
    val probed = blooms.foldLeft(data.withColumn("__file", rel)) { (df, c) =>
      val Seq(p1, p2) = probes(col(c))
      df.withColumn(s"__bp1_$c", p1).withColumn(s"__bp2_$c", p2)
    }
    // one bit_or aggregate per word (elementwise OR of arrays has no
    // native aggregate); shiftleft by a COLUMN bit count exists only in
    // the SQL surface
    def bloom(c: String): Column = array((0 until BloomWords).map { i =>
      val contribs = Seq(s"__bp1_$c", s"__bp2_$c").map(p =>
        s"(CASE WHEN `$c` IS NOT NULL AND CAST(`$p` DIV 64 AS INT) = $i " +
          s"THEN shiftleft(1L, CAST(`$p` % 64 AS INT)) ELSE 0L END)")
      expr(s"bit_or(${contribs.mkString(" | ")})")
    }: _*)
    val aggs = count(lit(1)).as(RowsCol) +: statsColumns.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      approx_count_distinct(col(c)).as(s"ndv_$c"),
      (count(lit(1)) - count(col(c))).as(s"nulls_$c")) ++
      (if (blooms.contains(c)) Seq(bloom(c).as(s"bloom_$c")) else Nil))
    probed.groupBy(col("__file").as(FileCol)).agg(aggs.head, aggs.tail: _*)
      .select(layout(statsColumns.map(c => c -> data.schema(c).dataType),
        blooms).fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Run a commit-scale INTERNAL metadata aggregate on the dedicated
    * META SESSION ([[Manifest.metaSessionFor]]: AQE off, a fixed width
    * of 8): AQE would schedule each query stage as its own job, pure
    * fixed overhead on a ≤10k-row frame. The shared session's confs are
    * never touched (a concurrent reader would inherit them, and a
    * thread-local override does not reach AQE); the frame's analyzed
    * plan is re-bound to the meta session. MetaSessionSpec asserts
    * isolation, plan shape and value identity.
    */
  def metaFrame(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftMetaExec.onSession(metaSessionFor(spark), df)

  /** Stage `next` in `tmp` as the table's next manifest, under the
    * `wh.manifest` timer. Written FROM THE DRIVER ([[writeLocalParquet]],
    * no Spark job, rows kept for the cache seed) when `expectRows` (the
    * post-commit file count) stays within [[Manifest.LocalWriteRows]],
    * else through the distributed single-task write.
    */
  private def stage(next: DataFrame, expectRows: Long,
                    tmp: Path): StagedManifest =
    (tmp, PhaseTimer.time("wh.manifest") {
      if (expectRows > LocalWriteRows) {
        next.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        None
      } else {
        val rows = metaFrame(next).collect().toSeq
        val part = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
        writeLocalParquet(spark, next.schema, rows, new Path(tmp, part))
        Some((next.schema, rows, part))
      }
    })

  /** Swap a staged manifest in for the live one (delete + rename) and
    * seed the cache with its rows. A manifest staged at the live path (a
    * bootstrap's, renamed in with its directory) only seeds.
    */
  private def publish(ref: TableRef, staged: StagedManifest): Unit = {
    val (tmp, seeded) = staged
    val live = dir(ref)
    if (tmp != live) {
      fs(live).delete(live, true)
      if (!fs(live).rename(tmp, live))
        throw new RuntimeException(s"failed to swap stats manifest for $ref")
    }
    seeded.foreach { case (sch, rows, part) =>
      seed(wh.path(ref), sch, rows, Set(part)) }
  }

  /** Swap a rebuilt manifest frame into place and re-register the
    * planner stats — the metadata-only schema changes' step.
    */
  private def swap(ref: TableRef, next: DataFrame): Unit = {
    publish(ref, stage(next,
      wh.snapshot(ref).map(_.files.size.toLong).getOrElse(Long.MaxValue),
      new Path(wh.path(ref), s"$Dir.tmp-${System.nanoTime()}")))
    refresh(ref, dvLive = false)
  }

  /** Extend the manifest with one new part. Over a driver-local manifest
    * the part is written from the driver (no Spark job), made visible by
    * rename, and the cache seeded with old+new rows; oversized manifests
    * keep the distributed append.
    */
  private def appendPart(ref: TableRef, newStats: DataFrame): Unit =
    PhaseTimer.time("wh.manifest") {
      val tp = wh.path(ref)
      val d = dir(ref)
      frame(tp, localOnly = true) match {
        case Some(old) =>
          // the part takes the old column order (the append gate proved
          // the name and type sets match), so one schema serves both the
          // part file and the seeded union
          val aligned = newStats.select(old.columns.map(col).toIndexedSeq: _*)
          val rows = metaFrame(aligned).collect().toSeq
          val entries = listing(tp)
          // a .part-*.tmp present at entry is a crashed append's orphan
          // (appends serialize on the writer lock): reclaim it here
          entries.filter { s =>
            val n = s.getPath.getName
            n.startsWith(".part-") && n.endsWith(".tmp")
          }.foreach(s => fs(d).delete(s.getPath, false))
          val uuid = java.util.UUID.randomUUID()
          val tmp = new Path(d, s".part-$uuid.tmp") // invisible: no .parquet suffix
          val dest = new Path(d, s"part-00000-$uuid.parquet")
          writeLocalParquet(spark, relaxedNullability(old.schema), rows, tmp)
          if (!fs(d).rename(tmp, dest))
            throw new RuntimeException(s"failed to publish manifest part $dest")
          seed(tp, old.schema, old.collect().toSeq ++ rows,
            entries.map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet +
              dest.getName)
        case None =>
          newStats.coalesce(1).write.mode("append").parquet(d.toString)
      }
    }

  /** Union a (possibly pre-filtered) manifest with fresh per-file stats,
    * HEALING declared-type drift (the crash window of [[castColumn]]'s
    * swap): `unionByName` promotes `min_/max_` to the common wider type,
    * and a column whose type differs between the sides gets its bloom
    * words NULLED — words built at the narrow width probed at the wide
    * one would falsely SKIP files holding the value.
    */
  private def union(kept: DataFrame, newStats: DataFrame): DataFrame = {
    val common = kept.columns.filter(newStats.columns.contains).toSeq
    val drifted = statsOf(kept, "min_").filter(c =>
      newStats.columns.contains(s"min_$c") &&
        kept.schema(s"min_$c").dataType != newStats.schema(s"min_$c").dataType)
    val u = kept.select(common.map(col): _*)
      .unionByName(newStats, allowMissingColumns = true)
    drifted.filter(c => u.columns.contains(s"bloom_$c")).foldLeft(u) { (d, c) =>
      d.withColumn(s"bloom_$c", lit(null).cast(ArrayType(LongType)))
    }
  }

  /** THE manifest step for a commit keeping `keep` of `parent`'s files
    * and adding `staged`'s (`data`: the staged rows, read for the stats
    * scan). A full replace (`fresh` = its stats, bloom and NDV columns)
    * writes a fresh manifest, or drops it when it declares no stats
    * column. Bloom presence is durable: a full replace carries every
    * prior bloom column still in the schema, and warns for one that
    * left it.
    *
    * Every other commit keeps the live manifest's stats and bloom
    * columns: retired files leave it and new files join it — as ONE
    * appended part when nothing retires and the new rows match the live
    * layout (O(new files)), otherwise rewritten as a union. A
    * manifestless table still without files starts one from its CREATE
    * TABLE declared stats columns ([[Warehouse.StatsColumnsMeta]]).
    * New-file stats are derived once ([[footerOrScan]]), before any file
    * moves; [[applyStep]] applies the step after the commit.
    */
  def plan(ref: TableRef, parent: Option[TableSnapshot], keep: Seq[String],
           staged: Warehouse.Staged,
           fresh: Option[(Seq[String], Seq[String], Seq[String])])
          (data: => DataFrame): Step = {
    lazy val old = frame(ref)
    lazy val oldBlooms = old.toSeq.flatMap(statsOf(_, "bloom_"))
    val dataCols = staged.schema.fieldNames.toSeq
    val retired = parent.toSeq.flatMap(_.files).filterNot(keep.toSet)
    def newStats(cols: Seq[String], blooms: Seq[String],
                 ndv: Seq[String]): DataFrame =
      PhaseTimer.time("wh.stats") {
        footerOrScan(ref, staged.rels, staged.files.map(_.getPath), cols,
            blooms, ndv) {
          val d = data
          val missing = cols.filterNot(d.columns.contains)
          require(missing.isEmpty,
            s"stats column(s) not in table: ${missing.mkString(",")} " +
              "(partition columns carry no file stats — prune on the partition instead)")
          fileStats(d, staged, cols, blooms)
        }
      }
    // the post-commit file count bounds the manifest's rows
    def swapIn(next: DataFrame): Step = SwapManifest(stage(next,
      (keep.size + staged.rels.size).toLong, new Path(staged.dir, Dir)))
    fresh match {
      case Some((stats, _, _)) if stats.isEmpty => DropManifest
      case Some((stats, blooms, ndv)) =>
        val (carry, lapsed) = oldBlooms.partition(dataCols.contains)
        if (lapsed.nonEmpty)
          Warehouse.log.warn(s"$ref: bloom column(s) " +
            s"${lapsed.mkString(",")} left the schema; their equality " +
            "skipping lapses with this overwrite")
        swapIn(newStats((stats ++ carry).distinct, (blooms ++ carry).distinct, ndv))
      case None =>
        val declared =
          if (old.nonEmpty || parent.exists(_.files.nonEmpty)) Nil
          else wh.metaColumns(ref, Warehouse.StatsColumnsMeta)
        val statCols = (old.toSeq.flatMap(statsOf(_, "min_")) ++ declared)
          .distinct.filter(dataCols.contains)
        old match {
          case Some(_) if retired.isEmpty && staged.rels.isEmpty => KeepManifest
          case Some(m) if retired.isEmpty &&
              canAppend(ref, m, staged.schema, statCols, oldBlooms) =>
            val part = newStats(statCols, oldBlooms, Nil)
            AppendPart(spark.createDataFrame(
              java.util.Arrays.asList(metaFrame(part).collect(): _*), part.schema))
          case Some(m) =>
            val kept =
              if (retired.isEmpty) m else m.filter(!col(FileCol).isin(retired: _*))
            swapIn(if (staged.rels.isEmpty || statCols.isEmpty) kept
              else union(kept, newStats(statCols, oldBlooms, Nil)))
          case None if statCols.nonEmpty && staged.rels.nonEmpty =>
            swapIn(newStats(statCols, wh.metaColumns(ref, Warehouse.BloomColumnsMeta)
              .filter(statCols.contains), Nil))
          case None => KeepManifest
        }
    }
  }

  /** Whether an insert-only commit may APPEND its stats as a new part
    * instead of rewriting the manifest: the new rows carry exactly the
    * live layout — names and stat types (mixed parts would corrupt
    * by-name parquet reads; a type drift after [[castColumn]] needs the
    * healing [[union]]) — and the part count stays under
    * [[Manifest.PartCap]] (past it, the rewrite doubles as compaction).
    * The part is written after the commit: a crash in between leaves
    * missing rows, which every reader treats conservatively.
    */
  private def canAppend(ref: TableRef, m: DataFrame, data: StructType,
                        statCols: Seq[String], blooms: Seq[String]): Boolean = {
    val want = layout(statCols.map(c => c -> data(c).dataType), blooms)
    want.fieldNames.sorted.sameElements(m.columns.sorted) &&
      statCols.forall(c => want(s"min_$c").dataType == m.schema(s"min_$c").dataType) &&
      parts(wh.path(ref)).size < PartCap
  }

  /** Apply a planned step once its commit landed (`bootstrap`: the
    * manifest renamed in with the staged table directory).
    */
  def applyStep(ref: TableRef, step: Step, bootstrap: Boolean): Unit = step match {
    case KeepManifest => ()
    case DropManifest => fs(dir(ref)).delete(dir(ref), true)
    case AppendPart(stats) => appendPart(ref, stats)
    case SwapManifest((tmp, seeded)) =>
      publish(ref, (if (bootstrap) dir(ref) else tmp, seeded))
  }

  /** Re-register the table's planner stats from its manifest —
    * invalidated instead while deletion vectors are live (manifest row
    * counts do not subtract them) or when registration fails, so the
    * registry never keeps serving pre-commit numbers.
    */
  def refresh(ref: TableRef, dvLive: Boolean): Unit =
    if (dvLive || !register(wh.path(ref)))
      TableStatsRegistry.invalidate(wh.path(ref))

  /** The manifest follows a column widened to `newType`: min/max re-cast,
    * the column's blooms NULLED (a bloom hashes the value's physical
    * width, so narrow words probed at the wide width would falsely skip
    * files). Swapped in after the schema commit.
    */
  def castColumn(ref: TableRef, column: String, newType: DataType): Unit =
    frame(ref).filter(_.columns.contains(s"min_$column")).foreach { old =>
      val recast = old
        .withColumn(s"min_$column", col(s"min_$column").cast(newType))
        .withColumn(s"max_$column", col(s"max_$column").cast(newType))
      swap(ref, if (!old.columns.contains(s"bloom_$column")) recast
        else recast.withColumn(s"bloom_$column", lit(null).cast(ArrayType(LongType))))
    }

  /** Rename the manifest columns of `from` to `to` (an O(manifest)
    * rewrite) — the mapped rename's manifest carry.
    */
  def renameColumn(ref: TableRef, from: String, to: String): Unit =
    frame(ref).foreach { m =>
      val renames = Seq("min_", "max_", "ndv_", "nulls_", "bloom_")
        .map(p => (s"$p$from", s"$p$to"))
        .filter { case (a, _) => m.columns.contains(a) }
      if (renames.nonEmpty)
        swap(ref, renames.foldLeft(m) { case (d, (a, b)) => d.withColumnRenamed(a, b) })
    }

  /** Aggregate the manifest's per-file stats into the JVM-wide
    * [[TableStatsRegistry]]. Returns whether stats were registered —
    * false when the manifest is absent, predates the rows column, or
    * holds zero (or not fully accounted) files; the registry only ever
    * holds sums it can fully account for. An ndv column counts only
    * when EVERY file carries it (mixed footer/scan-era manifests).
    */
  def register(tablePath: String): Boolean = PhaseTimer.time("wh.registry") {
    frame(tablePath, localOnly = false).exists { m =>
      if (!m.columns.contains(RowsCol)) false
      else {
        val ndvCols = statsOf(m, "ndv_")
        m.queryExecution.analyzed match {
          // cached-local manifests sum DRIVER-SIDE: an agg(...).head()
          // over a LocalRelation still schedules a job, a fixed tax every
          // stats-bearing commit paid
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            val sch = m.schema
            val rowsIx = sch.fieldIndex(RowsCol)
            val rows = m.collect() // LocalTableScan: no job
            val nfiles = rows.length.toLong
            if (nfiles == 0 || rows.exists(_.isNullAt(rowsIx))) false
            else {
              val ndv = ndvCols.flatMap { c =>
                val ix = sch.fieldIndex(s"ndv_$c")
                if (rows.exists(_.isNullAt(ix))) None
                else Some(c -> rows.iterator.map(_.getAs[Number](ix).longValue).sum)
              }.toMap
              TableStatsRegistry.put(tablePath, TableStatsRegistry.TableStats(
                rows.iterator.map(_.getAs[Number](rowsIx).longValue).sum, ndv))
              true
            }
          case _ =>
            val aggs = Seq(count(lit(1)), count(col(RowsCol)), sum(col(RowsCol))) ++
              ndvCols.flatMap(c => Seq(sum(col(s"ndv_$c")), count(col(s"ndv_$c"))))
            val r = m.agg(aggs.head, aggs.tail: _*).head()
            if (r.getLong(0) > 0 && r.getLong(0) == r.getLong(1)) {
              val ndv = ndvCols.zipWithIndex.flatMap { case (c, i) =>
                if (r.isNullAt(3 + i * 2) ||
                    r.getLong(3 + i * 2 + 1) != r.getLong(0)) None
                else Some(c -> r.getLong(3 + i * 2))
              }.toMap
              TableStatsRegistry.put(tablePath,
                TableStatsRegistry.TableStats(r.getLong(2), ndv))
              true
            } else false
        }
      }
    }
  }

  // ------------------------------------------------ pruning

  /** Manifest keys the stats manifest PROVES hold no row matching
    * `filter` — THE predicate translator, serving SQL pushdown, runtime
    * filters, the split/pruned reads and the `excludedBy*` entry points.
    * The tree becomes one exclusion predicate, evaluated in ONE manifest
    * pass. None when nothing in it is provable (no manifest, no stats
    * for its columns, or no supported shape). Files with null or absent
    * stats never join the set — pruning only ever shrinks the file list.
    */
  def excluded(ref: TableRef, filter: Expression): Option[Set[String]] =
    frame(ref).flatMap { m =>
      exclusion(m, filter).map(e =>
        m.filter(e).select(FileCol).collect().map(_.getString(0)).toSet)
    }

  /** `filter` as a predicate over manifest `m`, true exactly for the
    * files it provably excludes (never null: every leaf is `<=> true`).
    * A conjunction excludes what EITHER side excludes (`||`), a
    * disjunction what BOTH do (`&&`); an unprovable side (None) counts
    * as excluding nothing, so it leaves an AND to its other side and
    * voids an OR. Per shape:
    *  - bounds (`<`, `<=`, `>`, `>=`, literal on either side):
    *    `max < lo` or `min > hi`;
    *  - points (`=`, `<=>`, IN, InSet): a file must exclude EVERY value
    *    by its [min, max] interval or its bloom. Literal lists past ten
    *    values reach pushdown as InSet, capped at [[Manifest.InListCap]]
    *    — a giant list degrades to keep-everything, never to a long
    *    manifest pass; runtime filters cap their own lists;
    *  - IS [NOT] NULL: a zero null count / an all-null file;
    *  - `LIKE 'prefix%'` on a string column: `max < prefix` or the
    *    min's first `len` characters above it.
    */
  private def exclusion(m: DataFrame, filter: Expression): Option[Column] = {
    val has = m.columns.toSet
    def sure(c: Column): Column = c <=> lit(true)
    def scala(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    def range(c: String, lo: Option[Any], hi: Option[Any]): Option[Column] =
      if (!has(s"min_$c")) None
      else Some((lo.map(v => col(s"max_$c") < lit(v)) ++
        hi.map(v => col(s"min_$c") > lit(v))).map(sure).reduce(_ || _))
    def values(c: String, vs: Seq[Any]): Option[Column] =
      if (vs.isEmpty || !has(s"min_$c")) None
      else {
        val bloom = col(s"bloom_$c")
        def clear(p: Long): Column = element_at(bloom, (p / 64).toInt + 1)
          .bitwiseAND(lit(1L << (p % 64).toInt)) === 0L
        val bloomMiss: Seq[Column] =
          if (!has(s"bloom_$c")) vs.map(_ => lit(false))
          else positions(vs, m.schema(s"min_$c").dataType).map(ps =>
            bloom.isNotNull && sure(ps.map(clear).reduce(_ || _)))
        Some(vs.zip(bloomMiss).map { case (v, miss) =>
          sure(col(s"max_$c") < lit(v) || col(s"min_$c") > lit(v)) || miss
        }.reduce(_ && _))
      }
    def nulls(c: String, allNull: Boolean): Option[Column] =
      if (!has(s"nulls_$c") || !has(RowsCol)) None
      else Some(sure(col(s"nulls_$c") === (if (allNull) col(RowsCol) else lit(0L))))
    filter match {
      case And(l, r) => (exclusion(m, l), exclusion(m, r)) match {
        case (Some(a), Some(b)) => Some(a || b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) => for (a <- exclusion(m, l); b <- exclusion(m, r)) yield a && b
      case Cmp(c, "=" | "<=>", l) => values(c, Seq(scala(l)))
      case Cmp(c, ">" | ">=", l) => range(c, Some(scala(l)), None)
      case Cmp(c, "<" | "<=", l) => range(c, None, Some(scala(l)))
      case In(a: AttributeReference, list) if list.forall {
          case l: Literal => l.value != null; case _ => false } =>
        values(a.name, list.collect { case l: Literal => scala(l) })
      case InSet(a: AttributeReference, set) if set.size <= InListCap && !set.contains(null) =>
        values(a.name, set.toSeq.map(CatalystTypeConverters.convertToScala(_, a.dataType)))
      case IsNull(a: AttributeReference) => nulls(a.name, allNull = false)
      case IsNotNull(a: AttributeReference) => nulls(a.name, allNull = true)
      case StartsWith(a: AttributeReference, l: Literal) if l.value != null &&
          has(s"min_${a.name}") && m.schema(s"min_${a.name}").dataType == StringType =>
        val (c, p) = (a.name, l.value.toString)
        Some(sure(col(s"max_$c") < lit(p) || substring(col(s"min_$c"), 1, p.length) > lit(p)))
      case _ => None
    }
  }

  /** Each value's two bloom probe positions, hashed at the manifest's
    * stored type `dt` through the writer's own expression ([[probes]]).
    * Evaluated over a one-row LocalRelation, which the optimizer folds
    * into a local scan — no Spark job, however many values.
    */
  private def positions(vs: Seq[Any], dt: DataType): Seq[Seq[Long]] = {
    val row = spark.createDataFrame(java.util.Arrays.asList(Row(0)),
        StructType(Seq(StructField("x", IntegerType))))
      .select(vs.flatMap(v => probes(lit(v).cast(dt))): _*).collect().head
    vs.indices.map(i => Seq(row.getLong(2 * i), row.getLong(2 * i + 1)))
  }

  /** (mayOverlap, provablyDisjoint) over the CURRENT version's files
    * for `filter` — None without a manifest for it. Snapshot readers
    * must use [[excluded]] directly: a pinned version's files retired
    * from the current list land in neither side here.
    */
  def split(ref: TableRef, filter: Expression): Option[(Seq[String], Seq[String])] =
    excluded(ref, filter).map { ex =>
      val (disjoint, overlap) = wh.currentDataFiles(ref)
        .partition(p => ex.contains(wh.relKey(ref)(p.toString)))
      (overlap.map(_.toString), disjoint.map(_.toString))
    }

  /** The kept files of [[split]], read like [[Warehouse.readFiles]]
    * (committed schema, live deletion vectors applied); a full read
    * without a manifest. Callers still apply their exact row filter.
    */
  def readPruned(ref: TableRef, filter: Expression): DataFrame =
    split(ref, filter) match {
      case None => wh.read(ref)
      case Some((kept, _)) if kept.isEmpty => wh.read(ref).limit(0)
      case Some((kept, _)) => wh.readFiles(ref, kept)
    }

  // ------------------------------------------------ metadata answers

  /** Metadata-only aggregates over a snapshot's file list — the
    * one-group case of [[metadataAggregateGrouped]]; an empty list
    * answers without a manifest (0 counts, null extrema).
    */
  def metadataAggregate(ref: TableRef, files: Seq[String],
                        aggs: Seq[Warehouse.MetaAgg]): Option[Seq[Any]] =
    if (files.isEmpty && aggs.nonEmpty) Some(aggs.map {
      case Warehouse.RowCount | Warehouse.ColCount(_) => 0L
      case _ => null
    })
    else metadataAggregateGrouped(ref, files.map(_ -> 0).toMap, aggs).map(_(0))

  /** Metadata-only aggregates, grouped: COUNT(*) / COUNT(col) / MIN /
    * MAX per caller-defined group of snapshot files (`groupOf`), from
    * the manifest alone — ONE driver-local aggregate, never a pass per
    * group. All-or-nothing provability, per group: every file has
    * exactly one manifest row with a non-null `rows`; COUNT(col) needs
    * its null counts; a null per-file extremum is accepted only with the
    * all-null witness `nulls_c == rows`. Extrema are exact by
    * construction (Spark's own min/max over every row at write time, or
    * value-exact footer statistics). None when anything is unprovable,
    * when deletion vectors are live (manifest counts are PHYSICAL), or
    * past the driver-local cutoff; callers fall back to the scan.
    */
  def metadataAggregateGrouped(ref: TableRef, groupOf: Map[String, Int],
                               aggs: Seq[Warehouse.MetaAgg])
      : Option[Map[Int, Seq[Any]]] = {
    import Warehouse.{ColCount, ColMax, ColMin, RowCount}
    if (aggs.isEmpty || groupOf.isEmpty) return None
    if (wh.snapshot(ref).exists(_.dvMap.nonEmpty)) return None
    frame(wh.path(ref), localOnly = true).flatMap { m =>
      // exactExtremum reads min AND max, so extrema need both columns
      val needed = aggs.flatMap {
        case RowCount => Seq(RowsCol)
        case ColCount(c) => Seq(RowsCol, s"nulls_$c")
        case ColMin(c) => Seq(s"min_$c", s"max_$c", s"nulls_$c", RowsCol)
        case ColMax(c) => Seq(s"min_$c", s"max_$c", s"nulls_$c", RowsCol)
      }.distinct
      if (!needed.forall(m.columns.contains)) None
      else {
        // a snapshot file MISSING from the manifest contributes no row,
        // so its group's accounted count falls short → unprovable
        val f = m.filter(col(FileCol).isin(groupOf.keys.toSeq: _*))
          .withColumn("__gid", element_at(typedLit(groupOf), col(FileCol)))
        def exactExtremum(c: String): Column =
          // <=> makes a null nulls_c (mixed-era manifest) a violation
          count(when(col(s"min_$c").isNull.or(col(s"max_$c").isNull)
            .and(!(col(s"nulls_$c") <=> col(RowsCol))), 1))
        val countCols = aggs.collect { case ColCount(c) => c }.distinct
        val extremaCols = aggs.collect {
          case ColMin(c) => c
          case ColMax(c) => c
        }.distinct
        // validation counts first, then one column per aggregate
        val validation: Seq[Column] = Seq(
          count(lit(1)), countDistinct(col(FileCol)), count(col(RowsCol))) ++
          countCols.map(c => count(col(s"nulls_$c"))) ++
          extremaCols.map(exactExtremum)
        val results: Seq[Column] = aggs.map {
          case RowCount => sum(col(RowsCol))
          case ColCount(c) => sum(col(RowsCol) - col(s"nulls_$c"))
          case ColMin(c) => min(col(s"min_$c"))
          case ColMax(c) => max(col(s"max_$c"))
        }
        val all = validation ++ results
        val rows = f.groupBy(col("__gid")).agg(all.head, all.tail: _*).collect()
        val expected = groupOf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val byGid = rows.map(r => r.getInt(0) -> r).toMap
        val allValid = expected.forall { case (gid, n) =>
          byGid.get(gid).exists { r =>
            r.getLong(1) == n && r.getLong(2) == n && r.getLong(3) == n &&
              countCols.indices.forall(i => r.getLong(4 + i) == n) &&
              extremaCols.indices.forall(i =>
                r.getLong(4 + countCols.size + i) == 0L)
          }
        }
        if (!allValid) None
        else Some(byGid.map { case (gid, r) =>
          gid -> aggs.indices.map(i => r.get(1 + validation.size + i))
        })
      }
    }
  }

  /** Per-column PLANNER statistics for a snapshot's files: summed
    * per-file NDV (an upper estimate, the conservative direction for
    * join sizing), exact null count and min/max. Estimates for CBO, but
    * still only when every file has exactly one manifest row; a column
    * sits out unless every file carries its NDV. None past the
    * driver-local cutoff.
    */
  def columnStatsFor(ref: TableRef, files: Seq[String])
      : Option[Map[String, Warehouse.ColStats]] = {
    if (files.isEmpty) return None
    frame(wh.path(ref), localOnly = true).flatMap { m =>
      val cols = statsOf(m, "ndv_")
      if (cols.isEmpty || !m.columns.contains(RowsCol)) None
      else {
        val f = m.filter(col(FileCol).isin(files: _*))
        val validation: Seq[Column] = Seq(
          count(lit(1)), countDistinct(col(FileCol)), count(col(RowsCol)))
        val perCol: Seq[Column] = cols.flatMap { c =>
          Seq(sum(col(s"ndv_$c")), count(col(s"ndv_$c")),
            if (m.columns.contains(s"nulls_$c")) sum(col(s"nulls_$c"))
            else lit(null).cast("long"),
            min(col(s"min_$c")), max(col(s"max_$c")))
        }
        val all = validation ++ perCol
        val row = f.agg(all.head, all.tail: _*).head()
        val n = files.size.toLong
        if (row.getLong(0) != n || row.getLong(1) != n || row.getLong(2) != n)
          None
        else Some(cols.zipWithIndex.flatMap { case (c, i) =>
          val base = validation.size + i * 5
          if (row.getLong(base + 1) != n) None
          else Some(c -> Warehouse.ColStats(
            ndv = Some(row.getLong(base)),
            nullCount = if (row.isNullAt(base + 2)) None
              else Some(row.getLong(base + 2)),
            min = Option(row.get(base + 3)),
            max = Option(row.get(base + 4))))
        }.toMap).filter(_.nonEmpty)
      }
    }
  }
}

private[catalog] object Manifest {

  /** The manifest directory name — underscore-prefixed, so Spark's file
    * index treats it as hidden and plain reads never see it as data.
    */
  private val Dir = "_graft_stats"

  private val FileCol = "file"
  private val RowsCol = "rows"

  /** Per-file bloom sizing: 4096 bits (64 longs ≈ 0.5 KB per file per
    * column), k = 2 probe positions per value from one xxhash64. The
    * false-positive rate is (1 − e^(−2n/4096))² for n distinct values
    * per file: ~0.2% at n = 100, ~5% at n = 500, ~22% at n = 1000, and
    * saturated (fpp > 50%) by n ≈ 2500 — saturation degrades to "never
    * excluded", it just stops helping. Worth having while per-file NDV
    * stays in the low hundreds; beyond that, range stats + clustering.
    */
  private val BloomWords = 64
  private val BloomBits = BloomWords * 64L

  /** The two bloom probe positions of `v`: `pmod(h, 4096)` and
    * `pmod(h >> 21, 4096)` of its xxhash64 (seed 42) — what the writer
    * projects per row and a lookup evaluates for its literals.
    */
  private def probes(v: Column): Seq[Column] = {
    val h = xxhash64(v)
    Seq(pmod(h, lit(BloomBits)), pmod(shiftright(h, 21), lit(BloomBits)))
  }

  /** The manifest layout for stat columns `stats` (name → value type)
    * and bloom columns `blooms`: `file`, `rows`, then per stat column
    * `min_c`, `max_c` (its own type), `ndv_c`, `nulls_c` and, when
    * bloomed, `bloom_c` (array of longs). The one layout the scan
    * ([[Manifest.fileStats]]) and the footers ([[FooterStats]]) emit.
    */
  def layout(stats: Seq[(String, DataType)], blooms: Seq[String]): StructType =
    StructType(Seq(StructField(FileCol, StringType), StructField(RowsCol, LongType)) ++
      stats.flatMap { case (c, t) =>
        Seq(StructField(s"min_$c", t), StructField(s"max_$c", t),
          StructField(s"ndv_$c", LongType), StructField(s"nulls_$c", LongType)) ++
          (if (blooms.contains(c)) Seq(StructField(s"bloom_$c", ArrayType(LongType)))
           else Nil)
      })

  /** The stat columns whose `prefix` column (`min_`, `ndv_`, `bloom_`)
    * manifest `m` carries.
    */
  private def statsOf(m: DataFrame, prefix: String): Seq[String] =
    m.columns.toSeq.collect { case c if c.startsWith(prefix) => c.stripPrefix(prefix) }

  /** The manifest key of data file `p` (a path, any scheme) under the
    * qualified table root `root`: the table-relative path. A file
    * outside the root keeps its absolute path, which no manifest key —
    * always relative — matches.
    */
  def keyOf(root: Path, p: Path): String = {
    val base = root.toUri.getPath.stripSuffix("/")
    val fsPath = p.toUri.getPath
    if (fsPath.startsWith(base + "/")) fsPath.substring(base.length + 1)
    else fsPath
  }

  /** `column BETWEEN lo AND hi`, either side optional — the predicate
    * the range entry points hand [[Manifest.excluded]].
    */
  def bounds(column: String, lo: Option[Any], hi: Option[Any]): Expression =
    (lo.map(v => GreaterThanOrEqual(attr(column), Literal(v))) ++
      hi.map(v => LessThanOrEqual(attr(column), Literal(v))))
      .reduceOption[Expression](And).getOrElse(Literal.TrueLiteral)

  /** `column IN (values...)` — the point entry points' predicate. */
  def in(column: String, values: Seq[Any]): Expression =
    In(attr(column), values.map(v => Literal(v)))

  private def attr(column: String) = AttributeReference(column, NullType)()

  /** `column op literal`, literal on either side and non-null: the
    * column, the operator as if the column were on the left, the literal.
    */
  private object Cmp {
    private val flipped = Map(">" -> "<", ">=" -> "<=", "<" -> ">", "<=" -> ">=")
    def unapply(e: Expression): Option[(String, String, Literal)] = e match {
      case b: BinaryComparison => (b.left, b.right) match {
        case (a: AttributeReference, l: Literal) if l.value != null =>
          Some((a.name, b.symbol, l))
        case (l: Literal, a: AttributeReference) if l.value != null =>
          Some((a.name, flipped.getOrElse(b.symbol, b.symbol), l))
        case _ => None
      }
      case _ => None
    }
  }

  /** A stats manifest written beside the live one but not yet visible:
    * its directory, plus (schema, rows, part name) to seed the cache
    * with when it was written from the driver.
    */
  type StagedManifest = (Path, Option[(StructType, Seq[Row], String)])

  /** What a commit does to the manifest: decided by [[Manifest.plan]]
    * before any file moves, applied by [[Manifest.applyStep]] after the
    * commit.
    */
  sealed trait Step
  case object KeepManifest extends Step
  case object DropManifest extends Step
  final case class AppendPart(stats: DataFrame) extends Step
  final case class SwapManifest(staged: StagedManifest) extends Step

  /** Insert-only commits append part files up to this count; the next
    * one (or any commit with retirements) rewrites the whole manifest,
    * which doubles as its compaction.
    */
  private val PartCap = 64

  /** Literal lists past this many values prune nothing. */
  val InListCap = 64

  /** Manifests at most this big materialize into the driver-local cache
    * (with blooms ≈ 0.6 KB/row, 64 MB ≈ a 100k-file table).
    */
  private val LocalBytes = 64L << 20

  /** Manifests with at most this many rows are WRITTEN from the driver
    * ([[writeLocalParquet]]) and seeded straight into the cache; larger
    * ones keep the distributed `coalesce(1).write` path. With blooms
    * this bounds the driver-held frame to ~6 MB.
    */
  private val LocalWriteRows = 10000

  /** (sessionId:tablePath) → (part-file fingerprint, LocalRelation
    * manifest), flushed whole at [[CacheMax]] entries.
    */
  private val cache =
    scala.collection.concurrent.TrieMap[String, (String, DataFrame)]()

  private val CacheMax = 256

  private def fingerprint(statuses: Seq[FileStatus]): String =
    statuses.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")

  /** Evict every cached manifest whose key contains `needle` (a
    * normalized table path).
    */
  def purgeCache(needle: String): Unit =
    cache.keys.filter(_.contains(needle)).foreach(cache.remove)

  /** One isolated session per underlying session for
    * [[Manifest.metaFrame]]: AQE off and a fixed data-derived width of 8.
    * Keyed WEAKLY by the session object, so a dropped session (and its
    * SessionState) is not kept alive through its meta session.
    */
  private val metaSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  private def metaSessionFor(spark: SparkSession): SparkSession =
    metaSessions.computeIfAbsent(spark, s => {
      val m = s.newSession()
      m.conf.set("spark.sql.adaptive.enabled", "false")
      m.conf.set("spark.sql.shuffle.partitions", "8")
      m
    })

  // ------------------------------------------------ driver-side parquet

  /** Driver-side single-file parquet writing for commit-scale manifests:
    * Spark's own [[ParquetWriteSupport]] (the executor sink's
    * WriteSupport) driven through parquet-hadoop's `ParquetWriter`, with
    * the session's write confs mirrored the way
    * `ParquetUtils.prepareWrite` does — read-back is identical to an
    * executor-written file, without a Spark job (task launch, committer
    * `_temporary` dance, job commit) per commit.
    */
  private final class Builder(file: HadoopOutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  private def writeConf(spark: SparkSession, schema: StructType): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    def mirror(key: String): Unit = // ConfigEntry default when unset; a
      // key this Spark build doesn't register is skipped rather than
      // failing the commit (spark.conf.get throws on unknown keys)
      spark.conf.getOption(key).foreach(conf.set(key, _))
    mirror("spark.sql.parquet.writeLegacyFormat")
    mirror("spark.sql.parquet.outputTimestampType")
    mirror("spark.sql.parquet.fieldId.write.enabled")
    mirror("spark.sql.parquet.datetimeRebaseModeInWrite")
    mirror("spark.sql.parquet.int96RebaseModeInWrite")
    mirror("spark.sql.parquet.variant.annotateLogicalType.enabled")
    conf
  }

  private def codec(spark: SparkSession): CompressionCodecName = {
    val name = spark.conf.get("spark.sql.parquet.compression.codec")
    try CompressionCodecName.valueOf(name.toUpperCase(java.util.Locale.ROOT))
    catch { case _: IllegalArgumentException => CompressionCodecName.SNAPPY }
  }

  /** Top-level fields marked nullable — what `spark.read.parquet` of the
    * written file reports, so seeded cache frames match read-back ones.
    */
  private def relaxedNullability(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** Write `rows` as one parquet file at `dest` (created/overwritten),
    * no Spark job. Name it `*.parquet`: readers address parts by suffix.
    */
  def writeLocalParquet(spark: SparkSession, schema: StructType,
                        rows: Seq[Row], dest: Path): Unit = {
    val conf = writeConf(spark, schema)
    val toInternal = ExpressionEncoder(RowEncoder.encoderFor(schema))
      .createSerializer()
    val writer = new Builder(HadoopOutputFile.fromPath(dest, conf))
      .withConf(conf)
      .withCompressionCodec(codec(spark))
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach(r => writer.write(toInternal(r)))
    finally writer.close()
  }
}
