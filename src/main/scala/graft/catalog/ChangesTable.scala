package graft.catalog

import java.util

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The CHANGE DATA FEED read surface — an Iceberg-style metadata table
  * addressed as `graft.<cat>.<schema>.<table>.changes`, readable as
  * BATCH and as a STREAM:
  *
  * {{{
  * spark.sql("SELECT * FROM graft.silver.g.orders.changes")        // batch
  * spark.readStream.table("graft.silver.g.orders.changes")          // stream
  * }}}
  *
  * Rows are the base table's schema plus `_change_type` (`insert` /
  * `delete` / `update_preimage` / `update_postimage` — Delta CDF's
  * vocabulary) and `_commit_version`. Resolution is PER COMMIT and
  * JOIN-FREE (the 100 TB property: a feed read plans file scans, never
  * a diff join):
  *
  *  - maintenance rewrites (COMPACT / ZORDER) emit NOTHING — no data
  *    changed;
  *  - a commit carrying the `graft.cdc=1` marker emits its persisted
  *    change files (written atomically with the commit by
  *    [[Warehouse.deleteWhere]]/[[Warehouse.updateWhere]]/
  *    [[graft.sinks.MergeTable]] while the table's
  *    [[Warehouse.setChangeDataFeed]] property is on) — the exact
  *    changed rows, O(changes) however large the rewritten files were;
  *  - a pure append derives its added files as `insert` rows; a pure
  *    retirement (metadata-only partition drop) derives the retired
  *    files — still on disk until vacuum — as `delete` rows;
  *  - a FULL replace (overwrite / truncate), and RESTORE (which moves
  *    files but rewrites none), derive as deletes of the retired files
  *    plus inserts of the added ones — exact by construction;
  *  - a PARTIAL rewrite without change files fails loudly, naming the
  *    property to enable — a derived delete+insert of whole rewritten
  *    files would be a correct multiset diff but a lying row feed (a
  *    one-row update would fan out to thousands of phantom pairs).
  *
  * Batch reads take `option("startingVersion"/"endingVersion", v)`
  * (inclusive; default = every surviving commit). Streams run on the
  * commit-tailing core both graft sources share ([[GraftCommitStream]]:
  * offsets, start resolution, AvailableNow pin, read limits): default
  * starts at the earliest surviving version (its full state as
  * `insert` — the feed's base), `startingVersion`/`startingTimestamp`
  * tail from a point, and vacuumed ranges fail loudly.
  */
private[catalog] final class GraftChangesTable(spark: SparkSession,
                                               wh: Warehouse,
                                               private[catalog] val snap: TableSnapshot)
    extends Table with SupportsRead {

  private val committedSchema = org.apache.spark.sql.types.DataType
    .fromJson(snap.schemaJson).asInstanceOf[StructType]
  private lazy val index = new GraftFileIndex(spark, wh, snap)
  private lazy val partitionFields: StructType = index.partitionSchema
  private lazy val dataFields: StructType = StructType(
    committedSchema.filterNot(f => partitionFields.fieldNames.contains(f.name)))
  private lazy val baseSchema: StructType =
    StructType(dataFields ++ partitionFields)

  override def name(): String = s"${snap.ref}.changes"

  override def schema(): StructType = StructType(baseSchema ++ Seq(
    StructField(Warehouse.ChangeTypeCol, StringType, nullable = false),
    StructField(Warehouse.CommitVersionCol, LongType, nullable = false)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftChangesScanBuilder(spark, wh, snap, baseSchema, dataFields,
      options)
}

/** COLUMN PRUNING for the feed: a consumer selecting two columns of a
  * wide table must not scan its full width. The required base columns
  * (kept in physical output order: data fields then partition fields)
  * prune both underlying parquet shapes; `_change_type` /
  * `_commit_version` are appended by the reader regardless (declared
  * in `readSchema`, projected away by Spark when unrequested).
  */
private[catalog] final class GraftChangesScanBuilder(spark: SparkSession,
                                                     wh: Warehouse,
                                                     snap: TableSnapshot,
                                                     baseSchema: StructType,
                                                     dataFields: StructType,
                                                     options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var requiredBase: StructType = baseSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    // base order preserved (data fields then partition fields — the
    // parquet scan's physical output order)
    requiredBase = StructType(baseSchema.filter(f => names.contains(f.name)))
  }

  override def build(): Scan =
    new GraftChangesScan(spark, wh, snap, baseSchema, dataFields,
      requiredBase, options)
}

/** A metadata table whose rows materialize at plan time from the log
  * and manifest: a LocalScan — zero tasks, zero data files.
  */
private final class GraftLocalTable(tableName: String,
                                    tableSchema: StructType,
                                    materialize: () => Seq[InternalRow])
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalScan {
      override def readSchema(): StructType = tableSchema
      override def rows(): Array[InternalRow] = materialize().toArray
      override def description(): String = s"GraftLocalScan($tableName)"
    }
}

private[catalog] object GraftMetadataTables {

  /** `graft.<c>.<s>.<t>.history` — the operation ledger as a SQL-
    * readable metadata table ([[Warehouse.history]]'s columns: version,
    * operation, n_files, commit_ms; newest first), bounded by vacuum
    * retention.
    */
  def history(wh: Warehouse, ref: TableRef): Table = {
    val historySchema = StructType(Seq(
      StructField("version", LongType),
      StructField("operation", StringType),
      StructField("n_files", org.apache.spark.sql.types.IntegerType),
      StructField("commit_ms", LongType)))
    new GraftLocalTable(s"$ref.history", historySchema, () =>
      wh.history(ref).collect().toSeq.map { r =>
        InternalRow.fromSeq(r.toSeq.zip(historySchema.fields).map {
          case (v, f) => org.apache.spark.sql.catalyst
            .CatalystTypeConverters.createToCatalystConverter(f.dataType)(v)
        })
      })
  }

  /** `graft.<c>.<s>.<t>.detail` — one-row table summary (Delta's
    * `DESCRIBE DETAIL`): current version, live file count and recorded
    * bytes, partition/stats layout, governed properties (CDF, DV,
    * constraints, generated columns), deletion-vector'd and foreign
    * (shallow-clone) file counts, and live retention pins — the
    * operator's one-stop "what IS this table" answer, metadata-only.
    */
  def detail(wh: Warehouse, snap: TableSnapshot): Table = {
    val detailSchema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("size_bytes", LongType),
      StructField("partition_columns", StringType),
      StructField("stats_columns", StringType),
      StructField("num_dv_files", LongType, nullable = false),
      StructField("num_foreign_files", LongType, nullable = false),
      StructField("cdf_enabled", org.apache.spark.sql.types.BooleanType,
        nullable = false),
      StructField("dv_enabled", org.apache.spark.sql.types.BooleanType,
        nullable = false),
      StructField("constraints", StringType),
      StructField("generated_columns", StringType),
      StructField("pinned_by", StringType),
      StructField("identity_columns", StringType),
      StructField("default_columns", StringType)))
    new GraftLocalTable(s"${snap.ref}.detail", detailSchema, () => {
      val ref = snap.ref
      def csvOrNull(xs: Iterable[String]): Any =
        if (xs.isEmpty) null
        else UTF8String.fromString(xs.toSeq.sorted.mkString(","))
      Seq(InternalRow.fromSeq(Seq(
        UTF8String.fromString(ref.toString),
        snap.version,
        snap.files.size.toLong,
        // recorded bytes: every committed file has its entry
        snap.files.map(snap.fileMeta(_)._1).sum,
        csvOrNull(Warehouse.partDirCols(snap.files)),
        csvOrNull(wh.statColumns(ref)),
        snap.dvMap.size.toLong,
        snap.files.count(_.startsWith(Warehouse.ForeignPrefix)).toLong,
        wh.cdfEnabled(ref),
        wh.dvEnabled(ref),
        csvOrNull(wh.checkConstraints(ref).keys),
        csvOrNull(wh.generatedColumns(ref)
          .map { case (c, e) => s"$c AS ($e)" }),
        csvOrNull(wh.pinnedVersions(ref)
          .map { case (c, v) => s"$c@v$v" }),
        csvOrNull(wh.identityColumns(ref)
          .map { case (c, (st, sp)) => s"$c IDENTITY($st,$sp)" }),
        csvOrNull(wh.columnDefaults(ref)
          .map { case (c, e) => s"$c DEFAULT ($e)" }))))
    })
  }

  /** `graft.<c>.<s>.<t>.files` — the committed snapshot's FILE-LEVEL
    * layout as a SQL-readable metadata table (Iceberg's `files` table):
    * per live data file, its table-relative path, recorded size/mtime
    * (from the sized commit log — zero filesystem calls), and the stats
    * manifest's row count when the table keeps one (null otherwise).
    * The layout-debugging surface a 100 TB table needs — "which
    * partitions are small-file-sick", "how skewed are my file sizes" —
    * as plain SQL.
    */
  def files(wh: Warehouse, snap: TableSnapshot): Table = {
    val filesSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("bytes", LongType),
      StructField("mtime_ms", LongType),
      StructField("rows", LongType),
      // deletion-vector sidecar file, null when the file is clean
      // (`rows` stays the PHYSICAL count — live rows = rows minus the
      // cardinality of this file's bitmap in the sidecar)
      StructField("dv", StringType)))
    new GraftLocalTable(s"${snap.ref}.files", filesSchema, () => {
      val rowCounts = wh.fileRowCounts(snap.ref)
      snap.files.map { f =>
        val (bytes, mtime) = snap.fileMeta(f)
        InternalRow.fromSeq(Seq(
          UTF8String.fromString(f), bytes, mtime,
          rowCounts.get(f).map(Long.box).orNull,
          snap.dvMap.get(f).map(UTF8String.fromString).orNull))
      }
    })
  }
}

/** The feed's scan: batch plans every requested commit's partitions in
  * one shot; `toMicroBatchStream` tails them commit-by-commit. No
  * pushdown surface — the feed's rows are synthesized per commit, and
  * Spark's retained filters/projections run on top.
  */
private[catalog] final class GraftChangesScan(spark: SparkSession,
                                              wh: Warehouse,
                                              snap: TableSnapshot,
                                              baseSchema: StructType,
                                              dataFields: StructType,
                                              requiredBase: StructType,
                                              options: CaseInsensitiveStringMap)
    extends Scan {

  private val resolver = new GraftCdfResolver(spark, wh, snap, baseSchema,
    dataFields, requiredBase, options)

  override def readSchema(): StructType = StructType(requiredBase ++ Seq(
    StructField(Warehouse.ChangeTypeCol, StringType, nullable = false),
    StructField(Warehouse.CommitVersionCol, LongType, nullable = false)))

  override def description(): String =
    s"GraftChangesScan(${snap.ref}@v${snap.version})"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val ref = snap.ref
      require(options.get("endingVersion") == null ||
          options.get("endingTimestamp") == null,
        s"change feed on $ref: endingVersion and endingTimestamp are " +
          "mutually exclusive")
      val from = GraftCommitStream.startingVersion(wh, ref, options)
        .orElse(wh.earliestVersion(ref)).getOrElse(1L)
      val to = Option(options.get("endingVersion")).map(_.toLong)
        .orElse(Option(options.get("endingTimestamp")).map(t =>
          // latest commit at-or-before the instant
          wh.versionAsOf(ref, GraftCommitStream.parseTimestamp(t))))
        .getOrElse(snap.version)
      (from to to).toArray.flatMap(v =>
        resolver.versionPartitions(v, replayFull = false))
    }
    override def createReaderFactory(): PartitionReaderFactory =
      resolver.readerFactory()
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdfMicroBatchStream(wh, snap.ref, resolver, options)
}

/** Shared per-commit resolution: which file scans (with which constant
  * `_change_type`) one commit version contributes — see
  * [[GraftChangesTable]]'s rules — plus the two reader shapes (derived
  * row files vs persisted change files).
  */
private[catalog] final class GraftCdfResolver(spark: SparkSession,
                                              wh: Warehouse,
                                              snap: TableSnapshot,
                                              baseSchema: StructType,
                                              dataFields: StructType,
                                              requiredBase: StructType,
                                              options: CaseInsensitiveStringMap) {

  private val ref = snap.ref
  private val cdcSchema = StructType(baseSchema :+
    StructField(Warehouse.ChangeTypeCol, StringType, nullable = false))
  // what each shape's parquet reader emits: the PRUNED base columns
  // (+ the persisted _change_type for change files) — the reader
  // wrapper appends the constants after these
  private val requiredCdc = StructType(requiredBase :+
    StructField(Warehouse.ChangeTypeCol, StringType, nullable = false))

  /** Row-shape scan over a pseudo-snapshot of exactly `files` (manifest
    * pruning and partition-directory inference included, like the row
    * stream's per-batch scans), pruned to the required base columns.
    */
  private def rowScanPartitions(files: Seq[String],
                                meta: Map[String, (Long, Long)],
                                v: Long): Array[InputPartition] =
    if (files.isEmpty) Array.empty
    else {
      require(files.forall(!_.startsWith(Warehouse.ForeignPrefix)),
        s"change feed on $ref: version $v references a SHALLOW clone's " +
          "foreign files — materialize the clone (overwrite) before " +
          "reading its feed")
      val pseudo = TableSnapshot(ref, v, snap.schemaJson, files, meta)
      if (baseSchema.exists(_.metadata.contains(Warehouse.FieldIdKey)))
        wh.ensureFieldIdConfs() // mapped: id-resolved feed scans
      val b = ParquetScanBuilder(spark, new GraftFileIndex(spark, wh, pseudo),
        baseSchema, dataFields, options)
      b.pruneColumns(requiredBase)
      b.build().toBatch.planInputPartitions()
    }

  /** One commit's persisted change files (none without a directory). */
  def cdcFiles(v: Long): Seq[FileStatus] = {
    val dir = wh.cdcPath(ref, v)
    val filesystem = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!filesystem.exists(dir)) Seq.empty
    else filesystem.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** Cdc-shape scan over one commit's persisted change files. */
  private def cdcScanPartitions(v: Long): Array[InputPartition] = {
    val files = cdcFiles(v).map(_.getPath)
    if (files.isEmpty) Array.empty[InputPartition]
    else {
      val idx = new InMemoryFileIndex(spark, files, Map.empty, Some(cdcSchema))
      val b = ParquetScanBuilder(spark, idx, cdcSchema, cdcSchema, options)
      b.pruneColumns(requiredCdc)
      b.build().toBatch.planInputPartitions()
    }
  }

  /** One commit's feed partitions (see [[GraftChangesTable]] rules).
    * `replayFull` = the stream's base batch: the version's FULL
    * resolved state as inserts.
    */
  def versionPartitions(v: Long, replayFull: Boolean): Array[InputPartition] = {
    if (replayFull) {
      val s = wh.snapshotAt(ref, v)
      require(s.dvMap.isEmpty,
        s"change-feed stream on $ref: the replay base (version $v) " +
          "carries live deletion vectors, which this join-free reader " +
          "cannot apply — compact(ref) to materialize them, or start " +
          "the stream from a later version")
      return rowScanPartitions(s.files, s.fileMeta, v)
        .map(GraftCdfInputPartition(_, Some("insert"), v, cdcShape = false))
    }
    val cc = wh.txnLog.changesFull(ref, v).getOrElse(
      throw new IllegalStateException(
        s"change feed on $ref needs version $v, which was never committed " +
          "or fell below vacuum retention"))
    val op = cc.meta.getOrElse(Warehouse.OpMeta, "")
    def inserts: Array[InputPartition] = rowScanPartitions(cc.adds, cc.addMeta, v)
      .map(GraftCdfInputPartition(_, Some("insert"), v, cdcShape = false))
    def deletes: Array[InputPartition] = rowScanPartitions(cc.retired, cc.retiredMeta, v)
      .map(GraftCdfInputPartition(_, Some("delete"), v, cdcShape = false))
    if (op == "COMPACT" || op == "ZORDER")
      Array.empty // maintenance: no data changed
    else if (cc.meta.get(Warehouse.CdcMeta).contains("1"))
      cdcScanPartitions(v)
        .map(GraftCdfInputPartition(_, None, v, cdcShape = true))
    else if (cc.dvChanged.nonEmpty)
      // a merge-on-read delete adds and retires NOTHING — its row-level
      // deletes exist only as deletion vectors, which this file-level
      // reader cannot render; with the CDF property on the delete
      // stages change files and lands in the marked arm above
      throw new IllegalStateException(
        s"change feed on $ref: version $v ($op) committed deletion " +
          "vectors without change files — Warehouse.setChangeDataFeed(" +
          "ref, true) before DV deletes, or use the batch " +
          "Warehouse.changeFeed/snapshotDiff (both derive DV deltas)")
    else if (cc.retiredWithDv.nonEmpty)
      // a retired file that carried a vector cannot derive as whole-
      // file deletes: its already-dead positions would double-report
      throw new IllegalStateException(
        s"change feed on $ref: version $v ($op) retired files carrying " +
          "deletion vectors without change files — enable " +
          "Warehouse.setChangeDataFeed first, or use the batch " +
          "Warehouse.changeFeed/snapshotDiff")
    else if (cc.retired.isEmpty) inserts
    else if (cc.adds.isEmpty) deletes
    else if (cc.fullReplace || op == "RESTORE") deletes ++ inserts
    else throw new IllegalStateException(
      s"change feed on $ref: version $v ($op) rewrote files without " +
        "change files — Warehouse.setChangeDataFeed(ref, true) before " +
        "row-level writes, or use the batch Warehouse.changeFeed diff")
  }

  def readerFactory(): PartitionReaderFactory = {
    // schema-driven factories shared across every version's partitions
    val rowB = ParquetScanBuilder(spark,
      new GraftFileIndex(spark, wh, wh.snapshot(ref).getOrElse(snap)),
      baseSchema, dataFields, options)
    rowB.pruneColumns(requiredBase)
    val cdcB = ParquetScanBuilder(spark,
      new InMemoryFileIndex(spark, Nil, Map.empty, Some(cdcSchema)),
      cdcSchema, cdcSchema, options)
    cdcB.pruneColumns(requiredCdc)
    new GraftCdfReaderFactory(
      rowB.build().toBatch.createReaderFactory(),
      cdcB.build().toBatch.createReaderFactory())
  }
}

/** One feed partition: a delegate parquet partition plus the constants
  * its rows gain (`_change_type` unless the file shape persists it,
  * and `_commit_version`).
  */
private[catalog] final case class GraftCdfInputPartition(
    inner: InputPartition, changeType: Option[String], version: Long,
    cdcShape: Boolean) extends InputPartition

/** Dispatches each partition to its shape's parquet reader and appends
  * the constant columns via a reused [[JoinedRow]] — the same
  * row-reuse contract every file scan's partition-value append has
  * (consumers copy when they buffer).
  */
private[catalog] final class GraftCdfReaderFactory(
    rowFactory: PartitionReaderFactory,
    cdcFactory: PartitionReaderFactory) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdfInputPartition]
    val delegate =
      (if (p.cdcShape) cdcFactory else rowFactory).createReader(p.inner)
    val suffix: InternalRow = p.changeType match {
      case Some(t) => new GenericInternalRow(
        Array[Any](UTF8String.fromString(t), p.version))
      case None => new GenericInternalRow(Array[Any](p.version))
    }
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      override def next(): Boolean = delegate.next()
      override def get(): InternalRow = joined(delegate.get(), suffix)
      override def close(): Unit = delegate.close()
    }
  }
}

/** The feed as a STREAM on the commit-tailing core
  * ([[GraftCommitStream]]: offsets, start resolution, AvailableNow
  * pin, read limits), with each batch's rows resolved by
  * [[GraftCdfResolver]] instead of added-files-only.
  */
private[catalog] final class GraftCdfMicroBatchStream(wh: Warehouse,
                                                      tableRef: TableRef,
                                                      resolver: GraftCdfResolver,
                                                      options: CaseInsensitiveStringMap)
    extends GraftCommitStream(wh, tableRef, options) {

  /** One commit's feed load toward the read limits: its derived file
    * scans (adds + retired, sizes off the log) or its persisted change
    * files (one listing, only for marked commits); maintenance commits
    * count zero.
    */
  override protected def commitLoad(start: GraftStreamOffset,
                                    v: Long): (Long, Long) = {
    if (start.replays(v)) {
      val s = wh.snapshotAt(ref, v)
      return (s.files.size.toLong, s.fileMeta.values.map(_._1).sum)
    }
    wh.txnLog.changesFull(ref, v) match {
      case None => (0L, 0L) // planInputPartitions fails loudly later
      case Some(cc) =>
        val op = cc.meta.getOrElse(Warehouse.OpMeta, "")
        if (op == "COMPACT" || op == "ZORDER") (0L, 0L)
        else if (cc.meta.get(Warehouse.CdcMeta).contains("1")) {
          val sts = resolver.cdcFiles(v)
          (sts.size.toLong, sts.map(_.getLen).sum)
        } else
          ((cc.adds.size + cc.retired.size).toLong,
            cc.addMeta.values.map(_._1).sum +
              cc.retiredMeta.values.map(_._1).sum)
    }
  }

  override protected def rangePartitions(start: GraftStreamOffset,
                                         endV: Long): Array[InputPartition] =
    ((start.version + 1) to endV).toArray.flatMap(v =>
      resolver.versionPartitions(v, replayFull = start.replays(v)))

  override def createReaderFactory(): PartitionReaderFactory =
    resolver.readerFactory()
}
