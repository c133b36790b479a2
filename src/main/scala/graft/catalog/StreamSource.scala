package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Forwarding scan builder: batch reads keep Spark's stock parquet
  * pushdown surface (catalyst filter pushdown feeds [[GraftFileIndex]]
  * manifest pruning, column pruning feeds nested-schema pruning)
  * untouched, while `build()` wraps the resulting [[ParquetScan]] so
  * the scan ALSO answers `toMicroBatchStream` — the hook
  * `spark.readStream.table("graft.cat.sch.t")` resolves through.
  */
private[catalog] final class GraftScanBuilder(spark: SparkSession,
                                              wh: Warehouse,
                                              snap: TableSnapshot,
                                              tableSchema: StructType,
                                              dataFields: StructType,
                                              delegate: ParquetScanBuilder,
                                              options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var sawFilters = false

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // remember that ANY filter exists (pushed or retained): a
    // metadata-only aggregate answer ignores filters, so their mere
    // presence disqualifies it
    if (filters.nonEmpty) sawFilters = true
    delegate.pushFilters(filters)
  }
  override def pushedFilters: Array[Predicate] = delegate.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(requiredSchema)

  // -- metadata-only aggregates -------------------------------------
  // `SELECT count(*) / count(c) / min(c) / max(c) FROM graft...` with
  // no WHERE — ungrouped, or GROUP BY partition columns — answers from
  // the stats manifest alone (Warehouse.metadataAggregate[Grouped]) —
  // the scan becomes a LocalScan whose rows were computed at plan time
  // with ZERO data-file access, Delta/Iceberg's "metadata-only query"
  // (the grouped form is Iceberg's partition-stats shape: one row per
  // partition value off the manifest). Any unprovable piece (a column
  // without stats, a file missing from the manifest, a filter, a
  // group-by on a DATA column, DISTINCT) falls back to the normal
  // scan silently — pushdown is an optimization, never a semantics
  // change.

  private var metaAgg: Option[(StructType, Seq[Seq[Any]])] = None

  // Spark probes supportCompletePushDown then pushAggregation with the
  // SAME Aggregation — memoize so the manifest fold runs once. The
  // answer only COMMITS (build() returns the aggregate scan) in
  // pushAggregation: a probe alone must leave the normal scan intact.
  private var lastProbe: Option[(Aggregation, Option[(StructType, Seq[Seq[Any]])])] = None

  private def probe(aggregation: Aggregation): Option[(StructType, Seq[Seq[Any]])] =
    lastProbe match {
      case Some((prev, r)) if prev eq aggregation => r
      case _ =>
        val r = tryMetadataAnswer(aggregation)
        lastProbe = Some((aggregation, r))
        r
    }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    probe(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    metaAgg = probe(aggregation)
    metaAgg.isDefined
  }

  private def tryMetadataAnswer(aggregation: Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    if (sawFilters) return None
    // live deletion vectors on the SCANNED snapshot: manifest counts
    // are physical and would include merge-on-read-deleted rows. The
    // warehouse guards the CURRENT snapshot too, but a time-travel
    // scan of a DV'd version after a RESTORE cleared the current
    // dvMap would slip past that backstop — guard the snapshot this
    // scan actually holds.
    if (snap.dvMap.nonEmpty) return None
    val dataByName = dataFields.map(f => f.name -> f).toMap
    val partByName = tableSchema.fields
      .filterNot(f => dataByName.contains(f.name))
      .map(f => f.name -> f).toMap
    def dataCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            dataByName.contains(nr.fieldNames()(0)) => Some(nr.fieldNames()(0))
        case _ => None
      }
    // GROUP BY is answerable only over PARTITION columns: each group is
    // then a set of whole `k=v` directories whose files the manifest
    // accounts for exactly
    val groupCols: Option[Seq[StructField]] = {
      val gs = aggregation.groupByExpressions.toSeq.map {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            partByName.contains(nr.fieldNames()(0)) =>
          Some(partByName(nr.fieldNames()(0)))
        case _ => None
      }
      if (gs.exists(_.isEmpty)) None else Some(gs.flatten)
    }
    if (groupCols.isEmpty) return None
    val mapped: Seq[Option[(Warehouse.MetaAgg, StructField)]] =
      aggregation.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          Some((Warehouse.RowCount, StructField("count(*)", LongType, nullable = false)))
        case c: Count if !c.isDistinct =>
          dataCol(c.column).map(n =>
            (Warehouse.ColCount(n), StructField(s"count($n)", LongType, nullable = false)))
        case m: Min =>
          dataCol(m.column).map(n =>
            (Warehouse.ColMin(n), StructField(s"min($n)", dataByName(n).dataType)))
        case m: Max =>
          dataCol(m.column).map(n =>
            (Warehouse.ColMax(n), StructField(s"max($n)", dataByName(n).dataType)))
        case _ => None
      }
    if (mapped.exists(_.isEmpty) || mapped.isEmpty) return None
    val shapes = mapped.flatten
    if (groupCols.get.isEmpty)
      wh.metadataAggregate(snap.ref, snap.files, shapes.map(_._1))
        .map(values => (StructType(shapes.map(_._2)), Seq(values)))
    else {
      // per-file typed partition key for the grouped columns; any file
      // missing a segment or carrying an unparseable value → fall back
      val keyed: Seq[Option[(Seq[Any], String)]] = snap.files.map { f =>
        val key = groupCols.get.map(g =>
          GraftScanBuilder.partitionValueOf(f, g.name, g.dataType))
        if (key.exists(_.isEmpty)) None
        else Some((key.map(_.get.orNull), f))
      }
      if (keyed.exists(_.isEmpty)) return None
      val byKey: Seq[(Seq[Any], Seq[String])] = keyed.flatten
        .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      val gidOf: Map[String, Int] = byKey.zipWithIndex.flatMap {
        case ((_, files), gid) => files.map(_ -> gid)
      }.toMap
      wh.metadataAggregateGrouped(snap.ref, gidOf, shapes.map(_._1)).map { res =>
        val schema = StructType(
          groupCols.get.map(g => StructField(g.name, g.dataType)) ++
            shapes.map(_._2))
        val rows = byKey.zipWithIndex.map { case ((key, _), gid) =>
          key ++ res(gid)
        }
        (schema, rows)
      }
    }
  }

  override def build(): Scan = metaAgg match {
    case Some((schema, rows)) => new GraftMetaAggScan(snap, schema, rows)
    case None =>
      // DELETION-VECTOR reader gating (Delta's reader-protocol-version
      // refusal): this file-level scan cannot apply deletion vectors.
      // Sessions with graft.plans.GraftOptimizations never get here —
      // DvReadRewrite rewrites the relation into the DV-applying plan
      // before scan planning; a bare session must refuse rather than
      // silently resurrect deleted rows.
      require(snap.dvMap.isEmpty,
        s"${snap.ref}@v${snap.version} carries live deletion vectors; " +
          "reading it through SQL needs the graft optimizer extensions " +
          "(spark.sql.extensions=graft.plans.GraftOptimizations) or a " +
          "compact(ref) to materialize the vectors first")
      new GraftScan(spark, wh, snap, tableSchema, dataFields,
        delegate.build(), options, hadFilters = sawFilters)
  }
}

private[catalog] object GraftScanBuilder {

  /** Typed value of one `col=value` directory segment in a table-
    * relative file path: outer None = segment missing or unparseable
    * for the inferred type (caller falls back to the real scan), inner
    * None = the null partition (`__HIVE_DEFAULT_PARTITION__`). The
    * parse mirrors [[GraftScan.excludedPartitionSegments]]'s typed
    * comparison space — never raw strings.
    */
  def partitionValueOf(relPath: String, column: String,
                       dt: org.apache.spark.sql.types.DataType)
      : Option[Option[Any]] = {
    import org.apache.spark.sql.types._
    val prefix = column + "="
    relPath.split('/').dropRight(1).find(_.startsWith(prefix)).flatMap { seg =>
      val raw = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(seg.drop(prefix.length))
      if (raw == "__HIVE_DEFAULT_PARTITION__") Some(None)
      else dt match {
        case StringType => Some(Some(raw))
        case IntegerType => raw.toIntOption.map(v => Some(v))
        case LongType => raw.toLongOption.map(v => Some(v))
        case ShortType => raw.toShortOption.map(v => Some(v))
        case ByteType => raw.toByteOption.map(v => Some(v))
        case BooleanType => raw.toBooleanOption.map(v => Some(v))
        case DateType =>
          scala.util.Try(java.sql.Date.valueOf(raw)).toOption.map(v => Some(v))
        case _ => None
      }
    }
  }
}

/** The pre-computed answer of a metadata-only aggregate (one row
  * ungrouped, one per partition value grouped): Spark plans it as a
  * LocalTableScanExec — no BatchScan, no tasks, no file access (the
  * witness the gate asserts on).
  */
private[catalog] final class GraftMetaAggScan(snap: TableSnapshot,
                                              schema: StructType,
                                              resultRows: Seq[Seq[Any]])
    extends LocalScan {

  override def readSchema(): StructType = schema

  override def rows(): Array[InternalRow] =
    resultRows.map { values =>
      InternalRow.fromSeq(values.zip(schema.fields).map { case (v, f) =>
        CatalystTypeConverters.createToCatalystConverter(f.dataType)(v)
      })
    }.toArray

  override def description(): String =
    s"GraftMetaAggScan(${snap.ref}@v${snap.version}, manifest-only)"
}

/** A [[ParquetScan]] that can also stream and prune at RUNTIME. Batch
  * behavior delegates verbatim; `toMicroBatchStream` tails the COMMIT
  * LOG instead ([[GraftMicroBatchStream]]).
  *
  * Runtime (join-time) file skipping — `SupportsRuntimeV2Filtering`:
  * when this scan is the probe side of a join whose build side is
  * small and selective, Spark's dynamic-pruning rule plants an IN
  * subquery on any advertised filter attribute; after the build side
  * executes (the reused broadcast), [[filter]] receives the actual
  * join-key values and excludes every file the stats manifest PROVES
  * key-free (per-value min/max interval + bloom, through the same
  * translator static pruning uses, [[Manifest.excluded]] — snapshot-
  * safe exclusion, so time-traveling scans prune soundly too).
  * `toBatch` then re-plans with those files dropped — the dynamic file
  * pruning a 100 TB star join lives on: the dim's WHERE decides which
  * fact files are opened, at runtime, with zero manual clustering
  * hints. Oversized value lists (> [[GraftScan.runtimeInCap]]) skip
  * pruning — never a long manifest pass, never a wrong answer.
  */
private[catalog] final class GraftScan(spark: SparkSession,
                                       wh: Warehouse,
                                       snap: TableSnapshot,
                                       tableSchema: StructType,
                                       dataFields: StructType,
                                       delegate: ParquetScan,
                                       options: CaseInsensitiveStringMap,
                                       hadFilters: Boolean = false)
    extends Scan
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = delegate.readSchema()
  override def description(): String = delegate.description()

  /** Planner statistics without ANALYZE: `sizeInBytes` is the
    * delegate's (file sizes from the log-backed statuses — metadata-
    * only), and `numRows` is the EXACT committed row count summed from
    * the manifest when the scan is unfiltered and fully accounted for
    * (the [[Warehouse.metadataAggregate]] provability rules). Exact
    * cardinality is what lets join planning pick the broadcast side
    * correctly on tables nobody ever ANALYZEd — at 100 TB the
    * difference between a broadcast and a sort-merge of the wrong
    * side. Filtered scans keep the delegate's estimate (an exact
    * UNFILTERED count would overstate them).
    *
    * COLUMN statistics ride along ([[Warehouse.columnStatsFor]] →
    * DSv2 `columnStats` → catalyst attribute stats): per stat column,
    * manifest-summed NDV, exact null count, and (numeric columns
    * only — catalyst stores numeric extrema in their external form,
    * so the manifest values pass through; other types are skipped
    * rather than risking a representation mismatch) min/max. This is
    * what CBO's filter/join cardinality estimation runs on — a
    * join's output estimate becomes rows₁·rows₂/max(ndv) instead of
    * a byte-ratio guess, with zero ANALYZE. Emitted for filtered
    * scans too: they describe the TABLE, and estimation composes
    * selectivity on top.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base = delegate.estimateStatistics()
    lazy val exactRows: Option[Long] =
      if (hadFilters) None
      else wh.metadataAggregate(snap.ref, snap.files, Seq(Warehouse.RowCount))
        .map(_.head.asInstanceOf[Long])
    lazy val colStats: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      wh.columnStatsFor(snap.ref, snap.files).foreach(_.foreach { case (c, s) =>
        m.put(Expressions.column(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              s.ndv.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def nullCount(): java.util.OptionalLong =
              s.nullCount.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            private def numeric(v: Option[Any]): java.util.Optional[Object] =
              v match {
                case Some(n: java.lang.Number) =>
                  java.util.Optional.of(n.asInstanceOf[Object])
                case _ => java.util.Optional.empty()
              }
            override def min(): java.util.Optional[Object] = numeric(s.min)
            override def max(): java.util.Optional[Object] = numeric(s.max)
          })
      })
      m
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        exactRows.map(java.util.OptionalLong.of).getOrElse(base.numRows())
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  // two exclusion families with DIFFERENT keys: manifest exclusion is
  // keyed by TABLE-RELATIVE path (one manifest row per physical file,
  // partition dirs included — a basename key would merge the distinct
  // files partitionBy layouts give one task's part-file name), while
  // partition-value exclusion keys on the `col=value` DIRECTORY
  // SEGMENT (an unstatted partition column can still prune)
  @volatile private var runtimeExcludedNames: Set[String] = Set.empty
  @volatile private var runtimeExcludedSegments: Set[String] = Set.empty

  /** Directory-encoded partition columns (table schema minus the
    * parquet data columns) with their INFERRED types — the second
    * family of runtime-prunable attributes.
    */
  private val partitionFieldTypes: Map[String, org.apache.spark.sql.types.DataType] =
    tableSchema.fields.filterNot(f => dataFields.fieldNames.contains(f.name))
      .map(f => f.name -> f.dataType).toMap

  /** Columns worth planting a runtime filter on: columns the manifest
    * carries stats for, plus directory-encoded partition columns
    * (anything else could never exclude a file).
    */
  override def filterAttributes(): Array[NamedReference] =
    (wh.statColumns(snap.ref) ++ partitionFieldTypes.keys)
      .distinct.map(c => Expressions.column(c)).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    val (onPartitions, onStats) = predicates.toSeq.flatMap(inShape)
      .partition { case (column, _) => partitionFieldTypes.contains(column) }
    runtimeExcludedSegments = onPartitions.flatMap { case (column, values) =>
      excludedPartitionSegments(column, values).getOrElse(Set.empty)
    }.toSet
    // all the stats-column lists in one manifest pass
    runtimeExcludedNames = onStats.map { case (column, values) =>
      Manifest.in(column, values) }.reduceOption(And)
      .flatMap(wh.manifest.excluded(snap.ref, _)).getOrElse(Set.empty)
  }

  /** Decompose one runtime predicate; the only shape Spark's
    * runtime-filter translation emits today is
    * `IN(FieldReference, LiteralValue...)` (one entry per build-side
    * key). LiteralValue carries CATALYST-typed values — convert before
    * any comparison. None = unrecognized, prune nothing.
    */
  private def inShape(p: Predicate): Option[(String, Seq[Any])] = p.name() match {
    case "IN" =>
      p.children().toSeq match {
        case (nr: NamedReference) +: values
            if nr.fieldNames.length == 1 && values.nonEmpty &&
              values.size <= GraftScan.runtimeInCap &&
              values.forall(_.isInstanceOf[V2Literal[_]]) =>
          val scalaValues = values.map { case lv: V2Literal[_] =>
            CatalystTypeConverters.convertToScala(lv.value, lv.dataType)
          }
          if (scalaValues.contains(null)) None
          else Some((nr.fieldNames()(0), scalaValues))
        case _ => None
      }
    case _ => None
  }

  /** Dynamic PARTITION pruning: the `column=value` directory SEGMENTS
    * whose value provably matches NONE of the runtime values — any
    * file under such a directory drops. Stock Spark has no DPP for
    * DSv2 file scans at all (a v1-only feature), so this is what makes
    * a partitioned graft fact table prune under a star join.
    * Comparison happens in the partition column's INFERRED value
    * space, never raw strings (a `p=07` directory and the long `7`
    * must match): unparseable or exotically-typed segments, null
    * partitions, and missing segments all KEEP their files — exclusion
    * only when a typed comparison proves a mismatch.
    */
  private def excludedPartitionSegments(column: String,
                                        values: Seq[Any]): Option[Set[String]] = {
    import org.apache.spark.sql.types._
    val dt = partitionFieldTypes(column)
    // per-type comparator from the directory's unescaped string to the
    // runtime value; None = this type is not safely comparable
    val matches: Option[(String, Any) => Boolean] = dt match {
      case StringType => Some((dir, v) => dir == v)
      case ByteType | ShortType | IntegerType | LongType =>
        Some((dir, v) => v match {
          case n: java.lang.Number => dir.toLongOption.contains(n.longValue)
          case _ => true // unexpected runtime type: treat as a match → keep
        })
      case BooleanType =>
        Some((dir, v) => dir.toBooleanOption.contains(v))
      case DateType =>
        Some((dir, v) => scala.util.Try(
          java.sql.Date.valueOf(dir) == v).getOrElse(true))
      case _ => None
    }
    matches.map { cmp =>
      val prefix = column + "="
      snap.files.flatMap(_.split('/').find(_.startsWith(prefix))).toSet
        .filter { seg =>
          val dirVal = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(seg.drop(prefix.length))
          dirVal != "__HIVE_DEFAULT_PARTITION__" &&
            !values.exists(v => cmp(dirVal, v))
        }
    }
  }

  override def toBatch: Batch = {
    val base = delegate.toBatch
    if (runtimeExcludedNames.isEmpty && runtimeExcludedSegments.isEmpty) base
    else new RuntimeFilteredBatch(base, runtimeExcludedNames,
      runtimeExcludedSegments, snap.ref.toString,
      GraftFileIndex.qualifiedBase(spark, wh, snap))
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(spark, wh, snap, tableSchema, dataFields,
      delegate.readSchema(), options)
}

private[catalog] object GraftScan {
  /** Runtime IN lists past this size skip pruning: each value costs a
    * per-file interval+bloom test over the manifest, and a build side
    * wide enough to exceed this rarely excludes anything anyway.
    */
  val runtimeInCap = 256
}

/** The delegate batch with runtime-excluded files dropped from its
  * planned [[FilePartition]]s (empties removed, indexes re-packed):
  * by TABLE-RELATIVE PATH for manifest exclusions, by `col=value`
  * path SEGMENT for partition exclusions. Records (planned, kept)
  * into [[RuntimePrune]] so specs and gates can witness that pruning
  * actually fired.
  */
private[catalog] final class RuntimeFilteredBatch(underlying: Batch,
                                                  excludedNames: Set[String],
                                                  excludedSegments: Set[String],
                                                  table: String,
                                                  root: org.apache.hadoop.fs.Path)
    extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val planned = underlying.planInputPartitions()
    // only prune all-FilePartition plans (the parquet scan's shape);
    // anything else passes through untouched
    if (!planned.forall(_.isInstanceOf[FilePartition])) planned
    else {
      var total = 0
      var kept = 0
      def keep(f: org.apache.spark.sql.execution.datasources.PartitionedFile): Boolean = {
        val p = f.filePath.toPath
        !excludedNames.contains(Manifest.keyOf(root, p)) &&
          (excludedSegments.isEmpty ||
            !p.toUri.getPath.split('/').exists(excludedSegments.contains))
      }
      val filtered = planned.flatMap { case fp: FilePartition =>
        total += fp.files.length
        val keptFiles = fp.files.filter(keep)
        kept += keptFiles.length
        if (keptFiles.isEmpty) None else Some(keptFiles)
      }
      RuntimePrune.record(table, total, kept)
      filtered.zipWithIndex.map { case (files, i) => FilePartition(i, files) }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    underlying.createReaderFactory()
}

/** Last runtime-pruning decision per table — (files planned before
  * pruning, files kept). A plan-side witness: runtime-filtered
  * partitions only exist during execution, so specs and gates read
  * this instead of traversing executed plans.
  */
private[graft] object RuntimePrune {
  private val last = scala.collection.concurrent.TrieMap[String, (Int, Int)]()
  def record(table: String, planned: Int, kept: Int): Unit =
    last.put(table, (planned, kept))
  def lastFor(table: String): Option[(Int, Int)] = last.get(table)
}

/** Stream offset = the last commit version this stream has processed.
  * `replay` marks a DEFAULT fresh start resolved to just below the
  * earliest surviving version: the first version walked from such an
  * offset emits its FULL resolved state (the table's base as of
  * retention), not just its delta adds — a fresh stream must see the
  * whole table even when the earliest survivor is a small delta
  * commit. Later offsets are always plain.
  */
private[catalog] final case class GraftStreamOffset(version: Long,
                                                    replay: Boolean = false)
    extends Offset {
  override def json(): String =
    if (replay) s"""{"version":$version,"replay":true}"""
    else s"""{"version":$version}"""

  /** Whether version `v` is this offset's replay base: the first
    * version walked from a replay-flagged fresh start.
    */
  def replays(v: Long): Boolean = replay && v == version + 1
}

private[catalog] object GraftStreamOffset {
  def parse(json: String): GraftStreamOffset = {
    val v = """"version"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed graft stream offset: $json"))
    GraftStreamOffset(v, json.contains("\"replay\":true"))
  }
}

/** The contract every stream that tails a table's COMMIT LOG keeps —
  * the row stream ([[GraftMicroBatchStream]]) and the change feed
  * ([[GraftCdfMicroBatchStream]]) — written once. Offsets are commit
  * versions ([[GraftStreamOffset]]): checkpointable, and a replayed
  * range re-plans the same partitions. A source supplies only what one
  * commit weighs toward the read limits ([[commitLoad]]) and how a
  * version range plans its partitions ([[rangePartitions]]), plus its
  * schema-driven reader factory.
  *
  *  - Start: `startingVersion` → just before it, so version v's own
  *    changes are the first batch (loud failure when v predates
  *    retention, like Delta); `startingTimestamp` → the earliest
  *    version committed at or after it ([[Warehouse.versionSince]],
  *    Delta's inclusive contract); default → just before the EARLIEST
  *    SURVIVING version, replay-flagged: the first batch emits the
  *    table's full state as of retention, then tails deltas — a fresh
  *    stream on a table whose v1 was vacuumed (keepVersions=1 is the
  *    default!) must not walk into the hole below the horizon.
  *  - Trigger.AvailableNow pins the target version at query start, so
  *    the run drains exactly the commits that existed then and stops,
  *    whatever lands concurrently.
  *  - Rate limiting (`maxFilesPerTrigger` / `maxBytesPerTrigger`, the
  *    Delta source's knobs): a trigger admits WHOLE COMMITS from the
  *    backlog until the limit fills — a 10k-commit backfill becomes
  *    many bounded micro-batches instead of one giant plan. At least
  *    one commit always admits (progress guarantee: a single commit
  *    larger than the limit must still drain), matching Delta. Sizes
  *    ride the log's recorded per-file bytes, which every `file`/`add`
  *    line carries.
  *    Composes with AvailableNow: the pinned target bounds the walk,
  *    the limit paces it, the runner loops until the target drains.
  */
private[catalog] abstract class GraftCommitStream(wh: Warehouse,
                                                  protected val ref: TableRef,
                                                  options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** What version `v`, walked from `start`, weighs toward the read
    * limits: (files it scans, their recorded bytes).
    */
  protected def commitLoad(start: GraftStreamOffset, v: Long): (Long, Long)

  /** The partitions of the non-empty version range `(start, endV]`. */
  protected def rangePartitions(start: GraftStreamOffset,
                                endV: Long): Array[InputPartition]

  override def initialOffset(): Offset =
    GraftCommitStream.startingVersion(wh, ref, options) match {
      case Some(v) => GraftStreamOffset(v - 1)
      case None =>
        wh.earliestVersion(ref) match {
          case Some(e) if e > 1 => GraftStreamOffset(e - 1, replay = true)
          case _ => GraftStreamOffset(0L)
        }
    }

  private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(wh.currentVersion(ref).getOrElse(0L))

  private def targetVersion: Long =
    availableNowTarget.getOrElse(wh.currentVersion(ref).getOrElse(0L))

  override def latestOffset(): Offset = GraftStreamOffset(targetVersion)

  override def reportLatestOffset(): Offset = latestOffset()

  override def getDefaultReadLimit: ReadLimit = {
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
    (maxFiles, maxBytes) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }
  }

  /** The last version this trigger admits: walk `(start, target]`
    * commit by commit, accumulating each commit's [[commitLoad]], and
    * stop BEFORE the commit that would push past every active limit —
    * always admitting at least one.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val target = targetVersion
    val (fileCap, byteCap) = GraftCommitStream.caps(limit)
    if (fileCap.isEmpty && byteCap.isEmpty || s.version >= target)
      return GraftStreamOffset(target)
    var files = 0L
    var bytes = 0L
    var admitted = s.version
    var v = s.version + 1
    while (v <= target) {
      val (f, b) = commitLoad(s, v)
      files += f
      bytes += b
      // the first commit always admits; later commits admit only while
      // every active cap still holds
      val overflow = fileCap.exists(files > _) || byteCap.exists(bytes > _)
      if (admitted == s.version || !overflow) admitted = v
      if (overflow) return GraftStreamOffset(admitted)
      v += 1
    }
    GraftStreamOffset(admitted)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset].version
    if (e <= s.version) Array.empty else rangePartitions(s, e)
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[catalog] object GraftCommitStream {

  /** An explicit `startingVersion` or `startingTimestamp` (mutually
    * exclusive) resolved to the first version to read; None when
    * neither is given. Streams and the batch `.changes` read share it.
    */
  def startingVersion(wh: Warehouse, ref: TableRef,
                      options: CaseInsensitiveStringMap): Option[Long] = {
    val version = Option(options.get("startingVersion")).map(_.toLong)
    val ts = Option(options.get("startingTimestamp"))
    require(version.isEmpty || ts.isEmpty,
      s"$ref: startingVersion and startingTimestamp are mutually exclusive")
    version.orElse(ts.map(t => wh.versionSince(ref, parseTimestamp(t))))
  }

  /** A commit-instant literal → epoch millis: raw epoch millis, an
    * ISO-8601 instant (`2024-01-05T00:00:00Z`), an unzoned
    * `yyyy-MM-dd HH:mm:ss[.SSS]` read as UTC (the commit clock is UTC
    * wall time), or a bare `yyyy-MM-dd` at UTC midnight.
    */
  def parseTimestamp(s: String): Long = {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    import scala.util.Try
    val t = s.trim
    t.toLongOption
      .orElse(Try(Instant.parse(t).toEpochMilli).toOption)
      .orElse(Try(LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(ZoneOffset.UTC).toEpochMilli).toOption)
      .orElse(Try(LocalDate.parse(t).atStartOfDay
        .toInstant(ZoneOffset.UTC).toEpochMilli).toOption)
      .getOrElse(throw new IllegalArgumentException(
        s"timestamp '$s' is not epoch millis, ISO-8601, " +
          "'yyyy-MM-dd HH:mm:ss[.SSS]' or 'yyyy-MM-dd'"))
  }

  /** The (file, byte) caps a read limit carries; a composite folds its
    * parts.
    */
  private def caps(l: ReadLimit): (Option[Int], Option[Long]) = l match {
    case f: ReadMaxFiles => (Some(f.maxFiles()), None)
    case b: ReadMaxBytes => (None, Some(b.maxBytes()))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(caps).foldLeft((Option.empty[Int], Option.empty[Long])) {
        case ((f1, b1), (f2, b2)) => (f1.orElse(f2), b1.orElse(b2))
      }
    case _ => (None, None)
  }
}

/** `spark.readStream` over a warehouse table: TABLE TAILING off the
  * commit log — the counterpart of Delta's streaming source, with the
  * same contract ([[GraftCommitStream]] holds the start, AvailableNow
  * and rate-limit halves):
  *
  *  - micro-batch `(start, end]` scans the files that FIRST APPEARED
  *    in commit versions `start+1 .. end` (file-level diff of adjacent
  *    snapshots, O(touched files) per batch, never O(table));
  *  - a fresh stream starts just below the EARLIEST SURVIVING version:
  *    the first batch emits the table's full state as of retention
  *    (the replay-flagged offset), then history replays commit-by-
  *    commit — for an append-only table exactly the current contents,
  *    and sound on tables whose early versions were vacuumed; pass
  *    `option("startingVersion", v)` to begin at commit `v` (use
  *    `currentVersion + 1` for changes-only tailing — an explicit
  *    version below retention fails loudly);
  *  - a commit that REWRITES files (merge update, deleteWhere,
  *    compaction rewrites) re-emits the surviving rows of the files it
  *    added — Delta's `ignoreChanges` semantics, the honest shape for
  *    a log whose commits carry file lists rather than persisted
  *    row-level change files (the batch [[Warehouse.changeFeed]] is
  *    the row-exact diff when one is needed); pass
  *    `option("skipChangeCommits", "true")` to suppress change
  *    commits entirely (insert-only consumers, Delta's knob of the
  *    same name), or `option("startingTimestamp", t)` to begin at
  *    the first commit at-or-after a wall-clock instant;
  *  - a stream lagging past [[Warehouse.vacuum]] retention fails
  *    loudly at `snapshotAt`, like Delta's source after vacuum.
  *
  * Planning is METADATA-ONLY end-to-end: each batch's file list and
  * (bytes, mtime) come from the version files alone, the scan rides a
  * [[GraftFileIndex]] over a pseudo-snapshot of exactly the new files
  * (inheriting manifest min/max/bloom exclusion for pushed filters,
  * valid for any snapshot by the exclusion contract), and the reader
  * factory is schema-driven, shared across batches. Exactly-once comes
  * from Spark's offset log: version ranges are deterministic, replayed
  * ranges re-plan the same files.
  */
private[catalog] final class GraftMicroBatchStream(spark: SparkSession,
                                                   wh: Warehouse,
                                                   snap: TableSnapshot,
                                                   tableSchema: StructType,
                                                   dataFields: StructType,
                                                   requiredSchema: StructType,
                                                   options: CaseInsensitiveStringMap)
    extends GraftCommitStream(wh, snap.ref, options) {

  /** Delta's `skipChangeCommits`: commits that RETIRED files (merge
    * updates, deletes, compaction rewrites) emit NOTHING — only pure
    * appends flow. The honest knob for consumers that want an
    * insert-only feed off a table that also gets rewritten; the
    * default re-emits a rewrite's surviving rows (`ignoreChanges`
    * semantics, see class doc).
    */
  private val skipChangeCommits =
    Option(options.get("skipChangeCommits")).exists(_.toBoolean)

  /** One version's newly-appeared files + recorded sizes for a walk
    * that started at `start` — O(that commit's churn) off the raw log
    * file ([[TxnLog.changes]]): a delta commit's `add` lines
    * answer with no parent resolution, and the replay-flagged first
    * version emits its full resolved state (the fresh-stream base).
    * Loud failure when the version fell below vacuum retention, like
    * Delta's source after vacuum.
    */
  private def changesFor(start: GraftStreamOffset,
                         v: Long): (Seq[String], Map[String, (Long, Long)]) = {
    if (start.replays(v)) {
      val s = wh.snapshotAt(ref, v)
      require(s.dvMap.isEmpty,
        s"stream on $ref: the replay base (version $v) carries live " +
          "deletion vectors, which a file-level replay cannot apply — " +
          "compact(ref) to materialize them, or start the stream from " +
          "a later version")
      require(s.files.forall(!_.startsWith(Warehouse.ForeignPrefix)),
        s"stream on $ref: the replay base (version $v) references a " +
          "SHALLOW clone's foreign files — materialize the clone first")
      (s.files, s.fileMeta)
    } else
      wh.txnLog.changes(ref, v).map { case (adds, meta, retired) =>
        // a commit that retired files is a CHANGE commit (update /
        // delete / rewrite): under skipChangeCommits it contributes
        // nothing — only pure appends flow
        if (skipChangeCommits && retired > 0)
          (Seq.empty[String], Map.empty[String, (Long, Long)])
        else {
          // a commit whose ADDED files carry deletion vectors (RESTORE
          // to a DV'd version) cannot stream file-level: the emission
          // would include merge-on-read-deleted rows
          if (adds.nonEmpty) {
            val dv = wh.snapshotAt(ref, v).dvMap
            require(adds.forall(f => !dv.contains(f)),
              s"stream on $ref: version $v adds files carrying deletion " +
                "vectors — compact(ref) to materialize them, or " +
                "skipChangeCommits to skip change commits")
            require(adds.forall(!_.startsWith(Warehouse.ForeignPrefix)),
              s"stream on $ref: version $v adds a SHALLOW clone's " +
                "foreign files — materialize the clone first")
          }
          (adds, meta)
        }
      }.getOrElse(throw new IllegalStateException(
        s"stream on $ref needs version $v, which was never committed or " +
          "fell below vacuum retention — restart the stream (a fresh " +
          "start replays the surviving history)"))
  }

  override protected def commitLoad(start: GraftStreamOffset,
                                    v: Long): (Long, Long) = {
    val (added, meta) = changesFor(start, v)
    (added.size.toLong, added.map(meta(_)._1).sum)
  }

  /** Files first appearing in versions `(start, endV]`, with their
    * recorded sizes — one pseudo-snapshot the stock parquet machinery
    * scans. Files added then retired WITHIN the range are still
    * emitted (their rows were appended; a later delete is a later
    * fact), matching the per-commit replay a slower trigger would see.
    * O(range churn): each version contributes its recorded adds, no
    * full-list diffing ([[changesFor]]).
    */
  private def addedSnapshot(start: GraftStreamOffset, endV: Long): TableSnapshot = {
    val files = Seq.newBuilder[String]
    val meta = Map.newBuilder[String, (Long, Long)]
    ((start.version + 1) to endV).foreach { v =>
      val (added, m) = changesFor(start, v)
      files ++= added
      meta ++= m
    }
    TableSnapshot(ref, endV, snap.schemaJson, files.result().distinct,
      meta.result())
  }

  private def scanFor(pseudo: TableSnapshot): ParquetScan = {
    val b = ParquetScanBuilder(spark,
      new GraftFileIndex(spark, wh, pseudo),
      tableSchema, dataFields, options)
    b.pruneColumns(requiredSchema)
    b.build()
  }

  override protected def rangePartitions(start: GraftStreamOffset,
                                         endV: Long): Array[InputPartition] =
    scanFor(addedSnapshot(start, endV)).toBatch.planInputPartitions()

  /** Schema-driven, not file-driven — the factory from a scan over the
    * CURRENT snapshot reads any batch's file partitions (same session,
    * same read/data/partition schemas).
    */
  override def createReaderFactory(): PartitionReaderFactory =
    scanFor(wh.snapshot(ref).getOrElse(snap)).toBatch.createReaderFactory()
}
