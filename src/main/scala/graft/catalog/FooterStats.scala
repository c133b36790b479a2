package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.{Statistics => PqStatistics}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Driver-side per-file stats derived from the parquet FOOTERS a write
  * just produced — zero Spark jobs, the way Delta/Iceberg derive commit
  * metadata from write-time file metrics instead of re-scanning the
  * data (guide §6). Produces rows in the [[Manifest.layout]] the scan
  * emits (`file, rows, min_c, max_c, ndv_c, nulls_c`), except `ndv_c`
  * is NULL: footers carry no distinct counts,
  * so callers route tables that DECLARE ndv-dependent planning (and all
  * bloom tables) through the scan job instead.
  *
  * EXACTNESS CONTRACT: the manifest's min/max/nulls/rows feed
  * metadata-only query ANSWERS (`Manifest.metadataAggregate`), not
  * just pruning, so a footer-derived value must equal what the
  * column-pruned Spark aggregate would compute — bit for bit. Every
  * case where parquet statistics cannot guarantee that returns None
  * and the caller falls back to the scan:
  *
  *   - float/double columns: parquet writers omit NaN from min/max
  *     while Spark's max() orders NaN greatest — unprovable from the
  *     footer, always fall back;
  *   - INT96 timestamps, decimals, nested/repeated fields, unsigned
  *     ints: not in the supported map;
  *   - a row group whose statistics were dropped (values over
  *     parquet's 4 KB stats cap, foreign writers flagged corrupt) or
  *     whose null count is unset;
  *   - a statistics-truncation conf set on the session (truncated
  *     stats are valid BOUNDS but not exact VALUES);
  *   - stat-column physical types disagreeing across the staged files.
  *
  * Supported (value-exact by construction): INT32/INT64 signed ints
  * (byte/short/int/long), BOOLEAN, DATE, TIMESTAMP(MILLIS|MICROS,
  * adjusted-to-UTC), and UTF8 strings — parquet compares strings as
  * unsigned lexicographic bytes, identical to Spark's UTF8String
  * binary ordering (per-row-group extrema are merged with parquet's
  * own typed comparators, and only the winner is decoded).
  * A column absent from a file's schema contributes
  * (min,max)=(null,null), nulls=rows — exactly the scan's view of the
  * missing column. FooterStatsSpec proves value equality against the
  * scan path per type, including all-null files and partitioned dirs.
  */
private[catalog] object FooterStats {

  /** Spark-side type for a supported parquet primitive; None ⇒ the
    * whole commit falls back to the scan job.
    */
  private def sparkTypeOf(pt: PrimitiveType): Option[DataType] = {
    if (pt.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED))
      return None
    val ann = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName, ann) match {
      case (PrimitiveTypeName.BOOLEAN, null) => Some(BooleanType)
      case (PrimitiveTypeName.INT32, null) => Some(IntegerType)
      case (PrimitiveTypeName.INT32, a: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
          if a.isSigned =>
        a.getBitWidth match {
          case 8 => Some(ByteType)
          case 16 => Some(ShortType)
          case 32 => Some(IntegerType)
          case _ => None
        }
      case (PrimitiveTypeName.INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        Some(DateType)
      case (PrimitiveTypeName.INT64, null) => Some(LongType)
      case (PrimitiveTypeName.INT64, a: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
          if a.isSigned && a.getBitWidth == 64 => Some(LongType)
      case (PrimitiveTypeName.INT64, a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
          if a.isAdjustedToUTC &&
            (a.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
              a.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS) =>
        Some(TimestampType)
      case (PrimitiveTypeName.BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        Some(StringType)
      case _ => None
    }
  }

  /** Physical stat value → the external Row value `collect()` of the
    * scan-derived manifest would hold for this column type.
    */
  private def toExternal(v: Any, pt: PrimitiveType, spark: DataType): Any =
    (spark, v) match {
      case (ByteType, i: java.lang.Integer) => java.lang.Byte.valueOf(i.toByte)
      case (ShortType, i: java.lang.Integer) => java.lang.Short.valueOf(i.toShort)
      case (IntegerType, i: java.lang.Integer) => i
      case (LongType, l: java.lang.Long) => l
      case (BooleanType, b: java.lang.Boolean) => b
      case (DateType, i: java.lang.Integer) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue))
      case (TimestampType, l: java.lang.Long) =>
        val micros = pt.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if a.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
            Math.multiplyExact(l.longValue, 1000L)
          case _ => l.longValue
        }
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case (StringType, b: Binary) =>
        new String(b.getBytes, StandardCharsets.UTF_8)
      case _ => throw new IllegalStateException(
        s"unexpected stat value ${v.getClass} for $spark")
    }

  /** Derive the manifest rows for `files` (rel-key → absolute path,
    * order preserved) from their footers. None ⇒ caller must run the
    * scan job. `statsColumns` keeps the caller's order; the returned
    * schema is `file, rows, (min_c, max_c, ndv_c, nulls_c)*` with
    * min/max typed per the files' parquet schema and ndv_c all-NULL.
    */
  def derive(conf: Configuration, files: Seq[(String, Path)],
             statsColumns: Seq[String]): Option[(StructType, Seq[Row])] = {
    if (files.isEmpty) return None
    // truncated statistics are bounds, not values — refuse when any
    // truncation length is configured (Spark never sets one)
    if (conf.get("parquet.statistics.truncate.length") != null) return None
    val colTypes = scala.collection.mutable.LinkedHashMap[String, (PrimitiveType, DataType)]()
    val perFile = scala.collection.mutable.ArrayBuffer[(String, Long, Map[String, (Any, Any, Long)])]()
    for ((rel, abs) <- files) {
      val footer =
        try ParquetFileReader.readFooter(conf, abs, ParquetMetadataConverter.NO_FILTER)
        catch { case _: Exception => return None }
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks
      val rows = {
        var r = 0L
        val it = blocks.iterator()
        while (it.hasNext) r += it.next().getRowCount
        r
      }
      val stats = scala.collection.mutable.Map[String, (Any, Any, Long)]()
      for (c <- statsColumns) {
        val present = schema.containsField(c) &&
          schema.getFields.asScala.find(_.getName == c).exists(_.isPrimitive)
        if (!present) {
          // evolved-schema file without the column: the scan reads it
          // as all-null — (null, null, rows) is its exact view
          stats(c) = (null, null, rows)
        } else {
          val pt = schema.getFields.asScala.find(_.getName == c)
            .get.asPrimitiveType()
          val sparkT = sparkTypeOf(pt).getOrElse(return None)
          colTypes.get(c) match {
            case Some((prev, _)) if !prev.equals(pt) => return None
            case None => colTypes(c) = (pt, sparkT)
            case _ =>
          }
          var nulls = 0L
          var merged: PqStatistics[_] = null
          val it = blocks.iterator()
          while (it.hasNext) {
            val block = it.next()
            val chunk = block.getColumns.asScala
              .find(_.getPath.toDotString == c).getOrElse(return None)
            val st = chunk.getStatistics
            // unset/dropped statistics (4 KB cap, corrupt-writer flag)
            // are unprovable — fall back
            if (st == null || !st.isNumNullsSet) return None
            nulls += st.getNumNulls
            val nonNull = chunk.getValueCount - st.getNumNulls
            if (nonNull > 0) {
              if (!st.hasNonNullValue) return None
              if (merged == null) merged = st.copy()
              else mergeTyped(merged, st)
            }
          }
          if (merged == null) stats(c) = (null, null, nulls)
          else stats(c) = (
            toExternal(merged.genericGetMin, pt, colTypes(c)._2),
            toExternal(merged.genericGetMax, pt, colTypes(c)._2),
            nulls)
        }
      }
      perFile += ((rel, rows, stats.toMap))
    }
    // a column no file carried never registered a type — without one
    // the manifest column can't be typed; fall back (the scan job
    // types it from the declared read schema)
    if (statsColumns.exists(c => !colTypes.contains(c))) return None
    val schema = Manifest.layout(statsColumns.map(c => c -> colTypes(c)._2), Nil)
    val rows = perFile.map { case (rel, n, stats) =>
      Row.fromSeq(Seq(rel, n) ++ statsColumns.flatMap { c =>
        val (mn, mx, nulls) = stats(c)
        Seq(mn, mx, null, nulls)
      })
    }.toSeq
    Some((schema, rows))
  }

  /** `Statistics.mergeStatistics` through the erased type — both sides
    * come from the same column of the same parquet schema, so the
    * runtime classes always agree; parquet's typed comparator then
    * orders extrema exactly as the scan would (unsigned lexicographic
    * for UTF8 binary, natural for ints).
    */
  private def mergeTyped[T <: Comparable[T]](acc: PqStatistics[_],
                                             other: PqStatistics[_]): Unit =
    acc.asInstanceOf[PqStatistics[T]]
      .mergeStatistics(other.asInstanceOf[PqStatistics[T]])

  private implicit class JIterable[A](it: java.util.List[A]) {
    def asScala: Iterator[A] = {
      val i = it.iterator()
      new Iterator[A] {
        def hasNext: Boolean = i.hasNext
        def next(): A = i.next()
      }
    }
  }
}
