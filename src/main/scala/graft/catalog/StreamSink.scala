package graft.catalog

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructType}

/** The STREAMING SINK half of the commit-log table — `df.writeStream
  * .toTable("graft.<cat>.<schema>.<table>")`, the write counterpart of
  * the commit-tailing sources ([[GraftCommitStream]]; a graft table can sit on
  * BOTH ends of a Structured Streaming pipeline: `readStream.table` →
  * transform → `writeStream.toTable`, catalog-to-catalog).
  *
  * Exactly-once, Delta-sink-style: executors write each micro-batch's
  * rows as parquet into an epoch-scoped SIBLING staging directory
  * ([[Warehouse.streamStageDir]] — invisible to readers and vacuum);
  * the driver's `commit(epochId)` adopts exactly the files named by
  * the COMMITTED task messages into one append commit stamped with
  * `graft.txn.<queryId> = epochId` ([[Warehouse.commitStreamEpoch]]).
  * Because the stamp rides the commit meta atomically with the file
  * list, an epoch replayed after a checkpoint-recovery restart applies
  * NOTHING — idempotence is a property of the table, not the
  * scheduler. Complete output mode replaces the table per epoch
  * (Spark routes it through the builder's `truncate()`); Update mode
  * is refused (Spark errors before any write — this sink has no
  * key-merge semantics; use `foreachBatch` + `MergeTable`).
  *
  * Partitioned layouts are honored at the TASK level: each writer
  * routes rows into `k=v/` subdirectories of the stage dir (one open
  * parquet writer per partition value, capped — repartition by the
  * partition columns upstream for wide-partition batches), so the
  * adopted files land inside their partition directories exactly like
  * a batch append's `partitionBy` staging write. At 100 TB nothing
  * here is driver-sized: rows never leave the executors, the driver
  * only moves file NAMES; a batch costs O(batch) log bytes under the
  * delta-encoded commit and O(batch) stats-manifest rows.
  */
private[catalog] final class GraftStreamingWrite(spark: SparkSession,
                                                 wh: Warehouse,
                                                 snap: TableSnapshot,
                                                 queryId: String,
                                                 writeSchema: StructType,
                                                 replaceAll: Boolean,
                                                 options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends StreamingWrite {

  private val ref = snap.ref

  /** `option("compactAtFiles", n)` — in-loop small-file maintenance
    * (the knob [[graft.streaming.EventStreams.dedupIngestStreamNear]]
    * uses for its band table): after an epoch commits, when the
    * table's LIVE file count exceeds `n`, run [[Warehouse.compact]]
    * under the same protocol. A forever-running sink then holds
    * steady-state files at O(n + files-per-batch) instead of growing
    * one file per task per trigger without bound — at 100 TB the
    * difference between a healthy table and a million-file manifest.
    * Downstream commit-log streams see the compaction as a change
    * commit (re-emission under default semantics, silence under
    * `skipChangeCommits` — the documented contract).
    */
  private val compactAtFiles =
    Option(options.get("compactAtFiles")).map(_.toInt)

  /** Partition columns from the committed layout — ordered `k=v`
    * directory components of the committed files (the log, not a
    * catalog entry, is the source of truth for layout).
    */
  private val partCols: Seq[String] = Warehouse.partDirCols(snap.files)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // identity columns cannot ride this sink: tasks write files
    // directly and the epoch commit adopts them, so there is no
    // assignment pass — a stream frame would land forged or NULL ids
    // silently. Refuse at query start; foreachBatch + Warehouse.append
    // is the streaming shape that assigns.
    val ids = wh.identityColumns(ref)
    require(ids.isEmpty,
      s"streaming write to $ref: GENERATED ALWAYS AS IDENTITY " +
        s"column(s) ${ids.keys.mkString(",")} are engine-assigned and " +
        "this sink adopts task files verbatim — use foreachBatch with " +
        "Warehouse.append (ids assign there) or dropIdentityColumn")
    val missing = partCols.filterNot(writeSchema.fieldNames.contains)
    require(missing.isEmpty,
      s"streaming write to $ref needs partition column(s) " +
        s"${missing.mkString(",")} in the stream (the table is " +
        "directory-partitioned on them)")
    partCols.foreach { c =>
      require(GraftStreamWriterFactory.renderable(writeSchema(c).dataType),
        s"streaming write to $ref: partition column '$c' has type " +
          s"${writeSchema(c).dataType.simpleString}, which this sink " +
          "does not render into partition paths (supported: string, " +
          "integral, boolean, date)")
    }
    val dataSchema =
      StructType(writeSchema.filterNot(f => partCols.contains(f.name)))
    // Spark's own parquet write support, configured exactly as a batch
    // write would be (session timestamp/compression settings included)
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    new GraftStreamWriterFactory(
      wh.path(ref) + s".tmp-stream-$queryId",
      writeSchema, dataSchema, partCols,
      new SerializableHadoopConf(job.getConfiguration), owf)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val rels = messages.toSeq.collect {
      case m: GraftStreamCommitMessage => m.files.toSeq
    }.flatten
    wh.commitStreamEpoch(ref, queryId, epochId, rels, replaceAll)
    if (!replaceAll && rels.nonEmpty)
      compactAtFiles.foreach { n =>
        if (wh.dataFiles(ref).size > n) wh.compact(ref)
      }
    ()
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val stage = wh.streamStageDir(ref, queryId, epochId)
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stage, true)
    ()
  }
}

/** The one task-commit message shape: stage-relative paths (partition
  * subdirs included) of the files THIS committed task wrote. The
  * driver adopts only message-named files — a dead speculative
  * attempt's partial file never reaches the table.
  */
private[catalog] final case class GraftStreamCommitMessage(files: Array[String])
    extends WriterCommitMessage

/** Hadoop `Configuration` is not serializable; ship it by its own
  * write/readFields protocol (the same trick Spark's internal
  * SerializableConfiguration uses — that class is private[spark]).
  */
private[catalog] final class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[catalog] object GraftStreamWriterFactory {

  /** Types this sink renders into `k=v` partition path segments —
    * matching what the read side's directory inference round-trips
    * losslessly.
    */
  def renderable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | DateType => true
    case _ => false
  }

  /** Writers a single task may hold open at once: a batch spraying
    * more partition values than this per task should be repartitioned
    * by the partition columns upstream (one partition value per task),
    * not absorbed into unbounded memory here.
    */
  val maxOpenWriters = 128
}

private[catalog] final class GraftStreamWriterFactory(
    stageTemplate: String,
    writeSchema: StructType,
    dataSchema: StructType,
    partCols: Seq[String],
    conf: SerializableHadoopConf,
    owf: OutputWriterFactory) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftStreamDataWriter(
      new Path(stageTemplate + s"-$epochId"),
      writeSchema, dataSchema, partCols, conf.value, owf,
      partitionId, taskId)
}

/** Executor-side writer for one task of one epoch: projects data
  * columns out of each row, routes by rendered partition value into
  * per-partition parquet writers under the epoch stage dir, and
  * reports the written stage-relative paths on task commit.
  */
private[catalog] final class GraftStreamDataWriter(stageDir: Path,
                                                   writeSchema: StructType,
                                                   dataSchema: StructType,
                                                   partCols: Seq[String],
                                                   conf: Configuration,
                                                   owf: OutputWriterFactory,
                                                   partitionId: Int,
                                                   taskId: Long)
    extends DataWriter[InternalRow] {

  private val context = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-stream", 0), TaskType.MAP, partitionId),
      // low bits of the task attempt number keep speculative attempts
      // of one partition distinct in the attempt id (file names carry
      // a UUID anyway)
      (taskId % Int.MaxValue).toInt)
    new TaskAttemptContextImpl(conf, attempt)
  }

  private val dataProj = UnsafeProjection.create(
    dataSchema.fields.toIndexedSeq.map { f =>
      val i = writeSchema.fieldIndex(f.name)
      BoundReference(i, f.dataType, f.nullable)
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]
    })

  private val partGetters: Seq[InternalRow => String] = partCols.map { c =>
    val i = writeSchema.fieldIndex(c)
    val dt = writeSchema.fields(i).dataType
    val render: InternalRow => String = dt match {
      case StringType => r => r.getUTF8String(i).toString
      case IntegerType => r => r.getInt(i).toString
      case LongType => r => r.getLong(i).toString
      case ShortType => r => r.getShort(i).toString
      case ByteType => r => r.getByte(i).toString
      case BooleanType => r => r.getBoolean(i).toString
      case DateType => r => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
      case other => throw new IllegalStateException(
        s"unrenderable partition type $other reached the writer")
    }
    (r: InternalRow) =>
      if (r.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(render(r))
  }

  // open writer + its stage-relative path, per partition subpath
  private val writers = mutable.LinkedHashMap.empty[String, (OutputWriter, String)]
  private val written = mutable.ArrayBuffer.empty[String]

  private def writerFor(subdir: String): OutputWriter =
    writers.getOrElseUpdate(subdir, {
      require(writers.size < GraftStreamWriterFactory.maxOpenWriters,
        s"streaming-sink task hit ${GraftStreamWriterFactory.maxOpenWriters} " +
          "open partition writers — repartition the stream by the " +
          "partition column(s) so each task writes few partition values")
      val name = f"part-$partitionId%05d-$taskId-" +
        UUID.randomUUID().toString + owf.getFileExtension(context)
      val rel = if (subdir.isEmpty) name else s"$subdir/$name"
      val w = owf.newInstance(new Path(stageDir, rel).toString,
        dataSchema, context)
      written += rel
      (w, rel)
    })._1

  override def write(row: InternalRow): Unit = {
    val subdir =
      if (partCols.isEmpty) ""
      else partCols.indices.map(i => s"${partCols(i)}=${partGetters(i)(row)}")
        .mkString("/")
    // the parquet writer copies values out of the row during write, so
    // the projection's reused buffer is safe to hand over
    writerFor(subdir).write(dataProj(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    writers.clear()
    GraftStreamCommitMessage(written.toArray)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, _) =>
      try w.close() catch { case _: Exception => () }
    }
    writers.clear()
    val filesystem = stageDir.getFileSystem(conf)
    written.foreach { rel =>
      try filesystem.delete(new Path(stageDir, rel), false)
      catch { case _: Exception => () }
    }
    ()
  }

  override def close(): Unit = {
    writers.values.foreach { case (w, _) =>
      try w.close() catch { case _: Exception => () }
    }
    writers.clear()
  }
}
