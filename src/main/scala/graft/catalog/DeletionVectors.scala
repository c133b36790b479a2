package graft.catalog

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.Base64

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** The deletion-vector format (Delta's): per data file, a 64-bit
  * roaring bitmap of its deleted row positions — `_metadata.row_index`
  * is a long, so nothing narrows. A DV-writing commit writes ONE
  * sidecar file, `_graft_dv/v%08d`, with one `file<TAB>base64` line per
  * file it maps (portable roaring serialization), through the log's
  * durable text write; its `dv` log lines map each file to it. Vectors
  * are O(compressed deleted positions), so they build, merge and apply
  * on the driver and ride a broadcast into the scan.
  */
private[graft] object DeletionVectors {

  type Vectors = Map[String, Roaring64NavigableMap]

  /** Per-file bitmaps of a `(file, pos)` frame: each task builds its
    * partition's bitmaps map-side and ships them encoded, the driver
    * ORs them together — one job, no shuffle.
    */
  def build(positions: DataFrame): Vectors =
    positions.select(col("file"), col("pos")).mapPartitions { rows: Iterator[Row] =>
      val m = scala.collection.mutable.Map.empty[String, Roaring64NavigableMap]
      rows.foreach(r => m.getOrElseUpdate(r.getString(0), new Roaring64NavigableMap())
        .addLong(r.getLong(1)))
      m.iterator.map { case (f, bm) => (f, encode(bm)) }
    }(Encoders.tuple(Encoders.STRING, Encoders.STRING)).collect()
      .foldLeft(Map.empty: Vectors) { case (acc, (f, s)) =>
        acc.updated(f, union(acc.get(f), decode(s)))
      }

  /** A fresh bitmap holding `carried` (when any) and `more`. */
  def union(carried: Option[Roaring64NavigableMap],
            more: Roaring64NavigableMap): Roaring64NavigableMap = {
    val u = new Roaring64NavigableMap()
    carried.foreach(u.or)
    u.or(more)
    u
  }

  /** Deleted positions in one file's vector. */
  def cardinality(bm: Roaring64NavigableMap): Long = bm.getLongCardinality

  def encode(bm: Roaring64NavigableMap): String = {
    bm.runOptimize()
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    bm.serializePortable(out)
    out.flush()
    Base64.getEncoder.encodeToString(bytes.toByteArray)
  }

  def decode(s: String): Roaring64NavigableMap = {
    val bm = new Roaring64NavigableMap()
    bm.deserializePortable(new DataInputStream(
      new ByteArrayInputStream(Base64.getDecoder.decode(s))))
    bm
  }

  /** Write `vectors` as the sidecar file `p`. */
  def write(log: TxnLog, p: Path, vectors: Vectors): Unit =
    log.writeText(p, vectors.toSeq.sortBy(_._1)
      .map { case (f, bm) => s"$f\t${encode(bm)}\n" }.mkString)

  /** The vectors of `files` (table-relative) under `dvMap`, reading each
    * sidecar once. A mapped file its sidecar does not hold fails loudly
    * — silently reading it clean would resurrect deleted rows.
    */
  def load(log: TxnLog, table: Path, dvMap: Map[String, String],
           files: Iterable[String]): Vectors =
    files.flatMap(f => dvMap.get(f).map(f -> _)).groupBy(_._2).flatMap {
      case (rel, mapped) =>
        val held = log.readText(new Path(table, rel)).split('\n')
          .filter(_.nonEmpty).map { line =>
            val tab = line.lastIndexOf('\t')
            if (tab <= 0) throw new IllegalStateException(
              s"deletion-vector sidecar $rel: malformed line '$line'")
            line.substring(0, tab) -> line.substring(tab + 1)
          }.toMap
        mapped.map { case (f, _) => f -> decode(held.getOrElse(f,
          throw new IllegalStateException(
            s"deletion-vector sidecar $rel holds no vector for $f"))) }
    }.toMap

  /** The keep-filter of a scan over vectored files: false exactly for
    * the rows whose (`_metadata.file_path`, `_metadata.row_index`) a
    * vector deletes. `byPath` is keyed like `_metadata.file_path` (the
    * qualified file URI) and broadcast once per read. The filter must
    * sit directly on the file relation, where `_metadata` resolves.
    */
  def keep(spark: SparkSession, byPath: Vectors): Column = {
    val b = spark.sparkContext.broadcast(byPath)
    val live = udf((file: String, pos: Long) => !b.value.get(file).exists(_.contains(pos)))
    live(col("_metadata.file_path"), col("_metadata.row_index"))
  }
}
