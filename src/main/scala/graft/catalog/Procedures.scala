package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style SQL MAINTENANCE procedures for the graft catalog:
  *
  * {{{
  * CALL graft.system.compact('silver.facts.orders')
  * CALL graft.system.compact('silver.facts.orders', true, 'o_orderkey')
  * CALL graft.system.vacuum('silver.facts.orders', 3)
  * CALL graft.system.restore('silver.facts.orders', 2)
  * CALL graft.system.history('silver.facts.orders')
  * }}}
  *
  * This is the MAINTENANCE write surface beside the DML one of the SQL
  * catalog: where `INSERT INTO graft...` would bypass the warehouse
  * commit protocol (the reason [[GraftCatalog]] exposes no
  * `SupportsWrite`), every procedure here IS the protocol — each call
  * routes through the corresponding [[Warehouse]] entry point with its
  * locks, intent journal, stats maintenance, and atomic log append
  * intact. Results come back as a one-row summary scan (or the ledger,
  * for `history`), so `spark.sql("CALL ...")` composes like any query.
  *
  * Bind-time is metadata-only; all effects happen inside `call` on the
  * driver, exactly as the Scala API would.
  */
private[catalog] object GraftProcedures {

  val Namespace = "system"

  val names: Seq[String] =
    Seq("compact", "vacuum", "restore", "history", "set_cdf",
      "add_constraint", "drop_constraint", "add_columns", "drop_columns",
      "clone", "release_pin", "copy_into")

  def load(root: String, name: String): Option[UnboundProcedure] =
    name match {
      case "release_pin" => Some(ReleasePinProcedure(root))
      case "compact" => Some(CompactProcedure(root))
      case "reorg" => Some(ReorgProcedure(root))
      case "vacuum" => Some(VacuumProcedure(root))
      case "restore" => Some(RestoreProcedure(root))
      case "history" => Some(HistoryProcedure(root))
      case "set_cdf" => Some(SetCdfProcedure(root))
      case "add_constraint" => Some(AddConstraintProcedure(root))
      case "drop_constraint" => Some(DropConstraintProcedure(root))
      case "add_columns" => Some(AddColumnsProcedure(root))
      case "drop_columns" => Some(DropColumnsProcedure(root))
      case "clone" => Some(CloneProcedure(root))
      case "copy_into" => Some(CopyIntoProcedure(root))
      case _ => None
    }

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def paramWithDefault(name: String, dt: DataType,
                               defaultSql: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(defaultSql).build()

  /** One-row (or collected-frame) result surfaced as a LocalScan. */
  private final class ResultScan(schema: StructType, rows: Seq[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = rows.toArray
  }

  private def single(schema: StructType, values: Any*): java.util.Iterator[Scan] =
    java.util.List.of[Scan](
      new ResultScan(schema, Seq(InternalRow.fromSeq(values)))).iterator()

  private def warehouse(root: String): Warehouse =
    new Warehouse(SparkSession.active, root)

  /** Shared shape: a named maintenance procedure bound to fixed
    * parameters (binding ignores the call-site type hints — the
    * parameter list is the contract).
    */
  private abstract class MaintenanceProcedure extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  /** Bin-pack small files (optionally re-clustered / z-ordered) —
    * [[Warehouse.compact]] through SQL.
    */
  private final case class CompactProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "bin-pack a table's small files; optional z-order / linear re-clustering"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("zorder", BooleanType, "false"),
      paramWithDefault("cluster_by", StringType, "NULL"),
      // OPTIMIZE ... WHERE: partition-scoped maintenance — a predicate
      // over partition columns only; whole directories match or don't
      paramWithDefault("where", StringType, "NULL"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val zorder = !input.isNullAt(1) && input.getBoolean(1)
      val clusterBy = Option(input.getUTF8String(2))
        .map(_.toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
      val where = Option(input.getUTF8String(3)).map(_.toString)
        .filter(_.trim.nonEmpty)
      val wh = warehouse(root)
      val n = wh.compact(ref, clusterBy = clusterBy, zOrder = zorder,
        partitionFilter = where)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("files_compacted", IntegerType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString), n,
        wh.currentVersion(ref).getOrElse(-1L))
    }
  }

  /** Materialize deletion vectors away (`REORG ... APPLY (PURGE)`):
    * rewrite ONLY DV'd files — [[Warehouse.reorgPurge]] through SQL.
    */
  private final case class ReorgProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "reorg"
    override def description(): String =
      "rewrite only the files carrying deletion vectors (APPLY PURGE)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("where", StringType, "NULL"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val where = Option(input.getUTF8String(1)).map(_.toString)
        .filter(_.trim.nonEmpty)
      val wh = warehouse(root)
      val n = wh.reorgPurge(ref, partitionFilter = where)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("files_rewritten", IntegerType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString), n,
        wh.currentVersion(ref).getOrElse(-1L))
    }
  }

  /** Reclaim retired data files past a version-retention horizon —
    * [[Warehouse.vacuum]] through SQL.
    */
  private final case class VacuumProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "delete data files only retired log history references"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("keep_versions", IntegerType, "1"),
      // DRY RUN: the blast-radius check before the only irreversible
      // command — same math, zero changes
      paramWithDefault("dry_run", BooleanType, "false"),
      // TIME-BASED retention (Delta's RETAIN n HOURS): keeps every
      // version committed within the window by the durable commit
      // clock; overrides keep_versions when set
      paramWithDefault("keep_hours", org.apache.spark.sql.types.DoubleType,
        "NULL"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val keep = if (input.isNullAt(1)) 1 else input.getInt(1)
      val dry = !input.isNullAt(2) && input.getBoolean(2)
      val wh0 = warehouse(root)
      val n = if (!input.isNullAt(3))
        wh0.vacuumRetain(ref, input.getDouble(3), dryRun = dry)
      else wh0.vacuum(ref, keep, dryRun = dry)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("files_deleted", IntegerType),
          StructField("dry_run", BooleanType))),
        UTF8String.fromString(ref.toString), n, dry)
    }
  }

  /** Roll a table back to a historical version as pure metadata —
    * [[Warehouse.restore]] through SQL. `RESTORE ... TIMESTAMP AS OF`
    * rides the SAME monotonic commit clock as time-travel reads:
    * `timestamp => '...'` resolves through [[Warehouse.versionAsOf]]
    * (latest version committed at or before the stamp), then restores
    * to that version — exactly one of `version`/`timestamp` is given.
    */
  private final case class RestoreProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "restore"
    override def description(): String =
      "metadata-only rollback to a committed version or timestamp"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("version", LongType, "NULL"),
      paramWithDefault("timestamp", StringType, "NULL"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val wh = warehouse(root)
      val ver = if (input.isNullAt(1)) None else Some(input.getLong(1))
      val ts = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.trim.nonEmpty)
      require(ver.isDefined != ts.isDefined,
        "restore takes exactly ONE of version => N or timestamp => '...'")
      val target = ver.getOrElse(
        wh.versionAsOf(ref, GraftCommitStream.parseTimestamp(ts.get)))
      val newVersion = wh.restore(ref, target)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("restored_version", LongType),
          StructField("new_version", LongType))),
        UTF8String.fromString(ref.toString), target, newVersion)
    }
  }

  /** Idempotent file-level batch ingestion — [[Warehouse.copyInto]]
    * through SQL: `CALL graft.system.copy_into('silver.raw.t', '/dir',
    * format => 'json', force => false)`. A re-run loads zero files; a
    * new crawl shard loads exactly its own rows.
    */
  private final case class CopyIntoProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "copy_into"
    override def description(): String =
      "load only source files not already loaded (exactly-once file ledger)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("source", StringType),
      paramWithDefault("format", StringType, "'parquet'"),
      paramWithDefault("force", BooleanType, "false"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val source = input.getUTF8String(1).toString
      val format = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.nonEmpty).getOrElse("parquet")
      val force = !input.isNullAt(3) && input.getBoolean(3)
      val (files, rows, version) =
        warehouse(root).copyInto(ref, source, format, force = force)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("files_loaded", IntegerType),
          StructField("rows_loaded", LongType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString), files, rows, version)
    }
  }

  /** Toggle the change-data-feed table property —
    * [[Warehouse.setChangeDataFeed]] through SQL (the counterpart of
    * `ALTER TABLE ... SET TBLPROPERTIES(delta.enableChangeDataFeed)`,
    * which this catalog's no-DDL stance excludes).
    */
  private final case class SetCdfProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "set_cdf"
    override def description(): String =
      "enable/disable the table's change data feed (the .changes surface)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("enabled", BooleanType, "true"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val enabled = input.isNullAt(1) || input.getBoolean(1)
      val v = warehouse(root).setChangeDataFeed(ref, enabled)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("cdf_enabled", BooleanType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString), enabled, v)
    }
  }

  /** Add a CHECK constraint — [[Warehouse.setCheckConstraint]] through
    * SQL (Delta's `ALTER TABLE ADD CONSTRAINT`; DDL stays excluded).
    * Refused when existing rows violate, like the Scala API.
    */
  private final case class AddConstraintProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "add_constraint"
    override def description(): String =
      "add a CHECK constraint every future write must satisfy"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType),
      param("predicate", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val cname = input.getUTF8String(1).toString
      val predicate = input.getUTF8String(2).toString
      val v = warehouse(root).setCheckConstraint(ref, cname, predicate)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("constraint", StringType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString), UTF8String.fromString(cname), v)
    }
  }

  /** Metadata-only ADD COLUMNS — [[Warehouse.addColumns]] through SQL
    * (`CALL graft.system.add_columns('c.s.t', 'discount DOUBLE, note STRING')`).
    */
  private final case class AddColumnsProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "add_columns"
    override def description(): String =
      "widen the committed schema with nullable columns; zero data movement"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("columns", StringType)) // DDL: "name TYPE, name TYPE"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val ddl = input.getUTF8String(1).toString
      val fields = StructType.fromDDL(ddl).fields.toSeq
      val v = warehouse(root).addColumns(ref, fields)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("added", StringType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString),
        UTF8String.fromString(fields.map(_.name).mkString(",")), v)
    }
  }

  /** CLONE — [[Warehouse.cloneTable]] through SQL
    * (`CALL graft.system.clone('silver.g.src', 'dev.g.copy', 3)`;
    * add `shallow => true` for the zero-copy variant): copy the
    * current or a pinned historical version into a fresh table,
    * properties included. Deep = vacuum-immune byte copy (the
    * reproducibility pin); shallow = metadata-only file sharing with
    * a retention pin on the source ([[Warehouse.releasePin]] when
    * done — `CALL graft.system.release_pin`).
    */
  private final case class CloneProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "clone"
    override def description(): String =
      "clone a table (optionally a pinned version; shallow => true shares files) into a fresh name"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("source", StringType),
      param("target", StringType),
      paramWithDefault("version", LongType, "NULL"),
      paramWithDefault("shallow", org.apache.spark.sql.types.BooleanType,
        "false"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = TableRef.parse(input.getUTF8String(0).toString)
      val dst = TableRef.parse(input.getUTF8String(1).toString)
      val asOf = if (input.isNullAt(2)) None else Some(input.getLong(2))
      val shallow = !input.isNullAt(3) && input.getBoolean(3)
      val wh = warehouse(root)
      val v = wh.cloneTable(src, dst, asOf, shallow = shallow)
      // the version ACTUALLY cloned, read back from the clone's own
      // lineage meta (asOf-None resolution raced past us otherwise)
      val srcV = wh.commitMeta(dst, v)
        .getOrElse("graft.clone.source_version", "-1").toLong
      single(
        StructType(Seq(StructField("source", StringType),
          StructField("target", StringType),
          StructField("source_version", LongType))),
        UTF8String.fromString(src.toString), UTF8String.fromString(dst.toString),
        srcV)
    }
  }

  /** Release a shallow clone's retention pin —
    * [[Warehouse.releasePin]] through SQL
    * (`CALL graft.system.release_pin('silver.g.src', 'dev.g.clone')`):
    * the source's next vacuum may then reclaim the pinned version's
    * files. Call after dropping or materializing the clone.
    */
  private final case class ReleasePinProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "release_pin"
    override def description(): String =
      "release a shallow clone's retention pin on its source"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("source", StringType),
      param("clone", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = TableRef.parse(input.getUTF8String(0).toString)
      val clone = TableRef.parse(input.getUTF8String(1).toString)
      val wh = warehouse(root)
      val v = wh.releasePin(src, clone)
      single(
        StructType(Seq(StructField("source", StringType),
          StructField("released", StringType),
          StructField("version", LongType))),
        UTF8String.fromString(src.toString),
        UTF8String.fromString(clone.toString), v)
    }
  }

  /** Metadata-only DROP COLUMNS — [[Warehouse.dropColumns]] through
    * SQL (`CALL graft.system.drop_columns('c.s.t', 'a, b')`).
    */
  private final case class DropColumnsProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "drop_columns"
    override def description(): String =
      "narrow the committed schema; zero data movement"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("columns", StringType)) // comma-separated names
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val names = input.getUTF8String(1).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val v = warehouse(root).dropColumns(ref, names)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("dropped", StringType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString),
        UTF8String.fromString(names.mkString(",")), v)
    }
  }

  /** Drop a CHECK constraint — [[Warehouse.dropCheckConstraint]]. */
  private final case class DropConstraintProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "drop_constraint"
    override def description(): String = "drop a CHECK constraint"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val cname = input.getUTF8String(1).toString
      val v = warehouse(root).dropCheckConstraint(ref, cname)
      single(
        StructType(Seq(StructField("table", StringType),
          StructField("constraint", StringType),
          StructField("version", LongType))),
        UTF8String.fromString(ref.toString), UTF8String.fromString(cname), v)
    }
  }

  /** The operation ledger ([[Warehouse.history]]) as a CALL result —
    * read-only, bounded by vacuum retention.
    */
  private final case class HistoryProcedure(root: String) extends MaintenanceProcedure {
    override def name(): String = "history"
    override def description(): String =
      "per-version (version, operation, n_files) ledger, newest first"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ref = TableRef.parse(input.getUTF8String(0).toString)
      val df = warehouse(root).history(ref)
      val schema = df.schema
      val rows = df.collect().map { r =>
        InternalRow.fromSeq(r.toSeq.zip(schema.fields).map { case (v, f) =>
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(f.dataType)(v)
        })
      }.toSeq
      java.util.List.of[Scan](new ResultScan(schema, rows)).iterator()
    }
  }
}
