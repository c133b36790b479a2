package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, current_timestamp, lit}

import graft.catalog.{TableRef, Warehouse}
import graft.meta.TableMeta
import graft.sinks.MergeTable
import graft.sql.Transform

/** One table's ingestion declaration — the constructor surface of the
  * reference's `Ingestor(spark, catalog, schema, table_name, input_format)`
  * (/root/reference/lib/ingestors.py:9-16) plus explicit paths instead of
  * Databricks' implicit `/Volumes/raw/...` + notebook-relative files.
  *
  * @param inputFormat `json`/`parquet`/`csv`/`orc`/`xml` →
  *                    schema-enforced raw glob scan; anything else (the
  *                    reference's silver specs say `delta`) → the SQL
  *                    transform reads upstream tables directly
  *                    (ingestors.py:82-85).
  */
final case class IngestSpec(
    ref: TableRef,
    inputFormat: String,
    rawRoot: String,
    metadataDir: String) {
  /** `/Volumes/raw/{schema}/{table}` convention (ingestors.py:15). */
  def rawPath: String = s"$rawRoot/${ref.schema}/${ref.table}"
  /** `./{table}/{table}.sql|.yml` convention (ingestors.py:16,30). */
  def queryPath: String = s"$metadataDir/${ref.table}/${ref.table}.sql"
  def yamlPath: String = s"$metadataDir/${ref.table}/${ref.table}.yml"
}

object Ingestor {
  /** Raw-zone formats [[Ingestor.load]] scans; any other format runs
    * the SQL transform over upstream tables.
    */
  val FileFormats: Set[String] = Set("json", "parquet", "csv", "orc", "xml")
}

/** Full-overwrite ingestion (SURVEY.md §3.1): schema-enforced raw scan
  * (S1/S2) + `loaded_at` audit column + temp view (S6), or SQL transform
  * for non-file formats (S7), then K1 overwrite save. Unlike the
  * reference (which prints-and-swallows, ingestors.py:87-88), errors
  * propagate — per-table isolation is the job runner's concern.
  */
class Ingestor(spark: SparkSession, warehouse: Warehouse, val spec: IngestSpec) {

  protected def meta: TableMeta = TableMeta.fromYamlFile(spec.yamlPath)

  protected def openQuery(): String =
    new String(Files.readAllBytes(Paths.get(spec.queryPath)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Register every existing warehouse table so transforms can reference
    * `catalog.schema.table` names (resolved by Transform.sql).
    */
  protected def upstreamViews(): Map[String, String] =
    warehouse.listTables().map { ref =>
      ref.toString -> warehouse.registerView(ref)
    }.toMap

  /** ingestors.py:75-88. File formats land raw columns + `loaded_at`
    * verbatim (the transform is NOT applied on this path — SURVEY §3.1);
    * other formats run the transform against upstream tables.
    */
  def load(): DataFrame = spec.inputFormat match {
    case f if Ingestor.FileFormats(f) =>
      val reader = spark.read.format(spec.inputFormat).schema(meta.schema)
      // CSV/XML raw zones follow the same bronze convention as JSON —
      // all columns declared string, typing deferred to the transform —
      // so the declared schema IS the parse spec; header row (CSV) /
      // fixed <row> record tag (XML) for column alignment, no inference
      val withOpts = spec.inputFormat match {
        case "csv" => reader.option("header", "true")
        case "xml" => reader.option("rowTag", "row")
        case _     => reader
      }
      val df = withOpts
        .load(s"${spec.rawPath}/*.${spec.inputFormat}")
        .withColumn("loaded_at", current_timestamp())
      df.createOrReplaceTempView(s"view_${spec.ref.table}")
      df
    case _ =>
      val df = Transform.sql(spark, openQuery(), upstreamViews())
      df.createOrReplaceTempView(s"view_${spec.ref.table}")
      df
  }

  /** K1 (ingestors.py:90-99). */
  def save(df: DataFrame): Unit = warehouse.overwrite(spec.ref, df)

  /** Run the ingestion; returns the rows written, observed DURING the
    * write (`Dataset.observe` — an accumulator on the existing action,
    * not a second scan; the run-log records it for free at any scale).
    */
  def run(): Long = {
    val obs = org.apache.spark.sql.Observation()
    save(load().observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }
}

/** CDC ingestion (SURVEY.md §3.2): load, then run the transform over the
  * batch's temp view (intra-batch dedup lives in the transform's QUALIFY),
  * then merge latest-wins into the target on
  * `old.id = new.id AND new.ts >= old.ts` (ingestors.py:117-129).
  * The id field is the FIRST `key: true` column and ts the first
  * `date_predicate: true` column (ingestors.py:35-39). Unlike the
  * reference (whose `DeltaTable.forName` requires a pre-created target),
  * the first run bootstraps the table.
  */
class IngestorCDC(spark: SparkSession, warehouse: Warehouse, spec: IngestSpec)
  extends Ingestor(spark, warehouse, spec) {

  def upsert(df: DataFrame): Unit = {
    df.createOrReplaceTempView(s"view_${spec.ref.table}")
    merge(Transform.sql(spark, openQuery(), upstreamViews()))
  }

  private def merge(batch: DataFrame): Unit = {
    val m = meta
    new MergeTable(spark, warehouse, spec.ref, Seq(m.idField), Some(m.tsField))
      .upsert(batch)
  }

  /** Rows here = BATCH rows entering the merge (the merge's first
    * action — the prune-bounds aggregate — completes the observation).
    * The observed frame must be one the merge executes: a file batch
    * feeds the transform through its temp view, while a table-sourced
    * spec's `load()` already IS the transform over the upstream tables
    * ([[upsert]] would plan it anew and never run the observed frame).
    */
  override def run(): Long = {
    val obs = org.apache.spark.sql.Observation()
    val batch = load().observe(obs, count(lit(1)).as("rows"))
    if (Ingestor.FileFormats(spec.inputFormat)) upsert(batch) else merge(batch)
    obs.get("rows").asInstanceOf[Long]
  }
}
