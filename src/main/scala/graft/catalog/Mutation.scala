package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** One row-level mutation as its producer hands it to the one router,
  * [[Warehouse.mutate]]. DELETE, UPDATE and the merges are producers:
  * each plans where its claimed rows can live (`touched`) and
  * classifies those files' rows into one frame; only the router
  * decides copy-on-write or merge-on-read.
  *
  * `classify(target, onRead)` maps the router's declared-schema read
  * of the touched files (with `__gdv_file` / `__gdv_pos` when `onRead`)
  * to the CLASSIFIED FRAME:
  *  - the table's columns: the target row's pre-image (NULL on an
  *    insert);
  *  - one [[Mutation.post]] column per table column: its post-image (a
  *    kept row's own values);
  *  - [[Mutation.KindCol]]: `keep`, `update`, `delete` or `insert`;
  *  - with `onRead`, the position columns — and keep rows may be left
  *    out, so a producer can push its predicate into the scan.
  *
  * @param op      the commit's operation stamp
  * @param planned the snapshot the producer planned against
  * @param touched where the claimed rows can live ([[Mutation.Touched]])
  * @param kinds   the kinds beyond `keep` the frame can hold
  * @param addStats stats columns a merge's whole-table rewrite adds to
  *                 the table's own ([[Warehouse.rewriteTable]]); Nil
  *                 for DELETE and UPDATE
  */
private[graft] final case class Mutation(op: String, planned: TableSnapshot,
                                         touched: Mutation.Touched,
                                         kinds: Set[String], addStats: Seq[String])(
    val classify: (DataFrame, Boolean) => DataFrame)

private[graft] object Mutation {

  /** Where a producer's claimed rows can live. */
  sealed trait Touched
  /** Any file, located by the claimed-row predicate (DELETE, UPDATE):
    * copy-on-write plans the files with one per-file match count,
    * merge-on-read scans the snapshot with the predicate pushed down.
    */
  final case class Matching(claims: Column) extends Touched
  /** These files (absolute paths): a merge's key-range split. A merge
    * ([[Files]] or [[All]]) classifies through a join (window
    * tie-breaks), so two evaluations of its frame may disagree, and a
    * copy-on-write merge touching every file rewrites the table whole.
    */
  final case class Files(paths: Seq[String]) extends Touched
  /** Every file, rewritten whole whatever the deletion-vector property:
    * a by-source clause (it can claim any row), a target without a
    * stats manifest, a schema-evolving batch.
    */
  case object All extends Touched

  val KindCol = "__mut_kind"
  val Keep = "keep"
  val Update = "update"
  val Delete = "delete"
  val Insert = "insert"

  /** The post-image column of table column `c`. */
  def post(c: String): String = s"__post_$c"

  private val Pos = Set("__gdv_file", "__gdv_pos")

  /** The table columns of a classified frame. */
  def columns(frame: DataFrame): Seq[String] = frame.columns.toSeq.filterNot(c =>
    c == KindCol || Pos.contains(c) || c.startsWith("__post_"))

  def kindIn(kinds: String*): Column = col(KindCol).isin(kinds: _*)

  /** `target` classified by `kind`; each column's post-image is
    * `posts(c)` (which may read [[KindCol]]) or the row's own value.
    */
  def classified(target: DataFrame, kind: Column, posts: Map[String, Column]): DataFrame = {
    val k = target.withColumn(KindCol, kind)
    k.select(k.columns.toSeq.map(col) ++ columns(target).map(c =>
      posts.getOrElse(c, col(c)).as(post(c))): _*)
  }

  /** The post-images of the rows of `kinds`, as table rows. */
  def postRows(frame: DataFrame, kinds: String*): DataFrame =
    frame.filter(kindIn(kinds: _*)).select(columns(frame).map(c => col(post(c)).as(c)): _*)

  /** Change-data-feed rows in Delta's vocabulary, for the `kinds` the
    * frame can hold: `insert` and `update_postimage` carry post-images,
    * `update_preimage` and `delete` the target's own values.
    */
  def changeRows(frame: DataFrame, kinds: Set[String]): DataFrame = {
    val cols = columns(frame)
    Seq((Insert, true, "insert"), (Update, false, "update_preimage"),
        (Update, true, "update_postimage"), (Delete, false, "delete"))
      .collect { case (k, isPost, changeType) if kinds(k) =>
        frame.filter(col(KindCol) === k).select(cols.map(c =>
          (if (isPost) col(post(c)) else col(c)).as(c)) :+
          lit(changeType).as(Warehouse.ChangeTypeCol): _*)
      }.reduce(_ unionByName _)
  }
}
