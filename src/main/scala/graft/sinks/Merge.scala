package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.{DeletionVectors, TableRef, Warehouse}

/** Native MERGE, replacing the reference's Delta
  * `whenMatchedUpdateAll / whenNotMatchedInsertAll` (no Delta jar in this
  * environment — SURVEY.md §7.3).
  *
  * Semantics reproduced from /root/reference/lib/ingestors.py:122-126 (J1:
  * `old.id = new.id AND new.ts >= old.ts`) and
  * lib/checker_handler.py:179-191 (J2: pure 6-column equi):
  *
  *  - a target row with ≥1 source row satisfying the FULL condition is
  *    replaced by that source row's values (update-all);
  *  - a source row matching NO target row under the full condition is
  *    inserted — including the Delta quirk the reference inherits: a
  *    *stale* source row (key exists but `new.ts < old.ts`) fails the
  *    condition and is INSERTED as a duplicate key rather than discarded
  *    (SURVEY.md §2.5 J1 — covered by spec);
  *  - unmatched target rows are kept.
  *
  * Physical shape (designed for the 100 TB case): ONE equi hash join on
  * the key columns — the `ts` theta term stays in the join condition where
  * Catalyst extracts the equi part for hashing — then a per-target-row
  * window to resolve multiple matches. Catalyst broadcasts the source
  * side when it is small (typical CDC batch vs. big target); AQE handles
  * key skew. No driver-side collection anywhere.
  */
object Merge {

  private val TID = "__merge_tid"
  // the clause-condition rendering in graft.catalog.SqlMerge maps
  // source-side attributes to this prefix — keep the two in sync
  private[graft] val SRC = "__src_"
  private val PRESENT = "__src_present"
  private val KIND = "__merge_kind"
  private val Carry = Seq("__gdv_file", "__gdv_pos")

  /** Pure merge on DataFrames: returns the post-merge table contents.
    * Not materialized — it plans straight into the caller's write.
    *
    * @param keys        equi-join key columns (present in both sides)
    * @param tsField     optional ordering field: adds Delta-J1's
    *                    `source.ts >= target.ts` to the match condition
    *                    and resolves multiple matching source rows by
    *                    latest ts (the reference pre-dedups sources per
    *                    key via W1, so multi-match is a degenerate case;
    *                    Delta would abort — we resolve deterministically
    *                    and document the deviation).
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            tsField: Option[String]): DataFrame = {
    requireSameSchema(target.columns.toSeq, source, keys)
    rewrite(target, source, keys, UpsertAll, tsField, wantChanges = false,
      materialize = false)._1
  }

  /** [[merge]] plus the ROW-LEVEL CHANGE classification — the
    * change-data-feed producer: returns (merged contents, change rows)
    * where the change rows are the target schema plus
    * [[graft.catalog.Warehouse.ChangeTypeCol]] (`insert` for unmatched
    * source rows incl. the stale-row quirk, `update_preimage` /
    * `update_postimage` for each replaced target row — Delta CDF's
    * vocabulary). The classified join is MATERIALIZED once
    * (localCheckpoint, O(target slice + batch) — the caller prunes the
    * target to touched files first) so the merged output and the
    * change rows derive from the SAME multi-match tie-breaks: two
    * independent executions of a window over equal-ts matches could
    * otherwise pick different winners and make the feed lie about the
    * table.
    */
  def mergeWithChanges(target: DataFrame, source: DataFrame, keys: Seq[String],
                       tsField: Option[String]): (DataFrame, DataFrame) = {
    requireSameSchema(target.columns.toSeq, source, keys)
    val (merged, changes) = rewrite(target, source, keys, UpsertAll, tsField,
      wantChanges = true, materialize = true)
    (merged, changes.get)
  }

  /** One fully-rendered MERGE clause. Conditions and assignment values
    * are SQL text over the classified join's names: target columns
    * bare, source columns under the [[SRC]] prefix (the SqlMerge
    * renderer produces exactly this; Scala callers write it directly).
    *
    * @param action `update` | `delete` | `insert`
    * @param sets   `None` = star (`UPDATE SET *` / `INSERT *`: every
    *               target column from its same-named source column);
    *               `Some(assignments)` = explicit `col -> sqlExpr` —
    *               an UPDATE keeps unassigned columns at their target
    *               values, an INSERT nulls them (Delta's contract).
    *               By-source UPDATE expressions may reference only
    *               target columns (the source side is NULL there);
    *               INSERT values only source columns — the engine
    *               evaluates what it is given, the SQL route validates.
    */
  final case class Clause(cond: Option[String], action: String,
                          sets: Option[Seq[(String, String)]] = None)

  /** The full clause surface of one MERGE statement, in declared
    * order per list: `WHEN MATCHED` (update/delete), `WHEN NOT
    * MATCHED` (ordered conditional inserts — Delta allows several),
    * `WHEN NOT MATCHED BY SOURCE` (update/delete).
    */
  final case class MergeClauses(matched: Seq[Clause] = Nil,
                                inserts: Seq[Clause] = Nil,
                                bySource: Seq[Clause] = Nil) {
    require(matched.forall(c => c.action == "update" || c.action == "delete"),
      s"matched clause actions must be update|delete: ${matched.map(_.action)}")
    require(inserts.forall(_.action == "insert"),
      s"not-matched clause actions must be insert: ${inserts.map(_.action)}")
    require(bySource.forall(c => c.action == "update" || c.action == "delete"),
      s"by-source clause actions must be update|delete: ${bySource.map(_.action)}")
    def isEmpty: Boolean = matched.isEmpty && inserts.isEmpty && bySource.isEmpty
    /** Any star clause forces the source to carry every target column. */
    def hasStar: Boolean = (matched ++ inserts).exists(c =>
      c.action != "delete" && c.sets.isEmpty)
  }

  /** Delta-J1's update-all / insert-all as clauses: the shape
    * [[merge]], [[mergeWithChanges]] and [[mergeOnRead]] apply.
    */
  private lazy val UpsertAll = MergeClauses(
    matched = Seq(Clause(None, "update")), inserts = Seq(Clause(None, "insert")))

  /** J1 sources carry exactly the target's columns, in order. */
  private def requireSameSchema(cols: Seq[String], source: DataFrame,
                                keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "merge requires at least one key column")
    require(source.columns.toSeq == cols,
      s"merge schema mismatch: target ${cols.mkString(",")} vs source " +
        source.columns.mkString(","))
  }

  /** Compatibility constructor from the round-18 tuple shape. */
  private[graft] def clausesOf(matched: Seq[(Option[String], String)],
                               insert: Option[Option[String]],
                               bySource: Seq[Option[String]]): MergeClauses =
    MergeClauses(matched.map { case (c, a) => Clause(c, a) },
      insert.toSeq.map(c => Clause(c, "insert")),
      bySource.map(c => Clause(c, "delete")))

  /** The classified join every merge route shares: one full-outer join
    * on the keys (plus J1's `source.ts >= target.ts` when `tsField` is
    * set), one window resolving multi-match per target row (latest ts
    * first, else the first key's source ordering), and clause order
    * folded into a KIND tag (`m<i>` matched, `s<i>` by-source, `i<i>`
    * insert, `keep`). `carry` columns (merge-on-read file/pos) ride
    * through untouched; `keepKept=false` drops keep rows — merge-on-read
    * never needs them. NOT materialized: the caller decides.
    */
  private def classify(target: DataFrame, source: DataFrame,
                       keys: Seq[String], cl: MergeClauses,
                       tsField: Option[String], carry: Seq[String],
                       keepKept: Boolean): DataFrame = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val cols = target.columns.toSeq.filterNot(carry.contains)
    val missingKeys = keys.filterNot(source.columns.contains)
    require(missingKeys.isEmpty,
      s"merge source must carry the key column(s) ${missingKeys.mkString(",")}")
    if (cl.hasStar) {
      val missing = cols.filterNot(source.columns.contains)
      require(missing.isEmpty, "star clauses need the source to carry " +
        s"every target column; missing ${missing.mkString(",")}")
    }
    val srcCols = source.columns.toSeq
    val tgt = target.withColumn(TID, monotonically_increasing_id())
    val src = srcCols.foldLeft(source)((d, c) => d.withColumnRenamed(c, SRC + c))
      .withColumn(PRESENT, lit(true))
    val keyCond = keys.map(k => col(k) === col(SRC + k)).reduce(_ && _)
    val cond = tsField.fold(keyCond)(ts => keyCond && col(SRC + ts) >= col(ts))
    val joined = tgt.join(src, cond, "full_outer")
    // the winning source row per target row: latest ts first, nulls
    // last; without a ts (pure equi, J2) any match carries the same key
    // tuple, so the first key's source ordering resolves it
    // arbitrarily-but-deterministically
    val w = Window.partitionBy(TID).orderBy(tsField.fold(
      col(SRC + keys.head).asc_nulls_last)(ts => col(SRC + ts).desc_nulls_last))
    def condCol(c: Option[String]): Column =
      c.map(s => expr(s) <=> lit(true)).getOrElse(lit(true))
    def kindChain(clauses: Seq[Clause], tag: String): Column =
      clauses.zipWithIndex.foldRight(lit("keep"): Column) {
        case ((c, i), els) => when(condCol(c.cond), lit(s"$tag$i")).otherwise(els)
      }
    val matchedKind = kindChain(cl.matched, "m")
    val bySourceKind = kindChain(cl.bySource, "s")
    val insertKind = kindChain(cl.inserts, "i")
    val targetRows0 = joined.filter(col(TID).isNotNull)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .withColumn(KIND,
        when(col(PRESENT), matchedKind).otherwise(bySourceKind))
    val targetRows =
      if (keepKept) targetRows0 else targetRows0.filter(col(KIND) =!= "keep")
    val insertRows = joined.filter(col(TID).isNull)
      .withColumn(KIND, insertKind).filter(col(KIND) =!= "keep")
    val selectCols = cols.map(col) ++ srcCols.map(c => col(SRC + c)) ++
      carry.map(col) :+ col(KIND)
    targetRows.select(selectCols: _*)
      .unionByName(insertRows.select(selectCols: _*))
  }

  /** Pin a classification so separate downstream actions share its
    * window tie-breaks (and its nondeterministic clause values).
    */
  private def materialized(classified: DataFrame): DataFrame =
    graft.util.Scratch.transientCheckpoint(classified.localCheckpoint())

  /** The post-clause image of a classification — every output column
    * plus KIND, each column's value chained over the clause kinds: star
    * takes the same-named source column; explicit sets evaluate their
    * expression CAST to the target type; unassigned columns keep the
    * target value (update) or NULL (insert). The base of the chain is
    * the keep row's own value.
    */
  private def postImage(classified: DataFrame, cols: Seq[String],
                        cl: MergeClauses): DataFrame = {
    // classified carries the target columns at their own types
    val types = classified.schema.map(f => f.name -> f.dataType).toMap
    val tagged: Seq[(String, Clause, Boolean)] =
      cl.matched.zipWithIndex.map { case (c, i) => (s"m$i", c, false) } ++
      cl.bySource.zipWithIndex.map { case (c, i) => (s"s$i", c, false) } ++
      cl.inserts.zipWithIndex.map { case (c, i) => (s"i$i", c, true) }
    classified.select(cols.map { c =>
      tagged.filter(_._2.action != "delete").foldRight(col(c)) {
        case ((kind, clause, isInsert), els) =>
          val v = clause.sets match {
            case None => col(SRC + c)
            case Some(sets) => sets.toMap.get(c) match {
              case Some(sqlText) => expr(sqlText).cast(types(c))
              case None if isInsert => lit(null).cast(types(c))
              case None => col(c)
            }
          }
          when(col(KIND) === kind, v).otherwise(els)
      }.as(c)
    } :+ col(KIND): _*)
  }

  private def kindsOf(cl: MergeClauses): (Seq[String], Seq[String], Seq[String]) = {
    def pick(clauses: Seq[Clause], tag: String, act: String): Seq[String] =
      clauses.zipWithIndex.collect { case (c, i) if c.action == act => s"$tag$i" }
    val updates = pick(cl.matched, "m", "update") ++ pick(cl.bySource, "s", "update")
    val deletes = pick(cl.matched, "m", "delete") ++ pick(cl.bySource, "s", "delete")
    val inserts = cl.inserts.indices.map(i => s"i$i")
    (updates, deletes, inserts)
  }

  private def inKinds(kinds: Seq[String]): Column =
    if (kinds.isEmpty) lit(false) else col(KIND).isin(kinds: _*)

  /** CDF change rows of one classification, in Delta's vocabulary:
    * `insert` and `update_postimage` rows carry post-clause values
    * (`post`), `update_preimage` and `delete` rows the target's own
    * (`classified`).
    */
  private def changeRows(classified: DataFrame, post: DataFrame,
                         cols: Seq[String], cl: MergeClauses): DataFrame = {
    val (updates, deletes, inserts) = kindsOf(cl)
    def rows(from: DataFrame, kinds: Seq[String], changeType: String) =
      from.filter(inKinds(kinds)).select(cols.map(col) :+
        lit(changeType).as(graft.catalog.Warehouse.ChangeTypeCol): _*)
    Seq(rows(post, inserts, "insert"),
      rows(classified, updates, "update_preimage"),
      rows(post, updates, "update_postimage"),
      rows(classified, deletes, "delete")).reduce(_ unionByName _)
  }

  /** COPY-ON-WRITE output of one classification: (post-merge rows of
    * the target slice, CDF change rows when `wantChanges`).
    */
  private def rewrite(target: DataFrame, source: DataFrame, keys: Seq[String],
                      cl: MergeClauses, tsField: Option[String],
                      wantChanges: Boolean, materialize: Boolean)
      : (DataFrame, Option[DataFrame]) = {
    val cols = target.columns.toSeq
    val classified0 = classify(target, source, keys, cl, tsField,
      carry = Nil, keepKept = true)
    val classified =
      if (materialize) materialized(classified0) else classified0
    val post = postImage(classified, cols, cl)
    val merged = post.filter(!inKinds(kindsOf(cl)._2)).drop(KIND)
    (merged,
      if (wantChanges) Some(changeRows(classified, post, cols, cl)) else None)
  }

  /** MERGE-ON-READ output of one classification — the producer for
    * `Warehouse.dvReplace`: `sup`, the superseded target rows as
    * `(file, pos)` (every matched row an update OR delete clause
    * claimed — these positions join the deletion-vector sidecar);
    * `adds`, the rows to APPEND (each updated row's post-clause values
    * plus the accepted inserts); `changes`, CDF rows or None. The target
    * must carry `__gdv_file` / `__gdv_pos`
    * ([[graft.catalog.Warehouse.readFilesWithPos]]); keep rows drop
    * before the checkpoint — their bytes never move, which is the point:
    * a CDC apply costs O(changed rows), not O(touched files) of rewrite.
    */
  private def onRead(target: DataFrame, source: DataFrame, keys: Seq[String],
                     cl: MergeClauses, tsField: Option[String],
                     wantChanges: Boolean)
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    val cols = target.columns.toSeq.filterNot(Carry.contains)
    val classified = materialized(classify(target, source, keys, cl,
      tsField, carry = Carry, keepKept = false))
    val (updateKinds, deleteKinds, insertKinds) = kindsOf(cl)
    val sup = classified.filter(inKinds(updateKinds ++ deleteKinds))
      .select(col("__gdv_file").as("file"), col("__gdv_pos").as("pos"))
    val post = postImage(classified, cols, cl)
    val adds = post.filter(inKinds(updateKinds ++ insertKinds)).drop(KIND)
    (sup, adds,
      if (wantChanges) Some(changeRows(classified, post, cols, cl)) else None)
  }

  /** General MERGE clause application — the full Delta clause surface:
    *
    * {{{
    * WHEN MATCHED [AND c] THEN UPDATE SET * | SET col = expr… | DELETE
    * WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (exprs)   (ordered, several)
    * WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE    (ordered)
    * }}}
    *
    * Declared order decides — the first clause of the row's class
    * whose condition holds applies, none → keep. The source may carry
    * EXTRA columns (CDC op flags) beyond the target schema; they are
    * usable in conditions/expressions and dropped from the output.
    * Multiple source matches resolve deterministically by the first
    * key's source ordering (Delta aborts; deviation documented on
    * [[merge]]). NULL keys never match: null-key source rows are
    * insert candidates, null-key target rows are
    * not-matched-by-source.
    *
    * Returns (post-merge rows of the target slice, CDF change rows
    * when `wantChanges`) off ONE materialized classification.
    */
  def applyClauses(target: DataFrame, source: DataFrame, keys: Seq[String],
                   cl: MergeClauses, wantChanges: Boolean)
      : (DataFrame, Option[DataFrame]) =
    rewrite(target, source, keys, cl, None, wantChanges, materialize = true)

  /** MERGE-ON-READ clause application — [[applyClauses]] semantics,
    * returning `(sup, adds, changes)` for `Warehouse.dvReplace`. By-source
    * clauses are REJECTED here — they can touch any target row, so they
    * pay the copy-on-write rewrite (the caller routes).
    */
  def applyClausesOnRead(target: DataFrame, source: DataFrame,
                         keys: Seq[String], cl: MergeClauses,
                         wantChanges: Boolean)
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    require(cl.bySource.isEmpty,
      "by-source clauses can touch any target row — merge-on-read cannot " +
        "route them; use the copy-on-write path")
    onRead(target, source, keys, cl, None, wantChanges)
  }

  /** MERGE-ON-READ upsert — the DV-mode merge's producer: [[merge]] /
    * [[mergeWithChanges]] semantics, returning `(sup, adds, changes)`
    * for `Warehouse.dvReplace` off ONE materialized classification.
    * Unmatched target rows appear in NEITHER output.
    */
  def mergeOnRead(target: DataFrame, source: DataFrame, keys: Seq[String],
                  tsField: Option[String], wantChanges: Boolean)
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    requireSameSchema(target.columns.toSeq.filterNot(Carry.contains), source, keys)
    onRead(target, source, keys, UpsertAll, tsField, wantChanges)
  }
}

/** A warehouse-backed merge target: Delta-`DeltaTable.forName` stand-in
  * (S4). Bootstraps on first run like the scorecard upsert
  * (lib/checker_handler.py:173-177).
  *
  * INCREMENTAL by default, like the Delta MERGE it replaces
  * (/root/reference/lib/ingestors.py:113-126 rewrites only touched
  * files): the source batch's first-key [min, max] prunes the target's
  * stats manifest to the files that could possibly match; only those are
  * merged and rewritten, every other file keeps its original bytes and
  * path. At 100 TB that turns a daily CDC batch from a full-table
  * rewrite into work proportional to the batch's key locality — the
  * bootstrap (and any full-rewrite fallback) writes first-key file
  * stats so the NEXT upsert can prune. Falls back to the full
  * read-merge-overwrite when the target predates the manifest.
  *
  * Correctness of the pruning: a source row can only update/match a
  * target row with an equal first key; a file provably disjoint from
  * the source's first-key range therefore contains no matchable row
  * (null keys never match and min/max ignore nulls, so all-null-key
  * batches prune to pure inserts). The stale-row insert quirk (J1) is
  * preserved — any target copy of a source key lives in a touched file.
  *
  * @param collectStats write the first-key stats manifest that enables
  *                     pruning (default). Set false for KNOWN-TINY
  *                     targets (e.g. a scorecard aggregate of a few
  *                     rows) where the stats jobs cost more than the
  *                     full rewrite they would avoid.
  * @param evolveSchema accept batches whose column set differs from the
  *                      target (Delta `mergeSchema` semantics): new
  *                      columns appear null-backfilled on historical
  *                      rows, dropped columns stay null on new rows.
  *                      An evolution batch pays a FULL rewrite (so
  *                      every data file shares one schema and plain
  *                      reads never need parquet schema-merging);
  *                      steady-state same-schema batches keep the
  *                      incremental file-pruned path. Same-name
  *                      columns with conflicting types fail loudly —
  *                      silent coercion is how lakes corrupt.
  */
final class MergeTable(spark: SparkSession, warehouse: Warehouse, ref: TableRef,
                       keys: Seq[String], tsField: Option[String],
                       collectStats: Boolean = true,
                       evolveSchema: Boolean = false) {

  private val pruneKey = keys.head
  private def bootstrapStats: Seq[String] = if (collectStats) Seq(pruneKey) else Nil

  /** Stats columns of a full rewrite: the table's, plus the prune key
    * when this target collects stats — so the next batch can prune.
    */
  private def statCols: Seq[String] =
    if (collectStats) (warehouse.statColumns(ref) :+ pruneKey).distinct
    else warehouse.statColumns(ref)

  /** The full read-merge-overwrite every merge route falls back to
    * (no manifest, every file may overlap, by-source clauses, schema
    * evolution). It keeps the committed partition layout (`k=v` path
    * components — a fallback that dropped it would silently FLATTEN
    * the table: values intact, partition pruning gone), the stats and
    * bloom columns, and CASes on `baseVersion`, the version the merge
    * computed against — a concurrent commit in the read→overwrite
    * window conflicts loudly (and the retry loop re-plans) instead of
    * being silently lost.
    */
  private def rewriteAll(merged: DataFrame, baseVersion: Option[Long],
                         meta: Map[String, String],
                         changes: Option[DataFrame]): Unit = {
    val sc = statCols.filter(merged.columns.contains)
    warehouse.overwrite(ref, merged,
      partitionBy = warehouse.snapshot(ref).toSeq
        .flatMap(s => Warehouse.partDirCols(s.files))
        .filter(merged.columns.contains),
      statsColumns = sc,
      bloomColumns = warehouse.bloomColumns(ref).filter(sc.contains),
      expectedVersion = baseVersion, meta = meta, changes = changes)
  }

  /** Update-all / insert-all over `target`, with the change rows when
    * the table's change data feed is on.
    */
  private def upsertAll(target: DataFrame, source: DataFrame,
                        cdfOn: Boolean): (DataFrame, Option[DataFrame]) =
    if (!cdfOn) (Merge.merge(target, source, keys, tsField), None)
    else {
      val (merged, changes) = Merge.mergeWithChanges(target, source, keys, tsField)
      (merged, Some(changes))
    }

  /** Widen `df` with null columns so its column set becomes the ordered
    * union of its own and `other`'s; rejects same-name type conflicts.
    */
  private def widen(df: DataFrame, other: DataFrame): DataFrame = {
    val otherTypes = other.schema.map(f => f.name -> f.dataType).toMap
    df.schema.foreach { f =>
      otherTypes.get(f.name).foreach { t =>
        require(t == f.dataType,
          s"schema evolution type conflict on '${f.name}': ${f.dataType} vs $t")
      }
    }
    val missing = other.columns.filterNot(df.columns.contains)
    val widened = missing.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, lit(null).cast(otherTypes(c)))
    }
    // deterministic order: df's columns, then other's additions
    widened.select((df.columns ++ missing).map(col).toIndexedSeq: _*)
  }

  /** Upsert with bounded retry on writer conflicts. A
    * [[graft.catalog.ConcurrentWriteException]] from the warehouse means
    * either another writer holds the table lock or this plan went stale
    * against a newer version — in BOTH cases nothing has touched the
    * table, and the correct response for a CDC batch is to re-read and
    * re-plan, which is exactly what re-running the attempt does (every
    * attempt reads the CURRENT version). Bounded + jittered so true
    * contention storms still surface to the caller instead of spinning.
    */
  def upsert(source: DataFrame): Unit = retryOnConflict(upsertOnce(source))

  /** CLAUSE MERGE — the Delta surface beyond update-all/insert-all
    * ([[Merge.applyClauses]] semantics; conditions and assignment
    * values are SQL text over bare target names and `__src_`-prefixed
    * source names): ordered `WHEN MATCHED [AND c] THEN UPDATE SET
    * * | col = expr… | DELETE`, ordered conditional
    * `WHEN NOT MATCHED THEN INSERT * | (cols) VALUES (exprs)`, and
    * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE`.
    * The CDC-apply shape (`s.op = 'D' → DELETE`, else update, inserts
    * filtered) and the incremental-aggregation merge
    * (`SET t.total = t.total + s.delta`) both run through here.
    *
    * Physical shape: without by-source clauses the target prunes to
    * the source key range exactly like [[upsert]] — unmatched files
    * keep their bytes — and with deletion vectors on
    * (`graft.dv=true`) the merge goes MERGE-ON-READ: claimed rows
    * supersede by position, updated values and inserts land as one
    * small append, unmatched bytes in the touched files never move
    * ([[Merge.applyClausesOnRead]] + `Warehouse.dvReplace`). A
    * by-source clause can touch ANY target row, so it pays the full
    * copy-on-write rewrite (Delta's shape too); CDF classification
    * commits atomically as usual.
    */
  def upsertClauses(source: DataFrame, clauses: Merge.MergeClauses): Unit =
    retryOnConflict(upsertClausesOnce(source, clauses))

  /** Round-18 tuple-shape adapter (star update/delete, one insert,
    * by-source deletes) over the generalized [[upsertClauses]].
    */
  def upsertClauses(source: DataFrame,
                    matched: Seq[(Option[String], String)],
                    insert: Option[Option[String]],
                    bySource: Seq[Option[String]] = Nil): Unit =
    upsertClauses(source, Merge.clausesOf(matched, insert, bySource))

  /** Merges cannot target IDENTITY tables: a star clause would copy
    * forged source values into an engine-assigned column, and an
    * insert clause would mint rows without ids — Delta's original
    * contract too. Route inserts through `Warehouse.append` (which
    * assigns) or drop the identity first.
    */
  private def requireNoIdentity(): Unit = {
    if (!warehouse.exists(ref)) return
    val ids = warehouse.identityColumns(ref)
    require(ids.isEmpty,
      s"MERGE/replacePartitions into $ref: GENERATED ALWAYS AS IDENTITY " +
        s"column(s) ${ids.keys.mkString(",")} are engine-assigned — a " +
        "merge would forge or drift them; append new rows through the " +
        "warehouse (ids assign there) or dropIdentityColumn first")
  }

  /** Explicit INSERT clauses fill OMITTED defaulted columns with their
    * declared DEFAULT instead of NULL (compute-on-omit parity with
    * append/overwrite); runs BEFORE the generated extension so a
    * generation may read a defaulted column's value.
    */
  private def withDefaultFills(cl: Merge.MergeClauses): Merge.MergeClauses = {
    val defs = warehouse.columnDefaults(ref)
    if (defs.isEmpty) return cl
    def fill(c: Merge.Clause): Merge.Clause = c.sets match {
      case Some(sets) =>
        val assigned = sets.map(_._1.toLowerCase).toSet
        val extra = defs.toSeq.sortBy(_._1)
          .filterNot { case (n, _) => assigned.contains(n.toLowerCase) }
        if (extra.isEmpty) c else c.copy(sets = Some(sets ++ extra))
      case _ => c
    }
    cl.copy(inserts = cl.inserts.map(fill))
  }

  /** Extend explicit-assignment clauses with GENERATED-column
    * recomputes: an UPDATE whose SET touches a generation's source
    * recomputes the derived value over the post-assignment image
    * (assigned references substituted textually — unassigned bare
    * names already evaluate to the kept target value, or to NULL on
    * insert rows, which is exactly the committed image); an explicit
    * INSERT computes every omitted generation (compute-on-omit, the
    * same contract as append/overwrite). Star clauses copy the
    * source's generated values verbatim — those validate instead.
    */
  private def withGeneratedRecomputes(cl: Merge.MergeClauses)
      : Merge.MergeClauses = {
    val gens = warehouse.generatedColumns(ref)
    if (gens.isEmpty) return cl
    def extend(c: Merge.Clause, isInsert: Boolean): Merge.Clause =
      c.sets match {
        case Some(sets) if c.action != "delete" =>
          var assigned = sets.map { case (n, e) => n.toLowerCase -> e }.toMap
          val extra = Seq.newBuilder[(String, String)]
          Warehouse.topoGenerations(gens
            .filterNot { case (g, _) => assigned.contains(g.toLowerCase) })
            .foreach { case (g, e) =>
              if (isInsert ||
                  Warehouse.exprRefs(e).intersect(assigned.keySet).nonEmpty) {
                val sub = Warehouse.substituteSql(e, assigned)
                extra += g -> sub
                assigned += g.toLowerCase -> sub
              }
            }
          val x = extra.result()
          if (x.isEmpty) c else c.copy(sets = Some(sets ++ x))
        case _ => c
      }
    Merge.MergeClauses(cl.matched.map(extend(_, isInsert = false)),
      cl.inserts.map(extend(_, isInsert = true)),
      cl.bySource.map(extend(_, isInsert = false)))
  }

  private def upsertClausesOnce(source: DataFrame,
                                cl0: Merge.MergeClauses): Unit = {
    requireNoIdentity()
    val cl = withGeneratedRecomputes(withDefaultFills(cl0))
    val meta = Map(Warehouse.OpMeta -> "MERGE")
    require(warehouse.exists(ref),
      s"clause merge needs an existing target table $ref (a WHEN MATCHED " +
        "clause over nothing is meaningless — bootstrap with overwrite " +
        "or the plain upsert)")
    warehouse.recover(ref)
    val snap = warehouse.snapshot(ref).getOrElse(throw new
        IllegalArgumentException(s"$ref has no committed version"))
    warehouse.requireNoForeign(ref, "clause merge")
    val baseVersion = warehouse.currentVersion(ref)
    // star clauses copy source columns VERBATIM, so every target
    // column must arrive at the target's type; explicit-assignment
    // clauses cast their expressions, so only the join keys must align
    // (extra CDC flag columns ride along for the clause conditions)
    val tsig = warehouse.schemaOf(ref).map(f => (f.name, f.dataType))
    val ssig = source.schema.map(f => (f.name, f.dataType)).toMap
    val checked = if (cl.hasStar) tsig
                  else tsig.filter { case (n, _) => keys.contains(n) }
    val bad = checked.filterNot { case (n, t) => ssig.get(n).contains(t) }
    require(bad.isEmpty,
      s"clause merge schema mismatch on ${bad.map(_._1).mkString(",")}: " +
        s"target ${tsig.mkString(",")} vs source ${source.schema.map(f =>
          (f.name, f.dataType)).mkString(",")}")
    val cdfOn = warehouse.cdfEnabled(ref)
    def fullRewrite(): Unit = {
      val (merged, changes) = Merge.applyClauses(warehouse.read(ref),
        source, keys, cl, cdfOn)
      rewriteAll(merged, baseVersion, meta, changes)
    }
    if (cl.bySource.nonEmpty) { fullRewrite(); return }
    val bounds = source
      .agg(count(lit(1)), min(col(pruneKey)), max(col(pruneKey))).head()
    if (bounds.getLong(0) == 0L) return // empty batch, no by-source: no-op
    val split =
      if (bounds.isNullAt(1)) // all-null keys: nothing can match
        Some((Seq.empty[String], warehouse.dataFiles(ref)))
      else warehouse.splitFilesByRange(ref, pruneKey, bounds.get(1), bounds.get(2))
    split match {
      // MERGE-ON-READ (round 19): claimed rows supersede by position,
      // updated values + accepted inserts land as one append — the
      // same economics the classic upsert's DV branch bought, now for
      // the clause-shaped CDC apply. Unlike the copy-on-write arm this
      // needs no untouched file to beat the rewrite: even a batch
      // whose key range straddles EVERY file costs O(claimed rows)
      case Some((touched, _)) if warehouse.dvEnabled(ref) =>
        val (sup, adds, changes) = Merge.applyClausesOnRead(
          warehouse.readFilesWithPos(ref, touched), source, keys, cl,
          wantChanges = cdfOn)
        warehouse.dvReplace(ref, snap, DeletionVectors.build(sup), Some(adds), meta,
          _ => changes)
      case Some((touched, untouched)) if untouched.nonEmpty =>
        val (merged, changes) = Merge.applyClauses(readTouched(touched),
          source, keys, cl, cdfOn)
        warehouse.replaceDataFiles(ref, touched, merged, meta = meta,
          changes = changes)
      case _ => fullRewrite()
    }
  }

  /** Partition replace — Delta `replaceWhere` over a key IN-set: every
    * target row whose `keys` tuple appears in `partitionKeys` is
    * replaced by `replacement` (which must contain ONLY rows of those
    * partitions); rows of other partitions keep their bytes — files
    * provably disjoint from the partition-key range are never
    * rewritten. Unlike [[upsert]] this DELETES: an affected partition
    * with no replacement rows ends up empty (tombstoned), which is
    * what incremental materialized-view maintenance needs when base
    * rows are deleted or move partitions. Null-safe on the keys, and
    * retried like [[upsert]] on writer conflicts.
    */
  def replacePartitions(partitionKeys: DataFrame, replacement: DataFrame,
                        meta: Map[String, String] = Map.empty): Unit =
    retryOnConflict(replacePartitionsOnce(partitionKeys, replacement, meta))

  /** Bounded retry on writer conflicts. A
    * [[graft.catalog.ConcurrentWriteException]] from the warehouse means
    * either another writer holds the table lock or this plan went stale
    * against a newer version — in BOTH cases nothing has touched the
    * table, and the correct response for a CDC batch is to re-read and
    * re-plan, which is exactly what re-running the attempt does (every
    * attempt reads the CURRENT version). Bounded + jittered so true
    * contention storms still surface to the caller instead of spinning.
    */
  private def retryOnConflict(body: => Unit): Unit = {
    // a competitor holds the lock for its whole staged write (~seconds
    // for a real batch), so back off linearly with jitter; ~10 attempts
    // rides out a burst of writers while still surfacing true storms
    val maxAttempts = 10
    var attempt = 1
    var done = false
    while (!done) {
      try { body; done = true }
      catch {
        case _: graft.catalog.ConcurrentWriteException if attempt < maxAttempts =>
          Thread.sleep(100L * attempt +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(200L))
          attempt += 1
      }
    }
  }

  private def replacePartitionsOnce(partitionKeys: DataFrame,
                                    replacement: DataFrame,
                                    rawMeta: Map[String, String] = Map.empty): Unit = {
    requireNoIdentity()
    // one MERGE stamp covers bootstrap, pruned replace, and full
    // rewrite (callers' meta still rides; an explicit op wins)
    val meta = Warehouse.withOp(rawMeta, "MERGE")
    if (!warehouse.exists(ref)) {
      warehouse.overwrite(ref, replacement, statsColumns = bootstrapStats,
        onlyIfAbsent = true, meta = meta)
      return
    }
    warehouse.recover(ref)
    val baseVersion = warehouse.currentVersion(ref)
    val bounds = partitionKeys
      .agg(count(lit(1)), min(col(pruneKey)), max(col(pruneKey))).head()
    if (bounds.getLong(0) == 0L) return // no affected partitions: no-op
    // schemaOf answers from the commit log — no footer-read job
    val tsig = warehouse.schemaOf(ref).map(f => (f.name, f.dataType))
    val ssig = replacement.schema.map(f => (f.name, f.dataType))
    require(ssig == tsig,
      s"replacePartitions schema mismatch: target ${tsig.mkString(",")} vs " +
        s"replacement ${ssig.mkString(",")}")
    // null-safe anti join (a null partition key must still replace its
    // partition); the affected-key set is bounded by the change batch,
    // so broadcasting it is the right 100 TB shape
    val pk = keys.foldLeft(partitionKeys.select(keys.map(col): _*).distinct()) {
      (d, c) => d.withColumnRenamed(c, "__pk_" + c)
    }
    def dropAffected(df: DataFrame): DataFrame =
      df.join(broadcast(pk),
        keys.map(k => col(k) <=> col("__pk_" + k)).reduce(_ && _), "left_anti")
    def keepAffected(df: DataFrame): DataFrame =
      df.join(broadcast(pk),
        keys.map(k => col(k) <=> col("__pk_" + k)).reduce(_ && _), "left_semi")
    // change-data-feed shape of a partition replace: the affected
    // partitions' OLD rows delete, the replacement rows insert (a
    // valid CDF rendering — per-row update pairing has no meaning for
    // a wholesale partition swap)
    val cdfOn = warehouse.cdfEnabled(ref)
    val ct = org.apache.spark.sql.functions.lit _
    def changesFor(oldAffected: DataFrame): Option[DataFrame] =
      if (!cdfOn) None
      else Some(oldAffected
        .withColumn(Warehouse.ChangeTypeCol, ct("delete"))
        .unionByName(replacement
          .withColumn(Warehouse.ChangeTypeCol, ct("insert"))))
    val split =
      if (bounds.isNullAt(1)) None // null keys carry no range stats
      else warehouse.splitFilesByRange(ref, pruneKey, bounds.get(1), bounds.get(2))
    split match {
      case Some((touched, untouched)) if untouched.nonEmpty =>
        // route through the warehouse's subset reader (same contract as
        // readTouched): the COMMITTED schema guards mixed-era files and
        // live DELETION VECTORS apply — a raw parquet read here would
        // rewrite merge-on-read-deleted rows of unaffected partitions
        // into new files, permanently resurrecting them once the old
        // file (and its dv mapping) retires
        val touchedDf =
          if (touched.isEmpty) None
          else Some(warehouse.readFiles(ref, touched))
        val rewritten = touchedDf
          .map(dropAffected(_).unionByName(replacement))
          .getOrElse(replacement) // nothing holds these partitions
        warehouse.replaceDataFiles(ref, touched, rewritten, meta = meta,
          changes = changesFor(touchedDf.map(keepAffected)
            .getOrElse(replacement.limit(0))))
      case _ =>
        // no manifest (or every file may overlap): full rewrite
        rewriteAll(dropAffected(warehouse.read(ref)).unionByName(replacement),
          baseVersion, meta, changesFor(keepAffected(warehouse.read(ref))))
    }
  }

  /** DECLARED-SCHEMA read of the touched-file subset (the same
    * mixed-era contract as [[graft.catalog.Warehouse.readSnapshot]]):
    * footer inference over old files silently drops columns a
    * metadata-only ADD COLUMNS widened in (the merge would then refuse
    * — or worse, write narrow files), and keeps bytes a DROP COLUMNS
    * tombstoned out (the merge would resurrect them). Missing declared
    * columns null-backfill by name; undeclared physical columns are
    * pruned by the final select.
    */
  private def readTouched(touched: Seq[String]): DataFrame =
    // Warehouse.readFiles hands the COMMITTED schema to the reader
    // (spark.read.schema), never single-footer inference: a mixed-era
    // touched set after a metadata-only ADD COLUMNS could otherwise
    // infer from an old file, drop the widened column from the read,
    // and commit a null backfill over real values.
    warehouse.readFiles(ref, touched)

  private def upsertOnce(source: DataFrame): Unit = {
    requireNoIdentity()
    val meta = Map(Warehouse.OpMeta -> "MERGE")
    if (!warehouse.exists(ref)) {
      // onlyIfAbsent: if another writer bootstraps between the exists
      // check and our lock acquisition, this throws (nothing written)
      // and the retry loop re-enters through the merge path
      warehouse.overwrite(ref, source, statsColumns = bootstrapStats,
        onlyIfAbsent = true, meta = meta)
      return
    }
    // heal any interrupted prior replacement BEFORE reading the target —
    // a crashed add-new leaves duplicate rows that a plain re-merge
    // would keep (unmatched target duplicates survive Merge.merge)
    warehouse.recover(ref)
    // the version this merge computes against: the CAS of every full
    // rewrite below ([[rewriteAll]])
    val baseVersion = warehouse.currentVersion(ref)
    if (evolveSchema) {
      val target = warehouse.read(ref)
      // trigger on name+type signature, not names alone — a same-name
      // different-type batch must hit widen()'s conflict check, not
      // slip through the incremental path into a mixed-type file
      def sig(d: DataFrame) = d.schema.map(f => (f.name, f.dataType))
      if (sig(source) != sig(target)) {
        require(source.columns.contains(pruneKey),
          s"evolved batch must keep the merge key '$pruneKey'")
        if (source.isEmpty) return
        val wTarget = widen(target, source)
        val wSource = widen(source, target)
          .select(wTarget.columns.map(col).toIndexedSeq: _*)
        val (merged, changes) =
          upsertAll(wTarget, wSource, warehouse.cdfEnabled(ref))
        rewriteAll(merged, baseVersion, meta, changes)
        return
      }
    }
    val bounds = source
      .agg(count(lit(1)), min(col(pruneKey)), max(col(pruneKey))).head()
    if (bounds.getLong(0) == 0L) return // empty batch: no-op
    val split =
      if (bounds.isNullAt(1)) // all-null keys: nothing can match
        Some((Seq.empty[String], warehouse.dataFiles(ref)))
      else warehouse.splitFilesByRange(ref, pruneKey, bounds.get(1), bounds.get(2))
    // change-data-feed production (the table property asks for it):
    // rewriting merges classify their rows once and commit the change
    // files atomically; the insert-only fast path stays change-file
    // free — a pure append DERIVES as inserts at read time, so the
    // streaming-CDC hot path pays nothing
    val cdfOn = warehouse.cdfEnabled(ref)
    split match {
      // merge-on-read needs no untouched file to beat the rewrite: a
      // batch whose key range straddles EVERY file still costs
      // O(claimed rows), so DV mode takes this arm whenever the
      // manifest resolves at all
      case Some((touched, untouched))
          if untouched.nonEmpty || warehouse.dvEnabled(ref) =>
        if (touched.isEmpty) { // disjoint ranges: insert-only
          // name AND type must match — an insert-only batch bypasses
          // the join, so this is the last check before its rows land
          // in files the table's schema is assumed to describe
          // (schemaOf answers from the commit log — no footer read)
          val tsig = warehouse.schemaOf(ref)
            .map(f => (f.name, f.dataType))
          val ssig = source.schema.map(f => (f.name, f.dataType))
          require(ssig == tsig,
            s"merge schema mismatch: target ${tsig.mkString(",")} vs " +
              s"source ${ssig.mkString(",")}")
          warehouse.replaceDataFiles(ref, touched, source, meta = meta)
        } else if (warehouse.dvEnabled(ref)) {
          // MERGE-ON-READ (the DV write path): superseded target rows
          // commit as sidecar positions, replacement values + inserts
          // land as one small append — unmatched bytes in the touched
          // files never move
          val planned = warehouse.snapshot(ref).getOrElse(
            throw new IllegalStateException(s"$ref vanished mid-merge"))
          val (sup, adds, changes) = Merge.mergeOnRead(
            warehouse.readFilesWithPos(ref, touched), source, keys, tsField,
            wantChanges = cdfOn)
          warehouse.dvReplace(ref, planned, DeletionVectors.build(sup), Some(adds),
            meta, _ => changes)
        } else {
          val (merged, changes) = upsertAll(readTouched(touched), source, cdfOn)
          warehouse.replaceDataFiles(ref, touched, merged, meta = meta,
            changes = changes)
        }
      case _ =>
        // no manifest, or every file may overlap: full rewrite
        val (merged, changes) = upsertAll(warehouse.read(ref), source, cdfOn)
        rewriteAll(merged, baseVersion, meta, changes)
    }
  }
}
