package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.{Mutation, TableFeatures, TableRef, Warehouse}

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
    Mutation.postRows(classified(target, source, keys, UpsertAll, tsField, onRead = false),
      Mutation.Keep, Mutation.Update, Mutation.Insert)
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
    * [[merge]] and `MergeTable.upsert` apply.
    */
  private[graft] lazy val UpsertAll = MergeClauses(
    matched = Seq(Clause(None, "update")), inserts = Seq(Clause(None, "insert")))

  /** J1 sources carry exactly the target's columns, in order. */
  private[graft] def requireSameSchema(cols: Seq[String], source: DataFrame,
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

  /** The post-clause image of a classification — one
    * [[Mutation.post]] column per output column, each value chained over
    * the clause kinds: star takes the same-named source column; explicit
    * sets evaluate their expression CAST to the target type; unassigned
    * columns keep the target value (update) or NULL (insert). The base
    * of the chain is the keep row's own value.
    */
  private def postImage(classified: DataFrame, cols: Seq[String],
                        cl: MergeClauses): Seq[Column] = {
    // classified carries the target columns at their own types
    val types = classified.schema.map(f => f.name -> f.dataType).toMap
    val tagged: Seq[(String, Clause, Boolean)] =
      cl.matched.zipWithIndex.map { case (c, i) => (s"m$i", c, false) } ++
      cl.bySource.zipWithIndex.map { case (c, i) => (s"s$i", c, false) } ++
      cl.inserts.zipWithIndex.map { case (c, i) => (s"i$i", c, true) }
    cols.map { c =>
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
      }.as(Mutation.post(c))
    }
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

  /** The [[Mutation]] kinds `cl` can produce. */
  private[graft] def kinds(cl: MergeClauses): Set[String] = {
    val (updates, deletes, inserts) = kindsOf(cl)
    Seq(Mutation.Update -> updates, Mutation.Delete -> deletes,
      Mutation.Insert -> inserts).collect { case (k, tags) if tags.nonEmpty => k }.toSet
  }

  /** One MERGE's classified frame — the [[Mutation]] contract — for
    * the full Delta clause surface:
    *
    * {{{
    * WHEN MATCHED [AND c] THEN UPDATE SET * | SET col = expr… | DELETE
    * WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (exprs)   (ordered, several)
    * WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE    (ordered)
    * }}}
    *
    * One full-outer join on the keys (plus J1's `source.ts >= target.ts`
    * when `tsField` is set), one window resolving multi-match per target
    * row (latest ts first, else the first key's source ordering —
    * deterministic, see [[merge]]), and clause order folded into a tag
    * (`m<i>` matched, `s<i>` by-source, `i<i>` insert, `keep`): the
    * first clause of the row's class whose condition holds applies,
    * none → keep. The source may carry EXTRA columns (CDC op flags)
    * beyond the target schema; they are usable in conditions and
    * expressions and dropped from the output. NULL keys never match:
    * null-key source rows are insert candidates, null-key target rows
    * are not-matched-by-source. With `onRead` the target carries
    * `__gdv_file` / `__gdv_pos`, which ride through, and keep rows drop —
    * their bytes never move, which is the point of merge-on-read: a CDC
    * apply costs O(changed rows). NOT materialized: the router decides.
    */
  private[graft] def classified(target: DataFrame, source: DataFrame, keys: Seq[String],
                                cl: MergeClauses, tsField: Option[String],
                                onRead: Boolean): DataFrame = {
    val carry = if (onRead) Carry else Nil
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
    // merge-on-read never needs keep rows: drop them before anything
    // materializes
    val targetRows =
      if (!onRead) targetRows0 else targetRows0.filter(col(KIND) =!= "keep")
    val insertRows = joined.filter(col(TID).isNull)
      .withColumn(KIND, insertKind).filter(col(KIND) =!= "keep")
    val selectCols = cols.map(col) ++ srcCols.map(c => col(SRC + c)) ++
      carry.map(col) :+ col(KIND)
    val tagged = targetRows.select(selectCols: _*)
      .unionByName(insertRows.select(selectCols: _*))
    val (updates, deletes, inserts) = kindsOf(cl)
    val kind = when(inKinds(updates), Mutation.Update)
      .when(inKinds(deletes), Mutation.Delete)
      .when(inKinds(inserts), Mutation.Insert).otherwise(Mutation.Keep)
    tagged.select(cols.map(col) ++ postImage(tagged, cols, cl) ++ carry.map(col) :+
      kind.as(Mutation.KindCol): _*)
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
  /** Stats columns a bootstrap writes, and a full rewrite adds to the
    * table's — so the next batch can prune.
    */
  private def bootstrapStats: Seq[String] = if (collectStats) Seq(pruneKey) else Nil

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

  /** Delta-J1's update-all / insert-all ([[Merge.merge]] semantics),
    * retried on writer conflicts ([[retryOnConflict]]). Bootstraps the
    * table on first run; an insert-only batch (its key range misses
    * every file) appends without a join.
    */
  def upsert(source: DataFrame): Unit = retryOnConflict(mergeOnce(source, None))

  /** CLAUSE MERGE — the Delta surface beyond update-all/insert-all
    * ([[Merge.classified]] semantics; conditions and assignment values
    * are SQL text over bare target names and `__src_`-prefixed source
    * names): ordered `WHEN MATCHED [AND c] THEN UPDATE SET * | col =
    * expr… | DELETE`, ordered conditional `WHEN NOT MATCHED THEN INSERT
    * * | (cols) VALUES (exprs)`, and `WHEN NOT MATCHED BY SOURCE [AND
    * c] THEN UPDATE SET … | DELETE`. The CDC-apply shape (`s.op = 'D' →
    * DELETE`, else update, inserts filtered) and the
    * incremental-aggregation merge (`SET t.total = t.total + s.delta`)
    * both run through here. Same planner as [[upsert]]; a by-source
    * clause can touch ANY target row, so it rewrites the table whole
    * (Delta's shape too).
    */
  def upsertClauses(source: DataFrame, clauses: Merge.MergeClauses): Unit =
    retryOnConflict(mergeOnce(source, Some(clauses)))

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
  private def requireNoIdentity(decl: TableFeatures.Declared): Unit =
    require(decl.identity.isEmpty,
      s"MERGE/replacePartitions into $ref: GENERATED ALWAYS AS IDENTITY " +
        s"column(s) ${decl.identity.keys.mkString(",")} are engine-assigned — a " +
        "merge would forge or drift them; append new rows through the " +
        "warehouse (ids assign there) or dropIdentityColumn first")

  /** The declared clause surface: explicit INSERT clauses fill OMITTED
    * defaulted columns with their DEFAULT instead of NULL
    * (compute-on-omit parity with append/overwrite), then explicit
    * assignments gain GENERATED-column recomputes — an UPDATE whose SET
    * touches a generation's source recomputes the derived value over
    * the post-assignment image (assigned references substituted
    * textually; unassigned bare names already evaluate to the kept
    * target value, or to NULL on insert rows, which is exactly the
    * committed image), and an explicit INSERT computes every omitted
    * generation. Defaults fill first, so a generation may read a
    * defaulted column's value. Star clauses copy the source's values
    * verbatim — those validate instead.
    */
  private def declaredClauses(decl: TableFeatures.Declared,
                              cl: Merge.MergeClauses): Merge.MergeClauses = {
    val defs = decl.defaults.toSeq.sortBy(_._1)
    def fill(c: Merge.Clause): Merge.Clause = c.sets match {
      case Some(sets) =>
        val assigned = sets.map(_._1.toLowerCase).toSet
        val extra = defs.filterNot { case (n, _) => assigned.contains(n.toLowerCase) }
        if (extra.isEmpty) c else c.copy(sets = Some(sets ++ extra))
      case _ => c
    }
    val gens = decl.generated
    def extend(c: Merge.Clause, isInsert: Boolean): Merge.Clause =
      c.sets match {
        case Some(sets) if c.action != "delete" && gens.nonEmpty =>
          var assigned = sets.map { case (n, e) => n.toLowerCase -> e }.toMap
          val extra = Seq.newBuilder[(String, String)]
          TableFeatures.topoGenerations(gens
            .filterNot { case (g, _) => assigned.contains(g.toLowerCase) })
            .foreach { case (g, e) =>
              if (isInsert ||
                  TableFeatures.exprRefs(e).intersect(assigned.keySet).nonEmpty) {
                val sub = TableFeatures.substituteSql(e, assigned)
                extra += g -> sub
                assigned += g.toLowerCase -> sub
              }
            }
          val x = extra.result()
          if (x.isEmpty) c else c.copy(sets = Some(sets ++ x))
        case _ => c
      }
    Merge.MergeClauses(cl.matched.map(extend(_, isInsert = false)),
      cl.inserts.map(c => extend(fill(c), isInsert = true)),
      cl.bySource.map(extend(_, isInsert = false)))
  }

  /** THE merge planner behind [[upsert]] (`clauses` None: update-all /
    * insert-all with `tsField`, plus the bootstrap, `evolveSchema` and
    * the insert-only fast path) and [[upsertClauses]]: heal a crashed
    * predecessor, pin the snapshot, check the batch against its schema,
    * bound the batch's first-key range, split the files by it, and hand
    * ONE classification to `Warehouse.mutate`, which routes it
    * copy-on-write or merge-on-read. A batch that needs every file (a
    * by-source clause, a target without a manifest, an evolving schema)
    * rewrites the table whole.
    */
  private def mergeOnce(source: DataFrame, clauses: Option[Merge.MergeClauses]): Unit = {
    val meta = Map(Warehouse.OpMeta -> "MERGE")
    if (!warehouse.exists(ref)) {
      require(clauses.isEmpty,
        s"clause merge needs an existing target table $ref (a WHEN MATCHED " +
          "clause over nothing is meaningless — bootstrap with overwrite " +
          "or the plain upsert)")
      // onlyIfAbsent: if another writer bootstraps between the exists
      // check and our lock acquisition, this throws (nothing written)
      // and the retry loop re-enters through the merge path
      warehouse.overwrite(ref, source, statsColumns = bootstrapStats,
        onlyIfAbsent = true, meta = meta)
      return
    }
    // heal any interrupted prior replacement BEFORE reading the target —
    // a crashed add-new leaves duplicate rows that a plain re-merge
    // would keep (unmatched target duplicates survive the merge)
    warehouse.recover(ref)
    val snap = warehouse.snapshot(ref).getOrElse(throw new
        IllegalArgumentException(s"$ref has no committed version"))
    warehouse.requireNoForeign(ref, "merge")
    val decl = warehouse.declared(snap)
    requireNoIdentity(decl)
    val cl = declaredClauses(decl, clauses.getOrElse(Merge.UpsertAll))
    def route(touched: Mutation.Touched, widened: Boolean): Unit =
      warehouse.mutate(Mutation("MERGE", snap, touched, Merge.kinds(cl),
          bootstrapStats) { (target, onRead) =>
        if (!widened) Merge.classified(target, source, keys, cl, tsField, onRead)
        else {
          val wTarget = widen(target, source)
          Merge.classified(wTarget, widen(source, target)
            .select(wTarget.columns.map(col).toIndexedSeq: _*), keys, cl, tsField, onRead)
        }
      })
    val tsig = decl.schema.map(f => (f.name, f.dataType))
    val ssig = source.schema.map(f => (f.name, f.dataType))
    if (clauses.isEmpty && evolveSchema) {
      // trigger on name+type signature, not names alone — a same-name
      // different-type batch must hit widen()'s conflict check, not
      // slip through the incremental path into a mixed-type file
      val target = warehouse.read(ref)
      if (ssig != target.schema.map(f => (f.name, f.dataType))) {
        require(source.columns.contains(pruneKey),
          s"evolved batch must keep the merge key '$pruneKey'")
        if (source.isEmpty) return
        widen(target, source) // type conflicts refuse before anything runs
        // an evolution batch rewrites whole, so every data file shares
        // one schema
        route(Mutation.All, widened = true)
        return
      }
    }
    if (clauses.isEmpty) Merge.requireSameSchema(tsig.map(_._1), source, keys)
    else {
      // star clauses copy source columns VERBATIM, so every target
      // column must arrive at the target's type; explicit-assignment
      // clauses cast their expressions, so only the join keys must align
      // (extra CDC flag columns ride along for the clause conditions)
      val ssigMap = ssig.toMap
      val checked = if (cl.hasStar) tsig
                    else tsig.filter { case (n, _) => keys.contains(n) }
      val bad = checked.filterNot { case (n, t) => ssigMap.get(n).contains(t) }
      require(bad.isEmpty,
        s"clause merge schema mismatch on ${bad.map(_._1).mkString(",")}: " +
          s"target ${tsig.mkString(",")} vs source ${ssig.mkString(",")}")
    }
    if (cl.bySource.nonEmpty) { route(Mutation.All, widened = false); return }
    val bounds = source
      .agg(count(lit(1)), min(col(pruneKey)), max(col(pruneKey))).head()
    if (bounds.getLong(0) == 0L) return // empty batch, no by-source: no-op
    val split =
      if (bounds.isNullAt(1)) // all-null keys: nothing can match
        Some((Seq.empty[String], warehouse.dataFiles(ref)))
      else warehouse.splitFilesByRange(ref, pruneKey, bounds.get(1), bounds.get(2))
    split match {
      case Some((Nil, untouched)) if clauses.isEmpty && untouched.nonEmpty =>
        // disjoint ranges: insert-only. Name AND type must match — the
        // batch bypasses the join, so this is the last check before its
        // rows land in files the table's schema is assumed to describe.
        // No change files: a pure append DERIVES as inserts at read
        // time, so the streaming-CDC hot path pays nothing
        require(ssig == tsig,
          s"merge schema mismatch: target ${tsig.mkString(",")} vs " +
            s"source ${ssig.mkString(",")}")
        warehouse.replaceDataFiles(ref, Nil, source, meta = meta)
      case Some((touched, _)) => route(Mutation.Files(touched), widened = false)
      case None => route(Mutation.All, widened = false) // no manifest
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
    // one MERGE stamp covers bootstrap, pruned replace, and full
    // rewrite (callers' meta still rides; an explicit op wins)
    val meta = Warehouse.withOp(rawMeta, "MERGE")
    if (!warehouse.exists(ref)) {
      warehouse.overwrite(ref, replacement, statsColumns = bootstrapStats,
        onlyIfAbsent = true, meta = meta)
      return
    }
    warehouse.recover(ref)
    val snap = warehouse.snapshot(ref)
    snap.foreach(s => requireNoIdentity(warehouse.declared(s)))
    val baseVersion = snap.map(_.version)
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
        // route through the warehouse's declared-schema subset reader:
        // the COMMITTED schema guards mixed-era files and
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
        warehouse.rewriteTable(ref, baseVersion,
          dropAffected(warehouse.read(ref)).unionByName(replacement), meta,
          changesFor(keepAffected(warehouse.read(ref))), bootstrapStats)
    }
  }
}
