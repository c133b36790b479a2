package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions.{col, element_at, expr, lit, monotonically_increasing_id, spark_partition_id, sum, when}
import org.apache.spark.sql.types.{DataType, LongType, MetadataBuilder, StructField, StructType}

/** The table features of every table under one warehouse — the one
  * owner of the declarations a table carries in its commit meta: CHECK
  * constraints, GENERATED columns, column DEFAULTs, IDENTITY columns
  * and their high-waters, column mapping (parquet field ids) and
  * dropped-name tombstones. Delta keeps the same declarations behind
  * one protocol-and-metadata action; here they are carried meta keys
  * ([[TableFeatures.CheckMetaPrefix]] and its siblings), so every commit
  * carries them forward and a dropped one leaves an empty tombstone.
  *
  * Four things happen to a declaration, each in one place:
  *  - it DECODES once per version ([[decode]] → [[TableFeatures.Declared]]),
  *    and every guard, applier and listing reads that value;
  *  - it is DECLARED through one path ([[declare]]): guards and the
  *    existing-row check run on the snapshot the meta commit builds
  *    on, in the same writer-lock hold, so a declaration that exists
  *    has always held;
  *  - it is ENFORCED on the staged frame of every file-adding commit
  *    (defaults, then generations, then identity assignment, field ids,
  *    and the one-pass CHECK/GENERATED validation of the staged bytes);
  *  - the schema-evolution verbs CONSULT it through one column-
  *    dependency query ([[touching]]), each keeping its own refusal.
  */
private[catalog] final class TableFeatures(spark: SparkSession, wh: Warehouse) {
  import TableFeatures._

  // ------------------------------------------------ decode

  /** The declarations `snap`'s version carries. */
  def decode(snap: TableSnapshot): Declared =
    Declared(snap.ref, snap.schemaJson, wh.commitMeta(snap.ref, snap.version))

  /** The current version's declarations (none without a committed one),
    * read off its log file alone — no file-list resolution.
    */
  def current(ref: TableRef): Declared =
    wh.currentVersion(ref).flatMap(wh.txnLog.raw(ref, _))
      .fold(Declared(ref, "", Map.empty))(c => Declared(ref, c.schemaJson, c.meta))

  /** What declares or reads any of `names` (lowercase) on `snap`: the
    * committed layout's partition columns among them, the CHECK
    * constraints and generations whose expressions read one, and the
    * generations, identity columns and defaults declared on one (as
    * declared). Each caller keeps its own refusal policy and message.
    */
  def touching(snap: TableSnapshot, decl: Declared, names: Set[String]): Touching = {
    def on(cols: Iterable[String]) = cols.filter(c => names(c.toLowerCase)).toSeq
    def reading(exprs: Map[String, String]) =
      exprs.collect { case (k, e) if exprRefs(e).exists(names) => k }.toSeq
    Touching(on(wh.layoutOf(snap)), reading(decl.checks), on(decl.generated.keys),
      reading(decl.generated), on(decl.identity.keys), on(decl.defaults.keys))
  }

  // ------------------------------------------------ declare

  /** THE declare path: in one writer-lock hold, decode the current
    * snapshot, let `body` guard and validate against it (existing rows
    * included) and return the meta to commit onto it. An append can no
    * longer land between the existing-row check and the commit.
    */
  private def declare(ref: TableRef)
                     (body: (TableSnapshot, Declared) => Map[String, String]): Long =
    wh.commitMetaOn(ref)(snap => body(snap, decode(snap)))

  /** Rows of `snap` that `cond` keeps. */
  private def count(snap: TableSnapshot, cond: Column): Long =
    wh.readSnapshot(snap).filter(cond).count()

  private def singleLine(sql: String, what: String): Unit =
    require(sql.trim.nonEmpty && !sql.exists(c => c == '\t' || c == '\n'),
      s"$what must be single-line SQL: $sql")

  /** Add a CHECK constraint (Delta's `ALTER TABLE ADD CONSTRAINT`): a
    * SQL predicate every row of every future write must satisfy (NULL
    * passes, SQL CHECK semantics), ENFORCED BY THE COMMIT PROTOCOL —
    * every file-adding commit validates its staged files before any data
    * moves, whatever surface issued the write (Scala, SQL
    * INSERT/UPDATE/MERGE, `writeStream.toTable`). A constraint the
    * current rows violate is refused. Maintenance rewrites
    * (compact/z-order) skip re-validation: they move rows that already
    * passed.
    */
  def setCheckConstraint(ref: TableRef, name: String, predicate: String): Long = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'), s"constraint name must be word-like: $name")
    singleLine(predicate, "constraint predicate")
    val p = expr(predicate) // parse now
    declare(ref) { (snap, _) =>
      val violations = count(snap, p <=> lit(false))
      if (violations > 0)
        throw new IllegalStateException(
          s"cannot add CHECK constraint '$name' to $ref: $violations " +
            s"existing row(s) violate ($predicate) — a constraint that " +
            "exists must have always held")
      Map(checkMetaKey(name) -> predicate)
    }
  }

  /** GENERATED column (Delta `GENERATED ALWAYS AS (expr)`): `column` is
    * always `exprSql` of the row's other columns. Writers that OMIT it
    * get it computed; writers that SUPPLY it are validated in the same
    * staged one-pass aggregate as CHECK constraints, on every write
    * surface. Existing rows must already satisfy it. The common use is
    * a derived partition column (`order_day` from a timestamp): it
    * computes once at write time and the layout prunes on it forever.
    */
  def setGeneratedColumn(ref: TableRef, column: String, exprSql: String): Long = {
    singleLine(exprSql, "generation expression")
    val e = expr(exprSql) // parse now
    declare(ref) { (snap, decl) =>
      require(decl.schema.fieldNames.contains(column),
        s"cannot generate '$column' on $ref: not a declared column " +
          s"(have ${decl.schema.fieldNames.mkString(",")})")
      // identity interplay refuses BOTH ways: an identity column is
      // engine-assigned (never derived), and a generation cannot read
      // one (generations compute before identity assignment)
      require(touching(snap, decl, Set(column.toLowerCase)).identity.isEmpty,
        s"'$column' on $ref is a GENERATED ALWAYS AS IDENTITY column — " +
          "the engine assigns it; a generation cannot")
      val idRead = touching(snap, decl, exprRefs(exprSql)).identity
      require(idRead.isEmpty,
        s"generation for '$column' on $ref reads IDENTITY column(s) " +
          s"${idRead.mkString(",")} — generations compute before identity " +
          "assignment, so they can never see the assigned value")
      val bad = count(snap, !(col(column) <=> e))
      if (bad > 0)
        throw new IllegalStateException(
          s"cannot declare '$column' GENERATED AS ($exprSql) on $ref: " +
            s"$bad existing row(s) differ — a generation that exists " +
            "must have always held")
      Map(genMetaKey(column) -> exprSql)
    }
  }

  /** Column DEFAULT (`ALTER TABLE ... SET DEFAULT`): a writer OMITTING
    * `column` gets `exprSql` materialized into the new rows, cast to the
    * column's declared type — on every file-adding write and on
    * explicit-projection MERGE INSERT clauses. The expression must be
    * CONSTANT (a row-dependent default is a GENERATED column). Existing
    * rows are untouched (Delta's semantics). Granularity is the FRAME:
    * a supplied column is the caller's truth even where it holds NULLs.
    */
  def setColumnDefault(ref: TableRef, column: String, exprSql: String): Long = {
    singleLine(exprSql, "default expression")
    declare(ref) { (snap, decl) =>
      val field = decl.schema.find(_.name.equalsIgnoreCase(column)).getOrElse(
        throw new IllegalArgumentException(
          s"cannot default '$column' on $ref: not a declared column " +
            s"(have ${decl.schema.fieldNames.mkString(",")})"))
      require(exprRefs(exprSql).isEmpty,
        s"DEFAULT for '$column' on $ref must be a constant expression " +
          s"(no column references): ($exprSql) — a row-dependent default " +
          "is a GENERATED column (setGeneratedColumn)")
      val hits = touching(snap, decl, Set(column.toLowerCase))
      require(hits.generates.isEmpty,
        s"'$column' on $ref is GENERATED — a generation computes when " +
          "omitted already; a default would shadow it")
      require(hits.identity.isEmpty,
        s"'$column' on $ref is an IDENTITY column — the engine assigns it")
      // evaluate once now: an unfoldable or mistyped default must refuse
      // at declaration, not at some future write
      spark.range(1).select(expr(exprSql).cast(field.dataType)).head()
      Map(defaultMetaKey(field.name) -> exprSql)
    }
  }

  /** IDENTITY column (Delta `GENERATED ALWAYS AS IDENTITY (START WITH s
    * INCREMENT BY k)`): the ENGINE assigns `column` on every write that
    * omits it — contiguous values in the staged frame's row order,
    * continuing from a durable high-water that advances inside the
    * allocating commit ([[applyIdentityLocked]]), so ids survive crashes
    * and are never reused. ALWAYS semantics: a write SUPPLYING the column
    * refuses, UPDATE cannot SET it, and MERGE refuses identity targets.
    *
    * Declared on an EMPTY column only (a fresh table, or one just
    * widened by [[addColumns]] — historical NULLs stay): a declared
    * BIGINT outside the committed layout, without a generation or a
    * default. The high-water resets IN THE SAME COMMIT to `start - step`:
    * a stale one left by an earlier declaration on this column would
    * otherwise override the declared `start`.
    */
  def setIdentityColumn(ref: TableRef, column: String, start: Long, step: Long): Long = {
    require(step != 0L, s"identity step on $ref.$column must be non-zero")
    declare(ref) { (snap, decl) =>
      val field = decl.schema.find(_.name.equalsIgnoreCase(column)).getOrElse(
        throw new IllegalArgumentException(
          s"cannot make '$column' IDENTITY on $ref: not a declared column " +
            s"(have ${decl.schema.fieldNames.mkString(",")})"))
      require(field.dataType == LongType,
        s"identity column '$column' on $ref must be BIGINT " +
          s"(100 TB of rows outgrows anything narrower); got ${field.dataType}")
      val hits = touching(snap, decl, Set(field.name.toLowerCase))
      require(hits.partition.isEmpty,
        s"identity column '$column' on $ref cannot be a partition column — " +
          "engine-assigned values would explode the directory layout")
      require(hits.generates.isEmpty,
        s"'$column' on $ref is GENERATED — drop the generation first")
      require(hits.defaults.isEmpty,
        s"'$column' on $ref has a DEFAULT — drop it first")
      require(hits.derived.isEmpty,
        s"generation(s) ${hits.derived.mkString(",")} on $ref read " +
          s"'$column' — generations compute before identity assignment, " +
          "so they can never see the assigned value")
      val nonNull = count(snap, col(field.name).isNotNull)
      require(nonNull == 0L,
        s"cannot make '$column' IDENTITY on $ref: $nonNull existing row(s) " +
          "carry values the engine did not assign — identity declares " +
          "engine ownership from the start (historical NULLs are fine)")
      Map(identityMetaKey(field.name) -> s"$start,$step",
        identityHwKey(field.name) -> (start - step).toString)
    }
  }

  /** Drop a declaration: carried meta cannot be deleted, so its key keeps
    * an empty tombstone, which every view skips. A dropped identity's
    * high-water stays behind harmlessly (a re-declaration resets it).
    */
  def dropCheckConstraint(ref: TableRef, name: String): Long =
    wh.commitMetaOnly(ref, Map(checkMetaKey(name) -> ""))

  def dropGeneratedColumn(ref: TableRef, column: String): Long =
    wh.commitMetaOnly(ref, Map(genMetaKey(column) -> ""))

  def dropColumnDefault(ref: TableRef, column: String): Long =
    wh.commitMetaOnly(ref, Map(defaultMetaKey(
      current(ref).defaults.keys.find(_.equalsIgnoreCase(column)).getOrElse(column)) -> ""))

  def dropIdentityColumn(ref: TableRef, column: String): Long =
    wh.commitMetaOnly(ref, Map(identityMetaKey(
      current(ref).identity.keys.find(_.equalsIgnoreCase(column)).getOrElse(column)) -> ""))

  // ------------------------------------------------ governed properties

  /** SET one governed table property — the TBLPROPERTIES spelling of the
    * declarations (CREATE TABLE and ALTER TABLE alike), the CDF and
    * deletion-vector toggles included. Ungoverned keys refuse: a
    * silently-carried free-form property would LOOK governed.
    */
  def setProperty(ref: TableRef, key: String, value: String): Unit = {
    def flag: Boolean = {
      require(value == "true" || value == "false",
        s"$key takes true/false, got '$value'")
      value.toBoolean
    }
    key match {
      case k if k.startsWith(CheckMetaPrefix) =>
        setCheckConstraint(ref, k.stripPrefix(CheckMetaPrefix), value)
      case k if k.startsWith(GenMetaPrefix) =>
        setGeneratedColumn(ref, k.stripPrefix(GenMetaPrefix), value)
      case k if k.startsWith(DefaultMetaPrefix) =>
        setColumnDefault(ref, k.stripPrefix(DefaultMetaPrefix), value)
      case k if k.startsWith(IdentityMetaPrefix) =>
        // `'graft.identity.<col>' = 'start,step'` (bare start => step 1)
        val (st, sp) = parseIdentitySpec(k, value)
        setIdentityColumn(ref, k.stripPrefix(IdentityMetaPrefix), st, sp)
      case ColumnMappingMeta =>
        require(value == "id", s"$ColumnMappingMeta supports mode 'id', got '$value'")
        enableColumnMapping(ref)
      case Warehouse.CdfMeta => wh.setChangeDataFeed(ref, flag)
      case Warehouse.DvMeta => wh.setDeletionVectors(ref, flag)
      case k => ungoverned("SET", Nil, Seq(k))
    }
  }

  /** UNSET one governed table property: drops the declaration, turns a
    * toggle off. Column mapping cannot be unset.
    */
  def unsetProperty(ref: TableRef, key: String): Unit =
    key match {
      case k if k.startsWith(CheckMetaPrefix) =>
        dropCheckConstraint(ref, k.stripPrefix(CheckMetaPrefix))
      case k if k.startsWith(GenMetaPrefix) =>
        dropGeneratedColumn(ref, k.stripPrefix(GenMetaPrefix))
      case k if k.startsWith(DefaultMetaPrefix) =>
        dropColumnDefault(ref, k.stripPrefix(DefaultMetaPrefix))
      case k if k.startsWith(IdentityMetaPrefix) =>
        dropIdentityColumn(ref, k.stripPrefix(IdentityMetaPrefix))
      case Warehouse.CdfMeta => wh.setChangeDataFeed(ref, enabled = false)
      case Warehouse.DvMeta => wh.setDeletionVectors(ref, enabled = false)
      case ColumnMappingMeta =>
        throw new UnsupportedOperationException(
          s"$ColumnMappingMeta cannot be unset: committed data files carry " +
            "field ids and name-based reads would silently misread renamed " +
            "columns — copy into a fresh unmapped table instead")
      case k => ungoverned("UNSET", Nil, Seq(k))
    }

  // ------------------------------------------------ write-time appliers

  /** Materialize declared defaults onto a write frame for columns the
    * caller omitted (no-op for frames that carry them). Runs BEFORE
    * [[applyGenerated]] so a generation may read a defaulted column.
    */
  def applyDefaults(decl: Declared, df: DataFrame): DataFrame =
    decl.defaults.filterNot { case (c, _) => df.columns.exists(_.equalsIgnoreCase(c)) }
      .toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, e)) =>
        val t = decl.schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
          .getOrElse(throw new IllegalStateException(
            s"default on ${decl.ref} names '$c', which left the schema — " +
              "dropColumnDefault it"))
        d.withColumn(c, expr(e).cast(t))
      }

  /** Compute OMITTED generated columns onto a write frame (frames that
    * carry them validate instead), in dependency order
    * ([[TableFeatures.topoGenerations]]): each `withColumn` stage sees
    * its providers already computed.
    */
  def applyGenerated(decl: Declared, df: DataFrame): DataFrame =
    topoGenerations(decl.generated.filterNot { case (c, _) => df.columns.contains(c) })
      .foldLeft(df) { case (d, (c, e)) => d.withColumn(c, expr(e)) }

  /** Generations to RECOMPUTE when the (lowercase) `setNames` columns
    * change — transitively: a generation over a recomputed generation
    * recomputes too. Excludes columns the writer assigns itself (those
    * validate instead). Dependency-ordered.
    */
  def generatedRecomputes(decl: Declared, setNames: Set[String]): Seq[(String, String)] = {
    val gens = decl.generated.filterNot { case (g, _) => setNames.contains(g.toLowerCase) }
    var changed = setNames
    var out = Map.empty[String, String]
    var progress = gens.nonEmpty
    while (progress) {
      val add = gens.filter { case (g, e) => !out.contains(g) &&
        exprRefs(e).intersect(changed).nonEmpty }
      progress = add.nonEmpty
      out ++= add
      changed ++= add.keys.map(_.toLowerCase)
    }
    topoGenerations(out)
  }

  /** Assign identity values onto a write frame (writer lock held — the
    * high-water read and its advance must be one atomic commit).
    * Two-phase and fully inside Tungsten: one tiny count-per-partition
    * job (map-side partial aggregate, ≤ one row per partition
    * shuffled), a driver-folded offset array, then the ids materialize
    * as a CODEGEN'D PROJECTION — `hw + step·(offset(partition) +
    * row-index-in-partition + 1)`, the row index recovered from
    * `monotonically_increasing_id`'s low 33 bits — no global sort, no
    * single-partition window, no Row round-trip. The frame is
    * localCheckpointed first so the count pass, the id pass and the
    * staged write all see ONE materialization with pinned partition
    * boundaries (a re-evaluated nondeterministic source would shear ids
    * from rows).
    *
    * Returns the frame (declared column order restored), the high-water
    * meta the allocating commit carries, and a cleanup the caller runs
    * once the staged write landed (unpersists the checkpoint). Supplying
    * the column refuses unless `allowSupplied` (internal full rewrites
    * carrying already-committed ids).
    */
  def applyIdentityLocked(decl: Declared, df: DataFrame, allowSupplied: Boolean)
      : (DataFrame, Map[String, String], () => Unit) = {
    val noop = () => ()
    // Internal full rewrites (renameColumn, subquery DML) carry
    // already-committed ids through — they NEVER mint. Short-circuit
    // before inspecting columns: a rename of the table's ONLY identity
    // column presents a frame where the old name is absent, and
    // falling through would resurrect the old column populated with
    // freshly minted ids (and re-advance its tombstoned high-water).
    val ids = decl.identity
    if (allowSupplied || ids.isEmpty) return (df, Map.empty, noop)
    val supplied = ids.keys.filter(c =>
      df.columns.exists(_.equalsIgnoreCase(c))).toSeq.sorted
    val base =
      if (supplied.isEmpty) df
      else {
        // SQL INSERT resolves against the FULL table schema, so an
        // omitted identity column can arrive as an all-NULL placeholder
        // — that IS an omission (strip and assign). Any real value is a
        // forgery of an engine-assigned id and refuses. One bounded
        // aggregate over the batch decides.
        val aggs = supplied.map(c => sum(when(col(c).isNotNull, 1L)
          .otherwise(0L)).as(s"__id_$c"))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        val real = supplied.zipWithIndex.filter { case (_, i) =>
          !row.isNullAt(i) && row.getLong(i) > 0L }.map(_._1)
        require(real.isEmpty,
          s"write to ${decl.ref} supplies GENERATED ALWAYS AS IDENTITY " +
            s"column(s) ${real.mkString(",")} — the engine assigns " +
            "them; omit the column(s) from the frame (an all-NULL " +
            "placeholder column is accepted as omission)")
        df.drop(supplied: _*)
      }
    val hws: Seq[(String, Long, Long)] = ids.toSeq.sortBy(_._1).map {
      case (c, (start, step)) =>
        (c, decl.meta.get(identityHwKey(c)).filter(_.nonEmpty)
          .map(_.toLong).getOrElse(start - step), step)
    }
    val src = base.localCheckpoint()
    // phase 1: rows per partition, folded into exclusive prefix offsets
    // on the driver
    val countRows = src.groupBy(spark_partition_id().as("__graft_pid"))
      .count().collect()
    val maxPid = if (countRows.isEmpty) -1
      else countRows.iterator.map(_.getInt(0)).max
    val counts = new Array[Long](maxPid + 1)
    countRows.foreach(r => counts(r.getInt(0)) = r.getLong(1))
    val n = counts.sum
    val offsets: Array[Long] = counts.scanLeft(0L)(_ + _).init
    // phase 2: ids as a codegen'd column — the projection evaluates in
    // checkpoint scan order, so `monotonically_increasing_id`'s low
    // 33 bits ARE the 0-based row index within the pinned partition.
    // The nondeterministic id expression is materialized ONCE into a
    // temp column and every identity column derives from that
    // attribute: the interpreted-projection fallback shares one
    // incrementing instance across occurrences, so per-column copies
    // of the expression would shear. CollapseProject cannot re-inline
    // it (nondeterministic).
    val rowIdx = monotonically_increasing_id()
      .bitwiseAND(lit((1L << 33) - 1))
    val offCol = element_at(lit(offsets), spark_partition_id() + lit(1))
    val withIdx = src.withColumn("__graft_idx", offCol + rowIdx + lit(1L))
    val withIds0 = hws.foldLeft(withIdx) { case (d, (c, hw, step)) =>
      d.withColumn(c, lit(hw) + lit(step) * col("__graft_idx"))
    }.drop("__graft_idx")
    // identity columns stay NULLABLE in the committed schema (historical
    // rows of a widened-then-declared table hold NULLs) — the literal
    // arithmetic above would tighten them to NOT NULL on full overwrites
    val withIds = withIds0.to(StructType(withIds0.schema.map(f =>
      if (ids.keys.exists(_.equalsIgnoreCase(f.name))) f.copy(nullable = true)
      else f)))
    // declared column order, so a full overwrite's committed schema
    // keeps the table's shape instead of pushing identity to the end
    val declared = decl.schema.fieldNames.toSeq
      .filter(n0 => withIds.columns.exists(_.equalsIgnoreCase(n0)))
    val extras = withIds.columns.toSeq.filterNot(c =>
      declared.exists(_.equalsIgnoreCase(c)))
    val out = withIds.select((declared ++ extras).map(col): _*)
    val hwMeta = hws.map { case (c, hw, step) =>
      identityHwKey(c) -> (hw + step * n).toString
    }.toMap
    (out, hwMeta, () => { src.unpersist(); () })
  }

  /** THE field-id stamper (no-op for unmapped tables): every data file
    * of a mapped table must carry ids — a file written without them
    * fails reads LOUDLY (`fieldId.read.ignoreMissing` stays false, so a
    * missed write path surfaces instead of silently reading NULLs).
    * Declared columns keep their ids. A column outside the declared
    * schema passes through unless `mint` (a FULL REPLACE, which may
    * reshape the schema): it then gets a fresh id past the never-reused
    * high-water, and the returned meta advances it in the same commit.
    */
  def withFieldIds(decl: Declared, df: DataFrame, mint: Boolean)
      : (DataFrame, Map[String, String]) = {
    if (!decl.mapped) return (df, Map.empty)
    wh.ensureFieldIdConfs()
    var next = decl.maxFieldId
    val out = df.select(df.columns.map { c =>
      decl.schema.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) if f.metadata.contains(FieldIdKey) => col(c).as(c, f.metadata)
        case _ if mint =>
          next += 1
          col(c).as(c, new MetadataBuilder().putLong(FieldIdKey, next).build())
        case _ => col(c)
      }
    }.toIndexedSeq: _*)
    (out, if (next == decl.maxFieldId) Map.empty
          else Map(ColumnMappingMaxIdMeta -> next.toString))
  }

  /** Validate staged rows against the live CHECK constraints, and their
    * supplied GENERATED values against the generations, in ONE aggregate
    * pass (zero cost when nothing is declared; rows where a predicate is
    * NULL pass, SQL CHECK semantics). Throws before the caller moves
    * anything.
    */
  def validateConstraintsLocked(decl: Declared, staged: => DataFrame): Unit = {
    val frame = staged
    val gens = decl.generated.filter { case (c, _) => frame.columns.contains(c) }
    if (decl.checks.isEmpty && gens.isEmpty) return
    graft.util.PhaseTimer.time("wh.validate") {
      val all: Seq[(String, String, Column)] =
        decl.checks.toSeq.map { case (n, p) =>
          ("CHECK constraint", s"$n ($p)", expr(p) <=> lit(false))
        } ++ gens.toSeq.map { case (c, e) =>
          ("GENERATED column", s"$c AS ($e)", !(col(c) <=> expr(e)))
        }
      val aggs = all.zipWithIndex.map { case ((_, _, viol), i) =>
        sum(when(viol, 1L).otherwise(0L)).as(s"__v$i")
      }
      val row = frame.agg(aggs.head, aggs.tail: _*).head()
      all.zipWithIndex.foreach { case ((kind, what, _), i) =>
        val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
        if (bad > 0)
          throw new IllegalStateException(
            s"write to ${decl.ref} violates $kind '$what': " +
              s"$bad row(s) fail — nothing was committed")
      }
    }
  }

  // ------------------------------------------------ column mapping

  /** Enable COLUMN MAPPING (Delta's `columnMapping.mode = 'id'`): every
    * committed schema field gets a stable parquet FIELD ID, every later
    * data file carries the ids, and reads resolve columns BY ID (Spark's
    * native `spark.sql.parquet.fieldId.*`). [[renameColumn]] then is ONE
    * metadata commit, and a dropped column's name can be re-added safely
    * (ids are never reused, so the old bytes are unreachable).
    *
    * Enable on a table with NO data files (right after CREATE TABLE):
    * existing files carry no ids and id-based reads would refuse them,
    * so a non-empty table refuses with the rewrite recipe. Idempotent
    * only while the schema actually carries ids: a RESTORE below the
    * enable point leaves the meta on over an id-less schema, and
    * re-enabling re-assigns.
    */
  def enableColumnMapping(ref: TableRef): Long = wh.txnLog.withLock(ref) {
    wh.recoverLocked(ref)
    val snap = wh.snapshot(ref).getOrElse(throw new IllegalArgumentException(
      s"$ref has no committed version — create the table first"))
    val decl = decode(snap)
    if (decl.mappedIds) return snap.version
    require(snap.files.isEmpty,
      s"enableColumnMapping on $ref: ${snap.files.size} data file(s) were " +
        "written WITHOUT field ids and id-based reads cannot resolve " +
        "them. Enable mapping right after CREATE TABLE (before the " +
        "first write); for an existing table, copy into a fresh mapped " +
        "table (createTable + enableColumnMapping + append(read(...)))")
    val mapped = StructType(withIds(decl.schema, 0L))
    wh.ensureFieldIdConfs()
    wh.commitLocked(ref, mapped.json, snap.files,
      Map(Warehouse.OpMeta -> "ENABLE_COLUMN_MAPPING", ColumnMappingMeta -> "id",
        ColumnMappingMaxIdMeta -> mapped.size.toString), snap.fileMeta)
  }

  // ------------------------------------------------ schema evolution

  /** METADATA-ONLY declared-type widening (Delta's type widening, `ALTER
    * TABLE ... ALTER COLUMN ... TYPE`): the pairs [[isTypeWidening]]
    * sanctions. One log append, zero data movement — reads are
    * declared-schema and Spark's vectorized parquet reader up-casts the
    * narrower physical values of old files on the fly. NARROWING and any
    * decimal SCALE change refuse (parquet decimals store unscaled
    * integers).
    *
    * The stats manifest FOLLOWS in the same operation
    * ([[Manifest.castColumn]]): min/max re-cast, the column's blooms
    * nulled. A crash between the schema commit and the manifest swap
    * stays safe: probes hash at the manifest's own (narrow) type, and
    * the next manifest union heals the drift.
    *
    * Refused for a column of the committed layout (the directory string
    * is typed by the declared schema) and for a column a GENERATED
    * column reads or is (its committed values would silently disagree
    * with recomputation).
    */
  def widenColumnType(ref: TableRef, column: String, newType: DataType): Long =
    wh.txnLog.withLock(ref) {
      wh.recoverLocked(ref)
      val snap = wh.snapshot(ref).getOrElse(throw new IllegalArgumentException(
        s"$ref has no committed version — widenColumnType alters an existing table"))
      val decl = decode(snap)
      val field = decl.schema.find(_.name.equalsIgnoreCase(column)).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumnType on $ref: no column '$column' " +
            s"(have ${decl.schema.fieldNames.mkString(",")})"))
      require(isTypeWidening(field.dataType, newType),
        s"ALTER COLUMN TYPE on $ref.${field.name}: ${field.dataType.sql} -> " +
          s"${newType.sql} is not a sanctioned widening " +
          "(byte->short->int->long, integral->double, float->double, " +
          "decimal precision growth at the same scale) — narrowing or " +
          "reinterpreting would corrupt committed values")
      val hits = touching(snap, decl, Set(field.name.toLowerCase))
      require(hits.partition.isEmpty,
        s"widenColumnType on $ref cannot alter partition column " +
          s"'${field.name}' — the directory layout is typed by it")
      val gens = (hits.generates ++ hits.derived).distinct
      require(gens.isEmpty,
        s"widenColumnType on $ref: GENERATED column(s) " +
          s"${gens.mkString(",")} are (or read) '${field.name}' " +
          "— drop the generation first (re-add it after)")
      val widened = StructType(decl.schema.map(f =>
        if (f.name.equalsIgnoreCase(field.name)) f.copy(dataType = newType) else f))
      val v = wh.commitLocked(ref, widened.json, snap.files,
        Map(Warehouse.OpMeta -> "WIDEN_COLUMN"), snap.fileMeta)
      wh.manifest.castColumn(ref, field.name, newType)
      v
    }

  /** METADATA-ONLY column addition (Delta's `ALTER TABLE ADD COLUMNS`):
    * widen the committed schema with new NULLABLE fields — one log
    * append, ZERO data movement. Existing files simply lack the columns
    * and every read surface null-backfills them by name; time travel to
    * a pre-widening version keeps the old schema. Same-name collisions
    * refuse. A previously-dropped name refuses while live files still
    * carry its bytes (a declared-schema read would surface them as the
    * new column's values) — except under column mapping, where reads
    * resolve by never-reused field id and new columns mint fresh ones.
    */
  def addColumns(ref: TableRef, fields: Seq[StructField]): Long =
    wh.txnLog.withLock(ref) {
      wh.recoverLocked(ref)
      require(fields.nonEmpty, "addColumns needs at least one field")
      val snap = wh.snapshot(ref).getOrElse(throw new IllegalArgumentException(
        s"$ref has no committed version — addColumns widens an existing table"))
      val decl = decode(snap)
      val clash = fields.map(_.name).filter(n =>
        decl.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(clash.isEmpty,
        s"addColumns to $ref: column(s) ${clash.mkString(",")} already exist")
      val dead = fields.map(_.name).filter(n => decl.dropped(n.toLowerCase))
      require(decl.mappedIds || dead.isEmpty,
        s"addColumns to $ref: column(s) ${dead.mkString(",")} were " +
          "previously dropped and live files still carry their bytes — " +
          "a full overwrite rewrites them, or pick another name")
      // mapped tables: new columns mint fresh ids past the high-water
      val added = fields.map(_.copy(nullable = true))
      val (widened, idMeta) =
        if (!decl.mappedIds) (StructType(decl.schema ++ added), Map.empty[String, String])
        else (StructType(decl.schema ++ withIds(added, decl.maxFieldId)),
          Map(ColumnMappingMaxIdMeta -> (decl.maxFieldId + added.size).toString))
      wh.commitLocked(ref, widened.json, snap.files,
        Map(Warehouse.OpMeta -> "ADD_COLUMNS") ++ idMeta, snap.fileMeta)
    }

  /** METADATA-ONLY column removal (`ALTER TABLE DROP COLUMNS`): reads are
    * declared-schema, so a column absent from the committed schema is
    * never requested from the files that still carry its bytes
    * ([[Warehouse.vacuum]]-then-[[Warehouse.compact]] reclaims them). One
    * log append, zero data movement; time travel below the narrow keeps
    * the column. The names are tombstoned ([[addColumns]] refuses a
    * same-name re-add until a full rewrite), and a dropped column's
    * DEFAULT dies with it. Refused for a column of the committed layout
    * (the layout IS the column), a column a CHECK constraint or a
    * generation reads, and a generated or identity column.
    */
  def dropColumns(ref: TableRef, names: Seq[String]): Long =
    wh.txnLog.withLock(ref) {
      wh.recoverLocked(ref)
      require(names.nonEmpty, "dropColumns needs at least one column")
      val snap = wh.snapshot(ref).getOrElse(throw new IllegalArgumentException(
        s"$ref has no committed version — dropColumns narrows an existing table"))
      val decl = decode(snap)
      val missing = names.filterNot(n =>
        decl.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"dropColumns on $ref: column(s) ${missing.mkString(",")} do not exist")
      val dropNames = names.map(_.toLowerCase).toSet
      val hits = touching(snap, decl, dropNames)
      require(hits.partition.isEmpty,
        s"dropColumns on $ref cannot drop partition column(s) " +
          s"${hits.partition.mkString(",")} — the directory layout is the column")
      // a column named `r` drops cleanly while `price > 0` is live: only
      // a genuinely referenced column refuses
      require(hits.checks.isEmpty,
        s"dropColumns on $ref: CHECK constraint(s) " +
          s"${hits.checks.mkString(",")} mention the column(s) — drop " +
          "the constraint first")
      val gens = (hits.generates ++ hits.derived).distinct
      require(gens.isEmpty,
        s"dropColumns on $ref: GENERATED column(s) " +
          s"${gens.mkString(",")} are (or are derived from) the " +
          "column(s) — drop the generation first (dropGeneratedColumn)")
      require(hits.identity.isEmpty,
        s"dropColumns on $ref: IDENTITY column(s) " +
          s"${hits.identity.mkString(",")} — drop the identity first " +
          "(dropIdentityColumn)")
      val narrowed = StructType(decl.schema.filterNot(f => dropNames(f.name.toLowerCase)))
      require(narrowed.nonEmpty, s"dropColumns on $ref would leave no columns")
      wh.commitLocked(ref, narrowed.json, snap.files,
        Map(Warehouse.OpMeta -> "DROP_COLUMNS") ++
          hits.defaults.map(c => defaultMetaKey(c) -> "") ++
          names.map(n => droppedMetaKey(n.toLowerCase) -> "1"), snap.fileMeta)
    }

  /** RENAME COLUMN. Under column mapping it is ONE metadata commit: the
    * field id — and every physical byte keyed by it — stays, only the
    * logical name changes, and the stats manifest renames its columns.
    * Otherwise files are name-based, so the only sound rename is a
    * GUARDED FULL REWRITE: one versioned OVERWRITE commit, O(data),
    * CAS-guarded (a concurrent commit between the read and the rewrite
    * fails it loudly instead of being lost). Either way the stats, bloom
    * and layout declarations follow, IDENTITY (with its high-water) and
    * DEFAULT declarations re-key in the same commit, and time travel
    * below the rename keeps the old name; the rewrite also clears
    * dropped-name tombstones. Refused for a column of the committed
    * layout (the layout IS the column) and for a column a CHECK
    * constraint or a generation reads or a generation is (drop, rename,
    * re-add against the new name).
    */
  def renameColumn(ref: TableRef, from: String, to: String): Long = {
    require(to.nonEmpty && !to.exists(c => c == '\n' || c == '\t'),
      s"renameColumn on $ref: invalid target name '$to'")
    val snap = wh.snapshot(ref).getOrElse(throw new IllegalArgumentException(
      s"$ref has no committed version — renameColumn rewrites an existing table"))
    val decl = decode(snap)
    val field = decl.schema.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(
        s"renameColumn on $ref: column '$from' does not exist"))
    require(!decl.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"renameColumn on $ref: column '$to' already exists")
    val hits = touching(snap, decl, Set(from.toLowerCase))
    require(hits.partition.isEmpty,
      s"renameColumn on $ref cannot rename partition column '$from' — " +
        "the directory layout is the column")
    require(hits.checks.isEmpty,
      s"renameColumn on $ref: CHECK constraint(s) " +
        s"${hits.checks.mkString(",")} reference '$from' — drop the " +
        "constraint first (re-add it against the new name after)")
    val gens = (hits.generates ++ hits.derived).distinct
    require(gens.isEmpty,
      s"renameColumn on $ref: GENERATED column(s) " +
        s"${gens.mkString(",")} are (or read) '$from' — drop " +
        "the generation first (re-add it against the new name after)")
    val follow: Map[String, String] = hits.identity.flatMap { c =>
      val (start, step) = decl.identity(c)
      Seq(identityMetaKey(c) -> "", identityMetaKey(to) -> s"$start,$step",
        identityHwKey(c) -> "") ++ decl.meta.get(identityHwKey(c)).map(identityHwKey(to) -> _)
    }.toMap ++ hits.defaults.flatMap(c =>
      Seq(defaultMetaKey(c) -> "", defaultMetaKey(to) -> decl.defaults(c)))
    def renamed(cols: Seq[String]): Seq[String] =
      cols.map(c => if (c.equalsIgnoreCase(from)) to else c)
    // the field must actually CARRY its id: a RESTORE below the enable
    // point resurrects an id-less schema while the mapping meta reads
    // on — a metadata rename there would orphan the old-name bytes, so
    // such tables take the rewrite
    if (decl.mapped && field.metadata.contains(FieldIdKey)) {
      // committed change files carry the OLD name: a feed crossing the
      // rename would union mismatched schemas
      require(!wh.cdfEnabled(ref),
        s"renameColumn on $ref: the change data feed is enabled and " +
          "committed change files carry the old name — " +
          "setChangeDataFeed(ref, false) around the rename (the feed " +
          "restarts cleanly after)")
      // the declared-layout lists follow too: a still-empty mapped
      // table's first append bootstraps its manifest from them
      val layoutMeta = Seq(Warehouse.StatsColumnsMeta, Warehouse.BloomColumnsMeta,
        Warehouse.PartitionByMeta).flatMap { key =>
        val cols = wh.metaColumns(ref, key)
        if (cols.exists(_.equalsIgnoreCase(from))) Some(key -> renamed(cols).mkString(","))
        else None
      }
      return wh.txnLog.withLock(ref) {
        wh.recoverLocked(ref)
        val cur = wh.snapshot(ref).get
        require(cur.version == snap.version,
          s"renameColumn on $ref lost a race: planned against " +
            s"v${snap.version}, table is now at v${cur.version} — re-run")
        // manifest FIRST, commit second: a crash in between leaves a
        // new-named manifest under the old schema — pruning degrades
        // conservatively and RE-RUNNING the rename heals, where the
        // reverse order would strand an old-named manifest and stop the
        // column's stats for good
        wh.manifest.renameColumn(ref, field.name, to)
        wh.commitLocked(ref, StructType(decl.schema.map(f =>
            if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)).json,
          cur.files, follow ++ layoutMeta ++ Map(Warehouse.OpMeta -> "RENAME_COLUMN"),
          cur.fileMeta, dv = Some(cur.dvMap))
      }
    }
    val df = wh.readSnapshot(snap).withColumnRenamed(field.name, to)
    wh.overwrite(ref, df,
      partitionBy = wh.layoutOf(snap).filter(df.columns.contains),
      statsColumns = renamed(wh.statColumns(ref)).filter(df.columns.contains),
      bloomColumns = renamed(wh.bloomColumns(ref)).filter(df.columns.contains),
      expectedVersion = Some(snap.version),
      meta = follow ++ Map(Warehouse.OpMeta -> "RENAME_COLUMN"),
      // the frame is the complete committed truth under the new name
      internalRewrite = true)
    wh.currentVersion(ref).get
  }
}

private[graft] object TableFeatures {

  /** Every feature declaration one version carries, decoded once from
    * its commit meta (dropped declarations — empty tombstones — are
    * absent from every view).
    */
  final case class Declared(ref: TableRef, schemaJson: String,
                            meta: Map[String, String]) {
    private def live(prefix: String): Map[String, String] = meta.collect {
      case (k, v) if k.startsWith(prefix) && v.nonEmpty => k.stripPrefix(prefix) -> v
    }
    lazy val schema: StructType =
      if (schemaJson.isEmpty) new StructType()
      else DataType.fromJson(schemaJson).asInstanceOf[StructType]
    /** CHECK constraints: name → predicate SQL. */
    lazy val checks: Map[String, String] = live(CheckMetaPrefix)
    /** GENERATED columns: column → expression SQL. */
    lazy val generated: Map[String, String] = live(GenMetaPrefix)
    /** Column DEFAULTs: column → constant expression SQL. */
    lazy val defaults: Map[String, String] = live(DefaultMetaPrefix)
    /** IDENTITY columns: column → (start, step). */
    lazy val identity: Map[String, (Long, Long)] = live(IdentityMetaPrefix)
      .map { case (c, v) => c -> parseIdentitySpec(IdentityMetaPrefix + c, v) }
    /** Lowercase names whose bytes live files may still carry. */
    lazy val dropped: Set[String] = live(DroppedMetaPrefix).keySet
    /** Column mapping is on. */
    lazy val mapped: Boolean = meta.get(ColumnMappingMeta).contains("id")
    /** Column mapping is on AND the schema carries the ids (a RESTORE
      * below the enable point leaves the meta on over an id-less
      * schema; such a table reads by name).
      */
    lazy val mappedIds: Boolean =
      mapped && schema.forall(_.metadata.contains(FieldIdKey))
    /** The never-reused field-id high-water. */
    lazy val maxFieldId: Long = meta.get(ColumnMappingMaxIdMeta)
      .filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
  }

  /** The declarations touching some columns ([[TableFeatures.touching]]). */
  final case class Touching(partition: Seq[String], checks: Seq[String],
                            generates: Seq[String], derived: Seq[String],
                            identity: Seq[String], defaults: Seq[String])

  /** The governed TBLPROPERTIES ([[TableFeatures.setProperty]]): the
    * declaration key families and the three toggles.
    */
  private def families = Seq(CheckMetaPrefix, GenMetaPrefix, DefaultMetaPrefix,
    IdentityMetaPrefix)
  private def toggles = Seq(Warehouse.CdfMeta, Warehouse.DvMeta, ColumnMappingMeta)

  def governs(key: String): Boolean = families.exists(key.startsWith) || toggles.contains(key)

  /** The loud refusal of ungoverned `keys`: `verb` governs `also` and
    * the governed properties only.
    */
  def ungoverned(verb: String, also: Seq[String], keys: Seq[String]): Nothing =
    throw new UnsupportedOperationException(
      s"graft $verb TBLPROPERTIES governs " +
        s"${(also ++ families.map(_ + "*") ++ toggles).mkString(", ")} only; " +
        s"not governed: ${keys.mkString(", ")}")

  /** The carried meta a clone copies from its source version: CHECK
    * constraints and the CDF flag (Delta's clone copies table
    * properties), plus the declared layout when `layout` (a fileless
    * source declares it only in meta). GENERATED, DEFAULT and IDENTITY
    * declarations do not carry.
    */
  def clonedMeta(meta: Map[String, String], layout: Boolean): Map[String, String] =
    meta.filter { case (k, v) =>
      v.nonEmpty && (k.startsWith(CheckMetaPrefix) || k == Warehouse.CdfMeta ||
        (layout && Seq(Warehouse.PartitionByMeta, Warehouse.StatsColumnsMeta,
          Warehouse.BloomColumnsMeta).contains(k)))
    }

  /** `fields` with field ids `from + 1`, `from + 2`, … stamped on. */
  def withIds(fields: Seq[StructField], from: Long): Seq[StructField] =
    fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(FieldIdKey, from + i + 1).build())
    }

  /** Carried-meta prefix of CHECK constraints
    * ([[TableFeatures.setCheckConstraint]]): `graft.check.<name>` →
    * predicate SQL; empty value = dropped tombstone.
    */
  val CheckMetaPrefix = "graft.check."

  def checkMetaKey(name: String): String = s"$CheckMetaPrefix$name"

  /** Carried-meta prefix of GENERATED column expressions
    * (`graft.generated.<col>` = single-line SQL over the row's other
    * columns). Empty value = generation dropped (tombstone).
    */
  val GenMetaPrefix = "graft.generated."

  def genMetaKey(column: String): String = s"$GenMetaPrefix$column"

  /** Carried-meta prefix of column DEFAULT expressions
    * (`graft.default.<col>` = single-line constant SQL); empty value =
    * default dropped (tombstone).
    */
  val DefaultMetaPrefix = "graft.default."

  def defaultMetaKey(column: String): String = s"$DefaultMetaPrefix$column"

  /** Carried-meta prefix of IDENTITY column declarations
    * (`graft.identity.<col>` = `start,step`). Deliberately NOT a prefix
    * of [[IdentityHwPrefix]] — the two key families must never shadow
    * each other's parses.
    */
  val IdentityMetaPrefix = "graft.identity."

  def identityMetaKey(column: String): String = s"$IdentityMetaPrefix$column"

  /** Carried-meta prefix of identity HIGH-WATER marks: the LAST value
    * the engine allocated for the column. Advances atomically inside
    * the allocating commit, so a crashed write can never reuse ids a
    * committed version handed out.
    */
  val IdentityHwPrefix = "graft.identityhw."

  def identityHwKey(column: String): String = s"$IdentityHwPrefix$column"

  /** Carried-meta prefix of dropped-column tombstones (the resurrection
    * guard of [[TableFeatures.addColumns]]): cleared (blanked) by the
    * next full overwrite, whose fresh files carry no old bytes.
    */
  val DroppedMetaPrefix = "graft.dropped."

  def droppedMetaKey(lowerName: String): String = s"$DroppedMetaPrefix$lowerName"

  /** Carried-meta toggle of COLUMN MAPPING (`'id'` = enabled — Delta's
    * `delta.columnMapping.mode`).
    */
  val ColumnMappingMeta = "graft.columnmapping"

  /** Carried-meta high-water of assigned field ids — ids are NEVER
    * reused (a dropped column's bytes still sit in live files keyed by
    * its id; a reused id would resurrect them under the new column).
    */
  val ColumnMappingMaxIdMeta = "graft.columnmapping.maxid"

  /** The parquet metadata key Spark's reader/writer use for field-id
    * matching (`spark.sql.parquet.fieldId.{read,write}.enabled`).
    */
  val FieldIdKey = "parquet.field.id"

  /** Column names (last name part, lowercased) an expression SQL
    * references — the one dependency probe of generation ordering,
    * recompute targeting and [[TableFeatures.touching]].
    */
  def exprRefs(sql: String): Set[String] =
    CatalystSqlParser.parseExpression(sql).collect {
      case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
    }.toSet

  /** Substitute assigned columns into an expression: every reference to
    * a key of `sets` (lowercase name → replacement SQL) becomes that
    * replacement's parsed expression — how a generation recomputes over
    * a POST-assignment image when the evaluation frame only carries the
    * pre-image under the original names.
    */
  def substituteSql(sql: String, sets: Map[String, String]): String =
    // transformUp, NOT transform: the replacement must never be
    // re-descended — a self-referential assignment (`price ->
    // price + delta`) would loop, and its internal references mean the
    // PRE-image by SET semantics anyway
    CatalystSqlParser.parseExpression(sql).transformUp {
      case a: UnresolvedAttribute if sets.contains(a.nameParts.last.toLowerCase) =>
        CatalystSqlParser.parseExpression(sets(a.nameParts.last.toLowerCase))
    }.sql

  /** Dependency-order generations: a generation may read ANOTHER
    * generated column, so compute providers first (alphabetical order
    * broke on naming). Cycles and self-reference refuse loudly instead
    * of failing with an unresolved-column error that depends on names.
    */
  def topoGenerations(gens: Map[String, String]): Seq[(String, String)] = {
    val lcOf = gens.keys.map(k => k.toLowerCase -> k).toMap
    var remaining = gens.toSeq.sortBy(_._1)
    var done = Set.empty[String]
    val out = Seq.newBuilder[(String, String)]
    var progress = true
    while (remaining.nonEmpty && progress) {
      val (ready, blocked) = remaining.partition { case (_, e) =>
        exprRefs(e).intersect(lcOf.keySet -- done).isEmpty
      }
      progress = ready.nonEmpty
      out ++= ready
      done ++= ready.map(_._1.toLowerCase)
      remaining = blocked
    }
    require(remaining.isEmpty,
      s"generated columns form a reference cycle: " +
        remaining.map(_._1).mkString(","))
    out.result()
  }

  /** Sanctioned declared-type widenings: the pairs Spark's vectorized
    * parquet reader up-casts losslessly on the fly — byte→short→int→long,
    * any of those →double, float→double, decimal precision growth at
    * the SAME scale. Narrowing, scale changes and cross-family
    * reinterpretation are not widenings.
    */
  def isTypeWidening(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (f, t) if f == t => false // not a change at all
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (LongType, DoubleType) => false // loses precision past 2^53
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Parse a governed identity property value: `'start,step'`, or a
    * bare `'start'` meaning step 1. Malformed shapes ('1,2,3',
    * non-numeric pieces, empties) refuse loudly naming the key and the
    * expected format — never a bare MatchError.
    */
  def parseIdentitySpec(key: String, value: String): (Long, Long) = {
    def bad(): Nothing = throw new IllegalArgumentException(
      s"$key expects 'start,step' (two integers) or a bare integer " +
        s"start; got '$value'")
    def num(s: String): Long =
      try s.trim.toLong catch { case _: NumberFormatException => bad() }
    value.split(",", -1).map(_.trim) match {
      case Array(st) if st.nonEmpty => (num(st), 1L)
      case Array(st, sp) if st.nonEmpty && sp.nonEmpty => (num(st), num(sp))
      case _ => bad()
    }
  }
}
