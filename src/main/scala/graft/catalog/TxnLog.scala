package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The versioned commit log of every table under one warehouse root —
  * the one owner of `_graft_log/`: version-file naming and listing,
  * the log-format parser and renderer, delta/checkpoint resolution
  * with its fingerprint caches, the vacuum horizon, the per-table
  * writer lock, and the one durable text-write primitive every
  * metadata file goes through. Hadoop paths and filesystems only: it
  * plans no query and reads no data.
  *
  * Log format, one `kind\t…` line each:
  *  - `schema\t<json>` — the version's frame schema;
  *  - `file\t<rel>\t<bytes>\t<mtimeMs>` — a CHECKPOINT's complete list;
  *  - `base\t<v>` + `add\t<rel>\t<bytes>\t<mtimeMs>` + `retire\t<rel>` —
  *    a DELTA's churn against its predecessor `v`;
  *  - `dv\t<rel>\t<sidecarDir>` (a checkpoint's complete deletion-vector
  *    map, a delta's changed mappings) and `dvdrop\t<rel>` (a delta's
  *    cleared mapping);
  *  - `meta\t<key>=<value>` — commit metadata.
  *
  * Every `file`/`add` line carries the file's bytes and mtime, so
  * readers plan from the log alone. A malformed line of a known kind
  * fails the read and names the file; unknown kinds are skipped for
  * forward compatibility.
  */
private[catalog] final class TxnLog(conf: Configuration,
                                    tablePath: TableRef => String,
                                    writerLeaseMs: Long) {
  import TxnLog._

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def dir(ref: TableRef): Path = new Path(new Path(tablePath(ref)), LogDir)

  def versionPath(ref: TableRef, v: Long): Path = new Path(dir(ref), f"v$v%08d")

  /** A write-audit-publish batch's staged manifest (same line format
    * as a checkpoint), beside the versions it is not yet one of.
    */
  def stagedPath(ref: TableRef, id: String): Path =
    new Path(dir(ref), s"staged-$id")

  // ------------------------------------------------ durable text files

  /** THE durable metadata write: `text` lands in a sibling
    * `.<name>.tmp`, then renames onto `p`, so a reader (or a crash)
    * sees the previous file or the complete new one — never a torn
    * write. Throws when the rename fails.
    */
  def writeText(p: Path, text: String): Unit = {
    val filesystem = fs(p)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = filesystem.create(tmp, true)
    try out.write(text.getBytes(UTF_8))
    finally out.close()
    if (!filesystem.rename(tmp, p))
      throw new java.io.IOException(s"failed to publish $p")
  }

  /** The whole of one small metadata file, as UTF-8 text. */
  def readText(p: Path): String = {
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }

  /** Read and parse one log-format file (version or staged manifest),
    * bumping [[TxnLog.LogIO]].
    */
  def readLog(p: Path): LogContent = {
    val text = readText(p)
    LogIO.reads.incrementAndGet()
    LogIO.bytes.addAndGet(text.length.toLong)
    parse(text, p.toString)
  }

  // ------------------------------------------------ listing

  /** One listing of the log directory; empty when there is none. */
  private def listing(ref: TableRef): Array[FileStatus] =
    try fs(dir(ref)).listStatus(dir(ref))
    catch { case _: java.io.FileNotFoundException => Array.empty }

  private def versionStatuses(listing: Array[FileStatus]): Seq[(Long, FileStatus)] =
    listing.toSeq.flatMap(st => versionOf(st.getPath.getName).map(_ -> st))
      .sortBy(_._1)

  /** Version numbers with a log file PRESENT, ascending — including
    * delta-chain anchors below the vacuum horizon, which survive for
    * resolution but are not readable.
    */
  def versionFiles(ref: TableRef): Seq[Long] =
    versionStatuses(listing(ref)).map(_._1)

  /** READABLE committed versions, ascending: version files present AND
    * at or above the vacuum horizon. One directory listing.
    */
  def versions(ref: TableRef): Seq[Long] = {
    val l = listing(ref)
    val h = horizonFrom(l)
    versionStatuses(l).map(_._1).filter(_ >= h)
  }

  /** The staged ids awaiting audit/publish, sorted. */
  def stagedIds(ref: TableRef): Seq[String] =
    listing(ref).map(_.getPath.getName)
      .collect { case n if n.startsWith("staged-") => n.stripPrefix("staged-") }
      .toSeq.sorted

  // ------------------------------------------------ vacuum horizon

  /** The vacuum retention horizon: versions below it are unreadable
    * even when their log files survive as delta-chain anchors. 0 when
    * the table was never horizon-pruned.
    */
  def horizon(ref: TableRef): Long = horizonFrom(listing(ref))

  /** The MAX over every surviving `_horizon.<h>` marker (value in the
    * name — zero reads). [[raiseHorizon]] writes new-before-old, so a
    * crash between the write and the sweep leaves TWO markers whose
    * max is still correct — never a window where versions a previous
    * vacuum already stripped of data resolve as readable.
    */
  private def horizonFrom(listing: Array[FileStatus]): Long =
    listing.iterator.flatMap(st => horizonOf(st.getPath.getName))
      .maxOption.getOrElse(0L)

  /** Raise the retention horizon (never lowers). NEW MARKER FIRST: the
    * value lands as a uniquely-named `_horizon.<h>` file through
    * [[writeText]], and only then are superseded markers swept.
    */
  def raiseHorizon(ref: TableRef, h: Long): Unit = {
    val before = listing(ref)
    if (h <= horizonFrom(before)) return
    writeText(new Path(dir(ref), s"$HorizonPrefix$h"), s"$h\n")
    before.map(_.getPath).foreach { p =>
      if (horizonOf(p.getName).exists(_ < h)) fs(p).delete(p, false)
    }
  }

  // ------------------------------------------------ resolution

  private def versionStatus(ref: TableRef, v: Long): Option[FileStatus] = {
    val p = versionPath(ref, v)
    try Some(fs(p).getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def fpOf(st: FileStatus): String =
    s"${st.getLen}:${st.getModificationTime}"

  /** Parsed (NOT resolved) content of one version file, through the
    * fingerprint cache — a delta file's `files` are its ADDS only.
    * None when the version file is absent.
    */
  def raw(ref: TableRef, v: Long): Option[LogContent] =
    versionStatus(ref, v).map(rawSt)

  private def rawSt(st: FileStatus): LogContent = {
    val key = st.getPath.toString
    val fp = fpOf(st)
    cachedRaw(key, fp).getOrElse {
      val c = readLog(st.getPath)
      cacheRaw(key, fp, c)
      c
    }
  }

  /** Fully resolved content of one version — delta chains applied
    * against the predecessor, memoized per version file (fingerprint-
    * validated, so a dropped-and-recreated table never serves stale
    * content). Chain depth is bounded by [[TxnLog.checkpointEvery]].
    * Does NOT apply the vacuum horizon (chain anchors below it must
    * still resolve).
    */
  def resolved(ref: TableRef, v: Long): Option[ResolvedVersion] =
    versionStatus(ref, v).map { st =>
      val key = st.getPath.toString
      val fp = fpOf(st)
      cachedResolved(key, fp).getOrElse {
        val c = rawSt(st)
        val r =
          if (!c.isDelta)
            ResolvedVersion(c.schemaJson, c.files, c.fileMeta, c.meta, c.dvAdds)
          else {
            val parent = resolved(ref, v - 1).getOrElse(
              throw new IllegalStateException(
                s"$ref: version $v is a delta commit but its base " +
                  s"${v - 1} log file is missing — log corrupted or " +
                  "manually pruned"))
            val retired = c.retires.toSet
            // a delta's add may RE-ADD a carried path (meta-only
            // change: same file, new recorded bytes/mtime) — the
            // parent's copy drops so the list never duplicates
            val readded = c.files.toSet
            ResolvedVersion(c.schemaJson,
              parent.files.filterNot(f => retired(f) || readded(f)) ++ c.files,
              (parent.fileMeta -- retired) ++ c.fileMeta, c.meta,
              // dv resolution mirrors fileMeta: a retired file's vector
              // dies with it, tombstones clear a live file's vector,
              // adds override
              (parent.dvMap -- retired -- c.dvDrops) ++ c.dvAdds)
          }
        cacheResolved(key, fp, r)
        r
      }
    }

  /** Nearest checkpoint at or below `v` — the version file anchoring
    * `v`'s delta-resolution chain.
    */
  def chainAnchor(ref: TableRef, v: Long): Long = {
    var x = v
    while (raw(ref, x).exists(_.isDelta)) x -= 1
    x
  }

  /** (version, effective commit clock) for every READABLE version,
    * ascending — the resolver behind `TIMESTAMP AS OF`,
    * `startingTimestamp` and time-based vacuum retention. The clock is
    * each commit's own [[TxnLog.TsMeta]] stamp, read through the
    * fingerprint cache; a version without one fails loudly and names
    * itself. Effective clocks are forced MONOTONIC (Delta's
    * in-commit-timestamp rule): a wall-clock step-back between commits
    * must never make version N resolvable while N-1 is not.
    */
  def commitClocks(ref: TableRef): Seq[(Long, Long)] = {
    val l = listing(ref)
    val h = horizonFrom(l)
    val stamped = versionStatuses(l).filter(_._1 >= h).map { case (v, st) =>
      v -> stampOf(ref, v, rawSt(st).meta)
    }
    stamped.map(_._1).zip(
      stamped.scanLeft(0L)((prev, vt) => math.max(prev, vt._2)).tail)
  }

  /** The files that first APPEARED in commit `v`, with their recorded
    * (bytes, mtime) — the streaming source's per-trigger unit, O(that
    * commit's churn): a delta file's `add` lines answer directly with
    * NO parent resolution; a checkpoint takes [[changesFull]]'s diff
    * against a readable predecessor (an overwrite's adds are its whole
    * list anyway), whose full-list fallback when the predecessor is
    * gone is the replay anchor a fresh stream starts from. Also reports
    * how many files the commit RETIRED (0 for a pure append — what
    * `skipChangeCommits` filters on). None when version `v` itself is
    * unreadable (never committed, or vacuumed).
    */
  def changes(ref: TableRef, v: Long): Option[(Seq[String], Map[String, (Long, Long)], Int)] = {
    if (v < horizon(ref)) return None
    raw(ref, v).flatMap { c =>
      // deletion-vector churn counts as CHANGE: a merge-on-read delete
      // retires nothing, but its commit modified live rows — the row
      // stream's skipChangeCommits contract must see it
      if (c.isDelta)
        Some((c.files, c.fileMeta,
          c.retires.size + c.dvAdds.size + c.dvDrops.size))
      else
        changesFull(ref, v).map(cc =>
          (cc.adds, cc.addMeta, cc.retired.size + cc.dvChanged.size))
    }
  }

  /** Full change resolution of one commit for the CHANGE DATA FEED
    * reader ([[GraftChangesTable]]): the files that appeared AND the
    * files that retired, with recorded sizes for both (retired sizes
    * from the parent's resolution — cached), whether the commit was a
    * FULL replace (every parent file retired — overwrite semantics,
    * derivable as delete-all + insert-all without change files), and
    * the commit meta (the `graft.op` / `graft.cdc` the reader's
    * resolution rules dispatch on). O(churn) off the raw log for delta
    * commits; checkpoints diff cached resolutions. None when `v` fell
    * below vacuum retention.
    */
  def changesFull(ref: TableRef, v: Long): Option[CommitChanges] = {
    if (v < horizon(ref)) return None
    raw(ref, v).map { c =>
      if (c.isDelta) {
        val retiredSet = c.retires.toSet
        val parent = resolved(ref, v - 1)
        val parentFiles = parent.map(_.files.toSet).getOrElse(Set.empty)
        val parentMeta =
          if (c.retires.isEmpty) Map.empty[String, (Long, Long)]
          else parent.map(_.fileMeta)
            .getOrElse(Map.empty).view.filterKeys(retiredSet).toMap
        // a delta `add` can be a META-ONLY re-add of a carried path
        // (recorded size changed, rows did not): the feed must not
        // re-emit its rows as inserts — only genuinely NEW paths count
        val adds = c.files.filterNot(parentFiles.contains)
        val addSet = adds.toSet
        // a full replace never delta-encodes (adds+retires >= files
        // writes a checkpoint), so fullReplace is structurally false
        CommitChanges(adds,
          c.fileMeta.view.filterKeys(addSet).toMap, c.retires, parentMeta,
          fullReplace = false, c.meta,
          // live files whose vector changed this commit (adds override,
          // tombstones clear): the merge-on-read delete footprint
          dvChanged = (c.dvAdds.keys.filterNot(retiredSet) ++
            c.dvDrops.filterNot(retiredSet)).toSeq.distinct.sorted,
          retiredWithDv = parent.map(_.dvMap.keySet).getOrElse(Set.empty)
            .intersect(retiredSet).toSeq.sorted)
      } else {
        // diff whenever the v-1 log file is PHYSICALLY present — chain
        // anchors below the horizon still resolve, so an explicit
        // startingVersion at the earliest survivor gets that commit's
        // actual churn, not a full-table re-emission; the full-list
        // fallback is reserved for predecessors vacuum truly deleted
        val parent = if (v >= 2) resolved(ref, v - 1) else None
        parent match {
          case Some(p) =>
            val prevSet = p.files.toSet
            val fileSet = c.files.toSet
            val adds = c.files.filterNot(prevSet)
            val addSet = adds.toSet
            val retired = p.files.filterNot(fileSet)
            val retiredSet = retired.toSet
            CommitChanges(adds,
              c.fileMeta.view.filterKeys(addSet).toMap,
              retired, p.fileMeta.view.filterKeys(retiredSet).toMap,
              fullReplace = retired.nonEmpty && retired.size == p.files.size,
              c.meta,
              dvChanged = c.files.filter(f => prevSet.contains(f) &&
                p.dvMap.get(f) != c.dvAdds.get(f)).sorted,
              retiredWithDv = p.dvMap.keySet.intersect(retiredSet)
                .toSeq.sorted)
          case None =>
            // no readable predecessor (v1, or vacuum took it): the full
            // list is the feed's base — inserts, like a fresh stream
            CommitChanges(c.files, c.fileMeta, Nil, Map.empty,
              fullReplace = false, c.meta)
        }
      }
    }
  }

  // ------------------------------------------------ commit

  /** Append the next version (caller MUST hold [[withLock]] — the lock
    * serializes version numbering), published through [[writeText]]:
    * readers see the previous complete version or this one.
    *
    * `fileMeta` (rel → (bytes, mtimeMs)) must cover every file: it
    * rides each `file`/`add` line so later readers plan without
    * listing the filesystem.
    *
    * DELTA-ENCODED: when the churn (adds + retires vs the previous
    * version) is smaller than the full list, the version file records
    * only `add`/`retire` lines against `base` — a tiny merge on a
    * 10M-file table writes O(churn) bytes, not O(files). Every
    * [[TxnLog.checkpointEvery]]-th version is a full CHECKPOINT
    * regardless, bounding resolution chains; commits whose churn
    * rivals the list write checkpoints outright. [[resolved]] reads
    * either shape identically.
    *
    * Application meta is CARRIED FORWARD through every commit (explicit
    * keys override): a meta-less maintenance commit followed by
    * vacuum's version pruning must not delete the only log file holding
    * a marker. [[TxnLog.OpMeta]], [[TxnLog.TsMeta]] and
    * [[TxnLog.CdcMeta]] describe ONE commit and are never carried; the
    * wall-clock stamp lands after the carry.
    *
    * @param dv the new version's COMPLETE deletion-vector map, or None
    *        to CARRY the parent's forward (restricted to files still
    *        committed — a retired or replaced file's vector dies with
    *        it), so an append or stream epoch can never silently
    *        resurrect deleted rows by dropping the map.
    */
  def commit(ref: TableRef, schemaJson: String, files: Seq[String],
             meta: Map[String, String], fileMeta: Map[String, (Long, Long)],
             dv: Option[Map[String, String]]): Long = {
    meta.foreach { case (k, v) =>
      require(!k.exists(c => c == '\t' || c == '\n' || c == '=') &&
        !v.exists(c => c == '\t' || c == '\n'),
        s"commit meta keys/values must be single-line, '=':free key: $k=$v")
    }
    val prev = versions(ref).lastOption
    val next = prev.getOrElse(0L) + 1L
    val prevResolved = prev.flatMap(resolved(ref, _))
    val allMeta = (prevResolved.map(_.meta).getOrElse(Map.empty)
      - OpMeta - TsMeta - CdcMeta) ++ meta +
      (TsMeta -> System.currentTimeMillis().toString)
    val fileSet = files.toSet
    val parentDv = prevResolved.map(_.dvMap).getOrElse(Map.empty)
    val effectiveDv = dv.getOrElse(parentDv).view.filterKeys(fileSet).toMap
    val delta = prevResolved.filter(_ => next % checkpointEvery != 0).flatMap { pr =>
      val prevSet = pr.files.toSet
      // carried-over paths whose recorded (bytes, mtime) CHANGED are
      // re-added (resolution drops the parent's copy): keying the
      // delta on path churn alone would silently inherit the stale
      // entry into planning sizes and maxBytesPerTrigger accounting
      val adds = files.filter(f => !prevSet.contains(f) ||
        fileMeta.get(f).exists(m => !pr.fileMeta.get(f).contains(m)))
      val retires = pr.files.filterNot(fileSet)
      if (adds.size + retires.size >= files.size) None
      else Some(LogContent(schemaJson, adds, allMeta, fileMeta,
        isDelta = true, baseVersion = prev, retires = retires,
        // changed/new mappings, plus tombstones for mappings cleared
        // while their file stays live (a retired file's mapping dies
        // in resolution without a line)
        dvAdds = effectiveDv.filter { case (f, d) => !parentDv.get(f).contains(d) },
        dvDrops = parentDv.keys.toSeq.sorted.filter(f =>
          fileSet.contains(f) && !effectiveDv.contains(f))))
    }
    writeText(versionPath(ref, next), render(delta.getOrElse(
      LogContent(schemaJson, files, allMeta, fileMeta, dvAdds = effectiveDv))))
    next
  }

  // ------------------------------------------------ writer lock

  /** Acquire the per-table writer lock for the duration of `body`.
    *
    * The lock is a SIBLING file of the table directory (`<table>.lock`)
    * so it exists independently of the table and is never listed by
    * scans. Acquisition is an atomic create-if-absent; the content
    * (`pid@host` + epoch millis) identifies the holder for the error
    * message. A conflict throws [[ConcurrentWriteException]] — the
    * caller's write has NOT touched the table. A lock whose modification
    * time is older than `writerLeaseMs` belongs to a crashed writer
    * (nothing can release it) and is broken once.
    *
    * Two races are closed explicitly; both closures are BEST-EFFORT on
    * filesystems without a compare-and-swap primitive (LocalFileSystem's
    * `create(overwrite=false)` is itself exists-then-create, so "atomic"
    * here means "the narrowest window the FS API allows"):
    *
    *  1. Lease break: two contenders can both observe the same expired
    *     lock. Breaking is re-stat → compare against the first
    *     observation (mtime+length) → atomic RENAME to a unique sibling
    *     → delete the sibling. The re-stat+compare refuses to break a
    *     lock that changed since it was observed stale (a fresh holder
    *     replaced it), and the rename means at most ONE breaker wins —
    *     the loser's rename fails on the missing source and it falls
    *     through to the conflict error instead of deleting a live lock.
    *
    *  2. Release: if `body` outlives the lease and another writer broke
    *     it and acquired, an unconditional delete in `finally` would
    *     remove the NEW holder's lock. The lock content is a unique
    *     per-acquisition token; release reads it back and skips the
    *     delete when it is no longer this writer's.
    */
  def withLock[T](ref: TableRef)(body: => T): T = {
    val lock = new Path(tablePath(ref) + ".lock")
    val filesystem = fs(lock)
    filesystem.mkdirs(lock.getParent)
    // Same-JVM writers serialize on a process-local mutex FIRST: the
    // file lease below is create-if-absent on filesystems without a
    // CAS primitive, and two THREADS of one JVM can both slip through
    // its exists-then-create window (observed under the MergeSpec
    // contention test). In-process, a real mutex is exact; the file
    // lease remains the (best-effort) cross-process guard.
    val jvmLock = jvmLocks.computeIfAbsent(
      TableStatsRegistry.normalize(lock.toString),
      _ => new java.util.concurrent.locks.ReentrantLock())
    jvmLock.lock()
    try {
    val token = java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
      s"\t${System.currentTimeMillis()}\t${java.util.UUID.randomUUID()}"
    def tryAcquire(): Boolean =
      try {
        val out = filesystem.create(lock, false)
        try out.write((token + "\n").getBytes(UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def stat(p: Path): Option[FileStatus] =
      try Some(filesystem.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    def holder(): Option[String] =
      try Some(readText(lock).trim)
      catch { case scala.util.control.NonFatal(_) => None }
    def breakStaleLease(): Unit = {
      val observed = stat(lock)
      val expired = observed.exists(_.getModificationTime <=
        System.currentTimeMillis() - writerLeaseMs)
      if (expired) {
        val current = stat(lock)
        val unchanged = current.zip(observed).exists { case (c, o) =>
          c.getModificationTime == o.getModificationTime && c.getLen == o.getLen
        }
        if (unchanged) {
          val broken = new Path(lock.toString + ".broken-" +
            java.util.UUID.randomUUID().toString)
          val won = try filesystem.rename(lock, broken)
            catch { case _: java.io.IOException => false }
          if (won) filesystem.delete(broken, false)
        }
      }
    }
    if (!tryAcquire()) {
      breakStaleLease()
      if (!tryAcquire())
        throw new ConcurrentWriteException(
          s"table $ref has another in-flight writer (lock held by: " +
            s"${holder().getOrElse("<unreadable>")}); " +
            "concurrent writes would corrupt the table silently — " +
            "serialize writers, or break the lease if the holder crashed " +
            s"(auto-breaks after ${writerLeaseMs / 1000}s)")
    }
    try body
    finally {
      if (holder().contains(token)) filesystem.delete(lock, false)
      ()
    }
    } finally jvmLock.unlock()
  }
}

private[graft] object TxnLog {

  /** Log directory name — underscore-prefixed like the stats manifest,
    * so plain directory scans never see it as data.
    */
  private val LogDir = "_graft_log"

  private val HorizonPrefix = "_horizon."

  /** The version a `v%08d` file name commits; None for any other name. */
  private def versionOf(name: String): Option[Long] =
    if (name.length == 9 && name.startsWith("v") && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong)
    else None

  /** The horizon a `_horizon.<h>` marker name carries. */
  private def horizonOf(name: String): Option[Long] =
    if (name.startsWith(HorizonPrefix))
      name.drop(HorizonPrefix.length).toLongOption
    else None

  /** Commit-meta key naming the operation that produced a version
    * (OVERWRITE / MERGE / REPLACE / DELETE / COMPACT / ZORDER /
    * TRUNCATE / RESTORE / META / ADOPT / WAP_BOOTSTRAP / WAP_PUBLISH).
    * Never carried forward — each version describes its own writer.
    */
  val OpMeta = "graft.op"

  /** Commit-meta key holding the commit's wall-clock (epoch millis),
    * stamped by every [[TxnLog.commit]] — the DURABLE commit clock
    * (a filesystem-level copy/restore of the log rewrites mtimes, not
    * contents). Never carried forward.
    */
  val TsMeta = "graft.ts"

  /** Version `v`'s commit stamp (epoch ms) from its `meta`: a version
    * without one fails loudly and names itself.
    */
  def stampOf(ref: TableRef, v: Long, meta: Map[String, String]): Long =
    meta.get(TsMeta).flatMap(_.toLongOption).getOrElse(
      throw new IllegalStateException(s"$ref: version $v carries no " +
        s"$TsMeta commit stamp — its commit clock is unknown"))

  /** Commit-meta marker: THIS commit wrote complete row-level change
    * files under `_graft_cdc/`. Never carried forward.
    */
  val CdcMeta = "graft.cdc"

  /** Every Nth version is a full checkpoint even when the commit's
    * churn is small — bounds delta-resolution chains (and the log
    * files vacuum must retain as chain anchors) at N version files.
    */
  val checkpointEvery = 16L

  /** One parsed log-format file (version commit or staged manifest).
    * For CHECKPOINT files `files` is the complete list; for DELTA files
    * (`isDelta`) `files`/`fileMeta` hold only the commit's ADDED files,
    * `retires` the files it retired, and `baseVersion` the version the
    * delta applies to (always its predecessor).
    */
  /** @param dvAdds deletion-vector mappings this file declares
    *        (`dv\t<file>\t<sidecarDir>` lines): for a CHECKPOINT the
    *        complete map, for a DELTA the added/changed mappings.
    * @param dvDrops delta-only tombstones (`dvdrop\t<file>`): the
    *        file stays live but its deletion vector is gone.
    */
  final case class LogContent(
      schemaJson: String, files: Seq[String], meta: Map[String, String],
      fileMeta: Map[String, (Long, Long)],
      isDelta: Boolean = false, baseVersion: Option[Long] = None,
      retires: Seq[String] = Nil,
      dvAdds: Map[String, String] = Map.empty,
      dvDrops: Seq[String] = Nil)

  /** Fully resolved content of one version: complete file list +
    * per-file meta (delta chains applied), plus the version's own
    * commit meta.
    */
  final case class ResolvedVersion(
      schemaJson: String, files: Seq[String],
      fileMeta: Map[String, (Long, Long)], meta: Map[String, String],
      dvMap: Map[String, String] = Map.empty)

  /** One commit's file-level changes, resolved for the change-data-feed
    * reader ([[TxnLog.changesFull]]).
    */
  /** @param dvChanged files whose deletion-vector mapping CHANGED in
    *        this commit while the file itself stayed live — a
    *        merge-on-read delete's footprint (no adds, no retires);
    *        the feed reader must not render such a commit as "nothing
    *        happened".
    */
  final case class CommitChanges(
      adds: Seq[String], addMeta: Map[String, (Long, Long)],
      retired: Seq[String], retiredMeta: Map[String, (Long, Long)],
      fullReplace: Boolean, meta: Map[String, String],
      dvChanged: Seq[String] = Nil,
      /** retired files that carried a deletion vector in the parent —
        * their whole-file delete derivation would double-report the
        * already-dead positions, so the feed refuses without change
        * files.
        */
      retiredWithDv: Seq[String] = Nil)

  /** Parse one log-format file's text; `name` labels errors.
    *
    * Splitting is KIND-FIRST with per-kind limits: `schema` and `meta`
    * payloads take the whole remainder of the line (a schema JSON or a
    * carried meta VALUE containing a tab must not shear into a
    * dropped-key unknown-kind line), while `file`/`add` re-split their
    * remainder into path, bytes and mtime (path components are
    * filesystem names, which cannot contain tabs).
    */
  def parse(text: String, name: String): LogContent = {
    var schemaJson = ""
    var baseVersion: Option[Long] = None
    val files = Seq.newBuilder[String]
    val retires = Seq.newBuilder[String]
    val meta = Map.newBuilder[String, String]
    val fileMeta = Map.newBuilder[String, (Long, Long)]
    val dvAdds = Map.newBuilder[String, String]
    val dvDrops = Seq.newBuilder[String]
    var isDelta = false
    text.linesIterator.filter(_.nonEmpty).foreach { l =>
      def malformed = throw new IllegalStateException(
        s"malformed commit-log line in $name: '$l'")
      val cut = l.indexOf('\t')
      val kind = if (cut < 0) l else l.substring(0, cut)
      val rest = if (cut < 0) "" else l.substring(cut + 1)
      kind match {
        case "schema" => schemaJson = rest
        case "file" | "add" =>
          isDelta ||= kind == "add"
          rest.split("\t", -1) match {
            case Array(f, bytes, mtime) =>
              val m = for (b <- bytes.toLongOption; t <- mtime.toLongOption)
                yield (b, t)
              files += f
              fileMeta += f -> m.getOrElse(malformed)
            case _ => malformed
          }
        case "retire" =>
          isDelta = true
          retires += rest
        case "dv" =>
          // NOT a delta marker: checkpoints carry the complete map too
          val i = rest.indexOf('\t')
          if (i <= 0 || i == rest.length - 1) malformed
          dvAdds += rest.take(i) -> rest.drop(i + 1)
        case "dvdrop" =>
          isDelta = true
          dvDrops += rest
        case "base" =>
          isDelta = true
          baseVersion = Some(rest.toLongOption.getOrElse(malformed))
        case "meta" =>
          val i = rest.indexOf('=')
          if (i < 0) malformed
          meta += rest.take(i) -> rest.drop(i + 1)
        case _ => // forward-compat: unknown entry kinds are ignored
      }
    }
    LogContent(schemaJson, files.result(), meta.result(), fileMeta.result(),
      isDelta, baseVersion, retires.result(), dvAdds.result(),
      dvDrops.result())
  }

  /** THE log-format writer, the inverse of [[parse]]: `file` lines for
    * a checkpoint or staged manifest, `base`/`add`/`retire`/`dvdrop`
    * for a delta; dv mappings and meta sorted by key. Every listed file
    * must have its (bytes, mtime) in `fileMeta`.
    */
  def render(c: LogContent): String = {
    val kind = if (c.isDelta) "add" else "file"
    val sb = new StringBuilder(s"schema\t${c.schemaJson}\n")
    c.baseVersion.foreach(b => sb ++= s"base\t$b\n")
    c.files.foreach { f =>
      val (bytes, mtime) = c.fileMeta.getOrElse(f, throw new IllegalArgumentException(
        s"no recorded (bytes, mtime) for log file entry $f"))
      sb ++= s"$kind\t$f\t$bytes\t$mtime\n"
    }
    c.retires.foreach(r => sb ++= s"retire\t$r\n")
    c.dvAdds.toSeq.sorted.foreach { case (f, d) => sb ++= s"dv\t$f\t$d\n" }
    c.dvDrops.foreach(f => sb ++= s"dvdrop\t$f\n")
    c.meta.toSeq.sorted.foreach { case (k, v) => sb ++= s"meta\t$k=$v\n" }
    sb.result()
  }

  /** Commit-log I/O counters (JVM-wide): every log-format file read —
    * cache misses only — bumps these. The O(churn) specs assert on
    * them: a rate-limited stream drain or a change feed over N commits
    * must cost O(N) small reads, not O(N × files) bytes re-parsed per
    * trigger.
    */
  object LogIO {
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    def snapshot(): (Long, Long) = (reads.get(), bytes.get())
  }

  /** (version-file path) → (len:mtime fingerprint, parsed content).
    * Version files are immutable once committed — the fingerprint
    * guards the one mutation class left: a table dropped and recreated
    * reusing version numbers. Clear-on-overflow keeps long-lived
    * drivers bounded.
    */
  private val rawLogCache =
    scala.collection.concurrent.TrieMap[String, (String, LogContent)]()

  /** (version-file path) → (fingerprint, resolved full content). */
  private val resolvedCache =
    scala.collection.concurrent.TrieMap[String, (String, ResolvedVersion)]()

  private val logCacheMax = 4096

  private def cacheRaw(key: String, fp: String, c: LogContent): Unit = {
    if (rawLogCache.size >= logCacheMax) rawLogCache.clear()
    rawLogCache.put(key, (fp, c))
    ()
  }
  private def cachedRaw(key: String, fp: String): Option[LogContent] =
    rawLogCache.get(key).collect { case (f, c) if f == fp => c }

  private def cacheResolved(key: String, fp: String, r: ResolvedVersion): Unit = {
    if (resolvedCache.size >= logCacheMax) resolvedCache.clear()
    resolvedCache.put(key, (fp, r))
    ()
  }
  private def cachedResolved(key: String, fp: String): Option[ResolvedVersion] =
    resolvedCache.get(key).collect { case (f, c) if f == fp => c }

  /** Evict every cached log entry whose key contains `needle` (a
    * normalized table path — keys are qualified file-path strings).
    */
  def purgeCaches(needle: String): Unit = {
    rawLogCache.keys.filter(_.contains(needle)).foreach(rawLogCache.remove)
    resolvedCache.keys.filter(_.contains(needle)).foreach(resolvedCache.remove)
  }

  /** Process-local writer mutexes keyed by the normalized lock path
    * (JVM-wide, so two log owners over one root still serialize) — the
    * exact in-process half of [[TxnLog.withLock]]'s two-level locking;
    * the lease FILE covers cross-process.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]()
}
