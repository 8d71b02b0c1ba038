package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The store commit primitives — every store directory a verb replaces
  * is promoted here, by one of two retire/promote rename protocols:
  *   - '''single-directory replace''' ([[prepare]], [[replace]],
  *     [[recoverDir]]): one whole directory rewritten from a staged copy
  *     — the erase and rectify rewrites, the corpus and IVF compactions,
  *     the profile-sketch merges, the snapshot `_stats` refresh;
  *   - '''multi-entry commit''' ([[commit]], [[recover]]): several
  *     entries of one store landing together, replayed exactly once —
  *     the partition-tree stores ([[EventStatsStore]] days, [[AggStore]]
  *     buckets) and the multi-leg index stores ([[graft.text.Bm25]],
  *     [[graft.dedup.SetSimJoin]], the band index).
  * Three promotes stay outside on purpose: `DeletionVectors.compactUnder`
  * promotes to a content-addressed name and retires the sources last (a
  * crash may only over-mask; no live directory is replaced);
  * `Snapshot.commitStagedBuckets` promotes buckets under the dirty marker
  * (non-atomic across buckets by contract; the merge/erase replay and the
  * manifest heal converge it); `CurateCli.purgePendingRectifyFacts` /
  * `recoverRectifyFacts` roll FORWARD (rolling back would hand a rectify
  * replay a capture that still holds the subjects an erase removed).
  *
  * Multi-entry commit: dynamic partition overwrite is NOT crash-safe for
  * multi-directory commits — Spark replaces the touched partition
  * directories non-atomically at job commit, and a crash mid-commit
  * leaves some partitions merged and some not while the replayed batch
  * re-adds itself to the already-rewritten ones. This protocol makes the
  * commit all-or-nothing from the replayer's point of view:
  *
  *   1. a pending marker (carrying the batch id AND the touched-entry
  *      list) lands first;
  *   2. the touched live entries RETIRE (rename into `<dir>.retired`,
  *      preserving relative paths) — nothing is destroyed;
  *   3. the staged entries promote into place;
  *   4. the applied batch marker lands — the point of no return: a
  *      replay of this id is a no-op from here on;
  *   5. retired + stage + pending clean up.
  *
  * Entries are RELATIVE paths under `dir` — flat partition directories
  * (`day=2024-01-01`, `bucket=3`), whole legs (`postings`, `stats`), or
  * nested files (`postings/part-...parquet` for append deltas).
  *
  * [[recover]] classifies any crash by the two markers. Pending without
  * applied rolls BACK, per entry listed in the marker:
  *   - retired counterpart exists → it holds the full pre-merge content
  *     (cleanup only runs after the applied marker), so it replaces the
  *     possibly-promoted live entry;
  *   - no retired counterpart but the STAGED entry still exists → the
  *     promote never ran for it; the live entry (if any) is still the
  *     original and is left alone;
  *   - neither retired nor staged → the entry was PROMOTED and had no
  *     live predecessor (a partition newly created by the crashed
  *     batch): the live entry is deleted, restoring its pre-batch
  *     absence. Without the marker's entry list this case is
  *     indistinguishable from an untouched partition, and the replayed
  *     batch would re-merge its own promoted data — the double-add this
  *     protocol exists to prevent;
  *   - "-"-tagged DELETION entries (listed but never staged — an
  *     erasure emptying a whole partition) are never promoted, so
  *     absent a retired counterpart their live data is still the
  *     original and is KEPT — the exhaustive crash property caught the
  *     untagged form of this as data loss.
  * Pending WITH applied rolls the lost cleanup forward. One FS `exists`
  * per call on the healthy path.
  *
  * Directory renames are atomic on HDFS-semantics filesystems; on
  * rename-as-copy object stores, front these stores with a consistent
  * layer.
  */
object PartitionSwap {

  private def pendingMarker(dir: String) = s"$dir/_batches/_pending"
  private def appliedMarker(dir: String, batchId: Long) = s"$dir/_batches/$batchId"
  private def retiredDir(dir: String) = dir.stripSuffix("/") + ".retired"

  private val Retired = "__retired"
  private val Staging = "__staging"
  // every sibling a replace may leave; the last four are the per-verb
  // stage names used before [[prepare]], so their debris reports and clears
  private val Siblings =
    Seq(Retired, Staging, "__erasing", "__rectifying", "__compacting", "__next")

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Where [[replace]] parks the old copy of `live` until the promote landed. */
  private[operators] def retiredOf(live: String): String = live.stripSuffix("/") + Retired

  /** The live directory name that `name` is [[replace]] debris of
    * (`corpus` for `corpus__retired` or `corpus__staging`), else None.
    */
  def debrisOwner(name: String): Option[String] = Siblings.collectFirst {
    case s if name.endsWith(s) && name.length > s.length => name.dropRight(s.length)
  }

  /** Heal a [[replace]] torn between retire and promote (`live` absent,
    * `<live>__retired` holding the data) — run on every read path of a
    * store that promotes through [[replace]]; two `exists` when healthy.
    */
  def recoverDir(spark: SparkSession, live: String): Unit = {
    val fs = fsOf(spark, live)
    val retired = new Path(retiredOf(live))
    if (!fs.exists(new Path(live)) && fs.exists(retired))
      require(fs.rename(retired, new Path(live)), s"swap: restoring $retired to $live failed")
  }

  /** Start a single-directory replace of `live`: heal a torn swap
    * ([[recoverDir]]) and only THEN clear the stage and retired siblings
    * a crashed run left — so a torn store's only copy is restored, never
    * deleted. Returns the stage path to write the new content to.
    */
  def prepare(spark: SparkSession, live: String): String = {
    recoverDir(spark, live)
    val base = live.stripSuffix("/")
    Siblings.foreach(s => fsOf(spark, live).delete(new Path(base + s), true))
    base + Staging
  }

  /** Promote the [[prepare]]d `stage` over `live`: retire `live` to
    * `<live>__retired`, promote, drop the retired copy. A failed rename
    * throws; after a failed promote the retired copy stays for
    * [[recoverDir]] to put back.
    */
  def replace(spark: SparkSession, live: String, stage: String): Unit =
    replace(spark, live, stage, _ => ())

  /** [[replace]] with [[commit]]'s fault-injection hook: `beforeStep`
    * runs before each of the three filesystem mutations. A parameter, not
    * shared state, because `Par` legs replace in parallel.
    */
  private[graft] def replace(
      spark: SparkSession,
      live: String,
      stage: String,
      beforeStep: Int => Unit
  ): Unit = {
    var step = 0
    def stepped[A](body: => A): A = { beforeStep(step); step += 1; body }
    val fs = fsOf(spark, live)
    val retired = new Path(retiredOf(live))
    stepped(require(fs.rename(new Path(live), retired), s"swap: retiring $live failed"))
    stepped(require(fs.rename(new Path(stage), new Path(live)),
      s"swap: promoting $stage over $live failed; the old copy stays at $retired"))
    stepped(fs.delete(retired, true))
  }

  /** Namespace a content-derived batch id per commit LEG: a multi-store
    * sweep (CurateCli rectify/erase) derives ONE id from its request
    * content and commits several stores under it — but two sweeps'
    * additive offsets (`base + 1..n`) can collide inside a shared
    * `_batches` namespace (another sweep's base landing on this sweep's
    * offset silently no-ops a leg via [[alreadyApplied]]). Folding the
    * leg name in with an FNV-1a hash keeps the id deterministic for
    * replays while spreading legs across the 64-bit space.
    */
  def legBatchId(base: Long, leg: String): Long = {
    var h = 0xcbf29ce484222325L
    leg.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    h ^ base
  }

  /** True when `batchId` already committed (check before re-deriving a
    * batch on replay).
    */
  def alreadyApplied(spark: SparkSession, dir: String, batchId: Long): Boolean =
    fsOf(spark, dir).exists(new Path(appliedMarker(dir, batchId)))

  /** Mark a batch applied WITHOUT a swap (bootstrap writes, no-op
    * batches).
    */
  def markApplied(spark: SparkSession, dir: String, batchId: Long): Unit =
    fsOf(spark, dir).create(new Path(appliedMarker(dir, batchId)), true).close()

  /** Reserved batch id for [[commitEphemeral]] — one fixed id per store
    * namespace, so the ephemeral path never collides with a
    * content-derived sweep id that must PERSIST for replay idempotency.
    */
  private val EphemeralId: Long = legBatchId(0L, "ephemeral-maintenance")

  /** [[commit]] for VALUE-IDEMPOTENT maintenance rewrites (the store
    * compactions): the same staged swap and crash classification, but
    * the applied marker is EPHEMERAL — a reserved id, deleted once the
    * commit's cleanup completed — so scheduled compaction never grows
    * the `_batches` namespace (a small-file-healing verb that itself
    * accumulates one marker file per invocation would be the problem it
    * exists to solve). Safe BECAUSE the rewrite is value-idempotent:
    * nothing consults this marker through [[alreadyApplied]]; it exists
    * only so a crash INSIDE the commit classifies (rollback before it
    * lands, roll-forward after), and once the pending marker is gone
    * recovery never reads it again. A crash between the pending delete
    * and the marker delete strands at most ONE marker, pruned at the
    * next ephemeral commit — bounded by crash count, not invocations.
    */
  def commitEphemeral(
      spark: SparkSession,
      dir: String,
      stage: String,
      entries: Seq[String]
  ): Unit = commitEphemeral(spark, dir, stage, entries, _ => ())

  private[graft] def commitEphemeral(
      spark: SparkSession,
      dir: String,
      stage: String,
      entries: Seq[String],
      beforeStep: Int => Unit
  ): Unit = {
    val marker = new Path(appliedMarker(dir, EphemeralId))
    val fs = fsOf(spark, dir)
    // a stray marker here is a PREVIOUS ephemeral commit's crashed
    // cleanup (the caller's recovery already settled any pending
    // commit); it must go BEFORE this commit writes its pending marker,
    // or a crash inside THIS commit would classify as already-applied
    // and roll a half-swapped store forward
    fs.delete(marker, false)
    commit(spark, dir, stage, entries, EphemeralId, beforeStep)
    fs.delete(marker, false)
  }

  /** Swap the staged entries into the live tree (steps 1-5 above).
    * `stage` must hold one `<entry>` path per element of `entries`
    * (e.g. `day=2024-01-01`, `bucket=3`, `stats`,
    * `postings/part-0-uuid.parquet`).
    */
  def commit(
      spark: SparkSession,
      dir: String,
      stage: String,
      entries: Seq[String],
      batchId: Long
  ): Unit = commit(spark, dir, stage, entries, batchId, _ => ())

  /** [[commit]] with a fault-injection hook: `beforeStep` runs before
    * every filesystem mutation with an increasing step index, so the
    * crash-matrix property test (PartitionSwapSpec) can kill the REAL
    * commit at every step rather than fabricating states by hand — one
    * code path, exhaustively interrupted. Production callers use the
    * no-hook overload.
    */
  private[graft] def commit(
      spark: SparkSession,
      dir: String,
      stage: String,
      entries: Seq[String],
      batchId: Long,
      beforeStep: Int => Unit
  ): Unit = {
    var step = 0
    def stepped[A](body: => A): A = { beforeStep(step); step += 1; body }
    val fs = fsOf(spark, dir)
    val retired = new Path(retiredDir(dir))
    stepped(fs.delete(retired, true))
    stepped(fs.mkdirs(retired))
    stepped {
      // DELETION entries (no staged counterpart at commit time) are
      // tagged "-" in the marker: at rollback, a deletion whose retire
      // never ran still holds the ORIGINAL live data and must be kept,
      // while an untagged entry with neither retired nor staged
      // counterpart was a promoted newly-created partition and must go —
      // without the tag the two states are indistinguishable (the
      // exhaustive crash property caught exactly this as data loss)
      val tagged = entries.map { p =>
        if (fs.exists(new Path(s"$stage/$p"))) p else s"-$p"
      }
      val pend = fs.create(new Path(pendingMarker(dir) + ".tmp"), true)
      pend.write((batchId.toString +: tagged).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      pend.close()
    }
    // the marker lands by RENAME, so `_pending` is always complete or
    // absent: a crash mid-write of the multi-line entry list would
    // otherwise leave a truncated marker that bricks every subsequent
    // recover (lines.head.toLong throws forever until manual cleanup)
    stepped(fs.rename(new Path(pendingMarker(dir) + ".tmp"), new Path(pendingMarker(dir))))
    entries.foreach { p =>
      val live = new Path(s"$dir/$p")
      if (fs.exists(live)) stepped {
        val dst = new Path(retired, p)
        fs.mkdirs(dst.getParent)
        fs.rename(live, dst)
      }
    }
    entries.foreach { p =>
      val src = new Path(s"$stage/$p")
      // a listed entry with NO staged counterpart is a DELETION: the
      // retire above already moved the live entry aside (an erasure that
      // empties a whole partition stages nothing for it), and rollback
      // restores it from retired like any other entry
      if (fs.exists(src)) stepped {
        val dst = new Path(s"$dir/$p")
        fs.mkdirs(dst.getParent)
        fs.rename(src, dst)
      }
    }
    stepped(markApplied(spark, dir, batchId))
    stepped(fs.delete(retired, true))
    stepped(fs.delete(new Path(stage), true))
    stepped(fs.delete(new Path(pendingMarker(dir)), false))
  }

  /** Crash recovery — see class doc. `stageSuffix` appends to `dir` to
    * locate the stage tree (`.merge-stage`, `/.erase-stage`);
    * `partitionPrefix` names the partition-directory scheme (`day=`,
    * `bucket=`) for the defensive retired sweep covering entries a
    * marker might not list.
    */
  def recover(
      spark: SparkSession,
      dir: String,
      stageSuffix: String,
      partitionPrefix: String
  ): Unit = {
    val pending = new Path(pendingMarker(dir))
    val fs = fsOf(spark, dir)
    // a stale `.tmp` means the marker write itself crashed: no retire or
    // promote has run (they follow the marker rename), so the live tree
    // is untouched — just drop the partial and, if no complete marker
    // landed, there is nothing to roll back
    fs.delete(new Path(pendingMarker(dir) + ".tmp"), false)
    if (!fs.exists(pending)) return
    val lines = {
      val in = fs.open(pending)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      } finally in.close()
    }
    val batchId = lines.head.toLong
    val entries = lines.tail
    val retired = new Path(retiredDir(dir))
    val stagePath = new Path(dir.stripSuffix("/") + stageSuffix)
    if (!fs.exists(new Path(appliedMarker(dir, batchId)))) {
      // roll back, per listed entry (class doc): restore from retired,
      // leave not-yet-promoted originals alone, delete promoted entries
      // that had no live predecessor. "-"-tagged DELETION entries are
      // never promoted, so absent a retired counterpart their live data
      // is the original and stays.
      entries.foreach { raw =>
        val deletion = raw.startsWith("-")
        val p = if (deletion) raw.drop(1) else raw
        val live = new Path(s"$dir/$p")
        val ret = new Path(retired, p)
        val staged = new Path(stagePath, p)
        if (fs.exists(ret)) {
          fs.delete(live, true)
          fs.mkdirs(live.getParent)
          fs.rename(ret, live)
        } else if (!deletion && !fs.exists(staged)) {
          fs.delete(live, true)
        }
      }
      // defensive sweep: restore any retired partition the marker did
      // not list (legacy id-only markers)
      if (fs.exists(retired)) {
        fs.listStatus(retired).foreach { st =>
          if (st.getPath.getName.startsWith(partitionPrefix) &&
            partitionPrefix.nonEmpty) {
            val live = new Path(dir, st.getPath.getName)
            fs.delete(live, true)
            fs.rename(st.getPath, live)
          }
        }
      }
    }
    fs.delete(retired, true)
    fs.delete(stagePath, true)
    fs.delete(pending, false)
  }

  /** Child names under `stage` matching `prefix` — the staged partition
    * list a bootstrap-through-stage commit promotes.
    */
  def listEntries(spark: SparkSession, stage: String, prefix: String): Seq[String] =
    childNames(spark, stage).filter(_.startsWith(prefix))

  /** Parquet file names directly under a staged leg — the delta-file
    * entry list an APPEND commit promotes into a live leg directory
    * (part-file names carry a fresh job UUID, so they never collide with
    * live files; `_SUCCESS` and other markers stay behind and are
    * removed with the stage).
    */
  def stagedParquetFiles(spark: SparkSession, stagedLeg: String): Seq[String] =
    childNames(spark, stagedLeg).filter(_.endsWith(".parquet"))

  private def childNames(spark: SparkSession, dir: String): Seq[String] = {
    val (p, fs) = (new Path(dir), fsOf(spark, dir))
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).map(_.getPath.getName).sorted.toSeq
  }
}
