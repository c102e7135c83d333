package graft.store

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Compaction — folds transaction directories together, physically applying
  * last-writer-wins dedup and delete markers (sonnerie `compact`,
  * `src/main.rs:397-499`, purge logic `src/lib.rs:173-210`).
  *
  * - '''minor''': merges every data transaction *except the first* (the
  *   reference merges all `tx.*` but not `main`,
  *   `src/database_reader.rs:51-53`). Delete markers are retained — they
  *   still apply to the untouched base.
  * - '''major''': rewrites everything into a single transaction and drops
  *   all delete markers (fully purged, `src/main.rs:412-414`).
  *
  * Txid re-numbering: the compacted output gets a *fresh* txid (the
  * reference instead reuses the lexically-last tx filename,
  * `src/main.rs:481-490` — but that forces moving live directories before
  * the swap, breaking concurrent readers of the current snapshot). Under
  * the single-compactor model (reference's flock, `src/main.rs:404-406`)
  * a fresh txid is strictly newer than every compacted record and every
  * retained delete marker, so survivors of a marker (the "re-insert after
  * delete" case, `src/tests.rs:1069-1155`) keep surviving — markers only
  * suppress txids *below* their own — and the old directories stay
  * untouched until [[vacuum]], keeping every published snapshot readable
  * throughout.
  *
  * `transform` is the reference's `--gegnum` hook (`src/main.rs:429-477`)
  * re-expressed functionally: an arbitrary `DataFrame => DataFrame` applied
  * inside the rewrite — filter/rename/reshape the whole database in one
  * distributed pass instead of piping text through a subprocess.
  */
object Compactor {

  def minor(db: Db, transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity): Unit =
    compact(db, major = false, transform)

  /** Minor compaction in bounded passes: fold at most `maxTxPerPass`
    * transactions per rewrite, looping until one folded transaction
    * remains — the reference's 1000-file-per-pass cap + loop
    * (`src/database_reader.rs:24,103-107`, `src/main.rs:397-499`), which
    * bounds each pass's scan width (and, there, fd count) when a
    * warehouse accretes a huge transaction tail.
    */
  def minorChunked(db: Db, maxTxPerPass: Int = 1000,
                   transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity): Unit = {
    require(maxTxPerPass >= 2, "a pass must fold at least 2 transactions")
    var guard = 0
    while (db.snapshot().manifest.dataTxids.drop(1).size >= 2 && guard < 10000) {
      // one bounded pass folds the NEWEST `maxTxPerPass` non-base
      // transactions: the output gets a fresh (highest) txid, so the
      // folded set must be the precedence-topmost transactions — folding
      // an older chunk would lift its records above unfolded newer ones
      // and invert last-wins
      compact(db, major = false, transform, limitTx = Some(maxTxPerPass))
      guard += 1
    }
  }

  /** Literal `--gegnum` parity (reference `src/main.rs:429-477`): dump the
    * whole database as text-protocol lines through an external shell
    * command, re-ingest its stdout as the compacted contents. Requires the
    * canonical union-struct schema (`key, ts, fmt, vals`). One subprocess
    * per partition ([[graft.series.SeriesAnalytics.pipe]] semantics); the
    * functional `transform` hook is the idiomatic fast path.
    */
  def gegnum(db: Db, cmd: String, tsFormat: Option[String] = None): Unit =
    major(db, { df =>
      val spark = df.sparkSession
      import spark.implicits._
      // --timestamp-format: the subprocess sees strftime-formatted
      // timestamps instead of nanos, both directions (main.rs:84-88)
      val tsMode = tsFormat.map(graft.text.TextIngest.TsPattern)
        .getOrElse(graft.text.TextIngest.TsNanos)
      val lines = graft.text.TextIngest.print(spark,
        graft.text.TextIngest.asRecords(df), showFmt = true, tsMode = tsMode)
      val piped = spark.createDataset(lines.rdd.pipe(cmd))
      graft.text.TextIngest.parseWithFmt(spark, piped, tsFormat).toDF()
    })

  def major(db: Db, transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity): Unit =
    compact(db, major = true, transform)

  // One compactor at a time per warehouse — the reference's flock'd
  // compactor (src/main.rs:404-406). Two racing compactors would fold
  // overlapping source sets into two outputs and duplicate every record
  // at cutover. A FileLock excludes other processes (auto-released on
  // crash, like flock); the per-warehouse monitor serializes threads in
  // this JVM (FileLock is process-scoped). Concurrent WRITERS are fine
  // and don't take this lock: they claim txids later than the compacted
  // output's, so last-wins and delete precedence stay correct.
  private val localLocks =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]()

  private def withCompactionLock[A](warehouse: String)(body: => A): A =
    withLock(warehouse, blocking = true)(body).get

  /** [[withCompactionLock]], but give up immediately when another
    * compactor (thread or process) holds the lock — None. The streaming
    * sinks' auto-compact needs this: a blocked lock wait would stall
    * the micro-batch for the other compaction's full duration, and
    * compaction is maintenance — always safe to retry at the next
    * cadence point (the same argument as the auto-fold's bounded wait).
    */
  private def withCompactionLockTry[A](warehouse: String)(body: => A)
      : Option[A] =
    withLock(warehouse, blocking = false)(body)

  private def withLock[A](warehouse: String, blocking: Boolean)(body: => A)
      : Option[A] = {
    val monitor = localLocks.computeIfAbsent(warehouse,
      _ => new java.util.concurrent.locks.ReentrantLock)
    if (blocking) monitor.lock()
    else if (!monitor.tryLock()) return None
    try {
      val lockPath = Paths.get(warehouse, "_compact.lock")
      Files.createDirectories(lockPath.getParent)
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      // the channel must close on EVERY exit: a lock() throw, a null
      // tryLock, or an OverlappingFileLockException — the same-JVM case
      // Java signals by throwing rather than returning null (reachable
      // when two path spellings of one warehouse miss the monitor map),
      // which for the try-variant is just "busy", i.e. None
      var lock: java.nio.channels.FileLock = null
      try {
        lock =
          if (blocking) ch.lock() // blocks until the other process finishes
          else
            try ch.tryLock() catch {
              case _: java.nio.channels.OverlappingFileLockException => null
            }
        if (lock == null) None else Some(body)
      } finally {
        if (lock != null) lock.release()
        ch.close()
      }
    } finally monitor.unlock()
  }

  /** Non-blocking [[major]]: false (and untouched state) when another
    * compactor holds the lock.
    */
  def tryMajor(db: Db): Boolean =
    withCompactionLockTry(db.warehouse) {
      compactLocked(db, major = true, identity)
    }.isDefined

  /** Non-blocking [[vacuum]]: false when another compactor holds the
    * lock.
    */
  def tryVacuum(db: Db, graceMs: Long = 15 * 60 * 1000L): Boolean =
    withCompactionLockTry(db.warehouse)(vacuumLocked(db, graceMs)).isDefined

  /** Non-blocking [[pruneHistory]]: false when another compactor holds
    * the lock — the streaming sinks' auto-maintenance rider (the same
    * skip-and-retry contract as [[tryMajor]]/[[tryVacuum]]).
    */
  def tryPruneHistory(db: Db, keep: Int = 100): Boolean =
    withCompactionLockTry(db.warehouse)(pruneHistoryLocked(db, keep))
      .isDefined

  private def compact(db: Db, major: Boolean,
                      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                      limitTx: Option[Int] = None): Unit =
    withCompactionLock(db.warehouse) {
      compactLocked(db, major, transform, limitTx)
    }

  private def compactLocked(db: Db, major: Boolean,
                      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                      limitTx: Option[Int] = None, retries: Int = 0): Unit = {
    // Cheap no-op check BEFORE claiming anything: a cron'd compact on a
    // quiescent warehouse must not burn a txid and a manifest version
    // per invocation.
    def selectFoldable(m: ManifestState, below: Long): Vector[Long] = {
      val eligible = m.dataTxids.filter(_ < below)
      val tail = eligible.drop(1)
      if (major) eligible else limitTx.fold(tail)(n => tail.sorted.takeRight(n))
    }
    val pre = Manifest.current(db.warehouse)
    val preFold = selectFoldable(pre, Long.MaxValue)
    if (preFold.isEmpty || (!major && preFold.size < 2)) return

    // Claim the output txid BEFORE snapshotting: every commit that lands
    // after this point has a txid ABOVE the compacted output, so its
    // records win last-wins against folded copies and its delete markers
    // suppress them — concurrent writers need no lock. (Claiming after
    // the snapshot would open a window where a commit slots between the
    // snapshot and the claim, ranking below the output and silently
    // losing.) If the compaction aborts below, the claim is just a
    // skipped txid.
    var newTxid = -1L
    Manifest.update(db.warehouse) { cur =>
      newTxid = cur.nextTxid
      cur.copy(nextTxid = cur.nextTxid + 1)
    }
    val snap = db.snapshot()
    val m = snap.manifest
    // Fold ONLY txids below our claim: the snapshot can already contain
    // commits that landed after the claim (txid > newTxid); folding one
    // would demote it beneath the output — and beneath writers that
    // claimed earlier but publish later — inverting last-wins.
    val toCompact = selectFoldable(m, newTxid)
    // minor needs ≥2 tx to fold; major runs whenever there is any data
    // (it may be purging deletes or applying a transform to a single tx)
    if (toCompact.isEmpty || (!major && toCompact.size < 2)) return

    // Physically purge: the readers' own merge (last-wins, then every
    // marker of the snapshot), folded into one transaction
    val out = transform(snap.fold(toCompact))

    // Write into a uniquely named tentative directory and atomically
    // rename into the claimed txid — no live directory is touched, no
    // parquet job ever targets a txid= path (a fused writer camping on
    // this number in its microsecond rename window surfaces as an
    // abort-retry below instead of a job collision); a crash here
    // leaves an invisible orphan for vacuum.
    // The rewrite honors the warehouse's sticky layout exactly like
    // TxWriter.writeDataDir: a bucket-major warehouse (ANN index —
    // bucket = IVF cell) range-partitions by (tbucket, key, ts) so each
    // task writes into FEW bucket dirs; compacting it key-major would
    // re-create the task×cell small-file explosion the layout exists to
    // avoid, exactly once per compaction.
    val w = m.timeBucket
    val rangeCols =
      if (m.bucketMajor && w > 0)
        Seq(col("ts") - col("ts") % w, col("key"), col("ts"))
      else Seq(col("key"), col("ts"))
    // no explicit partition count (was: pinned to shuffle.partitions —
    // a constant tuned for neither a tiny store nor a 100 TB one): the
    // AQE-coalescible range exchange sizes the rewrite's files to the
    // shuffle advisory target exactly like TxWriter.writeDataDir, so a
    // small store compacts to a few files and a huge one fans out
    val sorted = out.drop("tbucket")
      .repartitionByRange(rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
    // (key, ts) bounds observed during the rewrite job (unbucketed
    // layouts): drops the separate footer-stats job per compaction —
    // same device as TxWriter.writeDataDir
    val obs =
      if (w > 0) None
      else Some(new org.apache.spark.sql.Observation(
        s"compact-stats-${java.util.UUID.randomUUID()}"))
    val observed = obs.fold(sorted)(o => sorted.observe(o,
      min(col("key")).as("minKey"), max(col("key")).as("maxKey"),
      min(col("ts")).as("minTs"), max(col("ts")).as("maxTs")))
    // preserve the warehouse's time bucketing, recomputed from ts so a
    // gegnum/transform that rewrote timestamps stays consistent
    val writer0 = (if (w > 0)
      observed.withColumn("tbucket", col("ts") - col("ts") % w)
    else observed)
      .write.mode(SaveMode.ErrorIfExists)
      .option("compression", "zstd")
    val writer = if (w > 0) writer0.partitionBy("tbucket") else writer0
    val tentative = TxWriter.tentativePath(db)
    writer.parquet(tentative.toString)
    val observedStats: Option[Option[TxStats]] = obs.map { o =>
      val mm = o.get
      if (mm("minKey") == null) None
      else Some(TxStats(mm("minKey").asInstanceOf[String],
        mm("maxKey").asInstanceOf[String],
        mm("minTs").asInstanceOf[Long], mm("maxTs").asInstanceOf[Long]))
    }
    if (!TxWriter.tryRename(tentative, TxWriter.txidPath(db, newTxid))) {
      // a fused writer camped its tentative data on our claimed number
      // in its read→rename window (or a crashed writer's orphan sits
      // there). The camper can never publish at this number — our claim
      // already moved nextTxid, so its CAS fails and it renames itself
      // forward — and its directory is NOT ours to delete: clean only
      // our own tentative output and retry under a fresh claim.
      TxWriter.deleteRecursivelyIfExists(tentative)
      if (retries >= 5) throw new IllegalStateException(
        "compaction output rename lost 5 races for its claimed txid — " +
          "data directories exist above the manifest's nextTxid " +
          "(restored/rolled-back manifest?)")
      return compactLocked(db, major, transform, limitTx, retries + 1)
    }

    // Atomic cutover: one manifest commit swaps the compacted inputs for
    // the new transaction (and purges markers on major). Old directories
    // remain on disk for readers of older snapshots until vacuum().
    val newStats = observedStats.getOrElse(
      TxWriter.txStatsOf(db, s"${db.dataDir}/txid=$newTxid"))
    // Only the markers APPLIED by this compaction AND ranked below our
    // claim may be dropped on major: a marker above newTxid (even one
    // already visible in the snapshot) must keep suppressing writers that
    // claimed before it but publish later (same concurrent-commit
    // reasoning as the schema merge below; applying it to the fold AND
    // keeping it is harmless — the covered records are already purged).
    val appliedDeletes = m.deleteTxids.filter(_ < newTxid).toSet
    val snapData = m.dataTxids.toSet
    try {
      Manifest.update(db.warehouse) { cur =>
        // Claim-first makes every commit AFTER our claim rank above the
        // output — but a writer that claimed BEFORE our claim may publish
        // during the compaction, ranking below it (its records would
        // silently lose last-wins to folded copies; its delete markers
        // would not cover the output). Atomic with this CAS: detect such
        // low-ranked latecomers and abort — the retry folds them.
        val lateLow =
          cur.dataTxids.filterNot(snapData.contains).filter(_ < newTxid) ++
            cur.deleteTxids.filterNot(appliedDeletes.contains)
              .filter(_ < newTxid)
        if (lateLow.nonEmpty) throw new AbortCompaction
        val survivors = cur.dataTxids.filterNot(toCompact.contains)
        cur.copy(
          dataTxids = survivors :+ newTxid,
          deleteTxids =
            if (major) cur.deleteTxids.filterNot(appliedDeletes.contains)
            else cur.deleteTxids,
          // major rewrote everything → the written schema IS the warehouse
          // schema (a transform may have dropped columns) — but only if no
          // transaction committed concurrently between snapshot and cutover:
          // a survivor's columns must stay in the manifest schema or its new
          // columns would silently read as null. Minor always merges.
          schemaDdl =
            if (major && survivors.isEmpty) Manifest.mergeDdl("", sorted.schema)
            else Manifest.mergeDdl(cur.schemaDdl, sorted.schema),
          txStats = (cur.txStats -- toCompact) ++
            newStats.map(newTxid -> _)
        )
      }
    } catch {
      case _: AbortCompaction =>
        // dirOf(newTxid) here is OUR renamed output (the rename above
        // succeeded) — safe to remove before the retry
        TxWriter.deleteRecursivelyIfExists(
          Paths.get(s"${db.dataDir}/txid=$newTxid"))
        if (retries >= 5) throw new IllegalStateException(
          "compaction aborted 5 times by low-ranked concurrent commits")
        compactLocked(db, major, transform, limitTx, retries + 1)
    }
  }

  private final class AbortCompaction extends RuntimeException

  /** Remove directories no longer referenced by the current manifest
    * (retired compaction inputs, orphans from crashed writers).
    *
    * An unreferenced directory is NOT necessarily garbage: a live writer
    * claims its txid first and publishes last, so its in-flight directory
    * looks orphaned until the publish. Two guards make vacuum safe to run
    * any time: the compaction lock (can't race a compactor's own
    * in-flight output), and an mtime grace window (skip anything
    * modified recently — the retention-period answer every table format
    * uses). `graceMs = 0` is for tests and known-quiescent warehouses.
    */
  def vacuum(db: Db, graceMs: Long = 15 * 60 * 1000L): Unit =
    withCompactionLock(db.warehouse)(vacuumLocked(db, graceMs))

  private def vacuumLocked(db: Db, graceMs: Long): Unit = {
      val m = Manifest.current(db.warehouse)
      val cutoff = System.currentTimeMillis() - graceMs
      // Newest mtime anywhere UNDER the directory: a long-running write
      // keeps touching files below _temporary/ while the top-level dir
      // mtime stays at job start, so the top mtime alone would age out an
      // in-flight multi-hour ingest. None = the walk RACED a live
      // writer (files created/renamed/deleted by concurrent task
      // commits vanish mid-walk, or the whole dir was just renamed into
      // its txid= home) — exactly the dirs that must be treated as
      // LIVE, never as sweepable, and never allowed to abort the whole
      // vacuum (a direct caller would crash; the streaming cadence
      // would count a phantom maintenance failure).
      def newestMtime(p: java.nio.file.Path): Option[Long] =
        try {
          val s = Files.walk(p)
          try Some(s.iterator().asScala
            .map(Files.getLastModifiedTime(_).toMillis)
            .foldLeft(0L)(math.max))
          finally s.close()
        } catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException =>
            None
        }
      // ONE listing + walk per entry: the sweep records each tentative
      // directory's in-grace status as it goes, so the claim-clearing
      // below never re-walks a (potentially multi-GB, actively written)
      // tmp tree a second time
      val tmpInGrace = scala.collection.mutable.Map.empty[String, Boolean]
      def sweep(root: String, live: Set[String]): Unit = {
        val d = Paths.get(root)
        if (!Files.isDirectory(d)) return
        val ls = Files.list(d)
        val entries = try ls.iterator().asScala.toVector finally ls.close()
        entries.foreach { p =>
          val n = p.getFileName.toString
          // None (racing walk) counts as recent — conservative both ways
          val recent = newestMtime(p).forall(_ > cutoff)
          if (n.startsWith("tmp-tx-"))
            tmpInGrace(n) = tmpInGrace.getOrElse(n, false) || recent
          if (!live.contains(n) && !recent)
            // the delete itself can race a publish rename (the dir
            // vanishes between walk and delete) — skip, next vacuum
            try deleteRecursively(p)
            catch { case _: java.io.IOException => () }
        }
      }
      sweep(db.dataDir, m.dataTxids.map(t => s"txid=$t").toSet)
      sweep(db.deleteDir, m.deleteTxids.map(t => s"txid=$t").toSet)
      // clear pending claims of crashed writers: claim older than the
      // grace window AND no live directory left (a crashed write's
      // partial dir was just swept above; a long-running ingest keeps
      // its dir alive through recent mtimes and is never touched). This
      // is what un-raises the fold fence after a writer died between
      // claim and publish.
      //
      // A LIVE claim-first/supersede writer registers its claim at job
      // start but creates `txid=<t>` only at rename time — under the
      // rename-only protocol its sole on-disk trace during a long write
      // is a recently-touched `tmp-tx-*` directory. Claims now RECORD
      // their tentative directory ([[ManifestState.claimDirs]]), so a
      // stale claim clears as soon as ITS OWN directory is dead (absent
      // or aged out) — a crashed writer no longer holds the fold fence
      // hostage just because some OTHER sink's write is in flight.
      // Claims without a recorded dir (pre-field writers) keep the
      // conservative global hold: while ANY tentative directory is
      // inside the grace window, they are not cleared — a fence held a
      // cadence too long beats a fence dropped mid-write. The publish
      // side backstops both paths: [[TxWriter]] refuses loudly
      // (ClaimVanished) when its pending entry vanished anyway.
      val anyTmpInGrace = tmpInGrace.values.exists(identity)
      val stale = m.pending.filter { case (t, ms) =>
        ms <= cutoff &&
          !Files.exists(Paths.get(db.dataDir, s"txid=$t")) &&
          !Files.exists(Paths.get(db.deleteDir, s"txid=$t")) &&
          (m.claimDirs.get(t) match {
            case Some(d) => !tmpInGrace.getOrElse(d, false)
            case None    => !anyTmpInGrace
          })
      }.keySet
      if (stale.nonEmpty)
        Manifest.update(db.warehouse)(cur =>
          cur.copy(pending = cur.pending -- stale,
            claimDirs = cur.claimDirs -- stale))
    }

  /** Drop manifest versions older than the newest `keep` (history bound:
    * a long-lived warehouse accretes one version file per commit — the
    * LAST unbounded growth once folds bound live rows and compaction
    * bounds directories; on an object store that listing eventually
    * dominates maintenance even though reads stay O(1) via the `latest`
    * hint). Time travel reaches only retained versions afterwards. The
    * current version is always retained. Runs under the compaction lock
    * like every other maintenance verb; racing READERS are safe
    * regardless — `Manifest.current` falls back to the authoritative
    * listing when a version file vanishes between probe and read.
    */
  def pruneHistory(db: Db, keep: Int = 100): Unit =
    withCompactionLock(db.warehouse)(pruneHistoryLocked(db, keep))

  private def pruneHistoryLocked(db: Db, keep: Int): Unit = {
    require(keep >= 1, "must keep at least the current version")
    val vs = Manifest.versions(db.warehouse)
    vs.dropRight(keep).foreach(Manifest.deleteVersion(db.warehouse, _))
  }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
}
