package graft.store

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import scala.jdk.CollectionConverters._

/** Transaction writer — the Spark-native `CreateTx` + `Writer`
  * (sonnerie `src/create_tx.rs:29-264`, `src/write.rs:81-345`).
  *
  * One committed DataFrame = one transaction directory `data/txid=<n>`.
  * The write is `repartitionByRange(key) → sortWithinPartitions(key, ts) →
  * parquet` — the shuffle-sort replaces the reference's strict input-order
  * requirement (`src/write.rs:172-197`) and sonnerie-serve's external sort
  * (`src/bin/sonnerie-serve.rs:114-185`); Parquet's codecs and row-group
  * stats replace the hand-built LZ4 segment pipeline (`src/write.rs:347-436`).
  *
  * Commit protocol (crash-safe, mirrors fsync+rename `src/create_tx.rs:180-264`):
  *   1. claim a txid by bumping `nextTxid` in the manifest (atomic CAS);
  *   2. write the parquet directory under the claimed txid;
  *   3. publish the txid in a second manifest commit.
  * A crash between 2 and 3 leaves an unreferenced directory — invisible to
  * every reader, cleaned by [[Compactor.vacuum]]. Readers never see partial
  * transactions.
  *
  * Scale: range partitioning on `key` keeps each key's records in one task
  * (the reference's "keys never split across workers", `src/database_reader.rs:307-388`)
  * and gives the warehouse a global key order across files, so row-group
  * min/max pruning answers point/range/prefix reads without touching
  * non-matching files.
  */
object TxWriter {

  final class OrderingViolation(msg: String) extends RuntimeException(msg)

  /** Loud failure for the bucket-explosion misuse. */
  final class BucketExplosion(msg: String) extends RuntimeException(msg)

  /** Loud failure when a [[write]] `propsClaim` loses its race: another
    * writer published a DIFFERENT value for a claimed table property
    * first, so this transaction was never published.
    */
  final class PropertyConflict(msg: String) extends RuntimeException(msg)

  /** Default cap on `tbucket=` partition directories ONE transaction may
    * mint. The hazard it guards (measured, see [[graft.serve.Serve]]'s
    * constructor note): a time-bucketed warehouse whose bucket width is
    * dense in the data's ts domain — e.g. co-locating a ts=doc_id store
    * in a width-1 ANN-index warehouse — mints one directory per distinct
    * ts (100k docs → 100k dirs), which evicts planning caches and makes
    * every later read list the world. Legitimate layouts sit far below
    * it (ANN indexes: nCells ≤ 4096 cell dirs; time series: one dir per
    * bucket in the batch's time range); a genuine multi-year backfill
    * that needs more raises `maxNewBuckets` explicitly per write.
    */
  val DefaultMaxNewBuckets = 16384

  /** The `rangePartitions` for a write whose input size the caller knows
    * before planning (a served PUT's spooled body, the CLI `add`'s stdin
    * lines): `Some(1)` — one sorted partition, one Spark job — when
    * `inputBytes` is at most
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, below
    * which AQE coalesces the range exchange to one partition anyway;
    * `None` (the range path) above it. See `writeDataDir`.
    */
  def boundedPartitions(spark: org.apache.spark.sql.SparkSession,
                        inputBytes: Long): Option[Int] = {
    val oneBelow = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (inputBytes <= oneBelow) Some(1) else None
  }

  /** Append one data transaction; returns its txid.
    *
    * @param strict reject duplicate (key, ts) pairs within the transaction —
    *               the reference's `TimeOrderingViolation` (`src/write.rs:57-79`),
    *               which its ordering check implies.
    */
  /** @param timeBucketNanos on the FIRST data write, opt the warehouse into
    *        Hive-style `tbucket=` time partitioning of this width — time
    *        range reads then prune whole directories (partition pruning)
    *        on top of row-group stats. Later writes inherit the warehouse's
    *        configured width automatically.
    */
  /** @param bucketMajor when time-bucketed, range-partition by
    *        (tbucket, key, ts) instead of (key, ts): rows of one bucket
    *        co-locate, so each task writes into FEW `tbucket=` dirs
    *        instead of all of them. Key-major (default) is right for
    *        time-series reads (key ranges span buckets); bucket-major is
    *        right when reads are always per-bucket — the ANN index, whose
    *        bucket IS the IVF cell, writes 256 cells × 32 tasks = one
    *        file per cell instead of a task×cell small-file explosion.
    */
  /** @param maxNewBuckets refuse (loudly, [[BucketExplosion]]) a write
    *        that minted more than this many `tbucket=` dirs — the
    *        write-time guard for the warehouse-sticky layout hazard
    *        ([[DefaultMaxNewBuckets]]). The refused transaction is never
    *        published (readers cannot see it; [[Compactor.vacuum]] cleans
    *        the orphan directory).
    */
  /** @param props table properties merged into the manifest IN the
    *        publishing commit — atomic with the transaction becoming
    *        visible, so index writers' layout/geometry facts can never
    *        be observed stale or half-applied (no second commit to crash
    *        before).
    */
  /** @param propsClaim table properties CLAIMED in the publishing
    *        commit: each key must be absent or already equal — a
    *        different existing value throws [[PropertyConflict]] inside
    *        the manifest CAS and the transaction is never published
    *        (orphan dir vacuumed). This is what makes first-writer-wins
    *        geometry facts (the histogram grid, ANN geometry) atomic: a
    *        check-then-act pre-read alone would let two concurrent first
    *        registrations both pass and silently mix incompatible
    *        layouts under the last writer's props.
    */
  /** @param streamCursor (sinkId, batchId): advance that streaming
    *        sink's replay cursor IN the publishing commit — the
    *        transaction is visible iff the cursor moved, so a streaming
    *        sink that registers exactly one transaction per micro-batch
    *        has NO replay window at all (and one fewer manifest commit
    *        than a separate cursor update).
    */
  /** @param fuse attempt the FUSED commit protocol: write the data
    *        directory under the CURRENT `nextTxid` without claiming it,
    *        then claim-and-publish in ONE manifest CAS (`nextTxid`
    *        unchanged ⟹ the number is still ours; moved ⟹ rename the
    *        directory to the new `nextTxid` and retry). Halves the
    *        measured per-micro-batch commit cost for the streaming
    *        sketch sinks, whose cost driver is the manifest commit, not
    *        the sketch math. Correctness is unconditional — the publish
    *        is a CAS and a crash leaves only an invisible orphan for
    *        vacuum — but the protocol is designed for the SINGLE-WRITER
    *        sink deployment (one store family per warehouse, the
    *        engine-wide layout rule): a claim-first writer, fold or
    *        compactor racing the fused window is always safe (their
    *        publishes move `nextTxid`/the published sets, which the CAS
    *        detects — concurrent folds re-fold, compactors abort-retry),
    *        and a concurrent claim-first writer that claims the fused
    *        writer's TENTATIVE txid mid-write SELF-HEALS: its atomic
    *        rename into the occupied number fails, so it burns the
    *        number and claims the next, while the fused side renames
    *        its directory forward — both commit. NO interleaving of
    *        the two protocols can error: every parquet job targets a
    *        uniquely named tentative directory and `txid=` directories
    *        come into existence only via atomic fail-if-exists renames,
    *        so there is no check-then-write window left (mixed
    *        protocols degrade to burned txid numbers at worst). Falls
    *        back to the claim-first protocol whenever the fused attempt
    *        cannot proceed (a claim in flight, the tentative number
    *        occupied by a crashed writer's orphan — whose number is
    *        burned so the fallback cannot collide, or publish
    *        contention past the retry budget).
    *        Never used for a warehouse's FIRST bucket-layout-setting
    *        write (the sticky-width commit needs the claim-first
    *        ordering).
    */
  def write(db: Db, df: DataFrame, strict: Boolean = false,
            rangePartitions: Option[Int] = None,
            timeBucketNanos: Option[Long] = None,
            bucketMajor: Boolean = false,
            maxNewBuckets: Int = DefaultMaxNewBuckets,
            props: Map[String, String] = Map.empty,
            propsClaim: Map[String, String] = Map.empty,
            streamCursor: Option[(String, Long)] = None,
            fuse: Boolean = false): Long = {
    val schema = df.schema
    require(schema.fieldNames.contains("key") &&
      schema("key").dataType == StringType, "data needs key: String")
    require(schema.fieldNames.contains("ts") &&
      schema("ts").dataType == LongType, "data needs ts: Long (epoch nanos)")

    if (strict) {
      val dup = df.groupBy("key", "ts").count().filter(col("count") > 1).limit(1)
        .collect()
      if (dup.nonEmpty) {
        val r = dup.head
        throw new OrderingViolation(
          s"duplicate (key, ts) within transaction: (${r.get(0)}, ${r.get(1)})")
      }
    }

    // resolve the warehouse bucket width + layout (sticky after the
    // first write — appends and compaction rewrites inherit both)
    val pre = Manifest.current(db.warehouse)
    val fresh = pre.dataTxids.isEmpty && pre.timeBucket == 0L
    val width: Long =
      if (fresh) timeBucketNanos.getOrElse(0L) else pre.timeBucket
    val major: Boolean =
      if (fresh) bucketMajor && width > 0 else pre.bucketMajor

    if (fuse && !(fresh && width > 0))
      writeFused(db, df, width, major, rangePartitions, maxNewBuckets,
          props, propsClaim, streamCursor) match {
        case Some(tx) => return tx
        case None     => () // fall through to the claim-first protocol
      }

    // the tentative name is minted BEFORE the claim so the claim can
    // record it (ManifestState.claimDirs): vacuum then matches a stale
    // claim to ITS OWN tmp directory instead of holding every clearing
    // back while any tentative write anywhere is live
    val tmp = tentativePath(db)
    val tmpName = Some(tmp.getFileName.toString)
    var txid = claimTxid(db, tmpName)
    try {
    // the sticky width/layout commits immediately after the claim —
    // BEFORE the (possibly long) write job — so a concurrent writer
    // starting mid-job inherits the bucketed layout instead of
    // publishing an unbucketed tx that bucket-pruned reads would never
    // see. A guard refusal below reverts it (conditionally) so a
    // refused first write cannot poison the warehouse's layout.
    val setWidth = width > 0 && pre.timeBucket == 0L
    if (setWidth)
      Manifest.update(db.warehouse)(m =>
        if (m.timeBucket == 0L) m.copy(timeBucket = width, bucketMajor = major)
        else m)

    // the parquet job targets a uniquely named TENTATIVE directory —
    // never the txid= path — so no concurrent writer (fused tentative,
    // crashed orphan, racing claim-first) can ever collide with the
    // write job itself; the claimed number is taken by an atomic
    // rename below
    val written = writeDataDir(db, df, tmp, width, major, rangePartitions)
    // bucket-explosion guard: one readdir of the just-written tx BEFORE
    // publish, so a misconfigured layout fails loudly while the tx is
    // still invisible instead of poisoning the warehouse's layout forever
    if (width > 0) {
      val minted = mintedBuckets(db, tmp)
      if (minted > maxNewBuckets) {
        // un-poison the layout a refused FIRST write just set —
        // conditional: if a concurrent writer already published data
        // under this width (or set a different one), leave it alone.
        // `nextTxid == txid + 1` additionally requires that NO claim
        // happened since ours: a concurrent writer that claimed after
        // inheriting the width may still be mid-write (dataTxids empty,
        // width ours) — reverting under it would publish its bucketed
        // tx into a manifest that says unbucketed
        if (setWidth)
          Manifest.update(db.warehouse)(m =>
            if (m.dataTxids.isEmpty && m.timeBucket == width &&
                m.bucketMajor == major && m.nextTxid == txid + 1)
              m.copy(timeBucket = 0L, bucketMajor = false)
            else m)
        throw new BucketExplosion(
          s"transaction $txid minted $minted tbucket= dirs (cap " +
            s"$maxNewBuckets): the warehouse's bucket width ($width ns) is " +
            "dense in this data's ts domain — give this store its own " +
            "warehouse with a suitable width (one store per warehouse), or " +
            "raise maxNewBuckets explicitly for a legitimate backfill. The " +
            "transaction was NOT published.")
      }
    }
    // self-heal the mixed-protocol collision by construction: the
    // atomic fail-if-exists rename IS the occupancy check. A mid-flight
    // FUSED writer camping its tentative data on this claimed number
    // makes the rename fail — drop the dead claim (the number stays
    // burned, the claim already moved nextTxid beyond it) and take the
    // next; the fused owner then finds nextTxid moved and renames its
    // directory forward (writeFused's rename-retry), so BOTH writers
    // commit. Bounded: a pathological warehouse state (a manifest
    // restored below existing txid directories) surfaces as a loud
    // descriptive error after MaxClaimSteps instead of silently
    // consuming every occupied number.
    var steps = 0
    while (!tryRename(tmp, txidPath(db, txid))) {
      abandonClaim(db, txid)
      steps += 1
      if (steps >= MaxClaimSteps)
        throw new IllegalStateException(
          s"claimed $MaxClaimSteps consecutive txid numbers whose " +
            s"directories are already occupied (last: txid=$txid) — the " +
            "manifest's nextTxid is behind existing data directories " +
            "(restored/rolled-back manifest?); refusing to burn further " +
            "numbers. Nothing was published; repair the manifest or " +
            "vacuum the orphan directories.")
      txid = claimTxid(db, tmpName)
    }
    publishPauseHook()
    publishData(db, txid, written, props, propsClaim, streamCursor)
    txid
    } catch {
      // an in-process failure (guard refusal, write-job error, lost
      // props claim) means this txid will never publish — drop its
      // pending entry so the fold fence is not raised by a dead claim
      // (the tentative directory, if the rename never happened, is an
      // invisible orphan for vacuum; delete it eagerly here)
      case e: Throwable =>
        abandonClaim(db, txid); deleteRecursivelyIfExists(tmp); throw e
    }
  }

  /** Upper bound on claim-and-rename attempts in [[write]] — far above
    * any legitimate mixed-protocol race (each step means ANOTHER
    * writer's tentative/orphan directory occupied the freshly claimed
    * number), low enough to surface a manifest/data-dir mismatch fast.
    */
  val MaxClaimSteps = 64

  private[store] def txidPath(db: Db, txid: Long): java.nio.file.Path =
    java.nio.file.Paths.get(db.dataDir, s"txid=$txid")

  /** A uniquely named tentative directory under `data/` — invisible to
    * readers (they resolve explicit `txid=` paths off the manifest) and
    * swept by [[Compactor.vacuum]] if a crash strands it.
    */
  private[store] def tentativePath(db: Db): java.nio.file.Path =
    java.nio.file.Paths.get(db.dataDir,
      s"tmp-tx-${java.util.UUID.randomUUID().toString}")

  /** Atomic fail-if-exists rename — the ONLY way a DATA `txid=`
    * directory comes into existence, which is what makes every
    * writer-interleaving race detectable instead of destructive: the
    * loser of a rename race gets `false`, never a half-written
    * directory. (Delete MARKERS still parquet-write directly into the
    * separate `deletes/txid=` tree — safe without the rename discipline
    * because every marker writer holds a CAS-claimed, therefore unique,
    * number, and nothing else ever targets that tree; any future second
    * marker producer must either keep that uniqueness or adopt
    * tentative-dir + rename.)
    */
  private[store] def tryRename(from: java.nio.file.Path,
                               to: java.nio.file.Path): Boolean =
    try { java.nio.file.Files.move(from, to); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      // the TOCTOU micro-window inside Files.move (target created
      // between its existence check and the rename syscall) surfaces as
      // ENOTEMPTY on posix — same meaning: the number is occupied
      case _: java.nio.file.DirectoryNotEmptyException => false
    }

  private def mintedBuckets(db: Db, dir: java.nio.file.Path): Int = {
    val path = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = path.getFileSystem(db.spark.sessionState.newHadoopConf())
    fs.listStatus(path).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("tbucket="))
  }

  /** The fused commit protocol (see [[write]]'s `fuse` doc). None =
    * could not proceed or lost too many races — the caller falls back
    * to claim-first; the fallback can never collide with a leftover
    * tentative directory because the occupied number is burned first.
    */
  private def writeFused(db: Db, df: DataFrame, width: Long, major: Boolean,
                         rangePartitions: Option[Int], maxNewBuckets: Int,
                         props: Map[String, String],
                         propsClaim: Map[String, String],
                         streamCursor: Option[(String, Long)])
      : Option[Long] = {
    val start = Manifest.current(db.warehouse)
    // a claim in flight means a claim-first writer (or fold/compactor)
    // is active — don't interleave protocols on one warehouse
    if (start.pending.nonEmpty) return None
    def dirOf(t: Long) = txidPath(db, t)
    if (java.nio.file.Files.exists(dirOf(start.nextTxid))) {
      // a crashed fused writer's orphan occupies the tentative number:
      // burn it BEFORE the (possibly long) write job, so the work isn't
      // wasted on a number that can't be taken (the orphan stays for
      // vacuum; burning also keeps later claims off the directory)
      burnTxid(db, start.nextTxid)
      return None
    }
    fuseWriteHook()
    // the parquet job targets a uniquely named TENTATIVE directory,
    // exactly like claim-first — no job ever writes into a txid= path,
    // so a racing claim-first writer, compactor or second fused writer
    // cannot collide with the write job itself
    val tmp = tentativePath(db)
    val written =
      try writeDataDir(db, df, tmp, width, major, rangePartitions)
      catch {
        case e: Throwable => deleteRecursivelyIfExists(tmp); throw e
      }
    // bucket-explosion guard, same as the claim-first path (fused never
    // sets the width, so there is no first-write layout to revert)
    if (width > 0) {
      val minted = mintedBuckets(db, tmp)
      if (minted > maxNewBuckets) {
        deleteRecursivelyIfExists(tmp)
        throw new BucketExplosion(
          s"fused transaction minted $minted tbucket= dirs (cap " +
            s"$maxNewBuckets) — see TxWriter.write's guard; the " +
            "transaction was NOT published.")
      }
    }
    val stats = written.observedStats.getOrElse(txStatsOf(db, tmp.toString))
    // take the tentative number by atomic rename — re-read first so a
    // number claimed mid-write (a compactor's output claim, a
    // claim-first writer) isn't camped on for the rename-forward dance
    var txid = Manifest.current(db.warehouse).nextTxid
    if (!tryRename(tmp, dirOf(txid))) {
      // the fresh nextTxid's directory is occupied (an orphan, or a
      // racer in the microseconds since the re-read): burn the number
      // so no later claim collides, fall back to claim-first
      burnTxid(db, txid)
      deleteRecursivelyIfExists(tmp)
      return None
    }
    // ANY abnormal exit from the publish loop must remove the tentative
    // directory: unlike claim-first (whose conflict orphan sits under a
    // CLAIMED, consumed number), this directory occupies the UNCLAIMED
    // nextTxid — left behind, the next claim-first writer steps past
    // the occupied number (write's self-heal) and vacuum cleans the dir
    try {
    fusePauseHook()
    var attempts = 0
    while (attempts < 100) {
      val cur = Manifest.current(db.warehouse)
      if (cur.nextTxid != txid) {
        // someone claimed or published past our tentative number — move
        // the (immutable, invisible) directory to the new nextTxid and
        // retry. A cheap rename on a posix/HDFS store; on an object
        // store the uncontended single-writer case never reaches here.
        val to = cur.nextTxid
        if (!tryRename(dirOf(txid), dirOf(to))) {
          deleteRecursivelyIfExists(dirOf(txid))
          return None // another writer owns the new number
        }
        txid = to
      } else {
        // claim-and-publish in ONE CAS: nextTxid still ours ⟹ nothing
        // claimed it; the commit both consumes the number and makes the
        // transaction visible (cursor/props riders included), so there
        // is no window in which the txid is claimed but unpublished
        propsClaim.foreach { case (k, v) =>
          cur.props.get(k).filter(_ != v).foreach { existing =>
            throw new PropertyConflict(
              s"table property '$k' already set to '$existing' (this " +
                s"write claimed '$v'); transaction $txid NOT published")
          }
        }
        val pub = cur.copy(
          version = cur.version + 1,
          nextTxid = txid + 1,
          dataTxids = cur.dataTxids :+ txid,
          schemaDdl = Manifest.mergeDdl(cur.schemaDdl, written.schema),
          txStats = stats.fold(cur.txStats)(s => cur.txStats + (txid -> s)),
          props = cur.props ++ props ++ propsClaim)
        val next = streamCursor.fold(pub) { case (sink, batch) =>
          pub.withStreamBatch(sink, batch)
        }
        if (Manifest.commit(db.warehouse, cur, Manifest.withCreated(cur, next)))
          return Some(txid)
      }
      attempts += 1
    }
    deleteRecursivelyIfExists(dirOf(txid))
    None // pathological contention — the claim-first fallback handles it
    } catch {
      case e: Throwable =>
        deleteRecursivelyIfExists(dirOf(txid)); throw e
    }
  }

  /** Test seam: invoked between a claim-first write's rename and its
    * publishing commit — the window in which an (erroneous) vacuum could
    * clear the writer's pending claim. RobustnessSpec injects the
    * cleared-claim state here to pin that publish refuses loudly
    * ([[ClaimVanished]]) instead of silently committing past a dropped
    * fence; a no-op in production.
    */
  private[store] var publishPauseHook: () => Unit = () => ()

  /** Test seam: invoked between a fused write's data-directory job and
    * its publish loop — the window in which its directory sits at the
    * UNCLAIMED nextTxid. TxFuseSpec injects a racing claim-first write
    * here to pin the mixed-protocol self-heal deterministically; a
    * no-op in production.
    */
  private[store] var fusePauseHook: () => Unit = () => ()

  /** Test seam: invoked after a fused write's start checks, BEFORE its
    * write job — the simultaneous-start window that under the pre-rename
    * protocol could make two parquet jobs collide on one `txid=` path.
    * TxFuseSpec runs a full claim-first write here to pin that BOTH
    * writers now commit (the fused side re-targets the fresh nextTxid at
    * rename time); a no-op in production.
    */
  private[store] var fuseWriteHook: () => Unit = () => ()

  /** Conditionally skip a txid number whose directory is occupied by an
    * orphan, so the claim-first fallback can never claim it.
    */
  private def burnTxid(db: Db, txid: Long): Unit =
    if (Manifest.current(db.warehouse).nextTxid == txid) {
      Manifest.update(db.warehouse)(m =>
        if (m.nextTxid == txid) m.copy(nextTxid = txid + 1) else m)
      ()
    }

  private[store] def deleteRecursivelyIfExists(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally s.close()
    }

  /** The physical transaction write shared by [[write]], [[writeFused]]
    * and [[supersedeIf]]: range-shuffle-sort on the warehouse's layout,
    * zstd parquet into `target` — always a uniquely named TENTATIVE
    * directory, never a `txid=` path (those are created only by
    * [[tryRename]]). Returns the written schema.
    *
    * No explicit partition count unless the caller pins one: an
    * AQE-coalescible range exchange sizes output files to the shuffle
    * target (~64 MB) instead of hard-coding shuffle.partitions files —
    * small transactions stay a few files, huge ones fan out.
    */
  private def writeDataDir(db: Db, df: DataFrame,
                           target: java.nio.file.Path, width: Long,
                           major: Boolean, rangePartitions: Option[Int])
      : WrittenDir = {
    val base = df.drop("tbucket")
    val rangeCols =
      if (major && width > 0)
        Seq(col("ts") - col("ts") % width, col("key"), col("ts"))
      else Seq(col("key"), col("ts"))
    val ranged = rangePartitions match {
      // single-partition transactions skip the range exchange entirely —
      // coalesce(1) + sort yields the identical one-sorted-file layout
      // without the RangePartitioner SAMPLING JOB, which re-executes the
      // whole upstream plan once before the write job runs it again
      // (guide §2.4: remove shuffles outright; §1 measured — the
      // sampling pass was one of 3 fixed jobs per register transaction).
      // Two kinds of writer are bounded:
      //  - by contract: the ungrouped sketch registers/folds, whose row
      //    count is the store GEOMETRY, not the data;
      //  - by measured input size ([[boundedPartitions]]): the served
      //    PUT (spooled body bytes) and the CLI `add` (stdin line bytes).
      //    Their threshold is AQE's minimum coalesced partition size
      //    (1 MB by default): a range exchange of at most that many
      //    bytes coalesces to one partition in either coalescing mode,
      //    so below it the sampling job, the second parse of the body
      //    and the shuffle buy nothing. One job instead of three per
      //    PUT. Above it the default parallelism-first coalescing
      //    splits the exchange across the cores, so larger inputs keep
      //    the range path and its parallel sort and write.
      // Layout difference: the text-byte count is only a proxy for the
      // shuffle bytes AQE measures (a 40 KB benchmark PUT shuffled
      // ~29 KB), so a body just under the threshold may now land as one
      // file where the range path would have written two. Reads are
      // unaffected: either way each file is key-sorted and carries
      // exact (key, ts) bounds.
      case Some(1) => base.coalesce(1)
      case Some(n) => base.repartitionByRange(n, rangeCols: _*)
      case None    => base.repartitionByRange(rangeCols: _*)
    }
    val sorted = ranged.sortWithinPartitions(rangeCols: _*)
    // (key, ts) bounds observed DURING the write job (guide §1.4/§2.4:
    // one pass, not two): replaces the separate post-write stats job —
    // one fewer Spark job + one fewer parquet footer read per
    // transaction. Bucketed writes keep the footer-stats path: their
    // physical plan goes through the dynamic-partition writer, which is
    // left untouched by design (its V1Writes sort interplay is pinned by
    // the ANN index layout specs).
    val obs =
      if (width > 0) None
      else Some(new org.apache.spark.sql.Observation(
        s"txstats-${java.util.UUID.randomUUID()}"))
    val observed = obs.fold(sorted)(o => sorted.observe(o,
      min(col("key")).as("minKey"), max(col("key")).as("maxKey"),
      min(col("ts")).as("minTs"), max(col("ts")).as("maxTs")))
    val writer0 = (if (width > 0)
      observed.withColumn("tbucket", col("ts") - col("ts") % width)
    else observed)
      .write.mode(SaveMode.ErrorIfExists)
      // zstd: the modern analog of the reference's LZ4-level-9 segments
      // (src/write.rs:83) — better ratio at comparable scan speed
      .option("compression", "zstd")
      // default page size on purpose. Measured and rejected, do not
      // retry: 1 000-row pages (page-index pruning for point lookups) cut
      // the serving benchmark's rows scanned per row returned from 1542
      // to 172, yet task time per GET stayed put (78 → 75 ms on 4 cores):
      // opening the files costs more than decoding their rows
    val writer = if (width > 0) writer0.partitionBy("tbucket") else writer0
    writer.parquet(target.toString)
    val stats = obs.map { o =>
      val m = o.get
      if (m("minKey") == null) None // observed EMPTY tx: known, no stats
      else Some(TxStats(m("minKey").asInstanceOf[String],
        m("maxKey").asInstanceOf[String],
        m("minTs").asInstanceOf[Long], m("maxTs").asInstanceOf[Long]))
    }
    WrittenDir(sorted.schema, stats)
  }

  /** A written tentative directory: its schema, plus the (key, ts)
    * bounds observed during the write job — `observedStats = None` means
    * the write path could not observe (bucketed writes), so the
    * publisher falls back to the footer-stats job; `Some(None)` means
    * observed-and-empty (no stats row, no fallback needed).
    */
  private[store] final case class WrittenDir(
      schema: org.apache.spark.sql.types.StructType,
      observedStats: Option[Option[TxStats]])

  /** ATOMIC read-supersede: publish a delete marker over `wildcards`
    * AND the replacement rows in ONE manifest commit — the fold
    * primitive ([[graft.ops.SketchStore]]). Two adjacent txids are
    * claimed conditionally (the [[deleteManyIfUnchanged]] fence: nothing
    * moved since `baseline`, no claim in flight), the marker and data
    * directories are written invisibly, then a single commit makes both
    * visible. The replacement ranks one txid above the marker, so it
    * survives it; a crash anywhere before the commit publishes NOTHING —
    * unlike a marker-then-write sequence, there is no window where the
    * store's history is deleted but its replacement missing. None = the
    * fence refused (caller re-reads and retries).
    */
  /** @param props table properties REWRITTEN in the publishing commit —
    *   atomic with the supersede, for migrations that change a claimed
    *   layout fact together with the rows recorded under it
    *   ([[graft.ops.SketchStore.migrateHistGrid]]).
    */
  /** @param dynProps properties computed FROM the replacement's txid and
    *   published in the same commit — the fold-provenance rider
    *   ([[graft.ops.SketchStore]] records `fold.last/<family>/<tag>` so
    *   a serving tier can report which fold generation a stats body
    *   reflects, for free: the txid isn't known until the claim, and a
    *   follow-up commit would break the one-commit supersede).
    */
  /** @param rangePartitions pins the replacement's write partitioning —
    *   `Some(1)` for bounded-by-geometry replacements (the ungrouped
    *   sketch folds) skips the range exchange and its sampling job
    *   exactly like [[write]]'s single-partition path.
    */
  def supersedeIf(db: Db, baseline: ManifestState, wildcards: Seq[String],
                  replacement: DataFrame, t0: Long = Long.MinValue,
                  t1: Long = Long.MaxValue,
                  props: Map[String, String] = Map.empty,
                  dynProps: Long => Map[String, String] = _ => Map.empty,
                  rangePartitions: Option[Int] = None)
      : Option[Long] = {
    require(wildcards.nonEmpty, "need at least one wildcard")
    val schema = replacement.schema
    require(schema.fieldNames.contains("key") &&
      schema("key").dataType == StringType, "replacement needs key: String")
    require(schema.fieldNames.contains("ts") &&
      schema("ts").dataType == LongType, "replacement needs ts: Long")
    // tentative name minted before the claim so the claim records it
    // (same vacuum-matching rider as [[write]]; the marker txid writes
    // its tiny file directly and needs no entry)
    val tmp = tentativePath(db)
    val markerTx = claimIf(db, 2,
        Map(1 -> tmp.getFileName.toString))(cur =>
      cur.nextTxid == baseline.nextTxid &&
        cur.dataTxids == baseline.dataTxids &&
        cur.deleteTxids == baseline.deleteTxids) match {
      case Some(t) => t
      case None    => return None
    }
    val dataTx = markerTx + 1
    try {
      val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
      wildcards.foreach(w => rows.add(Row("", "", t0, t1, w)))
      db.spark.createDataFrame(rows, Db.deleteSchema)
        .coalesce(1)
        .write.mode(SaveMode.ErrorIfExists)
        .parquet(s"${db.deleteDir}/txid=$markerTx")
      val written = writeDataDir(db, replacement, tmp,
        baseline.timeBucket, baseline.bucketMajor, rangePartitions)
      // same bucket-explosion guard as [[write]]: a supersede that mints
      // an absurd tbucket= count (a rebuild with fat-fingered geometry on
      // a bucket-major warehouse) must refuse while still invisible
      if (baseline.timeBucket > 0) {
        val minted = mintedBuckets(db, tmp)
        if (minted > DefaultMaxNewBuckets)
          throw new BucketExplosion(
            s"supersede replacement minted $minted tbucket= dirs (cap " +
              s"$DefaultMaxNewBuckets) — see TxWriter.write's guard; " +
              "nothing was published.")
      }
      // the fence (claimIf: nothing moved, no pending) guarantees the
      // claimed number is free — an occupied directory here means a
      // manifest/data-dir mismatch, surfaced loudly, nothing published
      if (!tryRename(tmp, txidPath(db, dataTx)))
        throw new IllegalStateException(
          s"supersede's claimed txid=$dataTx directory is already " +
            "occupied despite the claim fence — manifest behind data " +
            "directories (restored/rolled-back manifest?)")
      val stats = written.observedStats
        .getOrElse(txStatsOf(db, s"${db.dataDir}/txid=$dataTx"))
      Manifest.update(db.warehouse) { cur =>
        // the publish itself is CONDITIONAL: a publish that landed in
        // our claim→publish window invalidates the supersede. Writers
        // that claimed after us are additive-safe (their txid ranks
        // above the marker) — but a COMPACTOR cutover in the window
        // rewrites the very history our marker supersedes into a txid
        // above it (double count), and a props-guarded registration
        // that published under the OLD layout must be re-read before a
        // migration flips the property under it. Abort → the caller
        // re-reads and retries; nothing was ever visible.
        if (cur.dataTxids != baseline.dataTxids ||
            cur.deleteTxids != baseline.deleteTxids)
          throw new SupersedeAborted
        cur.copy(
          dataTxids = cur.dataTxids :+ dataTx,
          deleteTxids = cur.deleteTxids :+ markerTx,
          schemaDdl = Manifest.mergeDdl(cur.schemaDdl, written.schema),
          txStats = stats.fold(cur.txStats)(s => cur.txStats + (dataTx -> s)),
          props = cur.props ++ props ++ dynProps(dataTx),
          pending = cur.pending - markerTx - dataTx,
          claimDirs = cur.claimDirs - markerTx - dataTx)
      }
      Some(dataTx)
    } catch {
      case _: SupersedeAborted =>
        Manifest.update(db.warehouse)(m =>
          m.copy(pending = m.pending - markerTx - dataTx,
            claimDirs = m.claimDirs - markerTx - dataTx))
        None // orphan dirs vacuumed; caller refolds over the new state
      case e: Throwable =>
        Manifest.update(db.warehouse)(m =>
          m.copy(pending = m.pending - markerTx - dataTx,
            claimDirs = m.claimDirs - markerTx - dataTx))
        deleteRecursivelyIfExists(tmp)
        throw e
    }
  }

  private final class SupersedeAborted extends RuntimeException

  /** Conditionally claim `n` adjacent txids in one commit (registered
    * pending); None when `ok` fails or any other claim is in flight.
    * `tmpNames` maps a claim OFFSET (0-based) to the tentative
    * directory that claim's write targets — recorded in
    * [[ManifestState.claimDirs]] like [[claimTxid]]'s rider.
    */
  private def claimIf(db: Db, n: Int,
                      tmpNames: Map[Int, String] = Map.empty)
                     (ok: ManifestState => Boolean)
      : Option[Long] = {
    while (true) {
      val cur = Manifest.current(db.warehouse)
      if (!ok(cur) || cur.pending.nonEmpty) return None
      val now = System.currentTimeMillis()
      val pend = (0 until n).map(i => (cur.nextTxid + i) -> now)
      val dirs = tmpNames.map { case (i, d) => (cur.nextTxid + i) -> d }
      if (Manifest.commit(db.warehouse, cur, Manifest.withCreated(cur,
          cur.copy(version = cur.version + 1, nextTxid = cur.nextTxid + n,
            pending = cur.pending ++ pend,
            claimDirs = cur.claimDirs ++ dirs))))
        return Some(cur.nextTxid)
    }
    None // unreachable
  }

  /** (key, ts) bounds of a freshly written transaction directory — a
    * stats-only read (parquet aggregate pushdown answers min/max from
    * footers, bounded by the one transaction's file count). None for an
    * empty or all-null transaction.
    */
  private[store] def txStatsOf(db: Db, dir: String): Option[TxStats] =
    if (!holdsParquet(db, dir)) None
    else {
      val r = db.spark.read.parquet(dir)
        .agg(min(col("key")), max(col("key")), min(col("ts")), max(col("ts")))
        .head()
      if (r.isNullAt(0)) None
      else Some(TxStats(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    }

  /** Whether `dir` holds a parquet file at any depth. A bucketed
    * (`partitionBy`) write of zero rows leaves none — an unbucketed one
    * still writes one empty file carrying the schema — and reading such
    * a directory fails schema inference, so an empty PUT into a bucketed
    * warehouse answered 500 instead of committing its empty transaction.
    */
  private def holdsParquet(db: Db, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val files = path.getFileSystem(db.spark.sessionState.newHadoopConf())
      .listFiles(path, true)
    var found = false
    while (!found && files.hasNext)
      found = files.next().getPath.getName.endsWith(".parquet")
    found
  }

  /** Append a range-delete marker transaction (reference `CreateTx::delete`,
    * `src/create_tx.rs:115-174`): suppresses records with `txid < this txid`,
    * `key ∈ [firstKey, lastKey)` (empty lastKey = unbounded), `ts ∈ [t0, t1)`,
    * `key LIKE wildcard`. Logical and instantaneous — physically purged at
    * compaction, exactly like the reference's delete-marker files.
    */
  def delete(db: Db, firstKey: String = "", lastKey: String = "",
             t0: Long = 0L, t1: Long = Long.MaxValue,
             wildcard: String = "%"): Long =
    writeDeleteMarker(db, claimTxid(db), firstKey, lastKey, t0, t1,
      Seq(wildcard))

  /** [[delete]] for SEVERAL wildcards as ONE unconditional marker
    * transaction (one claim, one txid, one marker file with a row per
    * wildcard) — the unfenced twin of [[deleteManyIf]], for rebuild
    * paths that drop a multi-prefix keyspace: N separate [[delete]]
    * calls cost N claims + N marker writes + N publishes for the same
    * logical drop, and leave N−1 windows in which the keyspace is only
    * partially deleted.
    */
  def deleteMany(db: Db, wildcards: Seq[String], firstKey: String = "",
                 lastKey: String = "", t0: Long = 0L,
                 t1: Long = Long.MaxValue): Long = {
    require(wildcards.nonEmpty, "need at least one wildcard")
    writeDeleteMarker(db, claimTxid(db), firstKey, lastKey, t0, t1,
      wildcards)
  }

  /** [[delete]], but the txid claim is CONDITIONAL on `expectedNextTxid`
    * still being the warehouse's next txid — the fence read-supersede
    * maintenance ops need ([[graft.ops.SketchStore.foldCountMin]]):
    * the marker suppresses `txid < claimed`, so a concurrent commit
    * landing between "read the state I'm superseding" and "claim the
    * delete's txid" would be silently erased. With the conditional
    * claim that interleaving cannot claim at all (`None` — the caller
    * re-reads and retries); a commit landing AFTER the claim gets a
    * higher txid and survives the marker by construction.
    */
  def deleteIf(db: Db, expectedNextTxid: Long, firstKey: String = "",
               lastKey: String = "", t0: Long = 0L, t1: Long = Long.MaxValue,
               wildcard: String = "%"): Option[Long] =
    deleteManyIf(db, expectedNextTxid, Seq(wildcard), firstKey, lastKey,
      t0, t1)

  /** [[deleteIf]] for SEVERAL wildcards as ONE marker transaction (one
    * conditional claim, one txid, one marker file with a row per
    * wildcard — [[graft.series.SeriesOps.applyDeletes]] applies each row
    * independently). The fence a fold over a MULTI-prefix store needs
    * ([[graft.ops.SketchStore.foldMg]]: candidate rows + the mass row):
    * two separate deleteIf calls would leave the store half-deleted when
    * the second claim loses a race.
    *
    * Both conditional forms ALSO refuse while any claim is pending
    * ([[ManifestState.pending]]): a claimed-but-unpublished write is
    * invisible to whatever read this marker supersedes, yet the marker
    * would suppress it when it publishes — the fence must wait it out
    * (the claim publishes → the caller's re-read includes it; or it
    * died → [[Compactor.vacuum]] clears it past the grace window).
    */
  def deleteManyIf(db: Db, expectedNextTxid: Long, wildcards: Seq[String],
                   firstKey: String = "", lastKey: String = "",
                   t0: Long = 0L, t1: Long = Long.MaxValue): Option[Long] =
    deleteFenced(db, wildcards, firstKey, lastKey, t0, t1)(cur =>
      cur.nextTxid == expectedNextTxid)

  /** The airtight fold fence: claim only if NOTHING moved since
    * `baseline` — no new claim (`nextTxid`), no publish (`dataTxids`,
    * `deleteTxids`), and no claim still in flight (`pending`). The
    * `expectedNextTxid`-only form cannot see a pre-baseline claim that
    * published after the caller's read; this form can, because the
    * publish changes the published sets.
    */
  def deleteManyIfUnchanged(db: Db, baseline: ManifestState,
                            wildcards: Seq[String],
                            firstKey: String = "", lastKey: String = "",
                            t0: Long = 0L, t1: Long = Long.MaxValue)
      : Option[Long] =
    deleteFenced(db, wildcards, firstKey, lastKey, t0, t1)(cur =>
      cur.nextTxid == baseline.nextTxid &&
        cur.dataTxids == baseline.dataTxids &&
        cur.deleteTxids == baseline.deleteTxids)

  private def deleteFenced(db: Db, wildcards: Seq[String], firstKey: String,
                           lastKey: String, t0: Long, t1: Long)
                          (unchanged: ManifestState => Boolean)
      : Option[Long] = {
    require(wildcards.nonEmpty, "need at least one wildcard")
    claimIf(db, 1)(unchanged).map(granted =>
      writeDeleteMarker(db, granted, firstKey, lastKey, t0, t1, wildcards))
  }

  private def writeDeleteMarker(db: Db, txid: Long, firstKey: String,
                                lastKey: String, t0: Long, t1: Long,
                                wildcards: Seq[String]): Long =
    try {
      val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
      wildcards.foreach(w => rows.add(Row(firstKey, lastKey, t0, t1, w)))
      db.spark.createDataFrame(rows, Db.deleteSchema)
        .coalesce(1)
        .write.mode(SaveMode.ErrorIfExists)
        .parquet(s"${db.deleteDir}/txid=$txid")
      Manifest.update(db.warehouse) { m =>
        requirePending(m, txid)
        m.copy(deleteTxids = m.deleteTxids :+ txid,
          pending = m.pending - txid,
        claimDirs = m.claimDirs - txid)
      }
      txid
    } catch {
      case e: Throwable => abandonClaim(db, txid); throw e
    }

  /** Delete exactly one instant: `[t, t+1ns)` (reference `--time t`,
    * `src/main.rs:173-176`).
    */
  def deleteAt(db: Db, wildcard: String, t: Long): Long =
    delete(db, t0 = t, t1 = t + 1, wildcard = wildcard)

  /** Claim the next txid. `tmpName` — when the writer targets a
    * tentative directory — rides the claim ([[ManifestState.claimDirs]])
    * so [[Compactor.vacuum]] can match the claim to its OWN directory
    * instead of conservatively holding all clearing back while any
    * tentative write anywhere is live.
    */
  private def claimTxid(db: Db, tmpName: Option[String] = None): Long = {
    var claimed = -1L
    Manifest.update(db.warehouse) { m =>
      claimed = m.nextTxid
      m.copy(nextTxid = m.nextTxid + 1,
        pending = m.pending + (m.nextTxid -> System.currentTimeMillis()),
        claimDirs = tmpName.fold(m.claimDirs)(d =>
          m.claimDirs + (m.nextTxid -> d)))
    }
    claimed
  }

  /** Loud failure when a writer reaches its publishing commit and its
    * own pending claim is GONE from the manifest.
    */
  final class ClaimVanished(msg: String) extends IllegalStateException(msg)

  /** The publish-side backstop of the claim fence: a claim registered at
    * job start must still be pending at publish time. It can vanish only
    * if [[Compactor.vacuum]] cleared it as crashed (a write that outran
    * the grace window AND the tentative-dir protection — e.g. a restored
    * warehouse, or a vacuum run with `graceMs=0` against a live writer)
    * or the manifest was rolled back. Publishing anyway would be silent
    * corruption: a fold/supersede that saw the fence down may have
    * already superseded the history this transaction appends under, so
    * its records could interleave (mixed grids after a migration).
    * Refuse instead — the directory stays an invisible orphan for
    * vacuum and the caller surfaces the error.
    */
  private def requirePending(m: ManifestState, txid: Long): Unit =
    if (!m.pending.contains(txid))
      throw new ClaimVanished(
        s"txid=$txid's pending claim vanished before its publishing " +
          "commit — vacuum cleared it as crashed (did the write outlive " +
          "the grace window on a restored warehouse, or was vacuum run " +
          "with graceMs=0 against a live writer?) or the manifest was " +
          "rolled back. Refusing to publish: a fold/supersede may have " +
          "run while the fence was down. Nothing was published; the " +
          "written directory remains invisible for vacuum.")

  /** Drop a claim that will never publish (in-process write failure) so
    * the pending fence does not stay raised for a dead txid; crashed
    * JVMs leave their entry for [[Compactor.vacuum]]'s grace window.
    */
  private def abandonClaim(db: Db, txid: Long): Unit =
    Manifest.update(db.warehouse)(m =>
      m.copy(pending = m.pending - txid, claimDirs = m.claimDirs - txid))

  private def publishData(db: Db, txid: Long,
                          written: WrittenDir,
                          props: Map[String, String] = Map.empty,
                          propsClaim: Map[String, String] = Map.empty,
                          streamCursor: Option[(String, Long)] = None)
      : Unit = {
    // bounds observed during the write job when available; only bucketed
    // writes still pay the footer-stats job
    val stats = written.observedStats
      .getOrElse(txStatsOf(db, s"${db.dataDir}/txid=$txid"))
    Manifest.update(db.warehouse) { m =>
      // both checks run INSIDE the CAS loop, against the state this
      // attempt would succeed over — the throw aborts before any commit,
      // leaving the txid directory an unpublished orphan for vacuum
      requirePending(m, txid)
      propsClaim.foreach { case (k, v) =>
        m.props.get(k).filter(_ != v).foreach { existing =>
          throw new PropertyConflict(
            s"table property '$k' already set to '$existing' (this write " +
              s"claimed '$v'); transaction $txid NOT published")
        }
      }
      val pub = m.copy(
        dataTxids = m.dataTxids :+ txid,
        schemaDdl = Manifest.mergeDdl(m.schemaDdl, written.schema),
        txStats = stats.fold(m.txStats)(s => m.txStats + (txid -> s)),
        props = m.props ++ props ++ propsClaim,
        pending = m.pending - txid,
        claimDirs = m.claimDirs - txid)
      streamCursor.fold(pub) { case (sink, batch) =>
        pub.withStreamBatch(sink, batch)
      }
    }
  }
}
