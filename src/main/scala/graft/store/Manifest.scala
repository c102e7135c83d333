package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Committed-transaction manifest: the engine's snapshot-isolation root.
  *
  * The reference gets atomic visibility from `fsync + rename(tx.<nanos>)`
  * and commit order from sorted filenames (sonnerie `src/create_tx.rs:180-264`,
  * `src/database_reader.rs:97-123`). A distributed Parquet warehouse can't
  * rely on directory-listing order — listings race with writers — so we use
  * an explicit manifest: versioned JSON files `_manifest/v<seq>.json`, each a
  * complete snapshot of committed data/delete txids. Commit = write temp +
  * atomic hard-link to the next version; link(2) fails if the version
  * exists (unlike rename, which silently replaces), which serializes
  * writers under optimistic retry — concurrent committers are safe, each
  * lands as its own version (cf. the reference's flock'd compactor,
  * `src/main.rs:404-406`). Readers bind to the highest version at snapshot
  * time and never see partial state.
  *
  * On an object store this rename becomes a conditional put ("if-none-match"),
  * the standard commit primitive of table formats at 100 TB scale.
  */
final case class ManifestState(
    version: Long,
    nextTxid: Long,
    dataTxids: Vector[Long],
    deleteTxids: Vector[Long],
    /** Highest committed streaming micro-batch id (exactly-once replay
      * guard for [[graft.streaming.StreamIngest]]); -1 = none.
      */
    streamBatch: Long = -1L,
    /** Time-bucket width in nanos for Hive-style `tbucket=` partition
      * dirs (0 = unbucketed). Fixed at first data write; gives time-range
      * reads partition pruning on top of row-group stats.
      */
    timeBucket: Long = 0L,
    /** Bucket-major layout flag, fixed with [[timeBucket]] at first data
      * write: transactions range-partition by (tbucket, key, ts) so each
      * write task touches FEW bucket dirs — the layout for warehouses
      * whose reads are always per-bucket (the ANN index, bucket = IVF
      * cell). Sticky so appends and compaction rewrites inherit it.
      */
    bucketMajor: Boolean = false,
    /** Merged data schema as Spark DDL ("" = unknown → readers fall back
      * to parquet `mergeSchema`). Maintained at commit so planning a read
      * is O(1) instead of O(files) footer fetches — the schema-in-manifest
      * design of large-scale table formats. Base64 in the JSON so DDL
      * punctuation never needs escaping.
      */
    schemaDdl: String = "",
    /** Per-transaction (key, ts) bounds — the reference's segment index
      * (`file_format.md:79-90`) at transaction granularity: point/range/
      * prefix/time reads skip whole transactions whose bounds cannot
      * overlap, before any file listing. Missing entries (pre-stats
      * manifests) are conservatively included by readers.
      */
    txStats: Map[Long, TxStats] = Map.empty,
    /** Per-sink streaming batch cursors. Each named streaming sink
      * (dedup, near-dedup, index maintenance, or a caller-chosen id)
      * tracks its own highest committed batch id: Structured Streaming
      * numbers batches per QUERY from 0, so two sinks sharing the single
      * [[streamBatch]] scalar would silently skip each other's batches —
      * the exact one-warehouse-two-stores layout IncrementalDedup
      * documents. The legacy scalar remains the cursor of the unnamed
      * plain-ingest writer.
      */
    streamBatches: Map[String, Long] = Map.empty,
    /** Table properties — small, named metadata carried by every version
      * (the standard table-format mechanism): writers record facts
      * readers need BEFORE touching data, e.g. `bm25.layout` = the
      * postings-index physical layout generation, so a probe can pick
      * its plan from the (already-cached) manifest with zero extra
      * jobs. Carried forward by case-class copy; set via
      * [[withStreamBatch]]-style copy in the writer that owns the key.
      */
    props: Map[String, String] = Map.empty,
    /** Warehouse-lifetime identity: a UUID minted by [[Manifest.update]]/
      * [[Manifest.commit]]-callers at the version-0→1 commit and carried
      * forward by every later version (case-class copy), so it survives
      * history pruning and needs no filesystem introspection. Deleting
      * and recreating a warehouse at the same path mints a DIFFERENT id,
      * which is how [[Db.txLayout]] tells recreation (purge caches) from
      * time travel (keep them). "" on warehouses written before the field
      * existed — readers fall back to [[Manifest.creationId]]'s
      * file-identity heuristic via [[Manifest.identity]].
      */
    created: String = "",
    /** Claimed-but-unpublished txids → claim wall-clock millis. A writer
      * claims first and publishes last, so between the two its txid is
      * IN FLIGHT: invisible to readers, yet a read-supersede delete
      * marker granted in that window would erase the write when it
      * publishes (markers suppress every txid below their own). The
      * conditional fences ([[graft.store.TxWriter.deleteManyIf]]) refuse
      * to claim while this set is non-empty. Entries are removed at
      * publish, on an in-process write failure, and by
      * [[graft.store.Compactor.vacuum]] for crashed writers (claim older
      * than the grace window with no live directory).
      */
    pending: Map[Long, Long] = Map.empty,
    /** Tentative-directory name (under `data/`) a pending claim's write
      * job targets, when the writer declared one at claim time. Lets
      * [[graft.store.Compactor.vacuum]] match a stale claim to ITS OWN
      * tmp-tx-* directory and clear it as soon as that directory is
      * dead — instead of the conservative global hold (clear nothing
      * while ANY tentative dir is live) that a dir-less claim forces,
      * which on a many-sink warehouse could keep a crashed writer's
      * fence raised indefinitely. Entries live and die with their
      * [[pending]] entry; claims from pre-field writers simply have no
      * entry and get the conservative treatment.
      */
    claimDirs: Map[Long, String] = Map.empty
) {
  /** The replay cursor for a named sink ("" = the legacy scalar).
    *
    * Migration: a warehouse written before per-sink cursors existed has
    * an EMPTY `streamBatches` map and its one writer's cursor in the
    * legacy scalar — falling back to the scalar there preserves the
    * crash-replay guard across the upgrade (a replayed batch must not
    * commit twice just because the cursor moved fields). The fallback is
    * restricted to the sink ids that EXISTED pre-migration
    * ([[ManifestState.LegacySinks]]): a sink kind introduced after the
    * cursor map (bm25, sketch, neardedup, caller-chosen ids) can never
    * have written the scalar, so inheriting it would make the new sink
    * silently skip its own batches 0..streamBatch on a pre-upgrade
    * warehouse — new kinds always start at -1. Once ANY named sink has
    * committed, the map is authoritative for every sink. The plain
    * ingest writer records under both the scalar and its own named
    * entry, so a fresh warehouse it touches is recognizably
    * post-migration.
    */
  def streamBatchFor(sink: String): Long =
    if (sink.isEmpty) math.max(streamBatch, streamBatches.getOrElse("", -1L))
    else streamBatches.getOrElse(sink,
      if (streamBatches.isEmpty && ManifestState.LegacySinks(sink))
        streamBatch
      else -1L)

  /** Monotonically advance a sink's replay cursor. */
  def withStreamBatch(sink: String, id: Long): ManifestState =
    if (sink.isEmpty)
      copy(streamBatch = math.max(streamBatch, id),
        streamBatches = streamBatches
          .updated("", math.max(streamBatchFor(""), id)))
    else copy(streamBatches = streamBatches
      .updated(sink, math.max(streamBatchFor(sink), id)))
  def json: String = {
    def arr(v: Vector[Long]) = v.mkString("[", ",", "]")
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // stats blob: one space-separated line per txid, keys base64'd so any
    // UTF-8 key bytes survive the JSON round trip untouched
    val stats = txStats.toVector.sortBy(_._1).map { case (t, s) =>
      s"$t ${b64(s.minKey)} ${b64(s.maxKey)} ${s.minTs} ${s.maxTs}"
    }.mkString("\n")
    // per-sink cursors: one "b64(sink) batch" line each (sink names
    // base64'd so arbitrary UTF-8 ids survive the round trip)
    val sinks = streamBatches.toVector.sortBy(_._1).map { case (k, v) =>
      s"${b64(k)} $v"
    }.mkString("\n")
    // table properties: one "b64(key) b64(value)" line each
    val propLines = props.toVector.sortBy(_._1).map { case (k, v) =>
      s"${b64(k)} ${b64(v)}"
    }.mkString("\n")
    // pending claims: one "txid claimMillis" line each
    val pend = pending.toVector.sortBy(_._1).map { case (t, ms) =>
      s"$t $ms"
    }.mkString("\n")
    // claim tentative dirs: one "txid b64(dirName)" line each
    val cdirs = claimDirs.toVector.sortBy(_._1).map { case (t, d) =>
      s"$t ${b64(d)}"
    }.mkString("\n")
    s"""{"version":$version,"nextTxid":$nextTxid,"dataTxids":${arr(dataTxids)},"deleteTxids":${arr(deleteTxids)},"streamBatch":$streamBatch,"timeBucket":$timeBucket,"bucketMajor":${if (bucketMajor) 1 else 0},"createdB64":"${b64(created)}","schemaB64":"${b64(schemaDdl)}","txStatsB64":"${b64(stats)}","streamB64":"${b64(sinks)}","propsB64":"${b64(propLines)}","pendingB64":"${b64(pend)}","claimDirsB64":"${b64(cdirs)}"}"""
  }
}

object ManifestState {
  /** The sink ids that existed BEFORE the per-sink cursor map — the only
    * ones whose cursor can legitimately live in the legacy `streamBatch`
    * scalar of a pre-upgrade warehouse. Frozen: sinks added later must
    * never join this set (they'd inherit a cursor they never wrote).
    */
  val LegacySinks: Set[String] = Set("", "dedup", "index")
}

/** Per-transaction bounds: min/max key (UTF-8 byte order, matching
  * Spark's string comparison) and min/max ts.
  */
final case class TxStats(minKey: String, maxKey: String,
                         minTs: Long, maxTs: Long)

object Manifest {
  /** Backend registry: the manifest control plane is storage-agnostic
    * above [[ManifestBackend]] — a warehouse at a registered path (or
    * nested under one) routes its manifest IO there; everything else
    * uses the posix [[LocalFsManifestBackend]]. Registration is for
    * embedding apps and tests (RobustnessSpec mounts
    * [[InMemoryManifestBackend]] to prove the conditional-put port).
    * Matching is PATH-aware, not raw string-prefix: `/data/wh` must
    * never capture `/data/wh-archive` (a sibling that merely shares a
    * string prefix would silently route its manifest to the wrong
    * backend — invisible data); longest registered path wins among
    * nested registrations.
    */
  @volatile private var backends: List[(String, ManifestBackend)] = Nil

  def registerBackend(prefix: String, b: ManifestBackend): Unit =
    synchronized {
      val clean = prefix.stripSuffix("/")
      backends = ((clean, b) :: backends.filterNot(_._1 == clean))
        .sortBy(-_._1.length)
    }

  def unregisterBackend(prefix: String): Unit =
    synchronized {
      val clean = prefix.stripSuffix("/")
      backends = backends.filterNot(_._1 == clean)
    }

  private def backendFor(warehouse: String): ManifestBackend =
    backends.collectFirst {
      case (p, b) if warehouse == p || warehouse.startsWith(p + "/") => b
    }.getOrElse(LocalFsManifestBackend)

  /** Parsed-manifest cache: a version file is IMMUTABLE once published,
    * so its parse can be shared by every snapshot of that version — at
    * 10k live transactions a parse costs ~7 ms (50k: ~42 ms, measured)
    * and `current` runs on every snapshot, claim and publish. The key
    * carries the backend's content identity ([[ManifestBackend
    * .cacheKey]] — inode + mtime + size locally), NOT just (warehouse,
    * version): a warehouse deleted and recreated at the same path
    * restarts version numbering, and a bare version key would serve the
    * dead warehouse's state. Keep-latest per warehouse bounds growth; a
    * global cap guards many-warehouse drivers.
    */
  private val parseCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, AnyRef), ManifestState]()

  def current(warehouse: String): ManifestState = {
    val b = backendFor(warehouse)
    val v = currentVersion(warehouse)
    if (v == 0L) return ManifestState(0L, 0L, Vector.empty, Vector.empty)
    // read with a race fallback: the version can vanish between the
    // probe and the read (concurrent history maintenance) — the
    // listing is authoritative
    def readAuthoritative(): ManifestState =
      b.read(warehouse, v).map(parse).getOrElse {
        val vs = b.listVersions(warehouse)
        if (vs.isEmpty) ManifestState(0L, 0L, Vector.empty, Vector.empty)
        else b.read(warehouse, vs.max).map(parse)
          .getOrElse(ManifestState(0L, 0L, Vector.empty, Vector.empty))
      }
    b.cacheKey(warehouse, v) match {
      case Some(k) =>
        if (parseCache.size > 4096) parseCache.clear()
        val out = parseCache.computeIfAbsent((warehouse, v, k),
          _ => readAuthoritative())
        parseCache.keySet.removeIf(kk => kk._1 == warehouse && kk._2 < v)
        out
      case None => readAuthoritative()
    }
  }

  /** Highest manifest version WITHOUT reading any manifest — the cheap
    * invalidation probe for cached snapshots ([[graft.serve.Serve]]'s
    * reader cache): a commit bumps the version, so
    * `currentVersion != cached.version` ⟺ the cache is stale. O(1) in
    * history depth via the `latest` pointer hint (one small read + an
    * existence probe per commit the pointer missed — normally zero; the
    * hint is only ever a LOWER bound, so readers walk forward from it);
    * a full listing only when the hint is absent or stale-high (e.g.
    * pre-pointer warehouses), so a 10⁵-commit history no longer pays a
    * 10⁵-entry readdir per request. 0 when nothing was ever committed
    * (matching [[current]]'s empty state).
    */
  def currentVersion(warehouse: String): Long = {
    val b = backendFor(warehouse)
    val hinted = b.readHint(warehouse)
    if (hinted > 0L && b.exists(warehouse, hinted)) {
      var v = hinted
      while (b.exists(warehouse, v + 1)) v += 1
      return v
    }
    b.listVersions(warehouse).foldLeft(0L)(math.max)
  }

  /** A warehouse-lifetime identity: the filesystem identity (inode) of
    * the OLDEST manifest version file on disk. Deleting and recreating a
    * warehouse at the same path replaces every manifest file, so the id
    * changes; committing, time-travel reads, and history pruning of
    * NEWER versions never touch the oldest file, so the id is stable for
    * the warehouse's life. Used by [[Db.txLayout]] to tell "this is an
    * older snapshot of the same warehouse" (keep caches) from "the path
    * was recreated" (purge). "" when no manifest exists or the
    * filesystem exposes no file key.
    */
  /** The warehouse-lifetime identity readers should compare: the minted
    * [[ManifestState.created]] UUID when the warehouse has one (every
    * warehouse first committed since the field existed), else the
    * [[creationId]] file-identity heuristic for pre-field warehouses.
    * Recreating a warehouse at the same path changes the value under
    * either source.
    */
  def identity(warehouse: String): String = {
    val minted = current(warehouse).created
    if (minted.nonEmpty) minted else creationId(warehouse)
  }

  def creationId(warehouse: String): String =
    backendFor(warehouse).creationId(warehouse)

  /** All manifest versions present, ascending. Every commit is a new
    * immutable version, so this is the warehouse's full history (until
    * an explicit history prune).
    */
  def versions(warehouse: String): Vector[Long] =
    backendFor(warehouse).listVersions(warehouse).sorted

  /** Remove one retained version — [[Compactor.pruneHistory]]'s
    * primitive, routed through the warehouse's backend.
    */
  private[store] def deleteVersion(warehouse: String, version: Long): Unit =
    backendFor(warehouse).deleteVersion(warehouse, version)

  /** The manifest exactly as of `version` — time travel. Data/delete dirs
    * referenced by an old version remain on disk until [[Compactor.vacuum]]
    * prunes to the CURRENT live set, so old snapshots stay readable until
    * then (the same contract as table formats' VACUUM).
    */
  def at(warehouse: String, version: Long): ManifestState =
    backendFor(warehouse).read(warehouse, version).map(parse).getOrElse(
      throw new IllegalArgumentException(
        s"requirement failed: no manifest version $version in $warehouse"))

  /** Tiny hand-rolled parser for our own fixed-shape JSON (no deps). */
  private[store] def parse(s: String): ManifestState = {
    def longField(name: String): Long = {
      val m = s""""$name":(-?\\d+)""".r.findFirstMatchIn(s)
      m.map(_.group(1).toLong).getOrElse(0L)
    }
    def arrField(name: String): Vector[Long] = {
      val m = s""""$name":\\[([^\\]]*)\\]""".r.findFirstMatchIn(s)
      m.map(_.group(1)).filter(_.nonEmpty)
        .map(_.split(',').map(_.trim.toLong).toVector)
        .getOrElse(Vector.empty)
    }
    def b64Field(name: String): String =
      (s""""$name":"([^"]*)"""").r.findFirstMatchIn(s)
        .map(m => new String(java.util.Base64.getDecoder.decode(m.group(1)),
          java.nio.charset.StandardCharsets.UTF_8))
        .getOrElse("")
    def dec64(x: String) = new String(
      java.util.Base64.getDecoder.decode(x),
      java.nio.charset.StandardCharsets.UTF_8)
    val stats = b64Field("txStatsB64").split('\n').filter(_.nonEmpty)
      .map { line =>
        val Array(t, lo, hi, t0, t1) = line.split(' ')
        t.toLong -> TxStats(dec64(lo), dec64(hi), t0.toLong, t1.toLong)
      }.toMap
    val sinks = b64Field("streamB64").split('\n').filter(_.nonEmpty)
      .map { line =>
        val Array(k, v) = line.split(' ')
        dec64(k) -> v.toLong
      }.toMap
    val props = b64Field("propsB64").split('\n').filter(_.nonEmpty)
      .map { line =>
        val Array(k, v) = line.split(' ')
        dec64(k) -> dec64(v)
      }.toMap
    val pending = b64Field("pendingB64").split('\n').filter(_.nonEmpty)
      .map { line =>
        val Array(t, ms) = line.split(' ')
        t.toLong -> ms.toLong
      }.toMap
    val claimDirs = b64Field("claimDirsB64").split('\n').filter(_.nonEmpty)
      .map { line =>
        val Array(t, d) = line.split(' ')
        t.toLong -> dec64(d)
      }.toMap
    ManifestState(longField("version"), longField("nextTxid"),
      arrField("dataTxids"), arrField("deleteTxids"),
      if (s.contains("\"streamBatch\"")) longField("streamBatch") else -1L,
      longField("timeBucket"), longField("bucketMajor") == 1L,
      b64Field("schemaB64"), stats, sinks, props, b64Field("createdB64"),
      pending, claimDirs)
  }

  /** Merge a newly committed transaction's data schema into the tracked
    * DDL: union of fields by name, everything nullable. A type conflict
    * (same name, different type) yields "" — readers then fall back to
    * parquet mergeSchema, which owns cross-type resolution.
    */
  def mergeDdl(curDdl: String, incoming: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types.StructType
    val inc = StructType(incoming.fields.map(_.copy(nullable = true)))
    if (curDdl.isEmpty) return inc.toDDL
    val cur = scala.util.Try(StructType.fromDDL(curDdl)).getOrElse(return "")
    val byName = cur.fields.map(f => f.name -> f).toMap
    val conflict = inc.fields.exists(f =>
      byName.get(f.name).exists(_.dataType != f.dataType))
    if (conflict) return ""
    StructType(cur.fields ++
      inc.fields.filterNot(f => byName.contains(f.name))).toDDL
  }

  /** Atomically publish `next` as the successor of `expected`. Returns false
    * on a lost race (caller re-reads and retries). The primitive is the
    * backend's conditional put ([[ManifestBackend.putIfAbsent]] —
    * link(2) locally, if-none-match on an object store); the hint write
    * after it is O(1) discovery for the next reader.
    */
  def commit(warehouse: String, expected: ManifestState, next: ManifestState): Boolean = {
    require(next.version == expected.version + 1, "manifest versions must be sequential")
    val b = backendFor(warehouse)
    if (b.putIfAbsent(warehouse, next.version, next.json)) {
      b.writeHint(warehouse, next.version)
      true
    } else false
  }

  /** Genesis identity: the version-0→1 commit mints the warehouse-lifetime
    * [[ManifestState.created]] id; every later commit carries it forward
    * untouched (case-class copy), so it never changes for the warehouse's
    * life. A warehouse first written before the field existed keeps ""
    * forever — minting later would make it look recreated to cache
    * rebasing — and is identified by [[creationId]] instead.
    */
  private[store] def withCreated(expected: ManifestState,
                                 next: ManifestState): ManifestState =
    if (expected.version == 0L && next.created.isEmpty)
      next.copy(created = java.util.UUID.randomUUID().toString)
    else next

  /** First-writer-wins property stamp — the operator escape hatch for
    * PRE-CLAIM stores ([[graft.ops.SketchStore.stampGeometry]],
    * [[graft.ops.IncrementalDedup.stampNearShingleSize]]): each key
    * must be absent or already equal; a disagreeing existing value
    * refuses with [[TxWriter.PropertyConflict]] and nothing is written.
    * One copy of the conflict-check-and-merge so the escape hatches
    * cannot drift.
    */
  def stampProps(warehouse: String, claims: Map[String, String]): Unit = {
    require(claims.nonEmpty, "stampProps: nothing to stamp")
    update(warehouse) { m =>
      claims.foreach { case (p, v) =>
        m.props.get(p).filter(_ != v).foreach { ex =>
          throw new TxWriter.PropertyConflict(
            s"table property '$p' already set to '$ex' (stamp requested " +
              s"'$v')")
        }
      }
      m.copy(props = m.props ++ claims)
    }
    ()
  }

  /** Run `mutate` under optimistic concurrency until the commit lands. */
  def update(warehouse: String)(mutate: ManifestState => ManifestState): ManifestState = {
    var attempts = 0
    while (true) {
      val cur = current(warehouse)
      val next = withCreated(cur, mutate(cur).copy(version = cur.version + 1))
      if (commit(warehouse, cur, next)) return next
      attempts += 1
      if (attempts > 100) throw new IllegalStateException("manifest commit contention")
    }
    throw new IllegalStateException("unreachable")
  }
}
