package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental sketches backed by the engine's own warehouse — the
  * streaming-corpus counterpart of [[Sketches]]: per-batch registration
  * keeps running cardinality/frequency state WITHOUT rescanning history,
  * because both sketches are mergeable and the warehouse's (key, ts)
  * last-wins merge is exactly the right fold:
  *
  *  - KMV: one row per sketch minimum, `key = "k/<tag>"`, `ts = h`. The
  *    union law (k smallest of A∪B ⊆ k-min(A) ∪ k-min(B)) means a batch
  *    only ever writes its OWN ≤ k minima; duplicate minima across
  *    batches collapse to the same (key, ts) record; the read-side top-k
  *    over the prefix IS the exact sketch of everything ever registered.
  *    No read-modify-write, ever.
  *  - count-min: counters add across batches, so cells are per-batch
  *    rows — `key = "c/<tag>/<row>/<bucket>"`, `ts = batchId`, summed at
  *    read time. Re-registering a batchId overwrites the same (key, ts)
  *    records: registration is idempotent under streaming retries, the
  *    same exactly-once contract as
  *    [[graft.streaming.StreamIngest]]'s batch-id guard.
  *
  * Both stores are ordinary warehouse rows: compaction, time travel and
  * transactional publish apply unchanged, and they can share a warehouse
  * with the dedup fingerprint stores (distinct key prefixes).
  */
object SketchStore {
  /** Reserved count-min batchId for [[foldCountMin]] rewrites; normal
    * registrations must use batchId ≥ 0.
    */
  val FOLD_TS: Long = -1L

  private def kmvKey(tag: String) = s"k/$tag"
  private def kmvByPrefix(tag: String) = s"kg/$tag/"
  private def cmPrefix(tag: String) = s"c/$tag/"
  private def cmByPrefix(tag: String) = s"cg/$tag/"
  private def mgPrefix(tag: String) = s"m/$tag/"
  private def mgMassKey(tag: String) = s"mn/$tag"
  private def mgByPrefix(tag: String) = s"mg/$tag/"
  private def mgByMassPrefix(tag: String) = s"mgn/$tag/"

  /** Injective group escape for keys that carry BOTH a group and an
    * arbitrary item segment (`mg/<tag>/<escGrp>/<item>`): the escaped
    * group contains no '/', so the first '/' after the prefix is an
    * unambiguous separator whatever characters the raw group or item
    * hold — without it, (grp "a/b", item "c") and (grp "a", item "b/c")
    * would collide on one key and last-wins would silently drop a cell.
    * grp and item are ALSO stored as columns; nothing ever parses the
    * key back.
    */
  private def escGrp(grp: Column): Column =
    regexp_replace(regexp_replace(grp, "~", "~t"), "/", "~s")
  private def histPrefix(tag: String) = s"h/$tag/"
  private def histWProp(tag: String) = s"hist.w/$tag"
  private def histOriginProp(tag: String) = s"hist.origin/$tag"
  private def histByPrefix(tag: String) = s"hg/$tag/"
  private def histByWProp(tag: String) = s"histg.w/$tag"
  private def histByOriginProp(tag: String) = s"histg.origin/$tag"
  private def histBProp(tag: String) = s"hist.b/$tag"
  private def histByBProp(tag: String) = s"histg.b/$tag"
  private def cmDProp(tag: String) = s"cm.d/$tag"
  private def cmWProp(tag: String) = s"cm.w/$tag"
  private def cmByDProp(tag: String) = s"cmg.d/$tag"
  private def cmByWProp(tag: String) = s"cmg.w/$tag"
  private def kmvKProp(tag: String) = s"kmv.k/$tag"
  private def kmvByKProp(tag: String) = s"kmvg.k/$tag"
  private def mgCProp(tag: String) = s"mg.c/$tag"
  private def mgByCProp(tag: String) = s"mgg.c/$tag"

  /** One int-valued geometry property off a manifest state (defaulting
    * when the store predates geometry tracking or is empty) — shared by
    * every k/c/d read-back.
    */
  private def intProp(m: graft.store.ManifestState, prop: String,
                      dflt: Int): Int =
    m.props.get(prop).map(_.toInt).getOrElse(dflt)

  /** Shared friendly pre-write mismatch error for the single-int
    * geometry claims (k, c) — the propsClaim inside the CAS stays the
    * authority, exactly like the hist/cm grids. `preexisting` is the
    * family's rows-already-exist probe, evaluated ONLY when the claim
    * is absent: a PRE-CLAIM store (rows written by an engine version
    * before geometry tracking) must not accept a fresh claim at face
    * value — the claimed value would be trusted over rows whose true
    * geometry nobody recorded, and a later fold at a wrongly-claimed
    * smaller k would truncate data permanently. The operator states
    * the true geometry with [[stampGeometry]] first.
    */
  private def requireIntGeom(db: graft.store.Db, prop: String, v: Int,
                             what: String)(pattern: String): Unit = {
    // claim AND row-existence come from ONE snapshot: a second, later
    // read could see a concurrent first registration's rows without
    // its claim and spuriously refuse a valid same-geometry writer
    val snap = db.snapshot()
    val ex = snap.manifest.props.get(prop)
    require(ex.forall(_ == v.toString),
      s"$what mismatch: stored ${ex.getOrElse("-")} vs registration $v " +
        s"(property $prop)")
    if (ex.isEmpty && familyNonEmpty(snap, pattern))
      throw new IllegalStateException(unclaimedMsg(prop, what))
  }

  /** Per-(warehouse identity, manifest version) memo for the pre-claim
    * emptiness probes: an UNCLAIMED store's guard costs one Spark job
    * per manifest version TOTAL, not one per call, so the stamp
    * transition window (probing a legacy store before its geometry
    * claim lands) is free after the first probe. Sound because
    * warehouse contents are immutable per manifest version — any
    * commit, including the stamp itself, mints a new version and a
    * fresh probe; the identity component keeps a warehouse deleted and
    * recreated at the same path from aliasing a stale entry. Claimed
    * steady state never consults it.
    */
  private[ops] object EmptinessMemo {
    private val memo = new java.util.LinkedHashMap[
        (String, Long, String), java.lang.Boolean](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), java.lang.Boolean])
          : Boolean = size > 1024
    }
    private val runs = new java.util.concurrent.atomic.AtomicLong(0L)
    /** How many probes actually executed (spec observability). */
    def probeRuns: Long = runs.get()
    def cached(m: graft.store.ManifestState, key: String)
              (probe: => Boolean): Boolean = {
      // a manifest that predates the identity UUID (created == "")
      // cannot be distinguished from another such warehouse at a
      // coinciding version — never memoize those: they pay one probe
      // per call, the pre-memo behavior, because a cross-warehouse
      // aliased guard verdict would be the silent-wrong-answer class
      // this whole family exists to kill. The one-job-per-version
      // bound therefore applies to identity-bearing manifests (every
      // warehouse this engine ever created); a truly pre-UUID external
      // store keeps the conservative per-call cost until stamped.
      if (m.created.isEmpty) return probe
      val k = (m.created, m.version, key)
      val hit = memo.synchronized(memo.get(k))
      if (hit != null) hit.booleanValue
      else {
        runs.incrementAndGet()
        val v = probe
        memo.synchronized { memo.put(k, java.lang.Boolean.valueOf(v)); () }
        v
      }
    }
  }

  /** True iff the snapshot already holds rows under `pattern` — the
    * claim-absent pre-existence probe, off the SAME snapshot the claim
    * was read from. Cheap: fresh warehouses short-circuit on the
    * manifest (no job at all); an unclaimed NON-fresh warehouse pays
    * one key-pruned emptiness probe per manifest version
    * ([[EmptinessMemo]]).
    */
  private def familyNonEmpty(snap: graft.store.Db#Snapshot,
                             pattern: String): Boolean =
    snap.manifest.dataTxids.nonEmpty &&
      EmptinessMemo.cached(snap.manifest, s"fam:$pattern")(
        !snap.read(pattern).isEmpty)

  /** The loud pre-claim-store error every reader and registration
    * shares: reading (or claiming over) rows whose geometry nobody
    * recorded would be the silent-wrong-answer hazard the claims exist
    * to kill — refuse and point at the operator escape hatch.
    */
  private def unclaimedMsg(prop: String, what: String): String =
    s"$what unclaimed for a NON-EMPTY store: rows exist but property " +
      s"'$prop' is absent (written by a pre-claim engine version). " +
      "Proceeding at the defaults could silently corrupt or misreport " +
      "the store — stamp its true geometry first: " +
      "SketchStore.stampGeometry(db, tag, ...)"

  /** Reader-side guard for pre-claim stores: a geometry-dependent read
    * of rows whose claim is absent refuses loudly instead of decoding
    * at the defaults (which could under-count, mis-certify or report a
    * full sketch as exact). Costs nothing on claimed stores; the
    * emptiness probe runs only for unclaimed ones.
    */
  private def requireClaimedOrEmpty(snap: graft.store.Db#Snapshot,
                                    prop: String, rows: DataFrame,
                                    what: String): Unit =
    if (!snap.manifest.props.contains(prop) &&
        EmptinessMemo.cached(snap.manifest, s"read:$prop")(!rows.isEmpty))
      throw new IllegalStateException(unclaimedMsg(prop, what))

  /** One key family's visible rows: a local prefix filter over a fused
    * pre-read when the caller already scanned the union of families
    * ([[graft.store.Db.Snapshot.readMany]] — guide §2.4: one store scan
    * instead of one per family), else a direct key-pruned read. The
    * filter is THE SAME predicate a direct read applies
    * ([[graft.series.SeriesOps.keyFilter]]), and last-wins/deletes act
    * per key, so the two paths are row-identical for the disjoint
    * sketch key families.
    */
  private def famRows(snap: graft.store.Db#Snapshot, pattern: String,
                      pre: Option[DataFrame]): DataFrame =
    pre.fold(snap.read(pattern))(
      graft.series.SeriesOps.keyFilter(_, pattern))

  /** Operator escape hatch for PRE-CLAIM stores: record the geometry a
    * legacy store was ACTUALLY written with, so its claim-checked reads
    * and registrations proceed. First-writer-wins like the claims
    * themselves — a stamp that disagrees with an existing property
    * refuses ([[graft.store.TxWriter.PropertyConflict]]); each Option
    * stamps one family (ungrouped / grouped KMV k, MG c, count-min
    * (d, w), histogram (b, w, origin)).
    */
  def stampGeometry(db: graft.store.Db, tag: String = "t",
                    kmvK: Option[Int] = None, kmvByK: Option[Int] = None,
                    mgC: Option[Int] = None, mgByC: Option[Int] = None,
                    cm: Option[(Int, Long)] = None,
                    cmBy: Option[(Int, Long)] = None,
                    hist: Option[(Int, Long, Long)] = None,
                    histBy: Option[(Int, Long, Long)] = None): Unit = {
    val claims: Map[String, String] =
      kmvK.map(v => kmvKProp(tag) -> v.toString).toMap ++
        kmvByK.map(v => kmvByKProp(tag) -> v.toString) ++
        mgC.map(v => mgCProp(tag) -> v.toString) ++
        mgByC.map(v => mgByCProp(tag) -> v.toString) ++
        cm.toSeq.flatMap { case (d, w) => cmGridClaim(tag, d, w) } ++
        cmBy.toSeq.flatMap { case (d, w) => cmByGridClaim(tag, d, w) } ++
        hist.toSeq.flatMap { case (b, w, o) => histGridClaim(tag, b, w, o) } ++
        histBy.toSeq.flatMap { case (b, w, o) =>
          histByGridClaim(tag, b, w, o) }
    require(claims.nonEmpty, "stampGeometry: nothing to stamp")
    graft.store.Manifest.stampProps(db.warehouse, claims)
  }

  // ── KMV ────────────────────────────────────────────────────────────

  /** Registers a batch's ≤ k hash minima as ONE transaction. The batch
    * prices one [[Sketches.kmvSketch]] fold (bounded-buffer aggregation)
    * plus a ≤ k-row write — store size and history never enter the cost.
    *
    * `k` is the store's IDENTITY, claimed first-writer-wins like the
    * cm/hist geometries: minima from different k merged under one key
    * family (or a fold at a smaller k) would permanently lose minima
    * and — sharper — an estimator reading at k' > k_stored sees
    * `n_sketch < k'` and certifies the sketch as the EXACT distinct
    * set, a silently wrong answer. Reads and folds take k from the
    * claim, never from a caller's guess.
    */
  def registerKmv(db: graft.store.Db, batch: DataFrame, elem: Column,
                  tag: String = "t", k: Int = Sketches.KMV_K): Long = {
    requireIntGeom(db, kmvKProp(tag), k, s"KMV k for tag '$tag'")(
      kmvKey(tag))
    val rows = Sketches.kmvSketch(batch, elem, k)
      .select(lit(kmvKey(tag)).as("key"), col("h").as("ts"), col("h"))
    // rangePartitions=Some(1): the transaction is bounded by the store
    // GEOMETRY (≤ k rows), so the single-partition write path applies —
    // it skips the range exchange and the RangePartitioner sampling job
    // that would re-run the sketch aggregation once more (guide §2.4;
    // measured: 3 fixed jobs per register → 1)
    graft.store.TxWriter.write(db, rows, rangePartitions = Some(1),
      propsClaim = Map(kmvKProp(tag) -> k.toString))
  }

  /** The store's claimed k (default when unclaimed/empty). */
  def storedKmvK(db: graft.store.Db, tag: String = "t"): Int =
    intProp(graft.store.Manifest.current(db.warehouse), kmvKProp(tag),
      Sketches.KMV_K)

  /** [[storedKmvK]] off an already-held snapshot — for consumers that
    * must pair the k with same-generation rows (the serving tier's
    * "exact below k" claim would otherwise compare a claimed-k sketch
    * against the default capacity and mislabel a FULL small-k sketch
    * as exact).
    */
  private[graft] def storedKmvKAt(snap: graft.store.Db#Snapshot,
                                  tag: String = "t"): Int =
    intProp(snap.manifest, kmvKProp(tag), Sketches.KMV_K)

  /** The grouped store's claimed k, off one snapshot. */
  private[graft] def storedKmvByKAt(snap: graft.store.Db#Snapshot,
                                    tag: String = "t"): Int =
    intProp(snap.manifest, kmvByKProp(tag), Sketches.KMV_K)

  /** The MG stores' claimed capacities, off one snapshot — for serving
    * bodies that report the geometry next to the data it bounds.
    */
  private[graft] def storedMgCAt(snap: graft.store.Db#Snapshot,
                                 tag: String = "t"): Int =
    intProp(snap.manifest, mgCProp(tag), Sketches.MG_C)

  private[graft] def storedMgByCAt(snap: graft.store.Db#Snapshot,
                                   tag: String = "t"): Int =
    intProp(snap.manifest, mgByCProp(tag), Sketches.MG_C)

  /** The count-min stores' claimed geometries, off one snapshot. */
  private[graft] def storedCmGridAt(snap: graft.store.Db#Snapshot,
                                    tag: String = "t"): (Int, Long) =
    cmGridOf(snap.manifest, cmDProp(tag), cmWProp(tag))

  private[graft] def storedCmByGridAt(snap: graft.store.Db#Snapshot,
                                      tag: String = "t"): (Int, Long) =
    cmGridOf(snap.manifest, cmByDProp(tag), cmByWProp(tag))

  /** The merged sketch of every batch ever registered: the k smallest
    * distinct stored minima (k from the store's own claim) — a
    * key-pruned read of ≤ k·batches slim rows, then a driver-side
    * top-k. Empty (0-row) sketch if nothing is registered under `tag`.
    */
  def storedKmvSketch(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedKmvSketchAt(db, db.snapshot(), tag)

  private def storedKmvSketchAt(db: graft.store.Db,
                                snap: graft.store.Db#Snapshot,
                                tag: String,
                                pre: Option[DataFrame] = None): DataFrame = {
    val spark = db.spark
    val k = intProp(snap.manifest, kmvKProp(tag), Sketches.KMV_K)
    val empty = spark.range(0).select(col("id").as("h"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, kmvKey(tag), pre)
      if (!rows.columns.contains("h")) empty
      else {
        requireClaimedOrEmpty(snap, kmvKProp(tag), rows,
          s"KMV k for tag '$tag'")
        rows.select(col("h")).orderBy("h").limit(k)
      }
    }
  }

  /** One-row estimate from the stored sketch ([[Sketches.kmvEstimate]]
    * on [[storedKmvSketch]]) — by the union law, EXACTLY the estimate a
    * single full-history sketch would produce. The estimator's k comes
    * from the SAME snapshot as the rows (the claimed value): an
    * estimator k above the stored one would read a full sketch as
    * below-capacity and report it as the exact distinct set.
    */
  def storedKmvEstimate(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedKmvEstimateAt(db, db.snapshot(), tag)

  private[graft] def storedKmvEstimateAt(db: graft.store.Db,
                                         snap: graft.store.Db#Snapshot,
                                         tag: String = "t"): DataFrame =
    Sketches.kmvEstimate(storedKmvSketchAt(db, snap, tag),
      intProp(snap.manifest, kmvKProp(tag), Sketches.KMV_K))

  // ── grouped KMV ────────────────────────────────────────────────────
  //
  // Per-group distinct-count maintenance (vocabulary per source /
  // language off a running corpus). Rows: key = "kg/<tag>/<grp>",
  // ts = h → (grp, h): one row per group minimum, same union-law
  // last-wins collapse as the ungrouped store — a batch writes only
  // its own ≤ k minima PER GROUP, duplicate minima across batches
  // land on the same (key, ts). Null groups are excluded (a null
  // would become part of a malformed key), matching the grouped hist
  // store.

  /** Registers a batch's per-group ≤ k hash minima as ONE transaction
    * — a grouped [[graft.functions.KmvAgg]] aggregation (partial
    * buffers merge map-side; a group's shuffle traffic is k longs per
    * partition touching it, never its distinct cardinality).
    */
  def registerKmvBy(db: graft.store.Db, batch: DataFrame, grp: Column,
                    elem: Column, tag: String = "t",
                    k: Int = Sketches.KMV_K,
                    cursor: Option[(String, Long)] = None,
                    sinkProps: Map[String, String] = Map.empty,
                    fuse: Boolean = false): Long = {
    requireIntGeom(db, kmvByKProp(tag), k,
      s"grouped KMV k for tag '$tag'")(kmvByPrefix(tag) + "%")
    val hashed = batch
      .select(grp.as("grp"), PortableHash.h60(elem).as("h"))
    // the written rows are pinned: the write's range exchange SAMPLES its
    // input before the write job — unpinned, every branch aggregation
    // executed twice per register transaction (guide §5: the pinned frame is
    // the batch's own group-bounded output, bytes the write materializes
    // anyway)
    graft.store.TxWriter.write(db,
      graft.core.Graft.pin(kmvByRows(tag, hashed, k)),
      props = sinkProps, propsClaim = Map(kmvByKProp(tag) -> k.toString),
      streamCursor = cursor, fuse = fuse)
  }

  /** ONE copy of the grouped-KMV row shape, shared by the standalone
    * registration and the trio — the two must write byte-identical
    * rows or migrating a pipeline between them silently changes the
    * stored sketches. Null groups AND null hashes (null elements) are
    * excluded here, the single enforcement point: a null element would
    * otherwise unbox to a spurious h=0 minimum in the primitive-Long
    * udaf.
    */
  private def kmvByRows(tag: String, hashed: DataFrame, k: Int): DataFrame =
    hashed.filter(col("grp").isNotNull && col("h").isNotNull)
      .groupBy("grp")
      .agg(graft.functions.KmvAgg.kmv(k)(col("h")).as("hs"))
      .select(col("grp"), explode(col("hs")).as("h"))
      .select(concat(lit(kmvByPrefix(tag)), col("grp")).as("key"),
        col("h").as("ts"), col("grp"), col("h"))

  /** The merged per-group sketches: the k smallest distinct stored
    * minima of each group — a key-pruned read plus a window
    * PARTITIONED by group (no single-partition stage; a million groups
    * spread across the cluster). By the union law, EXACTLY each
    * group's sketch of everything ever registered.
    */
  def storedKmvSketchBy(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedKmvSketchByAt(db, db.snapshot(), tag)

  private def storedKmvSketchByAt(db: graft.store.Db,
                                  snap: graft.store.Db#Snapshot,
                                  tag: String,
                                  pre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = db.spark
    val k = intProp(snap.manifest, kmvByKProp(tag), Sketches.KMV_K)
    val empty = spark.range(0).select(col("id").cast("string").as("grp"),
      col("id").as("h"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, kmvByPrefix(tag) + "%", pre)
      if (!rows.columns.contains("grp") || !rows.columns.contains("h"))
        empty
      else {
        requireClaimedOrEmpty(snap, kmvByKProp(tag), rows,
          s"grouped KMV k for tag '$tag'")
        import org.apache.spark.sql.expressions.Window
        rows.select(col("grp"), col("h"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("grp").orderBy("h")))
          .filter(col("rk") <= k).drop("rk")
      }
    }
  }

  /** Per-group estimates from the stored sketches — the store-side
    * twin of [[Sketches.kmvDistinctBy]] (minus the exact count the
    * store, by design, never kept), via THE shared estimator column
    * [[Sketches.kmvEstimateCol]]. Ordered by group.
    */
  def storedKmvEstimateBy(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedKmvEstimateByAt(db, db.snapshot(), tag)

  private[graft] def storedKmvEstimateByAt(db: graft.store.Db,
                                           snap: graft.store.Db#Snapshot,
                                           tag: String = "t")
      : DataFrame = {
    val k = intProp(snap.manifest, kmvByKProp(tag), Sketches.KMV_K)
    storedKmvSketchByAt(db, snap, tag)
      .groupBy("grp")
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
      .select(col("grp"), col("n_sketch"), col("kth_hash"),
        Sketches.kmvEstimateCol(col("n_sketch"), col("kth_hash"), k)
          .as("est_distinct"))
      .orderBy("grp")
  }

  /** [[foldKmv]] per group: keep each group's k smallest minima (k from
    * the store's claim — a fold at a guessed smaller k would LOSE
    * minima permanently), drop what they superseded (lossless by the
    * union law), atomic like every fold.
    */
  def foldKmvBy(db: graft.store.Db, tag: String = "t",
                waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    foldStore(db, s"foldKmvBy($tag)", Seq(kmvByPrefix(tag) + "%"),
      waitMillis, foldProp = Some(foldLastProp("kmvby", tag)))(
      kmvFoldRowsBy(db, db.snapshot(), tag), identity)

  /** DuckDB twin of the grouped store over `documents` tokens by
    * `source` — [[Sketches.sqlKmvTokensBySource]] minus the exact
    * count column the store never kept.
    */
  def sqlKmvBySourceStore(k: Int = Sketches.KMV_K): String =
    s"""WITH hashed AS (
       |  SELECT DISTINCT source AS grp, ${PortableHash.sqlH60("token")} AS h
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
       |        FROM documents)),
       |topk AS (
       |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h)
       |    AS rk
       |  FROM hashed)
       |SELECT grp, count(*) AS n_sketch, max(h) AS kth_hash,
       |       ${Sketches.sqlKmvEstimateExpr("count(*)", "max(h)", k)}
       |         AS est_distinct
       |FROM topk WHERE rk <= $k
       |GROUP BY grp ORDER BY grp""".stripMargin

  // ── single-tx multi-store registration ─────────────────────────────
  //
  // The measured cost driver of sketch maintenance is the manifest
  // commit, not the sketch math (~0.44 s/commit at micro-batch sizes,
  // SCALE.md fold economics) — so the streaming trio must not pay it
  // three times. The three stores' key families are disjoint prefixes
  // in one warehouse; a batch's KMV minima, count-min cells and MG
  // partial union into ONE transaction, and the trio becomes atomic:
  // no interleaving (or crash) can observe a batch's counters without
  // its minima.

  /** Registers one batch into the KMV + count-min + MG stores as ONE
    * transaction (one claim, one publish — 3× fewer commits than three
    * registrations, and atomic across the trio). Each family's rows
    * are exactly what its standalone registration writes, so every
    * stored report is unchanged. `cursor`/`sinkProps` ride the
    * publishing commit for streaming sinks
    * ([[graft.store.TxWriter.write]]'s streamCursor rider).
    */
  /** `valueCol` is the hist rider (the grouped trio's contract): a
    * batch that also carries a numeric column registers its histogram
    * bins under the SAME transaction and grid claim — four families,
    * one commit, instead of paying a second `histWriter` sink's.
    */
  def registerSketches(db: graft.store.Db, batch: DataFrame, elem: Column,
                       batchId: Long, tag: String = "t",
                       k: Int = Sketches.KMV_K, d: Int = Sketches.CM_D,
                       w: Long = Sketches.CM_W, c: Int = Sketches.MG_C,
                       valueCol: Option[Column] = None,
                       b: Int = Sketches.HIST_B,
                       histW: Long = Sketches.HIST_W, origin: Long = 0L,
                       cursor: Option[(String, Long)] = None,
                       sinkProps: Map[String, String] = Map.empty,
                       fuse: Boolean = false): Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    requireCmGrid(db, tag, d, w)
    requireIntGeom(db, kmvKProp(tag), k, s"KMV k for tag '$tag'")(
      kmvKey(tag))
    requireIntGeom(db, mgCProp(tag), c, s"MG c for tag '$tag'")(
      mgPrefix(tag) + "%")
    valueCol.foreach(_ => requireHistGrid(db, tag, b, histW, origin))
    // the families aggregate the SAME element stream — and three of
    // them (KMV, count-min, MG) are pure functions of the batch's
    // per-item COUNT multiset: KMV of the distinct items (KmvAgg keeps
    // distinct minima), count-min by counter additivity, MG's batch
    // summary by definition (exact counts, one truncation). So ONE
    // exact (item, cnt) aggregation feeds all three, and the stream is
    // scanned/shuffled once instead of once per family; each branch
    // then reads vocabulary-sized local blocks. Only the hist rider
    // bins the raw `v` stream (not count-derivable) — with a valueCol
    // the projection is materialized so hist and the counts aggregate
    // don't re-run the batch lineage twice.
    val elems0 = batch.select(
      Seq(elem.as("item")) ++ valueCol.map(_.as("v")).toSeq: _*)
    val elems = valueCol.fold(elems0)(_ => elems0.transform(graft.core.Graft.pin))
    // the counts aggregate is NOT pinned: its exchange subtree is
    // byte-identical in every branch below, so the single write-job
    // plan computes it once via exchange reuse (guide §2.4 — verified
    // in the plan: one ReusedExchange per extra branch); a pin here was
    // one whole extra action per register transaction
    val counts = elems.select(col("item")).filter(col("item").isNotNull)
      .groupBy("item").agg(count(lit(1)).as("cnt"))
    val kmv = Sketches.kmvSketch(counts, col("item"), k)
      .select(lit(kmvKey(tag)).as("key"), col("h").as("ts"), col("h"))
    val cm = Sketches.countMinSketchCounts(counts, d, w)
      .select(
        format_string(cmPrefix(tag) + "%d/%06d", col("sk_row"), col("bucket"))
          .as("key"),
        lit(batchId).as("ts"), col("sk_row"), col("bucket"), col("c"))
    val mg = Sketches.mgTruncate(
        counts.select(col("item"), col("cnt").as("f")), c)
      .select(concat(lit(mgPrefix(tag)), col("item")).as("key"),
        lit(batchId).as("ts"), col("item"), col("est"))
    val mass = counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_items"))
      .select(lit(mgMassKey(tag)).as("key"), lit(batchId).as("ts"),
        col("n_items"))
    val base = kmv
      .unionByName(cm, allowMissingColumns = true)
      .unionByName(mg, allowMissingColumns = true)
      .unionByName(mass, allowMissingColumns = true)
    val rows = valueCol.fold(base)(_ => base.unionByName(
      histRowsOf(tag, Sketches.histSketch(elems, col("v"), b, histW, origin),
        batchId),
      allowMissingColumns = true))
    // bounded by the four geometries (≤ k + d·w + c+1 + b rows):
    // single-partition write path — one job computes every branch once
    graft.store.TxWriter.write(db, rows, rangePartitions = Some(1),
      props = sinkProps,
      propsClaim = cmGridClaim(tag, d, w) ++
        Map(kmvKProp(tag) -> k.toString, mgCProp(tag) -> c.toString) ++
        valueCol.fold(Map.empty[String, String])(_ =>
          histGridClaim(tag, b, histW, origin)),
      streamCursor = cursor, fuse = fuse)
  }

  /** [[foldKmv]] + [[foldCountMin]] + [[foldMg]] as ONE atomic
    * supersede: all four key families delete under one marker and
    * their folded replacements publish in the same manifest commit —
    * 3× fewer fold rounds than three standalone folds, and no
    * interleaving can see one store folded and another not. Each
    * family's replacement rows are exactly its standalone fold's, so
    * every report is preserved by the same laws.
    */
  def foldSketches(db: graft.store.Db, tag: String = "t",
                   waitMillis: Long = FOLD_WAIT_MILLIS): Long = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("string").as("key"),
      col("id").as("ts"))
    val prefixes = Seq(kmvKey(tag), cmPrefix(tag) + "%",
      mgPrefix(tag) + "%", mgMassKey(tag), histPrefix(tag) + "%")
    foldStore(db, s"foldSketches($tag)", prefixes, waitMillis,
      foldProp = Some(foldLastProp("sketches", tag)),
      singlePartition = true)({
        // ONE snapshot for every family's read: all four key families
        // fold from the same store generation (the same-generation
        // argument of [[storedHeavyHittersAt]], applied to the fold);
        // each family's geometry (k, c) reads back off that snapshot's
        // claims inside the At-readers
        val snap = db.snapshot()
        if (snap.manifest.dataTxids.isEmpty) empty
        else {
          // ONE key-pruned scan of all the tag's families, materialized
          // once (guide §2.4) — the family readers each re-scanned the store,
          // and the replacement plan executed the scans again in the write
          // job; branches are local prefix filters over the pinned pass. The
          // old hist/mass `isEmpty` probes (a Spark job each, per fold) are
          // gone: branch aggregations below are per-key-group, so an
          // absent family contributes zero rows by itself.
          val all = Some(graft.core.Graft.pin(snap.readMany(prefixes)))
          val kmv = storedKmvSketchAt(db, snap, tag, all)
            .select(lit(kmvKey(tag)).as("key"), col("h").as("ts"), col("h"))
          val cm = storedCountMinAt(db, snap, tag, all)
            .select(
              format_string(cmPrefix(tag) + "%d/%06d", col("sk_row"),
                col("bucket")).as("key"),
              lit(FOLD_TS).as("ts"), col("sk_row"), col("bucket"), col("c"))
          val base0 = kmv.unionByName(cm, allowMissingColumns = true)
          // the hist family folds whenever it has rows under the tag
          // (the valueCol rider, or a sibling registerHist sink) — the
          // same lossless per-bin sum as foldHist
          val base = base0.unionByName(
            histRowsOf(tag, storedHistAt(db, snap, tag, all), FOLD_TS),
            allowMissingColumns = true)
          // MG's emptiness signal is its mass rows (see foldMg) — a tag
          // that never registered MG contributes nothing rather than a
          // spurious zero-mass row: the total is aggregated per
          // synthetic group, which yields ZERO rows on an empty mass
          // family (a global aggregate would mint one)
          val massRows = famRows(snap, mgMassKey(tag), all)
          if (!massRows.columns.contains("n_items")) base
          else {
            val cands = storedMgCandidatesAt(db, snap, tag, all)
              .select(concat(lit(mgPrefix(tag)), col("item")).as("key"),
                lit(FOLD_TS).as("ts"), col("item"), col("est"))
            val total = massRows
              .groupBy(lit(1).as("_g"))
              .agg(coalesce(sum(col("n_items")), lit(0L)).as("n_items"))
              .select(lit(mgMassKey(tag)).as("key"), lit(FOLD_TS).as("ts"),
                col("n_items"))
            base
              .unionByName(cands, allowMissingColumns = true)
              .unionByName(total, allowMissingColumns = true)
          }
        }
      }, identity)
  }

  /** The GROUPED counterpart of [[registerSketches]]: one batch's
    * per-group KMV minima, MG partials (+ masses) AND count-min grids
    * union into ONE transaction — the grouped sketch sink's micro-batch
    * shape. A stream that ALSO carries a numeric column rides its
    * grouped histogram rows under the SAME transaction and grid claim
    * via `valueCol` (one fused commit for all four grouped families).
    * Each family's rows come from the same builders the standalone
    * registrations use ([[kmvByRows]]/[[mgByRows]]/[[cmByRows]]/
    * [[histByRowsOf]]), so every stored report is unchanged either way.
    */
  def registerSketchesBy(db: graft.store.Db, batch: DataFrame, grp: Column,
                         elem: Column, batchId: Long, tag: String = "t",
                         k: Int = Sketches.KMV_K, c: Int = Sketches.MG_C,
                         d: Int = Sketches.CM_D, cmW: Long = Sketches.CM_W,
                         valueCol: Option[Column] = None,
                         b: Int = Sketches.HIST_B,
                         w: Long = Sketches.HIST_W, origin: Long = 0L,
                         cursor: Option[(String, Long)] = None,
                         sinkProps: Map[String, String] = Map.empty,
                         fuse: Boolean = false)
      : Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    requireCmByGrid(db, tag, d, cmW)
    requireIntGeom(db, kmvByKProp(tag), k,
      s"grouped KMV k for tag '$tag'")(kmvByPrefix(tag) + "%")
    requireIntGeom(db, mgByCProp(tag), c,
      s"grouped MG c for tag '$tag'")(mgByPrefix(tag) + "%")
    valueCol.foreach(_ => requireHistByGrid(db, tag, b, w, origin))
    // ONE exact (grp, item, cnt) aggregation feeds KMV, MG AND
    // count-min — the same count-derivability argument as
    // [[registerSketches]], per group: KmvAgg keeps distinct minima,
    // MG's batch summary IS truncate-over-exact-counts, and the grids
    // add counters. One shuffle of the element stream instead of three;
    // the branches then aggregate the (grp, item)-sized counts. With
    // valueCol the hist branch bins the raw `v` stream exactly as the
    // standalone registerHistBy would (null groups excluded inside
    // histSketchBy) — the projection is materialized so hist and the
    // counts aggregate don't re-run the batch lineage twice.
    val base0 = batch.select(
      Seq(grp.as("grp"), elem.as("item")) ++
        valueCol.map(_.as("v")).toSeq: _*)
    val base = valueCol.fold(base0)(_ => base0.transform(graft.core.Graft.pin))
    // counts is NOT pinned (same exchange-reuse argument as
    // [[registerSketches]]): the pinned `rows` union materializes every
    // branch in ONE job, and the branches' identical counts exchange
    // dedups inside that plan — the pin was an extra action per
    // register transaction
    val counts = base.select(col("grp"), col("item"))
      .filter(col("grp").isNotNull && col("item").isNotNull)
      .groupBy("grp", "item").agg(count(lit(1)).as("cnt"))
    val kmv = kmvByRows(tag,
      counts.select(col("grp"), PortableHash.h60(col("item")).as("h")), k)
    val cm = cmByRows(tag, Sketches.countMinSketchByCounts(counts, d, cmW),
      batchId)
    val quartetBase = kmv
      .unionByName(mgByRows(tag, counts, batchId, c),
        allowMissingColumns = true)
      .unionByName(cm, allowMissingColumns = true)
    val rows = valueCol.fold(quartetBase)(_ => quartetBase.unionByName(
      histByRowsOf(tag,
        Sketches.histSketchBy(base, col("grp"), col("v"), b, w, origin),
        batchId),
      allowMissingColumns = true))
    // the written rows are pinned: the write's range exchange SAMPLES its
    // input before the write job — unpinned, every branch aggregation
    // executed twice per register transaction (guide §5: the pinned frame is
    // the batch's own group-bounded output, bytes the write materializes
    // anyway)
    graft.store.TxWriter.write(db, graft.core.Graft.pin(rows),
      props = sinkProps,
      propsClaim = cmByGridClaim(tag, d, cmW) ++
        Map(kmvByKProp(tag) -> k.toString, mgByCProp(tag) -> c.toString) ++
        valueCol.fold(Map.empty[String, String])(_ =>
          histByGridClaim(tag, b, w, origin)),
      streamCursor = cursor, fuse = fuse)
  }

  /** [[foldKmvBy]] + [[foldMgBy]] + [[foldCountMinBy]] + [[foldHistBy]]
    * as ONE atomic supersede over all five grouped key families — the
    * grouped twin of [[foldSketches]]. The cg/ and hg/ families fold
    * whenever they have rows under the tag (whether from the trio's
    * riders or sibling standalone sinks sharing the tag — the folds are
    * the same lossless per-cell/per-bin sums either way).
    */
  def foldSketchesBy(db: graft.store.Db, tag: String = "t",
                     waitMillis: Long = FOLD_WAIT_MILLIS): Long = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("string").as("key"),
      col("id").as("ts"))
    val prefixes = Seq(kmvByPrefix(tag) + "%", mgByPrefix(tag) + "%",
      mgByMassPrefix(tag) + "%", histByPrefix(tag) + "%",
      cmByPrefix(tag) + "%")
    foldStore(db, s"foldSketchesBy($tag)", prefixes, waitMillis,
      foldProp = Some(foldLastProp("sketchesby", tag)))({
        val snap = db.snapshot()
        if (snap.manifest.dataTxids.isEmpty) empty
        else {
          // ONE key-pruned scan of all five grouped families,
          // materialized once (guide §2.4): the per-family readers each
          // re-scanned the store and re-paid last-wins + the delete
          // anti-join; branches are now local prefix filters over the pinned
          // pass. The per-family `isEmpty` probes are gone: every branch
          // aggregates per group, so an absent family contributes zero rows
          // by itself.
          val all = Some(graft.core.Graft.pin(snap.readMany(prefixes)))
          val kmv = kmvFoldRowsBy(db, snap, tag, all)
          val withMg = mgByFoldRows(db, snap, tag, all).fold(kmv)(mg =>
            kmv.unionByName(mg, allowMissingColumns = true))
          val withCm = withMg.unionByName(
            cmByRows(tag, storedCountMinByAt(db, snap, tag, all), FOLD_TS),
            allowMissingColumns = true)
          withCm.unionByName(
            histByRowsOf(tag, storedHistByAt(db, snap, tag, all), FOLD_TS),
            allowMissingColumns = true)
        }
      }, identity)
  }

  /** The grouped-KMV FOLD replacement (each group's k smallest minima
    * re-keyed), shared by [[foldKmvBy]] and [[foldSketchesBy]].
    */
  private def kmvFoldRowsBy(db: graft.store.Db,
                            snap: graft.store.Db#Snapshot,
                            tag: String,
                            pre: Option[DataFrame] = None): DataFrame =
    storedKmvSketchByAt(db, snap, tag, pre)
      .select(concat(lit(kmvByPrefix(tag)), col("grp")).as("key"),
        col("h").as("ts"), col("grp"), col("h"))

  // ── count-min ──────────────────────────────────────────────────────

  /** Registers a batch's counter grid (≤ d·w cells) as ONE transaction
    * under `batchId`. Idempotent: re-running the same batchId rewrites
    * the same (key, ts) records and last-wins keeps one copy — safe
    * under streaming retries.
    *
    * The (d, w) GEOMETRY is the store's identity, claimed
    * first-writer-wins in the publishing commit exactly like the
    * histogram grid ([[registerHist]]'s geometry note): cells from a
    * different geometry summed under the same keys would break
    * count-min's overestimate guarantee — a probe could return
    * estimates BELOW the true count with no error at all — so a
    * mismatched registration refuses loudly instead, and probes read
    * the geometry back off the manifest rather than trusting a caller.
    */
  def registerCountMin(db: graft.store.Db, batch: DataFrame, elem: Column,
                       batchId: Long, tag: String = "t",
                       d: Int = Sketches.CM_D,
                       w: Long = Sketches.CM_W): Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    requireCmGrid(db, tag, d, w)
    val rows = Sketches.countMinSketch(batch, elem, d, w)
      .select(
        format_string(cmPrefix(tag) + "%d/%06d", col("sk_row"), col("bucket"))
          .as("key"),
        lit(batchId).as("ts"), col("sk_row"), col("bucket"), col("c"))
    // bounded by the grid (≤ d·w rows): single-partition write path
    graft.store.TxWriter.write(db, rows, rangePartitions = Some(1),
      propsClaim = cmGridClaim(tag, d, w))
  }

  /** The ungrouped grid's first-writer-wins geometry claim (checked
    * inside the publishing CAS, like [[registerHist]]'s grid claim).
    */
  private def cmGridClaim(tag: String, d: Int,
                          w: Long): Map[String, String] =
    Map(cmDProp(tag) -> d.toString, cmWProp(tag) -> w.toString)

  /** Friendly pre-write geometry-mismatch error for the ungrouped grid
    * (the propsClaim inside the CAS is the authority), shared by
    * [[registerCountMin]] and [[registerSketches]].
    */
  private def requireCmGrid(db: graft.store.Db, tag: String, d: Int,
                            w: Long): Unit = {
    val snap = db.snapshot()
    val m = snap.manifest
    val exD = m.props.get(cmDProp(tag))
    val exW = m.props.get(cmWProp(tag))
    require(exD.forall(_ == d.toString) && exW.forall(_ == w.toString),
      s"count-min geometry mismatch for tag '$tag': stored " +
        s"(d=${exD.getOrElse("-")}, w=${exW.getOrElse("-")}) " +
        s"vs registration (d=$d, w=$w)")
    if (exD.isEmpty && exW.isEmpty &&
        familyNonEmpty(snap, cmPrefix(tag) + "%"))
      throw new IllegalStateException(
        unclaimedMsg(cmDProp(tag), s"count-min geometry for tag '$tag'"))
  }

  /** The ungrouped grid's geometry, read back from the properties the
    * first registration claimed (defaults when the store predates
    * geometry tracking or is empty).
    */
  def storedCmGrid(db: graft.store.Db, tag: String = "t"): (Int, Long) =
    cmGridOf(graft.store.Manifest.current(db.warehouse), cmDProp(tag),
      cmWProp(tag))

  /** The (d, w) recorded in one manifest state's properties. */
  private def cmGridOf(m: graft.store.ManifestState, dProp: String,
                       wProp: String): (Int, Long) =
    (m.props.get(dProp).map(_.toInt).getOrElse(Sketches.CM_D),
      m.props.get(wProp).map(_.toLong).getOrElse(Sketches.CM_W))

  /** The running grid: per-cell sums over every registered batch (and
    * fold) — a key-pruned read of ≤ d·w·batches slim rows into a d·w
    * aggregation. Drop-in for [[Sketches.countMinProbe]]'s sketch side.
    */
  def storedCountMin(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedCountMinAt(db, db.snapshot(), tag)

  private def storedCountMinAt(db: graft.store.Db,
                               snap: graft.store.Db#Snapshot,
                               tag: String,
                               pre: Option[DataFrame] = None): DataFrame = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("int").as("sk_row"),
      col("id").as("bucket"), col("id").as("c"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, cmPrefix(tag) + "%", pre)
      if (!rows.columns.contains("c")) empty
      else rows.groupBy("sk_row", "bucket").agg(sum(col("c")).as("c"))
    }
  }

  /** Frequency estimates for `items` against the running grid. The
    * geometry comes from the store's OWN claimed properties, never from
    * the caller — probing a stored grid at a guessed (d, w) would hash
    * items into the wrong cells and report garbage (possibly
    * under-true) counts with no error. Grid and geometry derive from
    * ONE snapshot (the same one-snapshot reasoning as
    * [[storedHistQuantiles]]).
    */
  def probeStoredCountMin(db: graft.store.Db, items: DataFrame,
                          elemCol: String, tag: String = "t"): DataFrame =
    probeStoredCountMinAt(db, db.snapshot(), items, elemCol, tag)

  private[graft] def probeStoredCountMinAt(db: graft.store.Db,
                                           snap: graft.store.Db#Snapshot,
                                           items: DataFrame, elemCol: String,
                                           tag: String = "t")
      : DataFrame = {
    val grid = storedCountMinAt(db, snap, tag)
    requireClaimedOrEmpty(snap, cmDProp(tag), grid,
      s"count-min geometry for tag '$tag'")
    val (d, w) = storedCmGridAt(snap, tag)
    Sketches.countMinProbe(items, grid, elemCol, d, w)
  }

  // ── grouped count-min ──────────────────────────────────────────────
  //
  // Per-group frequency probes — the quadrant that closes the grouped
  // family (hist = quantiles, KMV = cardinality, MG = frequent items,
  // count-min = POINT frequency of ANY item, not just the heavy ones;
  // MG certifies per-group frequent items but cannot answer "how often
  // did THIS token appear in THIS source" for an arbitrary token — the
  // per-group grid can, with the group's own N_grp·e/w error bound).
  // Rows: key = "cg/<tag>/<escGrp>/<row>/<bucket>", ts = batchId →
  // (grp, sk_row, bucket, c). escGrp keeps the group segment
  // '/'-free so the fixed row/bucket tail parses unambiguously — grp
  // is ALSO a column; nothing ever parses the key back. Counters add
  // across batches like the ungrouped grid: per-batch rows summed at
  // read, idempotent under replays, folded by per-(grp, cell) sums.

  /** Registers one batch's per-group counter grids (≤ d·w·groups cells)
    * as ONE transaction under `batchId` — idempotent under streaming
    * retries like [[registerCountMin]], and under the same
    * first-writer-wins (d, w) geometry claim (its own `cmg.*`
    * properties, so the grouped and ungrouped grids under one tag stay
    * independent): per-group cells from a mismatched geometry summed
    * under the same `cg/` keys would silently break the per-group
    * overestimate bound.
    */
  def registerCountMinBy(db: graft.store.Db, batch: DataFrame, grp: Column,
                         elem: Column, batchId: Long, tag: String = "t",
                         d: Int = Sketches.CM_D, w: Long = Sketches.CM_W,
                         cursor: Option[(String, Long)] = None,
                         sinkProps: Map[String, String] = Map.empty,
                         fuse: Boolean = false): Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    requireCmByGrid(db, tag, d, w)
    // the written rows are pinned: the write's range exchange SAMPLES its
    // input before the write job — unpinned, every branch aggregation
    // executed twice per register transaction (guide §5: the pinned frame is
    // the batch's own group-bounded output, bytes the write materializes
    // anyway)
    graft.store.TxWriter.write(db,
      graft.core.Graft.pin(
        cmByRows(tag, Sketches.countMinSketchBy(batch, grp, elem, d, w),
          batchId)),
      props = sinkProps, propsClaim = cmByGridClaim(tag, d, w),
      streamCursor = cursor, fuse = fuse)
  }

  /** The grouped grids' first-writer-wins geometry claim. */
  private def cmByGridClaim(tag: String, d: Int,
                            w: Long): Map[String, String] =
    Map(cmByDProp(tag) -> d.toString, cmByWProp(tag) -> w.toString)

  /** Friendly pre-write geometry-mismatch error for the grouped grids,
    * shared by [[registerCountMinBy]] and [[registerSketchesBy]].
    */
  private def requireCmByGrid(db: graft.store.Db, tag: String, d: Int,
                              w: Long): Unit = {
    val snap = db.snapshot()
    val m = snap.manifest
    val exD = m.props.get(cmByDProp(tag))
    val exW = m.props.get(cmByWProp(tag))
    require(exD.forall(_ == d.toString) && exW.forall(_ == w.toString),
      s"count-min geometry mismatch for grouped tag '$tag': stored " +
        s"(d=${exD.getOrElse("-")}, w=${exW.getOrElse("-")}) " +
        s"vs registration (d=$d, w=$w)")
    if (exD.isEmpty && exW.isEmpty &&
        familyNonEmpty(snap, cmByPrefix(tag) + "%"))
      throw new IllegalStateException(
        unclaimedMsg(cmByDProp(tag),
          s"grouped count-min geometry for tag '$tag'"))
  }

  /** The grouped grids' geometry, from their own claimed properties. */
  def storedCmByGrid(db: graft.store.Db, tag: String = "t"): (Int, Long) =
    cmGridOf(graft.store.Manifest.current(db.warehouse), cmByDProp(tag),
      cmByWProp(tag))

  /** ONE copy of the grouped-cm row shape (over a prebuilt
    * (grp, sk_row, bucket, c) grid at `ts`), shared by the standalone
    * registration, the trio rider and both folds.
    */
  private def cmByRows(tag: String, grid: DataFrame, ts: Long): DataFrame =
    grid.select(
      concat(lit(cmByPrefix(tag)), escGrp(col("grp")),
        format_string("/%d/%06d", col("sk_row"), col("bucket"))).as("key"),
      lit(ts).as("ts"), col("grp"), col("sk_row"), col("bucket"),
      col("c"))

  /** The running per-group grids: per-(grp, cell) sums over a
    * key-pruned read — drop-in for [[Sketches.countMinProbeBy]]'s
    * sketch side.
    */
  def storedCountMinBy(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedCountMinByAt(db, db.snapshot(), tag)

  private[graft] def storedCountMinByAt(db: graft.store.Db,
                                        snap: graft.store.Db#Snapshot,
                                        tag: String,
                                        pre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("string").as("grp"),
      col("id").cast("int").as("sk_row"), col("id").as("bucket"),
      col("id").as("c"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, cmByPrefix(tag) + "%", pre)
      if (!rows.columns.contains("grp") || !rows.columns.contains("c")) empty
      else rows.groupBy("grp", "sk_row", "bucket").agg(sum(col("c")).as("c"))
    }
  }

  /** Frequency estimates for (`grpCol`, `elemCol`) items against the
    * running grouped grids — a (grp, cell)-keyed join, never a
    * broadcast of the data-sized grid relation. Geometry comes from the
    * store's own claimed `cmg.*` properties, same contract as
    * [[probeStoredCountMin]]; grid and geometry from ONE snapshot.
    */
  def probeStoredCountMinBy(db: graft.store.Db, items: DataFrame,
                            grpCol: String, elemCol: String,
                            tag: String = "t"): DataFrame =
    probeStoredCountMinByAt(db, db.snapshot(), items, grpCol, elemCol, tag)

  private[graft] def probeStoredCountMinByAt(db: graft.store.Db,
                                             snap: graft.store.Db#Snapshot,
                                             items: DataFrame,
                                             grpCol: String, elemCol: String,
                                             tag: String = "t"): DataFrame = {
    val grid = storedCountMinByAt(db, snap, tag)
    requireClaimedOrEmpty(snap, cmByDProp(tag), grid,
      s"grouped count-min geometry for tag '$tag'")
    val (d, w) = storedCmByGridAt(snap, tag)
    Sketches.countMinProbeBy(items, grid, grpCol, elemCol, d, w)
  }

  /** [[foldCountMin]] per group: one folded generation of per-(grp,
    * cell) sums — counter addition is exact, so every probe is
    * preserved verbatim.
    */
  def foldCountMinBy(db: graft.store.Db, tag: String = "t",
                     waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    foldStore(db, s"foldCountMinBy($tag)", Seq(cmByPrefix(tag) + "%"),
      waitMillis, foldProp = Some(foldLastProp("cmby", tag)))(
      storedCountMinBy(db, tag),
      cmByRows(tag, _, FOLD_TS))

  /** DuckDB twin of the grouped count-min store over `documents` tokens
    * by `source`: per-source grids summed over the whole corpus (two
    * half-corpus registrations + a fold = plain counter addition, so
    * the stored grid equals the one-shot per-group sketch), probed by
    * each source's top-`k` exact tokens — (grp, token, n_exact, est_cm)
    * with est = min over the d per-group cells.
    */
  def sqlCountMinGroupedTokens(k: Int, d: Int = Sketches.CM_D,
                               w: Long = Sketches.CM_W): String = {
    val sketchCells = (0 until d).map { i =>
      s"SELECT grp, $i AS sk_row, " +
        s"${PortableHash.sqlAffine("h", i)} % $w AS bucket FROM h"
    }.mkString("\n  UNION ALL ")
    val probeCells = (0 until d).map { i =>
      s"SELECT grp, token, n_exact, $i AS sk_row, " +
        s"${PortableHash.sqlAffine("h", i)} % $w AS bucket FROM th"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (
       |  SELECT source AS grp, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |h AS (SELECT grp, ${PortableHash.sqlH30("token")} AS h FROM tok),
       |cells AS (
       |  $sketchCells),
       |sketch AS (
       |  SELECT grp, sk_row, bucket, count(*) AS c FROM cells
       |  GROUP BY 1, 2, 3),
       |top AS (
       |  SELECT grp, token, n_exact FROM (
       |    SELECT grp, token, count(*) AS n_exact,
       |           row_number() OVER (PARTITION BY grp
       |             ORDER BY count(*) DESC, token) AS rk
       |    FROM tok GROUP BY grp, token)
       |  WHERE rk <= $k),
       |th AS (SELECT grp, token, n_exact,
       |              ${PortableHash.sqlH30("token")} AS h FROM top),
       |pcells AS (
       |  $probeCells),
       |melted AS (
       |  SELECT p.grp, p.token, p.n_exact, s.c
       |  FROM pcells p JOIN sketch s
       |    ON s.grp = p.grp AND s.sk_row = p.sk_row
       |   AND s.bucket = p.bucket)
       |SELECT grp, token, n_exact, min(c) AS est_cm
       |FROM melted GROUP BY grp, token, n_exact
       |ORDER BY grp, n_exact DESC, token""".stripMargin
  }

  // ── Misra–Gries frequent items ─────────────────────────────────────
  //
  // The third mergeable summary the warehouse folds for free. Rows:
  //   key = "m/<tag>/<item>"   ts = batchId  →  item, est   (per-batch
  //                                             MG partial, ≤ c rows)
  //   key = "mn/<tag>"         ts = batchId  →  n_items     (batch mass)
  // Partials are the DETERMINISTIC [[Sketches.mgSummary]] (exact counts
  // + one truncation), so unlike the order-dependent streaming fold the
  // stored rows — and everything derived from them — are a pure
  // function of the batch multisets and hash-match a DuckDB oracle.
  // Merging k partials in one step (sum per item, subtract the (c+1)-th
  // largest, keep positives) is a valid MG merge tree: every truncation
  // retires ≥ (c+1)× its own error from a total mass of n, so the
  // global bound `true − n/(c+1) ≤ est ≤ true` survives — the 1000-case
  // SketchPropertySpec law. Re-registering a batchId rewrites the same
  // (key, ts) rows: idempotent under streaming retries like count-min.

  /** Registers one batch's deterministic MG partial (≤ c item rows +
    * one mass row) as ONE transaction. Cost: the batch's own exact
    * aggregation + a ≤ (c+1)-row write; store size and history never
    * enter.
    */
  def registerMg(db: graft.store.Db, batch: DataFrame, elem: Column,
                 batchId: Long, tag: String = "t",
                 c: Int = Sketches.MG_C,
                 cursor: Option[(String, Long)] = None,
                 sinkProps: Map[String, String] = Map.empty,
                 fuse: Boolean = false): Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    // c is the store's identity like the other geometries: partials
    // truncated at different capacities merged under one key family
    // still under-estimate, but the report's n/(c+1) CERTIFICATION
    // threshold (and a fold's re-truncation) are only sound at one
    // uniform c — claimed first-writer-wins, read back by reports/folds
    requireIntGeom(db, mgCProp(tag), c, s"MG c for tag '$tag'")(
      mgPrefix(tag) + "%")
    // nulls are excluded from the summary AND the mass, matching
    // [[Sketches.heavyHitters]] (a null item would also become a null
    // store key). The partial IS truncate-over-exact-counts and the
    // mass is the counts' sum, so ONE aggregation feeds both — and the
    // materialized intermediate is the vocabulary-sized counts, not
    // the raw stream.
    val counts = batch.select(elem.as("item")).filter(col("item").isNotNull)
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .transform(graft.core.Graft.pin)
    val partial = Sketches.mgTruncate(
        counts.select(col("item"), col("cnt").as("f")), c)
      .select(concat(lit(mgPrefix(tag)), col("item")).as("key"),
        lit(batchId).as("ts"), col("item"), col("est"))
    val mass = counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_items"))
      .select(lit(mgMassKey(tag)).as("key"), lit(batchId).as("ts"),
        col("n_items"))
    // bounded by the capacity (≤ c+1 rows): single-partition write path
    graft.store.TxWriter.write(db,
      partial.unionByName(mass, allowMissingColumns = true),
      rangePartitions = Some(1),
      props = sinkProps, propsClaim = Map(mgCProp(tag) -> c.toString),
      streamCursor = cursor, fuse = fuse)
  }

  /** The merged summary of every batch ever registered: per-item sums
    * over the stored partials (a key-pruned read of ≤ c·batches slim
    * rows), re-truncated to ≤ c entries by the same deterministic rule.
    * A valid MG(c) summary of the CONCATENATED stream — candidates
    * provably contain every item above n/(c+1).
    */
  def storedMgCandidates(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedMgCandidatesAt(db, db.snapshot(), tag)

  private def storedMgCandidatesAt(db: graft.store.Db,
                                   snap: graft.store.Db#Snapshot,
                                   tag: String,
                                   pre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = db.spark
    val c = intProp(snap.manifest, mgCProp(tag), Sketches.MG_C)
    val empty = spark.range(0)
      .select(col("id").cast("string").as("item"), col("id").as("est"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, mgPrefix(tag) + "%", pre)
      if (!rows.columns.contains("est")) empty
      else {
        requireClaimedOrEmpty(snap, mgCProp(tag), rows,
          s"MG c for tag '$tag'")
        Sketches.mgTruncate(
          rows.groupBy("item").agg(sum(col("est")).as("f")), c)
      }
    }
  }

  /** Total element mass ever registered to the MG store — readable on
    * its own so an empty candidate set (nothing certified frequent, or
    * a tie-heavy truncation) can still report how much stream it
    * summarizes.
    */
  def storedMgMass(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedMgMassAt(db, db.snapshot(), tag)

  private[graft] def storedMgMassAt(db: graft.store.Db,
                                    snap: graft.store.Db#Snapshot,
                                    tag: String,
                                    pre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = db.spark
    val empty = spark.range(1).select(lit(0L).as("n"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, mgMassKey(tag), pre)
      if (!rows.columns.contains("n_items")) empty
      else rows.agg(coalesce(sum(col("n_items")), lit(0L)).as("n"))
    }
  }

  /** The store's frequent-items report: every merged candidate with its
    * lower-bound count, the total registered mass `n`, and a 0/1
    * `certain` column — `est·(c+1) > n` means even the LOWER bound
    * clears the n/(c+1) threshold, so the item is GUARANTEED frequent
    * (the one-sided MG bound turns the sketch into a sound certifier,
    * not just a candidate generator; the uncertain band is where an
    * exact pass over the raw stream would be needed — which the store,
    * by design, never kept). Heaviest first; deterministic end to end.
    */
  def storedHeavyHitters(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedHeavyHittersAt(db, db.snapshot(), tag)

  /** [[storedHeavyHitters]] against ONE snapshot: candidates and mass
    * must come from the same store generation — a registration
    * committing between two independent snapshot reads could pair one
    * generation's candidate counts with the other's mass and falsely
    * certify an item (`est·(c+1) > n` against a stale smaller n).
    */
  private[graft] def storedHeavyHittersAt(db: graft.store.Db,
                                          snap: graft.store.Db#Snapshot,
                                          tag: String = "t"): DataFrame = {
    val c = intProp(snap.manifest, mgCProp(tag), Sketches.MG_C)
    // ONE scan of both key families, materialized once (guide §2.4):
    // candidates and mass each re-scanned the store (two parquet scans + two
    // last-wins passes in one report plan); the branches are now local prefix
    // filters.
    val pre =
      if (snap.manifest.dataTxids.isEmpty) None
      else Some(graft.core.Graft.pin(snap.readMany(
        Seq(mgPrefix(tag) + "%", mgMassKey(tag)))))
    storedMgCandidatesAt(db, snap, tag, pre)
      .crossJoin(broadcast(storedMgMassAt(db, snap, tag, pre)))
      .select(col("item"), col("est"), col("n"),
        (col("est") * (c + 1) > col("n")).cast("long").as("certain"))
      .orderBy(col("est").desc, col("item"))
  }

  /** DuckDB twin of the MG store over the head+tail token stream of
    * `documents`, registered as two half-corpus batches split at
    * `floor(max(doc_id)/2)` — the same data-derived cut the driver row
    * computes, stated IN the SQL so the two sides cannot disagree on
    * the batch boundary: per-batch exact counts + deterministic
    * truncation, per-item sums, global re-truncation, certainty
    * against the total mass — the exact relational algebra
    * [[registerMg]] + [[storedHeavyHitters]] execute.
    */
  def sqlMgIncrementalTokens(c: Int = Sketches.MG_C): String = {
    val mid = "(SELECT m FROM mid)"
    def partial(name: String, filt: String) =
      s"""cnt_$name AS (
         |  SELECT item, count(*) AS f FROM toks WHERE $filt GROUP BY 1),
         |d_$name AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM cnt_$name) <= $c THEN 0
         |         ELSE (SELECT f FROM (
         |             SELECT f, row_number() OVER (ORDER BY f DESC, item)
         |               AS rn FROM cnt_$name) WHERE rn = ${c + 1}) END AS d),
         |p_$name AS (
         |  SELECT item, f - (SELECT d FROM d_$name) AS est FROM cnt_$name
         |  WHERE f > (SELECT d FROM d_$name))""".stripMargin
    s"""WITH mid AS (
       |  SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS m FROM documents),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN term
       |              ELSE term || '_' || doc_id END AS item
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE len(term) > 0),
       |${partial("a", s"doc_id < $mid")},
       |${partial("b", s"doc_id >= $mid")},
       |summed AS MATERIALIZED (
       |  SELECT item, sum(est) AS f
       |  FROM (SELECT * FROM p_a UNION ALL SELECT * FROM p_b)
       |  GROUP BY 1),
       |dg AS (
       |  SELECT CASE WHEN (SELECT count(*) FROM summed) <= $c THEN 0
       |         ELSE (SELECT f FROM (
       |             SELECT f, row_number() OVER (ORDER BY f DESC, item)
       |               AS rn FROM summed) WHERE rn = ${c + 1}) END AS d),
       |n AS (SELECT count(*) AS n FROM toks)
       |SELECT item, CAST(f - (SELECT d FROM dg) AS BIGINT) AS est,
       |       (SELECT n FROM n) AS n,
       |       CAST((f - (SELECT d FROM dg)) * ${c + 1} > (SELECT n FROM n)
       |            AS BIGINT) AS certain
       |FROM summed WHERE f > (SELECT d FROM dg)
       |ORDER BY est DESC, item""".stripMargin
  }

  // ── grouped Misra–Gries store ──────────────────────────────────────
  //
  // Per-group frequent items (the per-source token watchlist) — the
  // fourth quadrant of the grouped family (hist, KMV, MG; count-min is
  // already grouped by construction, its cells ARE the keys). Rows:
  //   key = "mg/<tag>/<escGrp>/<item>"  ts = batchId → grp, item, est
  //   key = "mgn/<tag>/<escGrp>"        ts = batchId → grp, n_items
  // Same deterministic-partial / merge-retruncate / idempotent-replay /
  // fenced-fold laws as the ungrouped store, with every rank computed
  // inside the group's own window ([[Sketches.mgTruncateBy]]) — no
  // single-partition stage anywhere.

  /** Registers one batch's per-group deterministic MG partials (≤ c
    * item rows + one mass row per group) as ONE transaction.
    */
  def registerMgBy(db: graft.store.Db, batch: DataFrame, grp: Column,
                   elem: Column, batchId: Long, tag: String = "t",
                   c: Int = Sketches.MG_C,
                   cursor: Option[(String, Long)] = None,
                   sinkProps: Map[String, String] = Map.empty,
                   fuse: Boolean = false): Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    // materialized once — partial + per-group mass are two subtrees
    requireIntGeom(db, mgByCProp(tag), c,
      s"grouped MG c for tag '$tag'")(mgByPrefix(tag) + "%")
    // the partial and the mass rows both derive from the exact
    // (grp, item) counts — aggregate once, materialize the
    // vocabulary-sized result instead of the raw stream
    val counts = batch.select(grp.as("grp"), elem.as("item"))
      .filter(col("grp").isNotNull && col("item").isNotNull)
      .groupBy("grp", "item").agg(count(lit(1)).as("cnt"))
      .transform(graft.core.Graft.pin)
    // the written rows are pinned: the write's range exchange SAMPLES its
    // input before the write job — unpinned, every branch aggregation
    // executed twice per register transaction (guide §5: the pinned frame is
    // the batch's own group-bounded output, bytes the write materializes
    // anyway)
    graft.store.TxWriter.write(db,
      graft.core.Graft.pin(mgByRows(tag, counts, batchId, c)),
      props = sinkProps, propsClaim = Map(mgByCProp(tag) -> c.toString),
      streamCursor = cursor, fuse = fuse)
  }

  /** ONE copy of the grouped-MG row shapes (per-group deterministic
    * partial + per-group mass row, both at `ts`), shared by the
    * standalone registration and the trio. `counts` must be the
    * null-filtered exact (grp, item, cnt) aggregation, already
    * materialized — the partial is [[Sketches.mgSummaryBy]]'s
    * truncate-over-exact-counts by definition, and the mass is the
    * counts' per-group sum.
    */
  private def mgByRows(tag: String, counts: DataFrame, ts: Long,
                       c: Int): DataFrame = {
    val partial = Sketches.mgTruncateBy(
        counts.select(col("grp"), col("item"), col("cnt").as("f")), c)
      .select(concat(lit(mgByPrefix(tag)), escGrp(col("grp")), lit("/"),
          col("item")).as("key"),
        lit(ts).as("ts"), col("grp"), col("item"), col("est"))
    val mass = counts.groupBy("grp").agg(sum(col("cnt")).as("n_items"))
      .select(concat(lit(mgByMassPrefix(tag)), escGrp(col("grp"))).as("key"),
        lit(ts).as("ts"), col("grp"), col("n_items"))
    partial.unionByName(mass, allowMissingColumns = true)
  }

  /** ONE copy of the grouped-MG FOLD replacement (merged candidates +
    * summed per-group masses at FOLD_TS), shared by [[foldMgBy]] and
    * [[foldSketchesBy]]. None = nothing registered (the mass-row
    * emptiness signal).
    */
  private def mgByFoldRows(db: graft.store.Db,
                           snap: graft.store.Db#Snapshot,
                           tag: String,
                           pre: Option[DataFrame] = None)
      : Option[DataFrame] = {
    val mass = famRows(snap, mgByMassPrefix(tag) + "%", pre)
    // schema-level absence check only (driver-side, free): every
    // aggregation below is per-group, so a present-but-row-empty family
    // contributes zero rows on its own — the old `mass.isEmpty` probe
    // was a full Spark job per fold that decided nothing (guide §1.4)
    if (!mass.columns.contains("n_items")) None
    else {
      val cands = storedMgCandidatesByAt(db, snap, tag, pre)
        .select(concat(lit(mgByPrefix(tag)), escGrp(col("grp")),
            lit("/"), col("item")).as("key"),
          lit(FOLD_TS).as("ts"), col("grp"), col("item"), col("est"))
      val total = mass.groupBy("grp")
        .agg(sum(col("n_items")).as("n_items"))
        .select(concat(lit(mgByMassPrefix(tag)), escGrp(col("grp")))
            .as("key"),
          lit(FOLD_TS).as("ts"), col("grp"), col("n_items"))
      Some(cands.unionByName(total, allowMissingColumns = true))
    }
  }

  /** The merged per-group candidate sets: per-(grp, item) sums over the
    * stored partials, re-truncated to ≤ c entries inside each group's
    * window — each group's result is a valid MG(c) summary of its
    * concatenated stream.
    */
  def storedMgCandidatesBy(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedMgCandidatesByAt(db, db.snapshot(), tag)

  private def storedMgCandidatesByAt(db: graft.store.Db,
                                     snap: graft.store.Db#Snapshot,
                                     tag: String,
                                     pre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = db.spark
    val c = intProp(snap.manifest, mgByCProp(tag), Sketches.MG_C)
    val empty = spark.range(0).select(col("id").cast("string").as("grp"),
      col("id").cast("string").as("item"), col("id").as("est"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, mgByPrefix(tag) + "%", pre)
      if (!rows.columns.contains("est")) empty
      else {
        requireClaimedOrEmpty(snap, mgByCProp(tag), rows,
          s"grouped MG c for tag '$tag'")
        Sketches.mgTruncateBy(
          rows.groupBy("grp", "item").agg(sum(col("est")).as("f")), c)
      }
    }
  }

  /** Per-group registered mass — (grp, n), one row per group ever
    * registered.
    */
  def storedMgMassBy(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedMgMassByAt(db, db.snapshot(), tag)

  private[graft] def storedMgMassByAt(db: graft.store.Db,
                                      snap: graft.store.Db#Snapshot,
                                      tag: String,
                                      pre: Option[DataFrame] = None)
      : DataFrame = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("string").as("grp"),
      col("id").as("n"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, mgByMassPrefix(tag) + "%", pre)
      if (!rows.columns.contains("n_items")) empty
      else rows.groupBy("grp").agg(sum(col("n_items")).as("n"))
    }
  }

  /** The grouped frequent-items report: each group's merged candidates
    * with lower-bound counts, the group's own mass `n`, and the 0/1
    * `certain` certification against the group's n/(c+1) threshold —
    * [[storedHeavyHitters]] per group. The mass join is keyed (and
    * shuffled) by group — both sides are ≤ (c+1)·groups rows, never
    * corpus-sized, and nothing is forced through one partition.
    * Ordered (grp, heaviest first) for report stability.
    */
  def storedHeavyHittersBy(db: graft.store.Db, tag: String = "t"): DataFrame =
    heavyHittersByUnordered(db, tag)
      .orderBy(col("grp"), col("est").desc, col("item"))

  /** [[storedHeavyHittersBy]] without the total order — for consumers
    * that impose their own (the serving tier's per-group rank window):
    * stacking a range exchange under a hash-partitioned window would
    * sort the report only to immediately re-shuffle it.
    */
  private[graft] def heavyHittersByUnordered(db: graft.store.Db,
                                             tag: String = "t")
      : DataFrame =
    heavyHittersByUnorderedAt(db, db.snapshot(), tag)

  /** The grouped report against ONE snapshot — same same-generation
    * argument as [[storedHeavyHittersAt]], sharper here because the
    * inconsistency would be intra-group (an item's est certified
    * against ITS OWN group's stale n). The serving tier threads its
    * snapshot through this so the mass list and the heavy items it
    * renders next to each other come from one store generation.
    */
  private[graft] def heavyHittersByUnorderedAt(db: graft.store.Db,
                                               snap: graft.store.Db#Snapshot,
                                               tag: String = "t")
      : DataFrame = {
    val c = intProp(snap.manifest, mgByCProp(tag), Sketches.MG_C)
    // ONE scan of both grouped families, materialized once (guide
    // §2.4) — same device as [[storedHeavyHittersAt]].
    val pre =
      if (snap.manifest.dataTxids.isEmpty) None
      else Some(graft.core.Graft.pin(snap.readMany(
        Seq(mgByPrefix(tag) + "%", mgByMassPrefix(tag) + "%"))))
    storedMgCandidatesByAt(db, snap, tag, pre)
      .join(storedMgMassByAt(db, snap, tag, pre), Seq("grp"))
      .select(col("grp"), col("item"), col("est"), col("n"),
        (col("est") * (c + 1) > col("n")).cast("long").as("certain"))
  }

  /** [[foldMg]] per group: candidates + per-group mass rewrite as ONE
    * folded generation under one atomic supersede over both key
    * families.
    */
  def foldMgBy(db: graft.store.Db, tag: String = "t",
               waitMillis: Long = FOLD_WAIT_MILLIS): Long = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("string").as("key"),
      col("id").as("ts"))
    foldStore(db, s"foldMgBy($tag)",
      Seq(mgByPrefix(tag) + "%", mgByMassPrefix(tag) + "%"), waitMillis,
      foldProp = Some(foldLastProp("mgby", tag)))({
        val snap = db.snapshot()
        if (snap.manifest.dataTxids.isEmpty) empty
        else mgByFoldRows(db, snap, tag).getOrElse(empty)
      }, identity)
  }

  /** DuckDB twin of the grouped MG store over the head+tail token
    * stream of `documents` grouped by `source`, registered as two
    * half-corpus batches — [[sqlMgIncrementalTokens]] with every count,
    * truncation threshold, re-truncation and mass computed inside the
    * group's own partition: the exact relational algebra
    * [[registerMgBy]] + [[storedHeavyHittersBy]] execute.
    */
  def sqlMgGroupedTokens(c: Int = Sketches.MG_C): String = {
    val mid = "(SELECT m FROM mid)"
    def partial(name: String, filt: String) =
      s"""cnt_$name AS (
         |  SELECT grp, item, count(*) AS f FROM toks WHERE $filt
         |  GROUP BY 1, 2),
         |d_$name AS (
         |  SELECT grp, coalesce(max(CASE WHEN rn = ${c + 1} THEN f END), 0)
         |    AS d
         |  FROM (SELECT grp, f, row_number() OVER (PARTITION BY grp
         |          ORDER BY f DESC, item) AS rn FROM cnt_$name)
         |  GROUP BY grp),
         |p_$name AS (
         |  SELECT cnt.grp, cnt.item, cnt.f - d.d AS est
         |  FROM cnt_$name cnt JOIN d_$name d ON cnt.grp = d.grp
         |  WHERE cnt.f > d.d)""".stripMargin
    s"""WITH mid AS (
       |  SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS m FROM documents),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, source AS grp,
       |         CASE WHEN doc_id % 3 = 0 THEN term
       |              ELSE term || '_' || doc_id END AS item
       |  FROM (SELECT doc_id, source,
       |               unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE len(term) > 0),
       |${partial("a", s"doc_id < $mid")},
       |${partial("b", s"doc_id >= $mid")},
       |summed AS MATERIALIZED (
       |  SELECT grp, item, sum(est) AS f
       |  FROM (SELECT * FROM p_a UNION ALL SELECT * FROM p_b)
       |  GROUP BY 1, 2),
       |dg AS (
       |  SELECT grp, coalesce(max(CASE WHEN rn = ${c + 1} THEN f END), 0)
       |    AS d
       |  FROM (SELECT grp, f, row_number() OVER (PARTITION BY grp
       |          ORDER BY f DESC, item) AS rn FROM summed)
       |  GROUP BY grp),
       |n AS (SELECT grp, count(*) AS n FROM toks GROUP BY grp)
       |SELECT s.grp, s.item, CAST(s.f - dg.d AS BIGINT) AS est, n.n,
       |       CAST((s.f - dg.d) * ${c + 1} > n.n AS BIGINT) AS certain
       |FROM summed s JOIN dg ON s.grp = dg.grp JOIN n ON s.grp = n.grp
       |WHERE s.f > dg.d
       |ORDER BY s.grp, est DESC, s.item""".stripMargin
  }

  // ── fixed-grid histogram quantiles ─────────────────────────────────
  //
  // The fourth mergeable summary (cardinality / frequency / frequent
  // items / QUANTILES). Rows: key = "h/<tag>/<bin, zero-padded>",
  // ts = batchId → (bin, cnt) — histogram merge is plain counter
  // addition, so like count-min the store is per-batch rows summed at
  // read time, idempotent under replays (same (key, ts) rewritten), and
  // the merged report is EXACTLY the one-shot sketch of the
  // concatenated stream — which is what lets the incremental driver row
  // share the one-shot oracle SQL verbatim. The training-pipeline use
  // is threshold picking over running corpora: sequence-length
  // percentiles for packing (Sequencing) and score-distribution cuts
  // (Selection) without rescanning history.

  /** Registers one batch's histogram (≤ b bin rows) as ONE transaction.
    * Cost: the batch's own scan + a ≤ b-row write; store size and
    * history never enter.
    */
  def registerHist(db: graft.store.Db, batch: DataFrame, value: Column,
                   batchId: Long, tag: String = "t",
                   b: Int = Sketches.HIST_B,
                   w: Long = Sketches.HIST_W,
                   origin: Long = 0L,
                   cursor: Option[(String, Long)] = None,
                   sinkProps: Map[String, String] = Map.empty,
                   fuse: Boolean = false): Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    // the grid IS the store's geometry: bins from a different (w,
    // origin) are not mergeable with what's stored, and a reader
    // guessing the grid would report silently shifted envelopes — so
    // the grid rides the publishing commit as CLAIMED table properties
    // (the ANN-geometry pattern): the claim is checked inside the
    // manifest CAS, so two concurrent FIRST registrations with
    // different grids cannot both publish — the loser's tx is refused
    // ([[graft.store.TxWriter.PropertyConflict]]), never mixed in. The
    // early require is only the friendly pre-write error message; the
    // claim is the authority.
    requireHistGrid(db, tag, b, w, origin)
    // bounded by the grid (≤ b bin rows): single-partition write path
    graft.store.TxWriter.write(db,
      histRowsOf(tag, Sketches.histSketch(batch, value, b, w, origin),
        batchId),
      rangePartitions = Some(1),
      props = sinkProps,
      propsClaim = histGridClaim(tag, b, w, origin),
      streamCursor = cursor, fuse = fuse)
  }

  /** ONE copy of the ungrouped-hist row shape (over a prebuilt
    * (bin, cnt) histogram at `ts`), shared by the standalone
    * registration and the trio's `valueCol` rider.
    */
  private def histRowsOf(tag: String, hist: DataFrame, ts: Long): DataFrame =
    hist.select(
      format_string(histPrefix(tag) + "%06d", col("bin")).as("key"),
      lit(ts).as("ts"), col("bin"), col("cnt"))

  /** The ungrouped store's first-writer-wins grid claim. `b` joins the
    * (w, origin) pair (r16): the top bin CLAMPS at b−1, so batches
    * binned at different b put their clamped mass at different bins —
    * the merged histogram's top envelope silently shifts. Same
    * first-writer-wins rule; readers never need b back (they read the
    * stored bins), so there is no read-back half.
    */
  private def histGridClaim(tag: String, b: Int, w: Long,
                            origin: Long): Map[String, String] =
    Map(histWProp(tag) -> w.toString,
      histOriginProp(tag) -> origin.toString,
      histBProp(tag) -> b.toString)

  /** Friendly pre-write grid-mismatch error for the ungrouped store —
    * shared by [[registerHist]] and the trio's `valueCol` rider.
    */
  private def requireHistGrid(db: graft.store.Db, tag: String, b: Int,
                              w: Long, origin: Long): Unit = {
    val snap = db.snapshot()
    val m = snap.manifest
    val exW = m.props.get(histWProp(tag))
    val exO = m.props.get(histOriginProp(tag))
    val exB = m.props.get(histBProp(tag))
    require(exW.forall(_ == w.toString) &&
        exO.forall(_ == origin.toString) && exB.forall(_ == b.toString),
      s"histogram grid mismatch for tag '$tag': stored " +
        s"(b=${exB.getOrElse("-")}, w=${exW.getOrElse("-")}, " +
        s"origin=${exO.getOrElse("-")}) " +
        s"vs registration (b=$b, w=$w, origin=$origin)")
    // fully unclaimed OR partially claimed (the b cap joined the grid
    // claim after (w, origin) — a pre-b store's rows clamp at an
    // unrecorded cap, and claiming any b over them would silently
    // shift the merged top envelope): refuse with rows until stamped
    if ((exW.isEmpty || exB.isEmpty) &&
        familyNonEmpty(snap, histPrefix(tag) + "%"))
      throw new IllegalStateException(
        unclaimedMsg(if (exW.isEmpty) histWProp(tag) else histBProp(tag),
          s"histogram grid for tag '$tag'"))
  }

  /** The store's grid geometry, read back from the manifest properties
    * the first registration committed ((w, origin); defaults when the
    * store predates grid tracking or is empty).
    */
  def storedHistGrid(db: graft.store.Db, tag: String = "t"): (Long, Long) = {
    val m = graft.store.Manifest.current(db.warehouse)
    (m.props.get(histWProp(tag)).map(_.toLong).getOrElse(Sketches.HIST_W),
      m.props.get(histOriginProp(tag)).map(_.toLong).getOrElse(0L))
  }

  /** The merged histogram of every batch ever registered: per-bin sums
    * over a key-pruned read of ≤ b·batches slim rows.
    */
  def storedHist(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedHistAt(db, db.snapshot(), tag)

  private def storedHistAt(db: graft.store.Db, snap: graft.store.Db#Snapshot,
                           tag: String,
                           pre: Option[DataFrame] = None): DataFrame = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").as("bin"), col("id").as("cnt"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, histPrefix(tag) + "%", pre)
      if (!rows.columns.contains("cnt")) empty
      else rows.groupBy("bin").agg(sum(col("cnt")).as("cnt"))
    }
  }

  /** The grid recorded in one manifest state's properties. */
  private def gridOf(m: graft.store.ManifestState, wProp: String,
                     oProp: String): (Long, Long) =
    (m.props.get(wProp).map(_.toLong).getOrElse(Sketches.HIST_W),
      m.props.get(oProp).map(_.toLong).getOrElse(0L))

  /** Quantile report over everything ever registered — identical
    * algebra to the one-shot [[Sketches.histQuantiles]], because
    * histogram merge is exact. The grid (w, origin) comes from the
    * store's OWN properties, never from the caller: a guessed grid
    * would decode the stored bins into the wrong value domain with no
    * error at all. Grid and rows come from ONE snapshot — since
    * [[migrateHistGrid]] made the grid mutable, a two-phase read
    * (props now, rows later) could interleave with a migration and
    * decode re-binned rows at the stale width, silently shifting every
    * envelope.
    */
  def storedHistQuantiles(db: graft.store.Db,
                          qms: Seq[Int] = Sketches.HIST_QMS,
                          tag: String = "t"): DataFrame =
    storedHistQuantilesAt(db, db.snapshot(), qms, tag)

  private[graft] def storedHistQuantilesAt(db: graft.store.Db,
                                           snap: graft.store.Db#Snapshot,
                                           qms: Seq[Int] = Sketches.HIST_QMS,
                                           tag: String = "t"): DataFrame = {
    val hist = storedHistAt(db, snap, tag)
    requireClaimedOrEmpty(snap, histWProp(tag), hist,
      s"histogram grid for tag '$tag'")
    val (w, origin) = gridOf(snap.manifest, histWProp(tag), histOriginProp(tag))
    Sketches.histQuantiles(hist, qms, w, origin)
  }

  // ── grouped histogram store ────────────────────────────────────────
  //
  // The per-group twin of the histogram store — per-source / per-
  // language sequence-length envelopes off a RUNNING corpus (what
  // `/_query/stats?by` serves). Rows: key = "hg/<tag>/<grp>/<bin>",
  // ts = batchId → (grp, bin, cnt). The bin is always the LAST
  // "/"-segment (%06d), so keys are unique for any grp string — grp is
  // carried as a column and never parsed back out of the key. Same
  // mergeability, idempotent-replay, grid-claim and fold laws as the
  // ungrouped store; grid props are its own (histg.*) so the two
  // stores under one tag stay independent.

  /** Registers one batch's per-group histogram (≤ b·groups rows) as ONE
    * transaction under the grid claim.
    */
  def registerHistBy(db: graft.store.Db, batch: DataFrame, grp: Column,
                     value: Column, batchId: Long, tag: String = "t",
                     b: Int = Sketches.HIST_B,
                     w: Long = Sketches.HIST_W,
                     origin: Long = 0L,
                     cursor: Option[(String, Long)] = None,
                     sinkProps: Map[String, String] = Map.empty,
                     fuse: Boolean = false): Long = {
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")
    requireHistByGrid(db, tag, b, w, origin)
    val hist = Sketches.histSketchBy(batch, grp, value, b, w, origin)
    // the written rows are pinned: the write's range exchange SAMPLES its
    // input before the write job — unpinned, every branch aggregation
    // executed twice per register transaction (guide §5: the pinned frame is
    // the batch's own group-bounded output, bytes the write materializes
    // anyway)
    graft.store.TxWriter.write(db,
      graft.core.Graft.pin(histByRowsOf(tag, hist, batchId)),
      props = sinkProps,
      propsClaim = histByGridClaim(tag, b, w, origin),
      streamCursor = cursor, fuse = fuse)
  }

  /** ONE copy of the grouped-hist row shape (over a prebuilt
    * (grp, bin, cnt) histogram at `ts`), shared by the standalone
    * registration and the trio's `valueCol` rider — same
    * identical-by-construction contract as [[kmvByRows]]/[[mgByRows]].
    */
  private def histByRowsOf(tag: String, hist: DataFrame,
                           ts: Long): DataFrame =
    hist.select(
      format_string(histByPrefix(tag) + "%s/%06d", col("grp"), col("bin"))
        .as("key"),
      lit(ts).as("ts"), col("grp"), col("bin"), col("cnt"))

  /** The grouped store's first-writer-wins grid claim (checked inside
    * the publishing CAS — see [[registerHist]]'s geometry note).
    */
  private def histByGridClaim(tag: String, b: Int, w: Long,
                              origin: Long): Map[String, String] =
    Map(histByWProp(tag) -> w.toString,
      histByOriginProp(tag) -> origin.toString,
      histByBProp(tag) -> b.toString)

  /** Friendly pre-write grid-mismatch error for the grouped store (the
    * propsClaim inside the CAS is the authority — this just refuses
    * before pricing the write job), shared by [[registerHistBy]] and
    * the trio's `valueCol` rider.
    */
  private def requireHistByGrid(db: graft.store.Db, tag: String, b: Int,
                                w: Long, origin: Long): Unit = {
    val snap = db.snapshot()
    val m = snap.manifest
    val exW = m.props.get(histByWProp(tag))
    val exO = m.props.get(histByOriginProp(tag))
    val exB = m.props.get(histByBProp(tag))
    require(exW.forall(_ == w.toString) &&
        exO.forall(_ == origin.toString) && exB.forall(_ == b.toString),
      s"histogram grid mismatch for grouped tag '$tag': stored " +
        s"(b=${exB.getOrElse("-")}, w=${exW.getOrElse("-")}, " +
        s"origin=${exO.getOrElse("-")}) " +
        s"vs registration (b=$b, w=$w, origin=$origin)")
    if ((exW.isEmpty || exB.isEmpty) &&
        familyNonEmpty(snap, histByPrefix(tag) + "%"))
      throw new IllegalStateException(
        unclaimedMsg(
          if (exW.isEmpty) histByWProp(tag) else histByBProp(tag),
          s"grouped histogram grid for tag '$tag'"))
  }

  /** The grouped store's grid, from its own claimed properties. */
  def storedHistByGrid(db: graft.store.Db, tag: String = "t"): (Long, Long) = {
    val m = graft.store.Manifest.current(db.warehouse)
    (m.props.get(histByWProp(tag)).map(_.toLong).getOrElse(Sketches.HIST_W),
      m.props.get(histByOriginProp(tag)).map(_.toLong).getOrElse(0L))
  }

  /** The merged (grp, bin, cnt) histogram of every batch registered. */
  def storedHistBy(db: graft.store.Db, tag: String = "t"): DataFrame =
    storedHistByAt(db, db.snapshot(), tag)

  private def storedHistByAt(db: graft.store.Db,
                             snap: graft.store.Db#Snapshot,
                             tag: String,
                             pre: Option[DataFrame] = None): DataFrame = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("string").as("grp"),
      col("id").as("bin"), col("id").as("cnt"))
    if (snap.manifest.dataTxids.isEmpty) empty
    else {
      val rows = famRows(snap, histByPrefix(tag) + "%", pre)
      if (!rows.columns.contains("grp") || !rows.columns.contains("cnt"))
        empty
      else rows.filter(col("grp").isNotNull)
        .groupBy("grp", "bin").agg(sum(col("cnt")).as("cnt"))
    }
  }

  /** Per-group quantile envelopes over everything ever registered —
    * the same distributed rank algebra as the one-shot
    * [[Sketches.histQuantilesBy]] (windows partitioned by group, no
    * single-partition stage). UNORDERED, like the one-shot form. Grid
    * and rows come from ONE snapshot, same migration-interleave
    * reasoning as [[storedHistQuantiles]].
    */
  def storedHistQuantilesBy(db: graft.store.Db,
                            qms: Seq[Int] = Sketches.HIST_QMS,
                            tag: String = "t"): DataFrame =
    storedHistQuantilesByAt(db, db.snapshot(), qms, tag)

  private[graft] def storedHistQuantilesByAt(db: graft.store.Db,
                                             snap: graft.store.Db#Snapshot,
                                             qms: Seq[Int] =
                                               Sketches.HIST_QMS,
                                             tag: String = "t"): DataFrame = {
    val hist = storedHistByAt(db, snap, tag)
    requireClaimedOrEmpty(snap, histByWProp(tag), hist,
      s"grouped histogram grid for tag '$tag'")
    val (w, origin) =
      gridOf(snap.manifest, histByWProp(tag), histByOriginProp(tag))
    Sketches.histQuantilesFromBy(hist, qms, w, origin)
  }

  /** [[foldHist]] for the grouped store: one folded generation of
    * ≤ b·groups rows.
    */
  def foldHistBy(db: graft.store.Db, tag: String = "t",
                 waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    foldStore(db, s"foldHistBy($tag)", Seq(histByPrefix(tag) + "%"),
      waitMillis, foldProp = Some(foldLastProp("histby", tag)))(
      storedHistBy(db, tag),
      _.select(
        format_string(histByPrefix(tag) + "%s/%06d", col("grp"), col("bin"))
          .as("key"),
        lit(FOLD_TS).as("ts"), col("grp"), col("bin"), col("cnt")))

  /** Collapses the per-batch histogram history to one folded grid (the
    * shared [[foldStore]] fence). Bounds the store at
    * b + b·(batches since last fold) rows.
    */
  def foldHist(db: graft.store.Db, tag: String = "t",
               waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    foldStore(db, s"foldHist($tag)", Seq(histPrefix(tag) + "%"), waitMillis,
      foldProp = Some(foldLastProp("hist", tag)), singlePartition = true)(
      storedHist(db, tag),
      _.select(format_string(histPrefix(tag) + "%06d", col("bin")).as("key"),
        lit(FOLD_TS).as("ts"), col("bin"), col("cnt")))

  /** Collapses the KMV store's superseded minima: keep the k smallest
    * ([[storedKmvSketch]] — by the union law, exactly the state any
    * future merge needs), drop everything they superseded. Lossless for
    * every report by construction; bounds the store at
    * k + k·(batches since last fold) rows.
    */
  def foldKmv(db: graft.store.Db, tag: String = "t",
              waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    foldStore(db, s"foldKmv($tag)", Seq(kmvKey(tag)), waitMillis,
      foldProp = Some(foldLastProp("kmv", tag)), singlePartition = true)(
      storedKmvSketch(db, tag),
      _.select(lit(kmvKey(tag)).as("key"), col("h").as("ts"), col("h")))

  /** Collapses the MG store's per-batch partials to ONE merged summary:
    * the ≤ c re-truncated candidates ([[storedMgCandidates]] — the
    * merged truncation is itself a valid MG(c) summary, so the global
    * error bound survives the fold; the SketchPropertySpec merge law)
    * plus one summed mass row, all at the reserved `ts = FOLD_TS`. The
    * fold is LOSSLESS for [[storedHeavyHitters]] whenever the merged
    * candidate set is within capacity at fold time (re-truncation is
    * then the identity — in particular, always, after a single batch);
    * past capacity it applies exactly one more valid truncation step.
    * Bounds the store at (c+1) + (c+1)·(batches since last fold) rows.
    * Both key families (candidates + mass) delete under ONE fenced
    * marker transaction ([[graft.store.TxWriter.deleteManyIf]]) so no
    * interleaving can observe candidates without their mass.
    */
  def foldMg(db: graft.store.Db, tag: String = "t",
             waitMillis: Long = FOLD_WAIT_MILLIS): Long = {
    val spark = db.spark
    val empty = spark.range(0).select(col("id").cast("string").as("key"),
      col("id").as("ts"))
    val prefixes = Seq(mgPrefix(tag) + "%", mgMassKey(tag))
    foldStore(db, s"foldMg($tag)", prefixes, waitMillis,
      foldProp = Some(foldLastProp("mg", tag)), singlePartition = true)({
        // emptiness signal: registerMg writes one mass row per batch,
        // so this tag has mass rows iff anything was ever registered —
        // checked at the SCHEMA level (free) plus a per-synthetic-group
        // mass aggregate that yields zero rows on an empty family,
        // replacing the old per-fold `mass.isEmpty` Spark job
        val snap = db.snapshot()
        if (snap.manifest.dataTxids.isEmpty) empty
        else {
          // one scan of both families, materialized once (guide §2.4)
          val all = Some(graft.core.Graft.pin(snap.readMany(prefixes)))
          val mass = famRows(snap, mgMassKey(tag), all)
          if (!mass.columns.contains("n_items")) empty
          else {
            val cands = storedMgCandidatesAt(db, snap, tag, all)
              .select(concat(lit(mgPrefix(tag)), col("item")).as("key"),
                lit(FOLD_TS).as("ts"), col("item"), col("est"))
            val total = mass
              .groupBy(lit(1).as("_g"))
              .agg(coalesce(sum(col("n_items")), lit(0L)).as("n_items"))
              .select(lit(mgMassKey(tag)).as("key"), lit(FOLD_TS).as("ts"),
                col("n_items"))
            cands.unionByName(total, allowMissingColumns = true)
          }
        }
      }, identity)
  }

  /** Grid evolution for the histogram store: re-bin the stored grid to
    * a COARSER width — the layout-migration device (the BM25 v1→v2
    * in-place migration, [[Retrieval.migrateBm25Layout]]) applied to
    * the sketch family. EXACT when `newW` is a positive multiple of the
    * stored width (every old bin maps whole into one new bin:
    * `newBin = oldBin DIV k`); the one caveat is mass the OLD grid
    * already clamped into its top bin — it stays at the old clamp
    * point, where a one-shot sketch at the new (wider-domain) grid
    * would have resolved it higher. For in-domain data the migrated
    * store equals the one-shot sketch at the new grid, which is what
    * the spec pins. The re-binned rows, the history-superseding marker
    * AND the rewritten `hist.w` property publish in ONE manifest commit
    * ([[graft.store.TxWriter.supersedeIf]]'s props rider), so no reader
    * can ever pair the new grid with old rows or vice versa; the
    * operation is index-sized (≤ b rows), never corpus-sized, and later
    * registrations must claim the NEW width.
    */
  def migrateHistGrid(db: graft.store.Db, newW: Long,
                      tag: String = "t",
                      waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    migrateGrid(db, s"migrateHistGrid($tag)", newW, histPrefix(tag) + "%",
      histWProp(tag), histOriginProp(tag), waitMillis,
      singlePartition = true)(
      storedHist(db, tag),
      (cur, k) => cur
        .select(expr(s"bin DIV $k").as("bin"), col("cnt"))
        .groupBy("bin").agg(sum(col("cnt")).as("cnt"))
        .select(format_string(histPrefix(tag) + "%06d", col("bin"))
          .as("key"), lit(FOLD_TS).as("ts"), col("bin"), col("cnt")))

  /** ONE copy of the grid-migration fence both histogram stores share
    * (the [[foldStore]] factoring applied to migrations): read the grid
    * from the SAME manifest state the fence checks, re-bin via the
    * store's own `rebin`, and publish rows + flipped props in one
    * conditional supersede. supersedeIf's CONDITIONAL publish is what
    * makes the property flip safe under concurrent old-grid
    * registrations: one that publishes in our window aborts the
    * migration (we re-read and re-bin it); one that publishes after us
    * re-checks its grid claim inside its own publishing CAS and is
    * refused (PropertyConflict) — no interleaving mixes widths.
    */
  private def migrateGrid(db: graft.store.Db, what: String, newW: Long,
                          wildcard: String, wProp: String, oProp: String,
                          waitMillis: Long, singlePartition: Boolean = false)
                         (stored: => DataFrame,
                          rebin: (DataFrame, Long) => DataFrame): Long = {
    val deadline = System.nanoTime() + waitMillis * 1000000L
    var attempt = 0
    while (System.nanoTime() < deadline) {
      val snap0 = db.snapshot()
      val baseline = snap0.manifest
      // a migration DECODES the stored bins at the claimed width and
      // then publishes the NEW width as a confident claim — on a
      // PRE-CLAIM store it would re-bin at a guessed default and
      // permanently mislabel the grid (worse than a guarded read: the
      // wrong geometry becomes claimed). Refuse until stamped.
      if (!baseline.props.contains(wProp) &&
          familyNonEmpty(snap0, wildcard))
        throw new IllegalStateException(
          unclaimedMsg(wProp, s"$what: stored grid width"))
      val (w, origin) = gridOf(baseline, wProp, oProp)
      require(newW >= w && newW % w == 0,
        s"new width $newW must be a positive multiple of stored width $w")
      if (newW == w) return -1L // already at this grid (driver-side, free)
      if (baseline.pending.nonEmpty) {
        attempt += 1
        Thread.sleep(math.min(100L * attempt, 2000L))
      } else {
        // Some(-1) = nothing stored to migrate, None = fence refused
        val cur = stored
        val res: Option[Long] =
          if (singlePartition) {
            if (cur.isEmpty) Some(-1L)
            else graft.store.TxWriter.supersedeIf(db, baseline,
              Seq(wildcard), rebin(cur, newW / w), // ≤ b rows: one pass
              props = Map(wProp -> newW.toString,
                oProp -> origin.toString),
              rangePartitions = Some(1))
          } else {
            // pin BEFORE the emptiness probe — same one-compute
            // argument as foldStore (re-binning preserves emptiness)
            val rebinned =
              rebin(cur, newW / w).transform(graft.core.Graft.pin)
            if (rebinned.isEmpty) Some(-1L)
            else graft.store.TxWriter.supersedeIf(db, baseline,
              Seq(wildcard), rebinned,
              props = Map(wProp -> newW.toString,
                oProp -> origin.toString))
          }
        res match {
          case Some(tx) => return tx // -1 = nothing stored to migrate
          case None     =>
            attempt += 1
            Thread.sleep(math.min(100L * attempt, 2000L))
        }
      }
    }
    throw new IllegalStateException(
      s"$what: could not migrate within " +
        s"${waitMillis / 1000} s of registration contention")
  }

  /** [[migrateHistGrid]] for the GROUPED store: re-bin every group's
    * grid to a coarser width in place (`newBin = oldBin DIV k` inside
    * each group — exact for multiples, same clamped-top-bin caveat),
    * flipping `histg.w` in the SAME atomic supersede so no reader can
    * pair the new grid with old rows. Index-sized (≤ b·groups rows),
    * never corpus-sized; later registrations must claim the NEW width.
    */
  def migrateHistGridBy(db: graft.store.Db, newW: Long,
                        tag: String = "t",
                        waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    migrateGrid(db, s"migrateHistGridBy($tag)", newW,
      histByPrefix(tag) + "%", histByWProp(tag), histByOriginProp(tag),
      waitMillis)(
      storedHistBy(db, tag),
      (cur, k) => cur
        .select(col("grp"), expr(s"bin DIV $k").as("bin"), col("cnt"))
        .groupBy("grp", "bin").agg(sum(col("cnt")).as("cnt"))
        .select(
          format_string(histByPrefix(tag) + "%s/%06d", col("grp"),
            col("bin")).as("key"),
          lit(FOLD_TS).as("ts"), col("grp"), col("bin"), col("cnt")))

  /** ONE copy of the fold fence every per-batch store shares: read the
    * current sums, then publish the tag's history-superseding delete
    * marker AND the folded replacement rows (at the reserved
    * `ts = FOLD_TS`, one txid above the marker so they survive it) in a
    * SINGLE manifest commit ([[graft.store.TxWriter.supersedeIf]]) —
    * atomic, so no crash or reader can observe the history deleted
    * without its replacement. The claim lands only if NOTHING moved
    * since the sums were read — not just `nextTxid`: a pre-baseline
    * claim that published after our read (published sets changed) or is
    * still in flight (pending non-empty) holds rows these sums never
    * saw, which the marker would erase (caught by the foldKmv
    * racing-writers case). On refusal the fold re-reads, so a racing
    * registration's counts are INCLUDED. Subsequent folds re-fold the
    * fold. Multi-prefix stores (MG) delete all their key families in
    * the one marker tx.
    */
  /** How long a fold (or grid migration) keeps waiting out concurrent
    * writers before giving up loudly. Time-based, not attempt-based: the
    * fence refuses while ANY claim is in flight, so a single bulk
    * ingest longer than the budget is the failure mode — and a fold is
    * maintenance, always safe to retry later, so the budget errs long.
    */
  val FOLD_WAIT_MILLIS: Long = 10 * 60 * 1000L

  /** The key under which a fold records ITS OWN published txid as a
    * table property (via supersedeIf's dynProps rider, so provenance
    * lands in the SAME commit as the fold): `fold.last/<family>/<tag>`.
    * A serving tier reads these off the manifest to report which fold
    * generation a stats body reflects — zero extra jobs.
    */
  private[graft] def foldLastProp(family: String, tag: String): String =
    s"fold.last/$family/$tag"

  /** `singlePartition`: the folded replacement is bounded by the store
    * GEOMETRY (ungrouped families — ≤ k/(c+1)/d·w/b rows), so the
    * supersede takes the single-partition write path (no range-sampling
    * job) and the pre-write pin is dropped — the replacement is computed
    * exactly once, inside the write job itself. Grouped folds
    * (group-count-sized replacements) keep the adaptive exchange + pin.
    */
  private def foldStore(db: graft.store.Db, what: String,
                        wildcards: Seq[String],
                        waitMillis: Long = FOLD_WAIT_MILLIS,
                        foldProp: Option[String] = None,
                        singlePartition: Boolean = false)
                       (stored: => DataFrame,
                        project: DataFrame => DataFrame): Long = {
    val deadline = System.nanoTime() + waitMillis * 1000000L
    var attempt = 0
    while (System.nanoTime() < deadline) {
      val baseline = graft.store.Manifest.current(db.warehouse)
      if (baseline.pending.nonEmpty) {
        // a write is in flight — don't even price the sums read, just
        // wait it out (publishes change the baseline; dead claims are
        // vacuum's job)
        attempt += 1
        Thread.sleep(math.min(100L * attempt, 2000L))
      } else {
        // Some(-1) = nothing to fold, None = fence refused
        val cur = stored
        val res: Option[Long] =
          if (singlePartition) {
            // bounded-by-geometry replacement: one compute, inside the
            // write job (no pin, no range-sampling job)
            if (cur.isEmpty) Some(-1L)
            else graft.store.TxWriter.supersedeIf(db, baseline, wildcards,
              project(cur),
              dynProps = tx => foldProp.map(_ -> tx.toString).toMap,
              rangePartitions = Some(1))
          } else {
            // pin BEFORE the emptiness probe (guide §1.4): the probe
            // executes the whole replacement plan anyway (aggregations
            // consume all their input), so materialize once and probe
            // the materialized blocks — one full compute instead of two
            val folded = project(cur).transform(graft.core.Graft.pin)
            if (folded.isEmpty) Some(-1L)
            else graft.store.TxWriter.supersedeIf(db, baseline, wildcards,
              folded,
              dynProps = tx => foldProp.map(_ -> tx.toString).toMap)
          }
        res match {
          case Some(tx) => return tx // -1 = nothing to fold
          case None     => // a commit raced in (or is in flight) — refold
            attempt += 1
            Thread.sleep(math.min(100L * attempt, 2000L))
        }
      }
    }
    throw new IllegalStateException(
      s"$what: could not fold within ${waitMillis / 1000} s of " +
        "registration contention (a crashed writer's pending claim needs " +
        "Compactor.vacuum)")
  }

  /** Collapses the per-batch history to one folded grid: range-delete
    * the tag's cells, then rewrite the current sums at the reserved
    * `ts = FOLD_TS` (write AFTER delete, so the fold's higher txid
    * survives the marker — the [[Similarity.buildIndex]] rebuild-
    * supersede pattern). Subsequent folds re-fold the fold: the sums
    * read before the delete already include it. Bounds the store at
    * d·w + d·w·(batches since last fold) rows; compaction purges the
    * deleted history physically.
    */
  def foldCountMin(db: graft.store.Db, tag: String = "t",
                   waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    foldStore(db, s"foldCountMin($tag)", Seq(cmPrefix(tag) + "%"),
      waitMillis, foldProp = Some(foldLastProp("cm", tag)),
      singlePartition = true)(
      storedCountMin(db, tag),
      _.select(
        format_string(cmPrefix(tag) + "%d/%06d", col("sk_row"), col("bucket"))
          .as("key"),
        lit(FOLD_TS).as("ts"), col("sk_row"), col("bucket"), col("c")))
}
