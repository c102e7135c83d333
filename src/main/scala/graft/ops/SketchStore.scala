package graft.ops

import graft.store.{Db, ManifestState, TxWriter}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental sketches backed by the engine's own warehouse — the
  * streaming-corpus counterpart of [[Sketches]]. Per-batch registration
  * keeps running cardinality / point-frequency / frequent-item /
  * quantile state WITHOUT rescanning history: all four summaries are
  * mergeable, and the warehouse's (key, ts) last-wins merge is exactly
  * the right fold. Every family exists on two sides — ungrouped and per
  * group — and both sides share one implementation; only a private
  * [[Side]] value chooses keys, claims, grouping columns and write
  * policy. The stored layout (a persistence contract — warehouses on
  * disk are read by these keys and claims; `SketchLayoutSpec` pins it):
  *
  * {{{
  * family side  key                               ts      columns              claims (…/<tag>)           fold.last/
  * KMV    flat  k/<tag>                           h       h                    kmv.k                      kmv
  * KMV    group kg/<tag>/<grp>                    h       grp h                kmvg.k                     kmvby
  * cm     flat  c/<tag>/<row>/<bucket:06>         batch   sk_row bucket c      cm.d cm.w                  cm
  * cm     group cg/<tag>/<esc grp>/<row>/<b:06>   batch   grp sk_row bucket c  cmg.d cmg.w                cmby
  * MG     flat  m/<tag>/<item> + mn/<tag>         batch   item est | n_items   mg.c                       mg
  * MG     group mg/<tag>/<esc grp>/<item>         batch   grp item est         mgg.c                      mgby
  *              + mgn/<tag>/<esc grp>                     grp n_items
  * hist   flat  h/<tag>/<bin:06>                  batch   bin cnt              hist.w hist.origin hist.b  hist
  * hist   group hg/<tag>/<grp>/<bin:06>           batch   grp bin cnt          histg.w histg.origin histg.b histby
  * trio   flat  the KMV, cm, MG and hist rows above, one transaction          sketches
  * trio   group the grouped KMV, cm, MG and hist rows, one transaction        sketchesby
  * }}}
  *
  *  - KMV rows are the batch's ≤ k hash minima: duplicate minima across
  *    batches land on the same (key, ts = h), and the k smallest stored
  *    minima ARE the sketch of everything registered (union law).
  *  - count-min, MG and hist rows are per-batch partials at
  *    `ts = batchId`, summed (MG: summed and re-truncated) at read time;
  *    re-registering a batchId rewrites the same (key, ts) rows, so
  *    registration is idempotent under streaming retries.
  *  - A fold supersedes a family's history with its merged rows at
  *    `ts = FOLD_TS` (KMV keeps `ts = h`) and records its txid under
  *    `fold.last/<family>/<tag>`.
  *  - `esc grp` replaces `~` by `~t` and `/` by `~s`, so the group
  *    segment holds no `/` where an item or cell tail follows it; grp and
  *    item are also stored as columns and no key is ever parsed back.
  *    Null groups and null elements are never stored.
  *  - The geometry claims are first-writer-wins table properties checked
  *    inside the publishing commit: rows from a different geometry are
  *    not mergeable, so a mismatched registration refuses, and readers
  *    take the geometry from the claim, never from a caller.
  */
object SketchStore {
  /** Reserved `ts` of folded rows; registrations use batchId ≥ 0. */
  val FOLD_TS: Long = -1L

  /** How long a fold (or grid migration) keeps waiting out concurrent
    * writers before giving up loudly. Time-based: the fence refuses
    * while ANY claim is in flight, and a fold is maintenance, always
    * safe to retry later, so the budget errs long.
    */
  val FOLD_WAIT_MILLIS: Long = 10 * 60 * 1000L

  /** One side of every family: what differs between an ungrouped store
    * and its per-group twin. Every operation below is written once and
    * takes a Side.
    */
  private final case class Side(grouped: Boolean) {
    private val g = if (grouped) "g" else ""
    /** The grouping columns: none, or `grp`. */
    val keyNames: Seq[String] = if (grouped) Seq("grp") else Nil
    val keys: Seq[Column] = keyNames.map(col)
    val label: String = if (grouped) "grouped " else ""
    val by: String = if (grouped) "By" else ""

    def kmvK(tag: String) = s"kmv$g.k/$tag"
    def mgC(tag: String) = s"mg$g.c/$tag"
    def cmD(tag: String) = s"cm$g.d/$tag"
    def cmW(tag: String) = s"cm$g.w/$tag"
    def histW(tag: String) = s"hist$g.w/$tag"
    def histO(tag: String) = s"hist$g.origin/$tag"
    def histB(tag: String) = s"hist$g.b/$tag"

    def kmvPat(tag: String) = if (grouped) s"kg/$tag/%" else s"k/$tag"
    def cmPat(tag: String) = s"c$g/$tag/%"
    def mgPat(tag: String) = s"m$g/$tag/%"
    def massPat(tag: String) = if (grouped) s"mgn/$tag/%" else s"mn/$tag"
    def histPat(tag: String) = s"h$g/$tag/%"

    def kmvKey(tag: String): Column =
      if (grouped) concat(lit(s"kg/$tag/"), col("grp")) else lit(s"k/$tag")
    def cmKey(tag: String): Column =
      if (grouped) concat(lit(s"cg/$tag/"), escGrp(col("grp")),
        format_string("/%d/%06d", col("sk_row"), col("bucket")))
      else format_string(s"c/$tag/%d/%06d", col("sk_row"), col("bucket"))
    def mgKey(tag: String): Column =
      if (grouped)
        concat(lit(s"mg/$tag/"), escGrp(col("grp")), lit("/"), col("item"))
      else concat(lit(s"m/$tag/"), col("item"))
    def massKey(tag: String): Column =
      if (grouped) concat(lit(s"mgn/$tag/"), escGrp(col("grp")))
      else lit(s"mn/$tag")
    def histKey(tag: String): Column =
      if (grouped) format_string(s"hg/$tag/%s/%06d", col("grp"), col("bin"))
      else format_string(s"h/$tag/%06d", col("bin"))

    /** `df` without rows whose group (or any of `cs`) is null. */
    def nonNull(df: DataFrame, cs: String*): DataFrame = {
      val all = keys ++ cs.map(col)
      if (all.isEmpty) df else df.filter(all.map(_.isNotNull).reduce(_ && _))
    }

    /** The write policy. Ungrouped rows are bounded by the store's
      * geometry (≤ k, d·w, c+1 or b rows per family), so they take the
      * single-partition write path: no range exchange, no sampling job,
      * the rows computed once inside the write job. Grouped rows scale
      * with the group count: range-partitioned, and pinned first because
      * the range exchange samples its input (unpinned, every branch
      * aggregation would run twice).
      */
    def write(db: Db, rows: DataFrame, claim: Map[String, String],
              cursor: Option[(String, Long)], sinkProps: Map[String, String],
              fuse: Boolean): Long =
      TxWriter.write(db, if (grouped) graft.core.Graft.pin(rows) else rows,
        rangePartitions = if (grouped) None else Some(1), props = sinkProps,
        propsClaim = claim, streamCursor = cursor, fuse = fuse)
  }

  private val Flat = Side(grouped = false)
  private val ByGroup = Side(grouped = true)
  private def sideOf(grp: Option[Column]) = if (grp.isDefined) ByGroup else Flat

  /** Injective group escape for keys where an item or cell tail follows
    * the group segment: (grp "a/b", item "c") and (grp "a", item "b/c")
    * would otherwise share a key and last-wins would drop a cell.
    */
  private def escGrp(grp: Column): Column =
    regexp_replace(regexp_replace(grp, "~", "~t"), "/", "~s")

  /** `(key, ts, grp?, values…)` — the one row shape of every family. */
  private def shape(s: Side, key: Column, ts: Column, values: String*)(
      df: DataFrame): DataFrame =
    df.select(Seq(key.as("key"), ts.as("ts")) ++ s.keys ++ values.map(col): _*)

  private def kmvShape(s: Side, tag: String) =
    shape(s, s.kmvKey(tag), col("h"), "h") _
  private def cmShape(s: Side, tag: String, ts: Long) =
    shape(s, s.cmKey(tag), lit(ts), "sk_row", "bucket", "c") _
  private def mgShape(s: Side, tag: String, ts: Long) =
    shape(s, s.mgKey(tag), lit(ts), "item", "est") _
  private def massShape(s: Side, tag: String, ts: Long) =
    shape(s, s.massKey(tag), lit(ts), "n_items") _
  private def histShape(s: Side, tag: String, ts: Long) =
    shape(s, s.histKey(tag), lit(ts), "bin", "cnt") _

  // ── geometry claims ────────────────────────────────────────────────

  private def intProp(m: ManifestState, prop: String, dflt: Int): Int =
    m.props.get(prop).map(_.toInt).getOrElse(dflt)

  private def cmGridOf(m: ManifestState, s: Side, tag: String): (Int, Long) =
    (intProp(m, s.cmD(tag), Sketches.CM_D),
      m.props.get(s.cmW(tag)).map(_.toLong).getOrElse(Sketches.CM_W))

  private def histGridOf(m: ManifestState, s: Side,
                         tag: String): (Long, Long) =
    (m.props.get(s.histW(tag)).map(_.toLong).getOrElse(Sketches.HIST_W),
      m.props.get(s.histO(tag)).map(_.toLong).getOrElse(0L))

  private def cmClaim(s: Side, tag: String, d: Int,
                      w: Long): Map[String, String] =
    Map(s.cmD(tag) -> d.toString, s.cmW(tag) -> w.toString)

  /** `b` is part of the grid: the top bin CLAMPS at b−1, so batches
    * binned at different b put their clamped mass at different bins.
    */
  private def histClaim(s: Side, tag: String, b: Int, w: Long,
                        origin: Long): Map[String, String] =
    Map(s.histW(tag) -> w.toString, s.histO(tag) -> origin.toString,
      s.histB(tag) -> b.toString)

  /** Friendly pre-write mismatch error for a single-int geometry (KMV k,
    * MG c); the claim inside the publishing CAS stays the authority.
    * With the claim absent, rows already under `pattern` mean a
    * PRE-CLAIM store: a fresh claim must not be trusted over rows whose
    * geometry nobody recorded (a later fold at a wrongly claimed smaller
    * k would truncate data for good), so it refuses until
    * [[stampGeometry]] states the true geometry. Claim and row existence
    * come from one snapshot, so a concurrent first registration cannot
    * make a valid same-geometry writer refuse.
    */
  private def requireIntGeom(db: Db, prop: String, v: Int,
                             what: String)(pattern: String): Unit = {
    val snap = db.snapshot()
    val ex = snap.manifest.props.get(prop)
    require(ex.forall(_ == v.toString),
      s"$what mismatch: stored ${ex.getOrElse("-")} vs registration $v " +
        s"(property $prop)")
    if (ex.isEmpty && familyNonEmpty(snap, pattern))
      throw new IllegalStateException(unclaimedMsg(prop, what))
  }

  private def requireCmGrid(s: Side, db: Db, tag: String, d: Int,
                            w: Long): Unit = {
    val snap = db.snapshot()
    val exD = snap.manifest.props.get(s.cmD(tag))
    val exW = snap.manifest.props.get(s.cmW(tag))
    require(exD.forall(_ == d.toString) && exW.forall(_ == w.toString),
      s"count-min geometry mismatch for ${s.label}tag '$tag': stored " +
        s"(d=${exD.getOrElse("-")}, w=${exW.getOrElse("-")}) " +
        s"vs registration (d=$d, w=$w)")
    if (exD.isEmpty && exW.isEmpty && familyNonEmpty(snap, s.cmPat(tag)))
      throw new IllegalStateException(unclaimedMsg(s.cmD(tag),
        s"${s.label}count-min geometry for tag '$tag'"))
  }

  /** Fully unclaimed OR partially claimed (b joined the grid claim after
    * (w, origin): a pre-b store's rows clamp at an unrecorded cap) grids
    * refuse over existing rows until stamped.
    */
  private def requireHistGrid(s: Side, db: Db, tag: String, b: Int, w: Long,
                              origin: Long): Unit = {
    val snap = db.snapshot()
    val m = snap.manifest
    val exW = m.props.get(s.histW(tag))
    val exO = m.props.get(s.histO(tag))
    val exB = m.props.get(s.histB(tag))
    require(exW.forall(_ == w.toString) &&
        exO.forall(_ == origin.toString) && exB.forall(_ == b.toString),
      s"histogram grid mismatch for ${s.label}tag '$tag': stored " +
        s"(b=${exB.getOrElse("-")}, w=${exW.getOrElse("-")}, " +
        s"origin=${exO.getOrElse("-")}) " +
        s"vs registration (b=$b, w=$w, origin=$origin)")
    if ((exW.isEmpty || exB.isEmpty) && familyNonEmpty(snap, s.histPat(tag)))
      throw new IllegalStateException(unclaimedMsg(
        if (exW.isEmpty) s.histW(tag) else s.histB(tag),
        s"${s.label}histogram grid for tag '$tag'"))
  }

  private def requireBatchId(batchId: Long): Unit =
    require(batchId >= 0, s"batchId must be >= 0 ($FOLD_TS is reserved)")

  /** Per-(warehouse identity, manifest version) memo for the pre-claim
    * emptiness probes: an UNCLAIMED store's guard costs one Spark job
    * per manifest version TOTAL, not one per call. Sound because
    * warehouse contents are immutable per manifest version; the identity
    * component keeps a warehouse recreated at the same path from
    * aliasing a stale entry. Claimed steady state never consults it.
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
    def cached(m: ManifestState, key: String)(probe: => Boolean): Boolean = {
      // a manifest that predates the identity UUID (created == "") cannot
      // be told apart from another such warehouse at a coinciding
      // version: never memoize those (one probe per call), because a
      // cross-warehouse aliased verdict would be a silent wrong answer
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

  /** True iff the snapshot already holds rows under `pattern`: free on a
    * fresh warehouse, one key-pruned probe per manifest version
    * otherwise ([[EmptinessMemo]]).
    */
  private def familyNonEmpty(snap: Db#Snapshot, pattern: String): Boolean =
    snap.manifest.dataTxids.nonEmpty &&
      EmptinessMemo.cached(snap.manifest, s"fam:$pattern")(
        !snap.read(pattern).isEmpty)

  private def unclaimedMsg(prop: String, what: String): String =
    s"$what unclaimed for a NON-EMPTY store: rows exist but property " +
      s"'$prop' is absent (written by a pre-claim engine version). " +
      "Proceeding at the defaults could silently corrupt or misreport " +
      "the store — stamp its true geometry first: " +
      "SketchStore.stampGeometry(db, tag, ...)"

  /** Reader-side guard for pre-claim stores: a geometry-dependent read
    * of rows whose claim is absent refuses instead of decoding at the
    * defaults. Free on claimed stores.
    */
  private def requireClaimedOrEmpty(snap: Db#Snapshot, prop: String,
                                    rows: DataFrame, what: String): Unit =
    if (!snap.manifest.props.contains(prop) &&
        EmptinessMemo.cached(snap.manifest, s"read:$prop")(!rows.isEmpty))
      throw new IllegalStateException(unclaimedMsg(prop, what))

  /** Operator escape hatch for PRE-CLAIM stores: record the geometry a
    * legacy store was ACTUALLY written with, so its claim-checked reads
    * and registrations proceed. First-writer-wins like the claims — a
    * stamp that disagrees with an existing property refuses
    * ([[graft.store.TxWriter.PropertyConflict]]); each Option stamps one
    * family (ungrouped / grouped KMV k, MG c, count-min (d, w),
    * histogram (b, w, origin)).
    */
  def stampGeometry(db: Db, tag: String = "t",
                    kmvK: Option[Int] = None, kmvByK: Option[Int] = None,
                    mgC: Option[Int] = None, mgByC: Option[Int] = None,
                    cm: Option[(Int, Long)] = None,
                    cmBy: Option[(Int, Long)] = None,
                    hist: Option[(Int, Long, Long)] = None,
                    histBy: Option[(Int, Long, Long)] = None): Unit = {
    val claims = Seq((Flat, kmvK, mgC, cm, hist),
        (ByGroup, kmvByK, mgByC, cmBy, histBy)).flatMap {
      case (s, k, c, grid, h) =>
        k.map(s.kmvK(tag) -> _.toString) ++ c.map(s.mgC(tag) -> _.toString) ++
          grid.toSeq.flatMap { case (d, w) => cmClaim(s, tag, d, w) } ++
          h.toSeq.flatMap { case (b, w, o) => histClaim(s, tag, b, w, o) }
    }.toMap
    require(claims.nonEmpty, "stampGeometry: nothing to stamp")
    graft.store.Manifest.stampProps(db.warehouse, claims)
  }

  // ── registration ───────────────────────────────────────────────────

  private def withGrp(batch: DataFrame, grp: Option[Column],
                      cols: Column*): DataFrame =
    batch.select(grp.map(_.as("grp")).toSeq ++ cols: _*)

  /** A batch's ≤ k minima per group (KmvAgg: partial buffers merge
    * map-side, a group's shuffle traffic is k longs per partition).
    * Null hashes (null elements) are excluded here, the single
    * enforcement point: the primitive-Long udaf would unbox them to a
    * spurious h = 0 minimum.
    */
  private def kmvRows(s: Side, tag: String, hashed: DataFrame,
                      k: Int): DataFrame =
    s.nonNull(hashed, "h").groupBy(s.keys: _*)
      .agg(graft.functions.KmvAgg.kmv(k)(col("h")).as("hs"))
      .select(s.keys :+ explode(col("hs")).as("h"): _*)
      .transform(kmvShape(s, tag))

  /** Exact (grp?, item, cnt) counts: the multiset KMV, count-min and MG
    * are all pure functions of.
    */
  private def itemCounts(s: Side, items: DataFrame): DataFrame =
    s.nonNull(items, "item").groupBy(s.keys :+ col("item"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** MG partial (truncate-over-exact-counts) plus mass rows at `ts`.
    * The ungrouped mass is a global aggregate: one row, 0 for an empty
    * batch.
    */
  private def mgRows(s: Side, tag: String, counts: DataFrame, ts: Long,
                     c: Int): DataFrame = {
    val partial = truncate(s,
        counts.select(s.keys ++ Seq(col("item"), col("cnt").as("f")): _*), c)
      .transform(mgShape(s, tag, ts))
    val mass =
      if (s.grouped) counts.groupBy("grp").agg(sum(col("cnt")).as("n_items"))
      else counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_items"))
    partial.unionByName(mass.transform(massShape(s, tag, ts)),
      allowMissingColumns = true)
  }

  private def truncate(s: Side, summed: DataFrame, c: Int): DataFrame =
    if (s.grouped) Sketches.mgTruncateBy(summed, c)
    else Sketches.mgTruncate(summed, c)

  private def histOf(df: DataFrame, grp: Option[Column], v: Column, b: Int,
                     w: Long, origin: Long): DataFrame =
    grp.fold(Sketches.histSketch(df, v, b, w, origin))(
      Sketches.histSketchBy(df, _, v, b, w, origin))

  private def regKmv(db: Db, batch: DataFrame, grp: Option[Column],
                     elem: Column, tag: String, k: Int,
                     cursor: Option[(String, Long)],
                     sinkProps: Map[String, String], fuse: Boolean): Long = {
    val s = sideOf(grp)
    requireIntGeom(db, s.kmvK(tag), k, s"${s.label}KMV k for tag '$tag'")(
      s.kmvPat(tag))
    s.write(db,
      kmvRows(s, tag, withGrp(batch, grp, PortableHash.h60(elem).as("h")), k),
      Map(s.kmvK(tag) -> k.toString), cursor, sinkProps, fuse)
  }

  private def regCountMin(db: Db, batch: DataFrame, grp: Option[Column],
                          elem: Column, batchId: Long, tag: String, d: Int,
                          w: Long, cursor: Option[(String, Long)],
                          sinkProps: Map[String, String],
                          fuse: Boolean): Long = {
    val s = sideOf(grp)
    requireBatchId(batchId)
    requireCmGrid(s, db, tag, d, w)
    val grid = grp.fold(Sketches.countMinSketch(batch, elem, d, w))(
      Sketches.countMinSketchBy(batch, _, elem, d, w))
    s.write(db, grid.transform(cmShape(s, tag, batchId)),
      cmClaim(s, tag, d, w), cursor, sinkProps, fuse)
  }

  private def regMg(db: Db, batch: DataFrame, grp: Option[Column],
                    elem: Column, batchId: Long, tag: String, c: Int,
                    cursor: Option[(String, Long)],
                    sinkProps: Map[String, String], fuse: Boolean): Long = {
    val s = sideOf(grp)
    requireBatchId(batchId)
    requireIntGeom(db, s.mgC(tag), c, s"${s.label}MG c for tag '$tag'")(
      s.mgPat(tag))
    // partial and mass both derive from the exact counts: aggregate once
    // and materialize the vocabulary-sized result, not the raw stream
    val counts = graft.core.Graft.pin(
      itemCounts(s, withGrp(batch, grp, elem.as("item"))))
    s.write(db, mgRows(s, tag, counts, batchId, c),
      Map(s.mgC(tag) -> c.toString), cursor, sinkProps, fuse)
  }

  private def regHist(db: Db, batch: DataFrame, grp: Option[Column],
                      value: Column, batchId: Long, tag: String, b: Int,
                      w: Long, origin: Long, cursor: Option[(String, Long)],
                      sinkProps: Map[String, String], fuse: Boolean): Long = {
    val s = sideOf(grp)
    requireBatchId(batchId)
    requireHistGrid(s, db, tag, b, w, origin)
    s.write(db, histOf(batch, grp, value, b, w, origin)
        .transform(histShape(s, tag, batchId)),
      histClaim(s, tag, b, w, origin), cursor, sinkProps, fuse)
  }

  /** The trio (+ hist rider) as ONE transaction: one claim, one publish,
    * atomic across the families. KMV, count-min and MG are pure
    * functions of the batch's exact (grp?, item) counts, so ONE
    * aggregation feeds all three; it is not pinned — its exchange
    * subtree is byte-identical in every branch and the write job computes
    * it once through exchange reuse. With a `valueCol` the projection is
    * pinned instead, so the hist bins and the counts don't run the batch
    * lineage twice. Each family's rows are exactly its standalone
    * registration's.
    */
  private def regTrio(db: Db, batch: DataFrame, grp: Option[Column],
                      elem: Column, batchId: Long, tag: String, k: Int,
                      d: Int, cmW: Long, c: Int, valueCol: Option[Column],
                      b: Int, w: Long, origin: Long,
                      cursor: Option[(String, Long)],
                      sinkProps: Map[String, String], fuse: Boolean): Long = {
    val s = sideOf(grp)
    requireBatchId(batchId)
    requireCmGrid(s, db, tag, d, cmW)
    requireIntGeom(db, s.kmvK(tag), k, s"${s.label}KMV k for tag '$tag'")(
      s.kmvPat(tag))
    requireIntGeom(db, s.mgC(tag), c, s"${s.label}MG c for tag '$tag'")(
      s.mgPat(tag))
    valueCol.foreach(_ => requireHistGrid(s, db, tag, b, w, origin))
    val base0 = withGrp(batch, grp,
      elem.as("item") +: valueCol.map(_.as("v")).toSeq: _*)
    val base = valueCol.fold(base0)(_ => graft.core.Graft.pin(base0))
    val counts = itemCounts(s, base.select(s.keys :+ col("item"): _*))
    val kmv = kmvRows(s, tag,
      counts.select(s.keys :+ PortableHash.h60(col("item")).as("h"): _*), k)
    val cm = (if (s.grouped) Sketches.countMinSketchByCounts(counts, d, cmW)
      else Sketches.countMinSketchCounts(counts, d, cmW))
      .transform(cmShape(s, tag, batchId))
    val mg = mgRows(s, tag, counts, batchId, c)
    val hist = valueCol.map(_ =>
      histOf(base, grp.map(_ => col("grp")), col("v"), b, w, origin)
        .transform(histShape(s, tag, batchId)))
    val fams = (if (s.grouped) Seq(kmv, mg, cm) else Seq(kmv, cm, mg)) ++ hist
    s.write(db, fams.reduce(_.unionByName(_, allowMissingColumns = true)),
      cmClaim(s, tag, d, cmW) ++
        Map(s.kmvK(tag) -> k.toString, s.mgC(tag) -> c.toString) ++
        valueCol.fold(Map.empty[String, String])(_ =>
          histClaim(s, tag, b, w, origin)),
      cursor, sinkProps, fuse)
  }

  // ── reads ──────────────────────────────────────────────────────────

  private def snapOf(db: Db, at: Option[Db#Snapshot]): Db#Snapshot =
    at.getOrElse(db.snapshot())

  /** One family's visible rows, None when the warehouse is empty or has
    * never held the family's columns. `pre` is a fused pre-read of
    * several families ([[graft.store.Db.Snapshot.readMany]]: one store
    * scan instead of one per family), filtered by the same predicate a
    * direct read applies; last-wins and deletes act per key, so both
    * paths are row-identical for the disjoint key families.
    */
  private def famRows(s: Side, snap: Db#Snapshot, pattern: String,
                      pre: Option[DataFrame], need: String*)
      : Option[DataFrame] =
    if (snap.manifest.dataTxids.isEmpty) None
    else Some(pre.fold(snap.read(pattern))(
        graft.series.SeriesOps.keyFilter(_, pattern)))
      .filter(r => (s.keyNames ++ need).forall(r.columns.contains))

  private def emptyOf(db: Db, s: Side, cols: (String, String)*): DataFrame =
    db.spark.range(0).select(
      (s.keyNames.map(_ -> "string") ++ cols).map { case (n, t) =>
        col("id").cast(t).as(n) }: _*)

  private def fusedRead(snap: Db#Snapshot,
                        patterns: Seq[String]): Option[DataFrame] =
    if (snap.manifest.dataTxids.isEmpty) None
    else Some(graft.core.Graft.pin(snap.readMany(patterns)))

  /** The k smallest distinct stored minima (k from the claim) per group.
    * Ungrouped: a driver-side top-k; grouped: a window PARTITIONED by
    * group, never a single-partition stage.
    */
  private def kmvSketch(s: Side, db: Db, snap: Db#Snapshot, tag: String,
                        pre: Option[DataFrame] = None): DataFrame = {
    val k = intProp(snap.manifest, s.kmvK(tag), Sketches.KMV_K)
    famRows(s, snap, s.kmvPat(tag), pre, "h")
      .fold(emptyOf(db, s, "h" -> "bigint")) { rows =>
        requireClaimedOrEmpty(snap, s.kmvK(tag), rows,
          s"${s.label}KMV k for tag '$tag'")
        if (!s.grouped) rows.select(col("h")).orderBy("h").limit(k)
        else rows.select(col("grp"), col("h"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("grp")
              .orderBy("h")))
          .filter(col("rk") <= k).drop("rk")
      }
  }

  /** Estimates via THE shared estimator column; the estimator's k is
    * the claim off the same snapshot as the rows (an estimator k above
    * the stored one would read a full sketch as the exact set).
    */
  private def kmvEstimate(s: Side, db: Db, snap: Db#Snapshot,
                          tag: String): DataFrame = {
    val k = intProp(snap.manifest, s.kmvK(tag), Sketches.KMV_K)
    val est = kmvSketch(s, db, snap, tag).groupBy(s.keys: _*)
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
      .select(s.keys ++ Seq(col("n_sketch"), col("kth_hash"),
        Sketches.kmvEstimateCol(col("n_sketch"), col("kth_hash"), k)
          .as("est_distinct")): _*)
    if (s.grouped) est.orderBy("grp") else est
  }

  private def cmGrid(s: Side, db: Db, snap: Db#Snapshot, tag: String,
                     pre: Option[DataFrame] = None): DataFrame =
    famRows(s, snap, s.cmPat(tag), pre, "c")
      .fold(emptyOf(db, s, "sk_row" -> "int", "bucket" -> "bigint",
        "c" -> "bigint"))(
        _.groupBy(s.keys ++ Seq(col("sk_row"), col("bucket")): _*)
          .agg(sum(col("c")).as("c")))

  /** Probes at the CLAIMED geometry off the grid's own snapshot: a
    * guessed (d, w) would hash items into the wrong cells silently.
    * Ungrouped, the ≤ d·w grid broadcasts; grouped, it joins on
    * (grp, cell).
    */
  private def probeCm(s: Side, db: Db, snap: Db#Snapshot, items: DataFrame,
                      grpCol: Option[String], elemCol: String,
                      tag: String): DataFrame = {
    val grid = cmGrid(s, db, snap, tag)
    requireClaimedOrEmpty(snap, s.cmD(tag), grid,
      s"${s.label}count-min geometry for tag '$tag'")
    val (d, w) = cmGridOf(snap.manifest, s, tag)
    grpCol.fold(Sketches.countMinProbe(items, grid, elemCol, d, w))(
      Sketches.countMinProbeBy(items, grid, _, elemCol, d, w))
  }

  /** Per-(grp?, item) sums re-truncated to ≤ c: a valid MG(c) summary of
    * the concatenated stream — every truncation retires ≥ (c+1)× its
    * own error, so `true − n/(c+1) ≤ est ≤ true` survives the merge.
    */
  private def mgCandidates(s: Side, db: Db, snap: Db#Snapshot, tag: String,
                           pre: Option[DataFrame] = None): DataFrame = {
    val c = intProp(snap.manifest, s.mgC(tag), Sketches.MG_C)
    famRows(s, snap, s.mgPat(tag), pre, "est")
      .fold(emptyOf(db, s, "item" -> "string", "est" -> "bigint")) { rows =>
        requireClaimedOrEmpty(snap, s.mgC(tag), rows,
          s"${s.label}MG c for tag '$tag'")
        truncate(s, rows.groupBy(s.keys :+ col("item"): _*)
          .agg(sum(col("est")).as("f")), c)
      }
  }

  /** Registered mass: one row (0 when empty) ungrouped, one per group. */
  private def mgMass(s: Side, db: Db, snap: Db#Snapshot, tag: String,
                     pre: Option[DataFrame] = None): DataFrame =
    famRows(s, snap, s.massPat(tag), pre, "n_items") match {
      case None if s.grouped => emptyOf(db, s, "n" -> "bigint")
      case None => db.spark.range(1).select(lit(0L).as("n"))
      case Some(rows) if s.grouped =>
        rows.groupBy("grp").agg(sum(col("n_items")).as("n"))
      case Some(rows) =>
        rows.agg(coalesce(sum(col("n_items")), lit(0L)).as("n"))
    }

  /** Candidates with their mass `n` and a 0/1 `certain` column:
    * `est·(c+1) > n` means even the LOWER bound clears n/(c+1). Both
    * come from ONE snapshot and one fused, pinned scan — a registration
    * between two reads could pair one generation's counts with the
    * other's smaller mass and falsely certify an item. Ungrouped, the
    * one mass row is broadcast; grouped, the join is keyed by group.
    */
  private def heavyHitters(s: Side, db: Db, snap: Db#Snapshot,
                           tag: String): DataFrame = {
    val c = intProp(snap.manifest, s.mgC(tag), Sketches.MG_C)
    val pre = fusedRead(snap, Seq(s.mgPat(tag), s.massPat(tag)))
    val cands = mgCandidates(s, db, snap, tag, pre)
    val mass = mgMass(s, db, snap, tag, pre)
    (if (s.grouped) cands.join(mass, Seq("grp"))
     else cands.crossJoin(broadcast(mass)))
      .select(s.keys ++ Seq(col("item"), col("est"), col("n"),
        (col("est") * (c + 1) > col("n")).cast("long").as("certain")): _*)
  }

  private def hist(s: Side, db: Db, snap: Db#Snapshot, tag: String,
                   pre: Option[DataFrame] = None): DataFrame =
    famRows(s, snap, s.histPat(tag), pre, "cnt")
      .fold(emptyOf(db, s, "bin" -> "bigint", "cnt" -> "bigint"))(rows =>
        s.nonNull(rows).groupBy(s.keys :+ col("bin"): _*)
          .agg(sum(col("cnt")).as("cnt")))

  /** Quantiles decoded at the claimed grid off the rows' own snapshot:
    * since grids migrate, a two-phase read could decode re-binned rows
    * at a stale width.
    */
  private def histQuantiles(s: Side, db: Db, snap: Db#Snapshot,
                            qms: Seq[Int], tag: String): DataFrame = {
    val h = hist(s, db, snap, tag)
    requireClaimedOrEmpty(snap, s.histW(tag), h,
      s"${s.label}histogram grid for tag '$tag'")
    val (w, origin) = histGridOf(snap.manifest, s, tag)
    if (s.grouped) Sketches.histQuantilesFromBy(h, qms, w, origin)
    else Sketches.histQuantiles(h, qms, w, origin)
  }

  // ── folds and grid migration ───────────────────────────────────────

  /** The key under which a fold records its own published txid, in the
    * same commit (supersedeIf's dynProps rider): a serving tier reports
    * which fold generation a body reflects for zero extra jobs.
    */
  private[graft] def foldLastProp(family: String, tag: String): String =
    s"fold.last/$family/$tag"

  /** Runs `attempt` until it publishes (Some(tx), -1 = nothing to do) or
    * the wait budget runs out.
    */
  private def retrying(what: String, verb: String, waitMillis: Long,
                       hint: String)(attempt: => Option[Long]): Long = {
    val deadline = System.nanoTime() + waitMillis * 1000000L
    var n = 0
    while (System.nanoTime() < deadline) {
      attempt match {
        case Some(tx) => return tx
        case None =>
          n += 1
          Thread.sleep(math.min(100L * n, 2000L))
      }
    }
    throw new IllegalStateException(s"$what: could not $verb within " +
      s"${waitMillis / 1000} s of registration contention$hint")
  }

  /** Publishes `project(raw)` as the superseding generation of
    * `wildcards` — marker and rows in ONE manifest commit, and only if
    * nothing moved since `baseline` ([[graft.store.TxWriter.supersedeIf]];
    * None = refused). Ungrouped replacements are geometry-bounded: an
    * emptiness probe on `raw`, then one compute inside the
    * single-partition write job. Grouped ones are pinned BEFORE the
    * emptiness probe, which would otherwise compute them a second time.
    */
  private def publish(s: Side, db: Db, baseline: ManifestState,
                      wildcards: Seq[String], raw: DataFrame,
                      project: DataFrame => DataFrame,
                      props: Map[String, String] = Map.empty,
                      dynProps: Long => Map[String, String] = _ => Map.empty)
      : Option[Long] =
    if (s.grouped) {
      val rows = graft.core.Graft.pin(project(raw))
      if (rows.isEmpty) Some(-1L)
      else TxWriter.supersedeIf(db, baseline, wildcards, rows, props = props,
        dynProps = dynProps)
    } else if (raw.isEmpty) Some(-1L)
    else TxWriter.supersedeIf(db, baseline, wildcards, project(raw),
      props = props, dynProps = dynProps, rangePartitions = Some(1))

  /** THE fold fence: read the merged rows off one snapshot and publish
    * them at `FOLD_TS` over the superseded history, atomically, only if
    * no claim is in flight and nothing published since the read (a
    * racing registration's rows would be erased by the marker; on
    * refusal the fold re-reads and includes them). Later folds re-fold
    * the fold.
    */
  private def fold(s: Side, db: Db, op: String, family: String, tag: String,
                   waitMillis: Long, wildcards: Seq[String])(
      raw: Db#Snapshot => DataFrame,
      project: DataFrame => DataFrame = identity): Long =
    retrying(s"fold$op${s.by}($tag)", "fold", waitMillis,
        " (a crashed writer's pending claim needs Compactor.vacuum)") {
      val snap = db.snapshot()
      if (snap.manifest.pending.nonEmpty) None
      else publish(s, db, snap.manifest, wildcards, raw(snap), project,
        dynProps = tx => Map(foldLastProp(
          family + (if (s.grouped) "by" else ""), tag) -> tx.toString))
    }

  private def emptyFold(db: Db): DataFrame =
    db.spark.range(0).select(col("id").cast("string").as("key"),
      col("id").as("ts"))

  /** Merged MG candidates + summed masses at FOLD_TS. None = nothing
    * registered (no mass rows): every branch aggregates per group, so
    * the ungrouped mass sums per synthetic group, which yields ZERO rows
    * on an empty family where a global aggregate would mint one.
    */
  private def mgFoldRows(s: Side, db: Db, snap: Db#Snapshot, tag: String,
                         pre: Option[DataFrame]): Option[DataFrame] =
    famRows(s, snap, s.massPat(tag), pre, "n_items").map { mass =>
      val total =
        if (s.grouped)
          mass.groupBy("grp").agg(sum(col("n_items")).as("n_items"))
        else mass.groupBy(lit(1).as("_g"))
          .agg(coalesce(sum(col("n_items")), lit(0L)).as("n_items"))
      mgCandidates(s, db, snap, tag, pre).transform(mgShape(s, tag, FOLD_TS))
        .unionByName(total.transform(massShape(s, tag, FOLD_TS)),
          allowMissingColumns = true)
    }

  private def kmvFold(s: Side, db: Db, tag: String, waitMillis: Long): Long =
    fold(s, db, "Kmv", "kmv", tag, waitMillis, Seq(s.kmvPat(tag)))(
      kmvSketch(s, db, _, tag), kmvShape(s, tag))

  private def cmFold(s: Side, db: Db, tag: String, waitMillis: Long): Long =
    fold(s, db, "CountMin", "cm", tag, waitMillis, Seq(s.cmPat(tag)))(
      cmGrid(s, db, _, tag), cmShape(s, tag, FOLD_TS))

  private def histFold(s: Side, db: Db, tag: String, waitMillis: Long): Long =
    fold(s, db, "Hist", "hist", tag, waitMillis, Seq(s.histPat(tag)))(
      hist(s, db, _, tag), histShape(s, tag, FOLD_TS))

  /** Candidates and mass delete under ONE marker, so no interleaving
    * observes candidates without their mass. Lossless whenever the
    * merged candidates are within capacity; past it, exactly one more
    * valid truncation step.
    */
  private def mgFold(s: Side, db: Db, tag: String, waitMillis: Long): Long = {
    val pats = Seq(s.mgPat(tag), s.massPat(tag))
    fold(s, db, "Mg", "mg", tag, waitMillis, pats)(snap =>
      fusedRead(snap, pats).flatMap(pre => mgFoldRows(s, db, snap, tag,
        Some(pre))).getOrElse(emptyFold(db)))
  }

  /** Every family of the side under one marker and one commit, from ONE
    * snapshot and one fused, pinned scan. Families with no rows under
    * the tag contribute none: every branch aggregates per key group.
    */
  private def trioFold(s: Side, db: Db, tag: String, waitMillis: Long): Long = {
    val pats =
      if (s.grouped) Seq(s.kmvPat(tag), s.mgPat(tag), s.massPat(tag),
        s.histPat(tag), s.cmPat(tag))
      else Seq(s.kmvPat(tag), s.cmPat(tag), s.mgPat(tag), s.massPat(tag),
        s.histPat(tag))
    fold(s, db, "Sketches", "sketches", tag, waitMillis, pats)(snap =>
      fusedRead(snap, pats).fold(emptyFold(db)) { all =>
        val pre = Some(all)
        val kmv = kmvSketch(s, db, snap, tag, pre).transform(kmvShape(s, tag))
        val cm =
          cmGrid(s, db, snap, tag, pre).transform(cmShape(s, tag, FOLD_TS))
        val h =
          hist(s, db, snap, tag, pre).transform(histShape(s, tag, FOLD_TS))
        val mg = mgFoldRows(s, db, snap, tag, pre).toSeq
        val fams =
          if (s.grouped) Seq(kmv) ++ mg ++ Seq(cm, h) else Seq(kmv, cm, h) ++ mg
        fams.reduce(_.unionByName(_, allowMissingColumns = true))
      })
  }

  /** Re-bins the stored histogram to a COARSER width in place
    * (`newBin = oldBin DIV newW/w` per group): exact for positive
    * multiples, except mass the old grid already clamped into its top
    * bin, which stays at the old clamp point. Rows, the superseding
    * marker AND the flipped width property publish in ONE conditional
    * commit, so no reader pairs the new grid with old rows; a
    * registration at the old width that publishes first aborts the
    * attempt (re-read and re-bin), one that publishes after is refused
    * by its own grid claim. Index-sized, never corpus-sized.
    */
  private def migrate(s: Side, db: Db, newW: Long, tag: String,
                      waitMillis: Long): Long = {
    val what = s"migrateHistGrid${s.by}($tag)"
    retrying(what, "migrate", waitMillis, "") {
      val snap = db.snapshot()
      val baseline = snap.manifest
      // decoding at a guessed default and then CLAIMING the new width
      // would mislabel a pre-claim store's grid for good: refuse
      if (!baseline.props.contains(s.histW(tag)) &&
          familyNonEmpty(snap, s.histPat(tag)))
        throw new IllegalStateException(
          unclaimedMsg(s.histW(tag), s"$what: stored grid width"))
      val (w, origin) = histGridOf(baseline, s, tag)
      require(newW >= w && newW % w == 0,
        s"new width $newW must be a positive multiple of stored width $w")
      if (newW == w) Some(-1L) // already at this grid (driver-side, free)
      else if (baseline.pending.nonEmpty) None
      else publish(s, db, baseline, Seq(s.histPat(tag)), hist(s, db, snap, tag),
        _.select(s.keys ++ Seq(expr(s"bin DIV ${newW / w}").as("bin"),
            col("cnt")): _*)
          .groupBy(s.keys :+ col("bin"): _*).agg(sum(col("cnt")).as("cnt"))
          .transform(histShape(s, tag, FOLD_TS)),
        props = Map(s.histW(tag) -> newW.toString,
          s.histO(tag) -> origin.toString))
    }
  }

  // ── KMV ────────────────────────────────────────────────────────────

  /** Registers a batch's ≤ k hash minima as ONE transaction: one
    * bounded-buffer aggregation plus a ≤ k-row write; store size and
    * history never enter the cost. `k` is the store's identity (claimed
    * first-writer-wins): an estimator reading at k' > k_stored would
    * certify a full sketch as the EXACT distinct set.
    */
  def registerKmv(db: Db, batch: DataFrame, elem: Column,
                  tag: String = "t", k: Int = Sketches.KMV_K): Long =
    regKmv(db, batch, None, elem, tag, k, None, Map.empty, fuse = false)

  /** The store's claimed k (default when unclaimed/empty). */
  def storedKmvK(db: Db, tag: String = "t",
                 at: Option[Db#Snapshot] = None): Int =
    intProp(snapOf(db, at).manifest, Flat.kmvK(tag), Sketches.KMV_K)

  /** The merged sketch: the k smallest distinct stored minima, EXACTLY
    * the sketch of everything ever registered. 0 rows when empty.
    */
  def storedKmvSketch(db: Db, tag: String = "t",
                      at: Option[Db#Snapshot] = None): DataFrame =
    kmvSketch(Flat, db, snapOf(db, at), tag)

  /** One-row estimate from the stored sketch — by the union law,
    * exactly the estimate one full-history sketch would produce.
    */
  def storedKmvEstimate(db: Db, tag: String = "t",
                        at: Option[Db#Snapshot] = None): DataFrame =
    kmvEstimate(Flat, db, snapOf(db, at), tag)

  /** Collapses the superseded minima to the k smallest: lossless for
    * every report; bounds the store at k + k·(batches since last fold).
    */
  def foldKmv(db: Db, tag: String = "t",
              waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    kmvFold(Flat, db, tag, waitMillis)

  /** Per-group ≤ k minima (vocabulary per source off a running corpus)
    * as ONE transaction.
    */
  def registerKmvBy(db: Db, batch: DataFrame, grp: Column,
                    elem: Column, tag: String = "t",
                    k: Int = Sketches.KMV_K,
                    cursor: Option[(String, Long)] = None,
                    sinkProps: Map[String, String] = Map.empty,
                    fuse: Boolean = false): Long =
    regKmv(db, batch, Some(grp), elem, tag, k, cursor, sinkProps, fuse)

  /** The grouped store's claimed k. */
  private[graft] def storedKmvByK(db: Db, tag: String = "t",
                                  at: Option[Db#Snapshot] = None): Int =
    intProp(snapOf(db, at).manifest, ByGroup.kmvK(tag), Sketches.KMV_K)

  /** Each group's k smallest distinct stored minima. */
  def storedKmvSketchBy(db: Db, tag: String = "t",
                        at: Option[Db#Snapshot] = None): DataFrame =
    kmvSketch(ByGroup, db, snapOf(db, at), tag)

  /** Per-group estimates (grp, n_sketch, kth_hash, est_distinct),
    * ordered by group — [[Sketches.kmvDistinctBy]] minus the exact count
    * the store never kept.
    */
  def storedKmvEstimateBy(db: Db, tag: String = "t",
                          at: Option[Db#Snapshot] = None): DataFrame =
    kmvEstimate(ByGroup, db, snapOf(db, at), tag)

  def foldKmvBy(db: Db, tag: String = "t",
                waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    kmvFold(ByGroup, db, tag, waitMillis)

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

  // ── trio ───────────────────────────────────────────────────────────

  /** Registers one batch into the KMV + count-min + MG stores (plus the
    * histogram store when `valueCol` names a numeric column) as ONE
    * transaction: one claim and one publish instead of one per family —
    * the manifest commit, not the sketch math, is the measured cost of
    * sketch maintenance — and atomic across the families. `cursor` and
    * `sinkProps` ride the publishing commit for streaming sinks.
    */
  def registerSketches(db: Db, batch: DataFrame, elem: Column,
                       batchId: Long, tag: String = "t",
                       k: Int = Sketches.KMV_K, d: Int = Sketches.CM_D,
                       w: Long = Sketches.CM_W, c: Int = Sketches.MG_C,
                       valueCol: Option[Column] = None,
                       b: Int = Sketches.HIST_B,
                       histW: Long = Sketches.HIST_W, origin: Long = 0L,
                       cursor: Option[(String, Long)] = None,
                       sinkProps: Map[String, String] = Map.empty,
                       fuse: Boolean = false): Long =
    regTrio(db, batch, None, elem, batchId, tag, k, d, w, c, valueCol, b,
      histW, origin, cursor, sinkProps, fuse)

  /** [[foldKmv]] + [[foldCountMin]] + [[foldMg]] + [[foldHist]] as ONE
    * atomic supersede of all five key families.
    */
  def foldSketches(db: Db, tag: String = "t",
                   waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    trioFold(Flat, db, tag, waitMillis)

  /** The grouped [[registerSketches]]: per-group KMV minima, MG partials
    * (+ masses), count-min grids and, with `valueCol`, histogram bins in
    * ONE transaction.
    */
  def registerSketchesBy(db: Db, batch: DataFrame, grp: Column,
                         elem: Column, batchId: Long, tag: String = "t",
                         k: Int = Sketches.KMV_K, c: Int = Sketches.MG_C,
                         d: Int = Sketches.CM_D, cmW: Long = Sketches.CM_W,
                         valueCol: Option[Column] = None,
                         b: Int = Sketches.HIST_B,
                         w: Long = Sketches.HIST_W, origin: Long = 0L,
                         cursor: Option[(String, Long)] = None,
                         sinkProps: Map[String, String] = Map.empty,
                         fuse: Boolean = false)
      : Long =
    regTrio(db, batch, Some(grp), elem, batchId, tag, k, d, cmW, c, valueCol,
      b, w, origin, cursor, sinkProps, fuse)

  /** The grouped [[foldSketches]]: all five grouped key families. */
  def foldSketchesBy(db: Db, tag: String = "t",
                     waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    trioFold(ByGroup, db, tag, waitMillis)

  // ── count-min ──────────────────────────────────────────────────────

  /** Registers a batch's counter grid (≤ d·w cells) under `batchId`.
    * The (d, w) geometry is claimed first-writer-wins: cells from a
    * different geometry summed under the same keys would break the
    * overestimate guarantee with no error at all.
    */
  def registerCountMin(db: Db, batch: DataFrame, elem: Column,
                       batchId: Long, tag: String = "t",
                       d: Int = Sketches.CM_D,
                       w: Long = Sketches.CM_W): Long =
    regCountMin(db, batch, None, elem, batchId, tag, d, w, None, Map.empty,
      fuse = false)

  /** The claimed (d, w) (defaults when unclaimed or empty). */
  def storedCmGrid(db: Db, tag: String = "t",
                   at: Option[Db#Snapshot] = None): (Int, Long) =
    cmGridOf(snapOf(db, at).manifest, Flat, tag)

  /** The running grid (sk_row, bucket, c): per-cell sums over every
    * registered batch and fold.
    */
  def storedCountMin(db: Db, tag: String = "t",
                     at: Option[Db#Snapshot] = None): DataFrame =
    cmGrid(Flat, db, snapOf(db, at), tag)

  /** Frequency estimates for `items` against the running grid, at the
    * store's claimed geometry.
    */
  def probeStoredCountMin(db: Db, items: DataFrame,
                          elemCol: String, tag: String = "t",
                          at: Option[Db#Snapshot] = None): DataFrame =
    probeCm(Flat, db, snapOf(db, at), items, None, elemCol, tag)

  /** One folded generation of per-cell sums (counter addition is exact,
    * so every probe is preserved); bounds the store at
    * d·w + d·w·(batches since last fold) rows.
    */
  def foldCountMin(db: Db, tag: String = "t",
                   waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    cmFold(Flat, db, tag, waitMillis)

  /** Per-group counter grids (≤ d·w·groups cells) under `batchId`: point
    * frequency of ANY item in ANY group, with the group's own
    * N_grp·e/w error bound. Its own `cmg.*` claim, independent of the
    * ungrouped grid under the same tag.
    */
  def registerCountMinBy(db: Db, batch: DataFrame, grp: Column,
                         elem: Column, batchId: Long, tag: String = "t",
                         d: Int = Sketches.CM_D, w: Long = Sketches.CM_W,
                         cursor: Option[(String, Long)] = None,
                         sinkProps: Map[String, String] = Map.empty,
                         fuse: Boolean = false): Long =
    regCountMin(db, batch, Some(grp), elem, batchId, tag, d, w, cursor,
      sinkProps, fuse)

  def storedCmByGrid(db: Db, tag: String = "t",
                     at: Option[Db#Snapshot] = None): (Int, Long) =
    cmGridOf(snapOf(db, at).manifest, ByGroup, tag)

  /** The running per-group grids (grp, sk_row, bucket, c). */
  def storedCountMinBy(db: Db, tag: String = "t",
                       at: Option[Db#Snapshot] = None): DataFrame =
    cmGrid(ByGroup, db, snapOf(db, at), tag)

  /** Estimates for (`grpCol`, `elemCol`) items: a (grp, cell)-keyed
    * join, never a broadcast of the data-sized grid relation.
    */
  def probeStoredCountMinBy(db: Db, items: DataFrame,
                            grpCol: String, elemCol: String,
                            tag: String = "t",
                            at: Option[Db#Snapshot] = None): DataFrame =
    probeCm(ByGroup, db, snapOf(db, at), items, Some(grpCol), elemCol, tag)

  def foldCountMinBy(db: Db, tag: String = "t",
                     waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    cmFold(ByGroup, db, tag, waitMillis)

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

  /** Registers one batch's deterministic MG partial (≤ c item rows +
    * one mass row) as ONE transaction. Partials are exact counts plus
    * one truncation, so the stored rows — and every report — are a pure
    * function of the batch multisets. Nulls are excluded from the
    * summary and the mass. `c` is claimed first-writer-wins: the
    * n/(c+1) certification threshold is only sound at one uniform c.
    */
  def registerMg(db: Db, batch: DataFrame, elem: Column,
                 batchId: Long, tag: String = "t",
                 c: Int = Sketches.MG_C,
                 cursor: Option[(String, Long)] = None,
                 sinkProps: Map[String, String] = Map.empty,
                 fuse: Boolean = false): Long =
    regMg(db, batch, None, elem, batchId, tag, c, cursor, sinkProps, fuse)

  /** The MG store's claimed capacity. */
  private[graft] def storedMgC(db: Db, tag: String = "t",
                               at: Option[Db#Snapshot] = None): Int =
    intProp(snapOf(db, at).manifest, Flat.mgC(tag), Sketches.MG_C)

  /** The merged ≤ c candidates (item, est): a valid MG(c) summary of the
    * concatenated stream.
    */
  def storedMgCandidates(db: Db, tag: String = "t",
                         at: Option[Db#Snapshot] = None): DataFrame =
    mgCandidates(Flat, db, snapOf(db, at), tag)

  /** Total element mass ever registered, one row `n` (0 when empty). */
  def storedMgMass(db: Db, tag: String = "t",
                   at: Option[Db#Snapshot] = None): DataFrame =
    mgMass(Flat, db, snapOf(db, at), tag)

  /** The frequent-items report (item, est, n, certain), heaviest first:
    * `certain` = 1 when the item is GUARANTEED frequent.
    */
  def storedHeavyHitters(db: Db, tag: String = "t",
                         at: Option[Db#Snapshot] = None): DataFrame =
    heavyHitters(Flat, db, snapOf(db, at), tag)
      .orderBy(col("est").desc, col("item"))

  /** Collapses the per-batch partials to ONE merged summary: the ≤ c
    * re-truncated candidates plus one summed mass row, at FOLD_TS.
    */
  def foldMg(db: Db, tag: String = "t",
             waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    mgFold(Flat, db, tag, waitMillis)

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

  /** Per-group MG partials (≤ c item rows + one mass row per group) as
    * ONE transaction, every rank computed inside the group's own window.
    */
  def registerMgBy(db: Db, batch: DataFrame, grp: Column,
                   elem: Column, batchId: Long, tag: String = "t",
                   c: Int = Sketches.MG_C,
                   cursor: Option[(String, Long)] = None,
                   sinkProps: Map[String, String] = Map.empty,
                   fuse: Boolean = false): Long =
    regMg(db, batch, Some(grp), elem, batchId, tag, c, cursor, sinkProps, fuse)

  /** The grouped MG store's claimed capacity. */
  private[graft] def storedMgByC(db: Db, tag: String = "t",
                                 at: Option[Db#Snapshot] = None): Int =
    intProp(snapOf(db, at).manifest, ByGroup.mgC(tag), Sketches.MG_C)

  /** The merged per-group candidates (grp, item, est). */
  def storedMgCandidatesBy(db: Db, tag: String = "t",
                           at: Option[Db#Snapshot] = None): DataFrame =
    mgCandidates(ByGroup, db, snapOf(db, at), tag)

  /** Per-group registered mass (grp, n), one row per group. */
  def storedMgMassBy(db: Db, tag: String = "t",
                     at: Option[Db#Snapshot] = None): DataFrame =
    mgMass(ByGroup, db, snapOf(db, at), tag)

  /** [[storedHeavyHitters]] per group, certified against the group's own
    * mass, ordered (grp, heaviest first).
    */
  def storedHeavyHittersBy(db: Db, tag: String = "t",
                           at: Option[Db#Snapshot] = None): DataFrame =
    heavyHittersByUnordered(db, tag, at)
      .orderBy(col("grp"), col("est").desc, col("item"))

  /** [[storedHeavyHittersBy]] without the total order, for consumers
    * that impose their own (a range exchange under a hash-partitioned
    * rank window would sort only to re-shuffle).
    */
  private[graft] def heavyHittersByUnordered(db: Db, tag: String = "t",
                                             at: Option[Db#Snapshot] = None)
      : DataFrame =
    heavyHitters(ByGroup, db, snapOf(db, at), tag)

  def foldMgBy(db: Db, tag: String = "t",
               waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    mgFold(ByGroup, db, tag, waitMillis)

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

  /** Registers one batch's histogram (≤ b bin rows) as ONE transaction.
    * Histogram merge is plain counter addition, so the merged report is
    * EXACTLY the one-shot sketch of the concatenated stream. The grid
    * (b, w, origin) is claimed first-writer-wins inside the publishing
    * CAS: two concurrent FIRST registrations with different grids
    * cannot both publish ([[graft.store.TxWriter.PropertyConflict]]).
    */
  def registerHist(db: Db, batch: DataFrame, value: Column,
                   batchId: Long, tag: String = "t",
                   b: Int = Sketches.HIST_B,
                   w: Long = Sketches.HIST_W,
                   origin: Long = 0L,
                   cursor: Option[(String, Long)] = None,
                   sinkProps: Map[String, String] = Map.empty,
                   fuse: Boolean = false): Long =
    regHist(db, batch, None, value, batchId, tag, b, w, origin, cursor,
      sinkProps, fuse)

  /** The claimed (w, origin) (defaults when unclaimed or empty). */
  def storedHistGrid(db: Db, tag: String = "t",
                     at: Option[Db#Snapshot] = None): (Long, Long) =
    histGridOf(snapOf(db, at).manifest, Flat, tag)

  /** The merged (bin, cnt) histogram of every batch registered. */
  def storedHist(db: Db, tag: String = "t",
                 at: Option[Db#Snapshot] = None): DataFrame =
    hist(Flat, db, snapOf(db, at), tag)

  /** Quantile report over everything ever registered — the one-shot
    * [[Sketches.histQuantiles]] algebra, at the claimed grid.
    */
  def storedHistQuantiles(db: Db,
                          qms: Seq[Int] = Sketches.HIST_QMS,
                          tag: String = "t",
                          at: Option[Db#Snapshot] = None): DataFrame =
    histQuantiles(Flat, db, snapOf(db, at), qms, tag)

  /** One folded grid; bounds the store at b + b·(batches since fold). */
  def foldHist(db: Db, tag: String = "t",
               waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    histFold(Flat, db, tag, waitMillis)

  /** Re-bins the stored grid to a coarser width `newW` (a positive
    * multiple of the stored one) in place; -1 when already there or
    * empty. Later registrations must claim the NEW width.
    */
  def migrateHistGrid(db: Db, newW: Long,
                      tag: String = "t",
                      waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    migrate(Flat, db, newW, tag, waitMillis)

  /** Per-group histograms (≤ b·groups rows) as ONE transaction under the
    * grouped grid claim (`histg.*`, independent of the ungrouped one).
    */
  def registerHistBy(db: Db, batch: DataFrame, grp: Column,
                     value: Column, batchId: Long, tag: String = "t",
                     b: Int = Sketches.HIST_B,
                     w: Long = Sketches.HIST_W,
                     origin: Long = 0L,
                     cursor: Option[(String, Long)] = None,
                     sinkProps: Map[String, String] = Map.empty,
                     fuse: Boolean = false): Long =
    regHist(db, batch, Some(grp), value, batchId, tag, b, w, origin, cursor,
      sinkProps, fuse)

  def storedHistByGrid(db: Db, tag: String = "t",
                       at: Option[Db#Snapshot] = None): (Long, Long) =
    histGridOf(snapOf(db, at).manifest, ByGroup, tag)

  /** The merged (grp, bin, cnt) histogram of every batch registered. */
  def storedHistBy(db: Db, tag: String = "t",
                   at: Option[Db#Snapshot] = None): DataFrame =
    hist(ByGroup, db, snapOf(db, at), tag)

  /** Per-group quantile envelopes, UNORDERED like the one-shot
    * [[Sketches.histQuantilesBy]] (windows partitioned by group).
    */
  def storedHistQuantilesBy(db: Db,
                            qms: Seq[Int] = Sketches.HIST_QMS,
                            tag: String = "t",
                            at: Option[Db#Snapshot] = None): DataFrame =
    histQuantiles(ByGroup, db, snapOf(db, at), qms, tag)

  def foldHistBy(db: Db, tag: String = "t",
                 waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    histFold(ByGroup, db, tag, waitMillis)

  /** [[migrateHistGrid]] for the grouped store, every group re-binned in
    * the same atomic supersede.
    */
  def migrateHistGridBy(db: Db, newW: Long,
                        tag: String = "t",
                        waitMillis: Long = FOLD_WAIT_MILLIS): Long =
    migrate(ByGroup, db, newW, tag, waitMillis)
}
