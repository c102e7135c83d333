package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) exact dedup backed by the engine's own
  * warehouse — the steady-state ingest shape at corpus scale: you never
  * re-dedup 100 TB per arriving batch; you keep a persistent fingerprint
  * store and anti-join each NEW batch against it, then register the
  * batch's own fingerprints as one transaction.
  *
  * Store layout (ordinary graft warehouse, so compaction / time travel /
  * exactly-once streaming batch-ids all apply unchanged): one row per
  * distinct content, `key = "h/" + hex(h60(text))`, `ts = 0`, plus the
  * raw 60-bit hash (`h`, for scan-speed bloom probes) and the canonical
  * `doc_id` that first carried the content.
  *
  * Probe shape (the part that must survive 100 TB): the seen-store can
  * hold billions of fingerprints while a batch is bounded, so neither
  * "broadcast the store" nor "shuffle the store" is acceptable. Instead:
  * (1) build a bloom filter of the BATCH's hashes (tiny); (2) scan the
  * store's single `h` column through a codegen'd
  * [[graft.functions.BloomMightContain]] probe — survivors are at most
  * `|batch| + fpp·|store|` rows; (3) broadcast those matched hashes and
  * anti-join the batch against them. The store is scanned (one slim
  * column), never shuffled, never broadcast.
  */
object IncrementalDedup {

  private def hashed(batch: DataFrame, idCol: String, textCol: String) =
    batch.withColumn("_h", PortableHash.h60(col(textCol)))

  private def fingerprints(batch: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    hashed(batch, idCol, textCol)
      .groupBy(col("_h").as("h"))
      .agg(min(col(idCol).cast("long")).as("doc_id"))
      .select(format_string("h/%015x", col("h")).as("key"),
        lit(0L).as("ts"), col("h"), col("doc_id"))

  /** Registers a batch's content fingerprints as ONE transaction
    * (within-batch duplicates collapse to the min doc_id; re-registering
    * known content rewrites the same (key, ts=0) and last-wins merge
    * keeps the store one-row-per-content). Returns the txid.
    */
  def registerBatch(db: graft.store.Db, batch: DataFrame, idCol: String,
                    textCol: String,
                    cursor: Option[(String, Long)] = None,
                    sinkProps: Map[String, String] = Map.empty,
                    fuse: Boolean = false): Long =
    graft.store.TxWriter.write(db, fingerprints(batch, idCol, textCol),
      props = sinkProps, streamCursor = cursor, fuse = fuse)

  /** The arriving batch minus documents whose content is already
    * registered in `db`. Within-batch duplicates are NOT collapsed here
    * (compose with [[Dedup.dropExactDuplicates]] for that); columns pass
    * through unchanged.
    */
  def dropSeenBefore(db: graft.store.Db, batch: DataFrame, idCol: String,
                     textCol: String, fpp: Double = 0.01): DataFrame = {
    val snap = db.snapshot()
    if (snap.manifest.dataTxids.isEmpty)
      return hashed(batch, idCol, textCol).drop("_h")
    // pinned: the hashed batch feeds THREE consumers (the distinct-count
    // job, the bloom build, the anti-join) — unpinned, the batch was
    // hashed and re-scanned once per consumer (guide §5).
    val b = graft.core.Graft.pin(hashed(batch, idCol, textCol))
    val seen = snap.read("h/%")
    // a warehouse can hold the near store (or other data) without one
    // exact fingerprint ever registered — the merged schema then lacks
    // the `h` column and the probe must be a passthrough, not an
    // unresolved-column error
    if (!seen.columns.contains("h")) return b.drop("_h")
    // tiny: one long per distinct batch content
    val batchHashes = b.select(col("_h").as("h")).distinct()
    val nBatch = batchHashes.count()
    if (nBatch == 0) return b.drop("_h")
    val bloom = batchHashes.stat.bloomFilter("h", math.max(nBatch, 64L), fpp)
    // store side: slim column scan, bloom-probed at scan speed; the
    // surviving matched-hash relation is bounded by the batch size (+fpp
    // of the store) and broadcasts
    val matched = seen
      .filter(graft.functions.BloomMightContain.probe(col("h"), bloom))
      .select(col("h").as("_h")).distinct()
    b.join(broadcast(matched), Seq("_h"), "left_anti").drop("_h")
  }

  /** The full ingest step: drop already-seen content, hand the fresh
    * rows to `onFresh` (the downstream forward), THEN register them —
    * forward-first so a crash between the two replays as a re-forward
    * (at-least-once delivery), never as content marked seen but never
    * delivered. Returns the fresh rows. One store scan + one tx per
    * batch.
    */
  /** `cursor`/`sinkProps`/`fuse` ride the REGISTER transaction (the
    * streaming-sink riders) — note an all-duplicates batch registers
    * nothing, so its cursor does NOT advance here; the sink falls back
    * to a bare cursor commit for that case.
    */
  def ingestBatch(db: graft.store.Db, batch: DataFrame, idCol: String,
                  textCol: String,
                  onFresh: DataFrame => Unit = _ => (),
                  cursor: Option[(String, Long)] = None,
                  sinkProps: Map[String, String] = Map.empty,
                  fuse: Boolean = false): DataFrame = {
    val fresh = dropSeenBefore(db, batch, idCol, textCol)
      .transform(graft.core.Graft.pin(_)) // the register tx must not re-plan the probe
    onFresh(fresh)
    if (!fresh.isEmpty)
      registerBatch(db, fresh, idCol, textCol, cursor, sinkProps, fuse)
    fresh
  }

  // ── NEAR-dup (MinHash-LSH) variant of the same steady state ────────
  //
  // Exact fingerprints miss the dominant web-corpus duplicate class:
  // boilerplate-shifted near-copies. The near store keeps, per document,
  // its LSH band buckets AND its full MinHash signature as ordinary
  // warehouse rows under the "m/" key prefix — so one warehouse can hold
  // both stores, and compaction / time travel / exactly-once batch-ids
  // apply to the near index unchanged:
  //
  //   key = "m/<band-bucket>"   ts = doc_id   bh = packed bucket   sig = k longs
  //
  // (ts carries the doc id, so many documents legitimately share a
  // bucket key as distinct (key, ts) records, and re-registering a
  // document is a last-wins overwrite, not a duplicate.)
  //
  // Probe shape at 100 TB — same contract as the exact path: the store
  // is SCANNED through a bloom built from the batch's bucket hashes
  // (never shuffled, never broadcast); survivors are bounded by
  // |batch|·bands + fpp·|store| and broadcast; candidate pairs then
  // verify on signature agreement, so a bloom false positive or an
  // unrelated bucket collision can add a candidate but never a drop.

  private val SIG_K = Dedup.MINHASH_K
  private val BANDS = Dedup.MINHASH_K / Dedup.LSH_R

  /** (doc_id, sig, bh) — one row per (document, band); `bh` packs
    * (band_key, band) into one int64 (band_key < P² and BANDS ≤ 8 keep
    * the product in range), the single column the bloom probes and the
    * candidate join keys on.
    */
  private def bandRows(batch: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    graft.core.Graft.rebalance(batch)
      .select(col(idCol).cast("long").as("doc_id"),
        Dedup.shingleHashes(col(textCol), n).as("sh"))
      .select(col("doc_id"), Dedup.minhashSignature(col("sh")).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(Dedup.bandKeys(col("sig"))))
      .select(col("doc_id"), col("sig"),
        (col("col") * BANDS + col("pos")).as("bh"))

  /** True iff the snapshot holds actual NEAR rows (non-null `bh` under
    * "m/%") — THE one definition of the family's emptiness, shared by
    * the register and probe guards: the MG sketch store's
    * "m/<tag>/<item>" keys share the prefix in a mixed warehouse and
    * must never trip it (its rows carry no bh). Evaluated only on
    * claim-absent stores, so claimed steady state pays nothing; the
    * full-family filter scan is sketch-store-sized and memoized per
    * (warehouse identity, manifest version)
    * ([[SketchStore.EmptinessMemo]]) — one job per version total
    * during the stamp transition window, however many probes run.
    */
  private def nearFamilyNonEmpty(snap: graft.store.Db#Snapshot): Boolean =
    SketchStore.EmptinessMemo.cached(snap.manifest, "neardup:bh") {
      val rows = snap.read("m/%")
      rows.columns.contains("bh") &&
        !rows.filter(col("bh").isNotNull).isEmpty
    }

  /** The store's shingle-size property (first-writer-wins claim): band
    * hashes and signatures derive from n-shingles, so rows registered
    * at one n can never match probes at another — a mismatched probe
    * would silently treat EVERY stored document as unseen (duplicates
    * slip through with no error at all), the same hazard class as the
    * sketch-store geometry claims.
    */
  private val NEARDUP_N_PROP = "neardup.n"

  /** Registers a batch's MinHash band buckets + signatures as ONE
    * transaction (BANDS rows per document), claiming the shingle size
    * `n` first-writer-wins ([[NEARDUP_N_PROP]] — checked inside the
    * publishing CAS; a mismatched registration refuses loudly and
    * publishes nothing). Returns the txid.
    */
  /** The loud pre-claim-store refusal shared by the register and probe
    * paths: rows exist but no shingle size was ever recorded, so any
    * guessed n could silently wave every duplicate through (probe) or
    * mix unmatchable signatures (register).
    */
  private def unclaimedNearMsg: String =
    "near-dup store unclaimed but NON-EMPTY: signature rows exist with " +
      s"no '$NEARDUP_N_PROP' property (written by a pre-claim engine " +
      "version). Probing or registering at a guessed shingle size would " +
      "silently miss every stored duplicate — stamp the true size first: " +
      "IncrementalDedup.stampNearShingleSize(db, n)"

  /** Operator escape hatch for PRE-CLAIM near-dup stores: record the
    * shingle size the store was actually registered with
    * (first-writer-wins; a disagreeing stamp refuses).
    */
  def stampNearShingleSize(db: graft.store.Db, n: Int): Unit =
    graft.store.Manifest.stampProps(db.warehouse,
      Map(NEARDUP_N_PROP -> n.toString))

  def registerNearBatch(db: graft.store.Db, batch: DataFrame, idCol: String,
                        textCol: String, n: Int = 3,
                        cursor: Option[(String, Long)] = None,
                        sinkProps: Map[String, String] = Map.empty,
                        fuse: Boolean = false): Long = {
    val snap = db.snapshot()
    val ex = snap.manifest.props.get(NEARDUP_N_PROP)
    require(ex.forall(_ == n.toString),
      s"near-dup shingle size mismatch: stored ${ex.getOrElse("-")} vs " +
        s"registration $n")
    // a claim on a PRE-CLAIM store would be trusted over rows whose
    // true n nobody recorded — refuse until stamped (cheap: the probe
    // runs only when the claim is absent on a non-fresh warehouse)
    if (ex.isEmpty && snap.manifest.dataTxids.nonEmpty &&
        nearFamilyNonEmpty(snap))
      throw new IllegalStateException(unclaimedNearMsg)
    graft.store.TxWriter.write(db,
      bandRows(batch, idCol, textCol, n)
        .select(format_string("m/%019d", col("bh")).as("key"),
          col("doc_id").as("ts"), col("bh"), col("sig")),
      props = sinkProps, propsClaim = Map(NEARDUP_N_PROP -> n.toString),
      streamCursor = cursor, fuse = fuse)
  }

  /** The arriving batch minus documents NEAR-duplicate to registered
    * content: a document drops when it shares an LSH band bucket with a
    * stored document AND at least `minAgree` of the `k` MinHash
    * signature positions agree (agreement/k estimates Jaccard, so
    * `minAgree = 4` ≈ sim ≥ 0.5). Exact re-arrivals always drop
    * (identical text → identical signature → agreement = k). Columns
    * pass through unchanged; within-batch near-dups are NOT collapsed
    * (compose with [[Dedup.dropNearDuplicates]]-style batch ops for
    * that).
    */
  def dropNearSeenBefore(db: graft.store.Db, batch: DataFrame, idCol: String,
                         textCol: String, minAgree: Int = SIG_K / 2,
                         fpp: Double = 0.01): DataFrame = {
    require(minAgree >= 1 && minAgree <= SIG_K,
      s"minAgree must be in [1, $SIG_K]")
    val snap = db.snapshot()
    if (snap.manifest.dataTxids.isEmpty) return batch
    val seen0 = snap.read("m/%")
    // mixed warehouse, no near rows yet: the merged schema has no
    // bh/sig columns — passthrough instead of an unresolved-column error
    if (!seen0.columns.contains("bh") || !seen0.columns.contains("sig"))
      return batch
    // the batch's shingles must be built at the STORE's claimed n —
    // same snapshot as the rows ([[NEARDUP_N_PROP]]). A pre-claim
    // store WITH rows refuses loudly rather than probing at a guess
    // (which would match nothing and wave every duplicate through);
    // an empty family may proceed at the default.
    val n = snap.manifest.props.get(NEARDUP_N_PROP).map(_.toInt)
      .getOrElse {
        if (nearFamilyNonEmpty(snap))
          throw new IllegalStateException(unclaimedNearMsg)
        3
      }
    // pinned for the same three-consumer reason as [[dropSeenBefore]] —
    // and the near batch's frame is genuinely expensive to recompute
    // (shingle + MinHash signature per document)
    val b = graft.core.Graft.pin(bandRows(batch, idCol, textCol, n))
    val probes = b.select(col("bh")).distinct()
    val nProbes = probes.count()
    if (nProbes == 0) return batch
    val bloom = probes.stat.bloomFilter("bh", math.max(nProbes, 64L), fpp)
    // store side: slim (bh, sig) scan, bloom-probed at scan speed; the
    // exact bh join below removes bloom false positives before any
    // signature math
    val matched = seen0
      .filter(graft.functions.BloomMightContain.probe(col("bh"), bloom))
      .select(col("bh"), col("sig").as("seen_sig"))
    val agree = aggregate(
      zip_with(col("sig"), col("seen_sig"),
        (x, y) => (x === y).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val drops = b.join(broadcast(matched), Seq("bh"))
      .filter(agree >= minAgree)
      .select(col("doc_id").cast("long").as(idCol)).distinct()
    batch.join(drops, Seq(idCol), "left_anti")
  }

  /** Near-dup ingest step — same forward-first replay contract as
    * [[ingestBatch]]: drop near-seen, forward the fresh rows, register
    * their bands/signatures as one transaction.
    */
  def ingestNearBatch(db: graft.store.Db, batch: DataFrame, idCol: String,
                      textCol: String, minAgree: Int = SIG_K / 2,
                      onFresh: DataFrame => Unit = _ => (),
                      cursor: Option[(String, Long)] = None,
                      sinkProps: Map[String, String] = Map.empty,
                      fuse: Boolean = false): DataFrame = {
    val fresh = dropNearSeenBefore(db, batch, idCol, textCol, minAgree)
      .transform(graft.core.Graft.pin(_)) // the register tx must not re-plan the probe
    onFresh(fresh)
    if (!fresh.isEmpty) {
      // register at the store's CLAIMED shingle size, read as late as
      // possible (after the probe): a hard-coded default would wedge
      // the sink forever on a store claimed at any other n (every
      // batch forwarded via onFresh, then refused at registration,
      // cursor never advancing), and an early read could race a
      // concurrent first claim
      val n = graft.store.Manifest.current(db.warehouse)
        .props.get(NEARDUP_N_PROP).map(_.toInt).getOrElse(3)
      registerNearBatch(db, fresh, idCol, textCol, n = n, cursor = cursor,
        sinkProps = sinkProps, fuse = fuse)
    }
    fresh
  }
}
