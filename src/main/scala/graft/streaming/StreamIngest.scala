package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.ops.SketchStore
import graft.store.{Db, Manifest, TxWriter}
import org.apache.spark.sql.functions.col

/** Structured-Streaming ingest into a graft warehouse.
  *
  * The reference's realtime story is micro-batchy — each HTTP PUT commits
  * one transaction (sonnerie-serve, `src/bin/sonnerie-serve.rs:98-204`) and
  * any (key, ts) may arrive anytime with last-wins upsert semantics
  * (unlimited lateness, SURVEY §2.11). The Spark-native equivalent is
  * `foreachBatch`: one micro-batch = one committed transaction directory,
  * with the same shuffle-sort the batch writer uses.
  *
  * Exactly-once: Spark replays a micro-batch after a crash between the data
  * write and the checkpoint commit; the warehouse manifest records the
  * highest committed batch id, and replayed ids are skipped — so a batch
  * becomes exactly one transaction no matter how often it is retried
  * (the reference gets the same from tempfile + atomic rename,
  * `src/create_tx.rs:180-264`).
  */
object StreamIngest {
  import graft.core.Graft.log

  /** Wire a streaming DataFrame (must contain `key: String`, `ts: Long`
    * nanos — e.g. the output of a text-protocol parse) into the warehouse.
    * Caller starts/stops the returned writer (and sets a checkpoint dir).
    */
  def writer(db: Db, stream: DataFrame,
             trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(db, batch, batchId)
      }

  /** Idempotent one-batch commit (public for tests and custom sinks).
    * The replay cursor rides the transaction's own publishing commit
    * ([[TxWriter.write]]'s streamCursor rider): the batch is visible
    * iff the cursor moved, so there is no replay window at all — and
    * one fewer manifest commit per micro-batch.
    */
  def commitBatch(db: Db, batch: DataFrame, batchId: Long): Unit = {
    val m = Manifest.current(db.warehouse)
    if (batchId <= m.streamBatch) return // replay of a committed batch
    if (batch.isEmpty) return            // reference: empty tx never materializes
    TxWriter.write(db, batch, streamCursor = Some(("", batchId)))
  }

  /** Convenience: run a stream to completion of available data (testing /
    * file-drop ingestion), blocking until idle.
    */
  def runAvailable(db: Db, stream: DataFrame, checkpoint: String): StreamingQuery = {
    val q = writer(db, stream, Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
    q
  }

  /** Durable streaming dedup: each micro-batch of documents drops content
    * already registered in the fingerprint warehouse
    * ([[graft.ops.IncrementalDedup.dropSeenBefore]] — bloom-probed store
    * scan, never a store shuffle), registers what survives as one
    * transaction, and hands the fresh rows to `onFresh` (the downstream
    * forward). Unlike [[StatefulOps.dedupStream]]'s in-memory state store
    * this dedup set lives in the warehouse: it survives restarts WITHOUT
    * a streaming checkpoint, is shared across queries and batch jobs, is
    * compactable, and has no watermark trade-off (exact-forever dedup).
    *
    * Replay safety is two-layered: the batch-id guard skips fully
    * committed batches, and within a batch [[IncrementalDedup.ingestBatch]]
    * forwards BEFORE it registers — a crash between the two replays as a
    * re-forward of the same fresh rows (at-least-once `onFresh`), never
    * as content marked seen but never delivered; a crash after register
    * replays as an empty forward. Store state is exactly-once either way.
    *
    * `compactEvery` > 0 extends the sketch sinks' auto-compact policy to
    * this index sink: the fingerprint store grows one transaction
    * directory per micro-batch forever without it (the fold half of the
    * maintenance pair doesn't apply — fingerprints are already one row
    * per document — so the compaction IS the whole policy here).
    */
  def dedupWriter(db: Db, stream: DataFrame, idCol: String, textCol: String,
                  onFresh: DataFrame => Unit = _ => (),
                  trigger: Trigger = Trigger.AvailableNow(),
                  sinkId: String = "dedup", compactEvery: Int = 0,
                  keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-sink cursor: Structured Streaming numbers batches per
        // QUERY from 0, so sinks sharing one warehouse must not share
        // one scalar — a sibling sink's commit would make this one's
        // guard silently drop its own batch 0
        val mft = Manifest.current(db.warehouse)
        if (batchId > mft.streamBatchFor(sinkId) && !batch.isEmpty) {
          graft.ops.IncrementalDedup.ingestBatch(db, batch, idCol, textCol,
            onFresh, cursor = Some((sinkId, batchId)),
            sinkProps = foldEveryProps(sinkId, 0, compactEvery, keepVersions),
            fuse = true) // riders: ONE manifest commit per micro-batch
          // an all-duplicates batch registered nothing, so no transaction
          // carried the cursor — advance it with a bare commit (the
          // replay guard must move even when the store doesn't)
          if (Manifest.current(db.warehouse).streamBatchFor(sinkId) < batchId)
            cursorCommit(db, sinkId, batchId, compactEvery, keepVersions)
          autoCompact(db, batchId, compactEvery, keepVersions)
        }
        ()
      }

  /** NEAR-dup variant of [[dedupWriter]]: each micro-batch drops
    * documents MinHash-near-duplicate to anything the warehouse's band
    * store has seen ([[graft.ops.IncrementalDedup.dropNearSeenBefore]] —
    * bloom-probed band scan + signature-agreement verify, never a store
    * shuffle), registers the survivors' bands/signatures as one
    * transaction, and forwards the fresh rows. Same two-layer replay
    * safety as [[dedupWriter]] (batch-id guard + forward-first ingest).
    */
  def nearDedupWriter(db: Db, stream: DataFrame, idCol: String,
                      textCol: String,
                      minAgree: Int = graft.ops.Dedup.MINHASH_K / 2,
                      onFresh: DataFrame => Unit = _ => (),
                      trigger: Trigger = Trigger.AvailableNow(),
                      sinkId: String = "neardedup", compactEvery: Int = 0,
                      keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mft = Manifest.current(db.warehouse)
        if (batchId > mft.streamBatchFor(sinkId) && !batch.isEmpty) {
          graft.ops.IncrementalDedup.ingestNearBatch(db, batch, idCol,
            textCol, minAgree, onFresh, cursor = Some((sinkId, batchId)),
            sinkProps = foldEveryProps(sinkId, 0, compactEvery, keepVersions),
            fuse = true)
          if (Manifest.current(db.warehouse).streamBatchFor(sinkId) < batchId)
            cursorCommit(db, sinkId, batchId, compactEvery, keepVersions)
          autoCompact(db, batchId, compactEvery, keepVersions)
        }
        ()
      }

  /** Streaming ANN-index maintenance: each micro-batch of
    * (`idCol: Long`, `embCol: Array[Float]`) rows is encoded with the
    * index warehouse's PERSISTED quantizer
    * ([[graft.ops.Similarity.appendToIndex]] — FAISS `add`, no retrain)
    * and committed as one transaction, under the same batch-id replay
    * guard as [[writer]]. The 100 TB steady state: the index is trained
    * once by `buildIndex`, and newly arriving documents become searchable
    * one exactly-once micro-batch behind the stream.
    */
  def indexWriter(db: Db, stream: DataFrame, idCol: String, embCol: String,
                  m: Int = graft.ops.Similarity.PQ_M, dim: Int = 64,
                  trigger: Trigger = Trigger.AvailableNow(),
                  sinkId: String = "index", compactEvery: Int = 0,
                  keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mft = Manifest.current(db.warehouse)
        if (batchId > mft.streamBatchFor(sinkId) && !batch.isEmpty) {
          graft.ops.Similarity.appendToIndex(db, batch, idCol, embCol,
            m, dim, cursor = Some((sinkId, batchId)),
            sinkProps = foldEveryProps(sinkId, 0, compactEvery, keepVersions),
            fuse = true) // riders: ONE manifest commit per micro-batch
          // the index warehouse is bucket-major (bucket = IVF cell);
          // the compactor's rewrite honors that layout, so the major
          // pass stays one-file-per-cell instead of task×cell
          autoCompact(db, batchId, compactEvery, keepVersions)
        }
        ()
      }

  /** Streaming BM25-index maintenance: each micro-batch of NEW
    * (`idCol`, `textCol`) documents appends its postings + doc lengths
    * ([[graft.ops.Retrieval.appendBm25Batch]]) under the exactly-once
    * batch-id guard — newly ingested documents become retrievable one
    * micro-batch behind the stream, and every probe-time statistic
    * (N, avgdl, df) is derived from the per-document rows, so appends
    * can never leave the index stale.
    */
  def bm25Writer(db: Db, stream: DataFrame, idCol: String, textCol: String,
                 trigger: Trigger = Trigger.AvailableNow(),
                 sinkId: String = "bm25", compactEvery: Int = 0,
                 keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mft = Manifest.current(db.warehouse)
        if (batchId > mft.streamBatchFor(sinkId) && !batch.isEmpty) {
          graft.ops.Retrieval.appendBm25Batch(db, batch, idCol, textCol,
            cursor = Some((sinkId, batchId)),
            sinkProps = foldEveryProps(sinkId, 0, compactEvery, keepVersions),
            fuse = true) // riders: ONE manifest commit per micro-batch
          // the postings warehouse is index-sized, so the major rewrite
          // is too — same non-blocking skip-and-retry contract as the
          // sketch sinks
          autoCompact(db, batchId, compactEvery, keepVersions)
        }
        ()
      }

  /** One sketch sink: under the exactly-once batch-id guard, `register`
    * commits the micro-batch with the replay cursor and the sink's
    * cadence properties riding its own publishing commit (batch visible
    * ⟺ cursor advanced: no replay window) and `fuse = true` (the sink is
    * the store's single writer: ONE manifest commit per batch), then
    * `fold` runs on every `foldEvery`-th batch and the store compacts on
    * every `compactEvery`-th.
    *
    * @param foldEvery > 0 = auto-fold policy, so a year-long stream stays
    *   bounded at sketch-size + foldEvery·sketch-size rows without a
    *   manual maintenance call. Recorded as `fold.every/<sinkId>`. Folds
    *   run AFTER the cursor advances: a crash between the two replays as
    *   a skipped fold (caught up later), never as a re-registration of a
    *   batch a fold already merged — which would double-count it.
    * @param compactEvery > 0 = auto-compact policy ([[autoCompact]]),
    *   recorded as `compact.every/<sinkId>` with `keep.versions/<sinkId>`.
    */
  private def sketchSink(db: Db, stream: DataFrame, tag: String,
                         trigger: Trigger, sinkId: String, foldEvery: Int,
                         compactEvery: Int, keepVersions: Int)(
      register: (DataFrame, Long, Option[(String, Long)], Map[String, String])
        => Long,
      fold: (Db, String, Long) => Long): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mft = Manifest.current(db.warehouse)
        if (batchId > mft.streamBatchFor(sinkId) && !batch.isEmpty) {
          register(batch, batchId, Some((sinkId, batchId)),
            foldEveryProps(sinkId, foldEvery, compactEvery, keepVersions))
          if (shouldFold(batchId, foldEvery))
            nonFatalFold(db)(fold(db, tag, AUTO_FOLD_WAIT_MILLIS))
          autoCompact(db, batchId, compactEvery, keepVersions)
        }
        ()
      }

  /** Streaming sketch maintenance: each micro-batch's `elemCol` tokens
    * fold into the KMV + count-min + Misra–Gries stores (plus the
    * histogram store when `valueCol` names a numeric column) as ONE
    * transaction ([[SketchStore.registerSketches]]); the auto-fold is one
    * atomic supersede of every family ([[SketchStore.foldSketches]]).
    * Every sketch sink takes the same policies: `foldEvery` > 0 folds on
    * every n-th committed batch (`fold.every/<sinkId>`), `compactEvery`
    * > 0 compacts, vacuums and prunes history to `keepVersions`
    * (`compact.every/<sinkId>`, `keep.versions/<sinkId>`).
    */
  def sketchWriter(db: Db, stream: DataFrame, elemCol: String,
                   tag: String = "t",
                   valueCol: Option[String] = None,
                   trigger: Trigger = Trigger.AvailableNow(),
                   sinkId: String = "sketch", foldEvery: Int = 0,
                   compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, id, cur, props) =>
      SketchStore.registerSketches(db, b, col(elemCol), id, tag,
        valueCol = valueCol.map(col), cursor = cur, sinkProps = props,
        fuse = true), SketchStore.foldSketches)

  /** Streaming quantile maintenance: each micro-batch's integral
    * `valueCol` into the histogram store ([[SketchStore.registerHist]]).
    * A separate sink from [[sketchWriter]] for streams whose values are
    * not a column of the token stream (e.g. per-document token counts);
    * the two can share a warehouse and a tag.
    */
  def histWriter(db: Db, stream: DataFrame, valueCol: String,
                 tag: String = "t",
                 trigger: Trigger = Trigger.AvailableNow(),
                 sinkId: String = "hist", foldEvery: Int = 0,
                 compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, id, cur, props) =>
      SketchStore.registerHist(db, b, col(valueCol), id, tag, cursor = cur,
        sinkProps = props, fuse = true), SketchStore.foldHist)

  /** Streaming per-group quantile maintenance
    * ([[SketchStore.registerHistBy]]): the running per-source envelopes
    * `/_query/stats?by` serves.
    */
  def histByWriter(db: Db, stream: DataFrame, grpCol: String,
                   valueCol: String, tag: String = "t",
                   trigger: Trigger = Trigger.AvailableNow(),
                   sinkId: String = "histby", foldEvery: Int = 0,
                   compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, id, cur, props) =>
      SketchStore.registerHistBy(db, b, col(grpCol), col(valueCol), id, tag,
        cursor = cur, sinkProps = props, fuse = true), SketchStore.foldHistBy)

  /** Streaming Misra–Gries maintenance on its own
    * ([[SketchStore.registerMg]]), for a token stream that doesn't want
    * the full [[sketchWriter]] trio.
    */
  def mgWriter(db: Db, stream: DataFrame, elemCol: String,
               tag: String = "t",
               trigger: Trigger = Trigger.AvailableNow(),
               sinkId: String = "mg", foldEvery: Int = 0,
               compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, id, cur, props) =>
      SketchStore.registerMg(db, b, col(elemCol), id, tag, cursor = cur,
        sinkProps = props, fuse = true), SketchStore.foldMg)

  /** Streaming per-group distinct counts ([[SketchStore.registerKmvBy]]):
    * running per-source vocabulary estimates; replay-idempotent by the
    * union law.
    */
  def kmvByWriter(db: Db, stream: DataFrame, grpCol: String,
                  elemCol: String, tag: String = "t",
                  trigger: Trigger = Trigger.AvailableNow(),
                  sinkId: String = "kmvby", foldEvery: Int = 0,
                  compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, _, cur, props) =>
      SketchStore.registerKmvBy(db, b, col(grpCol), col(elemCol), tag,
        cursor = cur, sinkProps = props, fuse = true), SketchStore.foldKmvBy)

  /** The grouped [[sketchWriter]] ([[SketchStore.registerSketchesBy]],
    * auto-fold [[SketchStore.foldSketchesBy]]).
    */
  def sketchByWriter(db: Db, stream: DataFrame, grpCol: String,
                     elemCol: String, tag: String = "t",
                     valueCol: Option[String] = None,
                     trigger: Trigger = Trigger.AvailableNow(),
                     sinkId: String = "sketchby", foldEvery: Int = 0,
                     compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, id, cur, props) =>
      SketchStore.registerSketchesBy(db, b, col(grpCol), col(elemCol), id,
        tag, valueCol = valueCol.map(col), cursor = cur, sinkProps = props,
        fuse = true), SketchStore.foldSketchesBy)

  /** Streaming per-group frequent items ([[SketchStore.registerMgBy]]):
    * running per-source token watchlists.
    */
  def mgByWriter(db: Db, stream: DataFrame, grpCol: String,
                 elemCol: String, tag: String = "t",
                 trigger: Trigger = Trigger.AvailableNow(),
                 sinkId: String = "mgby", foldEvery: Int = 0,
                 compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, id, cur, props) =>
      SketchStore.registerMgBy(db, b, col(grpCol), col(elemCol), id, tag,
        cursor = cur, sinkProps = props, fuse = true), SketchStore.foldMgBy)

  /** Streaming per-group frequency grids
    * ([[SketchStore.registerCountMinBy]]): point frequency of ANY item
    * per source, the quadrant MG's watchlists can't answer.
    */
  def cmByWriter(db: Db, stream: DataFrame, grpCol: String,
                 elemCol: String, tag: String = "t",
                 trigger: Trigger = Trigger.AvailableNow(),
                 sinkId: String = "cmby", foldEvery: Int = 0,
                 compactEvery: Int = 0,
                 keepVersions: Int = KEEP_VERSIONS)
      : DataStreamWriter[Row] =
    sketchSink(db, stream, tag, trigger, sinkId, foldEvery, compactEvery,
        keepVersions)((b, id, cur, props) =>
      SketchStore.registerCountMinBy(db, b, col(grpCol), col(elemCol), id,
        tag, cursor = cur, sinkProps = props, fuse = true),
      SketchStore.foldCountMinBy)

  /** The auto-fold / auto-compact cadences as table properties, ridden
    * into the registration's OWN publishing commit (one version, no
    * second crash window) so an operator can read the cadences off the
    * manifest.
    */
  private def foldEveryProps(sinkId: String, foldEvery: Int,
                             compactEvery: Int = 0,
                   keepVersions: Int = KEEP_VERSIONS): Map[String, String] =
    (if (foldEvery > 0)
       Map(s"fold.every/$sinkId" -> foldEvery.toString)
     else Map.empty[String, String]) ++
      (if (compactEvery > 0)
        // the prune window rides next to the compaction cadence so an
        // operator can read the RETENTION contract (how far back
        // --at-version reaches) off the manifest, not the job code
        Map(s"compact.every/$sinkId" -> compactEvery.toString,
          s"keep.versions/$sinkId" -> keepVersions.toString)
       else Map.empty[String, String])

  /** Fold on every `foldEvery`-th committed batch (batch ids are
    * 0-based, so batch foldEvery−1 triggers the first fold).
    */
  private def shouldFold(batchId: Long, foldEvery: Int): Boolean =
    foldEvery > 0 && (batchId + 1) % foldEvery == 0

  /** The index sinks' cursor advance — one manifest commit that also
    * records the auto-compact cadence as a table property (the sketch
    * sinks ride theirs into the registration's publishing commit; these
    * sinks' index writers commit internally, so the cursor commit is
    * where the cadence can ride for free).
    */
  private def cursorCommit(db: Db, sinkId: String, batchId: Long,
                           compactEvery: Int,
                           keepVersions: Int = KEEP_VERSIONS): Unit = {
    Manifest.update(db.warehouse) { m =>
      val cur = m.withStreamBatch(sinkId, batchId)
      val props = foldEveryProps(sinkId, 0, compactEvery, keepVersions)
      if (props.isEmpty) cur else cur.copy(props = cur.props ++ props)
    }
    ()
  }

  /** The auto-compact half of the maintenance pair (SCALE.md's fold
    * economics: a fold bounds the LIVE rows but the superseded
    * generations stay listed in the manifest and on disk until a
    * compaction folds them physically — dirs, footers and delete
    * markers otherwise grow one per batch/fold forever). On the
    * cadence: a MAJOR compact (the store's warehouse is sketch-sized
    * by design — one store family per warehouse, the engine-wide
    * layout rule — so the full rewrite is sketch-sized too, and major
    * is what purges the fold markers minor would retain), then a
    * vacuum pass whose grace window removes dirs retired by EARLIER
    * cadence points. Same non-fatal contract as the auto-fold: the
    * batch already committed; skipping maintenance is always safe —
    * and the same BOUNDED-wait contract too: the try-variants give up
    * instantly when another compactor holds the lock, because a
    * blocking lock wait would stall the micro-batch for that
    * compaction's full duration (the auto-fold's 15 s argument,
    * sharpened to zero).
    */
  private def autoCompact(db: Db, batchId: Long, compactEvery: Int,
                          keepVersions: Int = KEEP_VERSIONS): Unit =
    if (shouldFold(batchId, compactEvery)) nonFatalFold(db) {
      if (!graft.store.Compactor.tryMajor(db))
        log.warn("auto-compact skipped: another compactor holds the lock")
      else if (!graft.store.Compactor.tryVacuum(db))
        // vacuum is what clears crashed writers' stale pending claims
        // (the raised-fold-fence case) — a skip must be as loud as the
        // compact's
        log.warn("auto-vacuum skipped: another compactor took the lock")
      // manifest-history prune rides the same cadence: folds bound the
      // live rows, compaction bounds the data directories, and this
      // bounds the LAST unbounded curve — one _manifest/v<seq>.json per
      // commit (2 per micro-batch), whose listing eventually dominates
      // on an object store. keepVersions is the time-travel window an
      // operator retains (versions inside it stay readable by
      // `read --at-version`).
      else if (!graft.store.Compactor.tryPruneHistory(db, keepVersions))
        log.warn("auto-prune skipped: another compactor took the lock")
    }

  /** Default manifest-history window the auto-maintenance prune keeps:
    * deep enough that a human debugging a stream has days of versions
    * to time-travel over at typical cadences, small enough that the
    * `_manifest` listing stays O(1)-ish forever.
    */
  val KEEP_VERSIONS: Int = 100

  /** How long an AUTO-fold waits out concurrent writers before skipping:
    * much shorter than the manual folds' 10-minute budget, because
    * inside a streaming sink the wait stalls the micro-batch itself —
    * a skipped fold retries at the next cadence point for free, so
    * stalling ingest to win the fence is a bad trade.
    */
  val AUTO_FOLD_WAIT_MILLIS: Long = 15 * 1000L

  /** An auto-fold that cannot fold must NOT kill the streaming query:
    * the batch itself committed exactly-once already, the store stays
    * correct (merely unfolded), and the next cadence point retries —
    * skipping is strictly safer than failing ingest for the sake of
    * maintenance. That argument holds for ANY failure, not just the
    * fence timeout: a transient Spark job or filesystem error during
    * the fold's read/checkpoint/write is equally maintenance-only, so
    * everything non-fatal is caught (the fold either published
    * atomically or not at all — there is no half-folded state to fear).
    *
    * Skips are COUNTED per warehouse so a SYSTEMATIC failure (schema
    * drift, misconfigured tag, persistent filesystem error) is
    * distinguishable from transient contention: transient skips reset
    * on the next success, while `MAINT_ESCALATE` straight failures
    * escalate to an ERROR on the `graft` log carrying the streak — the
    * signal a monitor tails for, because unfolded/uncompacted state
    * grows unbounded exactly when maintenance fails EVERY cadence
    * point. [[consecutiveMaintenanceFailures]] exposes the live streak.
    */
  private[streaming] def nonFatalFold(db: Db)(fold: => Unit): Unit =
    try {
      fold
      maintFailures.remove(db.warehouse)
      // clear a PERSISTED streak only when one exists: the steady state
      // (no failures) costs zero extra manifest commits
      try {
        if (Manifest.current(db.warehouse).props.contains(MAINT_STREAK_PROP))
          Manifest.update(db.warehouse)(m =>
            m.copy(props = m.props - MAINT_STREAK_PROP))
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
    } catch {
      case scala.util.control.NonFatal(e) =>
        val streak = maintFailures.merge(db.warehouse, 1,
          (a, b) => Integer.valueOf(a + b)).intValue
        // persist the streak as a manifest property so a serving tier in
        // ANOTHER process reports it from _status — best-effort: when the
        // failure is the manifest itself, the in-JVM counter still rises
        // and the reader falls back to it
        try {
          Manifest.update(db.warehouse)(m =>
            m.copy(props = m.props + (MAINT_STREAK_PROP -> streak.toString)))
          ()
        } catch { case scala.util.control.NonFatal(_) => () }
        log.warn(s"auto-maintenance skipped: ${e.getMessage}")
        if (streak >= MAINT_ESCALATE)
          log.error(
            s"auto-maintenance has failed $streak " +
              s"consecutive cadence points on ${db.warehouse} — live rows " +
              "and transaction directories are growing unbounded; " +
              "investigate (schema drift? crashed writer's pending claim " +
              "needing Compactor.vacuum? filesystem errors?)")
    }

  /** Consecutive failed maintenance cadence points before the skip
    * lines escalate to an explicit unbounded-growth warning.
    */
  val MAINT_ESCALATE: Int = 3

  private val maintFailures =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Test seam: drop the IN-JVM counter only, leaving the persisted
    * manifest property — how a spec emulates "another process" reading
    * the streak (a real second process simply has no in-JVM entry).
    */
  private[streaming] def clearInJvmStreak(warehouse: String): Unit = {
    maintFailures.remove(warehouse); ()
  }

  /** Manifest property carrying the persisted failure streak — written
    * by [[nonFatalFold]]'s failure path, cleared on the next success,
    * absent in the zero-failure steady state (so persisting it costs
    * nothing until something is actually wrong).
    */
  val MAINT_STREAK_PROP = "maint.failStreak"

  /** The current consecutive auto-maintenance failure streak for a
    * warehouse — the counter a health check polls instead of tailing
    * the `graft` log. Returns the MAX of the persisted manifest property (a
    * stat-cached read, so `_status` in a process other than the sink's
    * JVM reports the streak) and this JVM's live counter: when the
    * manifest itself is what's failing, the swallowed persist leaves
    * the property stale-LOW while the live counter climbs — the health
    * check must see the climb. The deliberate cost: a maintenance
    * success in ANOTHER process clears the property but not this JVM's
    * counter, which stays up until this JVM's own next success — the
    * counter errs loud, never silent.
    */
  def consecutiveMaintenanceFailures(warehouse: String): Int = {
    val persisted =
      try Manifest.current(warehouse).props
        .get(MAINT_STREAK_PROP).flatMap(_.toIntOption)
      catch { case scala.util.control.NonFatal(_) => None }
    // MAX of persisted and in-JVM, not preference: when the manifest
    // itself is failing, the persist is swallowed and the property goes
    // stale LOW while the live counter climbs — the health check must
    // see the climb (erring loud: a cross-process success clears the
    // property but this JVM's counter only clears on its own success)
    math.max(persisted.getOrElse(0),
      Option(maintFailures.get(warehouse)).fold(0)(_.intValue))
  }
}
