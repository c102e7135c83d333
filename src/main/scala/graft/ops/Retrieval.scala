package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — BM25 (Robertson et al., the
  * Lucene `k1/b` variant with the +1 idf floor), the standard baseline
  * for query-driven training-data selection and for the lexical side of
  * hybrid (BM25 + dense) retrieval next to [[Similarity]]'s ANN stack.
  *
  * Score(D,Q) = Σ_{t∈Q} idf(t) · f·(k1+1) / (f + k1·(1−b+b·|D|/avgdl)),
  * idf(t) = ln((N − n_t + 0.5)/(n_t + 0.5) + 1).
  *
  * Cross-engine determinism: each per-term contribution is quantized to
  * integer MICRO units before summing (the [[Selection]] device) — `ln`
  * is the one float op with no IEEE cross-libm guarantee, and micro-
  * rounding absorbs sub-ULP drift while integer sums stay exact, so the
  * driver row hash-matches DuckDB.
  *
  * Plan shape at 100 TB: one tokenizing pass over the corpus
  * ([[graft.functions.TermCounts]]) emits per-document term counts,
  * hash-partitioned by `doc_id` once into postings that carry their
  * document length, materialized once for every consumer (see the note
  * in [[bm25TopK]]); the query terms broadcast into the postings (never
  * the reverse); per-term document frequencies aggregate over the
  * MATCHED postings only and broadcast back; the only wide operations
  * are the `doc_id` exchange, the n_t and corpus-stat aggregations and
  * the per-query top-k window.
  */
object Retrieval {
  val K1 = 1.2
  val B = 0.75
  val MICRO = 1000000L

  /** Top-k BM25 documents per query. `queries` carries (query_id: Long,
    * qtext: String); terms tokenize like the corpus (single-space
    * split). Rows sharing a `doc_id` are one document; a null `doc_id`
    * is a document of the corpus statistics (`n_docs`, avgdl, `n_t`)
    * that is never scored.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int): DataFrame = {
    // the corpus is tokenized ONCE: per-row (term, f) partial counts,
    // hash-partitioned by doc_id once, merged into postings with the
    // document length beside every posting, and pinned, so postings,
    // corpus stats, n_t and scoring all read one materialization. An
    // explicit repartition(doc_id) of the token stream alone, unpinned,
    // still tokenizes twice: the `isnotnull(doc_id)` inferred from the
    // scoring side's doc_id join is pushed below the exchange and splits
    // it from the other branches' (15 jobs on the benchmark corpus, two
    // Generate nodes, one over a doc_id-filtered scan). The partition
    // count is fixed, so AQE does not coalesce the exchange into one
    // serial task.
    val nParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val postings = graft.core.Graft.pin(
      graft.core.Graft.rebalance(docs)
        .select(col(idCol).cast("long").as("doc_id"),
          inline(graft.functions.TermCounts(col(textCol))))
        .repartition(nParts, col("doc_id"))
        .groupBy("doc_id", "term").agg(sum(col("f")).as("f"))
        .withColumn("dl", sum(col("f")).over(Window.partitionBy("doc_id"))))
    val stats = postings.groupBy("doc_id").agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // the query set is broadcast into the postings, so it is small by
    // contract: one partition holds it and its term distinct plans no
    // exchange
    val qterms = queries.coalesce(1)
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    // n_t per (query, term): each distinct pair meets every posting of
    // its term once, so the count is the term's document frequency and
    // the query-term broadcast needs no second, term-only distinct
    val termDf = postings.join(broadcast(qterms), Seq("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("nt"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(
      (col("n_docs") - col("nt") + 0.5) / (col("nt") + 0.5) + 1.0)
    val tfn = col("f") * (K1 + 1.0) /
      (col("f") + (col("dl") / avgdl * B + (1.0 - B)) * K1)
    val contrib = round(idf * tfn * MICRO.toDouble, 0).cast("long")
    // postings stay hash-partitioned by doc_id: the (query, doc) sum is
    // partition-local
    val scored = postings.filter(col("doc_id").isNotNull)
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(termDf), Seq("query_id", "term"))
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(sum(contrib).as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  // ── persisted postings index (register once, probe many) ───────────
  //
  // bm25TopK re-aggregates postings per call; a deployment answering
  // many query sets materializes the inverted index once in the
  // warehouse and pays only the probe per query set — the same
  // register-once/probe-many split as the dedup fingerprint and sketch
  // stores, with the same free-rider benefits (compaction, time travel,
  // transactional publish). Layout v2 (manifest table property
  // `bm25.layout` = "2"):
  //
  //   key = "p/<term>"  ts = doc_id   →  term, f, dl     (postings,
  //                                      doc length DENORMALIZED)
  //   key = "pd/"       ts = doc_id   →  dl              (doc lengths)
  //   key = "ps/"       ts = max doc  →  n_docs, sum_dl  (per-BATCH
  //                                      corpus-stat partials)
  //
  // All relations are per-document (or per-batch-of-documents) rows, so
  // the index is incrementally maintainable for free: a new batch
  // appends its own rows ([[appendBm25Batch]]) and every corpus
  // statistic the score needs (N, avgdl, per-term df) derives at probe
  // time from what is stored — nothing global is cached that an append
  // could invalidate. The ps/ row's ts is the batch's max doc id, a
  // CONTENT-derived key, so the idempotent re-append of a batch lands
  // on the same (key, ts) and last-wins dedups it instead of
  // double-counting the partials.
  //
  // Why denormalize dl into the postings (the v2 change): the v1 probe
  // joined the MATCHED postings against the corpus-sized pd/ relation
  // to fetch each candidate's length, and aggregated the same relation
  // for (N, Σdl) — two full slim-column corpus scans + one shuffle per
  // probe regardless of how few postings matched. v2 probes touch ONLY
  // the term-pruned postings plus the O(batches) ps/ partials: probe
  // cost is now independent of corpus size. Build pays the dl join
  // once; storage grows by one long per posting (zstd'd repetitive).
  // v1 stores (no `bm25.layout` property) keep the join path — and
  // because v2 still writes pd/, a v1-plan read of v2 data is correct,
  // so the layout flag only ever switches between two correct plans.
  //
  // The probe never scans the postings store blind: the query terms
  // become key-prefix reads ("p/<term>" per term — the store is
  // key-sorted, so tx stats + row-group pruning cut the scan to the
  // touched terms), and everything joined after that is bounded by the
  // matched postings.

  /** Writes one batch's postings + doc lengths as ONE transaction — the
    * shared kernel of build and append. Atomicity matters: the probe
    * inner-joins postings to lengths on `doc_id`, so a snapshot holding
    * one relation without the other would silently drop the missing
    * documents from scoring while `termDf` still counted their postings
    * — a transiently inconsistent score. One tx = one logical publish,
    * the engine's standard everywhere else (Serve PUT, sketch
    * register). The two keyspaces share a schema by union (each row
    * carries only its own columns, the other side's are null).
    */
  /** The manifest property carrying the index's physical layout
    * generation; absent = v1 (pre-denormalization stores).
    */
  val LayoutProp = "bm25.layout"

  private def writeBatch(db: graft.store.Db, docs: DataFrame, idCol: String,
                         textCol: String, v2: Boolean,
                         cursor: Option[(String, Long)] = None,
                         sinkProps: Map[String, String] = Map.empty,
                         fuse: Boolean = false): Long =
    // the layout property rides IN the publishing commit — atomic with
    // the rows becoming visible, so no reader can ever observe the flag
    // without the layout (or crash-strand a stale flag)
    graft.store.TxWriter.write(db, indexRows(docs, idCol, textCol, v2),
      props = layoutProps(v2) ++ sinkProps, streamCursor = cursor,
      fuse = fuse)

  private def layoutProps(v2: Boolean): Map[String, String] =
    if (v2) Map(LayoutProp -> "2") else Map.empty

  /** One batch's index rows — postings, document lengths and (v2) the
    * corpus-stat partial — pinned.
    */
  private def indexRows(docs: DataFrame, idCol: String, textCol: String,
                        v2: Boolean): DataFrame = {
    val toks = graft.core.Graft.rebalance(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // doc lengths aggregate the token stream directly (map-side combine
    // collapses each partition to its doc count before the shuffle);
    // deriving them from the postings aggregate instead was measured
    // SLOWER — the union's branches do not share the postings exchange
    // across the range-sampling and shuffle phases
    val dl0 = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val postings0 = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("f"))
    val postings =
      (if (v2) postings0.join(dl0, Seq("doc_id")) // dl denormalized once
       else postings0)
        .select(Seq(concat(lit("p/"), col("term")).as("key"),
          col("doc_id").as("ts"), col("term"), col("f")) ++
          (if (v2) Seq(col("dl")) else Nil): _*)
    val dl = dl0
      .select(lit("pd/").as("key"), col("doc_id").as("ts"), col("dl"))
    val body = postings.unionByName(dl, allowMissingColumns = true)
    val all =
      if (!v2) body
      else {
        // one corpus-stat partial per batch; ts = max doc id (content-
        // derived → idempotent re-appends dedupe under last-wins).
        // Empty batches contribute no row (null max filtered).
        val stats = dl0.agg(max(col("doc_id")).as("ts"),
            count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .filter(col("ts").isNotNull)
          .select(lit("ps/").as("key"), col("ts"), col("n_docs"),
            col("sum_dl"))
        body.unionByName(stats, allowMissingColumns = true)
      }
    // materialize the batch rows ONCE (Graft.pin): the write's range exchange
    // SAMPLES its input before the write job runs it — unpinned, the whole
    // tokenize → aggregate → join pipeline executed twice per transaction
    // (guide §5: cache when an intermediate is consumed twice and recomputing
    // costs more than holding it — here the pinned frame is exactly the
    // batch's index-rows, bytes the write materializes anyway)
    graft.core.Graft.pin(all)
  }

  /** Materializes the full index. A REBUILD (non-empty warehouse)
    * supersedes the index keyspace: delete markers scoped to its prefixes
    * and the new rows publish in ONE manifest commit
    * ([[graft.store.TxWriter.supersede]], the [[Similarity.buildIndex]]
    * rebuild pattern), so last-wins cannot leave stale postings for
    * documents the new corpus no longer contains, no snapshot sees the
    * index deleted but not yet replaced, and other stores sharing the
    * warehouse are untouched.
    */
  def buildBm25Index(db: graft.store.Db, docs: DataFrame, idCol: String,
                     textCol: String): Long =
    if (db.snapshot().manifest.dataTxids.isEmpty)
      writeBatch(db, docs, idCol, textCol, v2 = true)
    else graft.store.TxWriter.supersede(db, Seq("p/%", "pd/%", "ps/%"),
      indexRows(docs, idCol, textCol, v2 = true), "BM25 index rebuild",
      props = layoutProps(v2 = true))

  /** Incremental maintenance — the FAISS-`add` analogue for the lexical
    * side: append a batch of NEW documents' postings and lengths (cost
    * = the batch's own aggregation + two tx commits; index size and
    * history never enter). Correct because every statistic the probe
    * uses (N, avgdl, per-term df, tf) is a sum over per-document rows.
    * For CHANGED documents use [[buildBm25Index]]'s rebuild path — an
    * append would leave the old text's rows for terms the new text no
    * longer contains.
    */
  /** `cursor`/`sinkProps`/`fuse` are the streaming-sink riders (the
    * sketch-store registration contract): the replay cursor and the
    * sink's cadence props ride the append's OWN publishing commit, and
    * `fuse` makes that commit the only one — a bm25 micro-batch then
    * costs ONE manifest commit instead of append-claim + append-publish
    * + a separate cursor commit.
    */
  def appendBm25Batch(db: graft.store.Db, batch: DataFrame, idCol: String,
                      textCol: String,
                      cursor: Option[(String, Long)] = None,
                      sinkProps: Map[String, String] = Map.empty,
                      fuse: Boolean = false): Long = {
    // match the STORE's layout: a pre-upgrade (v1) store keeps receiving
    // v1 rows — mixing layouts would leave null dl on some postings. A
    // fresh/empty store starts at v2.
    val m = graft.store.Manifest.current(db.warehouse)
    val v2 = m.props.get(LayoutProp).contains("2") || m.dataTxids.isEmpty
    writeBatch(db, batch, idCol, textCol, v2, cursor, sinkProps, fuse)
  }

  /** Fixture writer for upgrade coverage: materializes the
    * PRE-DENORMALIZATION (v1) layout exactly as the original builder
    * did — postings without `dl`, no ps/ partials, no layout property —
    * so [[migrateBm25Layout]]'s driver row and specs can exercise a
    * genuine legacy store through the one shared tokenization kernel
    * instead of a drifting re-implementation. Not part of the public
    * surface: new stores always build v2.
    */
  private[graft] def buildBm25IndexLegacyV1(db: graft.store.Db,
      docs: DataFrame, idCol: String, textCol: String): Long =
    writeBatch(db, docs, idCol, textCol, v2 = false)

  /** In-place layout upgrade of a pre-denormalization (v1) store — the
    * escape hatch from the one asymmetry the layout flag leaves behind:
    * a v1 store keeps receiving v1 rows forever ([[appendBm25Batch]]
    * matches the store's layout), so without this op the only route to
    * the corpus-size-independent v2 probe is a full rebuild FROM THE
    * CORPUS. The migration instead rewrites only the INDEX: one atomic
    * tx carrying (a) every live posting re-emitted with its document's
    * `dl` denormalized in — same (key, ts), higher txid, so last-wins
    * supersedes the slim row and a later major compact purges it — (b)
    * one ps/ corpus-stat partial covering the whole migrated corpus
    * (ts = max doc id, the same content-derived key appends use), and
    * (c) the layout property riding in the publishing commit, so no
    * reader can observe flag and rows apart. Cost is one index scan +
    * one postings⋈lengths shuffle — index-sized, never corpus-sized,
    * which is what makes upgrading a 100 TB deployment feasible at all.
    * Pre-migration snapshots keep planning v1 (their manifest carries
    * no flag), and post-migration appends write v2 batch partials whose
    * ts can only collide with the migration partial by re-appending the
    * current max doc id — already outside [[appendBm25Batch]]'s
    * new-documents contract. Returns the committed txid; None if the
    * store is already v2 (nothing to do — empty stores build v2).
    */
  def migrateBm25Layout(db: graft.store.Db): Option[Long] = {
    val m = graft.store.Manifest.current(db.warehouse)
    if (m.props.get(LayoutProp).contains("2") || m.dataTxids.isEmpty) None
    else {
      val snap = db.snapshot()
      val dl0 = snap.read("pd/").select(col("ts").as("doc_id"), col("dl"))
      val postings = snap.read("p/%")
        .select(col("key"), col("ts").as("doc_id"), col("term"), col("f"))
        .join(dl0, Seq("doc_id"))
        .select(col("key"), col("doc_id").as("ts"), col("term"), col("f"),
          col("dl"))
      val stats = dl0
        .agg(max(col("doc_id")).as("ts"), count(lit(1)).as("n_docs"),
          sum(col("dl")).as("sum_dl"))
        .filter(col("ts").isNotNull)
        .select(lit("ps/").as("key"), col("ts"), col("n_docs"),
          col("sum_dl"))
      val all = postings.unionByName(stats, allowMissingColumns = true)
      // pin: same consumed-twice argument as writeBatch (range sampling
      // + write job), applied to the index-sized migration rewrite
      Some(graft.store.TxWriter.write(db, graft.core.Graft.pin(all),
        props = Map(LayoutProp -> "2")))
    }
  }

  /** Top-k BM25 per query against the PERSISTED index: per-term
    * key-range reads of the postings store (pruned, never a full scan),
    * the same broadcast shape as [[bm25TopK]] after that. Identical
    * scores to the direct path — spec-asserted.
    */
  def bm25ProbeIndex(db: graft.store.Db, queries: DataFrame,
                     k: Int): DataFrame = {
    val qterms = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).sorted
    probeWithTerms(db, qterms, terms, k)
  }

  /** [[bm25ProbeIndex]] for a LITERAL query list — the serving path
    * ([[graft.serve.Serve]]'s `/_query` verbs): the term set is derived
    * driver-side from strings the caller already holds, so a probe
    * launches NO discovery job before its one scoring job. Identical
    * plan and scores to the DataFrame path (spec-asserted).
    */
  def bm25ProbeLiteral(db: graft.store.Db, queries: Seq[(Long, String)],
                       k: Int): DataFrame = {
    val spark = db.spark
    import spark.implicits._
    val pairs = queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(qid -> _)
      }.distinct
    val qterms = pairs.toDF("query_id", "term")
    probeWithTerms(db, qterms, pairs.map(_._2).distinct.sorted.toArray, k)
  }

  /** [[bm25ProbeIndex]] for DISTRIBUTED query sets — the batch-probe
    * twin with BOUNDED driver state, mirroring
    * [[Similarity.ivfPqProbePersistedRelational]]: the literal path
    * collects the distinct term set to the driver and plants it in the
    * plan as an `isin` literal, which is the right shape for
    * serving-sized query lists but a driver-memory and plan-size cliff
    * at a 10⁵-query batch (e.g. mining queries for every document of a
    * corpus). Here the term set never leaves the cluster: the postings
    * keyspace is prefix-pruned by the scan (`key ∈ ["p/", succ)`), then
    * a LEFT-SEMI join on `key` against the batch's derived term keys
    * keeps only the touched terms — Spark broadcasts or bloom-prunes the
    * slim build side as it sizes it (the term set is vocabulary-bounded
    * regardless of query count). Identical scores to the literal path
    * (same scoring kernel, RetrievalBatchSpec value-equality).
    */
  def bm25ProbeRelational(db: graft.store.Db, queries: DataFrame,
                          k: Int): DataFrame = {
    val snap = requireIndex(db)
    val qterms = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val qkeys = qterms.select(concat(lit("p/"), col("term")).as("key"))
      .distinct()
    val v2 = layoutV2(snap)
    val postings = snap.read("p/%")
      .join(qkeys, Seq("key"), "left_semi")
      .select(Seq(col("ts").as("doc_id"), col("term"), col("f")) ++
        (if (v2) Seq(col("dl")) else Nil): _*)
    // plain (AQE-planned) joins on the query side: a batch's qterms can
    // be arbitrarily large, so the broadcast decision belongs to the
    // runtime, not the plan
    scoreProbe(snap, qterms, postings, v2, k, broadcastQ = false)
  }

  private def requireIndex(db: graft.store.Db): graft.store.Db#Snapshot = {
    val snap = db.snapshot()
    require(snap.manifest.dataTxids.nonEmpty &&
      snap.read("pd/").columns.contains("dl"),
      s"no BM25 index registered in ${db.warehouse} — run buildBm25Index first")
    snap
  }

  /** The snapshot's OWN manifest decides the plan (time-travel-correct:
    * an old snapshot of a since-upgraded store reads with the plan its
    * version supported — and a v1 plan over v2 rows is correct anyway,
    * pd/ is still written).
    */
  private def layoutV2(snap: graft.store.Db#Snapshot): Boolean =
    snap.manifest.props.get(LayoutProp).contains("2")

  private def probeWithTerms(db: graft.store.Db, qterms: DataFrame,
                             terms: Array[String], k: Int): DataFrame = {
    val snap = requireIndex(db)
    if (terms.isEmpty)
      return qterms.sparkSession.range(0)
        .select(col("id").as("query_id"), col("id").as("doc_id"),
          col("id").as("score_micro"), col("id").as("rank"))
    // ONE postings read with the term set pushed into the scan — as a
    // KEY predicate, not a term predicate: the last-wins merge windows
    // on (key, ts), so only key filters push through it to the parquet
    // scan (plan-asserted in PlanHygieneSpec), where the key-sorted
    // store prunes row groups to the touched terms. The single subtree
    // also avoids |terms| separate scan plans (measured 2× on the
    // probe). At extreme store sizes per-term key reads would add
    // FILE-level pruning on top — swap `snap.read(s"p/$t")` back in if
    // footer listing ever dominates.
    val v2 = layoutV2(snap)
    val postings = snap.read("p/%")
      .filter(col("key").isin(terms.map("p/" + _): _*))
      .select(Seq(col("ts").as("doc_id"), col("term"), col("f")) ++
        (if (v2) Seq(col("dl")) else Nil): _*)
    scoreProbe(snap, qterms, postings, v2, k, broadcastQ = true)
  }

  /** The shared probe scoring kernel — ONE implementation, so the
    * literal and relational probe paths cannot drift in arithmetic:
    * corpus stats derived from the stored rows at probe time (appends
    * can never leave them stale), kept RELATIONAL (one-row agg
    * broadcast-crossed into the scored postings, the bm25TopK shape) so
    * the probe never runs a driver-side stats job — the steady-state
    * serving path stays one Spark job per probe, not two. On a v2
    * layout the postings already carry `dl` and (N, Σdl) sum over the
    * O(batches) ps/ partials — nothing corpus-sized is scanned or
    * joined; v1 falls back to the pd/ join. `broadcastQ` pins the
    * broadcast for serving-sized query sets; batch probes leave the
    * join strategy to AQE.
    */
  private def scoreProbe(snap: graft.store.Db#Snapshot, qterms: DataFrame,
                         postings: DataFrame, v2: Boolean, k: Int,
                         broadcastQ: Boolean): DataFrame = {
    val stats =
      if (v2) snap.read("ps/")
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      else snap.read("pd/").select(col("ts").as("doc_id"), col("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val termDf = postings.groupBy("term").agg(count(lit(1)).as("nt"))
    val bq = if (broadcastQ) broadcast(qterms) else qterms
    val btd = if (broadcastQ) broadcast(termDf) else termDf
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(
      (col("n_docs") - col("nt") + 0.5) / (col("nt") + 0.5) + 1.0)
    val tfn = col("f") * (K1 + 1.0) /
      (col("f") + (col("dl") / avgdl * B + (1.0 - B)) * K1)
    val contrib = round(idf * tfn * MICRO.toDouble, 0).cast("long")
    val joined =
      if (v2) postings.join(bq, Seq("term")).join(btd, Seq("term"))
      else {
        val dl = snap.read("pd/").select(col("ts").as("doc_id"), col("dl"))
        postings.join(bq, Seq("term")).join(btd, Seq("term"))
          .join(dl, Seq("doc_id"))
      }
    val scored = joined
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(sum(contrib).as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  // ── hybrid fusion ──────────────────────────────────────────────────

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists —
    * the standard hybrid-search combiner for BM25 × dense ANN: score =
    * Σ_lists 1/(k0 + rank), missing-from-one-list contributes nothing.
    * Rank lists in, rank list out: a pure full-outer join + two-term
    * add + window, no corpus access at all — fusion costs what the two
    * retrievers cost. Exactly two addends in a fixed order keep the
    * float path engine-identical; `round(…, 9)` guards the hash like
    * the cosine rows.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int,
              k0: Int = 60): DataFrame = {
    val ar = a.select(col("query_id"), col("doc_id"), col("rank").as("ra"))
    val br = b.select(col("query_id"), col("doc_id"), col("rank").as("rb"))
    val contrib = (r: org.apache.spark.sql.Column) =>
      coalesce(lit(1.0) / (r + k0.toDouble), lit(0.0))
    val fused = ar.join(br, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(contrib(col("ra")) + contrib(col("rb")), 9).as("rrf"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf"),
        col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Driver-side twin of [[rrfFuse]] for SERVING: RRF is a pure
    * function of two rank lists, each bounded by fetch-K — once both
    * sides are collected, fusing relationally would spend a whole
    * Spark job (full-outer join + window) on ≤ 2·fetch rows. Inputs
    * are (query_id, doc_id, rank); output (query_id, doc_id, rrf,
    * rank) tuples ordered like [[rrfFuse]]. Value-identical —
    * spec-pinned, same contribution arithmetic and rounding.
    */
  def rrfFuseLocal(a: Seq[(Long, Long, Long)], b: Seq[(Long, Long, Long)],
                   k: Int, k0: Int = 60): Seq[(Long, Long, Double, Long)] = {
    def contribs(xs: Seq[(Long, Long, Long)]) =
      xs.map { case (q, d, r) => (q, d) -> 1.0 / (r + k0.toDouble) }.toMap
    val ca = contribs(a)
    val cb = contribs(b)
    (ca.keySet ++ cb.keySet).toSeq
      .map { case (q, d) =>
        val raw = ca.getOrElse((q, d), 0.0) + cb.getOrElse((q, d), 0.0)
        (q, d, BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }
      .groupBy(_._1).toSeq.flatMap { case (_, xs) =>
        xs.sortBy { case (_, d, s) => (-s, d) }.take(k).zipWithIndex
          .map { case ((q, d, s), i) => (q, d, s, (i + 1).toLong) }
      }
      .sortBy { case (q, _, _, r) => (q, r) }
  }

  /** DuckDB twin of [[rrfFuse]] over two rank-list subqueries (adjacent
    * so they cannot drift).
    */
  def sqlRrfFuse(sqlA: String, sqlB: String, k: Int, k0: Int = 60): String =
    s"""WITH la AS ($sqlA),
       |lb AS ($sqlB),
       |fused AS (
       |  SELECT COALESCE(la.query_id, lb.query_id) AS query_id,
       |         COALESCE(la.doc_id, lb.doc_id) AS doc_id,
       |         round(COALESCE(1.0 / (la.rank + ${k0}.0), 0.0)
       |             + COALESCE(1.0 / (lb.rank + ${k0}.0), 0.0), 9) AS rrf
       |  FROM la FULL OUTER JOIN lb
       |    ON la.query_id = lb.query_id AND la.doc_id = lb.doc_id)
       |SELECT query_id, doc_id, rrf, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ── hybrid recall gate ─────────────────────────────────────────────

  /** Absolute recall@10 floor for the fused list in
    * [[hybridRecallRows]] at cutK = 100. Measured 0.70 / 0.86 / 0.80 at
    * sf0.1 / 0.01 / 0.001 (the ideal list rewards docs ranked
    * moderately in BOTH retrievers, some beyond any practical fetch-K);
    * 0.65 sits under the measured minimum with margin while still
    * catching a broken fusion — the beat-both-singles gates beside it
    * carry the sharper semantics.
    */
  val HYBRID_RECALL_FLOOR = 0.65

  /** The row set that proves fusion EARNS its keep — RRF exists to beat
    * either retriever alone, and hash-matching the fusion arithmetic
    * (`ret_hybrid_rrf`) can't show that. Ground truth: the RRF of the
    * two FULL rankings cut to top-k (the best answer this query mix can
    * express). Three (variant, hits, expected, recall, pass) rows
    * against it: the fused top-`cutK` lists, and each retriever's own
    * top-k. Pass gates: the hybrid row pins `recall >= floor` AND
    * `hits >= each single's hits`; each single's row pins
    * `hybrid hits >= its hits` — so a regression in EITHER direction
    * (fusion broken, or one retriever silently dominating) flips a 0/1
    * column and fails the hash-exact driver gate, the
    * [[Similarity.recallRow]] device.
    *
    * `lexFull`/`denseFull` carry (query_id, doc_id, rank) FULL rankings;
    * the plan cuts them relationally, so both the truth and every
    * candidate derive from one ranking computation per retriever.
    */
  def hybridRecallRows(lexFull0: DataFrame, denseFull0: DataFrame,
                       k: Int, cutK: Int): DataFrame = {
    // each full ranking feeds three consumers (truth, the cut fusion,
    // its own hits row); materialize once instead of re-running the
    // ranking computation per reference — the lists are slim
    // (query_id, doc_id, rank), bounded by queries × corpus
    val lexFull = lexFull0.select("query_id", "doc_id", "rank")
      .transform(graft.core.Graft.pin(_))
    val denseFull = denseFull0.select("query_id", "doc_id", "rank")
      .transform(graft.core.Graft.pin(_))
    val truth = rrfFuse(lexFull, denseFull, k).select("query_id", "doc_id")
    val hyb = rrfFuse(lexFull.filter(col("rank") <= cutK),
        denseFull.filter(col("rank") <= cutK), k)
      .select("query_id", "doc_id")
    def hits(df: DataFrame, as: String) =
      df.select("query_id", "doc_id").join(truth, Seq("query_id", "doc_id"))
        .agg(count(lit(1)).as(as))
    val one = hits(hyb, "h_h")
      .crossJoin(hits(lexFull.filter(col("rank") <= k), "h_l"))
      .crossJoin(hits(denseFull.filter(col("rank") <= k), "h_d"))
      .crossJoin(truth.agg(count(lit(1)).as("expected")))
    def ratio(c: org.apache.spark.sql.Column) =
      c.cast("double") / col("expected")
    def row(name: String, h: org.apache.spark.sql.Column,
            pass: org.apache.spark.sql.Column) =
      one.select(lit(name).as("variant"), h.as("hits"), col("expected"),
        round(ratio(h), 6).as("recall"), pass.cast("long").as("pass"))
    row("hybrid_rrf", col("h_h"),
        ratio(col("h_h")) >= HYBRID_RECALL_FLOOR &&
          col("h_h") >= col("h_l") && col("h_h") >= col("h_d"))
      .unionByName(row("lexical_only", col("h_l"), col("h_h") >= col("h_l")))
      .unionByName(row("dense_only", col("h_d"), col("h_h") >= col("h_d")))
      .orderBy("variant")
  }

  /** DuckDB twin of [[hybridRecallRows]] (adjacent so they cannot
    * drift). `lexFullSql`/`denseFullSql` are full-ranking SELECTs with
    * (query_id, doc_id, rank) columns; MATERIALIZED CTEs keep DuckDB
    * from inlining the multiply-referenced rankings exponentially.
    */
  def sqlHybridRecall(lexFullSql: String, denseFullSql: String,
                      k: Int, cutK: Int, k0: Int = 60): String = {
    def fuse(lexFilter: String, denFilter: String) =
      s"""SELECT query_id, doc_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY rrf DESC, doc_id) AS rank
         |  FROM (
         |    SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         |           COALESCE(a.doc_id, b.doc_id) AS doc_id,
         |           round(COALESCE(1.0 / (a.rank + ${k0}.0), 0.0)
         |               + COALESCE(1.0 / (b.rank + ${k0}.0), 0.0), 9) AS rrf
         |    FROM (SELECT * FROM lexfull $lexFilter) a
         |    FULL OUTER JOIN (SELECT * FROM denfull $denFilter) b
         |      ON a.query_id = b.query_id AND a.doc_id = b.doc_id))
         |WHERE rank <= $k""".stripMargin
    s"""WITH lexfull AS MATERIALIZED ($lexFullSql),
       |denfull AS MATERIALIZED ($denseFullSql),
       |tr AS MATERIALIZED (${fuse("", "")}),
       |hyb AS (${fuse(s"WHERE rank <= $cutK", s"WHERE rank <= $cutK")}),
       |r AS (SELECT
       |  (SELECT count(*) FROM hyb h
       |     JOIN tr ON h.query_id = tr.query_id AND h.doc_id = tr.doc_id)
       |    AS h_h,
       |  (SELECT count(*) FROM lexfull l
       |     JOIN tr ON l.query_id = tr.query_id AND l.doc_id = tr.doc_id
       |   WHERE l.rank <= $k) AS h_l,
       |  (SELECT count(*) FROM denfull d
       |     JOIN tr ON d.query_id = tr.query_id AND d.doc_id = tr.doc_id
       |   WHERE d.rank <= $k) AS h_d,
       |  (SELECT count(*) FROM tr) AS expected)
       |SELECT * FROM (
       |  SELECT 'hybrid_rrf' AS variant, h_h AS hits, expected,
       |    round(CAST(h_h AS DOUBLE) / expected, 6) AS recall,
       |    CAST(CAST(h_h AS DOUBLE) / expected >= $HYBRID_RECALL_FLOOR
       |         AND h_h >= h_l AND h_h >= h_d AS BIGINT) AS pass
       |  FROM r
       |  UNION ALL
       |  SELECT 'lexical_only', h_l, expected,
       |    round(CAST(h_l AS DOUBLE) / expected, 6),
       |    CAST(h_h >= h_l AS BIGINT) FROM r
       |  UNION ALL
       |  SELECT 'dense_only', h_d, expected,
       |    round(CAST(h_d AS DOUBLE) / expected, 6),
       |    CAST(h_h >= h_d AS BIGINT) FROM r
       |) ORDER BY variant""".stripMargin
  }

  /** DuckDB twin of [[bm25TopK]] over `documents` for a literal query
    * list (adjacent so they cannot drift — same constants, same
    * micro-quantization point).
    */
  def sqlBm25(queries: Seq[(Long, String)], k: Int): String = {
    val qvals = queries
      .flatMap { case (qid, text) =>
        text.split(" ").filter(_.nonEmpty).distinct.map(t => s"($qid, '$t')")
      }
      .mkString(", ")
    sqlBm25Body(s"q(query_id, term) AS (VALUES $qvals)", k)
  }

  /** [[sqlBm25]] for a DERIVED query set — the oracle twin of
    * [[bm25ProbeRelational]]: `querySql` is any SELECT producing
    * (query_id, qtext), tokenized exactly like the Spark side
    * (single-space split, empties dropped, per-query distinct terms).
    */
  def sqlBm25From(querySql: String, k: Int): String =
    sqlBm25Body(
      s"""q AS (
         |  SELECT DISTINCT query_id, term FROM (
         |    SELECT query_id, unnest(string_split(qtext, ' ')) AS term
         |    FROM ($querySql))
         |  WHERE len(term) > 0)""".stripMargin, k)

  private def sqlBm25Body(qCte: String, k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents) WHERE len(term) > 0),
       |postings AS (
       |  SELECT doc_id, term, count(*) AS f FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |$qCte,
       |tdf AS (
       |  SELECT term, count(*) AS nt FROM postings
       |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1),
       |scored AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(round(
       |      ln((s.n_docs - t.nt + 0.5) / (t.nt + 0.5) + 1.0)
       |      * (p.f * ${K1 + 1.0})
       |      / (p.f + $K1 * (1.0 - $B + $B * d.dl
       |                      / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
       |      * ${MICRO}.0, 0) AS BIGINT) AS c
       |  FROM postings p
       |  JOIN q ON p.term = q.term
       |  JOIN tdf t ON p.term = t.term
       |  JOIN dl d ON p.doc_id = d.doc_id
       |  CROSS JOIN stats s),
       |agg AS (
       |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
       |  FROM scored GROUP BY 1, 2)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_micro,
       |       rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM agg)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
}
