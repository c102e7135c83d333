package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The capstone corpus-to-training-shards composition: every stage is an
  * operator from this package; chained they stay ONE Catalyst plan (the
  * role of the reference's client-side map-reduce chain, sonnerie
  * `README.md:23-25`, recast as corpus preparation).
  *
  * quality/lang-id gate → exact-dedup canon → verified near-dup drop →
  * decontaminate vs a benchmark set → [optional DSIR importance
  * resampling toward a target domain] → per-lang token budget →
  * deterministic bin packing.
  *
  * Scale shape: the gates are map-side filters over the documents scan,
  * the drop sets are slim DISTINCT-id relations applied as broadcast
  * anti-joins, and the only wide stages are the ones the component
  * operators already own (dedup's bucketed self-join, DSIR's bounded
  * broadcast model table + TakeOrdered, the per-stratum budget window,
  * the per-shard packing window) — no stage adds a shuffle the
  * standalone operator lacks. Measured at synthetic scale by
  * [[graft.PipelineStress]] (SCALE.md).
  */
object Pipeline {

  /** `docs` needs (doc_id, lang, text) — extra columns pass through and
    * may be referenced by `dsirTargetPred`; `bench` needs (doc_id, text).
    * With `dsirTargetPred` set, the cleaned corpus is importance-resampled
    * toward the documents matching the predicate ([[Selection.dsirTopK]],
    * keeping `dsirK` docs) before budgeting — the "pick WHICH data"
    * stage of a training pipeline (DSIR, arXiv:2302.03169, targets e.g.
    * Wikipedia-like text exactly this way). Output =
    * [[Sequencing.packBins]] rows (shard, bin, n_docs, tokens, fill)
    * over the cleaned, selected, budgeted corpus.
    *
    * @param scrubSpansK when > 0, cross-document duplicate spans of this
    *        window length are REMOVED from the cleaned corpus before
    *        token counting ([[Dedup.scrubDupSpans]] — Lee et al.'s
    *        cleanup): budgets and bins then price the text that will
    *        actually train. Runs after the drop-stages (scrubbing only
    *        survivors) and re-prices n_tok from the scrubbed text.
    * @param nbSeeds when set to (positivePred, negativePred), a
    *        closed-form NB classifier ([[Selection.nbScore]]) trains on
    *        the matching slices of the heuristic-kept corpus and the gate
    *        additionally requires `nb_label = 1` — the model-based filter
    *        stage. Costs one extra doc_id-keyed join of two slim
    *        corpus-sized relations (the keep-set is O(corpus), unlike
    *        DSIR's k-row set, so it cannot broadcast). Either seed slice
    *        matching nothing is a fail-fast error (an empty-seed model
    *        would silently gate out most of the corpus).
    */
  def corpusToShards(docs: DataFrame, bench: DataFrame,
                     minQuality: Double = 0.5,
                     nearDupJaccard: Double = 0.4,
                     budgetPerLang: Long = 5000L,
                     window: Long = 256L,
                     shards: Int = 8,
                     dsirTargetPred: Option[Column] = None,
                     dsirK: Int = 0,
                     nbSeeds: Option[(Column, Column)] = None,
                     scrubSpansK: Int = 0): DataFrame = {
    val scored = docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("lang_pred", TextAnalysis.langPredict(col("text")))
    val heuristicKept = scored
      .filter(col("quality") >= minQuality && col("lang_pred") === col("lang"))
    val kept = nbSeeds match {
      case Some((posPred, negPred)) =>
        // the scored subtree feeds FOUR consumers here (corpus side, two
        // seed slices, join-back) — materialize once, same device as the
        // DSIR branch below
        val hk = graft.core.Graft.pin(heuristicKept, eager = false)
        val pos = hk.filter(posPred)
        val neg = hk.filter(negPred)
        require(!pos.isEmpty && !neg.isEmpty,
          "nbSeeds predicate matched no gate-passing documents — an " +
            "empty-seed NB model would silently gate out the corpus")
        val lbl = Selection.nbScore(hk, pos, neg, "doc_id", "text")
          .filter(col("nb_label") === 1L).select("doc_id")
        // the NB-gated corpus now also feeds the near-dup and contam
        // stages below — checkpoint so nbScore runs once, not per consumer
        graft.core.Graft.pin(hk.join(lbl, "doc_id"), eager = false)
      // kept feeds FOUR consumers (canon, near-dup pairs, contam,
      // clean-join) and Catalyst does not CSE across join branches —
      // without the checkpoint the quality/lang-id scoring scan runs 4×
      case None => graft.core.Graft.pin(heuristicKept, eager = false)
    }
    val canon = kept.groupBy(md5(col("text")).as("_h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    // near-dup pairs form over the GATE-PASSING corpus, not the raw one:
    // a pair (A rejected, B kept) computed over raw docs would drop B as
    // A's near-dup while A never reaches the shards — both copies
    // silently lost instead of deduplicated to one survivor
    val nearDrop = Dedup.verifiedNearDups(kept, "doc_id", "text",
        nearDupJaccard)
      .select(col("id2").as("doc_id")).distinct()
    val contamDrop = Decontaminate.overlaps(kept, bench, "doc_id",
        "text", "doc_id", "text", n = 3, minOverlap = 3)
      .filter(col("doc_id") =!= col("bench_id"))
      .select("doc_id").distinct()
    val cleanText = kept.join(canon, "doc_id")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .join(contamDrop, Seq("doc_id"), "left_anti")
    val selected = dsirTargetPred match {
      case Some(pred) if dsirK > 0 =>
        // The cleaned corpus feeds THREE consumers here (the DSIR model's
        // corpus side, its target side, and the keep-join back), and the
        // cleaning subtree above it is the expensive half of the plan —
        // materialize it once instead of recomputing per consumer
        // (measured 4.5× on the e2e stress run)
        val ct = graft.core.Graft.pin(cleanText, eager = false)
        // slim k-row id set; the join back is broadcastable by construction
        val keep = Selection
          .dsirTopK(ct, ct.filter(pred), "doc_id", "text", dsirK)
          .select("doc_id")
        ct.join(keep, "doc_id")
      case _ => cleanText
    }
    val priced =
      if (scrubSpansK <= 0) selected
      else {
        // scrub over the SURVIVORS only (a span shared with a dropped
        // near-dup shouldn't scrub the keeper); lang rides back via the
        // id join, text is replaced by the scrubbed rebuild
        val scrubbed = Dedup.scrubDupSpans(
          selected.select("doc_id", "text"), "doc_id", "text", scrubSpansK)
        selected.drop("text").join(scrubbed.select("doc_id", "text"), "doc_id")
      }
    val clean = priced.select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    val bud = Sampling.tokenBudget(clean, "lang", "doc_id", "n_tok",
      budgetPerLang)
    Sequencing.packBins(bud, "doc_id", "n_tok", window, shards)
  }
}
