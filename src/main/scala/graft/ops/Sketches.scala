package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic streaming sketches — the cardinality / frequency
  * estimators a 100 TB corpus pipeline leans on when exact aggregation
  * is the bottleneck (vocabulary size across a crawl, token frequencies
  * without a full `groupBy token`). Built on [[PortableHash]]'s MD5
  * reductions, so unlike HLL/CMS libraries seeded with engine-private
  * RNG these sketches produce *identical* estimates in Spark and DuckDB
  * — every estimator here has an exact oracle, not a tolerance check.
  *
  * - KMV (k-minimum-values, Bar-Yossef et al. 2002): keep the k smallest
  *   distinct hash values; the k-th smallest estimates the distinct
  *   count as `(k-1)·2^60 / h_(k)`. Mergeable (union = k smallest of the
  *   concatenation), so per-partition partial top-k composes.
  * - Count-min (Cormode & Muthukrishnan 2005): d×w counter grid, point
  *   frequency = min over the d hashed counters; always an over-estimate,
  *   error bounded by N·e/w at confidence 1−e^−d.
  */
object Sketches {
  /** KMV sketch width: estimate stddev ≈ N/√(k−2) ≈ 13% at 64; the
    * driver row carries the exact count next to it so the error is
    * visible, not hidden.
    */
  val KMV_K = 64

  /** Count-min geometry: 4 affine-independent rows × 1024 buckets —
    * 4096 int64 counters (32 KB) regardless of corpus size.
    */
  val CM_D = 4
  val CM_W = 1024L

  // ── KMV distinct-count ─────────────────────────────────────────────

  /** Global KMV sketch: the k smallest distinct h60 values of `elem`,
    * one slim (h) column. One [[graft.functions.KmvAgg]] aggregation:
    * each partition folds its rows into a ≤ k-long sorted buffer and the
    * shuffle carries one buffer per partition — unlike a
    * `distinct().limit(k)` formulation, nothing proportional to the
    * distinct cardinality ever moves, which is the entire point of the
    * sketch at corpus scale.
    */
  /** NULL elements are excluded before the aggregation: a null is "no
    * element", and the udaf's primitive-Long input would otherwise
    * unbox it to a spurious h=0 minimum that skews the estimate — the
    * DuckDB twin excludes them for free (`md5(NULL)` is NULL).
    */
  def kmvSketch(df: DataFrame, elem: Column, k: Int = KMV_K): DataFrame =
    df.select(PortableHash.h60(elem).as("h"))
      .filter(col("h").isNotNull)
      .agg(graft.functions.KmvAgg.kmv(k)(col("h")).as("hs"))
      .select(explode(col("hs")).as("h"))
      .orderBy("h")

  /** Fold a sketch (≤ k rows of `h`) to the one-row estimate:
    * `n_sketch` (how many survived — below k the sketch IS the exact
    * distinct set), `kth_hash`, and `est_distinct`. The estimate's
    * float path is IEEE-identical cross-engine: `(k−1)·2^60` is exactly
    * representable (≤ 6 significand bits shifted), one double divide,
    * then floor — no rounding-mode ambiguity.
    */
  def kmvEstimate(sketch: DataFrame, k: Int = KMV_K): DataFrame =
    sketch.agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
      .select(col("n_sketch"), col("kth_hash"),
        kmvEstimateCol(col("n_sketch"), col("kth_hash"), k)
          .as("est_distinct"))

  /** THE one copy of the KMV estimator algebra: below k survivors the
    * sketch IS the exact distinct set, otherwise
    * `floor((k−1)·2^60 / h_(k))`. Shared by every Scala consumer
    * (one-shot estimate, grouped estimate, the warehouse store's
    * grouped report) so the formula exists exactly once;
    * [[sqlKmvEstimateExpr]] is its SQL-twin counterpart.
    */
  def kmvEstimateCol(nSketch: Column, kthHash: Column, k: Int): Column =
    when(nSketch < k, nSketch)
      .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0))
        / kthHash.cast("double")))
      .cast("long")

  /** The SQL-twin form of [[kmvEstimateCol]] — one fragment builder for
    * every DuckDB oracle that states the estimator, so a formula fix
    * cannot silently miss a twin. `nExpr`/`kthExpr` are the oracle's
    * own expressions for the survivor count and the k-th hash.
    */
  def sqlKmvEstimateExpr(nExpr: String, kthExpr: String, k: Int): String =
    s"""CAST(CASE WHEN $nExpr < $k THEN $nExpr
       |            ELSE floor(${(k - 1).toDouble} * pow(2.0, 60.0)
       |                       / CAST($kthExpr AS DOUBLE))
       |            END AS BIGINT)""".stripMargin

  /** Per-group KMV estimates: one grouped [[graft.functions.KmvAgg]]
    * aggregation — per-partition partial buffers merge map-side, so a
    * group's shuffle traffic is k longs per partition touching it, never
    * its distinct cardinality (the skewed-group failure mode of the
    * exact count). `exact` adds the true distinct count alongside,
    * making the sketch error visible in the driver row — it is the
    * expensive path the sketch exists to replace, kept for the oracle's
    * sake, not part of the estimator.
    */
  def kmvDistinctBy(df: DataFrame, grpCol: String, elem: Column,
                    k: Int = KMV_K, exact: Boolean = true): DataFrame = {
    // null elements excluded like kmvSketch (countDistinct already
    // skips them, so the exact column is unchanged)
    val hashed = df.select(col(grpCol).as("grp"), PortableHash.h60(elem).as("h"))
      .filter(col("h").isNotNull)
    val aggs = graft.functions.KmvAgg.kmv(k)(col("h")).as("hs") +:
      (if (exact) Seq(countDistinct(col("h")).as("n_exact")) else Nil)
    val est = hashed.groupBy("grp").agg(aggs.head, aggs.tail: _*)
      .withColumn("n_sketch", size(col("hs")).cast("long"))
      .withColumn("kth_hash", element_at(col("hs"), size(col("hs"))))
      .withColumn("est_distinct",
        kmvEstimateCol(col("n_sketch"), col("kth_hash"), k))
    val cols = Seq(col("grp")) ++
      (if (exact) Seq(col("n_exact")) else Nil) ++
      Seq(col("n_sketch"), col("kth_hash"), col("est_distinct"))
    est.select(cols: _*).orderBy("grp")
  }

  /** DuckDB twin of [[kmvDistinctBy]] over `documents` tokens grouped by
    * `source` (adjacent so they cannot drift). The oracle states the
    * sketch SEMANTICS — k smallest distinct hashes per group, via a
    * plain window — which the bounded-buffer aggregation provably
    * computes (order-insensitive sorted-set fold).
    */
  def sqlKmvTokensBySource(k: Int = KMV_K): String =
    s"""WITH hashed AS (
       |  SELECT DISTINCT source AS grp, ${PortableHash.sqlH60("token")} AS h
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
       |        FROM documents)),
       |topk AS (
       |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
       |  FROM hashed)
       |SELECT grp, count(*) AS n_exact,
       |       (SELECT count(*) FROM topk t WHERE t.grp = hashed.grp
       |          AND t.rk <= $k) AS n_sketch,
       |       (SELECT max(h) FROM topk t WHERE t.grp = hashed.grp
       |          AND t.rk <= $k) AS kth_hash,
       |       ${sqlKmvEstimateExpr("count(*)",
                  s"(SELECT max(h) FROM topk t WHERE t.grp = hashed.grp " +
                    s"AND t.rk <= $k)", k)} AS est_distinct
       |FROM hashed GROUP BY grp ORDER BY grp""".stripMargin

  /** DuckDB twin of the GLOBAL token-KMV estimate (what
    * [[SketchStore.storedKmvEstimate]] must equal after registering any
    * partition of the corpus, by the union law — adjacent so they
    * cannot drift).
    */
  def sqlKmvTokensGlobal(k: Int = KMV_K): String =
    s"""WITH hashed AS (
       |  SELECT DISTINCT ${PortableHash.sqlH60("token")} AS h
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token
       |        FROM documents)),
       |topk AS (SELECT h FROM hashed ORDER BY h LIMIT $k)
       |SELECT count(*) AS n_sketch, max(h) AS kth_hash,
       |       ${sqlKmvEstimateExpr("count(*)", "max(h)", k)}
       |         AS est_distinct
       |FROM topk""".stripMargin

  // ── Misra–Gries exact heavy hitters ────────────────────────────────

  /** Misra–Gries capacity: the frequent-items threshold is n/(c+1), so
    * 128 finds everything above ~0.78% of the stream while the sketch
    * state stays 128 entries per partition regardless of vocabulary.
    */
  val MG_C = 128

  /** EXACT frequent items over an arbitrary stream — every `elem` with
    * frequency strictly above n/(c+1), with its true count, computed
    * without ever shuffling per-item state for the long tail. Two
    * passes: (1) a per-partition Misra–Gries fold ([[mgPartials]]) turns
    * the stream into a ≤ c-entry candidate set (the Misra–Gries guarantee
    * makes the candidate set a PROVABLE superset of every item above
    * the threshold, whatever the partitioning — the algebra is pinned
    * by [[graft.functions.FreqAgg]]'s 1000-case merge-law property);
    * (2) a broadcast semi-join against the ≤ c candidates prunes
    * the stream and an exact count + threshold filter restores true
    * frequencies. The composition is deterministic and oracle-exact —
    * the sketch's order-dependent tail candidates are filtered away by
    * the exact threshold — while the full `groupBy(elem)` this
    * replaces would shuffle the whole vocabulary (the skew-prone exact
    * path a 100 TB token stream cannot afford). Driver state: nothing
    * — both passes stay in one plan; the candidate map crosses the
    * plan as a ≤ c-row broadcast, never a collect.
    *
    * Output: (item, f, n) for each heavy item, heaviest first.
    */
  /** NULL elements are excluded from the stream — and from its mass `n`
    * — before anything counts: a null is "no item", not an item. (The
    * fold's HashMap happily keys on null, but the candidate filter and
    * the exact semi-join pass never match null, so a counted-but-
    * unreportable null would only inflate the n/(c+1) threshold and
    * silently suppress genuinely frequent items.)
    */
  def heavyHitters(df: DataFrame, elem: Column, c: Int = MG_C): DataFrame = {
    val toks = df.select(elem.as("item")).filter(col("item").isNotNull)
    // EXACTLY two stream passes: the fold (which also counts the mass,
    // so no third scan for n) and the candidate-pruned exact count. The
    // partials relation is sketch-sized (≤ (c+1)·partitions rows) and
    // localCheckpointed so the two references to it below cannot re-run
    // the fold's corpus scan.
    val partials = mgPartials(toks, c).transform(graft.core.Graft.pin(_))
    val cand = mgCandidates(partials, c)
    val n = partials.agg(sum(col("nrows")).as("n"))
    toks.join(broadcast(cand), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("f"))
      .crossJoin(broadcast(n))
      .filter(col("f") * (c + 1) > col("n"))
      .orderBy(col("f").desc, col("item"))
  }

  /** The candidate stage of [[heavyHitters]]: a per-partition MG fold
    * with MUTABLE ≤ (c+1)-entry state (the [[graft.functions.FreqAgg]]
    * algebra, minus the per-row immutable-Map allocation that made the
    * UDAF formulation slower than the groupBy it was replacing —
    * measured 9.2 s vs 3.1 s at 40M tokens before this rewrite), then
    * one summed merge + the standard (c+1)-th-largest truncation over
    * the ≤ c·partitions partial rows. Same guarantee as the Aggregator
    * (each step retires ≥ (c+1)× its own error), so the output is a
    * valid ≤ c-row MG candidate set of the whole stream; per-task
    * memory stays O(c) however large or skewed a partition is.
    */
  /** One fold pass: per partition, the MG map (≤ c candidate rows, null
    * nrows) plus ONE mass row (null item, nrows = the partition's row
    * count) — the mass rides the same pass so the caller never rescans
    * the stream just to learn n.
    */
  private[ops] def mgPartials(toks: DataFrame, c: Int): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.select(col("item").cast("string")).as[String]
      .mapPartitions { it =>
        // boxed values: on a primitive-Long-valued map, a missing key's
        // `get` would unbox null to 0 and every miss would look like a
        // hit — the capacity bound would silently never engage
        val m = new java.util.HashMap[String, java.lang.Long](2 * c)
        var rows = 0L
        it.foreach { s =>
          rows += 1
          val cur = m.get(s)
          if (cur ne null) m.put(s, cur + 1L)
          else if (m.size < c) m.put(s, 1L)
          else { // miss when full: decrement everything, drop zeros
            val e = m.entrySet().iterator()
            while (e.hasNext) {
              val en = e.next()
              if (en.getValue > 1L) en.setValue(en.getValue - 1L)
              else e.remove()
            }
          }
        }
        import scala.jdk.CollectionConverters._
        val cands = m.entrySet().asScala
          .map(en => (en.getKey, en.getValue.longValue)).toList
        (( null: String, 0L, rows) :: cands.map { case (i, e) =>
          (i, e, 0L) }).iterator
      }.toDF("item", "est", "nrows")
  }

  /** The MG merge-side truncation — THE one copy of the algebra every
    * consumer shares (one-shot candidates, deterministic batch partials,
    * the warehouse store's merged read): over (item, f) counts, subtract
    * the (c+1)-th largest f (0 when already within capacity) and keep
    * the strictly positive remainder, ≤ c rows. Each application retires
    * ≥ (c+1)× its own error, which is what preserves the global
    * `true − n/(c+1) ≤ est ≤ true` bound through any merge tree. The
    * top-(c+1) cutoff plans as TakeOrderedAndProject, never a global
    * sort.
    */
  private[ops] def mgTruncate(summed: DataFrame, c: Int): DataFrame = {
    val cut = summed.orderBy(col("f").desc, col("item")).limit(c + 1)
      .agg(count(lit(1)).as("k1"), min(col("f")).as("fmin"))
      .select(when(col("k1") <= c, lit(0L)).otherwise(col("fmin")).as("d"))
    summed.crossJoin(broadcast(cut))
      .filter(col("f") > col("d"))
      .select(col("item"), (col("f") - col("d")).as("est"))
  }

  /** The merged ≤ c-entry candidate set of [[mgPartials]] output. */
  private[ops] def mgCandidates(partials: DataFrame, c: Int): DataFrame =
    mgTruncate(partials.filter(col("item").isNotNull)
      .groupBy("item").agg(sum(col("est")).as("f")), c)
      .select(col("item"))

  /** The PER-GROUP MG merge-side truncation — [[mgTruncate]] with every
    * rank and threshold computed inside the group's own window
    * (partitioned by `grp`, so a million groups spread across the
    * cluster with no single-partition stage): over (grp, item, f)
    * counts, subtract each group's (c+1)-th largest f (0 when the group
    * is within capacity) and keep the strictly positive remainder —
    * ≤ c rows per group, each a valid MG(c) summary of ITS group's
    * stream by the same retire-(c+1)×-error argument.
    */
  private[ops] def mgTruncateBy(summed: DataFrame, c: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGrp = Window.partitionBy("grp")
    summed
      .withColumn("rn", row_number().over(
        byGrp.orderBy(col("f").desc, col("item"))))
      .withColumn("d", coalesce(
        max(when(col("rn") === c + 1, col("f"))).over(byGrp), lit(0L)))
      .filter(col("f") > col("d"))
      .select(col("grp"), col("item"), (col("f") - col("d")).as("est"))
  }

  /** Deterministic per-group MG summary of ONE bounded batch — the
    * grouped twin of [[mgSummary]]: exact (grp, item) counts reduced by
    * one per-group truncation. Null groups and null items are excluded
    * (neither is a countable cell, and both would become malformed
    * store keys).
    */
  def mgSummaryBy(df: DataFrame, grp: Column, elem: Column,
                  c: Int = MG_C): DataFrame =
    mgTruncateBy(df.select(grp.as("grp"), elem.as("item"))
      .filter(col("grp").isNotNull && col("item").isNotNull)
      .groupBy("grp", "item").agg(count(lit(1)).as("f")), c)

  /** Deterministic Misra–Gries summary of ONE bounded batch: exact
    * per-item counts reduced by a single truncation step — subtract the
    * (c+1)-th largest count, keep the strictly positive remainder. This
    * is exactly "MG with unbounded capacity, then one merge-
    * truncation", so the result is a VALID MG(c) summary (≤ c entries,
    * `true − n_b/(c+1) ≤ est ≤ true`) — but unlike the streaming
    * [[graft.functions.FreqAgg]] fold, the output is a pure function of
    * the batch MULTISET: partitioning- and order-independent, which is
    * what lets [[SketchStore.registerMg]]'s persisted partials
    * hash-match a DuckDB oracle. The exact `groupBy` is batch-
    * vocabulary-sized — the right trade for a bounded micro-batch; the
    * STORE is what stays ≤ c per batch. The top-(c+1) cutoff plans as
    * TakeOrderedAndProject, never a global sort.
    */
  def mgSummary(df: DataFrame, elem: Column, c: Int = MG_C): DataFrame =
    mgTruncate(df.select(elem.as("item")).filter(col("item").isNotNull)
      .groupBy("item").agg(count(lit(1)).as("f")), c)

  /** DuckDB twin of [[heavyHitters]] over the head+tail token stream of
    * `documents` (adjacent so they cannot drift): every third document
    * contributes its tokens verbatim (the head — shared vocabulary),
    * the rest contribute per-document variants (the long tail that
    * makes the instance real: vocabulary ≫ c, so the sketch is under
    * genuine eviction pressure and the exact `groupBy` it replaces
    * would carry ~60× c distinct keys). The oracle states the
    * DEFINITION — exact counts filtered at n/(c+1) — which the
    * sketch+exact-pass composition provably computes.
    */
  def sqlHeavyHittersTokens(c: Int = MG_C): String =
    s"""WITH toks AS (
       |  SELECT CASE WHEN doc_id % 3 = 0 THEN term
       |              ELSE term || '_' || doc_id END AS item
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE len(term) > 0),
       |n AS (SELECT count(*) AS n FROM toks),
       |cnt AS (SELECT item, count(*) AS f FROM toks GROUP BY 1)
       |SELECT item, f, n FROM cnt, n WHERE f * ${c + 1} > n
       |ORDER BY f DESC, item""".stripMargin

  // ── fixed-grid histogram quantiles ─────────────────────────────────

  /** Histogram geometry: 1024 bins of width 8 cover the integer domain
    * [0, 8192) (token counts, line counts, n-gram sizes) with everything
    * above clamped into the last bin — 1024 int64 counters regardless of
    * corpus size, and a quantile answer whose true value provably lies
    * inside the reported bin's [lo, hi) range (rank error 0, value error
    * ≤ the bin width). Everything below is INTEGER arithmetic plus one
    * shared floor-division formula, so the sketch is a pure function of
    * the input multiset and hash-matches its DuckDB twin — no tolerance
    * check, same as the rest of the family.
    */
  val HIST_B = 1024
  val HIST_W = 8L

  /** The quantile targets the driver rows report, in per-mille (kept
    * rational so the rank computation stays integer-exact: the target
    * rank for `qm` over mass n is `ceil(qm·n/1000)`).
    */
  val HIST_QMS: Seq[Int] = Seq(250, 500, 750, 900, 990)

  /** One value's bin: `min(max(floor((v−origin)/w), 0), b−1)` — the
    * double division is exact for the bounded integer magnitudes this
    * sketch is for (< 2^52), and the identical expression is emitted
    * into the SQL twin, so the two engines can never disagree on a bin
    * edge. `origin` shifts the covered domain to
    * [origin, origin + b·w) — e.g. micro-quantized ln-based scores are
    * large negatives, so a score store uses a negative origin.
    */
  private def histBin(v: Column, b: Int, w: Long, origin: Long): Column =
    least(greatest(floor((v - origin) / w.toDouble).cast("long"), lit(0L)),
      lit(b - 1L))

  /** Build the histogram for `value` (an integral column): a (bin, cnt)
    * DataFrame of at most b rows. Like [[countMinSketch]], one
    * projection plus a single hash aggregation over ≤ b keys — map-side
    * combine reduces the shuffle to the grid, so the cost is one corpus
    * scan however large N is, and merging histograms is plain counter
    * addition (what the store exploits).
    */
  def histSketch(df: DataFrame, value: Column, b: Int = HIST_B,
                 w: Long = HIST_W, origin: Long = 0L): DataFrame =
    df.select(histBin(value, b, w, origin).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))

  /** Fold a (bin, cnt) histogram to the quantile report: for each
    * per-mille target, the smallest bin whose cumulative count reaches
    * rank `ceil(qm·n/1000)`, with the bin's value envelope
    * `[lo, hi)`. The cumulative window runs over ≤ b rows — a
    * single-partition window on sketch-sized data, never the corpus.
    * Output: (qm, n, r, bin, lo, hi), one row per target, ordered.
    */
  def histQuantiles(hist: DataFrame, qms: Seq[Int] = HIST_QMS,
                    w: Long = HIST_W, origin: Long = 0L): DataFrame = {
    // ONE reference to `hist`: cum and total mass come out of the same
    // window stage and the targets are an exploded literal array, so
    // the (corpus-scanning) sketch subtree is planned exactly once — a
    // self-join formulation re-scans the corpus per reference
    import org.apache.spark.sql.expressions.Window
    val cum = hist.select(col("bin"),
      sum(col("cnt")).over(Window.orderBy("bin")).as("cum"),
      sum(col("cnt")).over(Window.partitionBy()).as("n"))
    cum.select(col("bin"), col("cum"), col("n"),
        explode(array(qms.map(q => lit(q.toLong)): _*)).as("qm"))
      .select(col("qm"), col("n"), col("bin"), col("cum"),
        expr("(qm * n + 999) DIV 1000").as("r"))
      .filter(col("cum") >= col("r"))
      .groupBy("qm", "n", "r").agg(min(col("bin")).as("bin"))
      .select(col("qm"), col("n"), col("r"), col("bin"),
        (col("bin") * w + origin).as("lo"),
        ((col("bin") + 1) * w + origin).as("hi"))
      // total order without a range exchange: a global orderBy would
      // spend a range-sampling job on ≤ |qms| rows (the point-lookup
      // lesson); one partition + local sort is the same contract
      .coalesce(1).sortWithinPartitions("qm")
  }

  /** The driver-row composition over an integral column. */
  def histQuantilesOf(df: DataFrame, value: Column,
                      qms: Seq[Int] = HIST_QMS, b: Int = HIST_B,
                      w: Long = HIST_W, origin: Long = 0L): DataFrame =
    histQuantiles(histSketch(df, value, b, w, origin), qms, w, origin)

  /** Per-group quantile envelopes — the fully distributed form: one
    * hash aggregation over ≤ b·groups keys, then windows PARTITIONED by
    * the group, so there is no single-partition stage anywhere and a
    * million groups cost a million × b-bounded grids spread across the
    * cluster (per-source / per-language sequence-length percentiles —
    * what a source-mix planner feeds on). Same integer algebra as
    * [[histQuantiles]]; output (grp, qm, n, r, bin, lo, hi), UNORDERED —
    * group count is data-sized, so a total order is the caller's choice,
    * not a baked-in range exchange.
    */
  def histQuantilesBy(df: DataFrame, grp: Column, value: Column,
                      qms: Seq[Int] = HIST_QMS, b: Int = HIST_B,
                      w: Long = HIST_W, origin: Long = 0L): DataFrame =
    histQuantilesFromBy(histSketchBy(df, grp, value, b, w, origin),
      qms, w, origin)

  /** Per-group histogram build: (grp, bin, cnt), one hash aggregation
    * over ≤ b·groups keys. Null groups are excluded — a null is "no
    * group", and would become a null key in the warehouse-backed store.
    */
  def histSketchBy(df: DataFrame, grp: Column, value: Column,
                   b: Int = HIST_B, w: Long = HIST_W,
                   origin: Long = 0L): DataFrame =
    df.select(grp.as("grp"), histBin(value, b, w, origin).as("bin"))
      .filter(col("grp").isNotNull)
      .groupBy("grp", "bin").agg(count(lit(1)).as("cnt"))

  /** The grouped rank algebra over a PREBUILT (grp, bin, cnt) histogram
    * — shared by [[histQuantilesBy]] and the warehouse-backed grouped
    * store ([[SketchStore.storedHistQuantilesBy]]), so the two can
    * never drift.
    */
  def histQuantilesFromBy(hist: DataFrame, qms: Seq[Int] = HIST_QMS,
                          w: Long = HIST_W, origin: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = hist.select(col("grp"), col("bin"),
      sum(col("cnt")).over(Window.partitionBy("grp").orderBy("bin"))
        .as("cum"),
      sum(col("cnt")).over(Window.partitionBy("grp")).as("n"))
    cum.select(col("grp"), col("bin"), col("cum"), col("n"),
        explode(array(qms.map(q => lit(q.toLong)): _*)).as("qm"))
      .select(col("grp"), col("qm"), col("n"), col("bin"), col("cum"),
        expr("(qm * n + 999) DIV 1000").as("r"))
      .filter(col("cum") >= col("r"))
      .groupBy("grp", "qm", "n", "r").agg(min(col("bin")).as("bin"))
      .select(col("grp"), col("qm"), col("n"), col("r"), col("bin"),
        (col("bin") * w + origin).as("lo"),
        ((col("bin") + 1) * w + origin).as("hi"))
  }

  /** DuckDB twin of [[histQuantilesBy]] over per-document token counts
    * grouped by `source` (adjacent so they cannot drift).
    */
  def sqlHistTokenCountsBySource(qms: Seq[Int] = HIST_QMS,
                                 b: Int = HIST_B,
                                 w: Long = HIST_W): String = {
    val values = qms.map(q => s"($q)").mkString(", ")
    s"""WITH tc AS (
       |  SELECT source AS grp, len(string_split(text, ' ')) AS v
       |  FROM documents),
       |bins AS (
       |  SELECT grp, least(greatest(CAST(floor(v / $w) AS BIGINT), 0),
       |               ${b - 1}) AS bin,
       |         count(*) AS cnt
       |  FROM tc GROUP BY 1, 2),
       |cum AS (
       |  SELECT grp, bin, cnt,
       |         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
       |         sum(cnt) OVER (PARTITION BY grp) AS n
       |  FROM bins),
       |t AS (
       |  SELECT grp, bin, cum, n, CAST(qm AS BIGINT) AS qm,
       |         CAST((qm * n + 999) // 1000 AS BIGINT) AS r
       |  FROM cum, (VALUES $values) q(qm))
       |SELECT grp, qm, CAST(n AS BIGINT) AS n, r, min(bin) AS bin,
       |       min(bin) * $w AS lo, (min(bin) + 1) * $w AS hi
       |FROM t WHERE cum >= r
       |GROUP BY grp, qm, n, r
       |ORDER BY grp, qm""".stripMargin
  }

  /** DuckDB twin of [[histQuantilesOf]] over the per-document token
    * counts of `documents` (adjacent so they cannot drift): the same
    * clamped floor-division binning, cumulative sums, integer rank
    * targets and envelope arithmetic.
    */
  /** ONE SQL copy of the ungrouped histogram rank algebra — the twin
    * counterpart of [[histQuantiles]], shared by every oracle that
    * derives quantile envelopes (token counts, score thresholds):
    * emits the bins/cum/rank CTE chain over a CTE `$src($vcol)` and
    * ends with `hth(qm, n, r, bin)`. Like the Scala side's `mgTruncate`
    * and `SketchStore.fold`, keeping the algebra in one place means a rank-
    * formula fix cannot silently miss a twin.
    */
  private[ops] def sqlHistRankCtes(src: String, vcol: String, qms: Seq[Int],
                              b: Int, w: Long, origin: Long): String = {
    val values = qms.map(q => s"($q)").mkString(", ")
    s"""hbins AS (
       |  SELECT least(greatest(CAST(floor(($vcol - $origin) / $w) AS BIGINT),
       |               0), ${b - 1}) AS bin,
       |         count(*) AS cnt
       |  FROM $src GROUP BY 1),
       |hcum AS (
       |  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM hbins),
       |hn AS (SELECT count(*) AS n FROM $src),
       |ht AS (
       |  SELECT CAST(qm AS BIGINT) AS qm, n,
       |         CAST((qm * n + 999) // 1000 AS BIGINT) AS r
       |  FROM (VALUES $values) q(qm), hn),
       |hth AS (
       |  SELECT ht.qm, ht.n, ht.r, min(hcum.bin) AS bin
       |  FROM ht JOIN hcum ON hcum.cum >= ht.r
       |  GROUP BY ht.qm, ht.n, ht.r)""".stripMargin
  }

  def sqlHistTokenCounts(qms: Seq[Int] = HIST_QMS, b: Int = HIST_B,
                         w: Long = HIST_W): String =
    s"""WITH tc AS (
       |  SELECT len(string_split(text, ' ')) AS v FROM documents),
       |${sqlHistRankCtes("tc", "v", qms, b, w, origin = 0L)}
       |SELECT qm, CAST(n AS BIGINT) AS n, r, bin,
       |       bin * $w AS lo, (bin + 1) * $w AS hi
       |FROM hth
       |ORDER BY qm""".stripMargin

  // ── count-min frequency ────────────────────────────────────────────

  /** The d bucket columns for one hashed element: row i's bucket is
    * `affine_i(h30(elem)) mod w` — [[PortableHash.affine]]'s fixed
    * coefficient family, no RNG.
    */
  private def cmBuckets(h: Column, d: Int, w: Long): Seq[Column] =
    (0 until d).map(i => PortableHash.affine(h, i) % w)

  /** Build the count-min counter grid for `elem` occurrences: a
    * (sk_row, bucket, c) DataFrame of at most d×w rows. One projection
    * fans each element into its d (row, bucket) cells via a generator,
    * then a single hash aggregation over ≤ d·w keys — map-side combine
    * reduces the shuffle to the grid size, so the cost is one corpus
    * scan regardless of N. This is the whole point over `groupBy(elem)`:
    * the shuffle never carries per-element state.
    */
  def countMinSketch(df: DataFrame, elem: Column, d: Int = CM_D,
                     w: Long = CM_W): DataFrame = {
    // NULL elements are excluded like every sketch in the family: a
    // null is "no element" (h30 null-propagates to null buckets, which
    // no probe can ever match — counting them would only write phantom
    // null-bucket cells)
    val hashed = df.select(PortableHash.h30(elem).as("h"))
      .filter(col("h").isNotNull)
    val cells = array(cmBuckets(col("h"), d, w).zipWithIndex.map {
      case (b, i) => struct(lit(i).as("sk_row"), b.as("bucket"))
    }: _*)
    hashed.select(explode(cells).as("cell"))
      .groupBy(col("cell.sk_row").as("sk_row"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** [[countMinSketch]] from a PRE-AGGREGATED exact (`item`, `cnt`)
    * relation: each item's count lands on exactly the d cells its raw
    * occurrences would, so by counter additivity the grid is IDENTICAL
    * to the raw-stream build. This is the quartet registration's shared
    * path ([[SketchStore.registerSketches]]): KMV, count-min and MG all
    * derive from ONE per-item aggregate instead of each re-scanning and
    * re-shuffling the element stream. Input must already be
    * null-filtered on `item`.
    */
  private[ops] def countMinSketchCounts(counts: DataFrame, d: Int = CM_D,
                                        w: Long = CM_W): DataFrame = {
    val hashed = counts.select(PortableHash.h30(col("item")).as("h"),
      col("cnt"))
    val cells = array(cmBuckets(col("h"), d, w).zipWithIndex.map {
      case (b, i) => struct(lit(i).as("sk_row"), b.as("bucket"))
    }: _*)
    hashed.select(col("cnt"), explode(cells).as("cell"))
      .groupBy(col("cell.sk_row").as("sk_row"), col("cell.bucket").as("bucket"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** The grouped twin of [[countMinSketchCounts]]: per-group grids from
    * pre-aggregated exact (`grp`, `item`, `cnt`) counts — identical to
    * [[countMinSketchBy]] on the raw stream, by the same additivity.
    * Input must already be null-filtered on both columns.
    */
  private[ops] def countMinSketchByCounts(counts: DataFrame, d: Int = CM_D,
                                          w: Long = CM_W): DataFrame = {
    val hashed = counts.select(col("grp"),
      PortableHash.h30(col("item")).as("h"), col("cnt"))
    val cells = array(cmBuckets(col("h"), d, w).zipWithIndex.map {
      case (b, i) => struct(lit(i).as("sk_row"), b.as("bucket"))
    }: _*)
    hashed.select(col("grp"), col("cnt"), explode(cells).as("cell"))
      .groupBy(col("grp"), col("cell.sk_row").as("sk_row"),
        col("cell.bucket").as("bucket"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** Point-query the sketch for each row of `items` (an (`elemCol`)
    * DataFrame): estimate = min over the d counters. The sketch side is
    * ≤ d·w rows — broadcast, so probing any number of items is one
    * map-side join + a d-row min per item.
    */
  def countMinProbe(items: DataFrame, sketch: DataFrame, elemCol: String,
                    d: Int = CM_D, w: Long = CM_W): DataFrame = {
    require(!items.columns.exists(Set("sk_row", "bucket", "c", "cell")),
      "items must not carry sketch-internal column names")
    val h = PortableHash.h30(col(elemCol))
    val cells = array(cmBuckets(h, d, w).zipWithIndex.map { case (b, i) =>
      struct(lit(i).as("sk_row"), b.as("bucket"))
    }: _*)
    val probes = items.withColumn("cell", explode(cells))
      .select(items.columns.map(col) :+ col("cell.sk_row").as("sk_row")
        :+ col("cell.bucket").as("bucket"): _*)
    probes.join(broadcast(sketch), Seq("sk_row", "bucket"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .groupBy(items.columns.map(col): _*)
      .agg(min(col("c")).as("est_cm"))
  }

  /** PER-GROUP count-min grid: one d×w counter grid per group —
    * (grp, sk_row, bucket, c), ≤ d·w·groups rows from ONE projection +
    * one hash aggregation (map-side combine bounds the shuffle at the
    * grids, never the element stream). The per-source frequency-probe
    * twin of the grouped KMV/MG/hist sketches: each group's grid is an
    * independent count-min sketch of ITS stream, so the standard
    * `true ≤ est ≤ true + N_grp·e/w` bound applies per group with the
    * GROUP's own mass, not the corpus's. Null groups are excluded (a
    * null is "no group", and would become a malformed store key).
    */
  def countMinSketchBy(df: DataFrame, grp: Column, elem: Column,
                       d: Int = CM_D, w: Long = CM_W): DataFrame = {
    // null groups AND null elements are excluded (a null group would be
    // a malformed store key; a null element only phantom null-bucket
    // cells no probe can match — same contract as [[countMinSketch]])
    val hashed = df.select(grp.as("grp"), PortableHash.h30(elem).as("h"))
      .filter(col("grp").isNotNull && col("h").isNotNull)
    val cells = array(cmBuckets(col("h"), d, w).zipWithIndex.map {
      case (b, i) => struct(lit(i).as("sk_row"), b.as("bucket"))
    }: _*)
    hashed.select(col("grp"), explode(cells).as("cell"))
      .groupBy(col("grp"), col("cell.sk_row").as("sk_row"),
        col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point-query a GROUPED grid: each `items` row (carrying `grpCol` +
    * `elemCol`) fans into its d cells and joins the sketch on
    * (grp, sk_row, bucket) — a key-partitioned join, NOT a broadcast:
    * the grouped grid is d·w·groups rows, data-sized in the group
    * count, so forcing it through the driver would be the scale
    * mistake. Estimate = min over the d matched counters (0 when the
    * group or cell was never seen).
    */
  def countMinProbeBy(items: DataFrame, sketch: DataFrame, grpCol: String,
                      elemCol: String, d: Int = CM_D,
                      w: Long = CM_W): DataFrame = {
    require(!items.columns.exists(Set("sk_row", "bucket", "c", "cell")),
      "items must not carry sketch-internal column names")
    val h = PortableHash.h30(col(elemCol))
    val cells = array(cmBuckets(h, d, w).zipWithIndex.map { case (b, i) =>
      struct(lit(i).as("sk_row"), b.as("bucket"))
    }: _*)
    val probes = items.withColumn("cell", explode(cells))
      .select(items.columns.map(col) :+ col("cell.sk_row").as("sk_row")
        :+ col("cell.bucket").as("bucket"): _*)
    probes.join(
        sketch.withColumnRenamed("grp", grpCol),
        Seq(grpCol, "sk_row", "bucket"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .groupBy(items.columns.map(col): _*)
      .agg(min(col("c")).as("est_cm"))
  }

  /** The driver-row composition: exact top-k `elem` frequencies with the
    * count-min estimate alongside (est_cm ≥ n_exact always; equality
    * means no collision in any of the d rows). The exact side exists to
    * expose the sketch's error — the sketch itself never touches it.
    */
  def countMinTopK(df: DataFrame, elem: Column, k: Int, d: Int = CM_D,
                   w: Long = CM_W): DataFrame = {
    val sk = countMinSketch(df, elem, d, w)
    val top = df.select(elem.as("token")).groupBy("token")
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token")).limit(k)
    countMinProbe(top, sk, "token", d, w)
      .select(col("token"), col("n_exact"), col("est_cm"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** DuckDB twin of [[countMinTopK]] over `documents` tokens (adjacent
    * so they cannot drift). The d bucket expressions are generated from
    * the same [[PortableHash.affineCoeffs]] table.
    */
  def sqlCountMinTokens(k: Int, d: Int = CM_D, w: Long = CM_W): String = {
    val sketchCells = (0 until d).map { i =>
      s"SELECT $i AS sk_row, ${PortableHash.sqlAffine("h", i)} % $w AS bucket FROM h"
    }.mkString("\n  UNION ALL ")
    val probeCells = (0 until d).map { i =>
      s"SELECT token, n_exact, $i AS sk_row, ${PortableHash.sqlAffine("h", i)} % $w AS bucket FROM th"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |h AS (SELECT ${PortableHash.sqlH30("token")} AS h FROM tok),
       |cells AS (
       |  $sketchCells),
       |sketch AS (
       |  SELECT sk_row, bucket, count(*) AS c FROM cells GROUP BY 1, 2),
       |top AS (
       |  SELECT token, count(*) AS n_exact FROM tok
       |  GROUP BY token ORDER BY n_exact DESC, token LIMIT $k),
       |th AS (SELECT token, n_exact, ${PortableHash.sqlH30("token")} AS h
       |       FROM top),
       |pcells AS (
       |  $probeCells),
       |melted AS (
       |  SELECT p.token, p.n_exact, s.c
       |  FROM pcells p JOIN sketch s
       |    ON s.sk_row = p.sk_row AND s.bucket = p.bucket)
       |SELECT token, n_exact, min(c) AS est_cm
       |FROM melted GROUP BY token, n_exact
       |ORDER BY n_exact DESC, token""".stripMargin
  }
}
