package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-selection operators for training-data pipelines: DSIR-style
  * importance resampling (Xie et al. 2023, arXiv:2302.03169 — hashed
  * n-gram importance weights against a small target corpus, then
  * deterministic Gumbel top-k) and CCNet-style language-model quality
  * scoring (Wenzek et al. 2020, arXiv:1911.00359 — a bigram LM with
  * stupid backoff, Brants et al. 2007, trained on a clean subset scores
  * every document's negative log-likelihood). These are the "pick WHICH
  * data to train on" stages that sit between dedup/decontamination and
  * token budgeting; the reference has no analog (its client-side
  * map-reduce slot, sonnerie `README.md:23-25`, is where they'd run).
  *
  * Exactness contract: every log is quantized to 6-decimal fixed point
  * (int64 micro-units) at the MODEL table — bounded rows — before the
  * per-document sum, so the wide aggregation sums integers (associative,
  * partial-agg-safe, engine-portable) and the only float ops on the
  * per-document path are one division and one round. That is what lets
  * importance weights and LM scores have hash-exact DuckDB oracles.
  *
  * Scale shape: feature/LM model tables are bounded (`BUCKETS` rows for
  * DSIR; train-subset vocab/bigram counts for the LM) and broadcast;
  * the corpus side is one explode + one broadcast join + one hash
  * aggregation by doc — the inverted-index shape that survives 100 TB.
  * Top-k is a distributed TakeOrdered, never a driver sort.
  */
object Selection {

  /** Hashed-feature space size (the paper uses 10k buckets; 4096 keeps
    * every count well-exercised at test scale).
    */
  val BUCKETS = 4096L

  /** 6-decimal fixed point: the unit all quantized logs are stored in. */
  val MICRO = 1000000L

  private val B = BUCKETS

  // ── shared featurization: hashed unigram+bigram bag (with counts) ──

  /** Unigram + bigram feature buckets WITH multiplicity (DSIR models
    * feature counts, not presence — unlike [[Dedup.shingleHashes]] which
    * is distinct-per-doc). The token array is bound once via the
    * single-element-transform scope (the round-2 HOF finding).
    */
  def featureBuckets(text: Column, buckets: Long = BUCKETS): Column = {
    val perRow = transform(array(split(text, " ")), w => {
      val uni = transform(w, t => PortableHash.h60(t) % buckets)
      val bi = when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => PortableHash.h60(
            concat(element_at(w, i), lit(" "), element_at(w, i + 1)))
            % buckets))
        .otherwise(array().cast("array<bigint>"))
      concat(uni, bi)
    })
    element_at(perRow, 1)
  }

  /** DuckDB twin of [[featureBuckets]] (adjacent so they cannot drift). */
  def sqlFeatureBuckets(textExpr: String,
                        buckets: Long = BUCKETS): String = {
    val w = s"string_split($textExpr, ' ')"
    val uni = s"list_transform($w, t -> ${PortableHash.sqlH60("t")} % $buckets)"
    val bi =
      s"""CASE WHEN len($w) >= 2 THEN list_transform(range(1, len($w)),
         |  i -> ${PortableHash.sqlH60(s"($w)[i] || ' ' || ($w)[i+1]")} % $buckets)
         |ELSE []::BIGINT[] END""".stripMargin
    s"list_concat($uni, $bi)"
  }

  // ── DSIR importance weights ────────────────────────────────────────

  /** Per-document importance weight log(p_target(x)/p_raw(x)) under
    * add-one-smoothed bag-of-hashed-ngrams models fit on `target` and
    * `corpus` (the DSIR estimator). Output: (doc_id, n_feats, weight).
    *
    * The per-bucket log-ratio is quantized to micro-units in the
    * `BUCKETS`-row model table; a document's weight is the integer sum
    * of its features' micro-log-ratios (exact, order-independent)
    * divided once at the end.
    */
  def importanceWeights(corpus: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        buckets: Long = BUCKETS): DataFrame =
    microWeights(corpus, target, idCol, textCol, buckets)
      .select(col("doc_id"), col("n_feats"),
        round(col("_s").cast("double") / MICRO, 6).as("weight"))

  /** (doc_id, n_feats, _s) with _s = integer micro-units weight — the
    * exact intermediate [[dsirTopK]] adds Gumbel keys to.
    */
  private def microWeights(corpus: DataFrame, target: DataFrame,
                           idCol: String, textCol: String,
                           buckets: Long): DataFrame = {
    // The corpus IS featurized twice here (once under the bucket model's
    // rc aggregate, once as the per-document scoring side) — MEASURED
    // (r19) and deliberately kept: routing both consumers through one
    // shared (doc_id, b) feature-count exchange (the §2.4 device that
    // wins for BM25's postings) LOSES for DSIR — the per-(doc, feature)
    // multiplicities are ~1, so the shared exchange ships the nearly
    // uncollapsed exploded feature stream (bigger than the zstd'd text it
    // derives from) where the two-scan shape shuffles only the collapsed
    // b-model and doc-level aggregates. QueryJobs at sf0.1:
    // sel_dsir_weights 13 jobs / 17.7 s taskTime (this shape) vs
    // 14 jobs / 21.4 s (shared exchange); the same asymmetry holds at
    // scale, where a columnar re-scan is cheaper than exchanging the
    // exploded stream once.
    val cf = graft.core.Graft.rebalance(corpus)
      .select(col(idCol).as("doc_id"),
        explode(featureBuckets(col(textCol), buckets)).as("b"))
    val tf = target
      .select(explode(featureBuckets(col(textCol), buckets)).as("b"))
    val rc = cf.groupBy("b").agg(count(lit(1)).as("rc"))
    val tc = tf.groupBy("b").agg(count(lit(1)).as("tc"))
    val tot = rc.agg(sum("rc").as("rtot"))
      .crossJoin(tc.agg(sum("tc").as("ttot"))) // 1 row × 1 row
    // bounded model table: ≤ `buckets` rows, broadcast to the corpus side
    val lr = rc.join(tc, Seq("b"), "left").crossJoin(tot)
      .select(col("b"),
        round(log(
          ((coalesce(col("tc"), lit(0L)) + 1.0) * (col("rtot") + buckets.toDouble)) /
          ((col("rc") + 1.0) * (coalesce(col("ttot"), lit(0L)) + buckets.toDouble)))
          * MICRO.toDouble, 0).cast("long").as("lri"))
    cf.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_feats"), sum("lri").as("_s"))
  }

  /** DuckDB twin of [[importanceWeights]] (adjacent so they cannot
    * drift); CTE names are prefixed to avoid collisions when composed.
    */
  def sqlImportanceWeightsFrom(table: String, idCol: String,
                               textCol: String, targetPred: String,
                               buckets: Long = BUCKETS): String =
    s"""(WITH dsir_cf AS (
       |  SELECT $idCol AS doc_id,
       |         unnest(${sqlFeatureBuckets(textCol, buckets)}) AS b
       |  FROM $table),
       |dsir_tf AS (
       |  SELECT unnest(${sqlFeatureBuckets(textCol, buckets)}) AS b
       |  FROM $table WHERE $targetPred),
       |dsir_rc AS (SELECT b, count(*) AS rc FROM dsir_cf GROUP BY b),
       |dsir_tc AS (SELECT b, count(*) AS tc FROM dsir_tf GROUP BY b),
       |dsir_tot AS (SELECT
       |  (SELECT CAST(sum(rc) AS BIGINT) FROM dsir_rc) AS rtot,
       |  (SELECT CAST(sum(tc) AS BIGINT) FROM dsir_tc) AS ttot),
       |dsir_lr AS (
       |  SELECT b, CAST(round(ln(
       |      ((COALESCE(tc, 0) + 1.0) * (rtot + $buckets.0)) /
       |      ((rc + 1.0) * (COALESCE(ttot, 0) + $buckets.0)))
       |    * 1000000.0, 0) AS BIGINT) AS lri
       |  FROM dsir_rc LEFT JOIN dsir_tc USING (b) CROSS JOIN dsir_tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |       round(CAST(CAST(sum(lri) AS BIGINT) AS DOUBLE) / 1000000.0, 6)
       |         AS weight
       |FROM dsir_cf JOIN dsir_lr USING (b)
       |GROUP BY doc_id)""".stripMargin

  // ── Gumbel top-k resampling ────────────────────────────────────────

  /** Deterministic standard-Gumbel noise in micro-units, derived from
    * the id hash (no RNG — same sample on every engine/run/cluster).
    * u = (h30 + 0.5)/P is an exact rational strictly inside (0, 1)
    * (h30 < P < 2^53, so every term is float-exact before the logs).
    */
  def gumbelMicro(id: Column): Column =
    round(-log(-log(
      (PortableHash.h30(concat(id.cast("string"), lit("|gumbel"))) + 0.5)
        / PortableHash.P.toDouble))
      * MICRO.toDouble, 0).cast("long")

  /** DuckDB twin of [[gumbelMicro]] (adjacent so they cannot drift). */
  def sqlGumbelMicro(idExpr: String): String =
    s"""CAST(round(-ln(-ln(
       |  (${PortableHash.sqlH30(s"CAST($idExpr AS VARCHAR) || '|gumbel'")} + 0.5)
       |  / ${PortableHash.P}.0)) * 1000000.0, 0) AS BIGINT)""".stripMargin

  /** Gumbel top-k importance resampling: sample `k` documents without
    * replacement with probability ∝ their importance weight, via the
    * Gumbel-top-k trick (key = log-weight + Gumbel noise, take the k
    * largest — Vieira 2014). Keys are exact int64 micro-units, so the
    * selected SET is engine-identical; output (doc_id, weight, skey)
    * ordered by key descending.
    */
  def dsirTopK(corpus: DataFrame, target: DataFrame,
               idCol: String, textCol: String, k: Int,
               buckets: Long = BUCKETS): DataFrame =
    microWeights(corpus, target, idCol, textCol, buckets)
      .withColumn("_ki", col("_s") + gumbelMicro(col("doc_id")))
      .orderBy(col("_ki").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        round(col("_s").cast("double") / MICRO, 6).as("weight"),
        round(col("_ki").cast("double") / MICRO, 6).as("skey"))

  /** DuckDB twin of [[dsirTopK]] (adjacent so they cannot drift). */
  def sqlDsirTopKFrom(table: String, idCol: String, textCol: String,
                      targetPred: String, k: Int,
                      buckets: Long = BUCKETS): String =
    s"""(SELECT doc_id,
       |        round(CAST(s AS DOUBLE) / 1000000.0, 6) AS weight,
       |        round(CAST(ki AS DOUBLE) / 1000000.0, 6) AS skey
       | FROM (
       |  SELECT doc_id, s, s + ${sqlGumbelMicro("doc_id")} AS ki
       |  FROM (
       |    SELECT doc_id, CAST(round(weight * 1000000.0, 0) AS BIGINT) AS s
       |    FROM ${sqlImportanceWeightsFrom(table, idCol, textCol,
                     targetPred, buckets)} wts))
       | ORDER BY ki DESC, doc_id LIMIT $k)""".stripMargin

  // ── stupid-backoff bigram LM scoring ───────────────────────────────

  /** Backoff discount (Brants et al. 2007's fixed 0.4). */
  val BACKOFF = 0.4

  /** Score every corpus document under a bigram LM with stupid backoff
    * trained on `train`: S(cur|prev) = count(prev cur)/count(prev) when
    * the bigram was seen, else BACKOFF·(count(cur)+0.5)/W (the +0.5
    * keeps OOV tokens finite). Output (doc_id, n_trans, nll) where nll
    * is the mean negative log-score over the document's n−1 transitions
    * (≈ log-perplexity; high = unusual under the clean LM — the CCNet
    * filter signal). Documents with <2 tokens get n_trans=0, nll NULL.
    *
    * Per-transition logs are quantized to micro-units at the bounded
    * model tables (train vocab / train bigrams), so the per-document
    * aggregation sums int64 — same exactness contract as DSIR. The
    * corpus pays one explode, one join against the bigram table (the
    * only wide join; at real scale the train-side tables are megabytes
    * and broadcast), one hash agg by doc, one anti-join-free left join
    * back for short docs.
    */
  def lmScore(corpus: DataFrame, train: DataFrame,
              idCol: String, textCol: String): DataFrame = {
    def transitions(df: DataFrame, id: Column): DataFrame = {
      val perRow = transform(array(split(col(textCol), " ")), w =>
        when(size(w) >= 2,
          transform(sequence(lit(1), size(w) - 1),
            i => struct(
              PortableHash.h60(element_at(w, i)).as("hp"),
              PortableHash.h60(element_at(w, i + 1)).as("hc"))))
          .otherwise(array().cast("array<struct<hp:bigint,hc:bigint>>")))
      df.select(id.as("doc_id"), explode(element_at(perRow, 1)).as("t"))
        .select(col("doc_id"), col("t.hp").as("hp"), col("t.hc").as("hc"))
    }
    val ct = transitions(graft.core.Graft.rebalance(corpus), col(idCol))
    // model tables from the train subset: unigram counts (vocab-bounded)
    // and bigram counts — both broadcastable at corpus scale
    val uni = train
      .select(explode(transform(split(col(textCol), " "),
        t => PortableHash.h60(t))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("uc"))
    val big = transitions(train, col(idCol))
      .groupBy("hp", "hc").agg(count(lit(1)).as("bc"))
    val wTot = uni.agg(sum("uc").as("w")) // 1 row
    val scored = ct
      .join(broadcast(big), Seq("hp", "hc"), "left")
      .join(broadcast(uni.select(col("h").as("hp"), col("uc").as("ucp"))),
        Seq("hp"), "left")
      .join(broadcast(uni.select(col("h").as("hc"), col("uc").as("ucc"))),
        Seq("hc"), "left")
      .crossJoin(broadcast(wTot))
      // a seen bigram implies a seen prev-unigram: ucp is never NULL
      // when bc isn't
      .select(col("doc_id"),
        when(col("bc").isNotNull,
          round(log(col("bc").cast("double") / col("ucp")) * MICRO.toDouble, 0))
          .otherwise(
            round(log((lit(BACKOFF) * (coalesce(col("ucc"), lit(0L)) + 0.5))
              / col("w")) * MICRO.toDouble, 0))
          .cast("long").as("ti"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_trans"), sum("ti").as("_s"))
    corpus.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        when(col("n_trans").isNotNull,
          round(-col("_s").cast("double") / (col("n_trans") * MICRO), 6))
          .otherwise(lit(null).cast("double")).as("nll"))
  }

  /** CCNet's head/middle/tail split: bucket every scoreable document
    * (n_trans > 0) by LM perplexity rank — bucket 1 = most in-domain.
    * Exact ntile over the total (nll, doc_id) order, so the assignment is
    * engine-identical (nll itself is micro-quantization-exact). The
    * global-order window is one range shuffle — the same cost as any
    * total sort; at 100 TB the standard cheaper variant is broadcasting
    * approximate nll thresholds and bucketing by comparison (plan becomes
    * a map-only projection), trading exact tercile sizes for no shuffle.
    */
  def lmBuckets(corpus: DataFrame, train: DataFrame,
                idCol: String, textCol: String,
                nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lmScore(corpus, train, idCol, textCol)
      .filter(col("n_trans") > 0)
      .withColumn("bucket",
        ntile(nBuckets).over(Window.orderBy(col("nll"), col("doc_id")))
          .cast("long"))
  }

  /** The 100 TB variant of [[lmBuckets]]: bucket by fixed nll thresholds
    * (ascending; bucket = 1 + number of thresholds strictly below the
    * doc's nll) — a map-only projection, no global sort. Thresholds come
    * from an offline quantile estimate (e.g.
    * `lmScore(...).stat.approxQuantile("nll", probs, err)` on a sample) —
    * the train-offline / apply-online split every other scale path in
    * this engine uses (IVF centroids, PQ codebooks, SQ8 ranges).
    */
  def lmBucketsByThresholds(corpus: DataFrame, train: DataFrame,
                            idCol: String, textCol: String,
                            thresholds: Seq[Double]): DataFrame = {
    val sorted = thresholds.sorted
    val bucket = sorted.zipWithIndex.foldLeft(lit(1L)) {
      case (acc, (t, i)) => when(col("nll") > t, lit(i + 2L)).otherwise(acc)
    }
    lmScore(corpus, train, idCol, textCol)
      .filter(col("n_trans") > 0)
      .withColumn("bucket", bucket)
  }

  /** The train-offline half of [[lmBucketsByThresholds]]: estimate the
    * nll thresholds that split a (sample of the) corpus into `nBuckets`
    * equal terciles/quantiles — `approxQuantile` over the slim
    * (doc_id, nll) relation, one pass, no global sort. The production
    * loop is: run this once on a sample, freeze the thresholds, bucket
    * the full corpus map-only — the same train-offline / apply-online
    * split as IVF centroids, PQ codebooks and SQ8 ranges.
    *
    * @param relErr approxQuantile's relative error target (Greenwald-
    *        Khanna); 0.001 keeps tercile boundaries within ~0.1% of
    *        exact on the sample.
    */
  def nllThresholds(corpus: DataFrame, train: DataFrame,
                    idCol: String, textCol: String, nBuckets: Int = 3,
                    relErr: Double = 0.001): Seq[Double] = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    lmScore(corpus, train, idCol, textCol)
      .filter(col("n_trans") > 0)
      .stat.approxQuantile("nll", probs, relErr).toSeq
  }

  /** Head/middle/tail bucketing with thresholds taken from the
    * HISTOGRAM SKETCH of the score distribution
    * ([[Sketches.histQuantilesOf]] over micro-quantized nll) instead of
    * an offline `approxQuantile` — the sketch→selection composition:
    * tercile thresholds are the p333/p667 envelope lower bounds, the
    * bucketing itself stays one map-only projection. Unlike
    * Greenwald–Khanna the histogram is mergeable and warehouse-backed,
    * so at 100 TB the thresholds come from the INCREMENTAL store
    * ([[SketchStore.storedHistQuantiles]] — merge-exact equal to this
    * one-shot form) with no score rescan; and unlike `approxQuantile`
    * the whole path is integer-deterministic, so the row hash-matches
    * its DuckDB twin exactly. Threshold granularity = one bin width
    * (`w` micro-nll units); the scored relation is localCheckpointed —
    * it feeds both the sketch and the bucketing projection, and it is
    * doc-count-sized, exactly the artifact a production loop freezes.
    */
  def lmBucketsByHist(corpus: DataFrame, train: DataFrame,
                      idCol: String, textCol: String,
                      b: Int = Sketches.HIST_B,
                      w: Long = 16384L): DataFrame = {
    val scored = lmScore(corpus, train, idCol, textCol)
      .filter(col("n_trans") > 0)
      .transform(graft.core.Graft.pin(_))
    val nm = round(col("nll") * MICRO.toDouble, 0).cast("long")
    val env = Sketches.histQuantilesOf(scored.select(nm.as("v")),
      col("v"), qms = Seq(333, 667), b = b, w = w)
    val th = env.agg(
      max(when(col("qm") === 333, col("lo"))).as("t1"),
      max(when(col("qm") === 667, col("lo"))).as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_trans"), col("nll"),
        when(nm > col("t2"), lit(3L))
          .when(nm > col("t1"), lit(2L))
          .otherwise(lit(1L)).as("bucket"))
  }

  /** DuckDB twin of [[lmBucketsByHist]] (adjacent so they cannot
    * drift): the identical score chain, micro-quantization, clamped
    * binning, integral rank targets and threshold comparison.
    */
  def sqlLmBucketsByHistFrom(table: String, idCol: String, textCol: String,
                             trainPred: String, b: Int = Sketches.HIST_B,
                             w: Long = 16384L): String =
    s"""(WITH v AS (
       |  SELECT doc_id, n_trans, nll,
       |         CAST(round(nll * 1000000.0, 0) AS BIGINT) AS nm
       |  FROM ${sqlLmScoreFrom(table, idCol, textCol, trainPred)} sc
       |  WHERE n_trans > 0),
       |${Sketches.sqlHistRankCtes("v", "nm", Seq(333, 667), b, w,
            origin = 0L)},
       |tt AS (
       |  SELECT max(CASE WHEN qm = 333 THEN bin * $w END) AS t1,
       |         max(CASE WHEN qm = 667 THEN bin * $w END) AS t2 FROM hth)
       |SELECT doc_id, n_trans, nll,
       |       CAST(CASE WHEN nm > t2 THEN 3
       |                 WHEN nm > t1 THEN 2 ELSE 1 END AS BIGINT) AS bucket
       |FROM v, tt)""".stripMargin

  /** DuckDB twin of [[lmBuckets]] (adjacent so they cannot drift). */
  def sqlLmBucketsFrom(table: String, idCol: String, textCol: String,
                       trainPred: String, nBuckets: Int = 3): String =
    s"""(SELECT doc_id, n_trans, nll,
       |        CAST(ntile($nBuckets) OVER (ORDER BY nll, doc_id) AS BIGINT)
       |          AS bucket
       | FROM ${sqlLmScoreFrom(table, idCol, textCol, trainPred)} sc
       | WHERE n_trans > 0)""".stripMargin

  /** DuckDB twin of [[lmScore]] (adjacent so they cannot drift). */
  def sqlLmScoreFrom(table: String, idCol: String, textCol: String,
                     trainPred: String): String = {
    val w = s"string_split($textCol, ' ')"
    val trans =
      s"""CASE WHEN len($w) >= 2 THEN list_transform(range(1, len($w)),
         |  i -> struct_pack(hp := ${PortableHash.sqlH60(s"($w)[i]")},
         |                   hc := ${PortableHash.sqlH60(s"($w)[i+1]")}))
         |ELSE []::STRUCT(hp BIGINT, hc BIGINT)[] END""".stripMargin
    s"""(WITH lm_ct AS (
       |  SELECT $idCol AS doc_id, t.hp AS hp, t.hc AS hc
       |  FROM (SELECT $idCol, unnest($trans) AS t FROM $table)),
       |lm_uni AS (
       |  SELECT h, count(*) AS uc FROM (
       |    SELECT unnest(list_transform($w,
       |      t -> ${PortableHash.sqlH60("t")})) AS h
       |    FROM $table WHERE $trainPred) GROUP BY h),
       |lm_big AS (
       |  SELECT hp, hc, count(*) AS bc FROM (
       |    SELECT t.hp AS hp, t.hc AS hc
       |    FROM (SELECT unnest($trans) AS t FROM $table WHERE $trainPred))
       |  GROUP BY hp, hc),
       |lm_w AS (SELECT CAST(sum(uc) AS BIGINT) AS w FROM lm_uni),
       |lm_scored AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
       |         CAST(sum(ti) AS BIGINT) AS s
       |  FROM (
       |    SELECT c.doc_id,
       |      CAST(CASE WHEN b.bc IS NOT NULL THEN
       |          round(ln(CAST(b.bc AS DOUBLE) / up.uc) * 1000000.0, 0)
       |        ELSE
       |          round(ln((${BACKOFF} * (COALESCE(uc2.uc, 0) + 0.5)) / w.w)
       |            * 1000000.0, 0)
       |        END AS BIGINT) AS ti
       |    FROM lm_ct c
       |    LEFT JOIN lm_big b ON c.hp = b.hp AND c.hc = b.hc
       |    LEFT JOIN lm_uni up ON c.hp = up.h
       |    LEFT JOIN lm_uni uc2 ON c.hc = uc2.h
       |    CROSS JOIN lm_w w)
       |  GROUP BY doc_id)
       |SELECT d.$idCol AS doc_id,
       |       COALESCE(s.n_trans, 0) AS n_trans,
       |       CASE WHEN s.n_trans IS NOT NULL THEN
       |         round(-CAST(s.s AS DOUBLE) / (s.n_trans * 1000000.0), 6)
       |       ELSE NULL END AS nll
       |FROM $table d LEFT JOIN lm_scored s ON d.$idCol = s.doc_id)""".stripMargin
  }

  // ── Naive-Bayes quality classifier ─────────────────────────────────

  /** Model-based quality filtering — the GPT-3/CCNet "train a classifier
    * on curated-vs-raw seeds, keep what scores curated" stage, as a
    * multinomial Naive Bayes over the shared hashed unigram+bigram
    * features ([[featureBuckets]]): per-bucket add-one-smoothed log-odds
    * `log(p(b|positive) / p(b|negative))`, fit on two labeled seed sets;
    * a document's score is its features' MEAN log-odds (length-normalized
    * so verdicts compare across document sizes), `nb_label = 1` when
    * positive wins. NB's argmax is a linear classifier over these
    * features — the same decision family as the fastText/LR filters the
    * pipelines use, with closed-form training (two count aggregations)
    * instead of SGD, which is what keeps it one deterministic Catalyst
    * plan with a hash-exact oracle.
    *
    * Same exactness + scale contract as the rest of the module: logs are
    * micro-quantized at the ≤`buckets`-row model table, the corpus path
    * is explode → broadcast model join → integer-sum hash-agg, and
    * corpus features unseen in BOTH seeds fall back to the smoothing
    * prior `log((ntot+B)/(ptot+B))` computed from the 1-row totals.
    */
  def nbScore(corpus: DataFrame, positive: DataFrame, negative: DataFrame,
              idCol: String, textCol: String,
              buckets: Long = BUCKETS): DataFrame = {
    val cf = graft.core.Graft.rebalance(corpus)
      .select(col(idCol).as("doc_id"),
        explode(featureBuckets(col(textCol), buckets)).as("b"))
    val pc = positive
      .select(explode(featureBuckets(col(textCol), buckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("pc"))
    val nc = negative
      .select(explode(featureBuckets(col(textCol), buckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("nc"))
    // coalesce: an empty seed set must degenerate to prior-only scoring
    // (sum over zero rows is NULL, which would otherwise cascade into
    // NULL scores/labels for every document)
    val tot = pc.agg(coalesce(sum("pc"), lit(0L)).as("ptot"))
      .crossJoin(nc.agg(coalesce(sum("nc"), lit(0L)).as("ntot"))) // 1×1 row
    val lo = pc.join(nc, Seq("b"), "full").crossJoin(tot)
      .select(col("b"),
        round(log(
          ((coalesce(col("pc"), lit(0L)) + 1.0) * (col("ntot") + buckets.toDouble)) /
          ((coalesce(col("nc"), lit(0L)) + 1.0) * (col("ptot") + buckets.toDouble)))
          * MICRO.toDouble, 0).cast("long").as("loi"))
    cf.join(broadcast(lo), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        coalesce(col("loi"),
          round(log((col("ntot") + buckets.toDouble) /
            (col("ptot") + buckets.toDouble)) * MICRO.toDouble, 0)
            .cast("long")).as("loi"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_feats"), sum("loi").as("_s"))
      .select(col("doc_id"), col("n_feats"),
        round(col("_s").cast("double") / (col("n_feats") * MICRO), 6)
          .as("nb_score"),
        (col("_s") > 0L).cast("long").as("nb_label"))
  }

  /** DuckDB twin of [[nbScore]] (adjacent so they cannot drift). */
  def sqlNbScoreFrom(table: String, idCol: String, textCol: String,
                     positivePred: String, negativePred: String,
                     buckets: Long = BUCKETS): String =
    s"""(WITH nb_cf AS (
       |  SELECT $idCol AS doc_id,
       |         unnest(${sqlFeatureBuckets(textCol, buckets)}) AS b
       |  FROM $table),
       |nb_pc AS (
       |  SELECT b, count(*) AS pc FROM (
       |    SELECT unnest(${sqlFeatureBuckets(textCol, buckets)}) AS b
       |    FROM $table WHERE $positivePred) GROUP BY b),
       |nb_nc AS (
       |  SELECT b, count(*) AS nc FROM (
       |    SELECT unnest(${sqlFeatureBuckets(textCol, buckets)}) AS b
       |    FROM $table WHERE $negativePred) GROUP BY b),
       |nb_tot AS (SELECT
       |  (SELECT COALESCE(CAST(sum(pc) AS BIGINT), 0) FROM nb_pc) AS ptot,
       |  (SELECT COALESCE(CAST(sum(nc) AS BIGINT), 0) FROM nb_nc) AS ntot),
       |nb_lo AS (
       |  SELECT b, CAST(round(ln(
       |      ((COALESCE(pc, 0) + 1.0) * (ntot + $buckets.0)) /
       |      ((COALESCE(nc, 0) + 1.0) * (ptot + $buckets.0)))
       |    * 1000000.0, 0) AS BIGINT) AS loi
       |  FROM nb_pc FULL JOIN nb_nc USING (b) CROSS JOIN nb_tot),
       |nb_sum AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |         CAST(sum(loi2) AS BIGINT) AS s
       |  FROM (
       |    SELECT f.doc_id,
       |           COALESCE(l.loi, CAST(round(ln(
       |               (t.ntot + $buckets.0) / (t.ptot + $buckets.0))
       |             * 1000000.0, 0) AS BIGINT)) AS loi2
       |    FROM nb_cf f LEFT JOIN nb_lo l USING (b) CROSS JOIN nb_tot t)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_feats,
       |       round(CAST(s AS DOUBLE) / (n_feats * 1000000.0), 6)
       |         AS nb_score,
       |       CAST(s > 0 AS BIGINT) AS nb_label
       |FROM nb_sum)""".stripMargin
}
