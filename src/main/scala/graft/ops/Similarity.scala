package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Exact-portability trick: embeddings are scaled to integers
  * (`round(x * 1e6)`), so dot products are *exact* integer arithmetic —
  * identical in Spark (int64 higher-order aggregate) and DuckDB
  * (`list_dot_product` on BIGINT lists stays below 2^53, hence exact in
  * doubles). Cosine is then one deterministic double division. This gives
  * ANN/k-NN queries hash-exact oracles, which float math can never do.
  *
  * Scale paths:
  *  - [[bruteForceKnn]]: broadcast the (small) query set, one scan of the
  *    corpus, per-query top-k via window — the exact baseline.
  *  - [[lshBucketKnn]]: random-hyperplane sign buckets (deterministic
  *    hyperplanes from [[PortableHash]]) — each probe touches only its
  *    bucket, the 100 TB path; recall measured against the brute force.
  */
object Similarity {

  val SCALE = 1000000L // 1e6: float32 mantissa fits losslessly after round

  /** Float vector → exact integer vector: each element
    * `CAST(round(CAST(x AS DOUBLE) * SCALE) AS BIGINT)`, computed by the
    * native [[graft.functions.VecQuant]] kernel — one plain expression,
    * so repeated uses over one row share a single evaluation.
    */
  def veci(emb: Column): Column = graft.functions.VecQuant(emb)

  def sqlVeci(embExpr: String): String =
    s"list_transform($embExpr, x -> CAST(round(CAST(x AS DOUBLE) * $SCALE) AS BIGINT))"

  /** Exact integer dot product — native codegen'd kernel
    * ([[graft.functions.LongVecDot]]); [[dotIntComposed]] keeps the
    * built-in higher-order formulation it is value-identical to.
    */
  def dotInt(a: Column, b: Column): Column =
    graft.functions.LongVecDot(a, b)

  def dotIntComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, x) => s + x)

  def sqlDotInt(aExpr: String, bExpr: String): String =
    s"CAST(list_dot_product($aExpr, $bExpr) AS BIGINT)"

  /** Deterministic cosine from exact integer dot/norms. */
  def cosine(a: Column, b: Column): Column =
    dotInt(a, b).cast("double") /
      (sqrt(dotInt(a, a).cast("double")) * sqrt(dotInt(b, b).cast("double")))

  def sqlCosineParts(dotExpr: String, n1Expr: String, n2Expr: String): String =
    s"(CAST($dotExpr AS DOUBLE) / (sqrt(CAST($n1Expr AS DOUBLE)) * sqrt(CAST($n2Expr AS DOUBLE))))"

  def sqlCosine(aExpr: String, bExpr: String): String =
    s"""(CAST(${sqlDotInt(aExpr, bExpr)} AS DOUBLE) /
       | (sqrt(CAST(${sqlDotInt(aExpr, aExpr)} AS DOUBLE)) *
       |  sqrt(CAST(${sqlDotInt(bExpr, bExpr)} AS DOUBLE))))""".stripMargin

  /** Cosine from a pair dot product and per-side precomputed square norms
    * (same double value as [[cosine]], but norms are computed once per
    * vector instead of once per pair).
    */
  def cosineFromParts(dot: Column, n1: Column, n2: Column): Column =
    dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))

  /** [[cosineFromParts]] with a zero-norm guard: a zero vector scores a
    * sentinel −1.0 instead of NaN. NaN ordering differs between Spark
    * (greatest; `array_max` returns it) and the DuckDB oracle's
    * `ORDER BY DESC`, so any assignment/argmax over cosines must use this
    * guarded form on BOTH sides or a zero vector silently diverges.
    */
  def cosineGuardedParts(dot: Column, n1: Column, n2: Column): Column =
    when(n1 === 0L || n2 === 0L, lit(-1.0))
      .otherwise(cosineFromParts(dot, n1, n2))

  /** SQL twin of [[cosineGuardedParts]] (norm exprs are repeated, so pass
    * simple column references).
    */
  def sqlCosineGuardedParts(dotExpr: String, n1Expr: String,
                            n2Expr: String): String =
    s"(CASE WHEN $n1Expr = 0 OR $n2Expr = 0 THEN -1.0 " +
      s"ELSE ${sqlCosineParts(dotExpr, n1Expr, n2Expr)} END)"

  /** Exact top-k neighbors for each query id. The query side is broadcast
    * (small by construction); corpus is scanned once; norms precomputed
    * per row; ties broken by id.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("nn_id"), veci(col(embCol)).as("cv"))
      .withColumn("cn", dotInt(col("cv"), col("cv")))
    val q = queries.select(col(idCol).as("query_id"), veci(col(embCol)).as("qv"))
      .withColumn("qn", dotInt(col("qv"), col("qv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .withColumn("dot", dotInt(col("qv"), col("cv")))
      .select(col("query_id"), col("nn_id"),
        round(cosineFromParts(col("dot"), col("qn"), col("cn")), 9).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining — the contrastive-training data-prep step
    * (dense retrieval, e.g. DPR, Karpukhin et al. 2020, arXiv:
    * 2004.04906): for each query the top-k most-SIMILAR corpus vectors
    * whose `labelCol` DIFFERS — semantically close but labeled apart,
    * the negatives that actually teach an embedding model its margin.
    * Same broadcast-queries one-corpus-scan shape as [[bruteForceKnn]]
    * with the label anti-filter fused into the join condition (rows of
    * the query's own class never reach the scorer); at warehouse scale
    * substitute the persisted-index probe as the scorer and keep the
    * filter.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, labelCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("nn_id"),
        col(labelCol).cast("long").as("nn_label"), veci(col(embCol)).as("cv"))
      .withColumn("cn", dotInt(col("cv"), col("cv")))
    val q = queries.select(col(idCol).as("query_id"),
        col(labelCol).cast("long").as("q_label"), veci(col(embCol)).as("qv"))
      .withColumn("qn", dotInt(col("qv"), col("qv")))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("nn_id") && col("q_label") =!= col("nn_label"))
      .withColumn("dot", dotInt(col("qv"), col("cv")))
      .select(col("query_id"), col("q_label"), col("nn_id"), col("nn_label"),
        round(cosineFromParts(col("dot"), col("qn"), col("cn")), 9).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** FAISS-style refinement stage (the `IndexRefineFlat` pattern): re-rank
    * an ANN shortlist with EXACT cosine against the raw vectors and keep
    * the true top-k. `cand` carries (query_id, nn_id) — typically an
    * IVF+PQ probe run with shortK > topK — so the quantization error ADC
    * introduced is corrected exactly where it matters: recall@topK rises
    * to the shortlist's recall@shortK for the price of |Q|×shortK exact
    * distances. Plan shape: the shortlist (small by construction) is
    * BROADCAST against one corpus scan — a map-side hash join, no
    * shuffle, no per-pair blowup; at warehouse scale the same call works
    * with the corpus read key-pruned to the candidate ids (the shortlist
    * is the IN-set). Ties break on nn_id, as everywhere in this family.
    */
  def refineTopK(corpus: DataFrame, queries: DataFrame, cand: DataFrame,
                 idCol: String, embCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("nn_id"), veci(col(embCol)).as("cv"))
      .withColumn("cn", dotInt(col("cv"), col("cv")))
    val q = queries
      .select(col(idCol).as("query_id"), veci(col(embCol)).as("qv"))
      .withColumn("qn", dotInt(col("qv"), col("qv")))
    val scored = c
      .join(broadcast(cand.select(col("query_id"), col("nn_id"))), "nn_id")
      .join(broadcast(q), "query_id")
      .withColumn("dot", dotInt(col("qv"), col("cv")))
      .select(col("query_id"), col("nn_id"),
        round(cosineFromParts(col("dot"), col("qn"), col("cn")), 9).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** DuckDB oracle equal to [[refineTopK]] over any candidate-producing
    * SQL (adjacent so they cannot drift): `candSql` is a complete query
    * yielding (query_id, nn_id, …) — e.g. [[sqlIvfPqTrained]] at shortK —
    * and the re-rank mirrors the exact-cosine scoring of [[sqlKnn]].
    */
  def sqlRefine(candSql: String, topK: Int, queryPred: String): String =
    s"""WITH cand AS ($candSql),
       |v AS (SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE $queryPred),
       |scored AS (
       |  SELECT cand.query_id, cand.nn_id,
       |         round(${sqlCosine("q.qv", "c.v")}, 9) AS cos
       |  FROM cand JOIN v c ON c.vec_id = cand.nn_id
       |  JOIN q ON q.query_id = cand.query_id)
       |SELECT query_id, nn_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  val LSH_PLANES = 8

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a value in [-500, 500] from the portable hash family. Computed on the
    * driver (plain JVM md5 — identical to `PortableHash.h60`) so the plane
    * vectors become plan-time literals instead of per-row md5 work.
    */
  def planeComponent(plane: Int, dim: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$plane:$dim".getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 1001L - 500L
  }

  private def sqlPlaneComponent(plane: Int, dimExpr: String): String =
    s"(${PortableHash.sqlH60(s"'plane:$plane:' || CAST($dimExpr AS VARCHAR)")} % 1001 - 500)"

  /** Sign-bucket signature: bit p = sign of ⟨v, plane_p⟩. Buckets collapse
    * the corpus so each query probes one bucket (plus optionally neighbor
    * buckets for recall) instead of scanning everything.
    */
  def lshBucket(vi: Column, dim: Int): Column =
    (0 until LSH_PLANES).map { p =>
      val plane = array((0 until dim).map(i => lit(planeComponent(p, i))): _*)
      val proj = aggregate(zip_with(vi, plane, (x, w) => x * w),
        lit(0L), (s, x) => s + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduceLeft(_ + _)

  def sqlLshBucket(viExpr: String): String = {
    val terms = (0 until LSH_PLANES).map { p =>
      val planes = s"list_transform(range(len(_v)), i -> ${sqlPlaneComponent(p, "i")})"
      s"(CASE WHEN list_dot_product(_v, $planes) >= 0 THEN ${1L << p}::BIGINT ELSE 0 END)"
    }
    s"(SELECT ${terms.mkString(" + ")} FROM (SELECT $viExpr AS _v) _s)"
  }

  /** Bucketed ANN: join query buckets to corpus buckets, top-k per query
    * within the bucket. Trades recall for touching only ~1/2^planes of the
    * corpus per probe.
    */
  def lshBucketKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, k: Int, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("nn_id"), veci(col(embCol)).as("cv"))
      .withColumn("bucket", lshBucket(col("cv"), dim))
      .withColumn("cn", dotInt(col("cv"), col("cv")))
    val q = queries.select(col(idCol).as("query_id"), veci(col(embCol)).as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), dim))
      .withColumn("qn", dotInt(col("qv"), col("qv")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("dot", dotInt(col("qv"), col("cv")))
      .select(col("query_id"), col("nn_id"),
        round(cosineFromParts(col("dot"), col("qn"), col("cn")), 9).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer — the first
    * `nCentroids` corpus vectors, by id, serve as centroids (reproducible
    * across engines; a trained k-means would slot in identically) — assigns
    * every vector to its nearest centroid by exact integer dot-product
    * cosine. Queries probe only their own cell (`nProbe=1` semantics), so a
    * probe touches ~1/nCentroids of the corpus: the scale path when the
    * corpus outgrows brute force and hyperplane buckets are too coarse.
    *
    * Assignment tie-break: higher cosine wins, then lower centroid id —
    * deterministic in both engines.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame,
                idCol: String, viCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = centroids.select(col(idCol).as("centroid_id"), col(viCol).as("cv"))
      .withColumn("cn", dotInt(col("cv"), col("cv")))
    val v = vectors.withColumn("vn", dotInt(col(viCol), col(viCol)))
    val scored = v.join(broadcast(c), lit(true))
      .withColumn("cdot", dotInt(col(viCol), col("cv")))
      .withColumn("ccos",
        round(cosineGuardedParts(col("cdot"), col("vn"), col("cn")), 9))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("ccos").desc, col("centroid_id"))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_rn", "cv", "cn", "cdot", "ccos")
  }

  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int, nCentroids: Int = 16): DataFrame = {
    val vecs = corpus.select(col(idCol), veci(col(embCol)).as("v"))
    ivfKnnWith(vecs, queries, vecs.filter(col(idCol) < nCentroids),
      idCol, embCol, k)
  }

  /** IVF with a Lloyd-trained codebook ([[kmeansCodebook]]) instead of the
    * first-N quantizer — better-balanced cells, same probe plan.
    */
  def ivfKnnTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, k: Int, nCentroids: Int = 16,
                    iters: Int = 3): DataFrame = {
    val vecs = corpus.select(col(idCol), veci(col(embCol)).as("v"))
    val cents = kmeansCodebook(corpus, idCol, embCol, nCentroids, iters)
      .withColumnRenamed("centroid_id", idCol)
    ivfKnnWith(vecs, queries, cents, idCol, embCol, k)
  }

  private def ivfKnnWith(vecs: DataFrame, queries: DataFrame,
                         cents: DataFrame, idCol: String, embCol: String,
                         k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusCells = ivfAssign(vecs, cents, idCol, "v")
      .select(col(idCol).as("nn_id"), col("v").as("cv"),
        col("vn").as("cn"), col("centroid_id"))
    val qCells = ivfAssign(
        queries.select(col(idCol), veci(col(embCol)).as("v")), cents, idCol, "v")
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("vn").as("qn"), col("centroid_id"))
    val scored = corpusCells.join(broadcast(qCells), Seq("centroid_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("dot", dotInt(col("qv"), col("cv")))
      .select(col("query_id"), col("nn_id"),
        round(cosineGuardedParts(col("dot"), col("qn"), col("cn")), 9).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Multi-probe IVF: like [[ivfKnn]] but each query probes its `nProbe`
    * nearest cells instead of one — the standard recall knob of an
    * inverted-file index (FAISS `nprobe`). The corpus partitioning is
    * unchanged (every vector lives in exactly one cell, so probe joins
    * produce no duplicate pairs); only the query side fans out, by a
    * constant factor ≤ nProbe. At 100 TB: cost per query ≈
    * nProbe/nCentroids of the corpus, still partition-prunable when the
    * (cell, vector) table is stored partitioned by cell.
    */
  def ivfKnnProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
                  embCol: String, k: Int, nCentroids: Int = 16,
                  nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = corpus.select(col(idCol), veci(col(embCol)).as("v"))
    val cents = vecs.filter(col(idCol) < nCentroids)
    val corpusCells = ivfAssign(vecs, cents, idCol, "v")
      .select(col(idCol).as("nn_id"), col("v").as("cv"),
        col("vn").as("cn"), col("centroid_id"))
    // query side: keep the nProbe highest-cosine cells per query
    val c = cents.select(col(idCol).as("centroid_id"), col("v").as("ccv"))
      .withColumn("ccn", dotInt(col("ccv"), col("ccv")))
    val q0 = queries.select(col(idCol).as("query_id"),
        veci(col(embCol)).as("qv"))
      .withColumn("qn", dotInt(col("qv"), col("qv")))
    val qScored = q0.join(broadcast(c), lit(true))
      .withColumn("ccos", round(cosineGuardedParts(
        dotInt(col("qv"), col("ccv")), col("qn"), col("ccn")), 9))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    val qCells = qScored.withColumn("_pr", row_number().over(wp))
      .filter(col("_pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("centroid_id"))
    val scored = corpusCells.join(broadcast(qCells), Seq("centroid_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("dot", dotInt(col("qv"), col("cv")))
      .select(col("query_id"), col("nn_id"),
        round(cosineGuardedParts(col("dot"), col("qn"), col("cn")), 9).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DuckDB oracle equal to [[ivfKnnProbe]] (adjacent so they cannot
    * drift): corpus cells exactly as `ann_ivf`'s oracle, query side keeps
    * its `nProbe` best cells before the probe join.
    */
  def sqlIvfProbe(nCentroids: Int, nProbe: Int, k: Int,
                  queryPred: String): String = {
    val cosAssign = sqlCosineGuardedParts(
      sqlDotInt("vn.v", "c.cv"), "vn.n2", "c.cn")
    val cosQCell = sqlCosineGuardedParts(
      sqlDotInt("q0.qv", "c.cv"), "q0.qn", "c.cn")
    // guarded scoring too: a zero-norm vector is NaN in Spark (sorts
    // FIRST in a DESC window) but NULL in DuckDB (sorts last) — the
    // sentinel −1.0 keeps the two engines identical (ADVICE r6)
    val cosScore = sqlCosineGuardedParts(sqlDotInt("qv", "a.v"), "qn", "a.n2")
    s"""WITH v AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |vn AS (SELECT vec_id, v, ${sqlDotInt("v", "v")} AS n2 FROM v),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, n2 AS cn FROM vn
       |      WHERE vec_id < $nCentroids),
       |assign AS (
       |  SELECT vec_id, v, n2, centroid_id FROM (
       |    SELECT vn.vec_id, vn.v, vn.n2, c.centroid_id,
       |           row_number() OVER (PARTITION BY vn.vec_id
       |             ORDER BY round($cosAssign, 9) DESC, c.centroid_id) AS rn
       |    FROM vn CROSS JOIN c)
       |  WHERE rn = 1),
       |q0 AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn FROM vn
       |       WHERE $queryPred),
       |qcells AS (
       |  SELECT query_id, qv, qn, centroid_id FROM (
       |    SELECT q0.query_id, q0.qv, q0.qn, c.centroid_id,
       |           row_number() OVER (PARTITION BY q0.query_id
       |             ORDER BY round($cosQCell, 9) DESC, c.centroid_id) AS pr
       |    FROM q0 CROSS JOIN c)
       |  WHERE pr <= $nProbe),
       |scored AS (
       |  SELECT query_id, a.vec_id AS nn_id, round($cosScore, 9) AS cos
       |  FROM qcells q JOIN assign a USING (centroid_id)
       |  WHERE a.vec_id <> query_id)
       |SELECT query_id, nn_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // ── SQ8 scalar quantization ────────────────────────────────────────

  /** Per-dimension (min, max) corpus statistics for [[sq8Knn]]: one
    * explode + narrow agg (shuffle width = dim rows) + a dim-row collect —
    * the train step of a scalar quantizer.
    */
  def sq8Stats(corpus: DataFrame, idCol: String, embCol: String,
               dim: Int): Array[(Long, Long)] = {
    val e = corpus.select(posexplode(veci(col(embCol)))).toDF("i", "x")
    val rows = e.groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    require(rows.length == dim, s"expected $dim dims, got ${rows.length}")
    rows.map(r => (r.getLong(1), r.getLong(2)))
  }

  /** SQ8 reconstruction as ONE literal projection: each dimension
    * quantizes to an 8-bit code `floor((x−min)·255 / range)` and
    * immediately reconstructs `min + floor(code·range / 255)` — the value
    * a code-only store would search against. Both divisions are IEEE
    * doubles over exactly-representable integers (≤ 2³¹), so Spark and
    * DuckDB floor identically. Quantize→reconstruct is kept as one
    * expression because the persisted form at scale is the CODES (64 B →
    * 64 codes ≈ 4× smaller than float32, 16× smaller than the integer
    * grid); reconstruction is free arithmetic at scan time.
    */
  def sq8Recon(v: Column, stats: Array[(Long, Long)]): Column = {
    val mins = typedLit(stats.map(_._1).toSeq)
    val rngs = typedLit(stats.map { case (mn, mx) => math.max(1L, mx - mn) }.toSeq)
    zip_with(v, sequence(lit(0), lit(stats.length - 1)), (x, i) => {
      val mn = element_at(mins, i.cast("int") + 1)
      val rng = element_at(rngs, i.cast("int") + 1)
      val code = floor(((x - mn) * lit(255L)).cast("double") / rng.cast("double"))
      mn + floor((code * rng).cast("double") / lit(255.0)).cast("long")
    })
  }

  /** k-NN over SQ8-quantized corpus vectors (asymmetric: queries stay
    * exact, corpus is reconstructed from its 8-bit codes). Ranking metric
    * is exact integer squared-L2 between the query and the
    * reconstruction. Plan: one stats agg (train), then scan → literal
    * projection → broadcast-join the tiny query set → rank-limit window —
    * the same single-exchange shape as [[pqAdcKnn]], at a milder
    * compression point (4× vs ~20×) with much higher fidelity.
    */
  def sq8Knn(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = sq8Stats(corpus, idCol, embCol, dim)
    val c = corpus.select(col(idCol).as("nn_id"),
      sq8Recon(veci(col(embCol)), stats).as("rv"))
    val q = queries.select(col(idCol).as("query_id"), veci(col(embCol)).as("qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .withColumn("_d", zip_with(col("rv"), col("qv"), (a, b) => a - b))
      .select(col("query_id"), col("nn_id"),
        dotInt(col("_d"), col("_d")).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DuckDB oracle equal to [[sq8Knn]] (adjacent so they cannot drift). */
  def sqlSq8(k: Int, queryPred: String, dim: Int = 64): String =
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |e AS (SELECT vec_id, unnest(range($dim)) AS i, unnest(v) AS x FROM v0),
       |st AS (SELECT i, min(x) AS mn, greatest(1, max(x) - min(x)) AS rng
       |       FROM e GROUP BY i),
       |rc AS (
       |  SELECT e.vec_id, e.i,
       |         st.mn + CAST(floor(
       |           CAST(CAST(floor(CAST((e.x - st.mn) * 255 AS DOUBLE)
       |                           / CAST(st.rng AS DOUBLE)) AS BIGINT)
       |                * st.rng AS DOUBLE) / 255.0) AS BIGINT) AS r
       |  FROM e JOIN st USING (i)),
       |recon AS (SELECT vec_id AS nn_id, list(r ORDER BY i) AS rv
       |          FROM rc GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM v0 WHERE $queryPred),
       |scored AS (
       |  SELECT query_id, nn_id,
       |         CAST(list_dot_product(dd, dd) AS BIGINT) AS adist
       |  FROM (
       |    SELECT query_id, nn_id,
       |           list_transform(range($dim), i -> rv[i+1] - qv[i+1]) AS dd
       |    FROM recon CROSS JOIN q WHERE nn_id <> query_id))
       |SELECT query_id, nn_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adist, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Deterministic spherical k-means (Lloyd) codebook over the
    * integer-scaled vectors: init = first k vectors by id, then `iters`
    * rounds of assign (broadcast codebook, exact integer-dot cosine) +
    * recompute (per-cell elementwise mean). Returns `(centroid_id,
    * centroid: Array[Long])` re-scaled to the integer grid so the result
    * plugs straight into [[ivfAssign]]/[[ivfKnn]] as a drop-in, better-
    * balanced quantizer.
    *
    * Scale: each round is one broadcast join (codebook ≪ corpus), one
    * hash aggregation (shuffle width = k × dim), and a k-row collect to
    * rebuild the broadcast literal — the standard distributed Lloyd loop;
    * `iters` is fixed, so the plan depth is bounded. Empty cells keep
    * their previous centroid (never NaN).
    */
  def kmeansCodebook(vectors: DataFrame, idCol: String, embCol: String,
                     k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = vectors.sparkSession
    val vecs = vectors.select(col(idCol).as("_vid"), veci(col(embCol)).as("v"))
    var codebook: Array[(Long, Array[Long])] = vecs
      .orderBy("_vid").limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1).toArray) }

    for (_ <- 0 until iters) {
      val cdf = spark.createDataFrame(
        spark.sparkContext.parallelize(codebook.toIndexedSeq.map {
          case (cid, cv) => org.apache.spark.sql.Row(cid, cv.toSeq)
        }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("centroid_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cv",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)))))
        .withColumn("cn", dotInt(col("cv"), col("cv")))
      val scored = vecs
        .withColumn("vn", dotInt(col("v"), col("v")))
        .join(broadcast(cdf), lit(true))
        .withColumn("ccos", round(cosineGuardedParts(
          dotInt(col("v"), col("cv")), col("vn"), col("cn")), 9))
      val w = Window.partitionBy(col("_vid"))
        .orderBy(col("ccos").desc, col("centroid_id"))
      val assigned = scored.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("centroid_id"), col("v"))
      // per-cell elementwise mean, back on the integer grid
      val dim = codebook.head._2.length
      val means = assigned
        .select(col("centroid_id") +:
          (0 until dim).map(i => element_at(col("v"), i + 1).as(s"_d$i")): _*)
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("_n"),
          (0 until dim).map(i => sum(col(s"_d$i")).as(s"_s$i")): _*)
        .collect()
      val updated = means.map { r =>
        val cid = r.getLong(0)
        val n = r.getLong(1)
        (cid, (0 until dim).map(i =>
          Math.floorDiv(r.getLong(2 + i), n)).toArray)
      }.toMap
      codebook = codebook.map { case (cid, old) =>
        (cid, updated.getOrElse(cid, old))
      }
    }

    spark.createDataFrame(
      spark.sparkContext.parallelize(codebook.toIndexedSeq.map {
        case (cid, cv) => org.apache.spark.sql.Row(cid, cv.toSeq)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))))
  }

  /** [[kmeansCodebook]] collected to plan-time centroid arrays in
    * cell-id order — the shape [[buildIndex]] / [[semDedupKeepset]] /
    * [[ivfPqKnnWith]] accept as `coarse`. Bounded collect: k rows.
    */
  def collectKmeansCentroids(vectors: DataFrame, idCol: String,
                             embCol: String, k: Int,
                             iters: Int): Array[Array[Long]] =
    kmeansCodebook(vectors, idCol, embCol, k, iters)
      .orderBy("centroid_id").select("v").collect()
      .map(_.getSeq[Long](0).toArray)

  /** DuckDB oracle for [[ivfKnnTrained]]: the Lloyd loop is deterministic
    * (init = first k vectors by id; assign by exact integer-dot cosine
    * rounded to 9 places, ties to the lower centroid id; recompute =
    * elementwise floor-mean on the integer grid; empty cells keep their
    * centroid), so a FIXED iteration count unrolls into plain SQL — one
    * assign+mean CTE pair per iteration, then the standard IVF probe.
    * Floor-mean portability: sums stay far below 2^53, so
    * `floor(sum::DOUBLE / n)` is exact and equals Java's `Math.floorDiv`.
    */
  def sqlIvfTrained(nCentroids: Int, iters: Int, k: Int,
                    queryPred: String): String = {
    def cosAssign(vAlias: String, cAlias: String) = sqlCosineGuardedParts(
      sqlDotInt(s"$vAlias.v", s"$cAlias.cv"), s"$vAlias.n2", s"$cAlias.cn")
    def assignCte(name: String, cbWithN: String) =
      s"""$name AS (
         |  SELECT vec_id, v, n2, centroid_id FROM (
         |    SELECT vn.vec_id, vn.v, vn.n2, c.centroid_id,
         |           row_number() OVER (PARTITION BY vn.vec_id
         |             ORDER BY round(${cosAssign("vn", "c")}, 9) DESC,
         |                      c.centroid_id) AS rn
         |    FROM vn CROSS JOIN $cbWithN c)
         |  WHERE rn = 1)""".stripMargin
    val iterCtes = (1 to iters).map { it =>
      val prev = s"cb${it - 1}"
      s"""c$it AS (SELECT centroid_id, cv,
         |       ${sqlDotInt("cv", "cv")} AS cn FROM $prev),
         |${assignCte(s"a$it", s"c$it")},
         |e$it AS (SELECT centroid_id, unnest(range(len(v))) AS i,
         |         unnest(v) AS x FROM a$it),
         |m$it AS (SELECT centroid_id, list(mv ORDER BY i) AS cv FROM (
         |    SELECT centroid_id, i,
         |           CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS mv
         |    FROM e$it GROUP BY centroid_id, i)
         |  GROUP BY centroid_id),
         |cb$it AS (SELECT p.centroid_id, COALESCE(m.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN m$it m USING (centroid_id))""".stripMargin
    }.mkString(",\n")
    val cosScore = sqlCosineGuardedParts(sqlDotInt("qv", "a.v"), "qn", "a.n2")
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |vn AS (SELECT vec_id, v, ${sqlDotInt("v", "v")} AS n2 FROM v0),
       |cb0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |           AS centroid_id, v AS cv
       |  FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT $nCentroids)),
       |$iterCtes,
       |cf AS (SELECT centroid_id, cv,
       |       ${sqlDotInt("cv", "cv")} AS cn FROM cb$iters),
       |${assignCte("assign", "cf")},
       |q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn, centroid_id
       |      FROM assign WHERE $queryPred),
       |scored AS (
       |  SELECT query_id, a.vec_id AS nn_id, round($cosScore, 9) AS cos
       |  FROM q JOIN assign a USING (centroid_id)
       |  WHERE a.vec_id <> query_id)
       |SELECT query_id, nn_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The coarse-quantizer Lloyd rounds as a CTE chain `kb0 … kb<iters>`
    * (columns `centroid_id, cv`) over a `(id-ish, v)` source relation —
    * [[sqlIvfTrained]]'s unrolled loop with `k`-prefixed CTE names so it
    * composes with [[sqlPqTrainCtes]] (whose `a/e/m/cb` names it would
    * otherwise collide with) in one query. Mirrors [[kmeansCodebook]]
    * exactly: init = first nCells by id, guarded-cosine argmax assign
    * (round 9, ties to the lower centroid id), elementwise floor-mean
    * recompute on the integer grid, empty cells keep their centroid.
    */
  private def sqlCoarseLloydCtes(nCells: Int, iters: Int, srcRel: String,
                                 idExpr: String = "vec_id"): String = {
    val cosAssign = sqlCosineGuardedParts(
      sqlDotInt("kvn.v", "kc.cv"), "kvn.n2", "kc.cn")
    val iterCtes = (1 to iters).map { it =>
      val prev = s"kb${it - 1}"
      s"""kc$it AS (SELECT centroid_id, cv,
         |       ${sqlDotInt("cv", "cv")} AS cn FROM $prev),
         |ka$it AS (
         |  SELECT id, v, centroid_id FROM (
         |    SELECT kvn.id, kvn.v, kc.centroid_id,
         |           row_number() OVER (PARTITION BY kvn.id
         |             ORDER BY round($cosAssign, 9) DESC,
         |                      kc.centroid_id) AS rn
         |    FROM kvn CROSS JOIN kc$it kc)
         |  WHERE rn = 1),
         |ke$it AS (SELECT centroid_id, unnest(range(len(v))) AS i,
         |         unnest(v) AS x FROM ka$it),
         |km$it AS (SELECT centroid_id, list(mv ORDER BY i) AS cv FROM (
         |    SELECT centroid_id, i,
         |           CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS mv
         |    FROM ke$it GROUP BY centroid_id, i)
         |  GROUP BY centroid_id),
         |kb$it AS (SELECT p.centroid_id, COALESCE(m.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN km$it m USING (centroid_id))""".stripMargin
    }.mkString(",\n")
    s"""kvn AS (SELECT $idExpr AS id, v, ${sqlDotInt("v", "v")} AS n2
       |        FROM $srcRel),
       |kb0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
       |           AS centroid_id, v AS cv
       |  FROM (SELECT id, v FROM kvn ORDER BY id LIMIT $nCells)),
       |$iterCtes""".stripMargin
  }

  /** Embedding near-duplicate pairs within a bucket column (e.g. label):
    * cosine ≥ threshold, ids ordered. Norms precomputed per vector.
    */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String,
                   bucket: Column, threshold: Double): DataFrame =
    nearDupFromPre(
      df.select(col(idCol).as("id"), bucket.as("bucket"),
          veci(col(embCol)).as("v"))
        .withColumn("n2", dotInt(col("v"), col("v"))),
      threshold)

  /** Unsupervised variant: buckets are hyperplane LSH cells of the vector
    * itself — no label column needed, the at-scale default (a bucket
    * column like `label` is a luxury a raw 100 TB corpus doesn't have).
    * Each vector joins only within its cell (~1/2^planes of the corpus);
    * trades recall for never forming a global pair space.
    */
  def nearDupPairsAuto(df: DataFrame, idCol: String, embCol: String,
                       threshold: Double, dim: Int = 64): DataFrame =
    nearDupFromPre(
      df.select(col(idCol).as("id"), veci(col(embCol)).as("v"))
        .withColumn("bucket", lshBucket(col("v"), dim))
        .withColumn("n2", dotInt(col("v"), col("v"))),
      threshold)

  /** The EXACT all-pairs sweep as a parallel plan — the oracle-gate twin
    * of `nearDupPairs(df, …, lit(1), thr)`, which hash-partitions on the
    * constant bucket and runs the whole quadratic pair space in ONE task
    * (measured: the two ~2.3 s single-task jobs that dominated
    * `ann_recall`). Broadcasting the right side keeps the left side in
    * its natural partitions, so the identical pair rows are generated on
    * every core (guide §3.1: broadcast the side that fits). Gate-only by
    * contract, like the lit(1) bucket it replaces: the broadcast is the
    * gate corpus itself, never a 100 TB side.
    */
  def nearDupPairsExact(df: DataFrame, idCol: String, embCol: String,
                        threshold: Double): DataFrame = {
    val pre = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("id"), veci(col(embCol)).as("v"))
      .withColumn("n2", dotInt(col("v"), col("v")))
    val l = pre.alias("l")
    val r = broadcast(pre.alias("r"))
    l.join(r, col("l.id") < col("r.id"))
      .withColumn("dot", dotInt(col("l.v"), col("r.v")))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        round(cosineFromParts(col("dot"), col("l.n2"), col("r.n2")), 9)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  private def nearDupFromPre(pre0: DataFrame, threshold: Double): DataFrame = {
    val pre = pre0.repartition(col("bucket")) // ReusedExchange on the self-join
    val l = pre.alias("l")
    val r = pre.alias("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .withColumn("dot", dotInt(col("l.v"), col("r.v")))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        round(cosineFromParts(col("dot"), col("l.n2"), col("r.n2")), 9).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup for
    * pretraining corpora — cluster the embedding space, form
    * near-duplicate pairs ONLY within a cluster, and keep ONE member per
    * duplicate group: the member FARTHEST from its cluster centroid
    * (lowest centroid-cosine — the paper's keep rule, which preserves the
    * cluster's outer shell), ties to the lower id.
    *
    * The Spark shape, stage by stage: centroid assignment is a
    * map-only projection of two native kernels over one quantized vector
    * ([[ivfCellLit]] for the cell, [[graft.functions.IvfBestCos]] for its
    * cosine; the deterministic first-N quantizer of the [[ivfKnn]]
    * family); the pair space is bounded by cells, never all-pairs
    * ([[nearDupPairs]] with the cell as the bucket); duplicate groups are
    * [[Dedup.connectedComponents]] over pairs that leave the within-cell
    * join partitioned by cell, so no node straddles partitions and CC is
    * one partition-local contraction with no label-propagation round; the
    * keep rule is one `min_by` partial aggregation; the final keep-set is
    * an anti-join shipping only the slim drop-list — the corpus is
    * scanned once. Every stage is map-only or shuffles reduced data:
    * the composition survives 100 TB exactly like `dedup_cluster_keepset`.
    *
    * Returns the SURVIVING rows as (idCol, cell, c2c) where `c2c` is the
    * (rounded, guarded) cosine to the assigned centroid.
    */
  /** @param coarse explicit cluster centroids (e.g. collected from
    *        [[kmeansCodebook]] — the paper runs ~100k k-means clusters at
    *        corpus scale, where the within-cell quadratic pair space makes
    *        balanced cells the whole ballgame) — defaults to the
    *        deterministic first-nCells quantizer.
    */
  def semDedupKeepset(df: DataFrame, idCol: String, embCol: String,
                      nCells: Int = 16, tau: Double = 0.35,
                      coarse: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = coarse.getOrElse(
      df.orderBy(col(idCol)).limit(nCells)
        .select(veci(col(embCol)).as("cv")).collect()
        .map(_.getSeq[Long](0).toArray))
    val v = veci(col(embCol))
    val pre = df.select(col(idCol).as("id"), ivfCellLit(v, cents).as("cell"),
      graft.functions.IvfBestCos(v, cents).as("c2c"))
    val pairs = nearDupPairs(df, idCol, embCol,
      ivfCellLit(veci(col(embCol)), cents), tau)
    val labeled = Dedup.connectedComponents(pairs).join(pre, Seq("id"))
    val keep = labeled.groupBy(col("comp"))
      .agg(min_by(col("id"), struct(col("c2c"), col("id"))).as("keep_id"))
    val drop = labeled.join(keep, Seq("comp"))
      .filter(col("id") =!= col("keep_id"))
      .select(col("id"))
    pre.join(drop, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"), col("c2c"))
  }

  /** DuckDB oracle for [[semDedupKeepset]] (adjacent so they cannot
    * drift): same first-nCells centroids, guarded-cosine argmax cells,
    * within-cell pair threshold, recursive-CTE connected components, and
    * the farthest-from-centroid keep rule via `rn = 1` over
    * `(c2c, id)` — the total order `min_by(struct(c2c, id))` uses.
    */
  def sqlSemDedup(nCells: Int, tau: Double, coarseIters: Int = 0): String = {
    val guarded = sqlCosineGuardedParts(
      sqlDotInt("vn.v", "cc.cv"), "vn.n2", "cc.cn")
    // coarseIters > 0 swaps the first-N quantizer for the unrolled Lloyd
    // chain — the trained-cluster setting the SemDeDup paper uses
    val ccCtes =
      if (coarseIters <= 0)
        s"""cc AS (
           |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cid,
           |         v AS cv, ${sqlDotInt("v", "v")} AS cn
           |  FROM (SELECT id, v FROM v0 ORDER BY id LIMIT $nCells)),""".stripMargin
      else
        s"""${sqlCoarseLloydCtes(nCells, coarseIters, "v0", "id")},
           |cc AS (SELECT centroid_id AS cid, cv,
           |       ${sqlDotInt("cv", "cv")} AS cn FROM kb$coarseIters),""".stripMargin
    s"""WITH RECURSIVE v0 AS (
       |  SELECT vec_id AS id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |vn AS (SELECT id, v, ${sqlDotInt("v", "v")} AS n2 FROM v0),
       |$ccCtes
       |asg AS (
       |  SELECT id, cell, c2c FROM (
       |    SELECT vn.id, cc.cid AS cell, round($guarded, 9) AS c2c,
       |           row_number() OVER (PARTITION BY vn.id
       |             ORDER BY round($guarded, 9) DESC, cc.cid) AS rn
       |    FROM vn CROSS JOIN cc) WHERE rn = 1),
       |pre AS (SELECT a.id, a.cell, w.v, w.n2
       |        FROM asg a JOIN vn w ON w.id = a.id),
       |pairs AS (
       |  SELECT l.id AS id1, r.id AS id2
       |  FROM pre l JOIN pre r ON l.cell = r.cell AND l.id < r.id
       |  WHERE round(${sqlCosineParts(
                sqlDotInt("l.v", "r.v"), "l.n2", "r.n2")}, 9) >= $tau),
       |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
       |          UNION ALL SELECT id2, id1 FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT rr.id, e.b FROM reach rr JOIN edges e ON e.a = rr.r),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |keep AS (
       |  SELECT comp, id AS keep_id FROM (
       |    SELECT c.comp, c.id, row_number() OVER (PARTITION BY c.comp
       |             ORDER BY a.c2c, a.id) AS rn
       |    FROM comp c JOIN asg a ON a.id = c.id) WHERE rn = 1),
       |dropped AS (
       |  SELECT c.id FROM comp c JOIN keep k ON k.comp = c.comp
       |  WHERE c.id <> k.keep_id)
       |SELECT a.id AS vec_id, a.cell, a.c2c FROM asg a
       |WHERE a.id NOT IN (SELECT id FROM dropped)
       |ORDER BY vec_id""".stripMargin
  }

  // ── product quantization (PQ codes + ADC search) ───────────────────

  val PQ_M = 16 // subspaces
  val PQ_K = 64 // codebook entries per subspace

  /** Literal-LUT ANN variants ([[pqAdcKnn]], [[ivfPqKnn]]) collect the
    * query set and embed O(|queries| × m × k) literals in the plan; past
    * this cap that is a driver/planning hazard, not a query plan — callers
    * with big query sets belong on [[pqAdcKnnRelational]].
    */
  val MAX_LITERAL_QUERIES = 1024

  /** Integer squared-L2 from precomputed square norms and the pair dot:
    * ‖a−b‖² = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩ — exact int64 (components ≤ 2·10⁶
    * after scaling, so per-subspace sums stay far below 2^53: the same
    * double-exactness window the cosine oracle relies on).
    */
  def l2FromParts(n1: Column, dot: Column, n2: Column): Column =
    n1 - lit(2L) * dot + n2

  /** Per-subspace slices of an integer vector: (m, subvector) rows. */
  private def subVectors(v: Column, m: Int, subDim: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      mm => slice(v, mm * subDim + 1, lit(subDim)))

  /** PQ codebook: the deterministic first-`k`-by-id quantizer (same
    * precedent as [[ivfKnn]]; a per-subspace k-means would slot in
    * identically), split into `m` subspaces. Returns
    * `(c, m, cv, cn)` — entry id, subspace, centroid subvector, norm.
    */
  def pqCodebook(vectors: DataFrame, idCol: String, embCol: String,
                 m: Int = PQ_M, k: Int = PQ_K, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / m
    require(m * subDim == dim, s"dim $dim not divisible into $m subspaces")
    val base = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("_cid"), veci(col(embCol)).as("v"))
    // k rows total: the window is trivially small (codebook build only)
    val withC = base.withColumn("c",
      (row_number().over(Window.orderBy(col("_cid"))) - 1).cast("long"))
    withC
      .select(col("c"), posexplode(subVectors(col("v"), m, subDim)))
      .toDF("c", "m", "cv")
      .withColumn("cn", dotInt(col("cv"), col("cv")))
  }

  /** PQ encoding: each vector compresses to `m` one-byte-ish codes — the
    * argmin-L2 codebook entry per subspace (ties → lower entry id). The
    * codebook is broadcast; argmin is a partial-aggregable `min_by`, so
    * encoding is one scan + one narrow aggregation. At 100 TB this is the
    * point of PQ: m 6-bit codes (~12 B/vector at m=16, k=64) replace
    * 256 B of raw floats, so the search structure fits in executor
    * memory at a ~20× reduction (recall@10 ≈ 0.56 vs exact on the test
    * corpus; m/k trade recall against memory).
    */
  def pqEncode(vectors: DataFrame, codebook: DataFrame, idCol: String,
               viCol: String, m: Int = PQ_M, dim: Int = 64): DataFrame = {
    val subDim = dim / m
    val sub = vectors
      .select(col(idCol), posexplode(subVectors(col(viCol), m, subDim)))
      .toDF(idCol, "m", "sv")
    sub.join(broadcast(codebook), "m")
      .withColumn("d", l2FromParts(
        dotInt(col("sv"), col("sv")), dotInt(col("sv"), col("cv")), col("cn")))
      .groupBy(col(idCol), col("m"))
      .agg(min_by(col("c"), struct(col("d"), col("c"))).as("code"))
  }

  /** Codebook collected to plan-time literals: `(m)(c) = (subvector,
    * norm)`. k × m subvectors — a few KiB, the [[kmeansCodebook]]
    * collect precedent.
    */
  def collectCodebook(corpus: DataFrame, idCol: String, embCol: String,
                      m: Int = PQ_M, k: Int = PQ_K,
                      dim: Int = 64): Array[Array[(Array[Long], Long)]] = {
    // one k-row collect; sub-slicing and norms are plain long arithmetic
    // on the driver — value-identical to the relational pqCodebook
    // (PqSpec cross-checks the paths end-to-end)
    val subDim = dim / m
    val vecs = corpus.orderBy(col(idCol)).limit(k)
      .select(veci(col(embCol)).as("v")).collect()
      .map(_.getSeq[Long](0).toArray)
    (0 until m).map { mm =>
      vecs.map { v =>
        val cv = v.slice(mm * subDim, (mm + 1) * subDim)
        (cv, cv.map(x => x * x).sum)
      }
    }.toArray
  }

  /** PQ codes as ONE zero-shuffle projection — the native
    * [[graft.functions.PqEncode]] kernel (codebook rides along as a
    * flattened plan constant). Encoding a 100 TB corpus is a map-only
    * scan; no exchange exists at all. [[pqCodesComposed]] keeps the
    * built-in composition it is value-identical to (PqSpec cross-checks).
    */
  def pqCodesLit(v: Column, cb: Array[Array[(Array[Long], Long)]],
                 subDim: Int): Column =
    graft.functions.PqEncode(v, cb, subDim)

  /** Built-in-only formulation of [[pqCodesLit]]: per codebook entry the
    * argmin metric is `‖cb_c‖² − 2⟨v_mm, cb_c⟩` over a literal entry
    * array, and `array_position(dists, array_min)` picks the first
    * minimum — ties to the lower entry id, matching [[pqEncode]]. Kept
    * for the kernel equivalence spec; measured 4.8× slower to execute
    * (per-entry sliced copies) and ~10⁴ plan nodes at m=16, k=64
    * (≈ 0.4 s planning per query).
    */
  def pqCodesComposed(v: Column, cb: Array[Array[(Array[Long], Long)]],
                      subDim: Int): Column =
    array(cb.indices.map { mm =>
      val sub = slice(v, mm * subDim + 1, subDim)
      val dists = array(cb(mm).map { case (cv, cn) =>
        lit(cn) - lit(2L) * dotInt(sub, typedLit(cv.toSeq))
      }: _*)
      array_position(dists, array_min(dists)) - 1
    }: _*)

  /** ADC (asymmetric distance computation) top-k: queries stay exact, the
    * corpus is its PQ codes. The query-side m × k distance lookup tables
    * are computed on the driver (exact long arithmetic over the collected
    * codebook and query vectors — both tiny by contract, the broadcast
    * side of every ANN variant here) and embedded as literals. Per corpus
    * row the plan computes codes ([[pqCodesLit]], map-only) and each
    * query's distance as m literal-LUT lookups, then takes top-k.
    *
    * At 100 TB the executed plan is ONE scan + projection + a rank-limit
    * window: Spark's WindowGroupLimit keeps ≤ topK rows per query per
    * partition BEFORE the only exchange, so the shuffle carries
    * O(topK × queries × partitions) rows — never the corpus. Raw vectors
    * are read once (encode); search itself would touch only the stored
    * codes table. Compose with [[ivfAssign]] cells to probe a fraction of
    * the codes at full scale.
    */
  def pqAdcKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
               embCol: String, topK: Int, m: Int = PQ_M, k: Int = PQ_K,
               dim: Int = 64): DataFrame =
    pqAdcKnnWith(corpus, queries, idCol, embCol, topK,
      collectCodebook(corpus, idCol, embCol, m, k, dim), m, dim)

  /** [[pqAdcKnn]] against a caller-supplied codebook (first-k or
    * [[pqTrainedCodebook]] — the ADC plan is identical either way).
    */
  def pqAdcKnnWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, topK: Int,
                   cb: Array[Array[(Array[Long], Long)]],
                   m: Int = PQ_M, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / m
    val qrows = queries
      .select(col(idCol), veci(col(embCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(qrows.length <= MAX_LITERAL_QUERIES,
      s"pqAdcKnn embeds per-query literal LUTs in the plan: got " +
        s"${qrows.length} queries (cap $MAX_LITERAL_QUERIES); use " +
        "pqAdcKnnRelational for distributed query sets")
    // lut(q)(mm)(c) = ‖q_mm − cb(mm)(c)‖²: exact driver-side long math
    val luts = qrows.map { case (qid, qv) => qid -> adcLut(cb, qv, subDim) }
    val codes = corpus
      .select(col(idCol).as("nn_id"), veci(col(embCol)).as("v"))
      .select(col("nn_id"), pqCodesLit(col("v"), cb, subDim).as("codes"))
    if (qrows.isEmpty) // explode(array()) of zero structs cannot resolve
      return codes.select(lit(0L).as("query_id"), col("nn_id"),
        lit(0L).as("adist"), lit(0).as("rank")).limit(0)
    val perQuery = luts.map { case (qid, lut) =>
      val adist = graft.functions.AdcDist(col("codes"),
        typedLit(lut.flatten.toSeq))
      struct(lit(qid).as("query_id"), adist.as("adist"))
    }
    val scored = codes
      .select(col("nn_id"), explode(array(perQuery: _*)).as("q"))
      .select(col("q.query_id"), col("nn_id"), col("q.adist"))
      .filter(col("query_id") =!= col("nn_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Per-query ADC lookup table over the collected codebook: exact
    * driver-side long arithmetic, `lut(mm)(c) = ‖q_mm − cb(mm)(c)‖²`.
    */
  private def adcLut(cb: Array[Array[(Array[Long], Long)]], qv: Array[Long],
                     subDim: Int): Array[Array[Long]] =
    cb.zipWithIndex.map { case (entries, mm) =>
      val qsub = qv.slice(mm * subDim, (mm + 1) * subDim)
      val qn = qsub.map(x => x * x).sum
      entries.map { case (cv, cn) =>
        qn - 2L * qsub.zip(cv).map { case (a, b) => a * b }.sum + cn
      }
    }

  /** Nearest-centroid cell id as a literal projection (argmax guarded
    * cosine over the plan-constant centroid set; first index achieving the
    * max = lowest cell id, matching [[ivfAssign]]'s tie-break). Map-only:
    * assigning a 100 TB corpus to cells is one scan, no exchange. The
    * native kernel ([[graft.functions.IvfCell]]) keeps the projection in
    * whole-stage codegen at any nCells — the composed formulation below
    * blows Janino's 64 KB method limit past ~100 centroids.
    */
  def ivfCellLit(v: Column, cents: Array[Array[Long]]): Column =
    graft.functions.IvfCell(v, cents)

  /** Built-in-only formulation of [[ivfCellLit]], kept for the kernel
    * equivalence spec (IvfCellSpec) — the [[pqCodesComposed]] rule.
    */
  def ivfCellComposed(v: Column, cents: Array[Array[Long]]): Column = {
    val coss = ivfCellCoss(v, cents)
    (array_position(coss, array_max(coss)) - 1).cast("long")
  }

  /** The guarded-cosine-per-centroid array behind [[ivfCellLit]] (rounded
    * to 9 places, index i = cell i). Exposed so multi-probe callers can
    * rank cells with the EXACT arithmetic the single-cell assignment uses
    * — a driver-side re-computation in Scala doubles could drift.
    */
  def ivfCellCoss(v: Column, cents: Array[Array[Long]]): Column = {
    val vn = dotInt(v, v)
    array(cents.map { cv =>
      val cn = cv.map(x => x * x).sum
      round(cosineGuardedParts(dotInt(v, typedLit(cv.toSeq)), vn, lit(cn)), 9)
    }: _*)
  }

  /** IVF + PQ composed (the FAISS IVFADC architecture — the standard
    * billion-scale ANN shape): a coarse quantizer assigns every vector to
    * one of `nCells` inverted-file cells; within a cell, vectors are
    * searched by ADC over their PQ codes. Both quantizers are the
    * deterministic first-N-by-id kind ([[ivfKnn]] / [[pqCodebook]]
    * precedent) and BOTH are applied as plan-time literal projections, so
    * building the whole index — cell id + m codes per vector — is one
    * map-only scan. Each query probes only its own cell (nProbe = 1
    * semantics, as [[ivfKnn]]); scoring multiplies per-row work only for
    * queries whose cell matches.
    *
    * At warehouse scale the (cell, codes) table is what you persist,
    * partitioned by cell: a probe then reads ~1/nCells of an already
    * ~20×-compressed representation via partition pruning, and the
    * executed plan here stays scan → projection → rank-limit window with
    * a single O(topK × queries × partitions) exchange.
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
               embCol: String, topK: Int, nCells: Int = 16, m: Int = PQ_M,
               k: Int = PQ_K, dim: Int = 64): DataFrame =
    ivfPqKnnWith(corpus, queries, idCol, embCol, topK,
      collectCodebook(corpus, idCol, embCol, m, k, dim), nCells, m, dim)

  /** [[ivfPqKnn]] with an explicit PQ codebook (e.g. [[pqTrainedCodebook]])
    * — the in-memory twin of a [[buildIndex]] + [[ivfPqProbePersisted]]
    * round trip over the same quantizers (PersistedIndexSpec asserts the
    * equivalence).
    */
  def ivfPqKnnWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, topK: Int,
                   cb: Array[Array[(Array[Long], Long)]], nCells: Int = 16,
                   m: Int = PQ_M, dim: Int = 64,
                   coarse: Option[Array[Array[Long]]] = None,
                   nProbe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / m
    val cents = coarse.getOrElse(
      corpus.orderBy(col(idCol)).limit(nCells)
        .select(veci(col(embCol)).as("cv")).collect()
        .map(_.getSeq[Long](0).toArray))
    val codes = corpus
      .select(col(idCol).as("nn_id"), veci(col(embCol)).as("v"))
      .select(col("nn_id"), ivfCellLit(col("v"), cents).as("cell"),
        pqCodesLit(col("v"), cb, subDim).as("codes"))
    // query cells ranked via the SAME kernel arithmetic the corpus
    // assignment uses (ivfCellCoss — identical rounding path); top-nProbe
    // cells each get the one LUT the raw encoding needs
    val qcells = queries
      .select(col(idCol).as("query_id"), veci(col(embCol)).as("v"))
      .select(col("query_id"), col("v"), ivfCellCoss(col("v"), cents).as("coss"))
      .collect()
      .map { r =>
        val coss = r.getSeq[Double](2).toArray
        val probed = coss.zipWithIndex
          .sortBy { case (c, i) => (-c, i) }.take(nProbe).map(_._2)
        (r.getLong(0), probed, r.getSeq[Long](1).toArray)
      }
      .sortBy(_._1)
    // the LUT literal is embedded once per (query, probe) struct in the
    // expression tree, so the plan-size guard must bound the PRODUCT —
    // 1024 queries × nProbe 16 would sail past a queries-only cap into
    // exactly the codegen blowup it exists to prevent
    require(qcells.length * nProbe <= MAX_LITERAL_QUERIES,
      s"ivfPqKnnWith embeds per-(query,probe) literal LUTs in the plan: " +
        s"got ${qcells.length} queries × nProbe $nProbe " +
        s"(cap $MAX_LITERAL_QUERIES); use " +
        "pqAdcKnnRelational for distributed query sets")
    if (qcells.isEmpty)
      return codes.select(lit(0L).as("query_id"), col("nn_id"),
        lit(0L).as("adist"), lit(0).as("rank")).limit(0)
    val perQuery = qcells.flatMap { case (qid, probed, qv) =>
      val adist = graft.functions.AdcDist(col("codes"),
        typedLit(adcLut(cb, qv, subDim).flatten.toSeq))
      probed.map { cellId =>
        struct(lit(qid).as("query_id"), lit(cellId.toLong).as("qcell"),
          adist.as("adist"))
      }
    }
    val scored = codes
      .select(col("nn_id"), col("cell"), explode(array(perQuery: _*)).as("q"))
      .filter(col("q.qcell") === col("cell") &&
        col("q.query_id") =!= col("nn_id"))
      .select(col("q.query_id").as("query_id"), col("nn_id"),
        col("q.adist").as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Residual vector wrt the assigned cell's centroid, as one zero-shuffle
    * projection over a plan-constant centroid table: `v − cents[cell]`
    * elementwise. The subtraction is exact long arithmetic on the [[veci]]
    * grid, so Spark and the SQL oracle cannot drift.
    */
  def residualLit(v: Column, cell: Column,
                  cents: Array[Array[Long]]): Column =
    zip_with(v,
      element_at(typedLit(cents.map(_.toSeq).toSeq), (cell + 1).cast("int")),
      (a, b) => a - b)

  /** IVF+PQ with RESIDUAL encoding — the full FAISS IVFADC
    * (`by_residual=true`, its default; IndexIVFPQ encodes `x − q1(x)`
    * rather than `x`): each vector's PQ codes quantize its offset from its
    * cell's centroid, and the per-subspace codebook is Lloyd-trained on
    * those residuals. Residuals are centered near zero with far smaller
    * spread than raw vectors, so the same m×k codebook budget spends its
    * resolution on the part of the vector the coarse quantizer didn't
    * already explain — measurably higher recall at identical index bytes
    * (the `ann_recall` floors pin the edge over the raw-encoding
    * [[ivfPqKnnWith]]).
    *
    * Query side (asymmetric, per FAISS): for each probed cell the query's
    * LUT is built from `q − cents[cell]` — candidate codes in that cell
    * are residuals wrt the SAME centroid, so `‖q_res − recon‖₂²`
    * approximates `‖q − x‖₂²` with the shared centroid term cancelled.
    * Cost shape is identical to [[ivfPqKnnWith]]: encode is one map-only
    * scan (cell + residual + codes are all literal projections), scoring
    * explodes nProbe structs per query and keeps the rank-limit window as
    * the only exchange. At 100 TB nothing changes vs the raw path — the
    * persisted layout would carry the same (cell, codes) rows, just
    * encoded relative to their cell.
    */
  def ivfPqKnnResidual(corpus: DataFrame, queries: DataFrame, idCol: String,
                       embCol: String, topK: Int, nCells: Int = 16,
                       m: Int = PQ_M, k: Int = PQ_K, dim: Int = 64,
                       iters: Int = 2, nProbe: Int = 1,
                       coarse: Option[Array[Array[Long]]] = None,
                       codebook: Option[Array[Array[(Array[Long], Long)]]] =
                         None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / m
    val cents = coarse.getOrElse(
      corpus.orderBy(col(idCol)).limit(nCells)
        .select(veci(col(embCol)).as("cv")).collect()
        .map(_.getSeq[Long](0).toArray))
    // (id, v, cell, rv): assignment + residual as literal projections
    val pre = corpus
      .select(col(idCol).as("_vid"), veci(col(embCol)).as("v"))
      .withColumn("cell", ivfCellLit(col("v"), cents))
      .withColumn("rv", residualLit(col("v"), col("cell"), cents))
    // per-subspace Lloyd codebook over the RESIDUALS (init = first-k
    // residuals by id — the collectCodebook rule on the residual frame).
    // Callers training at corpus scale pass a sample-trained codebook
    // (see residualCodebook) — training cost must not scale with the
    // corpus, the AnnStress rule
    val cb = codebook.getOrElse(
      pqTrainedCodebookPre(pre.select(col("_vid"), col("rv").as("v")),
        m, k, dim, iters))
    val codes = pre.select(col("_vid").as("nn_id"), col("cell"),
      pqCodesLit(col("rv"), cb, subDim).as("codes"))
    // query cells ranked by the EXACT kernel arithmetic (ivfCellCoss), so
    // the probed-cell choice cannot drift from the corpus assignment
    val qrows = queries
      .select(col(idCol).as("query_id"), veci(col(embCol)).as("v"))
      .select(col("query_id"), col("v"), ivfCellCoss(col("v"), cents).as("coss"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray,
        r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    require(qrows.length * nProbe <= MAX_LITERAL_QUERIES,
      s"ivfPqKnnResidual embeds per-(query,probe) literal LUTs in the " +
        s"plan: got ${qrows.length} queries × nProbe $nProbe " +
        s"(cap $MAX_LITERAL_QUERIES); " +
        "use the persisted relational path for distributed query sets")
    if (qrows.isEmpty)
      return codes.select(lit(0L).as("query_id"), col("nn_id"),
        lit(0L).as("adist"), lit(0).as("rank")).limit(0)
    val perProbe = qrows.flatMap { case (qid, qv, coss) =>
      val probed = coss.zipWithIndex
        .sortBy { case (c, i) => (-c, i) }.take(nProbe).map(_._2)
      probed.map { cellId =>
        val qres = qv.zip(cents(cellId)).map { case (a, b) => a - b }
        val adist = graft.functions.AdcDist(col("codes"),
          typedLit(adcLut(cb, qres, subDim).flatten.toSeq))
        struct(lit(qid).as("query_id"), lit(cellId.toLong).as("qcell"),
          adist.as("adist"))
      }
    }
    val scored = codes
      .select(col("nn_id"), col("cell"), explode(array(perProbe: _*)).as("q"))
      .filter(col("q.qcell") === col("cell") &&
        col("q.query_id") =!= col("nn_id"))
      .select(col("q.query_id").as("query_id"), col("nn_id"),
        col("q.adist").as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Residual-trained PQ codebook over a (typically sampled) frame: assign
    * cells, subtract centroids, Lloyd-train on what remains — the
    * artifact [[ivfPqKnnResidual]] takes via `codebook` when training at
    * corpus scale (train on a hash-sample; cost must not scale with the
    * corpus).
    */
  def residualCodebook(sample: DataFrame, idCol: String, embCol: String,
                       cents: Array[Array[Long]], m: Int = PQ_M,
                       k: Int = PQ_K, dim: Int = 64, iters: Int = 2)
      : Array[Array[(Array[Long], Long)]] = {
    val pre = sample
      .select(col(idCol).as("_vid"), veci(col(embCol)).as("v"))
      .withColumn("cell", ivfCellLit(col("v"), cents))
      .select(col("_vid"),
        residualLit(col("v"), col("cell"), cents).as("v"))
    pqTrainedCodebookPre(pre, m, k, dim, iters)
  }

  /** DuckDB oracle equal to [[ivfPqKnn]] (adjacent so they cannot drift). */
  def sqlIvfPq(topK: Int, queryPred: String, nCells: Int = 16, m: Int = PQ_M,
               k: Int = PQ_K, dim: Int = 64): String = {
    val s = dim / m
    def l2(a: String, b: String, bn: String) =
      s"(${sqlDotInt(a, a)} - 2 * ${sqlDotInt(a, b)} + $bn)"
    val cellCos = sqlCosineGuardedParts(sqlDotInt("vn.v", "cc.cv"),
      "vn.n2", "cc.cn")
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |vn AS (SELECT vec_id, v, ${sqlDotInt("v", "v")} AS n2 FROM v0),
       |cc AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |           AS cid, v AS cv, ${sqlDotInt("v", "v")} AS cn
       |  FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT $nCells)),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vn.vec_id, cc.cid AS cell,
       |           row_number() OVER (PARTITION BY vn.vec_id
       |             ORDER BY round($cellCos, 9) DESC, cc.cid) AS rn
       |    FROM vn CROSS JOIN cc) WHERE rn = 1),
       |ms AS (SELECT unnest(range($m)) AS m),
       |cb0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c, v
       |  FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT $k)),
       |cbn AS (
       |  SELECT c, m, cv, ${sqlDotInt("cv", "cv")} AS cn FROM (
       |    SELECT c, m, v[m*$s+1 : m*$s+$s] AS cv FROM cb0, ms)),
       |sub AS (
       |  SELECT vec_id, m, v[m*$s+1 : m*$s+$s] AS sv FROM v0, ms),
       |enc AS (
       |  SELECT vec_id AS nn_id, m, c AS code FROM (
       |    SELECT sub.vec_id, sub.m, cbn.c,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |             ORDER BY ${l2("sv", "cv", "cn")}, cbn.c) AS rn
       |    FROM sub JOIN cbn ON sub.m = cbn.m)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT sub.vec_id AS query_id, sub.m, cbn.c AS code,
       |         ${l2("sv", "cv", "cn")} AS d
       |  FROM sub JOIN cbn ON sub.m = cbn.m
       |  WHERE sub.vec_id IN (SELECT vec_id FROM v0 WHERE $queryPred)),
       |scored AS (
       |  SELECT query_id, nn_id, CAST(sum(d) AS BIGINT) AS adist
       |  FROM enc JOIN lut USING (m, code)
       |  JOIN cells ce ON ce.vec_id = nn_id
       |  JOIN cells cq ON cq.vec_id = query_id AND cq.cell = ce.cell
       |  WHERE nn_id <> query_id
       |  GROUP BY query_id, nn_id)
       |SELECT query_id, nn_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adist, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** Relational formulation of [[pqAdcKnn]] — broadcast codebook join,
    * `min_by` argmin encode, LUT equi-join, (query, nn) partial-agg sum.
    * Value-identical (PqSpec cross-checks); kept as the shape that works
    * when the codebook/queries must stay distributed, and as the
    * measured-alternative record: its scoring exchange carries a
    * (queries × corpus)-row aggregation that the literal-LUT plan avoids.
    */
  def pqAdcKnnRelational(corpus: DataFrame, queries: DataFrame, idCol: String,
                         embCol: String, topK: Int, m: Int = PQ_M,
                         k: Int = PQ_K, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / m
    val vecs = corpus.select(col(idCol), veci(col(embCol)).as("v"))
    val cb = pqCodebook(corpus, idCol, embCol, m, k, dim)
    val codes = pqEncode(vecs, cb, idCol, "v", m, dim)
      .withColumnRenamed(idCol, "nn_id")
    val qsub = queries
      .select(col(idCol).as("query_id"), veci(col(embCol)).as("qv"))
      .select(col("query_id"), posexplode(subVectors(col("qv"), m, subDim)))
      .toDF("query_id", "m", "sv")
    val lut = qsub.join(broadcast(cb), "m")
      .select(col("query_id"), col("m"), col("c").as("code"),
        l2FromParts(dotInt(col("sv"), col("sv")),
          dotInt(col("sv"), col("cv")), col("cn")).as("d"))
    val scored = codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col("nn_id"))
      .groupBy("query_id", "nn_id")
      .agg(sum(col("d")).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** DuckDB oracle equal to [[pqAdcKnn]] (adjacent so they cannot drift).
    * `sum(d)` is cast back to BIGINT (DuckDB sums BIGINT into HUGEINT).
    */
  def sqlPqAdc(topK: Int, queryPred: String, m: Int = PQ_M, k: Int = PQ_K,
               dim: Int = 64): String = {
    val s = dim / m
    def l2(a: String, b: String, bn: String) =
      s"(${sqlDotInt(a, a)} - 2 * ${sqlDotInt(a, b)} + $bn)"
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |ms AS (SELECT unnest(range($m)) AS m),
       |cb0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c, v
       |  FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT $k)),
       |cb AS (
       |  SELECT c, m, v[m*$s+1 : m*$s+$s] AS cv FROM cb0, ms),
       |cbn AS (SELECT c, m, cv, ${sqlDotInt("cv", "cv")} AS cn FROM cb),
       |sub AS (
       |  SELECT vec_id, m, v[m*$s+1 : m*$s+$s] AS sv FROM v0, ms),
       |enc AS (
       |  SELECT vec_id AS nn_id, m, c AS code FROM (
       |    SELECT sub.vec_id, sub.m, cbn.c,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |             ORDER BY ${l2("sv", "cv", "cn")}, cbn.c) AS rn
       |    FROM sub JOIN cbn ON sub.m = cbn.m)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT sub.vec_id AS query_id, sub.m, cbn.c AS code,
       |         ${l2("sv", "cv", "cn")} AS d
       |  FROM sub JOIN cbn ON sub.m = cbn.m
       |  WHERE sub.vec_id IN (SELECT vec_id FROM v0 WHERE $queryPred)),
       |scored AS (
       |  SELECT query_id, nn_id, CAST(sum(d) AS BIGINT) AS adist
       |  FROM enc JOIN lut USING (m, code)
       |  WHERE nn_id <> query_id
       |  GROUP BY query_id, nn_id)
       |SELECT query_id, nn_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adist, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  // ── trained PQ codebook (per-subspace Lloyd) ───────────────────────

  /** Per-subspace deterministic Lloyd codebook: init = the first-k-by-id
    * subvectors ([[pqCodebook]]'s quantizer), then `iters` rounds of
    * assign (broadcast codebook, exact integer L2, ties → lower entry id)
    * + recompute (per-entry elementwise floor-mean on the integer grid;
    * empty entries keep their centroid). Same determinism contract as
    * [[kmeansCodebook]], so a fixed iteration count unrolls into the
    * [[sqlPqAdcTrained]] oracle.
    *
    * Scale: each round is one broadcast join + one `min_by` partial
    * aggregation over the (id, m, subvector) explosion and an m×k×subDim
    * mean collect (a few thousand longs) — corpus scanned once per round,
    * bounded plan depth.
    */
  def pqTrainedCodebook(corpus: DataFrame, idCol: String, embCol: String,
                        m: Int = PQ_M, k: Int = PQ_K, dim: Int = 64,
                        iters: Int = 2): Array[Array[(Array[Long], Long)]] =
    pqTrainedCodebookPre(
      corpus.select(col(idCol).as("_vid"), veci(col(embCol)).as("v")),
      m, k, dim, iters)

  /** [[pqTrainedCodebook]] over an ALREADY-integerized `(_vid, v)` frame —
    * the entry point for training on derived vectors (e.g. the coarse
    * residuals [[ivfPqKnnResidual]] quantizes). Init = first-k vectors by
    * `_vid` sub-sliced (the [[collectCodebook]] rule applied to the given
    * frame); the Lloyd rounds are identical.
    */
  def pqTrainedCodebookPre(pre: DataFrame, m: Int = PQ_M, k: Int = PQ_K,
                           dim: Int = 64, iters: Int = 2)
      : Array[Array[(Array[Long], Long)]] = {
    val spark = pre.sparkSession
    val subDim = dim / m
    var cb: Array[Array[Array[Long]]] = {
      val vecs = pre.orderBy(col("_vid")).limit(k)
        .select(col("v")).collect().map(_.getSeq[Long](0).toArray)
      (0 until m).map { mm =>
        vecs.map(_.slice(mm * subDim, (mm + 1) * subDim))
      }.toArray
    }
    val sub = pre
      .select(col("_vid"), posexplode(subVectors(col("v"), m, subDim)))
      .toDF("_vid", "m", "sv")
    for (_ <- 0 until iters) {
      val rows = for { mm <- cb.indices; c <- cb(mm).indices } yield
        org.apache.spark.sql.Row(mm, c.toLong, cb(mm)(c).toSeq,
          cb(mm)(c).map(x => x * x).sum)
      val cbDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("m",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("c",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cv",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)),
          org.apache.spark.sql.types.StructField("cn",
            org.apache.spark.sql.types.LongType))))
      // argmin entry per (vector, subspace): min over (d, c) — lowest
      // distance, ties to the lower entry id, matching pqEncode
      val assigned = sub.join(broadcast(cbDf), "m")
        .withColumn("d", l2FromParts(
          dotInt(col("sv"), col("sv")), dotInt(col("sv"), col("cv")),
          col("cn")))
        .groupBy(col("_vid"), col("m"))
        .agg(min_by(struct(col("c"), col("sv")),
          struct(col("d"), col("c"))).as("best"))
        .select(col("m"), col("best.c").as("c"), col("best.sv").as("sv"))
      val means = assigned
        .select(col("m") +: col("c") +:
          (0 until subDim).map(i => element_at(col("sv"), i + 1).as(s"_d$i")): _*)
        .groupBy("m", "c")
        .agg(count(lit(1)).as("_n"),
          (0 until subDim).map(i => sum(col(s"_d$i")).as(s"_s$i")): _*)
        .collect()
      val updated = means.map { r =>
        val mm = r.getInt(0)
        val c = r.getLong(1).toInt
        val n = r.getLong(2)
        (mm, c) -> (0 until subDim).map { i =>
          val s = r.getLong(3 + i)
          // the SQL oracle recomputes this mean as CAST(sum AS DOUBLE) /
          // count, exact only while |sum| < 2^53 (components ~2e6 after
          // scaling → holds to ~4e9 rows per entry); past that the engines
          // could silently disagree, so fail loudly instead
          require(math.abs(s) < (1L << 53),
            s"pqTrainedCodebook component sum $s exceeds the 2^53 window " +
              "the SQL oracle's double mean is exact in; shard the corpus " +
              "or train on a sample")
          Math.floorDiv(s, n)
        }.toArray
      }.toMap
      cb = cb.zipWithIndex.map { case (entries, mm) =>
        entries.zipWithIndex.map { case (old, c) =>
          updated.getOrElse((mm, c), old)
        }
      }
    }
    cb.map(_.map(cv => (cv, cv.map(x => x * x).sum)))
  }

  /** DuckDB oracle for ADC over the [[pqTrainedCodebook]] (adjacent so
    * they cannot drift): the per-subspace Lloyd loop is deterministic, so
    * a fixed iteration count unrolls into one assign+mean CTE pair per
    * round — the [[sqlIvfTrained]] precedent applied per subspace. The
    * floor-mean stays exact in doubles (sums ≪ 2^53) and equals Java's
    * `Math.floorDiv`.
    */
  /** The per-subspace Lloyd rounds as a CTE chain `cb1 … cb<iters>` over
    * a `cb0(c, m, cv)` init and a `sub(vec_id, m, sv)` explosion — shared
    * verbatim by [[sqlPqAdcTrained]] and [[sqlIvfPqTrained]] so the two
    * oracles cannot drift from [[pqTrainedCodebook]].
    */
  private def sqlPqTrainCtes(iters: Int, s: Int,
                             subRel: String = "sub"): String = {
    def l2(a: String, b: String, bn: String) =
      s"(${sqlDotInt(a, a)} - 2 * ${sqlDotInt(a, b)} + $bn)"
    (1 to iters).map { it =>
      val prev = s"cb${it - 1}"
      s"""n$it AS (SELECT c, m, cv, ${sqlDotInt("cv", "cv")} AS cn FROM $prev),
         |a$it AS (
         |  SELECT vec_id, m, c, sv FROM (
         |    SELECT $subRel.vec_id, $subRel.m, n$it.c, $subRel.sv,
         |           row_number() OVER (PARTITION BY $subRel.vec_id, $subRel.m
         |             ORDER BY ${l2("sv", "cv", "cn")}, n$it.c) AS rn
         |    FROM $subRel JOIN n$it ON $subRel.m = n$it.m)
         |  WHERE rn = 1),
         |e$it AS (SELECT m, c, unnest(range($s)) AS j, unnest(sv) AS x
         |         FROM a$it),
         |m$it AS (SELECT m, c, list(mv ORDER BY j) AS cv FROM (
         |    SELECT m, c, j,
         |           CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)
         |             AS mv
         |    FROM e$it GROUP BY m, c, j)
         |  GROUP BY m, c),
         |cb$it AS (SELECT p.c, p.m, COALESCE(mi.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN m$it mi ON mi.m = p.m AND mi.c = p.c)"""
        .stripMargin
    }.mkString(",\n")
  }

  def sqlPqAdcTrained(topK: Int, queryPred: String, iters: Int = 2,
                      m: Int = PQ_M, k: Int = PQ_K, dim: Int = 64): String = {
    val s = dim / m
    def l2(a: String, b: String, bn: String) =
      s"(${sqlDotInt(a, a)} - 2 * ${sqlDotInt(a, b)} + $bn)"
    val iterCtes = sqlPqTrainCtes(iters, s)
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |ms AS (SELECT unnest(range($m)) AS m),
       |sub AS (
       |  SELECT vec_id, m, v[m*$s+1 : m*$s+$s] AS sv FROM v0, ms),
       |cb0 AS (
       |  SELECT c, m, v[m*$s+1 : m*$s+$s] AS cv FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |             AS c, v
       |    FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT $k)), ms),
       |$iterCtes,
       |cbn AS (SELECT c, m, cv, ${sqlDotInt("cv", "cv")} AS cn
       |        FROM cb$iters),
       |enc AS (
       |  SELECT vec_id AS nn_id, m, c AS code FROM (
       |    SELECT sub.vec_id, sub.m, cbn.c,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |             ORDER BY ${l2("sv", "cv", "cn")}, cbn.c) AS rn
       |    FROM sub JOIN cbn ON sub.m = cbn.m)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT sub.vec_id AS query_id, sub.m, cbn.c AS code,
       |         ${l2("sv", "cv", "cn")} AS d
       |  FROM sub JOIN cbn ON sub.m = cbn.m
       |  WHERE sub.vec_id IN (SELECT vec_id FROM v0 WHERE $queryPred)),
       |scored AS (
       |  SELECT query_id, nn_id, CAST(sum(d) AS BIGINT) AS adist
       |  FROM enc JOIN lut USING (m, code)
       |  WHERE nn_id <> query_id
       |  GROUP BY query_id, nn_id)
       |SELECT query_id, nn_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adist, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle for IVF+PQ over the TRAINED codebook — [[sqlIvfPq]]'s
    * cell structure with its first-k codebook CTEs replaced by the
    * [[sqlPqTrainCtes]] Lloyd chain. This is the value [[buildIndex]] +
    * [[ivfPqProbePersisted]] computes (adjacent so they cannot drift).
    */
  def sqlIvfPqTrained(topK: Int, queryPred: String, iters: Int = 2,
                      nCells: Int = 16, m: Int = PQ_M, k: Int = PQ_K,
                      dim: Int = 64, trainPred: String = "TRUE",
                      nProbe: Int = 1, coarseIters: Int = 0): String = {
    val s = dim / m
    def l2(a: String, b: String, bn: String) =
      s"(${sqlDotInt(a, a)} - 2 * ${sqlDotInt(a, b)} + $bn)"
    val cellCos = sqlCosineGuardedParts(sqlDotInt("vn.v", "cc.cv"),
      "vn.n2", "cc.cn")
    // train artifacts (centroids + Lloyd codebook) come from the TRAIN
    // subset only — the appendToIndex oracle trains on the initial build's
    // corpus while encoding/searching ALL vectors
    val iterCtes = sqlPqTrainCtes(iters, s, subRel = "subt")
    // coarseIters > 0: the coarse quantizer is the unrolled Lloyd chain
    // over the train subset ([[kmeansCodebook]]) instead of first-N —
    // the offline-trained path buildIndex's `coarse` parameter persists
    val ccCtes =
      if (coarseIters <= 0)
        s"""cc AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           |           AS cid, v AS cv, ${sqlDotInt("v", "v")} AS cn
           |  FROM (SELECT vec_id, v FROM vt ORDER BY vec_id LIMIT $nCells)),""".stripMargin
      else
        s"""${sqlCoarseLloydCtes(nCells, coarseIters, "vt")},
           |cc AS (SELECT centroid_id AS cid, cv,
           |       ${sqlDotInt("cv", "cv")} AS cn FROM kb$coarseIters),""".stripMargin
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |vt AS (SELECT vec_id, v FROM v0 WHERE $trainPred),
       |vn AS (SELECT vec_id, v, ${sqlDotInt("v", "v")} AS n2 FROM v0),
       |$ccCtes
       |cellr AS (
       |  SELECT vn.vec_id, cc.cid AS cell,
       |         row_number() OVER (PARTITION BY vn.vec_id
       |           ORDER BY round($cellCos, 9) DESC, cc.cid) AS rn
       |  FROM vn CROSS JOIN cc),
       |cells AS (SELECT vec_id, cell FROM cellr WHERE rn = 1),
       |cellsq AS (SELECT vec_id, cell FROM cellr WHERE rn <= $nProbe),
       |ms AS (SELECT unnest(range($m)) AS m),
       |sub AS (
       |  SELECT vec_id, m, v[m*$s+1 : m*$s+$s] AS sv FROM v0, ms),
       |subt AS (
       |  SELECT vec_id, m, v[m*$s+1 : m*$s+$s] AS sv FROM vt, ms),
       |cb0 AS (
       |  SELECT c, m, v[m*$s+1 : m*$s+$s] AS cv FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |             AS c, v
       |    FROM (SELECT vec_id, v FROM vt ORDER BY vec_id LIMIT $k)), ms),
       |$iterCtes,
       |cbn AS (SELECT c, m, cv, ${sqlDotInt("cv", "cv")} AS cn
       |        FROM cb$iters),
       |enc AS (
       |  SELECT vec_id AS nn_id, m, c AS code FROM (
       |    SELECT sub.vec_id, sub.m, cbn.c,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |             ORDER BY ${l2("sv", "cv", "cn")}, cbn.c) AS rn
       |    FROM sub JOIN cbn ON sub.m = cbn.m)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT sub.vec_id AS query_id, sub.m, cbn.c AS code,
       |         ${l2("sv", "cv", "cn")} AS d
       |  FROM sub JOIN cbn ON sub.m = cbn.m
       |  WHERE sub.vec_id IN (SELECT vec_id FROM v0 WHERE $queryPred)),
       |scored AS (
       |  SELECT query_id, nn_id, CAST(sum(d) AS BIGINT) AS adist
       |  FROM enc JOIN lut USING (m, code)
       |  JOIN cells ce ON ce.vec_id = nn_id
       |  JOIN cellsq cq ON cq.vec_id = query_id AND cq.cell = ce.cell
       |  WHERE nn_id <> query_id
       |  GROUP BY query_id, nn_id)
       |SELECT query_id, nn_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adist, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle for the RESIDUAL IVF+PQ ([[ivfPqKnnResidual]] —
    * adjacent so they cannot drift): [[sqlIvfPqTrained]]'s skeleton with
    * every vector replaced by its residual `v − cc.cv[cell]` before the
    * PQ train/encode/LUT stages. The subtraction happens on the integer
    * grid (exact in both engines); the per-probed-cell query LUT mirrors
    * the asymmetric FAISS formulation — `lut` carries a `cell` column and
    * `scored` matches it against the candidate's own cell.
    */
  def sqlIvfPqResidual(topK: Int, queryPred: String, iters: Int = 2,
                       nCells: Int = 16, m: Int = PQ_M, k: Int = PQ_K,
                       dim: Int = 64, nProbe: Int = 1,
                       coarseIters: Int = 0): String = {
    val s = dim / m
    def l2(a: String, b: String, bn: String) =
      s"(${sqlDotInt(a, a)} - 2 * ${sqlDotInt(a, b)} + $bn)"
    val cellCos = sqlCosineGuardedParts(sqlDotInt("vn.v", "cc.cv"),
      "vn.n2", "cc.cn")
    val iterCtes = sqlPqTrainCtes(iters, s, subRel = "subt")
    val ccCtes =
      if (coarseIters <= 0)
        s"""cc AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           |           AS cid, v AS cv, ${sqlDotInt("v", "v")} AS cn
           |  FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT $nCells)),""".stripMargin
      else
        s"""${sqlCoarseLloydCtes(nCells, coarseIters, "v0")},
           |cc AS (SELECT centroid_id AS cid, cv,
           |       ${sqlDotInt("cv", "cv")} AS cn FROM kb$coarseIters),""".stripMargin
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |vn AS (SELECT vec_id, v, ${sqlDotInt("v", "v")} AS n2 FROM v0),
       |$ccCtes
       |cellr AS (
       |  SELECT vn.vec_id, cc.cid AS cell,
       |         row_number() OVER (PARTITION BY vn.vec_id
       |           ORDER BY round($cellCos, 9) DESC, cc.cid) AS rn
       |  FROM vn CROSS JOIN cc),
       |cells AS (SELECT vec_id, cell FROM cellr WHERE rn = 1),
       |cellsq AS (SELECT vec_id, cell FROM cellr WHERE rn <= $nProbe),
       |resid AS (
       |  SELECT ce.vec_id,
       |         list_transform(range($dim), i -> vn.v[i+1] - cc.cv[i+1]) AS rv
       |  FROM cells ce JOIN vn ON vn.vec_id = ce.vec_id
       |  JOIN cc ON cc.cid = ce.cell),
       |ms AS (SELECT unnest(range($m)) AS m),
       |sub AS (
       |  SELECT vec_id, m, rv[m*$s+1 : m*$s+$s] AS sv
       |  FROM resid CROSS JOIN ms),
       |subt AS (SELECT vec_id, m, sv FROM sub),
       |cb0 AS (
       |  SELECT c, m, rv[m*$s+1 : m*$s+$s] AS cv FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |             AS c, rv
       |    FROM (SELECT vec_id, rv FROM resid ORDER BY vec_id LIMIT $k))
       |  CROSS JOIN ms),
       |$iterCtes,
       |cbn AS (SELECT c, m, cv, ${sqlDotInt("cv", "cv")} AS cn
       |        FROM cb$iters),
       |enc AS (
       |  SELECT vec_id AS nn_id, m, c AS code FROM (
       |    SELECT sub.vec_id, sub.m, cbn.c,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |             ORDER BY ${l2("sv", "cv", "cn")}, cbn.c) AS rn
       |    FROM sub JOIN cbn ON sub.m = cbn.m)
       |  WHERE rn = 1),
       |qres AS (
       |  SELECT cq.vec_id AS query_id, cq.cell,
       |         list_transform(range($dim), i -> vn.v[i+1] - cc.cv[i+1]) AS rv
       |  FROM cellsq cq JOIN vn ON vn.vec_id = cq.vec_id
       |  JOIN cc ON cc.cid = cq.cell
       |  WHERE cq.vec_id IN (SELECT vec_id FROM v0 WHERE $queryPred)),
       |qsub AS (SELECT query_id, cell, m, rv[m*$s+1 : m*$s+$s] AS sv
       |         FROM qres CROSS JOIN ms),
       |lut AS (
       |  SELECT query_id, cell, qsub.m, cbn.c AS code,
       |         ${l2("sv", "cv", "cn")} AS d
       |  FROM qsub JOIN cbn ON qsub.m = cbn.m),
       |scored AS (
       |  SELECT query_id, nn_id, CAST(sum(d) AS BIGINT) AS adist
       |  FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
       |  JOIN cells ce ON ce.vec_id = enc.nn_id AND ce.cell = lut.cell
       |  WHERE nn_id <> query_id
       |  GROUP BY query_id, nn_id)
       |SELECT query_id, nn_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adist, nn_id) AS rank
       |  FROM scored)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  // ── persisted ANN index (build once, probe many) ───────────────────

  /** Reserved index cells holding the train artifacts, so a probe needs
    * NO corpus access: everything the search uses lives in the warehouse.
    * Data cells are ≥ 0.
    */
  val CELL_CENTROIDS = -1L
  val CELL_CODEBOOK = -2L

  /** Index-level flags (one row, written only when non-default): `nn_id`
    * = 1 marks residual encoding ([[buildIndex]] `byResidual`). Absence =
    * raw encoding, so pre-existing indexes keep their meaning.
    */
  val CELL_FLAGS = -3L

  /** Persist the IVF+PQ index into a graft warehouse as ONE transaction:
    * every corpus vector becomes a `(cell, codes)` row, plus the coarse
    * centroids (cell −1) and PQ codebook (cell −2) as reserved-cell rows.
    * The row's `ts` IS the cell id and the warehouse is written with
    * `timeBucketNanos = 1`, so each cell lands in its own
    * `tbucket=<cell>` partition directory — the engine's analog of the
    * reference persisting its search structure to segment files
    * (`file_format.md:12-27`), except partition pruning replaces the
    * binary search.
    *
    * At 100 TB this is the point: encoding is one map-only scan (cell +
    * codes are both literal projections), the stored table is the
    * ~20×-compressed codes, and every later probe reads ~nProbe/nCells of
    * it via partition pruning ([[ivfPqProbePersisted]]) instead of
    * re-encoding the corpus per query.
    *
    * Rebuild = one delete-marker transaction wiping every prior index row
    * followed by the fresh build transaction. Plain last-writer-wins is
    * NOT enough: rows are keyed (key, ts) with ts = cell id, so a vector
    * whose cell assignment changes between builds (new corpus → new
    * centroids) would leave its old (key, oldCell) row visible alongside
    * the new one. The range delete suppresses exactly the lower txids
    * ([[graft.series.SeriesOps.applyDeletes]]), so a probe sees one build,
    * never a mix; the superseded rows are physically purged at compaction.
    * PersistedIndexSpec asserts the supersede.
    *
    * @param codebook PQ codebook to persist; defaults to the per-subspace
    *        Lloyd [[pqTrainedCodebook]] (measurably better recall than the
    *        first-k [[collectCodebook]] — the `ann_recall` floors).
    */
  /** @param coarse explicit coarse centroids (e.g. collected from
    *        [[kmeansCodebook]], the offline-trained path SCALE.md calls
    *        for at real scale) — defaults to the deterministic
    *        first-nCells quantizer. Probes are agnostic: they read
    *        whatever centroids the warehouse carries.
    */
  /** @param byResidual FAISS `by_residual`: PQ codes quantize
    *        `v − cents[cell]` instead of `v` (codebook default switches to
    *        the residual-trained [[residualCodebook]]); persisted as a
    *        [[CELL_FLAGS]] row so append and every probe path encode/score
    *        the same way. Same index bytes, lower quantization error
    *        (ResidualPqSpec).
    */
  def buildIndex(db: graft.store.Db, corpus: DataFrame, idCol: String,
                 embCol: String, nCells: Int = 16, m: Int = PQ_M,
                 k: Int = PQ_K, dim: Int = 64,
                 codebook: Option[Array[Array[(Array[Long], Long)]]] = None,
                 trainIters: Int = 2,
                 coarse: Option[Array[Array[Long]]] = None,
                 byResidual: Boolean = false): Long = {
    val spark = corpus.sparkSession
    val subDim = dim / m
    val cents = coarse.getOrElse(
      corpus.orderBy(col(idCol)).limit(nCells)
        .select(veci(col(embCol)).as("cv")).collect()
        .map(_.getSeq[Long](0).toArray))
    val cb = codebook.getOrElse(
      if (byResidual)
        residualCodebook(corpus, idCol, embCol, cents, m, k, dim, trainIters)
      else pqTrainedCodebook(corpus, idCol, embCol, m, k, dim, trainIters))
    val withCell = corpus
      .select(col(idCol).as("nn_id"), veci(col(embCol)).as("v"))
      .withColumn("cell", ivfCellLit(col("v"), cents))
    val encV =
      if (byResidual) residualLit(col("v"), col("cell"), cents) else col("v")
    val codes = withCell
      .select(
        format_string("v/%012d", col("nn_id")).as("key"),
        col("cell").as("ts"),
        col("nn_id"), lit(-1L).as("sub"),
        pqCodesLit(encV, cb, subDim).as("codes"))
    val metaRows =
      cents.zipWithIndex.map { case (cv, i) =>
        org.apache.spark.sql.Row(f"c/$i%012d", CELL_CENTROIDS, i.toLong,
          -1L, cv.toSeq)
      } ++
      (for { mm <- cb.indices; c <- cb(mm).indices } yield
        org.apache.spark.sql.Row(f"b/$mm%03d/$c%05d", CELL_CODEBOOK,
          c.toLong, mm.toLong, cb(mm)(c)._1.toSeq)) ++
      (if (byResidual)
        Seq(org.apache.spark.sql.Row("f/encoding", CELL_FLAGS, 1L, -1L,
          Seq(1L)))
      else Nil)
    val meta = spark.createDataFrame(
      spark.sparkContext.parallelize(metaRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("nn_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sub",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("codes",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))))
    // geometry + encoding flag ride IN the publishing commit (atomic
    // with the index becoming visible — a rebuild can never strand
    // yesterday's geometry against today's codes). Serving validation
    // then reads the already-cached manifest: zero Spark jobs.
    val indexProps = Map(GeomMProp -> m.toString,
      GeomDimProp -> dim.toString,
      ResidualProp -> (if (byResidual) "1" else "0"))
    graft.core.Graft.pinScope {
    // pinned (scope-released after the commit — created INSIDE the
    // pinScope, like appendToIndex, so cache mode actually registers it
    // to the scope): the bucket-major range exchange SAMPLES its input
    // before the write job — unpinned, the whole corpus PQ-encode ran
    // twice per build/rebuild (guide §5; the pinned frame is the
    // ~20×-compressed codes, bytes the write materializes anyway)
    val replacement = graft.core.Graft.pin(codes.unionByName(meta))
    if (db.snapshot().manifest.dataTxids.isEmpty)
      graft.store.TxWriter.write(db, replacement,
        timeBucketNanos = Some(1L), bucketMajor = true, props = indexProps)
    else {
      // ATOMIC rebuild, scoped to the INDEX keyspace (v/ codes, c/
      // centroids, b/ codebook, f/ flags — a warehouse can hold other
      // data alongside the index without the rebuild logically deleting
      // it): the supersede publishes the markers AND the new index in
      // ONE manifest commit, so a probe snapshotting mid-rebuild sees
      // either the old generation whole or the new one — never a
      // deleted-but-unreplaced window (pre-r17 this was four marker
      // transactions followed by the write). Fenced: a concurrent
      // append voids the claim and the rebuild retries over the moved
      // state; live-serving retrains stay correct under ingest.
      var attempt = 0
      var done = -1L
      while (done < 0) {
        attempt += 1
        val baseline = graft.store.Manifest.current(db.warehouse)
        graft.store.TxWriter.supersedeIf(db, baseline,
            Seq("v/%", "c/%", "b/%", "f/%"), replacement,
            t0 = Long.MinValue, t1 = Long.MaxValue,
            props = indexProps) match {
          case Some(tx) => done = tx
          case None =>
            if (attempt >= 60) {
              // distinguish the two refusal causes — they have opposite
              // remedies: a STALE pending claim (crashed writer) needs
              // Compactor.vacuum to clear, while live contention needs
              // the ingest paused. The old delete-then-write rebuild
              // proceeded under a stale claim; the atomic supersede
              // must not silently prescribe the wrong fix for it.
              val pend = graft.store.Manifest.current(db.warehouse).pending
              if (pend.nonEmpty) throw new IllegalStateException(
                s"index rebuild blocked by pending txid claim(s) " +
                  s"${pend.keys.toSeq.sorted.mkString(",")} — a crashed " +
                  "writer's claim raises the supersede fence; run " +
                  "Compactor.vacuum past the grace window to clear it, " +
                  "then retry the rebuild")
              throw new IllegalStateException(
                "index rebuild lost the supersede fence 60 times — a " +
                  "writer is committing continuously; pause ingest or " +
                  "rebuild into a twin warehouse")
            }
            Thread.sleep(math.min(100L * attempt, 2000L))
        }
      }
      done
    }
    }
  }

  /** Per-cell occupancy of the persisted index — the observability the
    * annyear battery's finding (SCALE.md r17) calls for: the year's
    * recall decay is driven by cell OCCUPANCY (corpus growth against a
    * frozen cell count), so the operator's re-cell/retrain decision
    * needs this histogram, not a guess. One slim key-pruned scan of the
    * codes family ("v/%", ts = IVF cell), a ≤nCells-row aggregate —
    * O(1)-size output at any corpus scale.
    */
  def indexCellStats(db: graft.store.Db): DataFrame =
    indexCellStatsAt(db.snapshot())

  /** [[indexCellStats]] off a caller-held snapshot — the serving tier's
    * form (every read in one response body derives from ONE manifest
    * state). EMPTY cells report a zero row, not absence: a dead cell
    * (k-means left it unpopulated, or the corpus drifted away from it)
    * wastes the probe's nProbe budget and is the strongest retrain
    * signal — dropping it from the histogram would hide exactly the
    * skew this report exists to expose. The stored centroid family
    * ("c/%") defines the cell universe; a pre-centroid store (codes
    * without meta — not a buildIndex product) falls back to
    * occupied-cells-only.
    */
  private[graft] def indexCellStatsAt(snap: graft.store.Db#Snapshot)
      : DataFrame = {
    val occ = snap.read("v/%")
      .select(col("ts").as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val cents = snap.read("c/%")
    val universe =
      if (cents.columns.contains("nn_id"))
        cents.filter(col("ts") === CELL_CENTROIDS)
          .select(col("nn_id").as("cell")).distinct()
      else cents.limit(0).select(lit(0L).as("cell"))
    if (universe.isEmpty)
      occ.select(col("cell"), col("n").as("n_codes"))
    else
      universe.join(occ, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_codes"))
  }

  /** Occupancy-skew threshold above which the retrain lever is advised.
    * The skew measure is **occMax/occP50** — NOT p95/p50: a new topic
    * concentrates in very FEW cells (often one), and any percentile
    * below the max is blind to a single crowded cell (measured: the
    * anncluster battery's 73 k-vector cluster in one cell of 64 left
    * p95/p50 at 1.39, indistinguishable from balanced, while max/p50
    * read the crowding at two orders of magnitude). The two battery
    * regimes ground the rule (SCALE.md): under UNIFORM drift the cells
    * stay balanced — max/p50 ends the 365-append year at 3.38 on the
    * 64-cell index — and retrain measurably recovers nothing; recall
    * is limited by PQ/ADC noise, which the refine stage removes
    * (0.9958). Under CLUSTERED drift appends crowd the cell(s) nearest
    * the new topic, max/p50 reads 20.65 within the topic's FIRST MONTH
    * and 236 by year end, refine recovers NOTHING (0.0000 measured —
    * the seed-trained codebook cannot shortlist within the cluster)
    * and a corpus-sampled re-cell is the serving-cost repair. 4.0 sits
    * between the measured bands: above the uniform year's worst
    * reading (3.38), far below the crowded regime's first-month one
    * (20.65). Both batteries gate their side of the threshold, so a
    * drift in either regime's reading trips a battery before it could
    * silently invert the advice.
    */
  val AdviceSkewRetrain = 4.0

  /** Dead-cell fraction above which retrain is advised regardless of
    * skew: a dead cell (n_codes = 0) wastes nProbe budget every query
    * and only a re-cell can reclaim it — when a quarter of the cells
    * are dead the quantizer no longer tiles the corpus.
    */
  val AdviceDeadFracRetrain = 0.25

  /** The `kind=ann` occupancy report body — ONE copy of the cell
    * collection, the sanity cap, the quantiles and the decision, shared
    * by the serving verb and the CLI twin so the report cannot drift
    * between them (the advice alone being shared left the cap and
    * quantile math duplicated). The quantile rule is nearest-rank on
    * the sorted counts, identical to [[cellAdvice]]'s internal one.
    */
  final case class OccupancyReport(nCells: Int, nCodes: Long,
                                   occMin: Long, occP50: Long,
                                   occP95: Long, occMax: Long,
                                   deadCells: Long,
                                   occSkew: Option[Double], advice: String)

  /** None when the index holds more than `maxCells` cells — not an IVF
    * layout this report is meant for; both twins refuse loudly rather
    * than collecting an unbounded histogram onto the driver.
    */
  def occupancyReport(snap: graft.store.Db#Snapshot,
                      maxCells: Int = 20000): Option[OccupancyReport] = {
    val counts = indexCellStatsAt(snap)
      .orderBy("cell").limit(maxCells + 1)
      .select(col("n_codes")).collect().map(_.getLong(0))
    if (counts.length > maxCells) return None
    val sorted = counts.sorted
    def q(f: Double): Long =
      if (sorted.isEmpty) 0L
      else sorted(math.min(sorted.length - 1,
        ((sorted.length - 1) * f).round.toInt))
    val (dead, skew, advice) = cellAdvice(sorted.toSeq)
    Some(OccupancyReport(sorted.length, sorted.sum, q(0.0), q(0.5),
      q(0.95), q(1.0), dead, skew, advice))
  }

  /** The retrain-vs-refine decision as a computed answer, shared by the
    * serving verb (`/_query/stats?kind=ann`) and the CLI twin so the
    * rule cannot drift between them: (deadCells, occSkew = occMax/occP50
    * when p50 > 0 — max, not a sub-max percentile, so ONE crowded cell
    * is visible; see [[AdviceSkewRetrain]], advice). `advice` is
    * "retrain" when the occupancy shape says the coarse quantizer is
    * the limiter (skew past [[AdviceSkewRetrain]], or ≥
    * [[AdviceDeadFracRetrain]] of cells dead), otherwise "refine" — the
    * measured default (probe-then-refine recovers ADC noise; SCALE.md
    * annyear).
    */
  def cellAdvice(counts: Seq[Long]): (Long, Option[Double], String) = {
    val dead = counts.count(_ == 0L).toLong
    val sorted = counts.sorted
    def q(f: Double): Long =
      if (sorted.isEmpty) 0L
      else sorted(math.min(sorted.length - 1,
        ((sorted.length - 1) * f).round.toInt))
    val p50 = q(0.5)
    val skew = if (p50 > 0) Some(q(1.0).toDouble / p50) else None
    val deadFrac =
      if (counts.nonEmpty) dead.toDouble / counts.size else 0.0
    val advice =
      if (skew.exists(_ > AdviceSkewRetrain) ||
          deadFrac >= AdviceDeadFracRetrain) "retrain"
      else "refine"
    (dead, skew, advice)
  }

  /** DuckDB oracle twin of [[indexCellStats]] over a first-N-coarse
    * index built from the `embeddings` table (adjacent so the cell
    * assignment math cannot drift from [[sqlIvfPq]]'s `cells` CTE).
    */
  def sqlIndexCellStats(nCells: Int = 16): String = {
    val cellCos = sqlCosineGuardedParts(sqlDotInt("vn.v", "cc.cv"),
      "vn.n2", "cc.cn")
    s"""WITH v0 AS (
       |  SELECT vec_id, ${sqlVeci("embedding")} AS v FROM embeddings),
       |vn AS (SELECT vec_id, v, ${sqlDotInt("v", "v")} AS n2 FROM v0),
       |cc AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |           AS cid, v AS cv, ${sqlDotInt("v", "v")} AS cn
       |  FROM (SELECT vec_id, v FROM v0 ORDER BY vec_id LIMIT $nCells)),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vn.vec_id, cc.cid AS cell,
       |           row_number() OVER (PARTITION BY vn.vec_id
       |             ORDER BY round($cellCos, 9) DESC, cc.cid) AS rn
       |    FROM vn CROSS JOIN cc) WHERE rn = 1)
       |SELECT cc.cid AS cell, count(cells.vec_id) AS n_codes
       |FROM cc LEFT JOIN cells ON cells.cell = cc.cid
       |GROUP BY cc.cid ORDER BY cell""".stripMargin
  }

  /** Manifest table properties a [[buildIndex]] records for its probes:
    * PQ geometry and the residual-encoding flag. Absent on pre-props
    * indexes — readers fall back to deriving them from the reserved
    * meta rows (one bounded job, version-cached).
    */
  val GeomMProp = "ann.m"
  val GeomDimProp = "ann.dim"
  val ResidualProp = "ann.residual"

  /** PQ geometry cache for [[indexGeometry]] — version-keyed like
    * [[indexMetaCache]] (and evicted the same way), so serving-tier
    * validation costs zero jobs in steady state.
    */
  private val geometryCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Option[(Int, Int)]]()

  /** The PQ geometry a [[buildIndex]] warehouse actually persists —
    * (m, dim) derived from its reserved meta rows in ONE bounded job:
    * `m` = the number of distinct codebook subspaces, `dim` = the coarse
    * centroid length. None when the warehouse holds no index meta.
    * Serving callers validate request geometry against this instead of
    * trusting query parameters — a mismatched `m`/`dim` would otherwise
    * score garbage ADC distances without any error.
    */
  def indexGeometry(db: graft.store.Db): Option[(Int, Int)] = {
    val snap = db.snapshot()
    if (snap.manifest.dataTxids.isEmpty) return None
    // fast path: geometry rides in the manifest (already parsed and
    // cached) — zero jobs, the steady state for every index built since
    // the props existed
    (snap.manifest.props.get(GeomMProp).flatMap(_.toIntOption),
        snap.manifest.props.get(GeomDimProp).flatMap(_.toIntOption)) match {
      case (Some(m), Some(d)) => return Some((m, d))
      case _                  => ()
    }
    val key = (db.warehouse, snap.manifest.version)
    val out = geometryCache.computeIfAbsent(key, _ => {
      val meta = snap.readInstants(Seq(CELL_CENTROIDS, CELL_CODEBOOK),
        ordered = false)
      if (!meta.columns.contains("sub") || !meta.columns.contains("codes"))
        None // not an index warehouse at all
      else {
        val r = meta.agg(
            countDistinct(when(col("ts") === CELL_CODEBOOK, col("sub")))
              .as("m"),
            max(when(col("ts") === CELL_CENTROIDS, size(col("codes"))))
              .as("dim"))
          .head()
        if (r.isNullAt(1) || r.getLong(0) == 0L) None
        else Some((r.getLong(0).toInt, r.getInt(1)))
      }
    })
    geometryCache.keySet.removeIf(k => k._1 == key._1 && k._2 < key._2)
    out
  }

  /** Train-artifact cache for probe-many steady state: keyed by
    * (warehouse, manifest version, m), so an append or rebuild — which
    * always advances the manifest — naturally invalidates. Entries are a
    * few thousand longs, and [[readIndexMeta]] evicts the dead versions
    * of a (warehouse, m) on every insert — a streaming ingest appends
    * once per micro-batch, each advancing the manifest, so without
    * eviction the stale entries would accumulate for the driver's life.
    */
  private val indexMetaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Int),
    (Array[Array[Long]], Array[Array[(Array[Long], Long)]], Boolean)]()

  /** Cached manifest versions for a warehouse — observable eviction
    * behavior for IndexMetaCacheSpec; after any probe at version v, no
    * version < v remains cached for that (warehouse, m).
    */
  private[ops] def cachedIndexMetaVersions(warehouse: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    indexMetaCache.keySet.asScala.collect {
      case (w, v, _) if w == warehouse => v
    }.toSeq.sorted
  }

  /** Reads a [[buildIndex]] warehouse's reserved-cell train artifacts:
    * coarse centroids (ordered by cell id) and the per-subspace codebook
    * with precomputed norms. Bounded collects — nCells + m×k rows —
    * cached per manifest version ([[indexMetaCache]]), so repeated probes
    * pay ZERO metadata jobs (the reference's 10 s reader cache, made
    * exact by version keying).
    */
  /** Companion geometry guard to [[readIndexMeta]]'s subspace check: a
    * caller-asserted `dim` that disagrees with the stored centroids
    * would zip-truncate the query against them — garbage distances with
    * no error. Every meta consumer calls it right after the read.
    */
  private def requireStoredDim(db: graft.store.Db,
                               cents: Array[Array[Long]], dim: Int): Unit =
    require(cents.isEmpty || cents(0).length == dim,
      s"index geometry mismatch in ${db.warehouse}: stored " +
        s"dim=${cents.headOption.fold(0)(_.length)}, caller requested dim=$dim")

  private def readIndexMeta(db: graft.store.Db,
                            snap: graft.store.Db#Snapshot, m: Int)
      : (Array[Array[Long]], Array[Array[(Array[Long], Long)]], Boolean) = {
    val key = (db.warehouse, snap.manifest.version, m)
    val out = indexMetaCache.computeIfAbsent(key, _ => {
        val cents = snap.readInstants(Seq(CELL_CENTROIDS), ordered = false)
          .select(col("nn_id"), col("codes")).collect()
          .sortBy(_.getLong(0))
          .map(_.getSeq[Long](1).toArray)
        val cb: Array[Array[(Array[Long], Long)]] = {
          val rows = snap.readInstants(Seq(CELL_CODEBOOK), ordered = false)
            .select(col("sub"), col("nn_id"), col("codes")).collect()
          val byM = rows.groupBy(_.getLong(0))
          // geometry guard: a caller-asserted m SMALLER than the stored
          // subspace count would silently score with half a codebook
          // (garbage distances, no error); larger threw a bare
          // NoSuchElementException. One loud message for both.
          require(byM.keySet == (0L until m.toLong).toSet,
            s"index geometry mismatch in ${db.warehouse}: stored " +
              s"m=${byM.size} codebook subspaces, caller requested m=$m")
          (0 until m).map { mm =>
            byM(mm.toLong).sortBy(_.getLong(1)).map { r =>
              val cv = r.getSeq[Long](2).toArray
              (cv, cv.map(x => x * x).sum)
            }
          }.toArray
        }
        // encoding flag: the manifest property when the build recorded
        // one (zero jobs); else the flags row — absent on raw pre-props
        // indexes (readInstants of a bucket no tx carries is empty)
        val byResidual = snap.manifest.props.get(ResidualProp) match {
          case Some(v) => v == "1"
          case None => snap.readInstants(Seq(CELL_FLAGS), ordered = false)
            .select(col("nn_id")).collect().exists(_.getLong(0) == 1L)
        }
        (cents, cb, byResidual)
      })
    // keep-latest: a concurrent probe of an older snapshot at worst
    // recomputes its (bounded) collects after this sweep
    indexMetaCache.keySet.removeIf(k =>
      k._1 == key._1 && k._3 == key._3 && k._2 < key._2)
    out
  }

  /** FAISS-style `add`: encode NEW vectors with the index's EXISTING
    * centroids and codebook (two reserved-cell reads) and append them as
    * ONE transaction — no retraining, no touch of the already-indexed
    * corpus. This is the steady-state ingest path at warehouse scale: the
    * quantizer is trained once, and each arriving batch is a map-only
    * encode of just that batch.
    *
    * Contract (same as FAISS `IndexIVF.add`): ids must be new, or
    * re-encodes of vectors whose cell assignment is unchanged (last-wins
    * then supersedes the old row in place). A changed embedding that
    * lands in a DIFFERENT cell needs [[buildIndex]]'s rebuild path, whose
    * delete marker clears the stale (id, oldCell) row —
    * PersistedIndexSpec covers that hazard.
    */
  def appendToIndex(db: graft.store.Db, vectors: DataFrame, idCol: String,
                    embCol: String, m: Int = PQ_M, dim: Int = 64,
                    cursor: Option[(String, Long)] = None,
                    sinkProps: Map[String, String] = Map.empty,
                    fuse: Boolean = false): Long = {
    val subDim = dim / m
    val (cents, cb, byResidual) = readIndexMeta(db, db.snapshot(), m)
    requireStoredDim(db, cents, dim)
    val withCell = vectors
      .select(col(idCol).as("nn_id"), veci(col(embCol)).as("v"))
      .withColumn("cell", ivfCellLit(col("v"), cents))
    // the arriving batch encodes exactly as the build did — the flag row
    // makes residual-vs-raw a property of the INDEX, not the caller
    val encV =
      if (byResidual) residualLit(col("v"), col("cell"), cents) else col("v")
    val codes = withCell
      .select(
        format_string("v/%012d", col("nn_id")).as("key"),
        col("cell").as("ts"),
        col("nn_id"), lit(-1L).as("sub"),
        pqCodesLit(encV, cb, subDim).as("codes"))
    // cursor/props/fuse: the streaming-sink riders — an index append
    // then costs ONE manifest commit with no replay window. The batch's
    // codes are pinned (scope-released) so the range exchange's sampling
    // pass doesn't re-encode the batch before the write job does.
    graft.core.Graft.pinScope {
      graft.store.TxWriter.write(db, graft.core.Graft.pin(codes),
        timeBucketNanos = Some(1L),
        bucketMajor = true, props = sinkProps, streamCursor = cursor,
        fuse = fuse)
    }
  }

  /** ADC probe over a [[buildIndex]] warehouse: the train artifacts are
    * two reserved-cell partition reads (a handful of rows), the query set
    * is assigned to cells with the SAME literal expression buildIndex
    * used, and then ONLY the probed cells' partitions are scanned —
    * `tbucket=<cell>` partition pruning does to the codes table what the
    * reference's segment search does to its files. No corpus column is
    * ever read.
    *
    * `nProbe` is FAISS's recall/latency knob: each query scores the
    * candidates of its `nProbe` highest-cosine cells (ties to the lower
    * cell id, [[ivfCellLit]] semantics). Cost scales as nProbe/nCells of
    * the codes table — still pure partition pruning, still one scan.
    */
  def ivfPqProbePersisted(db: graft.store.Db, queries: DataFrame,
                          idCol: String, embCol: String, topK: Int,
                          m: Int = PQ_M, dim: Int = 64,
                          nProbe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subDim = dim / m
    val snap = db.snapshot()
    val (cents, cb, byResidual) = readIndexMeta(db, snap, m)
    requireStoredDim(db, cents, dim)
    // cell ranking calls the SAME static kernel the stored assignment ran
    // ([[graft.functions.IvfCell.cosArray]]) on the collected query
    // vectors, so multi-probe selection can't drift from the stored cells
    val centsFlat = cents.flatten
    val centNorms = cents.map(cv => cv.map(x => x * x).sum)
    val qcells = queries
      .select(col(idCol).as("query_id"), veci(col(embCol)).as("v"))
      .collect()
      .map { r =>
        val qv = r.getSeq[Long](1).toArray
        val coss = graft.functions.IvfCell.cosArray(qv, centsFlat,
          centNorms, cents.length, dim)
        val cells = coss.indices.sortBy(i => (-coss(i), i))
          .take(nProbe).map(_.toLong).toArray
        (r.getLong(0), cells, qv)
      }
      .sortBy(_._1)
    require(qcells.length * nProbe <= MAX_LITERAL_QUERIES,
      s"ivfPqProbePersisted embeds per-(query,probe) literal LUTs in the " +
        s"plan: got ${qcells.length} queries × nProbe $nProbe " +
        s"(cap $MAX_LITERAL_QUERIES); use " +
        "ivfPqProbePersistedRelational for distributed query sets")
    val probed = qcells.flatMap(_._2).distinct.sorted
    if (probed.isEmpty)
      return queries.sparkSession.range(0)
        .select(col("id").as("query_id"), col("id").as("nn_id"),
          col("id").as("adist"), lit(0).as("rank")).limit(0)
    // ONE snapshot read with `ts IN (probedCells)`: tbucket partition
    // pruning skips every non-probed cell directory while the plan stays
    // O(1) in probe count — at nCells=4096 × multi-probe a union-per-cell
    // plan would carry one scan subtree (and one manifest read) per cell.
    // PersistedIndexSpec asserts the scan's PartitionFilters pin tbucket
    // to exactly the probed cells.
    val codes = snap.readInstants(probed.toIndexedSeq, ordered = false)
      .select(col("nn_id"), col("ts").as("cell"), col("codes"))
    // O(matches) scoring: a code row explodes into EXACTLY the queries
    // probing its cell (literal cell→queries map; each (query, nn) pair
    // appears at most once because a row has one cell), then one native
    // ADC kernel per surviving pair over the query's LUT (literal
    // query→LUT map). The former shape — explode ALL query structs per
    // row, filter, with m element_at nodes per query — wasted |Q|×m
    // lookups per row on non-matching cells and its generated code blew
    // Janino's 64 KB limit past ~32 queries (measured on AnnStress).
    val cellToQids: Map[Long, Seq[Long]] = qcells
      .flatMap { case (qid, qcs, _) => qcs.map(c => c -> qid) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sorted.toSeq }
    // raw: one LUT per query. Residual: one LUT per (probed cell, query)
    // — the asymmetric FAISS formulation, `q − cents[cell]` against codes
    // that are residuals wrt the same centroid. Sizes stay bounded by
    // |Q| × nProbe × m × k either way.
    val lutFor: Column => Column =
      if (!byResidual) {
        val qidToLut: Map[Long, Seq[Long]] = qcells.map { case (qid, _, qv) =>
          qid -> adcLut(cb, qv, subDim).flatten.toSeq
        }.toMap
        _ => element_at(typedLit(qidToLut), col("query_id"))
      } else {
        val cellQidLut: Map[Long, Map[Long, Seq[Long]]] = qcells
          .flatMap { case (qid, qcs, qv) =>
            qcs.map { c =>
              val qres = qv.zip(cents(c.toInt)).map { case (a, b) => a - b }
              c -> (qid -> adcLut(cb, qres, subDim).flatten.toSeq)
            }
          }
          .groupBy(_._1)
          .map { case (c, xs) => c -> xs.map(_._2).toMap }
        cellCol => element_at(element_at(typedLit(cellQidLut), cellCol),
          col("query_id"))
      }
    val scored = codes
      .select(col("nn_id"), col("codes"), col("cell"),
        explode(element_at(typedLit(cellToQids), col("cell")))
          .as("query_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        graft.functions.AdcDist(col("codes"),
          lutFor(col("cell"))).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** [[ivfPqProbePersisted]] for DISTRIBUTED query sets — no literals, no
    * query collect, no per-query plan growth: the batch-probe path (e.g.
    * k-neighbors for every document of a corpus against the index).
    *
    * Shape: queries assign to their top-nProbe cells as a native
    * projection ([[graft.functions.IvfCells]] — exactly the kernel the
    * literal path ranks with, so the two paths cannot disagree), join the
    * codes table on cell (each query meets only its probed cells'
    * candidates), explode the m codes, and join the relational LUT
    * (query subvectors × broadcast codebook) on (query_id, m, code) —
    * one partial-agg sum per (query, candidate). Value-identical to the
    * literal path (PersistedIndexSpec). At scale every stage is a hash
    * shuffle of reduced data; only the m×k codebook is broadcast.
    *
    * Reads ALL data cells when the query set probes them all (a batch
    * probe usually does) — still only the ~20×-compressed codes, never a
    * corpus column.
    */
  def ivfPqProbePersistedRelational(db: graft.store.Db, queries: DataFrame,
                                    idCol: String, embCol: String,
                                    topK: Int, m: Int = PQ_M, dim: Int = 64,
                                    nProbe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val subDim = dim / m
    val snap = db.snapshot()
    val (cents, cb, byResidual) = readIndexMeta(db, snap, m)
    requireStoredDim(db, cents, dim)
    val qv0 = queries
      .select(col(idCol).as("query_id"), veci(col(embCol)).as("qv"))
    val qcells = qv0.select(col("query_id"),
      explode(graft.functions.IvfCells(col("qv"), cents, nProbe)).as("cell"))
    // the whole codes table (every non-reserved cell), codes only
    val codes = snap
      .readInstants((0L until cents.length.toLong).toIndexedSeq,
        ordered = false)
      .select(col("nn_id"), col("ts").as("cell"), col("codes"))
    // candidate pairs: a query meets exactly its probed cells' members
    val cand = codes.join(qcells, "cell")
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("cell"), col("nn_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
    // relational ADC LUT: query subvectors × broadcast codebook rows.
    // Raw: keyed (query, m, code). Residual: the query side is first
    // re-centered per probed cell (`qv − cents[cell]`, a broadcast
    // centroid join + one zip_with), so the LUT is keyed
    // (query, cell, m, code) — still |Q| × nProbe × m × k rows, every
    // stage a hash shuffle of reduced data.
    val cbRows = for { mm <- cb.indices; c <- cb(mm).indices } yield
      (mm.toLong, c.toLong, cb(mm)(c)._1.toSeq, cb(mm)(c)._2)
    val cbDf = spark.createDataFrame(cbRows).toDF("m", "code", "cv", "cn")
    val (lutKeys, lutSrc) =
      if (!byResidual)
        (Seq("query_id", "m", "code"),
          qv0.select(col("query_id"),
            posexplode(subVectors(col("qv"), m, subDim)).as(Seq("m", "sv"))))
      else {
        val centsDf = spark.createDataFrame(
          cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv.toSeq) }
            .toIndexedSeq).toDF("cell", "ccv")
        (Seq("query_id", "cell", "m", "code"),
          qcells.join(qv0, "query_id").join(broadcast(centsDf), "cell")
            .select(col("query_id"), col("cell"),
              zip_with(col("qv"), col("ccv"), (a, b) => a - b).as("rv"))
            .select(col("query_id"), col("cell"),
              posexplode(subVectors(col("rv"), m, subDim)).as(Seq("m", "sv"))))
      }
    val lut = lutSrc
      .join(broadcast(cbDf), "m")
      .select(col("query_id") +: lutKeys.drop(1).map(col) :+
        l2FromParts(dotInt(col("sv"), col("sv")),
          dotInt(col("sv"), col("cv")), col("cn")).as("d"): _*)
    val scored = cand.join(lut, lutKeys)
      .groupBy("query_id", "nn_id")
      .agg(sum(col("d")).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("nn_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  // ── recall gates ───────────────────────────────────────────────────

  /** One (variant, hits, expected, recall, pass) row: recall@k of an
    * approximate result against the exact top-k over the matching
    * (query_id, nn_id) pairs. `pass` pins the variant's recall floor as a
    * 0/1 column, so a recall regression flips the row and fails the
    * hash-exact gate.
    */
  def recallRow(name: String, approx: DataFrame, exact: DataFrame,
                threshold: Double): DataFrame = {
    val a = approx.select(col("query_id"), col("nn_id"))
    val e = exact.select(col("query_id"), col("nn_id"))
    val hits = a.join(e, Seq("query_id", "nn_id"))
      .agg(count(lit(1)).as("hits"))
    val expected = e.agg(count(lit(1)).as("expected"))
    hits.crossJoin(expected).select(
      lit(name).as("variant"), col("hits"), col("expected"),
      round(col("hits").cast("double") / col("expected"), 6).as("recall"),
      (col("hits").cast("double") / col("expected") >= threshold)
        .cast("long").as("pass"))
  }

  /** DuckDB twin of [[recallRow]] (adjacent so they cannot drift); the
    * variant/exact SQL are full SELECTs used as subqueries.
    */
  def sqlRecallRow(name: String, variantSql: String, exactSql: String,
                   threshold: Double): String =
    s"""SELECT '$name' AS variant, hits, expected,
       |  round(CAST(hits AS DOUBLE) / expected, 6) AS recall,
       |  CAST(CAST(hits AS DOUBLE) / expected >= $threshold AS BIGINT)
       |    AS pass
       |FROM (SELECT
       |  (SELECT count(*) FROM ($variantSql) a
       |     JOIN ($exactSql) e
       |       ON a.query_id = e.query_id AND a.nn_id = e.nn_id) AS hits,
       |  (SELECT count(*) FROM ($exactSql) e2) AS expected)""".stripMargin
}
