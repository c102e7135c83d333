package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded stand-in for the `documents`/`embeddings` tables the pipeline
  * queries read, with the ×R replica recipe on top.
  *
  * Replica 0 is the base corpus: `BaseDocs` documents of 10-100 tokens over
  * the 30-word vocabulary of the repository's test corpus, one in twenty a
  * near-duplicate of an earlier document (its text plus the token `dup`),
  * and `BaseVecs` 64-dimensional vectors around ten label centroids, one in
  * twenty a near-copy of an earlier vector. Replica r > 0 shifts every id by
  * r·10⁶, suffixes every token with `_r<r>` and permutes vector coordinates
  * with a seed-derived per-replica permutation — the same corpus statistics,
  * but no cross-replica duplicates, so the work grows with R.
  *
  * The seed relabels, it does not reshape: document lengths, the duplicate
  * structure and the vector geometry come from one fixed layout, and the
  * seed picks the vocabulary's word order, the languages and sources, and
  * a coordinate permutation with sign flips of every vector (which keeps
  * all cosines). Every seed therefore asks the engine for the same amount of
  * work — the same postings sizes up to relabeling, the same near-duplicate
  * graph and connected-components rounds — with different inputs.
  */
object CorpusGen {
  val BaseDocs = 1250
  val BaseVecs = 500
  val Dim = 64
  val Labels = 10
  val IdStride = 1000000L

  val vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  val langs: Array[String] = Array("en", "de", "fr", "es", "zh")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** The fixed layout every seed relabels. */
  private val Layout = 0x5EEDL

  /** Seed-derived permutation of 0 until n. */
  private def shuffled(seed: Long, salt: Long, n: Int): Array[Int] = {
    val p = Array.range(0, n)
    val rnd = new java.util.SplittableRandom(Mix.mix(seed, salt))
    for (i <- n - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
    p
  }

  /** Base-document word indices: a near-duplicate repeats its source's. */
  def baseTokens(d: Int): Array[Int] = {
    val h = Mix.mix(Layout, 1L, d.toLong)
    if (d > 0 && Mix.below(h, 20) == 0)
      baseTokens(Mix.below(Mix.mix(h, 2L), d)) :+ -1
    else {
      val n = 10 + Mix.below(Mix.mix(h, 3L), 91)
      Array.tabulate(n)(k => Mix.below(Mix.mix(h, 4L, k.toLong), vocab.length))
    }
  }

  def doc(seed: Long, r: Int, d: Int): Row = {
    val words = shuffled(seed, 14L, vocab.length).map(vocab)
    val toks = baseTokens(d).map(k => if (k < 0) "dup" else words(k))
    val text = (if (r == 0) toks else toks.map(t => s"${t}_r$r")).mkString(" ")
    val h = Mix.mix(seed, 5L, d.toLong)
    Row(r * IdStride + d, text, langs(Mix.below(h, langs.length)),
      s"src${Mix.below(Mix.mix(h, 6L), 20)}", text.length.toLong)
  }

  private def gauss(h: Long): Double = {
    // Box-Muller from two 53-bit uniforms
    val u1 = ((Mix.mix(h, 1L) >>> 11) + 1).toDouble / (1L << 53)
    val u2 = (Mix.mix(h, 2L) >>> 11).toDouble / (1L << 53)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def baseVector(v: Int): (Array[Float], Int) = {
    val h = Mix.mix(Layout, 7L, v.toLong)
    if (v > 0 && Mix.below(h, 20) == 0) {
      val (src, label) = baseVector(Mix.below(Mix.mix(h, 8L), v))
      (Array.tabulate(Dim)(k => (src(k) + 0.002 * gauss(Mix.mix(h, 9L, k.toLong))).toFloat), label)
    } else {
      val label = Mix.below(Mix.mix(h, 10L), Labels)
      (Array.tabulate(Dim)(k => (0.15 * gauss(Mix.mix(Layout, 11L, label.toLong, k.toLong)) +
        0.05 * gauss(Mix.mix(h, 12L, k.toLong))).toFloat), label)
    }
  }

  /** Coordinate permutation of replica r: the seed's own for replica 0,
    * composed with a seed-derived per-replica one for r > 0.
    */
  def permutation(seed: Long, r: Int): Array[Int] = {
    val p = shuffled(seed, 15L, Dim)
    if (r == 0) p else shuffled(seed, Mix.mix(13L, r.toLong), Dim).map(p)
  }

  def vector(seed: Long, r: Int, v: Int): Row = {
    val (base, label) = baseVector(v)
    val p = permutation(seed, r)
    val flip = Array.tabulate(Dim)(k => if (Mix.below(Mix.mix(seed, 16L, k.toLong), 2) == 0) -1f else 1f)
    Row(r * IdStride + v, Array.tabulate(Dim)(k => flip(k) * base(p(k))).toSeq, label)
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, replicas: Int): Unit = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val docs = spark.sparkContext.parallelize(0 until replicas * BaseDocs, parts)
      .map(n => doc(seed, n / BaseDocs, n % BaseDocs))
    spark.createDataFrame(docs, docSchema).write.parquet(s"$dir/documents.parquet")
    val vecs = spark.sparkContext.parallelize(0 until replicas * BaseVecs, parts)
      .map(n => vector(seed, n / BaseVecs, n % BaseVecs))
    spark.createDataFrame(vecs, vecSchema).write.parquet(s"$dir/embeddings.parquet")
  }
}
