package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

/** [[VecQuant]] must be value-identical to the built-in composition it
  * replaces in [[Similarity.veci]], kept here as the oracle
  * ([[VecQuantSpec.veciComposed]]): pure-seed ScalaCheck floats and
  * doubles (StrftimePropertySpec's device, reruns bit-identical) with ±0,
  * subnormals, half-way points of the 1e-6 grid and magnitudes up to the
  * bigint edge; null elements and null arrays; NaN, ±Inf and overflow
  * raising the composition's own `CAST_OVERFLOW` under ANSI and
  * saturating like it without. [[IvfBestCos]] must equal `array_max` of
  * the composed guarded-cosine array.
  */
class VecQuantSpec extends SparkSpec {
  import VecQuantSpec._

  private val seed0 = rng.Seed(20261019L)

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    var seed = seed0
    (1 to n).map { _ =>
      val r = g.doPureApply(Gen.Parameters.default, seed)
      seed = r.seed
      r.retrieve.get
    }
  }

  /** Finite doubles whose 1e6-scaled value fits a bigint, weighted to the
    * places where rounding can go wrong.
    */
  private val finite: Gen[Double] = {
    val halfway = Gen.choose(-20000000L, 20000000L).map(k => (k + 0.5) / 1e6)
    Gen.frequency(
      5 -> Gen.choose(-2.0, 2.0),
      3 -> Gen.choose(-1e6, 1e6),
      1 -> Gen.choose(-9.2e12, 9.2e12),
      4 -> halfway,
      2 -> halfway.map(math.nextUp),
      2 -> halfway.map(math.nextDown),
      1 -> Gen.choose(-4503599627370496L, 4503599627370496L).map(_.toDouble / 1e6),
      1 -> Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
        java.lang.Float.MIN_VALUE.toDouble, java.lang.Float.MIN_NORMAL.toDouble,
        5e-7, -5e-7, 1.5e-6, -1.5e-6, 2.5e-6, -2.5e-6, 4.5e-7, 0.4999999e-6,
        9.2233720368547e12, -9.2233720368547e12))
  }

  private def compare(df: DataFrame): Unit = {
    val got = df.select(col("id"), Similarity.veci(col("e")).as("native"),
        veciComposed(col("e")).as("composed"))
      .collect()
    assert(got.nonEmpty)
    val bad = got.filter(r => r.get(1) != r.get(2))
    assert(bad.isEmpty, s"${bad.length} of ${got.length} rows differ, e.g. " +
      bad.take(3).map(r => s"${r.get(0)}: ${r.get(1)} vs ${r.get(2)}").mkString("; "))
  }

  private def arrays(elem: DataType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (a, i) => Row(i.toLong, a) }, 4),
      StructType(Seq(StructField("id", LongType),
        StructField("e", ArrayType(elem, containsNull = true)))))

  test("native quantizer equals the composition on floats and doubles") {
    val ds = samples(Gen.listOfN(16, finite), 12500)
    compare(arrays(FloatType, ds.map(_.map(_.toFloat))))
    compare(arrays(DoubleType, ds))
  }

  test("null elements stay null, a null array is null, types follow") {
    val df = arrays(FloatType, Seq(Seq(1.5f, null, -0.25f), Seq(), null))
    compare(df)
    val got = df.select(Similarity.veci(col("e"))).collect().map(_.get(0))
    assert(got.toSeq == Seq(Seq(1500000L, null, -250000L), Seq(), null))
    val notNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq(0.25f)))),
      StructType(Seq(StructField("e", ArrayType(FloatType, containsNull = false)))))
    for (in <- Seq(notNull, df))
      assert(in.select(Similarity.veci(col("e"))).schema.head.dataType ==
        in.select(veciComposed(col("e"))).schema.head.dataType)
  }

  /** The condition of the first Spark error in `body`'s cause chain. */
  private def condition(body: => Any): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: org.apache.spark.SparkThrowable => t.getCondition }
      .getOrElse(fail(s"no Spark error condition in $e"))
  }

  test("NaN, infinities and overflow raise the composition's CAST_OVERFLOW") {
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        9.3e12, -9.3e12, 1e30)) {
      val df = arrays(DoubleType, Seq(Seq(1.0, v)))
      val composed = condition(df.select(veciComposed(col("e"))).collect())
      assert(composed == "CAST_OVERFLOW")
      assert(condition(df.select(Similarity.veci(col("e"))).collect()) == composed,
        s"value $v")
    }
    val f = arrays(FloatType, Seq(Seq(Float.NaN)))
    assert(condition(f.select(Similarity.veci(col("e"))).collect()) ==
      condition(f.select(veciComposed(col("e"))).collect()))
  }

  test("without ANSI both saturate the same way") {
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      compare(arrays(DoubleType, Seq(Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 9.3e12, -9.3e12, 1e30, 0.5e-6))))
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("element types other than float and double are rejected at analysis") {
    val ints = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq(1, 2)))),
      StructType(Seq(StructField("e", ArrayType(IntegerType)))))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      ints.select(Similarity.veci(col("e"))))
    assert(e.getMessage.contains("array<float> or array<double>"), e.getMessage)
  }

  test("IvfBestCos equals array_max of the composed guarded cosines") {
    val vecs = spark.range(600).select(col("id"),
      transform(sequence(lit(0), lit(15)), i =>
        (pmod(hash(pmod(col("id"), lit(11)), i), lit(2001)) - 1000)
          .cast("float") / 1000.0f).as("e"))
      .select(col("id"), Similarity.veci(col("e")).as("v"))
      .union(spark.range(600, 601).select(col("id"),
        array_repeat(lit(0L), 16).as("v"))) // zero vector: the guard path
    for (nCells <- Seq(1, 2, 16, 100)) {
      val cents = vecs.orderBy("id").limit(nCells).select("v").collect()
        .map(_.getSeq[Long](0).toArray)
      val got = vecs.select(col("id"), IvfBestCos(col("v"), cents).as("native"),
          array_max(Similarity.ivfCellCoss(col("v"), cents)).as("composed"))
        .collect()
      val bad = got.filter(r => r.getDouble(1) != r.getDouble(2))
      assert(bad.isEmpty, s"nCells=$nCells: ${bad.take(3).mkString("; ")}")
    }
  }
}

object VecQuantSpec {
  /** The built-in formulation of [[Similarity.veci]]: the oracle
    * [[VecQuant]] is held to.
    */
  def veciComposed(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * Similarity.SCALE).cast("long"))
}
