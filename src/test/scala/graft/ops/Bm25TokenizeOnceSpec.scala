package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

/** [[Retrieval.bm25TopK]] tokenizes the corpus once
  * ([[graft.functions.TermCounts]] partial counts, one `doc_id`
  * exchange). It must answer exactly like the formulation that tokenized
  * three times ([[Bm25TokenizeOnceSpec.bm25TopKPerBranch]], kept here as
  * the oracle) and like the DuckDB twin [[Retrieval.sqlBm25]] on a corpus
  * built from the edges: rows sharing a `doc_id`, a null `doc_id`, null,
  * empty and all-space text, consecutive spaces, non-ASCII terms, a query
  * term found nowhere and one found only in the null document.
  */
class Bm25TokenizeOnceSpec extends SparkSpec {
  import Bm25TokenizeOnceSpec._
  import spark.implicits._

  private val docs: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1L, "spark merge join spark"),
      Row(1L, "join  window"),
      Row(2L, " spark  spark "),
      Row(3L, null),
      Row(4L, ""),
      Row(5L, "   "),
      Row(null, "spark merge rare"),
      Row(6L, "naïve café spark 数据"),
      Row(7L, "café café merge"),
      Row(8L, "window stream batch window"),
      Row(9L, "merge"),
      Row(10L, "stream\tbatch  数据 数据")), 3),
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  private val queries: Seq[(Long, String)] = Seq(
    0L -> "spark merge", 1L -> "café 数据", 2L -> "absentterm spark",
    3L -> "rare", 4L -> "  window  ", 5L -> "nothinghere",
    6L -> "stream\tbatch batch")

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.as[(Long, Long, Long, Long)].collect().toSeq

  test("TermCounts equals grouping explode(split(text, ' ')) without empties") {
    val seed0 = rng.Seed(20261020L)
    val alphabet = Gen.oneOf("a", "b", "ab", " ", " ", "  ", "é", "数", "\t", "\u0000")
    val textGen = Gen.listOf(alphabet).map(_.mkString)
    var seed = seed0
    val texts = (1 to 3000).map { _ =>
      val r = textGen.doPureApply(Gen.Parameters.default, seed)
      seed = r.seed
      r.retrieve.get
    }
    val df = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")
      // malformed UTF-8 tokenizes as split decodes it
      .union(Seq((-1L, Array[Byte](0x61, 0x20, 0xC3.toByte, 0x20, 0x61, 0xFF.toByte)))
        .toDF("id", "b").select(col("id"), col("b").cast("string").as("text")))
    val native = df.select(col("id"), inline(graft.functions.TermCounts(col("text"))))
      .as[(Long, String, Long)].collect().toSet
    val composed = df.select(col("id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("id", "term").agg(count(lit(1)))
      .as[(Long, String, Long)].collect().toSet
    assert(native == composed)
    assert(df.select(graft.functions.TermCounts(col("text"))).collect()
      .count(_.isNullAt(0)) == 1, "only the null text is a null array")
  }

  test("tokenize-once equals the per-branch formulation on the edge corpus") {
    val q = queries.toDF("query_id", "qtext")
    for (k <- Seq(1, 3, 10)) {
      val got = rows(Retrieval.bm25TopK(docs, "doc_id", "text", q, k))
      assert(got == rows(bm25TopKPerBranch(docs, "doc_id", "text", q, k)), s"k=$k")
      // "rare" occurs only in the null document, which is never scored
      assert(got.nonEmpty && !got.exists(_._1 == 3L), s"k=$k: $got")
    }
  }

  test("tokenize-once equals the DuckDB twin's rows") {
    assume(scala.util.Try(scala.sys.process.Process(
      Seq("python3", "-c", "import duckdb")).! == 0).getOrElse(false),
      "python3 with duckdb is not available")
    val dir = tmpDir("bm25-edges")
    docs.write.parquet(s"$dir/documents.parquet")
    val sqlFile = java.nio.file.Paths.get(dir, "q.sql")
    java.nio.file.Files.write(sqlFile,
      Retrieval.sqlBm25(queries, 3).getBytes("UTF-8"))
    val script =
      s"""import duckdb
         |con = duckdb.connect()
         |con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('$dir/documents.parquet/*.parquet')")
         |for r in con.execute(open('$sqlFile', encoding='utf-8').read()).fetchall():
         |    print(','.join(str(x) for x in r))""".stripMargin
    val out = scala.sys.process.Process(Seq("python3", "-c", script)).!!
    val oracle = out.split("\n").filter(_.nonEmpty).map { l =>
      val Array(a, b, c, d) = l.split(",").map(_.toLong)
      (a, b, c, d)
    }.toSeq
    val got = rows(Retrieval.bm25TopK(docs, "doc_id", "text",
      queries.toDF("query_id", "qtext"), 3))
    assert(oracle.nonEmpty)
    assert(got == oracle)
  }
}

object Bm25TokenizeOnceSpec {
  /** The formulation [[Retrieval.bm25TopK]] replaced: postings, document
    * lengths, n_t and scoring each derived from the token stream, which
    * Spark tokenized three times.
    */
  def bm25TopKPerBranch(docs: DataFrame, idCol: String, textCol: String,
                        queries: DataFrame, k: Int): DataFrame = {
    import Retrieval.{B, K1, MICRO}
    val toks = graft.core.Graft.rebalance(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val postings = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("f"))
    val dl = postings.groupBy("doc_id").agg(sum(col("f")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val termDf = postings
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("nt"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(
      (col("n_docs") - col("nt") + 0.5) / (col("nt") + 0.5) + 1.0)
    val tfn = col("f") * (K1 + 1.0) /
      (col("f") + (col("dl") / avgdl * B + (1.0 - B)) * K1)
    val contrib = round(idf * tfn * MICRO.toDouble, 0).cast("long")
    val scored = postings
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(termDf), Seq("term"))
      .join(dl, Seq("doc_id"))
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
}
