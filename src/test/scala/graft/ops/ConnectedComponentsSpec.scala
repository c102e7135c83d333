package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Dedup.connectedComponents]] equals a driver-side union-find on
  * generated multigraphs, whatever the pairs' partitioning: one partition;
  * partitioned by a component key, so no node straddles partitions and no
  * round runs; and round-robin over 8 partitions, so nodes straddle and
  * the rounds finish the components.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Ids drawn sparse and signed, with a few near the ends of the Long
    * range, so labels are not dense indices and sums would overflow a Long.
    */
  private val idGen: Gen[Long] = Gen.frequency(
    8 -> Gen.choose(-40L, 200L),
    1 -> Gen.choose(Long.MaxValue - 5, Long.MaxValue),
    1 -> Gen.choose(Long.MinValue, Long.MinValue + 5))
  private val edgeGen: Gen[(Long, Long)] = Gen.zip(idGen, idGen)
  /** A path over distinct ids in a shuffled order: the case that needs
    * the most rounds.
    */
  private val pathGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 40)
    start <- Gen.choose(1000L, 5000L)
    ids <- Gen.pick(n, start until start + 3 * n)
    keys <- Gen.listOfN(n, Gen.long)
    order = ids.toSeq.zip(keys).sortBy(_._2).map(_._1)
  } yield order.sliding(2).map(p => (p(0), p(1))).toSeq
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    random <- Gen.listOf(edgeGen)
    paths <- Gen.listOfN(2, pathGen)
    disjoint <- Gen.listOfN(5, Gen.choose(10000L, 20000L)
      .map(a => (2 * a, 2 * a + 1)))
    loops <- Gen.listOf(idGen.map(a => (a, a)))
    all = random ++ paths.flatten ++ disjoint ++ loops
    dups <- Gen.someOf(all)
    reversed <- Gen.someOf(all)
  } yield all ++ dups ++ reversed.map(_.swap)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default.withSize(60), Seed(seed))

  /** Node → minimum id of its component, by path-halving union-find. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def layouts(edges: Seq[(Long, Long)],
                      want: Map[Long, Long]): Seq[(String, DataFrame)] = {
    val df = edges.toDF("id1", "id2")
    val key = want.toSeq.toDF("k", "key")
    Seq(
      "one partition" -> df.repartition(1),
      "by component" -> df.join(key, col("id1") === col("k"))
        .repartition(8, col("key")).select("id1", "id2"),
      "round-robin" -> df.repartition(8))
  }

  private def check(pairs: DataFrame, want: Map[Long, Long],
                    what: String): Unit = {
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(got.length == got.map(_._1).distinct.length,
      s"$what: a node labeled twice")
    assert(got.toMap == want, s"$what:\n got ${got.toMap}\nwant $want")
  }

  test("CC == driver union-find on generated multigraphs, under every layout") {
    for (s <- 1L to 6L) {
      val edges = sample(graphGen, s)
      val want = reference(edges)
      for ((name, pairs) <- layouts(edges, want))
        check(pairs, want, s"seed $s, $name, ${edges.size} edges")
    }
  }

  test("an Int id column comes back as Int, labels equal to the Long run") {
    val edges = sample(graphGen, 11L).map { case (a, b) =>
      ((a % 1000).toInt, (b % 1000).toInt) }
    val want = reference(edges.map { case (a, b) => (a.toLong, b.toLong) })
    for ((name, pairs) <- Seq(
        "one partition" -> edges.toDF("id1", "id2").repartition(1),
        "round-robin" -> edges.toDF("id1", "id2").repartition(8))) {
      val out = Dedup.connectedComponents(pairs)
      assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType),
        s"$name: ${out.schema}")
      val got = out.as[(Int, Int)].collect()
        .map { case (a, b) => (a.toLong, b.toLong) }.toMap
      assert(got == want, s"$name:\n got $got\nwant $want")
    }
  }

  test("a reliable checkpoint dir gives the same components, rounds included") {
    val edges = sample(graphGen, 21L)
    val want = reference(edges)
    withCheckpointDir { _ =>
      for ((name, pairs) <- layouts(edges, want))
        check(pairs, want, s"reliable, $name")
    }
  }

  test("empty input: no rows, the input's id types") {
    for ((t, pairs) <- Seq(
        LongType -> Seq.empty[(Long, Long)].toDF("id1", "id2"),
        IntegerType -> Seq.empty[(Int, Int)].toDF("id1", "id2"))) {
      val out = Dedup.connectedComponents(pairs.repartition(8))
      assert(out.schema.map(_.dataType) == Seq(t, t))
      assert(out.count() == 0)
    }
  }
}
