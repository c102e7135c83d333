package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (0L until 1000L).map(i => (i, s"g${i % 7}")).toDF("id", "g")

  test("hashSample is deterministic and rate-accurate") {
    val a = Sampling.hashSample(docs, "id", 0.2).select("id").as[Long].collect().sorted
    val b = Sampling.hashSample(docs, "id", 0.2).select("id").as[Long].collect().sorted
    assert(a.sameElements(b), "same sample on re-run")
    // md5 buckets are uniform; 1000 draws at p=0.2 stay within ±6 sigma
    assert(a.length > 130 && a.length < 270, s"rate off: ${a.length}")
    // a smaller rate's sample is a subset of a larger rate's (nested samples)
    val small = Sampling.hashSample(docs, "id", 0.05).select("id").as[Long].collect().toSet
    assert(small.subsetOf(a.toSet))
  }

  test("stratifiedSample returns k per stratum, deterministically") {
    val s = Sampling.stratifiedSample(docs, "g", "id", 10)
    val counts = s.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts.size == 7 && counts.values.forall(_ == 10))
    val again = Sampling.stratifiedSample(docs, "g", "id", 10)
      .select("id").as[Long].collect().sorted
    assert(s.select("id").as[Long].collect().sorted.sameElements(again))
  }

  test("assignSplit partitions every row exactly once with stable shares") {
    val sp = Sampling.assignSplit(docs, "id", 0.8, 0.1)
    assert(sp.count() == 1000)
    val byok = sp.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byok.keySet == Set("train", "val", "test"))
    assert(byok("train") > 700 && byok("val") < 200 && byok("test") < 200)
    // membership is a pure function of the id
    val row = sp.filter(col("id") === 123).select("split").as[String].head()
    val again = Sampling.assignSplit(docs, "id", 0.8, 0.1)
      .filter(col("id") === 123).select("split").as[String].head()
    assert(row == again)
  }

  test("tokenBudget keeps a deterministic per-stratum prefix within budget") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "en" else "de", 10L))
      .toDF("id", "lang", "w")
    val kept = Sampling.tokenBudget(df, "lang", "id", "w", 70L)
    val byLang = kept.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // exactly 7 docs of 10 weight fit a 70 budget, per stratum
    assert(byLang == Map("en" -> 7L, "de" -> 7L))
    // deterministic: rerun selects the same ids
    val ids1 = kept.select("id").as[Long].collect().toSet
    val ids2 = Sampling.tokenBudget(df, "lang", "id", "w", 70L)
      .select("id").as[Long].collect().toSet
    assert(ids1 == ids2)
    // a doc that does not fully fit is dropped (budget not overrun)
    val tight = Sampling.tokenBudget(df, "lang", "id", "w", 65L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(tight == Map("en" -> 6L, "de" -> 6L))
  }

  test("weightedSample: weight-proportional, zero weights excluded, partition-stable") {
    import org.apache.spark.sql.functions._
    // 200 light rows (w=1) vs 200 heavy rows (w=50): the heavy half must
    // dominate a 40-row sample far beyond its 50% population share
    val df = ((0L until 200L).map(i => (i, 1.0)) ++
      (200L until 400L).map(i => (i, 50.0)) ++
      Seq((999L, 0.0))).toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", "w", 40)
      .select("id").as[Long].collect().toSet
    assert(!got.contains(999L), "zero weight must be excluded")
    val heavy = got.count(_ >= 200L)
    assert(heavy >= 30, s"heavy rows under-represented: $heavy/40")
    // deterministic across partitionings
    val again = Sampling.weightedSample(df.repartition(13), "id", "w", 40)
      .select("id").as[Long].collect().toSet
    assert(again == got, "sample must not depend on partitioning")
    // distributed top-k, not a global sort
    val plan = Sampling.weightedSample(df, "id", "w", 40)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection must plan as TakeOrdered:\n${plan.take(1200)}")
  }

  test("connectedComponents finds min-id clusters") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),          // chain {1,2,3}
      (10L, 11L),                  // pair {10,11}
      (20L, 22L), (21L, 22L), (23L, 20L) // diamond {20,21,22,23}
    ).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connectedComponents converges on a long path (log rounds)") {
    // path graph 0-1-2-...-40: worst case for naive propagation
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(comp.length == 41 && comp.forall(_._2 == 0L))
  }

  test("connectedComponents honors a configured reliable checkpoint dir") {
    withCheckpointDir { dir =>
      val comp = Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // checkpoint data actually landed in the reliable dir
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "no reliable checkpoint written")
    }
  }

  test("connectedComponents on an empty pair set returns empty (no NPE)") {
    // a clean corpus yields zero candidate pairs; sum() over zero rows is
    // NULL, which used to NPE the convergence check
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(pairs).count() == 0)
  }

  test("shuffleShards: total, balanced-ish, contiguous positions, scattered") {
    val sh = Sampling.shuffleShards(docs, "id", 8)
      .select(col("id"), col("shard"), col("pos"))
      .as[(Long, Long, Long)].collect()
    assert(sh.length == 1000, "every row is assigned exactly once")
    val byShard = sh.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // md5 buckets are uniform: 1000 rows over 8 shards stay within ±6σ
    assert(byShard.values.forall(g => g.size > 60 && g.size < 190),
      s"shard skew: ${byShard.view.mapValues(_.size).toMap}")
    // pos is 1..n contiguous within each shard (a valid training order)
    byShard.values.foreach { g =>
      assert(g.map(_._3).sorted.sameElements(1L to g.size))
    }
    // determinism: a re-run reproduces the exact assignment
    val again = Sampling.shuffleShards(docs, "id", 8)
      .select(col("id"), col("shard"), col("pos"))
      .as[(Long, Long, Long)].collect()
    assert(sh.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // the shuffle actually scatters: within a shard, consecutive training
    // positions are rarely source-adjacent ids
    val adjacent = byShard.values.map { g =>
      g.sortBy(_._3).sliding(2).count {
        case Array(a, b) => math.abs(a._1 - b._1) == 1
        case _ => false
      }
    }.sum
    assert(adjacent < 25, s"source order leaked into training order: $adjacent")
  }
}
