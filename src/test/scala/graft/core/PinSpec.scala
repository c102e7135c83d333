package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Graft.pin]]'s one materialization rule: a reliable checkpoint when
  * the context has a checkpoint dir, a local checkpoint otherwise — and
  * what each form does when the executors holding a pin's blocks are
  * lost.
  */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private val want = 3L * 999 * 1000 / 2

  /** Pins a 1000-row frame, checks its sum, then drops every block the
    * pin left in the block manager: the storage side of losing all the
    * executors that held it.
    */
  private def pinThenLoseBlocks(): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = Graft.pin(spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 3))
    assert(pinned.agg(sum("v")).as[Long].head() == want)
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
    pinned
  }

  test("with a checkpoint dir, a pin survives losing its blocks: same " +
      "sum, answered from the files written into the dir") {
    withCheckpointDir { dir =>
      assert(Graft.pinsReliably(spark))
      val pinned = pinThenLoseBlocks()
      assert(pinned.agg(sum("v")).as[Long].head() == want)
      assert(pinned.count() == 1000)
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "a reliable pin must write the checkpoint dir")
    }
  }

  test("with a checkpoint dir, a lazy pin is written at once and " +
      "survives losing its blocks") {
    withCheckpointDir { dir =>
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val pinned = Graft.pin(spark.range(0, 1000).toDF("id")
        .withColumn("v", col("id") * 3), eager = false)
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "a pin under a checkpoint dir must be written eagerly")
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) rdd.unpersist(blocking = true)
      }
      assert(pinned.agg(sum("v")).as[Long].head() == want)
    }
  }

  test("without a checkpoint dir, the same loss fails the consuming " +
      "action: local pins trade executor-loss tolerance for speed") {
    assert(!Graft.pinsReliably(spark))
    val pinned = pinThenLoseBlocks()
    intercept[org.apache.spark.SparkException] {
      pinned.agg(sum("v")).as[Long].head()
    }
  }

  test("the quartet sink's reports are identical with and without a " +
      "checkpoint dir") {
    import graft.ops.SketchStore
    import graft.store.Db
    val toks = (1 to 400).map(i => s"w${i % 37}").toDF("t")
    def run(): (Map[String, Long], Long) = {
      val db = Db(spark, tmpDir("graft-pin"))
      SketchStore.registerSketches(db, toks, col("t"), batchId = 0L)
      val hh = SketchStore.storedHeavyHitters(db)
        .select("item", "est").as[(String, Long)].collect().toMap
      val cm = SketchStore.probeStoredCountMin(db,
        Seq("w1", "w2").toDF("item"), "item")
        .agg(sum("est_cm")).as[Long].head()
      (hh, cm)
    }
    val local = run()
    val reliable = withCheckpointDir(_ => run())
    assert(reliable == local, s"reliable-pin run drifted: $reliable vs $local")
  }

  test("the retired spark.graft.reuse.mode key refuses loudly and points " +
      "at the checkpoint dir") {
    for (mode <- Seq("bogus", "local", "cache", "reliable")) {
      spark.conf.set("spark.graft.reuse.mode", mode)
      try {
        val e = intercept[IllegalArgumentException] {
          Graft.pin(spark.range(0, 10).toDF("id"))
        }
        assert(e.getMessage.contains("setCheckpointDir"), e.getMessage)
      } finally spark.conf.unset("spark.graft.reuse.mode")
    }
    assert(Graft.pin(spark.range(0, 10).toDF("id")).count() == 10)
  }
}
