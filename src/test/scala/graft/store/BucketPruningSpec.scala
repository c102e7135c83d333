package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Time-bucket pruning on a bucketed warehouse is sound on both sides of
  * 0: bucket 0 holds `(-w, w)` and a negative bucket `(b - w, b]`, so
  * `read`, `readMany` and `get` must keep every record in `[after,
  * before)` whatever the sign of the bounds or the instants.
  */
class BucketPruningSpec extends SparkSpec {
  import spark.implicits._

  private val w = 10L
  private val instants = Seq(-25L, -20L, -13L, -10L, -3L, -1L, 0L, 1L, 3L,
    9L, 10L, 13L, 20L)

  test("bucketRange holds the bucket of every instant in [after, before)") {
    for (width <- Seq(1L, 3L, 10L)) {
      val bounds = None +: (-36L to 36L).map(Some(_))
      for (a <- bounds; b <- bounds) {
        val (lo, hi) = Db.bucketRange(width, a, b)
        for (t <- -35L to 35L
             if a.forall(t >= _) && b.forall(t < _)) {
          val bt = Db.bucketOf(t, width)
          assert(lo.forall(bt >= _) && hi.forall(bt <= _),
            s"w $width after $a before $b: ts $t in bucket $bt outside " +
              s"[$lo, $hi]")
        }
      }
    }
    assert(Db.bucketRange(0L, Some(1L), Some(2L)) == (None, None))
  }

  test("read, readMany and get keep negative and positive ts around every bound") {
    val db = Db(spark, tmpDir("graft-bucketneg"))
    // two transactions, so pruning also meets last-wins across txids
    TxWriter.write(db, instants.flatMap(t => Seq(("a", t, t), ("b", t, -t)))
      .toDF("key", "ts", "v"), timeBucketNanos = Some(w))
    TxWriter.write(db, Seq(("a", -3L, 300L), ("a", 13L, 1300L))
      .toDF("key", "ts", "v"))
    assert(db.snapshot().manifest.timeBucket == w)
    val latest = instants.map(t => t -> t).toMap ++ Map(-3L -> 300L,
      13L -> 1300L)
    val cuts = instants.flatMap(t => Seq(t, t + 1)).distinct
    val windows = cuts.map(c => (Some(c), None)) ++
      cuts.map(c => (None, Some(c))) ++
      Seq((Some(-13L), Some(-2L)), (Some(-20L), Some(1L)),
        (Some(-1L), Some(10L)))
    val snap = db.snapshot()
    for ((after, before) <- windows) {
      val in = instants.filter(t => after.forall(t >= _) && before.forall(t < _))
      val what = s"after $after before $before"
      assert(snap.read("a", after, before).select("ts", "v").as[(Long, Long)]
        .collect().toSeq == in.map(t => (t, latest(t))), s"read $what")
      assert(snap.get("a", after, before).select("ts", "v").as[(Long, Long)]
        .collect().toSeq == in.map(t => (t, latest(t))), s"get $what")
      val many = snap.readMany(Seq("a", "b"), after, before)
        .select("key", "ts", "v").as[(String, Long, Long)].collect().sorted
        .toSeq
      assert(many == (in.map(t => ("a", t, latest(t))) ++
        in.map(t => ("b", t, -t))).sorted, s"readMany $what")
    }
    // the reported case: ts = -3 sits in bucket 0
    assert(snap.read("a", before = Some(-1L)).filter(col("ts") === -3L)
      .count() == 1)
  }
}
