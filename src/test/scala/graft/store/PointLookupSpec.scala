package graft.store

import graft.SparkSpec
import graft.series.SeriesOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Every warehouse reader returns exactly what the reference composition
  * returns: `records` → key filter → time filter → `lastWins` →
  * `applyDeletes` → (key, ts) order, row for row and in order, over
  * generated warehouses. [[Db.Snapshot.get]] (the single-task point lookup
  * over footer-selected files with driver-held delete markers) is checked
  * per key; `read`, `readMany`, `readInstants`, `tail` and a read after a
  * minor and a major compaction per generated pattern.
  */
class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  /** Keys where UTF-8 byte order and UTF-16 order disagree (U+FF5E sorts
    * below a surrogate pair in UTF-8, above it in UTF-16), keys holding
    * LIKE metacharacters, and plain ones.
    */
  private val keys = Seq("a", "a%b", "a_b", "a\\b", "ab", "b", "é",
    "\uFF5E", "\uD83D\uDE00", "k1")
  /** Marker wildcards, Spark LIKE with `\` as escape. */
  private val wildcards = Seq("%", "a%", "a\\%b", "a_b", "a\\_b", "a\\\\b",
    "%b", "_", "é%", "\uD83D\uDE00%", "\uFF5E", "k%")

  private sealed trait Op
  private final case class Put(rows: Seq[(String, Long)], files: Option[Int],
                               extraColumn: Boolean) extends Op
  private final case class Del(firstKey: String, lastKey: String, t0: Long,
                               t1: Long, wildcard: String) extends Op

  private val tsGen = Gen.choose(0L, 30L)
  private val putGen: Gen[Put] = for {
    n <- Gen.choose(1, 25)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(keys), tsGen))
    files <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.const(Some(2)),
      1 -> Gen.const(Some(3)))
    extra <- Gen.frequency(4 -> false, 1 -> true)
  } yield Put(rows.distinct, files, extra)
  private val delGen: Gen[Del] = for {
    lo <- Gen.frequency(2 -> Gen.const(""), 1 -> Gen.oneOf(keys))
    hi <- Gen.frequency(2 -> Gen.const(""), 1 -> Gen.oneOf(keys))
    t0 <- Gen.frequency(1 -> Gen.const(0L), 2 -> tsGen)
    span <- Gen.frequency(1 -> Gen.const(Long.MaxValue / 2), 2 -> Gen.choose(1L, 15L))
    w <- Gen.frequency(2 -> Gen.const("%"), 3 -> Gen.oneOf(wildcards))
  } yield Del(lo, hi, t0, t0 + span, w)
  private val scenarioGen: Gen[(Boolean, Seq[Op])] = for {
    bucketed <- Gen.frequency(2 -> false, 1 -> true)
    first <- putGen
    n <- Gen.choose(3, 6)
    rest <- Gen.listOfN(n, Gen.frequency(3 -> putGen, 2 -> delGen))
  } yield (bucketed, first +: rest)
  private val boundsGen: Gen[(Option[Long], Option[Long])] = for {
    a <- Gen.option(tsGen)
    b <- Gen.option(tsGen)
  } yield (a, b)

  /** Read patterns (only `%` is a wildcard): the whole store, prefixes
    * with ASCII and non-ASCII bytes, an inner `%`, exact keys holding `_`
    * and `%`, a suffix match.
    */
  private val patterns = Seq("%", "a%", "a%b", "a_b", "é%",
    "\uD83D\uDE00%", "ab", "%b", "k%", "\uFF5E")

  private var nextV = 0L

  private def build(wh: String, bucketed: Boolean, ops: Seq[Op]): Db = {
    val db = Db(spark, wh)
    ops.foreach {
      case Put(rows, files, extra) =>
        val df0 = rows.map { case (k, t) => nextV += 1; (k, t, nextV) }
          .toDF("key", "ts", "v")
        val df = if (extra) df0.withColumn("w", col("v") * 10) else df0
        TxWriter.write(db, df, rangePartitions = files,
          timeBucketNanos = if (bucketed) Some(10L) else None)
      case Del(lo, hi, t0, t1, w) =>
        TxWriter.delete(db, lo, hi, t0, t1, w)
    }
    db
  }

  /** The general read pipeline, spelled out: every transaction's records,
    * the exact key, the time window, last-wins, the marker anti-join, the
    * (key, ts) order.
    */
  private def pipeline(snap: Db#Snapshot, key: String, after: Option[Long],
                       before: Option[Long]): DataFrame =
    reference(snap, col("key") === key, after, before)

  /** The same composition for any key predicate; `since` keeps only the
    * data and marker transactions above it (the change feed's view).
    */
  private def reference(snap: Db#Snapshot, keep: Column, after: Option[Long],
                        before: Option[Long], since: Long = -1L): DataFrame = {
    val filtered = SeriesOps.timeRange(
      snap.records.filter(col("txid") > since && keep), after, before)
    val merged = SeriesOps.lastWins(filtered, Seq("key", "ts"), "txid")
    SeriesOps.ordered(SeriesOps.applyDeletes(merged,
        snap.deletes.filter(col("txid") > since))
      .drop("txid", "tbucket"))
  }

  /** Same columns, and the same rows: in order, or as a multiset. */
  private def same(got: DataFrame, want: DataFrame, what: String,
                   ordered: Boolean = true): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq,
      s"$what: columns ${got.columns.toSeq} != ${want.columns.toSeq}")
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    def bag(rs: Seq[Row]) = rs.groupBy(identity).view.mapValues(_.size).toMap
    if (ordered) assert(g == w, s"$what:\n got $g\nwant $w")
    else assert(bag(g) == bag(w), s"$what (as a multiset):\n got $g\nwant $w")
  }

  private def check(db: Db, bounds: Seq[(Option[Long], Option[Long])],
                    what: String): Unit = {
    val snap = db.snapshot()
    for (k <- keys; (a, b) <- bounds) {
      val got = snap.get(k, a, b)
      val want = pipeline(snap, k, a, b)
      assert(got.columns.toSeq == want.columns.toSeq, s"$what: columns")
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g == w, s"$what key '$k' after $a before $b:\n got $g\nwant $w")
    }
  }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("get == records → key filter → lastWins → applyDeletes → order on generated warehouses") {
    for (s <- 1L to 6L) {
      val (bucketed, ops) = sample(scenarioGen, s)
      val db = build(tmpDir("graft-ptgen"), bucketed, ops)
      val bounds = (None, None) +: (1 to 2).map(i => sample(boundsGen, s * 10 + i))
      check(db, bounds, s"seed $s (bucketed=$bucketed, ops=$ops)")
    }
  }

  test("markers before and after a re-insert, a literal-% key, a column added later") {
    val db = build(tmpDir("graft-ptfixed"), bucketed = false, Seq(
      Put(Seq("a%b" -> 5L, "a" -> 5L, "aXb" -> 5L, "b" -> 1L), None, false),
      Del("", "", 5L, 6L, "a\\%b"),   // the literal key only, not "aXb"
      Del("a", "b", 0L, 10L, "%"),     // key range [a, b): a, a%b, aXb
      Put(Seq("a%b" -> 5L, "b" -> 1L), None, extraColumn = true),
      Del("", "", 0L, 3L, "b")))       // time window over b's re-insert
    check(db, Seq((None, None), (Some(5L), None), (None, Some(5L))), "fixed")
    val snap = db.snapshot()
    assert(snap.get("a%b").select("v").as[Long].collect().toSeq.size == 1,
      "the re-insert after the marker survives")
    assert(snap.get("aXb").count() == 0 && snap.get("b").count() == 0)
    assert(snap.get("a%b").columns.contains("w"))
  }

  test("a key split across two files of one transaction, time-bucketed") {
    val rows = (0L until 40L).map(t => "a" -> t) ++ Seq("b" -> 3L)
    val db = build(tmpDir("graft-ptsplit"), bucketed = true, Seq(
      Put(rows, Some(2), false),
      Put(Seq("a" -> 7L, "a" -> 33L), None, false),
      Del("", "", 10L, 20L, "a")))
    val snap = db.snapshot()
    val tx0 = snap.manifest.dataTxids.head
    val layout = Db.txLayout(spark, db.warehouse, db.dataDir, tx0,
      snap.manifest.version, snap.manifest.created)
    val holding = layout.fileKeys.count(_.mayHold(Db.utf8("a")))
    assert(holding >= 2, s"key 'a' should span files: ${layout.files}")
    check(db, Seq((None, None), (Some(12L), Some(35L)), (Some(25L), None)),
      "split")
  }

  test("a warehouse deleted and recreated at the same path reads its own files") {
    val wh = tmpDir("graft-ptrecreate")
    val first = build(wh, bucketed = false, Seq(
      Put(Seq("a" -> 1L, "b" -> 2L), None, false),
      Put(Seq("a" -> 3L), None, false)))
    check(first, Seq((None, None)), "before recreation")
    import java.util.Comparator
    java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      .sorted(Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    // same txids, same manifest versions, different files
    val second = build(wh, bucketed = false, Seq(
      Put(Seq("a" -> 7L, "b" -> 8L), None, false),
      Put(Seq("b" -> 9L), None, false)))
    check(second, Seq((None, None)), "after recreation")
    assert(second.snapshot().get("a").select("ts").as[Long].collect().toSeq ==
      Seq(7L))
  }

  test("read, readMany, readInstants, tail and compaction == the reference composition") {
    for (s <- 1L to 4L) {
      val (bucketed, ops) = sample(scenarioGen, 100 + s)
      val db = build(tmpDir("graft-rdgen"), bucketed, ops)
      val snap = db.snapshot()
      val what = s"seed $s (bucketed=$bucketed, ops=$ops)"
      val ps = sample(Gen.pick(3, patterns), s).toSeq
      val (a, b) = sample(boundsGen, s)
      def keep(p: String) = SeriesOps.keyPredicate(col("key"), p)
      for (p <- ps; (x, y) <- Seq((None, None), (a, b)))
        same(snap.read(p, x, y), reference(snap, keep(p), x, y),
          s"$what read '$p' after $x before $y")
      val many = ps.take(2 + (s % 2).toInt)
      same(snap.readMany(many, a, b),
        reference(snap, many.map(keep).reduce(_ || _), a, b),
        s"$what readMany $many after $a before $b", ordered = false)
      val instants = sample(Gen.listOfN(3, tsGen), s).distinct
      same(snap.readInstants(instants, ps.head),
        reference(snap, keep(ps.head) && col("ts").isin(instants: _*),
          None, None), s"$what readInstants $instants '${ps.head}'")
      val txids = snap.manifest.dataTxids ++ snap.manifest.deleteTxids
      val since = sample(Gen.oneOf(-1L +: txids), s)
      same(snap.tail(since, ps.head, a, b),
        reference(snap, keep(ps.head), a, b, since),
        s"$what tail since $since '${ps.head}' after $a before $b")
      val whole = reference(snap, lit(true), None, None).collect().toSeq
      Compactor.minor(db)
      assert(db.snapshot().read().collect().toSeq == whole,
        s"$what read after a minor compaction")
      Compactor.major(db)
      assert(db.snapshot().read().collect().toSeq == whole,
        s"$what read after a major compaction")
    }
  }

  /** Wider warehouses for the merge's key ranges: more keys, each put
    * split into several range-partitioned files (a key with many
    * instants can straddle two files of one transaction), every scenario
    * ending with a marker and then a re-insert that adds a column.
    */
  private val wideKeys = keys ++ (0 until 24).map(i => f"m$i%02d") ++
    Seq("n%x", "n_y", "ü", "日本", "\uD83D\uDE01z")
  private val widePut: Gen[Put] = for {
    n <- Gen.choose(30, 90)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(wideKeys), tsGen))
    files <- Gen.choose(2, 4)
    extra <- Gen.frequency(3 -> false, 1 -> true)
  } yield Put(rows.distinct, Some(files), extra)
  private val wideDel: Gen[Del] = for {
    d <- delGen
    w <- Gen.frequency(3 -> Gen.const(d.wildcard),
      1 -> Gen.oneOf("m1%", "n\\%x", "n\\_y", "m_3", "日%"))
  } yield d.copy(wildcard = w)
  private val wideGen: Gen[Seq[Op]] = for {
    first <- widePut
    n <- Gen.choose(3, 5)
    rest <- Gen.listOfN(n, Gen.frequency(3 -> widePut, 2 -> wideDel))
    del <- wideDel
    last <- widePut
  } yield (first.copy(extraColumn = false) +: rest) :+ del :+
    last.copy(extraColumn = true)

  test("the sorted-run merge over several key ranges == the reference composition") {
    val prior = spark.conf.get("spark.sql.files.openCostInBytes")
    // a range must hold one file-open's worth of bytes: at one byte the
    // merge cuts these small warehouses into as many ranges as cores
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try for (s <- 1L to 3L) {
      val ops = sample(wideGen, 300 + s)
      val db = build(tmpDir("graft-ptwide"), bucketed = false, ops)
      val snap = db.snapshot()
      val what = s"seed $s (ops=$ops)"
      val all = snap.read()
      val whole = reference(snap, lit(true), None, None)
      same(all, whole, s"$what read '%'")
      val ranges = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}.collect(all.queryExecution.executedPlan) {
        case m: SortedRunMergeExec => m.spec.ranges.size
      }
      assert(ranges.exists(_ > 1), s"$what: one range (${ranges})")
      assert(all.columns.contains("w"), s"$what: the added column")
      val (a, b) = sample(boundsGen, s)
      for (p <- patterns ++ Seq("m%", "m1%", "n%", "日%"); (x, y) <- Seq((None, None), (a, b)))
        same(snap.read(p, x, y), reference(snap, SeriesOps.keyPredicate(col("key"), p), x, y),
          s"$what read '$p' after $x before $y")
      for (k <- sample(Gen.pick(6, wideKeys), s).toSeq)
        same(snap.get(k, a, b), pipeline(snap, k, a, b), s"$what get '$k' after $a before $b")
      val many = Seq("m%", "a%", "n%")
      same(snap.readMany(many, a, b),
        reference(snap, many.map(p => SeriesOps.keyPredicate(col("key"), p))
          .reduce(_ || _), a, b), s"$what readMany $many", ordered = false)
      val wholeRows = whole.collect().toSeq
      Compactor.minor(db)
      assert(db.snapshot().read().collect().toSeq == wholeRows,
        s"$what read after a minor compaction")
    } finally spark.conf.set("spark.sql.files.openCostInBytes", prior)
  }
}
