package graft.ops

import graft.SparkSpec
import graft.store.Db
import org.apache.spark.sql.functions._

/** Warehouse-backed incremental sketches ([[SketchStore]]): the
  * mergeability laws (stored == batch-on-union, exactly), idempotent
  * re-registration, fold supersede, and compaction survival.
  */
class SketchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDb(): Db =
    Db(spark, java.nio.file.Files.createTempDirectory("graft-sketchstore").toString)

  private def toks(xs: String*) = xs.toDF("t")

  /** Runs `body` on a pool of its own (`threads` threads), shut down
    * after: racing Futures must not queue on the global pool, whose
    * one-thread-per-core size starves them on a small machine.
    */
  private def onPool[T](threads: Int)(
      body: scala.concurrent.ExecutionContext => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try body(scala.concurrent.ExecutionContext.fromExecutorService(pool))
    finally pool.shutdownNow()
  }

  test("KMV: two registered batches == one sketch of the union, exactly") {
    val db = tmpDb()
    val a = (1 to 300).map(i => s"a$i")
    val b = (200 to 500).map(i => s"a$i") // overlap: shared minima collapse
    SketchStore.registerKmv(db, toks(a: _*), col("t"), k = 32)
    SketchStore.registerKmv(db, toks(b: _*), col("t"), k = 32)
    val stored = SketchStore.storedKmvSketch(db)
      .as[Long].collect().toSeq
    val direct = Sketches.kmvSketch(toks((a ++ b): _*), col("t"), 32)
      .as[Long].collect().toSeq
    assert(stored == direct, "union law violated")
    // duplicate minima across batches are single store rows (last-wins
    // on (key, ts=h)), so the prefix read stays tight
    val allRows = db.snapshot().read("k/t").count()
    assert(allRows < 64, s"shared minima must collapse: $allRows rows")
  }

  test("count-min: sums add across batches; re-register of a batchId is idempotent") {
    val db = tmpDb()
    val b0 = toks(Seq.fill(5)("x") ++ Seq("y"): _*)
    val b1 = toks(Seq.fill(3)("x") ++ Seq("z"): _*)
    SketchStore.registerCountMin(db, b0, col("t"), batchId = 0L)
    SketchStore.registerCountMin(db, b1, col("t"), batchId = 1L)
    // a streaming retry re-delivers batch 1: same (key, ts) rows,
    // last-wins — counts must NOT double
    SketchStore.registerCountMin(db, b1, col("t"), batchId = 1L)
    val est = SketchStore.probeStoredCountMin(db,
        Seq("x", "y", "z").toDF("t"), "t")
      .as[(String, Long)].collect().toMap
    assert(est("x") == 8 && est("y") >= 1 && est("z") >= 1,
      s"additive + idempotent: $est")
  }

  test("ungrouped trio valueCol: hist rows ride the trio transaction " +
      "and foldSketches supersedes all five key families") {
    val db = tmpDb(); val twin = tmpDb()
    import spark.implicits._
    val b0 = (1 to 100).map(i => (s"w${i % 30}", (i % 40 + 1).toLong))
      .toDF("t", "v")
    val b1 = (1 to 80).map(i => (s"w${i % 50}", (i % 90 + 1).toLong))
      .toDF("t", "v")
    SketchStore.registerSketches(db, b0, col("t"), batchId = 0L,
      valueCol = Some(col("v")))
    SketchStore.foldSketches(db)
    SketchStore.registerSketches(db, b1, col("t"), batchId = 1L,
      valueCol = Some(col("v")))
    SketchStore.registerHist(twin, b0, col("v"), batchId = 0L)
    SketchStore.registerHist(twin, b1, col("v"), batchId = 1L)
    def quants(d: Db) = SketchStore.storedHistQuantiles(d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(quants(db) == quants(twin),
      "trio-ridden hist drifted from the standalone store")
    // the MG report is untouched by the rider
    val mg = SketchStore.storedHeavyHitters(db)
      .as[(String, Long, Long, Long)].collect()
    assert(mg.map(_._3).headOption.contains(180L), mg.mkString(","))
    // a second fold collapses EVERY family — hist included — to one
    // folded generation under ONE supersede, with no report change
    val before = quants(db)
    SketchStore.foldSketches(db)
    assert(quants(db) == before, "fold changed the hist report")
    val gens = db.read("h/t/%").select("ts").distinct()
      .as[Long].collect().toSet
    assert(gens == Set(SketchStore.FOLD_TS), s"unfolded hist: $gens")
  }

  test("grouped count-min store: per-group grids == one-shot grouped " +
      "sketch through registration, replay and fold") {
    val db = tmpDb()
    def gt(xs: (String, String)*) = xs.toDF("g", "t")
    val b0 = gt(Seq.fill(5)("s0" -> "x") ++ Seq("s0" -> "y", "s1" -> "x"): _*)
    val b1 = gt(Seq.fill(3)("s0" -> "x") ++
      Seq("s1" -> "z", "s1" -> "z", "s1" -> "x"): _*)
    SketchStore.registerCountMinBy(db, b0, col("g"), col("t"), batchId = 0L)
    SketchStore.foldCountMinBy(db)
    SketchStore.registerCountMinBy(db, b1, col("g"), col("t"), batchId = 1L)
    // streaming retry: same (key, ts) rows, last-wins — no double count
    SketchStore.registerCountMinBy(db, b1, col("g"), col("t"), batchId = 1L)
    val items = Seq(("s0", "x"), ("s0", "y"), ("s1", "x"), ("s1", "z"),
      ("s1", "y")).toDF("g", "t")
    val est = SketchStore.probeStoredCountMinBy(db, items, "g", "t")
      .as[(String, String, Long)].collect()
      .map { case (g, t, e) => (g, t) -> e }.toMap
    // the grid is an over-estimator bounded below by the true counts —
    // and per GROUP: s0 saw x 8 times, s1 only twice
    assert(est(("s0", "x")) >= 8 && est(("s1", "x")) >= 2)
    assert(est(("s0", "x")) == 8, s"d-row min should dodge collisions: $est")
    assert(est(("s1", "z")) == 2 && est(("s0", "y")) == 1)
    // a (grp, item) the group never saw estimates 0 unless colliding
    assert(est(("s1", "y")) <= 1, s"cross-group leak: $est")
    // the stored grid equals the one-shot grouped sketch of everything
    val stored = SketchStore.storedCountMinBy(db)
      .as[(String, Int, Long, Long)].collect().toSet
    val oneShot = Sketches.countMinSketchBy(
        b0.unionByName(b1), col("g"), col("t"))
      .as[(String, Int, Long, Long)].collect().toSet
    assert(stored == oneShot, "stored grouped grid drifted from one-shot")
    // null groups are excluded, not stored under a malformed key — and
    // null ELEMENTS never write phantom null-bucket cells
    SketchStore.registerCountMinBy(db,
      Seq((null.asInstanceOf[String], "x"), ("s0", null.asInstanceOf[String]))
        .toDF("g", "t"),
      col("g"), col("t"), batchId = 2L)
    val after = SketchStore.storedCountMinBy(db)
    assert(after.filter(col("grp").isNull || col("bucket").isNull).isEmpty)
    assert(after.as[(String, Int, Long, Long)].collect().toSet == oneShot,
      "null rows changed the stored grid")
  }

  test("count-min geometry is claimed first-writer-wins and read back " +
      "by probes: mismatched registrations refuse loudly, probes never " +
      "guess (d, w)") {
    val db = tmpDb()
    // first writer fixes a NON-default geometry; the claim is readable
    SketchStore.registerCountMin(db, toks(Seq.fill(5)("x") :+ "y": _*),
      col("t"), batchId = 0L, d = 2, w = 64L)
    assert(SketchStore.storedCmGrid(db) == ((2, 64L)))
    // the probe takes NO geometry params — it reads (2, 64) off the
    // manifest; a guessed default (4, 1024) would hash into the wrong
    // cells and miss every stored counter
    val est = SketchStore.probeStoredCountMin(db,
        Seq("x", "y").toDF("t"), "t")
      .as[(String, Long)].collect().toMap
    assert(est("x") == 5 && est("y") >= 1, s"probe at claimed grid: $est")
    // a default-geometry registration under the same tag refuses BEFORE
    // writing — both the standalone form and the quartet's cm family
    intercept[IllegalArgumentException] {
      SketchStore.registerCountMin(db, toks("z"), col("t"), batchId = 1L)
    }
    intercept[IllegalArgumentException] {
      SketchStore.registerSketches(db, toks("z"), col("t"), batchId = 1L)
    }
    // same-geometry re-registration is fine (the claim is idempotent)
    SketchStore.registerCountMin(db, toks("x"), col("t"), batchId = 1L,
      d = 2, w = 64L)
    assert(SketchStore.probeStoredCountMin(db, toks("x"), "t")
      .as[(String, Long)].head()._2 == 6)
    // the GROUPED grids claim their own cmg.* geometry independently
    val gdb = tmpDb()
    SketchStore.registerCountMinBy(gdb,
      Seq(("s0", "x"), ("s0", "x"), ("s1", "y")).toDF("g", "t"),
      col("g"), col("t"), batchId = 0L, d = 3, w = 32L)
    assert(SketchStore.storedCmByGrid(gdb) == ((3, 32L)))
    val gest = SketchStore.probeStoredCountMinBy(gdb,
        Seq(("s0", "x")).toDF("g", "t"), "g", "t")
      .as[(String, String, Long)].head()._3
    assert(gest == 2, s"grouped probe at claimed grid: $gest")
    intercept[IllegalArgumentException] {
      SketchStore.registerCountMinBy(gdb, Seq(("s0", "z")).toDF("g", "t"),
        col("g"), col("t"), batchId = 1L)
    }
    intercept[IllegalArgumentException] {
      SketchStore.registerSketchesBy(gdb, Seq(("s0", "z")).toDF("g", "t"),
        col("g"), col("t"), batchId = 1L)
    }
    // ungrouped c/ and grouped cg/ grids under ONE tag are independent:
    // the gdb claim does not constrain the ungrouped family
    SketchStore.registerCountMin(gdb, toks("q"), col("t"), batchId = 0L)
    assert(SketchStore.storedCmGrid(gdb) ==
      ((Sketches.CM_D, Sketches.CM_W)))
  }

  test("KMV k and MG c are claimed first-writer-wins and read back: " +
      "an estimator at a guessed larger k would falsely certify the " +
      "sketch as exact") {
    val db = tmpDb()
    // 100 distinct items into a k=16 store: the sketch is FULL, so the
    // estimate must be the estimator formula, never the "exact below
    // k" claim a default-k (64) reader would make (16 survivors < 64)
    SketchStore.registerKmv(db, toks((1 to 100).map(i => s"w$i"): _*),
      col("t"), k = 16)
    assert(SketchStore.storedKmvK(db) == 16)
    val (n, est) = SketchStore.storedKmvEstimate(db)
      .select("n_sketch", "est_distinct").as[(Long, Long)].head()
    assert(n == 16, s"claimed-k read must cap at 16: $n")
    assert(est > 16, s"a full k=16 sketch must ESTIMATE, not claim " +
      s"exactness: $est")
    // mismatched registrations refuse loudly — the standalone form and
    // the trio share the key family AND the claim, so a k=16 trio
    // registration is accepted while default-k forms of either refuse
    intercept[IllegalArgumentException] {
      SketchStore.registerKmv(db, toks("x"), col("t"))
    }
    SketchStore.registerSketches(db, toks("y"), col("t"), batchId = 0L,
      k = 16)
    intercept[IllegalArgumentException] {
      SketchStore.registerSketches(db, toks("z"), col("t"), batchId = 1L)
    }
    // folds read the claim: a fold keeps exactly the claimed k minima
    SketchStore.foldKmv(db)
    assert(SketchStore.storedKmvSketch(db).count() == 16)
    // MG c claims are per-family and grouped twins are independent
    val mdb = tmpDb()
    SketchStore.registerMg(mdb, toks("a", "a", "b"), col("t"),
      batchId = 0L, c = 8)
    intercept[IllegalArgumentException] {
      SketchStore.registerMg(mdb, toks("c"), col("t"), batchId = 1L)
    }
    SketchStore.registerMgBy(mdb,
      Seq(("g0", "a")).toDF("g", "t"), col("g"), col("t"), batchId = 0L)
    intercept[IllegalArgumentException] {
      SketchStore.registerMgBy(mdb, Seq(("g0", "b")).toDF("g", "t"),
        col("g"), col("t"), batchId = 1L, c = 8)
    }
  }

  test("PRE-CLAIM stores (rows, no geometry property) refuse " +
      "geometry-dependent reads and fresh claims until stamped") {
    val db = tmpDb()
    SketchStore.registerKmv(db, toks((1 to 100).map(i => s"w$i"): _*),
      col("t"), k = 16)
    // simulate a store written by a pre-claim engine version
    graft.store.Manifest.update(db.warehouse)(m =>
      m.copy(props = m.props - "kmv.k/t"))
    // the estimator must not decode at the default k (it would read the
    // full 16-minima sketch as below-capacity and certify exactness)
    intercept[IllegalStateException] { SketchStore.storedKmvEstimate(db) }
    // nor may a fresh registration claim ANY k over unrecorded rows —
    // a later fold at a wrongly-claimed smaller k would truncate data
    intercept[IllegalStateException] {
      SketchStore.registerKmv(db, toks("x"), col("t"), k = 64)
    }
    // the operator states the true geometry; reads resume correctly
    SketchStore.stampGeometry(db, kmvK = Some(16))
    val (n, est) = SketchStore.storedKmvEstimate(db)
      .select("n_sketch", "est_distinct").as[(Long, Long)].head()
    assert(n == 16 && est > 16, s"stamped store must estimate: ($n, $est)")
    // a disagreeing stamp refuses, first-writer-wins
    intercept[graft.store.TxWriter.PropertyConflict] {
      SketchStore.stampGeometry(db, kmvK = Some(64))
    }
    // same contract for the count-min probe: claim stripped → loud
    // refusal, never a wrong-cell probe at the defaults
    val cdb = tmpDb()
    SketchStore.registerCountMin(cdb, toks("a", "a", "b"), col("t"),
      batchId = 0L, d = 2, w = 64L)
    graft.store.Manifest.update(cdb.warehouse)(m =>
      m.copy(props = m.props - "cm.d/t" - "cm.w/t"))
    intercept[IllegalStateException] {
      SketchStore.probeStoredCountMin(cdb, toks("a"), "t")
    }
    SketchStore.stampGeometry(cdb, cm = Some((2, 64L)))
    assert(SketchStore.probeStoredCountMin(cdb, toks("a"), "t")
      .as[(String, Long)].head()._2 == 2)
    // empty families under an unclaimed tag still read as empty — the
    // guard fires only when rows actually exist
    assert(SketchStore.storedHeavyHitters(cdb).isEmpty)
  }

  test("racing FIRST registrations with different geometries: exactly " +
      "one wins — the loser refuses loudly, never mixes in") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val db = tmpDb()
    // both sides pass the friendly pre-write check (empty manifest),
    // write their transactions, and meet at the publishing CAS — the
    // claim check INSIDE the CAS is what makes first-writer-wins
    // airtight (a check-then-act pre-read alone would let both publish
    // and silently mix k=16 and k=64 minima under one key). Depending
    // on interleaving the loser surfaces as PropertyConflict (lost the
    // CAS) or IllegalArgumentException (saw the winner's claim before
    // writing) — both loud, neither published.
    val outcomes = onPool(2) { implicit ec =>
      Await.result(Future.sequence(Seq(16, 64).map(k =>
        Future {
          try {
            SketchStore.registerKmv(db, toks("a", "b", "c"), col("t"), k = k)
            None
          } catch {
            case e: graft.store.TxWriter.PropertyConflict => Some(e)
            case e: IllegalArgumentException => Some(e)
          }
        })), 300.seconds)
    }
    assert(outcomes.count(_.isEmpty) == 1,
      s"exactly one geometry must win: $outcomes")
    val winnerK = SketchStore.storedKmvK(db)
    assert(Set(16, 64).contains(winnerK))
    // the winner's rows are the ONLY rows: 3 distinct items → 3 minima
    assert(SketchStore.storedKmvSketch(db).count() == 3)
    val m = graft.store.Manifest.current(db.warehouse)
    assert(m.dataTxids.size == 1, "the refused registration published " +
      s"nothing: ${m.dataTxids}")
  }

  test("MG store: guarantees hold over batches; deterministic under " +
      "partitioning; idempotent re-register") {
    val db = tmpDb()
    val c = 8
    // head+tail stream split into three batches: vocabulary >> c, so
    // both the per-batch partials and the merged read actually truncate
    val mk = (lo: Int, hi: Int) =>
      (lo until hi).flatMap(i => Seq(s"t$i", s"t$i")) // tail, f=2 each
    val b0 = Seq.fill(40)("alpha") ++ Seq.fill(10)("beta") ++ mk(0, 60)
    val b1 = Seq.fill(35)("beta") ++ Seq.fill(12)("gamma") ++ mk(60, 120)
    val b2 = Seq.fill(30)("alpha") ++ mk(120, 170)
    val all = b0 ++ b1 ++ b2
    SketchStore.registerMg(db, toks(b0: _*), col("t"), 0L, c = c)
    SketchStore.registerMg(db, toks(b1: _*), col("t"), 1L, c = c)
    SketchStore.registerMg(db, toks(b2: _*), col("t"), 2L, c = c)
    val got = SketchStore.storedHeavyHitters(db)
      .as[(String, Long, Long, Long)].collect().toSeq
    val n = all.size.toLong
    val exact = all.groupBy(identity).map { case (k, o) => k -> o.size.toLong }
    assert(got.size <= c, s"merged summary exceeded c: ${got.size}")
    assert(got.forall(_._3 == n), s"mass must sum the batches: $got")
    got.foreach { case (item, est, _, certain) =>
      val t = exact(item)
      assert(est <= t, s"over-estimate for $item: $est > $t")
      assert((t - est) * (c + 1) <= n, s"bound broken for $item")
      if (certain == 1L)
        assert(t * (c + 1) > n, s"certain flag on a non-frequent $item")
    }
    // containment: every truly frequent item is a candidate
    exact.foreach { case (item, t) =>
      if (t * (c + 1) > n)
        assert(got.exists(_._1 == item), s"frequent $item missing")
    }
    // alpha (70/~500) is frequent and must surface as certain
    assert(got.exists(g => g._1 == "alpha" && g._4 == 1L), s"$got")
    // determinism: re-registering a batchId — even from a differently
    // partitioned DataFrame — rewrites identical rows, output unchanged
    SketchStore.registerMg(db, toks(b1: _*).repartition(13), col("t"),
      1L, c = c)
    val again = SketchStore.storedHeavyHitters(db)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(again == got, "re-register must be byte-identical")
  }

  test("fold supersedes history, preserves sums, and bounds the store") {
    val db = tmpDb()
    for (i <- 0 until 5)
      SketchStore.registerCountMin(db, toks(Seq.fill(i + 1)("w"): _*),
        col("t"), batchId = i.toLong)
    val before = SketchStore.probeStoredCountMin(db, toks("w"), "t")
      .as[(String, Long)].head()._2
    SketchStore.foldCountMin(db)
    val after = SketchStore.probeStoredCountMin(db, toks("w"), "t")
      .as[(String, Long)].head()._2
    assert(after == before && after == 15, s"fold changed sums: $before -> $after")
    // after compaction the superseded per-batch rows are physically gone
    graft.store.Compactor.major(db)
    val rows = db.snapshot().read("c/t/%").count()
    val afterCompact = SketchStore.probeStoredCountMin(db, toks("w"), "t")
      .as[(String, Long)].head()._2
    assert(afterCompact == 15, "compaction must not change the grid")
    // 'w' hits d distinct cells; only the folded generation remains
    assert(rows == Sketches.CM_D, s"history not purged: $rows rows")
    // registration continues after a fold
    SketchStore.registerCountMin(db, toks("w"), col("t"), batchId = 99L)
    val more = SketchStore.probeStoredCountMin(db, toks("w"), "t")
      .as[(String, Long)].head()._2
    assert(more == 16, s"post-fold registration lost: $more")
  }

  test("empty store: 0-row KMV sketch, zero estimates, empty grid") {
    val db = tmpDb()
    assert(SketchStore.storedKmvSketch(db).isEmpty)
    val est = SketchStore.storedKmvEstimate(db)
      .select("n_sketch", "est_distinct").as[(Long, Long)].head()
    assert(est == ((0L, 0L)), s"empty estimate: $est")
    assert(SketchStore.storedCountMin(db).isEmpty)
    val probe = SketchStore.probeStoredCountMin(db, toks("q"), "t")
      .as[(String, Long)].collect().toMap
    assert(probe("q") == 0, "unseen-on-empty must read zero")
  }

  test("concurrent registrations: 8 racing writers, stored KMV == union sketch") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val db = tmpDb()
    val batches = (0 until 8).map(b =>
      (0 until 60).map(i => s"w${b * 40 + i}")) // overlapping ranges
    onPool(8) { implicit ec =>
      Await.result(Future.sequence(batches.zipWithIndex.map { case (xs, b) =>
        Future {
          SketchStore.registerKmv(db, toks(xs: _*), col("t"), k = 32)
          SketchStore.registerCountMin(db, toks(xs: _*), col("t"),
            batchId = b.toLong)
        }
      }), 300.seconds)
    }
    // KMV: append-only last-wins rows — any interleaving lands on the
    // same union sketch
    val stored = SketchStore.storedKmvSketch(db)
      .as[Long].collect().toSeq
    val direct = Sketches.kmvSketch(toks(batches.flatten: _*), col("t"), 32)
      .as[Long].collect().toSeq
    assert(stored == direct, "racing KMV writers corrupted the union")
    // count-min: distinct batchIds never collide — sums equal the
    // sequential outcome ('w40'..'w59' overlap batches 0 and 1, etc.)
    val est = SketchStore.probeStoredCountMin(db, toks("w45"), "t")
      .as[(String, Long)].head()._2
    assert(est >= 2, s"overlapping batches must both count: $est")
  }

  test("deleteIf fence: a commit in the window voids the claim") {
    val db = tmpDb()
    SketchStore.registerCountMin(db, toks("a"), col("t"), batchId = 0L)
    val expected = graft.store.Manifest.current(db.warehouse).nextTxid
    // a registration races in AFTER the state was read
    SketchStore.registerCountMin(db, toks("b"), col("t"), batchId = 1L)
    assert(graft.store.TxWriter.deleteIf(db, expected,
        t0 = Long.MinValue, t1 = Long.MaxValue, wildcard = "c/t/%").isEmpty,
      "stale claim must be refused — the marker would erase the racer")
    // with the CURRENT next txid the claim lands and the marker applies
    val now = graft.store.Manifest.current(db.warehouse).nextTxid
    assert(graft.store.TxWriter.deleteIf(db, now,
      t0 = Long.MinValue, t1 = Long.MaxValue, wildcard = "c/t/%").nonEmpty)
    assert(SketchStore.storedCountMin(db).isEmpty,
      "the granted marker must suppress everything below it")
  }

  test("folds racing 8 registering writers never lose a count") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val db = tmpDb()
    // 8 writers × 3 batches each, while a maintenance thread folds
    // continuously — the conditional-claim fence means every registered
    // count survives whatever interleaving the scheduler produces
    onPool(9) { implicit ec =>
      val writers = (0 until 8).map { wtr =>
        Future {
          for (b <- 0 until 3)
            SketchStore.registerCountMin(db,
              toks(Seq.fill(wtr + 1)("hot"): _*), col("t"),
              batchId = (wtr * 3 + b).toLong)
        }
      }
      val folder = Future { for (_ <- 0 until 6) SketchStore.foldCountMin(db) }
      Await.result(Future.sequence(writers :+ folder), 300.seconds)
    }
    SketchStore.foldCountMin(db) // quiesced: one final fold
    val got = SketchStore.probeStoredCountMin(db, toks("hot"), "t")
      .as[(String, Long)].head()._2
    val exact = (0 until 8).map(w => (w + 1) * 3).sum
    assert(got == exact, s"counts lost to a fold race: $got != $exact")
  }

  test("foldKmv keeps the sketch exact, drops superseded minima, and " +
      "survives racing writers") {
    val db = tmpDb()
    val batches = (0 until 3).map(b => (0 until 200).map(i => s"v${b * 120 + i}"))
    SketchStore.registerKmv(db, toks(batches(0): _*), col("t"), k = 32)
    SketchStore.registerKmv(db, toks(batches(1): _*), col("t"), k = 32)
    val rowsBefore = db.snapshot().read("k/t").count()
    SketchStore.foldKmv(db)
    graft.store.Compactor.major(db)
    val rowsAfter = db.snapshot().read("k/t").count()
    assert(rowsAfter == 32 && rowsAfter < rowsBefore,
      s"fold must keep exactly k minima: $rowsBefore -> $rowsAfter")
    // registration continues after the fold; the sketch stays the
    // exact union sketch (fold is lossless by the union law)
    SketchStore.registerKmv(db, toks(batches(2): _*), col("t"), k = 32)
    val stored = SketchStore.storedKmvSketch(db)
      .as[Long].collect().toSeq
    val direct = Sketches.kmvSketch(toks(batches.flatten: _*), col("t"), 32)
      .as[Long].collect().toSeq
    assert(stored == direct, "foldKmv lost a minimum")
    // a fold must not cross tags: "k/t" is an exact wildcard, so a
    // sibling tag's minima survive this tag's fold
    SketchStore.registerKmv(db, toks("zzz"), col("t"), tag = "t2", k = 32)
    SketchStore.foldKmv(db)
    assert(SketchStore.storedKmvSketch(db, tag = "t2").count() == 1,
      "fold of tag t erased tag t2")
    // racing writers: folds interleaving with registrations never lose
    // a minimum (the fence re-reads and retries)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val extra = (0 until 6).map(b => (0 until 40).map(i => s"r${b * 25 + i}"))
    onPool(7) { implicit ec =>
      val writers = extra.map(xs => Future {
        SketchStore.registerKmv(db, toks(xs: _*), col("t"), k = 32)
      })
      val folder = Future { for (_ <- 0 until 4) SketchStore.foldKmv(db) }
      Await.result(Future.sequence(writers :+ folder), 300.seconds)
    }
    SketchStore.foldKmv(db)
    val storedR = SketchStore.storedKmvSketch(db)
      .as[Long].collect().toSeq
    val directR = Sketches.kmvSketch(
      toks((batches.flatten ++ extra.flatten): _*), col("t"), 32)
      .as[Long].collect().toSeq
    assert(storedR == directR, "racing foldKmv corrupted the union")
  }

  test("foldMg: report unchanged by the fold, store bounded, mass " +
      "exact under racing writers") {
    val db = tmpDb()
    def items(b: Int) =
      toks((0 until 100).map(i => s"i${(b * 17 + i) % 40}"): _*)
    // twin store without folds — the fold's losslessness witness
    val twin = tmpDb()
    for (b <- 0 until 4) {
      SketchStore.registerMg(db, items(b), col("t"), batchId = b.toLong)
      SketchStore.registerMg(twin, items(b), col("t"), batchId = b.toLong)
      if (b % 2 == 1) SketchStore.foldMg(db)
    }
    def report(d: Db) = SketchStore.storedHeavyHitters(d)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(report(db) == report(twin),
      "folds changed the heavy-hitters report")
    // the fold bounded the store: after compaction, ≤ c+1 rows per
    // generation (candidates + mass) instead of per-batch history
    SketchStore.foldMg(db)
    graft.store.Compactor.major(db)
    val mgRows = db.snapshot().read("m/t/%").count() +
      db.snapshot().read("mn/t").count()
    assert(mgRows <= Sketches.MG_C + 1, s"store not bounded: $mgRows rows")
    assert(report(db) == report(twin), "compacted fold changed the report")
    // racing writers: mass is additive and never truncated, so however
    // folds interleave with registrations the total must be EXACT
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    onPool(9) { implicit ec =>
      val writers = (0 until 8).map { w =>
        Future {
          SketchStore.registerMg(db, toks(Seq.fill(w + 1)("hot"): _*),
            col("t"), batchId = (100 + w).toLong)
        }
      }
      val folder = Future { for (_ <- 0 until 5) SketchStore.foldMg(db) }
      Await.result(Future.sequence(writers :+ folder), 300.seconds)
    }
    SketchStore.foldMg(db)
    val mass = SketchStore.storedMgMass(db).as[Long].head()
    val exact = 4 * 100 + (1 to 8).sum
    assert(mass == exact, s"mass lost to a fold race: $mass != $exact")
    // 'hot' is within capacity throughout → its est is its exact count
    val hot = SketchStore.storedMgCandidates(db)
      .filter(col("item") === "hot").as[(String, Long)].collect()
    assert(hot.nonEmpty && hot.head._2 == (1 to 8).sum,
      s"hot item count lost: ${hot.toSeq}")
  }

  test("fold is atomic: marker and replacement appear in ONE manifest " +
      "commit — no version observes a half-fold") {
    val db = tmpDb()
    SketchStore.registerHist(db, Seq(1L, 2L, 3L).toDF("v"), col("v"),
      batchId = 0L)
    SketchStore.registerHist(db, Seq(4L, 5L).toDF("v"), col("v"),
      batchId = 1L)
    val before = graft.store.Manifest.current(db.warehouse)
    SketchStore.foldHist(db)
    val after = graft.store.Manifest.current(db.warehouse)
    assert(after.deleteTxids.size == before.deleteTxids.size + 1 &&
      after.dataTxids.size == before.dataTxids.size + 1)
    // every intermediate version must hold marker and replacement
    // together or not at all: a marker-only state is exactly the crash
    // window that would lose the store (history deleted, fold missing)
    for (v <- before.version + 1 to after.version) {
      val st = graft.store.Manifest.at(db.warehouse, v)
      val hasMarker = st.deleteTxids.size > before.deleteTxids.size
      val hasFold = st.dataTxids.size > before.dataTxids.size
      assert(hasMarker == hasFold, s"version $v observes a half-fold")
    }
    // and the fold is still correct
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf(Seq(1L, 2L, 3L, 4L, 5L).toDF("v"),
        col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct)
  }

  test("supersedeIf refuses a stale baseline; folds racing a compactor " +
      "never double-count") {
    val db = tmpDb()
    val batches = (0 until 6).map(b => (1 to 100).map(i => (i % (20 + 5 * b) + 1).toLong))
    batches.zipWithIndex.foreach { case (vals, b) =>
      SketchStore.registerHist(db, vals.toDF("v"), col("v"), batchId = b.toLong)
    }
    // the claim-level fence: a compaction (or any publish) after the
    // baseline read voids the supersede — a marker granted against the
    // stale baseline would erase the compactor's rewritten copies'
    // originals while the rewrite survives above it (double count)
    val stale = graft.store.Manifest.current(db.warehouse)
    graft.store.Compactor.major(db)
    val rows = Seq(("h/t/000000", SketchStore.FOLD_TS, 0L, 1L))
      .toDF("key", "ts", "bin", "cnt")
    assert(graft.store.TxWriter.supersedeIf(db, stale, Seq("h/t/%"), rows)
      .isEmpty, "stale-baseline supersede must refuse")
    // racing compactor: folds and major compactions interleaving freely
    // must leave the report equal to the one-shot sketch — the
    // conditional PUBLISH is what prevents a cutover inside the fold's
    // claim→publish window from double-counting the history
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val extra = (6 until 10).map(b => (1 to 80).map(i => (i % (15 + b) + 1).toLong))
    onPool(3) { implicit ec =>
      val writer = Future {
        extra.zipWithIndex.foreach { case (vals, i) =>
          SketchStore.registerHist(db, vals.toDF("v"), col("v"),
            batchId = (6 + i).toLong)
        }
      }
      val folder = Future { for (_ <- 0 until 4) SketchStore.foldHist(db) }
      val compactor = Future {
        for (_ <- 0 until 3)
          try graft.store.Compactor.major(db)
          catch { case e: IllegalStateException
              if e.getMessage.contains("aborted") => () } // legal under race
      }
      Await.result(Future.sequence(Seq(writer, folder, compactor)), 600.seconds)
    }
    SketchStore.foldHist(db)
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf(
        (batches ++ extra).flatten.toDF("v"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct,
      s"fold × compactor race corrupted the store: $stored != $direct")
  }

  test("a crashed writer's pending claim blocks folds until vacuum " +
      "clears it past the grace window") {
    val db = tmpDb()
    SketchStore.registerHist(db, Seq(1L, 2L).toDF("v"), col("v"),
      batchId = 0L)
    // simulate a writer that claimed and died before writing anything:
    // a pending entry with an old claim time and no directory
    val dead = graft.store.Manifest.update(db.warehouse)(m =>
      m.copy(nextTxid = m.nextTxid + 1,
        pending = m.pending + (m.nextTxid -> 12345L))) // ancient claim
    assert(dead.pending.nonEmpty)
    // the fence must refuse while the claim stands — the marker would
    // erase the write if it were still in flight
    val baseline = graft.store.Manifest.current(db.warehouse)
    assert(graft.store.TxWriter.deleteManyIf(db, baseline.nextTxid,
      Seq("h/t/%"), t0 = Long.MinValue, t1 = Long.MaxValue).isEmpty,
      "fence must refuse under a pending claim")
    // vacuum with the default grace keeps a RECENT claim; the ancient
    // one (no directory, past the window) is cleared
    graft.store.Compactor.vacuum(db, graceMs = 60000)
    assert(graft.store.Manifest.current(db.warehouse).pending.isEmpty,
      "vacuum must clear the dead claim")
    // and the fold works again
    assert(SketchStore.foldHist(db) > 0)
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf(Seq(1L, 2L).toDF("v"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct)
  }

  test("deleteManyIf: several wildcards suppress under ONE marker tx") {
    val db = tmpDb()
    SketchStore.registerMg(db, toks("a", "a", "b"), col("t"), batchId = 0L)
    val expected = graft.store.Manifest.current(db.warehouse).nextTxid
    val marked = graft.store.TxWriter.deleteManyIf(db, expected,
      Seq("m/t/%", "mn/t"), t0 = Long.MinValue, t1 = Long.MaxValue)
    assert(marked.nonEmpty)
    assert(db.snapshot().manifest.deleteTxids.size == 1,
      "one claim = one marker transaction")
    assert(db.snapshot().read("m/t/%").isEmpty &&
      db.snapshot().read("mn/t").isEmpty,
      "both key families must be suppressed")
  }

  test("histogram grid claim is atomic: a conflicting propsClaim is " +
      "refused inside the manifest CAS, not merged") {
    val db = tmpDb()
    SketchStore.registerHist(db, Seq(1L, 2L).toDF("v"), col("v"),
      batchId = 0L)
    // the check-then-act window: a writer that already passed the
    // friendly pre-read still cannot publish a different grid — the
    // claim re-verifies inside the publishing commit
    val rows = Seq(("h/t/000001", 1L, 1L, 1L)).toDF("key", "ts", "bin", "cnt")
    val e = intercept[graft.store.TxWriter.PropertyConflict] {
      graft.store.TxWriter.write(db, rows,
        propsClaim = Map("hist.w/t" -> "4"))
    }
    assert(e.getMessage.contains("hist.w/t"), e.getMessage)
    // the refused tx is invisible: grid and report unchanged
    assert(SketchStore.storedHistGrid(db) == ((Sketches.HIST_W, 0L)))
    assert(SketchStore.storedHist(db).as[(Long, Long)].collect().toSet ==
      Set((0L, 2L)), "refused write leaked rows")
  }

  test("histogram store: merged == one-shot; idempotent re-register; " +
      "fold supersedes; coexists under its own prefix") {
    val db = tmpDb()
    val b0 = (1 to 400).map(i => (i % 50 + 1).toLong)
    val b1 = (1 to 300).map(i => (i % 200 + 1).toLong)
    SketchStore.registerHist(db, b0.toDF("v"), col("v"), batchId = 0L)
    SketchStore.foldHist(db)
    SketchStore.registerHist(db, b1.toDF("v"), col("v"), batchId = 1L)
    // a streaming retry re-delivers batch 1: same (key, ts) rows,
    // last-wins — counts must NOT double
    SketchStore.registerHist(db, b1.toDF("v"), col("v"), batchId = 1L)
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf((b0 ++ b1).toDF("v"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"merge must be exact: $stored != $direct")
    // the fold bounded the history: bins live at FOLD_TS + batch 1 only
    val tss = db.snapshot().read("h/t/%").select("ts")
      .distinct().as[Long].collect().toSet
    assert(tss == Set(SketchStore.FOLD_TS, 1L), s"fold history: $tss")
  }

  test("histogram store persists its grid: origin-registered stores " +
      "report envelopes in the original domain; mismatched grids refuse") {
    val db = tmpDb()
    val vals = (0 until 500).map(i => -8000L + (i * 37) % 7993)
    SketchStore.registerHist(db, vals.toDF("v"), col("v"), batchId = 0L,
      origin = -8192L)
    // the reader learns (w, origin) from the store itself — no caller
    // guess, envelopes come back in the signed domain
    assert(SketchStore.storedHistGrid(db) == ((Sketches.HIST_W, -8192L)))
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf(vals.toDF("v"), col("v"),
        origin = -8192L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct && stored.forall(_._5 < 0),
      s"$stored != $direct")
    // a registration under a different grid would store unmergeable
    // bins — it must refuse loudly, not corrupt
    val e = intercept[IllegalArgumentException] {
      SketchStore.registerHist(db, vals.toDF("v"), col("v"), batchId = 1L,
        origin = 0L)
    }
    assert(e.getMessage.contains("grid mismatch"), e.getMessage)
  }

  test("grouped histogram store: merged == one-shot grouped sketch; " +
      "fold and replay preserve it") {
    val db = tmpDb()
    val b0 = (1 to 200).map(i => (s"s${i % 3}", (i % 40 + 1).toLong))
    val b1 = (1 to 150).map(i => (s"s${i % 2}", (i % 90 + 1).toLong))
    SketchStore.registerHistBy(db, b0.toDF("g", "v"), col("g"), col("v"),
      batchId = 0L)
    SketchStore.foldHistBy(db)
    SketchStore.registerHistBy(db, b1.toDF("g", "v"), col("g"), col("v"),
      batchId = 1L)
    // a streaming retry re-delivers batch 1: same (key, ts) rows
    SketchStore.registerHistBy(db, b1.toDF("g", "v"), col("g"), col("v"),
      batchId = 1L)
    val stored = SketchStore.storedHistQuantilesBy(db).orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesBy((b0 ++ b1).toDF("g", "v"),
        col("g"), col("v")).orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"grouped merge drifted: $stored != $direct")
    // keys stay parseable whatever the group string: the bin is always
    // the last segment, grp travels as a column
    SketchStore.registerHistBy(db, Seq(("with/slash_and%", 5L)).toDF("g", "v"),
      col("g"), col("v"), batchId = 2L)
    val weird = SketchStore.storedHistBy(db)
      .filter(col("grp") === "with/slash_and%")
      .as[(String, Long, Long)].collect().toSeq
    assert(weird == Seq(("with/slash_and%", 0L, 1L)), s"weird grp: $weird")
  }

  test("migrateHistGrid: re-binned store == one-shot sketch at the new " +
      "grid; the property flips atomically and later grids must match") {
    val db = tmpDb()
    val b0 = (1 to 300).map(i => (i % 60 + 1).toLong)
    val b1 = (1 to 200).map(i => (i % 45 + 3).toLong)
    SketchStore.registerHist(db, b0.toDF("v"), col("v"), batchId = 0L)
    SketchStore.registerHist(db, b1.toDF("v"), col("v"), batchId = 1L)
    SketchStore.migrateHistGrid(db, newW = 16L)
    assert(SketchStore.storedHistGrid(db) == ((16L, 0L)))
    def quants(d: Db) = SketchStore.storedHistQuantiles(d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct16 = Sketches.histQuantilesOf((b0 ++ b1).toDF("v"), col("v"),
        w = 16L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(quants(db) == direct16,
      s"migration is not the one-shot sketch: ${quants(db)} != $direct16")
    // the old width is no longer registrable; the new one merges exactly
    val e = intercept[IllegalArgumentException] {
      SketchStore.registerHist(db, b0.toDF("v"), col("v"), batchId = 2L)
    }
    assert(e.getMessage.contains("grid mismatch"), e.getMessage)
    val b2 = (1 to 100).map(i => (i % 90 + 1).toLong)
    SketchStore.registerHist(db, b2.toDF("v"), col("v"), batchId = 2L,
      w = 16L)
    val all16 = Sketches.histQuantilesOf((b0 ++ b1 ++ b2).toDF("v"),
        col("v"), w = 16L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(quants(db) == all16, "post-migration registration drifted")
    // a non-multiple target cannot re-bin exactly — refuse loudly
    val e2 = intercept[IllegalArgumentException] {
      SketchStore.migrateHistGrid(db, newW = 24L)
    }
    assert(e2.getMessage.contains("multiple"), e2.getMessage)
  }

  test("grouped KMV store: per-group union law holds through folds; " +
      "fold bounds each group at k minima") {
    val db = tmpDb()
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"g${i % 3}", s"v$i")).toDF("g", "t")
    SketchStore.registerKmvBy(db, batch(0, 300), col("g"), col("t"), k = 16)
    SketchStore.foldKmvBy(db)
    SketchStore.registerKmvBy(db, batch(150, 450), col("g"), col("t"),
      k = 16)
    val stored = SketchStore.storedKmvEstimateBy(db)
      .as[(String, Long, Long, Long)].collect().toSeq
    val direct = Sketches.kmvDistinctBy(batch(0, 450), "g", col("t"),
        k = 16, exact = false)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"grouped union law violated: $stored")
    // fold + compact bounds the store at groups × k rows
    SketchStore.foldKmvBy(db)
    graft.store.Compactor.major(db)
    val rows = db.snapshot().read("kg/t/%").count()
    assert(rows <= 3 * 16, s"store not bounded: $rows rows")
    assert(SketchStore.storedKmvEstimateBy(db)
      .as[(String, Long, Long, Long)].collect().toSeq == direct,
      "compacted fold changed the estimates")
  }

  test("foldSketches racing trio writers: every family's report survives " +
      "any interleaving") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val db = tmpDb()
    // 6 single-tx trio registrations racing a continuous all-family
    // folder: the shared fence refuses a fold whenever anything moved,
    // so KMV minima, count-min sums AND MG mass all survive — the
    // union write adds nothing the fence doesn't already cover, which
    // is exactly what this pins
    val batches = (0 until 6).map(b =>
      Seq.fill(10)("hot") ++ (0 until 30).map(i => s"w${b * 17 + i}"))
    onPool(7) { implicit ec =>
      val writers = batches.zipWithIndex.map { case (xs, b) =>
        Future {
          SketchStore.registerSketches(db, toks(xs: _*), col("t"),
            batchId = b.toLong, k = 32)
        }
      }
      val folder = Future {
        for (_ <- 0 until 4) SketchStore.foldSketches(db)
      }
      Await.result(Future.sequence(writers :+ folder), 300.seconds)
    }
    SketchStore.foldSketches(db) // quiesced: one final fold
    val all = batches.flatten
    val storedKmv = SketchStore.storedKmvSketch(db)
      .as[Long].collect().toSeq
    val directKmv = Sketches.kmvSketch(toks(all: _*), col("t"), 32)
      .as[Long].collect().toSeq
    assert(storedKmv == directKmv, "racing foldSketches corrupted KMV")
    val cm = SketchStore.probeStoredCountMin(db, toks("hot"), "t")
      .as[(String, Long)].head()._2
    assert(cm >= 60L, s"racing foldSketches lost count-min mass: $cm")
    val hh = SketchStore.storedHeavyHitters(db)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(hh.nonEmpty && hh.head._1 == "hot" && hh.head._3 == all.size,
      s"racing foldSketches corrupted MG: $hh")
  }

  test("grouped MG store: each group's report == the ungrouped store of " +
      "its own substream; fold and replay preserve it") {
    val db = tmpDb()
    // skewed per-group streams under real eviction pressure (c = 8)
    def batch(b: Int) = (1 to 300).map { i =>
      val g = s"g${i % 3}"
      (g, if (i % 5 == 0) s"heavy_$g" else s"tail${b}_$i")
    }
    val (b0, b1) = (batch(0), batch(1))
    SketchStore.registerMgBy(db, b0.toDF("g", "t"), col("g"), col("t"),
      batchId = 0L, c = 8)
    SketchStore.foldMgBy(db)
    SketchStore.registerMgBy(db, b1.toDF("g", "t"), col("g"), col("t"),
      batchId = 1L, c = 8)
    def report(d: Db) = SketchStore.storedHeavyHittersBy(d)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val got = report(db)
    // partition equivalence: the grouped algebra restricted to one group
    // IS the ungrouped algebra on that group's substream — build the
    // ungrouped twin per group and compare exactly
    (0 until 3).foreach { gi =>
      val g = s"g$gi"
      val twin = tmpDb()
      def sub(b: Seq[(String, String)]) =
        b.filter(_._1 == g).map(_._2).toDF("t")
      SketchStore.registerMg(twin, sub(b0), col("t"), batchId = 0L, c = 8)
      SketchStore.registerMg(twin, sub(b1), col("t"), batchId = 1L, c = 8)
      val expect = SketchStore.storedHeavyHitters(twin)
        .as[(String, Long, Long, Long)].collect().toSeq
        .map { case (item, est, n, cert) => (g, item, est, n, cert) }
      assert(got.filter(_._1 == g) == expect,
        s"group $g drifted from its ungrouped twin")
    }
    // every group certifies its heavy item
    assert((0 until 3).forall(gi =>
      got.exists(r => r._1 == s"g$gi" && r._2 == s"heavy_g$gi" &&
        r._5 == 1L)), s"heavy items not certified: $got")
    // replay of batch 1 rewrites the same (key, ts) rows
    val rowsBefore = db.snapshot().read("mg/t/%").count()
    SketchStore.registerMgBy(db, b1.toDF("g", "t"), col("g"), col("t"),
      batchId = 1L, c = 8)
    assert(report(db) == got, "replay changed the grouped report")
    assert(db.snapshot().read("mg/t/%").count() == rowsBefore,
      "replay grew the store")
    // fold + compact bounds the store at (c+1)·groups rows
    SketchStore.foldMgBy(db)
    graft.store.Compactor.major(db)
    assert(report(db) == got, "post-compact fold changed the report")
    val rows = db.snapshot().read("mg/t/%").count() +
      db.snapshot().read("mgn/t/%").count()
    assert(rows <= 3L * 9, s"store not bounded: $rows rows")
  }

  test("grouped MG keys: groups with '/' and '~' never collide with " +
      "item segments") {
    val db = tmpDb()
    // the classic ambiguity: (grp "a/b", item "c") vs (grp "a", item
    // "b/c") — unescaped they'd share key mg/t/a/b/c and one cell would
    // silently vanish under last-wins; '~' exercises the escape's own
    // escape
    val cells = Seq(("a/b", "c"), ("a", "b/c"), ("a~b", "c"), ("a", "~b/c"))
    val rows = cells.flatMap { case (g, i) => Seq.fill(4)((g, i)) }
    SketchStore.registerMgBy(db, rows.toDF("g", "t"), col("g"), col("t"),
      batchId = 0L, c = 8)
    val got = SketchStore.storedHeavyHittersBy(db)
      .as[(String, String, Long, Long, Long)].collect().toSeq
      .map(r => (r._1, r._2, r._3))
    assert(got.toSet == cells.map { case (g, i) => (g, i, 4L) }.toSet,
      s"cells collided or vanished: $got")
  }

  test("migrateHistGridBy: per-group re-bin == one-shot grouped sketch " +
      "at the new grid; histg.w flips atomically") {
    val db = tmpDb()
    val b0 = (1 to 300).map(i => (s"s${i % 3}", (i % 60 + 1).toLong))
    val b1 = (1 to 200).map(i => (s"s${i % 2}", (i % 45 + 3).toLong))
    SketchStore.registerHistBy(db, b0.toDF("g", "v"), col("g"), col("v"),
      batchId = 0L)
    SketchStore.migrateHistGridBy(db, newW = 16L)
    assert(SketchStore.storedHistByGrid(db) == ((16L, 0L)))
    // old-width registrations refuse; the new width merges exactly
    val e = intercept[IllegalArgumentException] {
      SketchStore.registerHistBy(db, b1.toDF("g", "v"), col("g"), col("v"),
        batchId = 1L)
    }
    assert(e.getMessage.contains("grid mismatch"), e.getMessage)
    SketchStore.registerHistBy(db, b1.toDF("g", "v"), col("g"), col("v"),
      batchId = 1L, w = 16L)
    val stored = SketchStore.storedHistQuantilesBy(db).orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesBy((b0 ++ b1).toDF("g", "v"),
        col("g"), col("v"), w = 16L).orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct,
      s"grouped migration drifted: $stored != $direct")
    // the UNGROUPED store's grid under the same tag is untouched — the
    // two stores' geometries are independent properties
    assert(SketchStore.storedHistGrid(db) == ((Sketches.HIST_W, 0L)))
  }

  test("sketch stores coexist with a dedup fingerprint store in one warehouse") {
    val db = tmpDb()
    IncrementalDedup.registerBatch(db,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text")
    SketchStore.registerKmv(db, toks("alpha", "beta"), col("t"))
    SketchStore.registerCountMin(db, toks("alpha"), col("t"), batchId = 0L)
    // each store reads only its prefix
    assert(SketchStore.storedKmvSketch(db).count() == 2)
    assert(SketchStore.storedCountMin(db).count() == Sketches.CM_D)
    val fresh = IncrementalDedup.dropSeenBefore(db,
      Seq((2L, "alpha beta"), (3L, "new one")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(fresh.select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }
}
