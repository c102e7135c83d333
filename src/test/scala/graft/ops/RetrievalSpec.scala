package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 retrieval ([[Retrieval.bm25TopK]]): the formula checked against
  * a by-hand computation, plus the ranking properties that make BM25
  * BM25 — rare-term weighting, tf saturation, length normalization.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], qs: Seq[(Long, String)],
                  k: Int = 10) =
    Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
        qs.toDF("query_id", "qtext"), k)
      .select("query_id", "doc_id", "score_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq

  test("score matches the hand-computed Lucene-variant BM25") {
    // corpus: d0 = "cat dog", d1 = "cat cat cat", d2 = "bird"
    // N=3, avgdl = 6/3 = 2; query "cat": nt=2, idf = ln((3-2+.5)/(2+.5)+1)
    val got = run(
      Seq(0L -> "cat dog", 1L -> "cat cat cat", 2L -> "bird"),
      Seq(0L -> "cat")).map(r => (r._2, r._3)).toMap
    def score(f: Double, dl: Double): Long = {
      val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
      val tfn = f * 2.2 / (f + (dl / 2.0 * 0.75 + 0.25) * 1.2)
      math.round(idf * tfn * 1e6)
    }
    assert(got == Map(0L -> score(1, 2), 1L -> score(3, 3)),
      s"hand check failed: $got")
  }

  test("rare terms dominate; matching nothing yields no row") {
    // 'rare' appears in one doc, 'common' in all four
    val docs = Seq(
      0L -> "common rare", 1L -> "common alpha", 2L -> "common beta",
      3L -> "common gamma")
    val got = run(docs, Seq(0L -> "rare common", 1L -> "absent"))
    assert(got.filter(_._1 == 1L).isEmpty, "no match, no row")
    val top = got.filter(_._1 == 0L).minBy(_._4)
    assert(top._2 == 0L, s"rare-term doc must rank first: $got")
  }

  test("persisted postings index: probe equals the direct path exactly") {
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25").toString)
    val docs = (0L until 200L).map(i =>
      i -> s"w${i % 7} w${i % 13} w${i % 29} common")
    val qs = Seq(0L -> "w3 w12", 1L -> "common w28", 2L -> "absent")
    Retrieval.buildBm25Index(db, docs.toDF("doc_id", "text"),
      "doc_id", "text")
    val direct = run(docs, qs, k = 5)
    val probed = Retrieval.bm25ProbeIndex(db, qs.toDF("query_id", "qtext"), 5)
      .select("query_id", "doc_id", "score_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(probed == direct, s"index drifted from direct:\n$probed\n$direct")
    // term-less query set degrades to an empty result, not an error
    assert(Retrieval.bm25ProbeIndex(db,
      Seq((9L, "")).toDF("query_id", "qtext"), 5).isEmpty)
    // the literal (serving-path) probe is value-identical to the
    // DataFrame path — and launches no term-discovery job
    val lit = Retrieval.bm25ProbeLiteral(db, qs, 5)
      .select("query_id", "doc_id", "score_micro", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(lit == probed, s"literal probe drifted:\n$lit\n$probed")
    assert(Retrieval.bm25ProbeLiteral(db, Seq(9L -> ""), 5).isEmpty)
  }

  test("relational batch probe == literal probe, with no term literals in the plan") {
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25rel").toString)
    val docs = (0L until 200L).map(i =>
      i -> s"w${i % 7} w${i % 13} w${i % 29} common")
    Retrieval.buildBm25Index(db, docs.toDF("doc_id", "text"),
      "doc_id", "text")
    val qs = Seq(0L -> "w3 w12", 1L -> "common w28", 2L -> "absent",
      3L -> "w3 w3 w12") // duplicate terms must collapse like the literal path
    val lit = Retrieval.bm25ProbeIndex(db, qs.toDF("query_id", "qtext"), 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val rel = Retrieval.bm25ProbeRelational(db,
      qs.toDF("query_id", "qtext"), 5)
    val got = rel.as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == lit, s"relational probe drifted:\n$got\n$lit")
    // bounded driver state: the term set must NOT be collected into the
    // plan as isin literals (the batch path's whole reason to exist)
    val plan = rel.queryExecution.optimizedPlan.toString
    assert(!plan.contains("p/w3"),
      s"query terms leaked into the plan as literals:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"expected a semi-join term prune in the plan:\n$plan")
    // empty / term-less query sets degrade to empty results, not errors
    val empty = Retrieval.bm25ProbeRelational(db,
      Seq.empty[(Long, String)].toDF("query_id", "qtext"), 5)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq ==
      Seq("query_id", "doc_id", "score_micro", "rank"))
    assert(Retrieval.bm25ProbeRelational(db,
      Seq((9L, "")).toDF("query_id", "qtext"), 5).collect().isEmpty)
  }

  test("append == rebuild: incremental index equals the from-scratch one") {
    val all = (0L until 120L).map(i => i -> s"w${i % 5} w${i % 11} tail$i")
    val db1 = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25a").toString)
    Retrieval.buildBm25Index(db1, all.toDF("doc_id", "text"),
      "doc_id", "text")
    val db2 = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25b").toString)
    Retrieval.buildBm25Index(db2, all.take(50).toDF("doc_id", "text"),
      "doc_id", "text")
    Retrieval.appendBm25Batch(db2, all.slice(50, 90).toDF("doc_id", "text"),
      "doc_id", "text")
    Retrieval.appendBm25Batch(db2, all.drop(90).toDF("doc_id", "text"),
      "doc_id", "text")
    val qs = Seq(0L -> "w3 w10", 1L -> "tail77 w2")
    def probe(db: graft.store.Db) =
      Retrieval.bm25ProbeIndex(db, qs.toDF("query_id", "qtext"), 10)
        .as[(Long, Long, Long, Long)].collect().toSeq
    assert(probe(db2) == probe(db1),
      "two appends must land on the same index as one build")
    // idempotent re-append: the per-batch ps/ stat partial keys on the
    // batch's max doc id (content-derived), so the same batch landing
    // twice dedupes under last-wins instead of double-counting N / Σdl
    Retrieval.appendBm25Batch(db2, all.drop(90).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(probe(db2) == probe(db1),
      "an idempotent re-append must not change any statistic")
  }

  test("v2 probes touch no corpus-sized relation; v1 stores keep the join path") {
    val docs = (0L until 150L).map(i => i -> s"w${i % 5} w${i % 11} common")
    val qs = Seq(0L -> "w3 common")
    // v2 (current builds): the plan reads the O(batches) ps/ partials
    // and the dl rides inside the matched postings — the corpus-sized
    // pd/ lengths relation appears NOWHERE in the probe plan
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25v2").toString)
    Retrieval.buildBm25Index(db, docs.toDF("doc_id", "text"),
      "doc_id", "text")
    assert(graft.store.Manifest.current(db.warehouse).props
      .get(Retrieval.LayoutProp).contains("2"))
    val probe = Retrieval.bm25ProbeIndex(db, qs.toDF("query_id", "qtext"), 5)
    val got = probe.as[(Long, Long, Long, Long)].collect().toSeq
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("ps/"), s"stats must come from the partials:\n$plan")
    assert(!plan.contains("pd/"),
      "a v2 probe must not scan the corpus-sized lengths relation")
    // legacy v1 store (pre-upgrade writer): postings without dl, no ps/,
    // no layout property — the probe must take the join path and score
    // identically to the direct computation
    val legacy = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25v1").toString)
    val toks = docs.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).map(id -> _)
    }
    val pRows = toks.groupBy(identity).map { case ((id, t), xs) =>
      (s"p/$t", id, t, xs.size.toLong)
    }.toSeq.toDF("key", "ts", "term", "f")
    val dlRows = toks.groupBy(_._1).map { case (id, xs) =>
      ("pd/", id, xs.size.toLong)
    }.toSeq.toDF("key", "ts", "dl")
    graft.store.TxWriter.write(legacy,
      pRows.unionByName(dlRows, allowMissingColumns = true))
    assert(graft.store.Manifest.current(legacy.warehouse).props.isEmpty)
    val legacyProbe = Retrieval.bm25ProbeIndex(legacy,
      qs.toDF("query_id", "qtext"), 5)
    assert(legacyProbe.as[(Long, Long, Long, Long)].collect().toSeq == got,
      "a pre-upgrade store must score identically through the join path")
    assert(legacyProbe.queryExecution.executedPlan.toString.contains("pd/"),
      "the v1 fallback must join the lengths relation")
  }

  test("migrateBm25Layout: index-sized upgrade flips plan, preserves scores, unlocks v2 appends") {
    val docs = (0L until 150L).map(i => i -> s"w${i % 5} w${i % 11} common")
    val qs = Seq(0L -> "w3 common", 1L -> "w10 w4")
    // legacy v1 store: postings without dl, no ps/, no layout property
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25mig").toString)
    val toks = docs.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).map(id -> _)
    }
    val pRows = toks.groupBy(identity).map { case ((id, t), xs) =>
      (s"p/$t", id, t, xs.size.toLong)
    }.toSeq.toDF("key", "ts", "term", "f")
    val dlRows = toks.groupBy(_._1).map { case (id, xs) =>
      ("pd/", id, xs.size.toLong)
    }.toSeq.toDF("key", "ts", "dl")
    graft.store.TxWriter.write(db,
      pRows.unionByName(dlRows, allowMissingColumns = true))
    def probe() = Retrieval.bm25ProbeIndex(db, qs.toDF("query_id", "qtext"), 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "score_micro", "rank")
        .as[(Long, Long, Long, Long)].collect().toSeq
    val before = rows(probe())
    val preVersion = graft.store.Manifest.current(db.warehouse).version
    val txsBefore = db.snapshot().manifest.dataTxids.size

    assert(Retrieval.migrateBm25Layout(db).nonEmpty)
    // one atomic tx; flag rides in the same commit
    assert(db.snapshot().manifest.dataTxids.size == txsBefore + 1)
    assert(graft.store.Manifest.current(db.warehouse).props
      .get(Retrieval.LayoutProp).contains("2"))
    val after = probe()
    assert(rows(after) == before, "migration must not change any score")
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("ps/") && !plan.contains("pd/"),
      s"post-migration probe must plan v2 (partials, no lengths join):\n$plan")
    // idempotent: a second migration is a no-op, not a double-count
    assert(Retrieval.migrateBm25Layout(db).isEmpty)
    assert(rows(probe()) == before)
    // pre-migration snapshots keep the v1 plan (time travel unharmed)
    val old = db.snapshotAt(preVersion)
    assert(!old.manifest.props.contains(Retrieval.LayoutProp))
    // post-migration appends write v2 rows; the whole store must score
    // exactly like a fresh v2 build over the union corpus
    val extra = (150L until 200L).map(i => i -> s"w${i % 5} fresh common")
    Retrieval.appendBm25Batch(db, extra.toDF("doc_id", "text"),
      "doc_id", "text")
    val fresh = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25mig2").toString)
    Retrieval.buildBm25Index(fresh, (docs ++ extra).toDF("doc_id", "text"),
      "doc_id", "text")
    val qs2 = qs :+ (2L -> "fresh w1")
    assert(
      rows(Retrieval.bm25ProbeIndex(db, qs2.toDF("query_id", "qtext"), 5)) ==
        rows(Retrieval.bm25ProbeIndex(fresh, qs2.toDF("query_id", "qtext"), 5)),
      "migrated+appended store must equal a fresh v2 build")
  }

  test("index rebuild supersedes: vanished documents stop matching") {
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25rb").toString)
    Retrieval.buildBm25Index(db,
      Seq(0L -> "gone term", 1L -> "kept term").toDF("doc_id", "text"),
      "doc_id", "text")
    Retrieval.buildBm25Index(db, // rebuild without doc 0
      Seq(1L -> "kept term").toDF("doc_id", "text"), "doc_id", "text")
    val got = Retrieval.bm25ProbeIndex(db,
        Seq(0L -> "term gone").toDF("query_id", "qtext"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L), s"stale postings survived the rebuild: $got")
  }

  test("index rebuild is one commit: no manifest version it creates reads " +
      "an empty index") {
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25one").toString)
    Retrieval.buildBm25Index(db,
      Seq(0L -> "gone term", 1L -> "kept term").toDF("doc_id", "text"),
      "doc_id", "text")
    val before = graft.store.Manifest.versions(db.warehouse).max
    Retrieval.buildBm25Index(db,
      Seq(1L -> "kept term").toDF("doc_id", "text"), "doc_id", "text")
    val created = graft.store.Manifest.versions(db.warehouse).filter(_ > before)
    assert(created.nonEmpty)
    created.foreach { v =>
      assert(!db.snapshotAt(v).read("p/%").isEmpty,
        s"version $v (of ${created.mkString(",")}) reads no postings")
    }
  }

  test("index publish is atomic: every snapshot sees postings and lengths together") {
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25atomic").toString)
    val docs = (0L until 60L).map(i => i -> s"w${i % 4} w${i % 9} common")
    Retrieval.buildBm25Index(db, docs.take(40).toDF("doc_id", "text"),
      "doc_id", "text")
    val txAfterBuild = db.snapshot().manifest.dataTxids.size
    Retrieval.appendBm25Batch(db, docs.drop(40).toDF("doc_id", "text"),
      "doc_id", "text")
    // one logical publish = ONE transaction (a crash or concurrent probe
    // can never land between postings and lengths)
    assert(db.snapshot().manifest.dataTxids.size == txAfterBuild + 1,
      "append must commit postings + lengths as a single transaction")
    // and at EVERY historical version the two relations cover the same
    // documents — the invariant the probe's inner dl join relies on
    graft.store.Manifest.versions(db.warehouse).foreach { v =>
      val snap = db.snapshotAt(v)
      if (snap.manifest.dataTxids.nonEmpty) {
        val pDocs = snap.read("p/%").select(col("ts")).distinct()
          .as[Long].collect().toSet
        val dlDocs = snap.read("pd/").select(col("ts")).distinct()
          .as[Long].collect().toSet
        assert(pDocs == dlDocs,
          s"version $v: postings/lengths doc sets diverge " +
            s"(${pDocs.size} vs ${dlDocs.size})")
      }
    }
  }

  test("probe runs no driver-side stats job: corpus stats stay relational") {
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-bm25jobs").toString)
    val docs = (0L until 80L).map(i => i -> s"w${i % 6} w${i % 11} common")
    Retrieval.buildBm25Index(db, docs.toDF("doc_id", "text"),
      "doc_id", "text")
    val qs = Seq(0L -> "w3 common").toDF("query_id", "qtext")
    Retrieval.bm25ProbeIndex(db, qs, 5).collect() // warm plans/codegen
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE materializes each query stage as its own job, which would blur
    // the count; off, the one permitted collect is exactly one job
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // CONSTRUCTING the probe plan may only run the bounded query-term
      // collect (needed for the key-pushdown In predicate) — never a
      // store-scanning stats action: N/avgdl ride inside the plan as a
      // broadcast one-row aggregate
      val probe = Retrieval.bm25ProbeIndex(db, qs, 5)
      // the listener bus is FIFO: once a marker job's event arrives,
      // every construction-time job event is already counted
      val beforeMarker = {
        spark.range(1).count()
        val deadline = System.nanoTime() + 5000000000L
        var last = -1
        while (jobs.get() != last && System.nanoTime() < deadline) {
          last = jobs.get(); Thread.sleep(100)
        }
        jobs.get()
      }
      val constructionJobs = beforeMarker - 1 // minus the marker's own job
      assert(constructionJobs <= 1,
        s"probe construction ran $constructionJobs jobs — a driver-side " +
          "stats action leaked back into the serving path")
      assert(probe.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("RRF fusion: both-list docs beat single-list docs; missing side adds zero") {
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 11L, 1L), (0L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(a, b, 10)
      .select("doc_id", "rrf", "rank")
      .as[(Long, Double, Long)].collect().toSeq
    // doc 11 appears in both (ranks 2 and 1): 1/62 + 1/61 — first
    assert(got.map(_._1) == Seq(11L, 10L, 12L), s"fusion order: $got")
    val r11 = got.find(_._1 == 11L).get._2
    assert(math.abs(r11 - (1.0 / 62 + 1.0 / 61)) < 1e-9)
    val r10 = got.find(_._1 == 10L).get._2
    assert(math.abs(r10 - 1.0 / 61) < 1e-9, "single-list doc: one term only")
  }

  test("rrfFuseLocal == rrfFuse on overlapping, disjoint and tied lists") {
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      (1L, 20L, 1L), (1L, 21L, 2L))
    val b = Seq((0L, 11L, 1L), (0L, 13L, 2L),
      (1L, 21L, 1L), (1L, 20L, 2L)) // q1: symmetric ranks -> rrf tie
    val rel = Retrieval.rrfFuse(
        a.toDF("query_id", "doc_id", "rank"),
        b.toDF("query_id", "doc_id", "rank"), 10)
      .select("query_id", "doc_id", "rrf", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val loc = Retrieval.rrfFuseLocal(a, b, 10)
    assert(loc == rel, s"local fusion drifted:\n$loc\n$rel")
  }

  test("tf saturates and length normalization penalizes padding") {
    val docs = Seq(
      0L -> "term",
      1L -> ("term " * 10).trim,                   // more tf, same content
      2L -> ("term " + "pad " * 20).trim)          // padded long doc
    val got = run(docs, Seq(0L -> "term")).map(r => (r._2, r._3)).toMap
    // saturation: 10x the tf is far less than 10x the score
    assert(got(1L) < got(0L) * 3, s"tf must saturate: $got")
    // length norm: the padded doc scores below the 1-token doc
    assert(got(2L) < got(0L), s"padding must cost: $got")
  }
}
