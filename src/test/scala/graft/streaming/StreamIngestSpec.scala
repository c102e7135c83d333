package graft.streaming

import graft.SparkSpec
import graft.store.{Db, Manifest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamIngestSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches become transactions; last-wins across batches") {
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-stream"))
    val mem = MemoryStream[(String, Long, Long)]
    val stream = mem.toDF().toDF("key", "ts", "v")
    val cp = tmpDir("graft-cp")

    mem.addData(("a", 1L, 10L), ("b", 1L, 20L))
    StreamIngest.runAvailable(db, stream, cp)
    assert(db.read().count() == 2)

    mem.addData(("a", 1L, 99L), ("c", 1L, 30L)) // upsert a@1 + new key
    StreamIngest.runAvailable(db, stream, cp)
    val got = db.read().select("key", "ts", "v").as[(String, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("a", 1L, 99L), ("b", 1L, 20L), ("c", 1L, 30L)))

    val m = Manifest.current(db.warehouse)
    assert(m.dataTxids.size == 2) // one tx per non-empty batch
  }

  test("replayed batch ids commit exactly once") {
    val db = Db(spark, tmpDir("graft-stream2"))
    val batch = Seq(("k", 1L, 1L)).toDF("key", "ts", "v")
    StreamIngest.commitBatch(db, batch, 0L)
    StreamIngest.commitBatch(db, batch, 0L) // crash-replay of same batch
    assert(db.read().count() == 1)
    assert(Manifest.current(db.warehouse).dataTxids.size == 1)
    StreamIngest.commitBatch(db, batch.withColumn("ts", lit(2L)), 1L)
    assert(db.read().count() == 2)
  }

  test("text-protocol file-drop stream: the sonnerie-serve PUT path") {
    // lines dropped as files → readStream.text → distributed parse →
    // one transaction per micro-batch (S14 semantics end-to-end)
    val inDir = tmpDir("graft-putin")
    val db = Db(spark, tmpDir("graft-put"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "b1.txt"),
      "fib 2020-01-01T00:00:00 u 1\nfib 2020-01-02T00:00:00 u 1\n")
    val stream = graft.text.TextIngest.parseWithFmt(spark,
      spark.readStream.text(inDir).as[String](org.apache.spark.sql.Encoders.STRING))
    StreamIngest.runAvailable(db, stream.toDF(), tmpDir("graft-putcp"))
    assert(db.read("fib").count() == 2)
  }

  test("empty batches never materialize a transaction (create_tx.rs: empty tx)") {
    val db = Db(spark, tmpDir("graft-stream3"))
    StreamIngest.commitBatch(db, Seq.empty[(String, Long, Long)].toDF("key", "ts", "v"), 0L)
    assert(Manifest.current(db.warehouse).dataTxids.isEmpty)
  }

  test("streaming ANN-index maintenance: new vectors searchable per batch") {
    import graft.ops.Similarity
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-annstream"))
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // trained once on the seed corpus (2 clear clusters)
    val seed = Seq(
      (0L, vec(1, 0, 0, 1)), (1L, vec(0, 1, 1, 0)),
      (2L, vec(0.9, 0.1, 0.1, 0.9)), (3L, vec(0.1, 0.9, 0.9, 0.1))
    ).toDF("vec_id", "embedding")
    Similarity.buildIndex(db, seed, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 4)

    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val writer = StreamIngest.indexWriter(db, stream, "vec_id", "embedding",
      m = 2, dim = 4)
      .option("checkpointLocation", tmpDir("graft-anncp"))

    mem.addData((4L, vec(0.95, 0, 0, 0.95))) // cluster-0 arrival
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    mem.addData((5L, vec(0, 0.95, 0.95, 0))) // cluster-1 arrival
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()

    // one tx per batch on top of the build
    assert(Manifest.current(db.warehouse).dataTxids.size == 3)
    // both arrivals are searchable, through the seed-trained quantizer
    val got = Similarity.ivfPqProbePersisted(db,
        seed.filter(col("vec_id") === 2L), "vec_id", "embedding",
        topK = 3, m = 2, dim = 4)
      .select("nn_id").as[Long].collect().toSet
    assert(got.contains(4L), s"cluster-0 arrival not searchable: $got")
    val got1 = Similarity.ivfPqProbePersisted(db,
        seed.filter(col("vec_id") === 3L), "vec_id", "embedding",
        topK = 3, m = 2, dim = 4)
      .select("nn_id").as[Long].collect().toSet
    assert(got1.contains(5L), s"cluster-1 arrival not searchable: $got1")
  }

  test("streaming maintenance of a RESIDUAL index: the flag row steers " +
    "per-batch appends without the writer knowing") {
    import graft.ops.Similarity
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-annstream-res"))
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val seed = Seq(
      (0L, vec(1, 0, 0, 1)), (1L, vec(0, 1, 1, 0)),
      (2L, vec(0.9, 0.1, 0.1, 0.9)), (3L, vec(0.1, 0.9, 0.9, 0.1))
    ).toDF("vec_id", "embedding")
    Similarity.buildIndex(db, seed, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 4, byResidual = true)

    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val writer = StreamIngest.indexWriter(db, stream, "vec_id", "embedding",
      m = 2, dim = 4)
      .option("checkpointLocation", tmpDir("graft-anncp-res"))
    // an exact duplicate of vector 2 arrives via the stream: residual
    // append must encode it with vector 2's codes, so it ranks first for
    // the query equal to vector 2
    mem.addData((9L, vec(0.9, 0.1, 0.1, 0.9)))
    val q = writer.start(); q.processAllAvailable(); q.stop()
    val r = Similarity.ivfPqProbePersisted(db,
        seed.filter(col("vec_id") === 2L), "vec_id", "embedding",
        topK = 2, m = 2, dim = 4)
      .select("nn_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(r.head._1 == 9L,
      s"streamed duplicate should rank 1 on the residual index: ${r.toSeq}")
  }

  test("durable streaming dedup: warehouse-backed seen-set across micro-batches") {
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-dedupstream"))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val cp = tmpDir("graft-dedupcp")
    val forwarded = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): Unit = {
      val q = StreamIngest.dedupWriter(db, stream, "doc_id", "text",
          onFresh = f => forwarded ++=
            f.as[(Long, String)](implicitly).collect())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
    }
    mem.addData(1L -> "alpha", 2L -> "beta")
    run()
    assert(forwarded.toSet == Set(1L -> "alpha", 2L -> "beta"))

    forwarded.clear()
    mem.addData(3L -> "alpha", 4L -> "gamma") // 3 repeats batch-1 content
    run()
    assert(forwarded.toSet == Set(4L -> "gamma"),
      "re-arriving content must not be forwarded")
    // the seen-set is the warehouse, not stream state: a brand-new query
    // (fresh checkpoint = fresh batch ids are NOT fresh state) still dedups
    val store = db.read("h/%")
    assert(store.count() == 3, "one fingerprint per distinct content")
    val direct = graft.ops.IncrementalDedup.dropSeenBefore(db,
      Seq(9L -> "beta", 10L -> "delta").toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, String)].collect().toSet
    assert(direct == Set(10L -> "delta"))
  }

  test("durable streaming NEAR-dedup: band store drops near-copies across batches") {
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-neardedupstream"))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val cp = tmpDir("graft-neardedupcp")
    val forwarded = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): Unit = {
      val q = StreamIngest.nearDedupWriter(db, stream, "doc_id", "text",
          minAgree = 4,
          onFresh = f => forwarded ++=
            f.as[(Long, String)](implicitly).collect())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
    }
    mem.addData(
      1L -> "the quick brown fox jumps over the lazy dog today")
    run()
    assert(forwarded.map(_._1).toSet == Set(1L))

    forwarded.clear()
    mem.addData(
      2L -> "the quick brown fox jumps over the lazy dog tonight", // near
      3L -> "an entirely different document about spark engines")  // fresh
    run()
    assert(forwarded.map(_._1).toSet == Set(3L),
      s"near-copy must not be forwarded: ${forwarded.toSeq}")
    // bands registered only for the two fresh docs
    val bands = graft.ops.Dedup.MINHASH_K / graft.ops.Dedup.LSH_R
    assert(db.read("m/%").count() == 2L * bands)
  }

  test("two streaming sinks on ONE warehouse keep independent batch cursors") {
    // the advertised layout: exact ("h/") and near ("m/") stores in the
    // same warehouse. Each query numbers its batches from 0 — with a
    // shared cursor, whichever sink commits batch 0 first would make the
    // OTHER sink's batch 0 fail the replay guard and vanish.
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-twosinks"))
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    memA.addData(1L -> "exact content one")
    val qa = StreamIngest.dedupWriter(db, memA.toDF().toDF("doc_id", "text"),
        "doc_id", "text")
      .option("checkpointLocation", tmpDir("graft-twosinks-cpa")).start()
    qa.awaitTermination()
    assert(db.read("h/%").count() == 1, "exact sink committed its batch 0")

    // the near sink's OWN batch 0 must still commit
    memB.addData(2L -> "near content two with more words")
    val qb = StreamIngest.nearDedupWriter(db,
        memB.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .option("checkpointLocation", tmpDir("graft-twosinks-cpb")).start()
    qb.awaitTermination()
    val bands = graft.ops.Dedup.MINHASH_K / graft.ops.Dedup.LSH_R
    assert(db.read("m/%").count() == bands.toLong,
      "near sink's batch 0 must not be skipped by the exact sink's cursor")
    // Manifest.current re-parses the published JSON, so these assertions
    // also prove the per-sink cursors survive the round trip
    val m = graft.store.Manifest.current(db.warehouse)
    assert(m.streamBatchFor("dedup") == 0L)
    assert(m.streamBatchFor("neardedup") == 0L)
    assert(m.streamBatch == -1L, "legacy scalar untouched by named sinks")
  }

  test("streaming BM25 maintenance: new documents retrievable per batch") {
    import graft.ops.Retrieval
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-bm25stream"))
    Retrieval.buildBm25Index(db,
      Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val writer = StreamIngest.bm25Writer(db,
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .option("checkpointLocation", tmpDir("graft-bm25cp"))
    mem.addData((2L, "alpha zeta"))
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    val vBefore = Manifest.currentVersion(db.warehouse)
    mem.addData((3L, "zeta zeta eta"))
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()
    // the riders: append rows, cursor and props in ONE fused commit —
    // not append-claim + append-publish + a separate cursor commit
    assert(Manifest.currentVersion(db.warehouse) - vBefore == 1L,
      "ONE manifest commit per bm25 micro-batch")
    val got = Retrieval.bm25ProbeIndex(db,
        Seq((0L, "zeta")).toDF("query_id", "qtext"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L), s"streamed docs not retrievable: $got")
    assert(Manifest.current(db.warehouse).streamBatchFor("bm25") == 1L)
  }

  test("streaming sketch maintenance: running estimates one batch behind the stream") {
    import graft.ops.{Sketches, SketchStore}
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-sketchstream"))
    val mem = MemoryStream[String]
    val writer = StreamIngest.sketchWriter(db, mem.toDF().toDF("t"), "t")
      .option("checkpointLocation", tmpDir("graft-sketchcp"))

    mem.addData((1 to 100).map(i => s"w$i"): _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    val vBefore = Manifest.currentVersion(db.warehouse)
    mem.addData((50 to 150).map(i => s"w$i"): _*) // overlaps batch 0
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()
    // the trio is ONE transaction per micro-batch (union write), and the
    // FUSED protocol claims-and-publishes (cursor included) in a single
    // manifest CAS: exactly ONE commit per micro-batch — not 3 tx × 2 +
    // a cursor commit, and not even claim + publish
    assert(Manifest.current(db.warehouse).dataTxids.size == 2,
      "one transaction per micro-batch")
    assert(Manifest.currentVersion(db.warehouse) - vBefore == 1L,
      "ONE fused claim-and-publish commit — no separate claim or cursor")

    // the stored KMV equals one sketch of everything that ever streamed
    val streamed = ((1 to 100) ++ (50 to 150)).map(i => s"w$i").toDF("t")
    val stored = SketchStore.storedKmvSketch(db).as[Long].collect().toSeq
    val direct = Sketches.kmvSketch(streamed, col("t")).as[Long].collect().toSeq
    assert(stored == direct, "streamed KMV drifted from the batch sketch")
    // count-min: w50..w100 arrived twice — estimates reflect the sum
    val est = SketchStore.probeStoredCountMin(db,
        Seq("w75", "w10", "w150").toDF("t"), "t")
      .as[(String, Long)].collect().toMap
    assert(est("w75") >= 2 && est("w10") >= 1 && est("w150") >= 1,
      s"cross-batch sums missing: $est")
    // MG: the merged summary obeys the one-sided bound over everything
    // that ever streamed (uniform stream — nothing certain-frequent,
    // but estimates must never exceed true counts and mass must sum)
    val mgRows = SketchStore.storedHeavyHitters(db)
      .as[(String, Long, Long, Long)].collect().toSeq
    val trueCnt = ((1 to 100) ++ (50 to 150)).map(i => s"w$i")
      .groupBy(identity).map { case (k, o) => k -> o.size.toLong }
    assert(mgRows.forall(r => r._3 == 201L), s"MG mass drifted: $mgRows")
    assert(mgRows.forall(r => r._2 <= trueCnt(r._1)),
      s"MG over-estimated: $mgRows")
    assert(Manifest.current(db.warehouse).streamBatchFor("sketch") == 1L)
  }

  test("sketch trio auto-fold: ONE atomic supersede bounds all four key " +
      "families and preserves every report") {
    import graft.ops.{Sketches, SketchStore}
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-triofold"))
    val mem = MemoryStream[String]
    val writer = StreamIngest
      .sketchWriter(db, mem.toDF().toDF("t"), "t", foldEvery = 2)
      .option("checkpointLocation", tmpDir("graft-triofoldcp"))

    val batches = (0 until 4).map(b =>
      Seq.fill(40)("x") ++ (1 to 60).map(i => s"w${b * 7 + i}"))
    batches.foreach { toks =>
      mem.addData(toks: _*)
      val q = writer.start(); q.processAllAvailable(); q.stop()
    }
    // batch 3 triggered the second fold: every family's history is ONE
    // folded generation — the store is bounded however long the stream
    // runs. KMV keeps ts = h (its identity), the others fold to FOLD_TS.
    val cmGens = db.read("c/t/%").select("ts").distinct()
      .as[Long].collect().toSet
    assert(cmGens == Set(SketchStore.FOLD_TS), s"unfolded count-min: $cmGens")
    val mgGens = (db.read("m/t/%").select("ts").distinct().as[Long].collect()
      ++ db.read("mn/t").select("ts").distinct().as[Long].collect()).toSet
    assert(mgGens == Set(SketchStore.FOLD_TS), s"unfolded MG: $mgGens")
    assert(db.read("k/t").count() <= Sketches.KMV_K.toLong,
      "KMV store must fold to <= k minima")
    // and no report drifted from the one-shot sketch of everything
    val all = batches.flatten.toDF("t")
    val storedKmv = SketchStore.storedKmvEstimate(db)
      .as[(Long, Long, Long)].collect().toSeq
    val directKmv = Sketches.kmvEstimate(Sketches.kmvSketch(all, col("t")))
      .as[(Long, Long, Long)].collect().toSeq
    assert(storedKmv == directKmv, "folded KMV drifted")
    val est = SketchStore.probeStoredCountMin(db, Seq("x").toDF("t"), "t")
      .as[(String, Long)].collect().toMap
    assert(est("x") >= 160L, s"folded count-min lost mass: $est")
    val hh = SketchStore.storedHeavyHitters(db)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(hh.nonEmpty && hh.head._1 == "x" && hh.head._3 == 400L,
      s"folded MG report drifted: $hh")
  }

  test("grouped KMV sink: streamed per-group estimates == registered " +
      "twin; replay rewrites the same rows") {
    import graft.ops.SketchStore
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-kmvbysink"))
    val mem = MemoryStream[(String, String)]
    val writer = StreamIngest
      .kmvByWriter(db, mem.toDF().toDF("g", "t"), "g", "t")
      .option("checkpointLocation", tmpDir("graft-kmvbycp"))

    val b0 = (1 to 200).map(i => (s"s${i % 3}", s"w${i % 90}"))
    val b1 = (1 to 150).map(i => (s"s${i % 2}", s"w${i % 140}"))
    mem.addData(b0: _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    mem.addData(b1: _*)
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()

    def report(d: Db) = SketchStore.storedKmvEstimateBy(d)
      .as[(String, Long, Long, Long)].collect().toSeq
    val twin = Db(spark, tmpDir("graft-kmvbytwin"))
    SketchStore.registerKmvBy(twin, b0.toDF("g", "t"), col("g"), col("t"))
    SketchStore.registerKmvBy(twin, b1.toDF("g", "t"), col("g"), col("t"))
    val streamed = report(db)
    assert(streamed == report(twin), s"streamed grouped KMV drifted")
    assert(streamed.map(_._1) == Seq("s0", "s1", "s2"))
    // a re-delivered batch rewrites the same (key, ts = h) minima —
    // report and row count unchanged (the union law's idempotency)
    val rowsBefore = db.read("kg/t/%").count()
    SketchStore.registerKmvBy(db, b1.toDF("g", "t"), col("g"), col("t"))
    assert(report(db) == streamed, "replay changed the grouped report")
    assert(db.read("kg/t/%").count() == rowsBefore, "replay grew the store")
    assert(Manifest.current(db.warehouse).streamBatchFor("kmvby") == 1L)
  }

  test("MG sink: streamed report == registered twin; a re-delivered " +
      "batch rewrites the same rows, never doubles") {
    import graft.ops.SketchStore
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-mgsink"))
    val mem = MemoryStream[String]
    val writer = StreamIngest.mgWriter(db, mem.toDF().toDF("t"), "t")
      .option("checkpointLocation", tmpDir("graft-mgcp"))

    val b0 = Seq.fill(60)("x") ++ (1 to 50).map(i => s"u$i")
    val b1 = Seq.fill(40)("x") ++ Seq.fill(30)("y")
    mem.addData(b0: _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    mem.addData(b1: _*)
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()

    def report(d: Db) = SketchStore.storedHeavyHitters(d)
      .as[(String, Long, Long, Long)].collect().toSeq
    // the streamed store equals a directly registered twin
    val twin = Db(spark, tmpDir("graft-mgtwin"))
    SketchStore.registerMg(twin, b0.toDF("t"), col("t"), batchId = 0L)
    SketchStore.registerMg(twin, b1.toDF("t"), col("t"), batchId = 1L)
    val streamed = report(db)
    assert(streamed == report(twin), s"streamed MG drifted: $streamed")
    assert(streamed.head._1 == "x" && streamed.head._2 == 100L)
    // the replay contract under the batch-id guard: re-registering the
    // same batchId rewrites the same (key, ts) rows — report and row
    // count unchanged (last-wins keeps one copy)
    val rowsBefore = db.read("m/t/%").count()
    SketchStore.registerMg(db, b1.toDF("t"), col("t"), batchId = 1L)
    assert(report(db) == streamed, "replay changed the report")
    assert(db.read("m/t/%").count() == rowsBefore, "replay grew the store")
    assert(Manifest.current(db.warehouse).streamBatchFor("mg") == 1L)
  }

  test("grouped MG sink: streamed per-group reports == registered twin " +
      "through an auto-fold") {
    import graft.ops.SketchStore
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-mgbysink"))
    val mem = MemoryStream[(String, String)]
    val writer = StreamIngest
      .mgByWriter(db, mem.toDF().toDF("g", "t"), "g", "t", foldEvery = 1)
      .option("checkpointLocation", tmpDir("graft-mgbycp"))

    def batch(b: Int) = (1 to 200).map { i =>
      val g = s"s${i % 2}"
      // i%10 ∈ {0,1} hits both parities, so EACH group gets its hot item
      (g, if (i % 10 < 2) s"hot_$g" else s"tail${b}_$i")
    }
    val (b0, b1) = (batch(0), batch(1))
    mem.addData(b0: _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    mem.addData(b1: _*)
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()

    def report(d: Db) = SketchStore.storedHeavyHittersBy(d)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val twin = Db(spark, tmpDir("graft-mgbytwin"))
    SketchStore.registerMgBy(twin, b0.toDF("g", "t"), col("g"), col("t"),
      batchId = 0L)
    SketchStore.registerMgBy(twin, b1.toDF("g", "t"), col("g"), col("t"),
      batchId = 1L)
    val streamed = report(db)
    assert(streamed == report(twin), s"streamed grouped MG drifted")
    assert(Seq("s0", "s1").forall(g =>
      streamed.exists(r => r._1 == g && r._2 == s"hot_$g" && r._5 == 1L)),
      s"hot items not certified per group: $streamed")
    assert(Manifest.current(db.warehouse).streamBatchFor("mgby") == 1L)
    // foldEvery=1: both families folded to one generation
    val gens = (db.read("mg/t/%").select("ts").distinct().as[Long].collect()
      ++ db.read("mgn/t/%").select("ts").distinct().as[Long].collect()).toSet
    assert(gens == Set(SketchStore.FOLD_TS), s"unfolded history: $gens")
  }

  test("auto-fold policy: the store stays bounded across 3N batches " +
      "and the cadence is manifest-recorded") {
    import graft.ops.{Sketches, SketchStore}
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-autofold"))
    val mem = MemoryStream[Long]
    val writer = StreamIngest
      .histWriter(db, mem.toDF().toDF("v"), "v", foldEvery = 2)
      .option("checkpointLocation", tmpDir("graft-autofoldcp"))

    val batches = (0 until 6).map(b => (1 to 100).map(i => (i % (30 + b) + 1).toLong))
    batches.foreach { vals =>
      mem.addData(vals: _*)
      val q = writer.start(); q.processAllAvailable(); q.stop()
    }
    // cadence recorded where an operator can read it
    assert(Manifest.current(db.warehouse).props.get("fold.every/hist")
      .contains("2"))
    // the last batch (id 5) triggered a fold, so the whole history is
    // ONE folded generation — the store can never grow past
    // grid + foldEvery·grid rows however long the stream runs
    val gens = db.read("h/t/%").select("ts").distinct()
      .as[Long].collect().toSet
    assert(gens == Set(SketchStore.FOLD_TS), s"unfolded history: $gens")
    // and folding never changed the answer
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf(batches.flatten.toDF("v"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"auto-fold drifted: $stored != $direct")
  }

  test("grouped trio sink: ONE transaction per micro-batch feeds all " +
      "THREE grouped stores (valueCol rider); reports == standalone twins") {
    import graft.ops.SketchStore
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-sketchbysink"))
    val mem = MemoryStream[(String, String, Long)]
    val writer = StreamIngest
      .sketchByWriter(db, mem.toDF().toDF("g", "t", "v"), "g", "t",
        valueCol = Some("v"), foldEvery = 2)
      .option("checkpointLocation", tmpDir("graft-sketchbycp"))

    def batch(b: Int) = (1 to 200).map { i =>
      val g = s"s${i % 2}"
      (g, if (i % 10 < 2) s"hot_$g" else s"w${b * 130 + i % 150}",
        (i % (40 + 7 * b) + 1).toLong)
    }
    val (b0, b1) = (batch(0), batch(1))
    mem.addData(b0: _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    val vBefore = Manifest.currentVersion(db.warehouse)
    mem.addData(b1: _*)
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()
    // one union transaction per micro-batch even WITH the hist rider,
    // through the FUSED protocol (claim-and-publish = 1 commit) — batch
    // 1 additionally folded (foldEvery=2): 1 write commit + the fold's 2
    // (supersedeIf = claim + conditional publish); a separate
    // histByWriter would have paid its own commits per batch, a
    // per-store fold trio 3×2 more
    assert(Manifest.currentVersion(db.warehouse) - vBefore == 3L,
      "ONE fused write commit + ONE fold supersede (claim + publish)")
    // all three grouped reports equal their standalone-store twins
    val twin = Db(spark, tmpDir("graft-sketchbytwin"))
    SketchStore.registerKmvBy(twin, b0.toDF("g", "t", "v"), col("g"), col("t"))
    SketchStore.registerKmvBy(twin, b1.toDF("g", "t", "v"), col("g"), col("t"))
    SketchStore.registerMgBy(twin, b0.toDF("g", "t", "v"), col("g"), col("t"),
      batchId = 0L)
    SketchStore.registerMgBy(twin, b1.toDF("g", "t", "v"), col("g"), col("t"),
      batchId = 1L)
    SketchStore.registerHistBy(twin, b0.toDF("g", "t", "v"), col("g"),
      col("v"), batchId = 0L)
    SketchStore.registerHistBy(twin, b1.toDF("g", "t", "v"), col("g"),
      col("v"), batchId = 1L)
    val kmvGot = SketchStore.storedKmvEstimateBy(db)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(kmvGot == SketchStore.storedKmvEstimateBy(twin)
      .as[(String, Long, Long, Long)].collect().toSeq,
      "grouped-trio KMV drifted from the standalone store")
    val mgGot = SketchStore.storedHeavyHittersBy(db)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(mgGot == SketchStore.storedHeavyHittersBy(twin)
      .as[(String, String, Long, Long, Long)].collect().toSeq,
      "grouped-trio MG drifted from the standalone store")
    val histGot = SketchStore.storedHistQuantilesBy(db).orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(histGot == SketchStore.storedHistQuantilesBy(twin)
      .orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq,
      "grouped-trio hist drifted from the standalone store")
    // ...and the count-min family (the quartet's fourth member rides the
    // same transaction): per-group point probes == the standalone twin
    SketchStore.registerCountMinBy(twin, b0.toDF("g", "t", "v"), col("g"),
      col("t"), batchId = 0L)
    SketchStore.registerCountMinBy(twin, b1.toDF("g", "t", "v"), col("g"),
      col("t"), batchId = 1L)
    val probes = Seq(("s0", "hot_s0"), ("s1", "hot_s1")).toDF("g", "t")
    def cmProbe(d: Db) = SketchStore.probeStoredCountMinBy(d, probes, "g", "t")
      .orderBy("g").as[(String, String, Long)].collect().toSeq
    assert(cmProbe(db) == cmProbe(twin),
      "grouped-trio count-min drifted from the standalone store")
    // the batch-1 fold collapsed every family — cm and hist included —
    // to one generation under ONE supersede
    val gens = (db.read("mg/t/%").select("ts").distinct().as[Long].collect()
      ++ db.read("mgn/t/%").select("ts").distinct().as[Long].collect()
      ++ db.read("cg/t/%").select("ts").distinct().as[Long].collect()
      ++ db.read("hg/t/%").select("ts").distinct().as[Long].collect()).toSet
    assert(gens == Set(SketchStore.FOLD_TS), s"unfolded history: $gens")
    assert(Manifest.current(db.warehouse).streamBatchFor("sketchby") == 1L)
  }

  test("auto-compact policy: transaction-directory count stays bounded " +
      "across 3N batches and the report never drifts") {
    import graft.ops.{Sketches, SketchStore}
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-autocompact"))
    val mem = MemoryStream[Long]
    val writer = StreamIngest
      .histWriter(db, mem.toDF().toDF("v"), "v", foldEvery = 2,
        compactEvery = 2)
      .option("checkpointLocation", tmpDir("graft-autocompactcp"))

    val batches = (0 until 8).map(b =>
      (1 to 100).map(i => (i % (25 + 3 * b) + 1).toLong))
    batches.foreach { vals =>
      mem.addData(vals: _*)
      val q = writer.start(); q.processAllAvailable(); q.stop()
      // the maintenance pair holds at EVERY point, not just the end:
      // between cadence hits at most (reg, reg, fold-replacement) txs
      // sit on top of the compacted base, and at most one fold marker
      val m = Manifest.current(db.warehouse)
      assert(m.dataTxids.size <= 4,
        s"dataTxids unbounded: ${m.dataTxids}")
      assert(m.deleteTxids.size <= 1,
        s"markers unbounded: ${m.deleteTxids}")
    }
    // batch 7 hit both cadences: ONE folded+compacted transaction, zero
    // markers — the steady state a year-long stream converges to
    val end = Manifest.current(db.warehouse)
    assert(end.dataTxids.size == 1, s"not compacted: ${end.dataTxids}")
    assert(end.deleteTxids.isEmpty, s"markers survive: ${end.deleteTxids}")
    assert(end.props.get("compact.every/hist").contains("2"))
    // and the whole maintenance history never changed an answer
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf(batches.flatten.toDF("v"),
        col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"auto-compact drifted: $stored != $direct")
  }

  test("auto-prune policy: manifest version files stay bounded across 3N " +
      "batches and in-window time travel keeps working") {
    import graft.ops.{Sketches, SketchStore}
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-autoprune"))
    val mem = MemoryStream[Long]
    val keep = 5
    val writer = StreamIngest
      .histWriter(db, mem.toDF().toDF("v"), "v", foldEvery = 2,
        compactEvery = 2, keepVersions = keep)
      .option("checkpointLocation", tmpDir("graft-autoprunecp"))
    val batches = (0 until 8).map(b =>
      (1 to 80).map(i => (i % (20 + b) + 1).toLong))
    batches.foreach { vals =>
      mem.addData(vals: _*)
      val q = writer.start(); q.processAllAvailable(); q.stop()
      // between cadence points at most one batch's commits (claim +
      // publish) plus a fold/compact round sit on top of the pruned
      // window — the count can never grow with stream length
      assert(Manifest.versions(db.warehouse).size <= keep + 8,
        s"manifest history unbounded: ${Manifest.versions(db.warehouse)}")
    }
    // batch 7 hit the cadence and the prune runs LAST: exactly the
    // newest `keep` versions remain on disk
    val end = Manifest.versions(db.warehouse)
    assert(end.size <= keep, s"history not pruned: $end")
    assert(end.max == Manifest.currentVersion(db.warehouse))
    // the retention contract is readable off the manifest
    assert(Manifest.current(db.warehouse).props
      .get("keep.versions/hist").contains(keep.toString))
    // time travel inside the retained window still works (what the CLI's
    // --at-version resolves through)
    val snapOld = db.snapshotAt(end.min)
    assert(snapOld.manifest.version == end.min)
    // ...and the maintenance history never changed an answer
    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf(batches.flatten.toDF("v"),
        col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"auto-prune drifted: $stored != $direct")
  }

  test("bm25 sink auto-compact: transaction directories stay bounded and " +
      "probes never drift") {
    import graft.ops.Retrieval
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-bm25auto"))
    Retrieval.buildBm25Index(db,
      Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text")
    val base = Manifest.current(db.warehouse).dataTxids.size
    val mem = MemoryStream[(Long, String)]
    val writer = StreamIngest.bm25Writer(db,
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        compactEvery = 2)
      .option("checkpointLocation", tmpDir("graft-bm25autocp"))
    (0 until 6).foreach { b =>
      mem.addData((10L + b, s"zeta doc$b"))
      val q = writer.start(); q.processAllAvailable(); q.stop()
      val m = Manifest.current(db.warehouse)
      // between cadence points: the compacted base + at most
      // compactEvery batch appends
      assert(m.dataTxids.size <= base + 2,
        s"index tx dirs unbounded: ${m.dataTxids}")
    }
    val end = Manifest.current(db.warehouse)
    assert(end.dataTxids.size == 1, s"not compacted: ${end.dataTxids}")
    assert(end.props.get("compact.every/bm25").contains("2"))
    assert(end.streamBatchFor("bm25") == 5L)
    // every streamed document retrievable through the compacted index
    val got = Retrieval.bm25ProbeIndex(db,
        Seq((0L, "zeta")).toDF("query_id", "qtext"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(got == (0 until 6).map(b => 10L + b).toSet,
      s"post-compaction probe drifted: $got")
  }

  test("grouped histogram sink: streamed per-group envelopes == the " +
      "one-shot grouped sketch") {
    import graft.ops.{Sketches, SketchStore}
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-ghistsink"))
    val mem = MemoryStream[(String, Long)]
    val writer = StreamIngest
      .histByWriter(db, mem.toDF().toDF("g", "v"), "g", "v", foldEvery = 1)
      .option("checkpointLocation", tmpDir("graft-ghistcp"))

    val b0 = (1 to 200).map(i => (s"s${i % 3}", (i % 40 + 1).toLong))
    val b1 = (1 to 150).map(i => (s"s${i % 2}", (i % 90 + 1).toLong))
    mem.addData(b0: _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    mem.addData(b1: _*)
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()

    val stored = SketchStore.storedHistQuantilesBy(db).orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesBy((b0 ++ b1).toDF("g", "v"),
        col("g"), col("v")).orderBy("grp", "qm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"grouped sink drifted: $stored != $direct")
    // foldEvery=1 folded after every batch: one generation remains
    val gens = db.read("hg/t/%").select("ts").distinct()
      .as[Long].collect().toSet
    assert(gens == Set(SketchStore.FOLD_TS), s"unfolded history: $gens")
    assert(Manifest.current(db.warehouse).streamBatchFor("histby") == 1L)
  }

  test("grouped count-min sink: streamed per-group probes == registered " +
      "twin; re-delivery and folds never double-count") {
    import graft.ops.SketchStore
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-cmbysink"))
    val mem = MemoryStream[(String, String)]
    val writer = StreamIngest
      .cmByWriter(db, mem.toDF().toDF("g", "t"), "g", "t", foldEvery = 1)
      .option("checkpointLocation", tmpDir("graft-cmbycp"))
    def batch(b: Int) = (1 to 120).map { i =>
      val g = s"s${i % 2}"
      (g, if (i % 6 < 3) s"hot_$g" else s"w${b * 40 + i % 50}")
    }
    val (b0, b1) = (batch(0), batch(1))
    mem.addData(b0: _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    mem.addData(b1: _*)
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()
    val twin = Db(spark, tmpDir("graft-cmbytwin"))
    SketchStore.registerCountMinBy(twin, b0.toDF("g", "t"), col("g"),
      col("t"), batchId = 0L)
    SketchStore.registerCountMinBy(twin, b1.toDF("g", "t"), col("g"),
      col("t"), batchId = 1L)
    val items = Seq(("s0", "hot_s0"), ("s1", "hot_s1"), ("s0", "hot_s1"))
      .toDF("g", "t")
    def probe(d: Db) = SketchStore.probeStoredCountMinBy(d, items, "g", "t")
      .orderBy("g", "t").as[(String, String, Long)].collect().toSeq
    assert(probe(db) == probe(twin),
      "streamed grouped grid drifted from the registered twin")
    // s0 saw its hot item 40×/batch (i%6 ∈ {0,2} are even), s1 20× —
    // estimates are over-approximations of the TRUE per-group counts,
    // and only in the group's OWN grid
    val got = probe(db).map { case (g, t, e) => (g, t) -> e }.toMap
    assert(got(("s0", "hot_s0")) >= 80 && got(("s1", "hot_s1")) >= 40,
      s"per-group counts: $got")
    assert(got(("s0", "hot_s1")) <= 10, s"per-group isolation: $got")
    // foldEvery=1 folded after every batch: one generation remains
    val gens = db.read("cg/t/%").select("ts").distinct()
      .as[Long].collect().toSet
    assert(gens == Set(SketchStore.FOLD_TS), s"unfolded history: $gens")
    assert(Manifest.current(db.warehouse).streamBatchFor("cmby") == 1L)
  }

  test("maintenance-failure streak: counted per warehouse, escalates at " +
      "MAINT_ESCALATE, resets on the first success") {
    val db = Db(spark, tmpDir("graft-maintfail"))
    assert(StreamIngest.consecutiveMaintenanceFailures(db.warehouse) == 0)
    // a systematic failure (every cadence point throws) must be visible
    // as a growing streak — the signal that distinguishes it from
    // transient contention, which the next cadence point clears
    (1 to StreamIngest.MAINT_ESCALATE + 1).foreach { i =>
      StreamIngest.nonFatalFold(db)(
        throw new IllegalStateException(s"systematic failure $i"))
      assert(StreamIngest.consecutiveMaintenanceFailures(db.warehouse) == i)
    }
    // ...and never kills the caller (the catch IS the contract)
    // one success resets the streak: transient skips don't accumulate
    StreamIngest.nonFatalFold(db)(())
    assert(StreamIngest.consecutiveMaintenanceFailures(db.warehouse) == 0)
    // streaks are per warehouse — a healthy sibling sink stays at 0
    val other = Db(spark, tmpDir("graft-maintok"))
    StreamIngest.nonFatalFold(db)(throw new RuntimeException("again"))
    assert(StreamIngest.consecutiveMaintenanceFailures(other.warehouse) == 0)
    assert(StreamIngest.consecutiveMaintenanceFailures(db.warehouse) == 1)
  }

  test("histogram sink: streamed quantiles == one-shot sketch of everything") {
    import graft.ops.{Sketches, SketchStore}
    implicit val sc = spark.sqlContext
    val db = Db(spark, tmpDir("graft-histsink"))
    val mem = MemoryStream[Long]
    val writer = StreamIngest.histWriter(db, mem.toDF().toDF("v"), "v")
      .option("checkpointLocation", tmpDir("graft-histcp"))

    val b0 = (1 to 400).map(i => (i % 37 + 1).toLong)
    val b1 = (1 to 300).map(i => (i % 250 + 3).toLong)
    mem.addData(b0: _*)
    val q1 = writer.start(); q1.processAllAvailable(); q1.stop()
    mem.addData(b1: _*)
    val q2 = writer.start(); q2.processAllAvailable(); q2.stop()

    val stored = SketchStore.storedHistQuantiles(db)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.histQuantilesOf((b0 ++ b1).toDF("v"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == direct, s"streamed hist drifted: $stored != $direct")
    assert(Manifest.current(db.warehouse).streamBatchFor("hist") == 1L)
  }

  test("a slow writer spanning several maintenance cadence points: folds " +
      "skip on the fence (streak counted), vacuum keeps the live claim, " +
      "the writer commits, the next cadence folds and resets") {
    import graft.ops.SketchStore
    import graft.store.{Compactor, TxWriter}
    val db = Db(spark, tmpDir("graft-slowmaint"))
    // seed the store so folds have something to supersede
    SketchStore.registerKmv(db,
      (1 to 100).map(i => s"w${i % 17}").toDF("t"), col("t"))
    // a REAL TxWriter.write whose parquet job blocks mid-task — the
    // genuine mid-write state (claim registered, tmp-tx-* on disk, no
    // txid= dir yet), not a hand-built imitation of it
    val slow = udf { (x: Long) =>
      SlowWriterGate.entered.countDown()
      SlowWriterGate.release.await(120, java.util.concurrent.TimeUnit.SECONDS)
      x
    }
    @volatile var writerErr: Throwable = null
    val writer = new Thread(() =>
      try {
        TxWriter.write(db, Seq(("slow-row", 7L, 7L)).toDF("key", "ts", "v")
          .withColumn("v", slow(col("v"))))
        ()
      } catch { case t: Throwable => writerErr = t })
    writer.start()
    assert(SlowWriterGate.entered.await(60,
      java.util.concurrent.TimeUnit.SECONDS), "slow write never started")
    try {
      val claims = Manifest.current(db.warehouse).pending.keySet
      assert(claims.nonEmpty, "the slow writer must hold a pending claim")
      // ingest continues: additive registrations need no fence
      SketchStore.registerKmv(db,
        (1 to 60).map(i => s"x${i % 11}").toDF("t"), col("t"))
      // cadence point 1: the auto-fold gives up on the raised fence
      // (bounded wait), the skip is counted, the sink is NOT killed
      StreamIngest.nonFatalFold(db)(
        SketchStore.foldKmv(db, waitMillis = 300L))
      assert(StreamIngest.consecutiveMaintenanceFailures(db.warehouse) == 1)
      // the cadence's vacuum must NOT clear the live writer's claim
      // (its only on-disk trace is the fresh tmp-tx-* directory)
      assert(Compactor.tryVacuum(db))
      assert(Manifest.current(db.warehouse).pending.keySet == claims,
        "vacuum cleared a LIVE writer's claim")
      // cadence point 2, still mid-write: streak climbs, claim survives
      StreamIngest.nonFatalFold(db)(
        SketchStore.foldKmv(db, waitMillis = 300L))
      assert(StreamIngest.consecutiveMaintenanceFailures(db.warehouse) == 2)
    } finally SlowWriterGate.release.countDown()
    writer.join(120000)
    assert(writerErr == null, s"slow writer failed: $writerErr")
    // the writer committed despite spanning two cadence points
    assert(db.read().filter(col("key") === "slow-row").count() == 1)
    assert(Manifest.current(db.warehouse).pending.isEmpty)
    // the next cadence point folds normally and resets the streak;
    // end state bounded: ONE folded kmv generation + the slow tx
    StreamIngest.nonFatalFold(db)(SketchStore.foldKmv(db))
    assert(StreamIngest.consecutiveMaintenanceFailures(db.warehouse) == 0)
    val est = SketchStore.storedKmvEstimate(db)
      .select("est_distinct").as[Long].head()
    assert(est == 28L, s"17 + 11 distinct tokens, got $est") // exact: < k
  }
}

/** Latches for the slow-writer maintenance case — a top-level object so
  * the blocking UDF resolves the SAME singleton after closure
  * deserialization (local mode: one JVM).
  */
private[streaming] object SlowWriterGate {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
