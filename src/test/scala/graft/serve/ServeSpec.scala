package graft.serve

import graft.SparkSpec
import graft.store.{Db, Manifest}

/** The reference's PUT-then-GET lifecycle over HTTP
  * (`src/bin/sonnerie-serve.rs`): PUT text-protocol lines commits one
  * transaction and answers 201 `ok`; GET streams the read pipeline as
  * text-protocol lines; exact keys take the point-lookup path.
  */
class ServeSpec extends SparkSpec {

  private def http(method: String, url: String, body: Option[String] = None)
      : (Int, String) = {
    val c = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    body.foreach { b =>
      c.setDoOutput(true)
      c.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    c.disconnect()
    (code, text)
  }

  /** [[http]] plus the response headers (for the ETag / freshness
    * contract cases).
    */
  private def httpH(method: String, url: String)
      : (Int, String, Map[String, String]) = {
    val c = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    import scala.jdk.CollectionConverters._
    // the JDK server normalizes header-name case — keys are lowercased
    // here so lookups are case-insensitive like HTTP itself
    val hs = c.getHeaderFields.asScala.collect {
      case (k, v) if k != null => k.toLowerCase -> v.asScala.mkString(",")
    }.toMap
    c.disconnect()
    (code, text, hs)
  }

  test("PUT commits one tx (201), GET streams it back (200)") {
    val db = Db(spark, tmpDir("graft-serve"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"

      val (putCode, putBody) = http("PUT", s"$base/", Some(
        "fib 10 u 55\nfib 11 u 89\nother 5 u 7\n"))
      assert(putCode == 201 && putBody == "ok")
      assert(db.snapshot().manifest.dataTxids.size == 1,
        "one PUT = one transaction")

      val (gc, gb) = http("GET", s"$base/fib%25") // %25 = urlencoded %
      assert(gc == 200)
      assert(gb == "fib\t10\t55\nfib\t11\t89\n")

      // exact key → point-lookup path; human timestamps
      val (ec, eb) = http("GET", s"$base/other?human")
      assert(ec == 200 && eb == "other\t1970-01-01T00:00:00.000000005\t7\n")

      // a second PUT is a second tx; GET sees the merged view
      val (p2, _) = http("PUT", s"$base/", Some("fib 10 u 56\n"))
      assert(p2 == 201)
      val (_, merged) = http("GET", s"$base/fib%25")
      assert(merged == "fib\t10\t56\nfib\t11\t89\n",
        "last-wins across PUT transactions")

      val (bc, _) = http("POST", s"$base/x", Some("nope"))
      assert(bc == 400)
    } finally srv.stop()
  }

  test("two server instances over one warehouse stay consistent") {
    // the serving-tier scale shape: N processes (here: instances) share
    // a warehouse with no coordination beyond the manifest — a PUT
    // through one is visible to a GET through the other immediately
    // (each GET's snapshot probe reads the current manifest version)
    val db = Db(spark, tmpDir("graft-serve-pair"))
    val a = new Serve(db).start()
    val b = new Serve(db).start()
    try {
      val (pc, _) = http("PUT", s"http://localhost:${a.boundPort}/",
        Some("k1 5 u 42\n"))
      assert(pc == 201)
      val (gc, gb) = http("GET", s"http://localhost:${b.boundPort}/k1")
      assert(gc == 200 && gb == "k1\t5\t42\n",
        s"second instance must see the first's commit: $gb")
      // and writes interleave safely: the manifest CAS serializes them
      val (p2, _) = http("PUT", s"http://localhost:${b.boundPort}/",
        Some("k1 5 u 43\n"))
      assert(p2 == 201)
      val (_, ga) = http("GET", s"http://localhost:${a.boundPort}/k1")
      assert(ga == "k1\t5\t43\n", s"last-wins across instances: $ga")
      assert(db.snapshot().manifest.dataTxids.size == 2)
    } finally { a.stop(); b.stop() }
  }

  test("GET /_query/ann and /_query/hybrid serve per-store warehouses") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (0L, vec(1, 0, 0, 0, 0, 0, 0, 1)),
      (1L, vec(0, 1, 0, 0, 0, 0, 1, 0)),
      (2L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)),
      (3L, vec(0.1, 0.9, 0, 0, 0, 0, 0.9, 0.1)),
      (4L, vec(0.8, 0, 0.1, 0, 0, 0.1, 0, 0.8))
    ).toDF("vec_id", "embedding")
    val docs = Seq(0L -> "alpha beta", 1L -> "beta gamma", 2L -> "alpha alpha",
      3L -> "gamma delta", 4L -> "alpha delta").toDF("doc_id", "text")
    // one warehouse PER STORE: the ANN index fixes a width-1 bucket-per-
    // cell layout at first write (warehouse-sticky), so co-locating the
    // BM25 store (ts = doc_id) would mint one tbucket dir per DOCUMENT —
    // measured pathological at 100k docs
    val db = Db(spark, tmpDir("graft-serve-hybrid"))
    val annDb = Db(spark, tmpDir("graft-serve-hybrid-ann"))
    graft.ops.Similarity.buildIndex(annDb, emb, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 8)
    graft.ops.Retrieval.buildBm25Index(db, docs, "doc_id", "text")
    val srv = new Serve(db, annDb = Some(annDb)).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val q = "0.9,0.1,0,0,0,0,0.1,0.9"
      // dense verb == the direct persisted probe with query_id = -1
      val (ac, ab) = http("GET", s"$base/_query/ann?vec=$q&k=3&m=2&dim=8")
      assert(ac == 200, ab)
      val wantAnn = graft.ops.Similarity.ivfPqProbePersisted(annDb,
          Seq((-1L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)))
            .toDF("vec_id", "embedding"),
          "vec_id", "embedding", 3, m = 2, dim = 8)
        .select("nn_id", "adist", "rank")
        .as[(Long, Long, Int)].collect().sortBy(_._3)
        .map { case (d, a, r) => s"$d $a $r" }.mkString("", "\n", "\n")
      assert(ab == wantAnn, s"ann verb drifted:\n$ab\nvs\n$wantAnn")
      // hybrid verb: RRF of both probes, served atop the same snapshot
      val (hc, hb) = http("GET",
        s"$base/_query/hybrid?q=alpha&vec=$q&k=3&fetch=5&m=2&dim=8")
      assert(hc == 200, hb)
      val hits = hb.trim.linesIterator.map(_.split(' ')).toSeq
      assert(hits.size == 3 && hits.head.length == 3, s"hybrid shape: $hb")
      // the fused winner must score contributions from BOTH lists: doc 2
      // is top lexically ("alpha alpha") AND densest to the query vector
      assert(hits.head(0) == "2", s"both-list doc must fuse first:\n$hb")
      // and the verb equals the RELATIONAL fusion of the same probes
      // end to end (the driver-fusion fast path may not drift)
      val lex = graft.ops.Retrieval.bm25ProbeLiteral(db, Seq((-1L, "alpha")), 5)
      val dense = graft.ops.Similarity.ivfPqProbePersisted(annDb,
          Seq((-1L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)))
            .toDF("vec_id", "embedding"),
          "vec_id", "embedding", 5, m = 2, dim = 8)
        .select(col("query_id"), col("nn_id").as("doc_id"), col("rank"))
      val wantHyb = graft.ops.Retrieval.rrfFuse(lex, dense, 3)
        .select("doc_id", "rrf", "rank")
        .as[(Long, Double, Long)].collect()
        .map { case (d, s, r) => s"$d $s $r" }.mkString("", "\n", "\n")
      val (hc2, hb2) = http("GET",
        s"$base/_query/hybrid?q=alpha&vec=$q&k=3&fetch=5&m=2&dim=8")
      assert(hc2 == 200 && hb2 == wantHyb,
        s"hybrid verb drifted from relational fusion:\n$hb2\nvs\n$wantHyb")
      // parameter validation
      assert(http("GET", s"$base/_query/ann?vec=not,numbers")._1 == 400)
      assert(http("GET", s"$base/_query/hybrid?q=alpha")._1 == 400)
      assert(http("GET",
        s"$base/_query/hybrid?q=alpha&vec=$q&k=20&fetch=5")._1 == 400)
      // a server without an attached ANN warehouse refuses the verbs
      val bare = new Serve(db).start()
      try assert(http("GET",
        s"http://localhost:${bare.boundPort}/_query/ann?vec=$q")._1 == 500)
      finally bare.stop()
    } finally srv.stop()
  }

  test("GET /_query/bm25 serves the persisted postings index") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val db = Db(spark, tmpDir("graft-serve-bm25"))
    val docs = (0L until 50L).map(i => i -> s"w${i % 4} w${i % 9} common")
    graft.ops.Retrieval.buildBm25Index(db, docs.toDF("doc_id", "text"),
      "doc_id", "text")
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val (code, bodyText) = http("GET", s"$base/_query/bm25?q=w3%20common&k=5")
      assert(code == 200)
      val want = graft.ops.Retrieval.bm25ProbeIndex(db,
          Seq((0L, "w3 common")).toDF("query_id", "qtext"), 5)
        .select("doc_id", "score_micro", "rank")
        .as[(Long, Long, Long)].collect()
        .map { case (d, s, r) => s"$d $s $r" }.mkString("", "\n", "\n")
      assert(bodyText == want, s"served list drifted from the probe:\n$bodyText")
      // an APPEND is visible to the very next query — snapshot-atomic,
      // like data reads
      graft.ops.Retrieval.appendBm25Batch(db,
        Seq(100L -> "w3 w3 w3").toDF("doc_id", "text"),
        "doc_id", "text")
      val (_, after) = http("GET", s"$base/_query/bm25?q=w3%20common&k=5")
      assert(after.linesIterator.exists(_.startsWith("100 ")),
        s"appended doc must be served: $after")
      // version-keyed result cache: a repeat serves from cache, a
      // commit (new manifest version) recomputes — never stale
      val hits0 = srv.queryCacheHits
      val (_, again) = http("GET", s"$base/_query/bm25?q=w3%20common&k=5")
      assert(srv.queryCacheHits == hits0 + 1 && again == after,
        "identical request under an unchanged version must hit the cache")
      graft.ops.Retrieval.appendBm25Batch(db,
        Seq(101L -> "w3 w3 w3 w3").toDF("doc_id", "text"), "doc_id", "text")
      val (_, fresh) = http("GET", s"$base/_query/bm25?q=w3%20common&k=5")
      assert(srv.queryCacheHits == hits0 + 1,
        "a commit must change the cache key")
      assert(fresh.linesIterator.exists(_.startsWith("101 ")),
        s"post-commit answer must be recomputed: $fresh")
      // parameter validation
      assert(http("GET", s"$base/_query/bm25")._1 == 400)
      assert(http("GET", s"$base/_query/bm25?q=w3&k=0")._1 == 400)
      // an index-less warehouse answers 500 with the require message
      val db2 = Db(spark, tmpDir("graft-serve-nobm25"))
      val srv2 = new Serve(db2).start()
      try {
        val (c2, b2) = http("GET",
          s"http://localhost:${srv2.boundPort}/_query/bm25?q=w3")
        assert(c2 == 500 && b2.contains("no BM25 index"), s"$c2 $b2")
      } finally srv2.stop()
    } finally srv.stop()
  }

  test("snapshot cache: GETs within the TTL share one snapshot; a commit invalidates it") {
    val db = Db(spark, tmpDir("graft-serve3"))
    val srv = new Serve(db).start() // default TTL 10s >> test duration
    try {
      val base = s"http://localhost:${srv.boundPort}"
      http("PUT", s"$base/", Some("a 1 u 1\n"))
      assert(srv.snapshotLoads == 0, "PUT must not build a read snapshot")

      val (_, first) = http("GET", s"$base/a")
      assert(first == "a\t1\t1\n")
      assert(srv.snapshotLoads == 1)
      val (_, second) = http("GET", s"$base/a")
      assert(second == first)
      assert(srv.snapshotLoads == 1,
        "second GET within the TTL must reuse the cached snapshot")

      // a commit bumps the manifest version → the next GET must see the
      // new data immediately (version probe, no 10s staleness window)
      http("PUT", s"$base/", Some("a 2 u 2\n"))
      val (_, after) = http("GET", s"$base/a")
      assert(after == "a\t1\t1\na\t2\t2\n")
      assert(srv.snapshotLoads == 2,
        "a commit within the TTL must invalidate the cached snapshot")
      http("GET", s"$base/a")
      assert(srv.snapshotLoads == 2, "and the refreshed snapshot is cached again")
    } finally srv.stop()
  }

  test("point-lookup GETs serve from the version-keyed result cache") {
    val db = Db(spark, tmpDir("graft-serve-ptcache"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      http("PUT", s"$base/", Some("k1 5 u 42\n"))
      val h0 = srv.queryCacheHits
      val (c1, b1) = http("GET", s"$base/k1")
      val (c2, b2) = http("GET", s"$base/k1")
      assert(c1 == 200 && b1 == "k1\t5\t42\n" && c2 == 200 && b2 == b1)
      assert(srv.queryCacheHits == h0 + 1,
        "a repeated point lookup must serve from the result cache")
      // never stale: a commit mints a new version → new cache key
      http("PUT", s"$base/", Some("k1 6 u 43\n"))
      val (_, b3) = http("GET", s"$base/k1")
      assert(b3 == "k1\t5\t42\nk1\t6\t43\n", s"stale answer served: $b3")
      assert(srv.queryCacheHits == h0 + 1,
        "a commit must change the cache key")
      // ?human is part of the key (different rendering, same version)
      val (_, bh) = http("GET", s"$base/k1?human")
      assert(bh.startsWith("k1\t1970-01-01T"), bh)
    } finally srv.stop()
  }

  test("GET /_status reports versions and cache counters") {
    val db = Db(spark, tmpDir("graft-serve-status"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val (c0, b0) = http("GET", s"$base/_status")
      assert(c0 == 200 && b0.contains("\"version\":0"), b0)
      http("PUT", s"$base/", Some("k1 5 u 42\n"))
      http("GET", s"$base/k1") // compute
      http("GET", s"$base/k1") // cache hit
      val (_, b1) = http("GET", s"$base/_status")
      assert(b1.contains("\"queryCacheHits\":1") &&
        b1.contains("\"snapshotLoads\":1") &&
        b1.contains("\"annVersion\":-1") &&
        b1.contains("\"staleMillis\":0") &&
        b1.contains("\"pendingClaims\":0") &&
        !b1.contains("\"version\":0"), b1)
    } finally srv.stop()
  }

  test("GET /_query/stats serves the sketch stores; fresh registrations " +
      "are visible; absent stores answer empty sections") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val db = Db(spark, tmpDir("graft-serve-stats"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      // an empty warehouse: the verb answers, all sections empty
      val (c0, b0) = http("GET", s"$base/_query/stats")
      assert(c0 == 200 && b0.contains("\"estDistinct\":0") &&
        b0.contains("\"quantiles\":[]") && b0.contains("\"heavy\":[]"), b0)

      // register the three stores: tokens (KMV + MG) + values (hist)
      val toks = (Seq.fill(60)("hot") ++ (1 to 40).map(i => s"cold$i"))
        .toDF("t")
      graft.ops.SketchStore.registerKmv(db, toks, col("t"))
      graft.ops.SketchStore.registerMg(db, toks, col("t"), batchId = 0L)
      graft.ops.SketchStore.registerHist(db,
        (1 to 100).map(_.toLong).toDF("v"), col("v"), batchId = 0L)

      val (c1, b1) = http("GET", s"$base/_query/stats?heavy=3")
      assert(c1 == 200, b1)
      // 41 distinct < k=64: the KMV section is exact
      assert(b1.contains("\"estDistinct\":41") &&
        b1.contains("\"kmvExactBelowK\":true"), b1)
      // "hot" is 60 of 100 MG elements — certified frequent
      assert(b1.contains("\"item\":\"hot\",\"est\":60,\"certain\":1"), b1)
      assert(b1.contains("\"mgN\":100"), b1)
      // hist: 100 values 1..100, median envelope covers 50
      assert(b1.contains("\"histN\":100"), b1)
      val q50 = "\"qm\":500,\"lo\":(\\d+),\"hi\":(\\d+)".r
      val m = q50.findFirstMatchIn(b1).getOrElse(fail(s"no qm=500 in $b1"))
      assert(m.group(1).toLong <= 50 && 50 < m.group(2).toLong, b1)

      // version-keyed cache: the same URI serves from cache until a
      // commit moves the version, then recomputes against the new store
      val h0 = srv.queryCacheHits
      http("GET", s"$base/_query/stats?heavy=3")
      assert(srv.queryCacheHits == h0 + 1, "stats must ride the cache")
      graft.ops.SketchStore.registerMg(db, Seq.fill(50)("hot").toDF("t"),
        col("t"), batchId = 1L)
      val (_, b2) = http("GET", s"$base/_query/stats?heavy=3")
      assert(b2.contains("\"item\":\"hot\",\"est\":110") &&
        b2.contains("\"mgN\":150"), b2)

      // freshness fields: the body says which manifest version it
      // derives from, which batch each sink cursor reflects, and — after
      // a fold — which fold txid the report includes (fold.last prop,
      // recorded IN the fold's own publishing commit)
      assert(b2.contains(
        s""""version":${Manifest.currentVersion(db.warehouse)}"""), b2)
      assert(b2.contains("\"folds\":{}"), s"no fold ran yet: $b2")
      val foldTx = graft.ops.SketchStore.foldMg(db)
      val (_, b3) = http("GET", s"$base/_query/stats?heavy=3")
      assert(b3.contains(s""""folds":{"mg":$foldTx}"""), b3)
      assert(b3.contains(
        s""""version":${Manifest.currentVersion(db.warehouse)}"""), b3)
      // a cursor-riding registration surfaces in the cursors map
      graft.ops.SketchStore.registerMg(db, Seq.fill(5)("hot").toDF("t"),
        col("t"), batchId = 2L, cursor = Some(("mgsink", 2L)))
      val (_, b4) = http("GET", s"$base/_query/stats?heavy=3")
      assert(b4.contains("\"cursors\":{\"mgsink\":2}"), b4)
      // items= adds count-min point probes for ANY named item — the
      // section the heavy-k list can't answer; absent items ⟹ no freq
      // section at all
      graft.ops.SketchStore.registerCountMin(db, toks, col("t"),
        batchId = 0L)
      val (_, b5) = http("GET", s"$base/_query/stats?heavy=1&items=hot,nope")
      assert(b5.contains(
        """"freq":[{"item":"hot","est":60},{"item":"nope","est":0}]"""), b5)
      assert(!b4.contains("\"freq\""), b4)
    } finally srv.stop()
  }

  test("ETag/If-None-Match: a client holding the current generation " +
      "gets 304; a commit changes the tag") {
    val db = Db(spark, tmpDir("graft-serve-etag"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      http("PUT", s"$base/", Some("k1 5 u 42\n"))
      def getWithEtag(url: String, inm: Option[String]): (Int, String) = {
        val c = new java.net.URL(url).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        inm.foreach(c.setRequestProperty("If-None-Match", _))
        val code = c.getResponseCode
        val tag = Option(c.getHeaderField("ETag")).getOrElse("")
        c.disconnect(); (code, tag)
      }
      val (c0, tag0) = getWithEtag(s"$base/k1", None)
      assert(c0 == 200 && tag0.nonEmpty, s"$c0 $tag0")
      // same generation: conditional GET answers 304, no recompute
      val (c1, tag1) = getWithEtag(s"$base/k1", Some(tag0))
      assert(c1 == 304 && tag1 == tag0, s"$c1 $tag1")
      // the /_query verbs speak the same contract
      graft.ops.Retrieval.buildBm25Index(db,
        { import spark.implicits._
          Seq((1L, "alpha beta")).toDF("doc_id", "text") }, "doc_id", "text")
      val (b0, btag) = getWithEtag(s"$base/_query/bm25?q=alpha", None)
      assert(b0 == 200 && btag.nonEmpty)
      assert(getWithEtag(s"$base/_query/bm25?q=alpha", Some(btag))._1 == 304)
      // a commit moves the generation: the old tag revalidates to 200
      http("PUT", s"$base/", Some("k1 6 u 43\n"))
      val (c2, tag2) = getWithEtag(s"$base/k1", Some(tag0))
      assert(c2 == 200 && tag2 != tag0, s"$c2 $tag2")
    } finally srv.stop()
  }

  test("result cache evicts by byte budget, oldest first") {
    val db = Db(spark, tmpDir("graft-serve-budget"))
    // tiny budget: each answer is ~10 bytes, so 5 lookups overflow it
    val srv = new Serve(db, queryCacheMaxBytes = 25).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      http("PUT", s"$base/", Some(
        (1 to 5).map(i => s"k$i ${i}000 u $i").mkString("\n")))
      (1 to 5).foreach(i => http("GET", s"$base/k$i"))
      assert(srv.queryCacheByteSize <= 25,
        s"budget exceeded: ${srv.queryCacheByteSize}")
      val h0 = srv.queryCacheHits
      http("GET", s"$base/k5") // newest still cached
      assert(srv.queryCacheHits == h0 + 1, "newest entry must survive")
      http("GET", s"$base/k1") // oldest evicted → recompute
      assert(srv.queryCacheHits == h0 + 1, "oldest entry must be evicted")
    } finally srv.stop()
  }

  test("PUT bodies spool through a temp file, never the driver heap") {
    val db = Db(spark, tmpDir("graft-serve-spool"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      // a body big enough that heap-buffering would be visible as a
      // design, while staying test-fast: 60k lines (~1.2 MB) — the
      // reference external-sorts PUT bodies through a tempfile
      // (sonnerie-serve.rs:114-185); this server must spool likewise
      val n = 60000
      val body = (0 until n).map(i => f"k$i%06d ${i.toLong} u $i").mkString("\n")
      val spooled0 = srv.putBytesSpooled
      val (code, resp) = http("PUT", s"$base/", Some(body))
      assert(code == 201 && resp == "ok")
      assert(srv.putBytesSpooled - spooled0 == body.getBytes("UTF-8").length,
        "the whole body must pass through the spool file")
      assert(db.snapshot().manifest.dataTxids.size == 1,
        "spooled PUT is still ONE atomic transaction")
      assert(db.read("%").count() == n)
      // point read through the same server to close the loop
      val (gc, gb) = http("GET", s"$base/k000042")
      assert(gc == 200 && gb == "k000042\t42\t42\n")
      // a result bigger than the cache entry cap (60k lines ≈ 1.2 MB)
      // overflows to the chunked streaming path — complete and uncached
      val hits0 = srv.queryCacheHits
      val (wc, wb) = http("GET", s"$base/k%25")
      assert(wc == 200 && wb.linesIterator.size == n, s"got ${wb.length} bytes")
      val (_, wb2) = http("GET", s"$base/k%25")
      assert(wb2 == wb)
      assert(srv.queryCacheHits == hits0,
        "oversized bodies must not enter the result cache")
      // empty body degrades like before: one empty tx, not an error
      val (ec, _) = http("PUT", s"$base/", Some(""))
      assert(ec == 201)
    } finally srv.stop()
  }

  test("GET /_query/stats?by serves per-group envelopes from the " +
      "grouped hist store") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val db = Db(spark, tmpDir("graft-serve-statsby"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val batch = (1 to 50).map(i => ("a", (i % 10 + 1).toLong)) ++
        (1 to 80).map(i => ("b", (i % 100 + 1).toLong))
      graft.ops.SketchStore.registerHistBy(db, batch.toDF("src", "v"),
        col("src"), col("v"), batchId = 0L)
      val (c, body) = http("GET", s"$base/_query/stats?by=src")
      assert(c == 200, body)
      assert(body.contains("\"grp\":\"a\"") && body.contains("\"grp\":\"b\""),
        body)
      assert(body.contains("\"n\":50") && body.contains("\"n\":80"), body)
      // the grouped verb rides the version-keyed cache like the rest
      val h0 = srv.queryCacheHits
      val (_, body2) = http("GET", s"$base/_query/stats?by=src")
      assert(body2 == body && srv.queryCacheHits > h0)
      // grp= narrows to one source; groups= bounds the report loudly
      val (_, one) = http("GET", s"$base/_query/stats?by=src&grp=a")
      assert(one.contains("\"grp\":\"a\"") && !one.contains("\"grp\":\"b\""),
        one)
      val (_, capped) = http("GET", s"$base/_query/stats?by=src&groups=1")
      assert(capped.contains("\"truncated\":true") &&
        !capped.contains("\"grp\":\"b\""), capped)
      // kind=kmv serves the grouped distinct estimates (same cap/ETag
      // contract — the kind is part of the URI so the cache keys differ)
      graft.ops.SketchStore.registerKmvBy(db,
        (1 to 40).map(i => (s"g${i % 2}", s"w${i % 9}")).toDF("src", "t"),
        col("src"), col("t"))
      val (kc, kbody) = http("GET", s"$base/_query/stats?by=src&kind=kmv")
      assert(kc == 200, kbody)
      assert(kbody.contains("\"kind\":\"kmv\",\"k\":64") &&
        kbody.contains("\"grp\":\"g0\",\"estDistinct\":9") &&
        kbody.contains("\"grp\":\"g1\",\"estDistinct\":9"), kbody)
      val (_, kcap) =
        http("GET", s"$base/_query/stats?by=src&kind=kmv&groups=1")
      assert(kcap.contains("\"truncated\":true") &&
        !kcap.contains("\"grp\":\"g1\""), kcap)
      // kind=mg serves the grouped certified frequent items, heavy= per
      // group
      // g2 is the candidate-less edge: 130 distinct single-count items
      // under c=128 truncate to NOTHING (every f equals the (c+1)-th
      // largest), leaving mass but no items
      graft.ops.SketchStore.registerMgBy(db,
        (Seq.fill(30)(("g0", "hot0")) ++ Seq.fill(20)(("g1", "hot1")) ++
          (1 to 10).map(i => ("g1", s"c$i")) ++
          (1 to 130).map(i => ("g2", s"u$i"))).toDF("src", "t"),
        col("src"), col("t"), batchId = 0L)
      val (mc, mbody) =
        http("GET", s"$base/_query/stats?by=src&kind=mg&heavy=1")
      assert(mc == 200, mbody)
      assert(mbody.contains("\"kind\":\"mg\",\"c\":128") &&
        mbody.contains(
          """{"grp":"g0","n":30,"heavy":[{"item":"hot0","est":30,"certain":1}]}""") &&
        mbody.contains(
          """{"grp":"g1","n":30,"heavy":[{"item":"hot1","est":20,"certain":1}]}"""),
        mbody)
      // the group set is MASS-defined at every heavy= value: the
      // candidate-less group reports its n with an empty item list
      // instead of appearing and disappearing as the knob moves
      assert(mbody.contains("""{"grp":"g2","n":130,"heavy":[]}"""), mbody)
      // heavy=0 honors the cap like the ungrouped path: masses only
      val (zc, zbody) =
        http("GET", s"$base/_query/stats?by=src&kind=mg&heavy=0")
      assert(zc == 200 && zbody.contains("\"heavy\":[]") &&
        zbody.contains("\"grp\":\"g0\",\"n\":30") &&
        zbody.contains("\"grp\":\"g2\",\"n\":130") &&
        !zbody.contains("hot0"), zbody)
      // kind=cm serves point-frequency probes against the grouped grids
      // — any item, not just heavy ones; items= is required
      graft.ops.SketchStore.registerCountMinBy(db,
        (Seq.fill(7)(("g0", "x")) ++ Seq.fill(3)(("g1", "x")) ++
          Seq.fill(5)(("g1", "y"))).toDF("src", "t"),
        col("src"), col("t"), batchId = 0L)
      val (cc, cbody) =
        http("GET", s"$base/_query/stats?by=src&kind=cm&items=x,y")
      assert(cc == 200, cbody)
      assert(cbody.contains("\"kind\":\"cm\",\"d\":4,\"w\":1024") &&
        cbody.contains(
          """{"grp":"g0","items":[{"item":"x","est":7},{"item":"y","est":0}]}""") &&
        cbody.contains(
          """{"grp":"g1","items":[{"item":"x","est":3},{"item":"y","est":5}]}"""),
        cbody)
      // grp= narrows to one source; a missing items= is a 400
      val (c1, cone) =
        http("GET", s"$base/_query/stats?by=src&kind=cm&items=x&grp=g1")
      assert(c1 == 200 && cone.contains("\"grp\":\"g1\"") &&
        !cone.contains("\"grp\":\"g0\""), cone)
      assert(http("GET", s"$base/_query/stats?by=src&kind=cm")._1 == 400)
      // the groups × items CROSS PRODUCT is bounded by one cap (10k)
      // computed from the ACTUAL selected group count, not the groups=
      // knob: a huge knob on this 2-group store is a 4-entry body and
      // passes…
      val (pc, pbody) = http("GET",
        s"$base/_query/stats?by=src&kind=cm&groups=10000&items=x,y")
      assert(pc == 200 && pbody.contains("\"grp\":\"g0\""), s"$pc $pbody")
      // …while a store really holding >100 groups probed with 100 items
      // exceeds the cap and is refused loudly BEFORE the probe runs
      graft.ops.SketchStore.registerCountMinBy(db,
        (0 until 120).map(g => (f"wide$g%03d", "z")).toDF("src", "t"),
        col("src"), col("t"), batchId = 1L)
      val manyItems = (0 until 100).map(i => s"i$i").mkString(",")
      val (qc, qbody) = http("GET",
        s"$base/_query/stats?by=src&kind=cm&groups=10000&items=$manyItems")
      assert(qc == 400 && qbody.contains("product"), s"$qc $qbody")
      // grp= narrows the actual group count to 1, so the same items
      // list passes — the cap bounds the ACTUAL product, not the knobs
      assert(http("GET",
        s"$base/_query/stats?by=src&kind=cm&groups=10000&items=$manyItems&grp=g1")
        ._1 == 200)
      // an unknown kind answers 400, not a silent hist fallback
      val (bc, bbody) = http("GET", s"$base/_query/stats?by=src&kind=nope")
      assert(bc == 400, s"$bc $bbody")
      // and the ungrouped report still answers on the same warehouse
      val (uc, ubody) = http("GET", s"$base/_query/stats")
      assert(uc == 200 && ubody.contains("\"histN\":0"), ubody)
    } finally srv.stop()
  }

  test("X-Graft-Freshness: bm25/ann/hybrid responses carry the " +
      "generation (version + cursors) they derive from, tracking appends") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (0L, vec(1, 0, 0, 0, 0, 0, 0, 1)),
      (1L, vec(0, 1, 0, 0, 0, 0, 1, 0)),
      (2L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9))
    ).toDF("vec_id", "embedding")
    val docs = Seq(0L -> "alpha beta", 1L -> "beta gamma",
      2L -> "alpha alpha").toDF("doc_id", "text")
    val db = Db(spark, tmpDir("graft-serve-fresh"))
    val annDb = Db(spark, tmpDir("graft-serve-fresh-ann"))
    graft.ops.Similarity.buildIndex(annDb, emb, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 8)
    graft.ops.Retrieval.buildBm25Index(db, docs, "doc_id", "text")
    val srv = new Serve(db, annDb = Some(annDb)).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val q = "0.9,0.1,0,0,0,0,0.1,0.9"
      // bm25 (data warehouse): the header states the exact manifest
      // version the hits derive from, plus the streaming cursors (none
      // registered here — an empty object, not a missing field)
      val (c0, _, h0) = httpH("GET", s"$base/_query/bm25?q=alpha&k=3")
      assert(c0 == 200)
      val f0 = h0("x-graft-freshness")
      val v0 = Manifest.currentVersion(db.warehouse)
      assert(f0.contains(s""""version":$v0""") &&
        f0.contains(""""cursors":{}"""), f0)
      // an append moves the claimed generation — the very next response
      // (a recompute: new cache key) claims the NEW version
      graft.ops.Retrieval.appendBm25Batch(db,
        Seq(100L -> "alpha alpha alpha").toDF("doc_id", "text"),
        "doc_id", "text")
      val (_, _, h1) = httpH("GET", s"$base/_query/bm25?q=alpha&k=3")
      val v1 = Manifest.currentVersion(db.warehouse)
      assert(v1 > v0, "append must mint a version")
      assert(h1("x-graft-freshness").contains(s""""version":$v1"""),
        h1("x-graft-freshness"))
      // a cache HIT carries the same header (the key pins the version)
      val (_, _, h2) = httpH("GET", s"$base/_query/bm25?q=alpha&k=3")
      assert(h2("x-graft-freshness") == h1("x-graft-freshness"))
      // ann (index warehouse only): annVersion, no data-warehouse field
      val (ca, _, ha) = httpH("GET", s"$base/_query/ann?vec=$q&k=2&m=2&dim=8")
      assert(ca == 200)
      val fa = ha("x-graft-freshness")
      val av = Manifest.currentVersion(annDb.warehouse)
      assert(fa.contains(s""""annVersion":$av""") &&
        !fa.contains("\"version\""), fa)
      // hybrid: BOTH generations, each tracked independently
      val (ch, _, hh) = httpH("GET",
        s"$base/_query/hybrid?q=alpha&vec=$q&k=2&fetch=3&m=2&dim=8")
      assert(ch == 200)
      val fh = hh("x-graft-freshness")
      assert(fh.contains(s""""version":$v1""") &&
        fh.contains(s""""annVersion":$av"""), fh)
      // the stats verb carries the fields in-body AND the header rides
      // along uniformly
      val (cs, sbody, hs) = httpH("GET", s"$base/_query/stats")
      assert(cs == 200 && sbody.contains(s""""version":$v1""") &&
        hs.contains("x-graft-freshness"), sbody)
    } finally srv.stop()
  }

  test("GET /_query/stats?kind=ann reports index occupancy + claimed " +
      "geometry from the ANN warehouse; cache keys on the ANN generation") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (0L, vec(1, 0, 0, 0, 0, 0, 0, 1)),
      (1L, vec(0, 1, 0, 0, 0, 0, 1, 0)),
      (2L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)),
      (3L, vec(0.1, 0.9, 0, 0, 0, 0, 0.9, 0.1)),
      (4L, vec(0.8, 0, 0.1, 0, 0, 0.1, 0, 0.8))
    ).toDF("vec_id", "embedding")
    val db = Db(spark, tmpDir("graft-serve-annstats"))
    val annDb = Db(spark, tmpDir("graft-serve-annstats-ann"))
    graft.ops.Similarity.buildIndex(annDb, emb, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 8)
    val srv = new Serve(db, annDb = Some(annDb)).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val (c0, b0) = http("GET", s"$base/_query/stats?kind=ann")
      assert(c0 == 200, b0)
      assert(b0.contains("\"kind\":\"ann\"") &&
        b0.contains("\"nCells\":2") && b0.contains("\"nCodes\":5") &&
        b0.contains("\"m\":2") && b0.contains("\"dim\":8") &&
        b0.contains("\"occMax\":3"), b0)
      // the decision fields ride the same body: deadCells, occSkew
      // (occMax/occP50 — both land on the top cell of this 2-cell index) and
      // the one-word advice — balanced occupancy ⇒ refine (the
      // measured default)
      assert(b0.contains("\"deadCells\":0") &&
        b0.contains("\"occSkew\":1.0000") &&
        b0.contains("\"advice\":\"refine\""), b0)
      // an index append moves the ANN generation: the report must not
      // serve the stale cached occupancy (the cache keys on annVersion)
      graft.ops.Similarity.appendToIndex(annDb,
        Seq((9L, vec(1, 0, 0, 0, 0, 0, 0, 1)))
          .toDF("vec_id", "embedding"), "vec_id", "embedding",
        m = 2, dim = 8)
      val (c1, b1) = http("GET", s"$base/_query/stats?kind=ann")
      assert(c1 == 200 && b1.contains("\"nCodes\":6"), b1)
      // no ANN warehouse bound → loud 400, never a guessed answer
      val bare = new Serve(db).start()
      try assert(http("GET",
        s"http://localhost:${bare.boundPort}/_query/stats?kind=ann")
        ._1 == 400)
      finally bare.stop()
    } finally srv.stop()
  }

  test("a cached hit under a lagging staleness probe still carries the " +
      "generation its body was computed at: freshness rides the entry") {
    import spark.implicits._
    val db = Db(spark, tmpDir("graft-serve-freshcache"))
    graft.ops.Retrieval.buildBm25Index(db,
      Seq(0L -> "alpha beta", 1L -> "beta gamma").toDF("doc_id", "text"),
      "doc_id", "text")
    // a 60 s staleness window: the generation probe (and so the cache
    // key) lags commits — the regime where a hit's generation can have
    // moved underneath it
    val srv = new Serve(db, staleMillis = 60000L).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val (c0, b0, h0) = httpH("GET", s"$base/_query/bm25?q=alpha&k=3")
      assert(c0 == 200)
      val v0 = Manifest.currentVersion(db.warehouse)
      val f0 = h0("x-graft-freshness")
      assert(f0.contains(s""""version":$v0"""), f0)
      // a commit moves the manifest; within the window the next request
      // is a cache HIT serving the OLD generation's body — the header
      // must state that old generation (matching the body), not be
      // suppressed because the manifest moved
      graft.ops.Retrieval.appendBm25Batch(db,
        Seq(9L -> "alpha alpha").toDF("doc_id", "text"), "doc_id", "text")
      assert(Manifest.currentVersion(db.warehouse) > v0)
      val hitsBefore = srv.queryCacheHits
      val (c1, b1, h1) = httpH("GET", s"$base/_query/bm25?q=alpha&k=3")
      assert(c1 == 200 && b1 == b0,
        "the stale-window answer is the cached old-generation body")
      assert(srv.queryCacheHits > hitsBefore, "must be served from cache")
      assert(h1.get("x-graft-freshness").contains(f0),
        s"hit must carry the OLD generation's header: ${h1.get("x-graft-freshness")}")
    } finally srv.stop()
  }

  test("maintFailStreak is persisted: a _status reader with no in-JVM " +
      "counter (another process) sees the streak rise and reset") {
    val db = Db(spark, tmpDir("graft-serve-maintxp"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      (1 to 2).foreach(_ => graft.streaming.MaintTestHook.forceFailure(db))
      // drop the in-JVM counter: what a second PROCESS serving the same
      // warehouse has — the persisted manifest property must carry it
      graft.streaming.MaintTestHook.clearInJvm(db)
      assert(http("GET", s"$base/_status")._2
        .contains("\"maintFailStreak\":2"))
      // one successful cadence point clears the persisted streak too
      graft.streaming.MaintTestHook.forceSuccess(db)
      graft.streaming.MaintTestHook.clearInJvm(db)
      assert(http("GET", s"$base/_status")._2
        .contains("\"maintFailStreak\":0"))
      assert(!Manifest.current(db.warehouse).props
        .contains(graft.streaming.StreamIngest.MAINT_STREAK_PROP),
        "steady state carries no streak property at all")
    } finally srv.stop()
  }

  test("GET /_status surfaces the auto-maintenance failure streak per " +
      "warehouse: rises across failed cadence points, resets on success") {
    val db = Db(spark, tmpDir("graft-serve-maint"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      assert(http("GET", s"$base/_status")._2
        .contains("\"maintFailStreak\":0"))
      // three forced failed cadence points (the systematic-failure
      // regime nonFatalFold escalates on) — the field a health check
      // polls must rise with the streak…
      (1 to 3).foreach(_ => graft.streaming.MaintTestHook.forceFailure(db))
      val (_, b1) = http("GET", s"$base/_status")
      assert(b1.contains("\"maintFailStreak\":3") &&
        b1.contains("\"annMaintFailStreak\":0"), b1)
      // …and reset to 0 after one successful cadence point
      graft.streaming.MaintTestHook.forceSuccess(db)
      assert(http("GET", s"$base/_status")._2
        .contains("\"maintFailStreak\":0"))
    } finally srv.stop()
  }

  test("PUT past maxPutBytes answers 413, commits nothing, frees the spool") {
    val db = Db(spark, tmpDir("graft-serve-cap"))
    val srv = new Serve(db, maxPutBytes = 1024).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val spoolsBefore = java.nio.file.Files
        .list(java.nio.file.Path.of(System.getProperty("java.io.tmpdir")))
        .filter(_.getFileName.toString.startsWith("graft-put-spool")).count()
      val big = (0 until 200).map(i => s"k$i ${i}0 u $i").mkString("\n")
      assert(big.length > 1024)
      val spooled0 = srv.putBytesSpooled
      val (code, body) = http("PUT", s"$base/", Some(big))
      assert(code == 413 && body.contains("maxPutBytes"), s"$code $body")
      assert(db.snapshot().manifest.dataTxids.isEmpty,
        "an oversized PUT must commit nothing")
      assert(srv.putBytesSpooled == spooled0,
        "refused bytes must not count as spooled")
      val spoolsAfter = java.nio.file.Files
        .list(java.nio.file.Path.of(System.getProperty("java.io.tmpdir")))
        .filter(_.getFileName.toString.startsWith("graft-put-spool")).count()
      assert(spoolsAfter <= spoolsBefore, "spool file must be deleted")
      // a body under the cap still commits
      val (ok, _) = http("PUT", s"$base/", Some("k1 5 u 42\n"))
      assert(ok == 201)
      assert(db.snapshot().manifest.dataTxids.size == 1)
    } finally srv.stop()
  }

  test("whitespace-only PUT lines (tabs, \\r) are dropped, not 500s") {
    val db = Db(spark, tmpDir("graft-serve-ws"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      // the old driver-side String.trim dropped ALL whitespace-only
      // lines; the Spark filter must match that (trim() alone strips
      // only spaces — a lone "\t" line would reach the parser and 500)
      val (code, body) = http("PUT", s"$base/",
        Some("\t\n  \n\r\nk1 5 u 42\n\n"))
      assert(code == 201 && body == "ok", s"$code $body")
      val (gc, gb) = http("GET", s"$base/k1")
      assert(gc == 200 && gb == "k1\t5\t42\n")
    } finally srv.stop()
  }

  test("staleMillis: inside the window reads may serve the previous " +
      "generation; past it the commit is visible") {
    val db = Db(spark, tmpDir("graft-serve-stale"))
    // long window: the second GET must reuse the first's generation
    // probe even though a commit landed in between — the reference's
    // reader-cache contract, opt-in (default stays never-stale, pinned
    // by the snapshot-cache and ETag tests above)
    val srv = new Serve(db, staleMillis = 600000).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      http("PUT", s"$base/", Some("k1 5 u 42\n"))
      val (_, a) = http("GET", s"$base/k1")
      assert(a == "k1\t5\t42\n")
      http("PUT", s"$base/", Some("k1 5 u 99\n"))
      val (_, b) = http("GET", s"$base/k1")
      assert(b == a, "inside the window the old generation serves")
    } finally srv.stop()
    val srv2 = new Serve(db, staleMillis = 200).start()
    try {
      val base = s"http://localhost:${srv2.boundPort}"
      val (_, a) = http("GET", s"$base/k1") // primes the probe
      assert(a == "k1\t5\t99\n")
      http("PUT", s"$base/", Some("k1 5 u 7\n"))
      Thread.sleep(600) // the window expires
      val (_, b) = http("GET", s"$base/k1")
      assert(b == "k1\t5\t7\n", s"staleness must be BOUNDED: $b")
    } finally srv2.stop()
  }

  test("warehouse recreated at the same path: old ETags and cached " +
      "bodies never revalidate against the new store") {
    val dir = tmpDir("graft-serve-recreate")
    val db = Db(spark, dir)
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      http("PUT", s"$base/", Some("k1 5 u 42\n"))
      def getWithEtag(url: String, inm: Option[String])
          : (Int, String, String) = {
        val c = new java.net.URL(url).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        inm.foreach(c.setRequestProperty("If-None-Match", _))
        val code = c.getResponseCode
        val tag = Option(c.getHeaderField("ETag")).getOrElse("")
        val text =
          if (code == 304) ""
          else scala.io.Source.fromInputStream(c.getInputStream, "UTF-8")
            .mkString
        c.disconnect(); (code, tag, text)
      }
      val (c0, tag0, body0) = getWithEtag(s"$base/k1", None)
      assert(c0 == 200 && body0 == "k1\t5\t42\n")
      assert(getWithEtag(s"$base/k1", Some(tag0))._1 == 304)
      val verOld = graft.store.Manifest.currentVersion(dir)
      // delete + recreate the warehouse with the SAME number of commits
      // so the manifest version coincides — the trap a version-only tag
      // falls into (the recreated store would 304 old clients and serve
      // the long-lived server's cached bodies)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Path.of(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.delete)
      val (rc, _) = http("PUT", s"$base/", Some("k1 5 u 99\n"))
      assert(rc == 201)
      assert(graft.store.Manifest.currentVersion(dir) == verOld,
        "test setup: versions must coincide to exercise the trap")
      val (c1, tag1, body1) = getWithEtag(s"$base/k1", Some(tag0))
      assert(c1 == 200, "old-warehouse tag must NOT revalidate")
      assert(tag1 != tag0, "identity must move the tag")
      assert(body1 == "k1\t5\t99\n",
        "the recreated store's data, not the cached old body")
    } finally srv.stop()
  }

  test("ANN probe geometry comes from the index meta; mismatched params answer 400") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (0L, vec(1, 0, 0, 0, 0, 0, 0, 1)),
      (1L, vec(0, 1, 0, 0, 0, 0, 1, 0)),
      (2L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)),
      (3L, vec(0.1, 0.9, 0, 0, 0, 0, 0.9, 0.1))
    ).toDF("vec_id", "embedding")
    val db = Db(spark, tmpDir("graft-serve-geom"))
    val annDb = Db(spark, tmpDir("graft-serve-geom-ann"))
    graft.ops.Similarity.buildIndex(annDb, emb, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 8)
    // the stored geometry is discoverable without any caller assertion
    assert(graft.ops.Similarity.indexGeometry(annDb).contains((2, 8)))
    val srv = new Serve(db, annDb = Some(annDb)).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val q = "0.9,0.1,0,0,0,0,0.1,0.9"
      // params are OPTIONAL now: the index's own meta drives the probe
      val (c0, b0) = http("GET", s"$base/_query/ann?vec=$q&k=3")
      assert(c0 == 200, b0)
      // agreeing params still work
      assert(http("GET", s"$base/_query/ann?vec=$q&k=3&m=2&dim=8")._1 == 200)
      // DISAGREEING params are a 400 with the stored geometry named —
      // before this guard they scored garbage ADC distances silently
      val (cm, bm) = http("GET", s"$base/_query/ann?vec=$q&k=3&m=4")
      assert(cm == 400 && bm.contains("index geometry m=2"), s"$cm $bm")
      val (cd, bd) = http("GET", s"$base/_query/ann?vec=$q&k=3&dim=16")
      assert(cd == 400 && bd.contains("index geometry dim=8"), s"$cd $bd")
      // a wrong-arity vector is a 400 too, not a garbage probe
      val (cv, bv) = http("GET", s"$base/_query/ann?vec=1,2,3&k=3")
      assert(cv == 400 && bv.contains("expects 8"), s"$cv $bv")
      // hybrid validates identically
      graft.ops.Retrieval.buildBm25Index(db,
        Seq(0L -> "alpha beta").toDF("doc_id", "text"), "doc_id", "text")
      val (ch, bh) = http("GET",
        s"$base/_query/hybrid?q=alpha&vec=$q&k=3&fetch=5&m=4")
      assert(ch == 400 && bh.contains("index geometry m=2"), s"$ch $bh")
      // result-cache isolation: each verb's key carries only the
      // versions it READS, so a commit to the other store cannot evict
      val h0 = srv.queryCacheHits
      http("GET", s"$base/_query/ann?vec=$q&k=2&nonce=iso") // compute
      http("GET", s"$base/_query/ann?vec=$q&k=2&nonce=iso") // hit
      assert(srv.queryCacheHits == h0 + 1)
      graft.ops.Retrieval.appendBm25Batch(db, // a DATA-store commit
        Seq(9L -> "beta beta").toDF("doc_id", "text"), "doc_id", "text")
      http("GET", s"$base/_query/ann?vec=$q&k=2&nonce=iso") // still a hit
      assert(srv.queryCacheHits == h0 + 2,
        "a data commit must not evict cached ANN answers")
      http("GET", s"$base/_query/bm25?q=alpha&k=2&nonce=iso") // compute
      graft.ops.Similarity.appendToIndex(annDb, // an ANN-store commit
        Seq((7L, vec(0.7, 0, 0, 0, 0, 0, 0, 0.7))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", m = 2, dim = 8)
      http("GET", s"$base/_query/bm25?q=alpha&k=2&nonce=iso") // still a hit
      assert(srv.queryCacheHits == h0 + 3,
        "an ANN commit must not evict cached BM25 answers")
    } finally srv.stop()
  }

  test("hybrid verb under a concurrent writer: every response is ONE committed generation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb0 = Seq(
      (0L, vec(1, 0, 0, 0, 0, 0, 0, 1)),
      (1L, vec(0, 1, 0, 0, 0, 0, 1, 0)),
      (2L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)),
      (3L, vec(0.1, 0.9, 0, 0, 0, 0, 0.9, 0.1))
    ).toDF("vec_id", "embedding")
    val docs0 = Seq(0L -> "alpha beta", 1L -> "beta gamma",
      2L -> "alpha alpha", 3L -> "gamma delta").toDF("doc_id", "text")
    // appended generations are designed to CHANGE the fused top-3, so
    // distinct index generations give distinct response bodies
    val docAppends = Seq(
      Seq(10L -> "alpha alpha alpha"),
      Seq(11L -> "alpha alpha alpha alpha"))
    val annAppend = Seq((12L, vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)))

    val qv = vec(0.9, 0.1, 0, 0, 0, 0, 0.1, 0.9)
    def lexList(d: Db): Seq[(Long, Long, Long)] =
      graft.ops.Retrieval.bm25ProbeLiteral(d, Seq((-1L, "alpha")), 5)
        .select(col("query_id"), col("doc_id"), col("rank"))
        .as[(Long, Long, Long)].collect().toSeq
    def denseList(a: Db): Seq[(Long, Long, Long)] =
      graft.ops.Similarity.ivfPqProbePersisted(a,
          Seq((-1L, qv)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", 5, m = 2, dim = 8)
        .select(col("query_id"), col("nn_id"), col("rank").cast("long"))
        .as[(Long, Long, Long)].collect().toSeq
    def fuse(lex: Seq[(Long, Long, Long)],
             den: Seq[(Long, Long, Long)]): String =
      graft.ops.Retrieval.rrfFuseLocal(lex, den, 3)
        .map { case (_, d, s, r) => s"$d $s $r" }
        .mkString("", "\n", "\n")

    // twin replay: capture each committed generation's rank lists by
    // running the SAME commit sequence on twin warehouses up front
    val twinDb = Db(spark, tmpDir("graft-serve-race-twin"))
    val twinAnn = Db(spark, tmpDir("graft-serve-race-twinann"))
    graft.ops.Retrieval.buildBm25Index(twinDb, docs0, "doc_id", "text")
    graft.ops.Similarity.buildIndex(twinAnn, emb0, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 8)
    val lexGens = scala.collection.mutable.ArrayBuffer(lexList(twinDb))
    docAppends.foreach { batch =>
      graft.ops.Retrieval.appendBm25Batch(twinDb,
        batch.toDF("doc_id", "text"), "doc_id", "text")
      lexGens += lexList(twinDb)
    }
    val denseGens = scala.collection.mutable.ArrayBuffer(denseList(twinAnn))
    graft.ops.Similarity.appendToIndex(twinAnn,
      annAppend.toDF("vec_id", "embedding"), "vec_id", "embedding",
      m = 2, dim = 8)
    denseGens += denseList(twinAnn)
    // every (data generation, ann generation) combination is a valid
    // atomic answer; anything else means a response mixed generations
    val valid = (for (l <- lexGens; d <- denseGens) yield fuse(l, d)).toSet
    assert(valid.size >= 4, s"generations must be distinguishable: $valid")

    val db = Db(spark, tmpDir("graft-serve-race"))
    val annDb = Db(spark, tmpDir("graft-serve-race-ann"))
    graft.ops.Retrieval.buildBm25Index(db, docs0, "doc_id", "text")
    graft.ops.Similarity.buildIndex(annDb, emb0, "vec_id", "embedding",
      nCells = 2, m = 2, k = 4, dim = 8)
    val srv = new Serve(db, annDb = Some(annDb)).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val qs = qv.mkString(",")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      // the clients' own pool: 4 busy readers + the writer would hold
      // every thread of the one-per-core global pool on a 4-core machine
      val clients = java.util.concurrent.Executors.newFixedThreadPool(5)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(clients)
      try {
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        val bodies = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        val readers = (1 to 4).map { r =>
          Future {
            var i = 0
            while (!done.get()) {
              // nonce busts the version-keyed result cache so each probe
              // really races the writer
              val (c, b) = http("GET",
                s"$base/_query/hybrid?q=alpha&vec=$qs&k=3&fetch=5&nonce=$r-$i")
              assert(c == 200, s"$c $b")
              bodies.add(b)
              i += 1
            }
          }
        }
        val writer = Future {
          docAppends.foreach { batch =>
            Thread.sleep(150)
            graft.ops.Retrieval.appendBm25Batch(db,
              batch.toDF("doc_id", "text"), "doc_id", "text")
          }
          Thread.sleep(150)
          graft.ops.Similarity.appendToIndex(annDb,
            annAppend.toDF("vec_id", "embedding"), "vec_id", "embedding",
            m = 2, dim = 8)
          Thread.sleep(150)
          done.set(true)
        }
        Await.result(Future.sequence(readers :+ writer), 300.seconds)
        import scala.jdk.CollectionConverters._
        val observed = bodies.asScala.toSet
        assert(observed.nonEmpty)
        val rogue = observed -- valid
        assert(rogue.isEmpty,
          s"responses mixing index generations observed:\n${rogue.mkString("---\n")}")
        // after the writer settles, the served answer is the FINAL generation
        val (_, settled) = http("GET",
          s"$base/_query/hybrid?q=alpha&vec=$qs&k=3&fetch=5&nonce=final")
        assert(settled == fuse(lexGens.last, denseGens.last),
          s"settled answer must be the last generation:\n$settled")
      } finally clients.shutdownNow()
    } finally srv.stop()
  }

  test("hybrid verb answers while every global-pool thread is held") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val db = Db(spark, tmpDir("graft-serve-starve"))
    val annDb = Db(spark, tmpDir("graft-serve-starve-ann"))
    graft.ops.Retrieval.buildBm25Index(db,
      Seq(0L -> "alpha beta", 1L -> "beta gamma").toDF("doc_id", "text"),
      "doc_id", "text")
    graft.ops.Similarity.buildIndex(annDb, Seq(
        (0L, vec(1, 0, 0, 0, 0, 0, 0, 1)),
        (1L, vec(0, 1, 0, 0, 0, 0, 1, 0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCells = 2, m = 2, k = 2, dim = 8)
    val srv = new Serve(db, annDb = Some(annDb)).start()
    // occupy every thread of ExecutionContext.global with tasks that
    // block outside `blocking {}` (so the pool adds no spare threads),
    // the way busy client Futures in the same JVM would
    val global = scala.concurrent.ExecutionContext.global
    val release = new java.util.concurrent.CountDownLatch(1)
    val holders = Runtime.getRuntime.availableProcessors
    val held = new java.util.concurrent.CountDownLatch(holders)
    val probeRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      (1 to holders).foreach(_ => global.execute { () =>
        held.countDown(); release.await() })
      assert(held.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "could not occupy the global pool")
      global.execute(() => probeRan.set(true))
      val q = vec(1, 0, 0, 0, 0, 0, 0, 1).mkString(",")
      // bounded: a starved server must fail this test, not hang the suite
      val c = new java.net.URL(s"http://localhost:${srv.boundPort}" +
        s"/_query/hybrid?q=alpha&vec=$q&k=2&fetch=2").openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      c.setReadTimeout(120000)
      val code = c.getResponseCode
      val body = scala.io.Source.fromInputStream(c.getInputStream, "UTF-8")
        .mkString
      c.disconnect()
      // doc 0 holds "alpha" and is the query vector itself: first in
      // both rank lists, so first in the fused answer
      assert(code == 200 && body.startsWith("0 "), s"$code $body")
      assert(!probeRan.get(), "the global pool was not fully held")
    } finally {
      release.countDown()
      srv.stop()
    }
  }

  test("concurrent PUTs each commit atomically (manifest CAS under load)") {
    val db = Db(spark, tmpDir("graft-serve2"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(Future.sequence((1 to 4).map { i =>
        Future(http("PUT", s"$base/", Some(s"k$i 1 u $i\nk$i 2 u ${i * 10}\n")))
      }), 120.seconds)
      assert(results.forall(_._1 == 201), s"results: $results")
      assert(db.snapshot().manifest.dataTxids.size == 4,
        "every concurrent PUT must land as its own transaction")
      val (_, all) = http("GET", s"$base/k%25")
      assert(all.linesIterator.size == 8, s"got:\n$all")
    } finally srv.stop()
  }

  test("concurrent GETs of different keys run their jobs under their own " +
      "request's description") {
    val db = Db(spark, tmpDir("graft-serve-desc"))
    val srv = new Serve(db).start()
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))) match {
          case Some("serve-desc-drain") => drained.countDown()
          case Some(d)                  => descs.add(d)
          case None                     => descs.add("<none>")
        }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      assert(http("PUT", s"$base/", Some("ka 1 u 1\nkb 2 u 2\n"))._1 == 201)
      spark.sparkContext.addSparkListener(listener)
      val go = new java.util.concurrent.CountDownLatch(1)
      val gets = Seq("ka", "kb").map(k => pool.submit(
        (() => { go.await(); http("GET", s"$base/$k") })
          : java.util.concurrent.Callable[(Int, String)]))
      go.countDown()
      assert(gets.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)) ==
        Seq((200, "ka\t1\t1\n"), (200, "kb\t2\t2\n")))
      // the listener bus is FIFO: once this job's start arrives, every
      // job the GETs ran has been seen
      spark.sparkContext.setJobDescription("serve-desc-drain")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      // (a delayed start event of the PUT may still reach the listener)
      val seen = descs.asScala.toSeq.distinct.filterNot(_.startsWith("PUT "))
      assert(seen.size == 2, s"job descriptions: $seen")
      assert(seen.exists(_.matches("GET /ka #\\d+")) &&
        seen.exists(_.matches("GET /kb #\\d+")), s"job descriptions: $seen")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      pool.shutdown()
      srv.stop()
    }
  }
}
