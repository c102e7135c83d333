package graft.store

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.{Cli, SparkSpec}
import graft.serve.Serve

/** Bounded writes: a served PUT body or a CLI `add` input no larger than
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` commits as
  * one sorted partition in ONE Spark job ([[TxWriter.boundedPartitions]]);
  * larger inputs keep the range-shuffle path. Both paths must read back
  * row for row the same, in unbucketed and time-bucketed warehouses.
  */
class BoundedWriteSpec extends SparkSpec {

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

  /** Spark jobs started while `body` runs, including those a server
    * thread submits: the listener counts job starts between two marker
    * jobs in job groups of their own — the listener bus is FIFO, so once
    * the closing marker's start arrives every earlier job's has too.
    */
  private def jobsOf(body: => Unit): Int = {
    val tag = s"bounded-${java.util.UUID.randomUUID()}"
    val (open, close) = (s"$tag-open", s"$tag-close")
    val jobs = new AtomicInteger(0)
    val counting = new AtomicBoolean(false)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`open`)  => counting.set(true)
          case Some(`close`) => counting.set(false); closed.countDown()
          case _             => if (counting.get()) jobs.incrementAndGet()
        }
    }
    def marker(group: String): Unit = {
      spark.sparkContext.setJobGroup(group, "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker(open)
      body
      marker(close)
      assert(closed.await(60, TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** A session of its own whose minimum coalesced partition size is
    * 1 KB: small bodies take the range path, and AQE really splits their
    * range exchange across the cores, so the range path's multi-file
    * layout is what the one-job path is compared against.
    */
  private def rangedSession(): SparkSession = {
    val s = graft.core.Graft.configure(spark.newSession())
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
    s
  }

  /** `n` text-protocol lines over keys `k000`..`k199` at ts 1..5; `salt`
    * changes the values, so a later body overwrites earlier (key, ts).
    */
  private def body(n: Int, seed: Long, salt: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextInt(200), rnd.nextInt(5) + 1))
      .distinct
      .map { case (k, t) => f"k$k%03d $t u ${k * 10 + t + salt}" }
  }

  private def dataFiles(db: Db): Int = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(db.dataDir))
    try s.filter(p => p.toString.endsWith(".parquet")).count().toInt
    finally s.close()
  }

  /** Every live record, in the read's (key, ts) order. */
  private def rows(db: Db): Seq[org.apache.spark.sql.Row] =
    db.read("%").collect().toSeq

  test("a small served PUT and a small CLI add each run exactly one Spark job") {
    val db = Db(spark, tmpDir("graft-bounded-put"))
    val srv = new Serve(db).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val first = body(1000, 1L, 0).mkString("\n")
      val second = body(1000, 2L, 7).mkString("\n")
      assert(TxWriter.boundedPartitions(spark, second.length.toLong) == Some(1))
      for (b <- Seq(first, second)) {
        var code = 0
        val n = jobsOf { code = http("PUT", s"$base/", Some(b))._1 }
        assert(code == 201)
        assert(n == 1, s"served PUT ran $n jobs")
      }
      assert(db.snapshot().manifest.dataTxids.size == 2)
    } finally srv.stop()

    val wh = tmpDir("graft-bounded-add")
    for (seed <- Seq(3L, 4L)) {
      val n = jobsOf(Cli.run(spark, List("-d", wh, "add"),
        body(1000, seed, 0).iterator, _ => ()))
      assert(n == 1, s"CLI add ran $n jobs")
    }
    assert(Db(spark, wh).snapshot().manifest.dataTxids.size == 2)
  }

  test("a body above the minimum partition size still takes the range path") {
    val ranged = rangedSession()
    val lines = body(1000, 5L, 0)
    val text = lines.mkString("\n")
    assert(TxWriter.boundedPartitions(ranged, text.length.toLong).isEmpty)
    assert(TxWriter.boundedPartitions(spark, text.length.toLong) == Some(1))

    val db = Db(ranged, tmpDir("graft-bounded-ranged"))
    val srv = new Serve(db).start()
    try {
      var code = 0
      val n = jobsOf {
        code = http("PUT", s"http://localhost:${srv.boundPort}/", Some(text))._1
      }
      assert(code == 201)
      // range sampling, the range shuffle, the write
      assert(n >= 3, s"range-path PUT ran $n jobs")
      // parallelism-first coalescing splits the ~14 KB exchange across
      // the cores once it passes the 1 KB minimum
      assert(dataFiles(db) > 1)
    } finally srv.stop()

    val wh = tmpDir("graft-bounded-ranged-add")
    val n = jobsOf(Cli.run(ranged, List("-d", wh, "add"), lines.iterator, _ => ()))
    assert(n >= 3, s"range-path CLI add ran $n jobs")
  }

  /** The same served PUTs into a one-job and a range-path warehouse —
    * overwrites across PUTs, a delete marker between PUTs, re-inserts,
    * an empty and a whitespace-only body — then `Db.read` and exact and
    * wildcard GETs must agree. `bucket` = (width, bucket-major): both
    * warehouses are first opted into that time-bucketed layout by one
    * write of their own, so the PUTs go through its bucket partitioning.
    */
  private def servedPathsAgree(ranged: SparkSession,
                               bucket: Option[(Long, Boolean)]): Unit = {
    val oneJob = Db(spark, tmpDir("graft-bounded-eq1"))
    val range = Db(ranged, tmpDir("graft-bounded-eq2"))
    bucket.foreach { case (width, major) =>
      for (db <- Seq(oneJob, range)) {
        val lines = db.spark.createDataset(body(300, 10L, 500))(
          org.apache.spark.sql.Encoders.STRING)
        TxWriter.write(db, graft.text.TextIngest.parseWithFmt(db.spark, lines).toDF(),
          timeBucketNanos = Some(width), bucketMajor = major)
        val m = db.snapshot().manifest
        assert(m.timeBucket == width && m.bucketMajor == major)
      }
    }
    val srvs = Seq(new Serve(oneJob).start(), new Serve(range).start())
    try {
      val bases = srvs.map(s => s"http://localhost:${s.boundPort}")
      def putAll(b: String): Unit = bases.foreach { base =>
        val (code, resp) = http("PUT", s"$base/", Some(b))
        assert(code == 201 && resp == "ok", s"$code $resp")
      }
      putAll(body(800, 11L, 0).mkString("\n"))
      putAll(body(800, 12L, 1000).mkString("\n")) // overwrites across PUTs
      // a delete marker between PUTs: keys k050..k099 at ts 2..3
      Seq(oneJob, range).foreach(db =>
        TxWriter.delete(db, firstKey = "k050", lastKey = "k100", t0 = 2L, t1 = 4L))
      putAll(body(800, 13L, 2000).mkString("\n")) // re-inserts some deleted
      val before = rows(oneJob)
      putAll("")              // empty body
      putAll("\t\n  \r\n\n")  // whitespace-only body
      assert(rows(oneJob) == before, "empty bodies add no rows")

      assert(oneJob.snapshot().manifest.dataTxids ==
        range.snapshot().manifest.dataTxids)
      assert(rows(oneJob).nonEmpty)
      assert(rows(oneJob) == rows(range))
      // exact keys (point lookups) and wildcards (%25 = urlencoded %)
      for (pat <- Seq("k000", "k042", "k050", "k077", "k099", "k100", "k199",
                      "nope", "k07%25", "k05%25", "%25")) {
        val Seq(a, b) = bases.map(base => http("GET", s"$base/$pat"))
        assert(a._1 == 200 && a == b, s"GET $pat")
      }
      val all = http("GET", s"${bases.head}/%25")._2
      assert(all.linesIterator.size == rows(oneJob).size)
      // the layout difference: one file per one-job PUT, more on the
      // range path (reads above are unaffected by it)
      if (bucket.isEmpty) assert(dataFiles(oneJob) < dataFiles(range))
    } finally srvs.foreach(_.stop())
  }

  test("one-job and range-path writes read back row-identical through GET " +
      "and Db.read: overwrites, a delete marker, empty bodies, bucketed layouts") {
    val ranged = rangedSession()
    servedPathsAgree(ranged, None)
    servedPathsAgree(ranged, Some((2L, false))) // key-major buckets
    servedPathsAgree(ranged, Some((2L, true)))  // bucket-major buckets

    // the CLI's `add` through both paths, same inputs, empty stdin included
    val adds = Seq(spark, ranged).map { s =>
      val wh = tmpDir("graft-bounded-eqcli")
      for ((seed, salt) <- Seq((21L, 0), (22L, 500)))
        Cli.run(s, List("-d", wh, "add"), body(800, seed, salt).iterator, _ => ())
      TxWriter.delete(Db(s, wh), firstKey = "k010", lastKey = "k020")
      Cli.run(s, List("-d", wh, "add"), body(800, 23L, 900).iterator, _ => ())
      Cli.run(s, List("-d", wh, "add"), Iterator.empty, _ => ())
      Db(s, wh)
    }
    assert(rows(adds(0)).nonEmpty && rows(adds(0)) == rows(adds(1)))
    assert(adds(0).snapshot().manifest.dataTxids ==
      adds(1).snapshot().manifest.dataTxids)
  }
}
