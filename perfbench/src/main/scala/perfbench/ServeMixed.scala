package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.serve.Serve
import graft.store.{Compactor, Db, Manifest}
import graft.text.TextIngest

/** Blocking HTTP/1.1 client calls against the local server. */
object Http {
  def get(port: Int, path: String): (Int, String) = call(port, "GET", path, null)
  def put(port: Int, body: Array[Byte]): (Int, String) = call(port, "PUT", "/", body)

  private def call(port: Int, method: String, path: String, body: Array[Byte]): (Int, String) = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      c.setRequestMethod(method)
      c.setConnectTimeout(30000)
      c.setReadTimeout(120000)
      if (body != null) {
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(body.length)
        val o = c.getOutputStream
        o.write(body); o.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else new String(in.readAllBytes(), "UTF-8")
      (code, text)
    } finally c.disconnect()
  }
}

/** Zipf(s) ranks over n items, mapped through a seeded permutation so the
  * popular keys spread over families and the key space.
  */
final class Zipf(n: Int, s: Double, seed: Long) {
  private val cdf = {
    val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  private val perm = {
    val p = Array.range(0, n)
    val rnd = new java.util.SplittableRandom(seed)
    for (i <- n - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
    p
  }
  def sample(rnd: java.util.SplittableRandom): Int = {
    val u = rnd.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    perm(lo)
  }
}

/** `tsdb_serve_mixed`: sonnerie-serve traffic with reads beside writes.
  *
  * A seeded warehouse (`Keys` keys in 50 families, one base, six upsert and
  * two delete transactions, uncompacted) behind [[Serve]] with product
  * defaults (never-stale reads). Four closed-loop clients: two exact-key
  * GET clients with Zipf(1.1) key popularity, one family-wildcard GET
  * client (answers above the result cache's 256 KiB entry cap, so they
  * always recompute), and one writer PUTting `PutLines` text-protocol
  * upserts, committing a delete marker after PUTs 2, 6, 10, … and running
  * an in-process minor compaction after PUTs 4, 12, …, as an operator's
  * cron would. Every answer is checked against the model of what was
  * committed, at some generation between the request's send and reply.
  */
object ServeMixed extends Workload {
  val Keys = 20000
  val BaseRows = 20
  val UpsertEvery = 8
  val UpsertPerKey = 8
  val PutLines = 1000
  val DeleteEvery = 4
  val CompactEvery = 8
  val SetupReps = 3

  final class State(val dir: String, val db: Db, val model: SeriesModel,
                    val server: Serve) {
    val port: Int = server.boundPort
    /** Highest generation whose commit was acknowledged / started. */
    val acked = new AtomicInteger(0)
    val started = new AtomicInteger(0)
    val putNo = new AtomicInteger(0)
  }

  def build(ctx: Ctx, dir: String): State = {
    val shape = SeriesShape(ctx.seed, Keys, BaseRows)
    val model = new SeriesModel(shape)
    val db = Db(ctx.spark, dir)
    SeriesGen.writeBase(db, shape)
    // generations: upserts 1-3, marker 4, upserts 5-7, marker 8
    val (keyRange, familyWindow) = SeriesGen.initialMarkers(shape, 20, 4, 8)
    for (u <- 1 to 6) {
      SeriesGen.writeUpsert(db, model, u, UpsertEvery, UpsertPerKey, if (u <= 3) u else u + 1)
      if (u == 3) SeriesGen.writeDelete(db, model, keyRange)
      if (u == 6) SeriesGen.writeDelete(db, model, familyWindow)
    }
    val order = 8
    val st = new State(dir, db, model, new Serve(db).start())
    st.acked.set(order); st.started.set(order)
    st
  }

  // ---------------------------------------------------------------- ops

  final case class Check(ok: Boolean, rows: Int)

  /** Parse `key\tts\tvalue` lines into (ts, value) pairs of one key. */
  private def parseRows(body: String): Array[(String, Long, Long)] =
    body.split('\n').iterator.filter(_.nonEmpty).map { l =>
      val a = l.split('\t')
      (a(0), a(1).toLong, a(2).toLong)
    }.toArray

  def checkExact(st: State, i: Int, body: String, lo: Int, hi: Int): Check = {
    val key = st.model.shape.keyName(i)
    val got = try parseRows(body) catch { case _: Exception => return Check(ok = false, 0) }
    if (got.exists(_._1 != key)) return Check(ok = false, got.length)
    val rows = got.map(r => (r._2, r._3))
    Check((lo to hi).exists(g => st.model.visible(i, g).sameElements(rows)), got.length)
  }

  def checkFamily(st: State, fam: Int, body: String, lo: Int, hi: Int): Check = {
    val got = try parseRows(body) catch { case _: Exception => return Check(ok = false, 0) }
    val ordered = got.indices.drop(1).forall { k =>
      val c = got(k - 1)._1.compareTo(got(k)._1)
      c < 0 || (c == 0 && got(k - 1)._2 < got(k)._2)
    }
    val d = got.foldLeft(0L)((a, r) => a + SeriesGen.rowDigest(r._1, r._2, r._3))
    val keys = familyKeys(st.model.shape, fam)
    val ok = ordered && (lo to hi).exists { g =>
      SeriesGen.modelDigest(st.model, keys, g) == ((d, got.length.toLong))
    }
    Check(ok, got.length)
  }

  def familyKeys(shape: SeriesShape, fam: Int): Seq[Int] = fam until shape.keys by shape.families

  def exactPath(st: State, i: Int): String = "/" + st.model.shape.keyName(i)
  def familyPath(fam: Int): String = f"/f$fam%02d/%%25"

  /** One writer step: a PUT of `PutLines` distinct keys (half overwrite a
    * base sample, half append a new one), registered in the model before
    * it is sent so a reader racing the commit can match either side.
    */
  def put(st: State, rnd: java.util.SplittableRandom): (Boolean, Int) = {
    val shape = st.model.shape
    val n = st.putNo.incrementAndGet()
    val order = st.started.get() + 1
    val picked = new java.util.HashSet[Integer]()
    val sb = new java.lang.StringBuilder
    while (picked.size < PutLines) {
      val i = rnd.nextInt(shape.keys)
      if (picked.add(i)) {
        val slot = if (rnd.nextBoolean()) rnd.nextInt(shape.baseRows).toLong
                   else shape.baseRows.toLong + 1000L + n
        val t = shape.ts(slot)
        val v = shape.rowValue(100000L + n, i, t)
        st.model.write(i, t, v, order)
        sb.append(shape.keyName(i)).append(' ').append(t).append(" I ").append(v).append('\n')
      }
    }
    st.started.set(order)
    val body = sb.toString.getBytes("UTF-8")
    val (code, _) = Http.put(st.port, body)
    if (code == 201) st.acked.set(order)
    (code == 201, body.length)
  }

  /** A delete marker over ~20 keys of one family and a third of the base
    * time range, committed in-process.
    */
  def delete(st: State, rnd: java.util.SplittableRandom): Unit = {
    val shape = st.model.shape
    val fam = rnd.nextInt(shape.families)
    val lo = fam + shape.families * rnd.nextInt(shape.keys / shape.families - 20)
    val w0 = rnd.nextInt(shape.baseRows)
    val order = st.started.get() + 1
    st.started.set(order)
    SeriesGen.writeDelete(st.db, st.model, Marker(shape.keyName(lo),
      shape.keyName(lo + 20 * shape.families), shape.ts(w0), shape.ts(w0 + shape.baseRows / 3),
      "", order))
    st.acked.set(order)
  }

  // ------------------------------------------------------------ the run

  final class Tallies {
    val get = new Samples; val wildcard = new Samples; val putMs = new Samples
    val compactMs = new Samples; val deleteMs = new Samples
    val attempted = new AtomicLong; val failed = new AtomicLong
    val putBytes = new AtomicLong
    val getWindows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
    val compactWindows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val compactSpans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def fail(ctx: Ctx, what: String): Unit = { failed.incrementAndGet(); ctx.log(s"FAILED $what") }
  }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val (st, setupS, reps) = Setup.repeated(ctx, SetupReps, sessionS)(build(ctx, _))(
      _.server.stop())(warm(ctx, _))
    val tracer = if (ctx.trace) Some(new Tracer(ctx.spark).install()) else None
    val t = new Tallies
    val hits0 = st.server.queryCacheHits
    val loads0 = st.server.snapshotLoads
    val ver0 = Manifest.currentVersion(st.dir)
    val data0 = Files.bytes(s"${st.dir}/data")
    val commits = new AtomicLong
    val phase0 = System.currentTimeMillis()
    val wallS = mixed(ctx, st, t, tracer, commits)
    val phase1 = System.currentTimeMillis()
    val gets = t.get.size + t.wildcard.size
    val requests = gets + t.putMs.size
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", t.get.median, "ms"),
      Metric("ops_per_s", requests / wallS, "1/s"),
      Metric("bulk_p50_ms", t.putMs.median, "ms"))
    val layer = tracer.map { tr =>
      tr.settle()
      val hits = st.server.queryCacheHits - hits0
      val loads = st.server.snapshotLoads - loads0
      val versions = Manifest.currentVersion(st.dir) - ver0
      val dataAdded = Files.bytes(s"${st.dir}/data") - data0
      val putJobs = tr.allJobs.filter(Tracer.isPut)
      val compJobs = t.compactSpans.toArray(Array.empty[String]).toSeq.flatMap(tr.jobsOfSpan)
      val during = t.getWindows.toArray(Array.empty[(Long, Long, Double)]).toSeq.filter { case (a, b, _) =>
        t.compactWindows.toArray(Array.empty[(Long, Long)]).exists { case (c0, c1) => a < c1 && b > c0 }
      }.map(_._3)
      val phaseJobs = tr.jobsIn(phase0, phase1)
      val cpuUtil = Tracer.taskMs(tr.stagesOf(phaseJobs)) / ((phase1 - phase0).toDouble * ctx.cores)
      val probe = quiescentProbe(ctx, st, t, tr)
      Seq(
        Metric("serve.cache_hit_ratio", hits.toDouble / math.max(1, gets), "ratio"),
        Metric("serve.snapshot_loads_per_get", loads.toDouble / math.max(1, gets), "count"),
        Metric("txwriter.jobs_per_put", putJobs.size.toDouble / math.max(1, t.putMs.size), "count"),
        Metric("txwriter.task_ms_per_put",
          Tracer.taskMs(tr.stagesOf(putJobs)).toDouble / math.max(1, t.putMs.size), "ms"),
        Metric("store.manifest_versions_per_commit", versions.toDouble / math.max(1L, commits.get), "count"),
        Metric("store.write_amp", dataAdded.toDouble / math.max(1L, t.putBytes.get), "ratio"),
        Metric("compactor.minor_s", if (t.compactMs.size == 0) 0.0 else t.compactMs.median / 1000, "s"),
        Metric("compactor.task_ms_per_minor",
          Tracer.taskMs(tr.stagesOf(compJobs)).toDouble / math.max(1, t.compactMs.size), "ms"),
        Metric("compactor.get_p50_during_ms", if (during.isEmpty) 0.0 else Samples.median(during), "ms"),
        Metric("series.cpu_util", cpuUtil, "ratio")) ++
        e2e.filter(_.name != "setup_s").map(m => m.copy(name = s"trace.${m.name}")) ++ probe
    }.getOrElse(Nil)
    // end of run: a fresh snapshot must hold every acknowledged write and
    // nothing a marker deleted
    val finalOk = {
      val (d, n) = SeriesGen.sparkDigest(Db(ctx.spark, st.dir).snapshot().read())
      val want = SeriesGen.modelDigest(st.model, 0 until st.model.shape.keys, st.acked.get())
      if ((d, n) != want) ctx.log(s"final state mismatch: engine ($d, $n) model $want")
      (d, n) == want
    }
    val spaceAmp = if (ctx.trace) Seq(Metric("store.space_amp", spaceAmplification(st), "ratio")) else Nil
    tracer.foreach { tr =>
      tr.writeSpans(ctx.dir("trace") + s"/spans-${ctx.workload}-${ctx.seed}.jsonl")
      tr.uninstall()
    }
    st.server.stop()
    val (tailP, tailMs) = t.get.tail()
    val notes = Seq(
      f"setup: data builds and warm-up ${reps.map(r => f"$r%.2f").mkString(", ")} s",
      s"gets ${t.get.size}, wildcards ${t.wildcard.size}, puts ${t.putMs.size}, " +
        s"deletes ${t.deleteMs.size}, compactions ${t.compactMs.size}, wall ${"%.2f".format(wallS)} s",
      f"get_p50_ms=${t.get.median}%.1f get_p${tailP}_ms=$tailMs%.1f (n=${t.get.size}) " +
        f"wildcard_p50_ms=${t.wildcard.median}%.1f put_p50_ms=${t.putMs.median}%.1f " +
        f"mixed_ops_per_s=${requests / wallS}%.3f")
    // one attempted operation more: the end-of-run state check
    Outcome(t.attempted.get + 1, t.failed.get + (if (finalOk) 0 else 1),
      e2e, layer ++ spaceAmp, notes)
  }

  /** JIT and cache warm-up on the fresh warehouse: exact and wildcard GETs
    * and one PUT, all checked like the measured ones.
    */
  def warm(ctx: Ctx, st: State): Unit = {
    val rnd = new java.util.SplittableRandom(Mix.mix(ctx.seed, 5L))
    for (_ <- 0 until 3) {
      val i = rnd.nextInt(st.model.shape.keys)
      val (c, b) = Http.get(st.port, exactPath(st, i))
      require(c == 200 && checkExact(st, i, b, st.acked.get, st.started.get).ok, s"warm-up GET $i")
    }
    val fam = rnd.nextInt(st.model.shape.families)
    val (c, b) = Http.get(st.port, familyPath(fam))
    require(c == 200 && checkFamily(st, fam, b, st.acked.get, st.started.get).ok, "warm-up wildcard")
    require(put(st, rnd)._1, "warm-up PUT")
  }

  private def mixed(ctx: Ctx, st: State, t: Tallies, tracer: Option[Tracer],
                    commits: AtomicLong): Double = {
    val shape = st.model.shape
    val zipf = new Zipf(shape.keys, 1.1, Mix.mix(ctx.seed, 11L))
    val t0 = Clock.now()
    val stopAt = t0 + ctx.seconds * 1000000000L
    def guarded(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable => t.fail(ctx, s"$what: $e") }
    def getClient(c: Int): Runnable = () => {
      val rnd = new java.util.SplittableRandom(Mix.mix(ctx.seed, 20L + c))
      while (Clock.now() < stopAt) guarded("GET") {
        val i = zipf.sample(rnd)
        t.attempted.incrementAndGet()
        val lo = st.acked.get
        val a = System.currentTimeMillis(); val s0 = Clock.now()
        val (code, body) = Http.get(st.port, exactPath(st, i))
        val ms = Clock.ms(s0); val b = System.currentTimeMillis()
        val hi = st.started.get
        if (code != 200 || !checkExact(st, i, body, lo, hi).ok)
          t.fail(ctx, s"GET ${shape.keyName(i)} status $code gens $lo..$hi")
        else {
          t.get.add(ms); t.getWindows.add((a, b, ms))
          tracer.foreach(_.record("serve", "GET", a, b))
        }
      }
    }
    val wildcardClient: Runnable = () => {
      val rnd = new java.util.SplittableRandom(Mix.mix(ctx.seed, 30L))
      while (Clock.now() < stopAt) guarded("wildcard GET") {
        val fam = rnd.nextInt(shape.families)
        t.attempted.incrementAndGet()
        val lo = st.acked.get
        val a = System.currentTimeMillis(); val s0 = Clock.now()
        val (code, body) = Http.get(st.port, familyPath(fam))
        val ms = Clock.ms(s0)
        val hi = st.started.get
        if (code != 200 || !checkFamily(st, fam, body, lo, hi).ok)
          t.fail(ctx, s"wildcard f$fam status $code gens $lo..$hi")
        else {
          t.wildcard.add(ms)
          tracer.foreach(_.record("serve", "GET wildcard", a, System.currentTimeMillis()))
        }
      }
    }
    val writer: Runnable = () => {
      val rnd = new java.util.SplittableRandom(Mix.mix(ctx.seed, 40L))
      var n = 0
      while (Clock.now() < stopAt) guarded("writer") {
        n += 1
        t.attempted.incrementAndGet()
        val a = System.currentTimeMillis(); val s0 = Clock.now()
        val (ok, bytes) = put(st, rnd)
        if (ok) {
          t.putMs.add(Clock.ms(s0)); t.putBytes.addAndGet(bytes); commits.incrementAndGet()
          tracer.foreach(_.record("serve", "PUT", a, System.currentTimeMillis()))
        } else t.fail(ctx, s"PUT #$n")
        // maintenance falls mid-cadence (PUTs 2, 6, ... and 4, 12, ...) so
        // every window of a few seconds holds the same number of each
        if (n % DeleteEvery == DeleteEvery / 2 && Clock.now() < stopAt) {
          t.attempted.incrementAndGet()
          val d0 = Clock.now()
          delete(st, rnd)
          t.deleteMs.add(Clock.ms(d0)); commits.incrementAndGet()
        }
        if (n % CompactEvery == CompactEvery / 2 && Clock.now() < stopAt) {
          t.attempted.incrementAndGet()
          val a = System.currentTimeMillis(); val c0 = Clock.now()
          tracer match {
            case Some(tr) => t.compactSpans.add(tr.span("store", "compactor.minor")(Compactor.minor(st.db))._2.id)
            case None => Compactor.minor(st.db)
          }
          t.compactMs.add(Clock.ms(c0)); commits.incrementAndGet()
          t.compactWindows.add((a, System.currentTimeMillis()))
        }
      }
    }
    val threads = Seq(getClient(0), getClient(1), wildcardClient, writer).zipWithIndex.map {
      case (r, k) => val th = new Thread(r, s"client-$k"); th.start(); th
    }
    threads.foreach(_.join())
    Clock.s(t0)
  }

  /** Traced run only: single-client probes on the quiet server, so every
    * Spark job in a request's window belongs to that request, plus the
    * in-process decomposition of the same exact-key reads.
    */
  private def quiescentProbe(ctx: Ctx, st: State, t: Tallies, tr: Tracer): Seq[Metric] = {
    val shape = st.model.shape
    val rnd = new java.util.SplittableRandom(Mix.mix(ctx.seed, 50L))
    val n = 12
    val http = new Samples; val jobs = new Samples; val taskMs = new Samples
    val files = new Samples; val scanned = new Samples; val returned = new Samples
    val manifestMs = new Samples; val buildMs = new Samples; val catalystMs = new Samples
    val renderMs = new Samples; val txRead = new Samples; val overhead = new Samples
    for (k <- 0 until n) {
      val i = rnd.nextInt(shape.keys)
      val gen = st.acked.get
      tr.settle()
      val p0 = tr.planCount
      val a = System.currentTimeMillis(); val s0 = Clock.now()
      // a unique query string makes the request miss the result cache
      val (code, body) = Http.get(st.port, exactPath(st, i) + s"?probe=$k")
      val ms = Clock.ms(s0); val b = System.currentTimeMillis()
      t.attempted.incrementAndGet()
      val chk = checkExact(st, i, body, gen, gen)
      if (code != 200 || !chk.ok) t.fail(ctx, s"probe GET $i")
      tr.settle()
      val js = tr.jobsIn(a, b)
      val pm = PlanMetrics.of(tr.plansSince(p0))
      val req = tr.record("serve", "probe GET", a, b)
      http.add(ms); jobs.add(js.size); taskMs.add(Tracer.taskMs(tr.stagesOf(js)).toDouble)
      files.add(pm.filesRead.toDouble)
      scanned.add(pm.rowsScanned.toDouble); returned.add(chk.rows.toDouble)
      // the same read, decomposed in-process at the same generation
      val key = shape.keyName(i)
      // each step a child span of the request (nanosecond-timed here;
      // span times are milliseconds)
      def step[T](layer: String, name: String)(body: => T): (T, Double) = {
        val s0 = Clock.now()
        val r = tr.span(layer, name, req.id)(body)._1
        (r, Clock.ms(s0))
      }
      val (m, mMs) = step("store", "Manifest.current")(Manifest.current(st.dir))
      val snap = st.db.Snapshot(m)
      val (df, bMs) = step("store", "Snapshot.get")(snap.get(key))
      val (_, cMs) = step("store", "executedPlan")(df.queryExecution.executedPlan)
      val (_, rMs) = step("text", "print+drain") {
        val it = TextIngest.print(ctx.spark, TextIngest.asRecords(df)).toLocalIterator()
        while (it.hasNext) it.next()
      }
      manifestMs.add(mMs); buildMs.add(bMs); catalystMs.add(cMs); renderMs.add(rMs)
      txRead.add(snap.prunedDataTxids(key, None, None).size.toDouble)
      overhead.add(ms - (mMs + bMs + cMs + rMs))
    }
    final case class Wild(jobs: Double, taskMs: Double, shuffle: Double, spill: Double,
                          plan: PlanMetrics.Sums, rows: Int, planMs: Double)
    val wild = (0 until 4).map { k =>
      val fam = rnd.nextInt(shape.families)
      val gen = st.acked.get
      tr.settle()
      val p0 = tr.planCount
      val a = System.currentTimeMillis()
      val (code, body) = Http.get(st.port, familyPath(fam) + s"?probe=$k")
      val b = System.currentTimeMillis()
      t.attempted.incrementAndGet()
      val chk = checkFamily(st, fam, body, gen, gen)
      if (code != 200 || !chk.ok) t.fail(ctx, s"probe wildcard f$fam")
      tr.settle()
      val js = tr.jobsIn(a, b)
      val ss = tr.stagesOf(js)
      val planMs = Clock.time(st.db.snapshot().read(f"f$fam%02d/%%").queryExecution.executedPlan)._2
      Wild(js.size, Tracer.taskMs(ss).toDouble, ss.map(_.shuffleWrite).sum.toDouble,
        ss.map(_.spill).sum.toDouble, PlanMetrics.of(tr.plansSince(p0)), chk.rows, planMs)
    }
    def wmed(f: Wild => Double): Double = Samples.median(wild.map(f))
    val live = Manifest.current(st.dir).dataTxids.size
    Seq(
      Metric("serve.get_overhead_ms", overhead.median, "ms"),
      Metric("text.render_ms", renderMs.median, "ms"),
      Metric("store.manifest_current_ms", manifestMs.median, "ms"),
      Metric("store.get_build_ms", buildMs.median, "ms"),
      Metric("store.catalyst_ms", catalystMs.median, "ms"),
      Metric("store.jobs_per_get", jobs.median, "count"),
      Metric("store.task_ms_per_get", taskMs.median, "ms"),
      Metric("store.txids_read_per_get", txRead.median, "count"),
      Metric("store.txids_live", live.toDouble, "count"),
      Metric("store.files_read_per_get", files.median, "count"),
      Metric("store.rows_scanned_per_row_returned", scanned.sum / math.max(1.0, returned.sum), "ratio"),
      Metric("store.jobs_per_wildcard", wmed(_.jobs), "count"),
      Metric("store.files_read_per_wildcard", wmed(_.plan.filesRead.toDouble), "count"),
      Metric("store.wildcard_plan_ms", wmed(_.planMs), "ms"),
      Metric("series.wildcard_task_ms", wmed(_.taskMs), "ms"),
      Metric("series.wildcard_shuffle_bytes", wmed(_.shuffle), "bytes"),
      Metric("series.wildcard_spill_bytes", wmed(_.spill), "bytes"),
      Metric("series.merge_rows_in_per_out",
        wild.map(_.plan.rowsScanned).sum.toDouble / math.max(1, wild.map(_.rows).sum), "ratio"),
      Metric("series.scan_ms", wmed(_.plan.scanMs.toDouble), "ms"),
      Metric("series.sort_ms", wmed(_.plan.sortMs.toDouble), "ms"),
      Metric("serve.probe_get_ms", http.median, "ms"))
  }

  /** Live transaction bytes ÷ bytes after a final major compaction. */
  private def spaceAmplification(st: State): Double = {
    def live(): Long = {
      val m = Manifest.current(st.dir)
      m.dataTxids.map(x => Files.bytes(s"${st.dir}/data/txid=$x")).sum +
        m.deleteTxids.map(x => Files.bytes(s"${st.dir}/deletes/txid=$x")).sum
    }
    val before = live()
    Compactor.major(st.db)
    before.toDouble / math.max(1L, live())
  }
}
