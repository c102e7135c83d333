package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.functions.col

import graft.store.{Db, Manifest, TxWriter}
import graft.text.TextIngest

/** HTTP endpoint over a warehouse — the reference's `sonnerie-serve`
  * surface (`src/bin/sonnerie-serve.rs:98-300`), re-expressed over
  * [[Db]]/[[TxWriter]] with the JDK's built-in server (dependency-free).
  *
  *  - `GET /<wildcard>[?human]` → the read pipeline streamed as
  *    text-protocol lines (no format column, nanos timestamps; `human`
  *    switches to the human layout) — reference `get()`. Exact patterns
  *    route through the point-lookup path like the reference's
  *    `is_exact()` special case: [[Db#Snapshot.get]], one single-task
  *    Spark job over only the files whose key range holds the key.
  *  - `PUT /` with text-protocol lines (`key ts fmt vals…`) → ONE
  *    transaction, committed atomically, `201 ok` — reference `put()`.
  *    The reference external-sorts through a temp file; here the body
  *    spools to a temp file and [[TxWriter]] sorts it — in one Spark job
  *    for bodies up to AQE's minimum coalesced partition size (1 MB by
  *    default), by its range-shuffle sort above that. (At real scale, batch ingest goes through
  *    [[graft.streaming.StreamIngest]] instead of one HTTP body.)
  *
  * GETs share a TTL-cached snapshot — the reference's 10-second reader
  * cache (`sonnerie-serve.rs:242-264`) minus the staleness window: within
  * the TTL a one-listing manifest-version probe detects commits, so a
  * cached snapshot is reused only while it is provably current, and the
  * per-request cost drops to a directory stat instead of a manifest
  * parse + plan-base rebuild (the repeated-point-lookup floor).
  */
/** @param workers HTTP worker threads. 0 (default) sizes the pool to
  *   the Spark default parallelism (one worker per core, the
  *   reference's serving-tier shape — sonnerie-serve runs one process
  *   per core behind a reverse proxy): concurrent point lookups
  *   amortize the per-job scheduling floor across the full machine
  *   instead of queueing behind an arbitrary small pool (measured: the
  *   old fixed-4 pool doubled p50 at 8 clients while cores sat idle).
  * @param annDb the warehouse holding the persisted IVF-PQ index for
  *   `/_query/ann` and `/_query/hybrid`. A SEPARATE warehouse from the
  *   data/BM25 one by design, not convenience: the ANN index fixes a
  *   width-1 bucket-per-cell layout at its first write, and that layout
  *   is warehouse-sticky — co-locating a dense-ts store (BM25 rows key
  *   ts = doc_id) would explode one `tbucket=` directory PER DOCUMENT
  *   (measured: 100k docs → 100k partition dirs, planning-cache
  *   eviction, unusable). One store per warehouse is also the scale
  *   shape: each store compacts, buckets and snapshots on its own
  *   schedule. None = the verbs answer 500.
  */
/** @param staleMillis 0 (default) = NEVER-stale reads: every request
  *   probes the manifest generation, so a commit is visible on the next
  *   GET (the exactness this server chose over the reference's
  *   10-second reader cache). > 0 = the reference's staleness contract,
  *   opt-in: generation probes (and therefore snapshots, ETags and
  *   cached bodies) may be reused for up to this many milliseconds
  *   without re-checking the manifest — under a commit-heavy mixed load
  *   this restores the flat cache-hit latency (measured in SCALE.md's
  *   mixed-load table) at the cost of reads lagging commits by ≤ the
  *   window, exactly like `sonnerie-serve`'s 10 s cache.
  */
final class Serve(db: Db, port: Int = 0, snapshotTtlMillis: Long = 10000,
                  workers: Int = 0, annDb: Option[Db] = None,
                  queryCacheMaxBytes: Long = 64L * 1024 * 1024,
                  maxPutBytes: Long = 1L << 30,
                  staleMillis: Long = 0L) {

  /** Warehouse-lifetime identity ([[Manifest.identity]] — the minted
    * creation UUID) folded into every ETag and cache key: manifest
    * VERSIONS restart when a warehouse is deleted and recreated at the
    * same path, so a version-only tag would let a client's
    * If-None-Match from the old warehouse 304 against the new one (and
    * revive cached bodies the new store never produced). Cost per read:
    * [[Manifest.current]]'s stat-validated parse cache makes this one
    * file stat in the steady state — and the stat is exactly what
    * detects recreation (new inode → reparse → new `created` UUID), so
    * unlike a version-keyed cache there is no same-version blind spot.
    * 8 hex chars of the identity's hash: ETag-safe characters whatever
    * the source (UUID, or the pre-field inode fallback's "(dev=…)").
    */
  private def idOf(wh: String): String =
    f"${Manifest.identity(wh).hashCode & 0xffffffffL}%08x"

  /** One warehouse's (version, identity) generation probe. With
    * `staleMillis > 0` the result is reused for up to the window — the
    * single lever that makes every derived read (snapshot reuse, ETag,
    * cached body) stale-tolerant, because they all key off this pair.
    */
  private final class Probe(wh: String) {
    private val ref =
      new java.util.concurrent.atomic.AtomicReference[(Long, Long, String)]()
    def get(): (Long, String) = {
      val now = System.nanoTime()
      val c = ref.get()
      if (staleMillis > 0 && c != null && now - c._1 < staleMillis * 1000000L)
        return (c._2, c._3)
      val out = (Manifest.currentVersion(wh), idOf(wh))
      ref.set((now, out._1, out._2))
      out
    }
  }
  private val dataProbe = new Probe(db.warehouse)
  private val annProbe = annDb.map(a => new Probe(a.warehouse))

  /** (manifest version, warehouse identity, snapshot, loadedAt nanos). */
  private val cachedSnap = new java.util.concurrent.atomic.AtomicReference[
    (Long, String, Db#Snapshot, Long)]()
  private val loads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Snapshot (re)builds since start — observable cache behavior for
    * ServeSpec: two GETs within the TTL load once; a commit loads again.
    */
  def snapshotLoads: Long = loads.get()

  private def snapshot(): Db#Snapshot = {
    val now = System.nanoTime()
    val cur = cachedSnap.get()
    // the identity probe closes the same recreation hole as the ETags:
    // a recreated warehouse restarts versions, so a version-only check
    // could reuse the OLD path's snapshot at a coinciding version.
    // Under staleMillis the probe itself may be reused — snapshot
    // staleness is then bounded by the window, by construction
    if (cur != null && now - cur._4 < snapshotTtlMillis * 1000000L) {
      val (ver, id) = dataProbe.get()
      if (ver == cur._1 && id == cur._2) return cur._3
    }
    val snap = db.snapshot()
    loads.incrementAndGet()
    // two concurrent misses race on the install; CAS so an older snapshot
    // never overwrites a newer one (versions are monotone — the probe
    // would self-heal next GET, but the miscount wouldn't)
    val id = idOf(db.warehouse)
    var installed = false
    while (!installed) {
      val prev = cachedSnap.get()
      if (prev != null && prev._2 == id && prev._1 > snap.manifest.version)
        installed = true
      else installed =
        cachedSnap.compareAndSet(prev, (snap.manifest.version, id, snap, now))
    }
    snap
  }

  private val requestSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      // once the 200 chunked headers are out we can no longer turn a
      // mid-stream failure into a 500 — responding again would throw from
      // the catch and mask the real error; log it and truncate instead
      val headersSent = new java.util.concurrent.atomic.AtomicBoolean(false)
      ex.setAttribute("headersSent", headersSent)
      // the request's identity on every Spark job it runs, so jobs under
      // concurrent clients can be told apart (the UI, listeners)
      db.spark.sparkContext.setJobDescription(
        s"${ex.getRequestMethod} ${ex.getRequestURI.getPath} " +
          s"#${requestSeq.incrementAndGet()}")
      try {
        ex.getRequestMethod match {
          case "GET" => doGet(ex)
          case "PUT" => doPut(ex)
          case _     => respond(ex, 400, "invalid request\n")
        }
      } catch {
        case e: Throwable =>
          if (headersSent.get())
            graft.core.Graft.log.warn(s"serve: mid-stream failure: $e")
          else respond(ex, 500, s"error: ${e.getMessage}\n")
      } finally { db.spark.sparkContext.setJobDescription(null); ex.close() }
    }
  })
  private val nWorkers =
    if (workers > 0) workers
    else math.max(4, db.spark.sparkContext.defaultParallelism)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(nWorkers)
  server.setExecutor(pool)

  /** The verbs' concurrent side branches (hybrid's lexical probe, stats'
    * sketch reads) run here, never on `ExecutionContext.global`: they
    * block on Spark jobs, and the global pool has one thread per core,
    * so callers that hold those threads (any busy client in the same
    * JVM) would starve the server's answers. Each request keeps one
    * branch on its own worker thread and hands the rest here; a side
    * branch never waits on another, so a full pool queues branches
    * (latency) but cannot deadlock.
    */
  private val fanout = scala.concurrent.ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(nWorkers,
      (r: Runnable) => {
        val t = new Thread(r, "graft-serve-fanout")
        t.setDaemon(true)
        t
      }))

  /** `body` on the fan-out pool, its jobs carrying the calling request's
    * job description (a pool thread keeps whatever it last inherited).
    */
  private def branch[A](body: => A): scala.concurrent.Future[A] = {
    val sc = db.spark.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    scala.concurrent.Future {
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(null)
    }(fanout)
  }

  /** Ephemeral-port binding (port = 0) resolves here. */
  def boundPort: Int = server.getAddress.getPort

  def start(): this.type = { server.start(); this }

  /** Stops the listener AND its worker pool — the pool's threads are
    * non-daemon, so leaving them running keeps the JVM alive after stop().
    */
  def stop(): Unit = { server.stop(0); pool.shutdown(); fanout.shutdown() }

  /** Version-keyed result cache for the `/_query` verbs: a warehouse's
    * contents are IMMUTABLE per manifest version (commits mint new
    * versions), so an entry keyed by (data version, ann version, full
    * request) can never serve a stale answer — a commit changes the key
    * and the old entry ages out of the LRU. Hot repeated queries then
    * cost a directory stat instead of a Spark job; this is the honest
    * cache the reference's 10-second reader cache approximates with a
    * staleness window.
    */
  /** BYTE-budget LRU (not entry-count): 1024 max-sized entries would
    * have been 256 MB of driver heap under an adversarial distinct-query
    * load; the budget caps the cache's worst case while holding far
    * more small entries (point lookups are tens of bytes) than a count
    * bound would.
    */
  /** A cached body plus the freshness header computed WHEN the body
    * was: a later hit re-emits the stored header unconditionally, so a
    * hit under a lagging `staleMillis` probe still reports the
    * generation the body actually reflects instead of suppressing the
    * header once the manifest moves (the body IS that generation's
    * answer — the stored header is the only honest one for it).
    */
  private final case class CacheEntry(body: String,
                                      freshness: Option[String])
  private val queryCache =
    new java.util.LinkedHashMap[(Long, Long, String), CacheEntry](
      64, 0.75f, true)
  private var queryCacheBytes = 0L
  private def cacheGet(k: (Long, Long, String)): CacheEntry =
    queryCache.synchronized(queryCache.get(k))
  private def cachePut(k: (Long, Long, String), v: CacheEntry): Unit =
    queryCache.synchronized {
      val prev = queryCache.put(k, v)
      queryCacheBytes += v.body.length.toLong -
        (if (prev == null) 0L else prev.body.length.toLong)
      val it = queryCache.entrySet().iterator()
      while (queryCacheBytes > queryCacheMaxBytes && it.hasNext) {
        val e = it.next()
        queryCacheBytes -= e.getValue.body.length.toLong
        it.remove()
      }
    }

  /** Cached bytes right now — observable for ServeSpec's budget case. */
  def queryCacheByteSize: Long = queryCache.synchronized(queryCacheBytes)
  private val qcHits = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Served-from-cache count — observable for ServeSpec. */
  def queryCacheHits: Long = qcHits.get()

  /** @param usesData/usesAnn which warehouse versions the verb's answer
    *   depends on — the cache key carries ONLY those, so a commit to the
    *   ANN store no longer evicts every cached BM25 answer (and vice
    *   versa); an irrelevant version can never make an entry stale
    *   because the verb never reads that warehouse.
    */
  private def cachedQuery(ex: HttpExchange, usesData: Boolean = true,
                          usesAnn: Boolean = false)
                         (compute: => (Int, String)): Unit = {
    val (key, etag) = keyAndTag(usesData, usesAnn,
      ex.getRequestURI.toString)
    if (notModified(ex, etag)) return
    val hit = cacheGet(key)
    if (hit != null) {
      qcHits.incrementAndGet()
      ex.getResponseHeaders.set("ETag", etag)
      // the header was computed WITH the body and stored beside it, so a
      // hit always carries the generation the body reflects — even when
      // the manifest has since moved under a staleMillis-lagged probe.
      // A None stored at compute time is NOT permanent: it only means
      // the manifest had momentarily moved mid-compute (staleMillis lag)
      // — the body is still exactly this key's generation (the stable
      // re-check below gates the put), so retry the header per hit (one
      // stat-cached manifest read) and backfill the entry once it takes.
      val fresh = hit.freshness.orElse {
        val h = freshnessHeader(usesData, usesAnn, key._1, key._2)
        h.foreach(v => cachePut(key, CacheEntry(hit.body, Some(v))))
        h
      }
      fresh.foreach(h => ex.getResponseHeaders.set("X-Graft-Freshness", h))
      return respond(ex, 200, hit.body)
    }
    val (status, body) = compute
    // a verb's internals take their own snapshots (e.g. doStats runs
    // three store reads, doHybrid two probes): if a commit landed while
    // computing, the answer may span generations — still a fine response
    // for THIS request, but it must not be cached or tagged as the
    // entry-version answer, or pollers at that generation would 304
    // against a body that generation never produced. (Under staleMillis
    // the probes themselves may lag — mixed-generation exposure is then
    // bounded by the window, the contract the knob opts into.)
    // the full (version, identity) pair must have held still — a
    // version-only re-check has a recreation blind spot: delete-and-
    // recreate landing mid-compute with a coinciding version would
    // cache the new store's body under the old identity's key
    val stable =
      keyAndTag(usesData, usesAnn, ex.getRequestURI.toString)._1 == key
    val freshness =
      if (status == 200 && stable)
        freshnessHeader(usesData, usesAnn, key._1, key._2)
      else None
    // entry-size bound: 1024 entries × an unbounded k=10000 body would
    // quietly grow the server heap; oversized answers just recompute
    if (status == 200 && stable && body.length <= 256 * 1024)
      cachePut(key, CacheEntry(body, freshness))
    if (status == 200 && stable) {
      ex.getResponseHeaders.set("ETag", etag)
      freshness.foreach(h =>
        ex.getResponseHeaders.set("X-Graft-Freshness", h))
    }
    respond(ex, status, body)
  }

  /** Per-response freshness for every `/_query` verb, as a response
    * header (`X-Graft-Freshness`): the retrieval verbs' bodies are
    * line-oriented hit lists, so the fields the stats verb carries IN
    * its JSON body ride a header there, uniform across bm25/ann/
    * hybrid/stats — the manifest version(s) the answer derives from
    * plus each streaming sink's replay cursor, so a client can tell
    * WHICH ingest batch the hits reflect (the reference contrast: its
    * server's 10 s cache is silently stale, `src/bin/
    * sonnerie-serve.rs:242-264`). On a fresh compute it is emitted only
    * when the warehouse's CURRENT manifest still matches the generation
    * the body was computed at — one stat-cached manifest read, zero
    * jobs — and then stored WITH the cache entry, so a later hit
    * re-emits the body's own generation unconditionally (it never lies:
    * the body IS that generation's answer, however far the manifest has
    * since moved under a `staleMillis`-lagged probe).
    */
  private def freshnessHeader(usesData: Boolean, usesAnn: Boolean,
                              dv: Long, av: Long): Option[String] = {
    def part(wh: String, ver: Long, vField: String,
             cField: String): Option[String] = {
      val m = Manifest.current(wh)
      if (m.version != ver) None
      else Some(s""""$vField":$ver,"$cField":${
        m.streamBatches.toSeq.sortBy(_._1)
          .map { case (s, b) => s"${jstr(s)}:$b" }
          .mkString("{", ",", "}")}""")
    }
    val want = Seq(
      if (usesData)
        Some(() => part(db.warehouse, dv, "version", "cursors"))
      else None,
      if (usesAnn)
        annDb.map(a => () => part(a.warehouse, av, "annVersion",
          "annCursors"))
      else None).flatten
    val parts = want.flatMap(_.apply())
    // all-or-nothing: a generation that moved mid-request gets no
    // header rather than a half-true one
    if (parts.isEmpty || parts.size != want.size) None
    else Some(parts.mkString("{", ",", "}"))
  }

  /** The (warehouse identity, version) pair IS the answer's identity:
    * immutable-per-version contents make it a strong ETag, so a polling
    * client holding the current generation pays a 304 and a directory
    * stat, not a body — the HTTP spelling of the never-stale cache. The
    * identity prefixes guard the delete-and-recreate-at-the-same-path
    * case, where versions restart (see [[idOf]]). Format:
    * `<dataId8>-<annId8|->`; an unused warehouse (ver = -1) contributes
    * "-" so its identity is never read.
    */
  /** Query-cache key + ETag for one request, sharing ONE generation
    * probe per warehouse (the ids fold into both, same staleness
    * contract). An unused warehouse contributes (-1, "-") and is never
    * probed.
    */
  private def keyAndTag(usesData: Boolean, usesAnn: Boolean, uri: String)
      : ((Long, Long, String), String) = {
    val (dv, did) = if (usesData) dataProbe.get() else (-1L, "-")
    val (av, aid) =
      if (usesAnn) annProbe.fold((-1L, "-"))(_.get()) else (-1L, "-")
    val ids = s"$did-$aid"
    ((dv, av, s"$ids|$uri"), s""""v$ids.$dv.$av"""")
  }

  /** Answers 304 (and returns true) when the client already holds this
    * exact generation.
    */
  private def notModified(ex: HttpExchange, etag: String): Boolean = {
    if (!Option(ex.getRequestHeaders.getFirst("If-None-Match"))
        .contains(etag)) false
    else {
      qcHits.incrementAndGet()
      ex.getResponseHeaders.set("ETag", etag)
      ex.sendResponseHeaders(304, -1L)
      true
    }
  }

  private def doGet(ex: HttpExchange): Unit = {
    // URI.getPath is already percent-decoded ("/fib%25" arrives as "/fib%")
    val pattern = ex.getRequestURI.getPath.stripPrefix("/")
    // operational introspection — a serving tier is blind without it:
    // the bound warehouse versions (what generation answers are coming
    // from), cache effectiveness, and ingest counters, one JSON line,
    // never cached (it IS the freshness probe)
    if (pattern == "_status")
      return respond(ex, 200,
        s"""{"version":${Manifest.currentVersion(db.warehouse)}""" +
          s""","annVersion":${annDb.fold(-1L)(a =>
            Manifest.currentVersion(a.warehouse))}""" +
          s""","snapshotLoads":$snapshotLoads""" +
          s""","queryCacheHits":$queryCacheHits""" +
          s""","queryCacheBytes":$queryCacheByteSize""" +
          s""","putBytesSpooled":$putBytesSpooled""" +
          // staleness contract + in-flight writers: what an operator
          // needs to interpret "reads lag commits" reports and a
          // raised fold fence (pending > 0 persisting = vacuum time)
          s""","staleMillis":$staleMillis""" +
          s""","pendingClaims":${
            Manifest.current(db.warehouse).pending.size}""" +
          // the auto-maintenance failure streak per bound warehouse
          // (StreamIngest counts consecutive failed cadence points and
          // resets on success): unfolded/uncompacted state grows
          // unbounded exactly when this stays > 0 — the field a health
          // check polls instead of tailing the escalation off the
          // `graft` log. Persisted as a manifest property by the sink's
          // failure path, so a serving tier in ANOTHER process reports
          // the same streak (in-JVM fallback only when the manifest
          // itself is what's failing).
          s""","maintFailStreak":${graft.streaming.StreamIngest
            .consecutiveMaintenanceFailures(db.warehouse)}""" +
          s""","annMaintFailStreak":${annDb.fold(0)(a =>
            graft.streaming.StreamIngest
              .consecutiveMaintenanceFailures(a.warehouse))}}""" + "\n")
    if (pattern == "_query/bm25") return cachedQuery(ex)(doBm25(params(ex)))
    if (pattern == "_query/ann")
      return cachedQuery(ex, usesData = false, usesAnn = true)(
        doAnn(params(ex)))
    if (pattern == "_query/hybrid")
      return cachedQuery(ex, usesAnn = true)(doHybrid(params(ex)))
    if (pattern == "_query/stats") {
      val ps = params(ex)
      // kind=ann answers from the ANN warehouse — its cache entry and
      // ETag must key on THAT generation, or an index append would
      // leave a stale cached occupancy report under the data version
      val isAnn = ps.get("kind").contains("ann")
      return cachedQuery(ex, usesData = !isAnn, usesAnn = isAnn)(doStats(ps))
    }
    val human = Option(ex.getRequestURI.getQuery)
      .exists(_.split('&').contains("human"))
    val w = graft.series.Wildcard(pattern)
    // data reads go through the version-keyed RESULT cache like the
    // /_query verbs — never stale (warehouse contents are immutable per
    // manifest version), so a hot key costs a directory stat instead of
    // a Spark job: the repeated point-lookup regime the reference
    // answers from its 10 s reader cache, made exact. Oversized answers
    // (a wildcard over much of the store, a key with very many instants)
    // overflow to the streaming path below and stay uncached, so the
    // driver never buffers more than the entry cap.
    // same strong-ETag contract as the /_query verbs: the (identity,
    // version) pair identifies the answer, a matching If-None-Match is
    // a 304
    val (cacheKey, etag) = keyAndTag(usesData = true, usesAnn = false,
      ex.getRequestURI.toString)
    if (notModified(ex, etag)) return
    locally {
      val hit = cacheGet(cacheKey)
      if (hit != null) {
        qcHits.incrementAndGet()
        ex.getResponseHeaders.set("ETag", etag)
        return respond(ex, 200, hit.body)
      }
    }
    val snap = snapshot()
    // both are the warehouse's sorted-run merge: an exact key is one
    // Spark job with one task (Snapshot.get); a wildcard is one task per
    // key range, already (key, ts)-ordered, so the printer below streams
    // it with no exchange (toLocalIterator runs one job per range)
    val df = if (w.isExact) snap.get(w.pattern) else snap.read(pattern)
    val lines = TextIngest.print(db.spark, TextIngest.asRecords(df),
      tsMode = if (human) TextIngest.TsHuman else TextIngest.TsNanos)
    val it = lines.toLocalIterator()
    // accumulate up to the entry cap BEFORE committing to a transfer
    // mode: under it → one Content-Length response, cacheable; over it →
    // chunked streaming of what's buffered plus the rest
    val cap = 256 * 1024
    val sb = new java.lang.StringBuilder
    while (it.hasNext && sb.length <= cap) {
      sb.append(it.next()); sb.append('\n')
    }
    if (!it.hasNext && sb.length <= cap) {
      val body = sb.toString
      // the snapshot the body came from may postdate the entry version
      // (commit raced between the key read and snapshot()) — cache/tag
      // only when the full (version, identity) generation held still,
      // same rule (and same recreation blind spot) as cachedQuery
      if (keyAndTag(usesData = true, usesAnn = false,
          ex.getRequestURI.toString)._1 == cacheKey) {
        cachePut(cacheKey, CacheEntry(body, None))
        ex.getResponseHeaders.set("ETag", etag)
      }
      return respond(ex, 200, body)
    }
    ex.getResponseHeaders.set("Content-Type", "text/plain")
    // NO ETag on the chunked path: a mid-stream failure truncates the
    // body after the 200 commits (log-and-truncate below), and a strong
    // tag would let that truncated answer revalidate as 304 forever —
    // only COMPLETE bodies (cache hit / buffered) carry the tag
    // materialize the first partition lazily BEFORE committing the 200?
    // No — planning errors throw before this point; runtime errors can
    // strike at any row, so the handler logs-and-truncates (see above)
    ex.sendResponseHeaders(200, 0) // chunked: stream rows as they arrive
    ex.getAttribute("headersSent")
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].set(true)
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(ex.getResponseBody, "UTF-8"))
    out.write(sb.toString)
    it.forEachRemaining { l => out.write(l); out.write('\n') }
    out.flush()
  }

  /** Lexical retrieval over the warehouse's persisted BM25 postings
    * index: `GET /_query/bm25?q=<terms>&k=<n>` → one
    * `doc_id score_micro rank` line per hit. The path prefix `_query/`
    * is RESERVED by the server (an exact key of that name stays
    * readable through any non-shadowing wildcard); the probe is
    * [[graft.ops.Retrieval.bm25ProbeIndex]] — per-term key-pruned
    * reads against whatever index generation the current snapshot
    * holds, so index appends/rebuilds are visible atomically, exactly
    * like data reads. This is the register-once/probe-many steady
    * state served over HTTP: build/append from the ingest side,
    * probe-only cost per request.
    */
  private def doBm25(p: Map[String, String]): (Int, String) = {
    val terms = p.getOrElse("q", "").trim
    if (terms.isEmpty) return (400, "missing q=<terms>\n")
    val k = kOf(p).getOrElse(return (400, "k out of range\n"))
    val spark = db.spark
    import spark.implicits._
    val hits = graft.ops.Retrieval
      .bm25ProbeLiteral(db, Seq((0L, terms)), k)
      .select("doc_id", "score_micro", "rank")
      .as[(Long, Long, Long)].collect()
    (200, hits.map { case (d, s, r) => s"$d $s $r" }
      .mkString("", "\n", if (hits.isEmpty) "" else "\n"))
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split('&').filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def kOf(p: Map[String, String]): Option[Int] = p.get("k") match {
    case None    => Some(10)
    case Some(s) => s.toIntOption.filter(k => k > 0 && k <= 10000)
  }

  /** PQ geometry for a probe — read from the INDEX's own persisted meta
    * rows ([[graft.ops.Similarity.indexGeometry]], version-cached so the
    * steady state costs zero jobs), not trusted from the request: a
    * caller-asserted `m`/`dim` that disagrees with the stored codes
    * would score garbage ADC distances with no error at all. `m=`/`dim=`
    * params must AGREE with the meta when present (Left = the 400 body
    * on mismatch); they act as overrides only when the warehouse carries
    * no readable geometry (defaults [[graft.ops.Similarity.PQ_M]] / 64 —
    * the engine-wide embedding shape).
    */
  private def geometry(p: Map[String, String],
                       ann: Db): Either[String, (Int, Int)] = {
    val pm = p.get("m").flatMap(_.toIntOption)
    val pd = p.get("dim").flatMap(_.toIntOption)
    graft.ops.Similarity.indexGeometry(ann) match {
      case Some((im, idim)) =>
        if (pm.exists(_ != im))
          Left(s"m=${pm.get} does not match index geometry m=$im\n")
        else if (pd.exists(_ != idim))
          Left(s"dim=${pd.get} does not match index geometry dim=$idim\n")
        else Right((im, idim))
      case None =>
        Right((pm.getOrElse(graft.ops.Similarity.PQ_M), pd.getOrElse(64)))
    }
  }

  /** A wrong-arity query vector answers 400, not a garbage probe — the
    * geometry validation's companion check (the stored codes expect
    * exactly `dim` components).
    */
  private def vecDimError(p: Map[String, String], dim: Int): Option[String] = {
    val n = p.get("vec").map(_.split(',').count(_.trim.nonEmpty)).getOrElse(0)
    if (n != dim) Some(s"vec has $n dims, index expects $dim\n") else None
  }

  /** `vec=f1,f2,…` → the one-row literal query frame the persisted ANN
    * probe takes; query_id = -1 so the self-match filter (query_id =!=
    * nn_id) can never collide with a corpus id.
    */
  private def vecQueries(p: Map[String, String]) =
    p.get("vec").flatMap { s =>
      val xs = s.split(',').map(x => x.trim.toFloatOption)
      if (xs.isEmpty || xs.exists(_.isEmpty)) None
      else {
        val spark = db.spark
        import spark.implicits._
        Some(Seq((-1L, xs.flatten)).toDF("vec_id", "embedding"))
      }
    }

  /** Dense retrieval over the warehouse's persisted IVF-PQ index:
    * `GET /_query/ann?vec=<f,f,…>&k=<n>&nprobe=<n>` → one
    * `nn_id adist rank` line per hit — the FAISS-style serving path
    * ([[graft.ops.Similarity.ivfPqProbePersisted]]: centroid ranking on
    * the query, one cell-pruned codes read, native ADC kernel).
    */
  private def doAnn(p: Map[String, String]): (Int, String) = {
    val ann = annDb.getOrElse(
      return (500, "no ANN warehouse attached to this server\n"))
    val q = vecQueries(p).getOrElse(
      return (400, "missing/invalid vec=<f,f,...>\n"))
    val k = kOf(p).getOrElse(return (400, "k out of range\n"))
    val nProbe = p.get("nprobe").flatMap(_.toIntOption).getOrElse(1)
    if (nProbe <= 0 || nProbe > 64) return (400, "nprobe out of range\n")
    val (m, dim) = geometry(p, ann) match {
      case Left(err) => return (400, err)
      case Right(g)  => g
    }
    vecDimError(p, dim).foreach(err => return (400, err))
    val spark = db.spark
    import spark.implicits._
    val hits = graft.ops.Similarity
      .ivfPqProbePersisted(ann, q, "vec_id", "embedding", k, m = m,
        dim = dim, nProbe = nProbe)
      .select(col("nn_id"), col("adist"), col("rank").cast("long"))
      .orderBy("rank")
      .as[(Long, Long, Long)].collect()
    (200, hits.map { case (d, a, r) => s"$d $a $r" }
      .mkString("", "\n", if (hits.isEmpty) "" else "\n"))
  }

  /** Hybrid search: `GET /_query/hybrid?q=<terms>&vec=<f,…>&k=<n>
    * [&fetch=<n>&nprobe=<n>]` — RRF fusion
    * ([[graft.ops.Retrieval.rrfFuse]]) of the BM25 postings probe
    * (this server's data warehouse) and the IVF-PQ probe (the attached
    * `annDb` warehouse — see the constructor note on why the two
    * stores must not share one warehouse), each fetching `fetch`
    * (default 100) candidates, fused to top-k `doc_id rrf rank` lines.
    */
  private def doHybrid(p: Map[String, String]): (Int, String) = {
    val ann = annDb.getOrElse(
      return (500, "no ANN warehouse attached to this server\n"))
    val terms = p.getOrElse("q", "").trim
    if (terms.isEmpty) return (400, "missing q=<terms>\n")
    val qv = vecQueries(p).getOrElse(
      return (400, "missing/invalid vec=<f,f,...>\n"))
    val k = kOf(p).getOrElse(return (400, "k out of range\n"))
    val fetch = p.get("fetch").flatMap(_.toIntOption).getOrElse(100)
    if (fetch < k || fetch > 10000) return (400, "fetch out of range\n")
    val nProbe = p.get("nprobe").flatMap(_.toIntOption).getOrElse(1)
    val (m, dim) = geometry(p, ann) match {
      case Left(err) => return (400, err)
      case Right(g)  => g
    }
    vecDimError(p, dim).foreach(err => return (400, err))
    val spark = db.spark
    import spark.implicits._
    // the two probes are independent Spark jobs — run them CONCURRENTLY
    // (halves the serial stage chain) and fuse the two bounded rank
    // lists driver-side (rrfFuseLocal == rrfFuse, spec-pinned): a
    // relational fusion would spend a whole job on <= 2*fetch rows
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val lexF = branch {
      graft.ops.Retrieval.bm25ProbeLiteral(db, Seq((-1L, terms)), fetch)
        .select(col("query_id"), col("doc_id"), col("rank"))
        .as[(Long, Long, Long)].collect().toSeq
    }
    val dense = graft.ops.Similarity
      .ivfPqProbePersisted(ann, qv, "vec_id", "embedding", fetch, m = m,
        dim = dim, nProbe = nProbe)
      .select(col("query_id"), col("nn_id").as("doc_id"),
        col("rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
    val hits = graft.ops.Retrieval.rrfFuseLocal(
      Await.result(lexF, 600.seconds), dense, k)
    (200, hits.map { case (_, d, s, r) => s"$d $s $r" }
      .mkString("", "\n", if (hits.isEmpty) "" else "\n"))
  }

  /** Freshness fields every stats body carries: the manifest version it
    * derives from, each streaming sink's replay cursor (which batchId
    * the store reflects), and the last-fold txid per sketch family
    * under this tag ([[graft.ops.SketchStore.foldLastProp]] — recorded
    * IN the fold's own publishing commit). All manifest fields: zero
    * extra jobs, and version-keyed like the result cache, so a cached
    * body's freshness claims stay true for exactly as long as the body
    * is served.
    */
  private def freshnessJson(m: graft.store.ManifestState,
                            tag: String): String = {
    val cursors = m.streamBatches.toSeq.sortBy(_._1)
      .map { case (s, b) => s"${jstr(s)}:$b" }.mkString("{", ",", "}")
    // keys are fold.last/<family>/<tag> with '/'-free family names but
    // ARBITRARY tags — split at the FIRST '/' after the prefix, exact-
    // match the remainder against the tag. A suffix match would let a
    // slash-carrying sibling tag ("x/y") report its folds under this
    // tag ("y") with a mangled family name ("mg/x").
    val folds = m.props.toSeq.collect {
      case (k, v) if k.startsWith("fold.last/") =>
        val ft = k.stripPrefix("fold.last/")
        (ft.indexOf('/'), ft, v)
    }.collect {
      case (i, ft, v) if i > 0 && ft.substring(i + 1) == tag =>
        ft.substring(0, i) -> v
    }.sortBy(_._1).map { case (f, tx) => s"${jstr(f)}:$tx" }
      .mkString("{", ",", "}")
    s""""version":${m.version},"cursors":$cursors,"folds":$folds"""
  }

  /** ONE copy of the JSON string escape every stats body shares. */
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""

  /** Corpus statistics at serving latency:
    * `GET /_query/stats?tag=<t>&heavy=<n>` → ONE JSON line from the
    * warehouse-backed sketch stores ([[graft.ops.SketchStore]]) bound
    * to this server's data warehouse — distinct-element estimate (KMV),
    * quantile envelopes (fixed-grid histogram) and certified frequent
    * items (Misra–Gries + mass), i.e. the dashboard numbers an ingest
    * pipeline watches. The stores are sketch-sized however large the
    * corpus ever was, so the three reads are bounded key-pruned scans;
    * the verb rides the version-keyed result cache like every data
    * read, so the steady state costs a directory stat. Absent stores
    * (a warehouse that never registered a sketch) answer empty
    * sections, not errors — the verb is safe to point at any store.
    * `?by` switches to the GROUPED report: per-group quantile envelopes
    * from the grouped hist store
    * ([[graft.ops.SketchStore.registerHistBy]]) — the source-mix
    * dashboard read.
    */
  private def doStats(p: Map[String, String]): (Int, String) = {
    val tag = p.getOrElse("tag", "t")
    val heavyK = p.get("heavy").flatMap(_.toIntOption).getOrElse(20)
    if (heavyK < 0 || heavyK > 10000) return (400, "heavy out of range\n")
    val spark = db.spark
    import spark.implicits._
    // kind=ann → the INDEX-warehouse occupancy/geometry report, the
    // re-cell/retrain dashboard (SCALE.md r17: recall decay tracks cell
    // occupancy, so skew must be a polled number). Answers from the
    // bound ANN warehouse off ONE snapshot; the histogram is ≤nCells
    // rows by the bucket-layout cap — collected bounded, refused loudly
    // past a sanity ceiling like every other serve collect.
    if (p.get("kind").contains("ann")) {
      val a = annDb.getOrElse(
        return (400, "kind=ann needs an ANN warehouse bound (annDb)\n"))
      val snap = a.snapshot()
      val ver = snap.manifest.version
      if (snap.manifest.dataTxids.isEmpty)
        return (200, s"""{"kind":"ann","nCells":0,"nCodes":0,""" +
          s""""annVersion":$ver}""" + "\n")
      // the whole report body — occupancy quantiles plus the retrain/
      // refine DECISION (deadCells: wasted nProbe budget only a re-cell
      // reclaims; occSkew = occMax/occP50, max not p95 so one crowded
      // new-topic cell is visible, null when p50 = 0; the one-word
      // advice an operator previously had to correlate by hand) —
      // computed by the shared Similarity.occupancyReport so the CLI
      // twin cannot drift in cap, quantile math, or rule
      val rep = graft.ops.Similarity.occupancyReport(snap).getOrElse(
        return (400, "index holds more than 20000 cells — not an IVF " +
          "layout this report is meant for\n"))
      // geometry from the manifest props a buildIndex claims — absent
      // on a pre-props index (fields omitted rather than guessed)
      import graft.ops.Similarity.{GeomMProp, GeomDimProp, ResidualProp}
      val geom = (snap.manifest.props.get(GeomMProp),
          snap.manifest.props.get(GeomDimProp)) match {
        case (Some(m), Some(d)) =>
          s""","m":$m,"dim":$d,"residual":${
            snap.manifest.props.get(ResidualProp).getOrElse("0")}"""
        case _ => ""
      }
      val skewJson = rep.occSkew.fold("null")(s =>
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(s)))
      return (200,
        s"""{"kind":"ann","nCells":${rep.nCells},""" +
          s""""nCodes":${rep.nCodes},"occMin":${rep.occMin},""" +
          s""""occP50":${rep.occP50},"occP95":${rep.occP95},""" +
          s""""occMax":${rep.occMax},"deadCells":${rep.deadCells},""" +
          s""""occSkew":$skewJson,"advice":"${rep.advice}"""" +
          s"""$geom,"annVersion":$ver}""" + "\n")
    }
    // ?by → the grouped report: per-group quantile envelopes from the
    // GROUPED hist store (registerHistBy) — the source-mix dashboard
    // read. One bounded key-pruned scan of sketch-sized rows per group.
    if (p.contains("by")) {
      // bounded like every other verb: the grouped stores can hold a
      // data-sized group count, and an unbounded collect would
      // materialize it on the serving driver. `groups=` caps the report
      // (first N groups in grp order — each kind emits a FIXED per-group
      // row bound, so a row limit IS a group limit); `truncated` makes
      // the cap loud, never silent. `kind=` picks the grouped store:
      // hist (quantile envelopes, default), kmv (distinct estimates),
      // mg (certified frequent items).
      val maxGroups = p.get("groups").flatMap(_.toIntOption).getOrElse(100)
      if (maxGroups <= 0 || maxGroups > 10000)
        return (400, "groups out of range\n")
      val kind = p.getOrElse("kind", "hist")
      // ONE snapshot for every read in the body AND its freshness
      // fields — the version/cursors/folds the response claims must be
      // the generation the data came from, not whatever committed since
      val snap = db.snapshot()
      def fresh = freshnessJson(snap.manifest, tag)
      // grp= narrows to ONE source (the single-dashboard-panel read) —
      // a pushed-down filter over the grouped windows' output
      def pick(all: org.apache.spark.sql.DataFrame) =
        p.get("grp").fold(all)(g => all.filter(col("grp") === g))
      kind match {
        case "hist" =>
          val nQms = graft.ops.Sketches.HIST_QMS.size
          val rows = pick(
              graft.ops.SketchStore.storedHistQuantilesBy(db, tag = tag,
                at = Some(snap)))
            .select(col("grp"), col("qm"), col("n"), col("lo"), col("hi"))
            .orderBy("grp", "qm")
            .limit((maxGroups + 1) * nQms)
            .as[(String, Long, Long, Long, Long)].collect().toSeq
          val byGrp = rows.groupBy(_._1).toSeq.sortBy(_._1)
          val truncated = byGrp.size > maxGroups
          val groups = byGrp.take(maxGroups).map {
            case (g, qs) =>
              val qJson = qs.sortBy(_._2).map { case (_, qm, _, lo, hi) =>
                s"""{"qm":$qm,"lo":$lo,"hi":$hi}""" }.mkString("[", ",", "]")
              s"""{"grp":${jstr(g)},"n":${qs.head._3},"quantiles":$qJson}"""
          }.mkString("[", ",", "]")
          (200,
            s"""{"tag":${jstr(tag)},"kind":"hist","truncated":$truncated""" +
              s""","groups":$groups,$fresh}""" + "\n")
        case "kmv" =>
          // one row per group — the limit is directly the group cap;
          // the claimed k binds once off the snapshot and serves both
          // the per-group exactness labels and the body's "k" field
          val kClaim =
            graft.ops.SketchStore.storedKmvByK(db, tag, Some(snap))
          val rows = pick(
              graft.ops.SketchStore.storedKmvEstimateBy(db, tag, Some(snap)))
            .select(col("grp"), col("n_sketch"), col("est_distinct"))
            .orderBy("grp")
            .limit(maxGroups + 1)
            .as[(String, Long, Long)].collect().toSeq
          val truncated = rows.size > maxGroups
          val groups = rows.take(maxGroups).map { case (g, ns, est) =>
            s"""{"grp":${jstr(g)},"estDistinct":$est""" +
              s""","exactBelowK":${ns < kClaim}}"""
          }.mkString("[", ",", "]")
          (200,
            s"""{"tag":${jstr(tag)},"kind":"kmv","k":$kClaim""" +
              s""","truncated":$truncated,"groups":$groups,$fresh}""" +
              "\n")
        case "mg" =>
          // the GROUP SET is mass-defined at every heavy= value: a
          // group whose merged candidates truncated to nothing (mass
          // but no items) must not appear and disappear as the heavy
          // knob moves, and `truncated` must count one consistent set.
          // Read 1: the first maxGroups+1 masses (one row per group —
          // the limit IS the group cap). Read 2: ≤ heavy items per
          // SELECTED group via an isin-pruned, group-partitioned rank
          // window — never a data-sized collect. BOTH reads derive
          // from ONE snapshot: a commit landing between them would
          // otherwise render heavy items certified against a DIFFERENT
          // generation's n for the same group — intra-group
          // inconsistency, sharper than the cross-store mixing single
          // responses tolerate (the branch-wide snapshot above).
          val masses = pick(
              graft.ops.SketchStore.storedMgMassBy(db, tag, Some(snap)))
            .orderBy("grp").limit(maxGroups + 1)
            .as[(String, Long)].collect().toSeq
          val truncated = masses.size > maxGroups
          val sel = masses.take(maxGroups)
          val items: Map[String, Seq[(String, Long, Long, Long)]] =
            if (heavyK == 0 || sel.isEmpty) Map.empty
            else {
              import org.apache.spark.sql.expressions.Window
              graft.ops.SketchStore
                .heavyHittersByUnordered(db, tag, Some(snap))
                .filter(col("grp").isin(sel.map(_._1): _*))
                .withColumn("rk",
                  org.apache.spark.sql.functions.row_number()
                    .over(Window.partitionBy("grp")
                      .orderBy(col("est").desc, col("item"))))
                .filter(col("rk") <= heavyK)
                .select(col("grp"), col("item"), col("est"),
                  col("certain"), col("rk"))
                .as[(String, String, Long, Long, Long)].collect().toSeq
                .groupBy(_._1)
                .map { case (g, hs) => g -> hs.sortBy(_._5)
                  .map(h => (h._2, h._3, h._4, h._5)) }
            }
          val groups = sel.map { case (g, n) =>
            val hJson = items.getOrElse(g, Nil)
              .map { case (item, est, cert, _) =>
                s"""{"item":${jstr(item)},"est":$est,"certain":$cert}"""
              }.mkString("[", ",", "]")
            s"""{"grp":${jstr(g)},"n":$n,"heavy":$hJson}"""
          }.mkString("[", ",", "]")
          (200,
            s"""{"tag":${jstr(tag)},"kind":"mg","c":${
              graft.ops.SketchStore.storedMgByC(db, tag, Some(snap))}""" +
              s""","truncated":$truncated,"groups":$groups,$fresh}""" +
              "\n")
        case "cm" =>
          // point-frequency probes against the grouped count-min grids
          // ("how often did THIS token appear in THIS source", for ANY
          // token — the quadrant MG's top-k watchlists can't answer).
          // The grid has no enumerable report, so the verb REQUIRES
          // items= (comma-separated, ≤ 100); grp= narrows to one
          // source, else the first `groups=` groups holding a grid.
          // ONE snapshot for the group listing and the probe.
          val items = p.get("items")
            .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
          if (items.isEmpty)
            return (400, "kind=cm needs items=tok1,tok2,...\n")
          if (items.size > 100)
            return (400, "too many items (cap 100)\n")
          val grid =
            graft.ops.SketchStore.storedCountMinBy(db, tag, Some(snap))
          // the group listing is bounded by construction (distinct +
          // limit, group names only) — safe to run BEFORE the product
          // check, which then bounds against the ACTUAL selected group
          // count rather than the requested groups= knob: a
          // groups=10000&items=2 request on a 3-group store is 6
          // response entries, not a refusal
          val sel0: Seq[String] = p.get("grp") match {
            case Some(g) => Seq(g)
            case None => grid.select("grp").distinct().orderBy("grp")
              .limit(maxGroups + 1).as[String].collect().toSeq
          }
          val truncated = sel0.size > maxGroups
          val gsel = sel0.take(maxGroups)
          // the response body (and the driver-side pair collect behind
          // it) is groups × items entries — the per-knob caps alone
          // still admit a 10000×100 = 1M-entry cross product, so the
          // PRODUCT is bounded by one number an operator can reason
          // about, refused loudly like every other overflow here
          if (gsel.size.toLong * items.size > CM_PRODUCT_CAP)
            return (400, s"groups*items product too large (cap " +
              s"$CM_PRODUCT_CAP): ${gsel.size}*${items.size} — lower " +
              "groups= or items=, or narrow with grp=\n")
          // the probe reads the stored grids' CLAIMED geometry off this
          // same snapshot (SketchStore.probeStoredCountMinBy at = snap) — a
          // grid registered at a non-default (d, w) probed at guessed
          // defaults would hash items into the wrong cells silently
          val est: Map[(String, String), Long] =
            if (gsel.isEmpty) Map.empty
            else graft.ops.SketchStore.probeStoredCountMinBy(db,
                gsel.flatMap(g => items.map(i => (g, i)))
                  .toDF("grp", "item"), "grp", "item", tag,
                Some(snap))
              .as[(String, String, Long)].collect()
              .map { case (g, i, e) => (g, i) -> e }.toMap
          val groups = gsel.map { g =>
            val iJson = items.map(i =>
              s"""{"item":${jstr(i)},"est":${est.getOrElse((g, i), 0L)}}""")
              .mkString("[", ",", "]")
            s"""{"grp":${jstr(g)},"items":$iJson}"""
          }.mkString("[", ",", "]")
          (200, {
            val (cd, cw) =
              graft.ops.SketchStore.storedCmByGrid(db, tag, Some(snap))
            s"""{"tag":${jstr(tag)},"kind":"cm","d":$cd,"w":$cw""" +
              s""","truncated":$truncated,"groups":$groups,$fresh}""" +
              "\n"
          })
        case other => (400, s"kind=$other not one of hist|kmv|mg|cm\n")
      }
    } else doStatsUngrouped(p, tag, heavyK)
  }

  /** The ungrouped (default) stats report — see [[doStats]]. */
  private def doStatsUngrouped(p: Map[String, String], tag: String,
                               heavyK: Int): (Int, String) = {
    val spark = db.spark
    import spark.implicits._
    // items= adds count-min point probes to the report — frequency of
    // ANY named item against the running grid (the section MG's
    // heavy-k list can't answer); > 100 items is a loud 400 (the same
    // cap as kind=cm — a silent truncation would read as
    // absent-from-store for the dropped items). Validated HERE, before
    // the three sketch reads launch: an oversized request must be
    // refused for the price of parsing a parameter, not after paying
    // the full stats compute.
    val itemsReq = p.get("items").map(_.split(',').toSeq.filter(_.nonEmpty))
    if (itemsReq.exists(_.size > 100))
      return (400, "too many items (cap 100)\n")
    // three independent bounded reads — concurrent jobs like the
    // hybrid verb, then a driver-side render of sketch-sized rows. ALL
    // reads (and the freshness fields) derive from ONE snapshot, so the
    // version/cursors/folds the body claims are the generation the data
    // actually came from.
    val snap = db.snapshot()
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val distinctF = branch {
      graft.ops.SketchStore.storedKmvEstimate(db, tag, Some(snap))
        .select(col("n_sketch"), col("est_distinct"))
        .as[(Long, Long)].collect().headOption.getOrElse((0L, 0L))
    }
    val quantF = branch {
      graft.ops.SketchStore.storedHistQuantiles(db, tag = tag,
          at = Some(snap))
        .select(col("qm"), col("n"), col("lo"), col("hi"))
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    val heavy =
      graft.ops.SketchStore.storedHeavyHitters(db, tag, Some(snap))
      .limit(heavyK)
      .as[(String, Long, Long, Long)].collect().toSeq
    val (nSketch, estDistinct) = Await.result(distinctF, 600.seconds)
    val quants = Await.result(quantF, 600.seconds)
    // mass rides every heavy row already; only an empty candidate list
    // (heavy=0, or a tie-heavy truncation) needs the dedicated mass
    // read — never report an occupied store as mass 0
    val mgN = heavy.headOption.map(_._3).getOrElse(
      graft.ops.SketchStore.storedMgMass(db, tag, Some(snap))
        .as[Long].collect().headOption.getOrElse(0L))
    val qJson = quants.map { case (qm, _, lo, hi) =>
      s"""{"qm":$qm,"lo":$lo,"hi":$hi}""" }.mkString("[", ",", "]")
    val hJson = heavy.map { case (item, est, _, certain) =>
      s"""{"item":${jstr(item)},"est":$est,"certain":$certain}"""
    }.mkString("[", ",", "]")
    // the two masses are DIFFERENT streams (the histogram counts values
    // registered to it, MG counts elements) — never conflate them
    val histN = quants.headOption.map(_._2).getOrElse(0L)
    val freqJson = itemsReq match {
      case None | Some(Seq()) => ""
      case Some(items) =>
        val est = graft.ops.SketchStore.probeStoredCountMin(db,
            items.toDF("t"), "t", tag, Some(snap))
          .as[(String, Long)].collect().toMap
        items.map(i =>
          s"""{"item":${jstr(i)},"est":${est.getOrElse(i, 0L)}}""")
          .mkString(""","freq":[""", ",", "]")
    }
    val fresh = freshnessJson(snap.manifest, tag)
    // the claimed geometries ride the body so a dashboard can read
    // capacity (k, c) next to the numbers it bounds — free manifest
    // fields off the same snapshot
    val kmvK = graft.ops.SketchStore.storedKmvK(db, tag, Some(snap))
    (200,
      s"""{"tag":${jstr(tag)},"estDistinct":$estDistinct""" +
        s""","kmvK":$kmvK,"kmvExactBelowK":${nSketch < kmvK}""" +
        s""","histN":$histN,"quantiles":$qJson""" +
        s""","mgC":${graft.ops.SketchStore.storedMgC(db, tag, Some(snap))}""" +
        s""","mgN":$mgN,"heavy":$hJson$freqJson,$fresh}""" + "\n")
  }

  private val spooled = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bytes PUT bodies have spooled through temp files since start —
    * observable for ServeSpec's never-on-the-driver-heap case.
    */
  def putBytesSpooled: Long = spooled.get()

  /** PUT ingest, reference parity with sonnerie-serve's tempfile external
    * sort (`src/bin/sonnerie-serve.rs:114-185`): the request body streams
    * to a TEMP FILE in bounded chunks — the driver never materializes it
    * on the heap, so a multi-GB PUT degrades to disk instead of OOMing
    * the server — then parses as a Spark text source feeding
    * [[TxWriter]]. The spooled byte count is known before planning, so a
    * body up to AQE's minimum coalesced partition size commits in ONE
    * Spark job ([[TxWriter.boundedPartitions]]: one sorted partition, no
    * range sampling job, no second parse, no shuffle); larger bodies
    * take the range-shuffle sort. Semantics unchanged: the whole
    * body is ONE transaction, committed atomically, `201 ok`. (The spool
    * lives on the driver's local disk; a multi-executor serving tier
    * would point it at storage the executors share — batch ingest at
    * that scale goes through [[graft.streaming.StreamIngest]] anyway.)
    */
  private def doPut(ex: HttpExchange): Unit = {
    val spark = db.spark
    val tmp = java.nio.file.Files.createTempFile("graft-put-spool", ".txt")
    try {
      // bounded copy: the spool degrades a huge PUT to disk, but the
      // disk itself is not a quota — past maxPutBytes the body is
      // refused with 413 BEFORE anything commits (spool deleted below),
      // so a runaway client cannot fill the serving tier's disk
      val in = ex.getRequestBody
      val out = java.nio.file.Files.newOutputStream(tmp)
      var n = 0L
      var over = false
      try {
        val buf = new Array[Byte](64 * 1024)
        var r = in.read(buf)
        while (r >= 0 && !over) {
          n += r
          if (n > maxPutBytes) over = true
          else { out.write(buf, 0, r); r = in.read(buf) }
        }
      } finally out.close()
      if (over) {
        // drain (read-and-discard) what the client has in flight before
        // responding: the JDK server resets the connection when a
        // response goes out under an unread body, so without this the
        // runaway client sees a broken pipe instead of the 413. Bounded
        // — past the drain cap the reset is accepted rather than
        // reading a malicious body forever.
        val buf = new Array[Byte](64 * 1024)
        var drained = 0L
        var r = in.read(buf)
        while (r >= 0 && drained < 64L * 1024 * 1024) {
          drained += r; r = in.read(buf)
        }
        return respond(ex, 413,
          s"body exceeds maxPutBytes=$maxPutBytes\n")
      }
      spooled.addAndGet(n)
      // drop whitespace-ONLY lines with the full \s class — Spark's
      // trim strips only ' ' (a tab/\r line would reach the parser and
      // 500 the whole PUT), while real records keep their tabs intact
      val lines = spark.read.textFile(tmp.toString)
        .filter(org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.regexp_replace(
            col("value"), "\\s", "")) > 0)
      val recs = TextIngest.parseWithFmt(spark, lines)
      // claim-first commit on purpose. Measured and rejected, do not
      // retry: the fused protocol (`fuse = true`) does not speed up the
      // one-job PUT. One quiet in-process run, one JVM on 4 cores, 30
      // writes of 1 000 lines after 5 warm-up writes, medians: range
      // path 317 ms, one-job 233 ms, one-job fused 255 ms. Manifest
      // commits are not what a PUT waits on; the write job is
      TxWriter.write(db, recs.toDF(), // forces the read; spool freed below
        rangePartitions = TxWriter.boundedPartitions(spark, n))
      respond(ex, 201, "ok")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "text/plain")
    ex.sendResponseHeaders(status, b.length.toLong)
    ex.getResponseBody.write(b)
  }

  /** Cap on the `kind=cm` verb's groups × items cross product — the
    * one number bounding both the driver-side pair collect and the
    * response body's entry count.
    */
  private val CM_PRODUCT_CAP = 10000L
}
