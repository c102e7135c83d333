package graft

import scala.io.Source

import graft.core.Graft
import graft.series.SeriesOps
import graft.store.{Compactor, Db, TxWriter}
import graft.text.{RowCodec, TextIngest, TextProto}

/** CLI verbs with the reference's surface (sonnerie `src/main.rs`):
  *
  * {{{
  * graft.Cli -d DIR add --format FMT            # stdin lines → one tx
  * graft.Cli -d DIR add                         # per-line formats
  * graft.Cli -d DIR read PATTERN [--after-time T] [--before-time T]
  *                   [--columns 1,3,5-7] [--human] [--with-format]
  * graft.Cli -d DIR delete [--first-key K] [--last-key K] [--wildcard W]
  *                   [--after-time T] [--before-time T] [--time T]
  * graft.Cli -d DIR compact [--major] [--gegnum CMD]
  * }}}
  *
  * Timestamps accept the reference layouts or raw nanos
  * (`src/main.rs:520-543`); keys/strings are backslash-escaped.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession(
      Runtime.getRuntime.availableProcessors().min(32))
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toList, Source.stdin.getLines(), println(_))
    finally spark.stop()
  }

  /** Testable entry: injected stdin/stdout. */
  def run(spark: org.apache.spark.sql.SparkSession, args: List[String],
          stdin: Iterator[String], stdout: String => Unit): Unit = {
    val (flags, positional) = parseArgs(args)
    val dir = flags.getOrElse("-d",
      sys.error("usage: graft.Cli -d <warehouse> <verb> …"))
    val db = Db(spark, dir)
    import spark.implicits._

    positional match {
      case "add" :: Nil =>
        val input = stdin.toVector
        val lines = spark.createDataset(input)
        val recs = flags.get("--format") match {
          case Some(fmt) =>
            TextIngest.parse(spark, lines, fmt, flags.get("--timestamp-format"))
          case None => TextIngest.parseWithFmt(spark, lines)
        }
        // the collected lines' size (UTF-8 bytes plus one newline each,
        // as they arrived) picks the one-job write for small inputs
        val bytes = input.iterator
          .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 1L).sum
        TxWriter.write(db, recs.toDF(),
          rangePartitions = TxWriter.boundedPartitions(spark, bytes))

      // `read <pattern>` or, as in the reference, a pure key range via
      // `read --after-key A --before-key B` (src/main.rs:113-121)
      case "read" :: rest if rest.size <= 1 =>
        // --at-version V: time travel — read the warehouse exactly as
        // manifest version V committed it (versions are immutable; the
        // reachable history is bounded by compact --prune-history)
        def readPat(pattern: String) = flags.get("--at-version") match {
          case Some(v) => db.snapshotAt(v.toLong).read(pattern)
          case None    => db.read(pattern)
        }
        val base = rest.headOption match {
          case Some(pattern) =>
            // the reference declares filter and key bounds conflicts_with
            // (src/main.rs:113-121): error rather than silently ignoring
            // the bounds and over-reading
            require(!flags.contains("--after-key") &&
              !flags.contains("--before-key"),
              "a pattern conflicts with --after-key/--before-key")
            readPat(pattern)
          case None =>
            val from = flags.get("--after-key")
            val until = flags.get("--before-key")
            require(from.nonEmpty || until.nonEmpty,
              "read needs a pattern or --after-key/--before-key")
            SeriesOps.keyRange(readPat("%"), from, until)
        }
        val df = SeriesOps.timeRange(
          base,
          flags.get("--after-time").map(TextProto.parseTimestamp),
          flags.get("--before-time").map(TextProto.parseTimestamp))
        val columns = flags.get("--columns").map(parseColumns)
        val tsMode = flags.get("--timestamp-format") match {
          case Some("nanos")   => TextIngest.TsNanos
          case Some("seconds") => TextIngest.TsSeconds
          case Some(pattern)   => TextIngest.TsPattern(pattern)
          case None =>
            // reference spellings (src/main.rs:98-112)
            if (flags.contains("--timestamp-nanos")) TextIngest.TsNanos
            else if (flags.contains("--timestamp-seconds")) TextIngest.TsSeconds
            else if (flags.contains("--human")) TextIngest.TsHuman
            else TextIngest.TsNanos
        }
        val lines = TextIngest.print(spark, TextIngest.asRecords(df),
          showFmt = flags.contains("--with-format") ||
            flags.contains("--print-format"),
          columns = columns, tsMode = tsMode)
        val out = flags.get("--parallel") match {
          // reference `read --parallel CMD`: records piped to one
          // subprocess per partition (src/main.rs:234-279)
          case Some(cmd) => spark.createDataset(lines.rdd.pipe(cmd))
          case None      => lines
        }
        out.toLocalIterator().forEachRemaining(l => stdout(l))

      case "delete" :: Nil =>
        val t0 = flags.get("--after-time").map(TextProto.parseTimestamp)
        val t1 = flags.get("--before-time").map(TextProto.parseTimestamp)
        val at = flags.get("--time").map(TextProto.parseTimestamp)
        TxWriter.delete(db,
          // --after-key/--before-key are the reference's spellings for
          // the same inclusive/exclusive bounds (src/main.rs:42-48)
          firstKey = flags.getOrElse("--first-key",
            flags.getOrElse("--after-key", "")),
          lastKey = flags.getOrElse("--last-key",
            flags.getOrElse("--before-key", "")),
          t0 = at.orElse(t0).getOrElse(0L),
          t1 = at.map(_ + 1).orElse(t1).getOrElse(Long.MaxValue),
          wildcard = flags.getOrElse("--wildcard", "%"))

      // change feed: everything committed after --since-txid (default:
      // full history), printed as text-protocol lines; prints the new
      // cursor on stderr-style last line for the next invocation
      case "tail" :: rest =>
        val pattern = rest.headOption.getOrElse("%")
        val since = flags.get("--since-txid").map(_.toLong).getOrElse(-1L)
        val snap = db.snapshot()
        val feed = snap.tail(since, pattern)
        TextIngest.print(spark, TextIngest.asRecords(feed),
            showFmt = flags.contains("--with-format"),
            tsMode = TextIngest.TsNanos)
          .toLocalIterator().forEachRemaining(l => stdout(l))
        stdout(s"# cursor ${snap.maxTxid}")

      // one transaction's records, printed through the text sink
      // (reference examples/get.rs:5-46)
      case "dump" :: txid :: Nil =>
        val df = db.snapshot().transaction(txid.toLong)
        TextIngest.print(spark, TextIngest.asRecords(df),
            showFmt = flags.contains("--with-format"),
            tsMode = TextIngest.TsNanos)
          .toLocalIterator().forEachRemaining(l => stdout(l))

      // reference sonnerie-serve: blocks serving GET/PUT until killed.
      // --ann-dir attaches a second warehouse holding the persisted
      // IVF-PQ index, enabling /_query/ann and /_query/hybrid (one
      // warehouse per store — see the Serve constructor note)
      case "serve" :: Nil =>
        val srv = new graft.serve.Serve(db,
          flags.get("--port").map(_.toInt).getOrElse(5555),
          annDb = flags.get("--ann-dir")
            .map(d => graft.store.Db(db.spark, d)),
          // 0 (default) = never-stale reads; > 0 opts into the
          // reference's bounded reader-cache staleness (ms)
          staleMillis = flags.get("--stale-ms").map(_.toLong).getOrElse(0L))
          .start()
        stdout(s"# serving on port ${srv.boundPort}")
        Thread.currentThread().join() // serve until the process is killed

      case "compact" :: Nil =>
        flags.get("--gegnum") match {
          case Some(cmd) =>
            Compactor.gegnum(db, cmd, flags.get("--timestamp-format"))
          case None =>
            if (flags.contains("--major")) Compactor.major(db)
            else Compactor.minor(db)
        }
        Compactor.vacuum(db)
        // deep-history maintenance: bound the manifest version history
        // (time travel then reaches only retained versions; the minted
        // warehouse identity survives pruning by construction)
        flags.get("--prune-history")
          .foreach(k => Compactor.pruneHistory(db, k.toInt))

      // corpus statistics from the warehouse-backed sketch stores —
      // the CLI twin of the server's GET /_query/stats: distinct
      // estimate, quantile envelopes, certified frequent items, each a
      // bounded key-pruned read however much was ever registered
      // sketch-store maintenance: fold each store's per-batch history
      // to one generation — the CLI twin of the streaming sinks'
      // foldEvery auto-fold policy (atomic supersede per store)
      case "fold" :: Nil =>
        val tag = flags.getOrElse("--tag", "t")
        val store = flags.getOrElse("--store", "all")
        if (!Set("all", "kmv", "cm", "mg", "hist", "histby", "kmvby",
            "mgby", "cmby")(store))
          sys.error(s"unknown --store: $store " +
            "(want kmv|cm|mg|hist|histby|kmvby|mgby|cmby|all)")
        def fold1(name: String)(f: => Long): Unit =
          if (store == "all" || store == name) {
            val tx = f
            stdout(s"fold\t$name\t" + (if (tx < 0) "empty" else s"tx=$tx"))
          }
        fold1("kmv")(graft.ops.SketchStore.foldKmv(db, tag))
        fold1("cm")(graft.ops.SketchStore.foldCountMin(db, tag))
        fold1("mg")(graft.ops.SketchStore.foldMg(db, tag))
        fold1("hist")(graft.ops.SketchStore.foldHist(db, tag))
        fold1("histby")(graft.ops.SketchStore.foldHistBy(db, tag))
        fold1("kmvby")(graft.ops.SketchStore.foldKmvBy(db, tag))
        fold1("mgby")(graft.ops.SketchStore.foldMgBy(db, tag))
        fold1("cmby")(graft.ops.SketchStore.foldCountMinBy(db, tag))

      // histogram grid evolution in place (exact for multiples):
      // graft.Cli -d DIR migrate-grid --width W [--tag T]
      case "migrate-grid" :: Nil =>
        val tag = flags.getOrElse("--tag", "t")
        val w = flags.getOrElse("--width",
          sys.error("migrate-grid needs --width <nanos>")).toLong
        val tx =
          if (flags.contains("--by"))
            graft.ops.SketchStore.migrateHistGridBy(db, w, tag)
          else graft.ops.SketchStore.migrateHistGrid(db, w, tag)
        stdout(if (tx < 0) "migrate\tnoop" else s"migrate\ttx=$tx")

      case "stats" :: Nil if flags.get("--kind").contains("ann") =>
        // CLI twin of GET /_query/stats?kind=ann — the WHOLE report
        // body (occupancy quantiles, cap, retrain/refine decision)
        // comes from the shared Similarity.occupancyReport, so the
        // twins cannot drift. `-d` points at the INDEX warehouse.
        val snap = db.snapshot()
        if (snap.manifest.dataTxids.isEmpty) stdout("cells\t0")
        else {
          val rep = graft.ops.Similarity.occupancyReport(snap).getOrElse(
            sys.error("index holds more than 20000 cells — not an IVF " +
              "layout this report is meant for"))
          stdout(s"cells\t${rep.nCells}")
          stdout(s"codes\t${rep.nCodes}")
          stdout(s"occ\tmin=${rep.occMin}\tp50=${rep.occP50}\t" +
            s"p95=${rep.occP95}\tmax=${rep.occMax}")
          stdout(s"dead\t${rep.deadCells}")
          stdout("skew\t" + rep.occSkew.fold("n/a")(s =>
            String.format(java.util.Locale.ROOT, "%.4f", Double.box(s))))
          stdout(s"advice\t${rep.advice}")
        }

      case "stats" :: Nil if flags.contains("--by") =>
        // grouped reports from the grouped sketch stores — the CLI twin
        // of GET /_query/stats?by&kind=: hist (default) quantile
        // envelopes, kmv distinct estimates, mg certified frequent items
        val tag = flags.getOrElse("--tag", "t")
        flags.getOrElse("--kind", "hist") match {
          case "hist" =>
            graft.ops.SketchStore.storedHistQuantilesBy(db, tag = tag)
              .orderBy("grp", "qm")
              .select("grp", "qm", "n", "lo", "hi")
              .as[(String, Long, Long, Long, Long)].toLocalIterator()
              .forEachRemaining { case (grp, qm, n, lo, hi) =>
                stdout(s"quantile\t${TextProto.escape(grp)}\tp$qm\t" +
                  s"[$lo,$hi)\tn=$n") }
          case "kmv" =>
            // rows and the exactness threshold come from ONE snapshot —
            // the claimed k, not the default capacity
            val snap = db.snapshot()
            val kClaim = graft.ops.SketchStore.storedKmvByKAt(snap, tag)
            graft.ops.SketchStore.storedKmvEstimateByAt(db, snap, tag)
              .select("grp", "n_sketch", "est_distinct")
              .as[(String, Long, Long)].toLocalIterator()
              .forEachRemaining { case (grp, ns, est) =>
                stdout(s"distinct\t${TextProto.escape(grp)}\t$est\t" +
                  (if (ns < kClaim) "exact" else "estimated")) }
          case "mg" =>
            import org.apache.spark.sql.functions.{col, row_number}
            val heavyK = flags.get("--heavy").map(_.toInt).getOrElse(20)
            graft.ops.SketchStore.heavyHittersByUnordered(db, tag = tag)
              .withColumn("rk",
                row_number().over(
                  org.apache.spark.sql.expressions.Window
                    .partitionBy("grp")
                    .orderBy(col("est").desc, col("item"))))
              .filter(col("rk") <= heavyK)
              .orderBy("grp", "rk")
              .select("grp", "item", "est", "certain")
              .as[(String, String, Long, Long)].toLocalIterator()
              .forEachRemaining { case (grp, item, est, certain) =>
                stdout(s"heavy\t${TextProto.escape(grp)}\t" +
                  s"${TextProto.escape(item)}\t$est\t" +
                  (if (certain == 1L) "certain" else "candidate")) }
          case "cm" =>
            // point-frequency probes against the grouped count-min
            // grids — the grid has no enumerable report, so --items is
            // required; --grp narrows to one source
            val items = flags.get("--items")
              .map(_.split(',').toSeq.filter(_.nonEmpty))
              .getOrElse(sys.error("--kind cm needs --items tok1,tok2"))
            val snap = db.snapshot()
            val grid = graft.ops.SketchStore.storedCountMinByAt(db, snap, tag)
            // the group set is BOUNDED like the serving twin: without
            // --grp, the first --groups (default 100) groups probe — a
            // collect of every group name (and a groups×items driver
            // cross product) at a 100k-group store would be the
            // data-sized driver materialization this codebase bans
            val cap = flags.get("--groups").map(_.toInt).getOrElse(100)
            val gsel0: Seq[String] = flags.get("--grp") match {
              case Some(g) => Seq(g)
              case None => grid.select("grp").distinct().orderBy("grp")
                .limit(cap + 1).as[String].collect().toSeq
            }
            val gsel = gsel0.take(cap)
            // geometry read back from the claim like the serving twin —
            // a default-(d, w) probe against a non-default grid would
            // hash into the wrong cells silently
            val est = if (gsel.isEmpty) Map.empty[(String, String), Long]
              else graft.ops.SketchStore.probeStoredCountMinByAt(db, snap,
                  gsel.flatMap(g => items.map(i => (g, i)))
                    .toDF("grp", "item"), "grp", "item", tag)
                .as[(String, String, Long)].collect()
                .map { case (g, i, e) => (g, i) -> e }.toMap
            gsel.foreach(g => items.foreach(i =>
              stdout(s"freq\t${TextProto.escape(g)}\t" +
                s"${TextProto.escape(i)}\t${est.getOrElse((g, i), 0L)}")))
            if (gsel0.size > cap)
              stdout(s"# truncated at $cap groups (raise --groups)")
          case other =>
            sys.error(s"unknown --kind: $other (want hist|kmv|mg|cm)")
        }

      case "stats" :: Nil =>
        val tag = flags.getOrElse("--tag", "t")
        val kmv = graft.ops.SketchStore.storedKmvEstimate(db, tag)
          .select("n_sketch", "est_distinct")
          .as[(Long, Long)].collect().headOption.getOrElse((0L, 0L))
        stdout(s"distinct\t${kmv._2}\t" +
          (if (kmv._1 < graft.ops.SketchStore.storedKmvK(db, tag)) "exact"
           else "estimated"))
        graft.ops.SketchStore.storedHistQuantiles(db, tag = tag)
          .select("qm", "n", "lo", "hi")
          .as[(Long, Long, Long, Long)].toLocalIterator()
          .forEachRemaining { case (qm, n, lo, hi) =>
            stdout(s"quantile\tp$qm\t[$lo,$hi)\tn=$n") }
        graft.ops.SketchStore.storedHeavyHitters(db, tag)
          .limit(flags.get("--heavy").map(_.toInt).getOrElse(20))
          .as[(String, Long, Long, Long)].toLocalIterator()
          .forEachRemaining { case (item, est, n, certain) =>
            stdout(s"heavy\t${TextProto.escape(item)}\t$est\t" +
              (if (certain == 1L) "certain" else "candidate")) }

      case other =>
        sys.error(s"unknown verb: ${other.mkString(" ")}")
    }
  }

  private val valueFlags = Set("-d", "--format", "--after-time",
    "--before-time", "--time", "--columns", "--first-key", "--last-key",
    "--wildcard", "--gegnum", "--timestamp-format", "--parallel",
    "--since-txid", "--port", "--after-key", "--before-key",
    "--prune-history", "--ann-dir", "--tag", "--heavy", "--at-version",
    "--store", "--width", "--stale-ms", "--kind", "--items", "--grp",
    "--groups")
  private val boolFlags = Set("--human", "--with-format", "--major",
    "--timestamp-nanos", "--timestamp-seconds", "--print-format", "--by")

  private[graft] def parseArgs(args: List[String]): (Map[String, String], List[String]) =
    args match {
      case f :: v :: rest if valueFlags(f) =>
        val (m, p) = parseArgs(rest); (m + (f -> v), p)
      case f :: rest if boolFlags(f) =>
        val (m, p) = parseArgs(rest); (m + (f -> "true"), p)
      case x :: rest =>
        val (m, p) = parseArgs(rest); (m, x :: p)
      case Nil => (Map.empty, Nil)
    }

  /** `--columns 1,3,5-7` page-style selection (ref `src/main.rs:135-139`). */
  def parseColumns(spec: String): Seq[Int] =
    spec.split(',').toSeq.flatMap { part =>
      part.split('-') match {
        case Array(a, b) => a.trim.toInt to b.trim.toInt
        case Array(a)    => Seq(a.trim.toInt)
        case _           => sys.error(s"bad --columns: $spec")
      }
    }
}
