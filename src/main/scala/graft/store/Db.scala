package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.series.SeriesOps

/** A graft warehouse: the Spark-native re-expression of a sonnerie database
  * directory (`file_format.md:92-99`).
  *
  * Layout:
  * {{{
  * warehouse/
  *   data/txid=[n]/part-....parquet     // range-partitioned by key, sorted (key, ts)
  *   deletes/txid=[n]/part-....parquet  // (firstKey, lastKey, t0, t1, wildcard)
  *   _manifest/v<seq>.json       // committed txids (atomic snapshot root)
  * }}}
  *
  * Required data columns: `key: String`, `ts: Long` (epoch nanos). All other
  * columns are free-form payload; schemas may differ between transactions
  * (the reference's per-key format strings, SURVEY §1.2) and are merged on
  * read (`mergeSchema`).
  *
  * One read path, as in sonnerie: every reader of [[Db.Snapshot]] (`read`,
  * `readMany`, `readInstants`, `get`, `tail`) and compaction's fold build
  * their plan in one place — txid pruning by manifest stats → the
  * sorted-run merge ([[SortedRunMerge]]: the transactions' (key, ts)-sorted
  * files merged newest-first, last writer wins, held delete markers dropped
  * in its tasks) → key/time filter → output shape. They differ only in
  * those inputs. Time-bucketed warehouses and marker sets the driver does
  * not hold keep a Catalyst pipeline (scan → `lastWins` aggregate →
  * markers → sort); `Snapshot.plan` says why.
  *
  * Scale: each transaction directory is written range-partitioned on `key`
  * and sorted `(key, ts)` within files, so Parquet row-group min/max stats
  * make key-range and wildcard-prefix reads prune to the few row groups that
  * can match — the distributed equivalent of sonnerie's segment binary search
  * (`src/segment_reader.rs:173-234`); the footers are read once per file
  * and cached ([[Db.txLayout]]). The merge cuts a selection into key ranges
  * at those row-group bounds, one task each, and its output is already
  * (key, ts)-ordered, so no read shuffles. An exact-key lookup
  * ([[Db.Snapshot.get]]) is one range: one single-task Spark job.
  */
final class Db(val spark: SparkSession, val warehouse: String) {
  SortedRunMerge.install(spark)

  def dataDir = s"$warehouse/data"
  def deleteDir = s"$warehouse/deletes"

  /** Immutable view of the warehouse as of one manifest version. */
  final case class Snapshot(manifest: ManifestState) {
    def isEmpty: Boolean = manifest.dataTxids.isEmpty

    /** Union of all committed data transactions, with `txid` column. */
    def records: DataFrame = {
      require(!isEmpty, "empty warehouse")
      readPaths(txDirs(manifest.dataTxids))
    }

    /** Parsed once per snapshot, not once per planned read. */
    private lazy val dataSchema: StructType =
      StructType.fromDDL(manifest.schemaDdl)

    /** Transaction directories, bucket directories or single data files
      * under `data/`; partition columns (txid, tbucket) come from the
      * paths either way. The manifest-tracked schema makes planning O(1):
      * no footer fetch per file (`mergeSchema` reads every footer —
      * O(files) at warehouse scale). Falls back to mergeSchema when the
      * manifest predates schema tracking or recorded a type conflict, and
      * uses it whenever `footers` asks for the files' own columns.
      */
    private def readPaths(paths: Seq[String],
                          footers: Boolean = false): DataFrame = {
      val base = spark.read.option("basePath", dataDir)
      if (manifest.schemaDdl.isEmpty || footers)
        base.option("mergeSchema", "true").parquet(paths: _*)
      else base.schema(dataSchema).parquet(paths: _*)
    }

    def deletes: DataFrame =
      if (manifest.deleteTxids.isEmpty) Db.emptyDeletes(spark)
      else Db.markerFiles(spark, deleteDir, manifest.deleteTxids)

    /** Data txids whose manifest stats can overlap the request — the
      * reference's segment binary search at transaction granularity
      * (`src/segment_reader.rs:173-234`): a point/prefix/time read skips
      * whole transactions before any file listing. Overlap checks run in
      * UTF-8 byte order (Spark's own string comparison); txids without
      * stats are conservatively kept.
      */
    def prunedDataTxids(pattern: String, after: Option[Long],
                        before: Option[Long]): Vector[Long] =
      pruned(Db.Keys.pattern(pattern), after, before)

    private def pruned(keys: Db.Keys, after: Option[Long],
                       before: Option[Long]): Vector[Long] =
      manifest.dataTxids.filter { t =>
        manifest.txStats.get(t).forall { st =>
          keys.lo.forall(l => Db.compareBytes(Db.utf8(st.maxKey), l) >= 0) &&
            keys.hi.forall(h => Db.compareBytes(Db.utf8(st.minKey), h) < 0) &&
            after.forall(a => st.maxTs >= a) &&
            before.forall(b => st.minTs < b)
        }
      }

    private def txDirs(txids: Seq[Long]): Seq[String] =
      txids.map(t => s"$dataDir/txid=$t")

    /** The full sonnerie read pipeline: key wildcard (prefix-range
      * rewritten), `[t0, t1)` time filter, last-writer-wins across txids,
      * delete markers, (key, ts) ordered output — all lazily composed so
      * Catalyst pushes the filters into every per-tx scan. Transactions
      * whose manifest stats cannot overlap are skipped entirely
      * ([[prunedDataTxids]]).
      */
    def read(pattern: String = "%", after: Option[Long] = None,
             before: Option[Long] = None): DataFrame = {
      val keys = Db.Keys.pattern(pattern)
      plan(pruned(keys, after, before), keys, after, before,
        Db.Shape.Ordered)()
    }

    /** ONE read-pipeline pass over the UNION of several key patterns —
      * for consumers that maintain disjoint key families in one
      * warehouse (the sketch stores) and would otherwise scan the store
      * once per family. Row-identical to unioning the per-pattern
      * [[read]]s: the key predicate is the OR of the per-pattern
      * predicates, txid pruning keeps any transaction that can overlap
      * ANY pattern, and last-wins/deletes act per key so disjoint
      * families cannot interfere. UNORDERED by design — every caller
      * aggregates (or re-sorts in the transaction writer); a global
      * (key, ts) sort here would add a range exchange + sampling job
      * that aggregation consumers pay for nothing.
      */
    def readMany(patterns: Seq[String], after: Option[Long] = None,
                 before: Option[Long] = None): DataFrame = {
      require(patterns.nonEmpty, "readMany needs at least one pattern")
      val each = patterns.map(Db.Keys.pattern)
      val txids = each.flatMap(pruned(_, after, before)).distinct.sorted
      plan(txids, Db.Keys.anyOf(each), after, before,
        Db.Shape.Unordered)()
    }

    /** Read exactly the given `ts` instants (one [[read]] pipeline pass
      * with `ts IN (instants)`). On a time-bucketed warehouse the matching
      * `tbucket IN (…)` predicate is derived alongside AND the scan is
      * rooted at exactly the matching `tbucket=` directories — constructed
      * from the manifest's txids and a cached one-readdir-per-txid bucket
      * listing ([[Db.txLayout]]) — so the probe never touches (or even
      * LISTS) a non-matching bucket directory, while the plan stays O(1)
      * in the instant count: probing 64 of 4096 index cells is one scan
      * over 64 directories with a 64-value IN-set, not a 64-way union and
      * not a 4096-directory recursive discovery. (Partition pruning alone
      * skips non-matching files at execution, but Spark's eager file
      * index lists every partition directory at plan time — at 4096 cells
      * that listing dominated the probe, measured 8 s steady on a 50k
      * corpus where the data itself scans in milliseconds.) Transactions
      * whose stats overlap no instant are skipped entirely, as in
      * [[read]]. `ordered = false` skips the global (key, ts) sort, for
      * consumers that re-shuffle anyway (the ANN probe's rank window).
      */
    def readInstants(instants: Seq[Long], pattern: String = "%",
                     ordered: Boolean = true): DataFrame = {
      require(instants.nonEmpty, "readInstants needs at least one instant")
      val keys = Db.Keys.pattern(pattern)
      val txids = pruned(keys, Some(instants.min), Some(instants.max + 1))
      val w = manifest.timeBucket
      // the writer's bucket of each instant; only meaningful on a
      // time-bucketed warehouse (w > 0)
      lazy val neededBuckets = instants.map(Db.bucketOf(_, w)).distinct
      // belt-and-braces partition predicate on top of the direct bucket
      // roots: keeps the scan's PartitionFilters explicit (asserted by
      // PersistedIndexSpec)
      val inBuckets =
        if (w > 0) col("tbucket").isin(neededBuckets: _*) else lit(true)
      plan(txids, keys.copy(rows = keys.rows && inBuckets &&
          col("ts").isin(instants: _*)), None, None,
        if (ordered) Db.Shape.Ordered else Db.Shape.Unordered)(
        if (w > 0) for {
          t <- txids
          bs = Db.txLayout(spark, warehouse, dataDir, t, manifest.version,
            manifest.created).buckets
          b <- neededBuckets if bs.contains(b)
        } yield s"$dataDir/txid=$t/tbucket=$b"
        else txDirs(txids))
    }

    /** Zero-row result with the read pipeline's output shape. Must not go
      * through [[records]]: the documented bootstrap pattern
      * (`cursor = maxTxid; tail(cursor)` before any commit) reads an empty
      * warehouse, which should yield zero rows, not throw.
      */
    private def emptyResult(): DataFrame = {
      val schema: StructType =
        if (manifest.schemaDdl.nonEmpty) dataSchema // excludes partition cols
        else if (!isEmpty) records.drop("txid", "tbucket").schema
        else // nothing ever committed: the canonical series shape
          StructType(Seq(
            StructField("key", StringType, nullable = false),
            StructField("ts", LongType, nullable = false)))
      SeriesOps.ordered(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    }

    /** Exact-key point lookup (reference `DatabaseReader::get`,
      * `src/database_reader.rs:168-175`). An exact string compare — NOT the
      * wildcard path: sonnerie wildcards have no escape syntax, so a key
      * containing a literal `%` is only reachable this way.
      *
      * Row-identical to [[read]] of the same key, planned as ONE Spark job
      * with ONE task:
      *  - transactions are pruned by their manifest key/time bounds, then
      *    the merge reads only the files with a row group whose footer key
      *    range holds the key ([[Db.txLayout]], cached per transaction), so
      *    a lookup opens about one file per live transaction, not all;
      *  - an exact key's range holds no cut, so the merge is one task whose
      *    output is already (key, ts)-ordered: no exchange, no sort. On the
      *    Catalyst pipeline (`plan`) the key-filtered scan is coalesced to
      *    one partition for the same effect.
      *
      * Measured and rejected, do not retry: answering from the driver
      * with no Spark job at all (read the few footer-selected files
      * in-process). On a 4-core box with the serving benchmark's two
      * closed-loop GET clients, two busy-looping processes beside the
      * server doubled both GET and PUT p50 (PUT ~980 → ~2080 ms, 3 of 3
      * pairs): GETs that never wait on the Spark scheduler take about two
      * cores from the writers.
      */
    def get(key: String, after: Option[Long] = None, before: Option[Long] = None): DataFrame = {
      val keys = Db.Keys.exact(key)
      val txids = pruned(keys, after, before)
      plan(txids, keys, after, before, Db.Shape.Local)(
        // a manifest without a schema reads through mergeSchema, whose
        // columns depend on which footers it sees: keep whole directories
        if (manifest.schemaDdl.isEmpty) txDirs(txids)
        else {
          val (lo, hi) = Db.bucketRange(manifest.timeBucket, after, before)
          for {
            t <- txids
            layout = Db.txLayout(spark, warehouse, dataDir, t,
              manifest.version, manifest.created)
            (f, fk) <- layout.files.zip(layout.fileKeys)
            if fk.mayHold(keys.lo.get) &&
              f.bucket.forall(b => lo.forall(b >= _) && hi.forall(b <= _))
          } yield f.path
        })
    }

    /** One committed transaction's records, (key, ts) ordered — the
      * single-tx dump surface (reference `examples/get.rs:5-46`).
      */
    def transaction(txid: Long): DataFrame = {
      require(manifest.dataTxids.contains(txid), s"unknown txid $txid")
      SeriesOps.ordered(readPaths(txDirs(Seq(txid))).drop("txid", "tbucket"))
    }

    /** Highest committed txid (data or delete) — the resume cursor for
      * [[tail]]. -1 on an empty warehouse.
      */
    def maxTxid: Long =
      (manifest.dataTxids ++ manifest.deleteTxids).foldLeft(-1L)(math.max)

    /** Change feed: everything committed AFTER `sinceTxid` — the
      * incremental-consumption primitive (sonnerie-serve's live GET /
      * reader-cache invalidation loop, `src/bin/sonnerie-serve.rs:242-264`,
      * re-expressed as a cursor over commit order). Returns the new data
      * txids' records with last-wins applied among themselves and any new
      * delete markers applied (a delete only suppresses lower txids, as
      * always), (key, ts) ordered. Poll pattern:
      * {{{
      * var cursor = db.snapshot().maxTxid
      * while (true) { val s = db.snapshot()
      *   process(s.tail(cursor)); cursor = s.maxTxid; sleep(…) }
      * }}}
      * Each batch scans only the new transaction directories — cost is the
      * new data, never the warehouse.
      */
    def tail(sinceTxid: Long, pattern: String = "%", after: Option[Long] = None,
             before: Option[Long] = None): DataFrame = {
      val keys = Db.Keys.pattern(pattern)
      plan(pruned(keys, after, before).filter(_ > sinceTxid), keys,
        after, before, Db.Shape.Ordered,
        manifest.deleteTxids.filter(_ > sinceTxid))()
    }

    /** Compaction's merge of `txids`: last-wins and every marker of the
      * snapshot applied, `txid` dropped, `tbucket` kept for the rewrite.
      * Read through the footers (`mergeSchema`), so the fold holds exactly
      * the columns its inputs hold.
      */
    private[store] def fold(txids: Seq[Long]): DataFrame =
      plan(txids, Db.Keys.all, None, None, Db.Shape.Fold)()

    /** THE read plan of every reader and of compaction: the records of
      * `txids` → the selection's row predicate and `[after, before)` →
      * last-writer-wins across txids → the markers of `markerTxids` →
      * without `txid`/`tbucket` → `shape`.
      *
      * The merge is the sorted-run merge ([[SortedRunMerge]]): it reads
      * the files of `txids` whose row groups can meet the selection's key
      * bounds, merges them in key order and drops the held markers
      * ([[Db.deleteRows]]) in its tasks; the row predicate stays a filter
      * above it and pushes its key and time bounds into its reads. Its
      * output is already (key, ts)-ordered and range-partitioned by key,
      * so no shape adds an exchange.
      *
      * The Catalyst pipeline ([[catalystPlan]]) stays for the two inputs
      * the merge cannot take, both known before planning:
      *  - a time-bucketed manifest: its writer sorts bucket-major layouts
      *    by (tbucket, key, ts) and partitions the others by `tbucket=`
      *    directory, so its files are not shown to be (key, ts)-sorted;
      *  - a marker set [[Db.deleteRows]] does not hold (an identity-less
      *    warehouse, a set past the cache's row budget), which only the
      *    anti-join over the marker files can apply.
      */
    private def plan(txids: Seq[Long], keys: Db.Keys, after: Option[Long],
        before: Option[Long], shape: Db.Shape,
        markerTxids: Seq[Long] = manifest.deleteTxids)(
        roots: => Seq[String] = txDirs(txids)): DataFrame = {
      if (txids.isEmpty) return emptyResult()
      val held = Db.deleteRows(spark, warehouse, deleteDir, manifest.created,
        markerTxids)
      held match {
        case Some(markers) if manifest.timeBucket == 0 =>
          val footers = shape == Db.Shape.Fold || manifest.schemaDdl.isEmpty
          val runs = for {
            t <- txids
            layout = Db.txLayout(spark, warehouse, dataDir, t,
              manifest.version, manifest.created)
            (f, fk) <- layout.files.zip(layout.fileKeys)
          } yield (MergeRun(f.path, f.length, t), fk)
          // fold and schema-less manifests take the merge of the files'
          // own footer schemas, as `mergeSchema` would
          val schema =
            if (!footers) dataSchema
            else runs.map(_._2.schema).reduceOption(
              org.apache.spark.sql.graftbridge.Plans.mergeSchemas)
              .getOrElse(dataSchema)
          val merged = SortedRunMerge.read(spark, schema, runs, keys.lo,
            keys.hi, SeriesOps.covering(markers, keys.lo, keys.hi, keys.exact))
          val visible = SeriesOps.timeRange(merged.filter(keys.rows), after,
            before)
          shape match {
            case Db.Shape.Ordered | Db.Shape.Local => SeriesOps.ordered(visible)
            case Db.Shape.Unordered | Db.Shape.Fold => visible
          }
        case _ => catalystPlan(roots, keys, after, before, shape, held,
          markerTxids)
      }
    }

    /** The read plan as a Catalyst pipeline over a Parquet scan of `roots`
      * (transaction directories, `tbucket=` directories or single data
      * files under `data/`): filter → `SeriesOps.lastWins` aggregate →
      * markers → order. Held markers up to [[Db.MarkerFilterMaxRows]] are
      * a filter ([[SeriesOps.dropDeleted]]); any other set takes the
      * broadcast anti-join over the marker files
      * ([[SeriesOps.applyDeletes]]).
      */
    private def catalystPlan(roots: Seq[String], keys: Db.Keys,
        after: Option[Long], before: Option[Long], shape: Db.Shape,
        held: Option[Array[org.apache.spark.sql.Row]],
        markerTxids: Seq[Long]): DataFrame = {
      if (roots.isEmpty) return emptyResult()
      val scan = readPaths(roots, footers = shape == Db.Shape.Fold)
      // time-bucketed warehouse: the partition-column predicate prunes
      // whole tbucket= directories before any IO
      val (lo, hi) = Db.bucketRange(manifest.timeBucket, after, before)
      val inBuckets =
        if (!scan.columns.contains("tbucket")) Nil
        else lo.map(col("tbucket") >= _).toSeq ++ hi.map(col("tbucket") <= _)
      val filtered = SeriesOps.timeRange(
        (keys.rows +: inBuckets).foldLeft(scan)(_.filter(_)), after, before)
      val merged = SeriesOps.lastWins(
        if (shape == Db.Shape.Local) filtered.coalesce(1) else filtered,
        Seq("key", "ts"), "txid")
      val visible = held match {
        case Some(markers) if markers.length <= Db.MarkerFilterMaxRows =>
          SeriesOps.dropDeleted(merged, markers, keys.lo, keys.hi, keys.exact)
        case _ => SeriesOps.applyDeletes(merged,
          Db.markerFiles(spark, deleteDir, markerTxids))
      }
      val out = visible.drop("txid", "tbucket")
      shape match {
        case Db.Shape.Fold      => visible.drop("txid")
        case Db.Shape.Ordered   => SeriesOps.ordered(out)
        case Db.Shape.Local     => out.sortWithinPartitions(col("key"), col("ts"))
        case Db.Shape.Unordered => out
      }
    }
  }

  def snapshot(): Snapshot = Snapshot(Manifest.current(warehouse))

  /** Time travel: the warehouse exactly as of a manifest version
    * (see [[Manifest.versions]]). Old versions stay readable until
    * [[Compactor.vacuum]] prunes unreferenced transaction dirs.
    */
  def snapshotAt(version: Long): Snapshot =
    Snapshot(Manifest.at(warehouse, version))

  def read(pattern: String = "%", after: Option[Long] = None,
           before: Option[Long] = None): DataFrame =
    snapshot().read(pattern, after, before)

  def get(key: String, after: Option[Long] = None,
          before: Option[Long] = None): DataFrame =
    snapshot().get(key, after, before)

  def tail(sinceTxid: Long, pattern: String = "%"): DataFrame =
    snapshot().tail(sinceTxid, pattern)
}

object Db {
  def apply(spark: SparkSession, warehouse: String): Db = new Db(spark, warehouse)

  private[store] def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** A reader's selection: its row predicate, and UTF-8 byte bounds
    * `[lo, hi)` holding every key the predicate can pass (None =
    * unbounded) — what transaction pruning and the marker pre-filter test.
    * `exact` is the one key of an exact selection.
    */
  private[store] final case class Keys(rows: Column, lo: Option[Array[Byte]],
      hi: Option[Array[Byte]], exact: Option[String] = None)

  private[store] object Keys {
    val all: Keys = Keys(lit(true), None, None)

    /** A literal key, compared exactly (it may hold `%`): `[k, k + 0x00)`. */
    def exact(k: String): Keys =
      Keys(col("key") === k, Some(utf8(k)), Some(utf8(k) :+ 0.toByte), Some(k))

    /** A sonnerie wildcard: bounded by its literal prefix and the prefix's
      * byte successor.
      */
    def pattern(p: String): Keys = {
      val w = graft.series.Wildcard(p)
      if (w.isExact) exact(p)
      else Keys(SeriesOps.keyPredicate(col("key"), p),
        Some(utf8(w.prefix)).filter(_.nonEmpty),
        graft.series.Wildcard.prefixSuccessor(w.prefix)
          .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
    }

    /** Any of `ks`: the OR of their predicates, bounded by the lowest `lo`
      * and the highest `hi`.
      */
    def anyOf(ks: Seq[Keys]): Keys = {
      def hull(bs: Seq[Option[Array[Byte]]], sign: Int) =
        Option.when(bs.forall(_.isDefined))(bs.flatten.reduce((a, b) =>
          if (sign * compareBytes(a, b) <= 0) a else b))
      if (ks.size == 1) ks.head
      else Keys(ks.map(_.rows).reduce(_ || _), hull(ks.map(_.lo), 1),
        hull(ks.map(_.hi), -1))
    }
  }

  /** The output shape a [[Db.Snapshot]] read plan ends in. */
  private[store] sealed trait Shape
  private[store] object Shape {
    /** global (key, ts) order: range exchange + sort */
    case object Ordered extends Shape
    /** one partition, (key, ts) ordered within it: no exchange at all */
    case object Local extends Shape
    case object Unordered extends Shape
    /** compaction's input: unordered, `tbucket` kept for the rewrite */
    case object Fold extends Shape
  }

  /** The writer's time bucket of `ts` at width `w`: `ts - ts % w`, the
    * remainder taking the dividend's sign (Spark's `%`). So bucket `b > 0`
    * holds `[b, b + w)`, bucket 0 holds `(-w, w)` and a negative bucket
    * `(b - w, b]`.
    */
  private[store] def bucketOf(ts: Long, w: Long): Long = ts - ts % w

  /** Inclusive bounds on the buckets that can hold an instant in
    * `[after, before)`: [[bucketOf]] is monotone in `ts`, so they run
    * from `after`'s bucket to the bucket of the last instant before
    * `before`. The read plan of every reader turns it into its `tbucket`
    * partition predicate, and `get` also tests each file's bucket against
    * it when choosing its scan roots. No bounds when the warehouse is not
    * time-bucketed (`w = 0`).
    */
  private[store] def bucketRange(w: Long, after: Option[Long],
                                 before: Option[Long])
      : (Option[Long], Option[Long]) =
    if (w <= 0) (None, None)
    else (after.map(bucketOf(_, w)), before.map(t => bucketOf(t - 1, w)))

  /** Unsigned lexicographic byte order — Spark's string order over UTF-8. */
  private[store] def compareBytes(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** One data file of a transaction: its path, its length from the
    * listing, and on a time-bucketed warehouse its `tbucket=` value.
    */
  private[store] final case class TxFile(path: String, bucket: Option[Long],
                                         length: Long)

  /** One row group's `key` range, inclusive, in UTF-8 bytes, and its
    * compressed size. `lo == null` means the group carries no usable
    * statistics, so it may hold any key.
    */
  private[store] final case class KeyGroup(rows: Long, bytes: Long,
                                           lo: Array[Byte], hi: Array[Byte]) {
    /** Whether the group can hold a key in `[from, until)`. */
    def meets(from: Option[Array[Byte]], until: Option[Array[Byte]]): Boolean =
      rows > 0 && (lo == null ||
        (until.forall(compareBytes(lo, _) < 0) &&
          from.forall(compareBytes(hi, _) >= 0)))
  }

  /** What a data file's Parquet footer records: each row group's `key`
    * range and size, and the file's own Spark schema.
    */
  private[store] final case class FileKeys(groups: Vector[KeyGroup],
                                           schema: StructType) {
    def mayHold(key: Array[Byte]): Boolean =
      groups.exists(_.meets(Some(key), Some(key :+ 0.toByte)))
  }

  /** One published data transaction's physical layout, read from storage
    * once per driver and then shared by every reader:
    *  - `buckets`: its `tbucket=` directory names, from ONE readdir (what
    *    [[Db.Snapshot.readInstants]] roots bucket probes at);
    *  - `files` and `fileKeys`: every data file with its length and its
    *    footer (what the sorted-run merge plans its ranges from, and
    *    what [[Db.Snapshot.get]] roots point lookups at on a bucketed
    *    warehouse). Listed on first use, so bucket probes over thousands
    *    of cells never list or open the files, and footers are read once
    *    per file, not per read.
    */
  private[store] final class TxLayout(val created: String, dir: String,
                                      fs: org.apache.hadoop.fs.FileSystem) {
    private val path = new org.apache.hadoop.fs.Path(dir)
    // Spark's own rule for which names under a table directory are data
    private def isData(name: String) =
      !name.startsWith("_") && !name.startsWith(".")
    private val top = fs.listStatus(path)

    val buckets: java.util.Set[java.lang.Long] = {
      val out = new java.util.HashSet[java.lang.Long]()
      top.foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("tbucket="))
          out.add(java.lang.Long.valueOf(n.stripPrefix("tbucket=").toLong))
      }
      out
    }

    lazy val files: Vector[TxFile] = top.toVector.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("tbucket=")) {
        val b = Some(n.stripPrefix("tbucket=").toLong)
        fs.listStatus(st.getPath).toVector
          .filter(f => f.isFile && isData(f.getPath.getName))
          .map(f => TxFile(f.getPath.toString, b, f.getLen))
      } else if (st.isFile && isData(n))
        Vector(TxFile(st.getPath.toString, None, st.getLen))
      else Vector.empty
    }

    lazy val fileKeys: Vector[FileKeys] = files.map(f => footerKeys(f.path))

    private def footerKeys(file: String): FileKeys = {
      import scala.jdk.CollectionConverters._
      val p = new org.apache.hadoop.fs.Path(file)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, fs.getConf))
      try {
        val footer = reader.getFooter
        val groups = footer.getBlocks.asScala.toVector.map { rg =>
          val st = rg.getColumns.asScala
            .find(_.getPath.toDotString == "key").map(_.getStatistics)
            .orNull
          if (st == null || !st.hasNonNullValue)
            KeyGroup(rg.getRowCount, rg.getCompressedSize, null, null)
          else KeyGroup(rg.getRowCount, rg.getCompressedSize,
            st.getMinBytes, st.getMaxBytes)
        }
        FileKeys(groups, org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat.readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(p, footer),
            new org.apache.spark.sql.execution.datasources.parquet
              .ParquetToSparkSchemaConverter(
                org.apache.spark.sql.internal.SQLConf.get)))
      } finally reader.close()
    }
  }

  /** Per-(warehouse, txid) [[TxLayout]]s, cached for the driver's life: a
    * published transaction directory is immutable (writes claim fresh
    * txids; compaction publishes new txids and only [[Compactor.vacuum]]
    * removes dead dirs, which no live manifest references), so within one
    * warehouse lifetime a layout cannot go stale. The one way it CAN: the
    * warehouse is deleted and recreated at the same path. Two guards:
    * each layout carries the manifest-minted identity it was listed
    * under, and a caller whose manifest carries another identity relists;
    * for callers without the identity, the manifest-version watermark
    * below detects recreation (versions restart) and purges the
    * warehouse's entries — blind only to a recreation that fast-forwards
    * past the old version before any such read. Bounded: cleared
    * wholesale past a generous cap (relisting is one readdir).
    */
  private val layoutCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), TxLayout]()

  /** Highest manifest version observed per warehouse. A version BELOW
    * the watermark is only a trigger to look closer: it is either a
    * harmless time-travel read (`snapshotAt` of an old version — the
    * same warehouse, every cached listing still valid) or a warehouse
    * deleted and recreated at the same path (txids AND manifest versions
    * restart — every cached listing poisoned). The two are told apart by
    * [[Manifest.identity]] — the manifest-minted warehouse UUID, with
    * the oldest-file identity heuristic as the pre-field fallback; only
    * a recreation changes either — so historical
    * snapshots no longer thrash the cache for every concurrent reader,
    * and the recreation purge stays correct. The id check costs one
    * readdir + stat and runs ONLY on regression (steady-state probes
    * never pay it).
    */
  private val versionWatermark =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** [[Manifest.identity]] as of the first cached listing — the
    * baseline the regression check compares against.
    */
  private val creationIds =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[store] def txLayout(spark: SparkSession, warehouse: String,
                              dataDir: String, txid: Long,
                              manifestVersion: Long,
                              created: String = ""): TxLayout = {
    if (layoutCache.size > 16384) { layoutCache.clear(); creationIds.clear() }
    val seen = versionWatermark.get(warehouse)
    if (seen != null && manifestVersion < seen) {
      val cur = Manifest.identity(warehouse)
      val known = creationIds.get(warehouse)
      if (known == null || known.isEmpty || cur.isEmpty || cur != known) {
        // recreated (or identity unknowable): purge and rebase
        layoutCache.keySet.removeIf(_._1 == warehouse)
        creationIds.put(warehouse, cur)
        versionWatermark.put(warehouse, manifestVersion)
      }
      // else: time travel within the same warehouse — caches stay
    }
    versionWatermark.merge(warehouse, manifestVersion,
      (a, b) => if (a >= b) a else b)
    creationIds.computeIfAbsent(warehouse, Manifest.identity)
    // the FileSystem instance is Hadoop's shared cached one, so a layout
    // holds no configuration of its own
    def list() = new TxLayout(created, s"$dataDir/txid=$txid",
      new org.apache.hadoop.fs.Path(dataDir)
        .getFileSystem(spark.sessionState.newHadoopConf()))
    val hit = layoutCache.computeIfAbsent((warehouse, txid), _ => list())
    if (created.isEmpty || hit.created.isEmpty || hit.created == created) hit
    else layoutCache.compute((warehouse, txid), (_, old) =>
      if (old != null && old.created == created) old else list())
  }

  val deleteSchema: StructType = StructType(Seq(
    StructField("firstKey", StringType, nullable = false),
    StructField("lastKey", StringType, nullable = false), // "" = unbounded
    StructField("t0", LongType, nullable = false),        // inclusive
    StructField("t1", LongType, nullable = false),        // exclusive
    StructField("wildcard", StringType, nullable = false)
  ))

  private val deleteSchemaWithTxid: StructType =
    deleteSchema.add(StructField("txid", LongType, nullable = false))

  /** Delete-marker rows on the driver, collected once per (warehouse
    * identity, txid set) and cached. Sound for the same reason
    * [[txLayout]] is: published delete directories are immutable, and
    * the key carries the manifest-minted warehouse identity so a
    * deleted-and-recreated warehouse cannot alias a stale entry
    * (identity-less legacy manifests skip the cache). Bounded: a txid-set
    * key holds one Row per marker; a set above [[DeletesCacheMaxRows]]
    * (ops count, not data) is remembered as uncacheable (`None`) and
    * stays on the parquet path (a store with that many UNCOMPACTED delete
    * operations wants a major compaction).
    *
    * What the cache saves: the sorted-run merge drops held rows in its
    * tasks, and the time-bucketed readers apply a small held set as a
    * filter ([[SeriesOps.dropDeleted]]), so after the one collect job a
    * plan neither scans the marker files nor broadcasts them (a broadcast
    * of even a local relation is a job of its own on Spark 4.1:
    * `BroadcastExchangeExec` collects its child through
    * `SparkPlan.executeCollectIterator`).
    */
  private val deletesCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Seq[Long]), Option[Array[org.apache.spark.sql.Row]]]()

  /** The row budget of one held marker set. */
  private val DeletesCacheMaxRows = 65536

  /** Held marker rows past which a time-bucketed read (the Catalyst
    * pipeline, [[Db.Snapshot]]'s `catalystPlan`) takes the anti-join
    * over the marker files instead of [[SeriesOps.dropDeleted]]'s filter:
    * the measured crossover of that filter. A `%` read of a 2-tx,
    * 440k-row warehouse on 4 cores, plan + execution, median ms, filter /
    * anti-join: 1 marker 1608 / 1464, 4: 1324 / 1311, 8: 1290 / 1323,
    * 10: 1748 / 1594, 12: 1565 / 1684, 14: 1589 / 1911, 16: 7369 / 1464,
    * 32: 10779 / 1672, 64: 17293 / 2380, 1024: 46829 / 17849. Past ~15
    * markers the OR of literal predicates outgrows the JIT's method-size
    * limit and the filter runs interpreted; 12 leaves room for the key
    * and time predicates compiled into the same method. An `exists`
    * lambda over a literal marker array did not help. The sorted-run
    * merge has no such cliff: it evaluates one small predicate per marker
    * in a loop, so it takes every held set.
    */
  private[store] val MarkerFilterMaxRows = 12

  /** Explicit schema: markers have ONE fixed shape (writeDeleteMarker), so
    * the reader must not pay a footer schema-inference job per plan.
    */
  private[store] def markerFiles(spark: SparkSession, deleteDir: String,
                                 txids: Seq[Long]): DataFrame =
    spark.read.schema(deleteSchema).option("basePath", deleteDir)
      .parquet(txids.map(t => s"$deleteDir/txid=$t"): _*)
      // partition-column discovery may type txid as INT; the cached
      // rows pin LongType, so both paths expose one schema
      .select(deleteSchemaWithTxid.fieldNames.map(f =>
        col(f).cast(deleteSchemaWithTxid(f).dataType)): _*)

  /** The marker rows of `txids` (schema `deleteSchema` + `txid`) from the
    * driver cache, collected now on a miss. `None` when the rows are not
    * held: an identity-less warehouse or a set past [[DeletesCacheMaxRows]].
    */
  private[store] def deleteRows(spark: SparkSession, warehouse: String,
                                deleteDir: String, created: String,
                                txids: Seq[Long])
      : Option[Array[org.apache.spark.sql.Row]] = {
    if (txids.isEmpty) return Some(Array.empty[org.apache.spark.sql.Row])
    // every marker transaction holds at least one row
    if (created.isEmpty || txids.size > DeletesCacheMaxRows) return None
    if (deletesCache.size > 16384) deletesCache.clear()
    val key = (warehouse, created, txids)
    Option(deletesCache.get(key)).getOrElse {
      val collected = markerFiles(spark, deleteDir, txids).collect()
      val rows =
        if (collected.length > DeletesCacheMaxRows) None else Some(collected)
      deletesCache.put(key, rows)
      rows
    }
  }

  def emptyDeletes(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      deleteSchemaWithTxid)
}
