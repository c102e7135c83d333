package graft.store

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.series.SeriesOps

/** One sorted run: a data file of transaction `txid`, `length` bytes. */
private[store] final case class MergeRun(path: String, length: Long, txid: Long)

/** One output partition of a merge: the keys in `[lo, hi)` (None =
  * unbounded) from every run that can hold one.
  */
private[store] final case class MergeRange(lo: Option[UTF8String],
                                           hi: Option[UTF8String],
                                           runs: Vector[MergeRun])

/** One covering delete marker in a merge: its [[SeriesOps.deletedBy]]
  * bound to a `(key, ts, txid)` row, and what that rule requires of a
  * record, as bounds a merge tests before running it: a key in the UTF-8
  * range `[lo, hi)` ([[SeriesOps.markerKeys]]), an instant in `[t0, t1)`
  * and a txid below the marker's.
  */
private[store] final case class MarkerRule(rule: Expression, lo: UTF8String,
                                           hi: Option[UTF8String], t0: Long,
                                           t1: Long, txid: Long)

/** What a merge reads and drops: its key ranges in key order, the
  * covering delete markers in `lo` order, and the bytes of the row
  * groups it can read.
  */
private[store] final case class MergeSpec(ranges: Vector[MergeRange],
                                          markers: Vector[MarkerRule],
                                          bytes: Long) {
  def describe: String =
    s"Ranges: ${ranges.size}, Files: ${ranges.flatMap(_.runs).distinct.size}, " +
      s"Markers: ${markers.size}"
}

/** The sorted-run merge, sonnerie's one read path (`src/merge.rs:48-181`,
  * SURVEY J1) as a leaf of the logical plan: every data file the writer
  * and compaction publish is (key, ts)-sorted, so last-writer-wins is a
  * k-way merge of the files, newest transaction first, that keeps the
  * first row of each (key, ts) run — no aggregate, no exchange and no
  * sort. [[Db.Snapshot]]'s read plan builds it; [[SortedRunMergeStrategy]]
  * plans it as [[SortedRunMergeExec]].
  */
private[store] final case class SortedRunMerge(output: Seq[Attribute],
                                               spec: MergeSpec)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan =
    copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(math.max(spec.bytes, 1L)))

  override def simpleString(maxFields: Int): String =
    s"SortedRunMerge ${output.mkString("[", ",", "]")} ${spec.describe}"
}

private[graft] object SortedRunMerge {

  /** Adds [[SortedRunMergeStrategy]] to the session's planner once. Every
    * [[Db]] calls it, so no warehouse read can reach a planner without it;
    * `Graft.configure` calls it beside its optimizer rule.
    */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(SortedRunMergeStrategy))
        ex.extraStrategies = ex.extraStrategies :+ SortedRunMergeStrategy
    }
  }

  /** The merge of `runs` (every data file of the live transactions, with
    * its footer) over the selection's UTF-8 key range `[lo, hi)`, with
    * the held `markers` (the `SeriesOps.applyDeletes` marker schema) that
    * can cover it. Columns are `schema`'s, all nullable, as a Parquet scan
    * reads them; a file without a column reads it as null.
    */
  private[store] def read(spark: SparkSession, schema: StructType,
           runs: Seq[(MergeRun, Db.FileKeys)], lo: Option[Array[Byte]],
           hi: Option[Array[Byte]], markers: Seq[Row]): DataFrame = {
    val conf = spark.sessionState.conf
    val (ranges, bytes) = cut(runs, lo, hi,
      spark.sparkContext.defaultParallelism, conf.filesOpenCostInBytes,
      conf.filesMaxPartitionBytes)
    val output = DataTypeUtils.toAttributes(
      StructType(schema.fields.map(_.copy(nullable = true))))
    org.apache.spark.sql.graftbridge.Plans.dataFrame(spark,
      SortedRunMerge(output, MergeSpec(ranges, predicates(spark, markers), bytes)))
  }

  /** The key ranges of a merge, and the bytes it reads. Only row groups
    * whose footer key range meets `[lo, hi)` count. The range count
    * follows Spark's own file-split rule (`FilePartition.maxSplitBytes`):
    * a range holds at least one file-open's worth of bytes
    * (`spark.sql.files.openCostInBytes`) and at most
    * `spark.sql.files.maxPartitionBytes`, and there are at most
    * `parallelism` of them. Cuts fall at row-group lower key bounds,
    * every bytes/P along the groups sorted by that bound: a cut is a key,
    * so every record of one key lands in one range, and a group starting
    * at a cut is read by the range it starts, not its neighbour. An exact
    * key's range `[k, k + 0x00)` holds no cut, so a point lookup is one
    * range.
    */
  private[store] def cut(runs: Seq[(MergeRun, Db.FileKeys)],
                         lo: Option[Array[Byte]], hi: Option[Array[Byte]],
                         parallelism: Int, openCost: Long, maxSplit: Long)
      : (Vector[MergeRange], Long) = {
    val groups = for {
      (run, fk) <- runs
      g <- fk.groups if g.meets(lo, hi)
    } yield (run, g)
    val bytes = groups.map(_._2.bytes).sum
    val split = math.max(1L,
      math.min(maxSplit, math.max(openCost, bytes / math.max(parallelism, 1))))
    val p = math.max(1L, math.min(parallelism.toLong, (bytes + split - 1) / split))
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var before = 0L
    groups.map(_._2).filter(_.lo != null)
      .sortWith((a, b) => Db.compareBytes(a.lo, b.lo) < 0)
      .foreach { g =>
        if (cuts.size < p - 1 && before >= (cuts.size + 1) * bytes / p &&
            lo.forall(Db.compareBytes(g.lo, _) > 0) &&
            cuts.lastOption.forall(Db.compareBytes(g.lo, _) > 0))
          cuts += g.lo
        before += g.bytes
      }
    val froms = lo +: cuts.map(Option(_)).toSeq
    val untils = cuts.map(Option(_)).toSeq :+ hi
    val ranges = froms.zip(untils).map { case (from, until) =>
      MergeRange(from.map(UTF8String.fromBytes), until.map(UTF8String.fromBytes),
        groups.collect { case (run, g) if g.meets(from, until) => run }
          .distinct.toVector)
    }
    (ranges.toVector, bytes)
  }

  /** Each marker's [[SeriesOps.deletedBy]], analyzed over a
    * `(key, ts, txid)` relation and bound to its ordinals — one small
    * predicate per marker, so no generated method grows with the marker
    * count — with its key range, in key-range order.
    */
  private def predicates(spark: SparkSession, markers: Seq[Row])
      : Vector[MarkerRule] =
    if (markers.isEmpty) Vector.empty
    else {
      val rel = LocalRelation(AttributeReference("key", StringType)(),
        AttributeReference("ts", LongType)(),
        AttributeReference("txid", LongType)())
      val rules = org.apache.spark.sql.graftbridge.Plans.dataFrame(spark, rel)
        .select(markers.map(m => SeriesOps.deletedBy(col("key"), col("ts"),
          col("txid"), SeriesOps.Marker.of(m))): _*)
      val Project(list, child) = rules.queryExecution.analyzed: @unchecked
      markers.zip(list).map { case (m, e) =>
        val rule = e match { case a: Alias => a.child; case other => other }
        val (lo, hi) = SeriesOps.markerKeys(m)
        MarkerRule(BindReferences.bindReference(rule, child.output),
          UTF8String.fromBytes(lo), hi.map(UTF8String.fromBytes),
          m.getLong(2), m.getLong(3), m.getLong(5))
      }.sortWith((a, b) => a.lo.compareTo(b.lo) < 0).toVector
    }
}

/** Plans [[SortedRunMerge]] the way `FileSourceStrategy` plans a file
  * scan: the filters and projection above it stay as `FilterExec` and
  * `ProjectExec` over [[SortedRunMergeExec]], which reads only the
  * columns they use plus `key` and `ts`. Filters on `key` and `ts` alone
  * are also pushed into its Parquet reads: last-wins and the markers act
  * per (key, ts), so a row group holding only rows such a filter rejects
  * can be skipped before the merge without changing a surviving row. A
  * filter on another column is never pushed: it must see only winners.
  */
private[store] object SortedRunMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, m: SortedRunMerge) =>
      val keyTs = AttributeSet(m.output.filter(a => a.name == "key" || a.name == "ts"))
      val pushed = filters
        .filter(f => f.deterministic && f.references.subsetOf(keyTs))
        .flatMap(org.apache.spark.sql.graftbridge.Plans.sourceFilter)
      val used = AttributeSet(projects.flatMap(_.references) ++
        filters.flatMap(_.references)) ++ keyTs
      val scan = SortedRunMergeExec(m.output.filter(used.contains), m.spec, pushed)
      val filtered = filters.reduceOption(And)
        .fold[SparkPlan](scan)(FilterExec(_, scan))
      (if (projects == filtered.output) filtered
       else ProjectExec(projects, filtered)) :: Nil
    case _ => Nil
  }
}

/** [[SortedRunMerge]] executed: one task per key range reads the range's
  * runs with Spark's Parquet reader (`ParquetFileFormat`, the pushed
  * filters and the range's lower bound as row-group filters), k-way
  * merges them by (key, ts), newest txid first, keeps the first row of
  * each run and drops it when a covering marker deletes it. The ranges
  * are disjoint and in key order, so the output is range-partitioned by
  * key and (key, ts)-sorted within each partition: a (key, ts) order
  * above it needs no exchange and no sort.
  *
  * Not taken (not measured): one Parquet reader for all ranges, with the
  * range bounds applied to rows only. It would save a
  * Hadoop-configuration broadcast per extra range, but each range would
  * read every row group of a run that straddles its cut below it, where
  * the pushed lower bound skips them.
  */
private[store] final case class SortedRunMergeExec(output: Seq[Attribute],
                                                   spec: MergeSpec,
                                                   pushed: Seq[sources.Filter])
    extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of rows merged"),
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"))

  private def attr(name: String): Attribute = output.find(_.name == name).get

  override def outputPartitioning: Partitioning =
    if (spec.ranges.size == 1) SinglePartition
    else RangePartitioning(Seq(SortOrder(attr("key"), Ascending)), spec.ranges.size)

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(attr("key"), Ascending), SortOrder(attr("ts"), Ascending))

  override def simpleString(maxFields: Int): String = {
    val schema = DataTypeUtils.fromAttributes(output)
    s"SortedRunMerge ${output.mkString("[", ",", "]")} ${spec.describe}, " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${schema.catalogString}"
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = DataTypeUtils.fromAttributes(output)
    val (keyAt, tsAt) = (output.indexOf(attr("key")), output.indexOf(attr("ts")))
    val conf = session.sessionState.newHadoopConfWithOptions(Map.empty)
    val format = new ParquetFileFormat
    val options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    val tasks = spec.ranges.map { r =>
      // a range's lower bound is a key (a row-group minimum or the
      // selection's literal prefix); pushed only when it is valid UTF-8
      val from = r.lo.filter(l => UTF8String.fromString(l.toString) == l)
        .map(l => sources.GreaterThanOrEqual("key", l.toString))
      (r, format.buildReaderWithPartitionValues(session, schema,
        new StructType(), schema, pushed ++ from, options, conf))
    }
    val markers = spec.markers
    val (rowsIn, rowsOut, files) = (longMetric("numInputRows"),
      longMetric("numOutputRows"), longMetric("numFiles"))
    sparkContext.parallelize(tasks, tasks.size).mapPartitionsWithIndex {
      (part, it) => it.flatMap { case (r, read) =>
        files += r.runs.size
        val inputs = r.runs.map(f => read(PartitionedFile(InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPathString(f.path), 0L, f.length,
          Array.empty[String], 0L, f.length, Map.empty))).toArray
        new MergeIterator(inputs, r.runs.map(_.txid).toArray, keyAt, tsAt,
          r.lo.orNull, r.hi.orNull, markers.map(new MarkerCheck(_, part)),
          UnsafeProjection.create(schema), rowsIn, rowsOut)
      }
    }
  }
}

/** The k-way merge of one range (sonnerie `Merge` with
  * `discard_repetitions`, `src/merge.rs:93-158`): a heap over the head
  * row of each (key, ts)-sorted input, ordered by key, then ts, then
  * txid descending, so the first row of each (key, ts) run is the newest
  * transaction's. Later rows of the run are skipped; the first is dropped
  * when a marker predicate holds for it, which also hides the older rows
  * (a marker that deletes a txid deletes every lower one). Keys arrive
  * in order, so the markers a row is tested against are the active ones
  * of a sweep over their key ranges, not all of them: testing every
  * covering marker (each compiled up front) on every row took 140 s for
  * the 1024-marker read [[MarkerCheck]] measures, 1.8 s with the sweep. Inputs only yield
  * keys in `[lo, hi)` (null = unbounded), and an input ends at its first
  * key at or past `hi`. Nulls sort first, as the writer sorts them; a
  * null key is never deleted, as [[SeriesOps.deletedBy]] is null for it.
  */
private final class MergeIterator(inputs: Array[Iterator[InternalRow]],
                                  txids: Array[Long], keyAt: Int, tsAt: Int,
                                  lo: UTF8String, hi: UTF8String,
                                  markers: Vector[MarkerCheck],
                                  project: UnsafeProjection,
                                  rowsIn: SQLMetric, rowsOut: SQLMetric)
    extends Iterator[InternalRow] {
  private val n = inputs.length
  private val head = new Array[InternalRow](n)
  private val key = new Array[UTF8String](n)
  private val ts = new Array[Long](n)
  private val tsNull = new Array[Boolean](n)
  private val heap = new java.util.PriorityQueue[Integer](math.max(n, 1),
    (a: Integer, b: Integer) => compare(a, b))
  private val probe = new SpecificInternalRow(Seq(StringType, LongType, LongType))
  private var started = false
  private var lastKey: UTF8String = _
  private var lastTs = 0L
  private var lastTsNull = false
  private var pending: InternalRow = _
  // the sweep: markers before `nextMarker` whose range has started; the
  // ones whose range ended are dropped on each new key
  private var nextMarker = 0
  private val active = scala.collection.mutable.ArrayBuffer.empty[MarkerCheck]

  for (i <- 0 until n) if (advance(i)) heap.add(i)

  /** Moves input `i` to its next row in `[lo, hi)`; false when none is
    * left.
    */
  private def advance(i: Int): Boolean = {
    val in = inputs(i)
    while (in.hasNext) {
      val r = in.next()
      rowsIn += 1
      val k = if (r.isNullAt(keyAt)) null else r.getUTF8String(keyAt)
      if (hi != null && k != null && k.compareTo(hi) >= 0) return false
      if (lo == null || (k != null && k.compareTo(lo) >= 0)) {
        head(i) = r
        key(i) = k
        tsNull(i) = r.isNullAt(tsAt)
        ts(i) = if (tsNull(i)) 0L else r.getLong(tsAt)
        return true
      }
    }
    false
  }

  private def compareKeys(a: UTF8String, b: UTF8String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.compareTo(b)

  private def compare(a: Int, b: Int): Int = {
    var c = compareKeys(key(a), key(b))
    if (c == 0) c =
      if (tsNull(a)) { if (tsNull(b)) 0 else -1 }
      else if (tsNull(b)) 1
      else java.lang.Long.compare(ts(a), ts(b))
    if (c == 0) c = java.lang.Long.compare(txids(b), txids(a))
    if (c == 0) c = Integer.compare(a, b)
    c
  }

  /** Whether input `i`'s head starts a new (key, ts) run; remembers it. */
  private def startsRun(i: Int): Boolean = {
    val sameKey = started && compareKeys(key(i), lastKey) == 0
    val same = sameKey && tsNull(i) == lastTsNull && ts(i) == lastTs
    if (!sameKey) {
      lastKey = if (key(i) == null) null else key(i).clone()
      if (lastKey != null) {
        while (nextMarker < markers.size &&
            markers(nextMarker).lo.compareTo(lastKey) <= 0) {
          active += markers(nextMarker)
          nextMarker += 1
        }
        active.filterInPlace(_.hi.forall(lastKey.compareTo(_) < 0))
      }
    }
    started = true
    lastTs = ts(i)
    lastTsNull = tsNull(i)
    !same
  }

  private def isDeleted(i: Int): Boolean =
    key(i) != null && !tsNull(i) && active.nonEmpty && {
      probe.update(0, key(i))
      probe.setLong(1, ts(i))
      probe.setLong(2, txids(i))
      active.exists(_.deletes(ts(i), txids(i), probe))
    }

  override def hasNext: Boolean = pending != null || fetch()

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = pending
    pending = null
    r
  }

  private def fetch(): Boolean = {
    while (!heap.isEmpty) {
      val i: Int = heap.poll()
      val out = if (startsRun(i) && !isDeleted(i)) project(head(i)) else null
      if (advance(i)) heap.add(i)
      if (out != null) {
        rowsOut += 1
        pending = out
        return true
      }
    }
    false
  }
}

/** One marker's rule in a merge task, tiered like the JVM's own code: it
  * runs interpreted until it has been tested [[MarkerCheck.CompileAfter]]
  * times, then compiled. A task that touches many markers a few rows each
  * pays no code generation, and a marker that deletes many rows runs
  * compiled. Measured before [[deletes]] tested the time and txid bounds
  * first (so every active marker's rule ran on every row): a `%` read
  * (count) of a 2-tx, 440k-row warehouse on 4 cores, median ms of runs
  * 2-5, interpreted only / compiled at the first test / tiered: 16
  * markers active on every key 2206 / 843 / 892, 64 such markers
  * 5839 / 1926 / 2125, 1024 prefix markers active on 100 keys each
  * 1580 / 8119 / 1802; no markers ~350 for all three. With the bounds
  * tested first, tiered: 591, 1409 and 1529 ms; the anti-join over the
  * marker files on the same reads: 828, 1353 and 15 836 ms.
  */
private final class MarkerCheck(m: MarkerRule, part: Int) {
  def lo: UTF8String = m.lo
  def hi: Option[UTF8String] = m.hi
  private var tested = 0
  private var rule: BasePredicate = Predicate.createInterpreted(m.rule)

  /** Whether the marker deletes the record `row` holds (`ts` and `txid`
    * are its fields): the rule decides, run only when the instant and the
    * txid are in its bounds.
    */
  def deletes(ts: Long, txid: Long, row: InternalRow): Boolean =
    txid < m.txid && ts >= m.t0 && ts < m.t1 && {
      tested += 1
      if (tested == MarkerCheck.CompileAfter) {
        rule = Predicate.create(m.rule)
        rule.initialize(part)
      }
      rule.eval(row)
    }
}

private object MarkerCheck {
  val CompileAfter = 10000
}
