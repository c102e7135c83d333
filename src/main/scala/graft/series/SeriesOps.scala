package graft.series

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's core read-pipeline operators over the canonical series shape
  * `(key: String, ts: Long /*epoch nanos*/, txid: Long, …value cols)`.
  *
  * Each operator is a pure `DataFrame => DataFrame` composition of built-in
  * (codegen'd, pushdown-friendly) Spark primitives — the Spark-native
  * re-expression of the reference pipeline (sonnerie
  * `src/database_reader.rs`, `src/merge.rs`, `src/key_reader.rs`):
  *
  *  - [[keyFilter]]     = wildcard/exact/range key predicate with prefix-range
  *                        rewrite (ref `src/wildcard.rs`, `src/database_reader.rs:236-252`)
  *  - [[timeRange]]     = `[t0, t1)` nanos filter (ref `src/main.rs:256-293`)
  *  - [[lastWins]]      = N-way-merge last-writer-wins dedup
  *                        (ref `Merge::discard_repetitions`, `src/merge.rs:93-158`)
  *  - [[applyDeletes]]  = range-delete anti-join (ref
  *                        `DatabaseRecordIterator::next`, `src/database_reader.rs:474-518`)
  *  - [[ordered]]       = global (key, ts) output order (ref `src/database_reader.rs:406-429`)
  *
  * Scale notes (100 TB): every filter here is a sargable conjunction Catalyst
  * pushes into the Parquet scan; `lastWins` is a single hash-aggregate with
  * map-side partial aggregation (no window/sort shuffle). The warehouse
  * reads `lastWins` and the markers through the sorted-run merge
  * (`graft.store.SortedRunMerge`), which applies [[deletedBy]] in its
  * tasks; these operators remain for frames that are not warehouse files,
  * for time-bucketed warehouses, and as the specs' reference. There, a
  * small held marker set applies through [[dropDeleted]] (a filter, no
  * join, no broadcast job) and any other through `applyDeletes`, a
  * broadcast nested-loop anti-join — correct because the delete-marker
  * table is tiny by construction (one row per delete *operation*, not per
  * deleted record), so it is always broadcastable.
  */
object SeriesOps {

  /** Key predicate for a wildcard pattern, rewritten for pushdown:
    * exact → `key = lit`; `prefix%` → `[prefix, succ)` range only;
    * general pattern → prefix range AND residual LIKE.
    */
  def keyPredicate(key: Column, pattern: String): Column = {
    val w = Wildcard(pattern)
    if (w.isExact) key === w.pattern
    else {
      // The successor upper bound is only sound for ASCII prefixes (same
      // guard as LikePrefixRangeRule): bumping a non-ASCII last char can
      // produce an unpaired surrogate whose UTF-8 bytes mis-bound the
      // range. The lower bound is always sound (UTF8String compares in
      // UTF-8 byte order); non-ASCII prefixes keep the LIKE residual.
      val ascii = w.prefix.nonEmpty && w.prefix.forall(_ < 0x7f)
      val range: Option[Column] =
        if (w.prefix.isEmpty) None
        else {
          val lower = key >= w.prefix
          Some(
            if (ascii) Wildcard.asciiSuccessor(w.prefix) match {
              case Some(succ) => lower && key < succ
              case None       => lower
            }
            else lower)
        }
      // all-% patterns (empty prefix) match everything: lit(true), not
      // LIKE '%' — the optimizer rewrites the latter to IsNotNull(key),
      // silently dropping null-key rows from full scans
      if (w.isPrefixOnly && (ascii || w.prefix.isEmpty))
        range.getOrElse(lit(true))
      else range.map(_ && key.like(w.likePattern)).getOrElse(key.like(w.likePattern))
    }
  }

  def keyFilter(df: DataFrame, pattern: String, keyCol: String = "key"): DataFrame =
    df.filter(keyPredicate(col(keyCol), pattern))

  /** Lexicographic key range `[from, until)`; either bound optional. */
  def keyRange(df: DataFrame, from: Option[String], until: Option[String],
               keyCol: String = "key"): DataFrame = {
    val k = col(keyCol)
    val preds = from.map(k >= _).toSeq ++ until.map(k < _).toSeq
    preds.reduceOption(_ && _).fold(df)(df.filter)
  }

  /** Time range `[t0, t1)` in epoch nanos (inclusive/exclusive as the
    * reference's `--after-time`/`--before-time`).
    */
  def timeRange(df: DataFrame, t0: Option[Long], t1: Option[Long],
                tsCol: String = "ts"): DataFrame = {
    val t = col(tsCol)
    val preds = t0.map(t >= _).toSeq ++ t1.map(t < _).toSeq
    preds.reduceOption(_ && _).fold(df)(df.filter)
  }

  /** Last-writer-wins across transactions: for each (key, ts) keep the row
    * from the highest txid. One aggregation (`max_by` over a struct) with
    * map-side partial aggregation, so duplicate (key, ts) groups collapse
    * *before* the shuffle — the property that matters at scale, and what a
    * `row_number` window (full shuffle + sort of every row) cannot do.
    * Note: the struct-valued buffer makes Spark plan a SortAggregate rather
    * than HashAggregate; the partial/final split and single exchange remain.
    *
    * `tieBreak` columns break txid ties deterministically (the reference
    * cannot tie: one row per (key, ts) per tx).
    *
    * A slim `max(txid)` aggregation + left-semi join was measured worse in
    * both overwrite regimes and deleted (SCALE.md, "lastWins A/B settled").
    */
  def lastWins(df: DataFrame, keyCols: Seq[String] = Seq("key", "ts"),
               txidCol: String = "txid",
               tieBreak: Seq[String] = Nil): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains).map(col)
    val ord = struct((col(txidCol) +: tieBreak.map(col)): _*)
    val winner = max_by(struct(payload: _*), ord).as("_w")
    df.groupBy(keyCols.map(col): _*)
      .agg(winner)
      .select(keyCols.map(col) ++ payload.map(c => col(s"_w.${c.toString}").as(c.toString)): _*)
      .select(df.columns.map(col): _*) // restore original column order
  }

  /** One delete marker's fields, as columns: a joined marker row in
    * [[applyDeletes]], one driver-held marker's literals ([[Marker.of]])
    * in [[dropDeleted]] and in the store's sorted-run merge.
    */
  final case class Marker(firstKey: Column, lastKey: Column, t0: Column,
                          t1: Column, wildcard: Column, txid: Column)

  object Marker {
    /** A held marker row (the `applyDeletes` marker schema) as literals. */
    def of(m: Row): Marker =
      Marker(lit(m.getString(0)), lit(m.getString(1)), lit(m.getLong(2)),
        lit(m.getLong(3)), lit(m.getString(4)), lit(m.getLong(5)))
  }

  /** THE delete rule, defined once for every marker path: marker `m`
    * suppresses a record iff the marker is a *later* transaction and
    * covers the record's key and instant — `key ∈ [firstKey, lastKey)`
    * (`lastKey = ""` unbounded), `key LIKE wildcard`, `ts ∈ [t0, t1)`.
    * The txid condition is what lets a re-insert after a delete survive
    * (ref `src/database_reader.rs:483-518`).
    */
  def deletedBy(key: Column, ts: Column, txid: Column, m: Marker): Column =
    txid < m.txid &&
      key >= m.firstKey &&
      (m.lastKey === "" || key < m.lastKey) &&
      ts >= m.t0 &&
      ts < m.t1 &&
      like(key, m.wildcard)

  /** Delete-marker anti-join. `deletes` schema:
    * `(firstKey, lastKey /* "" = unbounded, exclusive */, t0 /* incl */,
    *   t1 /* excl */, wildcard, txid)`; the condition is [[deletedBy]].
    * The marker table is rows-per-operation small → broadcast theta join.
    * The warehouse readers take this path only for a marker set they do
    * not hold on the driver (`Db.deleteRows`: an identity-less warehouse
    * or a set past its row budget), or a large held set on a
    * time-bucketed warehouse (`Db.MarkerFilterMaxRows`).
    */
  def applyDeletes(records: DataFrame, deletes: DataFrame,
                   keyCol: String = "key", tsCol: String = "ts",
                   txidCol: String = "txid"): DataFrame = {
    val r = records.alias("r")
    val d = deletes.alias("d")
    val cond = deletedBy(col(s"r.$keyCol"), col(s"r.$tsCol"),
      col(s"r.$txidCol"), Marker(col("d.firstKey"), col("d.lastKey"),
        col("d.t0"), col("d.t1"), col("d.wildcard"), col("d.txid")))
    r.join(broadcast(d), cond, "left_anti")
  }

  /** The UTF-8 key range `[lo, hi)` (hi None = unbounded) outside which
    * marker `m` (the [[applyDeletes]] marker schema, as a `Row`) deletes
    * nothing: its `[firstKey, lastKey)` narrowed by the literal prefix of
    * its LIKE wildcard, and to one key when the wildcard has no `%` or
    * `_`. A wildcard Spark would refuse (a `\` before another character)
    * narrows nothing, so the rule still runs and fails as it would.
    */
  def markerKeys(m: Row): (Array[Byte], Option[Array[Byte]]) = {
    val w = m.getString(4)
    val prefix = new StringBuilder
    var i = 0
    var exact = true
    while (i < w.length && exact) {
      w.charAt(i) match {
        case '%' | '_' => exact = false
        case '\\' if i + 1 < w.length && "%_\\".indexOf(w.charAt(i + 1)) >= 0 =>
          prefix += w.charAt(i + 1)
          i += 2
        case '\\' => prefix.clear(); exact = false
        case c => prefix += c; i += 1
      }
    }
    // a prefix cut inside a surrogate pair bounds by the whole character
    if (!exact && prefix.nonEmpty && prefix.last.isHighSurrogate)
      prefix.setLength(prefix.length - 1)
    def utf8(v: String) = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def max(a: Array[Byte], b: Array[Byte]) =
      if (java.util.Arrays.compareUnsigned(a, b) >= 0) a else b
    val p = utf8(prefix.toString)
    val pHi =
      if (exact) Some(p :+ 0.toByte)
      else Wildcard.prefixSuccessor(prefix.toString)
        .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val last = Option(m.getString(1)).filter(_.nonEmpty).map(utf8)
    val hi = (last.toSeq ++ pHi).reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a, b) <= 0) a else b)
    (max(utf8(m.getString(0)), p), hi)
  }

  /** The held markers (the [[applyDeletes]] marker schema, as `Row`s)
    * that can suppress a record whose key lies in the UTF-8 byte range
    * `[keyLo, keyHi)` (None = unbounded): those whose [[markerKeys]] meet
    * it, and for an `exactKey` whose wildcard matches it with Spark's own
    * LIKE. A marker whose wildcard Spark cannot evaluate is kept, so it
    * fails where the rule is applied, as it would in the join.
    */
  def covering(markers: Seq[Row], keyLo: Option[Array[Byte]],
               keyHi: Option[Array[Byte]],
               exactKey: Option[String] = None): Seq[Row] = {
    import org.apache.spark.sql.catalyst.expressions.{Like, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    def s(v: String) = UTF8String.fromString(v)
    def below(a: Array[Byte], b: Array[Byte]) =
      java.util.Arrays.compareUnsigned(a, b) < 0
    markers.filter { m =>
      val (lo, hi) = markerKeys(m)
      keyHi.forall(below(lo, _)) && hi.forall(h => keyLo.forall(below(_, h))) &&
        exactKey.forall(k =>
          try Like(Literal(s(k)), Literal(s(m.getString(4))), '\\')
            .eval() == true
          catch { case scala.util.control.NonFatal(_) => true })
    }
  }

  /** [[applyDeletes]] against marker rows already on the driver, for
    * records whose keys all lie in `[keyLo, keyHi)`: a plain filter, so
    * the records keep their partitioning and the plan gets no join and no
    * broadcast job. Only the [[covering]] markers enter the filter, so the
    * plan grows with the markers that can cover the selection, not with
    * every marker. The filter re-applies the whole [[deletedBy]] rule per
    * row, so it suppresses exactly the rows the anti-join would. The
    * literals compile into the stage's one generated method, so a caller
    * keeps the marker count small (`Db.MarkerFilterMaxRows`).
    */
  def dropDeleted(records: DataFrame, markers: Seq[Row],
                  keyLo: Option[Array[Byte]], keyHi: Option[Array[Byte]],
                  exactKey: Option[String] = None,
                  keyCol: String = "key", tsCol: String = "ts",
                  txidCol: String = "txid"): DataFrame = {
    val hits = covering(markers, keyLo, keyHi, exactKey).map { m =>
      // a null (key, ts, txid) never matches the join's condition, so it
      // must not drop the row here either
      coalesce(deletedBy(col(keyCol), col(tsCol), col(txidCol), Marker.of(m)),
        lit(false))
    }
    if (hits.isEmpty) records else records.filter(!balancedOr(hits))
  }

  /** OR of many predicates as a balanced tree: a left fold over thousands
    * of markers would nest as deep as the marker count.
    */
  private def balancedOr(cs: Seq[Column]): Column =
    if (cs.size == 1) cs.head
    else {
      val (a, b) = cs.splitAt(cs.size / 2)
      balancedOr(a) || balancedOr(b)
    }

  /** Global output order (key, ts) — the invariant every reference read
    * upholds. Range-partition sort; cheap when upstream is already
    * range-partitioned by key.
    */
  def ordered(df: DataFrame, keyCol: String = "key", tsCol: String = "ts"): DataFrame =
    df.orderBy(col(keyCol), col(tsCol))

  /** Column projection by 1-based positions over the value columns
    * (reference `--columns 1,3,5-7`, `src/main.rs:135-139`).
    */
  def selectColumns(df: DataFrame, fixed: Seq[String], positions: Seq[Int],
                    valueCols: Seq[String]): DataFrame = {
    val picked = positions.flatMap(i => valueCols.lift(i - 1))
    df.select((fixed ++ picked).map(col): _*)
  }

  /** Skew-resistant equi-join: salt the (skewed) left side into `factor`
    * sub-keys and replicate the right side across every salt, so one hot
    * key spreads over `factor` tasks instead of melting one executor. The
    * salt is deterministic (hash of all left columns, not rand()) so plans
    * stay reproducible. AQE's skew-join handles moderate skew; this is for
    * the pathological hot-key case (one key = 10% of 100 TB).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 factor: Int, joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"unsupported join type for salting: $joinType")
    val salted = left.withColumn("_salt",
      pmod(hash(left.columns.map(col): _*), lit(factor)))
    val exploded = right.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(exploded, keys :+ "_salt", joinType).drop("_salt")
  }

  /** Per-key grouped iteration (reference `feature=by-key`, `src/bykey.rs`):
    * surfaces as groupBy(key) aggregation; callers needing ordered per-key
    * iteration use a Window.partitionBy(key).orderBy(ts).
    */
  def byKeyStats(df: DataFrame, valueCol: String): DataFrame =
    df.groupBy(col("key"))
      .agg(
        count(lit(1)).as("n"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        min_by(col(valueCol), struct(col("ts"))).as("first_value"),
        max_by(col(valueCol), struct(col("ts"))).as("last_value")
      )

  /** Per-key previous-value delta — idiomatic window over the series. */
  def withLagDelta(df: DataFrame, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ts"))
    df.withColumn("prev_value", lag(col(valueCol), 1).over(w))
      .withColumn("delta", col(valueCol) - col("prev_value"))
  }
}
