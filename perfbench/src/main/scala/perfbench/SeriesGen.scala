package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{Db, TxWriter}
import graft.text.{Cell, SeriesRecord}

/** Geometry of a generated series warehouse. Keys are `fNN/key-NNNNNN`:
  * key `i` belongs to family `i % families`, so a family wildcard
  * `fNN/%` selects `1/families` of the keys, spread over the key space.
  * Every key starts with `baseRows` samples one `step` apart; values are
  * `I` (i64) cells, a pure function of (seed, writer, key, ts).
  */
final case class SeriesShape(seed: Long, keys: Int, baseRows: Int,
                             families: Int = 50) {
  val t0: Long = 1600000000000000000L // 2020-09-13, epoch nanos
  val step: Long = 60L * 1000000000L  // one minute
  def keyName(i: Int): String = f"f${i % families}%02d/key-$i%06d"
  def ts(slot: Long): Long = t0 + slot * step
  def baseValue(i: Int, j: Int): Long = Mix.mix(seed, 0L, i.toLong, j.toLong)
  def rowValue(tag: Long, i: Int, t: Long): Long = Mix.mix(seed, tag, i.toLong, t)

  /** Rows an upsert transaction `u` (1-based) writes for key `i`: keys with
    * `(i + u) % every == 0` get `perKey` rows; even rows overwrite a base
    * slot (distinct per row), odd rows append a slot past the base range
    * that no other transaction uses. Shared by the Spark writer and the
    * model, so both see the same rows.
    */
  def upsertRows(u: Int, i: Int, every: Int, perKey: Int): Array[(Long, Long)] =
    if ((i + u) % every != 0) Array.empty
    else Array.tabulate(perKey) { r =>
      val slot =
        if (r % 2 == 0) (Mix.below(Mix.mix(seed, u.toLong, i.toLong), baseRows) + r / 2) % baseRows
        else baseRows.toLong + u.toLong * perKey + r
      val t = ts(slot)
      (t, rowValue(u.toLong, i, t))
    }
}

/** A delete marker as the model sees it (`TxWriter.delete` arguments).
  * `prefix` is the wildcard without its trailing `%` ("" = every key).
  */
final case class Marker(firstKey: String, lastKey: String, t0: Long, t1: Long,
                        prefix: String, order: Int) {
  def wildcard: String = prefix + "%"
  def covers(key: String, ts: Long): Boolean =
    key.compareTo(firstKey) >= 0 && (lastKey.isEmpty || key.compareTo(lastKey) < 0) &&
      ts >= t0 && ts < t1 && key.startsWith(prefix)
}

/** The in-benchmark model of everything committed: the base transaction
  * (implicit, order 0), every later write per key, and every delete marker,
  * each tagged with its commit order ("generation"). `visible(i, g)` is the
  * sonnerie read contract at generation `g`: per (key, ts) the write of the
  * highest order wins, then a marker of a higher order than the winner
  * that covers it hides it. Thread-safe: the serve writer appends while
  * readers check.
  */
final class SeriesModel(val shape: SeriesShape) {
  private final class Log {
    var ts = new Array[Long](4); var vs = new Array[Long](4)
    var ord = new Array[Int](4); var n = 0
    def add(t: Long, v: Long, o: Int): Unit = {
      if (n == ts.length) {
        ts = java.util.Arrays.copyOf(ts, n * 2); vs = java.util.Arrays.copyOf(vs, n * 2)
        ord = java.util.Arrays.copyOf(ord, n * 2)
      }
      ts(n) = t; vs(n) = v; ord(n) = o; n += 1
    }
  }
  private val logs = Array.fill(shape.keys)(new Log)
  private val markers = scala.collection.mutable.ArrayBuffer.empty[Marker]
  @volatile private var lastOrder = 0

  def generation: Int = lastOrder

  /** Record a write of generation `order` (orders only grow). */
  def write(i: Int, ts: Long, value: Long, order: Int): Unit = {
    val l = logs(i)
    l.synchronized(l.add(ts, value, order))
    if (order > lastOrder) lastOrder = order
  }
  def delete(m: Marker): Unit = {
    markers.synchronized(markers += m)
    if (m.order > lastOrder) lastOrder = m.order
  }
  def markerList: Vector[Marker] = markers.synchronized(markers.toVector)

  /** Visible (ts, value) rows of key `i` at generation `gen`, ts ascending. */
  def visible(i: Int, gen: Int): Array[(Long, Long)] = {
    val m = new java.util.TreeMap[java.lang.Long, (Long, Int)]()
    var j = 0
    while (j < shape.baseRows) {
      m.put(shape.ts(j), (shape.baseValue(i, j), 0)); j += 1
    }
    val l = logs(i)
    l.synchronized {
      var k = 0
      while (k < l.n) {
        if (l.ord(k) <= gen) {
          val prev = m.get(l.ts(k))
          if (prev == null || prev._2 <= l.ord(k)) m.put(l.ts(k), (l.vs(k), l.ord(k)))
        }
        k += 1
      }
    }
    val key = shape.keyName(i)
    val ms = markerList.filter(_.order <= gen)
    val out = Array.newBuilder[(Long, Long)]
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val t = e.getKey.longValue
      val (v, o) = e.getValue
      if (!ms.exists(mk => mk.order > o && mk.covers(key, t))) out += ((t, v))
    }
    out.result()
  }
}

object SeriesGen {
  /** Order-independent digest of one visible row — the same function the
    * benchmark applies to rows read back from the engine.
    */
  def rowDigest(key: String, ts: Long, value: Long): Long =
    Mix.mix(key.hashCode.toLong, ts, value) >>> 24

  private def records(spark: SparkSession, shape: SeriesShape, n: Long,
                      row: Long => SeriesRecord): DataFrame = {
    import spark.implicits._
    val slices = math.max(1, spark.sparkContext.defaultParallelism)
    spark.range(0L, n, 1L, slices).map((id: java.lang.Long) => row(id.longValue)).toDF()
  }

  /** The base transaction: every key, `baseRows` samples. */
  def writeBase(db: Db, shape: SeriesShape): Long = {
    val df = records(db.spark, shape, shape.keys.toLong * shape.baseRows, { id =>
      val i = (id / shape.baseRows).toInt
      val j = (id % shape.baseRows).toInt
      SeriesRecord(shape.keyName(i), shape.ts(j), "I",
        Seq(Cell(i64 = Some(shape.baseValue(i, j)))))
    })
    TxWriter.write(db, df)
  }

  /** Upsert transaction `u`, mirrored into `model` at generation `order`. */
  def writeUpsert(db: Db, model: SeriesModel, u: Int, every: Int,
                  perKey: Int, order: Int): Long = {
    val shape = model.shape
    val keysHit = (0 until shape.keys).filter(i => (i + u) % every == 0).toArray
    val df = records(db.spark, shape, keysHit.length.toLong * perKey, { id =>
      val i = keysHit((id / perKey).toInt)
      val (t, v) = shape.upsertRows(u, i, every, perKey)((id % perKey).toInt)
      SeriesRecord(shape.keyName(i), t, "I", Seq(Cell(i64 = Some(v))))
    })
    val txid = TxWriter.write(db, df)
    keysHit.foreach(i => shape.upsertRows(u, i, every, perKey).foreach {
      case (t, v) => model.write(i, t, v, order)
    })
    txid
  }

  def writeDelete(db: Db, model: SeriesModel, m: Marker): Long = {
    val txid = TxWriter.delete(db, m.firstKey, m.lastKey, m.t0, m.t1, m.wildcard)
    model.delete(m)
    txid
  }

  /** The initial warehouse's two seed-chosen markers: a key range over
    * `span` keys of one family for all time (order `firstOrder`), and
    * another family's wildcard over a third of the base time range (order
    * `secondOrder`).
    */
  def initialMarkers(shape: SeriesShape, span: Int, firstOrder: Int,
                     secondOrder: Int): (Marker, Marker) = {
    val h = Mix.mix(shape.seed, 77L)
    val fam = Mix.below(h, shape.families)
    val start = Mix.below(Mix.mix(h, 1L), shape.keys - span * shape.families)
    val lo = start - start % shape.families + fam
    val wfam = (fam + 1 + Mix.below(Mix.mix(h, 2L), shape.families - 1)) % shape.families
    val w0 = Mix.below(Mix.mix(h, 3L), shape.baseRows / 2)
    (Marker(shape.keyName(lo), shape.keyName(lo + span * shape.families), 0L, Long.MaxValue,
      "", firstOrder),
      Marker("", "", shape.ts(w0), shape.ts(w0 + shape.baseRows / 3), f"f$wfam%02d/", secondOrder))
  }

  /** `row digest sum, row count` of a read, computed by Spark. */
  def sparkDigest(df: DataFrame): (Long, Long) = {
    val d = udf((k: String, t: Long, v: Long) => rowDigest(k, t, v))
    val r = df.select(d(col("key"), col("ts"), col("vals")(0)("i64")).as("d"))
      .agg(coalesce(sum(col("d")), lit(0L)), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The model's (digest, count) over keys `keys` at generation `gen`. */
  def modelDigest(model: SeriesModel, keys: Iterable[Int], gen: Int,
                  t0: Long = Long.MinValue, t1: Long = Long.MaxValue): (Long, Long) = {
    var d = 0L; var n = 0L
    keys.foreach { i =>
      val key = model.shape.keyName(i)
      model.visible(i, gen).foreach { case (t, v) =>
        if (t >= t0 && t < t1) { d += rowDigest(key, t, v); n += 1 }
      }
    }
    (d, n)
  }
}
