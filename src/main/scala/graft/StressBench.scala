package graft

import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.store.{Compactor, Db, TxWriter}

/** Warehouse throughput at millions of records — the scale-story numbers
  * to hold against BASELINE.md (reference: ~3M records/s sequential dump,
  * "tens of millions of samples in minutes" ingest). Generates data
  * distributed (spark.range — never on the driver), writes transactions,
  * then times the read pipeline stages.
  *
  * `sbt "runMain graft.StressBench [nRecords] [nKeys]"` (default 2M / 20k).
  */
object StressBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nKeys = args.lift(1).map(_.toLong).getOrElse(20000L)
    // overwrite fraction for tx1 (0.01 = the light default; 0.5 = an
    // overwrite-heavy workload)
    val upsertFrac = args.lift(2).map(_.toDouble).getOrElse(0.01)
    val spark = Graft.localSession(
      Runtime.getRuntime.availableProcessors().min(32), 32)
    spark.sparkContext.setLogLevel("ERROR")

    val wh = java.nio.file.Files.createTempDirectory("graft-stress").toString
    val db = Db(spark, wh)
    def gen(rows: Long, salt: Long) = spark.range(rows)
      .select(
        format_string("key-%08d", col("id") % nKeys).as("key"),
        ((col("id") / nKeys).cast("long") * 1000000L + salt).as("ts"),
        (col("id") * 31 + salt).as("v"))

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"STRESS $name%-28s ${secs}%8.2f s   ${n / secs / 1e6}%6.2f M rec/s")
      r
    }

    timed("ingest tx0")(TxWriter.write(db, gen(n, 0)))
    timed(f"ingest tx1 (${upsertFrac * 100}%.0f%% upsert)")(
      TxWriter.write(db, gen((n * upsertFrac).toLong, 1)))
    TxWriter.delete(db, wildcard = "key-000001%") // 10 of nKeys keys
    // last-wins alone (max_by struct SortAggregate); its semi-join
    // alternative lost in both overwrite regimes (SCALE.md)
    timed("merge max_by")(graft.series.SeriesOps.lastWins(
      db.snapshot().records, Seq("key", "ts"), "txid").count())
    timed("full scan+merge+delete")(assert(db.read().count() > 0))
    timed("ordered dump")(
      db.read().write.mode("overwrite").parquet(s"$wh/dump"))
    timed("wildcard 1% slice")(db.read("key-0001%").count())
    timed("point lookup")(db.read("key-00000042").count())
    timed("bykey stats")(
      graft.series.SeriesOps.byKeyStats(db.snapshot().read(), "v").count())
    timed("major compaction")(Compactor.major(db))
    timed("scan after compaction")(db.read().count())
    println("warehouse bytes: " + {
      val p = java.nio.file.Paths.get(wh, "data")
      java.nio.file.Files.walk(p).filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
    })
    spark.stop()
  }
}
