package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Compaction vs concurrent commits. Claim-first ordering means every
  * commit after the compactor's claim ranks ABOVE the folded output
  * (last-wins and delete precedence hold with no writer-side lock); the
  * compaction lock serializes compactors; a writer that pre-claimed a
  * LOW txid and publishes mid-compaction forces an abort-and-retry.
  */
class CompactConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("delete committed during major compaction keeps suppressing") {
    val db = Db(spark, tmpDir("graft-cc1"))
    TxWriter.write(db, Seq(("a", 1L, 10L), ("b", 1L, 20L)).toDF("key", "ts", "v"))
    var injected = false
    Compactor.major(db, { df =>
      if (!injected) { injected = true; TxWriter.delete(db, wildcard = "a%") }
      df
    })
    // the marker postdates the compactor's claim → it must survive the
    // major marker purge and cover the folded output
    assert(db.snapshot().manifest.deleteTxids.nonEmpty,
      "concurrent delete marker was wrongly purged at cutover")
    assert(db.read("%").select("key").as[String].collect().toSeq == Seq("b"))
  }

  test("write committed during major compaction wins last-wins") {
    val db = Db(spark, tmpDir("graft-cc2"))
    TxWriter.write(db, Seq(("a", 1L, 10L)).toDF("key", "ts", "v"))
    var injected = false
    Compactor.major(db, { df =>
      if (!injected) { injected = true
        TxWriter.write(db, Seq(("a", 1L, 11L)).toDF("key", "ts", "v"))
      }
      df
    })
    assert(db.read("%").select("v").as[Long].head() == 11L,
      "concurrent write must outrank the folded copy")
  }

  test("concurrent compactors serialize: no record duplication") {
    val db = Db(spark, tmpDir("graft-cc3"))
    (1 to 3).foreach(i =>
      TxWriter.write(db, Seq((s"k$i", i.toLong, i.toLong)).toDF("key", "ts", "v")))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // the compactors' own pool: the global one-per-core pool can be
    // starved by other work on a small machine
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(Seq(
      Future(Compactor.minor(db)), Future(Compactor.minor(db)))), 180.seconds)
    finally pool.shutdownNow()
    assert(db.read("%").count() == 3, "compaction raced into duplication")
  }

  test("no-op compaction burns neither a txid nor a manifest version") {
    val db = Db(spark, tmpDir("graft-cc6"))
    TxWriter.write(db, Seq(("a", 1L, 1L)).toDF("key", "ts", "v"))
    val before = db.snapshot().manifest
    Compactor.minor(db) // single tx: nothing to fold
    val after = db.snapshot().manifest
    assert(after.nextTxid == before.nextTxid && after.version == before.version,
      s"idle compact mutated the manifest: $before -> $after")
  }

  test("vacuum grace window protects an in-flight writer's directory") {
    val db = Db(spark, tmpDir("graft-cc5"))
    TxWriter.write(db, Seq(("a", 1L, 1L)).toDF("key", "ts", "v"))
    // a claimed-but-unpublished directory looks orphaned until publish
    Seq(("ghost", 9L, 9L)).toDF("key", "ts", "v")
      .write.parquet(s"${db.dataDir}/txid=77")
    Compactor.vacuum(db) // default grace: fresh dirs must survive
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${db.dataDir}/txid=77")))
    Compactor.vacuum(db, graceMs = 0L) // quiescent: now it is garbage
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${db.dataDir}/txid=77")))
  }

  test("low-ranked latecomer publish aborts and retries the compaction") {
    val db = Db(spark, tmpDir("graft-cc4"))
    TxWriter.write(db, Seq(("a", 1L, 1L)).toDF("key", "ts", "v"))
    TxWriter.write(db, Seq(("a", 1L, 2L)).toDF("key", "ts", "v"))
    // a writer claims its txid now (before the compactor claims its own)…
    var w = -1L
    Manifest.update(db.warehouse) { m =>
      w = m.nextTxid; m.copy(nextTxid = m.nextTxid + 1)
    }
    var injected = false
    Compactor.major(db, { df =>
      if (!injected) { injected = true
        // …and publishes mid-compaction: its txid ranks BELOW the
        // compacted output, which must force an abort + retry
        Seq(("a", 1L, 99L)).toDF("key", "ts", "v").coalesce(1)
          .write.parquet(s"${db.dataDir}/txid=$w")
        Manifest.update(db.warehouse)(m => m.copy(dataTxids = m.dataTxids :+ w))
      }
      df
    })
    // the retry folded the latecomer, so its value wins and exactly one
    // transaction remains
    assert(db.read("%").select("v").as[Long].collect().toSeq == Seq(99L))
    assert(db.snapshot().manifest.dataTxids.size == 1,
      s"retry did not fold the latecomer: ${db.snapshot().manifest.dataTxids}")
  }

  test("output rename losing its claimed number (a camped tentative dir) " +
      "retries under a fresh claim and never deletes the camper's data") {
    val db = Db(spark, tmpDir("graft-cc5"))
    TxWriter.write(db, Seq(("a", 1L, 1L)).toDF("key", "ts", "v"))
    TxWriter.write(db, Seq(("a", 1L, 2L)).toDF("key", "ts", "v"))
    var campedAt = -1L
    var injected = false
    Compactor.major(db, { df =>
      if (!injected) { injected = true
        // a fused writer's tentative directory lands on the compactor's
        // CLAIMED number mid-rewrite (the microsecond read→rename race):
        // the compactor's output rename must fail-if-exists, leave the
        // camper's bytes alone, and retry under a fresh claim
        campedAt = Manifest.current(db.warehouse).nextTxid - 1
        Seq(("ghost", 9L, 9L)).toDF("key", "ts", "v").coalesce(1)
          .write.parquet(s"${db.dataDir}/txid=$campedAt")
      }
      df
    })
    val m = db.snapshot().manifest
    // the compaction committed (retry) and never published the camper
    assert(!m.dataTxids.contains(campedAt), "camped number never publishes")
    assert(m.dataTxids.size == 1, s"retry did not cut over: ${m.dataTxids}")
    assert(db.read("%").select("v").as[Long].collect().toSeq == Seq(2L))
    // the camper's directory is intact — the compactor cleaned only its
    // own tentative output (the camper self-heals by renaming forward;
    // a crashed camper is vacuum's job, not the compactor's)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(db.dataDir, s"txid=$campedAt")),
      "the compactor deleted another writer's camped directory")
    assert(db.read("%").filter(col("key") === "ghost").count() == 0,
      "camped tentative data must stay invisible")
  }
}
