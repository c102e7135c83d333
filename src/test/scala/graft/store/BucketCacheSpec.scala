package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The per-(warehouse, txid) `tbucket=` listing cache behind
  * [[Db.Snapshot.readInstants]]: time-travel reads of OLD manifest
  * versions must NOT purge it (the snapshotAt cache-thrash bug — every
  * historical probe invalidated every concurrent reader's listings),
  * while a genuine delete-and-recreate at the same path still must.
  */
class BucketCacheSpec extends SparkSpec {
  import spark.implicits._

  private val WIDTH = 1000L

  private def freshWarehouse(): String =
    java.nio.file.Files.createTempDirectory("graft-bucketcache").toString

  private def writeBucketed(db: Db, n: Int): Long = {
    val rows = (0 until n).map(i => (s"k$i", i.toLong * 500L, i.toLong))
      .toDF("key", "ts", "v")
    TxWriter.write(db, rows, timeBucketNanos = Some(WIDTH))
  }

  private def buckets(db: Db, txid: Long, version: Long) =
    Db.txLayout(spark, db.warehouse, db.dataDir, txid, version).buckets

  test("time travel keeps the listing cache; recreation purges it") {
    val wh = freshWarehouse()
    val db = Db(spark, wh)
    val tx0 = writeBucketed(db, 8)
    // a few more commits so the current version sits well above v1
    TxWriter.delete(db, wildcard = "nomatch%")
    TxWriter.delete(db, wildcard = "nomatch2%")
    val headVersion = Manifest.current(wh).version
    val cached = buckets(db, tx0, headVersion)
    assert(!cached.isEmpty, "bucketed write must produce tbucket dirs")

    // ── time travel: an older version of the SAME warehouse ──────────
    val timeTravel = buckets(db, tx0, headVersion - 2)
    assert(timeTravel eq cached,
      "a historical snapshot must reuse the cached listing, not purge it")
    // and the cache still serves the head version afterwards
    assert(buckets(db, tx0, headVersion) eq cached)

    // ── recreation: same path, fresh manifest history ─────────────────
    import java.util.Comparator
    java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      .sorted(Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    val db2 = Db(spark, wh)
    val tx0b = writeBucketed(db2, 4) // txids restart: same txid number
    assert(tx0b == tx0, "recreated warehouse must reuse txid numbering")
    val newVersion = Manifest.current(wh).version
    assert(newVersion < headVersion, "recreation must present a regression")
    val recreated = buckets(db2, tx0b, newVersion)
    assert(!(recreated eq cached),
      "a recreated warehouse must purge the stale listings")
    // the fresh listing reflects the NEW data layout (4 rows -> 2 buckets)
    assert(recreated.size == 2, s"stale listing served: $recreated")
  }

  test("warehouse identity is manifest-minted, stable, parsed back, and recreation-sensitive") {
    val wh = freshWarehouse()
    val db = Db(spark, wh)
    writeBucketed(db, 4)
    val minted = Manifest.current(wh).created
    assert(minted.nonEmpty, "the version-0→1 commit must mint an identity")
    assert(Manifest.identity(wh) == minted,
      "identity must prefer the minted id over the file heuristic")
    // carried forward untouched by later commits (and round-trips the
    // JSON parse — the field must survive re-serialization)
    TxWriter.delete(db, wildcard = "nomatch%")
    writeBucketed(Db(spark, wh), 2)
    assert(Manifest.current(wh).created == minted,
      "every later commit must carry the same identity")
    // historical versions of the same warehouse carry it too
    assert(Manifest.at(wh, 1L).created == minted)
    // a recreation at the same path mints a DIFFERENT identity
    import java.util.Comparator
    java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      .sorted(Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    writeBucketed(Db(spark, wh), 2)
    val reminted = Manifest.current(wh).created
    assert(reminted.nonEmpty && reminted != minted,
      "recreation must mint a fresh identity")
    // pre-field warehouses (created = "") fall back to the file
    // heuristic: strip the field from every manifest on disk
    val d = java.nio.file.Paths.get(wh, "_manifest")
    java.nio.file.Files.list(d).forEach { p =>
      if (p.getFileName.toString.matches("v\\d+\\.json")) {
        val s = java.nio.file.Files.readString(p)
        java.nio.file.Files.writeString(p,
          s.replaceAll("\"createdB64\":\"[^\"]*\",", ""))
      }
    }
    assert(Manifest.current(wh).created == "",
      "legacy manifests parse with an empty identity")
    val fallback = Manifest.identity(wh)
    assert(fallback == Manifest.creationId(wh),
      "identity must fall back to the file heuristic on legacy warehouses")
  }

  test("history pruning preserves the minted identity and the O(1) head") {
    val wh = freshWarehouse()
    val db = Db(spark, wh)
    writeBucketed(db, 4)
    (1 to 5).foreach(_ => TxWriter.delete(db, wildcard = "nomatch%"))
    val id0 = Manifest.identity(wh)
    Compactor.pruneHistory(db, keep = 2)
    assert(Manifest.versions(wh).size == 2)
    // the created id rides in EVERY version, so dropping v1 cannot
    // change it (the file-inode heuristic would have — that was the
    // field's reason to exist)
    assert(Manifest.identity(wh) == id0,
      "pruning history must not change the warehouse identity")
    assert(Manifest.currentVersion(wh) == Manifest.versions(wh).max)
    assert(Manifest.current(wh).created == id0)
  }

  test("readInstants on a historical snapshot returns that version's rows") {
    val wh = freshWarehouse()
    val db = Db(spark, wh)
    writeBucketed(db, 6)
    val v1 = Manifest.current(wh).version
    // second generation of the same keys at later instants
    TxWriter.write(db,
      (0 until 6).map(i => (s"k$i", 10000L + i * 500L, 100L + i))
        .toDF("key", "ts", "v"))
    val head = db.snapshot().readInstants(Seq(0L, 500L, 10000L))
      .select("key").as[String].collect().toSet
    assert(head == Set("k0", "k1"), s"head read: $head")
    val old = db.snapshotAt(v1).readInstants(Seq(0L, 500L, 10000L))
      .select("key").as[String].collect().toSet
    assert(old == Set("k0", "k1"), s"historical read: $old")
  }
}
