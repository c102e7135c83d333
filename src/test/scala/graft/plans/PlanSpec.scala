package graft.plans

import graft.SparkSpec
import graft.core.Graft
import graft.series.SeriesOps
import graft.store.{Db, TxWriter}
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the optimizations this engine relies on at scale
  * must actually appear in the physical plan — pushed filters, hash (not
  * window) dedup, broadcast anti-join — so a regression is a test failure,
  * not a silent 10× slowdown at 100 TB.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val db: Db = {
    val d = Db(spark, tmpDir("graft-plan"))
    TxWriter.write(d,
      (1 to 100).map(i => (f"fib/$i%03d", i.toLong, i.toLong)).toDF("key", "ts", "v"),
      rangePartitions = Some(2))
    TxWriter.write(d, Seq(("fob/1", 1L, 1L)).toDF("key", "ts", "v"),
      rangePartitions = Some(1))
    d
  }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("LikePrefixRangeRule: multi-wildcard LIKE gains a pushed key range") {
    Graft.configure(spark)
    db.snapshot().records.createOrReplaceTempView("plan_records")
    // ≥2 wildcards: LikeSimplification cannot rewrite it, our rule can
    val df = spark.sql("SELECT * FROM plan_records WHERE key LIKE 'fib%0%7'")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains(">= fib"), s"no lower bound:\n$opt")
    assert(opt.contains("< fic"), s"no upper bound:\n$opt")
    val phys = physical(df)
    assert(phys.contains("GreaterThanOrEqual(key,fib)") &&
      phys.contains("LessThan(key,fic)"),
      s"range not pushed to parquet:\n$phys")
    assert(df.count() == 10) // fib/007, 017, ..., 097
  }

  test("rule is idempotent and skips exact/prefix-only/non-ASCII patterns") {
    val plan = spark.sql("SELECT * FROM plan_records WHERE key LIKE 'fib%7'")
      .queryExecution.optimizedPlan
    val twice = LikePrefixRangeRule(LikePrefixRangeRule(plan)).toString
    assert(twice == LikePrefixRangeRule(plan).toString)
    Seq("fib", "fib%", "%fib", "日本%x").foreach { pat =>
      val p = spark.sql(s"SELECT * FROM plan_records WHERE key LIKE '$pat'")
        .queryExecution.optimizedPlan
      // no spurious double-bounds beyond what LikeSimplification produces
      assert(LikePrefixRangeRule(p).toString == p.toString, s"pattern $pat")
    }
  }

  test("warehouse key filters reach the parquet scan (segment-search parity)") {
    // prefix-only pattern → pure range predicate, pushed as bounds
    val phys = physical(db.read("fib/0%"))
    assert(phys.contains("PushedFilters") &&
      phys.contains("GreaterThanOrEqual(key,fib/0") &&
      phys.contains("LessThan(key,fib/1"),
      s"prefix range not pushed:\n$phys")
    // wildcard with residual → range pushed, LIKE applied on top
    val phys2 = physical(db.snapshot().read("fib/0%1"))
    assert(phys2.contains("GreaterThanOrEqual(key,fib/0"), s"range not pushed:\n$phys2")
  }

  test("lastWins dedups with partial aggregation before the shuffle, no window") {
    val df = SeriesOps.lastWins(db.snapshot().records, Seq("key", "ts"), "txid")
    val phys = physical(df)
    assert(!phys.contains("WindowExec"), s"window-based dedup:\n$phys")
    // max_by with a struct buffer plans as SortAggregate; the load-bearing
    // property at scale is the map-side partial_max_by collapsing duplicate
    // (key, ts) groups before any exchange
    assert(phys.contains("partial_max_by"), s"no partial aggregation:\n$phys")
  }

  test("delete anti-join broadcasts the marker side") {
    val deletes = Seq(("a", "z", 0L, 100L, "%", 99L))
      .toDF("firstKey", "lastKey", "t0", "t1", "wildcard", "txid")
    val phys = physical(SeriesOps.applyDeletes(db.snapshot().records, deletes))
    assert(phys.contains("BroadcastNestedLoopJoin") && phys.contains("LeftAnti"),
      s"marker side not broadcast:\n$phys")
  }

  test("column projection prunes the parquet read schema") {
    val phys = physical(db.snapshot().records.select("key"))
    assert(phys.contains("ReadSchema: struct<key:string>"),
      s"read schema not pruned:\n$phys")
  }
}
