package graft.ops

import graft.SparkSpec
import graft.store.{Db, Manifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sketch stores' persistence contract, pinned literally: for every
  * family on both sides (ungrouped and per-group), both trios with a
  * `valueCol`, one fold per family, both grid migrations and
  * `stampGeometry`, the exact `(key, ts, non-null columns)` rows each
  * step commits, the delete markers it publishes and the manifest
  * properties it adds. Warehouses already on disk are read by these
  * keys and claims, so a change to any of them is a format change, not
  * a refactor. Groups hold `/` and `~` to pin the group escape.
  */
class SketchLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDb(): Db =
    Db(spark, java.nio.file.Files.createTempDirectory("graft-layout").toString)

  /** One line per row: `key|ts|col=value,...` over the row's non-null
    * columns other than key, ts and the partition columns, sorted.
    */
  private def render(df: DataFrame): Seq[String] = {
    val cols = df.columns.filterNot(Set("key", "ts", "txid", "tbucket"))
      .sorted
    df.collect().toSeq.map { r =>
      val rest = cols.flatMap { c =>
        Option(r.get(r.fieldIndex(c))).map(v => s"$c=$v") }
      s"${r.getAs[Any]("key")}|${r.getAs[Any]("ts")}|${rest.mkString(",")}"
    }.sorted
  }

  /** Everything `body` commits: `row` lines for the data transactions it
    * published, `del` lines for its delete markers, `prop` lines for the
    * manifest properties it added or changed.
    */
  private def committed(db: Db)(body: => Any): Seq[String] = {
    val before = Manifest.current(db.warehouse)
    body
    val after = Manifest.current(db.warehouse)
    val snap = db.snapshot()
    val newData = after.dataTxids.diff(before.dataTxids)
    val newDel = after.deleteTxids.diff(before.deleteTxids)
    val rows =
      if (newData.isEmpty) Nil
      else render(snap.records.filter(col("txid").isin(newData: _*)))
    val dels =
      if (newDel.isEmpty) Nil
      else snap.deletes.filter(col("txid").isin(newDel: _*))
        .drop("txid").collect().toSeq.map(_.toSeq.mkString("|")).sorted
    val props = after.props.toSeq
      .filterNot { case (k, v) => before.props.get(k).contains(v) }
      .map { case (k, v) => s"$k=$v" }.sorted
    rows.map("row " + _) ++ dels.map("del " + _) ++ props.map("prop " + _)
  }

  private def expectCommit(what: String, db: Db)(body: => Any)(
      expected: String*): Unit = {
    val got = committed(db)(body)
    assert(got == expected,
      s"$what committed:\n" + got.map(l => "\"" + l + "\"").mkString(",\n"))
  }

  // two micro-batches over the same element and value streams
  private val elems0 = Seq("p", "q", "p", "r/s", "p", "q")
  private val vals0 = Seq(3L, 15L, 27L, 3L, 99L, 15L)
  private val elems1 = Seq("q", "q", "t", "p")
  private val vals1 = Seq(41L, 5L, 15L, 70L)
  private val grps0 = Seq("a/b", "x~y", "a/b", "x~y", "a/b", "x~y")
  private val grps1 = Seq("x~y", "a/b", "a/b", "x~y")

  private def batch(e: Seq[String], v: Seq[Long]) = e.zip(v).toDF("e", "v")
  private def batchBy(g: Seq[String], e: Seq[String], v: Seq[Long]) =
    g.zip(e).zip(v).map { case ((a, b), c) => (a, b, c) }.toDF("g", "e", "v")

  test("ungrouped stores: register, trio, fold and migrate commit the " +
      "pinned rows and claims") {
    val db = tmpDb()
    val b0 = batch(elems0, vals0)
    val b1 = batch(elems1, vals1)
    expectCommit("registerKmv", db)(
      SketchStore.registerKmv(db, b0, col("e"), k = 3))(
      "row k/t|516332757326163229|h=516332757326163229",
      "row k/t|534045211780804179|h=534045211780804179",
      "row k/t|592356155975611273|h=592356155975611273",
      "prop kmv.k/t=3")
    expectCommit("registerCountMin", db)(
      SketchStore.registerCountMin(db, b0, col("e"), batchId = 0L, d = 2,
        w = 8L))(
      "row c/t/0/000001|0|bucket=1,c=2,sk_row=0",
      "row c/t/0/000006|0|bucket=6,c=4,sk_row=0",
      "row c/t/1/000000|0|bucket=0,c=3,sk_row=1",
      "row c/t/1/000007|0|bucket=7,c=3,sk_row=1",
      "prop cm.d/t=2",
      "prop cm.w/t=8")
    expectCommit("registerMg", db)(
      SketchStore.registerMg(db, b0, col("e"), batchId = 0L, c = 2))(
      "row m/t/p|0|est=2,item=p",
      "row m/t/q|0|est=1,item=q",
      "row mn/t|0|n_items=6",
      "prop mg.c/t=2")
    expectCommit("registerHist", db)(
      SketchStore.registerHist(db, b0, col("v"), batchId = 0L, b = 8,
        w = 10L))(
      "row h/t/000000|0|bin=0,cnt=2",
      "row h/t/000001|0|bin=1,cnt=2",
      "row h/t/000002|0|bin=2,cnt=1",
      "row h/t/000007|0|bin=7,cnt=1",
      "prop hist.b/t=8",
      "prop hist.origin/t=0",
      "prop hist.w/t=10")
    expectCommit("registerSketches", db)(
      SketchStore.registerSketches(db, b1, col("e"), batchId = 1L, k = 3,
        d = 2, w = 8L, c = 2, valueCol = Some(col("v")), b = 8,
        histW = 10L))(
      "row c/t/0/000001|1|bucket=1,c=2,sk_row=0",
      "row c/t/0/000004|1|bucket=4,c=1,sk_row=0",
      "row c/t/0/000006|1|bucket=6,c=1,sk_row=0",
      "row c/t/1/000000|1|bucket=0,c=1,sk_row=1",
      "row c/t/1/000001|1|bucket=1,c=1,sk_row=1",
      "row c/t/1/000007|1|bucket=7,c=2,sk_row=1",
      "row h/t/000000|1|bin=0,cnt=1",
      "row h/t/000001|1|bin=1,cnt=1",
      "row h/t/000004|1|bin=4,cnt=1",
      "row h/t/000007|1|bin=7,cnt=1",
      "row k/t|1023881695908026374|h=1023881695908026374",
      "row k/t|534045211780804179|h=534045211780804179",
      "row k/t|592356155975611273|h=592356155975611273",
      "row m/t/q|1|est=1,item=q",
      "row mn/t|1|n_items=4")
    expectCommit("foldKmv", db)(SketchStore.foldKmv(db))(
      "row k/t|516332757326163229|h=516332757326163229",
      "row k/t|534045211780804179|h=534045211780804179",
      "row k/t|592356155975611273|h=592356155975611273",
      "del ||-9223372036854775808|9223372036854775807|k/t",
      "prop fold.last/kmv/t=6")
    expectCommit("foldCountMin", db)(SketchStore.foldCountMin(db))(
      "row c/t/0/000001|-1|bucket=1,c=4,sk_row=0",
      "row c/t/0/000004|-1|bucket=4,c=1,sk_row=0",
      "row c/t/0/000006|-1|bucket=6,c=5,sk_row=0",
      "row c/t/1/000000|-1|bucket=0,c=4,sk_row=1",
      "row c/t/1/000001|-1|bucket=1,c=1,sk_row=1",
      "row c/t/1/000007|-1|bucket=7,c=5,sk_row=1",
      "del ||-9223372036854775808|9223372036854775807|c/t/%",
      "prop fold.last/cm/t=8")
    expectCommit("foldMg", db)(SketchStore.foldMg(db))(
      "row m/t/p|-1|est=2,item=p",
      "row m/t/q|-1|est=2,item=q",
      "row mn/t|-1|n_items=10",
      "del ||-9223372036854775808|9223372036854775807|m/t/%",
      "del ||-9223372036854775808|9223372036854775807|mn/t",
      "prop fold.last/mg/t=10")
    expectCommit("foldHist", db)(SketchStore.foldHist(db))(
      "row h/t/000000|-1|bin=0,cnt=3",
      "row h/t/000001|-1|bin=1,cnt=3",
      "row h/t/000002|-1|bin=2,cnt=1",
      "row h/t/000004|-1|bin=4,cnt=1",
      "row h/t/000007|-1|bin=7,cnt=2",
      "del ||-9223372036854775808|9223372036854775807|h/t/%",
      "prop fold.last/hist/t=12")
    expectCommit("migrateHistGrid", db)(
      SketchStore.migrateHistGrid(db, 20L))(
      "row h/t/000000|-1|bin=0,cnt=6",
      "row h/t/000001|-1|bin=1,cnt=1",
      "row h/t/000002|-1|bin=2,cnt=1",
      "row h/t/000003|-1|bin=3,cnt=2",
      "del ||-9223372036854775808|9223372036854775807|h/t/%",
      "prop hist.w/t=20")
    expectCommit("registerSketches tag s", db)(
      SketchStore.registerSketches(db, b0, col("e"), batchId = 0L,
        tag = "s", k = 3, d = 2, w = 8L, c = 2, valueCol = Some(col("v")),
        b = 8, histW = 10L))(
      "row c/s/0/000001|0|bucket=1,c=2,sk_row=0",
      "row c/s/0/000006|0|bucket=6,c=4,sk_row=0",
      "row c/s/1/000000|0|bucket=0,c=3,sk_row=1",
      "row c/s/1/000007|0|bucket=7,c=3,sk_row=1",
      "row h/s/000000|0|bin=0,cnt=2",
      "row h/s/000001|0|bin=1,cnt=2",
      "row h/s/000002|0|bin=2,cnt=1",
      "row h/s/000007|0|bin=7,cnt=1",
      "row k/s|516332757326163229|h=516332757326163229",
      "row k/s|534045211780804179|h=534045211780804179",
      "row k/s|592356155975611273|h=592356155975611273",
      "row m/s/p|0|est=2,item=p",
      "row m/s/q|0|est=1,item=q",
      "row mn/s|0|n_items=6",
      "prop cm.d/s=2",
      "prop cm.w/s=8",
      "prop hist.b/s=8",
      "prop hist.origin/s=0",
      "prop hist.w/s=10",
      "prop kmv.k/s=3",
      "prop mg.c/s=2")
    expectCommit("foldSketches", db)(SketchStore.foldSketches(db, "s"))(
      "row c/s/0/000001|-1|bucket=1,c=2,sk_row=0",
      "row c/s/0/000006|-1|bucket=6,c=4,sk_row=0",
      "row c/s/1/000000|-1|bucket=0,c=3,sk_row=1",
      "row c/s/1/000007|-1|bucket=7,c=3,sk_row=1",
      "row h/s/000000|-1|bin=0,cnt=2",
      "row h/s/000001|-1|bin=1,cnt=2",
      "row h/s/000002|-1|bin=2,cnt=1",
      "row h/s/000007|-1|bin=7,cnt=1",
      "row k/s|516332757326163229|h=516332757326163229",
      "row k/s|534045211780804179|h=534045211780804179",
      "row k/s|592356155975611273|h=592356155975611273",
      "row m/s/p|-1|est=2,item=p",
      "row m/s/q|-1|est=1,item=q",
      "row mn/s|-1|n_items=6",
      "del ||-9223372036854775808|9223372036854775807|c/s/%",
      "del ||-9223372036854775808|9223372036854775807|h/s/%",
      "del ||-9223372036854775808|9223372036854775807|k/s",
      "del ||-9223372036854775808|9223372036854775807|m/s/%",
      "del ||-9223372036854775808|9223372036854775807|mn/s",
      "prop fold.last/sketches/s=17")
  }

  test("grouped stores: register, trio, fold and migrate commit the " +
      "pinned rows and claims") {
    val db = tmpDb()
    val b0 = batchBy(grps0, elems0, vals0)
    val b1 = batchBy(grps1, elems1, vals1)
    expectCommit("registerKmvBy", db)(
      SketchStore.registerKmvBy(db, b0, col("g"), col("e"), k = 3))(
      "row kg/t/a/b|592356155975611273|grp=a/b,h=592356155975611273",
      "row kg/t/x~y|516332757326163229|grp=x~y,h=516332757326163229",
      "row kg/t/x~y|534045211780804179|grp=x~y,h=534045211780804179",
      "prop kmvg.k/t=3")
    expectCommit("registerCountMinBy", db)(
      SketchStore.registerCountMinBy(db, b0, col("g"), col("e"),
        batchId = 0L, d = 2, w = 8L))(
      "row cg/t/a~sb/0/000006|0|bucket=6,c=3,grp=a/b,sk_row=0",
      "row cg/t/a~sb/1/000000|0|bucket=0,c=3,grp=a/b,sk_row=1",
      "row cg/t/x~ty/0/000001|0|bucket=1,c=2,grp=x~y,sk_row=0",
      "row cg/t/x~ty/0/000006|0|bucket=6,c=1,grp=x~y,sk_row=0",
      "row cg/t/x~ty/1/000007|0|bucket=7,c=3,grp=x~y,sk_row=1",
      "prop cmg.d/t=2",
      "prop cmg.w/t=8")
    expectCommit("registerMgBy", db)(
      SketchStore.registerMgBy(db, b0, col("g"), col("e"), batchId = 0L,
        c = 2))(
      "row mg/t/a~sb/p|0|est=3,grp=a/b,item=p",
      "row mg/t/x~ty/q|0|est=2,grp=x~y,item=q",
      "row mg/t/x~ty/r/s|0|est=1,grp=x~y,item=r/s",
      "row mgn/t/a~sb|0|grp=a/b,n_items=3",
      "row mgn/t/x~ty|0|grp=x~y,n_items=3",
      "prop mgg.c/t=2")
    expectCommit("registerHistBy", db)(
      SketchStore.registerHistBy(db, b0, col("g"), col("v"), batchId = 0L,
        b = 8, w = 10L))(
      "row hg/t/a/b/000000|0|bin=0,cnt=1,grp=a/b",
      "row hg/t/a/b/000002|0|bin=2,cnt=1,grp=a/b",
      "row hg/t/a/b/000007|0|bin=7,cnt=1,grp=a/b",
      "row hg/t/x~y/000000|0|bin=0,cnt=1,grp=x~y",
      "row hg/t/x~y/000001|0|bin=1,cnt=2,grp=x~y",
      "prop histg.b/t=8",
      "prop histg.origin/t=0",
      "prop histg.w/t=10")
    expectCommit("registerSketchesBy", db)(
      SketchStore.registerSketchesBy(db, b1, col("g"), col("e"),
        batchId = 1L, k = 3, c = 2, d = 2, cmW = 8L,
        valueCol = Some(col("v")), b = 8, w = 10L))(
      "row cg/t/a~sb/0/000001|1|bucket=1,c=1,grp=a/b,sk_row=0",
      "row cg/t/a~sb/0/000004|1|bucket=4,c=1,grp=a/b,sk_row=0",
      "row cg/t/a~sb/1/000001|1|bucket=1,c=1,grp=a/b,sk_row=1",
      "row cg/t/a~sb/1/000007|1|bucket=7,c=1,grp=a/b,sk_row=1",
      "row cg/t/x~ty/0/000001|1|bucket=1,c=1,grp=x~y,sk_row=0",
      "row cg/t/x~ty/0/000006|1|bucket=6,c=1,grp=x~y,sk_row=0",
      "row cg/t/x~ty/1/000000|1|bucket=0,c=1,grp=x~y,sk_row=1",
      "row cg/t/x~ty/1/000007|1|bucket=7,c=1,grp=x~y,sk_row=1",
      "row hg/t/a/b/000000|1|bin=0,cnt=1,grp=a/b",
      "row hg/t/a/b/000001|1|bin=1,cnt=1,grp=a/b",
      "row hg/t/x~y/000004|1|bin=4,cnt=1,grp=x~y",
      "row hg/t/x~y/000007|1|bin=7,cnt=1,grp=x~y",
      "row kg/t/a/b|1023881695908026374|grp=a/b,h=1023881695908026374",
      "row kg/t/a/b|534045211780804179|grp=a/b,h=534045211780804179",
      "row kg/t/x~y|534045211780804179|grp=x~y,h=534045211780804179",
      "row kg/t/x~y|592356155975611273|grp=x~y,h=592356155975611273",
      "row mg/t/a~sb/q|1|est=1,grp=a/b,item=q",
      "row mg/t/a~sb/t|1|est=1,grp=a/b,item=t",
      "row mg/t/x~ty/p|1|est=1,grp=x~y,item=p",
      "row mg/t/x~ty/q|1|est=1,grp=x~y,item=q",
      "row mgn/t/a~sb|1|grp=a/b,n_items=2",
      "row mgn/t/x~ty|1|grp=x~y,n_items=2")
    expectCommit("foldKmvBy", db)(SketchStore.foldKmvBy(db))(
      "row kg/t/a/b|1023881695908026374|grp=a/b,h=1023881695908026374",
      "row kg/t/a/b|534045211780804179|grp=a/b,h=534045211780804179",
      "row kg/t/a/b|592356155975611273|grp=a/b,h=592356155975611273",
      "row kg/t/x~y|516332757326163229|grp=x~y,h=516332757326163229",
      "row kg/t/x~y|534045211780804179|grp=x~y,h=534045211780804179",
      "row kg/t/x~y|592356155975611273|grp=x~y,h=592356155975611273",
      "del ||-9223372036854775808|9223372036854775807|kg/t/%",
      "prop fold.last/kmvby/t=6")
    expectCommit("foldCountMinBy", db)(SketchStore.foldCountMinBy(db))(
      "row cg/t/a~sb/0/000001|-1|bucket=1,c=1,grp=a/b,sk_row=0",
      "row cg/t/a~sb/0/000004|-1|bucket=4,c=1,grp=a/b,sk_row=0",
      "row cg/t/a~sb/0/000006|-1|bucket=6,c=3,grp=a/b,sk_row=0",
      "row cg/t/a~sb/1/000000|-1|bucket=0,c=3,grp=a/b,sk_row=1",
      "row cg/t/a~sb/1/000001|-1|bucket=1,c=1,grp=a/b,sk_row=1",
      "row cg/t/a~sb/1/000007|-1|bucket=7,c=1,grp=a/b,sk_row=1",
      "row cg/t/x~ty/0/000001|-1|bucket=1,c=3,grp=x~y,sk_row=0",
      "row cg/t/x~ty/0/000006|-1|bucket=6,c=2,grp=x~y,sk_row=0",
      "row cg/t/x~ty/1/000000|-1|bucket=0,c=1,grp=x~y,sk_row=1",
      "row cg/t/x~ty/1/000007|-1|bucket=7,c=4,grp=x~y,sk_row=1",
      "del ||-9223372036854775808|9223372036854775807|cg/t/%",
      "prop fold.last/cmby/t=8")
    expectCommit("foldMgBy", db)(SketchStore.foldMgBy(db))(
      "row mg/t/a~sb/p|-1|est=2,grp=a/b,item=p",
      "row mg/t/x~ty/q|-1|est=2,grp=x~y,item=q",
      "row mgn/t/a~sb|-1|grp=a/b,n_items=5",
      "row mgn/t/x~ty|-1|grp=x~y,n_items=5",
      "del ||-9223372036854775808|9223372036854775807|mg/t/%",
      "del ||-9223372036854775808|9223372036854775807|mgn/t/%",
      "prop fold.last/mgby/t=10")
    expectCommit("foldHistBy", db)(SketchStore.foldHistBy(db))(
      "row hg/t/a/b/000000|-1|bin=0,cnt=2,grp=a/b",
      "row hg/t/a/b/000001|-1|bin=1,cnt=1,grp=a/b",
      "row hg/t/a/b/000002|-1|bin=2,cnt=1,grp=a/b",
      "row hg/t/a/b/000007|-1|bin=7,cnt=1,grp=a/b",
      "row hg/t/x~y/000000|-1|bin=0,cnt=1,grp=x~y",
      "row hg/t/x~y/000001|-1|bin=1,cnt=2,grp=x~y",
      "row hg/t/x~y/000004|-1|bin=4,cnt=1,grp=x~y",
      "row hg/t/x~y/000007|-1|bin=7,cnt=1,grp=x~y",
      "del ||-9223372036854775808|9223372036854775807|hg/t/%",
      "prop fold.last/histby/t=12")
    expectCommit("migrateHistGridBy", db)(
      SketchStore.migrateHistGridBy(db, 20L))(
      "row hg/t/a/b/000000|-1|bin=0,cnt=3,grp=a/b",
      "row hg/t/a/b/000001|-1|bin=1,cnt=1,grp=a/b",
      "row hg/t/a/b/000003|-1|bin=3,cnt=1,grp=a/b",
      "row hg/t/x~y/000000|-1|bin=0,cnt=3,grp=x~y",
      "row hg/t/x~y/000002|-1|bin=2,cnt=1,grp=x~y",
      "row hg/t/x~y/000003|-1|bin=3,cnt=1,grp=x~y",
      "del ||-9223372036854775808|9223372036854775807|hg/t/%",
      "prop histg.w/t=20")
    expectCommit("registerSketchesBy tag s", db)(
      SketchStore.registerSketchesBy(db, b0, col("g"), col("e"),
        batchId = 0L, tag = "s", k = 3, c = 2, d = 2, cmW = 8L,
        valueCol = Some(col("v")), b = 8, w = 10L))(
      "row cg/s/a~sb/0/000006|0|bucket=6,c=3,grp=a/b,sk_row=0",
      "row cg/s/a~sb/1/000000|0|bucket=0,c=3,grp=a/b,sk_row=1",
      "row cg/s/x~ty/0/000001|0|bucket=1,c=2,grp=x~y,sk_row=0",
      "row cg/s/x~ty/0/000006|0|bucket=6,c=1,grp=x~y,sk_row=0",
      "row cg/s/x~ty/1/000007|0|bucket=7,c=3,grp=x~y,sk_row=1",
      "row hg/s/a/b/000000|0|bin=0,cnt=1,grp=a/b",
      "row hg/s/a/b/000002|0|bin=2,cnt=1,grp=a/b",
      "row hg/s/a/b/000007|0|bin=7,cnt=1,grp=a/b",
      "row hg/s/x~y/000000|0|bin=0,cnt=1,grp=x~y",
      "row hg/s/x~y/000001|0|bin=1,cnt=2,grp=x~y",
      "row kg/s/a/b|592356155975611273|grp=a/b,h=592356155975611273",
      "row kg/s/x~y|516332757326163229|grp=x~y,h=516332757326163229",
      "row kg/s/x~y|534045211780804179|grp=x~y,h=534045211780804179",
      "row mg/s/a~sb/p|0|est=3,grp=a/b,item=p",
      "row mg/s/x~ty/q|0|est=2,grp=x~y,item=q",
      "row mg/s/x~ty/r/s|0|est=1,grp=x~y,item=r/s",
      "row mgn/s/a~sb|0|grp=a/b,n_items=3",
      "row mgn/s/x~ty|0|grp=x~y,n_items=3",
      "prop cmg.d/s=2",
      "prop cmg.w/s=8",
      "prop histg.b/s=8",
      "prop histg.origin/s=0",
      "prop histg.w/s=10",
      "prop kmvg.k/s=3",
      "prop mgg.c/s=2")
    expectCommit("foldSketchesBy", db)(SketchStore.foldSketchesBy(db, "s"))(
      "row cg/s/a~sb/0/000006|-1|bucket=6,c=3,grp=a/b,sk_row=0",
      "row cg/s/a~sb/1/000000|-1|bucket=0,c=3,grp=a/b,sk_row=1",
      "row cg/s/x~ty/0/000001|-1|bucket=1,c=2,grp=x~y,sk_row=0",
      "row cg/s/x~ty/0/000006|-1|bucket=6,c=1,grp=x~y,sk_row=0",
      "row cg/s/x~ty/1/000007|-1|bucket=7,c=3,grp=x~y,sk_row=1",
      "row hg/s/a/b/000000|-1|bin=0,cnt=1,grp=a/b",
      "row hg/s/a/b/000002|-1|bin=2,cnt=1,grp=a/b",
      "row hg/s/a/b/000007|-1|bin=7,cnt=1,grp=a/b",
      "row hg/s/x~y/000000|-1|bin=0,cnt=1,grp=x~y",
      "row hg/s/x~y/000001|-1|bin=1,cnt=2,grp=x~y",
      "row kg/s/a/b|592356155975611273|grp=a/b,h=592356155975611273",
      "row kg/s/x~y|516332757326163229|grp=x~y,h=516332757326163229",
      "row kg/s/x~y|534045211780804179|grp=x~y,h=534045211780804179",
      "row mg/s/a~sb/p|-1|est=3,grp=a/b,item=p",
      "row mg/s/x~ty/q|-1|est=2,grp=x~y,item=q",
      "row mg/s/x~ty/r/s|-1|est=1,grp=x~y,item=r/s",
      "row mgn/s/a~sb|-1|grp=a/b,n_items=3",
      "row mgn/s/x~ty|-1|grp=x~y,n_items=3",
      "del ||-9223372036854775808|9223372036854775807|cg/s/%",
      "del ||-9223372036854775808|9223372036854775807|hg/s/%",
      "del ||-9223372036854775808|9223372036854775807|kg/s/%",
      "del ||-9223372036854775808|9223372036854775807|mg/s/%",
      "del ||-9223372036854775808|9223372036854775807|mgn/s/%",
      "prop fold.last/sketchesby/s=17")
  }

  test("stampGeometry commits exactly the claimed properties") {
    val db = tmpDb()
    expectCommit("stampGeometry", db)(
      SketchStore.stampGeometry(db, "z", kmvK = Some(5), kmvByK = Some(6),
        mgC = Some(7), mgByC = Some(8), cm = Some((3, 16L)),
        cmBy = Some((2, 32L)), hist = Some((9, 100L, -5L)),
        histBy = Some((10, 200L, 7L))))(
      "prop cm.d/z=3",
      "prop cm.w/z=16",
      "prop cmg.d/z=2",
      "prop cmg.w/z=32",
      "prop hist.b/z=9",
      "prop hist.origin/z=-5",
      "prop hist.w/z=100",
      "prop histg.b/z=10",
      "prop histg.origin/z=7",
      "prop histg.w/z=200",
      "prop kmv.k/z=5",
      "prop kmvg.k/z=6",
      "prop mg.c/z=7",
      "prop mgg.c/z=8")
  }
}
