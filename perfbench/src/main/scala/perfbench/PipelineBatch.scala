package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `pipeline_batch`: the LLM-data-pipeline operators over a ×R corpus.
  *
  * One client runs passes of two `SparkEntry.queries` entries — `ret_bm25`
  * (the tokenizer-bound retrieval query) and `dedup_semantic` (connected
  * components over near-duplicate vectors) — each consumed as (row count,
  * order-independent row digest) so every output column is computed. A
  * pass's digests must equal the warm-up pass's: the queries are
  * deterministic, so any difference is a wrong answer.
  */
object PipelineBatch extends Workload {
  val Replicas = 2
  val SetupReps = 3
  val Queries: Seq[(String, String)] = Seq(
    "ret_bm25" -> "bm25", "dedup_semantic" -> "semdedup")

  /** (rows, digest) of a query result. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = shiftrightunsigned(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*), 24)
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def runQuery(spark: SparkSession, dir: String, q: String): (Long, Long) =
    digest(graft.SparkEntry.queries(q)(spark, dir))

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    var expected = Map.empty[String, (Long, Long)]
    val (dir, setupS, reps) = Setup.repeated(ctx, SetupReps, sessionS) { d =>
      CorpusGen.write(spark, d, ctx.seed, Replicas); d
    }(_ => ()) { d =>
      expected = Queries.map { case (q, _) => q -> runQuery(spark, d, q) }.toMap
    }
    val tracer = if (ctx.trace) Some(new Tracer(spark).install()) else None
    val perQuery = Queries.map { case (q, _) => q -> new Samples }.toMap
    val passes = new Samples
    val spans = scala.collection.mutable.ArrayBuffer.empty[(String, Span)]
    var attempted = 0L; var failed = 0L
    val t0 = Clock.now()
    val stopAt = t0 + ctx.seconds * 1000000000L
    // whole passes only: another pass runs while it is expected to end
    // less than half a pass past the window
    def another: Boolean = passes.size == 0 ||
      Clock.now() + passes.median * 1e9 / 2 < stopAt
    while (another) {
      val p0 = Clock.now()
      Queries.foreach { case (q, _) =>
        attempted += 1
        val s0 = Clock.now()
        val got = tracer match {
          case Some(tr) => val (r, s) = tr.span("ops", q)(runQuery(spark, dir, q)); spans += (q -> s); r
          case None => runQuery(spark, dir, q)
        }
        perQuery(q).add(Clock.s(s0))
        if (got != expected(q)) {
          failed += 1
          ctx.log(s"FAILED $q digest $got, warm-up pass gave ${expected(q)}")
        }
      }
      passes.add(Clock.s(p0))
    }
    val wallS = Clock.s(t0)
    val e2e = Seq(Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Samples.median(perQuery.values.flatMap(_.values).toSeq) * 1000, "ms"),
      Metric("ops_per_s", attempted / wallS, "1/s"),
      Metric("bulk_p50_ms", passes.median * 1000, "ms"))
    val layer = tracer.map { tr =>
      tr.settle()
      val m = Queries.flatMap { case (q, _) =>
        val mine = spans.filter(_._1 == q).map(_._2)
        def perPass(f: (Span, Vector[JobRec], Vector[StageRec]) => Double): Double =
          Samples.median(mine.map { s =>
            val js = tr.jobsOfSpan(s.id); f(s, js, tr.stagesOf(js))
          }.toSeq)
        val byModule = {
          val ss = mine.flatMap(s => tr.stagesOf(tr.jobsOfSpan(s.id)))
          ss.groupBy(st => Tracer.module(st.site)).map { case (k, v) => k -> v.map(_.taskMs).sum / 1000.0 / mine.size }
        }
        Seq(
          Metric(s"ops.$q.jobs", perPass((_, js, _) => js.size.toDouble), "count"),
          Metric(s"ops.$q.task_s", perPass((_, _, ss) => ss.map(_.taskMs).sum / 1000.0), "s"),
          Metric(s"ops.$q.shuffle_bytes", perPass((_, _, ss) => ss.map(_.shuffleWrite).sum.toDouble), "bytes"),
          Metric(s"ops.$q.spill_bytes", perPass((_, _, ss) => ss.map(_.spill).sum.toDouble), "bytes"),
          Metric(s"ops.$q.serial_stage_s", perPass((s, _, ss) =>
            coveredMs(s, ss.filter(_.numTasks == 1).map(x => (x.submitMs, x.completeMs))) / 1000.0), "s"),
          Metric(s"ops.$q.driver_gap_s", perPass((s, js, _) =>
            (s.endMs - s.startMs - coveredMs(s, js.map(j => (j.startMs, j.endMs)))) / 1000.0), "s")) ++
          // task time by the engine module whose call submitted the stage;
          // `query` is the benchmark's own action on the query's final plan
          Seq("ops", "core", "store", "query").map(mod =>
            Metric(s"ops.$q.task_s.$mod", byModule.getOrElse(mod, 0.0), "s"))
      }
      val traceE2e = e2e.filter(_.name != "setup_s").map(m => m.copy(name = s"trace.${m.name}"))
      tr.writeSpans(ctx.dir("trace") + s"/spans-${ctx.workload}-${ctx.seed}.jsonl")
      tr.uninstall()
      m ++ traceE2e
    }.getOrElse(Nil)
    val e2eNamed = Metric("pipeline_pass_s", passes.median, "s") +:
      Queries.map { case (q, short) => Metric(s"${short}_s", perQuery(q).median, "s") }
    Outcome(attempted, failed, e2e, layer,
      Seq(f"setup: data builds and warm-up ${reps.map(r => f"$r%.2f").mkString(", ")} s, passes ${passes.size}",
        s"e2e detail: ${e2eNamed.map(m => s"${m.name}=${"%.3f".format(m.value)}").mkString(" ")}"))
  }

  /** Wall time inside the span covered by at least one of the intervals
    * (an interval still open at the span's end runs to it).
    */
  def coveredMs(s: Span, intervals: Seq[(Long, Long)]): Double = {
    val iv = intervals.map { case (a, b) =>
      (math.max(s.startMs, a), math.min(s.endMs, if (b < 0) s.endMs else b))
    }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    (covered + curE - curS).toDouble
  }
}
