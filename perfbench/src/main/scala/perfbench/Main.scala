package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints the result as the last stdout line: `correct`, `attempted`,
  * `failed` and the end-to-end (trace 0) or per-layer (trace 1) metrics.
  */
trait Workload {
  def run(ctx: Ctx, sessionS: Double): Outcome
}

object Main {
  val workloads: Map[String, Workload] = Map(
    "tsdb_serve_mixed" -> ServeMixed,
    "pipeline_batch" -> PipelineBatch)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val workload = workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name' (known: ${workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts.getOrElse("work", "work")).getAbsoluteFile
    val report = opts.get("report")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // stage call sites deep enough to reach the engine entry point that
    // submitted a job (Serve.doGet, TxWriter.write, ...) for attribution
    System.setProperty("spark.callstack.depth", "96")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = Ctx(spark, name, seed, seconds, trace, work, cores)
    val out =
      try workload.run(ctx, sessionS)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
    val before = ctx.sentinelBefore
    val after = sentinel(spark, cores)
    out.notes.foreach(n => ctx.log(n))
    ctx.log(f"cpu sentinel before ${before}%.1f ms, after ${after}%.1f ms (ungated)")
    val metrics = if (trace) out.perLayer else out.endToEnd
    val metricJson = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
      .mkString("{", ", ", "}")
    val correct = out.failed == 0
    val line = s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": $metricJson}"""
    report.foreach { path =>
      val all = (out.endToEnd ++ out.perLayer).map(m =>
        s"${Json.str(m.name)}: ${Json.num(m.value)}").mkString("{", ", ", "}")
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(s"""{"workload": ${Json.str(name)}, "seed": $seed, "trace": $trace, """ +
        s""""cores": $cores, "sentinel_before_ms": ${Json.num(before)}, "sentinel_after_ms": ${Json.num(after)}, """ +
        s""""result": $line, "all_metrics": $all, "notes": ${out.notes.map(Json.str).mkString("[", ", ", "]")}}""")
      finally w.close()
    }
    spark.stop()
    System.out.println(line)
    System.out.flush()
  }

  /** `local[nproc]`, shuffle partitions = nproc, spill and temp files
    * under the run's work directory.
    */
  def session(cores: Int, work: java.io.File): SparkSession = {
    val local = new java.io.File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Graft.configure(spark)
  }

  /** Fixed CPU-bound probe (in-memory shuffle aggregate over all cores):
    * machine drift between runs shows here, not in the engine.
    */
  def sentinel(spark: SparkSession, cores: Int): Double = {
    def once(): Double = Clock.time {
      spark.range(0L, 2000000L, 1L, cores * 2)
        .groupBy((col("id") % 64).as("g"))
        .agg(sum(col("id") * 3 + 1).as("s"), count(lit(1)).as("c"))
        .agg(sum(col("s")), sum(col("c"))).collect()
    }._2
    once()
  }
}

/** Set-up with the data build repeated `reps` times into fresh directories,
  * then one warm-up: setup_s is session start-up plus the median build plus
  * the warm-up. Each build writes the workload's data from the seed
  * through the engine; the last one is the state that is warmed up and
  * measured.
  */
object Setup {
  def repeated[S](ctx: Ctx, reps: Int, sessionS: Double)(build: String => S)(
      discard: S => Unit)(warm: S => Unit): (S, Double, Seq[Double]) = {
    var state: Option[S] = None
    val times = (0 until reps).map { r =>
      state.foreach(discard)
      val dir = ctx.dir(s"rep$r")
      Files.deleteTree(dir)
      val t0 = Clock.now()
      state = Some(build(dir))
      val took = Clock.s(t0)
      ctx.log(f"data build $r: $took%.2f s")
      took
    }
    val t0 = Clock.now()
    warm(state.get)
    val warmS = Clock.s(t0)
    ctx.log(f"warm-up: $warmS%.2f s")
    ctx.sentinelBefore = Main.sentinel(ctx.spark, ctx.cores)
    (state.get, sessionS + Samples.median(times) + warmS, times :+ warmS)
  }
}
