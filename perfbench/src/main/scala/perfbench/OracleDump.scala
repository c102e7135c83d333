package perfbench

/** The oracle check's engine side: `OracleDump <dir> <seed>` writes the
  * one-replica corpus to `<dir>/data`, each benchmark pipeline query's
  * result to `<dir>/result/<query>` as parquet, and the engine's oracle SQL
  * for those queries to `<dir>/oracle_sql.json`, for a DuckDB comparison.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = new java.io.File(args(0)).getAbsoluteFile
    val seed = args(1).toLong
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, new java.io.File(out, "work"))
    val data = s"$out/data"
    CorpusGen.write(spark, data, seed, 1)
    val sql = PipelineBatch.Queries.map { case (q, _) =>
      graft.SparkEntry.queries(q)(spark, data).write.parquet(s"$out/result/$q")
      s"${Json.str(q)}: ${Json.str(graft.SparkEntry.oracleSql(q))}"
    }
    val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.println(sql.mkString("{", ", ", "}")) finally w.close()
    spark.stop()
  }
}
