package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; Spark reuses
  * the active session across getOrCreate calls).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Graft.localSession(cores = 4, shufflePartitions = 4)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `f` with a fresh reliable checkpoint dir on the JVM-wide
    * context, unsetting it afterwards: a dir left behind would turn every
    * later suite's pins into reliable checkpoints.
    */
  def withCheckpointDir[A](f: String => A): A = {
    val dir = tmpDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    try f(dir) finally spark.sparkContext.setCheckpointDir(null)
  }
}
