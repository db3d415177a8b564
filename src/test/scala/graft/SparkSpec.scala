package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, UTC, AQE). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Tables.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"), "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scratch dirs handed out by [[SparkSpec.tmpDir]], deleted with their
    * contents when the test JVM exits (`deleteOnExit` skips non-empty dirs).
    */
  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  sys.addShutdownHook(
    scratch.forEach(org.apache.spark.network.util.JavaUtils.deleteQuietly(_)))

  def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-test").toFile
    scratch.add(d)
    d.getAbsolutePath
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  def tmpDir(): String = SparkTestSession.tmpDir()
}
