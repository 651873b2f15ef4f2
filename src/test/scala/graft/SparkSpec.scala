package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all suites — one SparkContext per test JVM
  * (sbt forks a single JVM for the whole test run; per-suite sessions
  * would pay ~5s startup each).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temporary directory, deleted with its contents when the
    * suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Collect a DataFrame to a deterministic seq of rows for assertion. */
  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Evaluate single-column expressions over one-row input. */
  def eval1(df: DataFrame): Any = df.collect()(0).get(0)
}
