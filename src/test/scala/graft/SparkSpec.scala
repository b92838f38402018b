package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; Spark
  * sessions are expensive to boot). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.engine.GraftSession.builder(Some("local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Cancels (rather than fails) the calling test when a read-only
    * fixture it reads is absent, naming the path; where the fixture
    * exists the test runs unchanged. */
  protected def assumeFixture(path: String): Unit =
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(path)), s"fixture $path is absent")
}
