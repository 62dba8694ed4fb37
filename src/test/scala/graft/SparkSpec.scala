package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * scalatest suites run sequentially in the forked test JVM), built
  * through GraftSession.configure so every spec plans with the engine
  * extensions installed. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
