package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially in the forked test JVM). Built by the mains' own
  * [[Harness.session]], at the default core count rather than
  * `SPARK_GRAFT_CPUS`, so plan-shape specs see the same partitioning on
  * every box. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(Harness.DefaultCpus)
}
