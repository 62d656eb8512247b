package graft

import graft.operators.{Artifacts, GlobalOrder}
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially in the forked test JVM). Built by the mains' own
  * [[Harness.session]], at the default core count rather than
  * `SPARK_GRAFT_CPUS`, so plan-shape specs see the same partitioning on
  * every box. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = SparkSpec.sf

  /** A fresh temp dir named by `prefix`, deleted with its contents when
    * the test JVM exits. */
  def tempDir(prefix: String): String = Artifacts.tempDir(prefix)
}

/** For suites that build pinning queries outside [[Harness.run]]'s
  * scope: every pin a test took on the default handle is released,
  * blocking, in a `finally` when the test ends, pass or fail. */
trait ReleasesPins extends SparkSpec {
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally GlobalOrder.release(blocking = true)
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(Harness.DefaultCpus)
  val sf = s"${Harness.FixtureRoot}/sf0.001"

  /** `body` with each session conf key set to its value, every key
    * restored (or unset, if it was unset) after. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> session.conf.getOption(k) }
    pairs.foreach { case (k, v) => session.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(session.conf.unset(k))(session.conf.set(k, _)) }
  }
}
