package graft

import graft.operators.Artifacts
import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
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

  /** A fresh temp dir named by `prefix`, deleted with its contents when
    * the test JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    SparkSpec.tempDirs.add(dir)
    dir.toString
  }
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(Harness.DefaultCpus)

  private val tempDirs = new ConcurrentLinkedQueue[File]()
  sys.addShutdownHook(tempDirs.forEach(d => Artifacts.deleteRecursively(d)))
}
