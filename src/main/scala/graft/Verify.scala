package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver calls with exactly (sfDir, outDir); any further args are a
    // local-iteration filter of query names to dump (subset re-verify)
    val Array(sfDir, outDir, only @ _*) = args
    val names = Harness.select(only)
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // Harness.run drains each query's pins once its parquet is on disk
    for (name <- names)
      Harness.run(spark, name, sfDir, Harness.Sink.Parquet(s"$outDir/$name"))
        .left.foreach(m => System.err.println(s"[verify] $name failed: $m"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
