package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on the
  * shipped session ([[Sessions.local]]); each query is one
  * [[Harness.timed]] call, so one pathological plan cannot starve the rest
  * of the dump. `SPARK_GRAFT_ONLY=q_a,q_simhash` dumps the matching name
  * prefixes only.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("verify")
    val census = Harness.Census.attach(spark)
    new java.io.File(outDir).mkdirs()
    Harness.selectedQueries.foreach { case (name, fn) =>
      val r = Harness.timed(spark, name, Harness.queryTimeoutSec, census) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      System.err.println(f"[verify] $name%-28s ${r.sec}%8.2fs jobs=${r.counts.jobs}%d")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
