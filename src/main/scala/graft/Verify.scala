package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet under
  * `<outDir>/<query>`, plus oracle_sql.json, for the DuckDB compare. With
  * two arguments it dumps every query; naming queries after them dumps
  * only those (an unknown name is an error), so scripts/strictcheck.py
  * can check one operator in seconds.
  * Usage: runMain graft.Verify <sfDir> <outDir> [query ...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val picked = Harness.select(args.drop(2).toSeq)
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      Harness.run(spark)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
        .result.failed.foreach(e =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
