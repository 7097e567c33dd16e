package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `.explain("formatted")` for the named queries (all if
  * none) to `<outDir>/<query>_<suffix>.txt` — the plan evidence the
  * optimization rounds commit under plans/rNN/ — and print each one's
  * one-line physical-plan summary: exchange count, join strategies, scan
  * pushdown, to catch accidental cartesian products, missed broadcasts
  * or unpushed filters. SPARK_GRAFT_SF_DIR picks the data.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val picked = Harness.select(args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      val file = s"$outDir/${name}_$suffix.txt"
      val summary = Harness.run(spark) {
        val qe = fn(spark, sfDir).queryExecution
        Files.writeString(Paths.get(file), qe.explainString(FormattedMode))
        val plan = qe.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).length
        Seq(
          "xchg" -> n("Exchange"),
          "bhj" -> n("BroadcastHashJoin"),
          "smj" -> n("SortMergeJoin"),
          "bnlj" -> n("BroadcastNestedLoopJoin"),
          "cart" -> n("CartesianProduct"),
          "pushed" -> n("PushedFilters: \\[[^]]"),
          "agg" -> n("HashAggregate"))
          .filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" ")
      }.result.fold(e => s"ERROR ${String.valueOf(e.getMessage).take(80)}", identity)
      println(s"[plandump] $file: $summary")
    }
    spark.stop()
  }
}
