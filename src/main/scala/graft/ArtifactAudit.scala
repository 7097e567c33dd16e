package graft
import org.apache.hadoop.fs.Path
import graft.operators.ArtifactCache

/** Dev tool: MEASURED cold-build vs warm-probe cost per artifact-store
  * family — the build-once/probe-many evidence in one table. For each
  * family (ivf, pairs, lex, io, graph) it deletes that family's store,
  * times a representative consumer query COLD (the run that builds and
  * commits the artifact), then times it twice more WARM (re-attach
  * only; min of 2) and prints (family, query, cold s, warm s, ratio,
  * builds, hits). At 100 TB the cold column is the scheduled batch
  * build and the warm column is what every search/probe/report pays —
  * the gap IS the artifact story, measured instead of narrated.
  *
  * Usage: ArtifactAudit [sfDir]; SPARK_GRAFT_CPUS (default 4). Deletes
  * ONLY the five audited family directories under [[ArtifactCache.root]].
  */
object ArtifactAudit {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Harness.session(Harness.cpus)
    // one representative consumer per store family; each family's other
    // consumers share the same artifacts, so one probe stands for all
    val reps = Seq(
      ("ivf", "graft_ivf", "sim_knn_ivf"),
      ("pairs", "graft_pairs", "dedup_near_jaccard"),
      ("lex", "graft_lex", "text_bm25_search"),
      ("io", "graft_io", "io_compact"),
      ("graph", "graft_graph", "graph_hyper_anf"))
    def time(q: String): Double = {
      val run = Harness.run(spark)(SparkEntry.queries(q)(spark, d).count())
      run.result.get // a failed build or probe is not a timing
      run.seconds
    }
    println(f"${"family"}%-7s ${"query"}%-22s ${"cold_s"}%8s ${"warm_s"}%8s" +
      f" ${"ratio"}%7s builds hits")
    reps.foreach { case (fam, store, q) =>
      val storeDir = new Path(s"${ArtifactCache.root}/$store")
      val fs = storeDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(storeDir)) fs.delete(storeDir, true)
      val b0 = ArtifactCache.builds.get()
      val cold = time(q)
      val builds = ArtifactCache.builds.get() - b0
      val h1 = ArtifactCache.hits.get()
      val warm = math.min(time(q), time(q))
      val hits = (ArtifactCache.hits.get() - h1) / 2 // per warm run
      println(f"$fam%-7s $q%-22s $cold%8.3f $warm%8.3f ${cold / warm}%7.1f" +
        f" $builds%6d $hits%4d")
    }
    spark.stop()
  }
}
