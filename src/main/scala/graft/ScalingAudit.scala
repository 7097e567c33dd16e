package graft

/** Dev tool: MEASURED scaling evidence for the 100 TB story. Times every
  * registered query at two scale factors in ONE JVM (min of REPS, warm
  * codegen, artifact stores pre-built per SF by the run itself) and
  * prints each query's time ratio next to the data ratio.
  *
  * Reading the number: the big fixture tables (lineitem/orders/events/
  * documents) grow ~10× between sf0.01 and sf0.1 (embeddings 4×). A
  * LINEAR operator should show t-ratio ≲ data-ratio; at the small end
  * fixed per-job overhead dominates and ratios sit well BELOW the data
  * ratio, so the audit is one-sided: ratios well ABOVE it are the
  * anomalies — a super-linear join blow-up, an unblocked pair
  * generation, a driver-side loop whose rounds grow with data. Those
  * are exactly the shapes that do not survive a 100× scale-up, caught
  * by measurement instead of plan-reading.
  *
  * Usage: ScalingAudit [sfSmall] [sfBig] [query ...] (no names = all);
  * SPARK_GRAFT_REPS (default 3), SPARK_GRAFT_CPUS (default 4). The
  * anomaly threshold is the DATA ratio derived from the sf tags in the
  * two paths (fallback 10x).
  * Prints one line per query sorted by descending ratio, then a
  * summary; a query that FAILS at either SF prints an ERR marker and
  * is counted in the summary (exit 2) — a failure is never evidence
  * of clean scaling.
  */
object ScalingAudit {
  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val big = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val picked = Harness.select(args.drop(2).toSeq)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = Harness.session(Harness.cpus)
    // a failed run must NOT be timed as a near-zero success — that would
    // print a tiny ratio and a clean summary for exactly the queries
    // that break at the big SF. None per failed SF, counted and marked.
    def time(fn: Harness.Query, d: String): Option[Double] = {
      val runs = (1 to reps).map(_ => Harness.run(spark)(fn(spark, d).count()))
      runs.flatMap(_.result.failed.toOption).foreach(e =>
        Console.err.println(s"ERR at $d: ${e.getClass.getSimpleName}" +
          s": ${String.valueOf(e.getMessage).take(200)}"))
      if (runs.exists(_.result.isFailure)) None else Some(runs.map(_.seconds).min)
    }
    // the anomaly threshold is the DATA ratio, derived from the sf tags
    // in the two paths (big tables grow ~linearly in sf); 10x only as
    // the fallback when a path carries no sf tag.
    def sfOf(p: String): Option[Double] =
      "sf([0-9]+\\.?[0-9]*)".r.findAllMatchIn(p).toSeq.lastOption
        .map(_.group(1).toDouble)
    val dataRatio = (for { a <- sfOf(small); b <- sfOf(big) if a > 0 && b > 0 }
      yield b / a).getOrElse(10.0)
    val rows = picked.map { case (name, fn) =>
      val tS = time(fn, small)
      val tB = time(fn, big)
      val ratio = for { a <- tS; b <- tB } yield b / a
      (name, tS, tB, ratio)
    }
    val sorted = rows.sortBy(-_._4.getOrElse(Double.MaxValue))
    def fmt(o: Option[Double], w: Int): String =
      o.map(v => s"%${w}.3f".format(v)).getOrElse(("ERR".reverse
        .padTo(w, ' ').reverse))
    println(f"${"query"}%-34s ${"t_small"}%8s ${"t_big"}%8s  ratio")
    sorted.foreach { case (n, a, b, r) =>
      println(f"$n%-34s ${fmt(a, 8)} ${fmt(b, 8)} ${fmt(r, 6)}")
    }
    val failed = rows.filter(r => r._2.isEmpty || r._3.isEmpty)
    val over = sorted.filter(_._4.exists(_ > dataRatio))
    println(f"\n${rows.size} queries; ${over.size} above the " +
      f"$dataRatio%.1fx big-table data ratio" +
      (if (over.isEmpty) "" else ": " + over.map(_._1).mkString(", ")) +
      f"; ${failed.size} FAILED" +
      (if (failed.isEmpty) "" else ": " + failed.map(_._1).mkString(", ")) +
      (if (over.isEmpty && failed.isEmpty)
        " - no super-linear scalers detected" else ""))
    spark.stop()
    if (failed.nonEmpty) sys.exit(2) // failures are never a clean audit
  }
}
