package graft

import org.apache.spark.sql.functions._

/** Dev tool: BPE learn-wall vs merge count — the measured backing for
  * the vocab-join design claim (per-round cost is vocab-bounded,
  * independent of corpus size). For each k it runs a fresh
  * [[graft.operators.TextOps.bpeLearnSnapshots]] learn on the sfDir
  * corpus and prints wall, applied merge count (exhaustion shows as
  * applied < k), per-round wall, and the token count after k merges.
  * Usage: runMain graft.BpeAudit [sfDir|open[:N]] [k ...]
  * (default 8 64 256); a first arg of `open` (optionally `open:50000`)
  * swaps the corpus for the deterministic open-vocabulary generator
  * (TextOps.openVocabWords, default 50k word ids) whose merges do NOT
  * exhaust — the k >= 256 rows in BASELINE.md come from this mode
  * with applied = k for real (r17 verdict #2). Every learn runs the
  * shipped per-round merge batch cap, TextOps.BpeBatchCap.
  */
object BpeAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = if (args.length > 1) args.tail.map(_.toInt).toSeq
      else Seq(8, 64, 256)
    val spark = Harness.session(Harness.cpus)
    val words =
      // exact-match the sentinel (r18 advice): a real corpus directory
      // whose PATH merely begins with "open" (./openwebtext) must read
      // the corpus, not silently swap in the synthetic generator
      if (sfDir == "open" || sfDir.startsWith("open:")) {
        val n = sfDir.split(":").lift(1).map(_.toInt).getOrElse(50000)
        operators.TextOps.openVocabWords(spark, n)
      } else Tables.documents(spark, sfDir)
        .select(split(col("text"), " ").as("w"))
        .select(explode(col("w")).as("word"))
    ks.foreach { k =>
      val r0 = operators.TextOps.bpeRoundTrips.get()
      val run = Harness.run(spark) {
        val (merges, snaps) = operators.TextOps.bpeLearnSnapshots(spark, words, Seq(k))
        (merges.count(), snaps.head._2
          .agg(sum(col("cnt") * size(col("s")))).head().getLong(0))
      }
      val (applied, toks) = run.result.get
      val rounds = operators.TextOps.bpeRoundTrips.get() - r0
      val wall = run.seconds
      println(f"[bpe-audit] $sfDir k=$k%4d applied=$applied%4d " +
        f"rounds=$rounds%4d wall=$wall%7.2f s " +
        f"per_merge=${wall / math.max(1L, applied)}%6.3f s " +
        f"tokens_after=$toks%10d")
    }
    spark.stop()
  }
}
