package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: the mains' [[Harness.session]] on 4
  * cores, pinned rather than read from SPARK_GRAFT_CPUS so the suites'
  * shuffle fan-out does not follow the test machine's core count.
  */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)
  val sf: String = "/root/testdata/sf0.001"
}

class SparkSpec extends AnyFunSuite {
  import TestSpark._

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs non-empty on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      withClue(s"$name should produce rows at sf0.001: ") {
        assert(n > 0)
      }
    }
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("registry-declared instruments resolve to registered queries") {
    // membership is declared per-family at registration (r17 verdict
    // #6): Bench derives instruments_s from here, so a tag naming a
    // nonexistent query must fail loudly, and the known sweeps must be
    // present — a family dropping its override would silently shrink
    // the subtotal otherwise
    val inst = SparkEntry.instruments
    assert(inst.subsetOf(SparkEntry.queries.keySet))
    Seq("sim_ivf_nlist_report", "sim_ivf_nprobe_report",
      "sim_matryoshka_report", "sim_matryoshka_ivf",
      "graph_betw_landmark_report", "graph_harmonic_landmark_report",
      "dedup_threshold_report", "dedup_recall_report",
      "dedup_index_decision", "text_bpe_k_report", "text_bpe_open_report",
      "sim_rank_eval")
      .foreach(q => assert(inst.contains(q), s"missing instrument tag: $q"))
  }
}
