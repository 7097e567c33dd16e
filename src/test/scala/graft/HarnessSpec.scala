package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared harness pieces every main relies on; none needs a session. */
class HarnessSpec extends AnyFunSuite {

  test("json: escapes round-trip through a real JSON parser") {
    val mapper = new ObjectMapper()
    Seq("plain", "say \"hi\"", "back\\slash", "line\nfeed", "cr\rhere",
      "tab\there", "ctl\u0001byte", "naïve café — 日本語 ✓", "",
      "SELECT a,\n\tb FROM t WHERE s = '\\d+'")
      .foreach { s =>
        assert(mapper.readValue(Harness.json(s), classOf[String]) == s)
      }
  }

  test("select: an unknown query name throws and names the query") {
    val e = intercept[IllegalArgumentException] {
      Harness.select(Seq("no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
  }

  test("select: no names means the whole registry, sorted by name") {
    val names = Harness.select(Nil).map(_._1)
    assert(names == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("select: given names come back exactly, in the order given") {
    val want = Seq("join_3way_topk", "agg_wordcount")
    assert(Harness.select(want).map(_._1) == want)
  }

  test("every Bench headline anchor is a registered query") {
    assert(Bench.headline.size == 8)
    Bench.headline.foreach(q =>
      assert(SparkEntry.queries.contains(q), s"anchor not registered: $q"))
  }
}
