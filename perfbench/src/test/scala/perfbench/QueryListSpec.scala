package perfbench

import org.scalatest.funsuite.AnyFunSuite

class QueryListSpec extends AnyFunSuite {

  test("fixture queries are marked, comments and blank lines ignored") {
    val l = QueryList.parse(Seq("# c", "a", "", "build b  # fixture", "c"))
    assert(l.names == Seq("a", "b", "c"))
    assert(l.fixtures == Seq("b"))
  }

  test("a name the engine does not define is reported") {
    val l = QueryList.parse(Seq("a", "gone"))
    assert(QueryList.missing(l, Set("a")) == Seq("gone"))
  }

  test("every name in query_mix.txt is defined by SparkEntry.queries") {
    val l = QueryList.parse(scala.io.Source.fromFile("query_mix.txt").getLines().toSeq)
    assert(l.names.nonEmpty)
    assert(QueryList.missing(l, graft.SparkEntry.queries.contains).isEmpty)
    assert(l.names.forall(n => !n.startsWith("avro_")))
  }

  test("families group the TPC-H rows together") {
    assert(QueryMix.family("q1_pricing_summary") == "tpch")
    assert(QueryMix.family("q_funnel") == "q")
    assert(QueryMix.family("text_tfidf_top3") == "text")
  }
}
