package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DuplicateQueryException, QuerySpec}

/** The query registry: one declaration per name, and oracles that are
  * functions of the sf dir alone. */
class QueryRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  /** the sf0.001 fixture dir, the one [[SparkEntry.entry]] reads */
  private lazy val Sf = new java.io.File(
    new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent

  test("the registry refuses a query name declared by two families") {
    def spec(name: String) =
      QuerySpec(name, (s, _) => s.range(1).select(lit(name)), s"SELECT '$name'")
    val a = Seq(spec("q_a"), spec("q_shared"))
    val b = Seq(spec("q_shared"), spec("q_b"))
    val e = intercept[DuplicateQueryException](
      QuerySpec.registry("first" -> a, "second" -> b))
    assert(e.name == "q_shared")
    assert(e.getMessage.contains("'q_shared'") &&
      e.getMessage.contains("first") && e.getMessage.contains("second"))
    assert(QuerySpec.registry("first" -> a, "second" -> Seq(spec("q_b")))
      .keySet == Set("q_a", "q_shared", "q_b"))
  }

  test("data-derived oracles need no earlier run of their query") {
    for (n <- Seq("q_token_budget", "q_zorder", "q_fuzzy_join_scaled",
        "q_temperature_mix")) {
      val before = SparkEntry.oracleSql(spark, Sf, Set(n))
      assert(before.keySet == Set(n), s"$n: no oracle before the query ran")
      assert(SparkEntry.queries(n)(spark, Sf).count() > 0, n)
      assert(SparkEntry.oracleSql(spark, Sf, Set(n)) == before,
        s"$n: oracle text changed after the query ran")
    }
  }
}
