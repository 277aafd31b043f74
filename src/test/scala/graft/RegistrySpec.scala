package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.suite.{Query, Suite}

/** Registry invariants, checked without a Spark session: the query set, its
  * duals, the family partition, and perfbench's suite families.
  */
class RegistrySpec extends AnyFunSuite with Matchers {

  test("408 registered queries, each with exactly one DuckDB dual") {
    SparkEntry.queries.size shouldBe 408
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
    SparkEntry.oracleSql.values.foreach(_ should not be empty)
  }

  test("no query name appears in two families") {
    val byName = Suite.families.flatMap { case (f, qs) => qs.map(_.name -> f) }
    byName.groupBy(_._1).collect { case (n, fs) if fs.size > 1 => n } shouldBe empty
    byName.map(_._1).toSet shouldBe SparkEntry.queries.keySet
  }

  test("a duplicate name fails the registry build instead of shadowing") {
    def q(name: String) = Query(name, (_, _) => null, "SELECT 1")
    val err = the[IllegalArgumentException] thrownBy
      Suite.flatten(Seq("a" -> Seq(q("q_x"), q("q_y")), "b" -> Seq(q("q_x"))))
    err.getMessage should include("q_x")
    Suite.flatten(Seq("a" -> Seq(q("q_x")), "b" -> Seq(q("q_y")))).map(_.name) shouldBe
      Seq("q_x", "q_y")
  }

  test("each perfbench suite query sits in the family perfbench lists for it") {
    val suite = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/suite.json")).get("queries")
    val listed = (0 until suite.size).map(i =>
      suite.get(i).get("name").asText -> suite.get(i).get("family").asText)
    listed should have size 22
    val familyOf = Suite.families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
    listed.foreach { case (name, family) => familyOf.get(name) shouldBe Some(family) }
  }
}
