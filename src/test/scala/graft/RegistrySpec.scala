package graft

import graft.queries.{Query, Scale}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The query registry: one `Query` per name, each with its oracle, and
  * the Bench sections derived from the queries' scales. */
class RegistrySpec extends AnyFunSuite {

  private def q(name: String) =
    Query(name, (s, _) => s.emptyDataFrame, "SELECT 1")

  test("a name defined in two families throws") {
    val e = intercept[IllegalArgumentException](
      Query.registry(Seq(q("a"), q("b")), Seq(q("c"), q("a"))))
    assert(e.getMessage.endsWith("more than once: a"))
    assert(Query.registry(Seq(q("a")), Seq(q("b"))).map(_.name) == Seq("a", "b"))
  }

  test("a query needs a plain name and a non-empty oracle") {
    intercept[IllegalArgumentException](q("Bad-Name"))
    intercept[IllegalArgumentException](
      Query("x", (s, _) => s.emptyDataFrame, "  "))
  }

  test("the registry holds 235 named queries, each with an oracle") {
    val reg = SparkEntry.registry
    assert(reg.size == 235)
    assert(reg.map(_.name).distinct.size == 235)
    reg.foreach { r =>
      assert(r.name.matches("[a-z0-9_]+"), r.name)
      assert(r.oracleSql.trim.nonEmpty, r.name)
    }
    assert(SparkEntry.queries.keySet == reg.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet == reg.map(_.name).toSet)
  }

  test("Bench's sections come from the scales: sf1 78, sf10 62, sf100 9") {
    assert(Bench.sf1Order.size == 78 && Bench.sf1Order.distinct.size == 78)
    assert(Bench.sf10Order.size == 62)
    assert(Bench.sf100Spots.size == 9)
    // the rungs nest, and each section runs registry queries only
    assert(Bench.sf10Order.forall(Bench.sf1Order.contains))
    assert(Bench.sf100Spots.forall(s => Bench.sf10Order.contains(s._1)))
    assert(Bench.sf1Order.take(62) == Bench.sf10Order)
    assert(Bench.sf10Order.head == "text_quality")
    assert(Bench.sf100Spots.map(_._2) == Bench.sf100Spots.map(_._2).sorted)
    val byName = SparkEntry.registry.map(r => r.name -> r.scale).toMap
    assert(Bench.sf1Order.forall(n => byName(n).sf1))
    assert(byName.count(_._2 != Scale.Main) == 78)
  }

  test("oracle_sql.json reads back as the registry's 235 oracles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_oracles_")
    try {
      val path = Verify.writeOracleSql(dir.toString)
      val back = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(path.toFile, classOf[java.util.Map[String, String]])
        .asScala.toMap
      assert(back.size == 235)
      assert(back == SparkEntry.oracleSql)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      dir.toFile.delete()
    }
  }
}
