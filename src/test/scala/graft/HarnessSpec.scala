package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The pure parts of [[Harness]]: the bench's stdout lines, the
  * query-selection rule and the `oracle_sql.json` writer.
  */
class HarnessSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  private def fields(n: JsonNode): Seq[(String, Double)] =
    n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asDouble)

  private def strings(text: String): Map[String, String] =
    json.readTree(text).properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  test("bench tail line: under 1900 chars, slowest first, value = packed + rest_total") {
    val rnd = new scala.util.Random(7)
    // 252 timings with names of mixed length, a heavy tail and ties
    val results = (0 until 252).map { i =>
      val name = f"e_${"x" * (i % 17)}q$i%03d"
      val secs = if (i % 50 == 0) 0.5 else math.exp(rnd.nextGaussian() * 1.5)
      name -> secs
    }
    val cal = """{"pre":0.600,"post":0.610}"""
    val (totalLine, tailLine) = Harness.benchLines(results, cal, "/data/sf0.1")
    val total = results.map(_._2).sum
    val slowFirst = results.sortBy(-_._2)

    val full = json.readTree(totalLine)
    assert(full.get("metric").asText == "total")
    assert(full.get("value").asDouble == total)
    assert(fields(full.get("queries")) == slowFirst)

    assert(tailLine.length <= 1900, s"tail line is ${tailLine.length} chars")
    val tail = json.readTree(tailLine)
    assert(fields(tail).map(_._1) == Seq("metric", "value", "unit",
      "calibration", "queries", "rest_total", "sf", "n_queries"))
    assert(tail.get("metric").asText == "total_tail")
    assert(tail.get("n_queries").asInt == 252)
    assert(tail.get("value").asDouble == total)
    val packed = fields(tail.get("queries"))
    assert(packed.nonEmpty && packed.size < results.size)
    // a prefix of the slowest-first order, each value at 3 decimals
    assert(packed.map(_._1) == slowFirst.take(packed.size).map(_._1))
    packed.zip(slowFirst).foreach { case ((_, got), (_, want)) =>
      assert(math.abs(got - want) <= 0.0005 + 1e-12)
    }
    val rest = tail.get("rest_total").asDouble
    val slack = 0.0005 * (packed.size + 1) + 1e-9
    assert(math.abs(tail.get("value").asDouble - (packed.map(_._2).sum + rest)) <= slack)
  }

  test("query selection rejects unknown names, and r_catalog in timed modes") {
    val all = SparkEntry.queries.keySet
    val typo = intercept[IllegalArgumentException](
      Harness.select(Seq("r_innr_join"), timed = true))
    assert(typo.getMessage.contains("r_innr_join"))
    intercept[IllegalArgumentException](
      Harness.select(Seq("r_inner_join,r_innr_join"), timed = false))
    intercept[IllegalArgumentException](
      Harness.select(Seq("r_catalog"), timed = true))
    assert(Harness.select(Seq("r_catalog"), timed = false) == Seq("r_catalog"))
    // names and comma lists mix; the result is sorted
    assert(Harness.select(Seq("r_inner_join,e_topk", "e_tpch_q1"), timed = true) ==
      Seq("e_topk", "e_tpch_q1", "r_inner_join"))
    assert(Harness.select(Nil, timed = true) == (all - "r_catalog").toSeq.sorted)
    assert(Harness.select(Nil, timed = false) == all.toSeq.sorted)
  }

  test("oracle_sql.json round-trips SQL holding a tab, a CR and \\u0001") {
    val sql = Map(
      "q_tab" -> "SELECT 'a\tb' AS s",
      "q_cr\r" -> "SELECT 1\r\nFROM t -- \"quoted\" \\ slash",
      "q_ctl" -> "SELECT '\u0001' || chr(1) AS c")
    val text = Harness.oracleJson(sql)
    assert(!text.exists(c => c < ' '), "a raw control char reached the file")
    assert(strings(text) == sql)
    // and the registry's own file parses back to the same map
    assert(strings(Harness.oracleJson(SparkEntry.oracleSql)) == SparkEntry.oracleSql)
  }
}
