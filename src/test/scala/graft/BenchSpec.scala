package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's output line and repeat rule, both pure: no Spark session. */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("the line parses as JSON with every field, total_s last and equal to value") {
    val l = Bench.line(Seq("q_a" -> Right(1.25), "q_b" -> Right(0.5)), 3, "/data/sf0.01")
    val j = mapper.readTree(l)
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "policy",
      "bench_skipped", "queries", "errors", "sf", "total_s"))
    assert(j.get("total_s").asDouble == 1.75)
    assert(j.get("value").asDouble == j.get("total_s").asDouble)
    assert(j.get("policy").asText == Bench.Policy)
    assert(j.get("bench_skipped").asInt == 3)
    assert(j.get("sf").asText == "/data/sf0.01")
    assert(j.get("queries").fields.asScala.map(e => e.getKey -> e.getValue.asDouble).toSeq ==
      Seq("q_a" -> 1.25, "q_b" -> 0.5))
    assert(j.get("errors").size == 0)
    // RegistrySpec reads the queries map with this regex: it must stay flat
    val body = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(l).get.group(1)
    assert(body.split(",").length == 2)
  }

  test("a failed query appears in errors and adds 0 to the total") {
    val l = Bench.line(Seq("ok" -> Right(2.0), "bad" -> Left("boom")), 0, "sf")
    val j = mapper.readTree(l)
    assert(j.get("queries").get("bad").asDouble == 0.0)
    assert(j.get("errors").fields.asScala.map(e => e.getKey -> e.getValue.asText).toSeq ==
      Seq("bad" -> "boom"))
    assert(j.get("total_s").asDouble == 2.0)
    assert(j.get("value").asDouble == 2.0)
  }

  test("an error message holding a quote, a tab and a \\u0001 still parses") {
    val msg = "bad \"col\"\tat\u0001 line\nC:\\path"
    val j = mapper.readTree(Bench.line(Seq("q" -> Left(msg)), 0, "sf"))
    assert(j.get("errors").get("q").asText == msg)
    assert(j.get("total_s").asDouble == 0.0)
  }

  /** A fake query whose successive runs take `ts` seconds (None = fails). */
  private def runs(ts: Option[Double]*): (() => Option[Double], () => Int) = {
    val it = ts.iterator
    var n = 0
    (() => { n += 1; it.next() }, () => n)
  }

  test("repeat rule: a first run over the cutoff is recorded alone") {
    val (run, n) = runs(Some(Bench.SoloCutoff + 0.1), Some(1.0))
    assert(Bench.measure(run) == Some(Bench.SoloCutoff + 0.1))
    assert(n() == 1)
  }

  test("repeat rule: an agreeing pair records its min, a disagreeing pair the median of three") {
    val (pair, n2) = runs(Some(1.05), Some(1.0), Some(9.0))
    assert(Bench.measure(pair) == Some(1.0))
    assert(n2() == 2)
    val (three, n3) = runs(Some(1.0), Some(2.0), Some(1.5))
    assert(Bench.measure(three) == Some(1.5))
    assert(n3() == 3)
  }

  test("repeat rule: any failed run fails the measurement") {
    assert(Bench.measure(runs(None)._1).isEmpty)
    assert(Bench.measure(runs(Some(1.0), None)._1).isEmpty)
    assert(Bench.measure(runs(Some(1.0), Some(2.0), None)._1).isEmpty)
  }
}
