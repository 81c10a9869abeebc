package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bench's one-line contract and its median rule, checked without
  * Spark: the line must parse under a strict JSON parser (a bare ".36"
  * once made every consumer drop the whole line) and carry every
  * recorded point, part-1 queries included, beside the failures. */
class BenchContractSpec extends AnyFunSuite {

  private val strict = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private val points = Seq("svs_io_probe_write" -> 12.0,
    "a1_counts" -> 0.36, "b1_bm25_topk" -> 0.0, "svs_warm_10k" -> 0.00042)
  private val failures = Seq("d6_semantic_dedup" -> "java.lang.IllegalStateException")
  private val line = Bench.contractLine(
    Seq("metric" -> "\"total\"", "ladder_monotone" -> "null"),
    points, failures)

  test("the parser rejects a bare leading decimal point") {
    intercept[com.fasterxml.jackson.core.JsonProcessingException](
      strict.readTree("""{"a":.36}"""))
  }

  test("the contract line strict-parses, numbers and all") {
    assert(!line.contains("\n"))
    val json = strict.readTree(line)
    val qs = json.get("queries")
    assert(qs.get("a1_counts").decimalValue == BigDecimal("0.36").bigDecimal)
    assert(qs.get("svs_io_probe_write").asDouble == 12.0)
    assert(qs.get("b1_bm25_topk").asDouble == 0.0)
    assert(qs.get("svs_warm_10k").asDouble == 0.0004)
    assert(json.get("metric").asText == "total")
    assert(json.get("ladder_monotone").isNull)
  }

  test("the contract line holds every recorded point and the failures") {
    val json = strict.readTree(line)
    assert(json.get("queries").fieldNames.asScala.toSeq == points.map(_._1))
    val failed = json.get("failed").elements.asScala.toSeq
    assert(failed.map(f => f.get("name").asText -> f.get("error").asText) ==
      failures)
    assert(!json.get("queries").has("d6_semantic_dedup"))
  }

  test("medianRep: odd counts publish the middle rep's time and cpu_run") {
    assert(Bench.medianRep(Seq(3.0 -> Some(0.9), 1.0 -> None,
      2.0 -> Some(0.5))) == (2.0, Some(0.5)))
    assert(Bench.medianRep(Seq(4.0 -> None)) == (4.0, None))
  }

  test("medianRep: even counts average the two middle reps") {
    assert(Bench.medianRep(Seq(4.0 -> Some(0.2), 1.0 -> Some(0.9),
      2.0 -> Some(0.5), 3.0 -> Some(0.75))) == (2.5, Some(0.625)))
    // cpu_run is averaged only when both middle reps carry one
    assert(Bench.medianRep(Seq(1.0 -> Some(0.9), 2.0 -> None,
      3.0 -> Some(0.8), 4.0 -> Some(0.2))) == (2.5, None))
  }
}
