package storebench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic, without Spark. */
class LogicSpec extends AnyFunSuite {

  test("median averages the middle pair of an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p95 has only 5 samples above its rank; p90 has exactly 10
    assert(Stats.tail(xs) == Some((90.0, 90.0)))
    // 40 samples: p75 leaves 10 above it
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some((75.0, 30.0)))
    // 20 samples: only the median qualifies
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }

  test("stage call sites map to program modules") {
    assert(Sites.module("collect at KbStore.scala:1073") == "KbStore")
    assert(Sites.module("collect at VectorIndex.scala:131") == "VectorIndex")
    assert(Sites.module("save at SimilaritySearch.scala:88") == "SimilaritySearch")
    assert(Sites.module("parquet at TextRetrieval.scala:12") == "TextRetrieval")
    assert(Sites.module("start at StreamingIngest.scala:647") == "StreamingIngest")
    assert(Sites.module("collect at Workloads.scala:10") == "other")
    assert(Sites.module("run at ThreadPoolExecutor.java:1136") == "other")
    assert(Sites.module(null) == "other")
  }

  test("span self times split an op exactly, however children overlap") {
    val op = Span("retrieve", 100, 200)
    val children = Seq(
      Span("embed", 100, 110),
      Span("job", 105, 150), // overlaps embed: embed wins 105..110
      Span("plan", 140, 160), // overlaps job: job wins 140..150
      Span("job", 190, 260)) // clipped at the op's end
    val self = Spans.selfTimes(op, children, Seq("embed", "job", "plan"))
    assert(self == Map("embed" -> 10L, "job" -> 50L, "plan" -> 10L, "other" -> 30L))
    assert(self.values.sum == op.nanos)
  }

  test("an op without children is all other") {
    val self = Spans.selfTimes(Span("fetch_doc", 0, 42), Nil, Seq("embed", "job", "plan"))
    assert(self("other") == 42L && self.values.sum == 42L)
  }

  test("texts carry their unique doc token and the hash is 64-bit") {
    val g = Gen(7)
    assert(g.text(123).startsWith("doc 123 "))
    assert(g.text(123) == Gen(7).text(123))
    assert(g.text(123) != Gen(8).text(123))
    assert(g.text(123).length >= Gen.TextChars)
    assert(!g.text(5).split(' ').drop(2).exists(_.exists(_.isDigit)))
    val hashes = (1 to 50000).map(i => Gen.hash64(g.text(i)))
    assert(hashes.distinct.size == hashes.size)
    assert(hashes.exists(h => (h >>> 32) != 0 && (h >>> 32) != 0xFFFFFFFFL))
  }

  test("the hash provider gives unit vectors, the same for the same text") {
    val p = HashProvider(16)
    val Seq(a, b, c) = p.embed(Seq("x", "x", "y"))
    assert(a.sameElements(b) && !a.sameElements(c))
    assert(math.abs(math.sqrt(a.map(v => v.toDouble * v).sum) - 1.0) < 1e-6)
  }

  test("the command line is strict") {
    val ok = Main.parse(Array("--workload", "serve", "--seed", "3", "--seconds", "10",
      "--trace", "1", "--run-dir", "d"))
    assert(ok.workload == "serve" && ok.seed == 3L && ok.trace)
    intercept[IllegalArgumentException](Main.parse(Array("--workload", "nope", "--seed", "1",
      "--seconds", "1", "--trace", "0", "--run-dir", "d")))
    intercept[IllegalArgumentException](Main.parse(Array("--workload", "serve", "--seed", "1",
      "--seconds", "1", "--trace", "2", "--run-dir", "d")))
  }
}
