package storebench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Embeddings.EmbeddingProvider

/** A provider that ignores its input: every answer of the store becomes
  * wrong, as a broken program's would. */
final case class RandomProvider(dim: Int) extends EmbeddingProvider {
  def name: String = "random"
  def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val rnd = new java.util.Random()
    texts.map { _ =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / norm)
    }
  }
}

/** Whole runs on a tiny store: seconds, not minutes. */
class RunSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = java.nio.file.Files.createTempDirectory("storebench-spec").toFile
  private lazy val spark: SparkSession = Session.start(root, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(root)
  }

  private def cfg(workload: String, trace: Boolean, name: String) = {
    val dir = new java.io.File(root, name)
    dir.mkdirs()
    Config(workload, seed = 5, seconds = 0.5, trace = trace, runDir = dir, cores = 2,
      docs = Some(400), setups = 1)
  }

  private def parse(r: Result) = new ObjectMapper().readTree(r.json)

  test("serve reports every end-to-end metric and checks its answers") {
    val out = parse(Runner.run(spark, cfg("serve", trace = false, "serve")))
    assert(out.get("correct").asBoolean && out.get("failed").asInt == 0)
    assert(out.get("attempted").asInt >= 8)
    val names = Seq("setup_s", "cold_retrieve_s", "retrieve_p50_s", "cycle_p50_s",
      "space_amp")
    names.foreach { n =>
      assert(out.get("metrics").get(n).get("value").asDouble > 0, n)
    }
    assert(out.get("metrics").size == names.size)
  }

  test("a traced ingest run reports the per-layer metrics") {
    val r = Runner.run(spark, cfg("ingest", trace = true, "ingest"))
    val m = r.metrics.map(x => x.name -> x.value).toMap
    assert(m("spark.jobs.ingest_batch") > 0)
    assert(m("embeddings.texts") >= Ingest.Batch)
    assert(m("streaming.trigger_s") > 0)
    assert(m("kbstore.index_builds_per_write") == 1.0)
    assert(m("vector_index.local") == 1.0)
    // the op's time is fully accounted for by its parts
    val parts = Seq("embed", "job", "plan", "other").map(k => m(s"span.ingest_batch.${k}_s")).sum
    assert(parts > 0)
    assert(r.metrics.map(_.name).distinct.size == r.metrics.size)
    assert(r.metrics.size <= 128)
  }

  test("a planted wrong answer fails the run") {
    intercept[WrongAnswer] {
      Runner.run(spark, cfg("serve", trace = false, "wrong"), RandomProvider(Gen.Dim))
    }
  }
}
