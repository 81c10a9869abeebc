package storebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.core.Embeddings.EmbeddingProvider
import graft.core.KbStore

/** A run's settings. Sizes default to the published workloads; tests
  * shrink them. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    runDir: java.io.File,
    cores: Int,
    docs: Option[Long] = None,
    setups: Int = 3)

/** A wrong answer from the program: fails the run, never averaged. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongAnswer(what)
}

/** One timed call of a store operation. `traced` calls ran with the
  * listeners registered; `results` is how many rows it returned or
  * wrote. */
final case class Call(op: String, id: Int, span: Span, results: Int, traced: Boolean)

/** The closed-loop client: one thread, one operation at a time. Each
  * operation is timed from outside the program; in traced cycles the
  * Spark jobs it starts carry its `<op>#<call>` tag. An operation that
  * throws fails the whole run, so a printed result has no failures. */
final class Client(val spark: SparkSession) {
  val calls = ArrayBuffer[Call]()
  @volatile var tracing = false

  def op[A](name: String, results: A => Int)(body: => A): A = {
    val id = calls.size
    val sc = spark.sparkContext
    if (tracing) sc.setLocalProperty(Recorder.OpProperty, s"$name#$id")
    val t0 = Clock.now()
    try {
      val r = body
      calls += Call(name, id, Span(name, t0, Clock.now()), results(r), tracing)
      r
    } finally sc.setLocalProperty(Recorder.OpProperty, null)
  }

  def durations(name: String, traced: Option[Boolean] = None): Seq[Double] =
    calls.filter(c => c.op == name && traced.forall(_ == c.traced))
      .map(_.span.nanos / 1e9).toSeq
}

/** What every workload provides. A workload owns its store; the runner
  * owns timing, tracing and the metrics. */
abstract class Workload(val ctx: Workload.Ctx) {
  import ctx._
  import Workload.TopN
  protected var store: KbStore = _
  def kb: KbStore = store

  /** Build a fresh store under `dir`: everything `setup_s` times. */
  def setup(dir: String): Unit
  /** Between the last set-up and the loop, untimed. */
  def beforeLoop(): Unit = ()
  /** One closed-loop cycle. */
  def cycle(): Unit
  /** After the loop: the checks the loop itself cannot make. */
  def finish(): Unit = ()
  /** Release what the workload started; safe to call twice. */
  def close(): Unit = ()
  /** Exact-retrieve matrices built per write during the loop. */
  def indexBuildsPerWrite: Double = 0.0
  /** A doc for the runner's retrieves after the loop: one the workload
    * wrote last, where it writes. */
  def probeDoc(): Long
  /** Number of documents and text characters committed so far. */
  def userDocs: Long
  def userChars: Long

  /** Bulk-load docs 1..n: ids are assigned densely in input order, so
    * doc `id` holds `gen.text(id)`. */
  protected def bulkLoad(n: Long): Unit = {
    import spark.implicits._
    val g = gen
    val src = spark.range(1, n + 1, 1, cores).as[Long].map(g.text).toDF("text")
    store.bulkAddDocsDistributed(src, provider)
  }

  /** Exact retrieve of a stored doc by its own text: it must come back
    * first, at score 1, with its text. */
  def selfRetrieve(op: String, id: Long, text: String): Unit = {
    val r = client.op(op, (r: Seq[graft.core.Model.Retrieval]) => r.size) {
      store.retrieve(text, TopN, provider)
    }
    Check(r.nonEmpty && r.head.doc.id == id && r.head.doc.text == text,
      s"$op: top-1 for doc $id is ${r.headOption.map(_.doc.id)}")
    Check(math.abs(r.head.score - 1.0) < 1e-4, s"$op: doc $id self-score ${r.head.score}")
  }

  def annSelf(id: Long, text: String): Unit = {
    val r = client.op("ann_retrieve", (r: Seq[graft.core.Model.Retrieval]) => r.size) {
      store.annRetrieve(text, TopN, provider, nProbe = 8)
    }
    Check(r.nonEmpty && r.head.doc.id == id && math.abs(r.head.score - 1.0) < 1e-4,
      s"ann_retrieve: top-1 for doc $id is ${r.headOption.map(x => (x.doc.id, x.score))}")
  }

  def bm25Token(id: Long): Unit = {
    val r = client.op("bm25_retrieve", (r: Seq[(Double, graft.core.Model.Doc)]) => r.size) {
      store.bm25Retrieve(s"doc $id", TopN)
    }
    Check(r.nonEmpty && r.head._2.id == id,
      s"bm25_retrieve: top-1 for 'doc $id' is ${r.headOption.map(_._2.id)}")
  }

  def fetch(id: Long, text: String): Unit = {
    val d = client.op("fetch_doc", (_: graft.core.Model.Doc) => 1)(store.fetchDoc(id))
    Check(d.id == id && d.text == text, s"fetch_doc: doc $id text differs from the generator's")
  }
}

object Workload {
  val TopN = 100

  final case class Ctx(spark: SparkSession, gen: Gen, provider: EmbeddingProvider,
      client: Client, cores: Int, rng: java.util.SplittableRandom,
      docs: Option[Long], dir: java.io.File)

  val Names: Seq[String] = Seq("serve", "ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "serve" => new Serve(ctx)
    case "ingest" => new Ingest(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}
