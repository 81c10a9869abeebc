package storebench

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.KbStore

/** Read-only traffic on a store with ANN and BM25 indexes: per cycle 4
  * exact retrieves, 1 ANN retrieve, 1 BM25 retrieve and 1 fetchDoc, all
  * on uniformly random docs. */
final class Serve(ctx: Workload.Ctx) extends Workload(ctx) {
  import ctx._
  private val n = docs.getOrElse(Serve.Docs)
  private def pick(): Long = 1 + rng.nextLong(n)

  def setup(dir: String): Unit = {
    store = KbStore.create(spark, dir, provider.params)
    bulkLoad(n)
    Serve.buildAnn(store)
    store.buildTextIndex()
  }

  def probeDoc(): Long = pick()

  /** The loop measures warm reads: build the retrieval matrix first. */
  override def beforeLoop(): Unit = store.index()

  def cycle(): Unit = {
    (0 until 4).foreach { _ => val id = pick(); selfRetrieve("retrieve", id, gen.text(id)) }
    val a = pick()
    annSelf(a, gen.text(a))
    bm25Token(pick())
    val f = pick()
    fetch(f, gen.text(f))
  }

  def userDocs: Long = n
  lazy val userChars: Long = (1L to n).iterator.map(gen.text(_).length.toLong).sum
}

object Serve {
  val Docs = 2000L

  /** The packed k-means path is the one stores above 100k vectors take;
    * it is forced so the small store exercises the same code. */
  def buildAnn(store: KbStore): Unit =
    store.buildAnnIndex(nlist = 64, packedPathAbove = 0)
}

/** Streaming ingest with live index upkeep: 500-doc micro-batches into
  * a seeded store that has an ANN index. Per cycle one batch is
  * added and processed, then one fresh retrieve queries a doc of that
  * batch. Afterwards the store must hold every doc, and ingested docs
  * must be found by fetchDoc and by the runner's exact retrieves. */
final class Ingest(ctx: Workload.Ctx) extends Workload(ctx) {
  import ctx._
  private val n = docs.getOrElse(Ingest.Docs)
  private var next = n + 1
  private var chars = 0L
  private var stream: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var builds = 0
  private var writes = 0
  private var lastIndex: Option[AnyRef] = None

  def setup(dir: String): Unit = {
    store = KbStore.create(spark, dir, provider.params)
    bulkLoad(n)
    Serve.buildAnn(store)
    next = n + 1
  }

  def probeDoc(): Long = if (next > n + 1) n + 1 + rng.nextLong(next - n - 1) else 1 + rng.nextLong(n)

  override def beforeLoop(): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    stream = MemoryStream[String]
    query = graft.streaming.StreamingIngest.startStoreIngest(
      stream.toDF().toDF("text"), store, provider,
      new java.io.File(dir, "ingest-checkpoint").getAbsolutePath,
      maintainIndex = true)
  }

  def cycle(): Unit = {
    val keys = next until next + Ingest.Batch
    val texts = keys.map(gen.text)
    client.op("ingest_batch", (_: Unit) => texts.size) {
      stream.addData(texts)
      query.processAllAvailable()
    }
    next += Ingest.Batch
    writes += 1
    chars += texts.iterator.map(_.length.toLong).sum
    // ids follow arrival order, which the fresh retrieve checks
    val f = keys(rng.nextInt(keys.size))
    selfRetrieve("fresh_retrieve", f, gen.text(f))
    // the retrieve left the matrix cached, so this only reads it back
    val idx = store.index()
    if (!idx.exists(i => lastIndex.exists(_ eq i))) builds += 1
    lastIndex = idx
  }

  override def finish(): Unit = {
    stop()
    val count = store.countDocs
    Check(count == next - 1, s"ingest: store holds $count docs, expected ${next - 1}")
    val id = probeDoc()
    fetch(id, gen.text(id))
  }

  override def indexBuildsPerWrite: Double = if (writes == 0) 0.0 else builds.toDouble / writes

  override def close(): Unit = stop()

  private def stop(): Unit = if (query != null) {
    query.stop()
    query.exception.foreach(e => throw e)
    query = null
  }

  def userDocs: Long = next - 1
  lazy val seedChars: Long = (1L to n).iterator.map(gen.text(_).length.toLong).sum
  def userChars: Long = seedChars + chars
}

object Ingest {
  val Docs = 2000L
  val Batch = 500
}
