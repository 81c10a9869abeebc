package graft

import org.apache.spark.sql.graft.SpecProbes

import graft.core.KbStore

/** A write moves a table's layout by appending versions to its chain,
  * and the store folds those versions into the state it already holds
  * (resident tables and the driver-local retrieval index) instead of
  * collecting the table again. Every read after every write must answer
  * as a second store opened on the same path, which collects from
  * scratch, and the first read after a write must cost O(batch). */
class ResidentFoldSpec extends SparkSpec {

  private def freshPath(): String =
    tempDir("graft-fold").resolve("kb").toString

  private def provider = new graft.core.Embeddings.EmbeddingProvider {
    def name = "hashvec"; def dim = 8
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val rnd = new java.util.Random(t.hashCode.toLong)
      val v = Array.fill(8)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  /** Texts repeat every 40 ids, so retrieves and BM25 reads tie. */
  private def text(i: Int): String =
    s"doc ${i % 40} on topic${i % 5} word${i % 7}"

  private val Queries = Seq(text(3), "topic2 word4", text(11))

  /** Every read the fold serves: exact retrieve, fetchDoc of `ids`
    * (misses as None), getKeyOr of `keys`, and the ANN and BM25 reads
    * while those indexes are current. */
  private def reads(kb: KbStore, ids: Seq[Long], keys: Seq[String]): Seq[Any] = {
    def attempt[T](body: => T): Option[T] =
      try Some(body) catch { case _: NoSuchElementException => None }
    Queries.map(q => kb.retrieve(q, 12, provider)) ++
      ids.map(id => attempt(kb.fetchDoc(id))) ++
      keys.map(k => kb.getKeyOr(k, "absent")) ++
      (if (kb.hasAnnIndex)
         Queries.map(q => kb.annRetrieve(q, 12, provider, nProbe = 2))
       else Nil) ++
      (if (kb.hasTextIndex) Queries.map(q => kb.bm25Retrieve(q, 12)) else Nil)
  }

  /** `kb` answers every read as a store opened fresh on its path. */
  private def assertAsFresh(kb: KbStore, ids: Seq[Long], keys: Seq[String],
      step: String): Unit = {
    val got = reads(kb, ids, keys)
    val fresh = KbStore.open(spark, kb.path)
    val want = try reads(fresh, ids, keys) finally fresh.close()
    assert(got.size == want.size)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"after $step: read $i differs")
    }
  }

  /** Input rows Spark tasks read while `body` runs. */
  private def rowsReadDuring(body: => Unit): Long = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          n.addAndGet(m.inputMetrics.recordsRead))
    }
    SpecProbes.drainListeners(spark)
    sc.addSparkListener(l)
    try { body; SpecProbes.drainListeners(spark) }
    finally sc.removeSparkListener(l)
    n.get()
  }

  private def indexedStore(docs: Int): KbStore = {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.bulkAddDocsDistributed((1 to docs).map(text).toDF("text"), provider)
    kb.buildAnnIndex(nlist = 4, iters = 1)
    kb.buildTextIndex()
    kb
  }

  test("random write sequences: every read equals a fresh store's") {
    val rnd = new scala.util.Random(11L)
    val kb = indexedStore(30)
    val keys = (0 until 4).map(i => s"k$i")
    var next = 31
    def liveIds: Seq[Long] = kb.docs.collect().map(_.id).sorted.toSeq
    def refresh(): Unit = {
      if (kb.annIndexState == KbStore.AnnNone) kb.buildAnnIndex(nlist = 4, iters = 1)
      if (kb.annIndexState == KbStore.AnnStale) kb.refreshAnnIndex()
      if (kb.textIndexState == KbStore.AnnStale) kb.refreshTextIndex()
    }
    val ops: Seq[(String, () => Unit)] = Seq(
      "bulkAddDocs" -> { () =>
        kb.bulkAddDocs(provider) { a =>
          (0 until 1 + rnd.nextInt(3)).foreach { _ => a.add(text(next)); next += 1 }
        }
        ()
      },
      "bulkDelDocs" -> { () =>
        val ids = liveIds
        kb.bulkDelDocs(Seq(ids(rnd.nextInt(ids.size))))
      },
      "delete then re-add" -> { () =>
        // the same id tombstoned and re-added in one delta, then again
        // across two deltas: a delete and a re-add of the same text
        val ids = liveIds
        val id = ids(rnd.nextInt(ids.size))
        kb.replaceDocTextForSpec(id, text(next)); next += 1
        val d = kb.fetchDoc(id)
        kb.bulkDelDocs(Seq(id))
        kb.bulkAddDocs(provider)(_.add(d.text)); ()
      },
      "updateDocMeta" -> { () =>
        val ids = liveIds
        kb.updateDocMeta(ids(rnd.nextInt(ids.size)),
          Some(s"""{"step": ${rnd.nextInt(100)}}"""))
      },
      "setDocEmbedding" -> { () =>
        // replaces a vector: embedding ids are reused after a delete
        val ids = liveIds
        kb.setDocEmbedding(ids(rnd.nextInt(ids.size)),
          Some(provider.embed(Seq(text(next))).head)); next += 1
      },
      "setKey" -> { () => kb.setKey(keys(rnd.nextInt(keys.size)), rnd.nextLong()) },
      "delKey" -> { () =>
        keys.find(kb.hasKey).foreach(kb.delKey)
      })
    def docsChain: Int = kb.meta.table_deltas.getOrElse("docs", Nil).size
    // grow the docs chain near its limit first, so the compared steps
    // below cross a minor compaction; the reads before it warm every
    // resident table
    assertAsFresh(kb, liveIds, keys, "set-up")
    while (docsChain < KbStore.DeltaChainLimit - 2)
      kb.updateDocMeta(1L, Some(s"""{"grow": $docsChain}"""))
    var minorCompactions = 0
    (0 until 14).foreach { step =>
      if (step == 10) {
        kb.compact()
        assertAsFresh(kb, liveIds, keys, "compact")
      }
      val (name, op) = ops(rnd.nextInt(ops.size))
      val chainBefore = docsChain
      op()
      if (docsChain < chainBefore) minorCompactions += 1
      if (rnd.nextInt(3) > 0) refresh()
      val ids = liveIds
      assertAsFresh(kb, ids :+ (ids.max + 1), keys, s"step $step ($name)")
    }
    assert(minorCompactions > 0, "the docs chain never minor-compacted")
    refresh()
    assertAsFresh(kb, liveIds, keys, "the last refresh")
    kb.close()
  }

  test("40 keyval writes cross a minor compaction; getKeyOr stays exact") {
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    val keys = (0 until 6).map(k => s"k$k")
    val model = scala.collection.mutable.Map[String, Any]()
    (0 until 40).foreach { i =>
      kb.setKey(keys(i % 6), i.toLong)
      model(keys(i % 6)) = i.toLong
      if (i % 9 == 8) { kb.delKey(keys(i % 6)); model -= keys(i % 6) }
      keys.foreach(k => assert(kb.getKeyOr(k, None) == model.getOrElse(k, None),
        s"write $i key $k"))
      // a store opened fresh at the last write before the minor
      // compaction (chain 32), the first after it, and the last
      if (Set(28, 29, 39).contains(i)) {
        val fresh = KbStore.open(spark, kb.path)
        try keys.foreach(k =>
          assert(fresh.getKeyOr(k, None) == model.getOrElse(k, None)))
        finally fresh.close()
      }
    }
    assert(kb.meta.table_deltas("keyval").size < 40)
    kb.close()
  }

  test("a segment this store wrote resolves with no job") {
    import spark.implicits._
    val kb = indexedStore(20)
    kb.bulkAddDocsDistributed((21 to 30).map(text).toDF("text"), provider)
    kb.refreshAnnIndex()
    kb.refreshTextIndex()
    kb.setKey("k", 1L)
    val tables = kb.meta.table_versions.keys.toSeq
    val jobs = jobsDuring(tables.foreach(t =>
      kb.readTableForSpec(t).queryExecution.optimizedPlan.stats))
    assert(jobs == 0, s"resolving ${tables.mkString(",")} ran $jobs jobs")
    kb.close()
  }

  test("after a 500-doc batch and an ANN refresh, retrieve runs <= 2 jobs " +
      "and reads O(batch) rows") {
    import spark.implicits._
    val kb = indexedStore(1000)
    assert(kb.retrieve(text(3), 5, provider).nonEmpty) // warm
    var top: Seq[graft.core.Model.Retrieval] = Nil
    var rows = 0L
    kb.bulkAddDocsDistributed((1001 to 1500).map(text).toDF("text"), provider)
    kb.refreshAnnIndex()
    val jobs = jobsDuring {
      rows = rowsReadDuring { top = kb.retrieve(text(1234), 5, provider) }
    }
    assert(jobs <= 2, s"the first retrieve after the batch ran $jobs jobs")
    assert(rows <= 1000, s"it read $rows rows")
    assert(top.head.doc.id >= 1001 && top.head.doc.text == text(1234))
    // the ANN read folds the assignment delta; BM25 the text delta
    assert(kb.annRetrieve(text(3), 5, provider).nonEmpty)
    kb.refreshTextIndex()
    assert(kb.bm25Retrieve("doc 3", 5).nonEmpty)
    kb.bulkAddDocsDistributed((1501 to 1510).map(text).toDF("text"), provider)
    kb.refreshAnnIndex()
    kb.refreshTextIndex()
    val annRows = rowsReadDuring(kb.annRetrieve(text(1505), 5, provider))
    val bm25Rows = rowsReadDuring(kb.bm25Retrieve(s"doc ${1505 % 40}", 5))
    assert(annRows <= 100 && bm25Rows <= 1000, (annRows, bm25Rows))
    assertAsFresh(kb, Seq(1L, 1234L, 1505L), Nil, "the batches")
    kb.close()
  }

  test("after a setKey, getKeyOr runs no job") {
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.setKey("a", 1L)
    assert(kb.getKeyOr("a", -1L) == 1L)
    kb.setKey("a", 2L) // an upsert: one version with a del and an add
    val kv = s"${kb.path}/keyval/v${kb.meta.table_deltas("keyval").last}"
    assert(Seq("del", "add").forall(side =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(kv, side))))
    var v: Any = null
    val jobs = jobsDuring { v = kb.getKeyOr("a", -1L) }
    assert(v == 2L)
    assert(jobs == 0, s"getKeyOr ran $jobs jobs")
    assert(jobsDuring(kb.getKeyOr("a", -1L)) == 0)
    kb.close()
  }

  test("a view that grows above the cap leaves residency for the Spark route") {
    val kb = indexedStore(10)
    assert(kb.fetchDoc(1L).text == text(1))
    assert(kb.residentRowsForSpec("docs") == Seq(10))
    kb.bulkAddDocs(provider)(_.add(text(11)))
    kb.residentCap = -1
    assert(kb.fetchDoc(11L).text == text(11))
    assert(kb.residentRowsForSpec("docs").isEmpty)
    kb.residentCap = KbStore.ResidentMaxBytes
    kb.bulkAddDocs(provider)(_.add(text(12)))
    assert(kb.fetchDoc(12L).text == text(12))
    assert(kb.residentRowsForSpec("docs") == Seq(12))
    kb.close()
  }

  test("a commit that leaves embeddings alone keeps the retrieval index") {
    val kb = indexedStore(10)
    val idx = kb.index()
    assert(idx.isDefined)
    kb.setKey("k", 1L)
    kb.updateDocMeta(3L, Some("{}"))
    kb.refreshTextIndex()
    kb.buildAnnIndex(nlist = 2, iters = 1)
    assert(kb.index().exists(_ eq idx.get))
    kb.close()
  }

  /** (cache-manager entries, persisted RDD ids) of the session. */
  private def cacheProbes: (Int, Set[Int]) =
    (SpecProbes.cachedEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)

  test("a cold index() below the local threshold runs one job and " +
      "persists nothing") {
    val kb = indexedStore(50)
    kb.close() // what a reopened store holds: no read state
    val before = cacheProbes
    var idx: Option[graft.ops.VectorIndex] = None
    val jobs = jobsDuring { idx = kb.index() }
    assert(idx.exists(i => i.isLocal && i.count == 50L))
    assert(jobs == 1, s"the cold index() ran $jobs jobs")
    assert(cacheProbes == before)
    kb.close()
  }

  test("close() releases what reads, a write and its fold held") {
    import spark.implicits._
    val before = cacheProbes
    val kb = indexedStore(40)
    assert(kb.index().isDefined)
    assert(kb.retrieve(text(3), 5, provider).nonEmpty)
    assert(kb.annRetrieve(text(3), 5, provider).nonEmpty)
    kb.bulkAddDocsDistributed((41 to 60).map(text).toDF("text"), provider)
    kb.refreshAnnIndex()
    assert(kb.retrieve(text(45), 5, provider).head.doc.text == text(45))
    kb.close()
    assert(cacheProbes == before)
  }

  test("no store operation leaves a persist behind for close() to release") {
    import spark.implicits._
    val kb = indexedStore(40)
    kb.residentCap = -1 // every read takes its Spark route
    /** `op` run on a store that holds no read state leaves the session's
      * cache as it found it. */
    def leavesNoPersist(op: String)(body: => Unit): Unit = {
      kb.close()
      val before = cacheProbes
      body
      assert(cacheProbes == before, s"$op left a persist behind")
    }
    leavesNoPersist("buildAnnIndex, declarative path")(
      kb.buildAnnIndex(nlist = 4, iters = 1))
    leavesNoPersist("buildAnnIndex, packed path")(
      kb.buildAnnIndex(nlist = 4, iters = 1, packedPathAbove = 0))
    leavesNoPersist("buildSqIndex")(kb.buildSqIndex())
    leavesNoPersist("buildPqIndex")(
      kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 1))
    leavesNoPersist("topPairwiseScores")(
      assert(kb.topPairwiseScores(3).size == 3))
    leavesNoPersist("Spark-route annRetrieve")(
      assert(kb.annRetrieve(text(3), 5, provider).head.doc.text == text(3)))
    kb.bulkAddDocsDistributed((41 to 50).map(text).toDF("text"), provider)
    kb.compact(codec = "snappy") // the segment route cannot span a new base
    leavesNoPersist("full-diff refreshAnnIndex") {
      kb.refreshAnnIndex()
      assert(kb.lastRefreshRoute == Some("full"))
    }
    leavesNoPersist("fetchDocWithEmbedding")(
      assert(kb.fetchDocWithEmbedding(3L)._2.isDefined))
    leavesNoPersist("bulkAddDocsDistributed naming a missing parent")(
      intercept[IllegalArgumentException](kb.bulkAddDocsDistributed(
        Seq(("orphan", 999999L)).toDF("text", "parent_id"), provider)))
    kb.close()
  }

  test("a fold of one small version runs no job: docs and the matrix") {
    val kb = indexedStore(20)
    assert(kb.fetchDoc(1L).text == text(1))
    assert(kb.index().exists(_.count == 20L))
    kb.bulkAddDocs(provider)(_.add(text(21)))
    val id = kb.meta.max_doc_id
    var got: Any = null
    assert(jobsDuring { got = kb.fetchDoc(id).text } == 0)
    assert(got == text(21))
    var idx: Option[graft.ops.VectorIndex] = None
    assert(jobsDuring { idx = kb.index() } == 0)
    assert(idx.exists(i => i.isLocal && i.count == 21L))
    assertAsFresh(kb, Seq(1L, id), Nil, "the folds")
    kb.close()
  }

  test("a cold resident load of a view under the cap runs no job") {
    val kb = indexedStore(20)
    kb.bulkAddDocs(provider)(_.add(text(21)))
    kb.updateDocMeta(3L, Some("""{"cold": 1}""")) // a docs del and add
    kb.close() // what a cold read finds: no read state
    val id = kb.meta.max_doc_id
    var got: Any = null
    assert(jobsDuring { got = kb.fetchDoc(id).text } == 0)
    assert(got == text(21))
    assert(kb.residentRowsForSpec("docs") == Seq(21))
    assertAsFresh(kb, Seq(3L, id), Nil, "the cold load")
    kb.close()
  }

  test("a segment read on the driver holds the Spark scan's rows, nulls " +
      "included") {
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.bulkAddDocs(provider) { a =>
      a.add("root", meta = Some("""{"a": 1}""")); a.add("plain")
    }
    kb.bulkAddDocs(provider) { a =>
      a.add("child", parentId = Some(1L)); a.add("bare", noEmbedding = true)
      a.add("gone", meta = Some("{}"))
    }
    def last(t: String) = s"${kb.path}/$t/v${kb.meta.table_deltas(t).last}"
    val adds = Seq(last("docs"), last("embeddings")).map(_ + "/add")
    kb.bulkDelDocs(Seq(kb.meta.max_doc_id))
    val dels = Seq(last("docs"), last("embeddings")).map(_ + "/del")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      dels.head.stripSuffix("del") + "add")), "the delete is del-only")
    (adds ++ dels).foreach { dir =>
      val frame = kb.collectableForSpec(dir).get
      var got = Array.empty[org.apache.spark.sql.Row]
      assert(jobsDuring { got = frame.collect() } == 0, dir)
      val want = spark.read.parquet(dir).collect()
      assert(got.map(_.toSeq).sortBy(_.toString).toSeq ==
        want.map(_.toSeq).sortBy(_.toString).toSeq, dir)
    }
    val docs = kb.collectableForSpec(adds.head).get
    assert(docs.filter("parent_id IS NULL AND meta IS NULL").count() == 1L)
    assert(docs.filter("emb_id IS NULL").count() == 1L)
    kb.close()
  }

  test("the embeddings view never holds more rows than max_doc_id") {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    def bounded(step: String): Unit = {
      val n = kb.embeddings.count()
      assert(n > 0 && n <= kb.meta.max_doc_id,
        s"after $step: $n rows, max_doc_id ${kb.meta.max_doc_id}")
    }
    kb.bulkAddDocs(provider) { a =>
      (1 to 6).foreach(i => a.add(text(i)))
      a.add("no vector", noEmbedding = true)
    }
    bounded("bulkAddDocs")
    kb.bulkAddDocsDistributed((7 to 12).map(text).toDF("text"), provider)
    bounded("bulkAddDocsDistributed")
    val top = kb.docs.collect().maxBy(_.id)
    kb.bulkDelDocs(Seq(top.id))
    kb.setDocEmbedding(2L, Some(provider.embed(Seq("re-embedded")).head))
    bounded("setDocEmbedding after bulkDelDocs")
    kb.reembedAll(provider)
    bounded("reembedAll")
    kb.compact()
    bounded("compact()")
    kb.close()
  }
}
