package graft

import org.apache.spark.sql.functions.col

import graft.core.KbStore

/** Reads are served from the store's resident tables: read paths
  * hydrate their hits from the resident doc table, and `annRetrieve` and
  * `bm25Retrieve` score from the resident assignment, postings and doc
  * lengths. A warm read runs no Spark job, every read answers exactly as
  * the Spark route it replaces (the residency-off path, cap -1), reads
  * see every write, and a write alone never builds a table. */
class ResidentDocsSpec extends SparkSpec {

  /** `path` opened with the resident doc table off. */
  private def openResidencyOff(path: String): KbStore = {
    val kb = KbStore.open(spark, path)
    kb.residentCap = -1
    kb
  }

  private def freshPath(): String =
    tempDir("graft-resident").resolve("kb").toString

  private def provider = new graft.core.Embeddings.EmbeddingProvider {
    def name = "hashvec"; def dim = 8
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val rnd = new java.util.Random(t.hashCode.toLong)
      val v = Array.fill(8)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  private def text(i: Int): String = s"doc $i on topic${i % 5} word${i % 7}"

  private def smallStore(): KbStore = {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.bulkAddDocsDistributed((1 to 30).map(text).toDF("text"), provider)
    kb.bulkAddDocs(provider)(_.add(text(31)))
    kb
  }

  /** The tables annRetrieve and bm25Retrieve score from. */
  private val IndexTables = Seq(KbStore.IvfAssignTable,
    KbStore.TextPostingsTable, KbStore.TextDocLensTable)

  /** [[smallStore]] plus two more docs with the text of doc 3 (ids 32
    * and 33, tied with it in every score), with ANN (4 lists) and text
    * indexes built. */
  private def indexedStore(): KbStore = {
    val kb = smallStore()
    kb.bulkAddDocs(provider) { a => a.add(text(3)); a.add(text(3)) }
    kb.buildAnnIndex(nlist = 4, iters = 1)
    kb.buildTextIndex()
    kb
  }

  private def topText(kb: KbStore, q: String): Option[String] =
    kb.retrieve(q, 1, provider).headOption.map(_.doc.text)

  /** Every hydrating read of `kb` for `ids` (doc and emb ids alike),
    * misses as None. */
  private def reads(kb: KbStore, ids: Seq[Long]): Seq[Any] = {
    def attempt[T](body: => T): Option[T] =
      try Some(body) catch { case _: NoSuchElementException => None }
    val queries = Seq(text(8), "topic2 word4")
    ids.map(id => attempt(kb.fetchDoc(id))) ++
      ids.map(id => attempt(kb.fetchDocWithEmbId(id))) ++
      Seq(kb.topPairwiseScores(6)) ++
      queries.flatMap { q =>
        Seq(
          kb.retrieve(q, 8, provider),
          kb.annRetrieve(q, 5, provider, nProbe = 2),
          kb.annRetrieveFiltered(q, 5, provider, col("id") % 2L === 0L,
            nProbe = 4),
          kb.sqRetrieve(q, 5, provider, rerank = 10),
          kb.pqRetrieve(q, 5, provider, nProbe = 4, rerank = 20),
          kb.bm25Retrieve(q, 5),
          kb.rm3Retrieve(q, 5, fbDocs = 3, fbTerms = 5))
      }
  }

  /** The store at `path` answers every read identically from the
    * resident table and from the residency-off Spark path. */
  private def assertSameReads(path: String, ids: Seq[Long]): Unit = {
    val resident = KbStore.open(spark, path)
    val got = reads(resident, ids)
    assert(resident.residentRowsForSpec("docs") == Seq(resident.countDocs.toInt))
    IndexTables.foreach(t => assert(resident.residentRowsForSpec(t).nonEmpty, t))
    val off = openResidencyOff(path)
    val want = reads(off, ids)
    assert(off.residentRowsForSpec("docs").isEmpty)
    off.close()
    assert(got.size == want.size)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"read $i differs")
    }
    resident.close()
  }

  test("warm retrieve, fetchDoc and fetchDocWithEmbId run no Spark job") {
    val kb = smallStore()
    assert(topText(kb, text(3)).contains(text(3)))
    assert(kb.residentRowsForSpec("docs") == Seq(31))
    val retrieveJobs = jobsDuring(
      assert(topText(kb, text(4)).contains(text(4))))
    val fetchJobs = jobsDuring(assert(kb.fetchDoc(5L).text == text(5)))
    val embId = kb.fetchDoc(6L).emb_id.get
    val byEmbJobs = jobsDuring(
      assert(kb.fetchDocWithEmbId(embId).text == text(6)))
    assert((retrieveJobs, fetchJobs, byEmbJobs) == (0, 0, 0))
    kb.close()
  }

  test("every hydrating read equals the residency-off path") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, provider.params, forceFresh = true)
    // hierarchy: embedded roots; every other child without an
    // embedding, so emb ids fall out of step with doc ids
    val roots =
      kb.bulkAddDocs(provider)(a => (1 to 20).foreach(i => a.add(text(i))))
    kb.bulkAddDocs(provider) { a =>
      roots.take(5).zipWithIndex.foreach { case (r, i) =>
        a.add(s"child $i", parentId = Some(r), noEmbedding = i % 2 == 0)
      }
    }
    // more single-doc deltas than the chain limit: a minor compaction
    val deltas = (21 until 21 + KbStore.DeltaChainLimit + 2).map { i =>
      kb.bulkAddDocs(provider)(
        _.add(text(i), meta = Some(s"""{"i": $i}"""))).head
    }
    assert(deltas.size + 2 > KbStore.DeltaChainLimit)
    assert(kb.meta.table_deltas("docs").size <= KbStore.DeltaChainLimit,
      "the docs chain never minor-compacted")
    // a delete, then its text re-added under a new id, and a re-add of
    // an existing id with new meta
    kb.bulkDelDocs(Seq(roots(7)))
    val readded = kb.bulkAddDocs(provider)(_.add(text(8))).head
    kb.updateDocMeta(roots(9), Some("""{"tag": "updated"}"""))
    // roots, the delete, the meta update, children, deltas before and
    // after the fold, the re-add and a miss
    val ids = Seq(roots.head, roots(7), roots(9)) ++
      (roots.last + 1 to roots.last + 5) ++
      Seq(deltas.head, deltas.last, readded, readded + 1)
    kb.buildAnnIndex(nlist = 4, iters = 1)
    kb.buildSqIndex()
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    kb.buildTextIndex()
    assert(kb.meta.table_deltas.get("docs").exists(_.nonEmpty))
    assertSameReads(path, ids)
    kb.compact()
    assert(kb.meta.table_deltas.get("docs").forall(_.isEmpty))
    assertSameReads(path, ids)
    kb.close()
  }

  test("reads see bulkAddDocs, bulkDelDocs and updateDocMeta") {
    val kb = smallStore()
    assert(kb.fetchDoc(2L).text == text(2))
    val added = kb.bulkAddDocs(provider)(_.add(text(50))).head
    assert(kb.fetchDoc(added).text == text(50))
    assert(topText(kb, text(50)).contains(text(50)))
    kb.bulkDelDocs(Seq(added))
    intercept[NoSuchElementException](kb.fetchDoc(added))
    assert(!topText(kb, text(50)).contains(text(50)))
    kb.updateDocMeta(4L, Some("""{"v": 2}"""))
    assert(kb.fetchDoc(4L).meta.contains("""{"v": 2}"""))
    assert(kb.retrieve(text(4), 1, provider).map(_.doc.meta) ==
      Seq(Some("""{"v": 2}""")))
    assert(kb.residentRowsForSpec("docs") == Seq(31))
    kb.close()
  }

  test("a missing id throws NoSuchElementException on both paths") {
    val kb = smallStore()
    def misses(store: KbStore): Unit = {
      intercept[NoSuchElementException](store.fetchDoc(999L))
      intercept[NoSuchElementException](store.fetchDocWithEmbId(999L))
    }
    misses(kb)
    assert(kb.residentRowsForSpec("docs").nonEmpty)
    val off = openResidencyOff(kb.path)
    misses(off)
    assert(off.residentRowsForSpec("docs").isEmpty)
    off.close()
    kb.close()
  }

  test("a write alone never builds the resident doc table") {
    val kb = smallStore()
    val id = kb.bulkAddDocs(provider)(_.add(text(60))).head
    kb.updateDocMeta(id, Some("{}"))
    kb.setDocEmbedding(id, None)
    kb.bulkDelDocs(Seq(id))
    assert(kb.residentRowsForSpec("docs").isEmpty)
    assert(kb.fetchDoc(1L).text == text(1))
    assert(kb.residentRowsForSpec("docs") == Seq(31))
    kb.bulkAddDocs(provider)(_.add(text(61)))
    assert(kb.residentRowsForSpec("docs").isEmpty)
    kb.close()
  }

  test("a write to another table keeps the resident doc table") {
    val kb = smallStore()
    assert(kb.fetchDoc(1L).text == text(1))
    val edge = kb.addEdge(1L, 2L, 1L)
    kb.delEdge(edge)
    assert(kb.residentRowsForSpec("docs") == Seq(31))
    assert(jobsDuring(assert(kb.fetchDoc(2L).text == text(2))) == 0)
    kb.close()
    assert(kb.residentRowsForSpec("docs").isEmpty)
  }

  test("warm annRetrieve and bm25Retrieve run no Spark job") {
    val kb = indexedStore()
    assert(kb.annRetrieve(text(4), 5, provider).head.doc.text == text(4))
    assert(kb.bm25Retrieve("doc 4", 5).head._2.id == 4L)
    val annJobs = jobsDuring(assert(
      kb.annRetrieve(text(5), 5, provider).head.doc.text == text(5)))
    val bm25Jobs = jobsDuring(
      assert(kb.bm25Retrieve("doc 5", 5).head._2.id == 5L))
    assert((annJobs, bm25Jobs) == (0, 0))
    kb.close()
  }

  test("ANN and BM25 answer alike on both routes: ties, long queries, full probe") {
    val kb = indexedStore()
    val off = openResidencyOff(kb.path)
    def ann(s: KbStore, q: String, n: Int, nProbe: Int) =
      s.annRetrieve(q, n, provider, nProbe).map(r => (r.score, r.doc.id))
    def bm25(s: KbStore, q: String, n: Int) =
      s.bm25Retrieve(q, n).map { case (score, d) => (score, d.id) }
    val queries = Seq(text(3), "doc 9", "topic2 word4 doc",
      "topic1 word3 on doc 12 topic4", "no such term")
    queries.foreach { q =>
      Seq(1, 2).foreach(p => assert(ann(kb, q, 10, p) == ann(off, q, 10, p), q))
      // nProbe = nlist probes every list: all 33 embedded docs come back
      val full = ann(kb, q, 50, 4)
      assert(full.size == 33)
      assert(full == ann(off, q, 50, 4), q)
      assert(bm25(kb, q, 10) == bm25(off, q, 10), q)
    }
    IndexTables.foreach { t =>
      assert(kb.residentRowsForSpec(t).nonEmpty, t)
      assert(off.residentRowsForSpec(t).isEmpty, t)
    }
    // docs 3, 32 and 33 share a text: tied at the top, ascending ids
    val embIds = Seq(3L, 32L, 33L).map(kb.fetchDoc(_).emb_id.get)
    val annTop = ann(kb, text(3), 3, 4)
    assert(annTop.map(_._1).distinct.size == 1)
    assert(annTop.map(x => kb.fetchDoc(x._2).emb_id.get) == embIds.sorted)
    val bm25Top = bm25(kb, text(3), 3)
    assert(bm25Top.map(_._1).distinct.size == 1)
    assert(bm25Top.map(_._2) == Seq(3L, 32L, 33L))
    off.close()
    kb.close()
  }

  test("ANN and BM25 reads see bulkAddDocs and bulkDelDocs after a refresh") {
    val kb = indexedStore()
    val novel = "zebra quartz lantern"
    def annTop(k: KbStore) =
      k.annRetrieve(novel, 1, provider, nProbe = 4).map(_.doc.id)
    assert(kb.bm25Retrieve("zebra", 5).isEmpty)
    val added = kb.bulkAddDocs(provider)(_.add(novel)).head
    // a stale index refuses on the resident route as on the Spark one
    intercept[IllegalArgumentException](annTop(kb))
    intercept[IllegalArgumentException](kb.bm25Retrieve("zebra", 5))
    kb.refreshAnnIndex()
    kb.refreshTextIndex()
    assert(annTop(kb) == Seq(added))
    assert(kb.bm25Retrieve("zebra", 5).map(_._2.id) == Seq(added))
    kb.bulkDelDocs(Seq(added))
    intercept[IllegalArgumentException](annTop(kb))
    intercept[IllegalArgumentException](kb.bm25Retrieve("zebra", 5))
    kb.refreshAnnIndex()
    kb.refreshTextIndex()
    assert(!annTop(kb).contains(added))
    assert(kb.bm25Retrieve("zebra", 5).isEmpty)
    IndexTables.foreach(t => assert(kb.residentRowsForSpec(t).nonEmpty, t))
    kb.close()
  }

  test("a write alone never builds the index tables, and close drops them") {
    val kb = indexedStore()
    kb.bulkAddDocs(provider)(_.add(text(70)))
    kb.refreshAnnIndex()
    kb.refreshTextIndex()
    IndexTables.foreach(t => assert(kb.residentRowsForSpec(t).isEmpty, t))
    assert(kb.annRetrieve(text(70), 1, provider, nProbe = 4).head.doc.text ==
      text(70))
    assert(kb.bm25Retrieve("doc 70", 1).head._2.text == text(70))
    assert(kb.residentRowsForSpec(KbStore.IvfAssignTable) == Seq(34))
    assert(kb.residentRowsForSpec(KbStore.TextDocLensTable) == Seq(34))
    assert(kb.residentRowsForSpec(KbStore.TextPostingsTable).head > 34)
    kb.close()
    IndexTables.foreach(t => assert(kb.residentRowsForSpec(t).isEmpty, t))
  }
}
