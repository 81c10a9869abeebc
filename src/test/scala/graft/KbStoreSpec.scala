package graft

import java.nio.file.Files

import graft.core.{Embeddings, KbStore}
import graft.core.Embeddings.{EmbeddingProvider, KeywordProvider, MockProvider}

/** FIXTURES.md golden tests: retrieval (§2), hierarchy (§3), graph (§4),
  * key/value (§5), transactions (§7).
  */
class KbStoreSpec extends SparkSpec {

  private def freshPath(): String =
    tempDir("graft-kb").resolve("kb").toString

  private def unitProvider(dim: Int): EmbeddingProvider = MockProvider(dim)

  // ---------------- FIXTURES §2: retrieval golden ----------------
  test("retrieval fixture: keyword embeddings, golden order, cache invalidation") {
    val kb = KbStore.create(spark, freshPath(), Map("provider" -> "keyword"))
    val p = Embeddings.withMagnitudeCheck(KeywordProvider.fixture)
    val ids = kb.bulkAddDocs(p) { add =>
      add.add("third doc")
      add.add("first doc")
      add.add("second doc")
    }
    assert(ids == Seq(1L, 2L, 3L))
    assert(kb.len == 3)

    def texts(q: String, n: Int) = kb.retrieve(q, n, p).map(_.doc.text)
    assert(texts("... first ...", 3) == Seq("first doc", "third doc", "second doc"))
    assert(texts("... second ...", 3) == Seq("second doc", "first doc", "third doc"))
    assert(texts("... third ...", 3) == Seq("third doc", "first doc", "second doc"))

    // §3.3 golden: top-2 pairs = (doc1, doc2) then (doc2, doc3)
    val pairs = kb.topPairwiseScores(2).map(t => (t._2.id, t._3.id))
    assert(pairs == Seq((1L, 2L), (2L, 3L)))

    // cache invalidation across a write (tests/test_kb.py:1801-1813)
    val id4 = kb.bulkAddDocs(p)(_.add("forth doc")).head
    assert(id4 == 4L)
    assert(texts("... forth ...", 1) == Seq("forth doc"))

    // delete 1, 2, 4 → only 'second doc' remains (:1832-1846)
    kb.bulkDelDocs(Seq(1L, 2L, 4L))
    assert(texts("... second ...", 5) == Seq("second doc"))
    kb.close()
  }

  test("magnitude out-of-spec vectors are rejected (tests/test_kb.py:1851-1875)") {
    val tooBig = KeywordProvider(Seq("x" -> Array(1.0f, 0.1f, 0.0f)))
    val tooSmall = KeywordProvider(Seq("x" -> Array(0.99f, 0.0f, 0.0f)))
    for (bad <- Seq(tooBig, tooSmall)) {
      val kb = KbStore.create(spark, freshPath(), Map())
      val wrapped = Embeddings.withMagnitudeCheck(bad)
      intercept[IllegalArgumentException] {
        kb.bulkAddDocs(wrapped)(_.add("x"))
      }
      assert(kb.len == 0) // rollback: nothing committed
    }
  }

  // ---------------- FIXTURES §3: hierarchy golden ----------------
  test("hierarchy fixture: levels, children, id order, delete guard") {
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = unitProvider(2)
    kb.bulkAddDocs(p) { add =>
      add.add("first doc") // id 1, level 0
    }
    kb.bulkAddDocs(p) { add =>
      add.add("second doc", parentId = Some(1L)) // id 2, level 1
    }
    kb.bulkAddDocs(p) { add =>
      add.add("third doc", meta = Some("""{"test": "stuff"}""")) // id 3
      add.add("forth doc", parentId = Some(2L), meta = Some("""{"test": "again"}""")) // id 4, level 2
      add.add("fifth doc", parentId = Some(4L), meta = Some("""{"test": 5}"""),
        noEmbedding = true) // id 5, level 3
    }
    val all = kb.docs.collect().sortBy(_.id)
    assert(all.map(d => (d.id, d.parent_id, d.level)).toSeq == Seq(
      (1L, None, 0), (2L, Some(1L), 1), (3L, None, 0),
      (4L, Some(2L), 2), (5L, Some(4L), 3)))
    assert(all.find(_.id == 5).get.emb_id.isEmpty) // has_embedding=false
    assert(all.find(_.id == 4).get.emb_id.isDefined)

    // invalid parent → error (tests/test_kb.py:195-201)
    intercept[IllegalArgumentException] {
      kb.bulkAddDocs(p)(_.add("orphan", parentId = Some(99L)))
    }

    // children / level queries in id order (:283-368)
    assert(kb.fetchChildren(2L).map(_.id) == Seq(4L))
    assert(kb.fetchDocsAtLevel(0).map(_.id) == Seq(1L, 3L))

    // inverse embedding lookup (:370-376)
    val emb2 = kb.fetchDoc(2L).emb_id.get
    assert(kb.fetchDocWithEmbId(emb2).id == 2L)

    // delete of a parent refused (:383-385)
    intercept[IllegalStateException] { kb.bulkDelDocs(Seq(2L)) }
    // but child-before-parent order within one bulk works
    kb.bulkDelDocs(Seq(5L, 4L))
    assert(kb.len == 3)

    // meta update (M4)
    kb.updateDocMeta(3L, Some("""{"test": "updated"}"""))
    assert(kb.fetchDoc(3L).meta.contains("""{"test": "updated"}"""))
    intercept[NoSuchElementException] { kb.updateDocMeta(42L, None) }
    kb.close()
  }

  test("dfs traversal pre-order (tests/test_kb.py:1652-1688)") {
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = unitProvider(2)
    // forest {1→(3→5, 4)}: roots 1, 2(unrelated)… build FIXTURES shape:
    // 1 root; 3,4 children of 1; 5 child of 3 → pre-order [1, 3, 5, 4]
    kb.bulkAddDocs(p)(_.add("r")) // 1
    kb.bulkAddDocs(p) { a => a.add("c1", Some(1L)); a.add("c2", Some(1L)) } // 3? ids 2,3
    // ids assigned densely: c1=2, c2=3; child of c1:
    kb.bulkAddDocs(p)(_.add("g", Some(2L))) // 4
    val order = kb.dfsTraversal().map(_.id)
    assert(order == Seq(1L, 2L, 4L, 3L))
    kb.close()
  }

  // ---------------- FIXTURES §4: graph golden ----------------
  test("graph fixture: uniqueness, cascade, directedness downgrade") {
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = unitProvider(2)
    kb.bulkAddDocs(p) { a =>
      Seq("first doc", "second doc", "third doc", "forth doc", "fifth doc",
        "edge type 1", "edge type 2").foreach(t => a.add(t))
    }
    val e1 = kb.addEdge(2, 4, 6)
    val e2 = kb.addEdge(2, 4, 7)
    val e3 = kb.addEdge(1, 4, 6, weight = Some(0.5))
    val e4 = kb.addEdge(1, 3, 7, weight = Some(1.5))
    val e5 = kb.addEdge(2, 3, 6, directed = true)
    val e6 = kb.addEdge(2, 5, 7, weight = Some(2.5), directed = true)
    assert(Seq(e1, e2, e3, e4, e5, e6) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(kb.countEdges == 6)

    // duplicate (src, dst, rel) refused (tests/test_kb.py:581-589)
    intercept[IllegalStateException] { kb.addEdge(2, 4, 6) }

    // mixed graph: directed with undirected expanded to back-edges (:626-643)
    val (dir1, g1) = kb.exportGraph()
    assert(dir1)
    val backEdges = g1.collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(backEdges.contains((4L, 2L)) && backEdges.contains((3L, 1L)))
    assert(g1.count() == 6 + 4) // 4 undirected edges expanded

    // del_edge by id (M9)
    kb.delEdge(2L)
    assert(kb.countEdges == 5)
    intercept[NoSuchElementException] { kb.delEdge(2L) }

    // cascade: deleting docs 1 and 5 removes their incident edges (:683-700)
    kb.bulkDelDocs(Seq(1L, 5L))
    assert(kb.countDocs == 5)
    assert(kb.edges.collect().map(_.id).sorted.toSeq == Seq(1L, 5L))

    // directedness downgrade once the last directed edge is gone (:714-728)
    kb.delEdge(5L)
    val (dir2, g2) = kb.exportGraph()
    assert(!dir2)
    assert(g2.count() == 1)
    kb.close()
  }

  // ---------------- FIXTURES §5: key/value golden ----------------
  test("keyval: ANY-type preservation, upsert, protocol") {
    val kb = KbStore.create(spark, freshPath(), Map())
    kb.setKey("k_int", 77)
    kb.setKey("k_strnum", "99")
    kb.setKey("k_str", "hi")
    kb.setKey("k_bytes", "buffer val".getBytes("UTF-8"))
    kb.setKey("k_float", 87.5)

    assert(kb.getKey("k_int") == 77L)
    assert(kb.getKey("k_strnum") == "99") // stays a string (STRICT ANY)
    assert(kb.getKey("k_str") == "hi")
    assert(kb.getKey("k_bytes").asInstanceOf[Array[Byte]]
      .sameElements("buffer val".getBytes("UTF-8")))
    assert(kb.getKey("k_float") == 87.5)

    assert(kb.countKeys == 5)
    assert(kb.hasKey("k_int") && !kb.hasKey("nope"))
    intercept[NoSuchElementException] { kb.getKey("nope") }
    assert(kb.getKeyOr("nope", 42) == 42)

    kb.setKey("k_int", 78) // upsert overwrites
    assert(kb.getKey("k_int") == 78L)
    assert(kb.countKeys == 5)

    kb.delKey("k_str")
    assert(!kb.hasKey("k_str"))
    intercept[NoSuchElementException] { kb.delKey("k_str") }
    assert(kb.items.map(_._1) ==
      Seq("k_bytes", "k_float", "k_int", "k_strnum"))
    kb.close()
  }

  // ---------------- FIXTURES §7: transactions ----------------
  test("transactions: commit on clean exit, rollback on exception") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = unitProvider(2)
    kb.bulkAddDocs(p)(_.add("committed"))
    val vBefore = kb.meta.version

    // exception inside the scope → nothing persisted, version unchanged
    intercept[RuntimeException] {
      kb.bulkAddDocs(p) { a =>
        a.add("staged-but-lost")
        throw new RuntimeException("boom")
      }
    }
    assert(kb.meta.version == vBefore)
    assert(kb.len == 1)

    // provider failure mid-backfill also rolls back
    val failing = new EmbeddingProvider {
      def name = "fail"; def dim = 2
      def embed(texts: Seq[String]): Seq[Array[Float]] =
        throw new RuntimeException("provider down")
    }
    intercept[RuntimeException] { kb.bulkAddDocs(failing)(_.add("x")) }
    assert(kb.len == 1)

    // adder unusable outside its scope (kb.py:1500)
    var leaked: KbStore.DocAdder = null
    kb.bulkAddDocs(p) { a => leaked = a; a.add("second") }
    intercept[IllegalArgumentException] { leaked.add("too late") }

    // re-open: committed state visible; schema-version check
    val kb2 = KbStore.open(spark, path)
    assert(kb2.len == 2)
    assert(kb2.meta.embedding_params.isEmpty)

    // vacuum removes stale versions, current still readable
    kb2.vacuum()
    assert(kb2.len == 2)
    kb2.close()
  }

  // ---------------- M5: set_doc_embedding (tests/test_kb.py:408-430) ----
  test("set_doc_embedding: clear, replace, rowid-style id reuse") {
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = unitProvider(2)
    kb.bulkAddDocs(p) { a =>
      a.add("first doc"); a.add("second doc"); a.add("third doc")
    }
    kb.bulkDelDocs(Seq(2L))

    // clear doc 1's embedding: row deleted, pointer nulled
    kb.setDocEmbedding(1L, None)
    assert(kb.fetchDoc(1L).emb_id.isEmpty)
    assert(kb.embeddings.collect().map(_.id).toSeq.sorted == Seq(3L))

    // replace doc 3's: old row 3 deleted first, new id = max+1 of the
    // emptied table = 1 (the reference's sqlite rowid reuse, :421-430)
    kb.setDocEmbedding(3L, Some(Array(0f, 1f)))
    assert(kb.embeddings.collect().map(_.id).toSeq == Seq(1L))
    assert(kb.fetchDoc(3L).emb_id.contains(1L))
    assert(kb.embeddings.collect().head.vec.toSeq == Seq(0f, 1f))

    // skip_check_old leaves the old row alone (kb.py:1059 backfill path)
    kb.setDocEmbedding(1L, Some(Array(1f, 0f)), skipCheckOld = true)
    assert(kb.embeddings.collect().map(_.id).toSeq.sorted == Seq(1L, 2L))

    intercept[NoSuchElementException] { kb.setDocEmbedding(99L, None) }
    intercept[NoSuchElementException] {
      kb.setDocEmbedding(99L, Some(Array(1f, 0f)), skipCheckOld = true)
    }
    kb.close()
  }

  // -------- G1: multigraph=false collapse (tests/test_kb.py:626-728) ----
  test("graph export multigraph=false: last edge wins per simple-graph key") {
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = unitProvider(2)
    kb.bulkAddDocs(p) { a =>
      Seq("first doc", "second doc", "third doc", "forth doc", "fifth doc",
        "edge type 1", "edge type 2").foreach(t => a.add(t))
    }
    kb.addEdge(2, 4, 6)
    kb.addEdge(2, 4, 7)
    kb.addEdge(1, 4, 6, weight = Some(0.5))
    kb.addEdge(1, 3, 7, weight = Some(1.5))
    kb.addEdge(2, 3, 6, directed = true)
    kb.addEdge(2, 5, 7, weight = Some(2.5), directed = true)
    kb.delEdge(2L)

    // directed simple graph: 8 distinct (src, dst) pairs (:666-682)
    val (dir, g) = kb.exportGraph(multigraph = false)
    assert(dir)
    val got = g.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSet
    assert(got == Set(
      (1L, 3L, 7L, Some(1.5)), (1L, 4L, 6L, Some(0.5)),
      (2L, 3L, 6L, None), (2L, 4L, 6L, None), (2L, 5L, 7L, Some(2.5)),
      (3L, 1L, 7L, Some(1.5)), (4L, 1L, 6L, Some(0.5)), (4L, 2L, 6L, None)))

    // re-adding a parallel (2,4) edge: the later insertion wins the key
    kb.addEdge(2, 4, 7)
    val (_, g2) = kb.exportGraph(multigraph = false)
    val byKey = g2.collect()
      .map(r => ((r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(byKey((2L, 4L)) == 7L)

    // dropping the directed edges downgrades to an undirected simple
    // graph: the key becomes the unordered pair (:714-728)
    kb.delEdge(5L); kb.delEdge(6L)
    val (dir3, g3) = kb.exportGraph(multigraph = false)
    assert(!dir3)
    val pairs = g3.collect().map { r =>
      val (a, b) = (r.getLong(1), r.getLong(2))
      ((math.min(a, b), math.max(a, b)), r.getLong(3))
    }.toMap
    assert(pairs == Map((2L, 4L) -> 7L, (1L, 4L) -> 6L, (1L, 3L) -> 7L))
    kb.close()
  }

  // -------- KV raise protocol (kb.py:1746-1756) ----
  test("keyval get(key, ExceptionClass) raise protocol") {
    val kb = KbStore.create(spark, freshPath(), Map())
    kb.setKey("a", 1)
    assert(kb.getKeyRaising("a", classOf[IllegalStateException]) == 1L)
    // a lookup-error class re-raises the lookup error itself
    intercept[NoSuchElementException] {
      kb.getKeyRaising("nope", classOf[NoSuchElementException])
    }
    // any other exception class is raised fresh
    intercept[IllegalStateException] {
      kb.getKeyRaising("nope", classOf[IllegalStateException])
    }
    kb.close()
  }

  test("re-embed migration: new provider swaps embeddings atomically") {
    val kb = KbStore.create(spark, freshPath(), Map("provider" -> "keyword"))
    val kw = Embeddings.withMagnitudeCheck(KeywordProvider.fixture)
    kb.bulkAddDocs(kw) { a => a.add("first doc"); a.add("second doc") }
    val before = kb.embeddings.collect().map(e => e.id -> e.vec.toSeq).toMap

    val mock = MockProvider(3)
    kb.reembedAll(mock)
    val after = kb.embeddings.collect().map(e => e.id -> e.vec.toSeq).toMap
    assert(after.keySet == before.keySet)
    assert(after.values.forall(_ == Seq(1.0f, 0.0f, 0.0f)))
    assert(kb.meta.embedding_params == Map("provider" -> "mock"))
    // retrieval consistent under the new provider (all scores equal →
    // tie order: larger emb id first)
    val r = kb.retrieve("anything", 2, mock)
    assert(r.map(_.doc.id) == Seq(2L, 1L))
    kb.close()
  }

  // ---------------- schema migrations (kb.py:841-853 slot) ----------
  test("open applies registered schema migrations; rejects newer stores") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map("provider" -> "mock"))
    kb.bulkAddDocs(MockProvider(3))(_.add("doc one"))
    kb.close()

    def setVersion(v: Int): Unit = {
      val metaFile = java.nio.file.Paths.get(s"$path/_meta.json")
      val json = Files.readString(metaFile).replaceFirst(
        "\"schema_version\": \\d+", s""""schema_version": $v""")
      Files.writeString(metaFile, json)
    }

    // a store from the future is refused outright
    setVersion(KbStore.SchemaVersion + 1)
    intercept[IllegalArgumentException] { KbStore.open(spark, path) }

    // an old store with no registered path fails loudly...
    setVersion(0)
    intercept[IllegalStateException] { KbStore.open(spark, path) }

    // ...and opens cleanly once the upgrade step is registered
    var ran = false
    KbStore.registerMigration(new KbStore.Migration {
      val from = 0
      def apply(spark: org.apache.spark.sql.SparkSession, path: String,
          meta: graft.core.Model.KbMeta): graft.core.Model.KbMeta = {
        ran = true
        meta.copy(schema_version = 1)
      }
    })
    val kb2 = KbStore.open(spark, path)
    assert(ran)
    assert(kb2.meta.schema_version == KbStore.SchemaVersion)
    assert(kb2.len == 1) // data untouched by the meta-only migration
    // the upgraded version is persisted: reopen skips the migration
    ran = false
    KbStore.open(spark, path).close()
    assert(!ran)
    kb2.close()
  }

  test("dataset card: incrementally maintained through every mutation " +
       "kind, O(5 rows) to read, compact-safe") {
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = Embeddings.withMagnitudeCheck(unitProvider(4))
    kb.bulkAddDocs(p) { add => add.add("aaa"); add.add("bbbbb") }
    kb.buildStats()
    def recomputed(): Map[String, Long] = Map(
      "n_docs" -> kb.countDocs, "n_embeddings" -> kb.embeddings.count(),
      "n_edges" -> kb.countEdges, "n_keys" -> kb.countKeys,
      "n_chars" -> kb.docs.toDF()
        .agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.length(
              org.apache.spark.sql.functions.col("text"))),
          org.apache.spark.sql.functions.lit(0L)))
        .collect()(0).getLong(0))
    assert(kb.datasetCard == recomputed())
    assert(kb.datasetCard("n_chars") == 8L)

    // every tracked mutation kind moves the card in its own commit
    kb.bulkAddDocs(p) { add => add.add("cc", noEmbedding = true) }
    assert(kb.datasetCard == recomputed())
    kb.addEdge(1L, 2L, 3L)
    kb.setKey("k1", 7L)
    kb.setKey("k1", 8L) // overwrite: n_keys must NOT double-count
    kb.setKey("k2", "x")
    assert(kb.datasetCard == recomputed())
    kb.delKey("k2")
    kb.updateDocMeta(1L, Some("{\"a\":1}"))
    kb.setDocEmbedding(3L, Some(Array(1.0f, 0f, 0f, 0f)))
    assert(kb.datasetCard == recomputed())
    kb.bulkDelDocs(Seq(1L)) // cascades the edge + embedding row
    assert(kb.datasetCard == recomputed())
    assert(kb.datasetCard("n_edges") == 0L)

    // compact rewrites the tiny stats table with everything else
    kb.compact()
    assert(kb.datasetCard == recomputed())

    // distributed twins maintain it too
    import spark.implicits._
    kb.bulkAddDocsDistributed(
      Seq(("dddd", None: Option[Long], None: Option[String]))
        .toDF("text", "parent_id", "meta"), p)
    assert(kb.datasetCard == recomputed())
    kb.bulkDelDocsDistributed(Seq(2L).toDF("id"))
    assert(kb.datasetCard == recomputed())
    kb.close()
  }

  test("dataset card: absent stats table falls back to a live recompute") {
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = Embeddings.withMagnitudeCheck(unitProvider(4))
    kb.bulkAddDocs(p) { add => add.add("hello world") }
    assert(kb.datasetCard("n_docs") == 1L)
    assert(kb.datasetCard("n_chars") == 11L)
    kb.close()
  }
}
