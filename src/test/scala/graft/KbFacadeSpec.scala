package graft

import graft.core.Kb
import graft.core.Embeddings.KeywordProvider

/** Appendix-A parity: the full reference `KB` method surface driven
  * through the `Kb` facade in one end-to-end scenario.
  */
class KbFacadeSpec extends SparkSpec {

  test("hybridRetrieve: RRF of the lexical and vector tiers, golden fusion") {
    val path = tempDir("graft-hybrid").resolve("kb").toString
    val kb = Kb(spark, path, KeywordProvider.fixture)
    // lexical signal says "second"; vector signal for the query
    // "... second ..." also ranks the second doc first — but the two
    // tiers order the REST differently, which is what fusion arbitrates
    kb.bulkAddDocs { add =>
      add.add("first doc about spark windows")
      add.add("second doc about spark joins and joins")
      add.add("third doc unrelated text")
    }
    kb.buildTextIndex()
    val fused = kb.hybridRetrieve("... second ... joins", 3, k = 3)
    // golden check: recompute RRF from the component lists per the
    // definition (c = 60, ranks 1-based, missing contributes 0)
    val lex = kb.bm25Retrieve("... second ... joins", 3)
    val vec = kb.retrieve("... second ... joins", 3)
    val rLex = lex.zipWithIndex.map { case ((_, d), i) => d.id -> (i + 1) }.toMap
    val rVec = vec.zipWithIndex.map { case (r, i) => r.doc.id -> (i + 1) }.toMap
    val expected = (rLex.keySet ++ rVec.keySet).toSeq
      .map { id =>
        val s = rLex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          rVec.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }
      .sortBy { case (s, id) => (-s, id) }
    assert(fused.map { case (s, d) => (s, d.id) } == expected.take(3))
    // the doc both tiers rank #1 dominates the fusion
    assert(fused.head._2.text.startsWith("second"))
    kb.close()
  }

  test("full KB API surface end-to-end") {
    val path = tempDir("graft-facade").resolve("kb").toString
    val kb = Kb(spark, path, KeywordProvider.fixture)

    // bulk_add_docs
    val ids = kb.bulkAddDocs { add =>
      add.add("first doc")
      add.add("second doc", parentId = Some(1L))
      add.add("third doc")
    }
    assert(ids == Seq(1L, 2L, 3L) && kb.length == 3)

    // retrieve + pairwise
    assert(kb.retrieve("... second ...", 1).head.doc.text == "second doc")
    assert(kb.documentTopPairwiseScores(1).nonEmpty)

    // bulk_query_docs surface
    kb.bulkQueryDocs { q =>
      assert(q.count == 3)
      assert(q.queryDoc(2L).level == 1)
      assert(q.queryChildren(1L).map(_.id) == Seq(2L))
      assert(q.queryLevel(0).map(_.id) == Seq(1L, 3L))
      assert(q.dfsTraversal().map(_.id) == Seq(1L, 2L, 3L))
      q.updateDocMeta(3L, Some("""{"k": 1}"""))
      assert(q.queryDoc(3L).meta.contains("""{"k": 1}"""))
      val (_, vec) = q.queryDocWithEmbedding(1L)
      assert(vec.exists(_.length == 3))
    }

    // bulk_graph_update surface
    kb.bulkGraphUpdate { g =>
      g.addEdge(1L, 2L, 3L, weight = Some(0.5))
      g.addDirectedEdge(2L, 3L, 1L)
      assert(g.countEdges == 2)
      val (anyDirected, edges) = g.buildGraph()
      assert(anyDirected && edges.count() == 3) // undirected expanded
      g.delEdge(2L)
      assert(g.countEdges == 1)
    }

    // bulk_keyval_update surface
    kb.bulkKeyvalUpdate { kv =>
      kv.set("a", 1)
      kv.set("b", "x")
      assert(kv.has("a") && !kv.has("z"))
      assert(kv.get("a") == 1L && kv.get("z", "dflt") == "dflt")
      assert(kv.count == 2 && kv.items.map(_._1) == Seq("a", "b"))
      kv.remove("b")
      assert(kv.count == 1)
    }

    // bulk_del_docs + close(vacuum, also_gzip)
    kb.bulkDelDocs(Seq(2L))
    assert(kb.length == 2)
    kb.close(vacuum = true, alsoGzip = true)

    // re-open with the same provider: state intact
    val kb2 = Kb(spark, path, KeywordProvider.fixture)
    assert(kb2.length == 2)
    assert(kb2.retrieve("... third ...", 1).head.doc.text == "third doc")
    kb2.close()
  }

  test("force_fresh_db truncates (tests/test_kb.py:1723-1735)") {
    val path = tempDir("graft-fresh").resolve("kb").toString
    val kb = Kb(spark, path, KeywordProvider.fixture)
    kb.bulkAddDocs(_.add("first doc"))
    kb.close()
    val kb2 = Kb(spark, path, KeywordProvider.fixture, forceFresh = true)
    assert(kb2.length == 0)
    kb2.close()
  }
}
