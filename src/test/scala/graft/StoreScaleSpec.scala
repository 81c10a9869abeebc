package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.KbStore

/** Scale-posture tests for the store's mutation and maintenance paths:
  * edge-uniqueness must not materialize the edges table on the driver
  * (reference M8/M9, `kb.py:634-679`), and vacuum must not delete the
  * version an in-flight reader resolved (retention extension over
  * `kb.py:831-834`).
  */
class StoreScaleSpec extends SparkSpec {

  private def freshPath(): String =
    tempDir("graft-kb").resolve("kb").toString

  test("delta commits: a 1-doc mutation writes O(batch) bytes, never the table") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    def dirBytes(d: String): Long = {
      val root = Paths.get(d)
      if (!Files.isDirectory(root)) 0L
      else {
        val walk = Files.walk(root)
        try walk.filter(f => Files.isRegularFile(f))
          .mapToLong(f => Files.size(f)).sum()
        finally walk.close()
      }
    }
    // seed batch — itself a delta segment on the empty v0 base
    kb.bulkAddDocs(p) { a =>
      (0 until 3000).foreach(i =>
        a.add(s"seed document number $i with distinctive words ${i * 7} " +
          s"and ${i * 13} padding the row to a realistic length"))
    }
    val seedBytes = dirBytes(s"$path/docs/v1")
    assert(kb.meta.table_deltas("docs") == Seq(1L))

    // THE property this round exists for: a 1-doc add stages one tiny
    // segment — write volume is O(batch), not O(table)
    kb.bulkAddDocs(p)(_.add("one more document"))
    val addBytes = dirBytes(s"$path/docs/v2")
    assert(addBytes > 0 && addBytes < seedBytes / 5,
      s"1-doc add wrote $addBytes bytes vs $seedBytes for the 3000-doc seed")
    assert(kb.countDocs == 3001)
    assert(kb.meta.table_deltas("docs") == Seq(1L, 2L))
    assert(kb.meta.table_bases("docs") == 0L)

    // a 1-doc delete writes tombstone keys only
    kb.bulkDelDocs(Seq(3001L))
    val delBytes = dirBytes(s"$path/docs/v3")
    assert(delBytes > 0 && delBytes < seedBytes / 5,
      s"1-doc delete wrote $delBytes bytes")
    assert(kb.countDocs == 3000)

    // point updates are one-row patches with exact read-back
    kb.updateDocMeta(5L, Some("annotated"))
    assert(kb.fetchDoc(5L).meta.contains("annotated"))
    assert(kb.fetchDoc(5L).text.startsWith("seed document number 4 "))

    // keyval fold order: tombstone then re-add resurrects the key
    kb.setKey("k", 1L)
    kb.delKey("k")
    assert(!kb.hasKey("k"))
    kb.setKey("k", 2L)
    assert(kb.getKey("k") == 2L)

    // compact collapses every chain; state identical afterwards
    kb.compact(numFiles = 2)
    assert(kb.meta.table_deltas.isEmpty && kb.meta.table_bases.isEmpty)
    assert(kb.countDocs == 3000)
    assert(kb.getKey("k") == 2L)
    assert(kb.fetchDoc(5L).meta.contains("annotated"))
    val r = kb.retrieve("seed document number 17 ", 1, p)
    assert(r.nonEmpty)
    kb.close()
  }

  test("delta chain overflow: minor compaction merges the chain, base untouched") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    kb.setKey("stable", 0L)
    (1 to 30).foreach(i => kb.setKey(s"k$i", i.toLong))
    kb.delKey("k5")
    assert(kb.meta.table_deltas("keyval").size == KbStore.DeltaChainLimit)
    // the 33rd delta commit overflows the chain: LSM-style MINOR
    // compaction merges the 32 segments + this patch into ONE delta —
    // the base is never read or rewritten (it stays v0)
    kb.setKey("k3", 999L)
    assert(kb.meta.table_deltas("keyval") == Seq(kb.meta.version))
    assert(kb.meta.table_bases("keyval") == 0L)
    // every net effect survives the merge: upserts, the delete, the
    // re-set, the untouched key
    assert(kb.getKey("stable") == 0L)
    assert(kb.getKey("k3") == 999L)
    assert(!kb.hasKey("k5"))
    assert(kb.getKey("k30") == 30L)
    // and the chain regrows on top of the merged segment
    kb.setKey("post", 1L)
    assert(kb.meta.table_deltas("keyval").size == 2)
    assert(kb.getKey("post") == 1L && kb.getKey("k3") == 999L)
    kb.close()
  }

  test("time travel + changelog: snapshot reads, segment-backed steps, replay identity") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    kb.setKey("a", 1L) // v1
    kb.setKey("b", 2L) // v2
    kb.delKey("a")     // v3
    kb.setKey("b", 3L) // v4: upsert = remove+add of the same key
    val vHead = kb.meta.version
    assert(vHead == 4L && kb.snapshotVersions.contains(0L))

    // time travel: the v2 snapshot still has both keys
    val atV2 = kb.readTableAt("keyval", 2L)
    assert(atV2.count() == 2)
    assert(kb.readTableAt("keyval", 3L).count() == 1)

    // changelog (v2, head]: two steps, each O(batch) segment-backed
    val steps = kb.tableChangelog("keyval", 2L)
    assert(steps.map(_.version) == Seq(3L, 4L))
    assert(steps(0).added.isEmpty)
    assert(steps(0).removedKeys.collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(steps(1).removedKeys.collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(steps(1).added.select("key").collect().map(_.getString(0)).toSeq
      == Seq("b"))

    // replay identity: snapshot(v2) + steps == head
    var rolled = atV2
    steps.foreach { s =>
      rolled = rolled.join(s.removedKeys, Seq("key"), "left_anti")
        .unionByName(s.added)
    }
    val head = kb.readTableForSpec("keyval")
    assert(rolled.except(head).isEmpty && head.except(rolled).isEmpty)

    // a table untouched over the range contributes no steps
    assert(kb.tableChangelog("docs", 2L, vHead).isEmpty)

    // compact moves the base: the step snapshot-diffs to zero changes
    kb.compact()
    val afterCompact = kb.tableChangelog("keyval", vHead)
    assert(afterCompact.map(_.version) == Seq(vHead + 1))
    assert(afterCompact.head.added.isEmpty &&
      afterCompact.head.removedKeys.isEmpty)

    // pruned history is an error, not a wrong answer
    kb.vacuum(retain = 0)
    intercept[IllegalStateException](kb.readTableAt("keyval", 2L))
    kb.close()
  }

  test("addEdges checks (src,dst,rel) uniqueness against a 1M-row edge table without collecting it") {
    import spark.implicits._
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    // Overwrite the v0 edges table with 1M synthetic edges — a table that
    // at real scale must never be collect()ed into the driver. The
    // uniqueness probe is a broadcast left-semi join of this table
    // against the new-key set, so only the (≤1 row) clash ever leaves
    // the executors.
    spark.range(1L, 1000001L)
      .select($"id", $"id".as("src"), ($"id" + 1L).as("dst"),
        lit(1L).as("rel"), lit(null).cast("double").as("weight"),
        lit(false).as("directed"))
      .write.mode("overwrite").parquet(s"$path/edges/v0")

    // a clash anywhere in the million rows is detected
    intercept[IllegalStateException] { kb.addEdge(500000L, 500001L, 1L) }
    // duplicate inside one batch is detected before touching the table
    intercept[IllegalStateException] {
      kb.addEdges(Seq(
        (7L, 8L, 9L, None, false), (7L, 8L, 9L, Some(1.0), true)))
    }
    // a non-clashing key appends
    kb.addEdge(42L, 43L, 2L)
    assert(kb.edges.filter($"src" === 42L && $"rel" === 2L).count() == 1L)
    kb.close()
  }

  test("distributed bulk delete: set semantics, guards, full cascade") {
    import spark.implicits._
    import graft.core.Embeddings.MockProvider
    val kb = KbStore.create(spark, freshPath(), Map())
    val p = MockProvider(4)
    kb.bulkAddDocs(p) { a =>
      a.add("root")                       // id 1
      a.add("child", parentId = Some(1L)) // id 2
      a.add("leaf", parentId = Some(2L))  // id 3
      a.add("solo")                       // id 4
      a.add("other")                      // id 5
    }
    kb.addEdge(1L, 4L, 5L)
    kb.addEdge(4L, 5L, 3L)

    // deleting a parent while its child survives fails
    intercept[IllegalStateException] {
      kb.bulkDelDocsDistributed(Seq(2L).toDF("id"))
    }
    // a non-existent id fails
    intercept[NoSuchElementException] {
      kb.bulkDelDocsDistributed(Seq(99L).toDF("id"))
    }
    assert(kb.len == 5)

    // parent + child + leaf in ONE set is fine (set semantics), and the
    // edge cascade removes every edge touching a deleted id in any role
    kb.bulkDelDocsDistributed(Seq(1L, 2L, 3L).toDF("id"))
    assert(kb.docs.collect().map(_.id).sorted.toSeq == Seq(4L, 5L))
    assert(kb.embeddings.collect().map(_.id).sorted.toSeq == Seq(4L, 5L))
    // edge (1,4,5) died with doc 1; edge (4,5,3) died via rel = 3
    assert(kb.countEdges == 0)
    kb.close()
  }

  test("persistent ANN index: build, exact at full probe, invalidation, vacuum reclaim") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    // deterministic per-text unit vectors (d=8) — a corpus with real
    // geometric structure, unlike the constant MockProvider
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 120).foreach(i => a.add(s"document number $i"))
    }
    assert(!kb.hasAnnIndex)
    intercept[IllegalArgumentException] { kb.annRetrieve("q", 3, p) }

    kb.buildAnnIndex(nlist = 8, iters = 2)
    assert(kb.hasAnnIndex)
    // probing every list degenerates to exact retrieval
    val exact = kb.retrieve("query text", 5, p).map(_.doc.id).toSet
    val annAll = kb.annRetrieve("query text", 5, p, nProbe = 8)
    assert(annAll.size == 5 && annAll.map(_.doc.id).toSet == exact)
    // partial probe still returns ranked, well-formed results
    val ann3 = kb.annRetrieve("query text", 3, p, nProbe = 3)
    assert(ann3.size == 3 &&
      ann3.map(_.score) == ann3.map(_.score).sorted.reverse)
    // the packed probe path is bit-identical to the interpreted array
    // twin (ivfTopK) at the same partial probe — same probe selection,
    // same sequential double fold, same rounding and tie order
    locally {
      import spark.implicits._
      val qv = p.embed(Seq("query text")).head
      val qdf = Seq(Tuple1(qv.map(_.toDouble))).toDF("qv")
      val embDf = kb.embeddings.toDF()
        .select($"id".as("vec_id"), $"vec".as("embedding"))
      val twin = graft.ops.SimilaritySearch.ivfTopK(
          kb.readTableForSpec(KbStore.IvfAssignTable).join(embDf, "vec_id"),
          kb.readTableForSpec(KbStore.IvfCentroidsTable), qdf, 3, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(ann3.map(r => (r.doc.emb_id.get, r.score)) == twin)
    }

    // filtered retrieval through the persisted family: at full probe it
    // equals post-filtering the exact retrieval; the predicate runs
    // inside the probe (semi-join before the dot kernel), never as a
    // client-side filter of scored results
    locally {
      import org.apache.spark.sql.functions.col
      val pred = col("id") % 3L === 0L
      val full = kb.annRetrieve("query text", 200, p, nProbe = 8)
      val want = full.filter(_.doc.id % 3 == 0).take(5)
        .map(r => (r.doc.id, r.score))
      val got = kb.annRetrieveFiltered("query text", 5, p, pred, nProbe = 8)
        .map(r => (r.doc.id, r.score))
      assert(got == want)
      assert(got.nonEmpty && got.forall(_._1 % 3 == 0))
      // a predicate matching nothing returns empty, not an error
      assert(kb.annRetrieveFiltered("query text", 5, p,
        col("id") < 0L, nProbe = 8).isEmpty)
    }

    // batch knn JOIN through the persisted assignment: at full probe
    // it equals the exact brute-force join on the same packed vectors
    locally {
      import spark.implicits._
      val queries = kb.embeddings.toDF()
        .where($"id" <= 10L).select($"id", $"vec")
      val got = kb.knnJoin(queries, k = 3, nProbe = 8)
        .orderBy($"qid", $"rk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val arrAll = kb.embeddings.toDF()
        .select($"id".as("vec_id"), $"vec".as("embedding"))
      val brute = graft.ops.SimilaritySearch.knnJoin(
          arrAll.where($"vec_id" <= 10L), arrAll, k = 3)
        .orderBy($"qid", $"rk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == brute)
      // partial probe stays well-formed: k rows per query, ranked
      val part = kb.knnJoin(queries, k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
      assert(part.groupBy(_._1).values.forall(_.size == 3))
    }

    // adding docs leaves the index STALE (assignments still valid) —
    // it refuses to serve until the incremental refresh catches it up
    kb.bulkAddDocs(p)(_.add("another doc"))
    assert(kb.annIndexState == KbStore.AnnStale && !kb.hasAnnIndex)
    intercept[IllegalArgumentException] { kb.annRetrieve("q", 3, p) }
    kb.refreshAnnIndex()
    assert(kb.annIndexState == KbStore.AnnCurrent)
    assert(kb.annRetrieve("another doc", 1, p, nProbe = 8)
      .head.doc.text == "another doc")

    // deleting docs also only stales it; refresh drops the assignment
    kb.bulkDelDocs(Seq(121L)) // "another doc"
    assert(kb.annIndexState == KbStore.AnnStale)
    kb.refreshAnnIndex()
    val all = kb.annRetrieve("query text", 200, p, nProbe = 8)
    assert(all.size == 120 && !all.exists(_.doc.text == "another doc"))

    // REPLACING a vector invalidates outright: stale assignments would
    // lie, so only a rebuild recovers, and vacuum reclaims the orphans
    kb.setDocEmbedding(1L, Some(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    assert(kb.annIndexState == KbStore.AnnNone)
    intercept[IllegalStateException] { kb.refreshAnnIndex() }
    assert(Files.isDirectory(Paths.get(s"$path/ivf_assign")))
    // default retain=1 protects a reader of the PRIOR manifest (which
    // still references the index); dropping retention reclaims it
    kb.vacuum()
    assert(Files.isDirectory(Paths.get(s"$path/ivf_assign")))
    kb.vacuum(retain = 0)
    assert(!Files.isDirectory(Paths.get(s"$path/ivf_assign")))
    assert(!Files.isDirectory(Paths.get(s"$path/ivf_centroids")))

    // the packed (1M-scale) build path produces an equivalent index:
    // force it with packedPathAbove = 1 and re-check exactness at full
    // probe against the exact retrieve
    kb.buildAnnIndex(nlist = 8, iters = 2, packedPathAbove = 1L)
    assert(kb.hasAnnIndex)
    val exact2 = kb.retrieve("query text", 5, p).map(_.doc.id).toSet
    val annPacked = kb.annRetrieve("query text", 5, p, nProbe = 8)
    assert(annPacked.size == 5 && annPacked.map(_.doc.id).toSet == exact2)
    kb.close()
  }

  test("persistent int8 tier: build, exact at full rerank, stale/refresh, invalidation") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 120).foreach(i => a.add(s"document number $i"))
    }
    assert(!kb.hasSqIndex)
    intercept[IllegalArgumentException] { kb.sqRetrieve("q", 3, p) }

    kb.buildSqIndex()
    assert(kb.hasSqIndex)
    // rerank >= corpus degenerates to exact retrieval
    val exact = kb.retrieve("query text", 5, p).map(_.doc.id).toSet
    val sqAll = kb.sqRetrieve("query text", 5, p, rerank = 200)
    assert(sqAll.size == 5 && sqAll.map(_.doc.id).toSet == exact)
    // the default candidate budget still returns well-formed ranked rows
    val sq3 = kb.sqRetrieve("query text", 3, p)
    assert(sq3.size == 3 && sq3.map(_.score) == sq3.map(_.score).sorted.reverse)

    // adds only stale the codes; incremental refresh catches up
    kb.bulkAddDocs(p)(_.add("another doc"))
    assert(kb.sqIndexState == KbStore.AnnStale && !kb.hasSqIndex)
    intercept[IllegalArgumentException] { kb.sqRetrieve("q", 3, p) }
    kb.refreshSqIndex()
    assert(kb.sqIndexState == KbStore.AnnCurrent)
    assert(kb.sqRetrieve("another doc", 1, p, rerank = 200)
      .head.doc.text == "another doc")

    // deletes stale it too; refresh drops the dead codes
    kb.bulkDelDocs(Seq(121L))
    assert(kb.sqIndexState == KbStore.AnnStale)
    kb.refreshSqIndex()
    val all = kb.sqRetrieve("query text", 200, p, rerank = 500)
    assert(all.size == 120 && !all.exists(_.doc.text == "another doc"))

    // vector replacement invalidates outright; vacuum reclaims the dir.
    // The ANN family is untouched throughout (never built here)
    kb.setDocEmbedding(1L, Some(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    assert(kb.sqIndexState == KbStore.AnnNone)
    intercept[IllegalStateException] { kb.refreshSqIndex() }
    assert(Files.isDirectory(Paths.get(s"$path/sq_codes")))
    kb.vacuum() // retain=1: the prior manifest still references it
    assert(Files.isDirectory(Paths.get(s"$path/sq_codes")))
    kb.vacuum(retain = 0)
    assert(!Files.isDirectory(Paths.get(s"$path/sq_codes")))
    kb.close()
  }

  test("persistent IVF-PQ tier: build, exact at full probe+rerank, stale/refresh, compact hold-back, invalidation") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 120).foreach(i => a.add(s"document number $i"))
    }
    assert(kb.pqIndexState == KbStore.AnnNone)
    intercept[IllegalArgumentException] { kb.pqRetrieve("q", 3, p) }

    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    assert(kb.hasPqIndex)
    // full probe + corpus-sized rerank degenerates to exact retrieval
    val exact = kb.retrieve("query text", 5, p)
    val pq = kb.pqRetrieve("query text", 5, p, nProbe = 4, rerank = 500)
    assert(pq.map(_.doc.id) == exact.map(_.doc.id))
    val exactById = exact.map(r => r.doc.id -> r.score).toMap
    pq.foreach(r => assert(math.abs(r.score - exactById(r.doc.id)) < 1e-6))
    // full probe with a SMALL rerank: the ADC candidate set still
    // recovers most of the true top-5 (recall gate)
    val adc = kb.pqRetrieve("query text", 5, p, nProbe = 4, rerank = 20)
    val recall = adc.map(_.doc.id).toSet
      .intersect(exact.map(_.doc.id).toSet).size / 5.0
    assert(recall >= 0.8, s"IVF-PQ recall@5 $recall")

    // adds stale it (refuse to serve); refresh encodes the catch-up
    // batch against the STORED centroids/codebooks
    kb.bulkAddDocs(p)(_.add("another doc"))
    assert(kb.pqIndexState == KbStore.AnnStale && !kb.hasPqIndex)
    intercept[IllegalArgumentException] { kb.pqRetrieve("q", 3, p) }
    kb.refreshPqIndex()
    assert(kb.pqIndexState == KbStore.AnnCurrent)
    assert(kb.pqRetrieve("another doc", 1, p, nProbe = 4, rerank = 500)
      .head.doc.text == "another doc")

    // deletes stale it; refresh tombstones the dead codes
    kb.bulkDelDocs(Seq(121L))
    assert(kb.pqIndexState == KbStore.AnnStale)
    kb.refreshPqIndex()
    val all = kb.pqRetrieve("query text", 200, p, nProbe = 4, rerank = 500)
    assert(all.size == 120 && !all.exists(_.doc.text == "another doc"))

    // compact holds a STALE pq family back instead of silently
    // promoting it; its refresh then recovers it
    kb.bulkAddDocs(p)(_.add("late doc"))
    assert(kb.pqIndexState == KbStore.AnnStale)
    kb.compact()
    assert(kb.pqIndexState == KbStore.AnnStale)
    kb.refreshPqIndex()
    assert(kb.pqIndexState == KbStore.AnnCurrent)
    assert(kb.pqRetrieve("late doc", 1, p, nProbe = 4, rerank = 500)
      .head.doc.text == "late doc")

    // vector replacement invalidates outright; vacuum respects the
    // retained prior manifest, then reclaims at retain=0
    kb.setDocEmbedding(1L, Some(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    assert(kb.pqIndexState == KbStore.AnnNone)
    intercept[IllegalStateException] { kb.refreshPqIndex() }
    assert(Files.isDirectory(Paths.get(s"$path/ivfpq_codes")))
    kb.vacuum()
    assert(Files.isDirectory(Paths.get(s"$path/ivfpq_codes")))
    kb.vacuum(retain = 0)
    assert(!Files.isDirectory(Paths.get(s"$path/ivfpq_codes")))
    assert(!Files.isDirectory(Paths.get(s"$path/ivfpq_centroids")))
    assert(!Files.isDirectory(Paths.get(s"$path/ivfpq_books")))

    // a rebuild recovers the tier after invalidation
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    assert(kb.hasPqIndex)
    assert(kb.pqRetrieve("query text", 3, p, nProbe = 4, rerank = 500).size == 3)
    kb.close()
  }

  test("persistent lexical (BM25) tier: build, retrieve, stale/refresh, survives vector replacement") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      a.add("spark shuffles the big table")
      a.add("the small table broadcasts cleanly")
      a.add("spark spark spark everywhere")
      (0 until 20).foreach(i => a.add(s"filler document number $i"))
    }
    assert(!kb.hasTextIndex)
    intercept[IllegalArgumentException] { kb.bm25Retrieve("spark", 3) }

    kb.buildTextIndex()
    assert(kb.hasTextIndex)
    // postings persist partitioned by term-hash bucket, so retrieval
    // prunes to the query terms' partitions instead of scanning all
    val bucketed = Files.walk(Paths.get(s"$path/text_postings"))
    try assert(bucketed.anyMatch(p =>
      p.getFileName.toString.startsWith("bucket=")))
    finally bucketed.close()
    // matching both query terms beats tf-stacking one (tf saturation)
    val hits = kb.bm25Retrieve("spark table", 5)
    assert(hits.nonEmpty)
    assert(hits.head._2.text == "spark shuffles the big table")
    assert(hits.map(_._1) == hits.map(_._1).sorted.reverse)
    // single-term query: raw tf (and the shorter doc) wins
    assert(kb.bm25Retrieve("spark", 2)
      .head._2.text == "spark spark spark everywhere")
    // a term absent from the corpus contributes nothing; unknown-only
    // queries return empty
    assert(kb.bm25Retrieve("zzz qqq", 3).isEmpty)

    // RM3 expansion rung over the same persisted (bucket-pruned)
    // postings: exact parity with the ops-level composition on the
    // identical corpus — the store path's three pruned scans change
    // nothing about the result
    val rm3Store = kb.rm3Retrieve("spark table", 5, fbDocs = 3,
        fbTerms = 4).map { case (s, d) => (d.id, s) }
    assert(rm3Store.nonEmpty)
    val corpusDf = kb.docs.toDF()
      .select(org.apache.spark.sql.functions.col("id").as("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val rm3Ops = graft.ops.TextRetrieval.rm3TopK(corpusDf,
        graft.ops.TextRetrieval.tokenizeQuery("spark table",
          unicode = false), k = 5, fbDocs = 3, fbTerms = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rm3Store == rm3Ops.toSeq,
      s"store $rm3Store vs ops ${rm3Ops.toSeq}")

    // adds stale it; refresh is incremental and then serves the new doc
    kb.bulkAddDocs(p)(_.add("fresh zebra document"))
    assert(kb.textIndexState == KbStore.AnnStale)
    intercept[IllegalArgumentException] { kb.bm25Retrieve("zebra", 1) }
    kb.refreshTextIndex()
    assert(kb.textIndexState == KbStore.AnnCurrent)
    assert(kb.bm25Retrieve("zebra", 1).head._2.text == "fresh zebra document")

    // deletes stale it; refresh drops the dead postings
    val zebraId = kb.bm25Retrieve("zebra", 1).head._2.id
    kb.bulkDelDocs(Seq(zebraId))
    assert(kb.textIndexState == KbStore.AnnStale)
    kb.refreshTextIndex()
    assert(kb.bm25Retrieve("zebra", 1).isEmpty)

    // a routine compact keeps the postings' bucket partition layout
    // (vacuum to retain only the compacted version, then the buckets we
    // find must be the new version's)
    kb.compact()
    kb.vacuum(retain = 0)
    assert(kb.textIndexState == KbStore.AnnCurrent)
    val bucketed2 = Files.walk(Paths.get(s"$path/text_postings"))
    try assert(bucketed2.anyMatch(p =>
      p.getFileName.toString.startsWith("bucket=")))
    finally bucketed2.close()
    assert(kb.bm25Retrieve("spark", 2).nonEmpty)

    // REPLACING a vector must NOT invalidate the text tier (it indexes
    // text, not vectors): at worst stale (cheap refresh), never None
    kb.setDocEmbedding(1L, Some(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    assert(kb.textIndexState != KbStore.AnnNone)
    if (kb.textIndexState == KbStore.AnnStale) kb.refreshTextIndex()
    assert(kb.bm25Retrieve("broadcasts", 1)
      .head._2.text == "the small table broadcasts cleanly")
    kb.close()
  }

  test("lexical tier unicode mode: tokenizer persists in the manifest; query and refresh match it") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      a.add("The JVM heap, explained!")
      a.add("gardening tips; tomatoes & basil")
    }
    kb.buildTextIndex(unicode = true)
    // cased/punctuated queries normalize to the indexed terms
    assert(kb.bm25Retrieve("Heap?", 1).head._2.text.contains("JVM"))
    // the flag survives the manifest round-trip in a fresh open
    val kb2 = KbStore.open(spark, path)
    assert(kb2.bm25Retrieve("TOMATOES!", 1).head._2.text.contains("gardening"))
    // the refresh catch-up batch tokenizes the way the build did
    kb2.bulkAddDocs(p)(_.add("Quantum; entanglement demystified."))
    kb2.refreshTextIndex()
    assert(kb2.bm25Retrieve("entanglement", 1)
      .head._2.text.contains("Quantum"))
    kb2.close()
    kb.close()
  }

  test("compact: per-family staleness — stale SQ tier held back while current ANN rides along") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a => (0 until 40).foreach(i => a.add(s"doc $i")) }
    kb.buildSqIndex()
    kb.buildTextIndex()
    kb.buildDedupIndex()
    kb.bulkAddDocs(p)(_.add("late"))  // sq, text and dedup go stale
    kb.buildAnnIndex(nlist = 4, iters = 1) // ann built AFTER -> current
    assert(kb.sqIndexState == KbStore.AnnStale)
    assert(kb.annIndexState == KbStore.AnnCurrent)
    assert(kb.textIndexState == KbStore.AnnStale)
    assert(kb.dedupIndexState == KbStore.AnnStale)
    // compact: the current ANN family rides along (stays current), the
    // stale SQ family is held back (stays stale, not silently promoted)
    kb.compact()
    assert(kb.annIndexState == KbStore.AnnCurrent)
    assert(kb.sqIndexState == KbStore.AnnStale)
    // the docs-keyed families are held back the same way
    assert(kb.textIndexState == KbStore.AnnStale)
    assert(kb.dedupIndexState == KbStore.AnnStale)
    kb.refreshSqIndex()
    assert(kb.sqIndexState == KbStore.AnnCurrent)
    assert(kb.sqRetrieve("late", 1, p, rerank = 100).head.doc.text == "late")
    kb.refreshTextIndex()
    kb.refreshDedupIndex()
    assert(kb.textIndexState == KbStore.AnnCurrent)
    assert(kb.dedupIndexState == KbStore.AnnCurrent)
    assert(kb.bm25Retrieve("late", 1).head._2.text == "late")
    val docIds = kb.docs.collect().map(_.id).toSet
    assert(kb.dedupBands.select(col("doc_id")).distinct().collect()
      .map(_.getLong(0)).toSet == docIds)
    kb.close()
  }

  test("compactZordered: docs rewritten into disjoint z-range files, " +
      "read-back identical, store machinery intact") {
    import graft.core.Embeddings.EmbeddingProvider
    import graft.ops.Layout
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 2000).foreach(i => a.add(s"layout document $i"))
    }
    val before = kb.docs.collect().map(_.id).sorted.toSeq
    kb.compactZordered("docs", Seq("level", "id"), bits = 8, numFiles = 4)
    // data unchanged through the layout rewrite
    val after = kb.docs.collect().map(_.id).sorted.toSeq
    assert(after == before)
    // each written file owns a disjoint range of the uniform z-key
    val docsDir = s"$path/docs/v${kb.meta.table_versions("docs")}"
    val back = Layout.withZColumn(
      spark.read.parquet(docsDir), bits = 8, Seq("level", "id"))
    val ranges = back.select(input_file_name().as("f"), col("__z"))
      .groupBy(col("f"))
      .agg(min(col("__z")).as("lo"), max(col("__z")).as("hi"))
      .orderBy(col("lo"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1, "expected multiple z-range files")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    // ...and the rewrite went through the normal commit path: a
    // subsequent mutation + point lookup still work
    kb.bulkAddDocs(p)(_.add("after layout"))
    assert(kb.docs.collect().length == 2001)
    kb.close()
  }

  test("compact with a STALE ANN index keeps its pointers; refresh then recovers it") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 60).foreach(i => a.add(s"doc $i"))
    }
    kb.buildAnnIndex(nlist = 4, iters = 2)
    kb.bulkAddDocs(p)(_.add("late arrival")) // index goes stale
    assert(kb.annIndexState == KbStore.AnnStale)
    // compact must NOT invalidate: the rewrite touches `embeddings` but
    // replaces no vectors, so the stale index's pointers survive and the
    // incremental refresh (not a full rebuild) recovers it
    kb.compact()
    assert(kb.annIndexState == KbStore.AnnStale)
    kb.refreshAnnIndex()
    assert(kb.annIndexState == KbStore.AnnCurrent)
    assert(kb.annRetrieve("late arrival", 1, p, nProbe = 4)
      .head.doc.text == "late arrival")
    // and a compact while CURRENT keeps it current (index rides along)
    kb.compact()
    assert(kb.annIndexState == KbStore.AnnCurrent)
    kb.close()
  }

  test("vacuum's orphan sweep spares foreign dirs under the store root") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    kb.setKey("a", 1L)
    // a streaming checkpoint (nested non-v<N> layout) and a scratch dir
    // with a plain file — neither laid out as store tables, neither ours
    Files.createDirectories(Paths.get(s"$path/_checkpoint/offsets"))
    Files.write(Paths.get(s"$path/_checkpoint/offsets/0"),
      "meta".getBytes)
    Files.createDirectories(Paths.get(s"$path/backup"))
    Files.write(Paths.get(s"$path/backup/dump.txt"), "x".getBytes)
    // a true orphan: versioned-table layout with no manifest pointer
    Files.createDirectories(Paths.get(s"$path/old_table/v3"))
    kb.vacuum()
    assert(Files.exists(Paths.get(s"$path/_checkpoint/offsets/0")))
    assert(Files.exists(Paths.get(s"$path/backup/dump.txt")))
    assert(!Files.isDirectory(Paths.get(s"$path/old_table")))
    assert(kb.hasKey("a"))
    kb.close()
  }

  test("vacuum retains the prior manifest's chain so an in-flight reader survives a commit") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    kb.setKey("a", 1L) // keyval delta v1 on base v0
    kb.setKey("b", 2L) // keyval delta v2
    // a reader resolves the pre-compact state now, lazily — its scan
    // (a fold over base v0 + deltas v1, v2) runs later
    val reader = kb.keyval.toDF()
    kb.compact() // full rewrite at v3; the chain is now the PRIOR state
    kb.vacuum() // default retain=1: the prior manifest keeps v0..v2 alive
    assert(Files.isDirectory(Paths.get(s"$path/keyval/v0")))
    assert(Files.isDirectory(Paths.get(s"$path/keyval/v1")))
    assert(Files.isDirectory(Paths.get(s"$path/keyval/v2")))
    assert(reader.count() == 2L) // the in-flight reader still completes
    assert(kb.hasKey("a") && kb.hasKey("b"))
    // retain=0 reclaims everything but the committed state
    kb.vacuum(retain = 0)
    assert(!Files.isDirectory(Paths.get(s"$path/keyval/v0")))
    assert(!Files.isDirectory(Paths.get(s"$path/keyval/v1")))
    assert(!Files.isDirectory(Paths.get(s"$path/keyval/v2")))
    assert(Files.isDirectory(Paths.get(s"$path/keyval/v3")))
    assert(kb.hasKey("a") && kb.hasKey("b"))

    // a staged-but-never-published version (crashed commit) is NEWER
    // than the manifest; vacuum always reclaims it
    Files.createDirectories(Paths.get(s"$path/keyval/v9"))
    kb.vacuum()
    assert(!Files.isDirectory(Paths.get(s"$path/keyval/v9")))
    assert(kb.hasKey("b"))
    kb.close()
  }

  test("vacuum sweep: signed-version and empty foreign dirs are both spared") {
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    kb.setKey("a", 1L)
    // "v+3" parses as 3 via toLongOption, but it is NOT store layout —
    // the digits-only ownership check must spare the foreign dir
    Files.createDirectories(Paths.get(s"$path/foreign/v+3"))
    // an empty dir could be a foreign tool's freshly-mkdir'd dir about
    // to be populated — never claimed (the interrupted-commit empty dir
    // is an accepted, bounded leak)
    Files.createDirectories(Paths.get(s"$path/just_made"))
    // a signed-version dir INSIDE a known table dir is not store layout
    // either — "v+3" parses as 3 via toLongOption but the per-table
    // sweep's digits-only check must spare it
    Files.createDirectories(Paths.get(s"$path/keyval/v+3"))
    kb.vacuum()
    assert(Files.isDirectory(Paths.get(s"$path/foreign/v+3")))
    assert(Files.isDirectory(Paths.get(s"$path/just_made")))
    assert(Files.isDirectory(Paths.get(s"$path/keyval/v+3")))
    assert(kb.hasKey("a"))
    kb.close()
  }

  test("manifest CAS: a stale second writer's commit errors instead of last-writer-wins") {
    val path = freshPath()
    val a = KbStore.create(spark, path, Map())
    a.setKey("base", 0L)
    val b = KbStore.open(spark, path) // snapshots the same manifest
    a.setKey("from_a", 1L) // A publishes; on-disk version moves
    val e = intercept[java.util.ConcurrentModificationException] {
      b.setKey("from_b", 2L) // B's snapshot is stale — must fail loudly
    }
    assert(e.getMessage.contains("concurrent writer"))
    // A's commit survives untouched; B's staged dirs were rolled back
    val fresh = KbStore.open(spark, path)
    assert(fresh.hasKey("from_a"))
    assert(!fresh.hasKey("from_b"))
    assert(fresh.meta.version == a.meta.version)
    fresh.close(); b.close(); a.close()
  }

  test("manifest CAS adoption: interleaved writers with DISJOINT " +
      "footprints both land; overlapping footprints still conflict") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val a = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    a.bulkAddDocs(p) { ad =>
      (0 until 5).foreach(i => ad.add(s"seed document $i"))
    }
    val b = KbStore.open(spark, path) // snapshots here — goes stale below
    val c = KbStore.open(spark, path) // ditto
    a.bulkAddDocs(p)(_.add("writer A's doc")) // head moves past b and c
    val vAfterA = KbStore.open(spark, path).meta.version
    // B touches only keyval (newMeta identity on the id marks): the
    // interloper's footprint (docs/embeddings/max_doc_id) is disjoint,
    // so B adopts A's head and its commit lands on top
    b.setKey("cursor", 42L)
    val fresh = KbStore.open(spark, path)
    assert(fresh.countDocs == 6, "A's doc add must survive B's commit")
    assert(fresh.getKey("cursor") == 42L, "B's key must land")
    assert(fresh.meta.version == vAfterA + 1)
    assert(fresh.meta.max_doc_id == a.meta.max_doc_id,
      "B's identity newMeta must not clobber A's id high-water mark")
    // C also adds a doc from its stale snapshot: docs/embeddings moved
    // AND both writers bump max_doc_id — not retryable
    intercept[java.util.ConcurrentModificationException] {
      c.bulkAddDocs(p)(_.add("writer C's doc"))
    }
    fresh.close(); c.close(); b.close(); a.close()
  }

  test("bounded CAS retry: three interleaved disjoint writers all land; " +
      "a publish-window race retries and lands; overlap still fails loudly") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 4
      def embed(texts: Seq[String]): Seq[Array[Float]] =
        texts.map { t =>
          val rnd = new java.util.Random(t.hashCode.toLong)
          val v = Array.fill(4)(rnd.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          v.map(x => (x / norm).toFloat)
        }
    }
    val seed = KbStore.create(spark, path, Map())
    seed.bulkAddDocs(p) { add =>
      (0 until 5).foreach(i => add.add(s"seed doc $i"))
    }
    seed.close()

    // three writers snapshot the SAME manifest version, then commit in
    // sequence with pairwise-disjoint footprints: doc-add (docs/
    // embeddings/max_doc_id), keyval (keyval), edge-add (edges/
    // max_edge_id). Each later writer adopts the accumulated head —
    // all three commits must land.
    val a = KbStore.open(spark, path)
    val b = KbStore.open(spark, path)
    val c = KbStore.open(spark, path)
    val v0 = a.meta.version
    a.bulkAddDocs(p)(_.add("writer A's doc"))
    b.setKey("cursor", 7L)
    c.addEdge(4L, 5L, 0L)
    val fin = KbStore.open(spark, path)
    assert(fin.meta.version == v0 + 3)
    assert(fin.countDocs == 6, "A's doc-add must land")
    assert(fin.getKey("cursor") == 7L, "B's keyval must land")
    assert(fin.countEdges == 1, "C's edge-add must land")
    fin.close(); c.close(); b.close(); a.close()

    // publish-window race: a disjoint writer lands BETWEEN writer D's
    // staging and its manifest swap (injected via the test seam). D's
    // publish must detect the moved manifest, retry against the new
    // head, and land — both commits present afterwards.
    val d = KbStore.open(spark, path)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    d.prePublishHook = () =>
      if (fired.compareAndSet(false, true)) {
        val e = KbStore.open(spark, path)
        e.setKey("raced", 1L)
        e.close()
      }
    d.bulkAddDocs(p)(_.add("writer D's doc"))
    d.prePublishHook = () => ()
    assert(fired.get, "the race injection must have run")
    val fin2 = KbStore.open(spark, path)
    assert(fin2.countDocs == 7, "D's doc-add must land after the retry")
    assert(fin2.getKey("raced") == 1L, "the racing keyval must survive")
    fin2.close(); d.close()

    // overlap is still loud: two stale doc-adders both bump
    // max_doc_id — the second must throw, never last-writer-wins
    val x = KbStore.open(spark, path)
    val y = KbStore.open(spark, path)
    x.bulkAddDocs(p)(_.add("X's doc"))
    intercept[java.util.ConcurrentModificationException] {
      y.bulkAddDocs(p)(_.add("Y's doc"))
    }
    y.close(); x.close()
  }

  test("every publish shape (full rewrite, delta, minor compaction) " +
      "retries past a disjoint racing writer and rolls back a failed publish") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 4
      def embed(texts: Seq[String]): Seq[Array[Float]] =
        texts.map { t =>
          val rnd = new java.util.Random(t.hashCode.toLong)
          val v = Array.fill(4)(rnd.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          v.map(x => (x / norm).toFloat)
        }
    }
    val kb = KbStore.create(spark, path, Map())
    kb.bulkAddDocs(p) { add =>
      (0 until 5).foreach(i => add.add(s"seed doc $i"))
    }
    kb.setKey("k0", 0L)

    /** What the reads of `s` return: its docs, keys and edges. */
    def reads(s: KbStore): Any = (s.docs.collect().sortBy(_.id).toSeq,
      s.items, s.edges.collect().sortBy(_.id).toSeq)

    var racedEdges = 0L
    /** `write` lands after a disjoint writer (an edge add) publishes
      * between its staging and its publish: it retries on the new head,
      * and both writes are in the store. */
    def landsPastRace(write: => Unit): Unit = {
      val v = kb.meta.version
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      racedEdges += 1
      val rel = racedEdges
      kb.prePublishHook = () =>
        if (fired.compareAndSet(false, true)) {
          val other = KbStore.open(spark, path)
          try other.addEdge(1L, 2L, rel) finally other.close()
        }
      try write finally kb.prePublishHook = () => ()
      assert(fired.get, "the racing writer must have run")
      assert(kb.meta.version == v + 2, "the write must land on the racer's head")
      assert(kb.countEdges == racedEdges, "the racing edge add must survive")
    }

    /** `write`, whose publish fails once, leaves the store as it was: the
      * call throws, the manifest keeps its version in memory and on disk,
      * no `v<N+1>` dir is left under `tables`, and reads answer as
      * before. */
    def rollsBack(tables: Iterable[String])(write: => Unit): Unit = {
      val v = kb.meta.version
      val before = reads(kb)
      kb.prePublishHook = () => throw new IllegalStateException("injected")
      val e = try intercept[IllegalStateException](write)
        finally kb.prePublishHook = () => ()
      assert(e.getMessage == "injected")
      assert(kb.meta.version == v)
      val onDisk = KbStore.open(spark, path)
      try assert(onDisk.meta.version == v) finally onDisk.close()
      tables.foreach { t =>
        assert(!Files.exists(Paths.get(s"$path/$t/v${v + 1}")),
          s"a failed publish left $t/v${v + 1} behind")
      }
      assert(reads(kb) == before)
    }

    // a full rewrite: the text index build races, a compact fails
    landsPastRace(kb.buildTextIndex())
    assert(kb.hasTextIndex && kb.bm25Retrieve("seed", 3).nonEmpty)
    rollsBack(kb.meta.table_versions.keys)(kb.compact())

    // a plain delta
    landsPastRace(kb.setKey("k1", 1L))
    assert(kb.getKey("k1") == 1L)
    rollsBack(Seq("keyval"))(kb.setKey("k1", 2L))
    assert(kb.getKey("k1") == 1L)

    // a minor compaction: the keyval chain at its limit
    var i = 0
    while (kb.meta.table_deltas("keyval").size < KbStore.DeltaChainLimit) {
      i += 1
      kb.setKey(s"fill$i", i.toLong)
    }
    rollsBack(Seq("keyval"))(kb.setKey("k0", 99L))
    assert(kb.meta.table_deltas("keyval").size == KbStore.DeltaChainLimit)
    landsPastRace(kb.setKey("k0", 99L))
    assert(kb.meta.table_deltas("keyval") == Seq(kb.meta.version),
      "the chain must have been minor-compacted")
    assert(kb.getKey("k0") == 99L && kb.getKey("k1") == 1L &&
      kb.getKey(s"fill$i") == i.toLong)
    kb.close()
  }

  test("bucketed PQ codes mirror: store pqKnnJoin takes the AdcCodesJoin " +
      "path with zero shuffles under the codes child, parity with the " +
      "plain kernel, and staleness falls back / refresh re-buckets") {
    import graft.core.Embeddings.EmbeddingProvider
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 120).foreach(i => a.add(s"document number $i"))
    }
    val queries = kb.embeddings.toDF()
      .where(col("id") < 10).select(col("id"), col("vec"))

    // plain build first: pqKnnJoin runs the tagged-union kernel (no
    // mirror yet) — this is the parity reference
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    val viaKernel = kb.pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaKernel.nonEmpty)

    // materialize the mirror: same call now routes through the custom
    // operator — results must be identical
    kb.bucketPqCodes(buckets = 4)
    val viaPlan = kb.pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaPlan == viaKernel,
      "bucketed-mirror join must equal the plain-kernel join")

    // the structural claim: AdcCodesJoinExec is planned and NO shuffle
    // exchange sits under its codes (right) child — the bucketed scan
    // satisfies the node's required distribution as-is. AQE off: its
    // stage wrappers hide the static node structure.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val execPlan = kb.pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
        .queryExecution.executedPlan
      val adc = execPlan.collectFirst {
        case a: graft.plans.AdcCodesJoinExec => a }
        .getOrElse(fail(s"AdcCodesJoinExec not planned:\n$execPlan"))
      val codesSideShuffles = adc.right.collect {
        case _: ShuffleExchangeExec => 1 }.size
      assert(codesSideShuffles == 0,
        s"store's bucketed codes side must not re-shuffle:\n${adc.right}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // staleness: a mutation makes the tier (and mirror) stale — the
    // join refuses like every other tier; refresh maintains the
    // SHARDED mirror incrementally (only the shards whose lists
    // changed rewrite), so the custom path comes back without any
    // explicit re-bucketing call
    kb.bulkAddDocs(p)(_.add("late arrival"))
    intercept[IllegalArgumentException] {
      kb.pqKnnJoin(queries, k = 3, nProbe = 4)
    }
    def shardFiles(): Map[String, Set[String]] = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(path.getBytes("UTF-8"))
      val tbl = "graft_pq_codes_" + md5.take(6).map("%02x".format(_)).mkString
      val loc = new java.io.File(new java.net.URI(
        spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
          .find(_.getString(0) == "Location").get.getString(1)))
      loc.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pp="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val beforeRefresh = shardFiles()
    kb.refreshPqIndex()
    val afterRefresh = shardFiles()
    // one new doc lands in one list -> exactly one shard rewrites; the
    // untouched shards keep their identical file sets (the
    // O(changed-shards) claim, observed at the filesystem)
    val untouched = beforeRefresh.keySet.intersect(afterRefresh.keySet)
      .count(k => beforeRefresh(k) == afterRefresh(k))
    assert(untouched >= beforeRefresh.size - 1 && beforeRefresh.size > 1,
      s"incremental refresh must leave other shards' files untouched " +
        s"(before=${beforeRefresh.keySet}, after=${afterRefresh.keySet})")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val planAfter = kb.pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
        .queryExecution.executedPlan
      assert(planAfter.collectFirst {
        case a: graft.plans.AdcCodesJoinExec => a }.isDefined,
        s"refresh must re-bucket the mirror and keep the custom path:\n$planAfter")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // the refreshed mirror serves the post-refresh corpus: the new doc
    // is findable through the custom path
    val lateEmb = kb.embeddings.toDF().orderBy(desc("id")).limit(1)
      .select(col("id"), col("vec"))
    val hits = kb.pqKnnJoin(lateEmb, k = 1, nProbe = 4, rerank = 500)
      .collect()
    assert(hits.length == 1 && hits.head.getDouble(2) > 0.999,
      "the late doc's own vector must be its top-1 through the mirror")

    // a routine compact moves the codes version; the mirror must
    // re-bucket (like refresh) so pqKnnJoin keeps the custom path
    kb.compact()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val planPostCompact = kb
        .pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
        .queryExecution.executedPlan
      assert(planPostCompact.collectFirst {
        case a: graft.plans.AdcCodesJoinExec => a }.isDefined,
        s"compact must re-bucket the mirror:\n$planPostCompact")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // the mirror is derived state: invalidating the pq family
    // (vector replacement) and vacuuming must drop the catalog table
    // and its marker — never leave a dead layout behind
    kb.setDocEmbedding(1L, Some(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    assert(kb.pqIndexState == KbStore.AnnNone)
    kb.vacuum(retain = 0)
    assert(!Files.exists(Paths.get(s"$path/_pq_codes_bucketed.json")),
      "vacuum must remove the stale mirror marker")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
    val mirrorTbl = "graft_pq_codes_" + md.take(6).map("%02x".format(_)).mkString
    assert(!spark.catalog.tableExists(mirrorTbl),
      "vacuum must drop the stale mirror catalog table")
    kb.close()
  }

  test("bucketed mirror registration survives sessions: a fresh catalog " +
      "re-declares the external files instead of rebuilding O(codes)") {
    import graft.core.Embeddings.EmbeddingProvider
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 120).foreach(i => a.add(s"document number $i"))
    }
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    kb.bucketPqCodes(buckets = 4)
    // the mirror's files live under the STORE, not the warehouse
    assert(Files.isDirectory(Paths.get(s"$path/_pq_codes_data")),
      "mirror data must be external, inside the store directory")
    val queries = kb.embeddings.toDF()
      .where(col("id") < 10).select(col("id"), col("vec"))
    val expected = kb.pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

    // simulate a fresh session's in-memory catalog: drop the table
    // registration (external → the files survive) and record the data
    // dir's file listing so a rebuild would be visible
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
    val tbl = "graft_pq_codes_" + md.take(6).map("%02x".format(_)).mkString
    def dataFiles(): Set[String] = {
      val walk = Files.walk(Paths.get(s"$path/_pq_codes_data"))
      try {
        val b = Set.newBuilder[String]
        walk.forEach(f => if (Files.isRegularFile(f)) b += f.toString)
        b.result()
      } finally walk.close()
    }
    val filesBefore = dataFiles()
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    assert(Files.isDirectory(Paths.get(s"$path/_pq_codes_data")),
      "dropping the catalog entry must not delete the external files")

    // a second store handle (same JVM, catalog now ignorant of the
    // table): pqKnnJoin must re-register — NOT rebuild — and keep the
    // exchange-free custom path with identical results
    val kb2 = KbStore.open(spark, path)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q2 = kb2.pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
      val plan = q2.queryExecution.executedPlan
      val adc = plan.collectFirst { case a: graft.plans.AdcCodesJoinExec => a }
        .getOrElse(fail(s"re-registered mirror must plan AdcCodesJoin:\n$plan"))
      assert(adc.right.collect { case _: ShuffleExchangeExec => 1 }.isEmpty,
        s"re-registered codes side must stay exchange-free:\n${adc.right}")
      val got = q2.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(got == expected)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(dataFiles() == filesBefore,
      "re-registration must be O(metadata): no data file may be rewritten")
    kb2.close(); kb.close()
  }

  test("a mirror stale BEFORE a compact or refresh is never promoted: " +
      "compact drops its marker, refresh full-rebuilds it") {
    import graft.core.Embeddings.EmbeddingProvider
    val path = freshPath()
    val kb = KbStore.create(spark, path, Map())
    val p = new EmbeddingProvider {
      def name = "hashvec"; def dim = 8
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(t.hashCode.toLong)
        val v = Array.fill(8)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
    kb.bulkAddDocs(p) { a =>
      (0 until 120).foreach(i => a.add(s"document number $i"))
    }
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    kb.bucketPqCodes(buckets = 4)
    val markerPath = Paths.get(s"$path/_pq_codes_bucketed.json")
    assert(Files.exists(markerPath))

    // make the MIRROR stale while the pq family is CURRENT: replace a
    // vector (invalidates the family), then rebuild with the default
    // bucketCodes = false — the codes version moves on, the marker
    // still names the old one, and the catalog table still holds the
    // OLD codes
    val unit = {
      val v = Array.fill(8)(1f)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    kb.setDocEmbedding(1L, Some(unit))
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    assert(kb.pqIndexState == KbStore.AnnCurrent)
    assert(Files.exists(markerPath),
      "precondition: the stale marker survives the rebuild")

    // a routine compact must NOT promote the stale marker to the
    // post-compact codes version (that would serve the old mirror's
    // codes as current) — it drops the marker instead, and pqKnnJoin
    // falls back to the plain kernel on the CURRENT codes
    kb.compact()
    assert(!Files.exists(markerPath),
      "compact must drop a marker that predates the codes version")
    // r11 ADVICE: compact is a routine operation a reader may overlap —
    // the stale-drop removes marker + catalog entry (nothing can
    // resolve the dead mirror) but LEAVES the external data files so a
    // reader that resolved the mirror pre-compact can finish its scan;
    // vacuum (explicitly reader-free) reclaims the orphaned bytes
    assert(Files.exists(Paths.get(s"$path/_pq_codes_data")),
      "compact's stale-drop must defer data-file reclaim to vacuum " +
        "(in-flight readers)")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
    val tblName = "graft_pq_codes_" +
      md5.take(6).map("%02x".format(_)).mkString
    assert(!spark.catalog.tableExists(tblName),
      "compact's stale-drop must drop the mirror's catalog table")

    // r12 ADVICE (medium): rebuild BEFORE vacuum — the orphaned
    // external files still populate _pq_codes_data, and a CTAS into a
    // non-empty location throws under Spark's default
    // allowNonEmptyLocationInCTAS=false (or, with the legacy flag,
    // silently mixes the stale code files into the new mirror).
    // bucketPqCodes must clear the orphans first and serve a
    // byte-correct mirror.
    kb.bucketPqCodes(buckets = 4)
    assert(Files.exists(markerPath),
      "rebuild over an orphaned data dir must land a fresh marker")
    val rebuiltRows = spark.table(tblName)
      .select(col("cid"), col("id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    val currentCodes = kb.readTableForSpec(KbStore.IvfPqCodesTable)
      .select(col("cid"), col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(rebuiltRows == currentCodes,
      "rebuild-before-vacuum must serve exactly the current codes — " +
        "no orphaned stale files mixed in")

    // re-create the marker-less orphan state (invalidate, rebuild
    // unbucketed, compact drops the marker again) for the
    // vacuum-reclaim assertion
    kb.setDocEmbedding(3L, Some(unit))
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    kb.compact()
    assert(!Files.exists(markerPath))
    kb.vacuum()
    assert(!Files.exists(Paths.get(s"$path/_pq_codes_data")),
      "vacuum must reclaim a marker-less orphaned mirror data dir")
    val queries = kb.embeddings.toDF()
      .where(col("id") < 10).select(col("id"), col("vec"))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = kb.pqKnnJoin(queries, k = 3, nProbe = 4, rerank = 500)
        .queryExecution.executedPlan
      assert(plan.collectFirst {
        case a: graft.plans.AdcCodesJoinExec => a }.isEmpty,
        s"a dropped marker must route through the plain kernel:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // same hazard through refreshPqIndex: re-create the stale-marker
    // state, make the family stale, refresh. The sharded fast path
    // must NOT run (it would rewrite only this delta's shards and
    // promote the rest stale) — the full rebuild leaves the mirror
    // byte-equal to the manifest codes
    kb.bucketPqCodes(buckets = 4) // marker current again
    kb.setDocEmbedding(2L, Some(unit))
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    assert(Files.exists(markerPath)) // stale marker again
    kb.bulkAddDocs(p)(_.add("late arrival for the stale-marker case"))
    kb.refreshPqIndex()
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
    val mirrorTbl = "graft_pq_codes_" + md.take(6).map("%02x".format(_)).mkString
    val mirrorRows = spark.table(mirrorTbl)
      .select(col("cid"), col("id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .toSet
    val codesRows = kb.readTableForSpec(KbStore.IvfPqCodesTable)
      .select(col("cid"), col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .toSet
    assert(mirrorRows == codesRows,
      "refresh over a stale marker must rebuild the WHOLE mirror, " +
        "not just this delta's shards")
    kb.close()
  }
}
