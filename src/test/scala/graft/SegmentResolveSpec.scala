package graft

import org.apache.spark.sql.graft.SpecProbes

import graft.core.KbStore

/** Each published segment directory is listed and schema-resolved once
  * per store (with the schema it was written with, when this store wrote
  * it); the memo must stay exact across every mutation that moves the
  * manifest, and bounded by what the live manifest names. */
class SegmentResolveSpec extends SparkSpec {

  private def freshPath(): String =
    tempDir("graft-seg").resolve("kb").toString

  private def provider = new graft.core.Embeddings.EmbeddingProvider {
    def name = "hashvec"; def dim = 8
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val rnd = new java.util.Random(t.hashCode.toLong)
      val v = Array.fill(8)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  private def texts(n: Int, offset: Int = 0): Seq[String] =
    (0 until n).map(i => s"doc ${i + offset} body w${(i + offset) % 7}")

  /** Top-1 of a self-query is the doc itself. */
  private def assertFinds(kb: KbStore, text: String): Unit = {
    val top = kb.retrieve(text, 1, provider)
    assert(top.map(_.doc.text) == Seq(text), s"self-query for '$text'")
  }

  /** Every memoized segment belongs to the live manifest's layout. */
  private def assertMemoLive(kb: KbStore): Unit = {
    val m = kb.meta
    val live = m.table_versions.keySet.flatMap { name =>
      val base = m.table_bases.getOrElse(name, m.table_versions(name))
      s"${kb.path}/$name/v$base" +:
        m.table_deltas.getOrElse(name, Nil).flatMap { v =>
          Seq(s"${kb.path}/$name/v$v/del", s"${kb.path}/$name/v$v/add")
        }
    }
    val (dirs, views) = kb.resolvedForSpec
    assert(dirs.nonEmpty)
    assert(dirs.subsetOf(live), s"stale memo entries: ${dirs -- live}")
    assert(views <= m.table_versions.size)
  }

  private def deltaChainStore(): KbStore = {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.bulkAddDocsDistributed(texts(30).toDF("text"), provider)
    kb.bulkAddDocs(provider)(_.add("a delta-chain doc"))
    kb
  }

  // with the resident doc table off, the hydration is the one job left
  test("a warm retrieve on an unchanged store runs one Spark job") {
    val kb = deltaChainStore()
    kb.residentCap = -1
    assertFinds(kb, "doc 3 body w3")
    val jobs = jobsDuring(assertFinds(kb, "doc 4 body w4"))
    assert(jobs == 1, s"warm retrieve ran $jobs jobs")
    kb.close()
  }

  test("a warm retrieve hydrating from the resident doc table runs no job") {
    val kb = deltaChainStore()
    assertFinds(kb, "doc 3 body w3")
    val jobs = jobsDuring(assertFinds(kb, "doc 4 body w4"))
    assert(jobs == 0, s"warm retrieve ran $jobs jobs")
    kb.close()
  }

  test("reads see the store's own writes through every manifest move") {
    import spark.implicits._
    val path = freshPath()
    val kb = KbStore.create(spark, path, provider.params, forceFresh = true)
    kb.bulkAddDocsDistributed(texts(20).toDF("text"), provider)
    assertFinds(kb, "doc 1 body w1")
    val added = kb.bulkAddDocs(provider)(a => texts(3, 100).foreach(a.add(_)))
    assert(kb.countDocs == 23)
    assertFinds(kb, "doc 101 body w3")
    kb.bulkDelDocs(Seq(added.head))
    assert(kb.countDocs == 22)
    assert(!kb.docs.collect().exists(_.id == added.head))
    kb.compact()
    assert(kb.countDocs == 22)
    assertFinds(kb, "doc 102 body w4")
    kb.vacuum(retain = 0)
    assert(kb.countDocs == 22)
    assertFinds(kb, "doc 2 body w2")
    // a disjoint writer's keyval commit, adopted by this store's next
    // docs commit
    val other = KbStore.open(spark, path)
    other.setKey("from_other", 7L)
    kb.bulkAddDocs(provider)(_.add("after adoption"))
    assert(kb.getKey("from_other") == 7L)
    assert(kb.countDocs == 23)
    assertFinds(kb, "after adoption")
    other.close()
    kb.close()
  }

  test("40 delta commits cross a minor compaction; the memo stays live") {
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    (0 until 40).foreach { i =>
      kb.setKey(s"k$i", i.toLong)
      assert(kb.getKey(s"k$i") == i.toLong)
    }
    val chain = kb.meta.table_deltas("keyval")
    assert(chain.size < 40, "the chain never minor-compacted")
    assert(chain.size <= KbStore.DeltaChainLimit)
    assert(kb.items.map(_._1).toSet == (0 until 40).map(i => s"k$i").toSet)
    (0 until 40).foreach(i => assert(kb.getKey(s"k$i") == i.toLong))
    assertMemoLive(kb)
    kb.vacuum(retain = 0)
    assertMemoLive(kb)
    assert(kb.countKeys == 40)
    kb.close()
  }

  test("a segment this store wrote is read with the schema it wrote, " +
      "as inference would read it, and with no job") {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.bulkAddDocsDistributed(texts(30).toDF("text"), provider)
    kb.addEdges(Seq((1L, 2L, 3L, Some(0.5), true), (4L, 5L, 6L, None, false)))
    kb.setKey("k", "v")
    kb.buildStats()
    kb.buildAnnIndex(nlist = 4, iters = 1)
    kb.buildSqIndex()
    kb.buildPqIndex(nlist = 4, m = 4, ncodes = 16, iters = 2, sampleMod = 1)
    kb.buildTextIndex()
    kb.buildDedupIndex()
    // del and add segments of every family
    kb.bulkAddDocs(provider)(a => texts(3, 100).foreach(a.add(_)))
    kb.bulkDelDocs(Seq(3L))
    kb.delKey("k")
    kb.setKey("k2", 2.5)
    kb.refreshAnnIndex()
    kb.refreshSqIndex()
    kb.refreshPqIndex()
    kb.refreshTextIndex()
    kb.refreshDedupIndex()
    def live: Set[String] = {
      val m = kb.meta
      m.table_versions.keySet.flatMap { name =>
        val base = m.table_bases.getOrElse(name, m.table_versions(name))
        s"${kb.path}/$name/v$base" +:
          m.table_deltas.getOrElse(name, Nil).flatMap { v =>
            Seq(s"${kb.path}/$name/v$v/del", s"${kb.path}/$name/v$v/add")
          }
      }
    }
    def assertAsInferred(deltas: Boolean): Unit = {
      val tables = kb.meta.table_versions.keys.toSeq
      assert(KbStore.IndexTables.forall(tables.contains), tables)
      val jobs = jobsDuring(tables.foreach(t =>
        kb.readTableForSpec(t).queryExecution.optimizedPlan.stats))
      assert(jobs == 0, s"resolving the store's own segments ran $jobs jobs")
      val withFiles = live.filter(d =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(d)) &&
          kb.segmentSchemaForSpec(d).isDefined)
      assert(withFiles.exists(_.contains(s"/${KbStore.TextPostingsTable}/")))
      assert(withFiles.exists(_.endsWith("/del")) == deltas)
      withFiles.foreach { d =>
        assert(kb.segmentSchemaForSpec(d).contains(spark.read.parquet(d).schema),
          s"segment $d")
      }
    }
    assertAsInferred(deltas = true)
    kb.compact()
    assertAsInferred(deltas = false)
    kb.close()
  }

  test("text index build and refresh release every cache they take") {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.bulkAddDocsDistributed(texts(20).toDF("text"), provider)
    val entries = SpecProbes.cachedEntries(spark)
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    kb.buildTextIndex()
    kb.bulkAddDocs(provider)(a => texts(4, 50).foreach(a.add(_)))
    kb.refreshTextIndex()
    assert(kb.lastRefreshRoute == Some("segment"))
    assert(kb.bm25Retrieve("doc 52", 1).map(_._2.text) ==
      Seq("doc 52 body w3"))
    assert(SpecProbes.cachedEntries(spark) <= entries)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(rdds))
    kb.close()
  }
}
