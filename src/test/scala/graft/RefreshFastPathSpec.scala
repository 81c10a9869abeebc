package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.KbStore

/** Round 13 (optimization): the index-family refreshes derive their
  * changed-id sets from the delta-segment chain (`changedSince`) when
  * the manifests prove the route exact, instead of anti-joining the
  * full data table against the full index table. These tests pin that
  * the fast route and the fallback produce identical index contents:
  *
  *   - same-process add+delete flow (segment route engages) ends with
  *     every family's content equal to a from-scratch rebuild's;
  *   - a compact() between commits moves the base, forcing the
  *     fallback — contents must again equal the rebuild.
  */
class RefreshFastPathSpec extends SparkSpec {

  private def freshPath(): String =
    tempDir("graft-rfp").resolve("kb").toString

  /** Route-engagement probe (r13 verdict item 3): a refresh's parity
    * with the fallback is vacuous if the fast path silently stopped
    * engaging, so every test asserts WHICH route ran. */
  private def assertRoute(kb: KbStore, expected: String): Unit = {
    assert(kb.lastRefreshRoute == Some(expected),
      s"refresh took route ${kb.lastRefreshRoute}, expected $expected")
  }

  /** Sum of task input bytes while `body` runs (events are processed
    * asynchronously — the short drain sleep can only UNDERcount, and
    * the assertion using this is an upper bound, so a missed event
    * can never flake the test into failure). */
  private def bytesReadDuring(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) acc.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) }
    finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  private def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

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
    (0 until n).map { i =>
      val j = i + offset
      s"doc $j body " + (0 until 12).map(w => s"t${(j * 7 + w) % 23}")
        .mkString(" ")
    }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("segment-route refresh == full rebuild for every family") {
    import spark.implicits._
    val kb = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kb.bulkAddDocsDistributed(texts(40).toDF("text"), provider)
    kb.buildAnnIndex(nlist = 4, iters = 1)
    kb.buildSqIndex()
    kb.buildTextIndex()
    kb.buildDedupIndex()

    // two delta commits + a delete: the index families go stale across
    // a multi-segment window, then one refresh catches each up
    kb.bulkAddDocsDistributed(texts(15, offset = 100).toDF("text"), provider)
    kb.bulkDelDocs(Seq(3L, 41L))
    kb.bulkAddDocsDistributed(texts(5, offset = 200).toDF("text"), provider)

    assert(kb.annIndexState == KbStore.AnnStale)
    kb.refreshAnnIndex(); assertRoute(kb, "segment")
    kb.refreshSqIndex(); assertRoute(kb, "segment")
    kb.refreshTextIndex(); assertRoute(kb, "segment")
    kb.refreshDedupIndex(); assertRoute(kb, "segment")
    assert(kb.annIndexState == KbStore.AnnCurrent)
    assert(kb.sqIndexState == KbStore.AnnCurrent)
    assert(kb.textIndexState == KbStore.AnnCurrent)
    assert(kb.dedupIndexState == KbStore.AnnCurrent)

    // ground truth: the refreshed assignment covers exactly the live
    // embedding ids, each assigned to its nearest STORED centroid —
    // i.e. what a fresh assignment over the live table would produce
    val liveIds = kb.embeddings.toDF().select($"id").as[Long]
      .collect().toSet
    val assign = kb.readTableForSpec(KbStore.IvfAssignTable)
    assert(assign.select($"vec_id").as[Long].collect().toSet == liveIds)
    val sq = kb.readTableForSpec(KbStore.SqCodesTable)
    assert(sq.select($"vec_id").as[Long].collect().toSet == liveIds)
    val lens = kb.readTableForSpec(KbStore.TextDocLensTable)
    assert(lens.select($"doc_id").as[Long].collect().toSet == liveIds)
    val bands = kb.readTableForSpec(KbStore.DedupBandsTable)
    assert(bands.select($"doc_id").distinct().as[Long].collect().toSet
      == liveIds)

    // the refreshed ANN assignment equals a from-scratch assignment of
    // the live embeddings to the SAME stored centroids (row-for-row)
    val cents = kb.readTableForSpec(KbStore.IvfCentroidsTable)
    val fresh = graft.ops.SimilaritySearch.ivfAssign(
      kb.embeddings.toDF().select($"id".as("vec_id"),
        $"vec".as("embedding")), cents).select($"vec_id", $"cid")
    assert(sortedRows(assign.select($"vec_id", $"cid")) == sortedRows(fresh))
  }

  test("fallback (base moved by compact) == segment-route refresh") {
    import spark.implicits._
    // store A: compact between the stale-making commit and the refresh
    // (base moves -> changedSince returns None -> full-diff fallback)
    val kbA = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kbA.bulkAddDocsDistributed(texts(30).toDF("text"), provider)
    kbA.buildAnnIndex(nlist = 4, iters = 1)
    kbA.buildTextIndex()
    kbA.bulkAddDocsDistributed(texts(10, offset = 100).toDF("text"), provider)
    kbA.bulkDelDocs(Seq(5L))
    kbA.compact(codec = "snappy") // rewrites bases; stale families keep pointers
    kbA.refreshAnnIndex(); assertRoute(kbA, "full")
    kbA.refreshTextIndex(); assertRoute(kbA, "full")

    // store B: identical mutations, no compact (segment route)
    val kbB = KbStore.create(spark, freshPath(), provider.params,
      forceFresh = true)
    kbB.bulkAddDocsDistributed(texts(30).toDF("text"), provider)
    kbB.buildAnnIndex(nlist = 4, iters = 1)
    kbB.buildTextIndex()
    kbB.bulkAddDocsDistributed(texts(10, offset = 100).toDF("text"), provider)
    kbB.bulkDelDocs(Seq(5L))
    kbB.refreshAnnIndex(); assertRoute(kbB, "segment")
    kbB.refreshTextIndex(); assertRoute(kbB, "segment")

    assert(kbA.annIndexState == KbStore.AnnCurrent)
    assert(kbB.annIndexState == KbStore.AnnCurrent)
    // same corpus, same deterministic centroid seeding -> identical
    // assignments and postings whichever route the refresh took
    assert(
      sortedRows(kbA.readTableForSpec(KbStore.IvfAssignTable)) ==
        sortedRows(kbB.readTableForSpec(KbStore.IvfAssignTable)))
    assert(
      sortedRows(kbA.readTableForSpec(KbStore.TextPostingsTable)
        .select($"doc_id", $"term", $"tf")) ==
        sortedRows(kbB.readTableForSpec(KbStore.TextPostingsTable)
          .select($"doc_id", $"term", $"tf")))
    assert(
      sortedRows(kbA.readTableForSpec(KbStore.TextDocLensTable)) ==
        sortedRows(kbB.readTableForSpec(KbStore.TextDocLensTable)))
  }

  test("segment-route refresh input volume is O(batch), not O(corpus)") {
    import spark.implicits._
    val path = freshPath()
    val kb = KbStore.create(spark, path, provider.params, forceFresh = true)
    // ~1.3 KB/doc × 3000 docs: the docs base is ~MBs, so a corpus scan
    // is unmistakable against the ~KB delta segment the fast path reads
    val body = (0 until 200).map(w => s"w${w % 97}").mkString(" ")
    kb.bulkAddDocsDistributed(
      (0 until 3000).map(i => s"doc $i $body").toDF("text"), provider)
    kb.buildTextIndex()
    kb.bulkAddDocsDistributed(texts(10, offset = 9000).toDF("text"), provider)
    val corpusBytes = dirBytes(s"$path/docs") + dirBytes(s"$path/text_postings")
    assert(corpusBytes > 1000000L,
      s"corpus too small to discriminate ($corpusBytes B)")
    val segBytes = bytesReadDuring { kb.refreshTextIndex() }
    assertRoute(kb, "segment")
    // generous bound: delta adds (10 docs ≈ KBs) + schema/footer reads
    // + the stats card — far under half the corpus either way
    assert(segBytes < corpusBytes / 2,
      s"segment-route refresh read $segBytes B of a $corpusBytes B corpus")
  }

  test("id-reuse (tombstone + re-add with CHANGED text): routes agree") {
    import spark.implicits._
    val newText = "replaced body zzzreuse yyreuse xxreuse"
    def build(forceFullRoute: Boolean): KbStore = {
      val kb = KbStore.create(spark, freshPath(), provider.params,
        forceFresh = true)
      kb.bulkAddDocsDistributed(texts(20).toDF("text"), provider)
      kb.buildTextIndex()
      kb.buildDedupIndex()
      // the id-reuse shape: doc 3 tombstoned and re-added with NEW
      // text inside the refresh window (no public mutation produces
      // this today — the test door pins the contract anyway)
      kb.replaceDocTextForSpec(3L, newText)
      kb.bulkAddDocsDistributed(texts(4, offset = 300).toDF("text"), provider)
      // vacuum(0) prunes the backup manifest the segment proof needs
      // (metaAt(since) fails → full route) while the LIVE chain — and
      // its del segments, which the full diff's re-add detection reads
      // — survives. compact() would be the wrong lever here: it folds
      // the chain into a fresh base, erasing the del history, and the
      // post-compaction window is covered by store invariants (fresh
      // high-water ids; same-text re-adds), not by the diff.
      if (forceFullRoute) kb.vacuum(retain = 0)
      kb.refreshTextIndex()
      assertRoute(kb, if (forceFullRoute) "full" else "segment")
      kb.refreshDedupIndex()
      assertRoute(kb, if (forceFullRoute) "full" else "segment")
      kb
    }
    val seg = build(forceFullRoute = false)
    val ful = build(forceFullRoute = true)
    // both routes re-indexed the re-added doc: its postings carry the
    // NEW tokens (a both-routes-stale bug cannot pass this)
    def termsOf(kb: KbStore): Set[String] =
      kb.readTableForSpec(KbStore.TextPostingsTable)
        .where($"doc_id" === 3L).select($"term").as[String].collect().toSet
    assert(termsOf(seg).contains("zzzreuse"))
    assert(termsOf(ful).contains("zzzreuse"))
    assert(!termsOf(seg).contains("body") || newText.contains("body"))
    // and the two routes' index contents are identical
    assert(
      sortedRows(seg.readTableForSpec(KbStore.TextPostingsTable)
        .select($"doc_id", $"term", $"tf")) ==
        sortedRows(ful.readTableForSpec(KbStore.TextPostingsTable)
          .select($"doc_id", $"term", $"tf")))
    assert(
      sortedRows(seg.readTableForSpec(KbStore.TextDocLensTable)) ==
        sortedRows(ful.readTableForSpec(KbStore.TextDocLensTable)))
    assert(
      sortedRows(seg.readTableForSpec(KbStore.DedupBandsTable)) ==
        sortedRows(ful.readTableForSpec(KbStore.DedupBandsTable)))
  }
}
