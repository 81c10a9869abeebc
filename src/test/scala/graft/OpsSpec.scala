package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.ops._

/** Unit tests for the pipeline operators over the sf0.001 tables. */
class OpsSpec extends SparkSpec {
  private lazy val docs = Tables.t(spark, sf("0.001"), "documents")
  private lazy val emb = Tables.t(spark, sf("0.001"), "embeddings")

  test("vector functions: dot / norm / normalize / magnitude") {
    import spark.implicits._
    val df = Seq((Array(3.0, 4.0), Array(1.0, 0.0))).toDF("a", "b")
    val r = df.select(
      dot($"a", $"b").as("d"),
      l2Norm($"a").as("n"),
      cosine($"a", $"b").as("c"),
      magnitudeOk(normalize($"a")).as("ok")).head()
    assert(r.getDouble(0) == 3.0)
    assert(r.getDouble(1) == 5.0)
    assert(math.abs(r.getDouble(2) - 0.6) < 1e-12)
    assert(r.getBoolean(3))
  }

  test("html extract: script/style payloads drop, tags space, " +
      "entities decode in standard order, whitespace collapses") {
    import spark.implicits._
    val cases = Seq(
      // dotall + case-insensitive element drop, payload incl. a '<'
      (1L, "<p>a</p><SCRIPT>\nif (x < 2) { y(); }\n</SCRIPT><p>b</p>", "a b"),
      (2L, "<style media=\"all\">.x{}</style>keep", "keep"),
      // comment payload drops; adjacent text never fuses across a tag
      (3L, "x<!-- <p>gone</p> -->y<br>z", "x y z"),
      // &amp;lt; must yield the literal "&lt;", not double-decode to "<"
      (4L, "&amp;lt; &lt; &gt; &quot; &#39; &nbsp;end", "&lt; < > \" ' end"),
      // unclosed/bare tags strip; runs of whitespace collapse
      (5L, "  a   <b>bold   text</b >  ", "a bold text"),
      (6L, "", ""))
    val got = cases.toDF("id", "html", "want")
      .select($"id", Html.extractText($"html").as("got"), $"want")
      .collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"case ${r.getLong(0)}: got '${r.getString(1)}' " +
          s"want '${r.getString(2)}'")
    }
  }

  test("filtered retrieval: pre-filter exact, predicate pushed to the " +
      "parquet scan, IVF post-filter at full probe identical") {
    import spark.implicits._
    val qv = emb.filter($"vec_id" === 0L)
      .select(asDouble($"embedding").as("qv"))
    val pred = $"label".isin(2, 5)
    val pre = SimilaritySearch.filteredTopK(emb, pred, qv, k = 10,
      keep = Seq("label"))
    val rows = pre.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set(2, 5).contains(r.getInt(1))))
    // exactness: equals brute-force score-then-filter
    val brute = emb.crossJoin(broadcast(qv))
      .select($"vec_id", $"label",
        round(dot(asDouble($"embedding"), $"qv"), 6).as("score"))
      .where(pred)
      .orderBy(desc("score"), $"vec_id").limit(10).collect()
    assert(rows.toSeq == brute.toSeq)
    // the predicate must reach the parquet reader, not run post-scan:
    // at 100 TB this is the difference between reading matching row
    // groups and scanning the corpus
    val scan = pre.queryExecution.executedPlan.collectLeaves().mkString
    assert(scan.contains("PushedFilters") && scan.contains("label"),
      s"label predicate not pushed to scan: $scan")
    // IVF post-filter twin: predicate before the dot kernel, exact at
    // full probe
    val cents = emb.where($"vec_id" < 10)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val assigned = SimilaritySearch.ivfAssign(emb, cents)
      .join(emb.select($"vec_id", $"label"), "vec_id")
    val post = SimilaritySearch.filteredTopKIvf(assigned, cents, pred,
      qv, k = 10, nProbe = 10, keep = Seq("label")).collect()
    assert(post.toSeq == rows.toSeq)
  }

  test("maxsim late-interaction: equals the brute-force sum-of-max, " +
      "self-doc ranks first, shuffles carry aggregates not the corpus") {
    import spark.implicits._
    val tokens = emb.select(expr("vec_id div 5").as("doc_id"), $"embedding")
    val query = emb.filter($"vec_id" < 5L)
      .select($"vec_id".as("qidx"), asDouble($"embedding").as("qv"))
    val got = SimilaritySearch.maxSimTopK(tokens, query, k = 10)
    val rows = got.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 10)
    // brute force on the driver: score(D) = sum over q of max over d of q.d
    val all = emb.select($"vec_id", asDouble($"embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qs = all.filter(_._1 < 5L).sortBy(_._1).map(_._2)
    val byDoc = all.groupBy(_._1 / 5)
    val expect = byDoc.map { case (doc, vs) =>
      val s = qs.map(q => vs.map { case (_, v) =>
        q.zip(v).map { case (a, b) => a * b }.sum
      }.max).sum
      doc -> BigDecimal(s).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
    assert(rows.toSeq == expect,
      s"maxsim mismatch:\n got ${rows.toSeq}\nwant $expect")
    // the query tokens ARE doc 0's token set, so doc 0 must self-match top
    assert(rows.head._1 == 0L, s"self-doc not ranked first: ${rows.head}")
    // plan shape: top-k is a bounded TakeOrdered merge and the only
    // exchanges are the two narrow aggregate shuffles (|docs|x|q| rows),
    // never the corpus vectors
    // AQE's toString prints the final AND the initial plan — count
    // shuffles in the final section only
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2, s"expected <=2 aggregate shuffles: $plan")
  }

  test("IVF-pruned maxsim: exact at full probe, pruned candidates keep " +
      "exact per-doc scores, self-doc survives pruning") {
    import spark.implicits._
    val tokens = emb.select(expr("vec_id div 5").as("doc_id"), $"embedding")
    val query = emb.filter($"vec_id" < 5L)
      .select($"vec_id".as("qidx"), asDouble($"embedding").as("qv"))
    val cents = emb.filter($"vec_id" < 10L)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val nDocs = tokens.select($"doc_id").distinct().count().toInt
    val exactAll = SimilaritySearch.maxSimTopK(tokens, query, k = nDocs)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = exactAll.take(10)
    // full probe + all docs as candidates degenerates to the exact op
    val full = SimilaritySearch.maxSimTopKIvf(tokens, cents, query,
      k = 10, nProbe = 10, nCandidates = nDocs)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == exact.toSeq)
    // reduced probe: the self-doc (whose tokens ARE the query tokens)
    // must survive candidate pruning and stay on top with its exact
    // score, and every published score is the exact score for that doc
    // (pruning shrinks the candidate set; the kernel stays exact)
    val pruned = SimilaritySearch.maxSimTopKIvf(tokens, cents, query,
      k = 10, nProbe = 3, nCandidates = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pruned.head == exact.head, s"self-doc lost: ${pruned.head}")
    val exactByDoc = exactAll.toMap
    pruned.foreach { case (d, s) =>
      assert(exactByDoc(d) == s, s"doc $d: pruned score $s != exact")
    }
  }

  test("shingles: k=3 word n-grams, short docs yield empty sets") {
    import spark.implicits._
    val d = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val sh = Dedup.shingles(d, 3).collect().map(r =>
      r.getLong(0) -> r.getSeq[String](1)).toMap
    // set semantics: collect_set order is not defined
    assert(sh(1L).toSet == Set("a b c", "b c d"))
    assert(sh(2L).isEmpty)
  }

  test("minhash LSH finds the planted near-duplicates (and only near-dups)") {
    val dups = Dedup.minhashNearDups(docs, k = 3, numHashes = 8,
      rowsPerBand = 2, threshold = 0.8).collect()
    assert(dups.nonEmpty)
    assert(dups.forall(_.getDouble(2) >= 0.8))
    // LSH candidates verified by exact jaccard must be symmetric-free (i<j)
    assert(dups.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("simhash: deterministic, and near-dups are closer than average") {
    import spark.implicits._
    val sims = Dedup.simhash(docs)
    // deterministic: recompputing yields identical signatures
    val twice = sims.as("a").join(Dedup.simhash(docs).as("b"),
      $"a.doc_id" === $"b.doc_id")
    assert(twice.filter($"a.simhash" =!= $"b.simhash").isEmpty)

    // near-dup pairs have strictly lower mean hamming than all pairs
    val allPairs = Dedup.simhashPairs(sims, maxHamming = 16)
    val overallMean = allPairs.agg(avg(col("hamming"))).head().getDouble(0)
    val nearDups = Dedup.minhashNearDups(docs, threshold = 0.9)
      .select(col("doc1"), col("doc2"))
    val nearMean = nearDups.join(allPairs, Seq("doc1", "doc2"))
      .agg(avg(col("hamming"))).head().getDouble(0)
    assert(nearMean < overallMean)
  }

  test("knn join returns k neighbors per query, ranked") {
    val out = SimilaritySearch.knnJoin(
      emb.where(col("vec_id") < 3), emb.where(col("vec_id") >= 3), 5)
    val grouped = out.groupBy(col("qid")).count().collect()
    assert(grouped.length == 3 && grouped.forall(_.getLong(1) == 5))
  }

  test("ann bucketed top-k is a subset of brute-force ranking") {
    val brute = SimilaritySearch.topK(emb, 0L, 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = SimilaritySearch.annTopKBucketed(emb, 0L, 5, bits = 8).collect()
    assert(ann.nonEmpty)
    // every ANN hit carries its true score
    ann.foreach(r => assert(math.abs(brute(r.getLong(0)) - r.getDouble(2)) < 1e-9))
    // the query vector itself is always in its own bucket → rank 1
    assert(ann.head.getLong(0) == 0L)
  }

  test("text analysis: stats, quality bounds, lang id, fingerprints") {
    val stats = TextAnalysis.tokenStats(docs).collect()
    assert(stats.forall(r => r.getInt(1) >= r.getInt(2))) // n_tokens >= n_uniq
    val q = TextAnalysis.qualityScore(docs, Seq("the", "a")).collect()
    assert(q.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    val langs = TextAnalysis.langId(docs,
      Seq("en" -> Seq("the", "a"))).collect()
    assert(langs.forall(r => Set("en", "und")(r.getString(2))))
    val fp = TextAnalysis.fingerprint(docs)
    assert(fp.select(col("fp_md5")).distinct().count() == docs.count())
  }

  test("multimodal: partition-batched stub decode + frame sampling") {
    val media = Multimodal.asMedia(docs)
    assert(media.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(media)
    val f = feats.collect()
    assert(f.length == docs.count())
    assert(f.forall(x => x.n_frames >= 1 && x.width >= 64 && x.height >= 64))
    val frames = Multimodal.sampleFrames(feats.toDF(), stride = 4)
    val perDoc = frames.groupBy(col("media_id")).count().collect()
    // ceil(n_frames/4) sampled frames each
    val expect = f.map(x => x.media_id -> ((x.n_frames + 3) / 4).toLong).toMap
    perDoc.foreach(r => assert(r.getLong(1) == expect(r.getLong(0))))
  }

  test("hierarchy paths: depth and lexicographic pre-order") {
    import spark.implicits._
    val nodes = Seq((1L, 0L), (10L, 1L), (11L, 1L), (100L, 10L))
      .toDF("id", "parent_id")
    val paths = ops.Hierarchy.withPaths(nodes, "id", "parent_id",
      col("id") === 1L)
    val got = paths.orderBy(col("path")).select(col("id"), col("depth"))
      .as[(Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1), (10L, 2), (100L, 3), (11L, 2)))
  }

  test("connected components: chain, pair, keep-one-per-component (G3)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val got = Dedup.semanticDedup(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("alternating CC: chain graph converges in O(log n) rounds") {
    import spark.implicits._
    // a 256-node chain: min-label propagation needs ~256 rounds — the
    // large-star/small-star pair must finish in O(log n)
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val (labels, rounds) = Dedup.alternatingConnectedComponents(chain)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 256)
    assert(got.forall(_._2 == 0L), "all chain nodes label to the min id")
    assert(rounds <= 10, s"expected O(log 256) rounds, took $rounds")

    // matches the union-find fast path on a mixed graph (+ isolated pair)
    val mixed = Seq((1L, 2L), (2L, 3L), (10L, 11L), (7L, 7L))
      .toDF("doc1", "doc2")
    val alt = Dedup.alternatingConnectedComponents(mixed)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 7L -> 7L))
  }

  test("ANN recall gate: multi-probe and IVF k-means reach recall@10 >= 0.9") {
    import spark.implicits._
    val exact = SimilaritySearch.topK(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet

    // this corpus's true neighbors are near-orthogonal (max cos ~0.5),
    // so sign bits disagree ~half the time — radius 4 of 8 bits is the
    // honest recall/coverage point here; genuinely near-dup data (cos
    // >= 0.8) reaches the same recall at radius 1-2
    val mp = SimilaritySearch.annTopKMultiProbe(emb, 0L, 10,
      bits = 8, maxHamming = 4).collect().map(_.getLong(0)).toSet
    assert((exact & mp).size >= 9,
      s"multi-probe recall@10 = ${(exact & mp).size}/10")

    val cents0 = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val cents = SimilaritySearch.kmeansCentroids(emb, cents0, iters = 2)
    assert(cents.count() == 10, "empty clusters keep their seed centroid")
    val qv = emb.filter($"vec_id" === 0L)
      .select(asDouble($"embedding").as("qv"))
    val assigned = SimilaritySearch.ivfAssign(emb, cents)
    val ivf = SimilaritySearch.ivfTopK(assigned, cents, qv, 10, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    assert((exact & ivf).size >= 9,
      s"ivf k-means recall@10 = ${(exact & ivf).size}/10")
  }

  test("sequence packing: contiguous bins per shard, straddling allowed") {
    import spark.implicits._
    // token counts 6, 6, 6 with budget 10: doc 2 starts at offset 6 of
    // bin 0 (straddles into bin 1), doc 3 starts at offset 2 of bin 1
    val docs = Seq(
      (1L, "en", "a b c d e f"),
      (2L, "en", "g h i j k l"),
      (3L, "en", "m n o p q r"),
      (4L, "de", "x y z")) // separate shard restarts at bin 0
      .toDF("doc_id", "lang", "text")
    val packed = TextAnalysis.packSequences(docs, budgetTokens = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(packed == Set((1L, 0L, 0L), (2L, 0L, 6L), (3L, 1L, 2L),
      (4L, 0L, 0L)))
  }

  test("cross-corpus contamination finds the leaked doc, not the clean one") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val test = Seq(
      // near-copy of train doc 1 (one word changed at the end)
      (10L, "alpha beta gamma delta epsilon zeta eta iota"),
      (11L, "completely unrelated text with zero shared trigrams here"))
      .toDF("doc_id", "text")
    val hits = Dedup.crossCorpusContamination(train, test, k = 3,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.map(h => (h._1, h._2)).toSeq == Seq((10L, 1L)))
    assert(hits.head._3 >= 0.5 && hits.head._3 < 1.0)
  }

  test("contamination Bloom prefilter is lossless: bit-parity with the " +
      "unfiltered path over the real corpus") {
    import spark.implicits._
    // split the sf0.001 corpus into disjoint train/test halves; the
    // planted near-dups land on both sides so real hits exist
    val train = docs.where($"doc_id" % 2 === 0).select($"doc_id", $"text")
    val test = docs.where($"doc_id" % 2 === 1)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val plain = Dedup.crossCorpusContamination(train, test,
        k = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bloomed = Dedup.crossCorpusContamination(train, test,
        k = 3, threshold = 0.3, bloomFpp = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(plain.nonEmpty, "expected real cross-corpus hits in the corpus")
    assert(bloomed == plain)
  }

  test("local minhash band keys are bit-identical to the batch banding") {
    import spark.implicits._
    val sample = docs.limit(20).select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val df = sample.toSeq.toDF("doc_id", "text")
    val batch = Dedup.bandKeys(
        Dedup.minhashSignatures(Dedup.shingles(df), numHashes = 8),
        rowsPerBand = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getString(2))).toSet
    val local = sample.flatMap { case (id, text) =>
      Dedup.minhashBandKeysLocal(text, k = 3, numHashes = 8, rowsPerBand = 2)
        .map { case (b, key) => (id, b, key) }
    }.toSet
    assert(batch.nonEmpty)
    assert(local == batch)
  }

  test("unicode tokenizer: punctuation and case do not distort tokens or shingles") {
    import spark.implicits._
    val clean = Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val messy = Seq((1L, "The quick, brown FOX — jumps!")).toDF("doc_id", "text")
    val tu = messy.select(TextAnalysis.tokensUnicode($"text").as("t"))
      .head.getSeq[String](0)
    assert(tu == Seq("the", "quick", "brown", "fox", "jumps"))
    // the space tokenizer would glue "quick," and "FOX" into distinct
    // tokens; unicode shingles of the messy text equal the clean ones
    val shClean = Dedup.shingles(clean, k = 3).head.getSeq[String](1).toSet
    val shMessy = Dedup.shingles(messy, k = 3, unicode = true)
      .head.getSeq[String](1).toSet
    assert(shClean.nonEmpty)
    assert(shMessy == shClean)
  }

  test("banded simhash pairs equal the all-pairs formulation exactly") {
    // the scale configuration: 60-bit signatures, 15-bit pigeonhole bands
    val sims = Dedup.simhash(docs, bits = 60).cache()
    val allPairs = Dedup.simhashPairs(sims, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simhashPairsBanded(sims, maxHamming = 3, bits = 60)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(allPairs.nonEmpty)
    assert(banded == allPairs,
      s"pigeonhole banding must be exact: ${banded.size} vs ${allPairs.size}")
    sims.unpersist()

    // pigeonhole exactness is width-independent — spot-check 16-bit too
    val sims16 = Dedup.simhash(docs, bits = 16).cache()
    val all16 = Dedup.simhashPairs(sims16, maxHamming = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val band16 = Dedup.simhashPairsBanded(sims16, maxHamming = 2, bits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(band16 == all16)
    sims16.unpersist()
  }

  test("time joins: as-of carry-forward and bucketed range join") {
    import spark.implicits._
    val l = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "lt", "ltag")
    val r = Seq((1L, 90L, "v1"), (1L, 100L, "v2"), (1L, 150L, "v3"),
      (3L, 10L, "v4")).toDF("k", "rt", "rtag")

    // as-of: latest right at-or-before (inclusive at equal ts); left
    // rows with no predecessor keep nulls
    val asof = TimeJoins.asofJoin(l, r, "k", "lt", "rt")
      .select($"k", $"lt", $"r_rtag").collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2)))).toSet
    assert(asof == Set((1L, 100L, Some("v2")), (1L, 200L, Some("v3")),
      (2L, 50L, None)))

    // range join: inclusive bounds, and each qualifying pair produced
    // exactly once even when the window spans a bucket boundary
    val rj = TimeJoins.rangeJoinBucketed(l, r, "k", "lt", "rt",
        before = 50L, after = 0L)
      .select($"ltag", $"r_rtag").collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq
    assert(rj.length == rj.distinct.length, "no duplicate pairs")
    assert(rj.toSet == Set(("p1", "v1"), ("p1", "v2"), ("p2", "v3")))
  }

  test("media decode seam: real BMP and WAV headers parse through the pipeline") {
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

    // hand-built 640×480 BMP: "BM" + 12 header bytes + BITMAPINFOHEADER
    // (width at offset 18, height at 22)
    val bmp = "BM".getBytes("US-ASCII") ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(640) ++ le32(480) ++ le16(1) ++ le16(24) ++
      Array.fill[Byte](24)(0)

    // hand-built PCM WAV: RIFF/WAVE + fmt (stereo, 44100 Hz,
    // block align 4) + data chunk of 40 bytes = 10 sample frames
    val fmt = le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++
      le16(4) ++ le16(16)
    val data = Array.fill[Byte](40)(7)
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ fmt ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data

    // hand-built PNG: 8-byte signature + IHDR length/tag + big-endian
    // 1920x1080 dims + the remaining 5 IHDR fields + CRC
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes("US-ASCII") ++
      be32(1920) ++ be32(1080) ++ Array.fill[Byte](5)(0) ++ be32(0)

    // hand-built 2-frame animated GIF89a: header + logical screen
    // descriptor (320×200, no global palette), a graphic-control
    // extension, two image descriptors with one 3-byte pixel sub-block
    // each, trailer
    def gifFrame = Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(320) ++
      le16(200) ++ Array[Byte](0) ++ // descriptor, no local palette
      Array[Byte](2, 3, 1, 2, 3, 0) // LZW min code + sub-block(3) + end
    val gif = "GIF89a".getBytes("US-ASCII") ++ le16(320) ++ le16(200) ++
      Array[Byte](0, 0, 0) ++ // no global palette
      Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0) ++ // GCE sub-blocks
      gifFrame ++ gifFrame ++ Array[Byte](0x3b)

    // hand-built JPEG: SOI + APP0 segment + SOF0 (baseline) with
    // big-endian 512×384 dims
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      Array[Byte](0xff.toByte, 0xe0.toByte, 0, 6, 'J', 'F', 'I', 'F') ++
      Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8) ++
      Array[Byte](1, 0x80.toByte) ++ // height 384 BE
      Array[Byte](2, 0) ++ // width 512 BE
      Array[Byte](3, 0, 0, 0)

    val media = Seq(
      Multimodal.MediaRow(1L, "image", bmp),
      Multimodal.MediaRow(2L, "audio", wav),
      Multimodal.MediaRow(3L, "blob", "not a container".getBytes("UTF-8")),
      Multimodal.MediaRow(4L, "image", png),
      Multimodal.MediaRow(5L, "image", gif),
      Multimodal.MediaRow(6L, "image", jpg))
      .toDF("media_id", "kind", "payload")
    val feats = Multimodal.extractFeatures(media)
      .collect().sortBy(_.media_id)

    assert(feats(0) == Multimodal.MediaFeatures(1L, "image", bmp.length,
      640, 480, 1))
    // WAV: width = sample rate, height = channels, frames = data/blockAlign
    assert(feats(1) == Multimodal.MediaFeatures(2L, "audio", wav.length,
      44100, 2, 10))
    // unknown container falls back to the disclosed stub
    assert(feats(2) == Multimodal.FakeDecoder.decode(
      Multimodal.MediaRow(3L, "blob", "not a container".getBytes("UTF-8"))))
    // PNG: big-endian IHDR width/height
    assert(feats(3) == Multimodal.MediaFeatures(4L, "image", png.length,
      1920, 1080, 1))
    // GIF: little-endian screen descriptor dims, image-descriptor count
    // as the animation frame count
    assert(feats(4) == Multimodal.MediaFeatures(5L, "image", gif.length,
      320, 200, 2))
    // JPEG: big-endian SOF0 dims behind a skipped APP0 segment
    assert(feats(5) == Multimodal.MediaFeatures(6L, "image", jpg.length,
      512, 384, 1))
  }

  test("PCM audio decode: synthesized WAV round-trips through the RIFF " +
      "walk to exact sample stats; non-PCM rejects") {
    import spark.implicits._
    // 'abc ' -> samples (97-96)*256=256, 512, 768, (32-96)*256=-16384
    val docs = Seq((7L, "abc ")).toDF("doc_id", "text")
    val stats = Multimodal.audioStats(Multimodal.asWavMedia(docs)).collect()
    assert(stats.length == 1)
    val a = stats.head
    assert(a.media_id == 7L && a.n_samples == 4L &&
      a.sample_rate == 8000L && a.channels == 1L)
    assert(a.peak == 16384L)
    val expectRms = BigDecimal(math.sqrt(
      (256.0 * 256 + 512.0 * 512 + 768.0 * 768 + 16384.0 * 16384) / 4))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(a.rms == expectRms)
    assert(a.duration_ms == 4L * 1000 / 8000)
    // a float-codec WAV (format tag 3) and a truncated data chunk reject
    val wav = Multimodal.asWavMedia(docs).select("payload")
      .head.getAs[Array[Byte]](0)
    val float = wav.clone(); float(20) = 3
    val truncated = wav.take(48) // data chunk claims more than present
    assert(Multimodal.PcmDecoder.decode(
      Multimodal.MediaRow(1L, "audio", float)).isEmpty)
    assert(Multimodal.PcmDecoder.decode(
      Multimodal.MediaRow(2L, "audio", truncated)).isEmpty)
    // the container is a REAL wav: the header decoder agrees on rate
    val hf = Multimodal.HeaderDecoder.decode(
      Multimodal.MediaRow(3L, "audio", wav))
    assert(hf.width == 8000 && hf.height == 1 && hf.n_frames == 4)
  }

  test("ISO-BMFF box walk: synthesized MP4 round-trips duration/tracks/" +
      "dims/codecs; malformed and non-BMFF payloads reject safely") {
    import spark.implicits._
    // even id: video-only; odd id: video + audio traks
    val docs = Seq((8L, "abcdef"), (9L, "zy")).toDF("doc_id", "text")
    val feats = Multimodal.videoFeatures(Multimodal.asMp4Media(docs))
      .collect().sortBy(_.media_id)
    assert(feats.length == 2)
    val v8 = feats(0)
    assert(v8.media_id == 8L && v8.duration_ms == 240L && // 6 chars × 40
      v8.timescale == 1000L && v8.n_tracks == 1L &&
      v8.video_codec == "avc1" && v8.audio_codec == "none")
    assert(v8.width == 64 + ('a'.toInt % 16) * 32 &&
      v8.height == 64 + ('b'.toInt % 9) * 32)
    val v9 = feats(1)
    assert(v9.n_tracks == 2L && v9.audio_codec == "mp4a" &&
      v9.duration_ms == 80L)
    // malformed: a box whose size overruns the payload stops the walk
    // with what was decoded so far; garbage and truncation reject
    val mp4 = Multimodal.asMp4Media(docs).select("payload")
      .head.getAs[Array[Byte]](0)
    val overrun = mp4.clone()
    // ftyp is 20 bytes, so moov's 4-byte size starts at offset 20:
    // force its high byte → the box claims to extend way past the
    // buffer and the walk must stop rather than read out of bounds
    overrun(20) = 0x7f
    val partial = Multimodal.Mp4Decoder.decode(
      Multimodal.MediaRow(1L, "video", overrun))
    assert(partial.isDefined && partial.get.n_tracks == 0L,
      "ftyp still identifies BMFF; the oversized moov is skipped")
    assert(Multimodal.Mp4Decoder.decode(
      Multimodal.MediaRow(2L, "video", mp4.take(30))).isDefined ==
      false || Multimodal.Mp4Decoder.decode(
        Multimodal.MediaRow(2L, "video", mp4.take(30))).get.n_tracks == 0L)
    assert(Multimodal.Mp4Decoder.decode(Multimodal.MediaRow(3L, "video",
      "definitely not an mp4 container at all".getBytes("UTF-8"))).isEmpty)

    // r13 review regressions — hand-built boxes
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ typ.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "isomiso2avc1".getBytes("US-ASCII"))
    // a clip cut mid-mvhd: version=1 but only 28 payload bytes, so the
    // 8-byte duration read would run 4 bytes past the box (and, the box
    // being last, past the buffer) — must decode to 0s, not throw
    val cutMvhd = ftyp ++ box("moov", box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++
        be32(1000L) ++ be32(77L)))
    val cut = Multimodal.Mp4Decoder.decode(
      Multimodal.MediaRow(4L, "video", cutMvhd))
    assert(cut.isDefined && cut.get.duration_ms == 0L &&
      cut.get.timescale == 0L,
      "truncated v1 mvhd stops cleanly instead of overrunning")
    // a trak nested inside a trak must not orphan the OUTER track's
    // remaining hdlr/stsd boxes
    val hdlr = box("hdlr", new Array[Byte](8) ++
      "vide".getBytes("US-ASCII") ++ new Array[Byte](4))
    val stsd = box("stsd", new Array[Byte](12) ++
      "avc1".getBytes("US-ASCII"))
    val nested = ftyp ++ box("moov",
      box("trak", box("trak", Array.empty[Byte]) ++ hdlr ++ stsd))
    val nf = Multimodal.Mp4Decoder.decode(
      Multimodal.MediaRow(5L, "video", nested))
    assert(nf.isDefined && nf.get.video_codec == "avc1",
      "outer trak's hdlr/stsd still attribute after a nested trak")
  }

  test("Walsh band energies: hand-computed correlations over decoded " +
      "PCM, smaller-band ties, window bound, non-PCM rejects") {
    import spark.implicits._
    // 'ab' -> samples 256, 512. Band 0 signs (+,-): c0 = -256.
    // Bands 1-3 see both i=0,1 as +: c = 768. e1=e2=e3 > e0, ties to
    // the SMALLER band -> dominant 1.
    val docs = Seq((5L, "ab")).toDF("doc_id", "text")
    val out = Multimodal.audioBandEnergies(
      Multimodal.asWavMedia(docs)).collect()
    assert(out.length == 1)
    val b = out.head
    assert(b.media_id == 5L && b.e0 == 256L * 256 &&
      b.e1 == 768L * 768 && b.e2 == 768L * 768 && b.e3 == 768L * 768 &&
      b.dominant_band == 1L)
    // the window bounds per-row work: a 200-char doc and its 64-char
    // prefix produce identical energies at window = 64
    val long200 = ('a' to 'z').mkString * 8
    val pair = Seq((6L, long200), (7L, long200.take(64)))
      .toDF("doc_id", "text")
    val es = Multimodal.audioBandEnergies(
        Multimodal.asWavMedia(pair), window = 64)
      .collect().sortBy(_.media_id)
    assert(es(0).copy(media_id = 0L) == es(1).copy(media_id = 0L))
    // non-PCM payloads drop, like every other audio feature
    val junk = Seq(Multimodal.MediaRow(8L, "audio",
      "not a riff container".getBytes("UTF-8"))).toDF()
    assert(Multimodal.audioBandEnergies(junk).collect().isEmpty)
  }

  test("PNM full-pixel decode: luma, box-resize thumbnail, malformed rejects") {
    import spark.implicits._
    // P5 4×2 grayscale with a comment: left half 0, right half 200
    val pgm = ("P5 # gray\n4 2\n255\n").getBytes("UTF-8") ++
      Array[Byte](0, 0, 200.toByte, 200.toByte,
        0, 0, 200.toByte, 200.toByte)
    // P6 2×2 RGB: pure red, green, blue, white
    val ppm = "P6\n2 2 255\n".getBytes("UTF-8") ++ Array[Byte](
      255.toByte, 0, 0, 0, 255.toByte, 0,
      0, 0, 255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val truncated = "P6\n2 2 255\n".getBytes("UTF-8") ++ Array[Byte](1, 2, 3)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", pgm),
      Multimodal.MediaRow(2L, "image", ppm),
      Multimodal.MediaRow(3L, "image", truncated),
      Multimodal.MediaRow(4L, "blob", "P6 but text".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val px = Multimodal.extractPixelFeatures(media, side = 2)
      .collect().sortBy(_.media_id)
    // truncated raster and non-raster rows drop
    assert(px.map(_.media_id).toSeq == Seq(1L, 2L))
    val g = px(0)
    assert((g.width, g.height, g.channels, g.maxval) == (4, 2, 1, 255))
    assert(g.mean_luma == 100.0)
    // 2×2 box means: left cells 0, right cells 200
    assert(g.thumb.toSeq == Seq(0.0, 200.0, 0.0, 200.0))
    val c = px(1)
    // BT.601 integer luma: R=76, G=149, B=29 (each /1000 floor), W=255
    assert(c.thumb.toSeq == Seq(76.0, 149.0, 29.0, 255.0))
    assert(c.mean_luma == (76 + 149 + 29 + 255) / 4.0)
  }

  test("unicode tokenization flows through minhash, simhash, and the lexical entry points") {
    import spark.implicits._
    // doc 2 is doc 1 up to punctuation and case; doc 3 is unrelated
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "The quick, brown fox! Jumps over the lazy dog; tonight."),
      (3L, "completely different text about spark shuffles and joins"))
      .toDF("doc_id", "text")
    // split(' ') shingles glue punctuation onto tokens → the near-dup
    // pair is invisible; the unicode tokenizer recovers jaccard 1.0
    val plain = Dedup.minhashNearDups(d, k = 3, numHashes = 8,
      rowsPerBand = 2, threshold = 0.8).collect()
    assert(!plain.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    val uni = Dedup.minhashNearDups(d, k = 3, numHashes = 8,
      rowsPerBand = 2, threshold = 0.8, unicode = true).collect()
    assert(uni.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(2) == 1.0))
    // simhash: identical signatures under unicode, different under split
    def sigs(unicode: Boolean) = Dedup.simhash(d, bits = 16, unicode = unicode)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(unicode = true)(1L) == sigs(unicode = true)(2L))
    assert(sigs(unicode = false)(1L) != sigs(unicode = false)(2L))
    // lexical entry points tokenize clean under the flag: no vocabulary
    // term carries punctuation or upper case
    val vocab = TextRetrieval.vocabTopK(d, 50, unicode = true).collect()
    assert(vocab.forall(r =>
      r.getString(0).forall(c => Character.isLetterOrDigit(c))))
    // and bm25 under unicode matches the punctuated doc for a cased,
    // punctuated query term normalized the same way
    val hits = TextRetrieval.bm25TopK(d,
        TextRetrieval.tokenizeQuery("Tonight!", unicode = true),
        k = 3, unicode = true)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L))
  }

  test("malformed media headers stop the walk instead of throwing") {
    import spark.implicits._
    // a run of 0xff fill bytes can leave the marker at p.length - 2,
    // where the 2-byte segment-length read would be out of bounds
    val truncJpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xe0.toByte, 0x00)
    // length bytes themselves cut off mid-segment
    val cutJpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xe0.toByte, 0x00)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", truncJpg),
      Multimodal.MediaRow(2L, "image", cutJpg))
      .toDF("media_id", "kind", "payload")
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    // both fall through to the disclosed stub rather than failing the task
    assert(feats(0) == Multimodal.FakeDecoder.decode(
      Multimodal.MediaRow(1L, "image", truncJpg)))
    assert(feats(1) == Multimodal.FakeDecoder.decode(
      Multimodal.MediaRow(2L, "image", cutJpg)))
  }

  test("driver entry: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("IVF knn join at full probe equals the broadcast knn join") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 5)
    val cents = emb.filter($"vec_id" >= 5 && $"vec_id" < 13)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    // full tuples incl. score and rank: the heap-based top-k must
    // reproduce knnJoin's (score desc, cid asc) order exactly
    val exact = SimilaritySearch.knnJoin(queries, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val ivf = SimilaritySearch.knnJoinIvf(queries, emb, cents,
        k = 5, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(ivf == exact, "probing every centroid must be exact")
    // list salting spreads a skewed list over shards without changing
    // a single result tuple
    val salted = SimilaritySearch.knnJoinIvf(queries, emb, cents,
        k = 5, nProbe = 8, saltShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(salted == exact, "salting must be result-invariant")

    // probing a PERSISTED assignment (the deployment path) returns the
    // identical result set: assignment + vector join done up front,
    // knnJoinIvfAssigned pays only probe + scoring + heaps
    import graft.functions.FloatVecPack.floatVecPack
    val packedEmb = emb.select($"vec_id".as("id"),
      floatVecPack($"embedding").as("vec"))
    val packedCents = cents.select($"cid",
      floatVecPack($"cvec").as("cvec"))
    val assignedTbl = SimilaritySearch.ivfAssignPacked(packedEmb, packedCents)
      .alias("a")
    val pre = assignedTbl
      .join(packedEmb.alias("e"), col("a.vec_id") === col("e.id"))
      .select(col("a.cid").as("ccid"),
        col("a.vec_id").as("cand_id"), col("e.vec").as("cv"))
    val indexed = SimilaritySearch.knnJoinIvfAssigned(
        queries.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec")),
        pre, packedCents, k = 5, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(indexed == exact, "pre-assigned join must be exact")
  }

  test("bucketed candidate table: exact results, candidate side exchange-free") {
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    val queries = emb.filter($"vec_id" < 5)
    val cents = emb.filter($"vec_id" >= 5 && $"vec_id" < 13)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val packedEmb = emb.select($"vec_id".as("id"),
      floatVecPack($"embedding").as("vec"))
    val packedCents = cents.select($"cid", floatVecPack($"cvec").as("cvec"))
    val pq = queries.select($"vec_id".as("id"),
      floatVecPack($"embedding").as("vec"))

    SimilaritySearch.writeAssignedBucketed(packedEmb, packedCents,
      "knn_bucketed_spec", buckets = 4)
    val exact = SimilaritySearch.knnJoin(queries, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val bucketedDf = SimilaritySearch.knnJoinIvfBucketed(pq,
      "knn_bucketed_spec", packedCents, k = 5, nProbe = 8)
    val bres = bucketedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(bres == exact, "bucketed join must be exact")

    // same rows through a PLAIN parquet round trip (no bucketing
    // metadata) and the same RELATIONAL core (blocked = false): the
    // only plan difference must be the extra candidate-side Exchange
    // the bucketed layout amortizes away
    val plainDir = tempDir("knn-plain").toString
    spark.table("knn_bucketed_spec").write.mode("overwrite").parquet(plainDir)
    val plainDf = SimilaritySearch.knnJoinIvfAssigned(pq,
      spark.read.parquet(plainDir), packedCents, k = 5, nProbe = 8,
      blocked = false)
    val pres = plainDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(pres == exact)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "(?<!Broadcast)Exchange".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val (be, pe) = (exchanges(bucketedDf), exchanges(plainDf))
    assert(be < pe,
      s"bucketed plan should save the candidate-side Exchange (bucketed=$be plain=$pe)")
  }

  test("IVF-PQ knn join: exact at full probe + corpus rerank, recall-gated at partial rerank") {
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    val packed = emb.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec"))
    val centsArr = emb.filter($"vec_id" >= 50 && $"vec_id" < 58).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val res = VectorQuant.ivfResiduals(packed, centsArr).persist()
    val books = VectorQuant.pqTrain(res.select($"id", $"rvec".as("vec")),
      m = 16, ncodes = 32, sampleMod = 1, iters = 2)
    val codes = VectorQuant.ivfPqEncode(res, books)
    val queries = packed.filter($"id" < 20)
    val exact = SimilaritySearch.knnJoin(emb.filter($"vec_id" < 20), emb, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // full probe + corpus-sized rerank: the ADC stage only enumerates;
    // the exact re-rank makes the output equal the brute-force join
    // whatever the codebooks learned
    val full = VectorQuant.knnJoinIvfPq(queries, codes, centsArr, books,
        packed, k = 5, nProbe = 8, rerank = 100000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(full == exact, "full probe + full rerank must be exact")
    // partial rerank: the ADC pre-filter's candidate set still recovers
    // most true neighbors before the exact re-rank
    val approx = VectorQuant.knnJoinIvfPq(queries, codes, centsArr, books,
        packed, k = 5, nProbe = 8, rerank = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(r => (r._1, r._2))
    val recall = approx.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"IVF-PQ knn join recall $recall")
    res.unpersist()
  }

  test("AdcCodesJoin custom plan: bucketed-codes knn join is result-" +
      "identical to knnJoinIvfPq and elides the codes-side exchange") {
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    val packed = emb.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec"))
    val centsArr = emb.filter($"vec_id" >= 50 && $"vec_id" < 58).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val res = VectorQuant.ivfResiduals(packed, centsArr).persist()
    val books = VectorQuant.pqTrain(res.select($"id", $"rvec".as("vec")),
      m = 16, ncodes = 32, sampleMod = 1, iters = 2)
    val codes = VectorQuant.ivfPqEncode(res, books)
    val queries = packed.filter($"id" < 20)
    VectorQuant.writeCodesBucketed(codes, "adc_codes_spec", buckets = 4)

    val viaKernel = VectorQuant.knnJoinIvfPq(queries, codes, centsArr,
        books, packed, k = 5, nProbe = 8, rerank = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val viaPlan = VectorQuant.knnJoinIvfPqBucketed(queries,
        "adc_codes_spec", centsArr, books, packed, k = 5, nProbe = 8,
        rerank = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaPlan == viaKernel,
      "custom-plan bucketed join must equal the union-kernel join")

    // the custom node must be in the plan, and NO shuffle exchange may
    // sit between the bucketed table scan and it — the exchange-
    // elision property the node exists for. (The probe side and the
    // downstream merge/rerank still shuffle, so total exchange count
    // stays > 0; the assertion is structural, not a count.) AQE off:
    // its stage wrappers hide the static node structure.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val execPlan = VectorQuant.knnJoinIvfPqBucketed(queries,
        "adc_codes_spec", centsArr, books, packed, k = 5, nProbe = 8,
        rerank = 40).queryExecution.executedPlan
      val adc = execPlan.collectFirst {
        case a: graft.plans.AdcCodesJoinExec => a }
        .getOrElse(fail(s"AdcCodesJoinExec not planned:\n$execPlan"))
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val codesSideShuffles = adc.right.collect {
        case _: ShuffleExchangeExec => 1 }.size
      // count only planner-inserted HASH exchanges: the fixture's own
      // RoundRobin repartition upstream is test scaffolding, not the
      // property under audit
      val probeHashShuffles = adc.left.collect {
        case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => 1
      }.size
      assert(codesSideShuffles == 0,
        s"bucketed codes side must not re-shuffle:\n${adc.right}")
      assert(probeHashShuffles == 1,
        s"probe side hash-shuffles once to the bucketed layout:\n${adc.left}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    res.unpersist()
  }

  test("packed IVF paths drop NaN vectors instead of emitting bogus centroids") {
    import spark.implicits._
    import graft.functions.FloatVecDot
    val good = Array.fill(8)(0.5f)
    val nan = Array.fill(8)(Float.NaN)
    val cents = Seq((0L, FloatVecDot.pack(good)), (1L, FloatVecDot.pack(good)))
      .toDF("cid", "cvec")
    val rows = Seq((10L, FloatVecDot.pack(good)), (11L, FloatVecDot.pack(nan)))
      .toDF("id", "vec")
    // assignment: the NaN row vanishes, the good row lands on cid 0
    val assigned = SimilaritySearch.ivfAssignPacked(rows, cents).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(assigned == Map(10L -> 0L))
    // knn join: a NaN query emits nothing (not np copies of cid 0);
    // a NaN candidate is never joined
    val out = SimilaritySearch.knnJoinIvfPacked(
        rows, rows, cents, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((10L, 10L)))
  }

  test("packed IVF assignment agrees with the array formulation") {
    import spark.implicits._
    import graft.functions.FloatVecPack.floatVecPack
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val plain = SimilaritySearch.ivfAssign(emb, cents)
      .select($"vec_id", $"cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packedEmb = emb.select($"vec_id".as("id"),
      floatVecPack($"embedding").as("vec"))
    val packedCents = cents.select($"cid",
      floatVecPack($"cvec").as("cvec"))
    val packed = SimilaritySearch.ivfAssignPacked(packedEmb, packedCents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = plain.keys.count(k => plain(k) == packed(k))
    assert(agree == plain.size,
      s"packed assignment diverged on ${plain.size - agree} vectors")
  }

  test("embeddingNearDups scale path: exact precision, banding recall >= 0.9") {
    val exact = Dedup.embeddingNearDups(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // force the >exactLimit branch on the same corpus; this corpus's
    // pairs sit at cos ~0.4-0.5 (not near-dup grade), so the auto
    // config (sketchConfigFor) sizes the 16-bit-key band count for
    // predicted recall >= 0.9 at the threshold
    val sketch = Dedup.embeddingNearDups(emb, 0.4, exactLimit = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sketch.subsetOf(exact),
      "every sketch-path pair is re-verified exactly — zero false positives")
    assert((exact & sketch).size >= math.ceil(exact.size * 0.9).toInt,
      s"sketch-path recall = ${(exact & sketch).size}/${exact.size}")
  }

  test("sketchThresholdPairs recall >= 0.9 at thresholds 0.6-0.8 (planted pairs, auto config)") {
    import spark.implicits._
    import graft.functions.FloatVecDot
    val dim = 64
    val nBase = 5000
    val nPlant = 300
    val rnd = new java.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val inv = 1.0 / math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x * inv).toFloat)
    }
    val base = Array.fill(nBase)(unit())
    for (t <- Seq(0.6, 0.7, 0.8)) {
      // partner of base(i) at EXACT cosine c = t + 0.03: w = c·v + s·u
      // with u a unit vector orthogonalized against v
      val c = t + 0.03
      val s = math.sqrt(1.0 - c * c)
      val planted = (0 until nPlant).map { i =>
        val v = base(i)
        val u0 = unit()
        val d = u0.zip(v).map { case (a, b2) => a.toDouble * b2.toDouble }.sum
        val u1 = u0.zip(v).map { case (a, b2) => a - d * b2 }
        val un = 1.0 / math.sqrt(u1.map(x => x * x).sum)
        v.zip(u1).map { case (a, b2) => (c * a + s * b2 * un).toFloat }
      }
      val rows = base.zipWithIndex.map { case (v, i) =>
        (i.toLong, FloatVecDot.pack(v)) } ++
        planted.zipWithIndex.map { case (v, i) =>
          ((nBase + i).toLong, FloatVecDot.pack(v)) }
      val df = rows.toSeq.toDF("id", "vec").repartition(8)
      val (bits, bands) = PairwiseTopK.sketchConfigFor(t)
      val found = PairwiseTopK.sketchThresholdPairs(df, dim, t,
          sketchBits = bits, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (0 until nPlant)
        .map(i => (i.toLong, (nBase + i).toLong)).toSet
      val recall = expected.count(found.contains) / nPlant.toDouble
      assert(recall >= 0.9,
        s"recall $recall at threshold $t (bits=$bits bands=$bands)")
    }
  }

  test("ivfAssign plan has no Window or Sort (broadcast argmax, not row_number)") {
    import spark.implicits._
    val cents = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val assigned = SimilaritySearch.ivfAssign(emb, cents)
    val plan = assigned.queryExecution.executedPlan
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      "assignment stage must not sort")
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      "assignment stage must not use a Window")
    // semantics: vec 0 is itself centroid 0 → unit self-score wins
    val c0 = assigned.filter($"vec_id" === 0L).select($"cid").head.getLong(0)
    assert(c0 == 0L)
  }

  test("csv ingestion: trim + distinct (S9 notebook pipeline)") {
    import spark.implicits._
    val dir = tempDir("graft-csv")
    val f = dir.resolve("jokes.csv")
    java.nio.file.Files.writeString(f,
      "joke\n  why did the chicken  \nwhy did the chicken\nsecond joke\n")
    val got = spark.read.option("header", "true").csv(f.toString)
      .select(trim($"joke").as("joke")).distinct()
      .orderBy($"joke").as[String].collect().toSeq
    assert(got == Seq("second joke", "why did the chicken"))
  }

  test("vector index topK equals the declarative brute-force ranking") {
    val packed = emb.select(col("vec_id").as("id"),
      col("embedding").as("vec"))
    // the driver-local form the factory picks for 500 rows, and the
    // executor-block form it builds above LocalThreshold
    val local = VectorIndex.fromArrays(packed).get
    val blocks = VectorIndex.onExecutors(packed.select(col("id"),
      graft.functions.FloatVecPack.floatVecPack(col("vec")).as("vec")), 64, 500L)
    try {
      assert(!blocks.isLocal && local.isLocal)
      val q = emb.where(col("vec_id") === 7L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val brute = SimilaritySearch.topK(emb, 7L, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      Seq(blocks, local).foreach { idx =>
        assert(idx.count == 500L)
        val got = idx.topK(q, 10)
        // same ids in same order; index scores are unrounded
        assert(got.map(_._1).toSeq == brute.map(_._1).toSeq)
        got.zip(brute).foreach { case ((_, s1), (_, s2)) =>
          assert(math.abs(s1 - s2) < 1e-5)
        }
        assert(idx.topK(q, 0).isEmpty)
      }
    } finally {
      blocks.unpersist()
      local.unpersist()
    }
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val ev = Tables.t(spark, sf("0.001"), "events")
    val direct = ev.groupBy($"event_type").agg(count(lit(1)).as("n"),
      round(sum($"value"), 6).as("total")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val salted = Skew.saltedCountSum(ev, $"event_type", $"value").collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).sortBy(_._1)
    assert(direct.map(x => (x._1, x._2)).toSeq ==
      salted.map(x => (x._1, x._2)).toSeq)
    direct.zip(salted).foreach { case (d, s) =>
      assert(math.abs(d._3 - s._3) < 1e-4)
    }
  }

  test("sql function registration via extensions") {
    import graft.functions.FloatVecDot
    // the extension class injects without error
    new GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
    // and the same expressions work through SQL on the live session
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_vec_dot",
      exprs => graft.functions.FloatVecDot(exprs.head, exprs(1)),
      "built-in")
    val a = FloatVecDot.pack(Array(1.0f, 2.0f))
    val b = FloatVecDot.pack(Array(3.0f, 4.0f))
    import spark.implicits._
    val got = Seq((a, b)).toDF("a", "b").createOrReplaceTempView("vv")
    assert(spark.sql("SELECT float_vec_dot(a, b) FROM vv")
      .head().getDouble(0) == 11.0)

    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_overlap_count",
      exprs => graft.functions.SortedOverlapCount(exprs.head, exprs(1)),
      "built-in")
    assert(spark.sql(
      "SELECT sorted_overlap_count(array('a','b','c'), array('b','c','d'))")
      .head().getInt(0) == 2)

    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "int8_vec_dot",
      exprs => graft.functions.Int8VecDot(exprs.head, exprs(1)),
      "built-in")
    val (qa, _) = graft.functions.Int8VecDot.quantize(Array(1.0f, -0.5f))
    Seq((qa, qa)).toDF("qa", "qb").createOrReplaceTempView("qq")
    assert(spark.sql("SELECT int8_vec_dot(qa, qb) FROM qq")
      .head().getLong(0) == 127L * 127 + 64L * 64)

    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bit_hamming",
      exprs => graft.functions.BitHamming(exprs.head, exprs(1)),
      "built-in")
    val sa = graft.functions.BitHamming.signPack(Array(1.0f, -1.0f, 1.0f))
    val sb = graft.functions.BitHamming.signPack(Array(-1.0f, -1.0f, 1.0f))
    Seq((sa, sb)).toDF("sa", "sb").createOrReplaceTempView("ss")
    assert(spark.sql("SELECT bit_hamming(sa, sb) FROM ss")
      .head().getInt(0) == 1)
  }

  test("gopher rules: each rule independently gates keep") {
    import spark.implicits._
    val good = ((1 to 30).map(i => s"word$i") :+ "the").mkString(" ")
    val d = Seq(
      (1L, good), // all rules pass
      (2L, "the cat sat"), // too short
      (3L, good + " ### ### ### ### ### ###"), // symbol ratio
      (4L, ((1 to 30).map(i => s"word$i")).mkString(" ")), // no stopword
      (5L, ((1 to 30).map(_ => "a2345678901234567") :+ "the").mkString(" ")) // mean len > 10
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(d, Seq("the", "a"), minWords = 15)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(5), r.getLong(6))).toMap // (stop_hits, keep)
    assert(out(1L) == (1L, 1L))
    assert(out(2L)._2 == 0L)
    assert(out(3L)._2 == 0L)
    assert(out(4L) == (0L, 0L))
    assert(out(5L)._2 == 0L)
    // measured values on the good doc
    val g = TextAnalysis.gopherQuality(d, Seq("the", "a"), minWords = 15)
      .where($"doc_id" === 1L).head()
    assert(g.getLong(1) == 31L) // n_words
    assert(g.getDouble(3) == 0.0) // symbol_ratio
    assert(g.getDouble(4) == 1.0) // alpha_frac
  }

  test("bm25: tf, rarity, and length normalization drive the ranking") {
    import spark.implicits._
    val filler = (1 to 6).map(i => s"f$i").mkString(" ")
    val d = Seq(
      (1L, s"spark spark spark $filler"), // tf 3 on common term
      (2L, s"spark $filler x y z"), // tf 1, longer doc
      (3L, s"join $filler x y z"), // tf 1 on the RARE term
      (4L, filler), (5L, filler), (6L, filler)
    ).toDF("doc_id", "text")
    val out = TextRetrieval.bm25TopK(d, Seq("spark", "join"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // only docs containing a query term appear
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    // scores strictly descending already (orderBy asserted by collect order)
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
    val score = out.toMap
    // same term, same length: higher tf wins
    assert(score(1L) > score(2L))
    // rarer term (df 1 vs 2) outscores the common term at equal tf
    assert(score(3L) > score(2L))
  }

  test("rm3 expansion: feedback terms retrieve docs the plain query " +
      "cannot; alpha=0 degenerates to the BM25 ranking") {
    import spark.implicits._
    val filler = (1 to 6).map(i => s"f$i").mkString(" ")
    val d = Seq(
      (1L, s"spark shuffle shuffle $filler"),
      (2L, s"spark shuffle shuffle $filler"),
      (3L, s"shuffle shuffle $filler"), // no query term: expansion-only
      (4L, filler), (5L, filler)
    ).toDF("doc_id", "text")
    val plain = TextRetrieval.bm25TopK(d, Seq("spark"), k = 10)
      .collect().map(_.getLong(0))
    assert(!plain.contains(3L)) // unreachable without expansion
    val rm3 = TextRetrieval.rm3TopK(d, Seq("spark"), k = 10,
      fbDocs = 2, fbTerms = 2, alpha = 0.5)
      .collect().map(_.getLong(0))
    assert(rm3.contains(3L),
      s"expansion failed to surface doc 3: ${rm3.toSeq}")
    // the weight table carries the query term plus the fb-shared
    // vocabulary, all strictly positive
    val (p, dl) = TextRetrieval.buildIndex(d)
    val w = TextRetrieval.rm3TermWeights(p, dl, Seq("spark"),
      fbDocs = 2, fbTerms = 2, alpha = 0.5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(w.contains("spark") && w.contains("shuffle"), w.toString)
    assert(w.values.forall(_ > 0))
    p.unpersist()
    // alpha = 0: zero expansion mass — the weighted rescore ranks
    // exactly like plain BM25 (scores scale by P(t|Q), order preserved)
    val a0 = TextRetrieval.rm3TopK(d, Seq("spark"), k = 10,
      fbDocs = 2, fbTerms = 2, alpha = 0.0)
      .collect().map(_.getLong(0))
    assert(a0.toSeq == plain.toSeq)
  }

  test("repetition ratio: multiset bigram share of the top bigram") {
    import spark.implicits._
    val d = Seq((1L, "a b a b a b"), (2L, "x y z"),
      (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionRatio(d, k = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // "a b a b a b": 5 bigrams, "a b" x3 -> 0.6 (multiset, not set)
    assert(out(1L) == (5L, 0.6))
    assert(out(2L) == (2L, 0.5))
    // a doc with fewer than k tokens has no n-grams and no row (the
    // contract the per-row rewrite must preserve)
    assert(!out.contains(3L))
  }

  test("vocab heavy hitters and tfidf keywords") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha alpha beta gamma"),
      (2L, "alpha beta beta delta"),
      (3L, "alpha gamma gamma epsilon")
    ).toDF("doc_id", "text")
    val vocab = TextRetrieval.vocabTopK(d, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // alpha 4, beta 3, gamma 3 (beta before gamma on the term tiebreak)
    assert(vocab == Seq(("alpha", 4L), ("beta", 3L), ("gamma", 3L)))

    val kw = TextRetrieval.tfidfKeywords(d, 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: alpha idf=ln(1)=0; beta == gamma (1·ln 1.5) -> term tiebreak
    assert(kw(1L) == "beta")
    // docs 2/3: the doc-unique term (ln 3) beats tf=2 of a df=2 term
    // (2·ln 1.5 = 0.81 < 1.099)
    assert(kw(2L) == "delta")
    assert(kw(3L) == "epsilon")
  }

  test("retrieval edge cases: absent terms, k beyond corpus, empty inputs") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    // all query terms absent -> empty result, not an error
    assert(TextRetrieval.bm25TopK(d, Seq("zzz"), 5).isEmpty)
    // k beyond the matching set returns just the matches
    assert(TextRetrieval.bm25TopK(d, Seq("alpha"), 100).count() == 1)
    // vocab k beyond vocabulary size returns the whole vocabulary
    assert(TextRetrieval.vocabTopK(d, 100).count() == 3)
    // empty query terms are refused loudly
    intercept[IllegalArgumentException] {
      TextRetrieval.bm25TopK(d, Seq.empty, 5)
    }
    // rrf with one empty side degrades to the other list's ranking
    val a = Seq((1L, 2.0), (2L, 1.0)).toDF("doc_id", "score")
    val none = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val out = TextRetrieval.rrfFuse(a, none, 5).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("rrf fusion: rank-based, disjoint lists contribute one-sided") {
    import spark.implicits._
    val a = Seq((1L, 9.0), (2L, 5.0)).toDF("doc_id", "score")
    val b = Seq((2L, 0.9), (3L, 0.8)).toDF("doc_id", "score")
    val out = TextRetrieval.rrfFuse(a, b, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // doc2 = 1/62 + 1/61 (rank 2 lexical, rank 1 vector); doc1 = 1/61;
    // doc3 = 1/62
    assert(out.map(_._1).toSeq == Seq(2L, 1L, 3L))
    assert(math.abs(out.head._2 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
  }

  test("int8 quantization: kernel semantics and packed/array parity") {
    import graft.functions.{FloatVecDot, Int8VecDot}
    import graft.functions.FloatVecPack.floatVecPack
    import spark.implicits._
    // round half away from zero, clamp, scale = 127/max|x|
    val (code, scale) = Int8VecDot.quantize(Array(0.5f, -0.5f, 1.0f, 0.0f))
    assert(scale == 127.0)
    assert(code.toSeq == Seq[Byte](64, -64, 127, 0))
    assert(Int8VecDot.dot(code, code) == 64L * 64 + 64L * 64 + 127L * 127)
    // zero vector: all-zero codes, zero scale, no NaN
    assert(Int8VecDot.quantize(Array(0.0f, 0.0f))._2 == 0.0)

    // packed compressed scan == the oracle-parity array formulation
    val expected = VectorQuant.sqTopK(emb, 2L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val packed = emb.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec"))
    val codes = VectorQuant.sqEncodePacked(packed)
    val q = codes.where($"id" === 2L).head()
    val got = VectorQuant.sqTopKPacked(codes,
        q.getAs[Array[Byte]]("code"), q.getDouble(2), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)

    // quantized ranking tracks the exact ranking closely on unit vectors
    val exact = SimilaritySearch.topK(emb, 2L, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.filter(x => exact.contains(x._1)).foreach { case (id, s) =>
      assert(math.abs(s - exact(id)) < 0.02, s"vec $id drifted: $s vs ${exact(id)}")
    }
  }

  test("product quantization: ADC + exact refine reaches recall@10 >= 0.9") {
    import graft.functions.FloatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    import spark.implicits._
    val packed = emb.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec"))
    // 16 subspaces x 32 codes on d=64: 16 bytes/vector (16x compression)
    val books = VectorQuant.pqTrain(packed, m = 16, ncodes = 32,
      sampleMod = 1, iters = 4)
    assert(books.length == 16 && books.forall(_.length == 32) &&
      books.forall(_.forall(_.length == 4)))
    val codes = VectorQuant.pqEncode(packed, books).persist()
    assert(codes.count() == emb.count())
    assert(codes.select(max(length($"code"))).head().getInt(0) == 16)
    val query = emb.where($"vec_id" === 42L)
      .head().getSeq[Float](1).toArray
    val exact = SimilaritySearch.topK(emb, 42L, 10).collect()
      .map(_.getLong(0)).toSet
    val refined = VectorQuant.pqTopKRefined(codes, packed, books, query,
      k = 10, rerank = 100).collect()
    assert(refined.length == 10)
    val recall = refined.map(_.getLong(0)).toSet.intersect(exact).size / 10.0
    assert(recall >= 0.9, s"refined PQ recall $recall")
    // the ADC tier alone still finds most of the true neighborhood in
    // its rerank-sized candidate set
    val adc = VectorQuant.pqTopK(codes, books, query, 100).collect()
      .map(_.getLong(0)).toSet
    assert(adc.intersect(exact).size >= 9, "ADC candidate recall")
    codes.unpersist()
  }

  test("quantized tiers exclude zero/NaN vectors instead of ranking them first") {
    import graft.functions.{FloatVecDot, Int8VecDot}
    import spark.implicits._
    val good = (0 until 4).map(i =>
      (i.toLong, FloatVecDot.pack(Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f))))
    val zero = (10L, FloatVecDot.pack(Array.fill(8)(0.0f)))
    val nan = (11L, FloatVecDot.pack(Array.fill(8)(Float.NaN)))
    val packed = (good :+ zero :+ nan).toDF("id", "vec")
    val q = Array.tabulate(8)(j => if (j == 0) 1.0f else 0.0f)

    // int8 tier: scale-0 rows (zero or NaN source) never rank
    val codes = VectorQuant.sqEncodePacked(packed)
    val (qc, qs) = Int8VecDot.quantize(q)
    val top = VectorQuant.sqTopKPacked(codes, qc, qs, 10).collect()
      .map(_.getLong(0))
    assert(!top.contains(10L) && !top.contains(11L))
    assert(top.head == 0L) // the matching axis vector wins
    // and a degenerate QUERY is refused loudly, not ranked as NaN
    intercept[IllegalArgumentException] {
      VectorQuant.sqTopKPacked(codes, new Array[Byte](8), 0.0, 3)
    }

    // the interpreted array formulation agrees: an all-zero corpus row
    // (scale = Infinity, NaN score) is excluded, not ranked first —
    // and so is a NaN-bearing row, which slips past the array_max
    // guard because SQL orders NaN above every number
    val arrEmb = (good :+ zero :+ nan).map { case (id, vb) =>
      (id, FloatVecDot.unpack(vb).toSeq) }.toDF("vec_id", "embedding")
    val arrTop = VectorQuant.sqTopK(arrEmb, 0L, 10).collect().map(_.getLong(0))
    assert(!arrTop.contains(10L) && !arrTop.contains(11L))
    assert(arrTop.head == 0L)

    // PQ: a NaN sample row doesn't poison the codebooks, and a NaN
    // candidate never surfaces through the exact refine
    val books = VectorQuant.pqTrain(packed, m = 2, ncodes = 4,
      sampleMod = 1, iters = 2)
    assert(books.flatten.flatten.forall(x => !x.isNaN))
    val pqCodes = VectorQuant.pqEncode(packed, books)
    val out = VectorQuant.pqTopKRefined(pqCodes, packed, books, q,
      k = 5, rerank = 6).collect().map(_.getLong(0))
    assert(!out.contains(11L))
  }

  test("IVF-PQ: residual identity, list pruning, refined recall@10 >= 0.9") {
    import graft.functions.FloatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    import spark.implicits._
    val packed = emb.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec"))
    val cents = emb.where($"vec_id" < 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val res = VectorQuant.ivfResiduals(packed, cents).persist()
    assert(res.count() == emb.count())

    // residual + centroid reconstructs the vector
    val byCid = cents.toMap
    val row = res.where($"id" === 99L).head()
    val orig = FloatVecDot.unpack(
      packed.where($"id" === 99L).head().getAs[Array[Byte]]("vec"))
    val rec = FloatVecDot.unpack(row.getAs[Array[Byte]]("rvec"))
      .zip(byCid(row.getLong(1))).map { case (a, b) => a + b }
    orig.zip(rec).foreach { case (o, r2) => assert(math.abs(o - r2) < 1e-5f) }

    val books = VectorQuant.pqTrain(
      res.select($"id", $"rvec".as("vec")), m = 16, ncodes = 32,
      sampleMod = 1, iters = 4)
    val codes = VectorQuant.ivfPqEncode(res, books).persist()
    val query = emb.where($"vec_id" === 42L).head().getSeq[Float](1).toArray
    val exact = SimilaritySearch.topK(emb, 42L, 10).collect()
      .map(_.getLong(0)).toSet
    val out = VectorQuant.ivfPqTopKRefined(codes, packed, cents, books,
      query, k = 10, nProbe = 8, rerank = 100).collect()
    val recall = out.map(_.getLong(0)).toSet.intersect(exact).size / 10.0
    assert(recall >= 0.9, s"ivf-pq refined recall $recall")

    // a partial probe returns k rows from a strict subset of the lists
    val partial = VectorQuant.ivfPqTopK(codes, cents, books, query,
      k = 10, nProbe = 2)
    assert(partial.count() == 10)
    res.unpersist(); codes.unpersist()
  }

  test("piiRedact masks emails/phones/IPs and counts per category") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail a@b.org then b.c-d@sub.example.co.uk done"),
      (2L, "call 555-123-4567 or 555-000-1111 from 192.168.0.1"),
      (3L, "clean text no pii at all"),
      (4L, "edge 1234-567-8901 phone-ish and 300.300.300.300 ip-ish"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1).getString(1) == "mail [EMAIL] then [EMAIL] done")
    assert(r(1).getLong(2) == 2 && r(1).getLong(5) == 2)
    assert(r(2).getString(1) == "call [PHONE] or [PHONE] from [IP]")
    assert(r(2).getLong(3) == 2 && r(2).getLong(4) == 1)
    assert(r(3).getString(1) == "clean text no pii at all")
    assert(r(3).getLong(5) == 0)
    // \b keeps the 4-3-4 digit run unmasked; the naive IPv4 class is
    // format-, not range-validating (documented trade)
    assert(r(4).getString(1).contains("1234-567-8901"))
    assert(r(4).getString(1).contains("[IP]"))
  }

  test("sourceStats aggregates count, mean quality, and dup count per source") {
    import spark.implicits._
    val d = Seq(
      (1L, "s1", "the a b"),
      (2L, "s1", "the a b"), // exact dup of doc 1
      (3L, "s1", "something else entirely"),
      (4L, "s2", "unique text here"))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.sourceStats(d, Seq("the", "a")).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(3))).toMap
    assert(r("s1") == ((3L, 1L)))
    assert(r("s2") == ((1L, 0L)))
  }

  test("ngramPerplexity matches the hand-computed smoothed bigram model") {
    import spark.implicits._
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    // V = 3; c(a,b)=3, c(b,a)=1; c(a.)=3, c(b.)=1
    // p(b|a) = 4/6, p(a|b) = 2/4
    // doc1: ppl = (2/3 * 1/2 * 2/3)^(-1/3) = 4.5^(1/3) = 1.6510
    // doc2: ppl = (2/3)^(-1) = 1.5;  doc3: no bigrams -> (0, 0.0)
    val r = TextAnalysis.ngramPerplexity(d).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1L) == ((3L, 1.651)))
    assert(r(2L) == ((1L, 1.5)))
    assert(r(3L) == ((0L, 0.0)))
  }

  test("lineDedup keeps first occurrence corpus-wide, reassembles in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "header\nalpha\nbody one"),
      (2L, "header\n\nbody two\nalpha"),
      (3L, "header\nalpha"), // every line already seen -> empty doc
      (4L, "  \nbody four"))
      .toDF("doc_id", "text")
    val r = Dedup.lineDedup(d).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getString(3))))
      .toMap
    assert(r(1L) == ((3L, 3L, "header\nalpha\nbody one")))
    assert(r(2L) == ((3L, 1L, "body two"))) // blank line not counted
    assert(r(3L) == ((2L, 0L, "")))
    assert(r(4L) == ((1L, 1L, "body four")))
  }

  test("substringDedup: span removal, keeper election, island merge") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"), // canonical first occurrence of the a-b-c run
      (2L, "x y a b c d z"), // interior shared run -> one span
      (3L, "a b c d e f"), // exact duplicate -> whole doc removed
      (4L, "p q r"), // exactly L tokens, unique window -> untouched
      (5L, "s t"), // shorter than L -> untouched
      (6L, "m n o m n o m n o"), // within-doc period -> one period kept
      (7L, "a b c d Q R S x y a b c d")) // two disjoint spans: the
      // trailing run "x y a b c d" also overlaps doc 2's windows
      // ("x y a", "y a b"), so the second span starts at x, not a
      .toDF("doc_id", "text")
    val r = Dedup.substringDedup(d, minTokens = 3).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getString(3))))
      .toMap
    assert(r(1L) == ((0L, 0L, "a b c d e f")))
    assert(r(2L) == ((1L, 4L, "x y z")))
    assert(r(3L) == ((1L, 6L, "")))
    assert(r(4L) == ((0L, 0L, "p q r")))
    assert(r(5L) == ((0L, 0L, "s t")))
    assert(r(6L) == ((1L, 6L, "m n o")))
    assert(r(7L) == ((2L, 10L, "Q R S")))
  }

  test("normalizeText: NFC composition, case fold, whitespace collapse") {
    import spark.implicits._
    val d = Seq(
      (1L, "Café  au\tLait "), // decomposed e + U+0301
      (2L, "café au lait"), // precomposed, already canonical
      (3L, "plain text"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.normalizeText(d).collect()
      .map(x => (x.getLong(0), (x.getString(1), x.getBoolean(2)))).toMap
    // both encodings normalize to the same canonical bytes
    assert(r(1L)._1 == r(2L)._1)
    assert(r(1L)._1 == "café au lait")
    assert(r(1L)._2 && !r(2L)._2 && !r(3L)._2)
    // static kernel: composes, and short-circuits (same reference) when
    // the input is already NFC
    import org.apache.spark.unsafe.types.UTF8String
    val pre = UTF8String.fromString("café")
    assert(graft.functions.NfcNormalize.normalize(pre) eq pre)
    assert(graft.functions.NfcNormalize.normalize(
      UTF8String.fromString("café")).toString == "café")
  }

  test("stratifiedSample: exact per-stratum counts, deterministic ranks") {
    val s1 = TextAnalysis.stratifiedSample(docs, "lang", n = 5)
    val counts = s1.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (lang, c) => assert(c == math.min(5L, full(lang))) }
    // ranks are 1..n with no gaps, and a re-run picks identical rows
    val ranks = s1.groupBy(col("lang"))
      .agg(min(col("sample_rank")).as("lo"), max(col("sample_rank")).as("hi"),
        count(lit(1)).as("n")).collect()
    ranks.foreach { r => assert(r.getLong(1) == 1L && r.getLong(2) == r.getLong(3)) }
    val again = TextAnalysis.stratifiedSample(docs, "lang", n = 5)
    assert(s1.select(col("doc_id")).except(again.select(col("doc_id"))).isEmpty)
  }

  test("assignSplit: partition of the corpus, stable under appends") {
    val split = TextAnalysis.assignSplit(docs.select(col("doc_id")),
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    assert(split.count() == docs.count()) // total preserved
    // label matches bucket bounds row-by-row
    assert(split.filter(
      (col("split_bucket") < 80 && col("split") =!= "train") ||
      (col("split_bucket") >= 80 && col("split_bucket") < 90 && col("split") =!= "val") ||
      (col("split_bucket") >= 90 && col("split") =!= "test")).isEmpty)
    // appending rows never migrates existing ones (pure function of key)
    val half = TextAnalysis.assignSplit(
      docs.select(col("doc_id")).limit(30),
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    assert(half.join(split, Seq("doc_id"))
      .filter(half("split") =!= split("split")).isEmpty)
    intercept[IllegalArgumentException] {
      TextAnalysis.assignSplit(docs, Seq("a" -> 50, "b" -> 49))
    }
  }

  test("mmrRerank: near-dup of a selected hit is displaced by diversity") {
    import spark.implicits._
    // q=[1,0]; a scores highest, b is a near-dup of a, c is diverse.
    // Plain top-2 = {a, b}; MMR(λ=0.5) top-2 = {a, c}.
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), // query
      (1L, Array(0.995f, 0.0998749f)), // a
      (2L, Array(0.990f, 0.1410674f)), // b ≈ a
      (3L, Array(0.7071068f, 0.7071068f))) // c
      .toDF("vec_id", "embedding")
    val plain = SimilaritySearch.topK(e, 0L, 3).collect().map(_.getLong(0))
    assert(plain.take(3).sameElements(Array(0L, 1L, 2L))) // self + a + b
    // λ=0.3: penalty 0.7·sim(a,b)=0.699 sinks b below c (0.7·sim(a,c)=0.542)
    val mmr = SimilaritySearch.mmrRerank(e, 0L, k = 2, lambdaRel = 0.3, m = 3)
      .orderBy(col("mmr_rank")).collect()
    assert(mmr.map(_.getLong(0)).sameElements(Array(1L, 3L)))
    // rank-1 mmr_score is λ·score; rank-2 carries the redundancy penalty
    assert(math.abs(mmr(0).getDouble(2) - 0.3 * mmr(0).getDouble(1)) < 1e-6)
    assert(mmr(1).getDouble(2) < 0.3 * mmr(1).getDouble(1))
    // at λ=1 MMR degenerates to plain top-k order
    val pure = SimilaritySearch.mmrRerank(e, 0L, k = 3, lambdaRel = 1.0, m = 3)
      .orderBy(col("mmr_rank")).collect().map(_.getLong(0))
    assert(pure.sameElements(Array(1L, 2L, 3L)))
    // k ≤ m guard
    intercept[IllegalArgumentException] {
      SimilaritySearch.mmrRerank(e, 0L, k = 5, m = 3)
    }
  }

  test("clusterDocs: deterministic argmax partition, monotone objective") {
    val c1 = SimilaritySearch.clusterDocs(emb, k = 10, iters = 3)
    // every vector assigned exactly once
    assert(c1.count() == emb.count())
    assert(c1.select(col("vec_id")).distinct().count() == emb.count())
    // deterministic: identical assignment on a re-run
    val c2 = SimilaritySearch.clusterDocs(emb, k = 10, iters = 3)
    assert(c1.select(col("vec_id"), col("cid"))
      .except(c2.select(col("vec_id"), col("cid"))).isEmpty)
    // assignment is a true argmax: no vector scores higher against any
    // other centroid than against its own (checked via the seed-refined
    // centroid set reconstructed the same deterministic way)
    import spark.implicits._
    val seeds = emb.orderBy(col("vec_id")).limit(10)
      .select(col("vec_id"), asDouble(col("embedding")).as("cvec")).collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
      .toSeq.toDF("cid", "cvec")
    val cents = SimilaritySearch.kmeansCentroids(emb, seeds, iters = 3)
    val best = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        round(dot(asDouble(col("embedding")), col("cvec")), 6).as("s"))
      .groupBy(col("vec_id")).agg(max(col("s")).as("best"))
    assert(c1.join(best, Seq("vec_id"))
      .filter(col("sim") < col("best") - 1e-9).isEmpty)
    // Lloyd refinement improves the spherical k-means objective over
    // the raw seeds (monotone by Dhillon-Modha; equality only at a
    // fixed point)
    val sim0 = SimilaritySearch.clusterDocs(emb, k = 10, iters = 0)
      .agg(avg(col("sim"))).head().getDouble(0)
    val sim3 = c1.agg(avg(col("sim"))).head().getDouble(0)
    assert(sim3 >= sim0 - 1e-9, s"objective regressed: $sim3 < $sim0")
  }

  test("batchByLength: same-bucket batches, bounded positions") {
    val b = TextAnalysis.batchByLength(docs, batchSize = 4, bucketTokens = 16)
    // bucket is the token-length band
    assert(b.filter(col("bucket") =!= expr("n_tokens div 16")).isEmpty)
    // positions are 0..batchSize-1 and unique within (bucket, batch)
    assert(b.filter(col("pos_in_batch") < 0 || col("pos_in_batch") >= 4).isEmpty)
    val dupPos = b.groupBy(col("bucket"), col("batch_idx"), col("pos_in_batch"))
      .count().filter(col("count") > 1)
    assert(dupPos.isEmpty)
    // every batch except possibly the last per bucket is full
    val sizes = b.groupBy(col("bucket"), col("batch_idx")).count()
    val maxBatch = b.groupBy(col("bucket"))
      .agg(max(col("batch_idx")).as("last_b"))
    assert(sizes.join(maxBatch, Seq("bucket"))
      .filter(col("batch_idx") < col("last_b") && col("count") =!= 4).isEmpty)
  }

  test("chunkOverlap: hand-computed chunks, overlap, short-doc tail") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e f g"), (2L, "x y")).toDF("doc_id", "text")
    val c = TextAnalysis.chunkOverlap(d, chunkTokens = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getString(3), r.getLong(4)))
    // doc 1: starts 0,2,4,6 — consecutive chunks share 2 tokens
    assert(c.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 0L, "a b c d", 4L), (1L, 1L, 2L, "c d e f", 4L),
      (1L, 2L, 4L, "e f g", 3L), (1L, 3L, 6L, "g", 1L)))
    // doc 2 is shorter than one chunk: exactly one (partial) chunk
    assert(c.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, "x y", 2L)))
    // reconstruction: stride-aligned chunks at stride==chunk concatenate
    // back to the document
    val whole = TextAnalysis.chunkOverlap(d, chunkTokens = 3, stride = 3)
      .groupBy($"doc_id")
      .agg(array_join(collect_list($"chunk_text"), " ").as("rebuilt"))
    assert(whole.join(d, "doc_id").filter($"rebuilt" =!= $"text").isEmpty)
  }

  test("oovStats: rate against the corpus top-k vocabulary") {
    import spark.implicits._
    // corpus: 'a' x4, 'b' x3, 'c' x2, 'd' x1 — vocab(2) = {a, b}
    val d = Seq((1L, "a a b c"), (2L, "a a b b c d")).toDF("doc_id", "text")
    val o = TextAnalysis.oovStats(d, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(o(1L) == ((4L, 1L, 0.25)))
    assert(o(2L) == ((6L, 2L, round6(2.0 / 6))))
    // with the full vocabulary nothing is OOV
    val full = TextAnalysis.oovStats(docs, vocabSize = 100000)
    assert(full.filter(col("n_oov") =!= 0L).isEmpty)
  }

  test("importanceWeights: target-like docs score above off-target docs") {
    import spark.implicits._
    // raw = two sublanguages with disjoint bigrams; target = the 'en' side
    val raw = (1L to 20L).map(i =>
      if (i <= 10) (i, "the cat sat on the mat", "en")
      else (i, "le chat noir dort ici bien", "fr"))
      .toDF("doc_id", "text", "lang")
    val w = TextAnalysis.importanceWeights(
        raw, raw.where($"lang" === "en"), buckets = 32)
      .join(raw.select($"doc_id", $"lang"), "doc_id")
    val mean = w.groupBy($"lang").agg(avg($"log_weight").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(mean("en") > 0 && mean("fr") < 0 && mean("en") > mean("fr"))
    // a doc with < 2 tokens carries zero evidence
    val tiny = TextAnalysis.importanceWeights(
      raw.unionByName(Seq((99L, "solo", "fr")).toDF("doc_id", "text", "lang")),
      raw.where($"lang" === "en"), buckets = 32)
    val z = tiny.filter($"doc_id" === 99L).head()
    assert(z.getLong(1) == 0L && z.getDouble(2) == 0.0)
    // deterministic across recomputation
    val again = TextAnalysis.importanceWeights(
      raw, raw.where($"lang" === "en"), buckets = 32)
    assert(w.select($"doc_id", $"log_weight")
      .except(again.select($"doc_id", $"log_weight")).isEmpty)
  }

  test("binary quantization: kernel, packed/array parity, exact at full rerank") {
    import graft.functions.{BitHamming, FloatVecDot}
    import graft.functions.FloatVecPack.floatVecPack
    import spark.implicits._
    // signPack: bit i = x_i > 0; NaN and 0 contribute 0 bits; odd tail
    val c = BitHamming.signPack(
      Array(1f, -1f, 0f, Float.NaN, 2f, 3f, -4f, 5f, 6f))
    assert(c.length == 2 && c(0) == ((1 | 16 | 32 | 128).toByte) && c(1) == 1)
    assert(BitHamming.dist(c, c) == 0)
    assert(BitHamming.dist(Array[Byte](-1, 0), Array[Byte](0, 0)) == 8)
    // 9-byte codes exercise the 8-byte word path plus the tail
    val a9 = Array.fill[Byte](9)(-1); val b9 = new Array[Byte](9)
    assert(BitHamming.dist(a9, b9) == 72)

    // packed twin == the oracle-parity array formulation
    val expected = VectorQuant.binTopK(emb, 7L, 10, rerank = 50).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val packed = emb.select($"vec_id".as("id"), floatVecPack($"embedding").as("vec"))
    val bcodes = VectorQuant.binEncodePacked(packed)
    val qv = emb.where($"vec_id" === 7L).head().getSeq[Float](1).toArray
    val got = VectorQuant.binTopKPacked(bcodes, packed, qv, 10, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(got == expected)

    // at rerank >= corpus size the refined top-k equals the exact top-k
    val n = emb.count().toInt
    val full = VectorQuant.binTopK(emb, 7L, 10, rerank = n).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = SimilaritySearch.topK(emb, 7L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact)
  }

  test("temperatureMixture: tail kept whole, rates follow the α formula") {
    import spark.implicits._
    val df = docs.select($"doc_id", $"lang")
    val counts = df.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nmin = counts.values.min.toDouble
    val out = TextAnalysis.temperatureMixture(df, "lang", alpha = 0.5)
    // α-sampling never changes schema and never duplicates rows
    assert(out.columns.toSeq == df.columns.toSeq)
    assert(out.groupBy($"doc_id").count().where($"count" > 1).isEmpty)
    val kept = out.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the smallest stratum keeps pct=100 — every row survives
    val tail = counts.minBy(_._2)._1
    assert(kept(tail) == counts(tail))
    // every stratum's kept set is exactly the hash gate at its α rate
    counts.foreach { case (lang, ns) =>
      val pct = math.min(100L,
        math.floor(BigDecimal(100.0 * math.pow(nmin / ns, 0.5))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong)
      val expect = df.where($"lang" === lang).where(
        pmod(TextAnalysis.hash60(concat($"doc_id", lit(":tmix"))),
          lit(100L)) < pct).count()
      assert(kept.getOrElse(lang, 0L) == expect, s"stratum $lang")
    }
    // flattening: kept counts are more uniform than the input (the
    // head/tail ratio shrinks from (nhead/nmin) toward its square root)
    val headLang = counts.maxBy(_._2)._1
    assert(kept(headLang) < counts(headLang))
    // α=1 degenerates to the natural distribution (everything kept)
    val nat = TextAnalysis.temperatureMixture(df, "lang", alpha = 1.0)
    assert(nat.count() == df.count())
  }

  test("image near-dups: aHash bands find the noisy copy, not the inverse") {
    import spark.implicits._
    def pgm(px: Array[Int], w: Int, h: Int): Array[Byte] =
      s"P5\n$w $h\n255\n".getBytes("UTF-8") ++ px.map(_.toByte)
    // horizontal gradient; a copy with sub-threshold pixel noise; the
    // photometric inverse (every aHash bit flips)
    val base = Array.tabulate(16 * 16)(i => (i % 16) * 16)
    val noisy = base.clone()
    noisy(5) += 4; noisy(200) += 2
    val inverse = base.map(255 - _)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", pgm(base, 16, 16)),
      Multimodal.MediaRow(2L, "image", pgm(noisy, 16, 16)),
      Multimodal.MediaRow(3L, "image", pgm(inverse, 16, 16)))
      .toDF("media_id", "kind", "payload")
    val pairs = Multimodal.imageNearDups(media, maxHamming = 2).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getInt(2) == 0) // noise stayed under the threshold
    // aHash unit semantics: bit set iff cell above the mean
    assert(Multimodal.aHash(Array(0.0, 10.0)) == 2L)
    assert(Multimodal.aHash(Array(5.0, 5.0)) == 0L)
    intercept[IllegalArgumentException](Multimodal.aHash(new Array[Double](65)))
  }

  test("ImageIO decode: PNG stats match the PNM decoder exactly; JPEG " +
      "near-dups mine across codecs; corrupt payloads drop") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // gray horizontal gradient: r=g=b=v, so BT.601 luma == v exactly
    val (w, h) = (16, 16)
    val px = Array.tabulate(w * h)(i => ((i % w) * 255) / (w - 1))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    px.zipWithIndex.foreach { case (v, i) =>
      img.setRGB(i % w, i / w, (v << 16) | (v << 8) | v) }
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val pgm = s"P5\n$w $h\n255\n".getBytes("UTF-8") ++ px.map(_.toByte)
    val inverse = s"P5\n$w $h\n255\n".getBytes("UTF-8") ++
      px.map(v => (255 - v).toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", pgm),          // PnmDecoder path
      Multimodal.MediaRow(2L, "image", enc("png")),   // ImageIO lossless
      Multimodal.MediaRow(3L, "image", enc("jpg")),   // ImageIO lossy
      Multimodal.MediaRow(4L, "image", inverse),
      Multimodal.MediaRow(5L, "image", enc("jpg").take(40))) // corrupt
      .toDF("media_id", "kind", "payload")
    val feats = Multimodal.extractPixelFeatures(media, side = 8)
      .collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(1L, 2L, 3L, 4L),
      "corrupt JPEG must drop, the rest decode")
    val Seq(fPnm, fPng, fJpg, _) = feats.toSeq
    // PNG is lossless and the luma fold is shared: bit-equal to PNM
    assert(fPng.width == w && fPng.height == h && fPng.channels == 3)
    assert(fPng.mean_luma == fPnm.mean_luma)
    assert(fPng.thumb.toSeq == fPnm.thumb.toSeq)
    // JPEG is lossy: stats near, not equal
    assert(math.abs(fJpg.mean_luma - fPnm.mean_luma) < 3.0,
      s"jpeg drifted: ${fJpg.mean_luma} vs ${fPnm.mean_luma}")
    // and the miner pairs all three codec variants of the same picture
    // (never the photometric inverse)
    val pairs = Multimodal.imageNearDups(media, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs.toString)
  }

  test("jsonl: parse-and-quarantine round trip") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-jsonl")
    val src = dir.resolve("shard.jsonl")
    java.nio.file.Files.write(src, java.util.Arrays.asList(
      """{"doc_id": 1, "text": "hello world", "lang": "en"}""",
      """{"doc_id": 2, "text": "bonjour", "lang": null}""",
      """{"doc_id": 3, "lang": "de"}""",
      """not json at all {{{""",
      """{"doc_id": 4, "text": "ok", "lang": "en", "extra": 9}"""))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val (good, bad) = Jsonl.readWithQuarantine(
      spark, src.toString, schema, requiredCols = Seq("doc_id", "text"))
    // good: 1, 2 (lang null is allowed), 4 (extra key ignored)
    assert(good.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
    // quarantine: 3 missing required text, the malformed raw line
    val q = bad.collect().map(r => (r.getString(0),
      Option(r.getString(1)))).toSeq
    assert(q.contains(("missing:text", None)))
    assert(q.exists { case (reason, raw) =>
      reason == "malformed" && raw.exists(_.startsWith("not json")) })
    assert(bad.count() == 2)

    // write emits line-delimited JSON that re-reads cleanly
    val out = dir.resolve("out").toString
    Jsonl.write(good, out, compression = "none")
    val (again, none) = Jsonl.readWithQuarantine(
      spark, out, schema, requiredCols = Seq("doc_id", "text"))
    assert(none.isEmpty)
    assert(again.except(good).isEmpty && good.except(again).isEmpty)
  }

  test("mineHardNegatives: excludes positives and self, ranks past skipTop") {
    import spark.implicits._
    val queries = emb.where($"vec_id" < 5)
    val positives = emb.select($"vec_id".as("qid"), $"label".as("ql"))
      .join(emb.select($"vec_id".as("cid"), $"label".as("cl")), $"ql" === $"cl")
      .select($"qid", $"cid")
    val out = SimilaritySearch.mineHardNegatives(
      queries, emb, positives, k = 4, skipTop = 1).cache()
    // no self pairs, no positive pairs
    assert(out.where($"qid" === $"cid").isEmpty)
    assert(out.join(positives, Seq("qid", "cid"), "left_semi").isEmpty)
    // each query contributes exactly k rows at ranks skipTop+1..skipTop+k
    val perQ = out.groupBy($"qid").agg(
      count(lit(1)).as("n"), min($"rk").as("lo"), max($"rk").as("hi"))
      .collect()
    assert(perQ.length == 5)
    perQ.foreach { r =>
      assert(r.getLong(1) == 4 && r.getInt(2) == 2 && r.getInt(3) == 5)
    }
    // with skipTop=0 and no positives, it is knnJoin minus self
    val none = positives.limit(0)
    val all = SimilaritySearch.mineHardNegatives(
      queries, emb, none, k = 3, skipTop = 0)
    val viaKnn = SimilaritySearch.knnJoin(queries, emb, 4)
      .where($"qid" =!= $"cid")
      .withColumn("rk2", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy(desc("score"), $"cid")))
      .where($"rk2" <= 3)
      .select($"qid", $"cid", $"score")
    assert(all.select($"qid", $"cid", $"score").except(viaKnn).isEmpty &&
      viaKnn.except(all.select($"qid", $"cid", $"score")).isEmpty)
    out.unpersist()
  }

  test("matryoshka funnel: full-width shortlist equals exact top-k; " +
      "narrow shortlist keeps high recall") {
    import spark.implicits._
    // shortlist = corpus size => stage 2 re-ranks everything: must
    // reproduce the exact brute-force top-k (scores included)
    val n = emb.count().toInt
    val full = SimilaritySearch.matryoshkaTopK(emb, queryVecId = 5L,
      dPrime = 16, shortlist = n, k = 10)
      .select($"vec_id", $"score").collect()
    val exact = SimilaritySearch.topK(emb, 5L, 10).collect()
    assert(full.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      exact.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // quarter-dim shortlist of 50: the synthetic embeddings are random
    // (not MRL-trained), so prefix dims carry only sqrt(d'/d) of the
    // signal — the honest gate is that the funnel beats a RANDOM
    // shortlist of the same size by a wide margin, not absolute recall
    val approx = SimilaritySearch.matryoshkaTopK(emb, queryVecId = 5L,
      dPrime = 16, shortlist = 50, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    val recall = exact.map(_.getLong(0)).count(approx.contains) / 10.0
    val randomBaseline = 50.0 / n
    assert(recall >= 3 * randomBaseline && recall >= 0.4,
      s"matryoshka recall@10 too low: $recall (random would be $randomBaseline)")
  }

  test("keepBestPerKey keeps exactly the max-score row per key, " +
      "ties to the smallest id") {
    import spark.implicits._
    val df = Seq(
      (1L, "k1", 0.5), (2L, "k1", 0.9), (3L, "k1", 0.9),
      (4L, "k2", 0.1),
      (5L, "k3", 0.3), (6L, "k3", 0.2)
    ).toDF("doc_id", "key", "quality")
    val kept = Dedup.keepBestPerKey(df, "key", "quality")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 5L))
  }

  test("HLL sketch: merge(sketch(a), sketch(b)) == sketch(a ∪ b) exactly; " +
      "estimate within 3 standard errors of exact distinct") {
    import spark.implicits._
    // distinct tokens of the corpus — a few thousand values
    val toks = docs.select(explode(TextAnalysis.tokens($"text")).as("t"))
    val exact = toks.distinct().count()
    val p = 9
    val all = Sketches.hllRegisters(toks, "t", p)
    // mergeability: split on an arbitrary predicate, sketch halves
    // separately, merge — identical register table (not just close)
    val a = Sketches.hllRegisters(toks.where(length($"t") <= 5), "t", p)
    val b = Sketches.hllRegisters(toks.where(length($"t") > 5), "t", p)
    val merged = Sketches.hllMerge(a, b)
    assert(merged.except(all).isEmpty && all.except(merged).isEmpty)
    // idempotence: merging a sketch with itself changes nothing
    val self = Sketches.hllMerge(all, all)
    assert(self.except(all).isEmpty && all.except(self).isEmpty)
    // accuracy: HLL standard error is 1.04/sqrt(m)
    val est = Sketches.hllEstimate(all, p)
    val se = 1.04 / math.sqrt((1 << p).toDouble)
    assert(math.abs(est - exact) / exact <= 3 * se,
      s"HLL estimate $est vs exact $exact outside 3*se ($se)")
  }

  test("keepTopRate / budgetSelect: rank cutoff is ceil(rate*n) with " +
      "ties to the smaller id; budget is a strict prefix rule") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", 0.9, 100L), (2L, "en", 0.8, 100L), (3L, "en", 0.8, 50L),
      (4L, "en", 0.2, 10L), (5L, "en", 0.1, 10L),
      (6L, "de", 0.5, 300L), (7L, "de", 0.4, 100L))
      .toDF("doc_id", "lang", "quality", "n_chars")
    // en: ceil(5*0.4)=2 -> docs 1,2 (tie 0.8: doc 2 outranks doc 3);
    // de: ceil(2*0.4)=1 -> doc 6
    val kept = TextAnalysis.keepTopRate(df, "lang", "quality", 0.4)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 6L))
    // en budget 220: 100+100=200 ok, +50 (doc 3) = 250 > 220 -> STOPS;
    // doc 4 (cum 260) stays blocked even though 10 alone would fit
    // (strict prefix); de: 300 > 220 -> nothing
    val sel = TextAnalysis.budgetSelect(df, "lang", "quality",
        "n_chars", budget = 220L)
      .select($"doc_id").as[Long].collect().toSet
    assert(sel == Set(1L, 2L))
  }

  test("grouped HLL: per-group registers merge exactly like the flat " +
      "sketch (groupBy-max over (group, bucket))") {
    import spark.implicits._
    val toks = docs.select($"source",
        explode(TextAnalysis.tokens($"text")).as("t"))
      .where($"t" =!= "")
    val all = Sketches.hllRegistersGrouped(toks, Seq("source"), "t", p = 9)
    val a = Sketches.hllRegistersGrouped(
      toks.where(length($"t") <= 5), Seq("source"), "t", p = 9)
    val b = Sketches.hllRegistersGrouped(
      toks.where(length($"t") > 5), Seq("source"), "t", p = 9)
    val merged = a.unionByName(b)
      .groupBy($"source", $"bucket").agg(max($"rho").as("rho"))
    assert(merged.except(all).isEmpty && all.except(merged).isEmpty)
    // each group's registers equal the FLAT sketch of that group alone
    val one = docs.select($"source").distinct().limit(1)
      .collect().head.getString(0)
    val flat = Sketches.hllRegisters(
      toks.where($"source" === one).select($"t"), "t", p = 9)
    val grouped = all.where($"source" === one).select($"bucket", $"rho")
    assert(grouped.except(flat).isEmpty && flat.except(grouped).isEmpty)
  }

  test("CMS sketch: merge equals whole-corpus sketch; point estimates " +
      "never underestimate and hit exact counts for heavy tokens") {
    import spark.implicits._
    val toks = docs.select(explode(TextAnalysis.tokens($"text")).as("t"))
      .where($"t" =!= "")
    val (d, w) = (4, 256)
    val all = Sketches.cmsRegisters(toks, "t", d, w)
    // mergeability: arbitrary split, sketch halves, groupBy-sum merge
    val a = Sketches.cmsRegisters(toks.where(length($"t") <= 5), "t", d, w)
    val b = Sketches.cmsRegisters(toks.where(length($"t") > 5), "t", d, w)
    val merged = Sketches.cmsMerge(a, b)
    assert(merged.except(all).isEmpty && all.except(merged).isEmpty)
    // upward-biased point estimates: est >= true, and for tokens far
    // above the collision noise floor the min-row estimate is exact
    // within eps*N (CMS guarantee at e/w error with ~N total tokens)
    val truth = toks.groupBy($"t").count()
      .orderBy(desc("count")).limit(5)
      .as[(String, Long)].collect()
    val n = toks.count()
    truth.foreach { case (tok, cnt) =>
      val est = Sketches.cmsEstimate(all, tok, d, w)
      assert(est >= cnt, s"CMS underestimated $tok: $est < $cnt")
      assert(est - cnt <= (2.72 * n / w).toLong + 1,
        s"CMS overestimate for $tok beyond the e/w bound: $est vs $cnt")
    }
    // param-mismatch guard
    intercept[IllegalArgumentException](
      Sketches.cmsEstimate(all, "x", depth = 2, width = 64))
  }

  test("bottom-k signatures: exact k smallest distinct hashes per group; " +
      "pairwise estimate tracks true token jaccard") {
    import spark.implicits._
    val toks = docs.select($"source",
        explode(TextAnalysis.tokens($"text")).as("t"))
      .where($"t" =!= "")
    val k = 16
    val sig = Sketches.bottomKSignatures(toks, "source", "t", k).cache()
    // signature = EXACT bottom-k of the distinct hash set (oracle twin)
    val expect = toks.select($"source".cast("string").as("g"),
        TextAnalysis.hash60($"t").as("h")).distinct()
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"g").orderBy($"h")))
      .where($"rk" <= k)
      .select($"g".as("group"), ($"rk" - 1).cast("long").as("slot"), $"h".as("minhash"))
    assert(sig.except(expect).isEmpty && expect.except(sig).isEmpty)
    // the estimator lands within the bottom-k error envelope of the
    // true distinct-token jaccard for every source pair
    val est = Sketches.signatureJaccard(sig, k).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    val sets = toks.select($"source".cast("string"), $"t").distinct()
      .as[(String, String)].collect().groupBy(_._1)
      .map { case (g, xs) => g -> xs.map(_._2).toSet }
    val eps = 2.0 / math.sqrt(k.toDouble) // ~2 standard errors
    est.foreach { case ((ga, gb), e) =>
      val truth = sets(ga).intersect(sets(gb)).size.toDouble /
        sets(ga).union(sets(gb)).size
      assert(math.abs(e - truth) <= eps,
        s"pair ($ga,$gb): est $e vs true $truth beyond $eps")
    }
    assert(est.nonEmpty)
  }

  test("pplBuckets: per-language terciles by (ppl, doc_id) rank") {
    import spark.implicits._
    // ppl from the ngramPerplexity hand-case: doc1 1.651, doc2 1.5,
    // doc3 0.0 (no bigrams) -> ascending order 3, 2, 1; percent_rank
    // 0 / 0.5 / 1.0 -> head / middle / tail
    val d = Seq((1L, "en", "a b a b"), (2L, "en", "a b"), (3L, "en", "c"))
      .toDF("doc_id", "lang", "text")
    val r = TextAnalysis.pplBuckets(d).collect()
      .map(x => x.getLong(0) -> x.getString(4)).toMap
    assert(r == Map(1L -> "tail", 2L -> "middle", 3L -> "head"))
  }

  test("unimaxAllocate: small groups saturate the epoch cap, large " +
      "groups share the waterfilling level") {
    import spark.implicits._
    // tokens: a=1, b=7, c=12 -> B = 0.5*20 = 10, caps (E=2) = 2/14/24;
    // waterfill ascending: 10/3 = 3.33 > 2 -> a saturates at 2;
    // (10-2)/2 = 4 <= 14 -> lambda = 4. alloc = 2/4/4 (sums to B)
    val d = Seq(
      (1L, "a", "t1"),
      (2L, "b", "x1 x2 x3 x4 x5 x6 x7"),
      (3L, "c", "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"))
      .toDF("doc_id", "lang", "text")
    val r = TextAnalysis.unimaxAllocate(d).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2),
        x.getDouble(3)))).toMap
    assert(r("a") == ((1L, 2.0, 2.0)))
    assert(r("b") == ((7L, 4.0, 0.5714)))
    assert(r("c") == ((12L, 4.0, 0.3333)))
  }

  test("knPerplexity matches the hand-computed interpolated KN model") {
    import spark.implicits._
    // cb: (a,b)=3, (b,a)=1; cu: a=(3,1), b=(1,1); cont: a=1, b=1; N1+(..)=2
    // P(b|a) = 2.25/3 + .75*(1/3)*(1/2) = 0.875
    // P(a|b) = 0.25/1 + .75*(1/1)*(1/2) = 0.625
    // doc1 = (0.875^2 * 0.625)^(-1/3) = 1.2785; doc2 = 1/0.875 = 1.1429
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.knPerplexity(d).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1L) == ((3L, 1.2785)))
    assert(r(2L) == ((1L, 1.1429)))
    assert(r(3L) == ((0L, 0.0)))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
