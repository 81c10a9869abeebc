package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Deduplication operators for training-data pipelines (SURVEY §7.5):
  * exact (fingerprint group-by), MinHash+LSH banding, SimHash, exact
  * n-gram Jaccard verification, and embedding-cosine near-dup.
  *
  * Scale design: the only all-pairs work ever done is *within LSH bands /
  * buckets* — candidate generation is a shuffle on (band, key) followed by
  * an equi-join, never a cross join. Exact Jaccard re-verification runs on
  * the candidate set only. At 100 TB the band join is the dominant
  * shuffle; band keys are md5 strings, uniformly distributed, so no skew
  * salting is needed unless a near-universal shingle exists (mitigate by
  * dropping top-frequency shingles before hashing).
  *
  * The reference sketches connected-components dedup in its notebook
  * (`Build Dad Jokes KB.ipynb` cell 19) but implements only a greedy
  * approximation; here the candidate-pair machinery is a real operator.
  */
object Dedup {

  /** DISTINCT (doc_id, shingle) posting pairs, generated entirely in
    * whole-stage codegen: explode the index range, project each shingle
    * with plain `element_at` calls. The obvious `transform(idxs, i =>
    * …)` lambda formulation runs ~20× slower — higher-order functions
    * are interpreted, never codegen'd, so every shingle paid lambda
    * dispatch and per-element allocation. Shingle generation sits under
    * every dedup operator, so at corpus scale this is the difference
    * between ~1 MB/s and ~20 MB/s of text per core.
    *
    * Shingle i = tokens[i..i+k-1] joined by space, i in 0..n-k; docs
    * shorter than k tokens produce no rows (sequence() would otherwise
    * count backwards for a negative stop).
    *
    * `unicode = true` tokenizes with [[TextAnalysis.tokensUnicode]]
    * (lower-cased letter/digit runs) instead of the single-space corpus
    * contract — the switch for corpora where punctuation would
    * otherwise glue tokens into spurious shingles.
    */
  def shinglePosts(docs: DataFrame, k: Int = 3,
      textCol: String = "text", unicode: Boolean = false): DataFrame = {
    val toks = col("__toks")
    val tokenize =
      if (unicode) TextAnalysis.tokensUnicode(col(textCol))
      else split(col(textCol), " ")
    docs
      .select(col("doc_id"), tokenize.as("__toks"))
      .select(col("doc_id"), toks,
        explode(when(size(toks) >= k, sequence(lit(0), size(toks) - k))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until k).map(j => element_at(toks, col("__i") + j + 1)): _*)
        .as("sh"))
      .distinct()
  }

  /** Distinct word k-gram shingles per document, as one array row per
    * doc (empty array for docs shorter than k tokens). Built from
    * [[shinglePosts]] — costs a groupBy shuffle, which the codegen'd
    * generation more than pays back; operators that want the posting
    * stream should use [[shinglePosts]] directly and skip the arrays.
    */
  def shingles(docs: DataFrame, k: Int = 3, textCol: String = "text",
      unicode: Boolean = false): DataFrame = {
    val grouped = shinglePosts(docs, k, textCol, unicode)
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("shingles"))
    docs.select(col("doc_id")).join(grouped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shingles"), array().cast("array<string>"))
          .as("shingles"))
  }

  /** Exact dedup summary over canonical fingerprints. */
  def exactDupStats(docs: DataFrame): DataFrame =
    TextAnalysis.fingerprint(docs)
      .groupBy(col("fp_md5")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_unique"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_in_dup_groups"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"))

  /** Keep-best exact dedup (the CCNet/RefinedWeb shape: duplicates are
    * grouped by a canonical key — fingerprint, URL — and the SINGLE
    * best-scoring variant survives, rather than an arbitrary one):
    * keeps the row with the highest `scoreCol` per `keyCol`, ties
    * broken by smallest `idCol`.
    *
    * Scale shape: one hash shuffle on the key; the per-key rank is a
    * running window over groups whose size is the duplicate
    * multiplicity (tiny), never a corpus-wide sort. Composes with
    * [[graft.ops.TextAnalysis.fingerprint]] for content identity and
    * any quality column ([[graft.ops.TextAnalysis.qualityScore]], a
    * classifier score, perplexity) for "best".
    */
  def keepBestPerKey(df: DataFrame, keyCol: String, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(desc(scoreCol), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
  }

  /** MinHash signatures: numHashes independent 32-bit min-hashes. Hash
    * family: hash_i(shingle) = the i-th 8-hex-char slice of
    * md5((i/4) || ':' || shingle) — fixed-width hex, so lexicographic min
    * equals numeric min. One md5 call yields four hashes (4× cheaper than
    * hashing per-i), still engine-portable (md5 + substr everywhere) and
    * an unbiased MinHash family.
    *
    * Output: (doc_id, hi, sig).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    // one md5 per (shingle, grp); the four per-slice mins are aggregate
    // COLUMNS (map-side partial min keeps the shuffle at
    // #docs × #grps rows), unpivoted to (doc_id, hi, sig) afterwards
    val mins = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), col("sh"),
        explode(sequence(lit(0), lit((numHashes - 1) / 4))).as("grp"))
      .select(col("doc_id"), col("grp"),
        md5(concat(col("grp"), lit(":"), col("sh"))).as("h"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(substring(col("h"), 1, 8)).as("s0"),
        min(substring(col("h"), 9, 8)).as("s1"),
        min(substring(col("h"), 17, 8)).as("s2"),
        min(substring(col("h"), 25, 8)).as("s3"))
    mins.select(col("doc_id"), col("grp"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("slice"), col(s"s$i").as("sig"))): _*)).as("x"))
      .select(col("doc_id"),
        (col("grp") * 4 + col("x.slice")).as("hi"), col("x.sig").as("sig"))
      .where(col("hi") < numHashes)
  }

  /** Per-document LSH band keys over the signatures: key = md5 of the
    * band's signature rows joined in `hi` order. Shared by
    * [[lshCandidates]] (batch pair mining) and, via its local twin
    * [[minhashBandKeysLocal]], the streaming dedup path.
    */
  def bandKeys(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs
      .withColumn("band", floor(col("hi") / rowsPerBand))
      .groupBy(col("doc_id"), col("band"))
      // array_agg ordered by hi: sort_array of (hi, sig) structs
      .agg(md5(concat_ws("|",
        array_sort(collect_list(struct(col("hi"), col("sig"))))
          .getField("sig"))).as("key"))

  /** LSH banding over the signatures: docs sharing any (band, key) are
    * candidates. Returns distinct candidate pairs (doc1 < doc2).
    */
  def lshCandidates(sigs: DataFrame, rowsPerBand: Int): DataFrame = {
    val bands = bandKeys(sigs, rowsPerBand)
    val a = bands.select(col("band"), col("key"), col("doc_id").as("doc1"))
    val b = bands.select(col("band"), col("key"), col("doc_id").as("doc2"))
    a.join(b, Seq("band", "key")).where(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2")).distinct()
  }

  /** ONE document's MinHash band keys computed locally on the JVM — no
    * DataFrame machinery, bit-identical to [[minhashSignatures]] →
    * [[bandKeys]] (same md5-slice hash family, same lexicographic mins,
    * same md5-of-joined-band key; OpsSpec asserts the parity). This is
    * what lets the streaming dedup band an arriving document inside a
    * narrow map: the only shuffle left is the keyed state lookup.
    * Docs shorter than k tokens have no shingles, hence no signature
    * rows, hence no bands — same as the batch pipeline.
    */
  def minhashBandKeysLocal(text: String, k: Int = 3, numHashes: Int = 8,
      rowsPerBand: Int = 2): Seq[(Int, String)] = {
    val toks = text.split(" ", -1)
    if (toks.length < k) return Seq.empty
    val shingleSet = (0 to toks.length - k)
      .map(i => toks.slice(i, i + k).mkString(" ")).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    val hexChars = "0123456789abcdef".toCharArray
    // per-doc hot path (streaming calls this per arriving document):
    // table-lookup hex, no per-byte Formatter allocation
    def md5hex(s: String): String = {
      md.reset()
      val d = md.digest(s.getBytes("UTF-8"))
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        out(i * 2) = hexChars((d(i) >> 4) & 0xf)
        out(i * 2 + 1) = hexChars(d(i) & 0xf)
        i += 1
      }
      new String(out)
    }
    val nGrps = (numHashes - 1) / 4 + 1
    val sigs = new Array[String](numHashes)
    for (grp <- 0 until nGrps) {
      val mins = new Array[String](4)
      shingleSet.foreach { sh =>
        val h = md5hex(s"$grp:$sh")
        var sl = 0
        while (sl < 4) {
          val sub = h.substring(sl * 8, sl * 8 + 8)
          if (mins(sl) == null || sub < mins(sl)) mins(sl) = sub
          sl += 1
        }
      }
      for (sl <- 0 until 4; hi = grp * 4 + sl if hi < numHashes)
        sigs(hi) = mins(sl)
    }
    sigs.zipWithIndex.groupBy(_._2 / rowsPerBand).toSeq
      .map { case (band, rows) =>
        (band, md5hex(rows.sortBy(_._2).map(_._1).mkString("|")))
      }
      .sortBy(_._1)
  }

  /** Exact Jaccard over shingle sets for a pair list (the verification
    * stage after LSH candidate generation). Each side's shingle array is
    * sorted ONCE per document below the join, then every candidate pair
    * costs one allocation-free merge count
    * ([[graft.functions.SortedOverlapCount]]) — `array_intersect` +
    * `array_union` would build a hash set and materialize two arrays per
    * PAIR. |A ∪ B| = |A| + |B| − |A ∩ B| since shingle sets are distinct.
    */
  def jaccardVerify(pairs: DataFrame, sh: DataFrame): DataFrame = {
    import graft.functions.SortedOverlapCount.sortedOverlapCount
    val s1 = sh.select(col("doc_id").as("doc1"),
      array_sort(col("shingles")).as("sh1"))
    val s2 = sh.select(col("doc_id").as("doc2"),
      array_sort(col("shingles")).as("sh2"))
    val inter = sortedOverlapCount(col("sh1"), col("sh2")).cast("double")
    pairs.join(s1, "doc1").join(s2, "doc2")
      .select(col("doc1"), col("doc2"),
        round(inter / (size(col("sh1")) + size(col("sh2")) - inter), 6)
          .as("jaccard"))
  }

  /** MinHash+LSH near-dup pipeline: shingle → sign → band → candidate →
    * exact-Jaccard verify → threshold.
    */
  def minhashNearDups(docs: DataFrame, k: Int = 3, numHashes: Int = 8,
      rowsPerBand: Int = 2, threshold: Double = 0.8,
      unicode: Boolean = false): DataFrame = {
    // cache the shingle sets: referenced by both the signature pipeline
    // and the verification join; `unicode` switches the shingle
    // tokenizer for punctuated corpora (see shinglePosts)
    val sh = shingles(docs, k, unicode = unicode).cache()
    val cands = lshCandidates(minhashSignatures(sh, numHashes), rowsPerBand)
    jaccardVerify(cands, sh).where(col("jaccard") >= threshold)
  }

  /** Cross-snapshot incremental MinHash near-dup: the near-dup pairs of
    * [[minhashNearDups]] over `archive ∪ batch` RESTRICTED to pairs
    * with at least one side in `batch` — the shape a 100 TB deployment
    * actually runs: new ingest deduplicates against the archive (and
    * itself) WITHOUT re-mining archive × archive. Candidate work is
    * batch-bands × (archive-bands ∪ batch-bands): one equi-join keyed
    * on (band, key), O(batch + matched bands), never O(archive²); the
    * exact-Jaccard verify then touches only the matched archive docs
    * (semi-joined before shingling). Identical hash family and band
    * keys as the batch pipeline, so the result is EXACTLY the batch
    * pipeline's pair set filtered to the batch (the d18 oracle pins
    * it). The store-managed twin ([[graft.core.KbStore.dedupCandidates]])
    * replaces the archive-side shingle+sign recompute with the
    * persisted `dedup_bands` index family — same join from there on.
    */
  def minhashNearDupsIncremental(archive: DataFrame, batch: DataFrame,
      k: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.8, unicode: Boolean = false): DataFrame = {
    val shB = shingles(batch, k, unicode = unicode).cache()
    val bandsB = bandKeys(minhashSignatures(shB, numHashes), rowsPerBand)
      .cache()
    val bandsA = bandKeys(
      minhashSignatures(shingles(archive, k, unicode = unicode), numHashes),
      rowsPerBand)
    incrementalFromBands(archive, bandsA, shB, bandsB, k, threshold,
      unicode)
  }

  /** The band-join + verify core shared by the operator form (archive
    * bands computed in-flight) and the KbStore family (archive bands
    * read from the persisted index): candidates = batch bands vs
    * (archive ∪ batch) bands, pairs normalized doc1 < doc2; verify
    * shingles the matched ARCHIVE docs only (semi-join on the
    * candidate ids) plus the batch.
    */
  private[graft] def incrementalFromBands(archive: DataFrame,
      bandsA: DataFrame, shB: DataFrame, bandsB: DataFrame, k: Int,
      threshold: Double, unicode: Boolean): DataFrame =
    incrementalFromBandsWithCleanup(archive, bandsA, shB, bandsB, k,
      threshold, unicode)._1

  /** [[incrementalFromBands]] plus a cleanup handle that unpersists the
    * internal candidate cache. One-shot batch queries can ignore it
    * (the session outlives them, like [[minhashNearDups]]'s shingle
    * cache); an UNBOUNDED caller — the streaming dedup screen runs
    * once per micro-batch — must invoke it after consuming the result,
    * or the session CacheManager accumulates one orphaned cache entry
    * per batch forever.
    */
  private[graft] def incrementalFromBandsWithCleanup(archive: DataFrame,
      bandsA: DataFrame, shB: DataFrame, bandsB: DataFrame, k: Int,
      threshold: Double, unicode: Boolean): (DataFrame, () => Unit) = {
    val allBands = bandsA.select(col("band"), col("key"),
        col("doc_id").as("other"))
      .unionByName(bandsB.select(col("band"), col("key"),
        col("doc_id").as("other")))
    // cached: the pair list is referenced THREE times (both sides of
    // the candDocs union and the verify join) — uncached, Catalyst
    // would re-evaluate the whole band join (including the ARCHIVE
    // banding pipeline in the operator form) once per reference
    val cands = bandsB.select(col("band"), col("key"),
        col("doc_id").as("b_id"))
      .join(allBands, Seq("band", "key"))
      .where(col("b_id") =!= col("other"))
      .select(least(col("b_id"), col("other")).as("doc1"),
        greatest(col("b_id"), col("other")).as("doc2"))
      .distinct()
      .cache()
    val candDocs = cands.select(col("doc1").as("doc_id"))
      .unionByName(cands.select(col("doc2").as("doc_id"))).distinct()
    val shA = shingles(
      archive.join(candDocs, Seq("doc_id"), "left_semi"), k,
      unicode = unicode)
    val result = jaccardVerify(cands, shA.unionByName(shB))
      .where(col("jaccard") >= threshold)
    (result, () => { cands.unpersist(blocking = false); () })
  }

  /** SimHash over distinct unigram tokens: bit b is the sign of
    * sum over tokens of (+1 if bit b of hash60(token) else -1).
    *
    * `bits = 16` is the compact demo width; pair mining at corpus scale
    * should use `bits = 60` (the full [[TextAnalysis.hash60]] width) so
    * that [[simhashPairsBanded]]'s pigeonhole bands carry ~15 bits each —
    * see the band-key-space note there.
    */
  def simhash(docs: DataFrame, bits: Int = 16, textCol: String = "text",
      unicode: Boolean = false): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(
          if (unicode) TextAnalysis.tokensUnicode(col(textCol))
          else split(col(textCol), " "))).as("tok"))
      .select(col("doc_id"), TextAnalysis.hash60(col("tok")).as("h"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(bits - 1))).as("b"), col("h"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(when(expr("shiftright(h, cast(b as int)) & 1") === 1L,
        1L).otherwise(-1L)).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0,
        expr("cast(shiftleft(1L, cast(b as int)) as bigint)"))
        .otherwise(0L)).as("simhash"))

  /** SimHash near-dup pairs: hamming distance (popcount of xor) below a
    * cutoff. Pair generation here is exact all-pairs for verification; the
    * scale path blocks on simhash byte prefixes first.
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int): DataFrame = {
    val a = sims.select(col("doc_id").as("doc1"), col("simhash").as("sh1"))
    val b = sims.select(col("doc_id").as("doc2"), col("simhash").as("sh2"))
    a.join(b, col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"),
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs at corpus scale — EXACTLY equivalent to
    * [[simhashPairs]], with no all-pairs stage: split the b-bit
    * signature into `maxHamming + 1` disjoint bands; two signatures
    * within `maxHamming` differ in at most that many bands, so by
    * pigeonhole they agree EXACTLY on at least one band. Candidates are
    * per-band equi-joins (one shuffle on (band, key)); the exact
    * Hamming filter then makes precision 1 and the pigeonhole bound
    * makes recall 1 — this is the classic mod-p partitioning trick of
    * Manku et al., "Detecting Near-Duplicates for Web Crawling",
    * WWW'07.
    *
    * Band-key space is the scale knob: candidate volume per band is
    * Σ_k n_k² over the n_k docs sharing band key k, so with random
    * signatures it grows like n²/2^width. At `bits = 60, maxHamming = 3`
    * the four bands carry 15 bits (32k keys) — at 16 bits they would
    * carry 4 bits (16 keys), which degenerates to ~n²/16 candidates
    * regardless of corpus. Always mine pairs on 60-bit signatures;
    * narrower widths are for compact signature storage only.
    *
    * `bits` has NO default on purpose: it MUST equal the width the
    * input signatures were computed at ([[simhash]]'s `bits`). A
    * mismatch is silent and quadratic — e.g. 16-bit signatures sliced
    * as 15-bit bands put every doc in band key 0 on the high bands,
    * collapsing the candidate stage back to all-pairs.
    */
  def simhashPairsBanded(sims: DataFrame, maxHamming: Int,
      bits: Int): DataFrame = {
    val nb = maxHamming + 1
    require(nb <= bits, s"need at least $nb bits for hamming $maxHamming")
    val widths = Array.fill(nb)(bits / nb)
    (0 until bits % nb).foreach(i => widths(i) += 1)
    val offsets = widths.scanLeft(0)(_ + _)
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until nb).map { t =>
        struct(lit(t).as("band"),
          shiftright(col("simhash"), offsets(t))
            .bitwiseAND(lit((1L << widths(t)) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("doc1"), col("simhash").as("sh1"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("doc2"), col("simhash").as("sh2"))
    a.join(b, Seq("band", "key")).where(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"),
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity join via prefix-filtered posting
    * lists (the AllPairs/PPJoin prefix filter, Bayardo et al. WWW'07;
    * also Apache Flink's SSJ examples use the same bound).
    *
    * Candidate generation: order every document's shingles by ascending
    * document frequency (rarest first, ties broken by the shingle string
    * for determinism), keep only the prefix of length
    * |d| − ⌈θ·|d|⌉ + 1, and equi-join prefixes on the shingle. Any pair
    * with Jaccard ≥ θ shares ≥ ⌈θ·max(|A|,|B|)⌉ shingles, so both
    * prefixes must contain at least one shared shingle — no true pair is
    * lost. Survivors are re-scored EXACTLY on the full shingle sets.
    *
    * Scale properties: the join never sees the high-frequency head
    * shingles ("of the …"-grade stop shingles sort to the suffix), so
    * per-shingle pair blowup — quadratic in posting-list length — is
    * bounded by the rare prefix. The only shuffles are the DF count and
    * the prefix equi-join, both on shingle strings.
    */
  def jaccardSimilarityJoin(docs: DataFrame, k: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // cached, not unpersisted here: the returned plan is lazy and reads the
    // shingle sets twice (posting prefixes + exact verify) when evaluated
    val sh = shingles(docs, k).cache()
    val posts = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val df = posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // per-doc shingles sorted rarest-first; prefix keeps
    // sz - ceil(θ·sz) + 1 entries
    val ranked = posts.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("sh"))))
        .getField("sh").as("ordered"))
      .select(col("doc_id"),
        slice(col("ordered"), lit(1),
          (size(col("ordered")) -
            ceil(lit(threshold) * size(col("ordered"))).cast("int") + 1)
        ).as("prefix"))
    val pre = ranked.select(col("doc_id"), explode(col("prefix")).as("sh"))
    val cands = pre.alias("a")
      .join(pre.alias("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    jaccardVerify(cands, sh).where(col("jaccard") >= threshold)
  }

  /** Cross-corpus n-gram contamination — the train/test overlap check a
    * training-data pipeline runs before evaluation (cf. the n-gram
    * contamination audits of GPT-3/PaLM appendix methodology): for each
    * test document, its best shingle-Jaccard match in the training
    * corpus, reported when ≥ threshold.
    *
    * Same lossless AllPairs prefix filter as [[jaccardSimilarityJoin]],
    * across two corpora: document frequencies are computed over the
    * UNION (one count shuffle), each side keeps only its rare prefix,
    * and candidates are the prefix equi-join TRAIN×TEST on the shingle
    * — never a cross join. Exact re-verification on the candidate set;
    * since the filter loses no pair with J ≥ θ, the per-test-doc best
    * match over candidates equals the best over all pairs whenever that
    * best clears the threshold. Ties on the max take the smallest train
    * doc id.
    *
    * Doc ids must be DISJOINT across the two corpora (the verification
    * join keys each side by doc id).
    *
    * @return (doc_id = test doc, best_match = train doc, jaccard),
    *         one row per contaminated test doc
    */
  def crossCorpusContamination(train: DataFrame, test: DataFrame,
      k: Int = 3, threshold: Double = 0.5,
      unicode: Boolean = false, bloomFpp: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shTr = shingles(train, k, unicode = unicode).cache()
    val shTe = shingles(test, k, unicode = unicode).cache()
    val postsTr = shTr.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val postsTe = shTe.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // document frequency over the union corpus — one shared ranking so
    // both sides' prefixes order identically
    val df = postsTr.union(postsTe)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    def prefixes(posts: DataFrame): DataFrame =
      posts.join(df, "sh")
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("df"), col("sh"))))
          .getField("sh").as("ordered"))
        .select(col("doc_id"),
          explode(slice(col("ordered"), lit(1),
            (size(col("ordered")) -
              ceil(lit(threshold) * size(col("ordered"))).cast("int") + 1)))
            .as("sh"))
    val preTe = prefixes(postsTe)
    // optional Bloom prefilter (bloomFpp > 0): at 100 TB the TRAIN
    // prefix stream is corpus-sized while the TEST side (eval suites)
    // is tiny — a Bloom filter over the test prefixes, broadcast once,
    // drops ~(1-fpp) of train postings BEFORE they cross the shuffle
    // into the equi-join. Lossless by construction: Blooms have no
    // false negatives, so every truly-shared shingle survives; false
    // positives only admit extra candidates that the exact verify
    // stage rejects anyway (a spec asserts bit-parity with the
    // unfiltered path).
    val preTrRaw = prefixes(postsTr)
    // cache the (small) test-side prefixes: the Bloom path otherwise
    // evaluates preTe three times (count, bloomFilter, join), re-running
    // the window-over-shingles prefix computation each time
    if (bloomFpp > 0) preTe.cache()
    val preTr =
      if (bloomFpp <= 0) preTrRaw
      else {
        val spark = train.sparkSession
        val nTe = math.max(1000L, preTe.count())
        val bf = preTe.stat.bloomFilter("sh", nTe, bloomFpp)
        // the cache existed for the two EAGER passes above (count +
        // bloomFilter); release it before returning so repeated calls
        // don't accumulate blocks in the session's storage pool — the
        // lazy candidate join below re-derives the (small) test-side
        // prefixes once at execution
        preTe.unpersist(blocking = false)
        val bc = spark.sparkContext.broadcast(bf)
        val might = udf((s: String) => bc.value.mightContain(s))
        preTrRaw.where(might(col("sh")))
      }
    val cands = preTr.alias("a")
      .join(preTe.alias("b"), col("a.sh") === col("b.sh"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    val sh = shTr.union(shTe)
    val scored = jaccardVerify(cands, sh)
      .where(col("jaccard") >= threshold)
    // best train match per test doc; ties take the smallest train id
    val w = Window.partitionBy(col("doc2"))
      .orderBy(desc("jaccard"), col("doc1"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("doc2").as("doc_id"), col("doc1").as("best_match"),
        col("jaccard"))
  }

  /** Per-document duplicate-n-gram fraction — the span-level boilerplate
    * / contamination signal of training-data pipelines (the shingle-set
    * coarsening of suffix-based substring dedup, cf. Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL'22): the share of a document's distinct k-gram shingles that
    * also appear in at least one other document. High fractions mark
    * template/boilerplate docs that pairwise Jaccard misses when the
    * duplication is spread across MANY partners.
    *
    * Scale shape: one shuffle for the shingle document frequencies, one
    * equi-join back — identical to the posting-list half of
    * [[jaccardSimilarityJoin]], with no pairwise stage at all.
    *
    * @return (doc_id, n_shingles, n_dup, dup_frac); docs shorter than k
    *         tokens have no shingles and produce no row.
    */
  def dupNgramFraction(docs: DataFrame, k: Int = 3): DataFrame = {
    // posting pairs are already distinct, so the per-shingle document
    // frequency is a plain count — no countDistinct expand needed
    val posts = shinglePosts(docs, k)
    val df = posts.groupBy(col("sh"))
      .agg(count(lit(1)).as("ndocs"))
    posts.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"),
        round(avg(when(col("ndocs") > 1, 1.0).otherwise(0.0)), 6)
          .as("dup_frac"))
  }

  /** Connected components over an undirected pair list (doc1, doc2) by
    * iterative min-label propagation to fixpoint.
    *
    * The reference *describes* exactly this ("duplicate-removal is
    * actually a graph problem: build graph from high-sim pairs →
    * connected components → keep one per component",
    * `Build Dad Jokes KB.ipynb` cell 19) but ships only a greedy
    * approximation — here it is a real operator. O(diameter) shuffle
    * rounds; near-dup graphs have tiny diameters, so this converges in
    * 2-3 rounds (at adversarial scale, switch to the large-star/
    * small-star algorithm to bound rounds at O(log n)).
    *
    * @return (doc_id, component) — component = min doc id reachable.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      localThreshold: Long = 1000000): DataFrame = {
    // the pair list is often an expensive similarity join; persist it so
    // the count + collect (fast path) or the 3-way adjacency union
    // (distributed path) evaluate it once, not 2-3 times
    val cached = pairs.persist()
    try connectedComponentsOn(cached, maxIter, localThreshold)
    finally cached.unpersist(blocking = false)
  }

  private def connectedComponentsOn(pairs: DataFrame, maxIter: Int,
      localThreshold: Long): DataFrame = {
    // fast path: near-dup pair graphs are tiny relative to the corpus
    // (they fit on the driver long before the corpus does) — union-find
    // locally instead of paying one shuffle round per graph diameter.
    // Same output as the distributed path: component = min reachable id.
    val pairCount = pairs.count()
    if (pairCount <= localThreshold) {
      val edges = pairs.select(col("doc1"), col("doc2"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = parent.getOrElseUpdate(x, x)
        if (r != x) { r = find(r); parent(x) = r }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return out.toDF("doc_id", "component")
    }
    alternatingConnectedComponents(pairs, maxIter)._1
  }

  /** Distributed min-label propagation (the scale path for graphs too
    * large to collect).
    */
  def distributedConnectedComponents(pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val verts = pairs.select(col("doc1").as("doc_id"))
      .union(pairs.select(col("doc2"))).distinct()
    // undirected adjacency + self-loops so isolated labels survive rounds
    val adj = pairs.select(col("doc1").as("a"), col("doc2").as("b"))
      .union(pairs.select(col("doc2").as("a"), col("doc1").as("b")))
      .union(verts.select(col("doc_id").as("a"), col("doc_id").as("b")))
      .localCheckpoint(eager = true)
    var labels = verts.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint(eager = true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = adj.join(labels, adj("b") === labels("doc_id"))
        .groupBy(col("a").as("doc_id2"))
        .agg(min(col("label")).as("label2"))
        .localCheckpoint(eager = true)
      converged = next.join(labels,
          next("doc_id2") === labels("doc_id") &&
            next("label2") =!= labels("label"))
        .isEmpty
      labels = next.select(col("doc_id2").as("doc_id"), col("label2").as("label"))
      i += 1
    }
    labels.select(col("doc_id"), col("label").as("component"))
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * adversarial-scale path: alternating rounds contract every component
    * to a star around its min node in O(log n) rounds, where min-label
    * propagation needs O(diameter) (a 1M-long chain: ~20 rounds vs 1M).
    *
    * large-star: every neighbor v > u of u links to min(N(u) ∪ {u});
    * small-star: on the child→parent orientation, every neighbor v ≤ u
    * (and u itself) links to the minimum. Fixpoint = edge set stable;
    * the surviving edges are exactly (node → component root).
    *
    * @return ((doc_id, component) DataFrame, rounds taken)
    */
  def alternatingConnectedComponents(pairs: DataFrame,
      maxIter: Int = 50): (DataFrame, Int) = {
    val verts = pairs.select(col("doc1").as("v"))
      .union(pairs.select(col("doc2")))
      .distinct()
      .localCheckpoint(eager = true)

    // both phases use a per-node window min — a partitioned sort, never a
    // per-node collected array, so a 10M-degree hub costs a sort, not RAM
    import org.apache.spark.sql.expressions.Window
    val perNode = Window.partitionBy(col("a"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      sym.withColumn("m", least(min(col("b")).over(perNode), col("a")))
        .where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient child→parent (larger → smaller)
      val oriented = e.select(
        greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b")).distinct()
      val withM = oriented.withColumn("m", min(col("b")).over(perNode))
      withM.where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(withM.where(col("b") === col("m"))
          .select(col("a"), col("m").as("b")))
        .distinct()
    }

    var edges = pairs
      .select(col("doc1").as("a"), col("doc2").as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = true)
    var rounds = 0
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    while (!converged && rounds < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = true)
      // both phases end in distinct(), so edges and next are SETS:
      // equal counts + empty (next \ edges) ⟹ equality. The count is a
      // near-free aggregate over the just-checkpointed frame, so the
      // set-difference job only runs on candidate-fixpoint rounds
      // (typically once) instead of twice every round.
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      rounds += 1
    }

    // stars: every surviving edge is (node, root); roots + isolated
    // vertices label themselves
    val labelled = edges.select(col("a").as("doc_id"), col("b").as("component"))
    val self = verts.join(labelled,
        verts("v") === labelled("doc_id"), "left_anti")
      .select(col("v").as("doc_id"), col("v").as("component"))
    (labelled.union(self), rounds)
  }

  /** Semantic dedup (SURVEY §7.5): similarity pairs → connected
    * components → keep the min-id representative per component.
    */
  def semanticDedup(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("keep"))

  /** Embedding-cosine near-dup pairs above a threshold — scored with the
    * codegen'd packed-f32 kernel. Cardinality switch (mirrors
    * `KbStore.topPairwiseScores`): up to `exactLimit` vectors the exact
    * upper-triangle join runs (the verification baseline, O(n²) flops —
    * fine to ~200k); beyond that, sign-sketch banded candidates + exact
    * re-verification ([[PairwiseTopK.sketchThresholdPairs]]) take over —
    * exact precision, banding-bounded recall, and the join shuffles
    * 32-byte sketches instead of the corpus.
    *
    * `bands` is the scale path's recall knob — a count of 16-bit band
    * keys (sketch width scales with it; see
    * [[PairwiseTopK.sketchConfigFor]] for why the key width stays
    * fixed). The default 0 auto-sizes the band count to predicted
    * recall ≥ 0.9 for pairs at the threshold. Does not affect the
    * exact path.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
      exactLimit: Long = 200000L, bands: Int = 0): DataFrame = {
    import graft.functions.FloatVecDot.floatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val packed = emb.select(col("vec_id"), floatVecPack(col("embedding")).as("v"))
    // bound the path-decision job at exactLimit+1 rows instead of a
    // full count of the (possibly 100 TB) lineage
    val boundedCount = emb
      .limit(math.min(exactLimit + 1, Int.MaxValue.toLong).toInt).count()
    if (boundedCount <= exactLimit) {
      val a = packed.select(col("vec_id").as("id1"), col("v").as("v1"))
      val b = packed.select(col("vec_id").as("id2"), col("v").as("v2"))
      a.join(b, col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(floatVecDot(col("v1"), col("v2")), 6).as("cos"))
        .where(col("cos") >= threshold)
    } else {
      val dim = emb.select(size(col("embedding"))).limit(1)
        .collect().head.getInt(0)
      // explicit band counts round up to a multiple of 4 so the sketch
      // width (16 bits per band) stays a multiple of 64, which
      // signSketches requires
      val (bits, nb) =
        if (bands > 0) { val b4 = ((bands + 3) / 4) * 4; (b4 * 16, b4) }
        else PairwiseTopK.sketchConfigFor(threshold)
      PairwiseTopK.sketchThresholdPairs(
          packed.select(col("vec_id").as("id"), col("v").as("vec")),
          dim, threshold, sketchBits = bits, bands = nb)
        .select(col("id1"), col("id2"), col("score").as("cos"))
    }
  }

  /** C4-style corpus-level LINE dedup: every distinct non-blank line
    * keeps only its FIRST occurrence (by doc_id, then position within
    * the doc); later repeats — boilerplate headers, navigation chrome,
    * license blocks — are dropped and each document is reassembled from
    * its surviving lines in original order.
    *
    * Scale shape: the keeper per line is a `groupBy(line).agg(min(...))`
    * — map-side partial min, so a boilerplate line occurring in half the
    * corpus costs one row per map partition in the shuffle, NOT a
    * skewed window partition holding every occurrence. The keeper set
    * then semi-joins back against the exploded lines. Reassembly is a
    * per-doc sort of an already-small surviving-line array.
    *
    * Output: (doc_id, n_lines, n_kept, text_dedup) — `text_dedup` is
    * empty ("") for a document whose every line lost its race.
    */
  def lineDedup(docs: DataFrame, textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = docs
      .select(col("doc_id"), posexplode(split(col(textCol), sepRe)))
      .withColumnRenamed("col", "line")
      .where(trim(col("line")) =!= "")
    // first occurrence of each line corpus-wide: lexicographic min of
    // the (doc_id, pos) struct — a partial-aggregable keeper election
    val keepers = lines.groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("line"), col("w.doc_id").as("doc_id"),
        col("w.pos").as("pos"))
    val kept = lines.join(keepers, Seq("line", "doc_id", "pos"),
      "left_semi")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")), sep).as("text_dedup"))
    docs.select(col("doc_id"),
        size(filter(split(col(textCol), sepRe), l => trim(l) =!= ""))
          .cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Cross-document exact substring deduplication — the span-level
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022): every window of `minTokens` consecutive
    * tokens that occurs more than once in the corpus (across documents
    * or repeated within one) is a duplicated span; all occurrences
    * except the canonical first — smallest (doc_id, start) — are
    * removed, after overlapping marked windows merge into maximal
    * spans.
    *
    * Scale shape (two-phase, in place of the paper's suffix array):
    *   1. duplicate-window MINING shuffles only `(hash60(window),
    *      doc_id, start)` — 24 bytes per token position, not the
    *      L-token window text (which would multiply the corpus ×L
    *      through the exchange);
    *   2. candidate rows (positions whose hash key repeats) re-derive
    *      their window text by joining back through the tokenized docs
    *      and are grouped on the FULL string, so 60-bit collisions can
    *      never merge distinct windows — the keeper election and the
    *      `cnt > 1` test both happen on exact text.
    * Span merge is a per-document gaps-and-islands window (the
    * partition key bounds the sort); the rebuild is a narrow per-row
    * expression. The ×L cost that remains is CPU in phase 1's window
    * hashing — inherent to the n-gram formulation (a rolling-hash
    * Expression would shave constants; the suffix-array alternative
    * trades it for a global sort).
    *
    * With `unicode = true` spans are found over [[TextAnalysis
    * .tokensUnicode]] and the rebuilt text is those tokens — i.e.
    * punctuation does not survive the rebuild; the default space
    * tokenizer reproduces the original text exactly outside removed
    * spans.
    *
    * Output: (doc_id, n_spans, n_dup_tokens, text_dedup), one row per
    * input document (untouched documents pass through with their
    * original text).
    */
  def substringDedup(docs: DataFrame, minTokens: Int,
      textCol: String = "text", unicode: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val L = minTokens
    val toksE =
      if (unicode) TextAnalysis.tokensUnicode(col(textCol))
      else TextAnalysis.tokens(col(textCol))
    val base = docs.select(col("doc_id"), col(textCol).as("orig"),
      toksE.as("toks"))

    // phase 1: 60-bit window keys only (transform keeps the token
    // array inside one row instead of copying it into every generated
    // output row)
    val winH = base.where(size(col("toks")) >= L)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("toks")) - lit(L)),
          p => TextAnalysis.hash60(array_join(slice(col("toks"), p + 1, lit(L)), " ")))))
      .toDF("doc_id", "start", "h")
    val dupH = winH.groupBy(col("h")).count()
      .where(col("count") > 1).select(col("h"))

    // phase 2: re-derive window text for candidate positions only and
    // verify on the full string
    val candW = winH.join(dupH, "h")
      .join(base.select(col("doc_id"), col("toks")), "doc_id")
      .select(col("doc_id"), col("start"),
        array_join(slice(col("toks"), col("start") + 1, lit(L)), " ").as("w"))
    val byW = Window.partitionBy(col("w"))
    val marked = candW
      .withColumn("cnt", count(lit(1)).over(byW))
      .withColumn("rn", row_number().over(
        byW.orderBy(col("doc_id"), col("start"))))
      .where(col("cnt") > 1 && col("rn") > 1)
      .select(col("doc_id"), col("start"))

    // merge overlapping windows into maximal spans (gaps and islands)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val spans = marked
      .withColumn("prev_max", max(col("start") + lit(L)).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_max").isNull || col("start") > col("prev_max"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_isl")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("s"), (max(col("start")) + lit(L)).as("e"))

    val spansPerDoc = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("n_dup_tokens"))

    base.join(spansPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("spans").isNull,
          // no spans: original text verbatim (tokenizer-independent)
          col("orig"))
          .otherwise(array_join(
            transform(
              filter(sequence(lit(0), size(col("toks")) - 1),
                p => !exists(col("spans"),
                  sp => p >= sp("s") && p < sp("e"))),
              p => element_at(col("toks"), p + 1)),
            " ")).as("text_dedup"))
  }

  /** SEMANTIC cross-corpus contamination — the embedding-space
    * complement of [[crossCorpusContamination]]'s n-gram check: a test
    * document is contaminated when some training vector scores cosine ≥
    * `threshold` against it (paraphrased or reformatted leakage that
    * token overlap misses; cf. the decontamination discussion in Brown
    * et al. 2020 §4 and Yang et al. 2023 "rephrased samples").
    *
    * Inputs are (vec_id, embedding ARRAY<FLOAT>) with DISJOINT id
    * spaces. Output: one row per CONTAMINATED test doc —
    * (vec_id, best_match = train id of the highest-cosine hit with ties
    * to the smaller id, n_matches, max_cos), cosines rounded to 6 dp
    * before thresholding (engine-portable).
    *
    * Scale shape: benchmarks are small, training corpora are not — so
    * when the TEST side fits a broadcast (≤ `exactLimit` rows, checked
    * with a bounded count) the train side is scanned ONCE against the
    * broadcast test set (a BroadcastNestedLoopJoin whose dot + filter
    * stay in one codegen stage; only the ≥-threshold matches reach the
    * shuffle). Beyond that, both sides get the SAME seeded sign
    * sketches ([[PairwiseTopK.signSketches]] is deterministic in
    * (seed, dim)), candidates are in-band collisions across sides, and
    * survivors are exactly re-scored — precision exact, recall banded
    * exactly as in [[embeddingNearDups]], with `bands` auto-sized to
    * predicted recall ≥ 0.9 at the threshold.
    */
  def semanticContamination(train: DataFrame, test: DataFrame,
      threshold: Double, exactLimit: Long = 20000L,
      bands: Int = 0): DataFrame =
    aggContaminationHits(
      semanticHits(train, test, threshold, exactLimit, bands))

  /** The pair-level core of [[semanticContamination]] (and of the
    * semantic ingest screen, [[semanticScreen]]): one row per
    * (test doc, train doc) pair with cosine ≥ `threshold` —
    * (qid, tid, cos), cos rounded to 6 dp. Same two execution shapes:
    * test-side broadcast against a single train scan when the test
    * side is small, seeded sign-sketch banding + exact re-score
    * beyond. Exposed so callers can UNION hit sets from different
    * partner corpora (e.g. archive hits ∪ within-batch hits) before
    * the per-doc aggregate — aggregating per source would double-scan.
    */
  def semanticHits(train: DataFrame, test: DataFrame,
      threshold: Double, exactLimit: Long = 20000L,
      bands: Int = 0): DataFrame = {
    import graft.functions.FloatVecDot.floatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val tr = train.select(col("vec_id").as("tid"),
      floatVecPack(col("embedding")).as("tv"))
    val te = test.select(col("vec_id").as("qid"),
      floatVecPack(col("embedding")).as("qv"))
    val boundedCount = te
      .limit(math.min(exactLimit + 1, Int.MaxValue.toLong).toInt).count()
    val hits =
      if (boundedCount <= exactLimit) {
        tr.crossJoin(broadcast(te))
          .select(col("qid"), col("tid"),
            round(floatVecDot(col("qv"), col("tv")), 6).as("cos"))
          .where(col("cos") >= threshold)
      } else {
        val dim = test.select(size(col("embedding"))).limit(1)
          .collect().head.getInt(0)
        val (bits, nb) =
          if (bands > 0) { val b4 = ((bands + 3) / 4) * 4; (b4 * 16, b4) }
          else PairwiseTopK.sketchConfigFor(threshold)
        val maxHam = math.min(bits.toDouble,
          bits * math.acos(math.max(-1.0, math.min(1.0, threshold))) /
            math.Pi * 1.25).toInt
        val skTr = PairwiseTopK.signSketches(
          tr.select(col("tid").as("id"), col("tv").as("vec")), dim, bits, nb, 42L)
        val skTe = PairwiseTopK.signSketches(
          te.select(col("qid").as("id"), col("qv").as("vec")), dim, bits, nb, 42L)
        val cands = PairwiseTopK.bandCandidates(skTr, skTe, "tid", "qid")
          .where(col("hamming") <= maxHam)
          .select(col("qid"), col("tid"))
        cands.join(tr, "tid").join(te, "qid")
          .select(col("qid"), col("tid"),
            round(floatVecDot(col("qv"), col("tv")), 6).as("cos"))
          .where(col("cos") >= threshold)
      }
    hits
  }

  /** Per-contaminated-doc aggregate over a [[semanticHits]] pair set:
    * ONE aggregation pass — best_match via struct-argmax (max cos,
    * ties to the smaller partner id through the negated tid); a second
    * consumer of `hits` would re-run the partner-corpus scan per
    * branch. Output: (vec_id, best_match, n_matches, max_cos). */
  def aggContaminationHits(hits: DataFrame): DataFrame =
    hits.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_matches"), max(col("cos")).as("max_cos"),
        max(struct(col("cos"), negate(col("tid")).as("ntid"))).as("bs"))
      .select(col("qid").as("vec_id"),
        negate(col("bs.ntid")).as("best_match"),
        col("n_matches"), col("max_cos"))

  /** Embedding-space dedup SCREEN — the semantic complement of the
    * MinHash ingest screen (SemDeDup-grade, Abbas et al. 2023 applied
    * at the ingest boundary): an arriving batch doc is DROPPED when
    *  - some ARCHIVE vector scores cosine ≥ `threshold` against it
    *    (a paraphrase-level near-dup of something already ingested), or
    *  - an EARLIER doc of the same batch does (batch-internal dup,
    *    keep-first — mirroring the lexical screen's greedy pair rule:
    *    the earlier partner's own fate does not resurrect the later
    *    doc).
    * Ids must be disjoint with batch ids ABOVE archive ids (the store
    * assigns provisional ids that way; the oracle entry splits one id
    * space). Output: one row per DROPPED batch doc —
    * (vec_id, best_match, n_matches, max_cos) where best_match may be
    * an archive id or an earlier batch id (ties to the smaller id).
    *
    * Scale shape: archive-vs-batch goes through [[semanticHits]] (one
    * archive scan against the broadcast batch; sign-sketch banded
    * beyond `exactLimit`); within-batch reuses the same core with the
    * batch on both sides and keeps the ordered (earlier, later) pairs.
    * The store twin prunes the archive side to the IVF-probed lists
    * first — see `KbStore.semanticDropHits`.
    */
  def semanticScreen(archive: DataFrame, batch: DataFrame,
      threshold: Double, exactLimit: Long = 20000L,
      bands: Int = 0): DataFrame = {
    val vsArchive = semanticHits(archive, batch, threshold, exactLimit, bands)
    val internal = semanticHits(batch, batch, threshold, exactLimit, bands)
      .where(col("tid") < col("qid"))
    aggContaminationHits(vsArchive.unionByName(internal))
  }

  /** SemDeDup (Abbas et al. 2023): cluster-bounded embedding dedup.
    * Cluster the corpus with deterministic spherical k-means
    * ([[SimilaritySearch.clusterDocs]]), then WITHIN each cluster drop
    * every document that scores cosine ≥ `threshold` against a
    * smaller-id clustermate (the paper's greedy keep-first rule — NOT
    * transitive closure, so it is a plain semi-join, unlike
    * [[semanticDedup]]'s connected components).
    *
    * Scale shape: this is how embedding dedup dodges the all-pairs
    * wall — the only pairwise work is per-cluster, so with k clusters
    * the join volume is Σ|cluster|² ≈ n²/k, and k scales with the
    * corpus (√n clusters ⇒ linear total work). The cid equi-join
    * co-partitions both sides; an over-dense cluster is a skew key,
    * handled the usual ways (AQE skew split, or raise k).
    *
    * @return (vec_id, cid, keep BOOLEAN), one row per input vector
    */
  def semDedup(emb: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    import graft.functions.FloatVecDot.floatVecDot
    import graft.functions.FloatVecPack.floatVecPack
    val assigned = SimilaritySearch.clusterDocs(emb, k, iters)
      .select(col("vec_id"), col("cid"))
    val packed = emb.select(col("vec_id"),
      floatVecPack(col("embedding")).as("v"))
    val withV = assigned.join(packed, "vec_id")
    val a = withV.select(col("cid"), col("vec_id").as("id1"),
      col("v").as("v1"))
    val b = withV.select(col("cid"), col("vec_id").as("id2"),
      col("v").as("v2"))
    val dropped = a.join(b, Seq("cid")).where(col("id1") < col("id2"))
      .where(round(floatVecDot(col("v1"), col("v2")), 6) >= threshold)
      .select(col("id2")).distinct()
    assigned.join(dropped, assigned("vec_id") === dropped("id2"), "left")
      .select(col("vec_id"), col("cid"), col("id2").isNull.as("keep"))
  }
}
