package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` maps one operator of SURVEY.md §2 (or a scale
  * extension, §7.5) to a Spark DataFrame pipeline; `oracleSql` carries the
  * DuckDB-equivalent SQL the driver hash-compares against.
  *
  * Conventions for oracle determinism:
  *   - every query ends with a total ORDER BY (all tie-breaking keys);
  *   - floating-point outputs are rounded (4-6 decimals) in BOTH engines;
  *   - vector math is done in double precision in BOTH engines;
  *   - column names are identical in both (aliased everywhere).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is the reference's `KB.retrieve` shape (SURVEY §3.1).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("v1_retrieve_topk")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // helpers
  // ---------------------------------------------------------------------
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** application id -> the scratch dir of that session's fixtures. */
  private val fixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** A temp dir for the fixture files `s`'s queries generate, one per
    * application (so two sessions never overwrite each other's fixture
    * mid-read), made on first use. It is deleted, with what it holds,
    * when the session's SparkContext stops, or at JVM exit if it never
    * does: a query's DataFrame reads its fixture lazily, so the file
    * must outlive the query function. */
  private def fixtureDir(s: SparkSession): java.nio.file.Path =
    fixtureDirs.computeIfAbsent(s.sparkContext.applicationId, app => {
      val dir = java.nio.file.Files.createTempDirectory("graft_fixtures_")
      def delete(): Unit = if (fixtureDirs.remove(app, dir)) {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          delete()
      })
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete()))
      dir
    })

  /** Cast computed 32-bit int columns to long: DuckDB's count/len/ascii/
    * row_number yield BIGINT, and the driver compare is schema-sensitive.
    */
  private def longs(df: DataFrame, names: String*): DataFrame =
    names.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ relationalQueries ++ pipelineQueries

  /** Marker stopword lists for the language-ID heuristic. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"))

  private def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- text analysis (SURVEY §7.5) ------------------------------------
    "x1_token_stats" -> ((s, dir) =>
      longs(graft.ops.TextAnalysis.tokenStats(t(s, dir, "documents")),
        "n_tokens", "n_uniq", "n_bpe_pieces", "n_chars")
        .orderBy(col("doc_id"))),

    // unicode/regex tokenization over a punctuated+case-mangled variant
    // of the corpus (the synthetic text itself is clean, so the
    // punctuation is injected identically in both engines) — the
    // tokenizer real corpora need, where `split(' ')` glues "word." and
    // "Word" into distinct spurious tokens
    "x7_unicode_tokens" -> ((s, dir) => {
      import s.implicits._
      val aug = t(s, dir, "documents").select($"doc_id",
        concat($"text", lit("!! "), upper(substring($"text", 1, 12)), lit("."))
          .as("txt"))
      val stats = graft.ops.TextAnalysis.tokenStats(aug, "txt", unicode = true)
      longs(stats.drop("n_bpe_pieces", "n_chars"), "n_tokens", "n_uniq")
        .orderBy($"doc_id")
    }),

    // mergeable HLL cardinality sketch: the register table itself —
    // pure integer logic (md5-hash60, bit ops, bin-length rank), so the
    // sketch STATE is oracle-exact, not just error-bounded; merging =
    // groupBy-max (spec-pinned equal to sketching the union)
    "x25_hll_registers" -> ((s, dir) =>
      graft.ops.Sketches.hllRegisters(t(s, dir, "events"), "user_id", p = 9)
        .orderBy(col("bucket"))),

    // Count-Min register table over the token stream (the frequency
    // twin of x25: persist once, answer any point-frequency query with
    // d cell lookups, merge scopes with groupBy-sum). Integer-only
    // construction → oracle-exact
    "x26_cms_registers" -> ((s, dir) =>
      graft.ops.Sketches.cmsRegisters(
        t(s, dir, "documents")
          .select(explode(graft.ops.TextAnalysis.tokens(col("text")))
            .as("tok"))
          .where(col("tok") =!= ""),
        "tok", depth = 4, width = 256)
        .orderBy(col("row"), col("cell"))),

    // dataset-overlap diagnostics: per-source bottom-16 min-hash
    // signatures (bounded typed aggregator — k longs per source cross
    // the shuffle, never the vocabulary) + pairwise bottom-k Jaccard
    // estimates. Integer counts + one rounded division → oracle-exact
    "x27_source_overlap" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
        .where(col("tok") =!= "")
      val sig = graft.ops.Sketches.bottomKSignatures(
        toks, "source", "tok", k = 16)
      graft.ops.Sketches.signatureJaccard(sig, k = 16)
        .orderBy(col("group_a"), col("group_b"))
    }),

    // grouped HLL: one 2^9 sketch PER SOURCE (distinct tokens per
    // source without collect_set) — same integer-only registers as
    // x25, keyed by the group column
    "x28_grouped_hll" -> ((s, dir) =>
      graft.ops.Sketches.hllRegistersGrouped(
        t(s, dir, "documents")
          .select(col("source"),
            explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
          .where(col("tok") =!= ""),
        Seq("source"), "tok", p = 9)
        .orderBy(col("source"), col("bucket"))),

    // deterministic hash sampling (training-data subsetting without RNG
    // state: a narrow map, reproducible across engines and runs)
    "d7_hash_sample" -> ((s, dir) =>
      graft.ops.TextAnalysis.hashSample(
        t(s, dir, "documents"), "doc_id", pct = 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // per-stratum mixture sampling (dataset mixing / rare-class
    // upsampling step of a training pipeline)
    "d8_mixture_sample" -> ((s, dir) =>
      graft.ops.TextAnalysis.mixtureSample(
        t(s, dir, "documents"), "lang",
        rates = Map("en" -> 30, "de" -> 10), defaultPct = 5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // temperature-scaled mixture (multinomial α-sampling): per-stratum
    // rates DERIVED from the corpus distribution, α=0.5 flattening
    "d16_temperature_mixture" -> ((s, dir) =>
      graft.ops.TextAnalysis.temperatureMixture(
        t(s, dir, "documents"), "lang", alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    "x2_quality_score" -> ((s, dir) =>
      graft.ops.TextAnalysis.qualityScore(t(s, dir, "documents"), Seq("the", "a"))
        .orderBy(col("doc_id"))),

    // per-language keep-rate calibration: rank by quality within each
    // lang, keep the top 40% (rank cutoff, not an interpolated
    // quantile — integer logic, engine-portable)
    "x29_keep_rate" -> ((s, dir) => {
      import s.implicits._
      val scored = graft.ops.TextAnalysis.qualityScore(
          t(s, dir, "documents"), Seq("the", "a"))
        .join(t(s, dir, "documents").select($"doc_id", $"lang"), "doc_id")
      graft.ops.TextAnalysis.keepTopRate(scored, "lang", "quality",
          keepRate = 0.4)
        .select($"doc_id", $"lang", $"quality", $"rk", $"n_group")
        .orderBy($"doc_id")
    }),

    // per-language token-budget selection (data mixing: "the best
    // 20k chars per language", greedy by quality, strict prefix)
    "x30_budget_select" -> ((s, dir) => {
      import s.implicits._
      val scored = graft.ops.TextAnalysis.qualityScore(
          t(s, dir, "documents"), Seq("the", "a"))
        .join(t(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars"), "doc_id")
      graft.ops.TextAnalysis.budgetSelect(scored, "lang", "quality",
          "n_chars", budget = 20000L)
        .select($"doc_id", $"lang", $"quality", $"cum_cost")
        .orderBy($"doc_id")
    }),

    // CCNet head/middle/tail (Wenzek et al. 2020 §4.3): per-language
    // terciles by corpus-trained bigram perplexity — rank-based cut
    // over (rounded ppl, doc_id), partitioned window only
    "x31_ppl_buckets" -> ((s, dir) =>
      graft.ops.TextAnalysis.pplBuckets(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // UniMax waterfilling (Chung et al. 2023): per-language token
    // allocation under a 2-epoch repeat cap and a 50%-of-corpus
    // budget; λ from the groups-bounded closed form
    "x32_unimax" -> ((s, dir) =>
      graft.ops.TextAnalysis.unimaxAllocate(t(s, dir, "documents"))
        .orderBy(col("lang"))),

    // interpolated Kneser–Ney bigram perplexity (D = 0.75) — the
    // stronger LM-quality signal next to x14's add-alpha model
    "x33_kn_ppl" -> ((s, dir) =>
      graft.ops.TextAnalysis.knPerplexity(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // WET-style text extraction from markup (ops/Html.scala) — the
    // stage every web-crawl pipeline runs before any other curation
    // op here. Markup is synthesized deterministically around the
    // corpus text (script/style payloads, a comment, entities,
    // multi-space runs) so the oracle can replicate the transform with
    // the same RE2-compatible patterns. All codegen'd built-ins.
    "x34_html_extract" -> ((s, dir) => {
      import s.implicits._
      val id = $"doc_id".cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<script type=\"text/javascript\">var n="), id,
        lit("; track(n);</script>"),
        lit("<style>.nav { display: none; }</style></head>"),
        lit("<body><!-- autogen --><h1>Doc &lt;"), id,
        lit("&gt; &amp; friends</h1>  <p>"), $"text",
        lit("</p> <div class=\"nav\">home&nbsp;|&nbsp;next</div>"),
        lit("</body></html>"))
      t(s, dir, "documents")
        .select($"doc_id",
          graft.ops.Html.extractText(html).as("extracted"))
        .orderBy($"doc_id")
    }),

    "x3_lang_id" -> ((s, dir) =>
      graft.ops.TextAnalysis.langId(t(s, dir, "documents"), langMarkers)
        .orderBy(col("doc_id"))),

    "x4_fingerprint" -> ((s, dir) =>
      graft.ops.TextAnalysis.fingerprint(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // duplicate-n-gram boilerplate fraction (span-level dedup signal)
    "x5_dup_ngram_fraction" -> ((s, dir) =>
      graft.ops.Dedup.dupNgramFraction(t(s, dir, "documents"), k = 3)
        .orderBy(col("doc_id"))),

    // corpus-relative quality gate: docs above the median quality score
    // (the percentile is a broadcast scalar, not a driver round-trip)
    "x6_quality_filter" -> ((s, dir) => {
      import s.implicits._
      val q = graft.ops.TextAnalysis.qualityScore(
        t(s, dir, "documents"), Seq("the", "a"))
      val med = q.agg(expr("percentile(quality, 0.5)").as("med"))
      q.crossJoin(broadcast(med))
        .filter($"quality" > $"med")
        .select($"doc_id", $"quality")
        .orderBy($"doc_id")
    }),

    // Gopher-style structural quality rules (word count, mean word
    // length, symbol ratio, alpha fraction, stopword presence) over a
    // variant of the corpus with symbols/digits injected deterministically
    // in both engines (the synthetic text is too clean to exercise the
    // symbol and alpha rules otherwise)
    "x9_gopher_rules" -> ((s, dir) => {
      import s.implicits._
      val aug = t(s, dir, "documents").select($"doc_id",
        when($"doc_id" % 7 === 0, concat($"text", lit(" ### ... ###")))
          .when($"doc_id" % 11 === 0, concat($"text", lit(" 123 456 789")))
          .otherwise($"text").as("txt"))
      graft.ops.TextAnalysis.gopherQuality(aug, Seq("the", "a"), "txt",
          minWords = 18)
        .orderBy($"doc_id")
    }),

    // BM25 lexical retrieval: keyword-side complement of v1's vector
    // retrieval, posting-list build + query-term-pruned scoring
    "b1_bm25_topk" -> ((s, dir) =>
      graft.ops.TextRetrieval.bm25TopK(t(s, dir, "documents"),
        Seq("spark", "join", "window"), k = 20)),

    // BM25 over a punctuated+case-mangled corpus with the unicode
    // tokenizer (x7's corpus construction): the split(' ') index would
    // glue "word." / "Word" into spurious terms and mis-rank — this is
    // the tokenizer the lexical tier runs on real corpora
    "b1u_bm25_unicode" -> ((s, dir) => {
      import s.implicits._
      val aug = t(s, dir, "documents").select($"doc_id",
        concat($"text", lit("!! "), upper(substring($"text", 1, 12)), lit("."))
          .as("txt"))
      graft.ops.TextRetrieval.bm25TopK(aug,
        Seq("spark", "join", "window"), k = 20,
        textCol = "txt", unicode = true)
    }),

    // RM3 pseudo-relevance feedback (Lavrenko & Croft): top-10 BM25
    // hits vote on expansion terms via score-weighted tf/dl, the top-10
    // relevance-model terms interpolate with the query at α=0.5, and
    // the weighted rescore ranks — the expansion rung above b1's plain
    // BM25; feedback set broadcasts, postings never shuffle for it
    "b4_rm3_expansion" -> ((s, dir) =>
      graft.ops.TextRetrieval.rm3TopK(t(s, dir, "documents"),
        Seq("spark", "join", "window"), k = 20,
        fbDocs = 10, fbTerms = 10, alpha = 0.5)),

    // corpus vocabulary heavy hitters (vocab/BPE-prep step): two-phase
    // partial-agg count, top-k without a global sort
    "x10_vocab_topk" -> ((s, dir) =>
      graft.ops.TextRetrieval.vocabTopK(t(s, dir, "documents"), k = 50)),

    // per-document tf-idf keyword extraction: doc-partitioned ranking
    // window, broadcast document frequencies
    "b2_tfidf_keywords" -> ((s, dir) =>
      graft.ops.TextRetrieval.tfidfKeywords(t(s, dir, "documents"), perDoc = 3)
        .orderBy(col("doc_id"), col("rk"))),

    // repetition ratio: share of a doc's bigrams taken by its most
    // frequent bigram (boilerplate / degenerate-repetition signal)
    "x11_repetition" -> ((s, dir) =>
      graft.ops.TextAnalysis.repetitionRatio(t(s, dir, "documents"), k = 2)
        .orderBy(col("doc_id"))),

    // end-to-end curation pipeline — the composition a training-data
    // run actually executes: structural rules pass (Gopher) ∧ exact-dup
    // group representative (first doc_id per fingerprint) ∧ quality
    // above the corpus median. Three narrow/keyed stages over the same
    // scan; the median is a broadcast scalar.
    "x12_curation" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val rules = graft.ops.TextAnalysis.gopherQuality(
          docs, Seq("the", "a"), minWords = 18)
        .where($"keep" === 1L).select($"doc_id")
      val rep = graft.ops.TextAnalysis.fingerprint(docs)
        .withColumn("rk", row_number().over(
          Window.partitionBy($"fp_md5").orderBy($"doc_id")))
        .where($"rk" === 1).select($"doc_id")
      val q = graft.ops.TextAnalysis.qualityScore(docs, Seq("the", "a"))
      val med = q.agg(expr("percentile(quality, 0.5)").as("med"))
      val good = q.crossJoin(broadcast(med))
        .where($"quality" > $"med").select($"doc_id", $"quality")
      good.join(rules, "doc_id").join(rep, "doc_id")
        .orderBy($"doc_id")
    }),

    // PII redaction over a corpus with synthetic emails/phones/IPs
    // injected identically in both engines (the clean synthetic text
    // carries none); every doc_id % 3 == 0 row stays PII-free so the
    // no-match path is exercised too
    "x13_pii_redact" -> ((s, dir) => {
      import s.implicits._
      val aug = t(s, dir, "documents").select($"doc_id",
        when(pmod($"doc_id", lit(3)) === 0, $"text").otherwise(concat(
          $"text", lit(" contact u"), $"doc_id".cast("string"),
          lit("@mail.example.com or 555-"),
          lpad(pmod($"doc_id", lit(1000)).cast("string"), 3, "0"), lit("-"),
          lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod($"doc_id", lit(256)).cast("string"),
          lit(".7 end"))).as("txt"))
      graft.ops.TextAnalysis.piiRedact(aug, "txt").orderBy($"doc_id")
    }),

    // per-source (domain-level) aggregation for RefinedWeb-style source
    // filtering; exact duplicates injected deterministically in both
    // engines (the corpus itself has none at this sf)
    "x16_source_stats" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select($"doc_id", $"source", $"text")
      val aug = d.unionByName(
        d.filter(pmod($"doc_id", lit(10)) === 0)
          .withColumn("doc_id", $"doc_id" + 10000L))
      graft.ops.TextAnalysis.sourceStats(aug, Seq("the", "a"))
        .orderBy($"source")
    }),

    // BPE merge learning over the corpus (tokenizer training).
    // Oracle-exact: the oracle UNROLLS the 12 merge ranks as CTE
    // blocks (bpeOracleSql — pair-count, argmax, left-to-right apply);
    // hand-computed merges additionally pinned by BpeSpec
    "x15_bpe_merges" -> ((s, dir) =>
      graft.ops.Bpe.bpeTrain(t(s, dir, "documents"), numMerges = 12)
        .orderBy(col("rank"))),

    // tokenizer application: greedy lowest-rank BPE encode of the
    // corpus under the merges x15 learns from it. Oracle-exact via the
    // same unrolled chain (greedy-by-rank ≡ rank-order exhaustive
    // application — see bpeOracleSql); encodes also pinned by BpeSpec
    "x19_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ops.Bpe.bpeTrain(docs, numMerges = 12)
      graft.ops.Bpe.bpeEncode(docs, merges)
        .select(col("doc_id"), col("n_pieces"),
          array_join(col("pieces"), " ").as("pieces_str"))
        .orderBy(col("doc_id"))
    }),

    // bigram-LM perplexity quality scoring (CCNet-style): the model is
    // trained on the corpus itself, so the whole train+score pipeline
    // is under the oracle
    "x14_ngram_ppl" -> ((s, dir) =>
      graft.ops.TextAnalysis.ngramPerplexity(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // canonical text normalization (NFC + lowercase + whitespace
    // collapse) over a corpus augmented with decomposed combining
    // characters and ragged spacing — injected identically in both
    // engines (the clean synthetic text is already canonical)
    "x17_normalize" -> ((s, dir) => {
      import s.implicits._
      val aug = t(s, dir, "documents").select($"doc_id",
        when(pmod($"doc_id", lit(3)) === 0, $"text").otherwise(concat(
          lit("Cafe\u0301  "), upper(substring($"text", 1, 10)),
          lit("\t"), $"text", lit("  "))).as("txt"))
      graft.ops.TextAnalysis.normalizeText(aug, "txt").orderBy($"doc_id")
    }),

    // length-bucketed batch assignment (padding-waste minimization for
    // variable-length training sequences)
    "x18_length_batches" -> ((s, dir) =>
      graft.ops.TextAnalysis.batchByLength(t(s, dir, "documents"),
          batchSize = 16, bucketTokens = 32)
        .orderBy(col("doc_id"))),

    // exact-count deterministic stratified sampling (per-language) —
    // reproducible across engines, unlike sampleBy's Bernoulli draw
    "d11_stratified_sample" -> ((s, dir) =>
      graft.ops.TextAnalysis.stratifiedSample(
          t(s, dir, "documents"), "lang", n = 25)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
        .orderBy(col("doc_id"))),

    // deterministic train/val/test split assignment: membership is a
    // pure function of the key, so appends never migrate rows between
    // splits
    "d12_split_assign" -> ((s, dir) =>
      graft.ops.TextAnalysis.assignSplit(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .orderBy(col("doc_id"))),

    // MMR-diversified retrieval (redundancy-penalized rerank of the
    // vector top-m). No SQL oracle — the greedy selection is iterative
    // — so the driver records the rows-only check; hand-computed
    // Oracle-exact: the oracle unrolls the k greedy selection steps as
    // CTE argmax blocks (mmrOracleSql); selection order and the
    // near-dup-displacement property additionally pinned by OpsSpec
    "k4_mmr_rerank" -> ((s, dir) =>
      graft.ops.SimilaritySearch.mmrRerank(t(s, dir, "embeddings"),
          queryVecId = 2L, k = 10, lambdaRel = 0.7, m = 50)
        .orderBy(col("mmr_rank"))),

    // spherical k-means corpus clustering (deterministic seeds + Lloyd
    // refinement). Oracle-exact: the oracle UNROLLS the Lloyd
    // iterations as CTE blocks (kmeansOracleCtes) — argmax assignment,
    // per-dimension mean, unit-normalize, empty-cluster carry-forward
    "c1_clusters" -> ((s, dir) =>
      graft.ops.SimilaritySearch.clusterDocs(t(s, dir, "embeddings"),
          k = 10, iters = 3)
        .orderBy(col("vec_id"))),

    // Z-order (Morton) layout key over (user_id, event-hour): the
    // multi-dimensional clustering key writeZordered range-partitions
    // files by. Buckets are equal-WIDTH slices of the 32-bit z domain
    // (zval >> 28 → 16 buckets) — the same width_bucket discipline
    // compactZordered uses, fully parallel and engine-portable. (r6
    // used ntile over a global ORDER BY window: a single-partition
    // sort of the whole table inside the timed set — a scale-killer
    // shape; equal-count boundaries belong to repartitionByRange's
    // sampling, not to a timed oracle query.) Scale path:
    // Layout.writeZordered.
    "x23_zorder" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id",
        ($"user_id" % 65536L).as("a"),
        expr("(unix_micros(ts) div 3600000000) % 65536").as("b"))
      ev.withColumn("zval", graft.ops.Layout.zValue(16, $"a", $"b"))
        .withColumn("bucket", (shiftright($"zval", 28) + 1L).cast("long"))
        .select($"event_id", $"zval", $"bucket")
        .orderBy($"event_id")
    }),

    // trained quality classifier (fastText-style): logistic regression
    // over hashed bag-of-words, 8 full-batch GD steps — label = "is
    // English". Oracle unrolls the GD steps as weight-vector CTEs.
    "x22_classifier" -> ((s, dir) => {
      import s.implicits._
      graft.ops.TextClassifier.trainAndScore(
          t(s, dir, "documents")
            .withColumn("y", when($"lang" === "en", 1.0).otherwise(0.0)),
          labelCol = "y", dim = 64, iters = 8, lr = 1.0)
        .orderBy($"doc_id")
    }),

    // SemDeDup (Abbas et al. 2023): within-cluster greedy keep-first
    // embedding dedup — the cluster-bounded answer to d5's corpus-wide
    // near-dup join
    "d15_semdedup" -> ((s, dir) =>
      graft.ops.Dedup.semDedup(t(s, dir, "embeddings"),
          k = 10, iters = 3, threshold = 0.4)
        .orderBy(col("vec_id"))),

    // sliding-window chunking with overlap (RAG / context-window prep):
    // 32-token chunks stepping by 16 — narrow map + explode, output
    // volume (chunk/stride)× the corpus, no shuffle
    "c2_chunk_overlap" -> ((s, dir) =>
      graft.ops.TextAnalysis.chunkOverlap(t(s, dir, "documents"),
          chunkTokens = 32, stride = 16)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // tokenizer-coverage / OOV-rate stats against the corpus's own
    // top-25 vocabulary (31 distinct terms exist at this sf, so the
    // OOV path is genuinely exercised): broadcast vocab, keyed agg
    "x20_oov_stats" -> ((s, dir) =>
      graft.ops.TextAnalysis.oovStats(t(s, dir, "documents"), vocabSize = 25)
        .orderBy(col("doc_id"))),

    // DSIR-style hashed-bigram importance weights (target = the
    // English subset): add-1-smoothed bucket log-ratios, broadcast
    // log-ratio table, per-doc keyed agg
    "x21_dsir_weights" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.importanceWeights(
          docs, docs.where($"lang" === "en"), buckets = 64)
        .orderBy($"doc_id")
    }),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical list
    // and the vector top-k (rank-based, so engine-exact; doc_id ==
    // vec_id on the synthetic corpus)
    "b3_hybrid_rrf" -> ((s, dir) =>
      graft.ops.TextRetrieval.rrfFuse(
        graft.ops.TextRetrieval.bm25TopK(t(s, dir, "documents"),
          Seq("spark", "join", "window"), k = 50),
        graft.ops.SimilaritySearch.topK(t(s, dir, "embeddings"), 2L, 50)
          .withColumnRenamed("vec_id", "doc_id"),
        k = 20)),

    // --- dedup family (SURVEY §7.5) --------------------------------------
    "d1_exact_dedup" -> ((s, dir) =>
      graft.ops.Dedup.exactDupStats(t(s, dir, "documents"))),

    // keep-BEST exact dedup (CCNet/RefinedWeb): duplicates grouped by
    // canonical fingerprint, the highest-quality variant survives. The
    // synthetic corpus has no exact dups, so a case/whitespace-mangled
    // copy (same canonical form, lower quality score) is unioned in —
    // identically in both engines — and the original must win each group
    "d17_keep_best" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val aug = docs.unionByName(docs.select(
        ($"doc_id" + 10000L).as("doc_id"),
        concat(upper($"text"), lit("  ")).as("text")))
      val fp = graft.ops.TextAnalysis.fingerprint(aug)
        .select($"doc_id", $"fp_md5")
      val q = graft.ops.TextAnalysis.qualityScore(aug, Seq("the", "a"))
      graft.ops.Dedup.keepBestPerKey(fp.join(q, "doc_id"),
          keyCol = "fp_md5", scoreCol = "quality")
        .orderBy($"doc_id")
    }),

    "d2_minhash_lsh" -> ((s, dir) =>
      graft.ops.Dedup.minhashNearDups(t(s, dir, "documents"),
        k = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
        .orderBy(col("doc1"), col("doc2"))),

    // cross-snapshot incremental dedup: the "new ingest vs archive"
    // shape — every 5th doc plays the arriving batch, the rest the
    // archive; result = d2's pair set restricted to pairs touching the
    // batch, computed WITHOUT mining archive×archive (batch bands vs
    // all bands, verify shingles only the matched archive docs). The
    // store-managed twin persists the archive bands as the dedup_bands
    // index family (KbStore.dedupCandidates).
    "d18_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.minhashNearDupsIncremental(
          docs.where(col("doc_id") % 5 =!= 4),
          docs.where(col("doc_id") % 5 === 4),
          k = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
        .orderBy(col("doc1"), col("doc2"))
    }),

    // split-leakage audit: near-dup pairs (d2's pipeline) that straddle
    // the deterministic train/val/test assignment (d12's hash) — the
    // standard eval-contamination check run before training. Composes
    // two already-banded stages, so the scale shape is d2's: no new
    // all-pairs work, two hash-computed split columns on the pair set.
    "d20_split_leakage" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.minhashNearDups(docs,
        k = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)
      val splits = graft.ops.TextAnalysis.assignSplit(
          docs.select($"doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select($"doc_id", $"split")
      pairs
        .join(splits.toDF("doc1", "split1"), "doc1")
        .join(splits.toDF("doc2", "split2"), "doc2")
        .where($"split1" =!= $"split2")
        .select($"doc1", $"doc2", $"jaccard", $"split1", $"split2")
        .orderBy($"doc1", $"doc2")
    }),

    "d3_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhash(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // banded (pigeonhole-exact) simhash pair mining — the scale path;
    // the oracle computes the same pairs with a plain all-pairs join.
    // 60-bit signatures so the 4 pigeonhole bands carry 15 bits (32k
    // keys) each — at 16 bits the band keys were 4-bit and candidate
    // volume degenerated to ~n²/16 (see Dedup.simhashPairsBanded).
    "d3b_simhash_banded" -> ((s, dir) =>
      graft.ops.Dedup.simhashPairsBanded(
          graft.ops.Dedup.simhash(t(s, dir, "documents"), bits = 60),
          maxHamming = 3, bits = 60)
        .select(col("doc1"), col("doc2"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc1"), col("doc2"))),

    "d4_ngram_jaccard" -> ((s, dir) =>
      // exact n-gram Jaccard similarity join via posting lists (no
      // cross join — see Dedup.jaccardSimilarityJoin scale notes)
      graft.ops.Dedup.jaccardSimilarityJoin(t(s, dir, "documents"),
        k = 3, threshold = 0.5)
        .orderBy(col("doc1"), col("doc2"))),

    "d5_embedding_neardup" -> ((s, dir) =>
      graft.ops.Dedup.embeddingNearDups(t(s, dir, "embeddings"), 0.4)
        .orderBy(col("id1"), col("id2"))),

    // sequence packing: per-language token-budget shard assignment —
    // the concatenate-then-chop layout step of a training pipeline
    "x8_token_packing" -> ((s, dir) =>
      graft.ops.TextAnalysis.packSequences(t(s, dir, "documents"),
          budgetTokens = 512L)
        .orderBy(col("doc_id"))),

    // sequence packing budgeted by BPE pre-tokenization pieces — real
    // pipelines pack by tokenizer pieces, not whitespace words
    "x8b_packing_bpe" -> ((s, dir) =>
      graft.ops.TextAnalysis.packSequences(t(s, dir, "documents"),
          budgetTokens = 1024L, budgetBy = "bpe_pieces")
        .orderBy(col("doc_id"))),

    // sliding event-count: per-user 1-hour RANGE frame over the event
    // stream — the rate/velocity feature a monitoring pipeline computes
    "e3_sliding_count" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"us")
        .rangeBetween(-3600000000L, 0L)
      t(s, dir, "events")
        .select($"event_id", $"user_id", unix_micros($"ts").as("us"))
        .withColumn("n_last_hour", count(lit(1)).over(w))
        .orderBy($"event_id")
    }),

    // time-series resample / gap-fill: per-user daily grid from first
    // to last event, carry-forward last observed value at each grid
    // point — reuses the as-of join (one key shuffle, no range
    // expansion); the grid is generated, never materialized upstream
    "e4_resample" -> ((s, dir) => {
      import s.implicits._
      val day = 86400000000L
      val ev = t(s, dir, "events").filter($"user_id" < 25L)
        .select($"user_id", unix_micros($"ts").as("us"), $"value")
      // lo - pmod(lo, day) == floor(lo/day)*day in exact integer math
      // (Spark's `div` truncates toward zero, which would diverge from
      // the oracle's floor `//` for pre-1970 timestamps)
      val grid = ev.groupBy($"user_id")
        .agg(min($"us").as("lo"), max($"us").as("hi"))
        .select($"user_id",
          explode(sequence(expr(s"lo - pmod(lo, ${day}L)"), $"hi",
            lit(day))).as("gus"))
      // collapse identical (user, µs) ties like o1 — asofJoin's winner
      // among equal timestamps is unspecified in both engines
      val evG = ev.groupBy($"user_id", $"us").agg(max($"value").as("value"))
      graft.ops.TimeJoins.asofJoin(grid, evG, "user_id", "gus", "us")
        .select($"user_id", $"gus", round($"r_value", 4).as("last_value"))
        .orderBy($"user_id", $"gus")
    }),

    // per-entity anomaly flags: z-score of each event against its
    // user's mean/stddev (unpartitioned-window-free: both moments are
    // per-user windows, one key shuffle)
    "e5_zscore" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
      t(s, dir, "events")
        .select($"event_id", $"user_id", $"value")
        .withColumn("mu", avg($"value").over(w))
        .withColumn("sd", stddev_samp($"value").over(w))
        .where($"sd" > 0)
        .select($"event_id", $"user_id",
          round(($"value" - $"mu") / $"sd", 6).as("z"))
        .where(abs($"z") > 2.0)
        .orderBy($"event_id")
    }),

    // cross-corpus contamination (train/test n-gram overlap): the
    // corpus split by doc-id parity stands in for train vs eval; the
    // oracle affords the cross join, the operator never does one
    // IVF-sharded knn join at FULL probe (nProbe = #centroids), which
    // provably equals the brute-force join — so the oracle is a plain
    // cross-join ranking. Exercises the packed assign/probe kernels and
    // the heap-based per-query top-k end to end against DuckDB.
    "k2_knn_join_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 50)
      val cents = emb.filter($"vec_id" >= 50 && $"vec_id" < 58)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      graft.ops.SimilaritySearch.knnJoinIvf(queries, emb, cents,
          k = 3, nProbe = 8)
        .select($"qid", $"cid", $"score", $"rk".cast("long").as("rk"))
        .orderBy($"qid", $"rk")
    }),

    // IVF-PQ k-NN join: the compressed scale path — candidates rank by
    // ADC over 1-byte-per-subspace codes, exact re-rank of survivors.
    // At full probe + corpus-sized rerank the output is provably the
    // brute-force join (what the oracle checks), so the approximation
    // machinery itself is under the exactness gate
    "k3_knn_join_ivfpq" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.FloatVecPack.floatVecPack
      val emb = t(s, dir, "embeddings")
      val packed = emb.select($"vec_id".as("id"),
        floatVecPack($"embedding").as("vec"))
      val centsArr = emb.filter($"vec_id" >= 50 && $"vec_id" < 58).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val res = graft.ops.VectorQuant.ivfResiduals(packed, centsArr).cache()
      val books = graft.ops.VectorQuant.pqTrain(
        res.select($"id", $"rvec".as("vec")),
        m = 16, ncodes = 32, sampleMod = 1, iters = 2)
      val codes = graft.ops.VectorQuant.ivfPqEncode(res, books)
      graft.ops.VectorQuant.knnJoinIvfPq(
          packed.filter($"id" < 50), codes, centsArr, books, packed,
          k = 3, nProbe = 8, rerank = 1000000)
        .select($"qid", $"cid", $"score", $"rk".cast("long").as("rk"))
        .orderBy($"qid", $"rk")
    }),

    // hard-negative mining for contrastive training: nearest non-positive
    // candidates per query (positives = same-label pairs), skipping the
    // top-1 probable-duplicate rank
    "k5_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val positives = emb.select($"vec_id".as("qid"), $"label".as("ql"))
        .join(emb.select($"vec_id".as("cid"), $"label".as("cl")),
          $"ql" === $"cl")
        .select($"qid", $"cid")
      longs(graft.ops.SimilaritySearch.mineHardNegatives(
          emb.filter($"vec_id" < 10), emb, positives, k = 5, skipTop = 1),
        "rk")
        .orderBy($"qid", $"rk")
    }),

    // offline retrieval-quality eval: recall/MRR/nDCG@10 of the exact
    // knn ranking against same-label relevance judgments
    "k6_retrieval_metrics" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 5)
      val results = graft.ops.SimilaritySearch.knnJoin(queries, emb, 10)
      val qrels = queries.select($"vec_id".as("qid"), $"label".as("ql"))
        .join(emb.select($"vec_id".as("cid"), $"label".as("cl")),
          $"ql" === $"cl")
        .select($"qid", $"cid", lit(1.0).as("grade"))
      graft.ops.RetrievalEval.metrics(results, qrels, k = 10)
        .orderBy($"qid")
    }),

    "d9_contamination" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.crossCorpusContamination(
          docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
          k = 3, threshold = 0.5)
        .orderBy($"doc_id")
    }),

    // semantic (embedding-space) cross-corpus contamination: even ids
    // play the training corpus, odd ids the benchmark; exact path at
    // this scale (oracle-provable), sketch-banded beyond exactLimit
    "d14_semantic_contamination" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      graft.ops.Dedup.semanticContamination(
          emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1),
          threshold = 0.4)
        .orderBy($"vec_id")
    }),

    // semantic dedup-SCREEN (SemDeDup at the ingest boundary): the
    // d18 split — ids % 5 == 4 play the arriving batch, the rest the
    // archive — and a batch doc is dropped when an archive vector OR
    // an earlier batch doc scores cosine ≥ 0.4 (keep-first). Exact
    // path at this scale (oracle-provable); the store twin prunes the
    // archive through the persisted IVF family and degenerates to
    // exactly this at full probe (spec-pinned, the k3 pattern).
    "d19_semantic_screen" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      graft.ops.Dedup.semanticScreen(
          emb.filter($"vec_id" % 5 =!= 4), emb.filter($"vec_id" % 5 === 4),
          threshold = 0.4)
        .orderBy($"vec_id")
    }),

    // C4-style line dedup over multi-line docs synthesized identically
    // in both engines: a corpus-wide boilerplate line, a line shared by
    // each doc_id % 7 cohort, and the doc's own text
    "d10_line_dedup" -> ((s, dir) => {
      import s.implicits._
      val aug = t(s, dir, "documents").select($"doc_id",
        concat(lit("common header boilerplate\ngroup "),
          pmod($"doc_id", lit(7)).cast("string"), lit("\n"), $"text").as("txt"))
      graft.ops.Dedup.lineDedup(aug, "txt").orderBy($"doc_id")
    }),

    // cross-document exact substring dedup (Lee et al. 2022 span
    // removal): a 10-token preamble injected into 2/3 of the docs
    // (identically in both engines) guarantees shared ≥8-token windows;
    // exact-duplicate raw docs exercise whole-document span removal and
    // the doc_id%3==0 cohort exercises untouched pass-through
    "d13_substring_dedup" -> ((s, dir) => {
      import s.implicits._
      val aug = t(s, dir, "documents").select($"doc_id",
        when(pmod($"doc_id", lit(3)) === 0, $"text").otherwise(concat(
          lit("shared preamble alpha beta gamma delta epsilon zeta eta theta "),
          $"text")).as("txt"))
      graft.ops.Dedup.substringDedup(aug, minTokens = 8, textCol = "txt")
        .orderBy($"doc_id")
    }),

    // G3 semantic dedup: similarity pairs → connected components → keep
    // one per component (the notebook's sketched graph dedup, real now).
    "d6_semantic_dedup" -> ((s, dir) => {
      val pairs = graft.ops.Dedup.jaccardSimilarityJoin(
        t(s, dir, "documents"), k = 3, threshold = 0.5)
      graft.ops.Dedup.semanticDedup(pairs).orderBy(col("doc_id"))
    }),

    // per-user EWMA — a sequential per-key recurrence (mapGroups; keys
    // parallel, each key serial). α = 0.5 exactly representable, so
    // the fold is bit-identical across engines before the 6-dp round.
    "e6_ewma" -> ((s, dir) => {
      import s.implicits._
      graft.ops.TimeJoins.ewma(
          t(s, dir, "events").filter($"user_id" < 25L)
            .withColumn("tsl", unix_micros($"ts")),
          alpha = 0.5, tsCol = "tsl")
        .select($"user_id", $"event_id", $"rn",
          // + 1e-9 nudges the dyadic-terminating fold values off exact
          // .5e-6 round boundaries (identically in both engines); the
          // expansions' tails are powers of 5, never 4999999, so the
          // bias can only unify, not flip
          round($"ewma" + 1e-9, 6).as("ewma"))
        .orderBy($"user_id", $"rn")
    }),

    // batch sessionization (streaming twin lives in StreamingIngest):
    // 10-minute-gap sessions per user, one row per session.
    "e2_sessionize" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wAll = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .filter($"user_id" < 25L)
        .withColumn("us", unix_micros($"ts"))
        .withColumn("new_sess",
          when(coalesce($"us" - lag($"us", 1).over(w),
            lit(Long.MaxValue)) > 600000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum($"new_sess").over(wAll))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          (max($"us") - min($"us")).as("duration_us"),
          round(sum($"value"), 4).as("sum_value"))
        .orderBy($"user_id", $"session_id")
    }),

    // TPC-H Q5 shape: 5-way join through small dims (all broadcast) into
    // the fact table, grouped by nation.
    "q5_regional_revenue" -> ((s, dir) => {
      import s.implicits._
      val r = t(s, dir, "region").filter($"r_name" === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy($"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy(desc("revenue"), $"n_name")
    }),

    // TPC-H Q17 shape: correlated scalar subquery (decorrelated into a
    // per-key aggregate + join — what Catalyst does under the hood; we
    // declare it explicitly so the plan is one shuffle on l_partkey).
    "q17_small_quantity" -> ((s, dir) => {
      import s.implicits._
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter($"p_brand" === "Brand#23")
      val perPart = l.groupBy($"l_partkey".as("pk"))
        .agg((avg($"l_quantity") * 0.5).as("half_avg_qty"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(perPart, l("l_partkey") === col("pk"))
        .filter($"l_quantity" < $"half_avg_qty")
        .agg(round(sum($"l_extendedprice") / 7.0, 4).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    // As-of join (scale extension; no reference counterpart): for each
    // purchase the latest at-or-before view by the same user — a single
    // key-shuffle Window carry-forward, not a per-row range probe.
    "o1_asof_join" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events").withColumn("us", unix_micros($"ts"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("p_id"), $"us".as("p_us"))
      // one view row per (user, µs): asofJoin's winner among identical
      // timestamps is unspecified and DuckDB's ASOF picks its own, so
      // collapse ties identically in both engines before joining
      val v = e.filter($"event_type" === "view")
        .groupBy($"user_id", $"us".as("v_us"))
        .agg(round(max($"value"), 4).as("v_value"))
      graft.ops.TimeJoins.asofJoin(p, v, "user_id", "p_us", "v_us")
        .filter($"r_v_us".isNotNull)
        .select($"user_id", $"p_id", $"p_us", $"r_v_us".as("v_us"),
          round($"r_v_value", 4).as("v_value"))
        .orderBy($"user_id", $"p_us", $"p_id")
    }),

    // Bucketed range join (scale extension): views within the hour
    // before each purchase — time quantized into 1h buckets turns the
    // theta join into an equi-join + residual filter.
    "o2_range_join" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events").withColumn("us", unix_micros($"ts"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("p_id"), $"us".as("p_us"))
      val v = e.filter($"event_type" === "view")
        .select($"user_id", $"us".as("v_us"), $"value".as("v_value"))
      graft.ops.TimeJoins.rangeJoinBucketed(p, v, "user_id", "p_us", "v_us",
          before = 3600000000L, after = 0L)
        .groupBy($"user_id", $"p_id", $"p_us")
        .agg(count(lit(1)).as("n_views"),
          round(sum($"r_v_value"), 4).as("sum_value"))
        .orderBy($"user_id", $"p_us", $"p_id")
    }),

    // TPC-H Q4 shape: date-ranged EXISTS — a left-semi join against the
    // fact table (no subquery re-scan per row; one shuffle on orderkey,
    // and the semi join short-circuits on the first matching lineitem).
    "q4_priority_exists" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-04-01").cast("timestamp"))
      val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    }),

    // TPC-H Q8 shape: share-of-group — one nation's slice of regional
    // revenue per order year. All dims broadcast; the conditional sum
    // rides the same aggregate as the total, so the "share" costs no
    // second pass over the fact table.
    "q8_market_share" -> ((s, dir) => {
      import s.implicits._
      val r = t(s, dir, "region").filter($"r_name" === "ASIA")
      val cn = t(s, dir, "nation")
        .select($"n_nationkey".as("cn_key"), $"n_regionkey")
      val sn = t(s, dir, "nation")
        .select($"n_nationkey".as("sn_key"), $"n_name".as("s_nation"))
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(cn), c("c_nationkey") === col("cn_key"))
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(sn), sup("s_nationkey") === col("sn_key"))
        .groupBy(year($"o_orderdate").cast("long").as("o_year"))
        .agg(round(
          sum(when($"s_nation" === "NATION_3", rev).otherwise(lit(0.0))) /
            sum(rev), 6).as("mkt_share"))
        .orderBy($"o_year")
    }),

    // TPC-H Q20 shape: nested semi — suppliers having shipped "enough"
    // of a name-filtered part family. Inner aggregate over (part, supp),
    // then a semi join; the part filter is broadcast into the fact scan.
    "q20_supplier_semi" -> ((s, dir) => {
      import s.implicits._
      val p = t(s, dir, "part").filter($"p_name".contains("gizmo"))
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val qual = l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"l_quantity").as("total_qty"))
        .filter($"total_qty" > 100.0)
        .select($"l_suppkey")
      sup.join(qual, sup("s_suppkey") === qual("l_suppkey"), "left_semi")
        .select($"s_name", $"s_nationkey")
        .orderBy($"s_name")
    }),

    // S9 distinct projection (the ingest notebook's unique()).
    "u3_distinct" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"lang", $"source").distinct()
        .orderBy($"lang", $"source")
    }),

    // --- similarity search (SURVEY §7.5) ---------------------------------
    "k1_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      longs(graft.ops.SimilaritySearch.knnJoin(
        emb.where(col("vec_id") < 5), emb.where(col("vec_id") >= 5), k = 3), "rk")
        .orderBy(col("qid"), col("rk"))
    }),

    "n1_ann_bucketed" -> ((s, dir) =>
      graft.ops.SimilaritySearch.annTopKBucketed(
        t(s, dir, "embeddings"), queryVecId = 0L, k = 5, bits = 8)),

    // IVF ANN: centroids = vectors 0..9, 2-probe query for vec 42.
    "n2_ivf_ann" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val qv = emb.filter($"vec_id" === 42L)
        .select(asDouble($"embedding").as("qv"))
      val assigned = graft.ops.SimilaritySearch.ivfAssign(emb, cents)
      graft.ops.SimilaritySearch.ivfTopK(assigned, cents, qv,
        k = 10, nProbe = 2)
        .select($"vec_id", $"cid", $"score")
    }),

    // IVF with one Lloyd refinement round (spherical k-means) over the
    // same seed centroids — the assignment join is unchanged, only the
    // centroid table improves.
    "n3_ivf_kmeans" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents0 = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val cents = graft.ops.SimilaritySearch.kmeansCentroids(
        emb, cents0, iters = 1)
      val qv = emb.filter($"vec_id" === 42L)
        .select(asDouble($"embedding").as("qv"))
      val assigned = graft.ops.SimilaritySearch.ivfAssign(emb, cents)
      graft.ops.SimilaritySearch.ivfTopK(assigned, cents, qv,
        k = 10, nProbe = 2)
        .select($"vec_id", $"cid", $"score")
    }),

    // int8 scalar-quantized top-k: the 4×-compressed scan tier (codes
    // are exact integers, so the compressed ranking is engine-portable;
    // the packed codegen twin is asserted equal in OpsSpec)
    "n4_sq_topk" -> ((s, dir) =>
      graft.ops.VectorQuant.sqTopK(t(s, dir, "embeddings"),
        queryVecId = 2L, k = 10)),

    // 1-bit sign quantization (32× memory): Hamming prefilter + exact
    // f32 re-rank — the bottom tier of the quantization ladder
    "n5_bin_hamming" -> ((s, dir) =>
      longs(graft.ops.VectorQuant.binTopK(t(s, dir, "embeddings"),
        queryVecId = 7L, k = 10, rerank = 50), "hamming")),

    // Matryoshka funnel retrieval: shortlist on the first 16 of 64
    // dims (renormalized prefix cosine), exact full-d re-rank — the
    // 4-8× cheaper first tier of a funnel; deterministic end-to-end so
    // the DuckDB twin is exact
    "n6_matryoshka" -> ((s, dir) =>
      graft.ops.SimilaritySearch.matryoshkaTopK(t(s, dir, "embeddings"),
        queryVecId = 5L, dPrime = 16, shortlist = 50, k = 10)),

    // P9 semantic filter (Build Dad Jokes KB.ipynb cells 8-13): keep
    // documents whose similarity to a probe vector clears a threshold.
    "v2_semantic_filter" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0L)
        .select(asDouble($"embedding").as("qv"))
      emb.crossJoin(broadcast(qv))
        .select($"vec_id",
          round(dot(asDouble($"embedding"), $"qv"), 6).as("score"))
        .where($"score" >= 0.2)
        .orderBy(desc("score"), $"vec_id")
    }),

    // filtered vector search: top-k under a metadata predicate, with the
    // predicate on the SCAN side of the dot kernel (pre-filter — the
    // exact strategy; the IVF post-filter twin and its full-probe
    // equivalence are pinned by OpsSpec). The reference post-filters in
    // Python after scoring the whole matrix.
    "v3_filtered_retrieve" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0L)
        .select(asDouble($"embedding").as("qv"))
      graft.ops.SimilaritySearch.filteredTopK(
          emb, $"label".isin(2, 5), qv, k = 10, keep = Seq("label"))
        .withColumn("label", $"label".cast("long"))
        .orderBy(desc("score"), $"vec_id")
    }),

    // --- late-interaction retrieval (SimilaritySearch.maxSimTopK): the
    // embeddings table re-read as multi-vector docs (5 consecutive
    // vec_ids = one doc's token vectors), queried with doc 0's tokens.
    "v4_maxsim_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val tokens = emb.select(
        expr("vec_id div 5").as("doc_id"), $"embedding")
      val query = emb.filter($"vec_id" < 5L)
        .select($"vec_id".as("qidx"), asDouble($"embedding").as("qv"))
      graft.ops.SimilaritySearch.maxSimTopK(tokens, query, k = 10)
        .orderBy(desc("score"), $"doc_id")
    }),

    // IVF-pruned MaxSim (PLAID's candidate-generation shape): token
    // vectors clustered to 10 stored centroids, each query token
    // probes 3, candidates ranked by the centroid approximation of
    // MaxSim (narrow doc×cid table only), exact MaxSim on the top 30 —
    // the DuckDB twin replicates the REDUCED-probe path end to end
    // (the n2 oracle style), not just the full-probe degeneracy
    "v5_maxsim_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val tokens = emb.select(
        expr("vec_id div 5").as("doc_id"), $"embedding")
      val cents = emb.filter($"vec_id" < 10L)
        .select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val query = emb.filter($"vec_id" < 5L)
        .select($"vec_id".as("qidx"), asDouble($"embedding").as("qv"))
      graft.ops.SimilaritySearch.maxSimTopKIvf(tokens, cents, query,
          k = 10, nProbe = 3, nCandidates = 30)
        .orderBy(desc("score"), $"doc_id")
    }),

    // --- multimodal plumbing (SURVEY §7.5; decode stubbed) ---------------
    "m1_media_features" -> ((s, dir) =>
      longs(graft.ops.Multimodal.extractFeatures(
        graft.ops.Multimodal.asMedia(t(s, dir, "documents"))).toDF(),
        "n_bytes", "width", "height", "n_frames")
        .orderBy(col("media_id"))),

    "m2_frame_sample" -> ((s, dir) =>
      graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.extractFeatures(
          graft.ops.Multimodal.asMedia(t(s, dir, "documents"))).toDF(),
        stride = 4)
        .withColumn("frame_idx", col("frame_idx").cast("long"))
        .orderBy(col("media_id"), col("frame_idx"))),

    // REAL PCM audio decode: per-doc synthesized 16-bit WAV containers
    // round-tripped through the RIFF chunk walk + full sample fold
    // (peak / RMS loudness — the silence/clipping signals of audio
    // curation); the oracle states the waveform in closed form
    "m3_audio_stats" -> ((s, dir) =>
      graft.ops.Multimodal.audioStats(
        graft.ops.Multimodal.asWavMedia(t(s, dir, "documents"))).toDF()
        .orderBy(col("media_id"))),

    // REAL ISO-BMFF (MP4) container decode: per-doc synthesized box
    // trees (ftyp + moov[mvhd + avc1 video trak + (odd ids) mp4a audio
    // trak] + mdat) round-tripped through the box walk — duration,
    // track inventory, coded dimensions, codec fourccs: the catalog
    // pass a pretraining pipeline runs on video before any codec.
    // The oracle states every extracted field in closed form.
    "m4_video_features" -> ((s, dir) =>
      graft.ops.Multimodal.videoFeatures(
        graft.ops.Multimodal.asMp4Media(t(s, dir, "documents"))).toDF()
        .orderBy(col("media_id"))),

    // Walsh square-wave band energies over genuinely decoded PCM — the
    // integer-exact spectral proxy of audio curation (silence / tone /
    // noise discrimination without a floating-point FFT; Walsh bases
    // take only ±1, so no libm trig parity risk cross-engine). The
    // oracle restates the waveform AND the square-wave correlations in
    // closed form.
    "m5_audio_bands" -> ((s, dir) =>
      graft.ops.Multimodal.audioBandEnergies(
        graft.ops.Multimodal.asWavMedia(t(s, dir, "documents"))).toDF()
        .orderBy(col("media_id")))
  )

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- §2.1 scans -----------------------------------------------------
    // S4 full-table scan (kb.py:724-774): plain projection scan.
    "s4_scan" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "region").select($"r_regionkey", $"r_name")
        .orderBy($"r_regionkey")
    }),

    // S9 CSV ingest (the reference's only external ingest —
    // `Build Dad Jokes KB.ipynb` cell 5: read_csv → strip → unique),
    // driven end-to-end through a REAL file round-trip: a deterministic
    // messy CSV fixture is rendered from the documents table (embedded
    // comma+quote text every 7th row, in-quote padding every 3rd,
    // duplicated lines every 5th, plus malformed rows), written,
    // re-parsed via Csv.readWithQuarantine, then strip+distinct via
    // Csv.ingestDistinct. The oracle states the recovery contract
    // directly over `documents`: parse, quarantine, trim and dedup must
    // reproduce exactly the injected clean rows — any quoting bug,
    // swallowed malformed line, or missed duplicate breaks the hash.
    "s9_csv_ingest" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      // within one session reps overwrite sequentially
      val path = fixtureDir(s).resolve("s9_fixture").toString
      val docs = t(s, dir, "documents").select($"doc_id",
        when(pmod($"doc_id", lit(7)) === 0, concat($"text", lit(" x,\"y")))
          .otherwise($"text").as("txt"))
      val qtxt = regexp_replace($"txt", "\"", "\"\"")
      val line = concat($"doc_id".cast("string"), lit(",\""),
        when(pmod($"doc_id", lit(3)) === 0,
          concat(lit("  "), qtxt, lit(" "))).otherwise(qtxt),
        lit("\""))
      val clean = docs.select(line.as("value"))
      val dups = docs.where(pmod($"doc_id", lit(5)) === 0)
        .select(line.as("value"))
      val bad = s.range(10).select(
        concat(lit("BADROW-"), $"id", lit(",\"unterminated")).as("value"))
      clean.union(dups).union(bad).coalesce(1)
        .write.mode("overwrite").text(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val (good, _) = graft.ops.Csv.readWithQuarantine(
        s, path, schema, Seq("doc_id", "text"))
      graft.ops.Csv.ingestDistinct(good, "text").orderBy($"doc_id")
    }),

    // S10 JSONL ingest — the de-facto LLM training-data interchange
    // format (gzip-compressed line-delimited JSON shards), previously
    // only sbt-pinned (OpsSpec): synthesize a compressed shard with
    // clean objects, objects missing the required `text` key, and
    // syntactically malformed lines, then parse-and-quarantine
    // ([[graft.ops.Jsonl.readWithQuarantine]]) and summarize BOTH
    // sides — good rows per lang, quarantined rows per reason — so the
    // oracle pins the routing, not just the survivor count.
    "s10_jsonl_ingest" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = fixtureDir(s).resolve("s10_fixture").toString
      val docs = t(s, dir, "documents")
      val clean = docs.where(pmod($"doc_id", lit(11)) =!= 0)
        .select(to_json(struct($"doc_id", $"text", $"lang")).as("value"))
      val missing = docs.where(pmod($"doc_id", lit(11)) === 0)
        .select(to_json(struct($"doc_id", $"lang")).as("value"))
      val bad = s.range(10).select(
        concat(lit("{\"doc_id\": "), $"id",
          lit(", \"text\": \"unterminated")).as("value"))
      clean.union(missing).union(bad).coalesce(1)
        .write.mode("overwrite").option("compression", "gzip").text(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType)))
      val (good, quar) = graft.ops.Jsonl.readWithQuarantine(
        s, path, schema, Seq("doc_id", "text"))
      good.groupBy($"lang").agg(count(lit(1)).as("n"))
        .select(concat(lit("ok:"), $"lang").as("bucket"), $"n")
        .unionByName(quar.groupBy($"reason").agg(count(lit(1)).as("n"))
          .select(concat(lit("quarantined:"), $"reason").as("bucket"), $"n"))
        .orderBy($"bucket")
    }),

    // S5 embedding-matrix scan + A4 dim probe (kb.py:573-618): row count +
    // uniform-dimensionality assertion, expressed as one aggregate.
    "s5_emb_scan_dims" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .agg(
          count(lit(1)).as("n_vecs"),
          countDistinct(size($"embedding")).as("n_dims"),
          min(size($"embedding")).cast("long").as("dim"))
    }),

    // --- §2.2 projections / filters ------------------------------------
    // P1 point lookup by id (fetch_doc, kb.py:416-473).
    "p1_point_lookup" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .filter($"doc_id" === 42L)
        .select($"doc_id", $"lang", $"source", $"n_chars")
    }),

    // P2/P3 indexed filter (children-of / level): equality filter returning
    // id-ordered rows (tests pin id order — tests/test_kb.py:302-319).
    "p2_filter_eq" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_custkey" === 7L)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // P6 disjunctive predicate (incident-edge scan, kb.py:371-379).
    "p6_disjunctive" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter($"user_id" === 11L || $"event_type" === "signup")
        .select($"event_id", $"user_id", $"event_type")
        .orderBy($"event_id")
    }),

    // P8 pruned projection + range predicate: only 2 columns read, filter
    // pushed to parquet (include_embedding=False analog, kb.py:465-473).
    "p8_prune_project" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1999-01-01").cast("timestamp") &&
                $"l_discount" > 0.07)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // --- §2.4 aggregations ----------------------------------------------
    // A1-A3 counts (count_docs/count_edges/count_keys).
    "a1_counts" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"l_orderkey").as("n_orders"),
        round(sum($"l_quantity"), 4).as("sum_qty"),
        round(min($"l_extendedprice"), 4).as("min_price"),
        round(max($"l_extendedprice"), 4).as("max_price"))
    }),

    // A5 vector L2-norm magnitude check (embeddings/util.py:26-41,
    // tolerance kb.py:58): count of out-of-spec vectors must be 0.
    "a5_norm_check" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .select(l2Norm(asDouble($"embedding")).as("nrm"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(abs($"nrm" - 1.0) > 0.001, 1L).otherwise(0L)).as("n_bad"),
          round(min($"nrm"), 4).as("min_norm"),
          round(max($"nrm"), 4).as("max_norm"))
    }),

    // TPC-H Q1 shape: grouped aggregation with map-side partial agg.
    "a7_group_agg" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("2000-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 4).as("sum_qty"),
          round(sum($"l_extendedprice"), 4).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("sum_disc_price"),
          round(avg($"l_quantity"), 6).as("avg_qty"),
          round(avg($"l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // --- §2.3 joins ------------------------------------------------------
    // J1 docs ⋈ embeddings 1:1 equi-join (kb.py:441-456) — broadcast the
    // dimension-probe side; here documents⋈embeddings on id.
    "j1_doc_emb_join" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      docs.join(emb, docs("doc_id") === emb("vec_id"), "inner")
        .select($"doc_id", $"lang", $"label",
          round(l2Norm(asDouble($"embedding")), 4).as("nrm"))
        .filter($"label" === 3)
        .orderBy($"doc_id")
    }),

    // TPC-H Q3 shape: 3-way join + group + top-k by aggregate.
    "j2_join_agg_topk" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      val o = t(s, dir, "orders").filter($"o_orderstatus" === "O")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy($"o_orderkey")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy(desc("revenue"), $"o_orderkey")
        .limit(20)
    }),

    // --- §2.5 sorts / top-k ----------------------------------------------
    // T1 top-k selection (util.py:190-203): orderBy+limit →
    // TakeOrderedAndProject (per-partition bounded heap + merge), with the
    // reference's pinned tie order made explicit via secondary keys.
    "t1_topk" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy(desc("l_extendedprice"), desc("l_orderkey"), desc("l_linenumber"))
        .limit(100)
    }),

    // --- retrieval (§3.1 flagship) --------------------------------------
    // T3/J2: score every vector against a query vector (dot product on
    // unit-norm vectors = cosine, kb.py:55-58), top-k, then join back to
    // documents for the result rows (kb.py:1608-1640).
    "v1_retrieve_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val qv = emb.filter($"vec_id" === 0L)
        .select(asDouble($"embedding").as("qv"))
      val scored = emb
        .crossJoin(broadcast(qv))
        .select($"vec_id",
          round(dot(asDouble($"embedding"), $"qv"), 6).as("score"))
        .orderBy(desc("score"), $"vec_id")
        .limit(10)
      scored.join(docs, scored("vec_id") === docs("doc_id"))
        .select($"vec_id", $"score", $"lang", $"n_chars")
        .orderBy(desc("score"), $"vec_id")
    })
  )

  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- §2.3 J3 / §2.5 T2: pairwise similarity self-join + top-k pairs
    // (document_top_pairwise_scores, kb.py:1642-1671; upper triangle i<j,
    // util.py:206-233). Exact all-pairs here; the LSH scale path is the
    // d*_ dedup/ANN family.
    "j3_pairwise_topk" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.FloatVecDot.floatVecDot
      import graft.functions.FloatVecPack.floatVecPack
      val e = t(s, dir, "embeddings")
        .select($"vec_id".as("id"), floatVecPack($"embedding").as("v"))
      val a = e.as("a"); val b = e.as("b")
      a.join(b, $"a.id" < $"b.id")
        .select($"a.id".as("id1"), $"b.id".as("id2"),
          round(floatVecDot($"a.v", $"b.v"), 6).as("score"))
        .orderBy(desc("score"), $"id1", $"id2")
        .limit(25)
    }),

    // same result as j3 via the scale path: grid of dense vector blocks,
    // per-cell bounded heaps, global merge — exact, but never materializes
    // the n(n-1)/2 pair rows through join machinery (PairwiseTopK notes).
    "j3b_pairwise_blocked" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.FloatVecPack.floatVecPack
      val e = t(s, dir, "embeddings")
        .select($"vec_id".as("id"), floatVecPack($"embedding").as("vec"))
      graft.ops.PairwiseTopK.blockedTopKPairs(e, dim = 64, k = 25,
        numBlocks = 8, roundTo = 6)
    }),

    // --- §2.3 J4: existence semi-join (delete-guard shape, kb.py:360-370).
    "j4_semi_join" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter($"o_orderstatus" === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // anti-join (bulk-delete rewrite shape, SURVEY §2.8 M3).
    "j5_anti_join" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_acctbal")
        .orderBy($"c_custkey")
    }),

    // --- §2.6 set ops.
    "u1_intersect" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      c.filter($"c_mktsegment" === "BUILDING").select($"c_nationkey")
        .intersect(
          c.filter($"c_mktsegment" === "MACHINERY").select($"c_nationkey"))
        .orderBy($"c_nationkey")
    }),

    "u2_except" -> ((s, dir) => {
      import s.implicits._
      val n = t(s, dir, "nation")
      n.select($"n_regionkey")
        .except(
          t(s, dir, "customer").filter($"c_acctbal" < 0)
            .join(n, col("c_nationkey") === n("n_nationkey"))
            .select($"n_regionkey"))
        .orderBy($"n_regionkey")
    }),

    // --- §2.2 P7: existence aggregate (directedness probe, kb.py:685-695).
    "p7_exists_probe" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events").agg(
        (sum(when($"event_type" === "purchase", 1L).otherwise(0L)) > 0L)
          .as("any_purchase"),
        (sum(when($"event_type" === "refund", 1L).otherwise(0L)) > 0L)
          .as("any_refund"))
    }),

    // --- windowed analytics (scale extension; §2.5 order semantics).
    // Per-user event sequencing: row_number + inter-event gap via lag.
    "w1_window_lag" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .filter($"user_id" < 25L)
        .withColumn("rn", row_number().over(w))
        .withColumn("gap_us",
          coalesce(unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w), lit(0L)))
        .select($"event_id", $"user_id", $"rn".cast("long").as("rn"), $"gap_us")
        .orderBy($"user_id", $"rn")
    }),

    // Per-group top-k (scale extension): top-3 events by value per
    // user. Window rank with a total tie order; at small fixed k the
    // partitioned sort is the right plan (Catalyst pushes the rank
    // filter into the window's sort as a group limit).
    "w2_topk_per_group" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy(desc("value"), $"us", $"event_id")
      t(s, dir, "events")
        .filter($"user_id" < 25L)
        .withColumn("us", unix_micros($"ts"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"user_id", $"event_id", $"rn".cast("long").as("rn"),
          round($"value", 4).as("value"))
        .orderBy($"user_id", $"rn")
    }),

    // Exact interpolated percentiles per group (scale extension):
    // Spark's percentile == DuckDB's quantile_cont (both h=(n-1)p
    // linear interpolation), so the oracle can hash-match an exact
    // quantile — no sketch needed at these group sizes.
    "a8_percentiles" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy($"event_type")
    }),

    // --- §2.8 M6: KV upsert keep-last semantics as a batch operator
    // (INSERT ON CONFLICT DO UPDATE, kb.py:165-173): last event per user.
    "kv1_keep_last" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy(desc("ts"), desc("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", round($"value", 4).as("last_value"))
        .orderBy($"user_id")
    }),

    // --- grouping sets (scale extension beyond reference's flat aggs).
    "r1_rollup" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_quantity"), 4).as("sum_qty"),
             count(lit(1)).as("n"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"sum_qty", $"n")
        .orderBy($"rf", $"ls")
    }),

    // full CUBE over the same keys: every grouping-set combination.
    "r2_cube" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_quantity"), 4).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"sum_qty", $"n")
        .orderBy($"rf", $"ls")
    }),

    // --- time-bucketed aggregation (batch twin of the streaming windowed
    // agg, SURVEY §7.6): hourly per-type event rollup.
    "e1_time_bucket" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss")
          .as("hour"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"hour", $"event_type")
    }),

    // --- §2.9 G2: DFS pre-order traversal over a synthetic forest
    // (parent(i) = i/10): iterative level joins materialize id-paths,
    // pre-order = lexicographic path order (kb.py:1580-1593 semantics).
    "g2_dfs_preorder" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"doc_id".as("id"), floor($"doc_id" / 10).cast("long").as("parent_id"))
      val paths = graft.ops.Hierarchy.withPaths(
        docs, "id", "parent_id", col("id") === 0L)
      // preorder via distributed range-sort + zipWithIndex (no global Window)
      graft.ops.Hierarchy.withPreorder(paths)
        .select($"id".as("doc_id"), $"depth".cast("long").as("depth"),
          $"preorder", concat_ws("/", $"path").as("path_str"))
        .orderBy($"preorder")
    }),

    // G3+: distributed PageRank over a 3-layer graph derived from the
    // testdata (supplier → customer via lineitem⋈orders, customer →
    // nation; nations are the dangling layer). Fixed 3 power iterations
    // so the oracle can unroll them as plain CTEs.
    "g3_pagerank" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val e1 = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select($"l_suppkey".cast("long").as("src"),
          ($"o_custkey" + 100000L).cast("long").as("dst"))
      val e2 = c.select(($"c_custkey" + 100000L).cast("long").as("src"),
        ($"c_nationkey" + 200000L).cast("long").as("dst"))
      graft.ops.GraphOps.pageRank(e1.unionByName(e2), iters = 3)
        .select($"id", round($"rank", 6).as("rank"))
        .orderBy($"id")
    }),

    // per-node triangle counts (degree-ordered wedge closing) over the
    // parts-co-ordered-together graph; orders with ≤3 lines keep the
    // edge set sparse enough for the oracle's three-way join
    "g4_triangles" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
      val small = li.groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n")).where($"n" <= 3)
        .select($"l_orderkey")
      val lj = li.join(small, "l_orderkey")
      val e = lj.alias("a").join(lj.alias("b"), Seq("l_orderkey"))
        .where(col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").cast("long").as("src"),
          col("b.l_partkey").cast("long").as("dst"))
      graft.ops.GraphOps.triangleCounts(e).orderBy($"id")
    }),

    // connected components first-class (CC already powers d6's dedup
    // internally): parts co-ordered in exactly-2-line orders form 56
    // components at sf0.01 (one ~1600-node giant + 55 small), so the
    // fixture exercises both multi-round convergence and isolation.
    // FORCED through the large-star/small-star scale path (Kiveris et
    // al. SoCC'14, O(log n) rounds) — the path a 100 TB pair graph
    // takes — and pinned against the oracle's exact recursive closure.
    "g5_connected_components" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
      val duo = li.groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n")).where($"n" === 2)
        .select($"l_orderkey")
      val lj = li.join(duo, "l_orderkey")
      val e = lj.alias("a").join(lj.alias("b"), Seq("l_orderkey"))
        .where(col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").cast("long").as("doc1"),
          col("b.l_partkey").cast("long").as("doc2"))
        .distinct()
      val (cc, _) = graft.ops.Dedup.alternatingConnectedComponents(e)
      cc.orderBy($"doc_id")
    }),

    // running distinct-type count per user: the COUNT(DISTINCT) OVER
    // neither engine supports, in its standard rewrite (first-seen flag
    // + running sum — two user-keyed windows, no global state)
    "w3_running_distinct" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      val wRun = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("flag",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum($"flag").over(wRun))
        .select($"event_id", $"user_id", $"event_type", $"n_types_seen")
        .orderBy($"event_id")
    }),

    // ordered conversion funnel (view -> first later click -> first
    // later purchase): per-user first-times chained by strictly-later
    // filters; every stage is a filtered agg + an equi-join on the
    // (tiny) per-user table — the event-analytics staple
    "e8_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val v = ev.where($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("view_ts"))
      val c = ev.where($"event_type" === "click").join(v, "user_id")
        .where($"ts" > $"view_ts")
        .groupBy($"user_id").agg(min($"ts").as("click_ts"))
      val p = ev.where($"event_type" === "purchase").join(c, "user_id")
        .where($"ts" > $"click_ts")
        .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select($"user_id", $"view_ts", $"click_ts", $"purchase_ts",
          (lit(1L) + when($"click_ts".isNotNull, 1L).otherwise(0L)
            + when($"purchase_ts".isNotNull, 1L).otherwise(0L)).as("stage"))
        .orderBy($"user_id")
    }),

    // robust per-type outlier detection: median/MAD (the z-score that
    // outliers can't poison — e5's mean/stddev moves with the outlier
    // itself); both medians are EXACT percentiles, so the oracle's
    // quantile_cont reproduces them bit-for-bit (as in a8)
    "e7_mad_outliers" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val med = ev.groupBy($"event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val stats = ev.join(med, "event_type")
        .groupBy($"event_type")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
          max($"med").as("med"))
      ev.join(stats, "event_type")
        .where($"mad" > 0)
        .select($"event_id", $"event_type",
          round($"value", 4).as("value"),
          round(abs($"value" - $"med") / (lit(1.4826) * $"mad"), 4)
            .as("rscore"))
        .where($"rscore" > 3.0)
        .orderBy($"event_id")
    }),

    // TPC-H Q6 shape: tight range+band filter over the fact table, one
    // global aggregate — everything pushes to the parquet scan, the agg
    // is a single partial+final pass with no wide shuffle.
    "q6_forecast_revenue" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24.0)
        .agg(round(sum($"l_extendedprice" * $"l_discount"), 4).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q7 shape: bidirectional nation-pair volume by ship year.
    // Both nation filters apply BEFORE the fact joins (the broadcast
    // dims carry the predicate), so only qualifying rows shuffle.
    "q7_nation_volume" -> ((s, dir) => {
      import s.implicits._
      val n1 = t(s, dir, "nation")
        .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
        .filter($"cust_nation".isin("NATION_1", "NATION_2"))
      val n2 = t(s, dir, "nation")
        .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
        .filter($"supp_nation".isin("NATION_1", "NATION_2"))
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), c("c_nationkey") === col("cn_key"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n2), sup("s_nationkey") === col("sn_key"))
        .filter($"supp_nation" =!= $"cust_nation")
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("long").as("l_year"))
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    }),

    // TPC-H Q10 shape: returned-item revenue, top-20 customers. The
    // group-by keys ride the broadcast customer row, so the only wide
    // exchange is the final aggregation on c_custkey.
    "q10_returned_items" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val o = t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-07-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").filter($"l_returnflag" === "R")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("revenue"))
        .orderBy(desc("revenue"), $"c_custkey")
        .limit(20)
    }),

    // TPC-H Q13 shape: orders-per-customer histogram — outer join so
    // zero-order customers survive, then a second (tiny) aggregation
    // over the counts.
    "q13_order_histogram" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q14 shape: promo revenue share in one month — conditional
    // and total sums ride the same single aggregate pass.
    "q14_promo_share" -> ((s, dir) => {
      import s.implicits._
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .agg(round(
          sum(when($"p_type" === "PROMO", rev).otherwise(lit(0.0))) * 100.0 /
            sum(rev), 6).as("promo_share"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q15 shape: top supplier(s) by quarterly revenue — the max is
    // a one-row broadcast joined back, not a rescan of the fact table.
    "q15_top_supplier" -> ((s, dir) => {
      import s.implicits._
      val sup = t(s, dir, "supplier")
      val rev = t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("total_rev"))
      val mx = rev.agg(max($"total_rev").as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter($"total_rev" === $"max_rev")
        .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
        .select($"s_suppkey", $"s_name", $"total_rev")
        .orderBy($"s_suppkey")
    }),

    // TPC-H Q18 shape: large-volume orders — the HAVING filter runs on
    // the grouped fact table first, so only qualifying orderkeys (a tiny
    // set) reach the customer/orders joins.
    "q18_large_volume" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val big = l.groupBy($"l_orderkey")
        .agg(round(sum($"l_quantity"), 4).as("sum_qty"))
        .filter($"sum_qty" > 300.0)
      // the HAVING output is tiny — broadcast it so orders never shuffles
      broadcast(big).join(o, big("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select($"c_name", $"c_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
          round($"o_totalprice", 4).as("o_totalprice"), $"sum_qty")
        .orderBy(desc("o_totalprice"), $"o_orderkey")
    }),

    // TPC-H Q22 shape: above-average balances with no pending orders —
    // scalar-aggregate broadcast + anti join against the filtered fact.
    "q22_idle_balance" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val pending = t(s, dir, "orders").filter($"o_orderstatus" === "P")
        .select($"o_custkey")
      // rounded in BOTH engines before comparing: double summation order
      // differs per engine, and a boundary row must not flip on a ULP
      val avgBal = c.filter($"c_acctbal" > 0.0)
        .agg(round(avg($"c_acctbal"), 4).as("avg_bal"))
      c.crossJoin(broadcast(avgBal))
        .filter($"c_acctbal" > $"avg_bal")
        .join(pending, c("c_custkey") === pending("o_custkey"), "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          round(sum($"c_acctbal"), 4).as("totacctbal"))
        .orderBy($"c_nationkey")
    }),

    // TPC-H Q21 shape: suppliers who were the ONLY late shipper of a
    // finished multi-supplier order — the exists / not-exists chain
    // self-joining the fact table. `late` is derived once; exists is a
    // left-semi against all lines of the order, not-exists a left-anti
    // against the other late lines. All three joins shuffle on
    // l_orderkey only; supplier rides a broadcast. ("late" here =
    // shipped >730 days after the order date — this schema has no
    // commit/receipt dates.)
    "q21_waiting_supplier" -> ((s, dir) => {
      import s.implicits._
      val sup = t(s, dir, "supplier")
      val o = t(s, dir, "orders").filter($"o_orderstatus" === "F")
      val l = t(s, dir, "lineitem")
      val late = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter($"l_shipdate" > expr("o_orderdate + INTERVAL 730 DAYS"))
        .select($"l_orderkey".as("lo"), $"l_suppkey".as("ls"))
      val others = l.select($"l_orderkey".as("lo2"), $"l_suppkey".as("ls2"))
      late
        .join(others, $"lo" === $"lo2" && $"ls" =!= $"ls2", "left_semi")
        .join(late.select($"lo".as("lo3"), $"ls".as("ls3")),
          $"lo" === $"lo3" && $"ls" =!= $"ls3", "left_anti")
        .join(broadcast(sup), $"ls" === $"s_suppkey")
        .groupBy($"s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), $"s_name")
    }),

    // TPC-H Q12 shape: OR-band predicate on the fact scan (pushes to
    // parquet as one disjunctive filter) + conditional aggregation on
    // the joined order priority — both CASE sums ride one agg pass.
    "q12_priority_lines" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .filter(($"l_discount" >= 0.09 || $"l_tax" >= 0.07) &&
          $"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      val high = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter($"l_shipdate" >= $"o_orderdate")
        .groupBy($"l_linestatus")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy($"l_linestatus")
    }),

    // TPC-H Q19 shape: disjunctive multi-band predicate spanning both
    // join sides — each band constrains part (brand, size) AND lineitem
    // (quantity); the part-only conjuncts push below the broadcast join.
    "q19_disjunctive_bands" -> ((s, dir) => {
      import s.implicits._
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
      val bands =
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
          $"l_quantity".between(1.0, 11.0)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
          $"l_quantity".between(10.0, 20.0)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) &&
          $"l_quantity".between(20.0, 30.0))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(bands)
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("revenue"), count(lit(1)).as("n"))
    }),

    // TPC-H Q9 shape: multi-way join with a LIKE-filtered part side —
    // profit by supplier nation and order year. part/supplier/nation
    // broadcast (the LIKE filter shrinks part before the join); orders
    // is the only shuffled join, on l_orderkey.
    "q9_product_profit" -> ((s, dir) => {
      import s.implicits._
      val p = t(s, dir, "part").filter($"p_name".like("%gear%"))
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy($"n_name".as("supp_nation"),
          year($"o_orderdate").cast("long").as("o_year"))
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("profit"))
        .orderBy($"supp_nation", desc("o_year"))
    }),

    // TPC-H Q11 shape: per-key value vs a scalar share of the total —
    // the one-row total broadcasts back against the grouped values, so
    // the fact table aggregates exactly once. Both sides of the HAVING
    // comparison round to 4dp (per-engine summation order must not flip
    // a boundary part).
    "q11_part_value" -> ((s, dir) => {
      import s.implicits._
      val v = t(s, dir, "lineitem")
        .groupBy($"l_partkey")
        .agg(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("pval"))
      val tot = v.agg(sum($"pval").as("total"))
      v.crossJoin(broadcast(tot))
        .filter(round($"pval", 4) > round($"total" * 0.0007, 4))
        .select($"l_partkey", round($"pval", 4).as("value"))
        .orderBy(desc("value"), $"l_partkey")
    }),

    // TPC-H Q16 shape: distinct-count aggregation + NOT IN exclusion —
    // the excluded supplier set is an anti join (s_suppkey is non-null,
    // so NOT IN ≡ anti), the distinct count expands (brand, type, size,
    // suppkey) once before counting.
    "q16_supplier_cnt" -> ((s, dir) => {
      import s.implicits._
      val p = t(s, dir, "part")
        .filter($"p_brand" =!= "Brand#5" &&
          !$"p_type".isin("PROMO", "ECONOMY") &&
          $"p_size".isin(1, 4, 9, 14, 19, 23, 36, 45))
      val bad = t(s, dir, "supplier").filter($"s_acctbal" < 0.0)
        .select($"s_suppkey")
      t(s, dir, "lineitem")
        .join(broadcast(bad), col("l_suppkey") === bad("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === p("p_partkey"))
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), $"p_brand", $"p_type", $"p_size")
    }),

    // TPC-H Q2 shape: correlated min subquery — the cheapest supplier
    // per part within a region. Decorrelated the way Catalyst would:
    // per-(part, supplier) unit cost (rounded 4dp in both engines BEFORE
    // the min, so FP noise can't split a tie), region-filtered, min per
    // part joined back on equality. Dim joins broadcast; the only wide
    // shuffles are the two part-keyed aggs.
    "q2_min_cost_supplier" -> ((s, dir) => {
      import s.implicits._
      val cost = t(s, dir, "lineitem")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min(round($"l_extendedprice" / $"l_quantity", 4)).as("unit_cost"))
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter($"r_name" === "EUROPE")
      val rc = cost
        .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select($"l_partkey", $"unit_cost", $"s_acctbal", $"s_name", $"n_name")
      // partitioned window min, NOT a re-aggregate + self-join: the
      // latter computes the rc subtree (fact agg + 3 joins) twice
      val mnw = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_partkey")
      val p = t(s, dir, "part")
        .filter($"p_size".between(10, 15) && $"p_type" === "LARGE")
      rc.withColumn("min_cost", min($"unit_cost").over(mnw))
        .filter($"unit_cost" === $"min_cost")
        .join(broadcast(p), $"l_partkey" === p("p_partkey"))
        .select(round($"s_acctbal", 4).as("s_acctbal"), $"s_name", $"n_name",
          $"p_partkey", $"unit_cost")
        .orderBy(desc("s_acctbal"), $"n_name", $"s_name", $"p_partkey")
        .limit(100)
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    coreOracle ++ relationalOracle ++ pipelineOracle

  private def pipelineOracle: Map[String, String] = Map(
    "x1_token_stats" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' '))) AS n_uniq,
                len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_pieces,
                length(text) AS n_chars
         FROM documents ORDER BY doc_id""",

    "x7_unicode_tokens" ->
      """WITH aug AS (
           SELECT doc_id,
                  text || '!! ' || upper(substr(text, 1, 12)) || '.' AS txt
           FROM documents)
         SELECT doc_id,
                len(regexp_extract_all(lower(txt), '[\p{L}\p{N}]+'))
                  AS n_tokens,
                len(list_distinct(regexp_extract_all(lower(txt), '[\p{L}\p{N}]+')))
                  AS n_uniq
         FROM aug ORDER BY doc_id""",

    "d7_hash_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(doc_id || ':s0'), 1, 15))::BIGINT % 100 < 10
         ORDER BY doc_id""",

    "d8_mixture_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(doc_id || ':mix'), 1, 15))::BIGINT % 100 <
               (CASE WHEN lang = 'en' THEN 30
                     WHEN lang = 'de' THEN 10 ELSE 5 END)
         ORDER BY doc_id""",

    "d16_temperature_mixture" ->
      """WITH n AS (SELECT lang, count(*)::DOUBLE AS ns
                    FROM documents GROUP BY 1),
         mn AS (SELECT min(ns) AS nmin FROM n),
         p AS (SELECT lang,
                      least(100, floor(round(
                        100 * pow((SELECT nmin FROM mn) / ns, 0.5),
                        6)))::BIGINT AS pct
               FROM n)
         SELECT d.doc_id, d.lang FROM documents d JOIN p USING (lang)
         WHERE ('0x' || substr(md5(d.doc_id || ':tmix'), 1, 15))::BIGINT
               % 100 < p.pct
         ORDER BY d.doc_id""",

    "x2_quality_score" ->
      """WITH u AS (
           SELECT doc_id,
                  len(string_split(text, ' '))::DOUBLE AS nt,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE AS nu,
                  len(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a']))::DOUBLE AS ns
           FROM documents)
         SELECT doc_id,
                round(least(nt / 200.0, 1.0) * 0.5 + (nu / nt) * 0.3
                      + (ns / nu) * 0.2, 6) AS quality
         FROM u ORDER BY doc_id""",

    "x29_keep_rate" ->
      """WITH u AS (
           SELECT doc_id, lang,
                  len(string_split(text, ' '))::DOUBLE AS nt,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE AS nu,
                  len(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a']))::DOUBLE AS ns
           FROM documents),
         q AS (SELECT doc_id, lang,
                      round(least(nt / 200.0, 1.0) * 0.5 + (nu / nt) * 0.3
                            + (ns / nu) * 0.2, 6) AS quality
               FROM u),
         r AS (SELECT doc_id, lang, quality,
                      CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY quality DESC, doc_id) AS BIGINT) AS rk,
                      count(*) OVER (PARTITION BY lang) AS n_group
               FROM q)
         SELECT doc_id, lang, quality, rk, CAST(n_group AS BIGINT) AS n_group
         FROM r WHERE rk <= CAST(ceil(n_group * 0.4) AS BIGINT)
         ORDER BY doc_id""",

    "x30_budget_select" ->
      """WITH u AS (
           SELECT doc_id, lang, n_chars,
                  len(string_split(text, ' '))::DOUBLE AS nt,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE AS nu,
                  len(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a']))::DOUBLE AS ns
           FROM documents),
         q AS (SELECT doc_id, lang, n_chars,
                      round(least(nt / 200.0, 1.0) * 0.5 + (nu / nt) * 0.3
                            + (ns / nu) * 0.2, 6) AS quality
               FROM u),
         r AS (SELECT doc_id, lang, quality,
                      CAST(sum(n_chars) OVER (PARTITION BY lang
                        ORDER BY quality DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_cost
               FROM q)
         SELECT doc_id, lang, quality, cum_cost
         FROM r WHERE cum_cost <= 20000
         ORDER BY doc_id""",

    "x31_ppl_buckets" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         v AS (SELECT count(DISTINCT t)::DOUBLE AS vs
               FROM (SELECT unnest(a) AS t FROM toks)),
         bg AS (
           SELECT t.doc_id, t.a[r.i] AS w1, t.a[r.i + 1] AS w2
           FROM toks t, LATERAL (SELECT unnest(range(1, len(t.a))) AS i) r),
         cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY w1, w2),
         cu AS (SELECT w1, count(*) AS nu FROM bg GROUP BY w1),
         lp AS (
           SELECT bg.doc_id, ln((cb.nb + 1.0) / (cu.nu + 1.0 * v.vs)) AS logp
           FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v),
         agg AS (SELECT doc_id, count(*) AS n_bigrams,
                        round(exp(-avg(logp)), 4) AS ppl
                 FROM lp GROUP BY doc_id),
         p AS (SELECT d.doc_id, d.lang,
                      coalesce(agg.n_bigrams, 0) AS n_bigrams,
                      coalesce(agg.ppl, 0.0) AS ppl
               FROM documents d LEFT JOIN agg USING (doc_id)),
         r AS (SELECT *, percent_rank() OVER (PARTITION BY lang
                 ORDER BY ppl, doc_id) AS pr FROM p)
         SELECT doc_id, lang, n_bigrams, ppl,
                CASE WHEN pr * 3 < 1 THEN 'head'
                     WHEN pr * 3 < 2 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM r ORDER BY doc_id""",

    "x32_unimax" ->
      """WITH g AS (SELECT lang,
                  SUM(len(string_split(text, ' ')))::BIGINT AS tokens
               FROM documents GROUP BY lang),
         s AS (SELECT lang, tokens, tokens * 2.0 AS cap,
                      sum(tokens * 2.0) OVER (ORDER BY tokens * 2.0, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
                      row_number() OVER (ORDER BY tokens * 2.0, lang) AS rn,
                      count(*) OVER () AS n
               FROM g),
         b AS (SELECT 0.5 * sum(tokens::DOUBLE) AS bud FROM g),
         lam AS (
           SELECT CASE WHEN (SELECT sum(cap) FROM s) <= (SELECT bud FROM b)
                       THEN 1e308
                  ELSE (SELECT ((SELECT bud FROM b) - (ps - cap)) / (n - rn + 1)
                        FROM s
                        WHERE ((SELECT bud FROM b) - (ps - cap)) / (n - rn + 1)
                              <= cap
                        ORDER BY rn LIMIT 1) END AS lam)
         SELECT g.lang, g.tokens,
                round(least(g.tokens * 2.0, lam.lam), 4) AS alloc,
                round(least(g.tokens * 2.0, lam.lam) / g.tokens, 4) AS epochs
         FROM g CROSS JOIN lam ORDER BY lang""",

    "x33_kn_ppl" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         bg AS (
           SELECT t.doc_id, t.a[r.i] AS w1, t.a[r.i + 1] AS w2
           FROM toks t, LATERAL (SELECT unnest(range(1, len(t.a))) AS i) r),
         cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY w1, w2),
         cu AS (SELECT w1, sum(nb) AS nu, count(*) AS fan FROM cb GROUP BY w1),
         cont AS (SELECT w2, count(*) AS hist FROM cb GROUP BY w2),
         ty AS (SELECT count(*)::DOUBLE AS nbt FROM cb),
         lp AS (
           SELECT bg.doc_id,
                  ln(greatest(cb.nb - 0.75, 0.0) / cu.nu
                     + 0.75 * cu.fan / cu.nu * (cont.hist / ty.nbt)) AS logp
           FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1)
                   JOIN cont USING (w2) CROSS JOIN ty),
         agg AS (SELECT doc_id, count(*) AS n_bigrams,
                        round(exp(-avg(logp)), 4) AS kn_ppl
                 FROM lp GROUP BY doc_id)
         SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
                coalesce(agg.kn_ppl, 0.0) AS kn_ppl
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id""",

    // same synthesis, same RE2-compatible strip chain; DuckDB's
    // regexp_replace needs the explicit 'g' flag (Spark's is global)
    "x34_html_extract" ->
      """WITH h AS (
           SELECT doc_id,
                  '<html><head><title>Doc ' || doc_id || '</title>'
                  || '<script type="text/javascript">var n=' || doc_id
                  || '; track(n);</script>'
                  || '<style>.nav { display: none; }</style></head>'
                  || '<body><!-- autogen --><h1>Doc &lt;' || doc_id
                  || '&gt; &amp; friends</h1>  <p>' || text
                  || '</p> <div class="nav">home&nbsp;|&nbsp;next</div>'
                  || '</body></html>' AS html
           FROM documents),
         s AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(html,
                      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                      '(?s)<!--.*?-->', ' ', 'g'),
                      '(?s)<[^>]+>', ' ', 'g') AS t
           FROM h)
         SELECT doc_id,
                trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(t,
                    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                    '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                  '[ \t\n\x0B\f\r]+', ' ', 'g')) AS extracted
         FROM s ORDER BY doc_id""",

    "x3_lang_id" ->
      """WITH u AS (
           SELECT doc_id, lang,
                  list_distinct(string_split(text, ' ')) AS uq
           FROM documents),
         sc AS (
           SELECT doc_id, lang,
                  len(list_intersect(uq, ['the', 'a'])) AS s_en,
                  len(list_intersect(uq, ['der', 'die', 'und'])) AS s_de,
                  len(list_intersect(uq, ['le', 'la', 'et'])) AS s_fr
           FROM u)
         SELECT doc_id, lang,
                CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                     WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
                     WHEN s_fr > 0 THEN 'fr'
                     ELSE 'und' END AS lang_pred
         FROM sc ORDER BY doc_id""",

    "x4_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
                ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT AS fp60
         FROM documents ORDER BY doc_id""",

    "x25_hll_registers" ->
      """WITH h AS (
           SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events),
         r AS (SELECT h % 512 AS bucket, h // 512 AS w FROM h),
         x AS (SELECT bucket,
                      CASE WHEN w = 0 THEN 52
                           ELSE 52 - len(bin(w)) END AS rho
               FROM r)
         SELECT bucket, max(rho)::BIGINT AS rho
         FROM x GROUP BY bucket ORDER BY bucket""",

    "x26_cms_registers" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
                     FROM documents),
         tkf AS (SELECT tok FROM tk WHERE tok <> ''),
         j AS (SELECT unnest(range(4)) AS jr),
         cells AS (SELECT j.jr AS jr,
                     ('0x' || substr(md5(tok || ':cms' ||
                        CAST(j.jr AS VARCHAR)), 1, 15))::BIGINT % 256
                       AS cell
                   FROM tkf, j)
         SELECT jr AS "row", cell, count(*)::BIGINT AS cnt
         FROM cells GROUP BY jr, cell ORDER BY jr, cell""",

    "x27_source_overlap" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
         hs AS (SELECT DISTINCT source::VARCHAR AS g,
                  ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM tk WHERE tok <> ''),
         sig AS (SELECT g, h FROM (
                   SELECT g, h, row_number() OVER
                     (PARTITION BY g ORDER BY h) AS rk FROM hs)
                 WHERE rk <= 16),
         gs AS (SELECT DISTINCT g FROM sig),
         pairs AS (SELECT a.g AS ga, b.g AS gb
                   FROM gs a JOIN gs b ON a.g < b.g),
         un AS (SELECT DISTINCT p.ga, p.gb, s.h
                FROM pairs p JOIN sig s ON s.g = p.ga OR s.g = p.gb),
         bk AS (SELECT ga, gb, h FROM (
                  SELECT ga, gb, h, row_number() OVER
                    (PARTITION BY ga, gb ORDER BY h) AS rk FROM un)
                WHERE rk <= 16),
         cnt AS (SELECT bk.ga, bk.gb,
                   sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                            THEN 1 ELSE 0 END) AS n_shared
                 FROM bk
                 LEFT JOIN sig sa ON sa.g = bk.ga AND sa.h = bk.h
                 LEFT JOIN sig sb ON sb.g = bk.gb AND sb.h = bk.h
                 GROUP BY bk.ga, bk.gb)
         SELECT ga AS group_a, gb AS group_b,
                CAST(n_shared AS BIGINT) AS n_shared,
                round(n_shared / 16.0, 6) AS est_jaccard
         FROM cnt ORDER BY group_a, group_b""",

    "x28_grouped_hll" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
         h AS (SELECT source,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
               FROM tk WHERE tok <> ''),
         r AS (SELECT source, h % 512 AS bucket, h // 512 AS w FROM h),
         x AS (SELECT source, bucket,
                      CASE WHEN w = 0 THEN 52
                           ELSE 52 - len(bin(w)) END AS rho
               FROM r)
         SELECT source, bucket, max(rho)::BIGINT AS rho
         FROM x GROUP BY source, bucket ORDER BY source, bucket""",

    "d1_exact_dedup" ->
      """WITH fp AS (
           SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
           FROM documents),
         g AS (SELECT fp_md5, count(*) AS n FROM fp GROUP BY fp_md5)
         SELECT count(*) AS n_unique,
                sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS n_in_dup_groups,
                sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups
         FROM g""",

    "d17_keep_best" ->
      """WITH aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, upper(text) || '  ' FROM documents),
         f AS (
           SELECT doc_id, text,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                    AS fp_md5
           FROM aug),
         u AS (
           SELECT doc_id, fp_md5,
                  len(string_split(text, ' '))::DOUBLE AS nt,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE AS nu,
                  len(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a']))::DOUBLE AS ns
           FROM f),
         q AS (
           SELECT doc_id, fp_md5,
                  round(least(nt / 200.0, 1.0) * 0.5 + (nu / nt) * 0.3
                        + (ns / nu) * 0.2, 6) AS quality
           FROM u),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY fp_md5 ORDER BY quality DESC, doc_id) AS rk
               FROM q)
         SELECT doc_id, fp_md5, quality FROM r WHERE rk = 1
         ORDER BY doc_id""",

    "d2_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(s) >= 3 THEN
                    list_transform(range(1, len(s) - 1),
                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                  ELSE [] END) AS sg
           FROM toks),
         ex AS (SELECT doc_id, unnest(sg) AS shingle FROM sh),
         hx AS (
           SELECT doc_id, grp * 4 + slice AS hi,
                  min(substr(md5(grp || ':' || shingle), 1 + slice * 8, 8)) AS sig
           FROM ex
           CROSS JOIN (SELECT unnest(range(0, 2)) AS grp)
           CROSS JOIN (SELECT unnest(range(0, 4)) AS slice)
           GROUP BY doc_id, grp * 4 + slice),
         bands AS (
           SELECT doc_id, hi // 2 AS band,
                  md5(string_agg(sig, '|' ORDER BY hi)) AS key
           FROM hx GROUP BY doc_id, hi // 2),
         cands AS (
           SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         j AS (
           SELECT doc1, doc2,
                  round(len(list_intersect(s1.sg, s2.sg))::DOUBLE /
                        len(list_distinct(list_concat(s1.sg, s2.sg))), 6) AS jaccard
           FROM cands
           JOIN sh s1 ON cands.doc1 = s1.doc_id
           JOIN sh s2 ON cands.doc2 = s2.doc_id)
         SELECT doc1, doc2, jaccard FROM j
         WHERE jaccard >= 0.8
         ORDER BY doc1, doc2""",

    // d2's pairs joined with d12's split hash, kept when the sides land
    // in different splits
    "d20_split_leakage" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(s) >= 3 THEN
                    list_transform(range(1, len(s) - 1),
                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                  ELSE [] END) AS sg
           FROM toks),
         ex AS (SELECT doc_id, unnest(sg) AS shingle FROM sh),
         hx AS (
           SELECT doc_id, grp * 4 + slice AS hi,
                  min(substr(md5(grp || ':' || shingle), 1 + slice * 8, 8)) AS sig
           FROM ex
           CROSS JOIN (SELECT unnest(range(0, 2)) AS grp)
           CROSS JOIN (SELECT unnest(range(0, 4)) AS slice)
           GROUP BY doc_id, grp * 4 + slice),
         bands AS (
           SELECT doc_id, hi // 2 AS band,
                  md5(string_agg(sig, '|' ORDER BY hi)) AS key
           FROM hx GROUP BY doc_id, hi // 2),
         cands AS (
           SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         j AS (
           SELECT doc1, doc2,
                  round(len(list_intersect(s1.sg, s2.sg))::DOUBLE /
                        len(list_distinct(list_concat(s1.sg, s2.sg))), 6) AS jaccard
           FROM cands
           JOIN sh s1 ON cands.doc1 = s1.doc_id
           JOIN sh s2 ON cands.doc2 = s2.doc_id),
         sp AS (
           SELECT doc_id,
                  CASE WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 15))::BIGINT
                         % 100 < 80 THEN 'train'
                       WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 15))::BIGINT
                         % 100 < 90 THEN 'val'
                       ELSE 'test' END AS split
           FROM documents)
         SELECT j.doc1, j.doc2, j.jaccard,
                s1.split AS split1, s2.split AS split2
         FROM j
         JOIN sp s1 ON j.doc1 = s1.doc_id
         JOIN sp s2 ON j.doc2 = s2.doc_id
         WHERE j.jaccard >= 0.8 AND s1.split <> s2.split
         ORDER BY j.doc1, j.doc2""",

    // d2's pipeline restricted to pairs touching the mod-5 batch: the
    // oracle recomputes ALL pairs and filters — the engine must reach
    // the same set from batch-bands × all-bands only
    "d18_incremental_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(s) >= 3 THEN
                    list_transform(range(1, len(s) - 1),
                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                  ELSE [] END) AS sg
           FROM toks),
         ex AS (SELECT doc_id, unnest(sg) AS shingle FROM sh),
         hx AS (
           SELECT doc_id, grp * 4 + slice AS hi,
                  min(substr(md5(grp || ':' || shingle), 1 + slice * 8, 8)) AS sig
           FROM ex
           CROSS JOIN (SELECT unnest(range(0, 2)) AS grp)
           CROSS JOIN (SELECT unnest(range(0, 4)) AS slice)
           GROUP BY doc_id, grp * 4 + slice),
         bands AS (
           SELECT doc_id, hi // 2 AS band,
                  md5(string_agg(sig, '|' ORDER BY hi)) AS key
           FROM hx GROUP BY doc_id, hi // 2),
         cands AS (
           SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         j AS (
           SELECT doc1, doc2,
                  round(len(list_intersect(s1.sg, s2.sg))::DOUBLE /
                        len(list_distinct(list_concat(s1.sg, s2.sg))), 6) AS jaccard
           FROM cands
           JOIN sh s1 ON cands.doc1 = s1.doc_id
           JOIN sh s2 ON cands.doc2 = s2.doc_id)
         SELECT doc1, doc2, jaccard FROM j
         WHERE jaccard >= 0.8 AND (doc1 % 5 = 4 OR doc2 % 5 = 4)
         ORDER BY doc1, doc2""",

    "d3_simhash" ->
      """WITH ex AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM ex),
         bits AS (
           SELECT doc_id, b,
                  sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
           GROUP BY doc_id, b)
         SELECT doc_id,
                sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
         FROM bits GROUP BY doc_id ORDER BY doc_id""",

    "d3b_simhash_banded" ->
      """WITH ex AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM ex),
         bits AS (
           SELECT doc_id, b,
                  sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
           GROUP BY doc_id, b),
         sims AS (
           SELECT doc_id,
                  sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY doc1, doc2""",

    "x5_dup_ngram_fraction" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(s) >= 3 THEN
                    list_transform(range(1, len(s) - 1),
                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                  ELSE [] END) AS sg
           FROM toks),
         posts AS (SELECT doc_id, unnest(sg) AS sh FROM sh),
         df AS (SELECT sh, count(DISTINCT doc_id) AS ndocs
                FROM posts GROUP BY sh)
         SELECT p.doc_id, count(*) AS n_shingles,
                sum(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
                round(avg(CASE WHEN d.ndocs > 1 THEN 1.0 ELSE 0.0 END), 6)
                  AS dup_frac
         FROM posts p JOIN df d USING (sh)
         GROUP BY p.doc_id
         ORDER BY p.doc_id""",

    "x6_quality_filter" ->
      """WITH u AS (
           SELECT doc_id,
                  len(string_split(text, ' '))::DOUBLE AS nt,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE AS nu,
                  len(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a']))::DOUBLE AS ns
           FROM documents),
         q AS (
           SELECT doc_id,
                  round(least(nt / 200.0, 1.0) * 0.5 + (nu / nt) * 0.3
                        + (ns / nu) * 0.2, 6) AS quality
           FROM u)
         SELECT doc_id, quality FROM q
         WHERE quality > (SELECT quantile_cont(quality, 0.5) FROM q)
         ORDER BY doc_id""",

    "x9_gopher_rules" ->
      """WITH aug AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN text || ' ### ... ###'
                       WHEN doc_id % 11 = 0 THEN text || ' 123 456 789'
                       ELSE text END AS txt
           FROM documents),
         u AS (
           SELECT doc_id, string_split(txt, ' ') AS toks,
                  (length(txt) - length(replace(txt, '#', '')))::DOUBLE AS hashes,
                  ((length(txt) - length(replace(txt, '...', ''))) // 3)::DOUBLE AS ellipses
           FROM aug),
         m AS (
           SELECT doc_id,
                  len(toks)::DOUBLE AS nw,
                  list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                    / len(toks) AS mean_len,
                  (hashes + ellipses) / len(toks) AS sym_ratio,
                  len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
                    / len(toks) AS alpha_frac,
                  len(list_intersect(list_distinct(toks), ['the', 'a']))::BIGINT
                    AS stop_hits
           FROM u)
         SELECT doc_id, nw::BIGINT AS n_words,
                round(mean_len, 6) AS mean_word_len,
                round(sym_ratio, 6) AS symbol_ratio,
                round(alpha_frac, 6) AS alpha_frac,
                stop_hits,
                (nw >= 18 AND nw <= 100000
                 AND mean_len >= 3.0 AND mean_len <= 10.0
                 AND sym_ratio < 0.1
                 AND alpha_frac >= 0.8
                 AND stop_hits >= 1)::BIGINT AS keep
         FROM m ORDER BY doc_id""",

    "b1_bm25_topk" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n FROM dl),
         tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY doc_id, term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
         SELECT tf.doc_id,
                round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                          * (tf * (1.2 + 1.0))
                          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
                  AS score
         FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         GROUP BY tf.doc_id
         ORDER BY score DESC, doc_id
         LIMIT 20""",

    "b1u_bm25_unicode" ->
      """WITH aug AS (
           SELECT doc_id,
                  text || '!! ' || upper(substr(text, 1, 12)) || '.' AS txt
           FROM documents),
         toks AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(lower(txt), '[\p{L}\p{N}]+')) AS term
           FROM aug),
         dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n FROM dl),
         tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY doc_id, term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
         SELECT tf.doc_id,
                round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                          * (tf * (1.2 + 1.0))
                          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
                  AS score
         FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         GROUP BY tf.doc_id
         ORDER BY score DESC, doc_id
         LIMIT 20""",

    "b4_rm3_expansion" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         posting AS (
           SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
           GROUP BY doc_id, term),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM posting GROUP BY doc_id),
         stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n FROM dl),
         qtf AS (SELECT * FROM posting
                 WHERE term IN ('spark', 'join', 'window')),
         qdf AS (SELECT term, count(*)::DOUBLE AS df FROM qtf GROUP BY term),
         fb AS (
           SELECT doc_id, score FROM (
             SELECT qtf.doc_id,
                    round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                              * (tf * (1.2 + 1.0))
                              / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
                      AS score
             FROM qtf JOIN qdf USING (term) JOIN dl USING (doc_id)
                  CROSS JOIN stats
             GROUP BY qtf.doc_id
             ORDER BY score DESC, doc_id LIMIT 10)
           WHERE score > 0),
         z AS (SELECT sum(score) AS z FROM fb),
         wd AS (SELECT doc_id, score / z.z AS wd FROM fb CROSS JOIN z),
         rmtop AS (
           SELECT term, rm FROM (
             SELECT p.term, round(sum(w.wd * p.tf / d.dl), 6) AS rm
             FROM posting p JOIN wd w USING (doc_id) JOIN dl d USING (doc_id)
             GROUP BY p.term)
           ORDER BY rm DESC, term LIMIT 10),
         orig AS (
           SELECT unnest(['spark', 'join', 'window']) AS term,
                  1.0 / 3.0 AS p_orig),
         wts AS (
           SELECT coalesce(o.term, r.term) AS term,
                  round(coalesce(o.p_orig, 0) * 0.5
                        + coalesce(r.rm, 0) * 0.5, 6) AS w
           FROM orig o FULL OUTER JOIN rmtop r ON o.term = r.term),
         ftf AS (
           SELECT p.doc_id, p.term, p.tf, w.w
           FROM posting p
           JOIN (SELECT * FROM wts WHERE w > 0) w USING (term)),
         fdf AS (SELECT term, count(*)::DOUBLE AS df FROM ftf GROUP BY term)
         SELECT ftf.doc_id,
                round(sum(w * ln(1 + (n - df + 0.5) / (df + 0.5))
                          * (tf * (1.2 + 1.0))
                          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
                  AS score
         FROM ftf JOIN fdf USING (term) JOIN dl USING (doc_id)
              CROSS JOIN stats
         GROUP BY ftf.doc_id
         ORDER BY score DESC, doc_id
         LIMIT 20""",

    "x10_vocab_topk" ->
      """SELECT term, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         GROUP BY term
         ORDER BY n DESC, term
         LIMIT 50""",

    "b2_tfidf_keywords" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
                GROUP BY doc_id, term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
         n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         sc AS (
           SELECT doc_id, term, round(tf * ln(n / df), 6) AS tfidf,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY round(tf * ln(n / df), 6) DESC, term) AS rk
           FROM tf JOIN df USING (term) CROSS JOIN n)
         SELECT doc_id, term, tfidf, rk
         FROM sc WHERE rk <= 3
         ORDER BY doc_id, rk""",

    "x11_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(CASE WHEN len(s) >= 2 THEN
                    list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])
                  ELSE [] END) AS g
           FROM toks),
         c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
         SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
                round(max(c)::DOUBLE / sum(c), 6) AS top_frac
         FROM c GROUP BY doc_id ORDER BY doc_id""",

    "c2_chunk_overlap" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         g AS (SELECT doc_id, s,
                 unnest(range(0, greatest(len(s), 1), 16)) AS st
               FROM tk)
         SELECT doc_id, st // 16 AS chunk_id, st AS chunk_start,
                array_to_string(s[st+1 : st+32], ' ') AS chunk_text,
                len(s[st+1 : st+32])::BIGINT AS n_chunk_tokens
         FROM g ORDER BY doc_id, chunk_id""",

    "x20_oov_stats" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         v AS (SELECT term FROM (SELECT term, count(*) AS n FROM toks
                                 GROUP BY term ORDER BY n DESC, term LIMIT 25)),
         agg AS (SELECT toks.doc_id, count(*)::BIGINT AS n_tokens,
                        sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT
                          AS n_oov
                 FROM toks LEFT JOIN v USING (term) GROUP BY toks.doc_id)
         SELECT doc_id, n_tokens, n_oov,
                round(n_oov::DOUBLE / n_tokens, 6) AS oov_rate
         FROM agg ORDER BY doc_id""",

    "x21_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS s
                     FROM documents),
         bg AS (SELECT doc_id, lang,
                  unnest(CASE WHEN len(s) >= 2 THEN
                    list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])
                  ELSE [] END) AS g
                FROM tk),
         b AS (SELECT doc_id, lang,
                 ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS bk FROM bg),
         rc AS (SELECT bk, count(*)::DOUBLE AS rc FROM b GROUP BY bk),
         tc AS (SELECT bk, count(*)::DOUBLE AS tc FROM b WHERE lang = 'en'
                GROUP BY bk),
         tot AS (SELECT (SELECT sum(rc) FROM rc) AS rt,
                        (SELECT coalesce(sum(tc), 0) FROM tc) AS tt),
         lr AS (SELECT rc.bk,
                  ln((coalesce(tc.tc, 0) + 1.0) / (tot.tt + 64)) -
                  ln((rc.rc + 1.0) / (tot.rt + 64)) AS lw
                FROM rc LEFT JOIN tc USING (bk) CROSS JOIN tot),
         sc AS (SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
                       round(sum(lr.lw), 6) AS lwsum
                FROM b JOIN lr USING (bk) GROUP BY b.doc_id)
         SELECT d.doc_id, coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
                coalesce(sc.lwsum, 0.0) AS log_weight
         FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""",

    "x12_curation" ->
      """WITH u AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
                  (length(text) - length(replace(text, '#', '')))::DOUBLE AS hashes,
                  ((length(text) - length(replace(text, '...', ''))) // 3)::DOUBLE AS ellipses
           FROM documents),
         m AS (
           SELECT doc_id, len(toks)::DOUBLE AS nw,
                  list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                    / len(toks) AS mean_len,
                  (hashes + ellipses) / len(toks) AS sym_ratio,
                  len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
                    / len(toks) AS alpha_frac,
                  len(list_intersect(list_distinct(toks), ['the', 'a']))::BIGINT
                    AS stop_hits
           FROM u),
         rules AS (
           SELECT doc_id FROM m
           WHERE nw >= 18 AND nw <= 100000
             AND mean_len >= 3.0 AND mean_len <= 10.0
             AND sym_ratio < 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 1),
         fp AS (
           SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
           FROM documents),
         rep AS (
           SELECT doc_id FROM (
             SELECT doc_id,
                    row_number() OVER (PARTITION BY fp_md5 ORDER BY doc_id) AS rk
             FROM fp) WHERE rk = 1),
         uq AS (
           SELECT doc_id,
                  len(string_split(text, ' '))::DOUBLE AS nt,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE AS nu,
                  len(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a']))::DOUBLE AS ns
           FROM documents),
         q AS (
           SELECT doc_id,
                  round(least(nt / 200.0, 1.0) * 0.5 + (nu / nt) * 0.3
                        + (ns / nu) * 0.2, 6) AS quality
           FROM uq),
         good AS (
           SELECT doc_id, quality FROM q
           WHERE quality > (SELECT quantile_cont(quality, 0.5) FROM q))
         SELECT good.doc_id, good.quality
         FROM good JOIN rules USING (doc_id) JOIN rep USING (doc_id)
         ORDER BY doc_id""",

    "x13_pii_redact" ->
      """WITH aug AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  ELSE text || ' contact u' || doc_id || '@mail.example.com or 555-'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' from 10.0.' || (doc_id % 256) || '.7 end'
             END AS txt
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(txt,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS red,
           len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
           len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
           len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b'))
             + len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_pii
         FROM aug ORDER BY doc_id""",

    "x16_source_stats" ->
      """WITH aug AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, source, text FROM documents
           WHERE doc_id % 10 = 0),
         u AS (
           SELECT doc_id,
                  len(string_split(text, ' '))::DOUBLE AS nt,
                  len(list_distinct(string_split(text, ' ')))::DOUBLE AS nu,
                  len(list_intersect(list_distinct(string_split(text, ' ')),
                      ['the', 'a']))::DOUBLE AS ns
           FROM aug),
         q AS (
           SELECT doc_id,
                  round(least(nt / 200.0, 1.0) * 0.5 + (nu / nt) * 0.3
                        + (ns / nu) * 0.2, 6) AS quality
           FROM u),
         fp AS (
           SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
           FROM aug)
         SELECT d.source, count(*) AS n_docs,
                round(avg(q.quality), 6) AS mean_quality,
                count(*) - count(DISTINCT fp.fp_md5) AS n_dup_docs
         FROM aug d JOIN q USING (doc_id) JOIN fp USING (doc_id)
         GROUP BY d.source ORDER BY d.source""",

    "x14_ngram_ppl" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         v AS (SELECT count(DISTINCT t)::DOUBLE AS vs
               FROM (SELECT unnest(a) AS t FROM toks)),
         bg AS (
           SELECT t.doc_id, t.a[r.i] AS w1, t.a[r.i + 1] AS w2
           FROM toks t, LATERAL (SELECT unnest(range(1, len(t.a))) AS i) r),
         cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY w1, w2),
         cu AS (SELECT w1, count(*) AS nu FROM bg GROUP BY w1),
         lp AS (
           SELECT bg.doc_id, ln((cb.nb + 1.0) / (cu.nu + 1.0 * v.vs)) AS logp
           FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v),
         agg AS (SELECT doc_id, count(*) AS n_bigrams,
                        round(exp(-avg(logp)), 4) AS ppl
                 FROM lp GROUP BY doc_id)
         SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
                coalesce(agg.ppl, 0.0) AS ppl
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id""",

    "x17_normalize" ->
      """WITH aug AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN text
                       ELSE 'Cafe' || chr(769) || '  '
                            || upper(substr(text, 1, 10)) || chr(9)
                            || text || '  ' END AS txt
           FROM documents),
         n AS (
           SELECT doc_id, txt,
                  trim(regexp_replace(lower(nfc_normalize(txt)),
                                      '\s+', ' ', 'g')) AS norm
           FROM aug)
         SELECT doc_id, norm, (norm <> txt) AS changed
         FROM n ORDER BY doc_id""",

    "x18_length_batches" ->
      """WITH u AS (
           SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents),
         b AS (
           SELECT doc_id, n_tokens, n_tokens // 32 AS bucket,
                  row_number() OVER (PARTITION BY n_tokens // 32
                    ORDER BY ('0x' || substr(md5(doc_id || ':lb'), 1, 15))::BIGINT,
                             doc_id) - 1 AS rn
           FROM u)
         SELECT doc_id, n_tokens, bucket,
                rn // 16 AS batch_idx, rn % 16 AS pos_in_batch
         FROM b ORDER BY doc_id""",

    "d11_stratified_sample" ->
      """WITH r AS (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY ('0x' || substr(md5(doc_id || ':strat'), 1, 15))::BIGINT,
                             doc_id) AS sample_rank
           FROM documents)
         SELECT doc_id, lang, sample_rank
         FROM r WHERE sample_rank <= 25 ORDER BY doc_id""",

    "d12_split_assign" ->
      """WITH b AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(doc_id || ':split'), 1, 15))::BIGINT % 100
                    AS split_bucket
           FROM documents)
         SELECT doc_id, lang, split_bucket,
                CASE WHEN split_bucket < 80 THEN 'train'
                     WHEN split_bucket < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",

    "b3_hybrid_rrf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT avg(dl) AS avgdl, count(*)::DOUBLE AS n FROM dl),
         tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY doc_id, term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
         lex AS (
           SELECT tf.doc_id,
                  round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                            * (tf * (1.2 + 1.0))
                            / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
                    AS score
           FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id
           ORDER BY score DESC, doc_id LIMIT 50),
         vec AS (
           SELECT a.vec_id AS doc_id,
                  round(list_dot_product(a.embedding::DOUBLE[], q.qv), 6) AS score
           FROM embeddings a CROSS JOIN
             (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 2) q
           ORDER BY score DESC, doc_id LIMIT 50),
         lr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM lex),
         vr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM vec)
         SELECT coalesce(lr.doc_id, vr.doc_id) AS doc_id,
                round(coalesce(1.0 / (60 + lr.r), 0)
                      + coalesce(1.0 / (60 + vr.r), 0), 6) AS rrf
         FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20""",

    "d4_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(s) >= 3 THEN
                    list_transform(range(1, len(s) - 1),
                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                  ELSE [] END) AS sg
           FROM toks)
         SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                      len(list_distinct(list_concat(a.sg, b.sg))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE round(len(list_intersect(a.sg, b.sg))::DOUBLE /
               len(list_distinct(list_concat(a.sg, b.sg))), 6) >= 0.5
         ORDER BY doc1, doc2""",

    "d5_embedding_neardup" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
         ORDER BY id1, id2""",

    "d14_semantic_contamination" ->
      """WITH tr AS (SELECT vec_id, embedding FROM embeddings
                     WHERE vec_id % 2 = 0),
            te AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 2 = 1),
            f AS (SELECT te.vec_id AS qid, tr.vec_id AS tid,
                         round(list_dot_product(te.embedding::DOUBLE[],
                               tr.embedding::DOUBLE[]), 6) AS cos
                  FROM te CROSS JOIN tr
                  WHERE round(list_dot_product(te.embedding::DOUBLE[],
                        tr.embedding::DOUBLE[]), 6) >= 0.4),
            ag AS (SELECT qid, count(*) AS n_matches, max(cos) AS max_cos
                   FROM f GROUP BY qid),
            best AS (SELECT qid, tid AS best_match FROM (
                       SELECT qid, tid, row_number() OVER (
                         PARTITION BY qid ORDER BY cos DESC, tid) AS rk
                       FROM f) WHERE rk = 1)
         SELECT a.qid AS vec_id, b.best_match, a.n_matches, a.max_cos
         FROM ag a JOIN best b USING (qid) ORDER BY vec_id""",

    "d19_semantic_screen" ->
      """WITH ar AS (SELECT vec_id, embedding FROM embeddings
                     WHERE vec_id % 5 <> 4),
            ba AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 5 = 4),
            f AS (SELECT ba.vec_id AS qid, ar.vec_id AS tid,
                         round(list_dot_product(ba.embedding::DOUBLE[],
                               ar.embedding::DOUBLE[]), 6) AS cos
                  FROM ba CROSS JOIN ar
                  WHERE round(list_dot_product(ba.embedding::DOUBLE[],
                        ar.embedding::DOUBLE[]), 6) >= 0.4
                  UNION ALL
                  SELECT b2.vec_id AS qid, b1.vec_id AS tid,
                         round(list_dot_product(b2.embedding::DOUBLE[],
                               b1.embedding::DOUBLE[]), 6) AS cos
                  FROM ba b1 JOIN ba b2 ON b1.vec_id < b2.vec_id
                  WHERE round(list_dot_product(b2.embedding::DOUBLE[],
                        b1.embedding::DOUBLE[]), 6) >= 0.4),
            ag AS (SELECT qid, count(*) AS n_matches, max(cos) AS max_cos
                   FROM f GROUP BY qid),
            best AS (SELECT qid, tid AS best_match FROM (
                       SELECT qid, tid, row_number() OVER (
                         PARTITION BY qid ORDER BY cos DESC, tid) AS rk
                       FROM f) WHERE rk = 1)
         SELECT a.qid AS vec_id, b.best_match, a.n_matches, a.max_cos
         FROM ag a JOIN best b USING (qid) ORDER BY vec_id""",

    "x8_token_packing" ->
      """WITH t AS (SELECT doc_id, lang,
                len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                 AS cum
               FROM t)
         SELECT doc_id, lang, n_tokens, (cum - n_tokens) // 512 AS bin,
                (cum - n_tokens) % 512 AS bin_offset
         FROM c ORDER BY doc_id""",

    "x8b_packing_bpe" ->
      """WITH t AS (SELECT doc_id, lang,
                len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT
                  AS n_bpe_pieces
           FROM documents),
         c AS (SELECT *, sum(n_bpe_pieces) OVER (PARTITION BY lang
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                 AS cum
               FROM t)
         SELECT doc_id, lang, n_bpe_pieces,
                (cum - n_bpe_pieces) // 1024 AS bin,
                (cum - n_bpe_pieces) % 1024 AS bin_offset
         FROM c ORDER BY doc_id""",

    "e3_sliding_count" ->
      """WITH e AS (SELECT event_id, user_id,
                           epoch_ns(ts) // 1000 AS us FROM events)
         SELECT event_id, user_id, us,
                count(*) OVER (PARTITION BY user_id ORDER BY us
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                  AS n_last_hour
         FROM e ORDER BY event_id""",

    "e6_ewma" ->
      """WITH RECURSIVE ev AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
           FROM events WHERE user_id < 25),
         r AS (SELECT user_id, event_id, rn, value AS ewma
               FROM ev WHERE rn = 1
               UNION ALL
               SELECT e.user_id, e.event_id, e.rn,
                      0.5 * e.value + 0.5 * r.ewma
               FROM ev e JOIN r
                 ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, event_id, rn,
                round(ewma + 0.000000001, 6) AS ewma
         FROM r ORDER BY user_id, rn""",

    "e4_resample" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS us, value
           FROM events WHERE user_id < 25),
         evg AS (SELECT user_id, us, max(value) AS value
                 FROM ev GROUP BY user_id, us),
         b AS (SELECT user_id,
                      (min(us) // 86400000000) * 86400000000 AS lo,
                      max(us) AS hi
               FROM ev GROUP BY user_id),
         grid AS (SELECT user_id,
                         unnest(range(lo, hi + 1, 86400000000)) AS gus
                  FROM b)
         SELECT g.user_id, g.gus, round(e.value, 4) AS last_value
         FROM grid g ASOF LEFT JOIN evg e
           ON g.user_id = e.user_id AND g.gus >= e.us
         ORDER BY g.user_id, g.gus""",

    "e5_zscore" ->
      """WITH s AS (
           SELECT event_id, user_id, value,
                  avg(value) OVER (PARTITION BY user_id) AS mu,
                  stddev_samp(value) OVER (PARTITION BY user_id) AS sd
           FROM events)
         SELECT event_id, user_id, round((value - mu) / sd, 6) AS z
         FROM s
         WHERE sd > 0 AND abs(round((value - mu) / sd, 6)) > 2.0
         ORDER BY event_id""",

    "k2_knn_join_ivf" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
                    FROM embeddings WHERE vec_id < 50),
         scored AS (
           SELECT q.qid, e.vec_id AS cid,
                  round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score
           FROM embeddings e CROSS JOIN q),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY score DESC, cid) AS rk
           FROM scored)
         SELECT qid, cid, score, rk FROM ranked
         WHERE rk <= 3 ORDER BY qid, rk""",

    "k3_knn_join_ivfpq" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
                    FROM embeddings WHERE vec_id < 50),
         scored AS (
           SELECT q.qid, e.vec_id AS cid,
                  round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS score
           FROM embeddings e CROSS JOIN q),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY score DESC, cid) AS rk
           FROM scored)
         SELECT qid, cid, score, rk FROM ranked
         WHERE rk <= 3 ORDER BY qid, rk""",

    "d9_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(s) >= 3 THEN
                    list_transform(range(1, len(s) - 1),
                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                  ELSE [] END) AS sg
           FROM toks),
         tr AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
         te AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
         j AS (
           SELECT te.doc_id AS doc_id, tr.doc_id AS train_id,
                  round(len(list_intersect(te.sg, tr.sg))::DOUBLE /
                        len(list_distinct(list_concat(te.sg, tr.sg))), 6) AS jaccard
           FROM te CROSS JOIN tr),
         best AS (SELECT doc_id, max(jaccard) AS bj FROM j GROUP BY doc_id)
         SELECT j.doc_id, min(j.train_id) AS best_match, b.bj AS jaccard
         FROM j JOIN best b ON j.doc_id = b.doc_id AND j.jaccard = b.bj
         WHERE b.bj >= 0.5
         GROUP BY j.doc_id, b.bj
         ORDER BY j.doc_id""",

    "d10_line_dedup" ->
      """WITH aug AS (
           SELECT doc_id, 'common header boilerplate' || chr(10) || 'group '
                  || (doc_id % 7) || chr(10) || text AS txt
           FROM documents),
         lines0 AS (
           SELECT a.doc_id, r.j - 1 AS pos,
                  list_extract(string_split(a.txt, chr(10)), r.j) AS line
           FROM aug a, LATERAL (SELECT unnest(range(1,
                  len(string_split(a.txt, chr(10))) + 1)) AS j) r),
         lines AS (SELECT * FROM lines0 WHERE trim(line) <> ''),
         keep AS (
           SELECT doc_id, pos, line,
                  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
           FROM lines),
         kept AS (SELECT * FROM keep WHERE rn = 1),
         nl AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id),
         reb AS (
           SELECT doc_id, count(*) AS n_kept,
                  string_agg(line, chr(10) ORDER BY pos) AS text_dedup
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, coalesce(nl.n_lines, 0) AS n_lines,
                coalesce(reb.n_kept, 0) AS n_kept,
                coalesce(reb.text_dedup, '') AS text_dedup
         FROM documents d LEFT JOIN nl USING (doc_id) LEFT JOIN reb USING (doc_id)
         ORDER BY d.doc_id""",

    "d13_substring_dedup" ->
      """WITH aug AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN text
                       ELSE 'shared preamble alpha beta gamma delta epsilon zeta eta theta '
                            || text END AS txt
           FROM documents),
         t AS (SELECT doc_id, txt, string_split(txt, ' ') AS toks FROM aug),
         w AS (
           SELECT t.doc_id, r.i - 1 AS start,
                  array_to_string(t.toks[r.i : r.i + 7], ' ') AS w
           FROM t, LATERAL (SELECT unnest(range(1, len(t.toks) - 6)) AS i) r
           WHERE len(t.toks) >= 8),
         m AS (
           SELECT doc_id, start FROM (
             SELECT doc_id, start,
                    count(*) OVER (PARTITION BY w) AS cnt,
                    row_number() OVER (PARTITION BY w
                      ORDER BY doc_id, start) AS rn
             FROM w) z WHERE cnt > 1 AND rn > 1),
         g AS (
           SELECT doc_id, start,
                  CASE WHEN prev_max IS NULL OR start > prev_max
                       THEN 1 ELSE 0 END AS new_isl
           FROM (SELECT doc_id, start,
                        max(start + 8) OVER (PARTITION BY doc_id
                          ORDER BY start ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
                 FROM m) z),
         i2 AS (
           SELECT doc_id, start,
                  sum(new_isl) OVER (PARTITION BY doc_id
                    ORDER BY start) AS island
           FROM g),
         sp AS (
           SELECT doc_id, island, min(start) AS s, max(start) + 8 AS e
           FROM i2 GROUP BY doc_id, island),
         agg AS (
           SELECT doc_id, count(*)::BIGINT AS n_spans,
                  sum(e - s)::BIGINT AS n_dup_tokens
           FROM sp GROUP BY doc_id),
         pos AS (
           SELECT t.doc_id, r.i - 1 AS p, list_extract(t.toks, r.i) AS tok
           FROM t, LATERAL (SELECT unnest(range(1, len(t.toks) + 1)) AS i) r
           WHERE t.doc_id IN (SELECT doc_id FROM agg)),
         rem AS (
           SELECT DISTINCT pos.doc_id, pos.p
           FROM pos JOIN sp ON sp.doc_id = pos.doc_id
                           AND pos.p >= sp.s AND pos.p < sp.e),
         reb AS (
           SELECT pos.doc_id,
                  coalesce(string_agg(pos.tok, ' ' ORDER BY pos.p)
                           FILTER (WHERE rem.p IS NULL), '') AS txt2
           FROM pos LEFT JOIN rem ON rem.doc_id = pos.doc_id
                                 AND rem.p = pos.p
           GROUP BY pos.doc_id)
         SELECT a2.doc_id,
                coalesce(agg.n_spans, 0)::BIGINT AS n_spans,
                coalesce(agg.n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
                CASE WHEN agg.doc_id IS NULL THEN a2.txt
                     ELSE reb.txt2 END AS text_dedup
         FROM aug a2 LEFT JOIN agg USING (doc_id)
              LEFT JOIN reb ON reb.doc_id = a2.doc_id
         ORDER BY a2.doc_id""",

    "d6_semantic_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(s) >= 3 THEN
                    list_transform(range(1, len(s) - 1),
                      i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2])
                  ELSE [] END) AS sg
           FROM toks),
         pairs AS (
           SELECT a.doc_id AS doc1, b.doc_id AS doc2
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE round(len(list_intersect(a.sg, b.sg))::DOUBLE /
                 len(list_distinct(list_concat(a.sg, b.sg))), 6) >= 0.5),
         verts AS (SELECT DISTINCT doc_id FROM
           (SELECT doc1 AS doc_id FROM pairs UNION SELECT doc2 FROM pairs)),
         e AS (SELECT doc1 AS a, doc2 AS b FROM pairs
               UNION ALL SELECT doc2, doc1 FROM pairs
               UNION ALL SELECT doc_id, doc_id FROM verts),
         l0 AS (SELECT doc_id, doc_id AS label FROM verts),
         l1 AS (SELECT e.a AS doc_id, min(l0.label) AS label
                FROM e JOIN l0 ON e.b = l0.doc_id GROUP BY e.a),
         l2 AS (SELECT e.a AS doc_id, min(l1.label) AS label
                FROM e JOIN l1 ON e.b = l1.doc_id GROUP BY e.a),
         l3 AS (SELECT e.a AS doc_id, min(l2.label) AS label
                FROM e JOIN l2 ON e.b = l2.doc_id GROUP BY e.a)
         SELECT doc_id, label AS component, (doc_id = label) AS keep
         FROM l3 ORDER BY doc_id""",

    "e2_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, value, ts,
                  epoch_ns(ts) // 1000 AS us
           FROM events WHERE user_id < 25),
         g AS (
           SELECT user_id, event_id, value, us, ts,
                  CASE WHEN coalesce(us - lag(us, 1) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id),
                    9223372036854775807) > 600000000 THEN 1 ELSE 0 END AS new_sess
           FROM e),
         s AS (
           SELECT user_id, event_id, value, us,
                  (sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
                max(us) - min(us) AS duration_us,
                round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "q5_regional_revenue" ->
      """SELECT n.n_name,
                round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
                count(*) AS n_lines
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
         GROUP BY n.n_name
         ORDER BY revenue DESC, n.n_name""",

    "q17_small_quantity" ->
      """SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly,
                count(*) AS n
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE p.p_brand = 'Brand#23'
           AND l.l_quantity < (
             SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = l.l_partkey)""",

    "w2_topk_per_group" ->
      """WITH e AS (SELECT user_id, event_id, value,
                           epoch_ns(ts) // 1000 AS us
                    FROM events WHERE user_id < 25)
         SELECT user_id, event_id, rn, round(value, 4) AS value FROM (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, us, event_id) AS rn
           FROM e) ranked
         WHERE rn <= 3
         ORDER BY user_id, rn""",

    "a8_percentiles" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.5), 4) AS p50,
                round(quantile_cont(value, 0.9), 4) AS p90,
                count(*) AS n
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",

    "o1_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_ns(ts) // 1000 AS us FROM events),
           p AS (SELECT user_id, event_id AS p_id, us AS p_us
                 FROM e WHERE event_type = 'purchase'),
           v AS (SELECT user_id, us AS v_us, round(max(value), 4) AS v_value
                 FROM e WHERE event_type = 'view' GROUP BY user_id, us)
         SELECT p.user_id, p.p_id, p.p_us, v.v_us,
                round(v.v_value, 4) AS v_value
         FROM p ASOF JOIN v
           ON p.user_id = v.user_id AND v.v_us <= p.p_us
         ORDER BY p.user_id, p.p_us, p.p_id""",

    "o2_range_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
                           epoch_ns(ts) // 1000 AS us FROM events),
           p AS (SELECT user_id, event_id AS p_id, us AS p_us
                 FROM e WHERE event_type = 'purchase'),
           v AS (SELECT user_id, us AS v_us, value AS v_value
                 FROM e WHERE event_type = 'view')
         SELECT p.user_id, p.p_id, p.p_us,
                count(*) AS n_views, round(sum(v.v_value), 4) AS sum_value
         FROM p JOIN v
           ON p.user_id = v.user_id
          AND v.v_us BETWEEN p.p_us - 3600000000 AND p.p_us
         GROUP BY p.user_id, p.p_id, p.p_us
         ORDER BY p.user_id, p.p_us, p.p_id""",

    "q4_priority_exists" ->
      """SELECT o.o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate)
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority""",

    "q8_market_share" ->
      """SELECT year(o.o_orderdate) AS o_year,
                round(sum(CASE WHEN sn.n_name = 'NATION_3'
                               THEN l.l_extendedprice * (1.0 - l.l_discount)
                               ELSE 0.0 END) /
                      sum(l.l_extendedprice * (1.0 - l.l_discount)), 6)
                  AS mkt_share
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN region r ON cn.n_regionkey = r.r_regionkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         WHERE r.r_name = 'ASIA'
         GROUP BY o_year
         ORDER BY o_year""",

    "q20_supplier_semi" ->
      """SELECT s.s_name, s.s_nationkey
         FROM supplier s
         WHERE s.s_suppkey IN (
           SELECT q.l_suppkey FROM (
             SELECT l.l_suppkey, sum(l.l_quantity) AS total_qty
             FROM lineitem l
             JOIN part p ON l.l_partkey = p.p_partkey
             WHERE p.p_name LIKE '%gizmo%'
             GROUP BY l.l_partkey, l.l_suppkey) q
           WHERE q.total_qty > 100.0)
         ORDER BY s.s_name""",

    "u3_distinct" ->
      """SELECT DISTINCT lang, source FROM documents ORDER BY lang, source""",

    "k1_knn_join" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id >= 5),
         scored AS (
           SELECT qid, cid, round(list_dot_product(cv, qv), 6) AS score,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY round(list_dot_product(cv, qv), 6) DESC,
                                              cid) AS rk
           FROM c CROSS JOIN q)
         SELECT qid, cid, score, rk FROM scored WHERE rk <= 3
         ORDER BY qid, rk""",

    "n1_ann_bucketed" ->
      """WITH wb AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
                  (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                 + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                 + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                 + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
                 + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
                 + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END
                 + CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END
                 + CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)::BIGINT AS bucket
           FROM embeddings),
         q AS (SELECT v AS qv, bucket AS qbucket FROM wb WHERE vec_id = 0)
         SELECT vec_id, bucket, round(list_dot_product(v, qv), 6) AS score
         FROM wb, q WHERE bucket = qbucket
         ORDER BY score DESC, vec_id
         LIMIT 5""",

    "v2_semantic_filter" ->
      """WITH q AS (
           SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
                round(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) AS score
         FROM embeddings e, q
         WHERE round(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) >= 0.2
         ORDER BY score DESC, e.vec_id""",

    "v3_filtered_retrieve" ->
      """WITH q AS (
           SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id, e.label::BIGINT AS label,
                round(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) AS score
         FROM embeddings e, q
         WHERE e.label IN (2, 5)
         ORDER BY score DESC, e.vec_id
         LIMIT 10""",

    "v4_maxsim_topk" ->
      """WITH q AS (
           SELECT vec_id AS qidx, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
         per AS (
           SELECT e.vec_id // 5 AS doc_id, q.qidx,
                  max(list_dot_product(e.embedding::DOUBLE[], q.qv)) AS m
           FROM embeddings e, q
           GROUP BY 1, 2)
         SELECT doc_id, round(sum(m), 6) AS score
         FROM per GROUP BY doc_id
         ORDER BY score DESC, doc_id
         LIMIT 10""",

    "v5_maxsim_ivf" ->
      """WITH cents AS (
           SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
           FROM embeddings WHERE vec_id < 10),
         q AS (
           SELECT vec_id AS qidx, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
         assign AS (
           SELECT vec_id // 5 AS doc_id, embedding, cid FROM (
             SELECT e.vec_id, e.embedding, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC,
                               c.cid) AS rk
             FROM embeddings e CROSS JOIN cents c)
           WHERE rk = 1),
         probed AS (
           SELECT qidx, cid, pscore FROM (
             SELECT q.qidx, c.cid,
                    list_dot_product(c.cvec, q.qv) AS pscore,
                    row_number() OVER (PARTITION BY q.qidx
                      ORDER BY list_dot_product(c.cvec, q.qv) DESC, c.cid) AS rk
             FROM cents c CROSS JOIN q)
           WHERE rk <= 3),
         cand AS (
           SELECT doc_id FROM (
             SELECT d.doc_id, p.qidx, max(p.pscore) AS m
             FROM (SELECT DISTINCT doc_id, cid FROM assign) d
             JOIN probed p ON d.cid = p.cid
             GROUP BY 1, 2)
           GROUP BY doc_id
           ORDER BY round(sum(m), 6) DESC, doc_id
           LIMIT 30),
         per AS (
           SELECT a.doc_id, q.qidx,
                  max(list_dot_product(a.embedding::DOUBLE[], q.qv)) AS m
           FROM assign a JOIN cand c ON a.doc_id = c.doc_id CROSS JOIN q
           GROUP BY 1, 2)
         SELECT doc_id, round(sum(m), 6) AS score
         FROM per GROUP BY doc_id
         ORDER BY score DESC, doc_id
         LIMIT 10""",

    "n2_ivf_ann" ->
      """WITH cents AS (
           SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
           FROM embeddings WHERE vec_id < 10),
         q AS (
           SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42),
         assign AS (
           SELECT vec_id, embedding, cid FROM (
             SELECT e.vec_id, e.embedding, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC,
                               c.cid) AS rk
             FROM embeddings e CROSS JOIN cents c)
           WHERE rk = 1),
         probes AS (
           SELECT cid FROM cents CROSS JOIN q
           ORDER BY list_dot_product(cvec, qv) DESC, cid LIMIT 2)
         SELECT a.vec_id, a.cid,
                round(list_dot_product(a.embedding::DOUBLE[], q.qv), 6) AS score
         FROM assign a JOIN probes p ON a.cid = p.cid CROSS JOIN q
         ORDER BY score DESC, a.vec_id
         LIMIT 10""",

    "n3_ivf_kmeans" ->
      """WITH cents0 AS (
           SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
           FROM embeddings WHERE vec_id < 10),
         assign0 AS (
           SELECT vec_id, embedding, cid FROM (
             SELECT e.vec_id, e.embedding, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC,
                               c.cid) AS rk
             FROM embeddings e CROSS JOIN cents0 c)
           WHERE rk = 1),
         members AS (
           SELECT cid, list(embedding::DOUBLE[]) AS vs FROM assign0 GROUP BY cid),
         means AS (
           SELECT cid, list_transform(range(1, 65),
                    i -> list_avg(list_transform(vs, v -> v[i]))) AS mv
           FROM members),
         cents AS (
           SELECT c0.cid,
                  coalesce(list_transform(m.mv,
                    x -> x / sqrt(list_dot_product(m.mv, m.mv))), c0.cvec) AS cvec
           FROM cents0 c0 LEFT JOIN means m ON c0.cid = m.cid),
         q AS (
           SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42),
         assign1 AS (
           SELECT vec_id, embedding, cid FROM (
             SELECT e.vec_id, e.embedding, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC,
                               c.cid) AS rk
             FROM embeddings e CROSS JOIN cents c)
           WHERE rk = 1),
         probes AS (
           SELECT cid FROM cents CROSS JOIN q
           ORDER BY list_dot_product(cvec, qv) DESC, cid LIMIT 2)
         SELECT a.vec_id, a.cid,
                round(list_dot_product(a.embedding::DOUBLE[], q.qv), 6) AS score
         FROM assign1 a JOIN probes p ON a.cid = p.cid CROSS JOIN q
         ORDER BY score DESC, a.vec_id
         LIMIT 10""",

    "n4_sq_topk" ->
      """WITH s AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
                  127.0 / list_max(list_transform(embedding::DOUBLE[],
                    x -> abs(x))) AS sc
           FROM embeddings),
         qz AS (
           SELECT vec_id, sc, list_transform(v, x -> round(x * sc)) AS q
           FROM s)
         SELECT c.vec_id,
                round(list_dot_product(c.q, qq.q) / (c.sc * qq.sc), 6) AS score
         FROM qz c CROSS JOIN (SELECT q, sc FROM qz WHERE vec_id = 2) qq
         ORDER BY score DESC, c.vec_id
         LIMIT 10""",

    "n5_bin_hamming" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
         h AS (
           SELECT e.vec_id,
                  len(list_filter(list_zip(e.embedding, (SELECT qe FROM q)),
                      x -> (x[1] > 0) != (x[2] > 0))) AS hamming
           FROM embeddings e),
         pre AS (SELECT vec_id, hamming FROM h
                 ORDER BY hamming, vec_id LIMIT 50)
         SELECT p.vec_id,
                round(list_sum(list_transform(
                    list_zip(e.embedding, (SELECT qe FROM q)),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
                  AS score,
                p.hamming
         FROM pre p JOIN embeddings e USING (vec_id)
         ORDER BY score DESC, vec_id
         LIMIT 10""",

    "n6_matryoshka" ->
      """WITH b AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
                  (embedding::DOUBLE[])[1:16] AS tv
           FROM embeddings),
         n AS (
           SELECT vec_id, v, tv,
                  sqrt(list_dot_product(tv, tv)) AS tn
           FROM b WHERE sqrt(list_dot_product(tv, tv)) > 0),
         q AS (SELECT v AS qv, tv AS qtv, tn AS qtn FROM n WHERE vec_id = 5),
         pre AS (
           SELECT n.vec_id, n.v,
                  round(list_dot_product(n.tv, q.qtv) / (n.tn * q.qtn), 6)
                    AS t_score
           FROM n CROSS JOIN q
           ORDER BY t_score DESC, n.vec_id
           LIMIT 50)
         SELECT p.vec_id,
                round(list_dot_product(p.v, q.qv), 6) AS score,
                p.t_score
         FROM pre p CROSS JOIN q
         ORDER BY score DESC, p.vec_id
         LIMIT 10""",

    "k5_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
                    FROM embeddings WHERE vec_id < 10),
         s AS (
           SELECT q.qid, e.vec_id AS cid,
                  round(list_sum(list_transform(list_zip(e.embedding, q.qe),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
                    AS score
           FROM q JOIN embeddings e
             ON e.vec_id != q.qid AND e.label != q.ql),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY qid ORDER BY score DESC, cid) AS rk FROM s)
         SELECT qid, cid, score, rk FROM r
         WHERE rk > 1 AND rk <= 6
         ORDER BY qid, rk""",

    "k6_retrieval_metrics" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
                    FROM embeddings WHERE vec_id < 5),
         s AS (SELECT q.qid, e.vec_id AS cid,
                 round(list_sum(list_transform(list_zip(e.embedding, q.qe),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
                   AS score
               FROM q JOIN embeddings e ON true),
         r AS (SELECT qid, cid, row_number() OVER
                 (PARTITION BY qid ORDER BY score DESC, cid) AS rk FROM s),
         topk AS (SELECT * FROM r WHERE rk <= 10),
         qrels AS (SELECT q.qid, e.vec_id AS cid, 1.0 AS grade
                   FROM q JOIN embeddings e ON e.label = q.ql),
         judged AS (SELECT t.qid, t.rk, qr.grade FROM topk t
                    JOIN qrels qr ON t.qid = qr.qid AND t.cid = qr.cid),
         perq AS (SELECT qid, count(*) AS hits, min(rk) AS first_rel,
                         sum((pow(2.0, grade) - 1.0) / log2(rk + 1)) AS dcg
                  FROM judged GROUP BY qid),
         tot AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY qid),
         ide AS (SELECT qid,
                        sum((pow(2.0, grade) - 1.0) / log2(irk + 1)) AS idcg
                 FROM (SELECT qid, grade, row_number() OVER
                         (PARTITION BY qid ORDER BY grade DESC, cid) AS irk
                       FROM qrels) WHERE irk <= 10 GROUP BY qid)
         SELECT t.qid,
                round(coalesce(p.hits, 0) / t.n_rel, 6) AS recall,
                round(coalesce(1.0 / p.first_rel, 0.0), 6) AS mrr,
                round(coalesce(p.dcg, 0.0) / i.idcg, 6) AS ndcg
         FROM tot t JOIN ide i USING (qid) LEFT JOIN perq p USING (qid)
         ORDER BY qid""",

    "m1_media_features" ->
      """SELECT doc_id AS media_id,
                CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                length(text) AS n_bytes,
                64 + (ascii(substr(text, 1, 1)) % 16) * 32 AS width,
                64 + (ascii(substr(text, 2, 1)) % 9) * 32 AS height,
                greatest(length(text) // 16, 1) AS n_frames
         FROM documents ORDER BY media_id""",

    "m2_frame_sample" ->
      """WITH f AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                  greatest(length(text) // 16, 1) AS n_frames
           FROM documents)
         SELECT media_id, kind, frame_idx, frame_idx * 16 AS byte_offset
         FROM (SELECT media_id, kind,
                      unnest(range(0, n_frames, 4)) AS frame_idx FROM f)
         ORDER BY media_id, frame_idx""",

    "m3_audio_stats" ->
      """SELECT doc_id AS media_id,
                len(text)::BIGINT AS n_samples,
                8000::BIGINT AS sample_rate,
                1::BIGINT AS channels,
                coalesce(256 * list_max(list_transform(range(1, len(text)+1),
                    i -> abs(ascii(substr(text, i, 1)) - 96))), 0)::BIGINT AS peak,
                CASE WHEN len(text) = 0 THEN 0.0 ELSE
                  round(sqrt(list_sum(list_transform(range(1, len(text)+1),
                      i -> power((ascii(substr(text, i, 1)) - 96) * 256.0, 2)))
                    / len(text)), 4) END AS rms,
                (len(text) * 1000 // 8000)::BIGINT AS duration_ms
         FROM documents ORDER BY media_id""",

    "m4_video_features" ->
      """SELECT doc_id AS media_id,
                (len(text) * 40)::BIGINT AS duration_ms,
                1000::BIGINT AS timescale,
                (1 + doc_id % 2)::BIGINT AS n_tracks,
                (64 + (ascii(substr(text, 1, 1)) % 16) * 32)::BIGINT AS width,
                (64 + (ascii(substr(text, 2, 1)) % 9) * 32)::BIGINT AS height,
                'avc1' AS video_codec,
                CASE WHEN doc_id % 2 = 1 THEN 'mp4a' ELSE 'none' END
                  AS audio_codec
         FROM documents ORDER BY media_id""",

    "m5_audio_bands" ->
      """WITH s AS (
           SELECT doc_id AS media_id,
                  list_transform(range(1, least(len(text), 64) + 1),
                    i -> (ascii(substr(text, i, 1)) - 96) * 256) AS sm
           FROM documents),
         c AS (
           -- coalesce: list_sum over an empty list is NULL in DuckDB,
           -- but the engine folds an empty window to 0 (and dominant 0).
           SELECT media_id,
                  coalesce(list_sum(list_transform(range(0, len(sm)),
                    i -> sm[i + 1] * (1 - 2 * ((i // 1) % 2)))), 0)::BIGINT AS c0,
                  coalesce(list_sum(list_transform(range(0, len(sm)),
                    i -> sm[i + 1] * (1 - 2 * ((i // 2) % 2)))), 0)::BIGINT AS c1,
                  coalesce(list_sum(list_transform(range(0, len(sm)),
                    i -> sm[i + 1] * (1 - 2 * ((i // 4) % 2)))), 0)::BIGINT AS c2,
                  coalesce(list_sum(list_transform(range(0, len(sm)),
                    i -> sm[i + 1] * (1 - 2 * ((i // 8) % 2)))), 0)::BIGINT AS c3
           FROM s)
         SELECT media_id,
                (c0 * c0)::BIGINT AS e0, (c1 * c1)::BIGINT AS e1,
                (c2 * c2)::BIGINT AS e2, (c3 * c3)::BIGINT AS e3,
                (CASE
                   WHEN c0*c0 >= c1*c1 AND c0*c0 >= c2*c2
                        AND c0*c0 >= c3*c3 THEN 0
                   WHEN c1*c1 >= c2*c2 AND c1*c1 >= c3*c3 THEN 1
                   WHEN c2*c2 >= c3*c3 THEN 2
                   ELSE 3 END)::BIGINT AS dominant_band
         FROM c ORDER BY media_id"""
  )

  private def relationalOracle: Map[String, String] = Map(
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                count(*) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24.0""",

    "q7_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                year(l.l_shipdate) AS l_year,
                round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",

    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-07-01'
         GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
         ORDER BY revenue DESC, c.c_custkey
         LIMIT 20""",

    "q13_order_histogram" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
           GROUP BY c.c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    "q14_promo_share" ->
      """SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                       THEN l.l_extendedprice * (1.0 - l.l_discount)
                       ELSE 0.0 END) /
                sum(l.l_extendedprice * (1.0 - l.l_discount)), 6) AS promo_share,
                count(*) AS n
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
           AND l.l_shipdate < TIMESTAMP '1996-04-01'""",

    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, rev.total_rev
         FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
         WHERE rev.total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s.s_suppkey""",

    "q18_large_volume" ->
      """WITH big AS (
           SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING round(sum(l_quantity), 4) > 300.0)
         SELECT c.c_name, c.c_custkey, o.o_orderkey,
                strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
                round(o.o_totalprice, 4) AS o_totalprice, big.sum_qty
         FROM big
         JOIN orders o ON big.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o.o_orderkey""",

    "q22_idle_balance" ->
      """SELECT c_nationkey, count(*) AS numcust,
                round(sum(c_acctbal), 4) AS totacctbal
         FROM customer c
         WHERE c.c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer
                              WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'P')
         GROUP BY c_nationkey
         ORDER BY c_nationkey""",

    "q21_waiting_supplier" ->
      """WITH late AS (
           SELECT l.l_orderkey AS lo, l.l_suppkey AS ls
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           WHERE o.o_orderstatus = 'F'
             AND l.l_shipdate > o.o_orderdate + INTERVAL 730 DAY)
         SELECT s.s_name, count(*) AS numwait
         FROM late l1 JOIN supplier s ON l1.ls = s.s_suppkey
         WHERE EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.lo AND l2.l_suppkey <> l1.ls)
           AND NOT EXISTS (SELECT 1 FROM late l3
                           WHERE l3.lo = l1.lo AND l3.ls <> l1.ls)
         GROUP BY s.s_name
         ORDER BY numwait DESC, s.s_name""",

    "q12_priority_lines" ->
      """SELECT l_linestatus,
                sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 0 ELSE 1 END)::BIGINT AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE (l_discount >= 0.09 OR l_tax >= 0.07)
           AND l_shipdate >= o_orderdate
           AND l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",

    "q19_disjunctive_bands" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",

    "q9_product_profit" ->
      """SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%gear%'
         GROUP BY n_name, year(o_orderdate)
         ORDER BY supp_nation, o_year DESC""",

    "q11_part_value" ->
      """WITH v AS (
           SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS pval
           FROM lineitem GROUP BY l_partkey),
         tot AS (SELECT sum(pval) AS total FROM v)
         SELECT l_partkey, round(pval, 4) AS value FROM v, tot
         WHERE round(pval, 4) > round(total * 0.0007, 4)
         ORDER BY value DESC, l_partkey""",

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#5'
           AND p_type NOT IN ('PROMO', 'ECONOMY')
           AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "q2_min_cost_supplier" ->
      """WITH cost AS (
           SELECT l_partkey, l_suppkey,
                  min(round(l_extendedprice / l_quantity, 4)) AS unit_cost
           FROM lineitem GROUP BY l_partkey, l_suppkey),
         rc AS (
           SELECT cost.*, s_acctbal, s_name, n_name
           FROM cost JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         mn AS (SELECT l_partkey, min(unit_cost) AS min_cost
                FROM rc GROUP BY l_partkey)
         SELECT round(s_acctbal, 4) AS s_acctbal, s_name, n_name,
                p_partkey, unit_cost
         FROM rc JOIN mn USING (l_partkey)
         JOIN part ON rc.l_partkey = p_partkey
         WHERE unit_cost = min_cost
           AND p_size BETWEEN 10 AND 15 AND p_type = 'LARGE'
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         LIMIT 100""",

    "j3_pairwise_topk" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS score
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         ORDER BY score DESC, id1, id2
         LIMIT 25""",

    "j3b_pairwise_blocked" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS score
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         ORDER BY score DESC, id1, id2
         LIMIT 25""",

    "j4_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
         ORDER BY c_custkey""",

    "j5_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",

    "u1_intersect" ->
      """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
         ORDER BY c_nationkey""",

    "u2_except" ->
      """SELECT n_regionkey FROM nation
         EXCEPT
         SELECT n.n_regionkey FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal < 0
         ORDER BY n_regionkey""",

    "p7_exists_probe" ->
      """SELECT (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0) AS any_purchase,
                (sum(CASE WHEN event_type = 'refund' THEN 1 ELSE 0 END) > 0) AS any_refund
         FROM events""",

    "w1_window_lag" ->
      """WITH e AS (
           SELECT event_id, user_id, ts,
                  epoch_ns(ts) // 1000 AS us
           FROM events WHERE user_id < 25)
         SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         coalesce(us - lag(us, 1)
           OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) AS gap_us
         FROM e
         ORDER BY user_id, rn""",

    "kv1_keep_last" ->
      """SELECT user_id, event_id, round(value, 4) AS last_value FROM (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id""",

    "r1_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                round(sum(l_quantity), 4) AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",

    "r2_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                round(sum(l_quantity), 4) AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",

    "e1_time_bucket" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY hour, event_type""",

    "g2_dfs_preorder" ->
      """WITH RECURSIVE tree(doc_id, path) AS (
           SELECT doc_id, [doc_id] FROM documents WHERE doc_id = 0
           UNION ALL
           SELECT d.doc_id, list_append(t.path, d.doc_id)
           FROM documents d JOIN tree t
             ON CAST(floor(d.doc_id / 10) AS BIGINT) = t.doc_id
           WHERE d.doc_id > 0)
         SELECT doc_id, len(path) AS depth,
                row_number() OVER (ORDER BY path) AS preorder,
                array_to_string(path, '/') AS path_str
         FROM tree
         ORDER BY preorder""",

    "g3_pagerank" -> pageRankOracleSql(3),

    "g4_triangles" ->
      """WITH le AS (SELECT l_orderkey, l_partkey FROM lineitem),
         small AS (SELECT l_orderkey FROM le
                   GROUP BY l_orderkey HAVING count(*) <= 3),
         e0 AS (
           SELECT DISTINCT a.l_partkey::BIGINT AS lo,
                           b.l_partkey::BIGINT AS hi
           FROM le a
           JOIN le b ON a.l_orderkey = b.l_orderkey
           JOIN small s ON a.l_orderkey = s.l_orderkey
           WHERE a.l_partkey < b.l_partkey),
         tri AS (
           SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
           FROM e0 e1
           JOIN e0 e2 ON e2.lo = e1.hi
           JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
         nodes AS (SELECT lo AS id FROM e0 UNION SELECT hi FROM e0),
         pn AS (
           SELECT id, count(*) AS t FROM (
             SELECT x AS id FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY id)
         SELECT n.id, coalesce(pn.t, 0)::BIGINT AS triangles
         FROM nodes n LEFT JOIN pn USING (id)
         ORDER BY n.id""",

    // exact transitive closure: component = min id reachable over the
    // undirected edge set (the engine's large-star/small-star must
    // agree node-for-node)
    "g5_connected_components" ->
      """WITH RECURSIVE
           le AS (SELECT l_orderkey, l_partkey FROM lineitem),
           duo AS (SELECT l_orderkey FROM le
                   GROUP BY l_orderkey HAVING count(*) = 2),
           e0 AS (SELECT DISTINCT a.l_partkey::BIGINT AS src,
                                  b.l_partkey::BIGINT AS dst
                  FROM le a JOIN le b ON a.l_orderkey = b.l_orderkey
                  JOIN duo d ON a.l_orderkey = d.l_orderkey
                  WHERE a.l_partkey < b.l_partkey),
           e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           nodes AS (SELECT DISTINCT src AS id FROM e),
           reach(id, r) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
         SELECT id AS doc_id, min(r)::BIGINT AS component
         FROM reach GROUP BY id ORDER BY doc_id""",

    "w3_running_distinct" ->
      """WITH f AS (
           SELECT event_id, user_id, event_type, ts,
                  CASE WHEN row_number() OVER
                    (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS flag
           FROM events),
         r AS (
           SELECT event_id, user_id, event_type,
                  sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                    AS n_types_seen
           FROM f)
         SELECT event_id, user_id, event_type, n_types_seen
         FROM r ORDER BY event_id""",

    "e8_funnel" ->
      """WITH v AS (
           SELECT user_id, min(ts) AS view_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (
           SELECT e.user_id, min(e.ts) AS click_ts
           FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.view_ts
           GROUP BY e.user_id),
         p AS (
           SELECT e.user_id, min(e.ts) AS purchase_ts
           FROM events e JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
           GROUP BY e.user_id)
         SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
                (1 + CASE WHEN c.click_ts IS NULL THEN 0 ELSE 1 END
                   + CASE WHEN p.purchase_ts IS NULL THEN 0 ELSE 1 END)::BIGINT
                  AS stage
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
         ORDER BY v.user_id""",

    "e7_mad_outliers" ->
      """WITH med AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY event_type),
         mad AS (
           SELECT e.event_type,
                  quantile_cont(abs(e.value - m.med), 0.5) AS mad,
                  max(m.med) AS med
           FROM events e JOIN med m USING (event_type)
           GROUP BY e.event_type),
         sc AS (
           SELECT e.event_id, e.event_type,
                  round(e.value, 4) AS value,
                  round(abs(e.value - s.med) / (1.4826 * s.mad), 4) AS rscore
           FROM events e JOIN mad s USING (event_type)
           WHERE s.mad > 0)
         SELECT event_id, event_type, value, rscore
         FROM sc WHERE rscore > 3.0
         ORDER BY event_id""",

    "c1_clusters" -> (kmeansOracleCtes(10, 3) + s""",
         af AS (SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cvec) AS s,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid)
                         AS rk
                FROM emb e CROSS JOIN c3 c)
         SELECT vec_id, cid, round(s, 6) AS sim FROM af WHERE rk = 1
         ORDER BY vec_id"""),

    "d15_semdedup" -> (kmeansOracleCtes(10, 3) + s""",
         af AS (SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cvec) AS s,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid)
                         AS rk
                FROM emb e CROSS JOIN c3 c),
         asg AS (SELECT vec_id, cid FROM af WHERE rk = 1),
         pairs AS (SELECT b.vec_id AS id2
                   FROM asg a JOIN asg b
                     ON a.cid = b.cid AND a.vec_id < b.vec_id
                   JOIN emb e1 ON e1.vec_id = a.vec_id
                   JOIN emb e2 ON e2.vec_id = b.vec_id
                   WHERE round(list_dot_product(e1.v, e2.v), 6) >= 0.4),
         dropped AS (SELECT DISTINCT id2 FROM pairs)
         SELECT g.vec_id, g.cid, (d.id2 IS NULL) AS keep
         FROM asg g LEFT JOIN dropped d ON g.vec_id = d.id2
         ORDER BY g.vec_id"""),

    "x22_classifier" -> logRegOracleSql(64, 8, 1.0),

    "x23_zorder" -> {
      val terms = (for { ki <- 0 until 2; j <- 0 until 16 } yield
        s"(((${if (ki == 0) "a" else "b"} >> $j) & 1) << ${j * 2 + ki})")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_id, user_id % 65536 AS a,
                 (epoch_ns(ts) // 1000 // 3600000000) % 65536 AS b
               FROM events),
          z AS (SELECT event_id, $terms AS zval FROM e)
          SELECT event_id, zval,
                 CAST((zval // 268435456) + 1 AS BIGINT) AS bucket
          FROM z ORDER BY event_id"""
    },

    "x15_bpe_merges" -> bpeOracleSql(12, encode = false),
    "x19_bpe_encode" -> bpeOracleSql(12, encode = true),
    "k4_mmr_rerank" -> mmrOracleSql(k = 10, lambdaRel = "0.7", m = 50,
      queryVecId = 2L)
  )

  /** Unrolled BPE oracle (one CTE block per merge rank) for both the
    * merge table (x15) and the encoded corpus (x19).
    *
    * State encoding: each word's symbol sequence is ONE string with
    * every symbol wrapped in a 0x1F separator — `␟s1␟␟s2␟…` (the corpus
    * is ASCII; a probe pins that 0x1F never occurs in it). Applying a
    * merge (l,r) is then `replace(s, '␟l␟␟r␟', '␟lr␟')`: SQL replace
    * consumes matches left-to-right non-overlapping, which is EXACTLY
    * Bpe.bpeTrain's greedy `i += 2` application, and the full wrapping
    * makes partial-symbol matches impossible. Each rank is a
    * (pair-count, argmax, apply) CTE triple — the same unroll genre as
    * the x22 GD and c1 k-means oracles. MATERIALIZED hints keep the
    * 12-step chain linear (each w_r is referenced twice).
    *
    * The encode branch reuses the training chain's FINAL word state:
    * greedy lowest-rank-first encoding (Bpe.bpeEncode) is equivalent to
    * applying the merges in rank order, each exhaustively left-to-right
    * — any pair CREATED by a merge involves the merged symbol and was
    * therefore learned at a strictly later rank, so rank order never
    * has to revisit an earlier merge. w12 already holds every distinct
    * word fully merged; per-doc output is a positional join back to the
    * token stream.
    */
  private def bpeOracleSql(numMerges: Int, encode: Boolean): String = {
    val S = "\u001f"
    val sb = new StringBuilder
    sb ++= s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents),
         wf AS (SELECT word, count(*) AS freq FROM tk
                WHERE word <> '' GROUP BY word),
         w0 AS MATERIALIZED (SELECT word,
                regexp_replace(word, '(?s)(.)', '$S\\1$S', 'g')
                  || '$S</w>$S' AS s, freq FROM wf)"""
    for (r <- 0 until numMerges) {
      sb ++= s""",
         pc$r AS (SELECT ls[i+1] AS lft, ls[i+2] AS rgt, sum(freq) AS f
                  FROM (SELECT ls, freq, unnest(range(len(ls)-1)) AS i
                        FROM (SELECT string_split(trim(s, '$S'), '$S$S') AS ls,
                                     freq FROM w$r))
                  GROUP BY 1, 2),
         b$r AS MATERIALIZED (SELECT lft, rgt, f FROM pc$r
                ORDER BY f DESC, lft, rgt LIMIT 1),
         w${r + 1} AS MATERIALIZED (SELECT w.word,
                replace(w.s, '$S'||b.lft||'$S$S'||b.rgt||'$S',
                             '$S'||b.lft||b.rgt||'$S') AS s, w.freq
                FROM w$r w CROSS JOIN b$r b)"""
    }
    if (!encode) {
      sb ++= "\n SELECT * FROM (\n"
      sb ++= (0 until numMerges).map(r =>
        s"""SELECT CAST($r AS INTEGER) AS rank, lft AS "left",
            rgt AS "right", CAST(f AS BIGINT) AS freq FROM b$r""")
        .mkString(" UNION ALL ")
      sb ++= ") ORDER BY rank"
    } else {
      sb ++= s""",
         encp AS (SELECT word,
                replace(trim(s, '$S'), '$S$S', ' ') AS pieces_w,
                len(string_split(trim(s, '$S'), '$S$S')) AS n_w
                FROM w$numMerges),
         tok AS (SELECT doc_id, ws, unnest(range(len(ws))) AS i
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents)),
         tokf AS (SELECT doc_id, i, ws[i+1] AS word FROM tok
                  WHERE ws[i+1] <> ''),
         agg AS (SELECT t.doc_id, sum(e.n_w) AS n_pieces,
                        string_agg(e.pieces_w, ' ' ORDER BY t.i) AS pieces_str
                 FROM tokf t JOIN encp e USING (word) GROUP BY t.doc_id)
         SELECT d.doc_id, CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
                coalesce(a.pieces_str, '') AS pieces_str
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""
    }
    sb.toString
  }

  /** Unrolled MMR oracle: k greedy selection steps, each an argmax over
    * the ≤m candidates (the same unroll genre as c1's k-means). Mirrors
    * SimilaritySearch.mmrRerank exactly: relevance rounded to 6 dp, the
    * max-sim penalty on UNROUNDED dots, tie order = candidate-array
    * position (score DESC, vec_id ASC) via strict `>`, λ constants
    * written as the identical double expressions ((1.0 - λ) — not a
    * pre-folded literal — so both engines evaluate the same double).
    */
  private def mmrOracleSql(k: Int, lambdaRel: String, m: Int,
      queryVecId: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                     FROM embeddings),
         q AS (SELECT v AS qv FROM emb WHERE vec_id = $queryVecId),
         cand AS MATERIALIZED (
           SELECT e.vec_id, e.v,
                  round(list_dot_product(e.v, q.qv), 6) AS score
           FROM emb e CROSS JOIN q WHERE e.vec_id <> $queryVecId
           ORDER BY score DESC, e.vec_id LIMIT $m),
         sel1 AS MATERIALIZED (
           SELECT vec_id, v, score, $lambdaRel * score AS s, 1 AS rnk
           FROM cand ORDER BY s DESC, score DESC, vec_id LIMIT 1),
         selall1 AS MATERIALIZED (SELECT * FROM sel1)"""
    for (r <- 2 to k) {
      val p = r - 1
      sb ++= s""",
         ms$r AS (SELECT c.vec_id, c.v, c.score,
                        max(list_dot_product(c.v, s.v)) AS msim
                  FROM cand c CROSS JOIN selall$p s
                  WHERE c.vec_id NOT IN (SELECT vec_id FROM selall$p)
                  GROUP BY c.vec_id, c.v, c.score),
         sel$r AS MATERIALIZED (
           SELECT vec_id, v, score,
                  $lambdaRel * score - (1.0 - $lambdaRel) * msim AS s,
                  $r AS rnk
           FROM ms$r ORDER BY s DESC, score DESC, vec_id LIMIT 1),
         selall$r AS MATERIALIZED (
           SELECT * FROM selall$p UNION ALL SELECT * FROM sel$r)"""
    }
    sb ++= s"""
         SELECT vec_id, score,
                round(s * 1000000.0) / 1000000.0 AS mmr_score,
                CAST(rnk AS BIGINT) AS mmr_rank
         FROM selall$k ORDER BY mmr_rank"""
    sb.toString
  }

  /** Unrolled full-batch logistic-regression oracle: feature hash =
    * polynomial-31 over char codes mod 2²⁰ mod dim (list_reduce with a
    * prepended init of 7 — TextClassifier.hashIdx's exact recipe), then
    * one (score, residual, gradient, weights, bias) CTE block per GD
    * step. Mean gradient, zero init, fixed iteration count.
    */
  private def logRegOracleSql(dim: Int, iters: Int, lr: Double): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH tk AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
         tkf AS MATERIALIZED (SELECT doc_id, tok FROM tk WHERE tok <> ''),
         nt AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n
                FROM tkf GROUP BY doc_id),
         fh AS MATERIALIZED (SELECT doc_id,
                       list_reduce(list_prepend(CAST(7 AS BIGINT),
                         list_transform(regexp_extract_all(tok, '.'),
                           c -> CAST(ord(c) AS BIGINT))),
                         (a, b) -> (a * 31 + b) % 1048576) % $dim AS i
                FROM tkf),
         f AS MATERIALIZED (SELECT fh.doc_id, fh.i,
                      CAST(count(*) AS DOUBLE) / nt.n AS x
               FROM fh JOIN nt ON fh.doc_id = nt.doc_id
               GROUP BY fh.doc_id, fh.i, nt.n),
         y AS MATERIALIZED (SELECT doc_id,
                      CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
               FROM documents),
         nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         w0 AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS i, 0.0 AS w FROM range($dim) t(i)),
         b0 AS MATERIALIZED (SELECT 0.0 AS b)"""
    for (k <- 1 to iters) {
      val p = k - 1
      sb ++= s""",
         s$k AS MATERIALIZED (SELECT f.doc_id, sum(f.x * w.w) AS s
                 FROM f JOIN w$p w USING (i) GROUP BY f.doc_id),
         r$k AS MATERIALIZED (SELECT y.doc_id,
                        1.0 / (1.0 + exp(-(coalesce(s.s, 0)
                          + (SELECT b FROM b$p)))) - y.y AS r
                 FROM y LEFT JOIN s$k s ON y.doc_id = s.doc_id),
         g$k AS MATERIALIZED (SELECT f.i, sum(r.r * f.x) AS g
                 FROM f JOIN r$k r ON f.doc_id = r.doc_id GROUP BY f.i),
         w$k AS MATERIALIZED (SELECT w.i, w.w - $lr * coalesce(g.g, 0)
                   / (SELECT n FROM nn) AS w
                 FROM w$p w LEFT JOIN g$k g ON w.i = g.i),
         b$k AS MATERIALIZED (SELECT (SELECT b FROM b$p) - $lr * (SELECT sum(r) FROM r$k)
                   / (SELECT n FROM nn) AS b)"""
    }
    sb ++= s""",
         sf AS MATERIALIZED (SELECT f.doc_id, sum(f.x * w.w) AS s
                FROM f JOIN w$iters w USING (i) GROUP BY f.doc_id)
         SELECT y.doc_id, y.y AS label,
                round(1.0 / (1.0 + exp(-(coalesce(s.s, 0)
                  + (SELECT b FROM b$iters)))), 4) AS prob
         FROM y LEFT JOIN sf s ON y.doc_id = s.doc_id
         ORDER BY y.doc_id"""
    sb.toString
  }

  /** Unrolled deterministic spherical-k-means CTE prefix (emb, c0,
    * and per-iteration a/g/m/mm/mv/nv/c blocks ending at c<iters>):
    * seeds = first k vectors by id, assignment = argmax dot with ties
    * to the smaller cid, update = unit-normalized per-dimension mean,
    * empty clusters carry the previous centroid — the exact semantics
    * of SimilaritySearch.clusterDocs/kmeansCentroids.
    */
  private def kmeansOracleCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                     FROM embeddings),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                    AS BIGINT) AS cid, v AS cvec
                FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT $k))"""
    for (j <- 1 to iters) {
      val p = j - 1
      sb ++= s""",
         a$j AS (SELECT e.vec_id, e.v, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid)
                         AS rk
                FROM emb e CROSS JOIN c$p c),
         g$j AS (SELECT vec_id, v, cid FROM a$j WHERE rk = 1),
         m$j AS (SELECT cid, generate_subscripts(v, 1) AS i,
                        unnest(v) AS x
                 FROM g$j),
         mm$j AS (SELECT cid, i, avg(x) AS m FROM m$j GROUP BY cid, i),
         mv$j AS (SELECT cid, list(m ORDER BY i) AS mv
                  FROM mm$j GROUP BY cid),
         nv$j AS (SELECT cid, list_transform(mv, z -> z /
                    sqrt(list_sum(list_transform(mv, w -> w * w)))) AS nvec
                  FROM mv$j),
         c$j AS (SELECT c.cid, coalesce(n.nvec, c.cvec) AS cvec
                 FROM c$p c LEFT JOIN nv$j n ON c.cid = n.cid)"""
    }
    sb.toString
  }

  /** Unrolled power-iteration PageRank oracle: recursive CTEs cannot
    * aggregate over the recursive table, so each iteration k becomes a
    * (dangling-mass, contribution, rank) CTE triple. The damping
    * constants are written as the same double expressions the Spark
    * side evaluates ((1.0 - 0.85), 0.85) so both engines round the
    * identical value.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT CAST(l.l_suppkey AS BIGINT) AS src,
                    CAST(100000 + o.o_custkey AS BIGINT) AS dst
             FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             UNION ALL
             SELECT CAST(100000 + c_custkey AS BIGINT),
                    CAST(200000 + c_nationkey AS BIGINT) FROM customer)),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS od
                 FROM e GROUP BY src),
         p0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for (k <- 1 to iters) {
      val p = k - 1
      sb ++= s""",
         d$k AS (SELECT coalesce(sum(p.rank), 0) AS m FROM p$p p
                 LEFT JOIN deg g ON p.id = g.src WHERE g.src IS NULL),
         c$k AS (SELECT e.dst AS id, sum(p.rank / g.od) AS contrib
                 FROM p$p p JOIN deg g ON p.id = g.src
                 JOIN e ON e.src = p.id GROUP BY e.dst),
         p$k AS (SELECT o.id,
                   (1.0 - 0.85) / (SELECT n FROM nn)
                   + 0.85 * (coalesce(c.contrib, 0)
                     + (SELECT m FROM d$k) / (SELECT n FROM nn)) AS rank
                 FROM nodes o LEFT JOIN c$k c ON o.id = c.id)"""
    }
    sb ++= s"""
         SELECT id, round(rank, 6) AS rank FROM p$iters ORDER BY id"""
    sb.toString
  }

  private def coreOracle: Map[String, String] = Map(
    "s4_scan" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    // the CSV round-trip recovery contract: quarantine drops the
    // malformed rows, trim undoes the in-quote padding, distinct
    // undoes the duplicated lines — what remains is exactly the
    // injected clean corpus
    "s9_csv_ingest" ->
      """SELECT DISTINCT doc_id,
                trim(CASE WHEN doc_id % 7 = 0 THEN text || ' x,"y'
                          ELSE text END) AS text
         FROM documents
         WHERE trim(CASE WHEN doc_id % 7 = 0 THEN text || ' x,"y'
                         ELSE text END) <> ''
         ORDER BY doc_id""",

    // the fixture routes doc_id % 11 = 0 to missing:text, plus exactly
    // 10 synthesized malformed lines; everything else lands per-lang
    "s10_jsonl_ingest" ->
      """SELECT 'ok:' || lang AS bucket, count(*)::BIGINT AS n
         FROM documents WHERE doc_id % 11 <> 0 GROUP BY lang
         UNION ALL
         SELECT 'quarantined:malformed', 10::BIGINT
         UNION ALL
         SELECT 'quarantined:missing:text', count(*)::BIGINT
         FROM documents WHERE doc_id % 11 = 0
         ORDER BY bucket""",

    "s5_emb_scan_dims" ->
      """SELECT count(*) AS n_vecs,
         count(DISTINCT len(embedding)) AS n_dims,
         min(len(embedding)) AS dim
         FROM embeddings""",

    "p1_point_lookup" ->
      """SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42""",

    "p2_filter_eq" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_custkey = 7 ORDER BY o_orderkey""",

    "p6_disjunctive" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE user_id = 11 OR event_type = 'signup' ORDER BY event_id""",

    "p8_prune_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_discount > 0.07
         ORDER BY l_orderkey, l_linenumber""",

    "a1_counts" ->
      """SELECT count(*) AS n_rows,
         count(DISTINCT l_orderkey) AS n_orders,
         round(sum(l_quantity), 4) AS sum_qty,
         round(min(l_extendedprice), 4) AS min_price,
         round(max(l_extendedprice), 4) AS max_price
         FROM lineitem""",

    "a5_norm_check" ->
      """WITH n AS (
           SELECT sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings)
         SELECT count(*) AS n,
                sum(CASE WHEN abs(nrm - 1.0) > 0.001 THEN 1 ELSE 0 END)::BIGINT AS n_bad,
                round(min(nrm), 4) AS min_norm,
                round(max(nrm), 4) AS max_norm
         FROM n""",

    "a7_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
         round(avg(l_quantity), 6) AS avg_qty,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "j1_doc_emb_join" ->
      """SELECT d.doc_id, d.lang, e.label,
         round(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS nrm
         FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         WHERE e.label = 3
         ORDER BY d.doc_id""",

    "j2_join_agg_topk" ->
      """SELECT o.o_orderkey,
         round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
         count(*) AS n_lines
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'
         GROUP BY o.o_orderkey
         ORDER BY revenue DESC, o.o_orderkey
         LIMIT 20""",

    "t1_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC
         LIMIT 100""",

    "v1_retrieve_topk" ->
      """WITH q AS (
           SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id,
                  round(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) AS score
           FROM embeddings e, q
           ORDER BY score DESC, e.vec_id
           LIMIT 10)
         SELECT s.vec_id, s.score, d.lang, d.n_chars
         FROM scored s JOIN documents d ON s.vec_id = d.doc_id
         ORDER BY s.score DESC, s.vec_id"""
  )
}
