package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lexical (BM25) full-text retrieval over the documents table — the
  * keyword-side complement of the engine's vector retrieval (SURVEY
  * §3.1): classic probabilistic ranking (Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework: BM25 and Beyond" — public
  * paper), built posting-list-style from DataFrame ops.
  *
  * Scale shape: [[buildIndex]] is the one corpus-wide pass (explode →
  * two aggregations — the inverted-index build a 100 TB deployment runs
  * once and persists, bucketed by term). [[bm25TopK]]'s query path then
  * touches ONLY the postings of the query's terms: the term filter is
  * pushed into the scan (a term-bucketed/partitioned postings table
  * prunes to the query's buckets), document-frequency and corpus stats
  * are broadcast scalars, and the final ranking is a
  * TakeOrderedAndProject — no corpus-wide shuffle at query time.
  */
object TextRetrieval {

  /** Tokenizer switch shared by every lexical entry point: the corpus
    * contract's single-space split, or [[TextAnalysis.tokensUnicode]]
    * (lower-cased letter/digit runs) for punctuated real-world corpora
    * where `split(' ')` would glue "word." and "Word" into distinct
    * spurious terms.
    */
  private def tokenize(textCol: String, unicode: Boolean) =
    if (unicode) TextAnalysis.tokensUnicode(col(textCol))
    else TextAnalysis.tokens(col(textCol))

  /** Driver-side twin of the tokenizer for QUERY strings — retrieval
    * must tokenize the query exactly as the index build tokenized the
    * corpus, or multi-word/punctuated queries silently miss postings.
    */
  def tokenizeQuery(query: String, unicode: Boolean): Seq[String] =
    if (!unicode) query.split(" ").filter(_.nonEmpty).distinct.toSeq
    else {
      val m = java.util.regex.Pattern.compile("[\\p{L}\\p{N}]+")
        .matcher(query.toLowerCase(java.util.Locale.ROOT))
      val b = Seq.newBuilder[String]
      while (m.find()) b += m.group(0)
      b.result().distinct
    }

  /** One-pass index build: per-(doc, term) frequencies plus per-doc
    * lengths. `postings` is the table a deployment persists bucketed by
    * `term`; `docLens` by `doc_id`. The corpus is exploded exactly once
    * — doc lengths aggregate the postings (Σtf per doc), not a second
    * scan — and the postings are cached because every consumer
    * ([[bm25TopK]]'s tf/df/dl/stats branches) re-reads them: without
    * the cache Catalyst re-evaluates the corpus explode per branch.
    */
  def buildIndex(docs: DataFrame, textCol: String = "text",
      unicode: Boolean = false): (DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"),
      explode(tokenize(textCol, unicode)).as("term"))
    val postings = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .cache()
    // docLens is one row per doc but costs a full shuffle over
    // postings to derive; the multi-pass consumers (BM25's stats agg +
    // per-doc join, RM3's three passes) each re-derived it — caching
    // collapses up to five of those shuffles per query into one
    // (round 14: b4_rm3_expansion was the most expensive part-1 point
    // at 11.6 s largely from exactly this)
    val docLens = postings.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"))
      .cache()
    (postings, docLens)
  }

  /** Corpus vocabulary heavy hitters: the top-k terms by total
    * occurrence count — the vocabulary/BPE-prep step of a training
    * pipeline. Two-phase aggregation (map-side partial counts, then a
    * TakeOrderedAndProject over the merged term counts): the full
    * vocabulary never sorts globally and the corpus never shuffles —
    * only (term, partial-count) pairs do.
    */
  def vocabTopK(docs: DataFrame, k: Int, textCol: String = "text",
      unicode: Boolean = false): DataFrame =
    docs.select(explode(tokenize(textCol, unicode)).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("term"))
      .limit(k)

  /** Per-document keyword extraction: the top `perDoc` terms of each
    * document by tf-idf (idf = ln(N/df), distinct-presence df). The
    * ranking window is partitioned by doc_id — no global sort — and
    * document frequencies are a broadcast map-side join (the distinct
    * term set is vocabulary-sized, not corpus-sized).
    *
    * CACHE NOTE: like [[bm25TopK]], the tf cache backs the returned
    * lazy plan and lives until the session drops it — one-shot use.
    */
  def tfidfKeywords(docs: DataFrame, perDoc: Int,
      textCol: String = "text", unicode: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(tokenize(textCol, unicode)).as("term"))
    // cached: both the scoring branch and the document frequencies read
    // it, and without the cache each branch re-explodes the corpus
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .cache()
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    // rank on the ROUNDED score: mathematically-tied terms reached via
    // different FP paths (2·ln2 vs ln4) could otherwise tie-break in
    // opposite directions across engines
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), col("term"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n") / col("df")), 6).as("tfidf"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= perDoc)
      .select(col("doc_id"), col("term"),
        col("tfidf"), col("rk").cast("long").as("rk"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke, Buettcher 2009 — public
    * paper) of two candidate lists: hybrid lexical+vector retrieval.
    * rrf(d) = Σ_lists 1/(c + rank_list(d)), missing-from-list
    * contributes 0. Rank-based, so fusion is exact across engines.
    *
    * Inputs are top-k lists (k-bounded, tiny): the rank windows sort
    * dozens of rows, not the corpus — the corpus-scale work happened in
    * the per-modality retrievals.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    // the inputs are RESULT LISTS (top-k of a retrieval call — k rows
    // by contract, not corpus-sized), so ranking them is an O(k)
    // single-partition step by design: coalesce(1) + in-partition sort
    // + consecutive ids, NOT a global window (which the plan audit
    // bans outright because on an unbounded input it is a scale-killer
    // — here the bound comes from the callers' limit(k))
    def ranked(df: DataFrame, rcol: String) =
      df.coalesce(1)
        .sortWithinPartitions(desc("score"), col("doc_id"))
        .select(col("doc_id"),
          (monotonically_increasing_id() + 1L).as(rcol))
    ranked(a, "r_lex").join(ranked(b, "r_vec"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(c) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("r_vec")), lit(0.0)), 6).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(k)
  }

  /** BM25 top-k for a bag of query terms.
    *
    * score(d) = Σ_t ln(1 + (N - df + 0.5) / (df + 0.5))
    *              · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Ties break on ascending doc id; scores are rounded to 6 decimals
    * (oracle-determinism convention — double addition order across
    * engines differs below that).
    *
    * CACHE NOTE: this one-shot composition builds (and caches) the
    * postings for a single query; the cache backs the returned lazy
    * plan, so it cannot be unpersisted here and lives until the session
    * drops it. Issuing many queries? Build once with [[buildIndex]] and
    * call [[bm25TopKIndexed]] (unpersisting when done), or use the
    * store's persisted lexical tier — that is the deployment path.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", unicode: Boolean = false): DataFrame = {
    val (postings, docLens) = buildIndex(docs, textCol, unicode)
    bm25TopKIndexed(postings, docLens, queryTerms, k, k1, b)
  }

  /** The pure query path over a prebuilt (possibly persisted) index —
    * what a deployment (and [[graft.core.KbStore.bm25Retrieve]]) calls:
    * document frequencies and corpus stats re-derive from the stored
    * tables, so the index refreshes incrementally by doc id with no
    * stats table to maintain.
    */
  def bm25TopKIndexed(postings: DataFrame, docLens: DataFrame,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // only the query terms' postings survive the filter — on a
    // term-bucketed postings table this is partition pruning, not a scan
    val tf = postings.where(col("term").isin(queryTerms: _*))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = docLens.agg(avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n"))
    tf.join(broadcast(dfreq), "term")
      .join(docLens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** A postings table held on the driver, from its (term, doc_id, tf)
    * rows: each term's posting rows, in table order. With the
    * [[DocLengths]] of the same index it answers [[bm25TopKIndexed]]
    * without a Spark job ([[Postings.bm25TopK]]). */
  final class Postings(rows: Array[(String, Long, Double)]) {
    private val byTerm: Map[String, (Array[Long], Array[Double])] =
      rows.groupBy(_._1).view
        .mapValues(rs => (rs.map(_._2), rs.map(_._3))).toMap

    /** [[bm25TopKIndexed]] over these postings and `lens`, with its
      * formula in its operation order: ln is `StrictMath.log` (what
      * Spark's `log` evaluates), df counts the term's posting rows, n
      * and avgdl come from `lens`, a doc with no length row drops out
      * (the inner join), scores round HALF_UP to 6 dp and order by
      * (score desc, doc_id asc).
      *
      * One step may differ: a doc sums its per-term contributions in
      * query-term order, Spark's hash aggregate in an order of its
      * own. Two doubles add the same either way, so queries of one or
      * two terms score bit-identically; from three terms on the sum may
      * differ by an ulp before rounding, which moves the 6-dp score
      * only when it sits on a rounding boundary.
      */
    def bm25TopK(lens: DocLengths, queryTerms: Seq[String], k: Int,
        k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double)] = {
      require(queryTerms.nonEmpty, "queryTerms must be non-empty")
      // per doc slot of `lens`: the sum so far, and whether any term hit
      val sums = new Array[Double](lens.ids.length)
      val hit = new Array[Boolean](lens.ids.length)
      val hits = Array.newBuilder[Int]
      queryTerms.distinct.foreach { t =>
        byTerm.get(t).foreach { case (docIds, tfs) =>
          val df = docIds.length.toDouble
          val idf = StrictMath.log(1.0 + (lens.n - df + 0.5) / (df + 0.5))
          var i = 0
          while (i < docIds.length) {
            val j = lens.slotOf(docIds(i))
            if (j >= 0) {
              val tf = tfs(i)
              sums(j) += idf * (tf * (k1 + 1.0)) /
                (tf + k1 * ((1.0 - b) + b * lens.dl(j) / lens.avgdl))
              if (!hit(j)) { hit(j) = true; hits += j }
            }
            i += 1
          }
        }
      }
      SimilaritySearch.topKRound6(
        hits.result().map(j => (lens.ids(j), sums(j))), k).toSeq
    }
  }

  /** A doc-lengths table held on the driver, from its (doc_id, dl)
    * rows (one per doc, as the keyed table holds them), with the corpus
    * stats BM25 derives from it. Each dl is a sum of whole-number tf
    * values, so the total, and avgdl, are exact in any order. */
  final class DocLengths(rows: Array[(Long, Double)]) {
    private[ops] val ids: Array[Long] = rows.map(_._1)
    private[ops] val dl: Array[Double] = rows.map(_._2)
    private val slots = scala.collection.mutable.LongMap.from(ids.zipWithIndex)
    /** The slot of `docId` in [[ids]] and [[dl]], -1 without a row. */
    private[ops] def slotOf(docId: Long): Int = slots.getOrElse(docId, -1)
    private[ops] val n: Double = rows.length.toDouble
    private[ops] val avgdl: Double = dl.sum / n
  }

  /** RM3 pseudo-relevance feedback term weights (Lavrenko & Croft's
    * relevance model, interpolated with the original query — the
    * standard query-expansion default of Indri/Anserini). The top
    * `fbDocs` BM25 hits vote on expansion terms: each feedback doc
    * contributes its maximum-likelihood term distribution tf/dl,
    * weighted by its normalized retrieval score; the top `fbTerms`
    * terms of that relevance model are interpolated with the original
    * query's term distribution at mixing weight `alpha`:
    * w(t) = (1−α)·P(t|Q) + α·RM(t), over the union of the query terms
    * and the truncated model.
    *
    * Plan shape: the feedback set is ≤ fbDocs rows (broadcast), so the
    * relevance model is ONE broadcast-pruned pass over postings — the
    * corpus-size tables never shuffle for it. Deterministic: fb scores
    * arrive 6-dp rounded from [[bm25TopKIndexed]]; RM(t) and w(t)
    * round to 6 dp; truncation ties break on ascending term.
    *
    * Output: (term, w) with w > 0 — the input [[bm25TopKWeighted]]
    * takes.
    */
  def rm3TermWeights(postings: DataFrame, docLens: DataFrame,
      queryTerms: Seq[String], fbDocs: Int, fbTerms: Int,
      alpha: Double, k1: Double = 1.2, b: Double = 0.75,
      fbPostings: Option[DataFrame] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val spark = postings.sparkSession
    import spark.implicits._
    // the feedback pass touches only the query terms' postings — a
    // deployment with a term-bucketed table passes the bucket-pruned
    // view here (KbStore.rm3Retrieve) while the relevance model still
    // reads `postings` (all terms of the fb docs, doc-keyed prune)
    val fb = bm25TopKIndexed(fbPostings.getOrElse(postings), docLens,
        queryTerms, fbDocs, k1, b)
      .where(col("score") > 0.0)
    val z = fb.agg(sum(col("score")).as("z"))
    val wd = fb.crossJoin(broadcast(z))
      .select(col("doc_id"), (col("score") / col("z")).as("wd"))
    // fb doc lengths ride with the broadcast weights, so the relevance
    // model is postings ⨝ broadcast(≤fbDocs rows): a semi-join prune of
    // the corpus-size postings, no shuffle
    val fbLens = docLens.join(broadcast(wd), "doc_id")
    val rmTop = postings.join(broadcast(fbLens), "doc_id")
      .groupBy(col("term"))
      .agg(round(sum(col("wd") * col("tf") / col("dl")), 6).as("rm"))
      .orderBy(desc("rm"), col("term"))
      .limit(fbTerms)
    val total = queryTerms.size.toDouble
    val orig = queryTerms.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble / total) }
      .toDF("term", "p_orig")
    orig.join(rmTop, Seq("term"), "full_outer")
      .select(col("term"),
        round(coalesce(col("p_orig"), lit(0.0)) * (1.0 - alpha) +
          coalesce(col("rm"), lit(0.0)) * alpha, 6).as("w"))
      .where(col("w") > 0.0)
  }

  /** Weighted BM25: score(d) = Σ_t w(t) · idf(t) · tf-saturation(t, d)
    * — the rescoring half of RM3 (and of any term-weighted query:
    * boosted fields, decayed history terms). Same plan shape as
    * [[bm25TopKIndexed]] except the term filter is a broadcast join
    * against the (small) weight table rather than a static `isin`.
    */
  def bm25TopKWeighted(postings: DataFrame, docLens: DataFrame,
      weights: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = postings.join(broadcast(weights), "term")
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = docLens.agg(avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n"))
    tf.join(broadcast(dfreq), "term")
      .join(docLens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (col("w") *
          log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** One-shot RM3 retrieval: initial BM25 pass → relevance-model
    * expansion → weighted rescore. `alpha = 0` degenerates to plain
    * BM25 up to the query's ML weighting (spec-pinned); the reference
    * has no lexical retrieval at all — this is the expansion rung above
    * the engine's own BM25 tier.
    */
  def rm3TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      fbDocs: Int = 10, fbTerms: Int = 10, alpha: Double = 0.5,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", unicode: Boolean = false): DataFrame = {
    val (postings, docLens) = buildIndex(docs, textCol, unicode)
    val w = rm3TermWeights(postings, docLens, queryTerms, fbDocs, fbTerms,
      alpha, k1, b)
    bm25TopKWeighted(postings, docLens, w, k, k1, b)
  }
}
