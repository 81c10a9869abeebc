package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (SURVEY §7.5).
  *
  * Baseline: exact brute-force top-k (the reference's only mode —
  * matrix·vector scoring, `/root/reference/src/svs/kb.py:1184-1189`).
  * Scale path: sign-LSH bucketing (axis hyperplanes), which turns the
  * all-pairs scan into a bucket-equi-join — the candidate set shrinks
  * ~2^bits while recall stays high for near-duplicate-grade similarity.
  *
  * Brute force distributes as: broadcast the query vector(s), one narrow
  * map computes scores, TakeOrderedAndProject does the per-partition
  * bounded top-k + merge — no shuffle of the corpus itself. The knn join
  * broadcasts the (small) query side and window-ranks per query.
  */
object SimilaritySearch {

  /** Exact top-k by dot product against one stored vector. */
  def topK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val qv = emb.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding")).as("qv"))
    emb.crossJoin(broadcast(qv))
      .select(col("vec_id"), round(dot(asDouble(col("embedding")), col("qv")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Filtered vector search, pre-filter strategy: exact top-k by dot
    * product among the rows satisfying `pred`. The reference has no
    * filtered retrieval (retrieve scores the whole matrix,
    * `/root/reference/src/svs/kb.py:1184-1189`, and callers post-filter
    * in Python); production vector stores treat predicate + top-k as one
    * operator because WHERE the predicate runs decides the cost at
    * scale.
    *
    * Pre-filter is the exact path and the right one when the predicate
    * is selective: the filter sits directly on the scan, so against a
    * parquet corpus it reaches the reader (`PushedFilters` — row groups
    * whose stats exclude the predicate are never read) and the dot
    * kernel runs ONLY on surviving rows. Plan shape: scan(+pushed
    * filter) → narrow map → TakeOrderedAndProject; no shuffle of the
    * corpus, identical to [[topK]] minus the skipped rows.
    *
    * Output: (vec_id, label-preserving `keep` columns…, score).
    */
  def filteredTopK(emb: DataFrame, pred: org.apache.spark.sql.Column,
      queryVec: DataFrame, k: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val cols = (col("vec_id") +: keep.map(col)) :+
      round(dot(asDouble(col("embedding")), col("qv")), 6).as("score")
    emb.filter(pred)
      .crossJoin(broadcast(queryVec))
      .select(cols: _*)
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Filtered vector search, IVF post-filter strategy: probe the
    * `nProbe` lists closest to the query and apply `pred` to the probed
    * candidates BEFORE the dot kernel, so a non-selective predicate
    * over a huge corpus pays IVF's probed-lists cost (not a full scan)
    * and the scoring kernel still only runs on rows that can appear in
    * the result. Approximate like every IVF probe — a matching row
    * whose list was not probed is missed — and exact when `nProbe`
    * covers all lists ([[filteredTopK]] equivalence is spec-pinned).
    * The standard failure mode of post-filtering (k survivors don't
    * exist inside the probed lists) is the caller's dial: raise
    * `nProbe` — the probe cost is linear in lists touched, and the
    * predicate keeps the scored row count at selectivity × list size.
    */
  def filteredTopKIvf(assigned: DataFrame, centroids: DataFrame,
      pred: org.apache.spark.sql.Column, queryVec: DataFrame, k: Int,
      nProbe: Int, keep: Seq[String] = Nil): DataFrame = {
    val probes = centroids.crossJoin(broadcast(queryVec))
      .select(col("cid"),
        dot(asDouble(col("cvec")), col("qv")).as("pscore"))
      .orderBy(desc("pscore"), col("cid"))
      .limit(nProbe)
      .select(col("cid"))
    val cols = (col("vec_id") +: keep.map(col)) :+
      round(dot(asDouble(col("embedding")), col("qv")), 6).as("score")
    assigned.join(broadcast(probes), "cid")
      .filter(pred)
      .crossJoin(broadcast(queryVec))
      .select(cols: _*)
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Matryoshka (truncated-dimension) two-stage retrieval (Kusupati et
    * al., "Matryoshka Representation Learning", NeurIPS'22): shortlist
    * by cosine over the FIRST `dPrime` dimensions (renormalized — MRL
    * embeddings are trained so prefixes are usable sub-embeddings),
    * then re-rank the shortlist with the full-dimension dot product.
    * With d' = d/8 the shortlist scan reads/multiplies 8× less data —
    * the cheap first tier of a funnel retrieval, independent of (and
    * composable with) quantization.
    *
    * Scale shape: both stages are broadcast-query narrow maps; stage 1
    * is a TakeOrderedAndProject over the truncated scores, stage 2
    * re-scores only `shortlist` rows via an id semi-join against the
    * corpus. Deterministic: scores rounded to 6 dp before ranking, ties
    * break on vec_id, so results are engine-portable (the DuckDB twin
    * is exact, not recall-gated).
    *
    * Output: (vec_id, score, t_score) — full-d and truncated cosine.
    */
  def matryoshkaTopK(emb: DataFrame, queryVecId: Long, dPrime: Int,
      shortlist: Int, k: Int): DataFrame = {
    require(dPrime >= 1, s"dPrime must be >= 1: $dPrime")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"),
        slice(asDouble(col("embedding")), 1, dPrime).as("tv"))
      .withColumn("tn", sqrt(dot(col("tv"), col("tv"))))
      .where(col("tn") > 0) // all-zero prefixes have no truncated cosine
    val q = base.where(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("tv").as("qtv"), col("tn").as("qtn"))
    val pre = base.crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), col("qv"),
        round(dot(col("tv"), col("qtv")) / (col("tn") * col("qtn")), 6)
          .as("t_score"))
      .orderBy(desc("t_score"), col("vec_id"))
      .limit(shortlist)
    pre.select(col("vec_id"),
        round(dot(col("v"), col("qv")), 6).as("score"), col("t_score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Late-interaction (multi-vector) retrieval — MaxSim (ColBERT,
    * Khattab & Zaharia, SIGIR 2020). A document is a SET of token
    * vectors, the query is a (small) set of token vectors, and
    * score(Q, D) = Σ_{q∈Q} max_{d∈D} q·d — each query token matches its
    * best doc token independently, which is what makes the scheme robust
    * to word order and partial matches. The reference is single-vector
    * only (one embedding per doc, `/root/reference/src/svs/kb.py:
    * 1184-1189`); late interaction is the standard next rung of
    * retrieval quality a training-data pipeline reaches for.
    *
    * Plan shape at 100 TB: `tokenVecs` (doc_id, embedding — MANY rows
    * per doc) is scanned ONCE; the m query tokens are broadcast and
    * expand each corpus row m-fold inside the map stage (m is small —
    * tens). The (doc_id, qidx) max is a hash aggregate with map-side
    * partial combine, so the shuffle carries at most |docs|·m narrow
    * rows, not the corpus; the per-doc sum is a second, |docs|-row
    * aggregate; top-k is TakeOrderedAndProject. No corpus-side shuffle
    * of vectors, no window over a single partition.
    *
    * Deterministic: the per-(doc, token) max is order-independent, the
    * per-doc sum is rounded to 6 dp before ranking, ties break on
    * doc_id — engine-portable, so the DuckDB twin is exact.
    *
    * Output: (doc_id, score), top-k by score desc, doc_id asc.
    */
  def maxSimTopK(tokenVecs: DataFrame, queryVecs: DataFrame,
      k: Int): DataFrame = {
    tokenVecs
      .crossJoin(broadcast(queryVecs.select(col("qidx"), col("qv"))))
      .select(col("doc_id"), col("qidx"),
        dot(asDouble(col("embedding")), col("qv")).as("s"))
      .groupBy(col("doc_id"), col("qidx")).agg(max(col("s")).as("m"))
      .groupBy(col("doc_id")).agg(round(sum(col("m")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** IVF-pruned MaxSim — the scale path for [[maxSimTopK]], after
    * PLAID (Santhanam et al., "PLAID: An Efficient Engine for Late
    * Interaction Retrieval", CIKM 2022): exact one-pass MaxSim touches
    * every token vector per query set, so at corpus scale the candidate
    * set must shrink first. Token vectors are clustered (IVF over
    * TOKENS, not docs); each query token probes its `nProbe` closest
    * centroids; candidate docs are ranked by the CENTROID approximation
    * of MaxSim (score(Q, D) ≈ Σ_q max over D's probed centroids of
    * q·c — PLAID's stage-2 bound, computed from the narrow (doc, cid)
    * table with no vector access); only the top `nCandidates` docs pay
    * the exact token-level kernel.
    *
    * Plan shape at 100 TB: the probe ranking is a window over
    * (#query-tokens × nlist) tiny rows; candidate ranking touches ONLY
    * the distinct (doc_id, cid) narrow table (no vectors cross a
    * shuffle); the exact rerank semi-joins the token table on the
    * broadcast candidate id set, so the vector kernel runs on
    * O(nCandidates · tokens-per-doc) rows instead of the corpus.
    *
    * `nProbe = nlist` with `nCandidates ≥ #docs` degenerates to the
    * exact [[maxSimTopK]] (every doc becomes a candidate) —
    * OpsSpec-pinned, and the shape the DuckDB twin replicates at
    * reduced probe. Deterministic: candidate and final scores round to
    * 6 dp before ranking, ties on doc_id.
    *
    * Input: `tokenVecs` (doc_id, embedding — many rows per doc),
    * `centroids` (cid, cvec), `queryVecs` (qidx, qv DOUBLE array).
    * Output: (doc_id, score), top-k by score desc, doc_id asc.
    */
  def maxSimTopKIvf(tokenVecs: DataFrame, centroids: DataFrame,
      queryVecs: DataFrame, k: Int, nProbe: Int,
      nCandidates: Int): DataFrame = {
    // token-level assignment reuses ivfAssign's broadcast-argmax kernel
    // (same tie rule: smaller cid wins) — doc_id rides through as the
    // row id since assignment never groups by it
    val assigned = ivfAssign(
        tokenVecs.select(col("doc_id").as("vec_id"), col("embedding")),
        centroids)
      .select(col("vec_id").as("doc_id"), col("embedding"), col("cid"))
    maxSimTopKIvfAssigned(assigned, centroids, queryVecs, k, nProbe,
      nCandidates)
  }

  /** [[maxSimTopKIvf]] over a pre-assigned token table
    * (doc_id, embedding, cid) — the form a persisted token-level IVF
    * family would feed, so the assignment cost amortizes across
    * queries.
    */
  def maxSimTopKIvfAssigned(assigned: DataFrame, centroids: DataFrame,
      queryVecs: DataFrame, k: Int, nProbe: Int,
      nCandidates: Int): DataFrame = {
    val q = queryVecs.select(col("qidx"), col("qv"))
    // per-query-token probe set: nlist × m rows, window is per-qidx
    val probed = centroids.crossJoin(broadcast(q))
      .select(col("qidx"), col("cid"),
        dot(asDouble(col("cvec")), col("qv")).as("pscore"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qidx")).orderBy(desc("pscore"), col("cid"))))
      .where(col("rk") <= nProbe)
      .select(col("qidx"), col("cid"), col("pscore"))
    // centroid-approximated MaxSim over the narrow (doc, cid) table
    val cand = assigned.select(col("doc_id"), col("cid")).distinct()
      .join(broadcast(probed), "cid")
      .groupBy(col("doc_id"), col("qidx")).agg(max(col("pscore")).as("m"))
      .groupBy(col("doc_id")).agg(round(sum(col("m")), 6).as("appr"))
      .orderBy(desc("appr"), col("doc_id"))
      .limit(nCandidates)
      .select(col("doc_id"))
    // exact MaxSim kernel on candidate docs' tokens only
    assigned.join(broadcast(cand), "doc_id")
      .crossJoin(broadcast(q))
      .select(col("doc_id"), col("qidx"),
        dot(asDouble(col("embedding")), col("qv")).as("s"))
      .groupBy(col("doc_id"), col("qidx")).agg(max(col("s")).as("m"))
      .groupBy(col("doc_id")).agg(round(sum(col("m")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Exact brute-force k-NN join: for every query vector, the top-k
    * scoring candidates. Query side is broadcast; ranking is a window
    * per query id.
    */
  def knnJoin(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val c = candidates.select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("score"), col("cid"))
    c.crossJoin(broadcast(q))
      .select(col("qid"), col("cid"), round(dot(col("cv"), col("qv")), 6).as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** Hard-negative mining for contrastive training (the negatives step
    * of DPR, Karpukhin et al. 2020 §4.2 — public paper): for every
    * query, the top-k highest-scoring candidates that are NOT known
    * positives and not the query itself, optionally skipping the very
    * top `skipTop` ranks (which at high similarity are usually
    * unlabeled duplicates/paraphrases, not negatives — the "denoised"
    * variant of RocketQA, Qu et al. 2021).
    *
    * `positives` is the labeled relation `(qid, cid)`. Ranks are
    * assigned AFTER the exclusions, so the emitted `rk` is the
    * negative's rank among negatives (1-based), shifted past `skipTop`.
    *
    * This is the exact brute-force formulation (broadcast query side,
    * per-query window — the oracle twin). At corpus scale, mine from an
    * ANN join instead: take top-(skipTop+k+|positives per query|)
    * from [[graft.ops.VectorQuant.knnJoinIvfPq]] / `knnJoinIvfPacked`
    * and apply the same anti-join + re-rank — the exclusions and window
    * then touch only k-bounded rows per query.
    */
  def mineHardNegatives(queries: DataFrame, candidates: DataFrame,
      positives: DataFrame, k: Int, skipTop: Int = 1): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv"))
    val c = candidates.select(col("vec_id").as("cid"),
      asDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("score"), col("cid"))
    c.crossJoin(broadcast(q))
      .where(col("qid") =!= col("cid"))
      .join(positives.select(col("qid"), col("cid")),
        Seq("qid", "cid"), "left_anti")
      .select(col("qid"), col("cid"),
        round(dot(col("cv"), col("qv")), 6).as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") > skipTop && col("rk") <= skipTop + k)
  }

  /** Sign-LSH bucket id from the first `bits` embedding coordinates:
    * bit j = (v[j] > 0). Axis-aligned random-hyperplane LSH — fully
    * deterministic and engine-portable.
    */
  def signBucket(vec: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { j =>
      when(element_at(vec, j + 1) > 0.0f, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** IVF (inverted-file) ANN: assign every vector to its best centroid
    * (argmax dot, ties to the smaller centroid id), then answer queries
    * by probing only the `nProbe` centroids closest to the query and
    * scoring candidates within those lists.
    *
    * Scale shape: the assignment is one broadcast join against the
    * (small) centroid set + a per-row argmax — a narrow map; the
    * inverted lists are just a cluster-id column, so "probing" is a
    * partition-prunable equality filter. A k-means refinement of the
    * centroids drops in without changing the query path.
    *
    * @param centroids small DataFrame (cid LONG, cvec ARRAY<FLOAT>)
    */
  def ivfAssign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    // no centroids → no assignments (the agg-to-one-row formulation
    // below would otherwise emit every vector with a null cid)
    if (centroids.isEmpty)
      return emb.select(col("vec_id"), col("embedding"),
        lit(0L).as("cid")).limit(0)
    // The centroid set is tiny by definition, so collapse it to a single
    // array-of-structs row and broadcast that: the per-vector argmax is
    // then one narrow fold per row — zero shuffle, no n×k row expansion
    // surviving the stage, and no Window sort (the old implementation
    // shuffled the corpus k× through row_number). Ties go to the smaller
    // centroid id via struct-ordered array_max on (score, -cid).
    val centsRow = centroids
      .agg(collect_list(struct(col("cid"), asDouble(col("cvec")).as("cv")))
        .as("cents"))
    val best = array_max(transform(col("cents"), c =>
      struct(dot(asDouble(col("embedding")), c.getField("cv")).as("s"),
        (-c.getField("cid")).as("ncid"))))
    emb.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col("embedding"),
        (-best.getField("ncid")).as("cid"))
  }

  /** [[ivfAssign]] over packed-f32 BINARY vectors — the form that holds
    * up at 1M × d1536. An expression formulation would re-decode the
    * row's byte blob once per centroid (byte-decode dominates the dot
    * kernel), so this is the justified `mapPartitions` case: centroids
    * are decoded once per executor from a broadcast, each corpus vector
    * once per row, and the argmax is a tight primitive loop (~0.3µs per
    * (row, centroid) at d1536 — ≈40× the per-pair expression cost).
    * Ties go to the smaller centroid id, like [[ivfAssign]].
    *
    * Input `(id, vec BINARY)`; centroids `(cid, cvec BINARY)`.
    * Output `(vec_id, cid)` — the inverted-list table.
    */
  /** Argmax centroid id for one decoded vector over ascending-cid
    * decoded centroids — the scalar kernel shared by [[ivfAssignPacked]]
    * and [[knnJoinIvfPacked]] (one copy, so tie-break and NaN semantics
    * cannot drift). Strict > keeps the smaller cid on ties; returns -1
    * when no centroid yields a comparable score (a NaN-component
    * vector) — callers drop such rows rather than emit a bogus cid.
    */
  private[ops] def argmaxCid(cs: Array[(Long, Array[Float])],
      v: Array[Float]): Long = {
    var best = -1L
    var bestS = Double.NegativeInfinity
    var ci = 0
    while (ci < cs.length) {
      val s = graft.functions.VecKernels.dotFloats(v, cs(ci)._2)
      if (s > bestS) { bestS = s; best = cs(ci)._1 }
      ci += 1
    }
    best
  }

  def ivfAssignPacked(emb: DataFrame, centroids: DataFrame): DataFrame = {
    import graft.functions.FloatVecDot
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cid"), col("cvec")).collect()
      .map(r => (r.getLong(0), FloatVecDot.unpack(r.getAs[Array[Byte]](1))))
      .sortBy(_._1)
    // no centroids → no assignments (never leak the -1 sentinel)
    if (cents.isEmpty)
      return emb.select(col("id").as("vec_id"), lit(0L).as("cid")).limit(0)
    val bc = spark.sparkContext.broadcast(cents)
    emb.select(col("id"), col("vec")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, vb) =>
          val best = argmaxCid(cs, FloatVecDot.unpack(vb))
          // NaN-component vectors rank against nothing: drop, don't
          // emit cid -1 into the inverted lists
          if (best < 0L) None else Some((id, best))
        }
      }.toDF("vec_id", "cid")
  }

  /** IVF query: probe the top `nProbe` centroids for the query vector,
    * exact-score only their lists.
    */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame,
      queryVec: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probes = centroids.crossJoin(broadcast(queryVec))
      .select(col("cid"),
        dot(asDouble(col("cvec")), col("qv")).as("pscore"))
      .orderBy(desc("pscore"), col("cid"))
      .limit(nProbe)
      .select(col("cid"))
    assigned.join(broadcast(probes), "cid")
      .crossJoin(broadcast(queryVec))
      .select(col("vec_id"), col("cid"),
        round(dot(asDouble(col("embedding")), col("qv")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** k-NN join for LARGE query sides — [[knnJoin]] broadcasts the query
    * set, which caps it at driver memory. Here both sides shuffle on
    * the centroid id instead: every candidate carries its centroid
    * (the packed argmax kernel of [[ivfAssignPacked]]), every query
    * explodes to its `nProbe` closest centroids, and the join is a
    * plain equi-join on `cid` followed by a sort-free per-query top-k
    * (bounded heaps — see below). `nProbe = #centroids` degenerates to
    * the exact join. Output matches [[knnJoin]]:
    * (qid, cid→candidate id, score, rk).
    *
    * Kernels: both the assignment and the probe ranking decode each
    * vector's byte blob ONCE per row in a `mapPartitions` primitive
    * loop against broadcast-decoded centroids (an expression
    * formulation re-decodes the blob per centroid, and the
    * `transform`/`zip_with` array form is interpreted — never
    * codegen'd); the post-join scoring is the codegen'd [[FloatVecDot]]
    * over the packed vectors carried through the shuffle. Math is
    * bit-identical to [[knnJoin]]'s: f32 inputs, sequential double
    * accumulate. Centroids are cast to f32 (they are by construction
    * means of f32 vectors).
    */
  def knnJoinIvf(queries: DataFrame, candidates: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int,
      saltShards: Int = 1): DataFrame = {
    import graft.functions.FloatVecPack.floatVecPack
    knnJoinIvfPacked(
      queries.select(col("vec_id").as("id"),
        floatVecPack(col("embedding")).as("vec")),
      candidates.select(col("vec_id").as("id"),
        floatVecPack(col("embedding")).as("vec")),
      centroids.select(col("cid"),
        floatVecPack(col("cvec").cast("array<float>")).as("cvec")),
      k, nProbe, saltShards)
  }

  /** [[knnJoinIvf]] over already-packed `(id, vec BINARY)` inputs and
    * `(cid, cvec BINARY)` centroids — the form a packed vector store
    * (or [[graft.Bench]]'s 1M corpus) calls without an unpack/repack
    * round trip.
    */
  /** @param saltShards >1 splits every inverted list into that many
    *   shuffle shards: the equi-join key becomes (cid, salt), so a
    *   skewed list (one centroid owning a disproportionate share of
    *   the corpus — common with real cluster structure) spreads over
    *   `saltShards` tasks instead of serializing in one. Candidates
    *   salt by a hash of their id (narrow map); probes replicate
    *   ×saltShards (the SMALL side — queries × nProbe rows). Results
    *   are identical for any value: each (query, candidate) pair still
    *   meets exactly once, in exactly one shard.
    */
  def knnJoinIvfPacked(queries: DataFrame, candidates: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int,
      saltShards: Int = 1): DataFrame = {
    import graft.functions.FloatVecDot
    val spark = queries.sparkSession
    import spark.implicits._
    // the centroid set is tiny by definition: collect decoded ONCE,
    // broadcast; the shared core reuses this collection (no second
    // collect round-trip or duplicate broadcast)
    val cents0 = centroids
      .select(col("cid"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), FloatVecDot.unpack(r.getAs[Array[Byte]](1))))
      .sortBy(_._1)
    if (cents0.isEmpty)
      return queries.select(col("id").as("qid"), lit(0L).as("cid"),
        lit(0.0).as("score"), lit(0).as("rk")).limit(0)
    val bc0 = spark.sparkContext.broadcast(cents0)

    // candidates: packed argmax assignment ([[argmaxCid]] — ties to the
    // smaller cid, NaN vectors dropped), packed vector carried through
    val assigned = candidates
      .select(col("id"), col("vec"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val cs = bc0.value
        it.flatMap { case (id, vb) =>
          val best = argmaxCid(cs, FloatVecDot.unpack(vb))
          if (best < 0L) None else Some((best, id, vb))
        }
      }.toDF("ccid", "cand_id", "cv")
    knnJoinIvfBlockedImpl(queries, assigned, cents0, k, nProbe, saltShards)
  }

  /** The probe+join core over a PRE-ASSIGNED candidate table
    * `(ccid, cand_id, cv BINARY)` — what a deployment calls when the
    * assignment is a PERSISTED index table (e.g. the store's
    * `ivf_assign` joined back to its packed vectors): per-call cost is
    * probe ranking + post-join scoring + bounded heaps only; the
    * one-time assignment pass over the corpus is amortized into index
    * maintenance instead of being paid per join.
    */
  /** @param blocked selects the pair-enumeration core: `true` (default)
    *   runs the tagged-union cid-block kernel — NO per-pair row ever
    *   materializes, so the d-sized vector blob is deserialized once
    *   per row, not once per pair (the equi-join formulation copies the
    *   6 KB blob into every joined row: ~queries×nProbe×listSize×d×4
    *   bytes of pure memcpy at scale, the measured wall-clock dominator
    *   of the 10k×1M bench shape). `false` keeps the relational
    *   shuffle-hash-join core — the form that composes with a
    *   ccid-bucketed candidate table's exchange-free scan
    *   ([[knnJoinIvfBucketed]]).
    */
  def knnJoinIvfAssigned(queries: DataFrame, assigned: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int,
      saltShards: Int = 1, blocked: Boolean = true): DataFrame = {
    import graft.functions.FloatVecDot
    val cents = centroids
      .select(col("cid"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), FloatVecDot.unpack(r.getAs[Array[Byte]](1))))
      .sortBy(_._1)
    if (cents.isEmpty)
      return queries.select(col("id").as("qid"), lit(0L).as("cid"),
        lit(0.0).as("score"), lit(0).as("rk")).limit(0)
    if (blocked) knnJoinIvfBlockedImpl(queries, assigned, cents, k, nProbe, saltShards)
    else knnJoinIvfAssignedImpl(queries, assigned, cents, k, nProbe, saltShards)
  }

  /** Top-`nProbe` centroid ranks per packed query: (qid, qv, cid, qc)
    * with qc = the exact q·c dot the probe starts from. Selection is
    * insertion into a descending array with strict `>`, so ties keep
    * the smaller cid (centroids iterate in ascending cid order); a
    * NaN-component query fills no slots and emits nothing.
    */
  private[graft] def probeRanks(queries: DataFrame,
      cents: Array[(Long, Array[Float])], nProbe: Int): DataFrame = {
    import graft.functions.FloatVecDot
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    queries.select(col("id"), col("vec"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val cs = bc.value
        val np = math.min(nProbe, cs.length)
        it.flatMap { case (qid, qb) =>
          val v = FloatVecDot.unpack(qb)
          val topC = new Array[Long](np)
          val topS = new Array[Double](np)
          java.util.Arrays.fill(topS, Double.NegativeInfinity)
          var ci = 0
          while (ci < cs.length) {
            val s = graft.functions.VecKernels.dotFloats(v, cs(ci)._2)
            if (s > topS(np - 1)) {
              var j = np - 1
              while (j > 0 && s > topS(j - 1)) {
                topS(j) = topS(j - 1); topC(j) = topC(j - 1); j -= 1
              }
              topS(j) = s; topC(j) = cs(ci)._1
            }
            ci += 1
          }
          val filled = topS.count(_ > Double.NegativeInfinity)
          (0 until filled).iterator.map(j => (qid, qb, topC(j), topS(j)))
        }
      }.toDF("qid", "qv", "cid", "qc")
  }

  /** Replicate Spark SQL's `round(x, 6)` for doubles (HALF_UP over the
    * canonical decimal form) so kernel-side scores are bit-identical to
    * the `round(floatVecDot(...), 6)` expression the relational cores
    * and the oracles compute.
    */
  private[ops] def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The top `k` of raw (id, score) hits as a plan computes them with
    * `round(score, 6)`, `WHERE NOT isnan(score)`, `ORDER BY score DESC,
    * id` and `LIMIT k`. Rounding moves a score by about 5e-7 at most
    * and keeps the order of scores, so a hit more than 1e-6 below the
    * k-th raw score cannot reach the top k; only hits above a 2e-6
    * floor (margin for the subtraction) are rounded and sorted. Rounded
    * scores are never -0.0, so with NaN gone the comparison below
    * orders exactly as Spark's does. */
  private[graft] def topKRound6(raw: Array[(Long, Double)],
      k: Int): Array[(Long, Double)] = {
    val scores = raw.map(_._2).filterNot(_.isNaN)
    if (scores.isEmpty || k <= 0) return Array.empty
    java.util.Arrays.sort(scores)
    val floor = scores(math.max(0, scores.length - k)) - 2e-6
    raw.collect { case (id, s) if s >= floor => (id, round6(s)) }
      .sorted((a: (Long, Double), b: (Long, Double)) => {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      })
      .take(k)
  }

  /** f32 dot of a packed blob against a pre-decoded float array —
    * value-identical to [[graft.functions.FloatVecDot.dot]] (same f32
    * products, same lane scheme and accumulation order; see
    * [[graft.functions.VecKernels]] for the contract).
    */
  private[ops] def dotPackedFloats(a: Array[Byte], q: Array[Float]): Double =
    graft.functions.VecKernels.dotPacked(a, q)

  /** The tagged-union cid-block pair kernel. Probes and candidates
    * union into one (cid, salt, tag, id, vec) stream, repartition by
    * (cid, salt) and sort within partitions by (cid, salt, tag) — so
    * each block delivers its probe rows FIRST, then its candidates.
    * The kernel buffers the block's decoded query vectors (the small
    * side: queries × nProbe / nlist rows per block), then scores each
    * candidate against all of them as it streams past: the pair space
    * is enumerated inside the loop, never materialized as rows, so the
    * only per-pair cost is the fused multiply-add itself. Per-query
    * top-k via bounded heaps, partition-local then merged — identical
    * selection and tie rules to the relational core.
    *
    * Shuffle volume per call: candidates cross once (id + blob per
    * row), probes once (×saltShards). Block buffer memory:
    * (queries × nProbe / nlist) × d × 4 bytes — for astronomically
    * large query sides split the query set across calls or raise
    * nlist.
    */
  private def knnJoinIvfBlockedImpl(queries: DataFrame,
      assigned: DataFrame, cents: Array[(Long, Array[Float])],
      k: Int, nProbe: Int, saltShards: Int): DataFrame = {
    import graft.functions.FloatVecDot
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(k >= 1, s"k must be >= 1, got $k")
    require(saltShards >= 1, s"saltShards must be >= 1, got $saltShards")
    val spark = queries.sparkSession
    import spark.implicits._
    val probes = probeRanks(queries, cents, nProbe)
      .select(col("qid"), col("qv"), col("cid"))

    val pr =
      if (saltShards == 1) probes.withColumn("salt", lit(0))
      else probes.crossJoin(
        spark.range(saltShards).select(col("id").cast("int").as("salt")))
    val ca =
      if (saltShards == 1) assigned.withColumn("salt", lit(0))
      else assigned.withColumn("salt",
        pmod(hash(col("cand_id")), lit(saltShards)).cast("int"))
    val u = pr.select(col("cid"), col("salt"), lit(0).as("tag"),
        col("qid").as("id"), col("qv").as("vec"))
      .unionByName(ca.select(col("ccid").as("cid"), col("salt"),
        lit(1).as("tag"), col("cand_id").as("id"), col("cv").as("vec")))
    val arranged = u.repartition(col("cid"), col("salt"))
      .sortWithinPartitions(col("cid"), col("salt"), col("tag"))
      .as[(Long, Int, Int, Long, Array[Byte])]

    val worstFirst = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c1 = java.lang.Double.compare(b._1, a._1)
        if (c1 != 0) c1 else java.lang.Long.compare(a._2, b._2)
      }
    }
    def push(h: scala.collection.mutable.PriorityQueue[(Double, Long)],
        s: Double, c2: Long): Unit = {
      if (h.size < k) h.enqueue((s, c2))
      else if (worstFirst.compare((s, c2), h.head) < 0) {
        h.dequeue(); h.enqueue((s, c2))
      }
    }
    val partial = arranged.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      var curCid = Long.MinValue
      var curSalt = Int.MinValue
      val blockQ = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Float])]
      it.foreach { case (cid, salt, tag, id, vec) =>
        if (cid != curCid || salt != curSalt) {
          blockQ.clear(); curCid = cid; curSalt = salt
        }
        if (tag == 0) blockQ += ((id, FloatVecDot.unpack(vec)))
        else if (blockQ.nonEmpty) {
          var j = 0
          while (j < blockQ.length) {
            val s = round6(dotPackedFloats(vec, blockQ(j)._2))
            // NaN-component candidates score NaN: dropped (matches the
            // assignment path, which never admits them)
            if (!java.lang.Double.isNaN(s))
              push(heaps.getOrElseUpdate(blockQ(j)._1,
                scala.collection.mutable.PriorityQueue.empty(worstFirst)),
                s, id)
            j += 1
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (s, c2) => (qid, c2, s) }
      }
    }
    partial.groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val h = scala.collection.mutable.PriorityQueue.empty(worstFirst)
        rows.foreach { case (_, c2, s) => push(h, s, c2) }
        val best: Seq[(Double, Long)] = h.dequeueAll.reverse
        best.iterator.zipWithIndex.map {
          case ((s, c2), i) => (qid, c2, s, i + 1)
        }
      }
      .toDF("qid", "cid", "score", "rk")
  }

  /** Persist the IVF-assigned candidate table `(ccid, cand_id, cv)` as
    * a catalog table BUCKETED by `ccid`. [[knnJoinIvfAssigned]] already
    * amortizes the per-call ASSIGNMENT pass, but the candidate rows —
    * the corpus's packed vectors, by far the heavier join side — still
    * cross a shuffle exchange on every call because a plain parquet
    * scan carries no partitioning guarantee. A bucketed table scan
    * reports `HashPartitioning(ccid, buckets)` to the planner, so the
    * per-call join exchanges ONLY the probe side (queries × nProbe
    * rows): the 100 TB corpus is laid out once at index-build time and
    * never re-shuffled. Keep `buckets` at (a multiple of) the cluster's
    * shuffle parallelism so the probe-side exchange matches it.
    */
  def writeAssignedBucketed(candidates: DataFrame, centroids: DataFrame,
      table: String, buckets: Int = 32): Unit = {
    import graft.functions.FloatVecDot
    val spark = candidates.sparkSession
    import spark.implicits._
    val cents0 = centroids
      .select(col("cid"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), FloatVecDot.unpack(r.getAs[Array[Byte]](1))))
      .sortBy(_._1)
    require(cents0.nonEmpty, "writeAssignedBucketed: no centroids")
    val bc0 = spark.sparkContext.broadcast(cents0)
    candidates.select(col("id"), col("vec"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val cs = bc0.value
        it.flatMap { case (id, vb) =>
          val best = argmaxCid(cs, FloatVecDot.unpack(vb))
          if (best < 0L) None else Some((best, id, vb))
        }
      }.toDF("ccid", "cand_id", "cv")
      .write.mode("overwrite")
      .bucketBy(buckets, "ccid")
      .format("parquet")
      .saveAsTable(table)
  }

  /** The knn join over a [[writeAssignedBucketed]] table: identical
    * results to [[knnJoinIvfAssigned]], through the RELATIONAL core —
    * the one formulation whose candidate side can consume the bucketed
    * scan's `HashPartitioning` and enter the join exchange-free (the
    * blocked kernel's explicit repartition would re-shuffle the table
    * regardless of layout; a bucket-aware custom scan could marry the
    * two, at the cost of a custom SparkPlan). Salting is intentionally
    * unavailable here — a salted key would defeat the bucketing; skewed
    * lists should pick a larger `buckets` at write time instead.
    */
  def knnJoinIvfBucketed(queries: DataFrame, table: String,
      centroids: DataFrame, k: Int, nProbe: Int): DataFrame =
    knnJoinIvfAssigned(queries, queries.sparkSession.table(table),
      centroids, k, nProbe, blocked = false)

  private def knnJoinIvfAssignedImpl(queries: DataFrame,
      assigned: DataFrame, cents: Array[(Long, Array[Float])],
      k: Int, nProbe: Int, saltShards: Int): DataFrame = {
    import graft.functions.FloatVecDot
    import graft.functions.FloatVecDot.floatVecDot
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(k >= 1, s"k must be >= 1, got $k")
    require(saltShards >= 1, s"saltShards must be >= 1, got $saltShards")
    val spark = queries.sparkSession
    import spark.implicits._

    // queries: decode once, rank all centroids, keep the top nProbe by
    // (pscore desc, cid asc) — the shared [[probeRanks]] kernel
    val probes = probeRanks(queries, cents, nProbe)
      .select(col("qid"), col("qv"), col("cid"))

    // no dedup needed: each candidate belongs to exactly one centroid
    // and each query probes distinct centroids, so (qid, cand) is
    // unique (salting preserves this: a candidate lands in exactly one
    // shard, and a probe meets it only in that shard). shuffle-hash
    // hint building on the probe side: the default sort-merge join
    // would SORT the candidate stream — the corpus vectors, by far the
    // heavier side — on a low-cardinality centroid key
    val (probesJ, assignedJ) =
      if (saltShards == 1) (probes, assigned)
      else (
        probes.crossJoin(
          spark.range(saltShards).select(col("id").cast("int").as("salt"))),
        assigned.withColumn("salt",
          pmod(hash(col("cand_id")), lit(saltShards))))
    val scored = probesJ.hint("shuffle_hash")
      .join(assignedJ,
        if (saltShards == 1) probesJ("cid") === assignedJ("ccid")
        else probesJ("cid") === assignedJ("ccid") &&
          probesJ("salt") === assignedJ("salt"))
      .select(col("qid"), col("cand_id").as("cid2"),
        round(floatVecDot(col("cv"), col("qv")), 6).as("score"))
      .as[(Long, Long, Double)]

    // per-query top-k with NO global sort: a Window row_number here
    // sorts the full scored-pair stream (queries × nProbe × list size
    // rows — 1.5e8 at the 10k×1M bench shape, where the sort dominated
    // the whole join 5:1). Bounded per-query heaps instead select
    // partition-local winners map-side, and only the winners —
    // ≤ partitions × k rows per query — shuffle to the final per-query
    // selection. Ordering matches [[knnJoin]]: (score desc, cid asc).
    // Heap-map memory is O(queries seen in a partition × k); for
    // astronomically large query sides pre-partition `scored` by qid
    // or raise the partition count.
    val worstFirst = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c1 = java.lang.Double.compare(b._1, a._1) // lower score = worse
        if (c1 != 0) c1 else java.lang.Long.compare(a._2, b._2) // bigger cid = worse
      }
    }
    def push(h: scala.collection.mutable.PriorityQueue[(Double, Long)],
        s: Double, c2: Long): Unit = {
      if (h.size < k) h.enqueue((s, c2))
      else if (worstFirst.compare((s, c2), h.head) < 0) {
        h.dequeue(); h.enqueue((s, c2))
      }
    }
    val partial = scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (qid, c2, s) =>
        push(heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty(worstFirst)), s, c2)
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (s, c2) => (qid, c2, s) }
      }
    }
    partial.groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val h = scala.collection.mutable.PriorityQueue.empty(worstFirst)
        rows.foreach { case (_, c2, s) => push(h, s, c2) }
        val best: Seq[(Double, Long)] = h.dequeueAll.reverse
        best.iterator.zipWithIndex.map {
          case ((s, c2), i) => (qid, c2, s, i + 1)
        }
      }
      .toDF("qid", "cid", "score", "rk")
  }

  /** Bucketed ANN top-k: only candidates in the query's bucket are
    * scored. Trades recall for a ~2^bits candidate reduction; exactness
    * is restored by multi-probe ([[annTopKMultiProbe]]) or a brute-force
    * re-check tier.
    */
  def annTopKBucketed(emb: DataFrame, queryVecId: Long, k: Int,
      bits: Int = 8): DataFrame = {
    val withBucket = emb.select(col("vec_id"),
      asDouble(col("embedding")).as("v"),
      signBucket(col("embedding"), bits).as("bucket"))
    val q = withBucket.where(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    withBucket.join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"), col("bucket"), round(dot(col("v"), col("qv")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Multi-probe bucketed ANN: candidates are every bucket within
    * `maxHamming` sign-bits of the query's bucket — the standard recall
    * knob for sign-LSH (probing r bits recovers neighbors whose few
    * near-zero coordinates flipped). The probe set is an explicit IN
    * list of ≤ Σ C(bits, i) bucket ids, so a corpus bucketed/partitioned
    * by `bucket` prunes to those partitions instead of scanning.
    */
  def annTopKMultiProbe(emb: DataFrame, queryVecId: Long, k: Int,
      bits: Int = 8, maxHamming: Int = 2): DataFrame = {
    val withBucket = emb.select(col("vec_id"),
      asDouble(col("embedding")).as("v"),
      signBucket(col("embedding"), bits).as("bucket"))
    val q = withBucket.where(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    withBucket.join(broadcast(q),
        bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= maxHamming)
      .select(col("vec_id"), round(dot(col("v"), col("qv")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Spherical k-means over packed-f32 vectors — the 1M × d1536 face of
    * [[kmeansCentroids]]. Each iteration is one pass: per partition,
    * rows are assigned to their argmax centroid with the same primitive
    * loop as [[ivfAssignPacked]] and accumulated into local per-centroid
    * sum/count buffers; the buffers reduce to the driver (k × d doubles
    * — tiny) where the means renormalize onto the unit sphere. Empty
    * clusters keep their previous centroid. This is exactly where
    * Spark's own MLlib keeps its k-means state.
    *
    * @param initial (cid, unpacked centroid) seeds, ascending cid
    * @return refined centroids in the same (cid, Array[Float]) form
    */
  def kmeansCentroidsPacked(emb: DataFrame,
      initial: Array[(Long, Array[Float])],
      iters: Int): Array[(Long, Array[Float])] = {
    import graft.functions.FloatVecDot
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb.select(col("id"), col("vec")).as[(Long, Array[Byte])].rdd
    var cents = initial.sortBy(_._1)
    val dim = cents.head._2.length
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val (sums, counts) = rows.mapPartitions { it =>
        val cs = bc.value
        val k = cs.length
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        it.foreach { case (_, vb) =>
          val v = FloatVecDot.unpack(vb)
          var best = 0
          var bestS = Double.NegativeInfinity
          var ci = 0
          while (ci < k) {
            val s = graft.functions.VecKernels.dotFloats(v, cs(ci)._2)
            if (s > bestS) { bestS = s; best = ci }
            ci += 1
          }
          val acc = sums(best)
          var i = 0
          while (i < math.min(v.length, dim)) { acc(i) += v(i); i += 1 }
          counts(best) += 1
        }
        Iterator.single((sums, counts))
      }.reduce { case ((s1, c1), (s2, c2)) =>
        var ci = 0
        while (ci < s1.length) {
          var i = 0
          while (i < dim) { s1(ci)(i) += s2(ci)(i); i += 1 }
          c1(ci) += c2(ci)
          ci += 1
        }
        (s1, c1)
      }
      bc.destroy()
      cents = cents.zipWithIndex.map { case ((cid, old), ci) =>
        if (counts(ci) == 0L) (cid, old)
        else {
          val m = sums(ci)
          val norm = math.sqrt(m.map(x => x * x).sum)
          if (norm == 0.0) (cid, old)
          else (cid, m.map(x => (x / norm).toFloat))
        }
      }
    }
    cents
  }

  /** Lloyd (spherical) k-means refinement of IVF centroids over the
    * existing assignment join: assign → per-dimension mean → renormalize
    * to the unit sphere, `iters` times. Each round is one broadcast
    * assignment pass + one narrow aggregation; the centroid set itself is
    * tiny by definition, so it is collected between rounds (exactly where
    * Spark's own MLlib keeps its k-means centers). Empty clusters keep
    * their previous centroid, so the centroid count never shrinks.
    *
    * @param initial (cid LONG, cvec ARRAY) seed centroids
    * @return refined (cid LONG, cvec ARRAY<DOUBLE>) centroids
    */
  def kmeansCentroids(emb: DataFrame, initial: DataFrame,
      iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    var cents = initial.select(col("cid"), asDouble(col("cvec")).as("cvec"))
    for (_ <- 0 until iters) {
      val means = ivfAssign(emb, cents)
        .select(col("cid"), posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
        .groupBy(col("cid"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("i"), col("m"))))
          .getField("m").as("mv"))
        .select(col("cid"), normalize(col("mv")).as("newvec"))
      val updated = cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("newvec"), col("cvec")).as("cvec"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      cents = updated.toSeq.toDF("cid", "cvec")
    }
    cents
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR'98): greedily select the candidate maximizing
    * `lambdaRel·sim(q,d) − (1−lambdaRel)·max_{s∈selected} sim(d,s)` —
    * the standard redundancy-penalized rerank that keeps a near-dup of
    * an already-selected hit from wasting a result slot.
    *
    * Scale shape: the distributed part is the candidate top-`m` (one
    * corpus scan + TakeOrderedAndProject, same plan as [[topK]]); the
    * greedy loop is O(k·m) dots over the m collected candidates — a
    * k-bounded driver-side result assembly, the same contract as the
    * store's retrieve facades. At 100 TB only m rows ever leave the
    * executors.
    *
    * Output: (vec_id, score, mmr_score, mmr_rank), mmr_rank 1..k in
    * selection order. The query vector itself is excluded.
    */
  def mmrRerank(emb: DataFrame, queryVecId: Long, k: Int,
      lambdaRel: Double = 0.7, m: Int = 100): DataFrame = {
    require(k > 0 && m >= k, s"need 0 < k <= m: k=$k m=$m")
    require(lambdaRel >= 0.0 && lambdaRel <= 1.0, s"lambdaRel: $lambdaRel")
    val spark = emb.sparkSession
    import spark.implicits._
    val qv = emb.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding")).as("qv"))
    val cand = emb.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        round(dot(asDouble(col("embedding")), col("qv")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(m)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val n = cand.length
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val picked = new Array[Boolean](n)
    val maxSim = Array.fill(n)(Double.NegativeInfinity) // vs selected set
    var step = 0
    while (step < math.min(k, n)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val pen = if (step == 0) 0.0 else (1.0 - lambdaRel) * maxSim(i)
          val s = lambdaRel * cand(i)._3 - pen
          // strict > with ascending vec_id scan = smaller id wins ties
          if (s > bestScore) { bestScore = s; best = i }
        }
        i += 1
      }
      val (bid, bv, bscore) = cand(best)
      picked(best) = true
      chosen += ((bid, bscore, math.rint(bestScore * 1e6) / 1e6))
      i = 0
      while (i < n) {
        if (!picked(i)) {
          var s = 0.0
          var j = 0
          val d = math.min(bv.length, cand(i)._2.length)
          while (j < d) { s += bv(j) * cand(i)._2(j); j += 1 }
          if (s > maxSim(i)) maxSim(i) = s
        }
        i += 1
      }
      step += 1
    }
    chosen.zipWithIndex
      .map { case ((id, sc, ms), r) => (id, sc, ms, (r + 1).toLong) }
      .toSeq.toDF("vec_id", "score", "mmr_score", "mmr_rank")
  }

  /** Spherical k-means document clustering — the corpus-organization /
    * SemDeDup-style curation step: deterministic seeds (the first `k`
    * vectors by id, projected through [[kmeansCentroids]] Lloyd
    * refinement), then every vector assigned to its argmax-dot centroid
    * with its similarity. Deterministic given (corpus, k, iters) — no
    * RNG — so re-runs and engines agree.
    *
    * Scale shape: each Lloyd round is a broadcast argmax + narrow
    * mean-aggregation ([[kmeansCentroids]]); the final assignment is the
    * same broadcast argmax plus one broadcast hash join against the k
    * centroids for the similarity column. Nothing but the k×d centroid
    * set ever reaches the driver.
    *
    * Output: (vec_id, cid, sim) — sim rounded to 6 dp.
    */
  def clusterDocs(emb: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val seeds = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), asDouble(col("embedding")).as("cvec"))
      .collect() // k rows — the centroid set is tiny by definition
      .sortBy(r => r.getLong(0))
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
      .toSeq.toDF("cid", "cvec")
    val cents = kmeansCentroids(emb, seeds, iters)
    ivfAssign(emb, cents)
      .join(broadcast(cents), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        round(dot(asDouble(col("embedding")), col("cvec")), 6).as("sim"))
  }
}
