package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Vector quantization — the memory side of 100 TB similarity search.
  *
  * A 1536-d float32 embedding is 6 KB; 1 B vectors are 6 TB of raw
  * vectors alone, so a scan-heavy ANN tier lives or dies on compression:
  *
  *  - **Scalar (int8) quantization**: 4× smaller, near-lossless for
  *    ranking (≈0.1% score error on unit vectors). Codes stay exact
  *    integers, so the compressed scan is reproducible bit-for-bit in
  *    any engine — the [[sqTopK]] array formulation is the DuckDB
  *    oracle's twin, [[sqTopKPacked]] is the codegen'd production scan
  *    ([[graft.functions.Int8VecDot]]), and a spec asserts they agree.
  *  - **Product quantization** (Jégou, Douze, Schmid 2011, "Product
  *    Quantization for Nearest Neighbor Search" — public paper): m
  *    subspace codebooks of 2⁸ centroids give ~64× compression
  *    (1536 floats → m=96 bytes) and O(m) asymmetric-distance scoring
  *    per candidate from a per-query lookup table. Recall is restored
  *    by exact re-ranking of the top ADC candidates
  *    ([[pqTopKRefined]]) — the standard IVF-PQ + refine pipeline.
  *
  * Scale shapes: training reduces per-partition sufficient statistics
  * (k·d doubles) to the driver — the same pattern as
  * [[SimilaritySearch.kmeansCentroidsPacked]]; encode and ADC scoring
  * are narrow per-partition maps over broadcast codebooks; the final
  * top-k is TakeOrderedAndProject. Nothing shuffles the corpus.
  */
object VectorQuant {
  import graft.functions.{FloatVecDot, Int8VecDot}

  // ------------------------------------------------------------------
  // scalar (int8) quantization
  // ------------------------------------------------------------------

  /** Engine-portable int8-quantized top-k over `(vec_id, embedding)`:
    * per-vector symmetric scale 127/max|x|, ROUND-half-away codes, exact
    * integer dot, dequantized score rounded to 6 decimals. Ties on
    * ascending vec_id. This is the oracle-parity formulation (array
    * expressions, interpreted) — [[sqTopKPacked]] is the same math on
    * packed codes through the codegen'd kernel.
    */
  def sqTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    def quant(v: org.apache.spark.sql.Column) = {
      val vd = asDouble(v)
      val scale = lit(127.0) / array_max(transform(vd, x => abs(x)))
      struct(transform(vd, x => round(x * scale)).as("q"), scale.as("s"))
    }
    val q = emb.where(col("vec_id") === queryVecId)
      .select(quant(col("embedding")).as("qq"))
    // degenerate corpus rows must not rank: an all-zero row makes scale
    // Infinity (filtered by the > 0 guard), but a NaN-bearing row makes
    // array_max NaN — and SQL comparison semantics put NaN ABOVE every
    // number, so `NaN > 0` is TRUE and the guard alone does not drop
    // it. The isnan(score) filter catches that case, agreeing with
    // sqTopKPacked (whose JVM-side quantize maps NaN rows to scale 0)
    emb.where(array_max(transform(asDouble(col("embedding")),
        x => abs(x))) > 0)
      .select(col("vec_id"), quant(col("embedding")).as("cq"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(
          aggregate(zip_with(col("cq.q"), col("qq.q"), (x, y) => x * y),
            lit(0.0), (acc, v) => acc + v) / (col("cq.s") * col("qq.s")),
          6).as("score"))
      .where(!isnan(col("score")))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Quantize `(id, vec BINARY)` packed-f32 rows to `(id, code BINARY,
    * scale DOUBLE)` — the 4×-compressed table a deployment persists.
    */
  def sqEncodePacked(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("id"), col("vec")).as[(Long, Array[Byte])]
      .map { case (id, vb) =>
        val (code, scale) = Int8VecDot.quantize(FloatVecDot.unpack(vb))
        (id, code, scale)
      }.toDF("id", "code", "scale")
  }

  /** Compressed scan top-k over [[sqEncodePacked]] output: integer dot
    * via the codegen'd kernel, dequantize, TakeOrderedAndProject.
    * Math identical to [[sqTopK]] (a spec asserts parity).
    */
  def sqTopKPacked(codes: DataFrame, queryCode: Array[Byte],
      queryScale: Double, k: Int): DataFrame = {
    import graft.functions.Int8VecDot.int8VecDot
    // a zero/all-NaN vector quantizes to scale 0 (Int8VecDot.quantize);
    // dividing by it would make a NaN score, which Spark's descending
    // sort ranks ABOVE every real score — exclude such rows from the
    // ranking instead (the IVF paths drop NaN vectors the same way)
    require(queryScale > 0,
      s"query vector quantized to scale $queryScale (zero or NaN vector)")
    codes.where(col("scale") > 0)
      .select(col("id").as("vec_id"),
        round(int8VecDot(col("code"), lit(queryCode)).cast("double") /
          (col("scale") * lit(queryScale)), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // product quantization
  // ------------------------------------------------------------------

  /** PQ codebooks: `books(s)(j)` is the j-th centroid (dsub floats) of
    * subspace s.
    */
  type Codebooks = Array[Array[Array[Float]]]

  /** Train PQ codebooks on `(id, vec BINARY)` by per-subspace Lloyd
    * k-means (L2). The sample is a hash-free id-mod slice and seeds are
    * the first `ncodes` sample rows in id order — fully deterministic
    * inputs; centroid arithmetic is subject to floating-point reduction
    * order across partitions (same caveat as MLlib's k-means). Every
    * iteration is one distributed pass reducing per-partition
    * (sum, count) buffers for all m subspaces at once — k·d doubles to
    * the driver per iteration.
    *
    * @param m      number of subspaces; must divide the dimension
    * @param ncodes centroids per subspace (≤256 so codes fit one byte)
    */
  def pqTrain(emb: DataFrame, m: Int, ncodes: Int = 256,
      sampleMod: Int = 20, iters: Int = 4): Codebooks = {
    require(ncodes >= 1 && ncodes <= 256, s"ncodes must be in [1,256]: $ncodes")
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.where(col("id") % sampleMod === 0)
      .select(col("id"), col("vec")).as[(Long, Array[Byte])]
    val seeds = sample.orderBy(col("id")).limit(ncodes).collect()
      .map { case (_, vb) => FloatVecDot.unpack(vb) }
    require(seeds.nonEmpty, "pqTrain: empty sample")
    val d = seeds.head.length
    require(d % m == 0, s"m=$m must divide dim=$d")
    val dsub = d / m
    val k = math.min(ncodes, seeds.length)
    var books: Codebooks = Array.tabulate(m, k) { (s, j) =>
      java.util.Arrays.copyOfRange(seeds(j), s * dsub, (s + 1) * dsub)
    }
    val rows = sample.rdd
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val (sums, counts) = rows.mapPartitions { it =>
        val bs = bc.value
        val flats = bs.map(flattenBookT)
        val dacc = new Array[Double](k)
        val sums = Array.ofDim[Double](m, k, dsub)
        val counts = Array.ofDim[Long](m, k)
        it.foreach { case (_, vb) =>
          val v = FloatVecDot.unpack(vb)
          // a single NaN component would poison per-subspace centroid
          // sums for every remaining iteration — skip the row (same
          // policy as the IVF kernels' NaN drop)
          var nan = false
          var ni = 0
          while (ni < v.length) { if (v(ni).isNaN) { nan = true; ni = v.length } else ni += 1 }
          if (!nan) {
            var s = 0
            while (s < m) {
              val fl = flats(s)
              val j = nearestCodeT(fl._1, fl._2, dsub, v, s * dsub, dacc)
              val acc = sums(s)(j)
              var i = 0
              while (i < dsub) { acc(i) += v(s * dsub + i); i += 1 }
              counts(s)(j) += 1
              s += 1
            }
          }
        }
        Iterator.single((sums, counts))
      }.reduce { case ((s1, c1), (s2, c2)) =>
        var s = 0
        while (s < m) {
          var j = 0
          while (j < k) {
            var i = 0
            while (i < dsub) { s1(s)(j)(i) += s2(s)(j)(i); i += 1 }
            c1(s)(j) += c2(s)(j)
            j += 1
          }
          s += 1
        }
        (s1, c1)
      }
      bc.destroy()
      books = Array.tabulate(m, k) { (s, j) =>
        if (counts(s)(j) == 0L) books(s)(j) // empty cluster keeps its seed
        else {
          val n = counts(s)(j).toDouble
          sums(s)(j).map(x => (x / n).toFloat)
        }
      }
    }
    books
  }

  /** Nearest centroid (L2) of one subvector; ties to the lower code.
    * argmin ‖x−c‖² == argmin (‖c‖² − 2·x·c), but the plain squared
    * distance keeps it branch-simple and exact.
    */
  private[ops] def nearestCode(book: Array[Array[Float]], v: Array[Float],
      off: Int, dsub: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < book.length) {
      val c = book(j)
      var d2 = 0.0
      var i = 0
      while (i < dsub) {
        val diff = v(off + i).toDouble - c(i).toDouble
        d2 += diff * diff
        i += 1
      }
      if (d2 < bestD) { bestD = d2; best = j }
      j += 1
    }
    best
  }

  /** Flatten one subspace codebook to (row-major codewords, per-code
    * L2 norms), the layout the ADC lookup tables are built from. Built
    * once per partition — k·dsub floats, trivial against the scan.
    */
  private[graft] def flattenBook(book: Array[Array[Float]]): (Array[Float], Array[Double]) = {
    val k = book.length
    val dsub = if (k == 0) 0 else book(0).length
    val flat = new Array[Float](k * dsub)
    val norms = new Array[Double](k)
    var j = 0
    while (j < k) {
      System.arraycopy(book(j), 0, flat, j * dsub, dsub)
      norms(j) = graft.functions.VecKernels.dotFloats(book(j), book(j))
      j += 1
    }
    (flat, norms)
  }

  /** Dimension-major (transposed) codebook layout for the encode hot
    * path: `flatT(i * ncodes + j) = book(j)(i)` as double, plus the
    * codeword L2 norms. [[nearestCodeT]] accumulates v·c_j for ALL
    * codewords in one daxpy-shaped pass per dimension: a codes-major
    * SIMD dot would pay a horizontal reduction per codeword (ncodes ×
    * m × corpus of them at encode time, the dominant cost at dsub = 16
    * where each dot is a single vector op but the reduce is tens of
    * cycles), while the transposed inner loop over 256 codewords is
    * the shape the JIT auto-vectorizes with no reductions at all.
    * Per-codeword accumulation stays double, ascending-i — the scalar
    * kernels' summation order.
    */
  private[graft] def flattenBookT(book: Array[Array[Float]])
      : (Array[Double], Array[Double]) = {
    val k = book.length
    val dsub = if (k == 0) 0 else book(0).length
    val flatT = new Array[Double](k * dsub)
    val norms = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = book(j)
      var i = 0
      while (i < dsub) { flatT(i * k + j) = c(i).toDouble; i += 1 }
      norms(j) = graft.functions.VecKernels.dotFloats(c, c)
      j += 1
    }
    (flatT, norms)
  }

  /** Transposed-book nearest codeword: argmin_j ||v−c_j||² computed
    * as argmin_j (||c_j||² − 2·v·c_j), with the strict-< ascending-j
    * tie rule of [[nearestCode]]. The expansion changes rounding, so
    * near-tied codewords can assign differently from the distance
    * form; a NaN-component subvector scores NaN against every codeword
    * and keeps code 0. `acc` is a caller-provided ncodes-sized scratch
    * (reused across subspaces and rows).
    */
  private[ops] def nearestCodeT(flatT: Array[Double], norms: Array[Double],
      dsub: Int, v: Array[Float], off: Int, acc: Array[Double]): Int = {
    val k = norms.length
    java.util.Arrays.fill(acc, 0, k, 0.0)
    var i = 0
    while (i < dsub) {
      val vi = v(off + i).toDouble
      val base = i * k
      var j = 0
      while (j < k) { acc(j) += vi * flatT(base + j); j += 1 }
      i += 1
    }
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < k) {
      val d = norms(j) - 2.0 * acc(j)
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Encode `(id, vec BINARY)` to `(id, code BINARY)` — m bytes per
    * vector (64× compression at d=1536, m=96). One narrow pass over
    * broadcast codebooks.
    */
  def pqEncode(emb: DataFrame, books: Codebooks): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = books.length
    val dsub = books(0)(0).length
    val bc = spark.sparkContext.broadcast(books)
    emb.select(col("id"), col("vec")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val bs = bc.value
        val flats = bs.map(flattenBookT)
        val acc = new Array[Double](if (bs.isEmpty) 0 else bs(0).length)
        it.map { case (id, vb) =>
          val v = FloatVecDot.unpack(vb)
          val code = new Array[Byte](m)
          var s = 0
          while (s < m) {
            val fl = flats(s)
            code(s) = nearestCodeT(fl._1, fl._2, dsub, v, s * dsub, acc).toByte
            s += 1
          }
          (id, code)
        }
      }.toDF("id", "code")
  }

  /** ADC (asymmetric distance computation) top-k: one m·ncodes
    * inner-product lookup table built from the query on the driver,
    * broadcast; each candidate scores in m table lookups (no float
    * decode of the corpus at all). Approximate — recall comes from
    * [[pqTopKRefined]]'s exact re-rank tier.
    */
  def pqTopK(codes: DataFrame, books: Codebooks, query: Array[Float],
      k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = books.length
    val dsub = books(0)(0).length
    val table: Array[Array[Double]] = Array.tabulate(m) { s =>
      books(s).map { c =>
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += query(s * dsub + i).toDouble * c(i).toDouble; i += 1 }
        acc
      }
    }
    val bc = spark.sparkContext.broadcast(table)
    codes.select(col("id"), col("code")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val t = bc.value
        it.map { case (id, code) =>
          var acc = 0.0
          var s = 0
          while (s < m) { acc += t(s)(code(s) & 0xff); s += 1 }
          (id, acc)
        }
      }.toDF("vec_id", "adc_score")
      .orderBy(desc("adc_score"), col("vec_id"))
      .limit(k)
  }

  /** PQ + exact refine: ADC selects `rerank` candidates, the exact
    * (packed-f32) dot re-ranks them to the final top-k. The re-rank
    * side is a broadcast semi-join of ≤`rerank` ids against the raw
    * vectors — the corpus is still never shuffled, and only the
    * candidates are decoded.
    */
  def pqTopKRefined(codes: DataFrame, emb: DataFrame, books: Codebooks,
      query: Array[Float], k: Int, rerank: Int): DataFrame =
    exactRerank(pqTopK(codes, books, query, math.max(k, rerank)),
      emb, query, k)

  private def exactRerank(cands: DataFrame, emb: DataFrame,
      query: Array[Float], k: Int): DataFrame = {
    import graft.functions.FloatVecDot.floatVecDot
    // a NaN-component candidate would score NaN and top the descending
    // sort — drop it here, like every other exact-scoring path
    emb.join(broadcast(cands.select(col("vec_id"))),
        emb("id") === col("vec_id"))
      .select(col("id").as("vec_id"),
        round(floatVecDot(col("vec"), lit(FloatVecDot.pack(query))), 6)
          .as("score"))
      .where(!isnan(col("score")))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // IVF-PQ: coarse inverted lists + PQ on residuals
  // ------------------------------------------------------------------

  /** Coarse-assign every vector to its argmax-dot centroid (the same
    * spherical IVF rule as [[SimilaritySearch.ivfAssignPacked]], same
    * shared kernel) and emit the packed residual v − c. Residuals are
    * what PQ encodes in an IVF-PQ index (Jégou et al. 2011 §IV):
    * q·v = q·c + q·r exactly, and residuals are far smaller in norm
    * than raw vectors, so the same codebook budget quantizes them much
    * more accurately. One narrow pass; NaN vectors are dropped like the
    * IVF paths.
    */
  def ivfResiduals(emb: DataFrame,
      cents: Array[(Long, Array[Float])]): DataFrame = {
    require(cents.nonEmpty, "ivfResiduals: no centroids")
    val spark = emb.sparkSession
    import spark.implicits._
    val sorted = cents.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(sorted)
    emb.select(col("id"), col("vec")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val cs = bc.value
        val byId = cs.toMap
        it.flatMap { case (id, vb) =>
          val v = FloatVecDot.unpack(vb)
          val cid = SimilaritySearch.argmaxCid(cs, v)
          if (cid < 0L) None
          else {
            val c = byId(cid)
            val r = new Array[Float](v.length)
            var i = 0
            while (i < v.length) {
              r(i) = v(i) - (if (i < c.length) c(i) else 0.0f)
              i += 1
            }
            Some((id, cid, FloatVecDot.pack(r)))
          }
        }
      }.toDF("id", "cid", "rvec")
  }

  /** Encode [[ivfResiduals]] output to `(id, cid, code BINARY)` —
    * [[pqEncode]] with the inverted-list id carried through, so the
    * build never shuffles the corpus to re-attach it. Persist the
    * residuals between [[pqTrain]] (on `rvec` as `vec`) and this pass.
    */
  def ivfPqEncode(res: DataFrame, books: Codebooks): DataFrame = {
    val spark = res.sparkSession
    import spark.implicits._
    val m = books.length
    val dsub = books(0)(0).length
    val bc = spark.sparkContext.broadcast(books)
    res.select(col("id"), col("cid"), col("rvec"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        val bs = bc.value
        val flats = bs.map(flattenBookT)
        val acc = new Array[Double](if (bs.isEmpty) 0 else bs(0).length)
        it.map { case (id, cid, vb) =>
          val v = FloatVecDot.unpack(vb)
          val code = new Array[Byte](m)
          var s = 0
          while (s < m) {
            val fl = flats(s)
            code(s) = nearestCodeT(fl._1, fl._2, dsub, v, s * dsub, acc).toByte
            s += 1
          }
          (id, cid, code)
        }
      }.toDF("id", "cid", "code")
  }

  /** IVF-PQ probe: rank centroids by q·c, keep the top `nProbe` lists,
    * and score only their members as q·c (exact, broadcast per-list
    * constant) + ADC(residual codes). The list filter is an IN-list on
    * `cid` — partition-prunable on a list-bucketed codes table — so at
    * nProbe/N probe fraction only that fraction of the compressed
    * corpus is touched at all.
    *
    * @param codes (id, cid, code BINARY) — [[ivfResiduals]] output
    *              encoded by [[pqEncode]] with the cid carried through
    */
  def ivfPqTopK(codes: DataFrame, cents: Array[(Long, Array[Float])],
      books: Codebooks, query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    require(cents.nonEmpty, "ivfPqTopK: no centroids")
    val spark = codes.sparkSession
    import spark.implicits._
    val m = books.length
    val dsub = books(0)(0).length
    def qdot(c: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      val n = math.min(query.length, c.length)
      while (i < n) { acc += query(i).toDouble * c(i).toDouble; i += 1 }
      acc
    }
    val probed: Map[Long, Double] = cents.map { case (cid, c) => (cid, qdot(c)) }
      .sortBy { case (cid, s) => (-s, cid) }
      .take(math.min(nProbe, cents.length)).toMap
    val table: Array[Array[Double]] = Array.tabulate(m) { s =>
      books(s).map { c =>
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += query(s * dsub + i).toDouble * c(i).toDouble; i += 1 }
        acc
      }
    }
    val bcTab = spark.sparkContext.broadcast((table, probed))
    codes.where(col("cid").isin(probed.keys.toSeq: _*))
      .select(col("id"), col("cid"), col("code"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        val (t, off) = bcTab.value
        it.map { case (id, cid, code) =>
          var acc = off(cid)
          var s = 0
          while (s < m) { acc += t(s)(code(s) & 0xff); s += 1 }
          (id, acc)
        }
      }.toDF("vec_id", "adc_score")
      .orderBy(desc("adc_score"), col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ + exact refine — the full compressed-index query pipeline:
    * probe `nProbe` lists by ADC, exact-re-rank the top `rerank`
    * candidates against the raw vectors.
    */
  def ivfPqTopKRefined(codes: DataFrame, emb: DataFrame,
      cents: Array[(Long, Array[Float])], books: Codebooks,
      query: Array[Float], k: Int, nProbe: Int, rerank: Int): DataFrame =
    exactRerank(ivfPqTopK(codes, cents, books, query,
      math.max(k, rerank), nProbe), emb, query, k)

  /** IVF-PQ k-NN JOIN — the compressed scale path for LARGE query
    * sides. [[SimilaritySearch.knnJoinIvfPacked]] ships every probed
    * candidate's full f32 vector through the join and scores it exactly
    * (~2.4e11 flops at the 10k×1M bench shape — the measured wall-clock
    * dominator when the join was profiled in round 6). Here the join carries the 1-byte-
    * per-subspace PQ codes instead: candidates rank by ADC
    * (q·c offset + m table lookups), only each query's top `rerank`
    * survivors touch their raw vectors in the exact re-rank — m/4d of
    * the bytes and roughly m lookups instead of d multiplies per pair.
    *
    * Exactness: with `nProbe = nlist` and `rerank >= corpus` the ADC
    * stage merely enumerates every candidate and the exact re-rank
    * fully re-scores — output equals the brute-force join regardless of
    * codebook quality (the k3 oracle entry pins this); at partial
    * probe/rerank it is the approximate trade documented for the other
    * compressed tiers (recall spec-gated).
    *
    * The per-query ADC lookup table (m × ncodes doubles, ~200 KB at
    * m=96/ncodes=256) is computed once per PROBE ROW, inside the
    * tagged-union cid-block kernel (probes sort before their list's
    * codes in each co-partitioned block); tables are never broadcast,
    * never shuffled, and no per-pair row ever materializes. Output
    * matches [[SimilaritySearch.knnJoin]]:
    * (qid, cid, score, rk) with (score desc, cid asc) ties.
    *
    * @param queries    (id LONG, vec BINARY packed f32)
    * @param codes      (id, cid, code BINARY) — [[ivfResiduals]] output
    *                   encoded by [[ivfPqEncode]]
    * @param candidates (id, vec BINARY) raw vectors for the re-rank
    */
  def knnJoinIvfPq(queries: DataFrame, codes: DataFrame,
      cents: Array[(Long, Array[Float])], books: Codebooks,
      candidates: DataFrame, k: Int, nProbe: Int,
      rerank: Int): DataFrame = {
    require(cents.nonEmpty, "knnJoinIvfPq: no centroids")
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val spark = queries.sparkSession
    import spark.implicits._
    import graft.functions.FloatVecDot.floatVecDot
    import org.apache.spark.sql.expressions.Window
    val m = books.length
    val dsub = books(0)(0).length
    val sorted = cents.sortBy(_._1)
    val bcB = spark.sparkContext.broadcast(books)

    // probes: top-nProbe lists per query by q·c (desc, cid asc ties),
    // carrying the exact q·c offset the ADC score starts from
    val probes = SimilaritySearch.probeRanks(queries, sorted, nProbe)

    // ADC scoring through the tagged-union cid-block kernel (the same
    // shape as the raw-vector blocked knn join): probes and codes union
    // into one stream, repartition by cid, probes sort FIRST within
    // each block. The kernel builds each block probe's m×ncodes lookup
    // table once, then streams the block's codes past all of them — the
    // pair space is enumerated inside the loop, never materialized as
    // rows (an equi-join formulation copies the packed query vector
    // into every joined row: ~pairs × d × 4 bytes of memcpy dominating
    // the ADC arithmetic ~16×). Block buffer memory: probes-per-list ×
    // m × ncodes × 8 bytes; split giant query sets across calls if
    // that outgrows executor memory.
    val u = probes.select(col("cid"), lit(0).as("tag"),
        col("qid").as("id"), col("qv").as("vec"), col("qc"))
      .unionByName(codes.select(col("cid"), lit(1).as("tag"),
        col("id"), col("code").as("vec"), lit(0.0).as("qc")))
    val arranged = u.repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("tag"))
      .as[(Long, Int, Long, Array[Byte], Double)]

    val sel = math.max(k, rerank)
    val worstFirst = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c1 = java.lang.Double.compare(b._1, a._1)
        if (c1 != 0) c1 else java.lang.Long.compare(a._2, b._2)
      }
    }
    def push(h: scala.collection.mutable.PriorityQueue[(Double, Long)],
        s: Double, c2: Long, cap: Int): Unit = {
      if (h.size < cap) h.enqueue((s, c2))
      else if (worstFirst.compare((s, c2), h.head) < 0) {
        h.dequeue(); h.enqueue((s, c2))
      }
    }
    val partial = arranged.mapPartitions { it =>
      val bs = bcB.value
      val flats = bs.map(flattenBook)
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      var curCid = Long.MinValue
      // block probe state: (qid, qc offset, ADC lookup table)
      val blockQ = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Array[Array[Double]])]
      it.foreach { case (cid, tag, id, vec, qc) =>
        if (cid != curCid) { blockQ.clear(); curCid = cid }
        if (tag == 0) {
          val q = FloatVecDot.unpack(vec)
          val t = Array.tabulate(m) { s =>
            // full-width subspaces take the SIMD flat-book path; a
            // short query's ragged last subspaces keep the bounded loop
            if ((s + 1) * dsub <= q.length) {
              val fl = flats(s)
              Array.tabulate(fl._2.length)(j => graft.functions.VecKernels
                .dotFloatsAt(fl._1, j * dsub, q, s * dsub, dsub))
            } else bs(s).map { c =>
              var acc = 0.0
              var i = 0
              while (i < dsub && s * dsub + i < q.length) {
                acc += q(s * dsub + i).toDouble * c(i).toDouble; i += 1
              }
              acc
            }
          }
          blockQ += ((id, qc, t))
        } else if (blockQ.nonEmpty) {
          var j = 0
          while (j < blockQ.length) {
            val (qid, off, t) = blockQ(j)
            var adc = off
            var si = 0
            while (si < m) { adc += t(si)(vec(si) & 0xff); si += 1 }
            push(heaps.getOrElseUpdate(qid,
              scala.collection.mutable.PriorityQueue.empty(worstFirst)),
              adc, id, sel)
            j += 1
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (s, c2) => (qid, c2, s) }
      }
    }
    val candPairs = partial.groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val h = scala.collection.mutable.PriorityQueue.empty(worstFirst)
        rows.foreach { case (_, c2, s) => push(h, s, c2, sel) }
        h.iterator.map { case (_, c2) => (qid, c2) }
      }.toDF("qid", "cand_id")

    // exact re-rank: two equi-joins (candidate vectors, query vectors),
    // then a per-query rank over <= rerank rows — the window partition
    // is k-bounded, never corpus-sized
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("score"), col("cid"))
    candPairs
      .join(candidates.select(col("id").as("cand_id"), col("vec").as("cv")),
        "cand_id")
      .join(queries.select(col("id").as("qid"), col("vec").as("qv")), "qid")
      .select(col("qid"), col("cand_id").as("cid"),
        round(floatVecDot(col("cv"), col("qv")), 6).as("score"))
      .where(!isnan(col("score")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("cid"), col("score"), col("rk"))
  }

  // ------------------------------------------------------------------
  // binary (1-bit sign) quantization — the bottom of the ladder
  // ------------------------------------------------------------------

  /** Engine-portable binary-quantized top-k over `(vec_id, embedding)`:
    * a Hamming prefilter on sign bits (bit i = x_i > 0; Charikar 2002
    * sign-LSH with axis hyperplanes) keeps the `rerank` closest codes
    * (ties on ascending vec_id), then an exact f32 re-rank orders the
    * survivors by true dot product. At full `rerank` ≥ corpus size this
    * is provably the exact top-k restricted to candidate order; at
    * practical settings the binary pass touches 1/32 of the f32 bytes.
    *
    * This array formulation (sign mismatch count via zip_with) is the
    * DuckDB oracle's twin; [[binTopKPacked]] is the same math over
    * packed codes through the codegen'd [[graft.functions.BitHamming]]
    * kernel, and a spec asserts they agree.
    */
  def binTopK(emb: DataFrame, queryVecId: Long, k: Int,
      rerank: Int): DataFrame = {
    val q = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    val pre = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        aggregate(
          zip_with(col("embedding"), col("qe"),
            (x, y) => ((x > 0f) =!= (y > 0f)).cast("int")),
          lit(0), (acc, v) => acc + v).as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(rerank)
    val w = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(asDouble(col("embedding")), asDouble(col("qe"))), 6)
          .as("score"))
    pre.join(w, "vec_id")
      .where(!isnan(col("score")))
      .select(col("vec_id"), col("score"), col("hamming"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Sign-pack `(id, vec BINARY)` packed-f32 rows to `(id, bcode
    * BINARY)` — 32× compression; the persisted binary tier.
    */
  def binEncodePacked(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("id"), col("vec")).as[(Long, Array[Byte])]
      .map { case (id, vb) =>
        (id, graft.functions.BitHamming.signPack(FloatVecDot.unpack(vb)))
      }.toDF("id", "bcode")
  }

  /** Hamming top-`rerank` prefilter over [[binEncodePacked]] output +
    * exact re-rank against the packed f32 table. Both passes are
    * shuffle-free scans ending in TakeOrderedAndProject; the join back
    * to `emb` touches only `rerank` rows.
    */
  def binTopKPacked(bcodes: DataFrame, emb: DataFrame,
      queryVec: Array[Float], k: Int, rerank: Int): DataFrame = {
    import graft.functions.BitHamming.bitHamming
    import graft.functions.FloatVecDot.floatVecDot
    val qCode = graft.functions.BitHamming.signPack(queryVec)
    val qPacked = FloatVecDot.pack(queryVec)
    val pre = bcodes
      .select(col("id"),
        bitHamming(col("bcode"), lit(qCode)).as("hamming"))
      .orderBy(col("hamming"), col("id"))
      .limit(rerank)
    pre.join(emb.select(col("id"), col("vec")), "id")
      .select(col("id").as("vec_id"),
        round(floatVecDot(col("vec"), lit(qPacked)), 6).as("score"),
        col("hamming"))
      .where(!isnan(col("score")))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Persist an IVF-PQ code table `(cid, id, code)` as a catalog table
    * BUCKETED by the list id — the layout [[knnJoinIvfPqBucketed]]'s
    * custom plan consumes exchange-free. The code rows are ~100 B each
    * (1 B per subspace + ids), so at 100 TB raw this table is ~1% of
    * the corpus — but re-shuffling even that per join call is the
    * cost the bucketing amortizes to zero. Keep `buckets` at (a
    * multiple of) the cluster's shuffle parallelism.
    */
  def writeCodesBucketed(codes: DataFrame, table: String,
      buckets: Int = 32, parts: Int = 0,
      location: Option[String] = None): Unit = {
    // parts > 0 additionally DIRECTORY-partitions the table by a
    // cid-derived shard (`pp = pmod(cid, parts)`): bucketing still
    // reports HashPartitioning(cid) to the planner (Spark groups each
    // bucket's files across partition dirs into one task), and a
    // maintenance pass can dynamic-partition-overwrite ONLY the shards
    // whose lists changed — O(changed shards), not O(codes)
    // (BucketedOverwriteSpec pins both properties). `location` makes
    // the table EXTERNAL at that path, so a later session whose
    // in-memory catalog forgot the registration can re-declare the
    // same files instead of paying the O(codes) rewrite again.
    val base = codes.select(col("cid"), col("id"), col("code"))
    val w0 =
      if (parts > 0)
        base.withColumn("pp", pmod(col("cid"), lit(parts.toLong)))
          .write.partitionBy("pp")
      else base.write
    val w = location.fold(w0)(w0.option("path", _))
    w.mode("overwrite")
      .bucketBy(buckets, "cid")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Incremental twin of [[writeCodesBucketed]] for a PARTITIONED
    * mirror: dynamic-overwrites only the shards in `changedPps` from
    * the current full `codes`, and drops shards that lost their last
    * row (dynamic overwrite only replaces shards present in the
    * written data — an emptied shard would otherwise keep its stale
    * rows). Write volume is O(|changedPps| / parts × |codes|).
    */
  def overwriteCodeShards(codes: DataFrame, table: String, parts: Int,
      changedPps: Seq[Long]): Unit = {
    if (changedPps.isEmpty) return
    val spark = codes.sparkSession
    val fresh = codes.select(col("cid"), col("id"), col("code"))
      .withColumn("pp", pmod(col("cid"), lit(parts.toLong)))
      .where(col("pp").isin(changedPps: _*))
    val livePps = fresh.select(col("pp")).distinct()
      .collect().map(_.getLong(0)).toSet
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try fresh.write.mode("overwrite").format("parquet").insertInto(table)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    changedPps.filterNot(livePps).foreach { p =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (pp=$p)")
    }
  }

  /** [[knnJoinIvfPq]] over a [[writeCodesBucketed]] table, through the
    * custom [[graft.plans.AdcCodesJoin]] physical operator: identical
    * results (same ADC kernel, same tie discipline, same exact
    * re-rank), but the codes side enters the block kernel WITHOUT an
    * exchange — the node's `requiredChildDistribution` lets the
    * planner accept the bucketed scan's `HashPartitioning(cid)` as-is
    * and shuffle only the probe rows (queries × nProbe). The
    * DataFrame-level kernel cannot express this: its tagged-union
    * `repartition` re-shuffles both sides regardless of layout
    * (measured and documented in SURVEY r7). Spec pins result parity
    * with [[knnJoinIvfPq]] and the codes-side exchange elision.
    */
  def knnJoinIvfPqBucketed(queries: DataFrame, table: String,
      cents: Array[(Long, Array[Float])], books: Codebooks,
      candidates: DataFrame, k: Int, nProbe: Int,
      rerank: Int): DataFrame = {
    require(cents.nonEmpty, "knnJoinIvfPqBucketed: no centroids")
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val spark = queries.sparkSession
    import spark.implicits._
    import graft.functions.FloatVecDot.floatVecDot
    import org.apache.spark.sql.expressions.Window
    graft.plans.AdcCodesJoinStrategy.install(spark)
    val sorted = cents.sortBy(_._1)
    val sel = math.max(k, rerank)
    val probes = SimilaritySearch.probeRanks(queries, sorted, nProbe)
      .select(col("qid"), col("qv"), col("cid"), col("qc"))
    val codes = spark.table(table)
      .select(col("cid"), col("id"), col("code"))
    val partial = org.apache.spark.sql.graft.Bridge.ofRows(spark,
      graft.plans.AdcCodesJoin(probes.queryExecution.analyzed,
        codes.queryExecution.analyzed, books, sel))
    val worstFirst = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c1 = java.lang.Double.compare(b._1, a._1)
        if (c1 != 0) c1 else java.lang.Long.compare(a._2, b._2)
      }
    }
    val candPairs = partial.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val h = scala.collection.mutable.PriorityQueue.empty(worstFirst)
        rows.foreach { case (_, c2, s) =>
          if (h.size < sel) h.enqueue((s, c2))
          else if (worstFirst.compare((s, c2), h.head) < 0) {
            h.dequeue(); h.enqueue((s, c2))
          }
        }
        h.iterator.map { case (_, c2) => (qid, c2) }
      }.toDF("qid", "cand_id")
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("score"), col("cid"))
    candPairs
      .join(candidates.select(col("id").as("cand_id"), col("vec").as("cv")),
        "cand_id")
      .join(queries.select(col("id").as("qid"), col("vec").as("qv")), "qid")
      .select(col("qid"), col("cand_id").as("cid"),
        round(floatVecDot(col("cv"), col("qv")), 6).as("score"))
      .where(!isnan(col("score")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("cid"), col("score"), col("rk"))
  }
}
