package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale paths for §3.3 `document_top_pairwise_scores`
  * (`/root/reference/src/svs/kb.py:1642-1671`): the reference materializes
  * the full n×n score matrix in RAM (`kb.py:1650`); the r1 engine replaced
  * that with an upper-triangle non-equi join — exact, but still
  * BroadcastNestedLoop-grade work generating all n(n−1)/2 rows through the
  * join machinery. These are the operators that survive 100×:
  *
  *  - [[blockedTopKPairs]]: EXACT. Grid of dense vector blocks — each
  *    unordered block pair (i ≤ j) is one task that scans the two blocks
  *    as contiguous f32 matrices with a bounded top-k heap, then a global
  *    top-k over the ≤ B(B+1)/2 · k survivors. Same flop count as the
  *    join formulation but zero per-pair row materialization, and peak
  *    memory per task is two blocks, not the matrix. The per-cell heap is
  *    correct because every unordered pair lands in exactly one grid cell.
  *
  *  - [[sketchTopKPairs]]: APPROXIMATE (disclosed). Sign-sketch banding —
  *    b-bit hyperplane sketches, banded like SimHash LSH; candidates are
  *    in-band collisions ranked by full-sketch Hamming distance, and only
  *    the best `rerank` candidates are re-scored exactly. At 1M × d1536
  *    the exact grid is ~8×10¹⁴ flops (infeasible anywhere); the sketch
  *    path shuffles 32-byte sketches instead of 6 KB vectors and
  *    completes in seconds. Recall is that of single-probe banding —
  *    high for genuine near-dup pairs (cos ≳ 0.8), not for the
  *    near-orthogonal bulk; use it for near-dup mining, not exact ranking.
  *
  * Both return (id1 LONG, id2 LONG, score DOUBLE) with id1 < id2.
  */
object PairwiseTopK {

  /** Heap/global ordering: `refTie = false` → (score desc, id1 asc,
    * id2 asc) — the j3 oracle order; `refTie = true` → (score desc,
    * id2 desc, id1 desc) — the reference's tie order (`util.py:190-203`).
    * Comparator sorts ascending by "goodness" so a min-heap keeps the
    * best k with the worst at the head.
    */
  private def goodness(refTie: Boolean): Ordering[(Double, Long, Long)] =
    if (refTie)
      new Ordering[(Double, Long, Long)] {
        def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int = {
          val c1 = java.lang.Double.compare(a._1, b._1)
          if (c1 != 0) c1
          else {
            val c2 = java.lang.Long.compare(a._3, b._3)
            if (c2 != 0) c2 else java.lang.Long.compare(a._2, b._2)
          }
        }
      }
    else
      new Ordering[(Double, Long, Long)] {
        def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int = {
          val c1 = java.lang.Double.compare(a._1, b._1)
          if (c1 != 0) c1
          else {
            val c2 = java.lang.Long.compare(b._2, a._2)
            if (c2 != 0) c2 else java.lang.Long.compare(b._3, a._3)
          }
        }
      }

  private def decode(mat: Array[Byte], dim: Int): Array[Float] = {
    val n = mat.length / 4
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val o = i * 4
      out(i) = java.lang.Float.intBitsToFloat(
        (mat(o) & 0xff) | ((mat(o + 1) & 0xff) << 8) |
          ((mat(o + 2) & 0xff) << 16) | ((mat(o + 3) & 0xff) << 24))
      i += 1
    }
    out
  }

  private def dot(a: Array[Float], ao: Int, b: Array[Float], bo: Int,
      dim: Int): Double =
    graft.functions.VecKernels.dotFloatsAt(a, ao, b, bo, dim)

  /** Exact top-k pairs over (id LONG, vec BINARY packed f32).
    *
    * @param roundTo round scores to this many decimals BEFORE comparing
    *                (so ties break identically to an oracle that orders by
    *                the rounded value); negative = no rounding
    */
  def blockedTopKPairs(packed: DataFrame, dim: Int, k: Int,
      numBlocks: Int = 16, roundTo: Int = -1,
      refTie: Boolean = false): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    val b = math.max(1, numBlocks)
    val cmp = goodness(refTie)
    val pow = if (roundTo >= 0) math.pow(10, roundTo) else 0.0

    // one dense (ids, f32 matrix) block per block id = id mod B
    val blocks = packed.select(col("id"), col("vec")).rdd
      .map { r =>
        val id = r.getLong(0)
        (java.lang.Math.floorMod(id, b.toLong).toInt, (id, r.getAs[Array[Byte]](1)))
      }
      .partitionBy(new HashPartitioner(b))
      .mapPartitions { it =>
        val ids = scala.collection.mutable.ArrayBuffer[Long]()
        val bufs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
        var blk = -1
        it.foreach { case (bk, (id, v)) => blk = bk; ids += id; bufs += v }
        if (ids.isEmpty) Iterator.empty
        else {
          val mat = new Array[Float](ids.length * dim)
          var off = 0
          bufs.foreach { v =>
            val f = decode(v, dim)
            System.arraycopy(f, 0, mat, off, dim); off += dim
          }
          Iterator.single((blk, (ids.toArray, mat)))
        }
      }

    // replicate each block to every grid cell (i ≤ j) it participates in:
    // B copies per block, B(B+1)/2 cells total — the standard block-matrix
    // fan-out (each cell needs exactly its two operand blocks)
    val cells = blocks
      .flatMap { case (i, blk) =>
        (0 until b).iterator.map { j =>
          (if (i <= j) (i, j) else (j, i), (i, blk))
        }
      }
      .groupByKey(b * (b + 1) / 2)
      .flatMap { case ((bi, bj), entries) =>
        val byBlk = entries.toMap
        val heap = new java.util.PriorityQueue[(Double, Long, Long)](
          math.max(k, 1), cmp)
        def offer(score: Double, ida: Long, idb: Long): Unit = {
          // HALF_UP away from zero — the rounding Spark's round() and
          // DuckDB's round() both apply
          val s = if (pow > 0)
            math.signum(score) * math.floor(math.abs(score) * pow + 0.5) / pow
          else score
          val cand =
            if (ida < idb) (s, ida, idb) else (s, idb, ida)
          if (heap.size < k) heap.add(cand)
          else if (cmp.compare(cand, heap.peek()) > 0) {
            heap.poll(); heap.add(cand)
          }
        }
        if (bi == bj) {
          byBlk.get(bi).foreach { case (ids, mat) =>
            val n = ids.length
            var r = 0
            while (r < n) {
              var c = r + 1
              while (c < n) {
                offer(dot(mat, r * dim, mat, c * dim, dim), ids(r), ids(c))
                c += 1
              }
              r += 1
            }
          }
        } else {
          (byBlk.get(bi), byBlk.get(bj)) match {
            case (Some((idsA, matA)), Some((idsB, matB))) =>
              var r = 0
              while (r < idsA.length) {
                var c = 0
                while (c < idsB.length) {
                  offer(dot(matA, r * dim, matB, c * dim, dim),
                    idsA(r), idsB(c))
                  c += 1
                }
                r += 1
              }
            case _ => // a block with no rows: no pairs from this cell
          }
        }
        import scala.jdk.CollectionConverters._
        heap.iterator().asScala.toArray.iterator
      }
      .toDF("score", "id1", "id2")
      .select(col("id1"), col("id2"), col("score"))

    val ordered =
      if (refTie) cells.orderBy(desc("score"), desc("id2"), desc("id1"))
      else cells.orderBy(desc("score"), col("id1"), col("id2"))
    ordered.limit(k)
  }

  /** b-bit hyperplane sign sketch per vector + its band keys, as
    * (id LONG, sk ARRAY<LONG>, bkeys ARRAY<LONG>). The hyperplane matrix
    * is regenerated from the seed (deterministic) — never broadcast,
    * never shuffled — and processed in ≤1024-bit CHUNKS against groups
    * of 256 rows, so per-partition memory stays ~chunk × dim (≈12 MB at
    * d1536) no matter how many bands [[sketchConfigFor]] demands; chunk
    * generation amortizes to a few gaussians per row. Shared candidate
    * machinery for [[sketchTopKPairs]] and [[sketchThresholdPairs]].
    */
  def signSketches(packed: DataFrame, dim: Int, sketchBits: Int,
      bands: Int, seed: Long): DataFrame = {
    require(sketchBits % 64 == 0 && sketchBits % bands == 0,
      "sketchBits must be a multiple of 64 and of bands")
    val spark = packed.sparkSession
    import spark.implicits._
    val words = sketchBits / 64
    val bandBits = sketchBits / bands
    val chunkBits = math.min(1024, sketchBits)
    val groupRows = 256
    packed.select(col("id"), col("vec")).rdd
      .mapPartitions { it =>
        it.map(r => (r.getLong(0), decode(r.getAs[Array[Byte]](1), dim)))
          .grouped(groupRows)
          .flatMap { group =>
            val n = group.length
            val sks = Array.ofDim[Long](n, words)
            var cb = 0
            while (cb < sketchBits) {
              val bitsHere = math.min(chunkBits, sketchBits - cb)
              // chunk-indexed seed: the same hyperplanes on every
              // partition and every row group
              val rnd = new java.util.Random(seed + cb)
              val hp = Array.fill(bitsHere * dim)(rnd.nextGaussian())
              var ri = 0
              while (ri < n) {
                val v = group(ri)._2
                val sk = sks(ri)
                var j = 0
                while (j < bitsHere) {
                  val acc = graft.functions.VecKernels
                    .dotDoubleFloatAt(hp, j * dim, v)
                  if (acc >= 0) {
                    val p = cb + j
                    sk(p / 64) |= (1L << (p % 64))
                  }
                  j += 1
                }
                ri += 1
              }
              cb += bitsHere
            }
            group.iterator.zipWithIndex.map { case ((id, _), ri) =>
              val sk = sks(ri)
              val bkeys = new Array[Long](bands)
              var t = 0
              while (t < bands) {
                var key = 0L
                var j = 0
                while (j < bandBits) {
                  val p = t * bandBits + j
                  key = (key << 1) | ((sk(p / 64) >>> (p % 64)) & 1L)
                  j += 1
                }
                bkeys(t) = key
                t += 1
              }
              (id, sk, bkeys)
            }
          }
      }
      .toDF("id", "sk", "bkeys")
  }

  /** Full-sketch Hamming distance between array columns `sk1` and `sk2`. */
  private def hammingCol: Column =
    expr("aggregate(zip_with(sk1, sk2, (x, y) -> bit_count(x ^ y)), 0, (s, h) -> s + h)")

  /** The distinct (`left`, `right`) id pairs that share a band key, each
    * with its full-sketch Hamming distance as `hamming`. `a` and `b` are
    * [[signSketches]] outputs (`b` may be `a`). A band row carries only
    * its id: the sketch, `sketchBits / 8` bytes, is joined back once per
    * candidate pair rather than repeated on every band row, where it
    * made the band join's shuffle and sort grow with bands × sketch
    * size. */
  private[ops] def bandCandidates(a: DataFrame, b: DataFrame, left: String,
      right: String, pairFilter: Option[Column] = None): DataFrame = {
    def bandRows(sk: DataFrame, id: String) =
      sk.select(posexplode(col("bkeys")).as(Seq("band", "bkey")), col("id").as(id))
    val joined = bandRows(a, left).join(bandRows(b, right), Seq("band", "bkey"))
    pairFilter.fold(joined)(joined.where)
      .select(col(left), col(right)).distinct()
      .join(a.select(col("id").as(left), col("sk").as("sk1")), left)
      .join(b.select(col("id").as(right), col("sk").as("sk2")), right)
      .select(col(left), col(right), hammingCol.as("hamming"))
  }

  /** Approximate top-k pairs at corpus scale: sign-sketch banding +
    * Hamming prefilter + exact re-rank of the best `rerank` candidates.
    */
  def sketchTopKPairs(packed: DataFrame, dim: Int, k: Int,
      sketchBits: Int = 256, bands: Int = 16, rerank: Int = 20000,
      seed: Long = 42L, refTie: Boolean = false): DataFrame = {
    // 1. sketches (shared machinery)
    val sketches = signSketches(packed, dim, sketchBits, bands, seed)

    // 2. banded collisions → candidate pairs ranked by full-sketch Hamming
    val cands = bandCandidates(sketches, sketches, "id1", "id2",
        Some(col("id1") < col("id2")))
      .orderBy(col("hamming"), col("id1"), col("id2"))
      .limit(rerank)

    // 3. exact re-rank of the surviving candidates with the codegen'd
    // packed-f32 dot kernel
    import graft.functions.FloatVecDot.floatVecDot
    val v1 = packed.select(col("id").as("id1"), col("vec").as("v1"))
    val v2 = packed.select(col("id").as("id2"), col("vec").as("v2"))
    val exact = cands.join(v1, "id1").join(v2, "id2")
      .select(col("id1"), col("id2"), floatVecDot(col("v1"), col("v2")).as("score"))
    val ordered =
      if (refTie) exact.orderBy(desc("score"), desc("id2"), desc("id1"))
      else exact.orderBy(desc("score"), col("id1"), col("id2"))
    ordered.limit(k)
  }

  /** ALL pairs above a cosine threshold, approximately, at corpus scale:
    * the threshold-mining face of the sketch machinery (near-dup mining
    * calls this, not top-k). Candidates are in-band sketch collisions; a
    * full-sketch Hamming cutoff derived from the threshold (expected
    * Hamming of a cos-s pair is `bits·acos(s)/π`, padded by
    * `hammingSlack`) kills the near-orthogonal bulk before any vector is
    * joined; survivors are re-scored EXACTLY and filtered on the true
    * threshold — so precision is exact and only recall is approximate.
    *
    * Recall is single-probe banding recall: strong for genuine near-dup
    * grades (cos ≳ 0.9 with the defaults); for lower thresholds use
    * [[sketchConfigFor]], which scales the number of 16-bit bands to a
    * target recall. Returns (id1, id2, score) with id1 < id2, unordered.
    */
  /** (sketchBits, bands) achieving predicted recall `targetRecall` for
    * pairs AT the cosine threshold (the hardest pairs the miner must
    * find — anything more similar has higher recall), with band keys
    * FIXED at 16 bits. 16-bit keys hold random-pair collisions at
    * ~1.5e-5 per band, so candidate volume stays ~`bands · n²/2^16` —
    * linear-ish in bands, never the n²/16 cliff of narrow keys (the d3b
    * lesson). The knob that buys recall is therefore the band COUNT:
    * per-bit agreement p = 1 − acos(c)/π, band hit p¹⁶, and
    * recall = 1 − (1 − p¹⁶)^bands, giving (target 0.9):
    *
    *   threshold 0.9 → 28 bands, 0.8 → 92, 0.7 → 248, 0.6 → 624
    *
    * (the operator's fixed 16-band default corresponds to predicted
    * recall ≈0.75 at 0.9 — adequate only for pairs well above the
    * threshold). Sketch generation is `sketchBits × dim` flops/row, so
    * cost grows linearly with bands — the honest price of recall at
    * moderate thresholds; below ~0.5 the config runs into the
    * thousands of bands (memory stays bounded — [[signSketches]] chunks
    * the hyperplanes — but compute explodes) and a different algorithm
    * (ANN join / clustering) is the right tool. OpsSpec gates measured
    * recall ≥ 0.9 on planted pairs at 0.6–0.8 with this config.
    */
  def sketchConfigFor(threshold: Double,
      targetRecall: Double = 0.9): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0)
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, 16)
    val l0 = math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt
    val bands = math.max(4, ((l0 + 3) / 4) * 4) // ×16 keeps bits % 64 == 0
    (bands * 16, bands)
  }

  def sketchThresholdPairs(packed: DataFrame, dim: Int, threshold: Double,
      sketchBits: Int = 256, bands: Int = 16, seed: Long = 42L,
      hammingSlack: Double = 1.25): DataFrame = {
    val sketches = signSketches(packed, dim, sketchBits, bands, seed)
    val maxHam = math.min(sketchBits.toDouble, sketchBits *
      math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi *
        hammingSlack).toInt

    val cands = bandCandidates(sketches, sketches, "id1", "id2",
        Some(col("id1") < col("id2")))
      .where(col("hamming") <= maxHam)
      .select(col("id1"), col("id2"))

    import graft.functions.FloatVecDot.floatVecDot
    val v1 = packed.select(col("id").as("id1"), col("vec").as("v1"))
    val v2 = packed.select(col("id").as("id2"), col("vec").as("v2"))
    cands.join(v1, "id1").join(v2, "id2")
      .select(col("id1"), col("id2"),
        round(floatVecDot(col("v1"), col("v2")), 6).as("score"))
      .where(col("score") >= threshold)
  }
}
