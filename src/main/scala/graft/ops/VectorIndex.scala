package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** A batch-built, memory-resident vector index: the Spark-native
  * re-expression of the reference's cached embeddings matrix
  * (`/root/reference/src/svs/kb.py:573-618`, `kb.py:856-893`).
  *
  * Layout: one dense block per partition — a contiguous little-endian
  * f32 matrix (`n_block × dim`) plus its id vector — exactly the
  * reference's `(n×m) float32 matrix + int64 id lookup`, sharded across
  * executors instead of materialized on one machine. Scoring a query is
  * a sequential scan of each block (JIT-vectorizable, zero per-row object
  * overhead) with a bounded local top-k heap, then a driver-side merge of
  * `numPartitions × k` candidates — the same partial-select-then-merge
  * shape as `TakeOrderedAndProject`, but over raw primitive arrays.
  *
  * This is deliberately an RDD fast path (SURVEY §7.3 preference (d)):
  * the declarative DataFrame formulation of retrieval stays the
  * correctness baseline (`v1_retrieve_topk`, oracle-checked); this index
  * exists because the hot loop — millions of f32 dots per query — gains
  * ~5× from block-contiguous storage that Catalyst's columnar cache
  * cannot express. At cluster scale the blocks live on executors and the
  * merge traffic is k rows per partition.
  *
  * Tie order matches the reference's top-k (larger id first on equal
  * score, `util.py:190-203`).
  *
  * A driver-local index ([[isLocal]]) also scores a given id list
  * ([[scoreLocal]]): the candidate-scoring half of an IVF probe, with
  * no Spark job, exactly as `FloatVecDot` scores those rows in a plan.
  *
  * A driver-local index also takes a write without a rebuild:
  * [[updated]] returns a driver-only index (stripes, no RDD) with some
  * ids removed and a new stripe of rows added. Scores are the same
  * kernel's over the same bytes, and [[topK]] orders the global
  * (score, id) list, so the answer does not depend on how the rows are
  * striped.
  */
final class VectorIndex private (
    blocks: Option[RDD[(Array[Long], Array[Byte])]],
    val dim: Int,
    stripes: Option[Array[(Array[Long], Array[Byte])]]) extends Serializable {

  /** Number of indexed vectors. */
  lazy val count: Long = localBlocks match {
    case Some(s) => s.iterator.map(_._1.length.toLong).sum
    case None => blocks.get.map(_._1.length.toLong).sum().toLong
  }

  /** Driver-local copy of the blocks for small indexes: below this many
    * vectors the whole matrix is cheaper to hold on the driver (it is
    * exactly the reference's in-RAM matrix) than to schedule a Spark job
    * per query — a 10k×1536 corpus is 65 MB and scans in ~10 ms, while
    * job dispatch alone costs ~30-50 ms.
    */
  private var localBlocks: Option[Array[(Array[Long], Array[Byte])]] = stripes

  /** id -> (stripe << 32 | row) over [[localBlocks]], built by the first
    * [[scoreLocal]]. */
  private var localRowOf: Option[scala.collection.mutable.LongMap[Long]] = None

  /** Materialize the index in executor memory (the reference's lazy
    * first-query matrix build); indexes of at most
    * [[VectorIndex.LocalThreshold]] vectors are additionally pinned on
    * the driver for job-free queries.
    */
  def materialize(): VectorIndex = {
    if (!isLocal && count <= VectorIndex.LocalThreshold) {
      // stripe once across cores so local queries parallelize without
      // per-query copying
      localRowOf = None
      localBlocks = Some(blocks.get.collect().flatMap { case (ids, mat) =>
        VectorIndex.striped(ids, mat, dim)
      })
    }
    this
  }

  /** Release the executor blocks and the driver copy made from them. A
    * driver-only index ([[updated]]) holds no executor blocks and stays
    * usable: its stripes go with the object. */
  def unpersist(): Unit = synchronized {
    blocks.foreach { b => b.unpersist(); localBlocks = None; localRowOf = None }
  }

  /** A driver-only index of this one's vectors without the ids in
    * `removed`, plus the rows `addIds` (packed f32 rows in `addMat`,
    * as `FloatVecPack` packs them) as one more stripe. Stripes that
    * lose no row are shared, not copied; once there are more stripes
    * than cores, all rows are cut into fresh stripes as [[materialize]]
    * cuts them. Requires [[isLocal]].
    */
  def updated(removed: scala.collection.Set[Long], addIds: Array[Long],
      addMat: Array[Byte]): VectorIndex = {
    val held = synchronized(localBlocks).getOrElse(
      throw new IllegalStateException("updated needs a driver-local index"))
    val rowBytes = dim * 4
    val kept = held.flatMap { case (ids, mat) =>
      if (removed.isEmpty || !ids.exists(removed.contains)) Some((ids, mat))
      else {
        val keep = ids.indices.filterNot(r => removed.contains(ids(r))).toArray
        Option.when(keep.nonEmpty) {
          val m = new Array[Byte](keep.length * rowBytes)
          keep.indices.foreach { j =>
            System.arraycopy(mat, keep(j) * rowBytes, m, j * rowBytes, rowBytes)
          }
          (keep.map(ids), m)
        }
      }
    }
    val all = if (addIds.isEmpty) kept else kept :+ ((addIds, addMat))
    val next =
      if (all.length <= Runtime.getRuntime.availableProcessors()) all
      else VectorIndex.striped(all.flatMap(_._1),
        Array.concat(all.map(_._2).toSeq: _*), dim)
    new VectorIndex(None, dim, Some(next))
  }

  /** Whether the blocks are held on the driver (see [[materialize]]). */
  def isLocal: Boolean = localBlocks.isDefined

  /** Exact dot scores of `ids` against the driver-local blocks, as
    * (id, score) in input order; ids the index does not hold are
    * skipped, like an inner join on id. The query is clamped to the
    * index dim as in [[topK]], and the row kernel uses the lane scheme
    * of `FloatVecDot` (see `VecKernels`), so each score is bit-identical
    * to that expression's over the same packed vectors. Requires
    * [[isLocal]].
    */
  def scoreLocal(ids: Array[Long], query: Array[Float]): Array[(Long, Double)] = {
    val (stripes, rowOf) = synchronized {
      val stripes = localBlocks.getOrElse(throw new IllegalStateException(
        "scoreLocal needs a driver-local index"))
      val rowOf = localRowOf.getOrElse {
        val m = new scala.collection.mutable.LongMap[Long]()
        stripes.indices.foreach { s =>
          val sIds = stripes(s)._1
          sIds.indices.foreach(r => m.update(sIds(r), s.toLong << 32 | r))
        }
        localRowOf = Some(m)
        m
      }
      (stripes, rowOf)
    }
    val d = dim
    val q = if (query.length > d) java.util.Arrays.copyOf(query, d) else query
    ids.flatMap { id =>
      rowOf.get(id).map { pos =>
        val mat = stripes((pos >>> 32).toInt)._2
        (id, graft.functions.VecKernels.dotPackedAt(mat, pos.toInt * d * 4, q))
      }
    }
  }

  /** Fraction of the persisted blocks' bytes resident in executor
    * MEMORY (vs spilled to disk under pool pressure, or not cached at
    * all). 1.0 for driver-local indexes. A warm-query benchmark point
    * is only meaningful when this is ~1.0 — a partially-evicted matrix
    * measures the disk, not the scan (the r8 `svs_warm_1m` lesson).
    */
  def memoryResidency(): Double = localBlocks match {
    case Some(_) => 1.0
    case None =>
      val rdd = blocks.get
      rdd.sparkContext.getRDDStorageInfo.find(_.id == rdd.id) match {
        case Some(info) if info.numPartitions > 0 =>
          val cachedFrac =
            info.numCachedPartitions.toDouble / info.numPartitions
          val bytes = info.memSize + info.diskSize
          val memFrac =
            if (bytes > 0) info.memSize.toDouble / bytes else 0.0
          cachedFrac * memFrac
        case _ => 0.0
      }
  }

  /** Exact top-k by dot product (cosine under the unit-norm invariant). */
  def topK(query: Array[Float], k: Int): Seq[(Long, Double)] = {
    if (k <= 0) return Seq.empty
    val d = dim
    // the row kernel reads exactly q.length floats from each matrix
    // row, so clamp a longer query to the index dim (the old scalar
    // loop's behavior); shorter queries truncate the product either way
    val q = if (query.length > d) java.util.Arrays.copyOf(query, d) else query
    val scanPartition: Iterator[(Array[Long], Array[Byte])] =>
        Iterator[Array[(Double, Long)]] = { it =>
      // bounded min-heap of (score, id)
      val heap = new java.util.PriorityQueue[(Double, Long)](
        math.max(k, 1), VectorIndex.heapOrder)
      it.foreach { case (ids, mat) =>
        val n = ids.length
        var r = 0
        while (r < n) {
          // SIMD matrix·vector row: q.length == d by construction
          val acc = graft.functions.VecKernels.dotPackedAt(mat, r * d * 4, q)
          val cand = (acc, ids(r))
          if (heap.size < k) heap.add(cand)
          else if (VectorIndex.heapOrder.compare(cand, heap.peek()) > 0) {
            heap.poll(); heap.add(cand)
          }
          r += 1
        }
      }
      Iterator.single(heap.toArray(Array.empty[(Double, Long)]))
    }
    val perPart = localBlocks match {
      case Some(stripes) =>
        // driver-local pre-striped scan on the common FJ pool: no Spark
        // job, no copying — the reference's warm in-RAM query path
        java.util.Arrays.stream(stripes.indices.toArray).parallel()
          .mapToObj(i => scanPartition(Iterator.single(stripes(i))).next())
          .toArray(new Array[Array[(Double, Long)]](_))
      case None => blocks.get.mapPartitions(scanPartition).collect()
    }
    perPart.flatten
      .sortBy { case (s, id) => (-s, -id) } // desc score, larger id first
      .take(k)
      .map { case (s, id) => (id, s) }
      .toSeq
  }
}

object VectorIndex {

  /** At most this many vectors are held on the driver (see
    * [[VectorIndex.materialize]]). */
  val LocalThreshold: Long = 200000L

  /** One block cut into `min(cores, n / 1024)` (at least one) stripes of
    * consecutive rows. */
  private def striped(ids: Array[Long], mat: Array[Byte],
      dim: Int): Array[(Array[Long], Array[Byte])] = {
    val rowBytes = dim * 4
    val n = ids.length
    val nStripes = math.min(
      Runtime.getRuntime.availableProcessors(), math.max(1, n / 1024))
    Array.tabulate(nStripes) { s =>
      val lo = (n.toLong * s / nStripes).toInt
      val hi = (n.toLong * (s + 1) / nStripes).toInt
      (java.util.Arrays.copyOfRange(ids, lo, hi),
        java.util.Arrays.copyOfRange(mat, lo * rowBytes, hi * rowBytes))
    }
  }

  private val heapOrder: java.util.Comparator[(Double, Long)] =
    (a: (Double, Long), b: (Double, Long)) => {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }

  /** Build from a DataFrame with (id LONG, vec BINARY packed f32) —
    * e.g. the Bench corpus or a packed embeddings table.
    *
    * @param numBlocks optional shard count; use fewer blocks for small
    *                  corpora so per-task scheduling overhead doesn't
    *                  dominate query latency (a block of ≲100k×d1536
    *                  scans in a few ms)
    */
  def fromPacked(df: DataFrame, dim: Int, numBlocks: Int = 0): VectorIndex = {
    val base = df.select(col("id"), col("vec"))
    val shaped = if (numBlocks > 0) base.coalesce(numBlocks) else base
    val blocks = shaped
      .rdd
      .mapPartitions { it =>
        val ids = scala.collection.mutable.ArrayBuffer[Long]()
        val bufs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
        it.foreach { row =>
          ids += row.getLong(0)
          bufs += row.getAs[Array[Byte]](1)
        }
        if (ids.isEmpty) Iterator.empty
        else {
          val mat = new Array[Byte](bufs.iterator.map(_.length).sum)
          var off = 0
          bufs.foreach { b =>
            System.arraycopy(b, 0, mat, off, b.length); off += b.length
          }
          Iterator.single((ids.toArray, mat))
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    new VectorIndex(Some(blocks), dim, None)
  }

  /** Build from an (id LONG, vec ARRAY<FLOAT>) embeddings table. */
  def fromArrays(df: DataFrame, dim: Int): VectorIndex = {
    import graft.functions.FloatVecPack.floatVecPack
    fromPacked(df.select(col("id"), floatVecPack(col("vec")).as("vec")), dim)
  }
}
