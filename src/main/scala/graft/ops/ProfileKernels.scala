package graft.ops

import graft.functions.{FloatVecDot, VecKernels}

/** Dev microbench for the two kernels under the vector hot paths, at
  * the 1M bench points' shapes (pure JVM, no Spark):
  *   - the packed-f32 dot at d = 1536: `VecKernels.dot` (SIMD when
  *     enabled) against the scalar fallback, passes interleaved so
  *     CPU-steal drift lands on both, plus their largest difference;
  *   - PQ encode at the `svs_pq_encode_1m` shape (m = 96 subspaces of
  *     dsub = 16, 256 codes): [[VectorQuant.nearestCodeT]] per vector,
  *     plus its agreement with the exact distance form
  *     [[VectorQuant.nearestCode]].
  * Each timing is the fastest of its reps after a warm-up pass.
  * Run: `sbt "runMain graft.ops.ProfileKernels [nVecs]"`.
  */
object ProfileKernels {
  private def nanos(body: => Unit): Long = {
    val t0 = System.nanoTime()
    body
    System.nanoTime() - t0
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val d = 1536
    val reps = 5
    val rnd = new java.util.Random(7)

    val blobs = Array.fill(512)(
      FloatVecDot.pack(Array.fill(d)(rnd.nextFloat() * 2 - 1)))
    val dots = 200000
    var sink = 0.0
    def dotPass(kernel: (Array[Byte], Array[Byte]) => Double): Unit = {
      var r = 0
      while (r < dots) { sink += kernel(blobs(r % blobs.length), blobs(0)); r += 1 }
    }
    var (tSimd, tScalar) = (Long.MaxValue, Long.MaxValue)
    for (rep <- 0 to reps) {
      val ts = nanos(dotPass(VecKernels.dot))
      val tc = nanos(dotPass(VecKernels.dotScalar))
      if (rep > 0) { tSimd = tSimd.min(ts); tScalar = tScalar.min(tc) }
    }
    val worst = blobs.map(b =>
      math.abs(VecKernels.dot(b, blobs(0)) - VecKernels.dotScalar(b, blobs(0)))).max
    def gflops(ns: Long): Double = dots.toDouble * d * 2 / ns
    println(f"[kernels] dot d=$d simdEnabled=${VecKernels.simdEnabled}: " +
      f"simd ${gflops(tSimd)}%.2f GF/s, scalar ${gflops(tScalar)}%.2f GF/s " +
      f"(${tScalar.toDouble / tSimd}%.1fx), max |simd - scalar| $worst%.1e")

    val m = 96; val dsub = d / m; val k = 256
    val books = Array.fill(m, k, dsub)(rnd.nextGaussian().toFloat)
    val vecs = Array.fill(n, d)(rnd.nextGaussian().toFloat)
    val flats = books.map(VectorQuant.flattenBookT)
    val acc = new Array[Double](k)
    val codes = new Array[Int](n * m)
    def encode(): Unit = {
      var r = 0
      while (r < n) {
        var s = 0
        while (s < m) {
          val (flatT, norms) = flats(s)
          codes(r * m + s) =
            VectorQuant.nearestCodeT(flatT, norms, dsub, vecs(r), s * dsub, acc)
          s += 1
        }
        r += 1
      }
    }
    encode()
    val tEncode = Seq.fill(reps)(nanos(encode())).min
    val agree = codes.indices.count { i =>
      codes(i) == VectorQuant.nearestCode(books(i % m), vecs(i / m), (i % m) * dsub, dsub)
    }
    println(f"[kernels] pq encode n=$n m=$m dsub=$dsub k=$k: " +
      f"${tEncode / 1e3 / n}%.2f us/vec, " +
      s"agreement with the exact distance form $agree/${n * m}")
    if (sink == Double.MinValue) println("?")
  }
}
