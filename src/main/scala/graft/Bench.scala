package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.KbStore.deleteRecursively
import graft.functions.FloatVecDot

/** Benchmark main: a fixed list of timed points, grouped in sections.
  *
  *   sbt "runMain graft.Bench [section | part-1 query] ..."
  *
  * Sections always run in this order. With no arguments every section
  * runs; otherwise only the named ones, and a part-1 query name runs the
  * `part1` section with just the named queries.
  *  - `io`: a fixed-size raw parquet write and read-back, so two runs'
  *    deltas on disk-bound points can be told apart from code changes;
  *  - `cheap`: the reference protocol at 10k docs (build, cold, warm)
  *    and the text-only load-docs pair at 10k and 1M;
  *  - `part1`: every SparkEntry query at `SPARK_GRAFT_SF_DIR`, 3 reps
  *    each, after one untimed pass over the sf0.001 tables beside it;
  *  - `1m`: the 1M protocol, the interleaved knn ladder, the 10k-probe
  *    knn join, the compressed tiers, IVF build/probe, MaxSim and the
  *    pairs/near-dup sweeps, all over one 1M × d1536 corpus;
  *  - `clustered`, `stream`, `curation`, `zorder`, `bpe`, `image`: the
  *    corpus-independent design points.
  *
  * [[record]] times a point's reps and publishes their median. A point
  * that throws is listed in `failed` with its exception class and no
  * time; so is a section that throws outside a point, and the run goes
  * on with the next section. After every point the full record (the
  * contract plus per-point provenance and notes) is rewritten to
  * `BENCH_FULL.<run_id>.json` in the working directory, so a killed run
  * keeps what it measured. The last stdout line is the contract: one
  * JSON object with the run fields, every recorded point under
  * `queries` and every failure under `failed`.
  *
  * The retrieval kernel is the packed-f32 BINARY column + the codegen'd
  * [[FloatVecDot]] expression — the Spark-native analog of the
  * reference's blob matrix + NumPy dot (`kb.py:573-618`, `kb.py:1185`).
  */
object Bench {

  private final val Dim = 1536
  private val wallT0 = System.nanoTime()
  private def elapsedS: Double = (System.nanoTime() - wallT0) / 1e9

  /** Section names in run order (see the class doc). */
  private val Sections = Seq("io", "cheap", "part1", "1m", "clustered",
    "stream", "curation", "zorder", "bpe", "image")

  /** Task-level CPU vs run time, accumulated by a SparkListener and
    * recorded per point as `cpu_run`: cpu/run ≈ 1 means the executor
    * threads were on-CPU the whole time (slow ⇒ code or real work);
    * cpu/run ≪ 1 means they were descheduled or IO-blocked (slow ⇒
    * environment). */
  private val taskCpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
  private val taskRunMs = new java.util.concurrent.atomic.AtomicLong(0L)
  private def cpuSnap(): (Long, Long) = (taskCpuNs.get(), taskRunMs.get())
  private def cpuRunRatio(before: (Long, Long)): Option[Double] = {
    val dc = taskCpuNs.get() - before._1
    val dr = taskRunMs.get() - before._2
    if (dr <= 0) None else Some(math.min(1.5, (dc / 1e6) / dr))
  }

  /** Ladder outcome: monotone = the indexed and pq legs' published mins
    * are at or under the plain leg's; cycles = completed interleaved
    * cycles. The bucketed leg's codes-exchange elision is only ~100 MB
    * at local scale, inside run noise, so it carries no ordering claim:
    * it is certified structurally (OpsSpec/StoreScaleSpec: zero
    * shuffles under the codes child) and the record carries its
    * measured delta vs the pq leg. */
  private var ladderMonotone: Option[Boolean] = None
  private var ladderCycles: Int = 0
  private var bucketedVsPqS: Option[Double] = None

  private val results = mutable.LinkedHashMap[String, Double]()
  /** (point or section name, exception class) of everything that threw. */
  private val failed = mutable.ArrayBuffer[(String, String)]()
  /** name -> {reps, cpu_run, residency, recall stamps} */
  private val provenance =
    mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]]()
  private var sfDirG: String = ""
  private val runIdG: String =
    java.lang.Long.toHexString(System.currentTimeMillis()) + "-" +
      java.lang.Integer.toHexString(
        new java.util.Random().nextInt(Int.MaxValue))
  private val fullPathG: String = s"BENCH_FULL.$runIdG.json"

  private def publish(name: String, v: Double, reps: Int,
      residency: Option[Double] = None,
      cpuRun: Option[Double] = None): Unit = {
    results(name) = v
    provenance(name) = mutable.LinkedHashMap[String, Double]("reps" -> reps) ++
      residency.map("residency" -> _) ++ cpuRun.map("cpu_run" -> _)
    writeFull()
  }

  private def fail(name: String, e: Throwable): Unit = {
    Console.err.println(s"[bench] $name failed: $e")
    failed += (name -> e.getClass.getName)
    writeFull()
  }

  /** Stamp a measured recall@k into an already-recorded point's
    * provenance: the approximate 1M tier legs publish speed, and this
    * pins the accuracy bought at that speed, measured against the exact
    * top-k on the same corpus and queries. No-op if the point was never
    * recorded. */
  private def setRecall(name: String, recall: Double): Unit =
    setRecallKey(name, "recall_at_10", recall)

  /** Like [[setRecall]] but with a caller-chosen key, so a point can
    * carry stamps for more than one corpus. */
  private def setRecallKey(name: String, key: String, recall: Double): Unit =
    provenance.get(name).foreach { p => p(key) = recall; writeFull() }

  /** Median of (seconds, cpu_run) rep pairs: the published value is the
    * median rep's time and THAT rep's cpu ratio (even count: mean of
    * the two middle reps, cpu averaged only when both are present).
    * Shared by [[record]] and the fresh-dir write-rep loop so the
    * publication policy can't drift between them. */
  private[graft] def medianRep(
      ts: Seq[(Double, Option[Double])]): (Double, Option[Double]) = {
    val s = ts.sortBy(_._1)
    if (s.size % 2 == 1) s(s.size / 2)
    else {
      val (tl, cl) = s(s.size / 2 - 1)
      val (th, ch) = s(s.size / 2)
      ((tl + th) / 2, for (a <- cl; b <- ch) yield (a + b) / 2)
    }
  }

  /** Time exactly `reps` runs of `body` and publish their median
    * ([[medianRep]]), each rep's `cpu_run` taken over that rep alone.
    * Cold reads pass `reps = 1` (a rerun measures the page cache, not
    * the operator), and so do points too slow to repeat. A rep that
    * throws lists the point in `failed` and publishes no time. */
  private def record(name: String, reps: Int = 3,
      residency: Option[Double] = None)(body: => Any): Unit =
    try {
      val ts = (1 to reps).map { _ =>
        val c0 = cpuSnap()
        val t = timed(body)
        (t, cpuRunRatio(c0))
      }
      val (v, cpu) = medianRep(ts)
      publish(name, v, reps, residency, cpu)
    } catch { case NonFatal(e) => fail(name, e) }

  /** Fraction of all storage-pool bytes currently in MEMORY (vs spilled
    * to disk) across every cached RDD — 1.0 when nothing is cached.
    * Coarse but honest: a ladder rep recorded at residency 0.6 was
    * measuring disk for ~40% of its working set, and the provenance
    * says so. */
  private def storagePoolResidency(spark: SparkSession): Double = {
    val infos = spark.sparkContext.getRDDStorageInfo
    val mem = infos.map(_.memSize).sum.toDouble
    val disk = infos.map(_.diskSize).sum.toDouble
    if (mem + disk <= 0) 1.0 else mem / (mem + disk)
  }

  /** Drop every cached Dataset and persisted RDD. Operators cache and
    * checkpoint internally (shingle sets, CC labels, index blocks), so
    * this runs between part-1 queries and after every section —
    * including one that threw with its working set still persisted. */
  private def clearState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Evaluate via a noop sink, not count(): under count() Catalyst
    * prunes every projected column, so scan-shaped queries would time
    * an empty projection instead of the operator. */
  private def evalAll(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val named = args.toSet
    val unknown = named -- Sections -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown section or part-1 query: " +
      s"${unknown.mkString(" ")} (sections: ${Sections.mkString(" ")})")
    def wanted(section: String): Boolean = named.isEmpty || named(section)
    val part1 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (q, _) => wanted("part1") || named(q) }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sfDirG = sfDir
    // bucketed-table points write through the catalog; keep the
    // warehouse off the repo tree
    val spark = Tables.session("spark.sql.warehouse.dir" ->
      sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            taskCpuNs.addAndGet(m.executorCpuTime)
            taskRunMs.addAndGet(m.executorRunTime)
          }
        }
      })

    Sections.foreach { section =>
      if (if (section == "part1") part1.nonEmpty else wanted(section)) {
        try section match {
          case "io" => ioProbe(spark)
          case "cheap" => svsCheap(spark)
          case "part1" => part1Sweep(spark, part1)
          case "1m" => svs1m(spark)
          case "clustered" => clusteredRecallPoint(spark)
          case "stream" => streamIngestPoint(spark)
          case "curation" => curationScalePoints(spark)
          case "zorder" => zorderPoints(spark)
          case "bpe" => bpePoint(spark)
          case "image" => imageNearDupPoint(spark)
        } catch { case NonFatal(e) => fail(section, e) }
        clearState(spark)
      }
    }

    println(contractLine(runFields, results.toSeq, failed.toSeq))
    Console.out.flush()
    spark.stop()
  }

  /** The part-1 inventory: one untimed pass over the sf0.001 tables
    * beside the measured ones pays JIT and codegen for every query
    * shape, then each query is timed over 3 reps at the measured scale.
    * A query that fails its warmup is timed anyway; its timed reps are
    * what list it in `failed`. */
  private def part1Sweep(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val warmDir = Paths.get(sfDirG).resolveSibling("sf0.001").toString
    queries.foreach { case (_, fn) =>
      try evalAll(fn(spark, warmDir)) catch { case NonFatal(_) => () }
      clearState(spark)
    }
    queries.foreach { case (name, fn) =>
      record(name) { evalAll(fn(spark, sfDirG)); clearState(spark) }
    }
  }

  /** Fixed-size raw IO probe: ~1 GB uncompressed parquet written from a
    * cached source, then read back from whatever the page cache holds
    * of it. The pair lets any two runs' deltas on disk-bound points be
    * attributed to environment vs code (one tree once measured its 1M
    * build at 299 s and 61 s on two runs, from IO contention alone). */
  private def ioProbe(spark: SparkSession): Unit = {
    val dir = "/tmp/graft_bench_ioprobe"
    deleteRecursively(Paths.get(dir))
    // 2M rows × 512-char payload ≈ 1.0 GB; md5-hex is incompressible
    // enough that "uncompressed" is the honest size. Cached + counted
    // first so the timed write measures IO, not payload generation.
    val df = spark.range(2000000L).select(col("id"),
      concat_ws("", (0 until 16).map(i =>
        md5(concat(col("id"), lit(i)))): _*).as("payload"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    record("svs_io_probe_write", reps = 1) {
      df.repartition(32).write.mode("overwrite")
        .option("compression", "none").parquet(dir)
    }
    df.unpersist()
    record("svs_io_probe_read", reps = 1) {
      spark.read.parquet(dir)
        .agg(count(lit(1)), sum(length(col("payload")))).collect()
    }
    deleteRecursively(Paths.get(dir))
  }

  /** The cheap reference-protocol points: retrieval-shape JIT warmup,
    * the 10k protocol, and the text-only load-docs pair — the
    * BASELINE.md headline rows at small scale.
    */
  private def svsCheap(spark: SparkSession): Unit = {
    // untimed JIT warmup of the retrieval shape at 1k: the protocol's
    // cold/build points should measure IO, not first-call codegen
    // (measured: an unwarmed cold_10k times ~0.6 s of which ~0.4 s is
    // codegen/classloading, not the read)
    val wpath = "/tmp/graft_bench_warm1k"
    deleteRecursively(Paths.get(wpath))
    syntheticEmbeddings(spark, 1000).write.mode("overwrite")
      .option("compression", "none").parquet(wpath)
    retrieveJob(spark.read.parquet(wpath), 1L)
    retrieveJob(spark.read.parquet(wpath), 2L)
    deleteRecursively(Paths.get(wpath))

    svsProtocol(spark, n = 10548, tag = "10k")

    // text-only bulk load — the phase the reference's 0.07s @ 10k and
    // 8s @ 1M numbers measure (fn2 in BASELINE.md). Writes are
    // coalesced to ~1 task per 100k rows: a 32-task write of 10k rows
    // times Spark's task-dispatch floor, not the load.
    // untimed warmup: the very first string-column parquet write pays
    // ~1.2s of one-time classload/JIT; the reference's 0.07s SQLite
    // number is steady-state, so ours should be too
    val warmDocs = "/tmp/graft_bench_docs_warm"
    syntheticDocs(spark, 10000).coalesce(1).write.mode("overwrite")
      .parquet(warmDocs)
    deleteRecursively(Paths.get(warmDocs))
    Seq(10548L -> "10k", 1000000L -> "1m").foreach { case (n, tag) =>
      val docsDf = syntheticDocs(spark, n)
        .persist(StorageLevel.MEMORY_AND_DISK)
      docsDf.count() // generation excluded, like the reference's
      val parts = math.max(1, (n / 100000L).toInt)
      // median of 3 writes, each to a FRESH output dir: unlike cold
      // READS — where a rerun measures the page cache, hence their
      // single shot — a write reps when every rep writes a new
      // directory; each rep still shares the page cache (and any dirty
      // writeback) the earlier reps left
      val reps = (0 until 3).map { rep =>
        val dir = Paths.get(s"/tmp/graft_bench_docs_${tag}_r$rep")
        deleteRecursively(dir)
        val c0 = cpuSnap()
        val t = timed {
          docsDf.coalesce(parts).write.mode("overwrite").parquet(dir.toString)
        }
        val cpu = cpuRunRatio(c0)
        deleteRecursively(dir)
        (t, cpu)
      }
      val (v, pubCpu) = medianRep(reps)
      publish(s"svs_load_docs_$tag", v, reps.size, cpuRun = pubCpu)
      // the 10k point's gap to the reference's 0.07 s is the JVM
      // job-dispatch + output-committer floor, not the write — the SAME
      // path at 1M is ~14× FASTER than baseline. Measure that floor in
      // the same weather (median of 3 one-row single-task parquet
      // writes, committer renames included) and stamp it in the point's
      // provenance. Run-id-scoped paths, so two concurrent benches never
      // race each other's floor dirs; non-fatal like the recall stamps.
      if (tag == "10k") try {
        val floors = (0 until 3).map { i =>
          val d = Paths.get(s"/tmp/graft_bench_docs_floor_${runIdG}_$i")
          deleteRecursively(d)
          val t = timed {
            spark.range(0, 1, 1, 1).write.mode("overwrite").parquet(d.toString)
          }
          deleteRecursively(d)
          t
        }.sorted
        setRecallKey(s"svs_load_docs_$tag", "dispatch_floor_s", floors(1))
      } catch {
        case NonFatal(e) =>
          Console.err.println(s"[bench] floor stamp failed (non-fatal): $e")
      }
      docsDf.unpersist()
    }
  }

  /** Everything that needs the 1M corpus: the 1M protocol → the
    * interleaved knn ladder → the 10k-probe knn join → compressed-tier
    * encode/probe points → IVF build/probe → MaxSim → the pairs and
    * near-dup sweeps.
    */
  private def svs1m(spark: SparkSession): Unit = {
    // ---- the 1M protocol (the BASELINE.md headline rows) ----
    val kept1m = svsProtocol(spark, n = 1000000, tag = "1m", keep = true)
    val corpus1m = spark.read.parquet(kept1m)
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus1m.count()
    val cents2 = corpus1m.where(col("id") < 256)
      .select(col("id").as("cid"), col("vec").as("cvec"))

    // the 2k ORDERING query set: the ladder's claim — every amortized
    // rung beats per-call assignment — is probe-count-invariant, and
    // 2k-probe legs cost a fraction of 10k legs. The absolute 10k number
    // keeps one plain leg below.
    val queries2k = syntheticEmbeddings(spark, 2000)
      .persist(StorageLevel.MEMORY_AND_DISK)
    queries2k.count()
    // untimed JIT warmup of the blocked pair kernel: the first knn-join
    // call pays ~60 codegen stages + kernel JIT that a deployment pays
    // once per executor lifetime, not per join (r7: a single-shot first
    // call measured 124 s where the warm shape costs ~40 s — the delta
    // was compilation, not the operator)
    graft.ops.SimilaritySearch.knnJoinIvfPacked(
      queries2k, queries2k, cents2, k = 10, nProbe = 4)
      .write.format("noop").mode("overwrite").save()

    // ---- PQ tier prep (legs C/D of the ladder use it) ----
    // IVF-PQ: residual-encoded inverted lists. Residuals are NOT
    // persisted: the decoded ~6 GB would fight the raw corpus for the
    // storage pool (the r6 ladder lesson); they derive from the cached
    // corpus by a narrow map, so the train (1% sample) and encode (one
    // pass) recomputes are cheaper than the eviction they'd cause.
    val centsArr = cents2.collect().map(r =>
      (r.getLong(0), FloatVecDot.unpack(r.getAs[Array[Byte]](1))))
    val res1m = graft.ops.VectorQuant.ivfResiduals(corpus1m, centsArr)
    val rbooks = graft.ops.VectorQuant.pqTrain(
      res1m.select(col("id"), col("rvec").as("vec")), m = 96,
      ncodes = 256, sampleMod = 100, iters = 2)
    val ivfpqCodes = graft.ops.VectorQuant.ivfPqEncode(res1m, rbooks)
      .persist(StorageLevel.MEMORY_AND_DISK)
    ivfpqCodes.count()
    // the cid-bucketed codes catalog table for leg D (written once,
    // cached — the "pay the layout once per build" posture)
    spark.sql("DROP TABLE IF EXISTS graft_bench_pq_codes")
    deleteRecursively(Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + "/graft_bench_pq_codes"))
    graft.ops.VectorQuant.writeCodesBucketed(ivfpqCodes,
      "graft_bench_pq_codes", buckets = spark.sparkContext.defaultParallelism)
    spark.catalog.cacheTable("graft_bench_pq_codes")
    spark.table("graft_bench_pq_codes").count()

    // ---- the knn ORDERING ladder (2k probes), reps INTERLEAVED ----
    // Four legs over the same 2k×1M join, each a rung of the
    // amortization ladder: per-call assignment (A: plain) → persisted
    // assignment (B: indexed) → compressed codes (C: pq) → compressed
    // codes through the custom exchange-free plan (D: pq_bucketed).
    // Sequential min-of-2 (r8) let contention DRIFT map onto ladder
    // position and invert the published ordering; two round-robin
    // cycles (A,B,C,D,A,B,C,D — min per leg) spread drift across all
    // legs. Leg B's derived layout — the flattened (cid, cand_id, vec)
    // assignment — is built ONCE, untimed (index maintenance a
    // deployment amortizes per layout, not per call), and stays
    // storage-pool resident across cycles. Every rep stamps the storage
    // pool's memory-residency fraction into provenance, so a
    // spill-poisoned number is visible in its own record.
    val plain = "svs_knn2k_plain_1m"
    val indexed = "svs_knn2k_indexed_1m"
    val pq = "svs_knn2k_pq_1m"
    val bucketed = "svs_knn2k_pq_bucketed_1m"
    val legTimes = Seq(plain, indexed, pq, bucketed)
      .map(_ -> mutable.ArrayBuffer[Double]()).toMap

    val preAssigned = graft.ops.SimilaritySearch
      .ivfAssignPacked(corpus1m, cents2).alias("a")
      .join(corpus1m.alias("e"), col("a.vec_id") === col("e.id"))
      .select(col("a.cid").as("ccid"),
        col("a.vec_id").as("cand_id"), col("e.vec").as("cv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    preAssigned.count()

    val legRes = mutable.Map.empty[String, Double]
    val legCpu = mutable.Map.empty[String, Double]
    def timeLeg(name: String)(body: => Unit): Unit = {
      val res = storagePoolResidency(spark)
      val cpu0 = cpuSnap()
      val t = timed(body)
      legTimes(name) += t
      // publish the running min after every rep (a kill mid-ladder
      // keeps the completed reps); the residency + cpu_run stamps
      // follow the MIN rep — the one whose value is published
      if (t <= legTimes(name).min) {
        legRes(name) = res
        cpuRunRatio(cpu0).foreach(legCpu(name) = _)
      }
      publish(name, legTimes(name).min, legTimes(name).size,
        legRes.get(name), legCpu.get(name))
    }
    def runCycle(): Unit = {
      timeLeg(plain) {
        graft.ops.SimilaritySearch.knnJoinIvfPacked(
          queries2k, corpus1m, cents2, k = 10, nProbe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      timeLeg(indexed) {
        graft.ops.SimilaritySearch.knnJoinIvfAssigned(
          queries2k, preAssigned, cents2, k = 10, nProbe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      timeLeg(pq) {
        graft.ops.VectorQuant.knnJoinIvfPq(queries2k, ivfpqCodes,
          centsArr, rbooks, corpus1m, k = 10, nProbe = 4, rerank = 50)
          .write.format("noop").mode("overwrite").save()
      }
      // this leg scans the cid-bucketed codes CATALOG table, whose
      // cache blocks are the ones the preceding legs' working sets
      // evict first (once 49.9 s vs the pq leg's 29.1 s on the same
      // cycle — the delta was a disk re-read of the table, not the
      // operator). Same discipline as the warm points: restore
      // residency untimed before timing.
      if (storagePoolResidency(spark) < 0.98) {
        spark.catalog.uncacheTable("graft_bench_pq_codes")
        spark.catalog.cacheTable("graft_bench_pq_codes")
        spark.table("graft_bench_pq_codes").count()
      }
      timeLeg(bucketed) {
        graft.ops.VectorQuant.knnJoinIvfPqBucketed(queries2k,
          "graft_bench_pq_codes", centsArr, rbooks, corpus1m,
          k = 10, nProbe = 4, rerank = 50)
          .write.format("noop").mode("overwrite").save()
      }
    }
    runCycle() // cycle 1 (absorbs any residual JIT)
    runCycle()
    ladderCycles = legTimes.values.map(_.size).min
    ladderMonotone = Some(
      Seq(indexed, pq).forall(legTimes(_).min <= legTimes(plain).min))
    bucketedVsPqS = Some(legTimes(bucketed).min - legTimes(pq).min)
    writeFull()

    // ---- recall@10 stamps for the approximate rungs: accuracy in the
    // SAME record as the speed, at the 1M scale, vs the EXACT top-10 —
    // nProbe = 256 probes every list, so the assigned join degenerates
    // to exact brute force. A 32-query subset bounds the truth pass at
    // ~32M kernel pairs. The IVF rungs (plain/indexed, and the 10k
    // absolute leg — same kernel and nProbe) share one recall:
    // identical candidate set, exact within it; the pq rungs add ADC +
    // bounded re-rank on top. The stamp is OPTIONAL provenance: a
    // failure here (an analysis error, an OOM on the truth pass) must
    // not cost the rest of the section — log and move on.
    var ivfRecall: Option[Double] = None
    try {
      val queries32 = queries2k.where(col("id") < 32)
      val exact = graft.ops.SimilaritySearch.knnJoinIvfAssigned(
          queries32, preAssigned, cents2, k = 10, nProbe = 256)
        .select(col("qid"), col("cid")).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      def recallOf(approx: DataFrame): Double = {
        // both join kernels name the candidate column "cid"
        val ap = approx.select(col("qid"), col("cid")).collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val per = exact.toSeq.map { case (q, ex) =>
          ap.get(q).map(_.intersect(ex).size.toDouble / ex.size)
            .getOrElse(0.0) }
        per.sum / math.max(1, per.size)
      }
      val ivfR = recallOf(graft.ops.SimilaritySearch.knnJoinIvfAssigned(
        queries32, preAssigned, cents2, k = 10, nProbe = 4))
      ivfRecall = Some(ivfR)
      setRecall(plain, ivfR)
      setRecall(indexed, ivfR)
      val pqR = recallOf(graft.ops.VectorQuant.knnJoinIvfPq(
        queries32, ivfpqCodes, centsArr, rbooks, corpus1m,
        k = 10, nProbe = 4, rerank = 50))
      setRecall(pq, pqR)
      setRecall(bucketed, pqR)
    } catch {
      case NonFatal(e) =>
        Console.err.println(s"[bench] recall stamp failed (non-fatal): $e")
    }
    preAssigned.unpersist(true)

    // ---- the ABSOLUTE-number leg: the same plain IVF knn join at the
    // 10k probe count past rounds' records carry (the 2k ladder above
    // certifies ordering; this pins the headline magnitude) ----
    val queries10k = syntheticEmbeddings(spark, 10000)
      .persist(StorageLevel.MEMORY_AND_DISK)
    queries10k.count()
    record("svs_knn_join_1m") {
      graft.ops.SimilaritySearch.knnJoinIvfPacked(
        queries10k, corpus1m, cents2, k = 10, nProbe = 4)
        .write.format("noop").mode("overwrite").save()
    }
    ivfRecall.foreach(setRecall("svs_knn_join_1m", _))
    queries10k.unpersist()

    // ---- compressed-tier encode/probe points ----
    queries2k.unpersist()
    // exact top-10 for the single-query probe points (query id 2, the
    // same vector every probe uses): one untimed exact pass over the
    // cached corpus — each probe's recall@10 then stamps into its own
    // provenance from the rows the TIMED run already collected
    val exactTop10Q2: Set[Long] = try {
      val qv2 = lit(FloatVecDot.pack(syntheticVec(2L)))
      corpus1m
        .select(col("id"), FloatVecDot.floatVecDot(col("vec"), qv2).as("s"))
        .orderBy(desc("s"), col("id")).limit(10)
        .collect().map(_.getLong(0)).toSet
    } catch {
      case NonFatal(e) =>
        Console.err.println(s"[bench] probe recall truth failed (non-fatal): $e")
        Set.empty
    }
    def stampProbeRecall(name: String, rows: Array[org.apache.spark.sql.Row]): Unit =
      if (exactTop10Q2.nonEmpty && rows != null) {
        val top10 = rows.take(10).map(_.getLong(0)).toSet
        setRecall(name, top10.intersect(exactTop10Q2).size.toDouble /
          exactTop10Q2.size)
      }
    var probeRows: Array[org.apache.spark.sql.Row] = null
    record("svs_ivfpq_probe_1m") {
      probeRows = graft.ops.VectorQuant.ivfPqTopKRefined(ivfpqCodes,
        corpus1m, centsArr, rbooks, syntheticVec(2L), k = 100,
        nProbe = 4, rerank = 1000).collect()
    }
    stampProbeRecall("svs_ivfpq_probe_1m", probeRows)
    ivfpqCodes.unpersist()
    spark.catalog.uncacheTable("graft_bench_pq_codes")
    spark.sql("DROP TABLE IF EXISTS graft_bench_pq_codes")

    record("svs_sq_encode_1m") {
      graft.ops.VectorQuant.sqEncodePacked(corpus1m)
        .write.format("noop").mode("overwrite").save()
    }
    val sqCodes = graft.ops.VectorQuant.sqEncodePacked(corpus1m)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sqCodes.count()
    val (qCode, qScale) = graft.functions.Int8VecDot.quantize(syntheticVec(2L))
    probeRows = null
    record("svs_sq_probe_1m") {
      probeRows = graft.ops.VectorQuant
        .sqTopKPacked(sqCodes, qCode, qScale, 100).collect()
    }
    stampProbeRecall("svs_sq_probe_1m", probeRows)
    sqCodes.unpersist()

    // binary (sign-bit) tier: 192 B/vector — the XOR+popcount
    // prefilter scan plus exact re-rank of the 1000 survivors
    record("svs_bin_encode_1m") {
      graft.ops.VectorQuant.binEncodePacked(corpus1m)
        .write.format("noop").mode("overwrite").save()
    }
    val binCodes = graft.ops.VectorQuant.binEncodePacked(corpus1m)
      .persist(StorageLevel.MEMORY_AND_DISK)
    binCodes.count()
    probeRows = null
    record("svs_bin_probe_1m") {
      probeRows = graft.ops.VectorQuant.binTopKPacked(binCodes, corpus1m,
        syntheticVec(2L), k = 100, rerank = 1000).collect()
    }
    stampProbeRecall("svs_bin_probe_1m", probeRows)
    binCodes.unpersist()

    // PQ train on a 10k id-mod sample (2 Lloyd iterations, 96
    // subspaces × 256 codes), then encode the full corpus
    var books: graft.ops.VectorQuant.Codebooks = null
    record("svs_pq_train_1m") {
      books = graft.ops.VectorQuant.pqTrain(corpus1m, m = 96,
        ncodes = 256, sampleMod = 100, iters = 2)
    }
    record("svs_pq_encode_1m") {
      graft.ops.VectorQuant.pqEncode(corpus1m, books)
        .write.format("noop").mode("overwrite").save()
    }
    val pqCodes = graft.ops.VectorQuant.pqEncode(corpus1m, books)
      .persist(StorageLevel.MEMORY_AND_DISK)
    pqCodes.count()
    probeRows = null
    record("svs_pq_probe_1m") {
      probeRows = graft.ops.VectorQuant.pqTopKRefined(pqCodes, corpus1m,
        books, syntheticVec(2L), k = 100, rerank = 1000).collect()
    }
    stampProbeRecall("svs_pq_probe_1m", probeRows)
    pqCodes.unpersist()

    // batch IVF index build over the same 1M corpus: per-row argmax
    // against 256 broadcast centroids via the packed-f32 kernel, and
    // the inverted-list table written out — the "Spark builds the
    // vector index in batch" flagship at scale
    val ivfPath = "/tmp/graft_bench_ivf"
    deleteRecursively(Paths.get(ivfPath))
    record("svs_ivf_build_1m") {
      graft.ops.SimilaritySearch.ivfAssignPacked(corpus1m, cents2)
        .write.mode("overwrite").option("compression", "none")
        .parquet(ivfPath)
    }
    // probe: 8 of 256 lists → ~1/32 of the corpus scored. The probed
    // member ids broadcast back against the corpus — the DataFrame
    // form of partition pruning on the list id.
    val assigned1m = spark.read.parquet(ivfPath)
      .persist(StorageLevel.MEMORY_AND_DISK)
    assigned1m.count()
    probeRows = null
    record("svs_ivf_probe_1m") {
      val qv = lit(FloatVecDot.pack(syntheticVec(2L)))
      val probes = cents2
        .select(col("cid"), FloatVecDot.floatVecDot(col("cvec"), qv).as("ps"))
        .orderBy(desc("ps")).limit(8).select(col("cid"))
      val candIds = assigned1m.join(broadcast(probes), "cid")
        .select(col("vec_id"))
      probeRows = corpus1m
        .join(broadcast(candIds), corpus1m("id") === col("vec_id"))
        .select(col("id"), FloatVecDot.floatVecDot(col("vec"), qv).as("score"))
        .orderBy(desc("score"), col("id")).limit(100)
        .collect()
    }
    stampProbeRecall("svs_ivf_probe_1m", probeRows)

    // filtered probe: the same 8-list probe under a 30%-selectivity
    // metadata predicate applied to the probed lists BEFORE the dot
    // kernel (SimilaritySearch.filteredTopKIvf's shape) — the scored
    // row count drops to selectivity × probed-list size, which is the
    // whole point of pushing the predicate inside the probe
    record("svs_filtered_probe_1m") {
      val qv = lit(FloatVecDot.pack(syntheticVec(2L)))
      val probes = cents2
        .select(col("cid"), FloatVecDot.floatVecDot(col("cvec"), qv).as("ps"))
        .orderBy(desc("ps")).limit(8).select(col("cid"))
      val candIds = assigned1m.join(broadcast(probes), "cid")
        .where(col("vec_id") % 10 < 3) // predicate before the kernel
        .select(col("vec_id"))
      corpus1m
        .join(broadcast(candIds), corpus1m("id") === col("vec_id"))
        .select(col("id"), FloatVecDot.floatVecDot(col("vec"), qv).as("score"))
        .orderBy(desc("score"), col("id")).limit(100)
        .collect()
    }

    // late-interaction (MaxSim) retrieval at 1M: the cached corpus
    // re-read as 200k docs x 5 token vectors, scored against 8 query
    // tokens — one corpus pass, 8M packed-kernel dots, then two narrow
    // aggregate shuffles (docs x 8 rows, then docs rows), top-100.
    // SimilaritySearch.maxSimTopK's plan shape at bench scale.
    record("svs_maxsim_1m") {
      import spark.implicits._
      val qts = (0 until 8).map(i =>
        (i.toLong, FloatVecDot.pack(syntheticVec(3000000L + i))))
        .toDF("qidx", "qv")
      corpus1m
        .select(expr("id div 5").as("doc_id"), col("vec"))
        .crossJoin(broadcast(qts))
        .select(col("doc_id"), col("qidx"),
          FloatVecDot.floatVecDot(col("vec"), col("qv")).as("s"))
        .groupBy(col("doc_id"), col("qidx")).agg(max(col("s")).as("m"))
        .groupBy(col("doc_id")).agg(sum(col("m")).as("score"))
        .orderBy(desc("score"), col("doc_id")).limit(100)
        .collect()
    }

    // IVF-pruned MaxSim (PLAID's candidate generation) on the same
    // corpus and query set: each query token probes 8 of the 256
    // token-level centroids (the persisted assignment table doubles as
    // the token IVF), candidate docs rank by the centroid approximation
    // over the NARROW (doc, cid) table — no vector access — and only
    // the top 1000 docs (0.5% of the corpus) pay the exact token
    // kernel: 40k dots instead of svs_maxsim_1m's 8M
    // (SimilaritySearch.maxSimTopKIvfAssigned's shape).
    record("svs_maxsim_ivf_1m") {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val qts = (0 until 8).map(i =>
        (i.toLong, FloatVecDot.pack(syntheticVec(3000000L + i))))
        .toDF("qidx", "qv")
      val probed = cents2.crossJoin(broadcast(qts))
        .select(col("qidx"), col("cid"),
          FloatVecDot.floatVecDot(col("cvec"), col("qv")).as("ps"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qidx")).orderBy(desc("ps"), col("cid"))))
        .where(col("rk") <= 8)
        .select(col("qidx"), col("cid"), col("ps"))
      val cand = assigned1m
        .select(expr("vec_id div 5").as("doc_id"), col("cid")).distinct()
        .join(broadcast(probed), "cid")
        .groupBy(col("doc_id"), col("qidx")).agg(max(col("ps")).as("m"))
        .groupBy(col("doc_id")).agg(sum(col("m")).as("appr"))
        .orderBy(desc("appr"), col("doc_id")).limit(1000)
        .select(col("doc_id"))
      corpus1m
        .select(expr("id div 5").as("doc_id"), col("vec"))
        .join(broadcast(cand), "doc_id")
        .crossJoin(broadcast(qts))
        .select(col("doc_id"), col("qidx"),
          FloatVecDot.floatVecDot(col("vec"), col("qv")).as("s"))
        .groupBy(col("doc_id"), col("qidx")).agg(max(col("s")).as("m"))
        .groupBy(col("doc_id")).agg(sum(col("m")).as("score"))
        .orderBy(desc("score"), col("doc_id")).limit(100)
        .collect()
    }
    assigned1m.unpersist()
    deleteRecursively(Paths.get(ivfPath))

    // ---- the most expensive non-headline sweeps ----
    // §3.3 scale point: top-25 pairwise scores over the SAME 1M × d1536
    // corpus via the sketch-candidates + exact-re-rank path. The exact
    // all-pairs formulation is 5×10¹¹ pairs × 1536 flops ≈ 8×10¹⁴ flops
    // — infeasible on any engine — so this measures the path that
    // actually runs at that cardinality (PairwiseTopK scaladoc).
    record("svs_pairs_1m", reps = 1) {
      graft.ops.PairwiseTopK.sketchTopKPairs(
        corpus1m, dim = Dim, k = 25,
        sketchBits = 320, bands = 16, rerank = 20000)
        .collect()
    }
    // threshold near-dup mining at the same 1M × d1536 scale: the
    // embeddingNearDups scale path (sketch banding + Hamming cutoff +
    // exact verify). A random corpus has no cos ≥ 0.8 pairs, so this
    // measures the candidate pipeline itself completing at 1M.
    record("svs_neardup_1m", reps = 1) {
      graft.ops.PairwiseTopK.sketchThresholdPairs(
        corpus1m, dim = Dim, threshold = 0.8).count()
    }

    corpus1m.unpersist(true)
    deleteRecursively(Paths.get(kept1m))
  }

  /** Clustered-corpus recall stamps (r12 verdict item 3): the ladder's
    * recall_at_10 is measured on ISOTROPIC random vectors — the
    * documented worst case for any quantizer (all 1M dots concentrate
    * within ~±0.03 = 1/√1536, under the 96-byte code's quantization
    * noise). Real embedding corpora are anisotropic with near-dup
    * cluster structure — that is what IVF/PQ exploit, and what
    * SemDeDup dedups. This section builds a 1M × d1536 corpus WITH
    * that structure (256 coarse clusters × ~244 near-dup groups of 16:
    * within-group cos ≈ 0.98, same-cluster-cross-group ≈ 0.76,
    * cross-cluster ≈ 0), runs the SAME residual IVF-PQ path the pq
    * rungs time (m = 96, nProbe = 4, rerank = 50) against a
    * brute-force exact truth pass, and stamps `recall_at_10_clustered`
    * into the pq legs' provenance — so the record carries both
    * regimes: the isotropic floor AND the realistic-structure number
    * the ≥ 0.9 spec gates promise.
    */
  private def clusteredRecallPoint(spark: SparkSession): Unit = {
    import spark.implicits._
    val groups = 62500L
    val perGroup = 16
    val kClusters = 256
    val centers = Array.tabulate(kClusters)(c =>
      syntheticVec(3000000000L + c))
    val centsArr = centers.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val bcC = spark.sparkContext.broadcast(centers)
    val corpus = spark.range(0, groups, 1,
        spark.sparkContext.defaultParallelism)
      .flatMap { g =>
        val cArr = bcC.value((g % kClusters).toInt)
        val gArr = syntheticVec(4000000000L + g)
        (0 until perGroup).iterator.map { m =>
          val id = g * perGroup + m
          (id, FloatVecDot.pack(clusterMemberVec(cArr, gArr, id)))
        }
      }.toDF("id", "vec").persist(StorageLevel.MEMORY_AND_DISK)
    var codes: DataFrame = null
    try {
      corpus.count()
      // 32 fresh queries, one per distinct near-dup group (spread
      // across clusters): each query's true top-10 is dominated by its
      // group's 16 members — the macro-margin ranking problem a real
      // retrieval corpus poses
      val qArr = (0 until 32).map { q =>
        val g = (q.toLong * 977L) % groups
        val cArr = centers((g % kClusters).toInt)
        val gArr = syntheticVec(4000000000L + g)
        (5000000L + q.toLong, clusterMemberVec(cArr, gArr, 7000000000L + g))
      }.toArray
      val queries = qArr.toSeq
        .map { case (id, v) => (id, FloatVecDot.pack(v)) }
        .toDF("id", "vec")
      // exact truth: ONE blocked corpus pass against the broadcast
      // query array with per-partition top-10 heaps (a DataFrame
      // crossJoin would ship 12 KB of vectors per pair row — measured
      // 58 s vs ~2 s for this shape at 1M × 32)
      val exact = {
        val bcQ = spark.sparkContext.broadcast(qArr)
        val partTops = corpus.select(col("id"), col("vec"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            val qs = bcQ.value
            val topS = Array.fill(qs.length)(
              Array.fill(10)(Double.NegativeInfinity))
            val topI = Array.fill(qs.length)(new Array[Long](10))
            it.foreach { case (id, vb) =>
              val v = FloatVecDot.unpack(vb)
              var qi = 0
              while (qi < qs.length) {
                val s = graft.functions.VecKernels.dotFloats(v, qs(qi)._2)
                val ts = topS(qi)
                if (s > ts(9)) {
                  val ti = topI(qi)
                  var j = 9
                  while (j > 0 && s > ts(j - 1)) {
                    ts(j) = ts(j - 1); ti(j) = ti(j - 1); j -= 1
                  }
                  ts(j) = s; ti(j) = id
                }
                qi += 1
              }
            }
            qs.indices.iterator.flatMap { qi =>
              (0 until 10).iterator
                .filter(topS(qi)(_) > Double.NegativeInfinity)
                .map(j => (qs(qi)._1, topI(qi)(j), topS(qi)(j)))
            }
          }.collect()
        partTops.groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(r => (-r._3, r._2)).take(10).map(_._2).toSet
        }
      }
      // the SAME residual IVF-PQ path the pq rungs time. Codes are
      // built only for the lists the 32 queries PROBE (union of
      // per-query top-4 centroids, computed on the driver): the join
      // never scores a candidate outside them, so the skipped lists
      // cannot change the measured recall — and the encode bill halves
      val recall = {
        val probedCids = qArr.flatMap { case (_, qv) =>
          centsArr.map { case (cid, cv) =>
            (cid, graft.functions.VecKernels.dotFloats(qv, cv)) }
            .sortBy(-_._2).take(4).map(_._1)
        }.distinct.toSeq
        val res = graft.ops.VectorQuant.ivfResiduals(corpus, centsArr)
          .where(col("cid").isin(probedCids: _*))
        val books = graft.ops.VectorQuant.pqTrain(
          res.select(col("id"), col("rvec").as("vec")), m = 96,
          ncodes = 256, sampleMod = 100, iters = 2)
        codes = graft.ops.VectorQuant.ivfPqEncode(res, books)
          .persist(StorageLevel.MEMORY_AND_DISK)
        codes.count()
        val ap = graft.ops.VectorQuant.knnJoinIvfPq(queries, codes,
            centsArr, books, corpus, k = 10, nProbe = 4, rerank = 50)
          .select(col("qid"), col("cid")).collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val per = exact.toSeq.map { case (q, ex) =>
          ap.get(q).map(_.intersect(ex).size.toDouble / ex.size)
            .getOrElse(0.0) }
        per.sum / math.max(1, per.size)
      }
      Seq("svs_knn2k_pq_1m", "svs_knn2k_pq_bucketed_1m",
        "svs_ivfpq_probe_1m").foreach(
        setRecallKey(_, "recall_at_10_clustered", recall))
    } finally {
      if (codes != null) codes.unpersist(true)
      corpus.unpersist(true)
      bcC.destroy()
    }
  }

  /** One member of a planted near-dup group: unit-normalized
    * cluster-center + 0.55·group-direction + ~0.15 gaussian noise
    * (norms 1, 0.55, 0.15 ⇒ within-group cos ≈ 0.98,
    * same-cluster-cross-group ≈ 0.76, cross-cluster ≈ 0).
    */
  private def clusterMemberVec(cArr: Array[Float], gArr: Array[Float],
      seed: Long): Array[Float] = {
    val rnd = new java.util.Random(
      seed * 2862933555777941757L + 3037000493L)
    val dInv = 0.15 / math.sqrt(Dim)
    val v = new Array[Float](Dim)
    var s = 0.0
    var i = 0
    while (i < Dim) {
      val x = cArr(i) + 0.55 * gArr(i) + dInv * rnd.nextGaussian()
      v(i) = x.toFloat
      s += x * x
      i += 1
    }
    val inv = (1.0 / math.sqrt(s)).toFloat
    i = 0
    while (i < Dim) { v(i) *= inv; i += 1 }
    v
  }

  /** The x12 curation composition over a synthetic corpus of `n`
    * ~1200-char documents: Gopher structural rules ∧ first-doc-per-
    * fingerprint representative ∧ quality above the corpus median.
    * Same operators, same shape as the oracle-checked `x12_curation`
    * query — only the corpus is bigger.
    */
  private def curationScalePoints(spark: SparkSession): Unit = {
    def runDocs(docs0: DataFrame): Unit = {
      import org.apache.spark.sql.expressions.Window
      val docs = docs0
      val stop = Seq("the", "a")
      val rules = graft.ops.TextAnalysis.gopherQuality(docs, stop,
          minWords = 18)
        .where(col("keep") === 1L).select(col("doc_id"))
      val rep = graft.ops.TextAnalysis.fingerprint(docs)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("fp_md5")).orderBy(col("doc_id"))))
        .where(col("rk") === 1).select(col("doc_id"))
      val q = graft.ops.TextAnalysis.qualityScore(docs, stop)
      val med = q.agg(expr("percentile(quality, 0.5)").as("med"))
      val good = q.crossJoin(broadcast(med))
        .where(col("quality") > col("med"))
        .select(col("doc_id"), col("quality"))
      good.join(rules, "doc_id").join(rep, "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    def run(n: Long): Unit =
      runDocs(syntheticDocs(spark, n).select(col("id").as("doc_id"),
        col("text")))
    run(20000L) // untimed JIT/codegen warmup of the composed shape
    record("svs_curation_200k", reps = 1) { run(200000L) }
    record("svs_curation_2m", reps = 1) { run(2000000L) }

    // the same composition over REAL corpus text (r10 verdict item 5):
    // the sfDir documents table, and an sf1-scale variant — no sf1
    // parquet exists in this environment, so sf1 = the sf0.1 table
    // key-offset-replicated ×10 exactly like tools/make_bigsf.py
    // (ids offset 1e6/copy, so dedup groups replicate honestly rather
    // than collapsing into one fingerprint). The pair restates the
    // 200k→2M linearity claim on real data.
    val realDocs = Tables.t(spark, sfDirG, "documents")
      .select(col("doc_id"), col("text"))
    record("svs_curation_sf01", reps = 1) { runDocs(realDocs) }
    val sf1Docs = realDocs
      .crossJoin(broadcast(spark.range(10).toDF("k")))
      .select((col("doc_id") + col("k") * 1000000L).as("doc_id"),
        col("text"))
    record("svs_curation_sf1", reps = 1) { runDocs(sf1Docs) }
  }

  /** Streaming store ingest throughput (r10 verdict item 6): a seeded
    * store with live ANN + lexical index maintenance drains 6 × 500-doc
    * micro-batches through [[graft.streaming.StreamingIngest
    * .startStoreIngest]] — each batch is one atomic commit (embed →
    * pack → docs+embeddings delta write) followed by O(batch)
    * incremental index refreshes. docs/s = 3000 / the recorded value.
    * Seed + index builds + one warmup batch are untimed (store
    * maintenance a deployment amortizes; the first batch pays
    * foreachBatch/codegen JIT).
    */
  private def streamIngestPoint(spark: SparkSession): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/tmp/graft_bench_stream"
    deleteRecursively(Paths.get(dir))
    val provider = new graft.core.Embeddings.EmbeddingProvider {
      def name = "bench-hash"
      def dim = 256
      def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val rnd = new java.util.Random(
          t.hashCode.toLong * 2654435761L + 17)
        val v = new Array[Float](dim)
        var s = 0.0
        var i = 0
        while (i < dim) {
          val x = rnd.nextGaussian(); v(i) = x.toFloat; s += x * x; i += 1
        }
        val inv = (1.0 / math.sqrt(s)).toFloat
        i = 0
        while (i < dim) { v(i) *= inv; i += 1 }
        v
      }
    }
    val kb = graft.core.KbStore.create(spark, s"$dir/kb",
      provider.params, forceFresh = true)
    kb.bulkAddDocsDistributed(
      syntheticDocs(spark, 20000).select(col("text")), provider)
    kb.buildAnnIndex(nlist = 16, iters = 2)
    kb.buildTextIndex()
    val words = Array("stream", "ingest", "vector", "index", "batch",
      "commit", "refresh", "the", "a", "document")
    def batchTexts(b: Int): Seq[String] = (0 until 500).map { i =>
      val rnd = new java.util.Random(b * 100000L + i)
      val sb = new java.lang.StringBuilder(220)
      sb.append("doc ").append(b).append(' ').append(i).append(' ')
      while (sb.length < 200)
        sb.append(words(rnd.nextInt(words.length))).append(' ')
      sb.toString
    }
    import spark.implicits._
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = graft.streaming.StreamingIngest.startStoreIngest(
      stream.toDF().toDF("text"), kb, provider, s"$dir/ckpt",
      maintainIndex = true)
    try {
      stream.addData(batchTexts(0)) // untimed warmup micro-batch
      q.processAllAvailable()
      record("svs_stream_ingest", reps = 1) {
        (1 to 6).foreach { b =>
          stream.addData(batchTexts(b))
          q.processAllAvailable()
        }
      }
      // the recommended HIGH-FREQUENCY configuration (r11 verdict item
      // 6; the startStoreIngest scaladoc's "maintainIndex = false +
      // periodic refresh"): same 6 × 500-doc batches through a second
      // stream on the SAME store — per-batch cost is the atomic commit
      // only, and ONE incremental ANN + text refresh lands at the end
      // of the window. docs/s = 3000/value, directly comparable to
      // svs_stream_ingest's live-index number.
      try q.stop() catch { case _: Throwable => () }
      val stream2 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[String]
      val q2 = graft.streaming.StreamingIngest.startStoreIngest(
        stream2.toDF().toDF("text"), kb, provider, s"$dir/ckpt_fast",
        maintainIndex = false)
      try {
        record("svs_stream_ingest_fast", reps = 1) {
          (7 to 12).foreach { b =>
            stream2.addData(batchTexts(b))
            q2.processAllAvailable()
          }
          kb.refreshStaleIndexes()
        }
      } finally {
        try q2.stop() catch { case _: Throwable => () }
      }
      // ---- cross-snapshot incremental dedup (r12 verdict item 4):
      // screen one arriving 500-doc batch against the ~23k-doc archive
      // through the PERSISTED dedup_bands family — the index build is
      // untimed (pay-per-layout, like every other tier), the point
      // times the per-batch screening: band 500 docs, one equi-join
      // against the stored bands, exact-Jaccard verify of the matched
      // candidates. 10% of the batch are exact copies of archived docs
      // so the verify stage has genuine pairs to confirm; the other
      // 90% exercise the candidate-rejection path (random same-vocab
      // docs band-collide occasionally and must be verified away).
      // Built AFTER the ingest records so their numbers stay
      // comparable to r11 (no per-batch dedup refresh riding along).
      kb.buildDedupIndex()
      val fresh20 = batchTexts(20)
      val copies = batchTexts(1).take(50)
      val screen = ((0 until 450).map(i => (9000000L + i, fresh20(i))) ++
        copies.zipWithIndex.map { case (t, i) => (9100000L + i, t) })
        .toDF("doc_id", "text")
      record("svs_stream_dedup") {
        kb.dedupCandidates(screen, threshold = 0.8)
          .write.format("noop").mode("overwrite").save()
      }
      // ---- SEMANTIC dedup-screen-on-ingest (r12 verdict item 2): the
      // same arriving-batch shape, screened in EMBEDDING space through
      // the persisted ANN family — embed the 500 docs (provider cost,
      // part of the real per-batch bill), probe nProbe/nlist lists,
      // one pruned archive pass vs the broadcast batch, exact cosine
      // verify + batch-internal keep-first. 10% of the batch embeds
      // identically to archived docs (the hash provider is
      // text-deterministic), so the drop path has genuine work; at
      // 100 TB this is the paraphrase-robust second screen stage that
      // never pays an O(corpus) re-mine.
      val screenSem = (batchTexts(21).take(450) ++ copies).toDF("text")
      record("svs_stream_semdedup") {
        val (kept, _, cln) = kb.screenBatchSemantic(
          screenSem, 0.9, provider, nProbe = 4)
        try kept.count() finally cln()
      }
    } finally {
      try q.stop() catch { case _: Throwable => () }
      deleteRecursively(Paths.get(dir))
    }
  }

  /** Synthetic JPEG corpus (in-JVM javax.imageio encode, untimed) +
    * the banded aHash near-dup miner over real codec decode. ~1% of
    * images are noisy re-encodes of their predecessor (same coarse
    * 8×8 block pattern, ±2 pixel noise), so the miner has genuine
    * clusters to find; the other 99% have unique random patterns, so
    * band keys stay near-uniform and the join never degenerates.
    */
  private def imageNearDupPoint(spark: SparkSession): Unit = {
    import spark.implicits._
    val n = 100000L
    val media = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map { id =>
        // pattern seed: pairs (id-1, id) share one when id % 100 == 1
        val patternSeed: Long = if (id % 100 == 1) id - 1 else id
        val prnd = new java.util.Random(patternSeed * 2654435761L + 11)
        val blocks = Array.fill(64)(if (prnd.nextBoolean()) 235 else 20)
        val nrnd = new java.util.Random(id * 40503L + 7)
        val img = new java.awt.image.BufferedImage(64, 64,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 64) {
          var x = 0
          while (x < 64) {
            val v0 = blocks((y / 8) * 8 + (x / 8)) + nrnd.nextInt(5) - 2
            val v = math.max(0, math.min(255, v0))
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream(2048)
        javax.imageio.ImageIO.write(img, "jpg", bos)
        (id, "image/jpeg", bos.toByteArray)
      }
      .toDF("media_id", "kind", "payload")
      .persist(StorageLevel.MEMORY_AND_DISK)
    media.count() // corpus generation untimed, like every other point
    record("svs_image_neardup_100k") {
      graft.ops.Multimodal.imageNearDups(media, maxHamming = 2).count()
    }
    media.unpersist()
  }

  /** Lakehouse layout + data skipping, measured on a 6M-row table
    * with a ~256-byte payload (~1.5 GB raw) and a 1/8-range predicate
    * on one of two z-interleaved dimensions, payload in the
    * aggregate so scans are decode-bound like a real wide table.
    * (A 3M variant proved too SMALL to demonstrate
    * anything — at 0.77 GB both layouts scan under the ~0.25 s job
    * floor; at 6M the unordered scan is decode-bound and the layout
    * delta is real.)
    *  - svs_zscan_pruned_6m: z-ordered layout, plain scan — the
    *    engine's own row-group stats prune because the LAYOUT made
    *    ranges tight (and the same layout serves BOTH dims);
    *  - svs_scan_unordered_6m: identical data, naive layout — every
    *    row group straddles the predicate; the delta vs pruned is
    *    the measured z-order win;
    *  - svs_skip_scan_6m: the manifest file-skipping path (15/64
    *    files read). At local-NVMe scale its timed cost ≈ pruned
    *    plus a fixed ~0.2 s manifest lookup — the honest local
    *    story; its real win (one manifest read replacing per-file
    *    footer opens, 4× fewer tasks) is object-store metadata
    *    latency, which this VM cannot exhibit. Result parity for
    *    the composition is LayoutSpec-pinned. */
  private def zorderPoints(spark: SparkSession): Unit = {
    val zdir = "/tmp/graft_bench_zorder"
    val udir = "/tmp/graft_bench_unordered"
    deleteRecursively(Paths.get(zdir)); deleteRecursively(Paths.get(udir))
    val zdf = spark.range(6000000L).select(col("id"),
      pmod(hash(col("id")), lit(1024)).cast("long").as("x"),
      pmod(hash(col("id") + 7L), lit(1024)).cast("long").as("y"),
      concat_ws("", (0 until 8).map(i =>
        md5(concat(col("id"), lit(i)))): _*).as("payload"))
    record("svs_zorder_write_6m", reps = 1) {
      graft.ops.Layout.writeZordered(zdf, zdir,
        graft.ops.Layout.zValue(10, col("x"), col("y")), numFiles = 64)
    }
    zdf.repartition(64).write.mode("overwrite").parquet(udir)
    val zstats = graft.ops.Layout
      .parquetFileStats(spark, zdir, Seq("x", "y"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    zstats.count()
    def scanAgg(df: org.apache.spark.sql.DataFrame): Unit = {
      df.agg(count(lit(1)), sum(length(col("payload")))).collect(); ()
    }
    // each rep reads whatever the page cache holds of the tables
    // just written: cache-warm, a 1.5 GB table decodes under the
    // job floor and both layouts can time alike, so the IO-bound
    // comparison a cluster reading cold data sees shows only as far
    // as the cache has evicted them
    record("svs_skip_scan_6m") {
      scanAgg(graft.ops.Layout.skippingScan(spark, zdir, zstats,
        "x", 0, 127))
    }
    record("svs_zscan_pruned_6m") {
      scanAgg(spark.read.parquet(zdir).where(col("x").between(0, 127)))
    }
    record("svs_scan_unordered_6m") {
      scanAgg(spark.read.parquet(udir).where(col("x").between(0, 127)))
    }
    zstats.unpersist()
    deleteRecursively(Paths.get(zdir)); deleteRecursively(Paths.get(udir))
  }

  /** Batched BPE training at a production-ish merge count: the
    * jobs-per-merge fix, measured — the naive loop is 1000 jobs for
    * 1000 merges; the batched passes run ~2 jobs per batch of
    * disjoint merges (Bpe.bpeTrain scaladoc), exactly greedy-
    * equivalent (BpeSpec + the x15/x19 oracles pin it) */
  private def bpePoint(spark: SparkSession): Unit = {
    val bpeDocs = Tables.t(spark, sfDirG, "documents")
    record("svs_bpe_train_1k", reps = 1) {
      graft.ops.Bpe.bpeTrain(bpeDocs, numMerges = 1000).count()
    }
  }

  /** `v` as a strict JSON number: at most 4 decimals, no trailing zeros
    * and never a bare leading point (".36" fails a strict parser). */
  private def num(v: Double): String =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** One JSON object: `fields` (already-rendered JSON values), then every
    * recorded point under `queries` and every (name, exception class)
    * failure under `failed`. Both the contract line and the full record
    * are written through it. */
  private[graft] def contractLine(fields: Seq[(String, String)],
      points: Seq[(String, Double)], failures: Seq[(String, String)]): String =
    obj(fields ++ Seq(
      "queries" -> obj(points.map { case (k, v) => k -> num(v) }),
      "failed" -> failures.map { case (n, e) =>
        obj(Seq("name" -> str(n), "error" -> str(e))) }.mkString("[", ",", "]")))

  private def runFields: Seq[(String, String)] = Seq(
    "metric" -> str("total"), "value" -> num(results.values.sum),
    "unit" -> str("sec"), "sf" -> str(sfDirG), "full" -> str(fullPathG),
    "run_id" -> str(runIdG),
    "ladder_monotone" -> ladderMonotone.fold("null")(_.toString),
    "ladder_cycles" -> ladderCycles.toString,
    "bucketed_vs_pq_s" -> bucketedVsPqS.fold("null")(num),
    "elapsed_s" -> num(elapsedS),
    "n_part1" -> results.keys.count(!_.startsWith("svs_")).toString)

  /** Rewrite the full record — the contract plus per-point provenance
    * and notes — through a temp file and an atomic rename, after every
    * point: a kill at any moment leaves a whole record of what was
    * measured. */
  private def writeFull(): Unit = {
    val full = contractLine(runFields ++ Seq(
      "provenance" -> obj(provenance.map { case (k, p) =>
        k -> obj(p.map { case (pk, pv) => pk -> num(pv) }) }),
      "notes" -> obj(notes.map { case (k, v) => k -> str(v) })),
      results.toSeq, failed.toSeq)
    try {
      val tmp = Paths.get(fullPathG + ".tmp")
      Files.write(tmp, (full + "\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(fullPathG), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch { case NonFatal(e) =>
      Console.err.println(s"$fullPathG write failed: $e") }
  }

  /** Workload annotations: which engine numbers pair with which
    * BASELINE.md rows (and which have no published counterpart). */
  private val notes: Seq[(String, String)] = Seq(
    "provenance" -> "every recorded point carries {reps, cpu_run} in the record's provenance map (warm points and ladder legs add the working set's memory-residency fraction; the approximate 1M tier points add recall_at_10 measured vs the exact top-10 on the same corpus — 32-query mean for the knn-join legs, the probe query itself for single-query probes; NOTE the corpus is isotropic random vectors, the hardest case for quantized tiers — see the svs_knn2k_pq_1m note). cpu_run = sum(task executorCpuTime)/sum(task executorRunTime) across the point's published rep(s) — <<1 means the executor threads were descheduled or IO-blocked (a slow number is environment/contention); ~1.0 means the tasks were on-CPU, which is EITHER real work or hypervisor CPU steal, which inflates thread CPU itself and is invisible to every guest-side counter — hence median-of-reps and the interleaved ladder rather than any single-shot number",
    "ladder" -> "the four knn-ladder legs (svs_knn2k_*) run 2000 probes against the SAME 1M x d1536 corpus in two INTERLEAVED cycles (A,B,C,D,A,B,C,D; published value = min per leg) so contention drift lands on all legs equally instead of mapping onto ladder position (sequential legs once published inverted orderings exactly that way). The amortization claim (every rung beats per-call assignment) is probe-count-invariant; the plain path also records once at 10k probes (svs_knn_join_1m) for the absolute magnitude. ladder_monotone covers the rungs with MEASURABLE local deltas (indexed, pq vs plain); the bucketed rung's elided codes exchange is ~100 MB at this scale, inside run noise by design, so that rung is certified STRUCTURALLY by the OpsSpec/StoreScaleSpec zero-shuffle-under-the-codes-child assertions, and the record carries bucketed_vs_pq_s, its measured noise-bounded delta vs the pq rung. The indexed leg's derived layout is built ONCE before cycle 1 (untimed index maintenance) and held storage-pool resident across cycles; every rep stamps residency + cpu_run, so a spill- or contention-poisoned rep is visible in its own record",
    "svs_io_probe_read" -> "fixed-size IO probe: ~1 GB uncompressed parquet written from cache then read back from whatever the page cache holds of it (the run never drops the cache); the pair attributes any run-to-run delta on disk-bound points to environment vs code (one tree's svs_build_1m once measured 299s vs 61s purely from IO contention)",
    "svs_build_10k" -> "writes the full packed-f32 vector store; no published counterpart (the reference folds this into its ~2h embed phase; its 0.07s fn2 number is text-only -> compare svs_load_docs_10k)",
    "svs_build_1m" -> "writes the full 6.3GB packed-f32 vector store; no published counterpart (reference folds it into the ~2h embed phase; its 8s fn2 number is text-only -> compare svs_load_docs_1m)",
    "svs_warm_1m" -> "single query against the memory-resident block index; the index's storage-pool residency is VERIFIED (and restored by a rebuild if evicted) before timing, and the measured residency fraction is recorded in provenance — r8's official 0.592s was a partially-evicted matrix measuring disk, not the scan",
    "svs_pairs_1m" -> "approximate top-k pairs (sketch candidates + exact re-rank); exact all-pairs at 1M x d1536 is ~8e14 flops and has no published counterpart",
    "svs_neardup_1m" -> "threshold near-dup candidates + exact verify over 1M x d1536 (embeddingNearDups scale path); random corpus has no qualifying pairs, so this measures the pipeline completing at 1M; no published counterpart",
    "svs_image_neardup_100k" -> "real-codec image near-dup mining: 100k synthetic 64x64 JPEGs (in-JVM javax.imageio encode, untimed) decoded by ImageIoDecoder, 8x8 luma aHash, banded Hamming<=2 join; ~1% of the corpus are noisy re-encodes so the miner finds genuine clusters; no published counterpart",
    "svs_bpe_train_1k" -> "batched greedy-equivalent BPE training, 1000 merges over the sfDir documents corpus: ~2 distributed jobs per pass of pairwise-disjoint merges instead of 1 job per merge (the r7 scale caveat, fixed); no published counterpart",
    "svs_curation_2m" -> "the x12 curation COMPOSITION (Gopher rules AND exact-dup representative AND quality>median) over 2M synthetic ~1200-char docs, with svs_curation_200k the same pipeline at 1/10 the rows: the pair certifies the composed pipeline scales ~linearly (three keyed/narrow stages, median as a broadcast scalar), not just its pieces; no published counterpart",
    "svs_curation_sf1" -> "the same x12 composition over REAL corpus text at sf1 scale: the sfDir documents table key-offset-replicated x10 (ids +1e6/copy, the tools/make_bigsf.py convention — no sf1 parquet exists in this environment), with svs_curation_sf01 the un-replicated sf0.1 table for the ~10x ratio; restates the synthetic 200k->2M linearity claim on real data; no published counterpart",
    "svs_stream_ingest" -> "streaming store ingest with LIVE index upkeep: 6 x 500-doc micro-batches drained through startStoreIngest(maintainIndex=true) against a 20k-doc seeded store with ANN + lexical indexes built — each micro-batch is one atomic commit (embed, pack, docs+embeddings delta write) plus O(batch) incremental ANN and text refreshes; docs/s = 3000/value (a4: ~13 s/micro-batch = commit + ann refresh + text refresh, each a versioned-table write; high-frequency deployments batch refreshes instead — maintainIndex=false + periodic refresh, per the startStoreIngest scaladoc); seed, index builds and one warmup batch untimed; no published counterpart (the reference has no streaming path)",
    "svs_stream_dedup" -> "cross-snapshot incremental dedup through the persisted dedup_bands index family: screen a 500-doc arriving batch (10% exact copies of archived docs) against the ~23k-doc store — band the batch, ONE equi-join vs the stored MinHash band keys, exact-Jaccard verify of matched candidates; the index build is untimed (pay-per-layout) and the refresh after ingest is O(batch); at 100 TB this replaces the O(corpus) re-mine every new batch would otherwise pay; no published counterpart",
    "svs_stream_semdedup" -> "SEMANTIC dedup-screen-on-ingest through the persisted ANN (IVF) family: embed a 500-doc arriving batch (10% embedding-identical to archived docs), probe 4/16 stored centroid lists, ONE pruned archive pass against the broadcast batch, exact cosine verify + batch-internal keep-first; survivors carry their screen-time vectors into the commit so the provider is never called twice. The paraphrase-robust second screen stage (SemDeDup order: lexical first, semantic on the survivors); at 100 TB the probed-fraction prune replaces the O(corpus) scan every batch would otherwise pay; no published counterpart",
    "svs_stream_ingest_fast" -> "the RECOMMENDED high-frequency configuration (maintainIndex=false + periodic refresh, the startStoreIngest scaladoc's deployment guidance): the same 6 x 500-doc micro-batches on the same store, per-batch cost = the atomic commit only, with ONE incremental ANN + text refresh timed at the end of the window; docs/s = 3000/value — quantifies what batching refreshes buys vs svs_stream_ingest's per-batch live-index mode",
    "svs_ivf_build_1m" -> "batch IVF index build: packed-f32 argmax of 1M x d1536 against 256 broadcast centroids + inverted-list table write; no published counterpart (the reference has no ANN index)",
    "svs_ivf_probe_1m" -> "IVF probe of 8/256 lists (~1/32 of the corpus scored) through the written index; no published counterpart",
    "svs_filtered_probe_1m" -> "the same 8/256-list IVF probe under a 30%-selectivity metadata predicate (vec_id % 10 < 3) applied to the probed lists BEFORE the dot kernel — filtered vector search's post-filter strategy (SimilaritySearch.filteredTopKIvf): scored rows = selectivity x probed-list size, so the filtered probe should run at or under the unfiltered one; no published counterpart",
    "svs_maxsim_1m" -> "late-interaction (ColBERT MaxSim) retrieval over the 1M corpus read as 200k multi-vector docs (5 token vectors each) x 8 query tokens: ONE corpus pass of 8M packed dots, per-(doc, qtoken) max with map-side combine, per-doc sum, top-100 — the shuffles carry docs x 8 narrow rows, never vectors (SimilaritySearch.maxSimTopK's shape); no published counterpart (the reference is single-vector only)",
    "svs_maxsim_ivf_1m" -> "IVF-pruned MaxSim (PLAID candidate generation) on the same corpus/query set: 8 query tokens probe 8 of 256 token-level centroids, candidate docs rank by the centroid approximation over the narrow (doc, cid) table (no vector access), top-1000 docs (0.5% of corpus) pay the exact token kernel — 40k dots vs svs_maxsim_1m's 8M (SimilaritySearch.maxSimTopKIvfAssigned's shape); the sublinear scale path for late-interaction retrieval",
    "svs_cold_1m" -> "single-shot retrieve on a freshly opened read of the store written moments earlier: the run never drops the OS page cache, so the read takes whatever the cache still holds of the store and the number lies between a disk read and a cache-warm one; this note is the caveat",
    "svs_knn_join_1m" -> "the ABSOLUTE-number leg: IVF k-NN join of 10k queries x 1M candidates at d1536 (nProbe 4/256), per-call assignment (plain), both sides shuffled on centroid id, packed kernels end-to-end, blocked-kernel JIT paid by an untimed warmup call; ordering across the amortization ladder is certified by the cheaper svs_knn2k_* legs; no published counterpart (the reference retrieves one query at a time)",
    "svs_knn2k_plain_1m" -> "ordering-ladder BASELINE: the plain IVF knn join (per-call corpus assignment) at 2k probes x 1M candidates — the rung every amortized leg must beat; see the ladder note",
    "svs_knn2k_indexed_1m" -> "the same 2k x 1M join probing a PERSISTED assignment (pre-assigned+persisted outside the timer): saves the per-call assignment pass (the measured delta vs svs_knn2k_plain_1m); the candidates' packed vectors still cross the join exchange per call. The raw-blob ccid-BUCKETED variant was retired from the timed set after measuring 2.7x slower than this point: its relational core copies a 6KB blob per candidate pair, dwarfing the one exchange it elides (operator + exchange-elision plan spec remain in the library; bucketed layouts are for small-payload code tables)",
    "svs_knn2k_pq_1m" -> "the same 2k x 1M join through residual PQ codes: ADC (96 B/vector, per-query lookup tables behind a bounded LRU) pre-filters candidates, exact re-rank of 50 survivors/query; approximate (recall spec-gated at small scale; exact at full probe+rerank, the k3 oracle) — the compressed scale path when raw-vector joins dominate. The stamped recall_at_10 is measured on THIS corpus — isotropic random unit vectors, the worst case for any quantizer: all 1M query dots concentrate within ~±0.03 (1/sqrt(1536)), so 96-byte codes cannot separate rank neighbors that differ by less than the quantization noise. Real embedding corpora are strongly anisotropic (cluster structure is what IVF/PQ exploit); the IN-RECORD counterpart is recall_at_10_clustered — the same residual IVF-PQ path measured on a planted-structure 1M corpus (256 clusters x near-dup groups, the realistic macro-margin ranking problem) vs a brute-force exact truth pass — and the k3 oracle pins exactness at full probe+rerank",
    "svs_knn2k_pq_bucketed_1m" -> "the same compressed join through the CUSTOM physical operator (plans/AdcCodesJoin: requiredChildDistribution = ClusteredDistribution(cid) on both children) over a cid-bucketed codes catalog table: the planner accepts the bucketed scan as-is and shuffles only the probe rows per call — codes-side exchange elision a DataFrame-level kernel cannot express; at this local scale the codes exchange is only ~100 MB so the timed delta vs svs_knn2k_pq_1m sits inside run noise — therefore this rung is OUTSIDE the ladder_monotone ordering gate: its certification is the STRUCTURAL plan assertion (OpsSpec/StoreScaleSpec: zero shuffles under the codes child), its time claim is bucketed_vs_pq_s ~ 0 (noise-bounded), and the payoff is at scale: at 100 TB raw the codes are ~1.5 TB per call that never cross the wire",
    "svs_load_docs_10k" -> "single-task parquet write of a 10k-row text corpus; the residual ~0.2-0.3s is the JVM job-dispatch + output-committer floor, MEASURED and stamped as dispatch_floor_s in this point's provenance (median of 3 one-row single-task writes in the same weather) -> the gate miss vs the reference's 0.07s in-process SQLite insert (fn2 @10k) is the floor, not the write: value - dispatch_floor_s is the actual 10k write cost, and the same path at 1M is ~14x FASTER than baseline",
    "svs_zscan_pruned_6m" -> "z-ordered 6M x 256B table (~1.5 GB raw), 1/8-range predicate on one interleaved dim, payload-reading aggregate, each rep reading whatever the page cache holds of the table just written (the run never drops the cache; a cluster reading cold data is disk-bound): the engine's row-group stats prune because the LAYOUT made ranges tight; vs svs_scan_unordered_6m (identical data, naive layout, row groups straddle the predicate) the delta is the measured z-order win — and one layout serves range predicates on BOTH interleaved dims",
    "svs_skip_scan_6m" -> "the manifest file-skipping path over the same table (reads 15/64 files): reads only the manifest-selected files; times as svs_zscan_pruned_6m plus a fixed ~0.2s manifest lookup — honest local number; the file-level win (one manifest read replacing per-file footer opens, 4x fewer tasks) is object-store metadata latency this VM cannot exhibit; result parity LayoutSpec-pinned"
  )

  /** One deterministic synthetic unit vector (the reference's fake d1536
    * embeddings, `One Million Documents Benchmark.ipynb` cell 5).
    */
  private def syntheticVec(id: Long): Array[Float] = {
    val rnd = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
    val v = new Array[Float](Dim)
    var s = 0.0
    var i = 0
    while (i < Dim) {
      val x = rnd.nextGaussian()
      v(i) = x.toFloat
      s += x * x
      i += 1
    }
    val inv = (1.0 / math.sqrt(s)).toFloat
    i = 0
    while (i < Dim) { v(i) *= inv; i += 1 }
    v
  }

  private def syntheticEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map(id => (id, FloatVecDot.pack(syntheticVec(id))))
      .toDF("id", "vec")
  }

  /** Synthetic ~1200-char docs (the reference's text-load corpus,
    * `README.md:129` fn2 — its 8s number covers text only, vectors are
    * inserted in the separate '~2h' embed phase). Includes the "the"/"a"
    * stopwords so the curation points' Gopher rules see realistic text.
    */
  private def syntheticDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val words = Array("spark", "vector", "store", "document", "retrieval",
      "index", "batch", "stream", "graph", "dedup", "cosine", "shuffle",
      "the", "a")
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map { id =>
        val rnd = new java.util.Random(id)
        val sb = new java.lang.StringBuilder(1250)
        while (sb.length < 1200) {
          sb.append(words(rnd.nextInt(words.length))).append(' ')
        }
        (id, sb.toString)
      }
      .toDF("id", "text")
  }

  private def timed[A](body: => A): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** retrieve(query_vec, n=100) as a DataFrame job: the query vector is
    * a literal (the reference embeds the query text outside the store,
    * `kb.py:1616-1620`), so the whole retrieval is ONE stage —
    * scan → codegen'd f32 dot → TakeOrderedAndProject top-100 with the
    * reference's tie order. No shuffle, no broadcast exchange.
    */
  private def retrieveJob(emb: DataFrame, queryId: Long): Unit = {
    val qv = lit(FloatVecDot.pack(syntheticVec(queryId)))
    emb
      .select(col("id"),
        FloatVecDot.floatVecDot(col("vec"), qv).as("score"))
      .orderBy(desc("score"), desc("id"))
      .limit(100)
      .collect()
  }

  private def svsProtocol(spark: SparkSession, n: Long, tag: String,
      keep: Boolean = false): String = {
    val path = s"/tmp/graft_bench_$tag"
    val staging = s"/tmp/graft_stage_$tag"
    deleteRecursively(Paths.get(path))
    deleteRecursively(Paths.get(staging))

    // untimed: generate the synthetic corpus (the reference's '~2h embed'
    // phase is likewise excluded from its load number)
    syntheticEmbeddings(spark, n).write.mode("overwrite")
      .option("compression", "none").parquet(staging)

    // build: bulk-load pre-embedded vectors into the store (reference
    // 'load into store', 8s @ 1M). Uncompressed parquet: random f32
    // vectors are incompressible, so snappy only burns CPU (the columns
    // a real store would compress — ids, text — still would be). Each
    // rep re-reads staging and rewrites the full store — real compute +
    // IO, not a page-cache echo; at 1M a rep writes 6.3 GB, so it runs
    // once
    record(s"svs_build_$tag", reps = if (n > 100000) 1 else 3) {
      spark.read.parquet(staging).write.mode("overwrite")
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .parquet(path)
    }
    deleteRecursively(Paths.get(staging))

    // cold: fresh read of the store, score, top-100 (reference 2min
    // @ 1M). The store was just written, so the read takes whatever the
    // page cache still holds of it (r7 measured 14 s for 6.3 GB — cache
    // bandwidth, not disk); the notes carry that caveat.
    val cold = spark.read.parquet(path)
    record(s"svs_cold_$tag", reps = 1) { retrieveJob(cold, queryId = 1L) }

    // warm: the batch-built in-memory index — block-contiguous f32
    // matrix shards, the engine's analog of the reference's cached
    // matrix (0.24s @ 1M). The warm number is only meaningful if the
    // matrix IS memory-resident: verify the blocks' storage-pool
    // residency after the warmup queries, restore it with a rebuild if
    // the preceding build's pressure evicted it, and record the final
    // fraction in the point's provenance (the r8 official record's
    // 0.592s was a partially-evicted matrix timing the disk).
    val blocks = math.max(1, math.min(32, n / 20000)).toInt
    def buildIdx() = graft.ops.VectorIndex
      .fromPacked(spark.read.parquet(path), blocks).get
    var idx = buildIdx()
    idx.topK(syntheticVec(1L), 100) // warm-up passes (JIT)
    idx.topK(syntheticVec(3L), 100)
    var res = idx.memoryResidency()
    if (res < 0.98) {
      idx.unpersist()
      idx = buildIdx()
      idx.topK(syntheticVec(1L), 100)
      idx.topK(syntheticVec(3L), 100)
      res = idx.memoryResidency()
    }
    record(s"svs_warm_$tag", residency = Some(res)) {
      idx.topK(syntheticVec(2L), 100)
    }
    idx.unpersist()
    if (!keep) deleteRecursively(Paths.get(path))
    path
  }
}
