package storebench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Embeddings.EmbeddingProvider

final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Int, metrics: Seq[Metric]) {
  /** The one-line contract: only ever printed for a run whose answers
    * all checked out. */
  def json: String = {
    def num(v: Double): String = {
      require(!v.isNaN && !v.isInfinite, s"metric value $v")
      java.math.BigDecimal.valueOf(v).toPlainString
    }
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": true, "attempted": $attempted, "failed": 0, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Runs one workload end to end: set up `setups` times, run the closed
  * loop for `seconds`, check, and compute the run's metrics. */
object Runner {
  val Ops: Seq[String] = Seq("retrieve", "ann_retrieve", "bm25_retrieve", "fetch_doc",
    "fresh_retrieve", "ingest_batch")
  val SpanKinds: Seq[String] = Seq("embed", "job", "plan")
  /** Cold retrieves after the loop, after one that warms their path. */
  val Probes = 8
  val MinCycles = 3

  def run(spark: SparkSession, cfg: Config,
      provider: EmbeddingProvider = HashProvider()): Result = {
    EmbedLog.calls.clear()
    val client = new Client(spark)
    val gen = Gen(cfg.seed)
    val ctx = Workload.Ctx(spark, gen, TracedProvider(provider), client, cfg.cores,
      gen.queryRng(cfg.workload.hashCode.toLong), cfg.docs, cfg.runDir)
    val w = Workload(cfg.workload, ctx)
    try measure(spark, cfg, w, client) finally w.close()
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def measure(spark: SparkSession, cfg: Config, w: Workload,
      client: Client): Result = {
    val gen = w.ctx.gen
    val setupS = ArrayBuffer[Double]()
    var storeDir: java.io.File = null
    (1 to cfg.setups).foreach { r =>
      if (storeDir != null) { w.kb.close(); Files.delete(storeDir) }
      storeDir = new java.io.File(cfg.runDir, s"store-$r")
      setupS += seconds(w.setup(storeDir.getAbsolutePath))
      Log(f"set-up $r: ${setupS.last}%.2f s")
    }
    w.beforeLoop()

    val recorder = new Recorder
    val cycles = ArrayBuffer[(Span, Boolean)]()
    val chains = ArrayBuffer[Map[String, Seq[Long]]]()
    val bases = ArrayBuffer[Map[String, Long]]()
    val gc0 = Jvm.gcSeconds()
    val old0 = if (cfg.trace) Jvm.oldGenAfterGc() else 0.0
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    // at least three cycles: a median that one slow cycle does not set,
    // and in a traced run an untraced cycle for the overhead baseline
    while (System.nanoTime() < deadline || cycles.size < Runner.MinCycles) {
      // in a traced run every other cycle is traced, so the untraced
      // ones give the overhead baseline from the same store and moment
      val traced = cfg.trace && cycles.size % 2 == 0
      if (traced) { recorder.register(spark); EmbedLog.on = true; client.tracing = true }
      val t0 = Clock.now()
      try w.cycle()
      finally if (traced) {
        client.tracing = false; EmbedLog.on = false
      }
      cycles += ((Span("cycle", t0, Clock.now()), traced))
      if (traced) recorder.unregister(spark)
      chains += w.kb.meta.table_deltas
      bases += w.kb.meta.table_bases
    }
    val gcLoop = Jvm.gcSeconds() - gc0
    val oldGrowth = if (cfg.trace) Jvm.oldGenAfterGc() - old0 else 0.0
    Log(s"loop: ${cycles.size} cycles")
    w.finish()
    // retrieves on a store whose matrix is not cached, as after opening
    // it or after a write, each followed by a warm one. The first warms
    // the cold path and is not timed into the metric.
    ("cold_warmup" +: Seq.fill(Runner.Probes)("cold_retrieve")).foreach { cold =>
      w.kb.close()
      Seq(cold, "retrieve").foreach { op =>
        val id = w.probeDoc()
        w.selfRetrieve(op, id, gen.text(id))
      }
    }
    Log("checks done")

    val storeBytes = Files.bytes(storeDir)
    val userBytes = w.userChars.toDouble + 4.0 * Gen.Dim * w.userDocs
    val cachedGb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e9
    val cycleS = cycles.map(_._1.nanos / 1e9).toSeq
    val metrics =
      if (!cfg.trace) Seq(
        Metric("setup_s", Stats.median(setupS.toSeq), "s"),
        Metric("cold_retrieve_s", Stats.median(client.durations("cold_retrieve")), "s"),
        Metric("retrieve_p50_s", Stats.median(client.durations("retrieve")), "s"),
        Metric("cycle_p50_s", Stats.median(cycleS), "s"),
        Metric("space_amp", storeBytes / userBytes, "ratio"))
      else {
        val layers = new Layers(spark, client, recorder, cycles.toSeq)
        layers.perOp() ++ layers.perWorkload() ++ layers.afterLoop(w, gen) ++ Seq(
          Metric("kbstore.index_builds_per_write", w.indexBuildsPerWrite, "count"),
          Metric("kbstore.delta_chain_max",
            chains.map(c => (0 +: c.values.map(_.size).toSeq).max).max.toDouble, "count"),
          Metric("kbstore.minor_compactions",
            bases.zip(bases.drop(1)).count { case (a, b) => a != b }.toDouble, "count"),
          Metric("kbstore.files", Files.count(storeDir).toDouble, "count"),
          Metric("kbstore.store_bytes", storeBytes.toDouble, "B"),
          Metric("kbstore.cached_gb", cachedGb, "GB"),
          Metric("jvm.gc_s", gcLoop / cycles.size, "s"),
          Metric("jvm.old_gen_after_gc_gb", oldGrowth, "GB"))
      }
    val summary = Ops.map { op =>
      val d = client.durations(op)
      if (d.isEmpty) s"$op: -" else f"$op: n=${d.size} p50=${Stats.median(d)}%.4f s" +
        Stats.tail(d).map { case (p, v) => f" p${p.toInt}=$v%.4f s" }.getOrElse("")
    }
    System.err.println(s"storebench ${cfg.workload}: ${cycles.size} cycles; " +
      summary.mkString("; "))
    System.err.println("storebench cold retrieves: " +
      client.durations("cold_retrieve").map(d => f"$d%.3f").mkString(" "))
    Result(client.calls.size, metrics)
  }
}

/** Per-layer metrics of a traced run, from the traced cycles' calls and
  * what the listeners recorded during them. */
final class Layers(spark: SparkSession, client: Client, rec: Recorder,
    cycles: Seq[(Span, Boolean)]) {
  import Runner.{Ops, SpanKinds}

  private val traced = client.calls.filter(_.traced).toSeq
  private val tracedCycles = math.max(1, cycles.count(_._2))
  private val callById = traced.map(c => c.id -> c).toMap
  private val batches = traced.filter(_.op == "ingest_batch")

  /** The traced call a tag or an instant belongs to. Client jobs carry
    * `<op>#<call>`; streaming jobs run on the stream's thread and belong
    * to the ingest batch whose interval holds them. */
  private def owner(tag: String, at: Long): Option[Call] =
    if (tag == Recorder.StreamTag) batches.find(_.span.contains(at))
    else tag.split('#') match {
      case Array(_, id) => id.toIntOption.flatMap(callById.get)
      case _ => None
    }
  private def at(t: Long): Option[Call] = traced.find(_.span.contains(t))

  private val jobs = rec.jobs.asScala.toSeq.flatMap(j => owner(j.tag, j.span.start).map(_ -> j.span))
  private val tasks = rec.tasks.asScala.toSeq.flatMap(t => owner(t.tag, t.launch).map(_ -> t))
  private val stages = rec.stages.asScala.toSeq.flatMap(s => owner(s.tag, s.span.start).map(_ -> s))
  private val plans = rec.plans.asScala.toSeq.flatMap(p => at(p.start).map(_ -> p))
  private val embeds = EmbedLog.calls.asScala.toSeq.flatMap(e => at(e.span.start).map(_ -> e))

  def perOp(): Seq[Metric] = Ops.flatMap { op =>
    val calls = traced.filter(_.op == op)
    val n = calls.size
    def per(v: Double): Double = if (n == 0) 0.0 else v / n
    val ts = tasks.filter(_._1.op == op).map(_._2)
    val cpuS = ts.map(_.cpuNs).sum / 1e9
    val runS = ts.map(_.runMs).sum / 1e3
    val results = calls.map(_.results.toLong).sum
    val parts = calls.map { c =>
      val children = jobs.filter(_._1 eq c).map(_._2) ++
        plans.filter(_._1 eq c).map(_._2) ++ embeds.filter(_._1 eq c).map(_._2.span)
      val self = Spans.selfTimes(c.span, children, SpanKinds)
      require(self.values.sum == c.span.nanos, s"span parts of $op do not sum to its time")
      self
    }
    val untraced = client.durations(op, traced = Some(false))
    Seq(
      Metric(s"spark.jobs.$op", per(jobs.count(_._1.op == op).toDouble), "count"),
      Metric(s"spark.tasks.$op", per(ts.size.toDouble), "count"),
      Metric(s"spark.plan_s.$op", per(plans.filter(_._1.op == op).map(_._2.nanos).sum / 1e9), "s"),
      Metric(s"spark.task_cpu_s.$op", per(cpuS), "s"),
      Metric(s"spark.cpu_run.$op", if (runS > 0) cpuS / runS else 0.0, "ratio"),
      Metric(s"spark.gc_s.$op", per(ts.map(_.gcMs).sum / 1e3), "s"),
      Metric(s"spark.input_bytes.$op", per(ts.map(_.inputBytes).sum.toDouble), "B"),
      Metric(s"spark.rows_read_per_result.$op",
        if (results > 0) ts.map(_.recordsRead).sum.toDouble / results else 0.0, "ratio"),
      Metric(s"spark.shuffle_bytes.$op", per(ts.map(_.shuffleBytes).sum.toDouble), "B")) ++
      (SpanKinds :+ Spans.Other).map(k =>
        Metric(s"span.$op.${k}_s", per(parts.map(_(k)).sum / 1e9), "s")) :+
      Metric(s"op.$op.p50_s", if (untraced.isEmpty) 0.0 else Stats.median(untraced), "s")
  }

  def perWorkload(): Seq[Metric] = {
    val perCycle = (v: Double) => v / tracedCycles
    val progress = rec.progress.asScala.toSeq
    def stream(key: String) =
      if (progress.isEmpty) 0.0
      else progress.map(_.durationMs.getOrElse(key, 0L)).sum / 1e3 / progress.size
    val cycleT = cycles.filter(_._2).map(_._1.nanos.toDouble)
    val cycleU = cycles.filterNot(_._2).map(_._1.nanos.toDouble)
    val ingested = client.calls.filter(_.op == "ingest_batch")
    val embedCalls = embeds.map(_._2)
    (Sites.Modules :+ Sites.Other).map { m =>
      Metric(s"site.$m.job_s",
        perCycle(stages.filter(_._2.module == m).map(_._2.span.nanos).sum / 1e9), "s")
    } ++ Seq(
      Metric("spark.spill_bytes", perCycle(tasks.map(_._2.spillBytes).sum.toDouble), "B"),
      Metric("embeddings.calls", perCycle(embedCalls.size.toDouble), "count"),
      Metric("embeddings.texts", perCycle(embedCalls.map(_.texts).sum.toDouble), "count"),
      Metric("embeddings.busy_s", perCycle(embedCalls.map(_.span.nanos).sum / 1e9), "s"),
      Metric("streaming.add_batch_s", stream("addBatch"), "s"),
      Metric("streaming.query_planning_s", stream("queryPlanning"), "s"),
      Metric("streaming.wal_commit_s", stream("walCommit"), "s"),
      Metric("streaming.trigger_s", stream("triggerExecution"), "s"),
      Metric("trace.overhead_frac",
        if (cycleT.isEmpty || cycleU.isEmpty) 0.0
        else Stats.median(cycleT) / Stats.median(cycleU) - 1, "ratio"),
      Metric("op.fresh_retrieve.samples", client.durations("fresh_retrieve").size.toDouble, "count"),
      Metric("op.ingest_batch.docs_per_s",
        if (ingested.isEmpty) 0.0
        else ingested.map(_.results).sum / (ingested.map(_.span.nanos).sum / 1e9), "1/s"))
  }

  /** After the loop and its checks: rebuild the exact-retrieve matrix as
    * a write would make the next retrieve do, then time the kernel on
    * its own with a stored doc's vector. */
  def afterLoop(w: Workload, gen: Gen): Seq[Metric] = {
    val kb = w.kb
    kb.close()
    val t0 = System.nanoTime()
    val idx = kb.index().getOrElse(throw new WrongAnswer("store has no vector index"))
    val indexS = (System.nanoTime() - t0) / 1e9
    val q = w.ctx.provider.embed(Seq(gen.text(w.probeDoc()))).head
    val probe = new Recorder
    probe.register(spark)
    val topK = (1 to 5).map { _ =>
      client.op("topk", (r: Seq[(Long, Double)]) => r.size)(idx.topK(q, Workload.TopN))
      client.calls.last.span.nanos / 1e9
    }
    probe.unregister(spark)
    val topkS = Stats.median(topK)
    Seq(
      Metric("kbstore.index_s", indexS, "s"),
      Metric("vector_index.topk_s", topkS, "s"),
      Metric("vector_index.ns_per_float", topkS * 1e9 / (idx.count.toDouble * idx.dim), "ns"),
      Metric("vector_index.residency", idx.memoryResidency(), "ratio"),
      Metric("vector_index.local", if (probe.jobs.isEmpty) 1.0 else 0.0, "bool"))
  }
}

/** Progress lines on stderr, stamped with the JVM's uptime. */
object Log {
  def apply(msg: String): Unit = System.err.println(
    f"storebench [${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $msg")
}

object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Old-generation bytes live after a full collection, in GB. */
  def oldGenAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e9
  }
}

object Files {
  private def walk(d: java.io.File): Iterator[java.io.File] =
    if (!d.exists) Iterator.empty
    else java.nio.file.Files.walk(d.toPath).iterator.asScala.map(_.toFile)

  def bytes(d: java.io.File): Long = walk(d).filter(_.isFile).map(_.length).sum
  def count(d: java.io.File): Long = walk(d).count(_.isFile).toLong

  def delete(d: java.io.File): Unit =
    if (d.exists) walk(d).toSeq.reverse.foreach(_.delete())
}

/** `--workload <name> --seed <n> --seconds <s> --trace <0|1> --run-dir <dir>
  * [--cores <n>] [--docs <n> --setups <n>]`; the last two shrink a run for
  * the build's class-sharing warm-up. Prints the result line last on
  * stdout; a wrong answer or a failure exits non-zero without one. */
object Main {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val cfg = Config(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t: expected 0 or 1")
      },
      runDir = new java.io.File(need("run-dir")),
      cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      docs = kv.get("docs").map(_.toLong),
      setups = kv.get("setups").map(_.toInt).getOrElse(3))
    require(Workload.Names.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    require(cfg.seconds > 0, "--seconds must be positive")
    cfg
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Log("jvm up")
    val spark = Session.start(cfg.runDir, cfg.cores)
    Log(s"session up: local[${cfg.cores}], heap ${Runtime.getRuntime.maxMemory >> 20} MB")
    val code =
      try { println(Runner.run(spark, cfg).json); 0 }
      catch {
        case e: WrongAnswer =>
          System.err.println(s"storebench: WRONG ANSWER: ${e.getMessage}"); 3
        case e: Throwable =>
          System.err.println("storebench: run failed"); e.printStackTrace(); 1
      } finally spark.stop()
    Log("session stopped")
    sys.exit(code)
  }
}
