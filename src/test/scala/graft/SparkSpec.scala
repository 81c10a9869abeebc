package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SpecProbes
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), small local parallelism. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(s: String): String = s"/root/testdata/sf$s"

  private val ownDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** A fresh temp dir, deleted when this suite ends. */
  def tempDir(prefix: String): Path = {
    val dir = SparkSpec.tempDir(prefix)
    ownDirs.add(dir)
    dir
  }

  /** Spark jobs started while `body` runs, counted by a listener after
    * a listener-bus drain on both sides. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    SpecProbes.drainListeners(spark)
    sc.addSparkListener(l)
    try { body; SpecProbes.drainListeners(spark) }
    finally sc.removeSparkListener(l)
    n.get()
  }

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally ownDirs.forEach(d => SparkSpec.deleteTempDir(d))
}

object SparkSpec {
  /** Temp dirs not yet deleted. A JVM shutdown hook deletes what is left
    * at exit: the session's warehouse, and any dir a suite could not
    * delete or did not reach (a run stopped by SIGTERM). */
  private val liveDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    liveDirs.forEach(d => deleteTempDir(d))))

  /** A fresh temp dir named `<prefix><random>`, deleted at JVM exit. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    liveDirs.add(dir)
    dir
  }

  /** Best effort: a dir that cannot be deleted now is left to the hook. */
  private def deleteTempDir(dir: Path): Unit =
    try { deleteRecursively(dir); liveDirs.remove(dir) }
    catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }

  private def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }

  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", tempDir("graft-wh").toString)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
