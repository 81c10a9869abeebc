package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.core.{KbStore, SourceCache}
import graft.core.Embeddings.MockProvider

/** Distributed bulk add (the scale index-build path) + source cache. */
class ScaleAddSpec extends SparkSpec {

  test("distributed bulk add: 10k docs, dense ids, embed backfill, retrieve") {
    import spark.implicits._
    val path = tempDir("graft-scale").resolve("kb").toString
    val kb = KbStore.create(spark, path, Map("provider" -> "mock"))
    val p = MockProvider(8)

    // seed two parents via the driver-side scope
    kb.bulkAddDocs(p) { a => a.add("root a"); a.add("root b") }

    val newDocs = spark.range(0, 10000)
      .select(concat(lit("doc "), col("id")).as("text"),
        when(col("id") % 2 === 0, 1L).otherwise(2L).as("parent_id"))
    val added = kb.bulkAddDocsDistributed(newDocs, p)
    assert(added == 10000L)
    assert(kb.len == 10002L)

    // dense ids continue from the high-water mark; levels derived
    val d = kb.docs
    assert(d.agg(max($"id")).head().getLong(0) == 10002L)
    assert(d.filter($"level" === 1).count() == 10000L)
    // every added doc got an embedding
    assert(kb.embeddings.count() == 10002L)
    // retrieval still works over the enlarged store
    assert(kb.retrieve("anything", 5, p).size == 5)

    // missing parent fails before commit
    val bad = spark.range(0, 3)
      .select(lit("x").as("text"), lit(99999L).as("parent_id"))
    intercept[IllegalArgumentException] {
      kb.bulkAddDocsDistributed(bad, p)
    }
    assert(kb.len == 10002L)
    kb.close()
  }

  test("source cache: sha256-keyed fetch + gz freshness (S2/S3)") {
    val dir = tempDir("graft-src")
    val cache = dir.resolve("cache").toString
    val f = dir.resolve("data.txt")
    Files.writeString(f, "hello graft")

    val fetched = SourceCache.fetch(f.toUri.toString, cache)
    assert(Files.readString(fetched) == "hello graft")
    // cache hit: same path, content survives source deletion
    Files.delete(f)
    val again = SourceCache.fetch(f.toUri.toString, cache)
    assert(again == fetched && Files.readString(again) == "hello graft")

    // gz decompression with mtime freshness
    val gz = dir.resolve("payload.txt.gz")
    val os = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz.toFile))
    os.write("compressed contents".getBytes("UTF-8")); os.close()
    val out = SourceCache.resolveUncompressed(gz)
    assert(out.getFileName.toString == "payload.txt")
    assert(Files.readString(out) == "compressed contents")
    // untouched gz → second resolve reuses the inflated file
    val m1 = Files.getLastModifiedTime(out)
    assert(SourceCache.resolveUncompressed(gz) == out)
    assert(Files.getLastModifiedTime(out) == m1)
  }

  test("source cache: injected transport, single-flight, local-only refusal") {
    val cache = tempDir("graft-cache2").toString

    // the local-only fetcher refuses remote schemes when injected
    intercept[IllegalArgumentException] {
      SourceCache.fetch("https://127.0.0.1:1/data.txt", cache,
        SourceCache.LocalFetcher)
    }

    // injected transport: downloads exactly once, cache hit after
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val fake = new SourceCache.UrlFetcher {
      def download(url: String, tmp: java.nio.file.Path): Unit = {
        calls.incrementAndGet()
        Files.writeString(tmp, s"body-of:$url")
      }
    }
    val url = "https://example.com/corpus.txt"
    // 8 concurrent fetches of the same URL populate once (single-flight)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[java.nio.file.Path] {
          def call() = SourceCache.fetch(url, cache, fake)
        })
      }
      val paths = futs.map(_.get()).distinct
      assert(paths.size == 1)
      assert(Files.readString(paths.head) == s"body-of:$url")
    } finally pool.shutdown()
    assert(calls.get() == 1)
    assert(SourceCache.fetch(url, cache, fake) != null && calls.get() == 1)
  }

  test("HttpFetcher: real GET against a loopback server, gz resolve, 404 raises") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val gzBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val os = new java.util.zip.GZIPOutputStream(bos)
      os.write("wire payload".getBytes("UTF-8")); os.close()
      bos.toByteArray
    }
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/corpus.txt.gz", (ex: HttpExchange) => {
      hits.incrementAndGet()
      ex.sendResponseHeaders(200, gzBytes.length)
      ex.getResponseBody.write(gzBytes)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val cache = tempDir("graft-cache3").toString

      // fetch + inflate in one step — the reference's open-from-URL path
      val out = SourceCache.resolve(s"$base/corpus.txt.gz", cache)
      assert(out.getFileName.toString.endsWith(".txt"))
      assert(Files.readString(out) == "wire payload")
      assert(hits.get() == 1)
      // cache hit: no second GET
      assert(SourceCache.resolve(s"$base/corpus.txt.gz", cache) == out)
      assert(hits.get() == 1)

      // a 404 raises and leaves nothing in the cache
      intercept[java.io.IOException] {
        SourceCache.fetch(s"$base/nope.txt", cache)
      }
      assert(!Files.list(java.nio.file.Paths.get(cache)).anyMatch(
        p => p.getFileName.toString.endsWith(".tmp")))
    } finally server.stop(0)
  }

  test("HttpFetcher: a server that accepts but never responds hits the request timeout") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    server.createContext("/stall.txt", (ex: HttpExchange) => {
      gate.await() // connection accepted, response never sent
      ex.close()
    })
    server.start()
    try {
      val url =
        s"http://127.0.0.1:${server.getAddress.getPort}/stall.txt"
      val tmp = Files.createTempFile("graft-stall", ".tmp")
      // without a REQUEST timeout this blocks forever (and with it held,
      // the per-URL single-flight lock would wedge every other fetcher)
      intercept[java.net.http.HttpTimeoutException] {
        SourceCache.HttpFetcher.download(url, tmp,
          java.time.Duration.ofMillis(300))
      }
    } finally { gate.countDown(); server.stop(0) }
  }
}
