package graft

import graft.core.{Embeddings, Kb, KbStore}
import graft.core.Embeddings._

/** HTTP provider config surface + LRU/single-flight cache
  * (reference `embeddings/openai.py`, `ollama.py`, `util.py:51-93`,
  * `kb.py:896-922`) — driven through in-process fake transports because
  * this environment has zero egress.
  */
class ProviderSpec extends SparkSpec {

  private def freshPath(): String =
    tempDir("graft-prov").resolve("kb").toString

  /** Records requests; answers with a canned per-provider response. */
  private final class FakeTransport(kind: String) extends HttpTransport {
    val requests = new scala.collection.mutable.ArrayBuffer[
      (String, Map[String, String], String)]
    def post(url: String, headers: Map[String, String],
        body: String): (Int, String) = synchronized {
      requests += ((url, headers, body))
      val n = "\"input\":\\[".r.findFirstIn(body).map { _ =>
        body.split("\"input\":\\[")(1).takeWhile(_ != ']')
          .count(_ == '"') / 2
      }.getOrElse(0)
      def vec(i: Int) = "[1.0,0.0,0.0]"
      kind match {
        case "openai" =>
          val data = (0 until n).map(i =>
            s"""{"index":$i,"embedding":${vec(i)}}""").mkString(",")
          (200, s"""{"data":[$data]}""")
        case "ollama" =>
          val arr = (0 until n).map(vec).mkString(",")
          (200, s"""{"embeddings":[$arr]}""")
        case "error" => (500, """{"error":{"message":"boom"}}""")
      }
    }
  }

  test("openai config: url, auth header, payload shape, response parse") {
    val t = new FakeTransport("openai")
    val p = new HttpEmbeddingProvider(
      OpenAiConfig(model = "text-embedding-3-small",
        apiKey = Some("sk-test"), dimensions = Some(3), user = Some("u1")), t)
    val out = p.embed(Seq("hello", "world"))
    assert(out.length == 2 && out.head.toSeq == Seq(1.0f, 0.0f, 0.0f))
    val (url, headers, body) = t.requests.head
    assert(url == "https://api.openai.com/v1/embeddings")
    assert(headers("Authorization") == "Bearer sk-test")
    assert(body.contains(""""input":["hello","world"]"""))
    assert(body.contains(""""model":"text-embedding-3-small""""))
    assert(body.contains(""""encoding_format":"float""""))
    assert(body.contains(""""dimensions":3"""))
    assert(body.contains(""""user":"u1""""))
    // persisted params mirror the reference: no api key, no user
    assert(p.params == Map("provider" -> "openai",
      "model" -> "text-embedding-3-small", "dimensions" -> "3"))
  }

  test("ollama config: base_url resolution, payload, params roundtrip") {
    val t = new FakeTransport("ollama")
    val cfg = OllamaConfig(model = "nomic-embed-text", truncate = false,
      keepAlive = "10m", baseUrl = Some("http://fake:1234"))
    val p = new HttpEmbeddingProvider(cfg, t)
    val out = p.embed(Seq("a"))
    assert(out.length == 1)
    val (url, _, body) = t.requests.head
    assert(url == "http://fake:1234/api/embed")
    assert(body.contains(""""model":"nomic-embed-text""""))
    assert(body.contains(""""truncate":false"""))
    assert(body.contains(""""keep_alive":"10m""""))
    // rehydration reconstructs an equivalent config from params
    val back = Embeddings.fromParams(cfg.params, t)
    assert(back.params == cfg.params)
    assert(back.asInstanceOf[HttpEmbeddingProvider]
      .config.asInstanceOf[OllamaConfig] == cfg)
  }

  test("non-200 responses raise with the provider's error shape") {
    val p = new HttpEmbeddingProvider(
      OpenAiConfig(apiKey = Some("k")), new FakeTransport("error"))
    val e = intercept[RuntimeException] { p.embed(Seq("x")) }
    assert(e.getMessage.contains("status=500"))
  }

  test("NoEgressTransport refuses when egress is explicitly disabled") {
    val p = new HttpEmbeddingProvider(
      OpenAiConfig(apiKey = Some("k")), NoEgressTransport)
    intercept[UnsupportedOperationException] { p.embed(Seq("x")) }
  }

  // ---------------------------------------------------------------
  // real-wire tests: JdkHttpTransport against an in-process loopback
  // server — true HTTP parity with the reference's aiohttp POSTs
  // (openai.py:85-92, ollama.py:70-93) without external egress
  // ---------------------------------------------------------------

  /** Loopback server speaking the ollama + openai response dialects. */
  private final class LoopbackServer {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val requests = new scala.collection.mutable.ArrayBuffer[
      (String, String, String)] // (path, auth header, body)
    private def countInputs(body: String): Int =
      body.split("\"input\":\\[")(1).takeWhile(_ != ']').count(_ == '"') / 2
    private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    private def record(ex: HttpExchange): String = {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      requests.synchronized {
        requests += ((ex.getRequestURI.getPath,
          Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""),
          body))
      }
      body
    }
    private val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/embed", (ex: HttpExchange) => {
      val n = countInputs(record(ex))
      reply(ex, 200, s"""{"embeddings":[${
        Seq.fill(n)("[0.6,0.8,0.0]").mkString(",")}]}""")
    })
    server.createContext("/v1/embeddings", (ex: HttpExchange) => {
      val n = countInputs(record(ex))
      reply(ex, 200, s"""{"data":[${(0 until n).map(i =>
        s"""{"index":$i,"embedding":[0.6,0.8,0.0]}""").mkString(",")}]}""")
    })
    server.createContext("/fail", (ex: HttpExchange) => {
      record(ex)
      reply(ex, 503, """{"error":{"message":"overloaded"}}""")
    })
    server.start()
    def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  test("ollama over real HTTP: JdkHttpTransport + loopback server, end to end") {
    val srv = new LoopbackServer
    try {
      val cfg = OllamaConfig(model = "nomic-embed-text", truncate = true,
        keepAlive = "5m", baseUrl = Some(srv.base))
      val p = new HttpEmbeddingProvider(cfg, JdkHttpTransport)
      val out = p.embed(Seq("first", "second"))
      assert(out.length == 2 && out.head.toSeq == Seq(0.6f, 0.8f, 0.0f))
      val (path, _, body) = srv.requests.head
      assert(path == "/api/embed")
      assert(body.contains(""""model":"nomic-embed-text""""))
      assert(body.contains(""""input":["first","second"]"""))
      // and the magnitude gate accepts the unit vectors it returned
      Embeddings.checkMagnitude(out)
    } finally srv.stop()
  }

  test("openai wire shape over real HTTP: POST body, auth header, parse") {
    val srv = new LoopbackServer
    try {
      val cfg = OpenAiConfig(model = "text-embedding-3-small",
        apiKey = Some("sk-test"), dimensions = Some(3))
      // the reference pins the public endpoint URL; aim the same POST at
      // the loopback path to exercise the wire without egress
      val (status, body) = JdkHttpTransport.post(
        s"${srv.base}/v1/embeddings", cfg.headers(),
        cfg.payload(Seq("hello")))
      assert(status == 200)
      val vecs = cfg.parse(body, 1)
      assert(vecs.head.toSeq == Seq(0.6f, 0.8f, 0.0f))
      val (path, auth, seen) = srv.requests.head
      assert(path == "/v1/embeddings")
      assert(auth == "Bearer sk-test")
      assert(seen.contains(""""encoding_format":"float""""))
      assert(seen.contains(""""dimensions":3"""))
    } finally srv.stop()
  }

  test("non-200 over real HTTP raises with status and body") {
    val srv = new LoopbackServer
    try {
      // transport surfaces the raw status/body...
      val (status, body) = JdkHttpTransport.post(
        s"${srv.base}/fail", Map.empty, """{"x":1}""")
      assert(status == 503 && body.contains("overloaded"))
      // ...and the provider turns any non-200 into the error contract
      // (here a 404: the loopback server has no /missing/api/embed route)
      val p = new HttpEmbeddingProvider(
        OllamaConfig(model = "m", baseUrl = Some(s"${srv.base}/missing")),
        JdkHttpTransport)
      val e = intercept[RuntimeException] { p.embed(Seq("x")) }
      assert(e.getMessage.contains("status=404"))
    } finally srv.stop()
  }

  test("cached provider over real HTTP: identical batch hits the wire once") {
    val srv = new LoopbackServer
    try {
      Embeddings.ProviderCache.clear()
      val p = Embeddings.cached(new HttpEmbeddingProvider(
        OllamaConfig(model = "m", baseUrl = Some(srv.base)), JdkHttpTransport))
      p.embed(Seq("same text"))
      p.embed(Seq("same text"))
      assert(srv.requests.size == 1, "second call must be served from cache")
    } finally srv.stop()
  }

  test("LRU cache: batch-keyed hits, eviction at maxSize (util.py:51-93)") {
    Embeddings.ProviderCache.clear()
    var calls = 0
    val counting = new EmbeddingProvider {
      def name = "counting"; def dim = 3
      def embed(texts: Seq[String]): Seq[Array[Float]] = {
        calls += 1; texts.map(_ => Array(1.0f, 0f, 0f))
      }
    }
    val p = Embeddings.cached(counting, maxSize = 2)
    p.embed(Seq("a")); p.embed(Seq("a"))
    assert(calls == 1) // second identical batch is a cache hit
    p.embed(Seq("b"))
    assert(calls == 2)
    p.embed(Seq("a")) // still cached ("a" was touched most recently? no — LRU order a,b; "a" was re-read so order is a fresh)
    assert(calls == 2)
    p.embed(Seq("c")) // evicts the least-recently-used ("b")
    p.embed(Seq("b"))
    assert(calls == 4)
    // distinct batches are distinct keys, like the reference's tuple key
    p.embed(Seq("a", "b"))
    assert(calls == 5)
  }

  test("single-flight: concurrent same-key calls compute once") {
    Embeddings.ProviderCache.clear()
    val started = new java.util.concurrent.CountDownLatch(1)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val slow = new EmbeddingProvider {
      def name = "slow"; def dim = 3
      def embed(texts: Seq[String]): Seq[Array[Float]] = {
        calls.incrementAndGet()
        started.countDown()
        Thread.sleep(200)
        texts.map(_ => Array(1.0f, 0f, 0f))
      }
    }
    val p = Embeddings.cached(slow, maxSize = 10)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = p.embed(Seq("same")).length
        })
      }
      assert(futures.map(_.get()).forall(_ == 1))
      assert(calls.get() == 1) // 3 callers waited on the 1 computation
    } finally pool.shutdown()
  }

  test("distributed bulk add drives real HTTP from the executors") {
    import org.apache.spark.sql.functions._
    val srv = new LoopbackServer
    try {
      val path = freshPath()
      val cfg = OllamaConfig(model = "m", baseUrl = Some(srv.base))
      val p = Embeddings.withMagnitudeCheck(
        new HttpEmbeddingProvider(cfg, JdkHttpTransport))
      val kb = KbStore.create(spark, path, cfg.params)
      import spark.implicits._
      val docs = spark.range(0, 500)
        .select(concat(lit("doc "), col("id")).as("text"))
      // the provider (and its JdkHttpTransport singleton) serializes to
      // the executor threads; each partition batches its texts into one
      // POST (batch size 200 > rows per partition here)
      assert(kb.bulkAddDocsDistributed(docs, p) == 500L)
      assert(kb.embeddings.count() == 500L)
      val batches = srv.requests.map(_._3)
      assert(batches.nonEmpty && batches.size <= 32,
        s"expected <=1 request per partition, saw ${batches.size}")
      kb.close()
    } finally srv.stop()
  }

  test("rehydrate-and-warn on reopen (kb.py:896-922)") {
    val path = freshPath()
    val t = new FakeTransport("ollama")
    val cfg = OllamaConfig(model = "nomic-embed-text")
    // create with a non-mock provider config: params persist to meta
    val kb = Kb(spark, path, new HttpEmbeddingProvider(cfg, t))
    kb.bulkAddDocs(_.add("first doc"))
    assert(kb.store.meta.embedding_params == cfg.params)
    kb.close()

    // reopen with NO provider: rehydrated from the stored params
    val kb2 = Kb.open(spark, path, t)
    assert(kb2.provider.params == cfg.params)
    kb2.bulkAddDocs(_.add("second doc"))
    assert(kb2.length == 2)
    kb2.close()

    // reopen with a DIFFERENT provider: warns (kb.py:905-907) and uses it
    val kb3 = Kb(spark, path, Embeddings.MockProvider())
    assert(kb3.provider.params == Map("provider" -> "mock"))
    kb3.close()

    // a store created without params refuses a provider-less open
    val bare = KbStore.create(spark, freshPath(), Map())
    bare.close()
    intercept[RuntimeException] { Kb.open(spark, bare.path, t) }
  }
}
