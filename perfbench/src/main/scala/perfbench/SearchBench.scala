package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger

import graft.api._
import graft.functions.GraftFunctions
import graft.operators.{StoreConfig, VectorSearch}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** A store's vectors and metadata in row order, row r holding id r. */
final class StoreData(
    val n: Int, val vecs: Array[Float],
    val lang: Int => String, val source: Int => String, val text: Int => String) {
  val dim: Int = vecs.length / n
  /** The store's `lang` values, sorted. */
  lazy val langs: IndexedSeq[String] = (0 until n).map(lang).distinct.sorted
  def row(id: String): Option[Int] =
    id.toIntOption.filter(r => r >= 0 && r < n && r.toString == id)
}

/** One `/search` request of the mix, with what the benchmark needs to
  * check its reply. `vec` is the embedding the engine searches with. */
final case class Req(
    index: Int, cls: String, body: String, sreq: SearchRequest,
    vec: Array[Float], k: Int, lang: Option[String])

final case class Sample(req: Req, startNs: Long, endNs: Long, status: Int, body: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records an `api.embed` span around each call while a traced request is
  * in flight; passes straight through otherwise. */
final class TimingEmbedder(inner: Embedder, tracer: Tracer) extends Embedder {
  @volatile var request: Int = -1
  @volatile var parent: Int = -1
  override def embed(query: String): Either[String, Array[Float]] =
    if (request < 0) inner.embed(query)
    else tracer.span("api.embed", request, parent)(_ => inner.embed(query))
}

/**
 * `search_small` and `search_large`: `POST /search` to an in-process
 * `SearchHttpServer` from a closed loop of [[Common.Clients]] clients.
 *
 * Mix: cosine 50% (embedding, default k = 4), text 20% (query text through
 * `DeterministicEmbedder(64)`), filtered 20% (embedding + `lang` filter,
 * k = 8), k100 10% (embedding, k = 100). No request enables the index:
 * `SearchService` never consults one.
 */
object SearchBench {
  val Cfg: StoreConfig = StoreConfig(idCol = "vec_id", titleCol = "source",
    vendorCol = "lang", descriptionCol = "text")
  val JoinKey: (String, String) = ("vec_id", "doc_id")
  val RequestListSize = 4096
  val SetupCycles = 3
  /** The timed window is extended until it holds this many requests, so
    * that p75 has at least ten samples beyond it. */
  val MinSamples = 44
  val RampNs = 3000000000L
  /** Rows of the generated store. Scan and scoring dominate a request. */
  val LargeRows = 80000
  /** The generated store is the same for every run seed, so a checkout
    * writes it once; the run seed draws the requests. */
  val LargeStoreSeed = 42L

  private final class Server(val spark: SparkSession, val emb: DataFrame, val docs: DataFrame,
      val service: SearchService, val http: SearchHttpServer, val port: Int) {
    def stop(): Unit = { http.stop(); spark.stop() }
  }

  def run(a: Args, large: Boolean, report: Report): Unit = {
    val t0 = System.nanoTime()
    val spark0 = Common.startSession()
    val dir =
      if (large) a.workDir.resolve("stores").resolve(s"large-seed$LargeStoreSeed-rows$LargeRows").toString
      else a.dataDir
    // vars so that the benchmark's own data can be dropped before the heap is measured
    var store =
      if (large) generateLarge(spark0, LargeStoreSeed, LargeRows, Paths.get(dir))
      else loadSmall(spark0, dir)
    spark0.stop()
    var reqs = requests(a.seed, store, RequestListSize)
    // warm-up: one request of each class per set-up cycle
    val warm = requests(a.seed ^ 0x7E57L, store, 64).groupBy(_.cls).toSeq.sortBy(_._1)
      .map(_._2.head).toIndexedSeq
    report.note("gen_s", Common.secondsSince(t0), "s")
    report.note("store_rows", store.n, "count")

    val tracer = new Tracer
    val embedder: Embedder =
      if (a.trace) new TimingEmbedder(new DeterministicEmbedder(64), tracer)
      else new DeterministicEmbedder(64)

    // Set-up, repeated: session, service and server construction and start,
    // health probe and warm-up requests. The last cycle's server is kept.
    var server: Server = null
    val cycles = (1 to SetupCycles).map { c =>
      if (server != null) server.stop()
      val s0 = System.nanoTime()
      server = start(dir, embedder)
      closedLoop(server.port, warm, Common.Clients, Long.MaxValue, warm.size)
        .find(_.status != 200).foreach(s => throw new IllegalStateException(
          s"warm-up request ${s.req.cls} returned ${s.status}: ${s.body.take(200)}"))
      Common.secondsSince(s0)
    }
    val setupS = Stats.median(cycles)

    try {
      if (!a.trace) {
        untraced(a, store, reqs, server, report)
        report.metric("setup_s", setupS, "s")
        store = null
        reqs = null
        report.metric("heap_retained_mb", Common.heapRetainedMb(), "MB")
      } else traced(a, store, reqs, server, embedder.asInstanceOf[TimingEmbedder], tracer, report)
    } finally server.stop()
  }

  // ------------------------------------------------------------- stores

  private def loadSmall(spark: SparkSession, dir: String): StoreData = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
    require(emb.indices.forall(i => emb(i).getLong(0) == i), "vec_id must be 0..n-1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => r.getLong(0).toInt -> r).toMap
    require(emb.indices.forall(docs.contains), "every vector needs its document")
    val vecs = emb.flatMap(_.getSeq[Float](1))
    require(vecs.length == emb.length * StoreGen.Dim, "embeddings must be 64-d")
    new StoreData(emb.length, vecs,
      r => docs(r).getString(2), r => docs(r).getString(3), r => docs(r).getString(1))
  }

  /** Writes the seeded store as Parquet (once per seed and size) and
    * recomputes its vectors in memory for the exact answers. */
  private def generateLarge(spark: SparkSession, seed: Long, n: Int, dir: Path): StoreData = {
    val ready = dir.resolve("_READY")
    if (!Files.exists(ready)) {
      val parent = dir.getParent
      if (Files.isDirectory(parent))
        Files.list(parent).iterator().asScala.foreach(deleteTree) // one store on disk at a time
      val parts = Common.cores * 2
      val cs = StoreGen.centres(seed)
      val embRows = spark.sparkContext.range(0L, n.toLong, 1L, parts).map { id =>
        val v = new Array[Float](StoreGen.Dim)
        StoreGen.vectorInto(seed, cs, id, v, 0)
        Row(id, v, StoreGen.cluster(seed, id))
      }
      spark.createDataFrame(embRows, StructType(Seq(
        StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
        .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
      val docRows = spark.sparkContext.range(0L, n.toLong, 1L, parts).map { id =>
        val t = StoreGen.text(seed, id)
        Row(id, t, StoreGen.lang(seed, id), StoreGen.source(seed, id), t.length.toLong)
      }
      spark.createDataFrame(docRows, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      Files.createFile(ready)
    }
    val cs = StoreGen.centres(seed)
    val vecs = new Array[Float](n * StoreGen.Dim)
    parallel(0 until n by 65536) { from =>
      var id = from
      while (id < math.min(n, from + 65536)) {
        StoreGen.vectorInto(seed, cs, id, vecs, id * StoreGen.Dim)
        id += 1
      }
    }
    new StoreData(n, vecs,
      r => StoreGen.lang(seed, r), r => StoreGen.source(seed, r), r => StoreGen.text(seed, r))
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.foreach(deleteTree)
    Files.deleteIfExists(p)
  }

  private def parallel[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(Common.cores)
    try {
      val fs = items.map(i => pool.submit(new Runnable { def run(): Unit = f(i) }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  // ----------------------------------------------------------- requests

  /** Classes of one block of ten requests: the mix's exact shares. */
  private val Block = Seq.fill(5)("cosine") ++ Seq.fill(2)("text") ++ Seq.fill(2)("filtered") :+ "k100"

  /** The seeded request list: every block of ten holds the mix's shares in
    * a seeded order; each request's inputs are a function of (seed, i) and
    * the store. */
  def requests(seed: Long, store: StoreData, count: Int): IndexedSeq[Req] = {
    val embedder = new DeterministicEmbedder(64)
    def noisyRow(i: Int): Array[Float] = {
      val r = java.lang.Math.floorMod(StoreGen.hash(seed, 20, i), store.n.toLong).toInt
      Array.tabulate(StoreGen.Dim)(j =>
        (store.vecs(r * StoreGen.Dim + j) + 0.1 * StoreGen.gauss(seed, 21, i, j)).toFloat)
    }
    def embBody(v: Array[Float], extra: String) =
      s"""{"embedding": [${v.map(_.toString).mkString(", ")}]$extra}"""
    val classes = (0 until count by 10).flatMap { b =>
      val block = Block.toArray
      (block.length - 1 to 1 by -1).foreach { j => // seeded Fisher–Yates
        val o = java.lang.Math.floorMod(StoreGen.hash(seed, 22, b, j), (j + 1).toLong).toInt
        val t = block(j); block(j) = block(o); block(o) = t
      }
      block
    }
    val filteredBefore = classes.scanLeft(0)((c, cls) => if (cls == "filtered") c + 1 else c)
    (0 until count).map { i =>
      val cls = classes(i)
      if (cls == "cosine") {
        val v = noisyRow(i)
        Req(i, "cosine", embBody(v, ""), SearchRequest(embedding = Some(v.toSeq)), v, Cfg.defaultK, None)
      } else if (cls == "text") {
        val r = java.lang.Math.floorMod(StoreGen.hash(seed, 23, i), store.n.toLong).toInt
        val words = store.text(r).split(' ')
        val len = 4 + java.lang.Math.floorMod(StoreGen.hash(seed, 24, i), 9L).toInt
        val from = java.lang.Math.floorMod(StoreGen.hash(seed, 25, i),
          math.max(1, words.length - len + 1).toLong).toInt
        val q = words.slice(from, from + len).mkString(" ")
        val v = embedder.embed(q).fold(e => throw new IllegalStateException(e), identity)
        Req(i, "text", s"""{"query": ${Common.jsonString(q)}}""", SearchRequest(query = Some(q)),
          v, Cfg.defaultK, None)
      } else if (cls == "filtered") {
        // the filtered requests cycle through the store's languages
        val v = noisyRow(i)
        val lang = store.langs((filteredBefore(i) + (seed & 0xFF).toInt) % store.langs.size)
        Req(i, "filtered", embBody(v, s""", "k": 8, "filter": {"lang": ${Common.jsonString(lang)}}"""),
          SearchRequest(embedding = Some(v.toSeq), k = Some(8), filter = Map("lang" -> lang)),
          v, 8, Some(lang))
      } else {
        val v = noisyRow(i)
        Req(i, "k100", embBody(v, """, "k": 100"""),
          SearchRequest(embedding = Some(v.toSeq), k = Some(100)), v, 100, None)
      }
    }
  }

  // -------------------------------------------------------- server, load

  private def start(dir: String, embedder: Embedder): Server = {
    val spark = Common.startSession()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val service = new SearchService(spark, emb, docs, JoinKey, Cfg, Some(embedder))
    val http = new SearchHttpServer(service, Cfg)
    val port = http.start()
    val health = get(httpClient(), port, "/health")
    if (health != 200) throw new IllegalStateException(s"GET /health returned $health")
    new Server(spark, emb, docs, service, http, port)
  }

  private def httpClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def post(client: HttpClient, port: Int, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def get(client: HttpClient, port: Int, path: String): Int =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()

  /** Closed loop: each client sends its next request when its previous
    * reply arrives, until `deadlineNs` (but at least `minCount` requests)
    * or until `limit` requests were sent. Started requests are all kept. */
  private def closedLoop(port: Int, reqs: IndexedSeq[Req], clients: Int,
      deadlineNs: Long, limit: Int = Int.MaxValue, minCount: Int = 0): Vector[Sample] = {
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[Sample]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val client = httpClient()
        var i = next.getAndIncrement()
        while (i < limit && (i < minCount || System.nanoTime() < deadlineNs)) {
          val r = reqs(i % reqs.size)
          val t0 = System.nanoTime()
          val (st, body) =
            try post(client, port, r.body)
            catch { case e: Exception => (-1, e.toString) }
          out.add(Sample(r, t0, System.nanoTime(), st, body))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toVector.sortBy(_.startNs)
  }

  // ----------------------------------------------------------- checking

  private def isCandidate(store: StoreData, req: Req, r: Int): Boolean =
    req.lang.forall(_ == store.lang(r))

  /** Exact answers for the given requests, computed on all cores. */
  private def expected(store: StoreData, reqs: Seq[Req]): Map[Int, Vector[Hit]] = {
    val out = new ConcurrentHashMap[Int, Vector[Hit]]()
    parallel(reqs.distinctBy(_.index)) { r =>
      out.put(r.index, ExactTopK.topK(store.vecs, store.dim, store.n, _.toString,
        r.vec, r.k, row => isCandidate(store, r, row)))
    }
    out.asScala.toMap
  }

  /** None when the reply is the exact top-k with the store's metadata. */
  def checkReply(store: StoreData, req: Req, status: Int, body: String,
      want: Vector[Hit]): Option[String] = {
    if (status != 200) return Some(s"status $status: ${body.take(200)}")
    val o = try Common.Json.readTree(body)
    catch { case e: Exception => return Some(s"unparseable reply: ${e.getMessage}") }
    val results = Option(o.get("results")).filter(_.isArray)
      .getOrElse(return Some("reply has no results array")).asScala.toVector
    if (!Option(o.get("count")).exists(c => c.isNumber && c.asDouble == results.size))
      return Some("count != number of results")
    val hits = results.map { h =>
      def text(field: String): Option[String] = Option(h.get(field)).filter(_.isTextual).map(_.asText)
      val id = text("id").getOrElse(return Some("hit without id"))
      val row = store.row(id).getOrElse(return Some(s"unknown id $id"))
      if (text("title") != Some(store.source(row)) || text("vendor") != Some(store.lang(row)) ||
          text("description") != Some(store.text(row)))
        return Some(s"metadata of id $id differs from the store")
      Hit(id, Option(h.get("score")).filter(_.isNumber).map(_.asDouble))
    }
    ExactTopK.verify(hits, want, id => store.row(id).filter(isCandidate(store, req, _)).map { r =>
      val s = ExactTopK.cosine(store.vecs, r * store.dim, req.vec)
      if (s.isNaN) None else Some(s)
    })
  }

  /** Checks every sample; returns the successful ones. */
  private def verifyAll(store: StoreData, samples: Seq[Sample], report: Report): Seq[Sample] = {
    val want = expected(store, samples.filter(_.status == 200).map(_.req))
    samples.filter { s =>
      report.attempted += 1
      checkReply(store, s.req, s.status, s.body, want.getOrElse(s.req.index, Vector.empty)) match {
        case None => true
        case Some(why) => report.fail(s"request ${s.req.index} (${s.req.cls}): $why"); false
      }
    }
  }

  // ------------------------------------------------------------ untraced

  private def untraced(a: Args, store: StoreData, reqs: IndexedSeq[Req], server: Server,
      report: Report): Unit = {
    // Ramp: full load until caches fill and compiled code settles; its
    // replies are checked but not timed.
    val ramp = closedLoop(server.port, reqs, Common.Clients, System.nanoTime() + RampNs)
    val samples = closedLoop(server.port, reqs.drop(ramp.size), Common.Clients,
      System.nanoTime() + a.seconds * 1000000000L, minCount = MinSamples)
    verifyAll(store, ramp, report)
    val ok = verifyAll(store, samples, report)
    val window = (samples.map(_.endNs).max - samples.head.startNs) / 1e9
    val lat = ok.map(_.ms)
    report.metric("p50_ms", Stats.median(lat), "ms")
    report.metric("p75_ms", {
      val beyond = Stats.samplesBeyond(lat.size, 75)
      require(beyond >= 10, s"p75 needs 10 samples beyond it; ${lat.size} samples leave $beyond")
      Stats.percentile(lat, 75)
    }, "ms")
    report.metric("throughput_per_s", ok.size / window, "1/s")
    report.note("search_p50_ms", Stats.median(lat), "ms")
    Stats.highestReliablePercentile(lat.size).foreach(p =>
      report.note(s"search_p${p.toString.stripSuffix(".0")}_ms", Stats.percentile(lat, p), "ms"))
    if (Stats.samplesBeyond(lat.size, 90) < 10) report.unavailable("search_p90_ms") =
      s"${lat.size} samples leave ${Stats.samplesBeyond(lat.size, 90)} beyond p90, 10 needed"
    report.note("search_qps", ok.size / window, "1/s")
    report.note("samples", lat.size, "count")
    report.note("error_ratio", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    ok.groupBy(_.req.cls).toSeq.sortBy(_._1).foreach { case (cls, ss) =>
      report.note(s"mix.$cls.p50_ms", Stats.median(ss.map(_.ms)), "ms")
      report.note(s"mix.$cls.count", ss.size, "count")
    }
  }

  // -------------------------------------------------------------- traced

  /**
   * Per-layer numbers, each timed by calling the layer's public entry from
   * here, on a one-client replay of the request list:
   *  - `request`: the HTTP round trip (an `api.embed` child for text);
   *  - `service.search`: the same request straight into `SearchService`;
   *  - `decomposed`: the service's steps one by one — embed,
   *    `VectorSearch.searchWithMetadata`, `executedPlan`, `collect()`.
   * Per request, round trip = HTTP overhead (round trip − service) +
   * embed + build + plan + exec + the unattributed rest.
   */
  private def traced(a: Args, store: StoreData, reqs: IndexedSeq[Req], server: Server,
      embedder: TimingEmbedder, tracer: Tracer, report: Report): Unit = {
    val spark = server.spark
    val client = httpClient()
    val layers = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    def layer(name: String, v: Double, unit: String): Unit = layers += ((name, v, unit))

    // One-client replay. Each request is sent once untraced (no listener,
    // no spans: the base of the tracing overhead) and then traced.
    val budgetNs = a.seconds * 1000000000L / 3
    val probe = new Probe
    val untracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perReq = scala.collection.mutable.ArrayBuffer.empty[Counters]
    val replies = scala.collection.mutable.ArrayBuffer.empty[(Req, Int, String)]
    val r0 = System.nanoTime()
    while (untracedMs.size < 10 || (System.nanoTime() - r0 < budgetNs && untracedMs.size < 400)) {
      val i = untracedMs.size
      val r = reqs(i)
      untracedMs += Common.timeMs(post(client, server.port, r.body))._2
      spark.sparkContext.addSparkListener(probe)
      val before = probe.snapshot(spark)
      val (st, body) = tracer.span("request", i) { id =>
        embedder.parent = id
        embedder.request = i
        try post(client, server.port, r.body) finally embedder.request = -1
      }
      perReq += probe.snapshot(spark) - before
      replies += ((r, st, body))
      tracer.span("service.search", i) { id =>
        embedder.parent = id
        embedder.request = i
        try server.service.search(r.sreq) finally embedder.request = -1
      }
      tracer.span("decomposed", i) { root =>
        val vec = r.sreq.query.fold(r.vec)(q => tracer.span("api.embed", i, root)(_ =>
          new DeterministicEmbedder(64).embed(q).fold(e => throw new IllegalStateException(e), identity)))
        val df = tracer.span("operators.build", i, root)(_ => VectorSearch.searchWithMetadata(
          server.emb, server.docs, JoinKey, Cfg, vec, r.k, r.sreq.filter))
        tracer.span("catalyst.plan", i, root)(_ => df.queryExecution.executedPlan)
        tracer.span("spark.exec", i, root)(_ => df.collect())
      }
      spark.sparkContext.removeSparkListener(probe)
    }
    val m = untracedMs.size
    reqs.take(m).zip(untracedMs).groupBy(_._1.cls).toSeq.sortBy(_._1).foreach { case (cls, xs) =>
      layer(s"mix.$cls.p50_ms", Stats.median(xs.map(_._2).toSeq), "ms")
    }
    val want = expected(store, replies.map(_._1).toSeq)
    val reported = replies.flatMap { case (r, st, body) =>
      report.attempted += 1
      checkReply(store, r, st, body, want(r.index)).foreach(why => report.fail(s"traced ${r.index}: $why"))
      scala.util.Try(Common.Json.readTree(body).get("search_time_ms")).toOption
        .filter(n => n != null && n.isNumber).map(_.asDouble)
    }

    // Loaded scheduler wait: a traced repeat of the closed loop.
    spark.sparkContext.addSparkListener(probe)
    val before = probe.snapshot(spark)
    val loaded = closedLoop(server.port, reqs.drop(m), Common.Clients, System.nanoTime() + budgetNs)
    val loadedC = probe.snapshot(spark) - before
    spark.sparkContext.removeSparkListener(probe)
    verifyAll(store, loaded, report)

    // Per-request layer times from the spans.
    val spans = tracer.spans
    def dur(name: String, root: String): Map[Int, Double] = {
      val roots = spans.filter(_.name == root).map(s => s.id -> s.requestId).toMap
      spans.filter(s => s.name == name && roots.contains(s.parent))
        .groupBy(_.requestId).map { case (k, ss) => k -> ss.map(_.durationNs / 1e6).sum }
    }
    val rtt = spans.filter(_.name == "request").map(s => s.requestId -> s.durationNs / 1e6).toMap
    val svc = spans.filter(_.name == "service.search").map(s => s.requestId -> s.durationNs / 1e6).toMap
    val embed = dur("api.embed", "decomposed")
    val build = dur("operators.build", "decomposed")
    val plan = dur("catalyst.plan", "decomposed")
    val exec = dur("spark.exec", "decomposed")
    val ids = (0 until m)
    def mean(f: Int => Double): Double = ids.map(f).sum / m
    val httpOverhead = mean(i => rtt(i) - svc(i))
    val unattributed = mean(i => svc(i) - embed.getOrElse(i, 0.0) - build(i) - plan(i) - exec(i))
    val total = perReq.reduce(_ + _)
    def perOp(x: Long): Double = x.toDouble / m

    layer("request_ms", mean(rtt), "ms")
    layer("api.http.overhead_ms", httpOverhead, "ms")
    layer("api.embed_ms", mean(i => embed.getOrElse(i, 0.0)), "ms")
    layer("operators.build_ms", mean(build), "ms")
    layer("catalyst.plan_ms", mean(plan), "ms")
    layer("spark.exec_ms", mean(exec), "ms")
    layer("unattributed_ms", unattributed, "ms")
    val httpRoots = spans.filter(_.name == "request").map(_.id).toSet
    val textEmbeds = spans.filter(s => s.name == "api.embed" && httpRoots.contains(s.parent))
    if (textEmbeds.nonEmpty) layer("api.embed_text_p50_ms", Stats.median(textEmbeds.map(_.durationNs / 1e6)), "ms")
    layer("api.reported_search_ms", if (reported.isEmpty) Double.NaN else Stats.median(reported.toSeq), "ms")
    layer("api.http.config_rtt_ms", Stats.median((1 to 20).map(_ =>
      Common.timeMs(get(client, server.port, "/config"))._2)), "ms")
    layer("spark.jobs_per_op", perOp(total.jobs), "count")
    layer("spark.stages_per_op", perOp(total.stages), "count")
    layer("spark.tasks_per_op", perOp(total.tasks), "count")
    layer("spark.task_time_ms_per_op", perOp(total.taskTimeMs), "ms")
    layer("spark.task_wait_ms_per_op", perOp(total.taskWaitMs), "ms")
    layer("spark.task_wait_ms_per_op_loaded", loadedC.taskWaitMs.toDouble / math.max(1, loaded.size), "ms")
    layer("spark.coordination_ms_per_op", mean(exec) - perOp(total.taskTimeMs) / Common.cores, "ms")
    layer("scan.rows_read_per_op", perOp(total.inputRows), "count")
    layer("scan.bytes_read_per_op", perOp(total.inputBytes), "bytes")
    layer("scan.rows_per_hit", total.inputRows.toDouble / math.max(1, reqs.take(m).map(_.k).sum), "ratio")
    layer("exchange.shuffle_write_bytes_per_op", perOp(total.shuffleWriteBytes), "bytes")
    layer("exchange.shuffle_read_bytes_per_op", perOp(total.shuffleReadBytes), "bytes")
    layer("spark.spill_bytes_per_op", perOp(total.spillBytes), "bytes")
    layer("trace.overhead_ratio", Stats.median(rtt.values.toSeq) / Stats.median(untracedMs.toSeq), "ratio")
    kernelLayers(spark, server.emb, store, reqs.head.vec, layer)
    layers += (("traced_requests", m.toDouble, "count"))
    Common.writeTrace(a, tracer, layers.toSeq)
    layers.foreach { case (n, v, u) => report.note(n, v, u) }
  }

  /** Layers measured once per run: Parquet decode of the embedding column,
    * the scoring kernel per row, and top-k. */
  def kernelLayers(spark: SparkSession, emb: DataFrame, store: StoreData, q: Array[Float],
      layer: (String, Double, String) => Unit): Unit = {
    def median3(f: => Unit): Double = Stats.median((1 to 3).map(_ => Common.timeMs(f)._2))
    layer("scan.decode_ms", median3(
      emb.select("embedding").write.format("noop").mode("overwrite").save()), "ms")

    val rows = math.min(store.n, 200000)
    val arrays = Array.tabulate(rows)(r => UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOfRange(store.vecs, r * StoreGen.Dim, (r + 1) * StoreGen.Dim)))
    val qa = UnsafeArrayData.fromPrimitiveArray(q)
    var sink = 0.0
    def nsPerRow(f: Int => Double): Double = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var r = 0
      while (r < rows) { sink += f(r); r += 1 }
      (System.nanoTime() - t0).toDouble / rows
    })
    layer("functions.cosine_ns_per_row", nsPerRow(r =>
      graft.functions.VectorKernels.cosineSimilarity(arrays(r), qa).doubleValue()), "ns")
    layer("functions.plain_loop_ns_per_row", nsPerRow(r =>
      ExactTopK.cosine(store.vecs, r * StoreGen.Dim, q)), "ns")
    if (sink == 42.0) println() // keeps the loops from being optimised away

    GraftFunctions.register(spark)
    val scored = emb.select(col("vec_id").cast("string").as("id"),
      call_function("knn_cosine_similarity", col("embedding"), typedLit(q.toSeq)).as("score"))
    val withTopK = median3(scored.orderBy(col("score").desc_nulls_last, col("id")).limit(100).collect())
    val scoreOnly = median3(scored.write.format("noop").mode("overwrite").save())
    layer("topk.ms", withTopK - scoreOnly, "ms")
  }
}
