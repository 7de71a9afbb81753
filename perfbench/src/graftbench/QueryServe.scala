package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{QueryEngine, QueryService}
import graft.core.{Lsh, MinHashPipeline}
import graft.sources.SyntheticCorpus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `query-serve`: the paper's `/query` path. A warmed index over more
  * docs than `Lsh.DriverReplicaMaxDocs` is served over HTTP, so probes go
  * through the probe cache: hot repeats answer in-process and cold ones
  * pay a bucket-fetch Spark job. Closed loop, [[Clients]] clients, each
  * request a top-k probe for a signature drawn Zipf from a seeded pool
  * of corpus signatures. Operation = one `/query` request. */
object QueryServe {
  val Docs = 140000L
  val Vocab = 20
  val PoolSize = 20000
  /** Skew of the pool draws. At 1.3 cold probes (a Spark job each) stay
    * near 0.5% of requests, so p99 reads the in-process tail every run;
    * flatter skews put p99 on the edge between the two modes. */
  val ZipfS = 1.3
  val Clients = 4
  val K = 5
  val MaxCandidates = 2000
  /** Untimed load before the window: the same request streams, until the
    * probe cache and the JIT-compiled request path reach their steady state
    * (throughput roughly doubles over the first ten seconds of load). */
  val WarmupS = 8.0
  /** Requests replayed by one client after the loop for the HTTP overhead split. */
  val Replay = 200
  val TailLevel = 0.99
  val CallLevel: Seq[(String, String)] = Seq(
    "service.query.overhead_ms" -> "ms",
    "api.engine.query.jobs_per_req" -> "jobs/req")

  def body(sig: Array[Long]): String =
    s"""{"vector":[${sig.mkString(",")}],"k":$K,"max_candidates":$MaxCandidates}"""
}

final class QueryServe(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
                       tally: Stats.Tally) extends Workload {
  import QueryServe._

  final class State(val engine: QueryEngine, val pool: Array[Array[Long]]) {
    private val zipf = new Requests.Zipf(pool.length, ZipfS)
    private val rankToSlot = Requests.permutation(pool.length, seed)
    /** Pool slot of the next request: a Zipf rank mapped through a seeded permutation. */
    def draw(rng: java.util.SplittableRandom): Int = rankToSlot(zipf.sample(rng))
    var server: com.sun.net.httpserver.HttpServer = _
    /** Set once the untimed warm-up has run; later passes start warm. */
    var warmed = false
    /** First response body seen per pool slot; later ones must match it. */
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  }

  private val mapper = new ObjectMapper()
  private val clients = math.min(Clients, cores)

  def setup(round: Int): State = {
    val docs = SyntheticCorpus.docs(spark, Docs, vocabSize = Vocab, seed = seed.toInt)
    val engine = QueryEngine.build(docs, mp = MinHashPipeline.Params(kShingle = 1)).warmUp()
    require(Lsh.driverIndexFor(engine.index).isEmpty,
      "index fits the driver replica; query-serve must exercise the probe cache")
    // a seeded sample of about PoolSize corpus signatures, in doc-id order
    val pool = engine.sigs
      .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(Docs / PoolSize)) === 0)
      .orderBy("doc_id").limit(PoolSize)
      .collect().map(_.getSeq[Long](1).toArray)
    require(pool.length > PoolSize / 2, s"signature pool too small: ${pool.length}")
    val s = new State(engine, pool)
    s.server = QueryService.serve(engine, 0)
    s
  }

  def release(s: State): Unit = {
    s.server.stop(0)
    s.engine.close()
  }

  private def request(s: State, slot: Int): Req =
    Req("query", "/query", body(s.pool(slot)), { b =>
      val prev = s.seen.putIfAbsent(slot, b)
      b.startsWith("{\"candidates\":[") && (prev == null || prev == b)
    }, slot)

  /** Closed loop until `deadlineNs`; client streams are seeded per client. */
  private def loop(s: State, deadlineNs: Long, streamSeed: Long): Array[Sample] = {
    val rngs = Array.tabulate(clients)(c => Requests.clientRng(streamSeed, c))
    LoadGen.closedLoop(s.server.getAddress.getPort, clients, tally, (c, _) =>
      if (System.nanoTime() >= deadlineNs) None
      else Some(request(s, s.draw(rngs(c)))))
  }

  def pass(s: State, spans: Spans, tracer: Option[Tracer]): Pass = {
    if (!s.warmed) {
      loop(s, System.nanoTime() + (WarmupS * 1e9).toLong, seed + 1)
      s.warmed = true
    }
    val t0 = System.nanoTime()
    val samples = loop(s, t0 + (seconds * 1e9).toLong, seed)
    val windowNs = System.nanoTime() - t0
    samples.foreach(x => spans.record("service", "service.query", x.startNs, x.endNs))
    val sum = Stats.summarize(samples.map(_.ms), TailLevel)
    val qps = Stats.rate(samples.length, windowNs)
    val callLevel = tracer.map { tr =>
      // HTTP vs in-process over one replayed sample, one client, after the loop
      val rng = Requests.clientRng(seed + 2, 0)
      val slots = Array.fill(Replay)(s.draw(rng))
      val http = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      val port = s.server.getAddress.getPort
      val httpMs = slots.map(j => LoadGen.send(http, port, request(s, j), tally).ms)
      val inProcMs = slots.map { j =>
        val t = System.nanoTime()
        s.engine.query(s.pool(j), K, MaxCandidates)
        (System.nanoTime() - t) / 1e6
      }
      tr.drain()
      val probes = samples.length + 2 * Replay
      Seq(("service.query.overhead_ms", Stats.median(httpMs) - Stats.median(inProcMs), "ms"),
        ("api.engine.query.jobs_per_req", tr.layer("core.lsh").jobs.toDouble / probes, "jobs/req"))
    }.getOrElse(Nil)
    Pass(windowNs / 1e9, sum.p50, sum.tail, qps, Seq(
      ("query_p50_ms", sum.p50, "ms"),
      (s"query_${sum.tailName}_ms", sum.tail, "ms"),
      ("query_qps", qps, "1/s"),
      ("query_requests", sum.n.toDouble, "count")), callLevel)
  }

  /** Every distinct response must equal an in-process `QueryEngine.query`
    * for the same vector, asked after the loop. */
  def check(s: State, passes: Seq[Pass]): Unit = {
    val slots = s.seen.keySet().toArray(Array.empty[Integer]).map(_.intValue())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      slots.map { j =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val want = s.engine.query(s.pool(j), K, MaxCandidates)
            val got = mapper.readTree(s.seen.get(j)).get("candidates")
            val same = got.size() == want.length && want.indices.forall { i =>
              val g = got.get(i)
              val prev = g.get("vector_preview")
              g.get("id").asLong() == want(i).id && g.get("score").asDouble() == want(i).score &&
                prev.size() == want(i).vectorPreview.length &&
                want(i).vectorPreview.indices.forall(p => prev.get(p).asLong() == want(i).vectorPreview(p))
            }
            tally.attempt(same, s"served answer for pool slot $j differs from QueryEngine.query")
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    Log(s"query-serve: ${slots.length} distinct responses checked")
  }
}
