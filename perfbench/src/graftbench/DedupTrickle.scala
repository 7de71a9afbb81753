package graftbench

import graft.api.{QueryEngine, QueryService}
import graft.operators.StandingCorpus
import graft.sources.SyntheticCorpus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `dedup-trickle`: the only write path. A standing corpus is served at
  * `/dedup`; one client posts `absorb:true` batches of fresh docs while
  * the others post classify-only probes (one exact, one near and one
  * fresh text each, disjoint from the absorb stream), so reads run beside
  * writes on the route's read/write lock and background compactions and
  * their swaps happen inside the window. Closed loop. Operation = one
  * classify request; throughput = absorbed docs per second over whole
  * compaction cycles. */
object DedupTrickle {
  val CorpusDocs = 10000L
  /** Absorbs per compaction cycle. The engine's default is 64 at corpus
    * sizes where one compaction costs minutes; with the corpus scaled
    * down to fit a run, the cycle is scaled down too, so compaction and
    * its swap keep a comparable share of ingest time. */
  val CompactEveryBatches = 16
  val StreamDocs = 8192
  val Threshold = 0.5
  val AbsorbBatch = 16
  val ProbeBodies = 12
  val ClassifyClients = 3
  /** Compaction swaps a window must contain, after an untimed warm-up
    * that runs the same load up to the first swap. */
  val MinSwaps = 3
  /** Classify latency is bimodal: waiting behind one absorb, or behind a
    * compaction swap (several seconds, ~5-10% of requests). A tail level
    * inside that boundary flips between the modes from run to run; p80
    * stays in the first. Swap stalls are measured by ingest throughput and
    * `operators.standing.swap_stall_ms` instead. */
  val TailLevel = 0.8
  /** Ids of classify probes and re-checks: far above any corpus or stream id. */
  val ProbeIdBase = 1L << 40
  val CallLevel: Seq[(String, String)] = Seq(
    "operators.standing.jobs_per_req" -> "jobs/req",
    "operators.standing.compactions" -> "count",
    "operators.standing.compaction_s" -> "s",
    "operators.standing.swap_stall_ms" -> "ms",
    "service.dedup.classify_blocked_frac" -> "frac",
    "service.dedup.classify_blocked_p50_ms" -> "ms",
    "service.dedup.classify_free_p50_ms" -> "ms")

  private val Status = """"id":(\d+),"status":"(exact|near|new)"""".r

  /** (id, status) pairs of a `/dedup` response, in response order. */
  def statuses(body: String): Seq[(Long, String)] =
    Status.findAllMatchIn(body).map(m => m.group(1).toLong -> m.group(2)).toSeq

  def body(docs: Seq[(Long, String)], absorb: Boolean): String =
    docs.map { case (id, t) => s"""{"id":$id,"text":"${LoadGen.esc(t)}"}""" }
      .mkString("""{"docs":[""", ",", s"""],"absorb":$absorb}""")
}

final class DedupTrickle(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
                         tally: Stats.Tally, standingRoot: String) extends Workload {
  import DedupTrickle._

  final class State(val standing: StandingCorpus, val engine: QueryEngine,
                    val stream: Array[(Long, String)], val probes: Array[String],
                    val dir: java.io.File) {
    var server: com.sun.net.httpserver.HttpServer = _
    val expected = new Array[String](ProbeBodies)
    /** Set once the untimed warm-up has run; later passes start warm. */
    var warmed = false
    var absorbs = 0
    var cursor = 0
    /** Every absorbed doc with the verdict its absorb returned. */
    val absorbed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  }

  private val classifyClients = math.max(1, math.min(ClassifyClients, cores - 1))

  def setup(round: Int): State = {
    val all = SyntheticCorpus.docsLlm(spark, CorpusDocs + StreamDocs, seed = seed.toInt)
    val corpus = all.filter(col("doc_id") < CorpusDocs).select("doc_id", "text").localCheckpoint(true)
    val stream = all.filter(col("doc_id") >= CorpusDocs).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val dir = new java.io.File(standingRoot, s"round-$round")
    val standing = StandingCorpus.build(corpus, null, dir.getPath, threshold = Threshold,
      kShingle = 1)
    standing.compactEveryBatches = CompactEveryBatches
    // exact: a standing text; near: the same text plus one token no doc
    // carries; fresh: an unrelated text from another seed without
    // duplicate families — none of the three can change verdict while
    // the absorb stream grows the corpus
    val exactIds = Requests.distinctSample(ProbeBodies, 0, CorpusDocs, seed)
    val exact = corpus.filter(col("doc_id").isin(exactIds.toIndexedSeq: _*)).orderBy("doc_id")
      .collect().map(_.getString(1))
    val fresh = SyntheticCorpus.docsLlm(spark, ProbeBodies, dupFrac = 0.0, seed = seed.toInt + 7919)
      .orderBy("doc_id").collect().map(_.getString(1))
    val probes = Array.tabulate(ProbeBodies) { i =>
      val id = ProbeIdBase + 3L * i
      body(Seq(id -> exact(i), (id + 1) -> s"${exact(i)} probe$i", (id + 2) -> fresh(i)),
        absorb = false)
    }
    corpus.unpersist()
    // /dedup is served beside /query, which needs an engine; a tiny one
    val engine = QueryEngine.build(SyntheticCorpus.docs(spark, 1000, seed = seed.toInt))
    val s = new State(standing, engine, stream, probes, dir)
    s.server = QueryService.serve(engine, None, Some(standing), 0)
    s
  }

  override def quiesce(s: State): Unit = s.standing.awaitCompaction()

  def release(s: State): Unit = {
    s.server.stop(0)
    s.standing.awaitCompaction()
    s.engine.close()
    deleteTree(s.dir)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def port(s: State) = s.server.getAddress.getPort

  /** Closed loop until the absorb client has seen `swaps` compaction swaps
    * and `minSeconds` have passed; it stops at the absorb that saw the
    * last swap, so the window covers whole compaction cycles. Returns the
    * samples and the swaps seen. */
  private def loop(s: State, swaps: Int, minSeconds: Double,
                   rngs: Array[java.util.SplittableRandom],
                   triggerEnd: scala.collection.mutable.ArrayBuffer[Long]): (Array[Sample], Long) = {
    val version = () => s.standing.currentVersion.toLong
    val v0 = version()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.nanoTime()
    val samples = LoadGen.closedLoop(port(s), classifyClients + 1, tally, (c, _) =>
      if (c == 0) {
        val enough = version() - v0 >= swaps && System.nanoTime() - t0 >= minSeconds * 1e9
        if (enough || s.cursor + AbsorbBatch > s.stream.length) { done.set(true); None }
        else {
          val batch = s.stream.slice(s.cursor, s.cursor + AbsorbBatch).toSeq
          s.cursor += AbsorbBatch
          Some(Req("absorb", "/dedup", body(batch, absorb = true), { b =>
            val st = statuses(b)
            val ok = st.map(_._1) == batch.map(_._1)
            if (ok) s.absorbed ++= batch.map(_._2).zip(st.map(_._2))
            s.absorbs += 1
            if (s.absorbs % s.standing.compactEveryBatches == 0) triggerEnd += System.nanoTime()
            ok
          }))
        }
      } else if (done.get()) None
      else {
        val i = rngs(c).nextInt(ProbeBodies)
        Some(Req("classify", "/dedup", s.probes(i), _ == s.expected(i), i))
      }, version)
    (samples, version() - v0)
  }

  def pass(s: State, spans: Spans, tracer: Option[Tracer]): Pass = {
    val http = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    if (s.expected.contains(null)) for (i <- 0 until ProbeBodies) {
      val r = LoadGen.send(http, port(s), Req("capture", "/dedup", s.probes(i), { b =>
        statuses(b).map(_._2) == Seq("exact", "near", "new")
      }, i), tally)
      s.expected(i) = r.body
    }
    val rngs = Array.tabulate(classifyClients + 1)(c => Requests.clientRng(seed, c))
    // compaction readiness, polled: the builder thread gives no other signal
    val readyAt = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val polling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() => {
      var was = false
      while (polling.get()) {
        val now = s.standing.compactionReady
        if (now && !was) readyAt.add(System.nanoTime())
        was = now
        Thread.sleep(2)
      }
    }, "bench-compaction-poll")
    poller.setDaemon(true)
    poller.start()
    val triggerEnd = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (samples, swaps) =
      try {
        // untimed warm-up: the same load up to the first swap
        if (!s.warmed) {
          loop(s, 1, 0.0, rngs, scala.collection.mutable.ArrayBuffer.empty[Long])
          s.warmed = true
        }
        loop(s, MinSwaps, seconds, rngs, triggerEnd)
      } finally { polling.set(false); poller.join() }
    val absorbS = samples.filter(_.kind == "absorb").sortBy(_.startNs)
    val classify = samples.filter(_.kind == "classify")
    tally.attempt(swaps >= MinSwaps, s"window saw $swaps compaction swaps, needs $MinSwaps")
    val windowNs = absorbS.last.endNs - absorbS.head.startNs
    val cls = Stats.summarize(classify.map(_.ms), TailLevel)
    val ingest = Stats.rate(absorbS.length.toLong * AbsorbBatch, windowNs)
    val absorbP50 = Stats.median(absorbS.map(_.ms))
    samples.foreach(x => spans.record("service", s"service.dedup.${x.kind}", x.startNs, x.endNs))

    val callLevel = tracer.map { tr =>
      tr.drain()
      // a classify is blocked when an absorb was in flight at any point
      // of it (absorbs are sequential, so their intervals are sorted)
      val starts = absorbS.map(_.startNs)
      def blocked(x: Sample): Boolean = {
        val i = java.util.Arrays.binarySearch(starts, x.endNs)
        val j = (if (i >= 0) i else -i - 1) - 1 // last absorb starting before x ends
        j >= 0 && absorbS(j).endNs > x.startNs
      }
      val (blk, free) = classify.partition(blocked)
      // per swap, the slowest request whose interval saw the version change
      // (the one that performed the swap, on the absorb or classify path)
      val stalls = samples.filter(x => x.obsAfter != x.obsBefore)
        .groupBy(_.obsAfter).values.map(_.map(_.ms).max)
      val ready = readyAt.toArray(Array.empty[java.lang.Long]).map(_.longValue())
      val compactionS = triggerEnd.flatMap(t => ready.find(_ > t).map(r => (r - t) / 1e9))
      Seq(("operators.standing.jobs_per_req",
          tr.layer("operators.standing").jobs.toDouble / samples.length, "jobs/req"),
        ("operators.standing.compactions", swaps.toDouble, "count"),
        ("operators.standing.compaction_s", if (compactionS.isEmpty) 0.0 else Stats.median(compactionS), "s"),
        ("operators.standing.swap_stall_ms", if (stalls.isEmpty) 0.0 else Stats.median(stalls), "ms"),
        ("service.dedup.classify_blocked_frac", blk.length.toDouble / math.max(1, classify.length), "frac"),
        ("service.dedup.classify_blocked_p50_ms", if (blk.isEmpty) 0.0 else Stats.median(blk.map(_.ms)), "ms"),
        ("service.dedup.classify_free_p50_ms", if (free.isEmpty) 0.0 else Stats.median(free.map(_.ms)), "ms"))
    }.getOrElse(Nil)
    Pass(windowNs / 1e9, cls.p50, cls.tail, ingest, Seq(
      ("classify_p50_ms", cls.p50, "ms"),
      (s"classify_${cls.tailName}_ms", cls.tail, "ms"),
      ("classify_requests", cls.n.toDouble, "count"),
      ("absorb_p50_ms", absorbP50, "ms"),
      ("absorb_max_ms", absorbS.map(_.ms).max, "ms"),
      ("absorb_requests", absorbS.length.toDouble, "count"),
      ("ingest_docs_per_s", ingest, "1/s"),
      ("compaction_swaps", swaps.toDouble, "count")), callLevel)
  }

  /** Classify answers were compared with the captured ones inside the
    * loop; here every absorbed text must re-classify as a duplicate:
    * `exact` if its absorb said new or exact, `near` or `exact` if near. */
  def check(s: State, passes: Seq[Pass]): Unit = {
    val rows = s.absorbed.zipWithIndex.map { case ((text, _), i) =>
      Row(ProbeIdBase * 2 + i, text) }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), StructType(Seq(
      StructField("doc_id", LongType, nullable = false), StructField("text", StringType))))
    val now = s.standing.classifyShared(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    s.absorbed.zipWithIndex.foreach { case ((_, before), i) =>
      val after = now.getOrElse(ProbeIdBase * 2 + i, "missing")
      val ok = if (before == "near") after == "near" || after == "exact" else after == "exact"
      tally.attempt(ok, s"absorbed doc $i was $before, re-classifies as $after")
    }
    Log(s"dedup-trickle: ${s.absorbed.length} absorbed docs re-classified")
  }
}
