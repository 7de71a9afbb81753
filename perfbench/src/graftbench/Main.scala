package graftbench

import org.apache.spark.sql.SparkSession

/** Number formatting and the result document. */
object Json {
  /** A metric value with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    java.lang.Double.toString(v)
  }

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[graftbench] +${(System.currentTimeMillis() - t0) / 1e3}%.1fs $msg")
}

/** One measured pass of a workload.
  *  - `p50Ms` / `tailMs`: median and tail latency of the workload's unit
  *    operation (its `tailLevel` fixed per workload);
  *  - `throughput`: the workload's work items per second of window;
  *  - `report`: every end-to-end figure by its workload-specific name;
  *  - `callLevel`: call-level per-layer metrics (traced pass only). */
final case class Pass(windowS: Double, p50Ms: Double, tailMs: Double, throughput: Double,
                      report: Seq[(String, Double, String)],
                      callLevel: Seq[(String, Double, String)] = Nil) {
  override def toString: String =
    f"window $windowS%.1f s, p50 $p50Ms%.2f ms, tail $tailMs%.2f ms, throughput $throughput%.2f/s"
}

/** A benchmark workload: a repeatable set-up and a measured pass. */
trait Workload {
  type State
  /** Inputs generated from `seed`, plus the built index or corpus. */
  def setup(round: Int): State
  def release(s: State): Unit
  /** One measured window; `spans` times calls into layers (a no-op when
    * untraced) and `tracer` is present on the traced pass only. */
  def pass(s: State, spans: Spans, tracer: Option[Tracer]): Pass
  /** Let background work the window started finish before the heap is
    * read, so the reading does not depend on where a build happened to be. */
  def quiesce(s: State): Unit = ()
  /** Correctness checks after the window(s); failures go to `tally`. */
  def check(s: State, passes: Seq[Pass]): Unit
}

/** Entry point of one benchmark run (one workload, one fresh JVM):
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <cores> <run dir> <trace file>`.
  * Writes `result.json` (the contract line) and `report.json` (every
  * workload-specific figure) into the run directory. */
object Main {
  val SetupRounds = 3
  val Workloads: Seq[String] = Seq("query-serve", "dedup-trickle", "batch-pipeline")
  /** Per-layer metric names shared by all workloads' traced runs. */
  val CallLevel: Seq[(String, String)] =
    QueryServe.CallLevel ++ DedupTrickle.CallLevel ++ BatchPipeline.CallLevel ++
      Seq("trace.overhead_frac" -> "frac")

  def main(args: Array[String]): Unit = {
    // exit explicitly: idle non-daemon threads (the HTTP server's handler
    // pool) would otherwise keep the JVM alive for their keep-alive time
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, runDir, traceFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps finished jobs, stages and SQL plans in
      // the driver heap even without a UI; bounded small, the retained-heap
      // reading measures the engine's own state, not how many jobs ran
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tally = new Stats.Tally
    val w: Workload = workload match {
      case "query-serve" => new QueryServe(spark, seed, seconds, cores, tally)
      case "dedup-trickle" => new DedupTrickle(spark, seed, seconds, cores, tally, s"$runDir/standing")
      case "batch-pipeline" => new BatchPipeline(spark, seed, seconds, tally)
      case other => sys.error(s"unknown workload $other; expected one of ${Workloads.mkString(", ")}")
    }
    try {
      // set up several times and keep the last; the median damps one-off
      // stalls (JIT, first file-system touches) without hiding a slower build
      val roundS = scala.collection.mutable.ArrayBuffer.empty[Double]
      var state: w.State = null.asInstanceOf[w.State]
      for (r <- 0 until SetupRounds) {
        if (state != null) w.release(state)
        val t0 = System.nanoTime()
        state = w.setup(r)
        roundS += (System.nanoTime() - t0) / 1e9
      }
      val setupS = startupS + Stats.median(roundS)
      Log(f"startup $startupS%.2f s, set-up rounds ${roundS.map(x => f"$x%.2f").mkString(" ")} s")

      val untraced = w.pass(state, Untraced, None)
      Log(s"pass: $untraced")
      val (passes, heapMb, layerMetrics) =
        if (!traced) { w.quiesce(state); (Seq(untraced), retainedHeapMb(), Nil) }
        else {
          // untraced, traced, untraced: comparing the traced pass with the
          // mean of its neighbours cancels the drift of a warming process
          val tracer = new Tracer(spark.sparkContext, cores).start()
          val tp = try w.pass(state, tracer, Some(tracer)) finally tracer.stop()
          Log(s"traced pass: $tp")
          val after = w.pass(state, Untraced, None)
          Log(s"pass: $after")
          w.quiesce(state)
          val heap = retainedHeapMb()
          // call-level metrics of another workload read 0 here (e.g. HTTP
          // overhead on the in-process pipeline)
          val own = tp.callLevel.map(m => m._1 -> m._2).toMap +
            ("trace.overhead_frac" -> (tp.p50Ms / ((untraced.p50Ms + after.p50Ms) / 2) - 1.0))
          val callLevel = CallLevel.map { case (n, u) => (n, own.getOrElse(n, 0.0), u) }
          tracer.write(java.nio.file.Paths.get(traceFile), callLevel)
          (Seq(untraced, tp, after), heap, tracer.layerMetrics ++ callLevel)
        }
      Log("checking")
      w.check(state, passes)
      w.release(state)
      Log("checked")

      val main = passes.head
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("p50_ms", main.p50Ms, "ms"),
        ("tail_ms", main.tailMs, "ms"),
        ("throughput_per_s", main.throughput, "1/s"),
        ("retained_heap_mb", heapMb, "MB"))
      val report = Seq(("setup_s", setupS, "s")) ++ main.report ++ Seq(
        ("failed_frac", tally.failedFrac, "frac"),
        ("retained_heap_mb", heapMb, "MB"))
      tally.failureNotes.foreach(n => Log(s"FAILED: $n"))
      val correct = tally.failed == 0
      val result =
        s"""{"correct":$correct,"attempted":${tally.attempted},"failed":${tally.failed},""" +
          s""""metrics":${Json.metrics(if (traced) layerMetrics else e2e)}}"""
      write(s"$runDir/result.json", result)
      write(s"$runDir/report.json",
        s"""{"workload":"$workload","seed":$seed,"trace":$traced,"correct":$correct,""" +
          s""""attempted":${tally.attempted},"failed":${tally.failed},"report":${Json.metrics(report)}}""")
    } finally spark.stop()
  }

  /** Driver heap in use after a full collection, in MiB. Spark releases
    * broadcast and shuffle blocks from its cleaner thread only after a
    * collection has cleared their references, so collect, give the
    * cleaner time to drop what became unreachable, and collect again. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s + "\n")
}
