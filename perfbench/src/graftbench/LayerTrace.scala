package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The engine's layers, named after its modules, and how a Spark job
  * started on a program thread is mapped to one. */
object Layers {
  val All: Seq[String] = Seq("service", "api.engine", "core.lsh", "core.minhash",
    "operators.standing", "operators.dedup")
  val Unattributed = "unattributed"

  /** Source file of a `graft.*` frame -> layer. */
  def ofFile(file: String): Option[String] = file match {
    case "QueryService.scala" => Some("service")
    case "QueryEngine.scala" => Some("api.engine")
    case "Lsh.scala" => Some("core.lsh")
    case "MinHashPipeline.scala" | "Kernels.scala" | "Shingling.scala" => Some("core.minhash")
    case "StandingCorpus.scala" => Some("operators.standing")
    case "Dedup.scala" => Some("operators.dedup")
    case _ => None
  }

  private val Frame = """(?:^|/)graft\.[\w$.]+\(([^:()]+)(?::\d+)?\)""".r

  /** Layer of the first `graft.*` frame of a long-form call site (one
    * stack frame per line, innermost first) whose file maps to a layer.
    * Frames of helpers outside the map are passed over, so a job a
    * layer starts through a shared helper is charged to that layer. */
  def ofCallSite(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.split('\n').iterator
      .flatMap(l => Frame.findFirstMatchIn(l.trim).flatMap(m => ofFile(m.group(1))))
      .nextOption()
}

/** Spark task counters summed over the jobs charged to one layer or span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, jobWallMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, outputB = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs; jobWallMs += o.jobWallMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; outputB += o.outputB
  }
}

/** Timed calls into a layer. Untraced passes use [[Untraced]], which only
  * runs the call, so both passes execute the same code. */
trait Spans {
  def span[A](layer: String, name: String)(body: => A): A
  /** A span timed elsewhere (e.g. an HTTP request timed at the client). */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit
}

object Untraced extends Spans {
  def span[A](layer: String, name: String)(body: => A): A = body
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit = ()
}

/** The per-layer recorder of a traced pass: a benchmark-owned
  * SparkListener plus spans around the benchmark's calls into each layer.
  *
  * Each Spark job is first attributed to the benchmark span whose job
  * group it carries (set by the calling benchmark thread; threads it
  * starts inherit the group). Its layer is the one its own code names:
  *  1. the first mapped `graft.*` frame of the job's call site (jobs a
  *     layer starts, on a benchmark thread inside a span or on a program
  *     thread such as an HTTP handler or the compaction thread);
  *  2. otherwise, the call site of the SQL execution the job belongs to
  *     (jobs Spark starts on its own threads, e.g. broadcasts);
  *  3. otherwise, the layer of its span (an action the benchmark runs on
  *     a frame a layer returned).
  * Counters and spans stay in memory; [[write]] stores them when the
  * traced run ends. */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener with Spans {
  final case class SpanRec(id: Long, layer: String, name: String, startNs: Long, endNs: Long)
  final case class JobRec(id: Int, layer: String, span: Long, how: String,
                          startMs: Long, var endMs: Long)

  private val GroupPrefix = "bench-span-"
  private val nextSpan = new java.util.concurrent.atomic.AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[SpanRec]()
  private val spanLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val spanName = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  // listener-thread state (events arrive on one bus thread; reads happen
  // after [[stop]] has drained the bus)
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]
  private val sqlCallSite = scala.collection.mutable.HashMap.empty[Long, String]
  private val byLayer = scala.collection.mutable.HashMap.empty[String, Counters]
  private val bySpanLayer = scala.collection.mutable.HashMap.empty[(String, String), Counters]
  private var windowStartNs, windowEndNs = 0L

  def start(): Tracer = {
    sc.addSparkListener(this)
    windowStartNs = System.nanoTime()
    this
  }

  def stop(): Unit = {
    windowEndNs = System.nanoTime()
    drain()
    sc.removeSparkListener(this)
  }

  /** Block until the recorder has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerDrain(sc)

  def windowS: Double = (windowEndNs - windowStartNs) / 1e9

  def span[A](layer: String, name: String)(body: => A): A = {
    val id = nextSpan.incrementAndGet()
    spanLayer.put(id, layer)
    spanName.put(id, name)
    sc.setJobGroup(GroupPrefix + id, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(SpanRec(id, layer, name, t0, System.nanoTime()))
      sc.clearJobGroup()
    }
  }

  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    spans.add(SpanRec(nextSpan.incrementAndGet(), layer, name, startNs, endNs))

  private def counters(layer: String) = byLayer.getOrElseUpdate(layer, new Counters)
  private def spanCounters(job: JobRec): Option[Counters] =
    Option(spanName.get(job.span)).map(n =>
      bySpanLayer.getOrElseUpdate((n, job.layer), new Counters))
  private def charge(job: JobRec)(f: Counters => Unit): Unit = synchronized {
    f(counters(job.layer)); spanCounters(job).foreach(f)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized { sqlCallSite(e.executionId) = e.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)
    val siteLayer = e.stageInfos.iterator.flatMap(s => Layers.ofCallSite(s.details)).nextOption()
    val sqlLayer = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => synchronized(sqlCallSite.get(id.toLong))).flatMap(Layers.ofCallSite)
    val (layer, how) = siteLayer.map(_ -> "callsite")
      .orElse(sqlLayer.map(_ -> "sql"))
      .orElse(group.flatMap(g => Option(spanLayer.get(g))).map(_ -> "span"))
      .getOrElse(Layers.Unattributed -> "none")
    val job = JobRec(e.jobId, layer, group.getOrElse(-1L), how, e.time, -1L)
    synchronized {
      jobs(e.jobId) = job
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = job)
    }
    charge(job)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      charge(j)(_.jobWallMs += math.max(0L, e.time - j.startMs))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stageJob.get(e.stageInfo.stageId)).foreach(j => charge(j)(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized(stageJob.get(e.stageId)).foreach { j =>
      charge(j) { c =>
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.diskBytesSpilled
          c.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Counters of every job charged to `layer`. */
  def layer(layer: String): Counters = synchronized(byLayer.getOrElse(layer, new Counters))

  /** Counters of the `layer` jobs started inside spans named `span`. */
  def within(span: String, layer: String): Counters =
    synchronized(bySpanLayer.getOrElse((span, layer), new Counters))

  /** All jobs, whatever their layer. */
  def total: Counters = synchronized {
    val t = new Counters
    byLayer.values.foreach(t.add)
    t
  }

  def spanSeconds(name: String): Seq[Double] =
    spans.toArray(Array.empty[SpanRec]).toSeq.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  def layerSpanSeconds(layer: String): Double =
    spans.toArray(Array.empty[SpanRec]).iterator.filter(_.layer == layer)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Per-layer metrics of this pass, named `<layer>.<counter>`. A layer's
    * `wall_s` is the time spent in the benchmark's calls into it; a layer
    * the benchmark does not call directly reports the wall time of the
    * Spark jobs charged to it. */
  def layerMetrics: Seq[(String, Double, String)] = {
    def rows(name: String, c: Counters, wallS: Double) = Seq(
      (s"$name.jobs", c.jobs.toDouble, "count"),
      (s"$name.stages", c.stages.toDouble, "count"),
      (s"$name.tasks", c.tasks.toDouble, "count"),
      (s"$name.task_s", c.taskMs / 1e3, "s"),
      (s"$name.wall_s", wallS, "s"),
      (s"$name.shuffle_read_mb", c.shuffleReadB / 1048576.0, "MB"),
      (s"$name.shuffle_write_mb", c.shuffleWriteB / 1048576.0, "MB"),
      (s"$name.spill_mb", c.spillB / 1048576.0, "MB"),
      (s"$name.gc_ms", c.gcMs.toDouble, "ms"),
      (s"$name.output_mb", c.outputB / 1048576.0, "MB"))
    val perLayer = Layers.All.flatMap { l =>
      val c = layer(l)
      val spanS = layerSpanSeconds(l)
      rows(l, c, if (spanS > 0) spanS else c.jobWallMs / 1e3)
    }
    val t = total
    perLayer ++ rows("spark", t, windowS) ++ Seq(
      ("spark.cpu_busy_frac", t.taskMs / 1e3 / (windowS * cores), "frac"),
      ("unattributed.jobs", layer(Layers.Unattributed).jobs.toDouble, "count"))
  }

  /** Spans, job attributions and counters as one JSON document. */
  def write(path: java.nio.file.Path, extra: Seq[(String, Double, String)]): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.toArray(Array.empty[SpanRec]).sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"layer":"${s.layer}","name":"${LoadGen.esc(s.name)}","start_ms":${
        (s.startNs - windowStartNs) / 1e6},"dur_ms":${(s.endNs - s.startNs) / 1e6}}"""
    }.mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= synchronized(jobs.values.toSeq).map { j =>
      s"""{"job":${j.id},"layer":"${j.layer}","span":${j.span},"by":"${j.how}","dur_ms":${
        if (j.endMs >= 0) j.endMs - j.startMs else -1}}"""
    }.mkString(",")
    sb ++= "],\"metrics\":{"
    sb ++= (layerMetrics ++ extra).map {
      case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString(",")
    sb ++= "}}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
