package graftbench

import graft.api.QueryEngine
import graft.core.MinHashPipeline
import graft.operators.Dedup
import graft.sources.SyntheticCorpus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `batch-pipeline`: the offline user, in-process with no HTTP. Each pass
  * builds and warms an index, runs one `queryBatch`, and counts the
  * near-duplicate pairs of a second corpus: signing, band explode, bucket
  * cap, the batch probe plan and the pair-generation shuffle, with no
  * probe cache and no standing corpus. Operation = one whole pass;
  * throughput = input records (docs indexed + queries + docs deduped)
  * per second of window. */
object BatchPipeline {
  val BuildDocs = 50000L
  val Vocab = 20
  val Queries = 1000
  val DedupDocs = 10000L
  val K = 5
  val MaxCandidates = 2000
  val CheckSample = 20
  val MinPasses = 2
  /** Operator default of `Dedup.nearMinHashLsh`, checked on every pair. */
  val NearThreshold = 0.8
  val CallLevel: Seq[(String, String)] = Seq(
    "api.engine.warmup_s" -> "s",
    "api.engine.query_batch_s" -> "s",
    "api.engine.query_batch.lsh_task_s" -> "s",
    "operators.dedup.near_s" -> "s",
    "operators.dedup.shuffle_bytes_per_pair" -> "B/pair")
}

final class BatchPipeline(spark: SparkSession, seed: Long, seconds: Double,
                          tally: Stats.Tally) extends Workload {
  import BatchPipeline._

  final class State(val docs: DataFrame, val queries: DataFrame,
                    val querySigs: Array[Array[Long]], val dedupDocs: DataFrame) {
    var engine: QueryEngine = _
    var batch: Array[Row] = _
    val pairCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
  }

  private val mp = MinHashPipeline.Params(kShingle = 1)

  def setup(round: Int): State = {
    val docs = SyntheticCorpus.docs(spark, BuildDocs, vocabSize = Vocab, seed = seed.toInt).cache()
    docs.count()
    val qIds = Requests.distinctSample(Queries, 0, BuildDocs, seed)
    val texts = docs.filter(col("doc_id").isin(qIds.toIndexedSeq: _*)).orderBy("doc_id")
      .collect().map(_.getString(1))
    val sigs = texts.map(t => QueryEngine.signText(t, mp))
    val rows = sigs.zipWithIndex.map { case (sg, i) => Row(i.toLong, sg.toSeq) }
    val queries = spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("sig", ArrayType(LongType, containsNull = false))))).cache()
    queries.count()
    val dedupDocs = SyntheticCorpus.docsLlm(spark, DedupDocs, seed = seed.toInt).cache()
    dedupDocs.count()
    new State(docs, queries, sigs, dedupDocs)
  }

  def release(s: State): Unit = {
    if (s.engine != null) s.engine.close()
    s.docs.unpersist(); s.queries.unpersist(); s.dedupDocs.unpersist()
  }

  def pass(s: State, spans: Spans, tracer: Option[Tracer]): Pass = {
    val buildS, batchS, nearS, passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pairs = 0L
    val t0 = System.nanoTime()
    while (passS.length < MinPasses || System.nanoTime() - t0 < seconds * 1e9) {
      if (s.engine != null) { s.engine.close(); s.engine = null }
      val p0 = System.nanoTime()
      s.engine = spans.span("api.engine", "api.engine.warmup") {
        QueryEngine.build(s.docs, mp = mp).warmUp()
      }
      val p1 = System.nanoTime()
      s.batch = spans.span("api.engine", "api.engine.query_batch") {
        s.engine.queryBatch(s.queries, K, MaxCandidates).collect()
      }
      val p2 = System.nanoTime()
      val n = spans.span("operators.dedup", "operators.dedup.near") {
        Dedup.nearMinHashLsh(s.dedupDocs).count()
      }
      val p3 = System.nanoTime()
      s.pairCounts += n
      pairs += n
      buildS += (p1 - p0) / 1e9; batchS += (p2 - p1) / 1e9; nearS += (p3 - p2) / 1e9
      passS += (p3 - p0) / 1e9
      Log(f"pass ${passS.length}: build ${buildS.last}%.2f s, queryBatch ${batchS.last}%.2f s, near-dup ${nearS.last}%.2f s")
    }
    val windowNs = System.nanoTime() - t0
    val records = (BuildDocs + Queries + DedupDocs) * passS.length
    val sum = Stats.summarize(passS.map(_ * 1e3), 1.0)
    val callLevel = tracer.map { tr =>
      tr.drain()
      Seq(("api.engine.warmup_s", Stats.median(tr.spanSeconds("api.engine.warmup")), "s"),
        ("api.engine.query_batch_s", Stats.median(tr.spanSeconds("api.engine.query_batch")), "s"),
        ("api.engine.query_batch.lsh_task_s",
          tr.within("api.engine.query_batch", "core.lsh").taskMs / 1e3 / passS.length, "s"),
        ("operators.dedup.near_s", Stats.median(tr.spanSeconds("operators.dedup.near")), "s"),
        ("operators.dedup.shuffle_bytes_per_pair",
          tr.within("operators.dedup.near", "operators.dedup").shuffleWriteB.toDouble / math.max(1L, pairs),
          "B/pair"))
    }.getOrElse(Nil)
    Pass(windowNs / 1e9, sum.p50, sum.tail, Stats.rate(records, windowNs), Seq(
      ("pass_p50_ms", sum.p50, "ms"),
      ("pass_max_ms", sum.tail, "ms"),
      ("passes", passS.length.toDouble, "count"),
      ("build_docs_per_s", BuildDocs / Stats.median(buildS), "1/s"),
      ("batch_queries_per_s", Queries / Stats.median(batchS), "1/s"),
      ("dedup_docs_per_s", DedupDocs / Stats.median(nearS), "1/s"),
      ("near_pairs", s.pairCounts.last.toDouble, "count")), callLevel)
  }

  /** queryBatch top-k equals the served single probe on a sample; near-dup
    * pairs are ordered and above threshold; every pass counted the same
    * pairs. */
  def check(s: State, passes: Seq[Pass]): Unit = {
    val byQuery = s.batch.groupBy(_.getLong(0))
    val sample = Requests.distinctSample(CheckSample, 0, Queries, seed + 3)
    sample.foreach { q =>
      val want = s.engine.query(s.querySigs(q.toInt), K, MaxCandidates).filter(_.id >= 0)
        .map(c => (c.id, c.score))
      val got = byQuery.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      tally.attempt(got == want, s"queryBatch top-$K of query $q $got differs from query $want")
    }
    val bad = Dedup.nearMinHashLsh(s.dedupDocs)
      .filter(!(col("a") < col("b") && col("score") >= NearThreshold)).count()
    tally.attempt(bad == 0, s"$bad near-dup pairs violate a < b and score >= $NearThreshold")
    tally.attempt(s.pairCounts.distinct.length == 1,
      s"near-dup pair counts differ between passes: ${s.pairCounts.mkString(",")}")
  }
}
