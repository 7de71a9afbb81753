package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale-decade evidence main: the four probe rows (index build,
  * capped cached-index batch, bucketed disk batch, hot/cold single) at an
  * arbitrary corpus size — `SPARK_GRAFT_DECADE_DOCS` docs (default 16M,
  * the next 4x step past Bench's 4M ceiling). Kept OUT of graft.Bench so
  * the driver's per-round run keeps its ~15-minute budget; run manually
  * on a quiet box with SPARK_DRIVER_MEM=96g (the 16M cached sigs + capped
  * postings hold ~35-40 GiB).
  *
  * 16M docs = 512M postings puts the index ABOVE both driver bounds
  * (stats map AND replica refuse), so this is specifically the decade
  * that exercises the stats-cold serving paths: capped batches fold from
  * the cached stats table, single probes trim their fetch via the
  * per-probe stats lookup, cold fetches go through the bucket-pruned
  * saved table. Timing methodology matches Bench (certifiedMedian,
  * median-of-3 with contention refusal). */
object BenchDecade {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_DECADE_DOCS", "16000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tag = if (nDocs % 1000000 == 0) s"${nDocs / 1000000}mdocs" else s"${nDocs}docs"
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val degraded = scala.collection.mutable.LinkedHashSet.empty[String]
    def medianOf(key: String)(run: () => Unit): Double = {
      run() // warmup
      def sample(): Double = {
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }
      val (med, all, isDegraded) =
        Bench.certifiedMedian(3, betweenBatches = () => System.gc())(sample)
      if (isDegraded) degraded += key
      samples(key) = all
      med
    }
    import graft.api.QueryEngine
    import graft.sources.SyntheticCorpus
    // small throwaway build first: the timed build measures throughput,
    // not cold-JVM codegen compilation (same discipline as Bench)
    QueryEngine.build(SyntheticCorpus.docs(spark, 1000),
      mp = graft.core.MinHashPipeline.Params(kShingle = 1)).warmUp()
    spark.catalog.clearCache()
    val tB = System.nanoTime()
    val eng = QueryEngine.build(SyntheticCorpus.docs(spark, nDocs),
      mp = graft.core.MinHashPipeline.Params(kShingle = 1)).warmUp()
    val buildSec = (System.nanoTime() - tB) / 1e9
    System.err.println(s"[decade] build done in $buildSec s")
    def qDf(n: Int) = eng.sigs.filter(col("doc_id") < n)
      .select(col("doc_id").as("query_id"), col("sig"))
    val batch100 = medianOf(s"x_lsh_batch100_queries_sec_$tag")(() =>
      graft.core.Lsh.queryBatch(eng.sigs, eng.index, qDf(100), k = 5,
        maxCandidates = 2000).count())
    // bucketed disk probe (one file per bucket via the saveBucketed
    // pre-repartition), then wire it as the cold single-probe fetch tier
    val table = s"graft_decade_bucketed_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    val tS = System.nanoTime()
    eng.saveBucketed(table, buckets = 64)
    val saveSec = (System.nanoTime() - tS) / 1e9
    // one table handle for every sample: the bucket stats are cached per
    // handle, so a fresh handle per sample would rebuild them each time
    val bucketedTable = spark.table(table)
    val bucketed100 = medianOf(s"x_lsh_bucketed_batch100_sec_$tag")(() =>
      graft.core.Lsh.queryBatchBucketed(eng.sigs, bucketedTable, qDf(100),
        k = 5, maxCandidates = 2000).count())
    eng.serveFromBucketed(table)
    val someSigs = eng.sigs.filter(col("doc_id") < 30)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val hotKey = s"x_lsh_single_query_avg_sec_$tag"
    val singleHot = medianOf(hotKey)(() =>
      (5L until 25L).foreach(i => eng.query(someSigs(i), 5))) / 20.0
    samples(hotKey) = samples(hotKey).map(_ / 20.0)
    val coldSigs = eng.sigs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val tCold = System.nanoTime()
    coldSigs.keys.toSeq.sorted.foreach(i => eng.query(coldSigs(i), 5))
    val singleCold = (System.nanoTime() - tCold) / 1e9 / 20.0
    eng.close()
    def f6(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    def jmap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val metrics = Map(
      s"x_index_build_sec_$tag" -> buildSec,
      s"x_bucketed_save_sec_$tag" -> saveSec,
      s"x_lsh_batch100_queries_sec_$tag" -> batch100,
      s"x_lsh_bucketed_batch100_sec_$tag" -> bucketed100,
      s"x_lsh_single_query_avg_sec_$tag" -> singleHot,
      s"x_lsh_single_query_cold_avg_sec_$tag" -> singleCold)
    val line = jmap(Seq(
      "metric" -> "\"decade\"", "n_docs" -> nDocs.toString,
      "queries" -> jmap(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> f6(v) }),
      "degraded" -> (if (degraded.nonEmpty) "true" else "false"),
      "degraded_probes" -> degraded.map("\"" + _ + "\"").mkString("[", ",", "]"),
      "samples" -> jmap(samples.map { case (k, vs) =>
        k -> vs.map(f6).mkString("[", ",", "]")
      })))
    println(line)
    System.out.flush()
    spark.stop()
  }
}
