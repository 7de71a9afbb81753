package graft

import graft.api.VectorEngine
import graft.functions.GraftFunctions._
import graft.operators.Ann
import org.apache.spark.sql.functions._

/** VectorEngine lifecycle: mode equivalences, single-vector probe,
  * save/load round-trip without retraining. */
class VectorEngineSpec extends SparkSpec {

  private lazy val embs =
    spark.read.parquet(s"$testDataDir/embeddings.parquet").cache()
  private lazy val eng = VectorEngine.build(embs).warmUp()

  test("fused assign+encode pass is bit-identical to the row-form path") {
    import graft.operators.Pq
    // row-form reference: the gated (a05/a11) join+aggregate pipeline
    val base = embs.select(col("vec_id").cast("long").as("id"),
      col("embedding").as("v"))
    val wantAssigned = VectorEngine.assign(base, eng.cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val wantCodes = Pq.packCodes(
      Pq.encode(embs, eng.codebooks, eng.m, eng.subDim))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).mkString(","))).sorted.toSeq
    val gotAssigned = eng.assigned
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val gotCodes = eng.codes
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).mkString(","))).sorted.toSeq
    assert(gotAssigned == wantAssigned)
    assert(gotCodes == wantCodes)
  }

  test("exact mode equals the brute-force cosine oracle") {
    val queries = embs.filter(col("vec_id") < 5)
    val got = eng.topK(queries, k = 5, mode = "exact")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val want = Ann.bruteForceTopK(embs, queries, k = 5, cosine_sim)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("ivfpq with nprobe=all-clusters equals pq mode") {
    val queries = embs.filter(col("vec_id") < 5)
    val pq = eng.topK(queries, k = 5, mode = "pq")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val ivfpq = eng.topK(queries, k = 5, mode = "ivfpq", nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(ivfpq.toSeq == pq.toSeq)
  }

  test("single-vector probe finds the vector's own id first in exact mode") {
    val v = embs.filter(col("vec_id") === 7).head()
      .getSeq[Float](1).toArray
    val hits = eng.query(v, k = 3, mode = "exact")
    assert(hits.head == (7L, 1))
  }

  test("build handles a corpus smaller than the requested k") {
    // 5 vectors against the default nCents=8 / pqK=16: training yields 5
    // centroids and 5 codewords per subspace; every mode must still answer
    // (this crashed with a pq_encode shape error before the kEff fix)
    val tiny = graft.sources.SyntheticCorpus.vectors(spark, 5)
    val eng = graft.api.VectorEngine.build(tiny)
    assert(eng.nCents == 5 && eng.pqK == 5)
    val q = tiny.filter(col("vec_id") < 2)
    for (mode <- Seq("exact", "ivf", "pq", "ivfpq", "ivfpq_rerank")) {
      val hits = eng.topK(q, k = 3, mode = mode).collect()
      assert(hits.nonEmpty, mode)
    }
    eng.close()
  }

  test("unknown mode is rejected") {
    intercept[IllegalArgumentException] {
      eng.topK(embs.limit(1), mode = "hnsw")
    }
  }

  test("addVectors grows the index under the existing models") {
    import spark.implicits._
    // a new vector identical to vec 7's embedding, with a fresh id
    val v7 = embs.filter(col("vec_id") === 7).head().getSeq[Float](1)
    val grown = eng.addVectors(Seq((9001L, v7)).toDF("vec_id", "embedding"))
    assert(grown.codes.count() == eng.codes.count() + 1)
    // same vector under the same (not retrained) codebooks -> same codes
    // and same coarse assignment as the original id 7
    def codesOf(e: graft.api.VectorEngine, id: Long) =
      e.codes.filter(col("id") === id).head().getSeq[Int](1).toSeq
    assert(codesOf(grown, 9001L) == codesOf(grown, 7L))
    val asg = grown.assigned.filter(col("id").isin(7L, 9001L))
      .collect().map(_.getLong(1)).toSet
    assert(asg.size == 1, s"assignments differ: $asg")
    // old engine untouched
    assert(eng.codes.filter(col("id") === 9001L).count() == 0)
  }

  test("removeVectors drops the ids from EVERY artifact and every probe mode") {
    val removed = eng.removeVectors(Seq(0L, 7L, 14L))
    val gone = Set(0L, 7L, 14L)
    // every corpus-sized artifact lost exactly the removed ids
    for ((name, df) <- Seq("embs" -> removed.embs, "assigned" -> removed.assigned,
                           "codes" -> removed.codes, "fused" -> removed.fused)) {
      val ids = df.select("id").collect().map(_.getLong(0)).toSet
      assert((ids & gone).isEmpty, s"$name still holds removed ids")
      assert(ids.size == eng.embs.count() - 3, name)
    }
    // no probe mode can return a removed id; queries may BE removed ids
    val q = embs.filter(col("vec_id") < 3) // includes removed id 0
    for (mode <- Seq("exact", "ivf", "pq", "ivfpq", "ivfpq_rerank")) {
      val res = removed.topK(q, k = 5, mode = mode)
        .select("id").collect().map(_.getLong(0)).toSet
      assert((res & gone).isEmpty, s"mode $mode returned a removed id")
    }
    // trained models shared, untouched: remaining codes identical
    val before = eng.codes.filter(!col("id").isin(0L, 7L, 14L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val after = removed.codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(after == before)
    // old engine untouched
    assert(eng.codes.filter(col("id") === 7L).count() == 1)
    // closing the derived engine must NOT evict the shared trained
    // models the suite's other tests still serve from (round-9 fix:
    // close() releases only corpus-sized artifacts)
    removed.close()
    assert(eng.topK(embs.filter(col("vec_id") < 2), k = 3, mode = "ivfpq").count() > 0)
  }

  test("save/load round-trip answers identically without retraining") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vec").toString
    eng.save(dir)
    val back = VectorEngine.load(spark, dir)
    val queries = embs.filter(col("vec_id") < 3)
    val a = eng.topK(queries, k = 5, mode = "ivfpq")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val b = back.topK(queries, k = 5, mode = "ivfpq")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(a.toSeq == b.toSeq)
    back.close()
  }

  test("served single-vector ivfpq probe is bit-identical and zero-job when hot") {
    // round 11: with the serving model warm, ivfpq single probes run
    // driver-side (collected centroids + codebooks, LRU-cached inverted
    // lists). Must equal the distributed plan exactly — same coarse tie
    // rule, same LUT layout/fold order, same (score desc, id asc) top-k.
    import spark.implicits._
    val e2 = VectorEngine.build(embs).warmUp().warmServing()
    val vecs = embs.filter(col("vec_id").isin(0L, 7L, 63L, 200L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    for ((vid, v) <- vecs; np <- Seq(1, 3, 8)) {
      val q = Seq((0L, v.toSeq)).toDF("vec_id", "embedding")
      val want = e2.topK(q, k = 5, mode = "ivfpq", nprobe = np).orderBy("rank")
        .collect().map(r => (r.getLong(2), r.getInt(1))).toSeq
      val cold = e2.query(v, k = 5, mode = "ivfpq", nprobe = np)
      assert(cold == want, s"vid=$vid nprobe=$np cold")
      // hot repeat: every probed list is now resident — zero Spark jobs
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val hot = e2.query(v, k = 5, mode = "ivfpq", nprobe = np)
        org.apache.spark.ListenerDrain.drain(spark.sparkContext)
        assert(hot == want, s"vid=$vid nprobe=$np hot")
        assert(jobs.get() == 0, s"vid=$vid nprobe=$np: hot probe ran ${jobs.get()} job(s)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // other modes keep the distributed path (serving model is ivfpq-only)
    val (vid0, v0) = vecs.head
    val qe = Seq((0L, v0.toSeq)).toDF("vec_id", "embedding")
    assert(e2.query(v0, k = 3, mode = "exact") ==
      e2.topK(qe, k = 3, mode = "exact").orderBy("rank")
        .collect().map(r => (r.getLong(2), r.getInt(1))).toSeq, s"vid=$vid0")
    e2.close()
  }

  test("ivfpq probe never shuffles the corpus: all joins broadcast, one agg exchange") {
    val queries = embs.filter(col("vec_id") < 3)
    for (mode <- Seq("ivfpq", "ivfpq_rerank")) {
      val plan = eng.topK(queries, k = 5, mode = mode)
        .queryExecution.executedPlan.toString()
      // the old (query, candidate)-pair equi-join planned a corpus-side
      // shuffle (SortMergeJoin/ShuffledHashJoin) that cost 5-17x at 4M
      // vectors; the fused form must join only by broadcast
      assert(!plan.contains("SortMergeJoin"), s"$mode:\n${plan.take(3000)}")
      assert(!plan.contains("ShuffledHashJoin"), s"$mode:\n${plan.take(3000)}")
      assert(plan.contains("BroadcastHashJoin"), s"$mode:\n${plan.take(1000)}")
    }
  }

  test("residual index: full lifecycle — add == rebuild, remove, save/load, plan, opt-in") {
    import spark.implicits._
    // plain build refuses the residual mode instead of serving garbage
    intercept[IllegalArgumentException] {
      eng.topK(embs.filter(col("vec_id") < 2), k = 3, mode = "residual_ivfpq")
    }
    val reng = VectorEngine.build(embs.filter(col("vec_id") < 90), residual = true)
    val queries = embs.filter(col("vec_id") < 3)
    def hits(e: graft.api.VectorEngine) =
      e.topK(queries, k = 5, mode = "residual_ivfpq", nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // incremental add under the EXISTING models == one-shot rebuild is
    // NOT generally true for residual codes (a rebuild retrains on the
    // grown corpus) — the add contract is: new rows are encoded under
    // the existing books, and probes see them
    val extra = embs.filter(col("vec_id") >= 90 && col("vec_id") < 95)
    val grown = reng.addVectors(extra)
    assert(grown.residFused.get.count() == reng.residFused.get.count() + 5)
    val grownIds = grown.topK(embs.filter(col("vec_id") === 91), k = 3,
      mode = "residual_ivfpq", nprobe = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(grownIds.contains(91L), s"added vector not served: $grownIds")
    // the added row's codes equal what a fresh residualEncode produces
    // (the one-owner contract): encode id 91's residual directly
    val a91 = grown.assigned.filter(col("id") === 91L).head().getLong(1)
    val direct = VectorEngine.residualEncode(
      embs.filter(col("vec_id") === 91L)
        .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
        .withColumn("centroid_id", lit(a91))
        .join(broadcast(reng.cents), "centroid_id")
        .select(col("id"), col("centroid_id"),
          zip_with(col("v"), col("cv"), (x, y) => x - y).as("v")),
      reng.residBooks.get, m = 8, pqK = reng.pqK)
      .head().getSeq[Int](2).toSeq
    val stored = grown.residFused.get.filter(col("id") === 91L)
      .head().getSeq[Int](2).toSeq
    assert(direct == stored)
    // remove drops from the residual table and no probe returns the id
    val removed = grown.removeVectors(Seq(1L))
    assert(removed.residFused.get.filter(col("id") === 1L).count() == 0)
    assert(!removed.topK(queries, k = 5, mode = "residual_ivfpq", nprobe = 8)
      .select("id").collect().map(_.getLong(0)).contains(1L))
    // save/load serves identically
    val dir = java.nio.file.Files.createTempDirectory("graft-vec-resid").toString
    reng.save(dir)
    val back = VectorEngine.load(spark, dir)
    assert(hits(back) == hits(reng))
    // the residual probe keeps the fused no-shuffle plan shape
    val plan = reng.topK(queries, k = 5, mode = "residual_ivfpq")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1000))
    back.close(); removed.close(); grown.close(); reng.close()
  }

  test("lean serving: saveServing/openServing — pruned batch, zero-job hot singles, float modes refuse") {
    import spark.implicits._
    // round 12 (vector twin of the LSH serving shard): the layout holds
    // the fused code table bucketed by centroid_id as an EXTERNAL table
    // plus the KB-sized trained models; a fresh catalog re-registers it
    // from the files alone. Every answer must equal the full engine's.
    val dir = java.nio.file.Files.createTempDirectory("graft-vec-lean").toString
    eng.saveServing(s"$dir/srv", "veng_spec_lean", buckets = 8)
    val queries = embs.filter(col("vec_id") < 10)
    val want = eng.topK(queries, k = 5, mode = "ivfpq", nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // drop the catalog entry (external -> files survive): openServing
    // must rebuild the bucketed metadata from the layout itself
    spark.sql("DROP TABLE IF EXISTS veng_spec_lean_fused")
    val lean = VectorEngine.openServing(spark, s"$dir/srv", "veng_spec_lean")
    val got = lean.topK(queries, k = 5, mode = "ivfpq", nprobe = 3)
    assert(got.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq == want)
    // the batch scan is STATICALLY bucket-pruned to the probed centroids:
    // one query with nprobe=2 probes at most 2 buckets of the 8
    val one = lean.topK(embs.filter(col("vec_id") === 0L), k = 5,
      mode = "ivfpq", nprobe = 2)
    val plan = one.queryExecution.executedPlan.toString()
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
      .findFirstMatchIn(plan).map(_.group(1).toInt)
    assert(sel.nonEmpty, s"no bucket pruning in lean batch scan:\n${plan.take(3000)}")
    assert(sel.get <= 2, s"expected <= 2 probed buckets, scan reads ${sel.get}")
    // single probes: cold equals the distributed answer, hot repeat runs
    // ZERO Spark jobs (serving model + resident LRU lists)
    lean.warmServing()
    val vecs = embs.filter(col("vec_id").isin(0L, 7L, 63L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    for ((vid, v) <- vecs) {
      val q = Seq((0L, v.toSeq)).toDF("vec_id", "embedding")
      val w = eng.topK(q, k = 5, mode = "ivfpq", nprobe = 3).orderBy("rank")
        .collect().map(r => (r.getLong(2), r.getInt(1))).toSeq
      assert(lean.query(v, k = 5, mode = "ivfpq", nprobe = 3) == w, s"vid=$vid cold")
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(lean.query(v, k = 5, mode = "ivfpq", nprobe = 3) == w, s"vid=$vid hot")
        org.apache.spark.ListenerDrain.drain(spark.sparkContext)
        assert(jobs.get() == 0, s"vid=$vid: lean hot probe ran ${jobs.get()} job(s)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // float-rescoring modes refuse with a actionable error (the layout
    // deliberately has no embeddings)
    for (mode <- Seq("exact", "ivf", "ivfpq_rerank")) {
      val ex = intercept[IllegalStateException] {
        lean.topK(queries, k = 5, mode = mode)
      }
      assert(ex.getMessage.contains("lean"), mode)
    }
    // pq mode (compressed full scan) still works lean — codes are a
    // projection of the layout's fused table
    val pqWant = eng.topK(queries, k = 5, mode = "pq")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(lean.topK(queries, k = 5, mode = "pq")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq == pqWant)
    lean.close()
    spark.sql("DROP TABLE IF EXISTS veng_spec_lean_fused")
  }

  test("trainSampleRows: sampled training is deterministic; oversized sample = full training") {
    // a sample covering the corpus must be a bit-exact no-op vs build()
    val full = VectorEngine.build(embs, trainSampleRows = 1000000L)
    def centsOf(e: VectorEngine) = e.cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).sortBy(_._1).toSeq
    def codesOf(e: VectorEngine) = e.codes.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).sortBy(_._1).toSeq
    assert(centsOf(full) == centsOf(eng))
    assert(codesOf(full) == codesOf(eng))
    full.close()
    // a real subsample trains different (fewer-informed) quantizers but
    // still encodes EVERY row, deterministically across rebuilds
    val n = embs.count()
    val s1 = VectorEngine.build(embs, trainSampleRows = n / 3)
    val s2 = VectorEngine.build(embs, trainSampleRows = n / 3)
    assert(centsOf(s1) == centsOf(s2))
    assert(codesOf(s1) == codesOf(s2))
    assert(s1.codes.count() == n, "encode pass must cover the full corpus")
    val hits = s1.query(
      embs.filter(col("vec_id") === 7L).head().getSeq[Float](1).toArray,
      k = 3, mode = "ivfpq", nprobe = 8)
    assert(hits.nonEmpty && hits.head._1 == 7L,
      "sampled-training index must still retrieve the query's own vector")
    s1.close(); s2.close()
  }
}
