package graftbench

/** Tests of the benchmark's own helpers: percentiles and their sample
  * counts, the file -> layer map used for job attribution, and per-seed
  * determinism of the request generators. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("nearest-rank percentiles") {
      val xs = (1 to 100).map(_.toDouble).toArray
      eq(Stats.percentile(xs, 0.5), 50.0)
      eq(Stats.percentile(xs, 0.99), 99.0)
      eq(Stats.percentile(xs, 1.0), 100.0)
      eq(Stats.percentile(Array(7.0), 0.5), 7.0)
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    }
    test("tail level leaves at least ten samples beyond it") {
      eq(Stats.tailLevel(10000), 0.999)
      eq(Stats.tailLevel(9999), 0.99)
      eq(Stats.tailLevel(1000), 0.99)
      eq(Stats.tailLevel(999), 0.95)
      eq(Stats.tailLevel(200), 0.95)
      eq(Stats.tailLevel(100), 0.9)
      eq(Stats.tailLevel(20), 0.5)
      eq(Stats.tailLevel(19), 1.0)
      for (n <- 1 to 3000) {
        val lv = Stats.tailLevel(n)
        if (lv < 1.0) assert(n - math.ceil(lv * n - 1e-9) >= Stats.MinBeyond, s"n=$n level=$lv")
      }
    }
    test("summaries carry their sample count and tail name") {
      val s = Stats.summarize((1 to 1000).map(_.toDouble), 0.99)
      eq((s.n, s.p50, s.tailName, s.tail), (1000, 500.0, "p99", 990.0))
      val fixed = Stats.summarize((1 to 200).map(_.toDouble), 0.8)
      eq((fixed.n, fixed.tailName, fixed.tail), (200, "p80", 160.0))
      // too few samples beyond p99: lowered to the highest level that has ten
      val lowered = Stats.summarize((1 to 500).map(_.toDouble), 0.99)
      eq((lowered.tailName, lowered.tail), ("p95", 475.0))
      eq(Stats.summarize(Seq(1.0, 5.0), 1.0).tail, 5.0)
    }
    test("tally counts failures against attempts") {
      val t = new Stats.Tally
      t.attempt(ok = true); t.attempt(ok = false, "bad"); t.attempt(ok = true); t.attempt(ok = true)
      eq((t.attempted, t.failed, t.failedFrac, t.failureNotes), (4L, 1L, 0.25, Seq("bad")))
    }
    test("files map to the engine's layers") {
      eq(Layers.ofFile("QueryService.scala"), Some("service"))
      eq(Layers.ofFile("QueryEngine.scala"), Some("api.engine"))
      eq(Layers.ofFile("Lsh.scala"), Some("core.lsh"))
      Seq("MinHashPipeline.scala", "Kernels.scala", "Shingling.scala")
        .foreach(f => eq(Layers.ofFile(f), Some("core.minhash")))
      eq(Layers.ofFile("StandingCorpus.scala"), Some("operators.standing"))
      eq(Layers.ofFile("Dedup.scala"), Some("operators.dedup"))
      eq(Layers.ofFile("VectorEngine.scala"), None)
      eq(Layers.ofFile("SparkEntry.scala"), None)
    }
    test("call sites map by their first mapped graft frame") {
      val site = Seq(
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:3600)",
        "graft.functions.TopKByScore$.run(TopKByScore.scala:10)",
        "graft.core.Lsh$.queryProbeCached(Lsh.scala:512)",
        "graft.api.QueryEngine.query(QueryEngine.scala:66)",
        "graft.api.QueryService$.handle(QueryService.scala:140)").mkString("\n")
      eq(Layers.ofCallSite(site), Some("core.lsh"))
      eq(Layers.ofCallSite("app//graft.operators.StandingCorpus.$anonfun$classify$1(StandingCorpus.scala:873)"),
        Some("operators.standing"))
      eq(Layers.ofCallSite("graftbench.BatchPipeline.pass(BatchPipeline.scala:90)\n" +
        "graftbench.Main$.main(Main.scala:80)"), None)
      eq(Layers.ofCallSite(null), None)
    }
    test("request generators are deterministic per seed") {
      val z = new Requests.Zipf(20000, 1.2)
      def draws(seed: Long, client: Int) = {
        val r = Requests.clientRng(seed, client)
        Seq.fill(500)(z.sample(r))
      }
      eq(draws(7, 0), draws(7, 0))
      assert(draws(7, 0) != draws(8, 0), "different seeds gave the same stream")
      assert(draws(7, 0) != draws(7, 1), "different clients gave the same stream")
      eq(Requests.permutation(1000, 3).toSeq, Requests.permutation(1000, 3).toSeq)
      eq(Requests.permutation(1000, 3).sorted.toSeq, (0 until 1000))
      eq(Requests.distinctSample(64, 0, 10000, 5).toSeq, Requests.distinctSample(64, 0, 10000, 5).toSeq)
      eq(Requests.distinctSample(64, 0, 10000, 5).distinct.length, 64)
    }
    test("zipf draws stay in range and favour low ranks") {
      val z = new Requests.Zipf(100, 1.2)
      val r = Requests.clientRng(1, 0)
      val xs = Array.fill(20000)(z.sample(r))
      assert(xs.forall(x => x >= 0 && x < 100))
      assert(xs.count(_ == 0) > xs.count(_ == 50) * 10, "rank 0 is not the hottest")
      // P(rank 0) = 1 / H(100, 1.2)
      val p0 = 1.0 / (1 to 100).map(r => math.pow(r.toDouble, -1.2)).sum
      assert(math.abs(xs.count(_ == 0) / 20000.0 - p0) < 0.02, "rank-0 mass off")
    }
    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
