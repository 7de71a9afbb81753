package graft

import graft.core.Lsh
import graft.operators.{Dedup, StandingCorpus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StandingCorpus: disk-resident incremental-dedup artifacts — trickle
  * (partition-pruned) classify must equal the bulk scan path bit for
  * bit, appends must stay under the bucket cap, and a trickle probe must
  * NOT read the whole standing corpus. */
class StandingCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-standing-spec").toString

  /** Synthetic corpus: 30-word docs; ids in [0, n). Doc i shares a text
    * family with i - (i % 5) so near-dups exist (one word differs). */
  private def mkDocs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val fam = i - (i % 5)
      val words = (0 until 30).map(w => s"w${(fam * 31 + w) % 97}")
      val text =
        if (i % 5 == 0) words.mkString(" ")
        else (words.dropRight(1) :+ s"x$i").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")

  private def statuses(df: DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  test("trickle classify equals the bulk scan path (exact/near/new + dup batch ids)") {
    val dir = tmpDir()
    val corpus = mkDocs(0L until 200L)
    val sc = StandingCorpus.build(corpus, null, dir)
    // batch: exact copies (re-keyed corpus texts), near-dups (one word
    // changed from a family base), fresh docs, and a DUPLICATE id
    val base = mkDocs(Seq(0L, 5L)).select(col("text")).as[String].collect()
    val batch = Seq(
      (1000L, base(0)),                                    // exact
      (1001L, base(1)),                                    // exact
      (1002L, base(0).split(" ").dropRight(1).mkString(" ") + " y1"), // near
      (1003L, (0 until 30).map(w => s"f$w").mkString(" ")), // fresh
      (1003L, (0 until 30).map(w => s"f$w").mkString(" ")), // dup id
      (1004L, (0 until 30).map(w => s"g$w").mkString(" "))  // fresh
    ).toDF("doc_id", "text")
    val trickle = statuses(sc.classify(batch))
    // bulk twin over the same standing artifacts
    val batchSigs = StandingCorpus.sign(batch, sc.currentMeta)
    val bulk = statuses(Dedup.incrementalStatus(
      corpus, StandingCorpus.sign(corpus, sc.currentMeta), batch, batchSigs))
    assert(trickle === bulk)
    assert(trickle.toMap.apply(1000L) === "exact")
    assert(trickle.toMap.apply(1002L) === "near")
    assert(trickle.toMap.apply(1003L) === "new")
  }

  test("absorb evolves state: a later batch sees earlier 'new' docs as dups") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 100L), null, dir)
    val freshText = (0 until 30).map(w => s"q$w").mkString(" ")
    val nearText = (0 until 29).map(w => s"q$w").mkString(" ") + " qz"
    val b1 = Seq((500L, freshText)).toDF("doc_id", "text")
    val st1 = statuses(sc.classifyAbsorb(b1))
    assert(st1 === Seq((500L, "new")))
    val b2 = Seq((600L, freshText), (601L, nearText)).toDF("doc_id", "text")
    val st2 = statuses(sc.classifyAbsorb(b2)).toMap
    assert(st2(600L) === "exact", "repeat of an absorbed doc must be exact")
    assert(st2(601L) === "near", "near-dup of an absorbed doc must be near")
  }

  test("append-under-cap equals keep-smallest re-cap for monotone ids") {
    val dir = tmpDir()
    // one shared text -> every doc lands in the same buckets; cap 3
    val clique = (0L until 8L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val lsh = Lsh.Params(maxBucketSize = 3)
    val sc = StandingCorpus.build(clique, null, dir, lsh = lsh)
    // absorb two batches of fresh docs that ALSO share one new text
    val t2 = "one two three four five six seven"
    val b1 = (100L until 104L).map(i => (i, t2)).toDF("doc_id", "text")
    // batch-vs-standing semantics: batch-internal dups are all 'new'
    // (the d16 contract) — all four get absorbed, but their postings
    // must land under the cap
    val st1 = statuses(sc.classifyAbsorb(b1))
    assert(st1.forall(_._2 == "new"), s"fresh text vs standing is new: $st1")
    // a later repeat of the absorbed text is an exact dup
    val st2 = statuses(sc.classify(Seq((200L, t2)).toDF("doc_id", "text")))
    assert(st2 === Seq((200L, "exact")))
    // standing index buckets must hold at most cap entries
    val overCap = sc.fullIndex.groupBy("band", "key64", "key64b")
      .agg(count(lit(1)).as("n")).filter(col("n") > 3).count()
    assert(overCap === 0L, "no bucket may exceed the cap after appends")
    // re-cap twin: postings over the grown sig table, capped globally
    val grownSigs = sc.fullSigs
    val recap = Lsh.postings(grownSigs, "doc_id", "sig", lsh)
      .select("id", "band", "key64", "key64b")
    val appended = sc.fullIndex.select("id", "band", "key64", "key64b")
    assert(appended.exceptAll(recap).count() === 0L &&
      recap.exceptAll(appended).count() === 0L,
      "append-under-cap must equal global keep-smallest re-cap for monotone ids")
  }

  test("trickle probe reads a small fraction of the standing bytes") {
    val dir = tmpDir()
    val corpus = mkDocs(0L until 3000L)
    val sc = StandingCorpus.build(corpus, null, dir)
    // warm: file listing + first probe compile
    sc.classify(Seq((9000L, "warm up probe text one two three")).toDF("doc_id", "text"))
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    val standingBytes = {
      val d = new java.io.File(s"$dir/v1")
      def sz(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(sz).sum else f.length()
      sz(d)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val batch = Seq(
        (9001L, mkDocs(Seq(40L)).select(col("text")).as[String].head()),
        (9002L, (0 until 30).map(w => s"z$w").mkString(" "))
      ).toDF("doc_id", "text")
      val st = statuses(sc.classify(batch)).toMap
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      assert(st(9001L) === "exact" && st(9002L) === "new")
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"trickle bytesRead=${bytesRead.get} standingBytes=$standingBytes")
    assert(bytesRead.get < standingBytes / 2,
      s"trickle probe read ${bytesRead.get} of $standingBytes standing bytes — pruning is not engaging")
  }

  test("compact folds deltas into a new version; open() resumes from disk") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 100L), null, dir)
    val t = (0 until 30).map(w => s"c$w").mkString(" ")
    sc.classifyAbsorb(Seq((300L, t)).toDF("doc_id", "text"))
    sc.compact()
    assert(sc.currentVersion === 2)
    assert(!new java.io.File(s"$dir/v1").exists(), "old version dir removed")
    // post-compaction classify still sees the absorbed doc
    val st = statuses(sc.classify(Seq((400L, t)).toDF("doc_id", "text")))
    assert(st === Seq((400L, "exact")))
    // reopen from disk only
    val sc2 = StandingCorpus.open(spark, dir)
    assert(sc2.currentMeta.nDocs === 101L)
    val st2 = statuses(sc2.classify(Seq((401L, t)).toDF("doc_id", "text")))
    assert(st2 === Seq((401L, "exact")))
  }

  test("pushed-key probes (the past-the-ceiling path) equal the bulk verdicts") {
    val dir = tmpDir()
    val corpus = mkDocs(0L until 200L)
    val sc = StandingCorpus.build(corpus, null, dir)
    sc.keyPushdownOverride = Some(true) // the gate only opens past MaxParts x perPart
    val base = mkDocs(Seq(0L, 5L)).select(col("text")).as[String].collect()
    val batch = Seq(
      (1000L, base(0)),                                               // exact
      (1002L, base(1).split(" ").dropRight(1).mkString(" ") + " y1"), // near
      (1003L, (0 until 30).map(w => s"pk$w").mkString(" "))           // fresh
    ).toDF("doc_id", "text")
    val trickle = statuses(sc.classifyAbsorb(batch))
    val bulk = statuses(Dedup.incrementalStatus(
      corpus, StandingCorpus.sign(corpus, sc.currentMeta), batch,
      StandingCorpus.sign(batch, sc.currentMeta)))
    assert(trickle === bulk, "pushed-key trickle must equal the bulk path")
    assert(trickle.toMap.apply(1000L) === "exact")
    assert(trickle.toMap.apply(1002L) === "near")
    assert(trickle.toMap.apply(1003L) === "new")
    // the absorb (whose admit-under-cap count also reads through the
    // pushed probes) must have indexed the fresh doc
    val again = statuses(sc.classify(
      Seq((1100L, (0 until 30).map(w => s"pk$w").mkString(" "))).toDF("doc_id", "text")))
    assert(again === Seq((1100L, "exact")))
  }

  test("read-locked classifies racing an absorb keep serial verdicts and never raise the caller's threshold") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 200L), null, dir)
    sc.keyPushdownOverride = Some(true) // every tier runs its pushed-key probe
    val base = mkDocs(Seq(0L, 5L, 10L, 15L)).select(col("text")).as[String].collect()
    // per batch: an exact copy, a near-dup and a fresh text — none shares
    // a shingle with the absorbed batch, so the race cannot move a verdict
    val probes = base.indices.map { j =>
      Seq((2000L + 10 * j, base(j)),
        (2001L + 10 * j, base(j).split(" ").dropRight(1).mkString(" ") + s" y$j"),
        (2002L + 10 * j, (0 until 30).map(w => s"cp${j}_$w").mkString(" ")))
        .toDF("doc_id", "text")
    }
    val absorbed = (0 until 4).map(i => (3000L + i, (0 until 30).map(w => s"ab${i}_$w").mkString(" ")))
      .toDF("doc_id", "text")
    val serial = probes.map(p => statuses(sc.classifyShared(p)))
    assert(serial.forall(_.map(_._2) == Seq("exact", "near", "new")), serial)

    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val raised = StandingCorpus.MaxPushedKeys.toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def sample(): Unit = seen.add(spark.conf.getOption(key).getOrElse("unset"))
    val listener = new SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = sample()
    }
    val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(probes.size + 2)
    @volatile var racing = true
    spark.sparkContext.addSparkListener(listener)
    try {
      // a direct sampler too: listener events arrive asynchronously
      val sampler = pool.submit(new Runnable {
        def run(): Unit = { go.await(); while (racing) { sample(); Thread.sleep(1) } }
      })
      def locked[A](l: java.util.concurrent.locks.Lock)(body: => A) =
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = { go.await(); l.lock(); try body finally l.unlock() }
        })
      val classifies = probes.map(p => locked(lock.readLock())(statuses(sc.classifyShared(p))))
      val absorb = locked(lock.writeLock())(statuses(sc.classifyAbsorb(absorbed)))
      go.countDown()
      val concurrent = classifies.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(absorb.get(300, java.util.concurrent.TimeUnit.SECONDS).forall(_._2 == "new"))
      racing = false
      sampler.get()
      assert(concurrent === serial, "concurrent verdicts must equal the serial ones")
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    } finally {
      racing = false
      spark.sparkContext.removeSparkListener(listener)
      pool.shutdownNow()
    }
    val raisedReads = seen.toArray.count(_ == raised)
    assert(!seen.isEmpty)
    assert(raisedReads == 0,
      s"$raisedReads of ${seen.size} reads saw the caller session's $key raised to $raised")
    // the absorbed batch is visible afterwards
    assert(statuses(sc.classify(absorbed)).forall(_._2 == "exact"))
  }

  test("a parallel build whose index write fails keeps a writer's error as suppressed and releases its checkpoint") {
    // a regular file where the version dir belongs: the index write on
    // the calling thread fails, and so do the hashes and sigs writes on
    // their own threads
    val dir = tmpDir()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "v1"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Throwable](StandingCorpus.build(mkDocs(0L until 20L), null, dir))
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(e.getSuppressed.exists(
      chain(_).exists(_.isInstanceOf[org.apache.hadoop.fs.ParentNotDirectoryException])),
      s"writer error lost: $e")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the signature checkpoint must be released on the failure path")
  }

  test("Lsh.admitUnderCap equals capBuckets over the grown union for monotone ids") {
    // the one-shared-owner pin (round-13 verdict #5): the append-time
    // admit discipline and the batch re-cap must be the same semantics
    val mk = (ids: Seq[Long]) => {
      val sigs = mkDocs(ids).select(col("doc_id"),
        graft.functions.GraftFunctions.minhash_signature(
          graft.functions.GraftFunctions.shingle_hashes_md5(
            graft.core.Shingling.shingles(col("text"), 3, byWord = true))).as("sig"))
      sigs
    }
    val lsh = Lsh.Params(maxBucketSize = 2)
    // shared text families force over-cap buckets across the split
    val standingSigs = mk(0L until 12L)
    val newSigs = mk(12L until 20L)
    val standing = Lsh.postings(standingSigs, "doc_id", "sig", lsh)
      .localCheckpoint(true)
    val newKeys = Lsh.postings(newSigs, "doc_id", "sig", lsh)
    val standCnt = standing
      .join(newKeys.select("band", "key64", "key64b").distinct(),
        Seq("band", "key64", "key64b"))
      .groupBy("band", "key64", "key64b").agg(count(lit(1)).as("_cnt"))
    val admitted = standing.select("id", "band", "key64", "key64b")
      .unionByName(Lsh.admitUnderCap(newKeys, standCnt, lsh.maxBucketSize))
    val recap = Lsh.postings(standingSigs.unionByName(mk(12L until 20L)),
      "doc_id", "sig", lsh).select("id", "band", "key64", "key64b")
    assert(admitted.exceptAll(recap).count() === 0L &&
      recap.exceptAll(admitted).count() === 0L,
      "admitUnderCap + standing must equal capBuckets over the union")
    // uncapped contract: everything admitted
    assert(Lsh.admitUnderCap(newKeys, null, 0).count() === newKeys.count())
  }

  test("background compaction: ingest continues, swap adopts the new version") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 100L), null, dir)
    sc.compactEveryBatches = 1
    sc.compactInBackground = true
    val tA = (0 until 30).map(w => s"bg$w").mkString(" ")
    val tB = (0 until 30).map(w => s"bh$w").mkString(" ")
    // batch A triggers a background build; batch B absorbs while (or
    // right after) it runs — its delta must survive the swap
    assert(statuses(sc.classifyAbsorb(Seq((900L, tA)).toDF("doc_id", "text")))
      === Seq((900L, "new")))
    assert(statuses(sc.classifyAbsorb(Seq((901L, tB)).toDF("doc_id", "text")))
      === Seq((901L, "new")))
    sc.awaitCompaction()
    assert(sc.currentVersion >= 2, "background compaction must have swapped in")
    assert(!new java.io.File(s"$dir/v1").exists(), "old version dir removed")
    val st = statuses(sc.classify(
      Seq((910L, tA), (911L, tB)).toDF("doc_id", "text"))).toMap
    assert(st(910L) === "exact" && st(911L) === "exact",
      "both pre- and mid-compaction absorbs must be visible after the swap")
    // reopen from disk resumes at the compacted version
    sc.awaitCompaction()
    sc.compact()
    val sc2 = StandingCorpus.open(spark, dir)
    assert(sc2.currentMeta.nDocs === 102L)
    assert(statuses(sc2.classify(Seq((912L, tA)).toDF("doc_id", "text")))
      === Seq((912L, "exact")))
  }

  test("uncapped params (maxBucketSize <= 0): absorbed docs are still found by later batches") {
    val dir = tmpDir()
    // maxBucketSize <= 0 is Lsh.capBuckets' UNCAPPED contract — absorb
    // must append every posting, not drop them all (round-13 advice)
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir,
      lsh = Lsh.Params(maxBucketSize = 0))
    val fresh = (0 until 30).map(w => s"u$w").mkString(" ")
    val near = (0 until 29).map(w => s"u$w").mkString(" ") + " uz"
    assert(statuses(sc.classifyAbsorb(Seq((900L, fresh)).toDF("doc_id", "text")))
      === Seq((900L, "new")))
    val st = statuses(sc.classify(
      Seq((901L, fresh), (902L, near)).toDF("doc_id", "text"))).toMap
    assert(st(901L) === "exact", "uncapped absorb must index the new doc's hash")
    assert(st(902L) === "near", "uncapped absorb must append the new doc's postings")
  }

  test("null text rows classify as 'new' on both paths (no NPE in pruning)") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir)
    val batch = Seq((800L -> Option(mkDocs(Seq(0L)).select(col("text")).as[String].head())),
      (801L -> Option.empty[String]))
      .map { case (id, t) => (id, t.orNull) }.toDF("doc_id", "text")
    val trickle = statuses(sc.classify(batch))
    sc.trickleMaxDocs = 0L // force bulk
    val bulk = statuses(sc.classify(batch))
    assert(trickle === bulk, "null-keyed rows must fall through identically")
    assert(trickle.toMap.apply(801L) === "new")
    assert(trickle.toMap.apply(800L) === "exact")
  }

  test("all-duplicate batches (empty deltas) do not trigger a compaction rewrite") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir)
    sc.compactEveryBatches = 2
    sc.compactInBackground = false // this pins the SYNC scheduled path
    val dup = mkDocs(Seq(0L)).select(col("text")).as[String].head()
    // two all-dup batches hit the compaction trigger with nothing to fold
    assert(statuses(sc.classifyAbsorb(Seq((700L, dup)).toDF("doc_id", "text")))
      === Seq((700L, "exact")))
    assert(statuses(sc.classifyAbsorb(Seq((701L, dup)).toDF("doc_id", "text")))
      === Seq((701L, "exact")))
    assert(sc.currentVersion === 1,
      "empty deltas must short-circuit compact(), not rewrite the corpus")
    // and the counter actually reset: a real absorb later still compacts
    val fresh = (0 until 30).map(w => s"v$w").mkString(" ")
    sc.classifyAbsorb(Seq((702L, fresh)).toDF("doc_id", "text"))
    sc.classifyAbsorb(Seq((703L, dup)).toDF("doc_id", "text"))
    assert(sc.currentVersion === 2, "non-empty deltas must still compact on schedule")
    assert(statuses(sc.classify(Seq((704L, fresh)).toDF("doc_id", "text")))
      === Seq((704L, "exact")))
  }

  test("bulk fallback path (batch > trickleMaxDocs) matches trickle verdicts") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir)
    val batch = mkDocs(Seq(0L, 1L)).select((col("doc_id") + 700L).as("doc_id"), col("text"))
    val trickle = statuses(sc.classify(batch))
    sc.trickleMaxDocs = 1L // force the bulk path
    val bulk = statuses(sc.classify(batch))
    assert(trickle === bulk)
  }
}
