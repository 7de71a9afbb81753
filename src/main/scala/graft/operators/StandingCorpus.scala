package graft.operators

import graft.core.{Lsh, Shingling}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Disk-resident STANDING-CORPUS dedup artifacts with partition-pruned
  * trickle probes and append-under-cap ingest — the piece that makes
  * incremental dedup (d16) and its streaming form (s14) actually
  * incremental at a 100 TB standing corpus.
  *
  * The one-shot [[Dedup.incrementalStatusIndexed]] is the right BULK
  * shape (one scan of the standing artifacts per large increment), but a
  * trickle ingest — a few hundred docs per micro-batch against a
  * 16M+ doc corpus — must not pay a corpus-sized scan per batch. Here
  * the three standing tables are laid out as hash-partitioned parquet
  * (`_pb = hash(key) mod P`, P sized so partitions stay ~fixed-row) and
  * every probe first computes the batch's own `_pb` set (a tiny Spark
  * job over the batch), then reads ONLY those partitions:
  *
  *  - `hashes/`   (_h)                   partitioned by md5-prefix mod P
  *  - `sigs/`     (doc_id, sig)          partitioned by xxhash64(doc_id) mod P
  *  - `index/`    (id, band, key64, key64b) partitioned by key64 mod P
  *
  * Per-batch I/O is therefore bounded by (batch keys) x (rows per
  * partition) — independent of the standing corpus size once P exceeds
  * the batch's key count — instead of a full scan that grows linearly
  * with the corpus (measured 6/26/104 s per increment at 1M/4M/16M for
  * the scan form). Batches larger than `trickleMaxDocs` fall back to
  * the bulk scan path, which is cheaper per-doc at that size; both paths
  * return IDENTICAL verdicts (pruning only removes rows that cannot
  * join; StandingCorpusSpec pins equality).
  *
  * Ingest is APPEND-UNDER-CAP, the production discipline SURVEY §2.2
  * names (and [[graft.api.QueryEngine.addDocuments]] applies): a new
  * doc's postings are admitted only while their bucket holds fewer than
  * `maxBucketSize` standing entries — the standing index is never
  * re-capped. With monotonically increasing doc ids (arrival order =
  * id order, the contract of every gate fixture) this is bit-identical
  * to re-resolving keep-smallest-ids over the grown corpus, because a
  * bucket's cap-smallest ids are exactly its earliest arrivals; with
  * out-of-order ids an over-cap bucket may keep arrival-order instead
  * of id-order members (the documented production trade).
  *
  * Appends land in bounded in-memory DELTAS (per-batch localCheckpoints
  * — O(batch) each, never a re-copy of the standing state); probes union
  * base + deltas; when `compactEveryBatches` deltas accumulate, they are
  * folded into a new base VERSION on disk (LSM-style major compaction,
  * amortized O(corpus / compactEveryBatches) per batch).
  *
  * Signature family: md5-hashed word k-shingles (K=3 by default), the
  * oracle-replayable family every dedup gate uses.
  *
  * Threading: mutating calls (classify, classifyAbsorb, compact,
  * swapCompactedIfReady) belong to a single owner — an ingest loop
  * (Structured Streaming serializes micro-batches per query) or a write
  * lock. [[StandingCorpus.classifyShared]] may run concurrently under
  * the matching read lock. The standing tables are read through the
  * corpus's own clone of the caller's session, so no probe ever sets
  * conf on the caller's session.
  */
object StandingCorpus {

  /** Standing-table metadata persisted beside the versioned data dirs. */
  final case class Meta(version: Int, nDocs: Long, pHash: Int, pSig: Int,
                        pIdx: Int, kShingle: Int, byWord: Boolean,
                        bands: Int, numPerm: Int, maxBucketSize: Int,
                        threshold: Double) {
    def lsh: Lsh.Params = Lsh.Params(bands, numPerm, maxBucketSize)
  }

  /** Rows-per-partition targets: partitions stay small enough that a
    * trickle probe's touched-partition I/O is bounded by the BATCH's key
    * count (a 128-doc batch emits 4096 band keys; with 8192 postings per
    * partition the index probe reads ≤ 4096 x 8192 rows no matter how
    * large the standing corpus grows), and few enough that directory
    * listing stays sane (≤ MaxParts dirs per table).
    *
    * ABOVE MaxParts x perPart rows, a SECOND pruning level takes over
    * (round-14; previously the probe cost degraded linearly past the
    * partition ceiling — exactly at the measured 16M-doc scale): every
    * partition file is written SORTED on its probe key with small
    * parquet row groups ([[RowGroupBytes]]), and each probe pushes its
    * collected key set down as an In filter, so parquet row-group
    * min/max pruning bounds the rows read inside a fat partition by
    * (batch keys x rows-per-row-group) — corpus-independent again
    * (verified empirically: a 4096-key probe over sorted 1MB row groups
    * reads only the matching groups; StandingCorpusSpec pins bytes
    * read). Signature partitions are row-few because sig rows are fat
    * (128 longs each). */
  private[operators] val HashRowsPerPart = 8192L
  private[operators] val SigRowsPerPart = 512L
  private[operators] val IdxRowsPerPart = 8192L
  private val MinParts = 16
  private val MaxParts = 65536

  /** Parquet row-group size for the standing tables: small groups are
    * what makes row-group min/max pruning the sub-partition pruning
    * level once partitions grow past their row target (a fat partition
    * file splits into rows x ~15 B / 64 KiB groups; a probe key lands in
    * ~one group, so per-file I/O stays ~RowGroupBytes no matter how fat
    * the file gets). The bulk-scan penalty of more groups is footer
    * metadata only. */
  private val RowGroupBytes = 65536L

  /** Probe-key sets larger than this are not pushed as In filters
    * (partition pruning still applies) — bounds both the driver collect
    * and the per-row-group predicate evaluation cost. Also the probe
    * session's parquet In-filter threshold: Spark 4 turns an In with
    * more values than the threshold (default 10) into one gteq/lteq
    * RANGE predicate for parquet pushdown, and probe keys are uniform
    * hashes, so that range spans the whole domain and prunes no row
    * group. */
  private[graft] val MaxPushedKeys = 32768

  private[operators] def partsFor(rows: Long, perPart: Long): Int = {
    var p = MinParts
    while (p < MaxParts && p.toLong * perPart < rows) p *= 2
    p
  }

  /** The partition-bucket expressions — MUST match between build and
    * probe (both sides evaluate them in Spark, never on the driver). */
  private def pbHash(h: org.apache.spark.sql.Column, p: Int) =
    pmod(conv(substring(h, 1, 15), 16, 10).cast("long"), lit(p.toLong)).cast("int")
  private def pbSig(id: org.apache.spark.sql.Column, p: Int) =
    pmod(xxhash64(id), lit(p.toLong)).cast("int")
  private def pbIdx(key64: org.apache.spark.sql.Column, p: Int) =
    pmod(key64, lit(p.toLong)).cast("int")

  /** The three table writers, shared by [[build]] and compaction. */
  private def writeHashes(hashes: DataFrame, m: Meta, v: String): Unit =
    writePartitioned(hashes, pbHash(col("_h"), m.pHash), m.pHash, s"$v/hashes",
      col("_h"), m.nDocs, HashRowsPerPart)
  private def writeSigs(sigs: DataFrame, m: Meta, v: String): Unit =
    writePartitioned(sigs, pbSig(col("doc_id"), m.pSig), m.pSig, s"$v/sigs",
      col("doc_id"), m.nDocs, SigRowsPerPart)
  private def writeIndex(postings: DataFrame, m: Meta, v: String): Unit =
    writePartitioned(postings, pbIdx(col("key64"), m.pIdx), m.pIdx, s"$v/index",
      col("key64"), m.nDocs * m.bands, IdxRowsPerPart)

  /** Sign (id, text) rows with the md5 shingle family. */
  def sign(docs: DataFrame, meta: Meta, idCol: String = "doc_id",
           textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as(idCol),
      minhash_signature(shingle_hashes_md5(
        Shingling.shingles(col(textCol), meta.kShingle, byWord = meta.byWord))).as("sig"))

  private def writePartitioned(df: DataFrame, pbCol: org.apache.spark.sql.Column,
                               nParts: Int, path: String,
                               sortKey: org.apache.spark.sql.Column,
                               rows: Long, perPart: Long): Unit = {
    // repartition ON the bucket column so every partition dir is written
    // by exactly one task -> one file per dir; task count bounded below
    // nParts so tiny-partition task overhead stays sane. Rows are sorted
    // on the probe key WITHIN each partition file so the pushed In
    // filters prune at row-group granularity inside fat partitions —
    // but the SMALL row groups that make that pruning fine-grained are
    // written only once the table is actually past its partition ceiling
    // (fat files): below it every file is probe-read whole anyway, and
    // the extra group boundaries measurably tax the bulk scans
    // (~20% on the 1M-doc bulk contrast).
    val fat = nParts.toLong * perPart < rows
    val withPb = df.withColumn("_pb", pbCol)
    val tasks = math.max(32, math.min(nParts, 2048))
    val sorted = withPb.repartition(tasks, col("_pb"))
      .sortWithinPartitions(col("_pb"), sortKey)
      .write.mode("overwrite")
    (if (fat) sorted.option("parquet.block.size", RowGroupBytes) else sorted)
      .partitionBy("_pb").parquet(path)
  }

  /** Build the standing artifacts from a deduplicated corpus. `sigs` may
    * be precomputed (id, sig) — pass null to sign `docs` here. One
    * O(corpus) pass, paid once; every increment afterwards reads only
    * its own buckets. */
  def build(docs: DataFrame, sigs: DataFrame, dir: String,
            threshold: Double = 0.5, idCol: String = "doc_id",
            textCol: String = "text", kShingle: Int = 3, byWord: Boolean = true,
            lsh: Lsh.Params = Lsh.Params()): StandingCorpus = {
    val spark = docs.sparkSession
    val nDocs = docs.count()
    val meta = Meta(1, nDocs,
      partsFor(nDocs, HashRowsPerPart), partsFor(nDocs, SigRowsPerPart),
      partsFor(nDocs * lsh.bands, IdxRowsPerPart),
      kShingle, byWord, lsh.bands, lsh.numPerm, lsh.maxBucketSize, threshold)
    val s = Option(sigs).getOrElse(sign(docs, meta, idCol, textCol))
      .select(col(idCol).cast("long").as("doc_id"), col("sig"))
    val v = s"$dir/v1"
    val hashes = docs.select(md5(col(textCol)).as("_h"))
    def postings(sf: DataFrame) = Lsh.postings(sf, "doc_id", "sig", lsh)
    // The three table writes are mutually independent once the signature
    // frame is materialized, so below the size gate ALL THREE overlap
    // (guide: submit independent jobs from driver threads so one job's
    // task tail back-fills the others): one eager localCheckpoint
    // materializes the (expensive) signature projection exactly once —
    // the job the serial path saved by reading back the written sig
    // table — and sigs + index both derive from the checkpoint, cutting
    // the critical path from (sigs write + sigs read + index write) to
    // max(one write). Gated on corpus size: at tens of millions of docs
    // the concurrent shuffles' combined disk footprint is the constraint
    // (the same reason compaction writes serially with GC between
    // tables), so big builds keep the serial order.
    if (nDocs <= ParallelBuildMaxDocs) {
      val sMat = s.localCheckpoint(true)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      def th(name: String)(body: => Unit): Thread = {
        val t = new Thread(() => try body catch {
          case e: Throwable => err.compareAndSet(null, e)
        }, name)
        t.setDaemon(true)
        t.start()
        t
      }
      val ts = Seq(th("graft-standing-build-hashes")(writeHashes(hashes, meta, v)),
        th("graft-standing-build-sigs")(writeSigs(sMat, meta, v)))
      // join in a finally: the method must not return/throw while a
      // writer thread is still writing into $dir — a caller that catches
      // and retries build() into the same dir would otherwise race two
      // concurrent writers on one path. A writer's error rides along as
      // suppressed when the index write failed too.
      var failure: Throwable = null
      try writeIndex(postings(sMat), meta, v)
      catch { case e: Throwable => failure = e; throw e }
      finally {
        ts.foreach(_.join())
        graft.api.QueryEngine.releaseFrame(sMat)
        val writerErr = err.get()
        if (writerErr != null) {
          if (failure != null) failure.addSuppressed(writerErr) else throw writerErr
        }
      }
    } else {
      writeHashes(hashes, meta, v)
      writeSigs(s, meta, v)
      // sign from the WRITTEN sig table so the (expensive) signature
      // projection is not recomputed for the postings pass
      writeIndex(postings(spark.read.parquet(s"$v/sigs").drop("_pb")), meta, v)
    }
    writeMeta(dir, meta)
    new StandingCorpus(spark, dir, meta)
  }

  /** Past this corpus size [[build]] writes its three tables serially:
    * concurrent corpus-sized shuffles double the transient shuffle-file
    * disk footprint, the measured failure mode of large compactions. */
  private val ParallelBuildMaxDocs = 1L << 22

  /** Open standing artifacts previously written by [[build]] (or left by
    * a [[StandingCorpus.compact]]) — the serving-start path: no corpus
    * pass, just the meta read and lazy partitioned-table handles. */
  def open(spark: SparkSession, dir: String): StandingCorpus = {
    val meta = readMeta(dir)
    // drop version dirs meta does not reference: a crash between a
    // background compaction completing and its swap (or between the
    // swap's meta write and the old-dir delete) leaves one orphan.
    // `.build-v*` dirs are crash leftovers of UNFINISHED builds (the
    // builder renames to v* only at completion), removed likewise —
    // a live builder's temp dir is only at risk from a second opener,
    // which the single-owner contract already forbids.
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory &&
        (f.getName.startsWith(".build-v") ||
          (f.getName.startsWith("v") && f.getName != s"v${meta.version}")))
      .foreach(deleteRecursivelyStatic)
    new StandingCorpus(spark, dir, meta)
  }

  private def deleteRecursivelyStatic(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursivelyStatic)
    f.delete()
  }

  private def metaFile(dir: String) = new java.io.File(dir, "meta.json")

  private[operators] def writeMeta(dir: String, m: Meta): Unit = {
    val json =
      s"""{"version":${m.version},"nDocs":${m.nDocs},"pHash":${m.pHash},"pSig":${m.pSig},
         |"pIdx":${m.pIdx},"kShingle":${m.kShingle},"byWord":${m.byWord},
         |"bands":${m.bands},"numPerm":${m.numPerm},"maxBucketSize":${m.maxBucketSize},
         |"threshold":${m.threshold}}""".stripMargin.replace("\n", "")
    val f = metaFile(dir)
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f)
    try w.write(json) finally w.close()
  }

  private[operators] def readMeta(dir: String): Meta = {
    val src = scala.io.Source.fromFile(metaFile(dir))
    val json = try src.mkString finally src.close()
    def field(name: String): String = {
      val m = s""""$name":([^,}]+)""".r.findFirstMatchIn(json)
      m.getOrElse(sys.error(s"missing $name in ${metaFile(dir)}")).group(1)
    }
    Meta(field("version").toInt, field("nDocs").toLong, field("pHash").toInt,
      field("pSig").toInt, field("pIdx").toInt, field("kShingle").toInt,
      field("byWord").toBoolean, field("bands").toInt, field("numPerm").toInt,
      field("maxBucketSize").toInt, field("threshold").toDouble)
  }
}

final class StandingCorpus private (val spark: SparkSession, val dir: String,
                                    private var meta: StandingCorpus.Meta) {
  import StandingCorpus._

  /** Batches above this size classify via the bulk scan path (one
    * standing scan beats thousands of pruned partition reads there). */
  var trickleMaxDocs: Long = 4096L
  /** Fold deltas into a new on-disk base version after this many
    * absorbed batches. */
  var compactEveryBatches: Int = 64
  /** When true (default), scheduled compactions run on a BACKGROUND
    * thread: the new version is built beside the live one from a
    * snapshot of base+deltas, and the ingest thread swaps to it at the
    * start of the next classify/absorb once the build completes — the
    * ingest loop never stalls on the O(corpus) rewrite (measured ~7 min
    * at 16M docs when synchronous). Deltas absorbed while the build
    * runs stay live across the swap. [[compact]] remains the
    * synchronous form. */
  var compactInBackground: Boolean = true

  /** Override for the past-the-ceiling key pushdown: Some(true) forces
    * it on every probe regardless of table size (spec hook — pins the
    * pushed-filter path's trickle==bulk identity at spec scale, where
    * the gate otherwise never opens), Some(false) disables it even past
    * the ceiling (the measurement contrast BenchIncremental exposes),
    * None = the size-gated default. */
  private[graft] var keyPushdownOverride: Option[Boolean] = None

  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointStats.strip(df.localCheckpoint(true))

  /** The session every standing-table read and driver-side frame goes
    * through: cloned once from the caller's (inheriting its runtime
    * confs) with the parquet In-filter threshold raised to
    * MaxPushedKeys, so pushed key sets stay OR-of-eq predicates and
    * row-group min/max pruning fires. A parquet scan takes that
    * threshold from the session that read the table, so pushed-key
    * probes keep it even inside plans rooted in the caller's session,
    * while the caller's conf — and every unrelated query planned there
    * — is never touched. */
  private val probe: SparkSession = {
    val s = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
    s.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", MaxPushedKeys.toString)
    s
  }

  private var version = meta.version
  private def vdir = s"$dir/v$version"
  private var baseHashes = probe.read.parquet(s"$vdir/hashes")
  private var baseSigs = probe.read.parquet(s"$vdir/sigs")
  private var baseIndex = probe.read.parquet(s"$vdir/index")

  // per-batch increments (each O(batch)); probes union them. Trickle
  // absorbs append driver-local rows wrapped as LocalRelations (zero
  // cluster jobs); bulk absorbs append localCheckpointed frames.
  private val deltaHashes = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val deltaSigs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val deltaIndex = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private var deltaBatches = 0

  // ---- driver-side trickle fast path (round 15) ----------------------
  // A trickle batch is <= trickleMaxDocs docs; its md5s, signatures and
  // band keys all fit on the driver. The fast path runs ONE Spark job to
  // sign+collect the batch, derives every probe key driver-side (the
  // same Catalyst expressions, evaluated locally — Lsh.queryKeysLocal),
  // and keeps only the three pruned standing reads as cluster jobs; the
  // verdict fold, the absorb cap discipline and the delta append are
  // in-process. This removes the ~16-job-per-batch floor (three pruning
  // collects + ~10 localCheckpoints) the round-14 verdict measured as
  // the dominant trickle cost at every scale. Verdicts are bit-identical
  // to the Spark trickle plan (same pruned reads, same est-Jaccard
  // arithmetic, same cap fold — StandingCorpusSpec pins trickle==bulk);
  // any case the local fold cannot faithfully reproduce (null batch ids,
  // a distributed delta from a bulk absorb, over-bound candidate
  // fan-out) falls back to the Spark plan.

  /** One collected batch row: boxed id (null-safe), md5 hex and
    * signature (both null for a null text). */
  private final case class BatchRow(id: java.lang.Long, h: String, sig: Array[Long])

  /** Driver mirror of one absorbed delta generation — the same rows its
    * three LocalRelation frames carry, as plain arrays so trickle probes
    * consult deltas without a job. Parallel to deltaHashes/deltaSigs/
    * deltaIndex while every delta is local ([[deltasAllLocal]]). */
  private final case class LocalDelta(hashes: Array[String],
                                      sigs: Array[(Long, Array[Long])],
                                      postings: Array[(Long, Int, Long, Long)])
  private val localDeltas = scala.collection.mutable.ArrayBuffer.empty[LocalDelta]
  private var deltasAllLocal = true

  /** Cumulative lookup view over [[localDeltas]] (hash membership, sigs
    * by id, postings by bucket triple) — appended incrementally per
    * absorb, rebuilt after a compaction swap drops folded deltas. */
  private final class LocalView {
    val hashSet = scala.collection.mutable.HashSet.empty[String]
    val sigsById = scala.collection.mutable.HashMap
      .empty[Long, List[Array[Long]]]
    val postingsByTriple = scala.collection.mutable.HashMap
      .empty[(Int, Long, Long), scala.collection.mutable.ArrayBuffer[Long]]
    def add(d: LocalDelta): Unit = {
      d.hashes.foreach(h => if (h != null) hashSet += h)
      d.sigs.foreach { case (id, sig) =>
        sigsById.update(id, sig :: sigsById.getOrElse(id, Nil))
      }
      d.postings.foreach { case (id, b, k, kb) =>
        postingsByTriple.getOrElseUpdate((b, k, kb),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id
      }
    }
  }
  private var lvCache: LocalView = null
  // init-synchronized: concurrent read-locked classifies may race the
  // lazy rebuild after an absorb invalidated it (absorbs themselves are
  // exclusive, so localDeltas is stable while any classify runs)
  private val lvLock = new Object
  private def localView(): LocalView = lvLock.synchronized {
    if (lvCache == null) {
      val lv = new LocalView
      localDeltas.foreach(lv.add)
      lvCache = lv
    }
    lvCache
  }

  /** Bounds on what a driver fold will hold: standing postings matched to
    * one batch's buckets, and distinct standing candidate ids whose
    * signatures are fetched. Past either bound the probe falls back to
    * the distributed plan (which never collects candidates). */
  private val PostingsCollectBound = 1 << 19
  private val CandSigBound = MaxPushedKeys

  /** In-batch-capped postings by bucket triple: exactly
    * Lsh.postings(sigs) = explode + capBuckets keep-smallest-ids, folded
    * driver-side from locally-evaluated band keys (Lsh.queryKeysLocal —
    * the same Catalyst XxHash64 the index build runs, bit-identical).
    * Ids are kept in ascending order per triple; duplicates (a repeated
    * batch row) occupy cap slots exactly as row_number does. */
  private def cappedLocalPostings(rows: Iterator[(Long, Array[Long])])
      : scala.collection.mutable.LinkedHashMap[(Int, Long, Long), Array[Long]] = {
    val byTriple = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Long, Long), scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { case (id, sig) =>
      Lsh.queryKeysLocal(sig, meta.lsh).foreach { t =>
        byTriple.getOrElseUpdate(t,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id
      }
    }
    val cap = meta.maxBucketSize
    byTriple.map { case (t, ids) =>
      val sorted = ids.toArray.sorted
      t -> (if (cap > 0 && sorted.length > cap) sorted.take(cap) else sorted)
    }
  }

  /** Driver twin of Kernels.estJaccard (the est_jaccard expression):
    * positional equality count over the signature, one double division. */
  private def estJaccardLocal(a: Array[Long], b: Array[Long]): Double = {
    val n = a.length
    if (n == 0) return 0.0
    var eq = 0; var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** Sign + collect a trickle-sized batch in ONE job. None when the
    * batch exceeds trickleMaxDocs (bulk territory), a distributed delta
    * exists (the local fold could not see it), or any id is null (the
    * distributed plan's null-key join semantics are not worth
    * reproducing locally). */
  private def collectBatch(batchDocs: DataFrame, idCol: String,
                           textCol: String): Option[Array[BatchRow]] = {
    if (!deltasAllLocal || trickleMaxDocs <= 0 ||
      trickleMaxDocs >= Int.MaxValue.toLong) return None
    val signed = batchDocs.select(
      col(idCol).cast("long").as(idCol),
      md5(col(textCol)).as("_h"),
      minhash_signature(shingle_hashes_md5(
        Shingling.shingles(col(textCol), meta.kShingle,
          byWord = meta.byWord))).as("sig"))
    val rows = signed.limit(trickleMaxDocs.toInt + 1).collect()
    if (rows.length > trickleMaxDocs) None
    else {
      val out = new Array[BatchRow](rows.length)
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        if (r.isNullAt(0)) return None // null id: fall back
        out(i) = BatchRow(java.lang.Long.valueOf(r.getLong(0)),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) null else r.getSeq[Long](2).toArray)
        i += 1
      }
      Some(out)
    }
  }

  private def localDf(rows: Seq[org.apache.spark.sql.Row],
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    probe.createDataFrame(rows.asJava, schema)
  }

  private val hashSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_h",
      org.apache.spark.sql.types.StringType, nullable = true)))
  private val sigSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true),
      nullable = true)))
  private val idxSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType, nullable = true),
    org.apache.spark.sql.types.StructField("key64",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("key64b",
      org.apache.spark.sql.types.LongType, nullable = true)))
  private val tripleSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("key64",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("key64b",
      org.apache.spark.sql.types.LongType, nullable = false)))
  private val idSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = false)))
  private val statusSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("status",
      org.apache.spark.sql.types.StringType, nullable = false)))

  /** Everything the driver fold learned about one classified batch —
    * handed from classify to absorb so classifyAbsorb never re-probes. */
  private final class DriverClassified(
      val rows: Array[BatchRow],
      val statuses: DataFrame,
      val statusById: Map[Long, String],
      val standingByTriple: Map[(Int, Long, Long), Array[Long]])

  /** The three-tier trickle classify folded on the driver: one pruned
    * standing read per tier, all joins against broadcast LocalRelations
    * of the batch's own keys, verdicts computed in-process. None = fall
    * back to the distributed plan (over-bound fan-out). Reads only
    * shared state that mutates under the owner's exclusive lock, so
    * concurrent read-locked calls are safe; the exact tier's own driver
    * thread plans in the probe session like the rest. */
  private def driverClassify(rows: Array[BatchRow]): Option[DriverClassified] = {
    import org.apache.spark.sql.Row
    val lv = localView()
    // exact tier: which of the batch's md5s exist in the standing
    // corpus. Independent of the candidate -> signature chain, so it
    // runs on its own driver thread and the two pruned reads overlap
    // (guide §2.6) — per-batch latency is max(exact, cand+sig) instead
    // of their sum.
    val hs = rows.iterator.map(_.h).filter(_ != null).toSeq.distinct
    val standingHF = new java.util.concurrent.FutureTask[Set[String]](() =>
      if (hs.isEmpty) Set.empty
      else baseHashesFor(hs.iterator)
        .join(broadcast(localDf(hs.map(Row(_)), hashSchema)), Seq("_h"), "left_semi")
        .select("_h").distinct().collect().map(_.getString(0)).toSet)
    val hThread = new Thread(standingHF, "graft-trickle-exact")
    hThread.setDaemon(true)
    hThread.start()
    // the fallback returns must not leave the exact-tier job in flight
    // (the caller may start the distributed fallback immediately after)
    def awaitExact(): Set[String] =
      try standingHF.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    // candidate tier: standing postings in the batch's buckets
    val batchPostings = cappedLocalPostings(rows.iterator.collect {
      case r if r.sig != null => (r.id.longValue(), r.sig)
    })
    val triples = batchPostings.keys.toArray
    val standingByTriple: Map[(Int, Long, Long), Array[Long]] =
      if (triples.isEmpty) Map.empty
      else {
        val localT = localDf(
          triples.map(t => Row(t._1, t._2, t._3)).toSeq, tripleSchema)
        val matched = baseIndexFor(triples.iterator.map(_._2).distinct)
          .join(broadcast(localT), Seq("band", "key64", "key64b"))
          .select("band", "key64", "key64b", "id")
          .limit(PostingsCollectBound + 1).collect()
        if (matched.length > PostingsCollectBound) { awaitExact(); return None }
        matched.groupBy(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          .map { case (t, rs) => t -> rs.map(_.getLong(3)) }
      }
    // per-id candidate sets (standing + local-delta bucket members)
    val candByBid = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    batchPostings.foreach { case (t, bids) =>
      val standing = standingByTriple.getOrElse(t, Array.empty[Long])
      val deltas = lv.postingsByTriple.get(t)
      if (standing.nonEmpty || deltas.exists(_.nonEmpty)) {
        bids.foreach { bid =>
          val set = candByBid.getOrElseUpdate(bid,
            scala.collection.mutable.HashSet.empty[Long])
          set ++= standing
          deltas.foreach(set ++= _)
        }
      }
    }
    // signature tier: fetch every distinct candidate id's base sigs
    // (delta sigs merge in locally — an id can legitimately exist in
    // both, e.g. a batch id coinciding with a standing id); bound the
    // distinct-id fetch
    val standIds = candByBid.valuesIterator.flatten.toArray.distinct
    if (standIds.length > CandSigBound) { awaitExact(); return None }
    val standSig: Map[Long, Seq[Array[Long]]] =
      if (standIds.isEmpty) Map.empty
      else {
        val localI = localDf(standIds.map(Row(_)).toSeq, idSchema)
        baseSigsFor(standIds.iterator)
          .join(broadcast(localI), Seq("doc_id"))
          .select("doc_id", "sig").collect()
          .groupBy(_.getLong(0))
          .map { case (id, rs) =>
            id -> rs.toSeq.map(r =>
              if (r.isNullAt(1)) null else r.getSeq[Long](1).toArray)
          }
      }
    def sigsOf(id: Long): Iterator[Array[Long]] =
      (standSig.getOrElse(id, Nil).iterator ++
        lv.sigsById.getOrElse(id, Nil).iterator).filter(_ != null)
    // verdict fold: exact > near > new, per distinct id
    val sigsByBid = scala.collection.mutable.HashMap
      .empty[Long, List[Array[Long]]]
    rows.foreach { r =>
      if (r.sig != null)
        sigsByBid.update(r.id.longValue(),
          r.sig :: sigsByBid.getOrElse(r.id.longValue(), Nil))
    }
    val standingH = awaitExact()
    val exactIds = rows.iterator
      .filter(r => r.h != null && (standingH.contains(r.h) || lv.hashSet.contains(r.h)))
      .map(_.id.longValue()).toSet
    val thr = meta.threshold
    def isNear(bid: Long): Boolean = candByBid.get(bid).exists { cands =>
      val bsigs = sigsByBid.getOrElse(bid, Nil)
      cands.exists(cid => sigsOf(cid).exists(cs =>
        bsigs.exists(bs => estJaccardLocal(bs, cs) >= thr)))
    }
    val statusById = scala.collection.mutable.HashMap.empty[Long, String]
    val stRows = rows.map { r =>
      val bid = r.id.longValue()
      val st = statusById.getOrElseUpdate(bid,
        if (exactIds.contains(bid)) "exact"
        else if (isNear(bid)) "near"
        else "new")
      Row(bid, st)
    }
    Some(new DriverClassified(rows, localDf(stRows.toSeq, statusSchema),
      statusById.toMap, standingByTriple))
  }

  /** Driver-side absorb of a classified batch: in-batch cap + admit-
    * under-cap folded locally (same discipline as Lsh.postings +
    * Lsh.admitUnderCap over the same standing counts), deltas appended
    * as LocalRelations — ZERO Spark jobs. */
  private def driverAbsorb(c: DriverClassified): Unit = {
    val lv = localView()
    val newRows = c.rows.filter(r => c.statusById(r.id.longValue()) == "new")
    if (newRows.nonEmpty) {
      val newCapped = cappedLocalPostings(newRows.iterator.collect {
        case r if r.sig != null => (r.id.longValue(), r.sig)
      })
      val cap = meta.maxBucketSize
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
      newCapped.foreach { case (t, ids) =>
        val keep =
          if (cap <= 0) ids
          else {
            val standCnt = c.standingByTriple.get(t).map(_.length.toLong).getOrElse(0L) +
              lv.postingsByTriple.get(t).map(_.length.toLong).getOrElse(0L)
            // ids are already cap-smallest-sorted; rank rn admits while
            // standCnt + rn <= cap (Lsh.admitUnderCap's filter)
            val room = math.max(0L, cap.toLong - standCnt)
            ids.take(math.min(room, ids.length.toLong).toInt)
          }
        keep.foreach(id => admitted += ((id, t._1, t._2, t._3)))
      }
      val d = LocalDelta(
        newRows.map(_.h),
        newRows.map(r => (r.id.longValue(), r.sig)),
        admitted.toArray)
      import org.apache.spark.sql.Row
      deltaHashes += localDf(d.hashes.map(Row(_)).toSeq, hashSchema)
      deltaSigs += localDf(
        d.sigs.map { case (id, sig) =>
          Row(id, if (sig == null) null else sig.toSeq)
        }.toSeq, sigSchema)
      deltaIndex += localDf(
        d.postings.map { case (id, b, k, kb) => Row(id, b, k, kb) }.toSeq,
        idxSchema)
      localDeltas += d
      lv.add(d)
      meta = meta.copy(nDocs = meta.nDocs + newRows.length)
    }
    deltaBatches += 1
    if (deltaBatches >= compactEveryBatches) {
      if (compactInBackground) startBackgroundCompaction() else compact()
    }
  }

  def currentMeta: Meta = meta
  def currentVersion: Int = version

  private def unionAll(base: DataFrame, deltas: Seq[DataFrame]): DataFrame =
    deltas.foldLeft(base)(_.unionByName(_))

  /** Standing frames for the BULK path (full, unpruned). */
  private[graft] def fullHashes: DataFrame =
    unionAll(baseHashes.select("_h"), deltaHashes.toSeq)
  private[graft] def fullSigs: DataFrame =
    unionAll(baseSigs.select("doc_id", "sig"), deltaSigs.toSeq)
  private[graft] def fullIndex: DataFrame =
    unionAll(baseIndex.select("id", "band", "key64", "key64b"), deltaIndex.toSeq)

  /** The one pruned read of a base table for a driver-side set of
    * DISTINCT probe keys: only the partitions (`_pb`) the keys can land
    * in, via the driver twin `pb` of the table's Spark-side bucket
    * expression. When the table has grown PAST ITS PARTITION CEILING
    * (`pastCeiling`: MaxParts reached, so rows-per-partition exceed the
    * per-table target and the partition-level bound alone would grow
    * linearly with the corpus), a key set of at most MaxPushedKeys is
    * ALSO pushed down as a parquet In filter: partition files are
    * key-sorted with small row groups, so row-group min/max pruning
    * bounds the rows read inside a fat partition by
    * (keys x rows-per-row-group) — corpus-independent again. Below the
    * ceiling the key push is deliberately OFF: with one row group per
    * file it can prune nothing, and evaluating it costs extra reads
    * (dictionary pages + column indexes — measured 3x the probe bytes at
    * spec scale). `keys` is consumed once; the driver holds the bucket
    * set and at most MaxPushedKeys + 1 keys. Filters only remove rows
    * that cannot join; the trickle==bulk identity is unaffected
    * (StandingCorpusSpec). */
  private def keyPruned[K](base: DataFrame, keyCol: String, pastCeiling: Boolean,
                           keys: Iterator[K])(pb: K => Int): DataFrame = {
    val pbs = scala.collection.mutable.LinkedHashSet.empty[Int]
    val pushed = scala.collection.mutable.ArrayBuffer.empty[K]
    keys.foreach { k =>
      pbs += pb(k)
      if (pushed.length <= MaxPushedKeys) pushed += k
    }
    val pruned = base.filter(col("_pb").isin(pbs.toSeq: _*))
    if (keyPushdownOverride.getOrElse(pastCeiling) && pushed.nonEmpty &&
      pushed.length <= MaxPushedKeys)
      pruned.filter(col(keyCol).isin(pushed.toSeq: _*))
    else pruned
  }

  /** Base hash rows for md5 hex keys. Driver twin of pbHash: 15 hex
    * chars < 2^60, so the unsigned conv() parse is an exact
    * Long.parseLong and pmod degenerates to %. */
  private def baseHashesFor(hs: Iterator[String]): DataFrame =
    keyPruned(baseHashes, "_h", meta.pHash.toLong * HashRowsPerPart < meta.nDocs, hs) { h =>
      (java.lang.Long.parseLong(h.substring(0, 15), 16) % meta.pHash).toInt
    }

  /** Base postings for band key64 values (driver twin of pbIdx). */
  private def baseIndexFor(ks: Iterator[Long]): DataFrame =
    keyPruned(baseIndex, "key64",
      meta.pIdx.toLong * IdxRowsPerPart < meta.nDocs * meta.bands, ks) { k =>
      val p = meta.pIdx.toLong
      (((k % p) + p) % p).toInt
    }

  /** Base signatures for doc ids. Driver twin of pbSig: xxhash64 of a
    * long via the same XXH64 kernel Catalyst codegen calls. */
  private def baseSigsFor(ids: Iterator[Long]): DataFrame =
    keyPruned(baseSigs, "doc_id", meta.pSig.toLong * SigRowsPerPart < meta.nDocs, ids) { id =>
      val p = meta.pSig.toLong
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
      (((h % p) + p) % p).toInt
    }

  /** Distinct non-null values of a frame's single column, streamed to
    * the driver. Null keys are dropped: a null text hashes to a null
    * key, and the matching standing rows are definitionally absent, so
    * the row falls through to 'new' exactly as the bulk path classifies
    * it — not NPE the probe. */
  private def distinctKeys[K](keys: DataFrame)(get: org.apache.spark.sql.Row => K): Iterator[K] = {
    import scala.jdk.CollectionConverters._
    keys.distinct().toLocalIterator().asScala.filterNot(_.isNullAt(0)).map(get)
  }

  /** Pruned standing rows (base + deltas) for the Spark trickle plan,
    * keyed by a batch-sized frame's hashes, band keys or candidate ids. */
  private[graft] def prunedHashes(batchHashes: DataFrame): DataFrame =
    unionAll(baseHashesFor(distinctKeys(batchHashes.select("_h"))(_.getString(0)))
      .select("_h"), deltaHashes.toSeq)
  private[graft] def prunedIndex(batchKeys: DataFrame): DataFrame =
    unionAll(baseIndexFor(distinctKeys(batchKeys.select("key64"))(_.getLong(0)))
      .select("id", "band", "key64", "key64b"), deltaIndex.toSeq)
  private[graft] def prunedSigs(candIds: DataFrame): DataFrame =
    unionAll(baseSigsFor(distinctKeys(
        candIds.select(col(candIds.columns.head).cast("long")))(_.getLong(0)))
      .select("doc_id", "sig"), deltaSigs.toSeq)

  /** Classify one batch of (idCol, textCol) docs against the standing
    * corpus: 'exact' / 'near' / 'new' per id, bit-identical to
    * [[Dedup.incrementalStatusIndexed]] over the same standing state.
    * Small batches run the partition-pruned trickle path; larger ones
    * the bulk scan. Returns a MATERIALIZED (id, status) frame (safe to
    * hold across later absorbs). */
  def classify(batchDocs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    maybeSwapCompacted()
    classifyShared(batchDocs, idCol, textCol)
  }

  /** True when a background compaction finished (or failed) and awaits
    * its swap/cleanup on the owning thread. */
  def compactionReady: Boolean = pendingCompaction.exists(p =>
    p.done.get() || p.failed.get() != null)

  /** Perform the pending compaction swap (or failure cleanup) if ready —
    * the WRITE-locked entry a concurrent-serving boundary calls before
    * read-locked classifies. Single-owner ingest loops never need it
    * (classify/absorb swap inline). */
  def swapCompactedIfReady(): Unit = maybeSwapCompacted()

  /** [[classify]] for CONCURRENT callers holding a shared (read) lock —
    * classifies are read-only, so the HTTP boundary runs them
    * concurrently while absorbs stay exclusive (the round-14 verdict's
    * serving finding). Identical verdicts to [[classify]]; the one
    * difference is that the compaction swap is skipped (the caller swaps
    * under its write lock via [[swapCompactedIfReady]]), so no standing
    * state mutates on this path. The shared state it reads is safe
    * under concurrency: localView is init-synchronized, probes plan in
    * the corpus's own probe session and set no conf anywhere, and
    * deltas/meta/base tables only mutate under the caller's exclusive
    * lock. */
  def classifyShared(batchDocs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    fastClassify(batchDocs, idCol, textCol) match {
      case Some(c) => renameId(c.statuses, idCol)
      case None => classifyKeepingSigs(batchDocs, idCol, textCol)._3
    }

  /** The driver fast path: None when the batch needs the Spark plan. */
  private def fastClassify(batchDocs: DataFrame, idCol: String,
                           textCol: String): Option[DriverClassified] =
    collectBatch(batchDocs, idCol, textCol).flatMap(driverClassify)

  private def renameId(statuses: DataFrame, idCol: String): DataFrame =
    if (idCol == "doc_id") statuses
    else statuses.withColumnRenamed("doc_id", idCol)

  /** classify, returning the materialized (batch, batchSigs, statuses)
    * triple so [[classifyAbsorb]] can absorb WITHOUT re-shingling and
    * re-signing the batch (the signature projection is the single most
    * expensive batch-sized compute in the loop). The SPARK fallback form
    * — the driver fast path handles trickle batches before this runs.
    * Never swaps: every caller has swapped (or must not) at entry. */
  private def classifyKeepingSigs(batchDocs: DataFrame, idCol: String,
                                  textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val b = ckpt(batchDocs.select(col(idCol).cast("long").as(idCol),
      col(textCol).as(textCol)))
    val batchSigs = ckpt(sign(b, meta, idCol, textCol))
    (b, batchSigs, ckpt(classifyPlan(b, batchSigs, idCol, textCol)))
  }

  /** The classify plan (unmaterialized — spec hooks inspect its scans).
    * `b` and `batchSigs` should be materialized batch-sized frames. */
  private[graft] def classifyPlan(b: DataFrame, batchSigs: DataFrame,
                                  idCol: String, textCol: String): DataFrame = {
    val n = b.count()
    if (n > trickleMaxDocs)
      Dedup.incrementalStatusIndexed(fullHashes, fullSigs, fullIndex,
        b, batchSigs, meta.threshold, idCol, textCol, meta.lsh)
    else {
      // TRICKLE path — the same joins as incrementalStatusIndexed, each
      // against a pruned standing read. Distinct id-level verdicts (a
      // duplicate batch id must yield ONE row per input row, not a
      // multiplied join).
      val bh = b.select(col(idCol), md5(col(textCol)).as("_h"))
      val exactIds = bh.join(prunedHashes(bh.select("_h")), Seq("_h"), "left_semi")
        .select(col(idCol)).distinct()
      val batchKeys = ckpt(Lsh.postings(batchSigs, idCol, "sig", meta.lsh)
        .withColumnRenamed("id", "_bid"))
      val cand = ckpt(prunedIndex(batchKeys)
        .join(batchKeys, Seq("band", "key64", "key64b"))
        .select(col("_bid"), col("id").as("_cid")).distinct())
      val sb = batchSigs.select(col(idCol).as("_bid"), col("sig").as("_sb"))
      val sc = prunedSigs(cand.select("_cid"))
        .select(col("doc_id").as("_cid"), col("sig").as("_sc"))
      val nearIds = cand.join(sb, "_bid").join(sc, "_cid")
        .filter(est_jaccard(col("_sb"), col("_sc")) >= meta.threshold)
        .select(col("_bid").as(idCol)).distinct()
      b.select(col(idCol))
        .join(exactIds.withColumn("_e", lit(1)), Seq(idCol), "left")
        .join(nearIds.withColumn("_n", lit(1)), Seq(idCol), "left")
        .select(col(idCol),
          when(col("_e") === 1, "exact")
            .when(col("_n") === 1, "near")
            .otherwise("new").as("status"))
    }
  }

  /** Spark-side absorb of a batch [[classifyKeepingSigs]] classified:
    * its 'new' docs join the standing corpus (hashes, signatures, and
    * postings APPENDED UNDER THE CAP), so a later batch repeating them
    * classifies as a duplicate. Per-batch cost is O(batch): only the
    * increments are checkpointed, never the standing state. */
  private def sparkAbsorb(b: DataFrame, batchSigs: DataFrame, statuses: DataFrame,
                          idCol: String, textCol: String): Unit = {
    val newIds = statuses.filter(col("status") === "new").select(col(idCol))
    val newDocs = b.join(newIds, Seq(idCol), "left_semi")
    // filtering the already-materialized batch signatures to the new
    // ids is row-identical to re-signing newDocs (signatures are a pure
    // function of the text) and skips the loop's most expensive
    // batch-sized recompute
    val newSigs = ckpt(batchSigs.join(newIds, Seq(idCol), "left_semi"))
    val nNew = newSigs.count()
    if (nNew > 0) {
      deltaHashes += ckpt(newDocs.select(md5(col(textCol)).as("_h")))
      deltaSigs += ckpt(newSigs.select(col(idCol).as("doc_id"), col("sig")))
      // append-under-cap (Lsh.admitUnderCap — the shared cap owner):
      // count each touched bucket ONCE (pruned standing read + deltas),
      // admit the batch's smallest-id postings while the bucket stays
      // under maxBucketSize. postings() already keeps the batch's own
      // smallest ids, so standing-count + in-batch rank is the grown
      // bucket's occupancy for monotone ids.
      val newKeys = ckpt(Lsh.postings(newSigs, idCol, "sig", meta.lsh))
      val admitted =
        if (meta.maxBucketSize <= 0) Lsh.admitUnderCap(newKeys, null, meta.maxBucketSize)
        else {
          val keys = Seq("band", "key64", "key64b")
          val standCnt = prunedIndex(newKeys)
            .join(broadcast(newKeys.select(keys.map(col): _*).distinct()), keys)
            .groupBy(keys.map(col): _*).agg(count(lit(1)).as("_cnt"))
          Lsh.admitUnderCap(newKeys, standCnt, meta.maxBucketSize)
        }
      deltaIndex += ckpt(admitted)
      // a distributed delta blinds the driver fold — later trickle
      // probes fall back to the Spark plan until a compaction folds it
      deltasAllLocal = false
      localDeltas.clear()
      lvCache = null
      meta = meta.copy(nDocs = meta.nDocs + nNew)
    }
    deltaBatches += 1
    if (deltaBatches >= compactEveryBatches) {
      if (compactInBackground) startBackgroundCompaction() else compact()
    }
  }

  /** [[classify]] plus absorb in one call — the streaming micro-batch
    * step: the batch's 'new' docs join the standing corpus, so a later
    * batch repeating them classifies as a duplicate. Returns the
    * materialized statuses. Shares the batch's materialized signatures
    * between the two phases (absorb never re-shingles). */
  def classifyAbsorb(batchDocs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    maybeSwapCompacted()
    fastClassify(batchDocs, idCol, textCol) match {
      case Some(c) =>
        driverAbsorb(c)
        renameId(c.statuses, idCol)
      case None =>
        val (b, batchSigs, st) = classifyKeepingSigs(batchDocs, idCol, textCol)
        sparkAbsorb(b, batchSigs, st, idCol, textCol)
        st
    }
  }

  /** One background compaction at a time: the builder thread writes the
    * three tables of a NEW version from a snapshot of base + the first
    * `nDeltas` deltas, then flips `done`. All other mutable state stays
    * owned by the single ingest thread — it performs the swap itself at
    * the next classify/absorb (so no probe ever races a base-table
    * reassignment). */
  private final class PendingCompaction(val grown: Meta, val nDeltas: Int) {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    var thread: Thread = _
  }
  // volatile: compactionReady reads it from serving threads without the
  // owner's lock
  @volatile private var pendingCompaction: Option[PendingCompaction] = None

  /** Write the three standing tables for `grown` under its version dir.
    * Pure write — no mutable state touched (safe off-thread). Each
    * table's repartition shuffle is corpus-sized; the explicit GC after
    * each write lets ContextCleaner reclaim the finished shuffle's disk
    * files BEFORE the next table's shuffle starts (the default periodic
    * GC is 30 min away, and a 16M-doc compaction holding two ~12 GB
    * shuffles plus the half-written new version exhausted the bench
    * box's disk). */
  private def writeVersion(grown: Meta, hashes: DataFrame, sigs: DataFrame,
                           index: DataFrame): Unit = {
    // build into a dot-prefixed temp dir and rename into place at
    // completion (round-14 advice): an unfinished build is then never
    // confused with an adoptable orphan version — open()'s cleanup or a
    // second opener can no longer delete a half-built next version out
    // from under the builder
    val nv = s"$dir/.build-v${grown.version}"
    deleteRecursively(new java.io.File(nv))
    writeHashes(hashes, grown, nv)
    System.gc()
    writeSigs(sigs, grown, nv)
    System.gc()
    writeIndex(index, grown, nv)
    System.gc()
    val finalDir = new java.io.File(s"$dir/v${grown.version}")
    if (!new java.io.File(nv).renameTo(finalDir))
      sys.error(s"could not publish compacted version: rename $nv -> $finalDir failed")
  }

  private def grownMeta: Meta = meta.copy(
    version = version + 1,
    pHash = partsFor(meta.nDocs, HashRowsPerPart),
    pSig = partsFor(meta.nDocs, SigRowsPerPart),
    pIdx = partsFor(meta.nDocs * meta.bands, IdxRowsPerPart))

  /** Kick off a background compaction if none is running and there is
    * anything to fold. The snapshot covers the deltas present NOW;
    * later absorbs keep appending and survive the swap untouched. */
  private def startBackgroundCompaction(): Unit = {
    if (pendingCompaction.isDefined) return
    if (deltaHashes.isEmpty && deltaSigs.isEmpty && deltaIndex.isEmpty) {
      deltaBatches = 0
      return
    }
    val p = new PendingCompaction(grownMeta, deltaHashes.length)
    val h = unionAll(baseHashes.select("_h"), deltaHashes.take(p.nDeltas).toSeq)
    val s = unionAll(baseSigs.select("doc_id", "sig"), deltaSigs.take(p.nDeltas).toSeq)
    val i = unionAll(baseIndex.select("id", "band", "key64", "key64b"),
      deltaIndex.take(p.nDeltas).toSeq)
    deltaBatches = 0
    p.thread = new Thread(() => {
      try {
        // isolate the O(corpus) rewrite from the ingest loop's jobs:
        // under the default FIFO scheduler the compaction's long write
        // stages take every free slot and the concurrent batch STARVES
        // (measured 262 s for a ~10 s batch at 16M) — in a FAIR-mode
        // session (spark.scheduler.mode=FAIR, set at context creation)
        // this pool caps the build at its fair share and concurrent
        // batches stay within ~2x their baseline. Under FIFO the
        // property is inert (the documented trade: set FAIR for
        // latency-sensitive ingest).
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          "graft_compact")
        writeVersion(p.grown, h, s, i)
        // warm the shared FileStatusCache for the new version HERE: the
        // ingest thread's swap re-opens three partitioned tables
        // (tens of thousands of dirs), and a cold listing inside the
        // next measured batch cost ~50 s at 8M docs — listed on this
        // thread, the swap's probe.read hits the cache
        Seq("hashes", "sigs", "index").foreach { t =>
          probe.read.parquet(s"$dir/v${p.grown.version}/$t")
        }
      }
      catch { case t: Throwable => p.failed.set(t) }
      finally p.done.set(true)
    }, s"graft-standing-compact-v${p.grown.version}")
    p.thread.setDaemon(true)
    pendingCompaction = Some(p)
    p.thread.start()
  }

  /** Ingest-thread swap point: if a background compaction has finished,
    * adopt its version (meta keeps the CURRENT nDocs — only the layout
    * fields come from the snapshot), drop the folded deltas, persist the
    * meta, and remove the old version dir. On builder failure the deltas
    * stay live and the next scheduled compaction retries. */
  private def maybeSwapCompacted(): Unit = pendingCompaction match {
    case Some(p) if p.done.get() =>
      pendingCompaction = None
      val err = p.failed.get()
      if (err != null) {
        System.err.println(s"[standing-corpus] background compaction failed " +
          s"(deltas retained, will retry): $err")
        deleteRecursively(new java.io.File(s"$dir/.build-v${p.grown.version}"))
        deleteRecursively(new java.io.File(s"$dir/v${p.grown.version}"))
      } else {
        val old = vdir
        meta = meta.copy(version = p.grown.version, pHash = p.grown.pHash,
          pSig = p.grown.pSig, pIdx = p.grown.pIdx)
        version = p.grown.version
        // persist the DISK-consistent doc count (the snapshot's — docs
        // absorbed during the build live only in the retained deltas);
        // the live in-memory meta keeps the current total (round-14
        // advice: a crash after this write must not overcount)
        writeMeta(dir, meta.copy(nDocs = p.grown.nDocs))
        baseHashes = probe.read.parquet(s"$vdir/hashes")
        baseSigs = probe.read.parquet(s"$vdir/sigs")
        baseIndex = probe.read.parquet(s"$vdir/index")
        deltaHashes.remove(0, p.nDeltas)
        deltaSigs.remove(0, p.nDeltas)
        deltaIndex.remove(0, p.nDeltas)
        if (deltasAllLocal && p.nDeltas <= localDeltas.length)
          localDeltas.remove(0, p.nDeltas)
        else {
          // a distributed-delta epoch folded away: the remaining deltas
          // (if any) may still be distributed — stay on the Spark path
          // until the buffers empty, then the local fold resumes
          localDeltas.clear()
          deltasAllLocal = deltaHashes.isEmpty
        }
        lvCache = null
        deleteRecursively(new java.io.File(old))
      }
    case _ => ()
  }

  /** Block until any in-flight background compaction has been built AND
    * swapped in — the quiesce point for tests, shutdown, and serving
    * handoff. */
  def awaitCompaction(): Unit = {
    pendingCompaction.foreach(_.thread.join())
    maybeSwapCompacted()
  }

  /** SYNCHRONOUS major compaction: fold the deltas into a NEW on-disk
    * base version (partition counts re-sized to the grown corpus),
    * refresh the meta, and drop the in-memory increments. Amortized over
    * `compactEveryBatches` absorbs when `compactInBackground` is off;
    * also the explicit quiesce-then-fold call. The previous version dir
    * is removed after the new one is fully written. */
  def compact(): Unit = {
    awaitCompaction() // a pending background build folds first
    // nothing to fold: all-duplicate batches accumulate deltaBatches but
    // no deltas — an O(corpus) rewrite would change nothing, so just
    // reset the batch counter (a dup-heavy stream must not pay a full
    // three-table rewrite every compactEveryBatches batches)
    if (deltaHashes.isEmpty && deltaSigs.isEmpty && deltaIndex.isEmpty) {
      deltaBatches = 0
      return
    }
    val grown = grownMeta
    writeVersion(grown, fullHashes, fullSigs, fullIndex)
    writeMeta(dir, grown)
    val old = vdir
    meta = grown
    version = grown.version
    baseHashes = probe.read.parquet(s"$vdir/hashes")
    baseSigs = probe.read.parquet(s"$vdir/sigs")
    baseIndex = probe.read.parquet(s"$vdir/index")
    deltaHashes.clear(); deltaSigs.clear(); deltaIndex.clear()
    localDeltas.clear(); lvCache = null; deltasAllLocal = true
    deltaBatches = 0
    deleteRecursively(new java.io.File(old))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }
}
