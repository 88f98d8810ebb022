package perfbench

import graft.audio.{AudioFeatures, WavCodec}
import graft.conf.GraftConf
import graft.kernel.{Hashing, MinHash, Shingles, SimHash}
import graft.pipeline._
import graft.sources.TableIO
import graft.synth.{Clip, ClipTableGen}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Seeded inputs of the dedup workloads, derived from the planted groups of
  * [[ClipTableGen.tableWithTruth]] (groups of 1–7: master plus exact,
  * audionear, textnear, textsub and hardneg variants).
  *
  *  - dedup_dups: the planted mix as generated.
  *  - dedup_skew: every member of about a fifth of the groups gets one
  *    shared boilerplate intro (substringWindow + 2 tokens) prepended. The
  *    intro makes hot band and window keys.
  *  - dedup_notext: about 1% of the non-master clips lose their transcript
  *    (no-speech audio).
  *
  * The truth is derived per planted group: two members (hardneg excluded)
  * are duplicates when they meet the documented accept rule on non-empty
  * content — text shingle Jaccard ≥ textJaccardThreshold, token-substring
  * containment, or audio shingle Jaccard ≥ audioJaccardThreshold — and
  * clusters are the connected components of those pairs. Clips of
  * different groups are never duplicates. A planted textnear variant whose
  * two substitutions drop its Jaccard below the threshold is therefore not a
  * duplicate, and a text-linked variant that lost its transcript (its audio
  * is fresh) is a singleton.
  */
object Dedup {
  val Kinds = Set("dedup_dups", "dedup_skew", "dedup_notext")
  val NumBuckets = 8
  val NoTextPerMille = 10

  def intro(seed: Long, conf: GraftConf): String =
    (0 until conf.substringWindow + 2).map { i =>
      ClipTableGen.vocab((Hashing.derive(seed ^ 0x1e7a0L, i).abs % ClipTableGen.vocab.length).toInt)
    }.mkString(" ")

  def hasIntro(seed: Long, c: Clip): Boolean =
    Hashing.derive(seed ^ 0x1e7a1L, c.group_id).abs % 5 == 0

  def losesText(seed: Long, c: Clip): Boolean =
    c.variant != "master" &&
      Hashing.derive(seed ^ 0x1e7a2L, Hashing.hashString(c.clip_id, seed)).abs % 1000 < NoTextPerMille

  def clips(spark: SparkSession, kind: String, n: Int, seed: Long, conf: GraftConf): Dataset[Clip] = {
    import spark.implicits._
    val base = ClipTableGen.tableWithTruth(spark, n, seed)
    val pre = intro(seed, conf) + " "
    kind match {
      case "dedup_dups" => base
      case "dedup_skew" =>
        base.map(c => if (hasIntro(seed, c)) c.copy(transcript = pre + c.transcript) else c)
      case "dedup_notext" =>
        base.map(c => if (losesText(seed, c)) c.copy(transcript = "") else c)
    }
  }

  private final case class Content(id: String, textSh: Set[Long], toks: Array[Long], audioSh: Set[Long])

  private def content(c: Clip, conf: GraftConf): Content = {
    val toks = Shingles.tokens(if (c.transcript == null) "" else c.transcript)
    val audio =
      try AudioFeatures.shinglesFromShorts(WavCodec.decodeShorts(c.bytes).samples,
        conf.audioShingleK, conf.seed).toSet
      catch { case _: IllegalArgumentException => Set.empty[Long] }
    Content(c.clip_id, Shingles.tokenShingles(toks, conf.textShingleK, conf.seed).toSet,
      toks.map(Hashing.hashString(_, conf.seed)), audio)
  }

  private def jaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty || b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  private def contains(outer: Array[Long], inner: Array[Long]): Boolean =
    inner.nonEmpty && outer.indexOfSlice(inner) >= 0

  private def duplicates(a: Content, b: Content, c: GraftConf): Boolean =
    jaccard(a.textSh, b.textSh) >= c.textJaccardThreshold ||
      contains(a.toks, b.toks) || contains(b.toks, a.toks) ||
      jaccard(a.audioSh, b.audioSh) >= c.audioJaccardThreshold

  /** clip_id → truth cluster (the least clip_id of its component). */
  def truth(spark: SparkSession, clips: Dataset[Clip], conf: GraftConf): Map[String, String] = {
    import spark.implicits._
    val edges = clips.groupByKey(_.group_id).flatMapGroups { (_, members) =>
      val m = members.filter(_.variant != "hardneg").map(content(_, conf)).toArray
      for (i <- m.indices; j <- i + 1 until m.length if duplicates(m(i), m(j), conf))
        yield (m(i).id, m(j).id)
    }.collect()
    val parent = scala.collection.mutable.Map.empty[String, String]
    clips.select($"clip_id").as[String].collect().foreach(id => parent(id) = id)
    def root(x: String): String = if (parent(x) == x) x else { val r = root(parent(x)); parent(x) = r; r }
    for ((a, b) <- edges) {
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(id => id -> root(id)).toMap
  }

  /** The generator's own labels, before the accept rule refines them:
    * every non-hardneg member is a duplicate of its master. Reported
    * beside the checks, not checked. */
  def plantedKey(clipId: String, group: Long, variant: String): String =
    if (variant == "hardneg") s"solo-$clipId" else s"grp-$group"

  /** Pair recall and precision of a clustering against the truth, from the
    * contingency table: true pairs are the co-cluster pairs of both. */
  def pairScores(got: Map[String, String], truth: Map[String, String]): (Double, Double) = {
    def pairs(sizes: Iterable[Int]): Double = sizes.map(s => s.toDouble * (s - 1) / 2).sum
    val both = pairs(got.toSeq.groupBy { case (id, c) => (c, truth(id)) }.values.map(_.size))
    val gotPairs = pairs(got.values.groupBy(identity).values.map(_.size))
    val truePairs = pairs(truth.values.groupBy(identity).values.map(_.size))
    (if (truePairs == 0) 1.0 else both / truePairs, if (gotPairs == 0) 1.0 else both / gotPairs)
  }

  def fingerprint(clusters: DataFrame): Long =
    clusters.agg(coalesce(expr("bit_xor(xxhash64(clip_id, cluster_id))"), lit(0L)))
      .head().getLong(0)
}

final class DedupWorkload(spark: SparkSession, args: Harness.Args, progress: Progress)
    extends Workload {
  import spark.implicits._

  private val work = args.work
  private val input = s"$work/input"
  private val baseConf = GraftConf()
  private val checkpointed = args.workload == "dedup_skew"
  private var truth: Map[String, String] = Map.empty
  private var planted: Map[String, String] = Map.empty
  private var refFingerprint = 0L
  private var opIndex = 0

  private val SetupReps = 3
  private val WarmupRuns = 2
  // below a warm run of 6000 clips on 4 cores (≈ 5 s), so that a 12 s run
  // times three runs and reports their median
  private val NominalRunS = 4.0

  def setup(): Unit = {
    // input generation and write, repeated; the median rep is the set-up cost
    val reps = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      val ds = Dedup.clips(spark, args.workload, args.size, args.seed, baseConf)
        .persist(StorageLevel.MEMORY_AND_DISK)
      TableIO.writeBucketed(ds.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"),
        input, Dedup.NumBuckets)
      val s = (System.nanoTime() - t0) / 1e9
      if (r == SetupReps) {
        truth = Dedup.truth(spark, ds, baseConf)
        planted = ds.select($"clip_id", $"group_id", $"variant").as[(String, Long, String)].collect()
          .map { case (id, g, v) => id -> Dedup.plantedKey(id, g, v) }.toMap
      }
      ds.unpersist(true)
      s
    }
    progress.emit("ev" -> "generated", "gen_write_s" -> reps, "clips" -> truth.size,
      "input_mb" -> Proc.duBytes(input) / 1048576.0)
    // warm-up: two full untimed runs (JIT, codegen), checked like the timed
    // ones (operations 0 and 1); the first one's fingerprint is the reference
    val t0 = System.nanoTime()
    for (_ <- 1 to WarmupRuns) {
      val w = op()
      if (opIndex == 1) refFingerprint = w.fingerprint
      emitOp(w, warmup = true)
    }
    progress.emit("ev" -> "warmup", "warmup_s" -> (System.nanoTime() - t0) / 1e9)
  }

  final case class OpResult(wallS: Double, cpuS: Double, ok: Boolean, reason: String,
      recall: Double, precision: Double, plantedRecall: Double, fingerprint: Long)

  /** One DedupPipeline.run, timed until `clusters` is written, then checked. */
  private def op(): OpResult = {
    val i = opIndex
    opIndex += 1
    val conf = baseConf.copy(checkpointDir = if (checkpointed) Some(s"$work/ckpt-$i") else None)
    val out = s"$work/out-$i"
    progress.emit("ev" -> "op_start", "i" -> i)
    val t0 = System.nanoTime()
    val c0 = Proc.cpuNs()
    val r = DedupPipeline.run(spark, TableIO.read(spark, input), conf)
    r.clusters.write.parquet(out)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Proc.cpuNs() - c0) / 1e9
    r.cleanup()
    val res = check(spark.read.parquet(out), wall, cpu)
    conf.checkpointDir.foreach(Proc.deleteTree)
    Proc.deleteTree(out)
    res
  }

  private def check(clusters: DataFrame, wall: Double, cpu: Double): OpResult = {
    val got = clusters.select($"clip_id", $"cluster_id").as[(String, String)].collect()
    val fp = Dedup.fingerprint(clusters)
    val gotMap = got.toMap
    val problems = Seq.newBuilder[String]
    if (got.length != truth.size || gotMap.keySet != truth.keySet)
      problems += s"cluster rows ${got.length} do not match the ${truth.size} input clips"
    val (recall, precision) =
      if (gotMap.keySet == truth.keySet) Dedup.pairScores(gotMap, truth) else (0.0, 0.0)
    val plantedRecall =
      if (gotMap.keySet == truth.keySet) Dedup.pairScores(gotMap, planted)._1 else 0.0
    if (recall < 0.99) problems += f"pair_recall $recall%.4f < 0.99"
    if (precision < 0.99) problems += f"pair_precision $precision%.4f < 0.99"
    if (opIndex > 1 && fp != refFingerprint)
      problems += f"cluster fingerprint $fp%016x differs from the first run's $refFingerprint%016x"
    val p = problems.result()
    OpResult(wall, cpu, p.isEmpty, p.mkString("; "), recall, precision, plantedRecall, fp)
  }

  private def emitOp(r: OpResult, warmup: Boolean = false): Unit =
    progress.emit("ev" -> "op", "i" -> (opIndex - 1), "warmup" -> warmup, "wall_s" -> r.wallS,
      "cpu_s" -> r.cpuS, "items" -> truth.size, "ok" -> r.ok, "reason" -> r.reason,
      "recall" -> r.recall, "precision" -> r.precision, "planted_recall" -> r.plantedRecall,
      "fingerprint" -> f"${r.fingerprint}%016x")

  /** `budget` seconds' worth of timed runs at the nominal run length (at
    * least one); returns their walls. The count does not follow the measured
    * speed: with the JIT still settling, a run that fits one more operation
    * would report a lower median for that reason alone. */
  private def loop(budget: Double): Seq[Double] =
    Seq.fill(math.max(1, math.round(budget / NominalRunS).toInt)) {
      val r = op()
      emitOp(r)
      r.wallS
    }

  def timed(): Unit = loop(args.seconds)

  // ---------------- traced run ----------------

  def traced(): Map[String, Any] = {
    // half the time for the untraced baseline, the rest for the traced sequence
    val untracedMedian = Stats.median(loop(args.seconds / 2))
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val tr = new Tracer(s"${args.workload}-${args.seed}")
    val ckptDir = if (checkpointed) Some(s"$work/ckpt-traced") else None
    val conf = baseConf.copy(checkpointDir = ckptDir)
    val layers = Map.newBuilder[String, Any]
    val c0 = Proc.compiles()
    tr.span("run") {
      tr.span("sources.scan") {
        TableIO.read(spark, input).agg(sum(length($"bytes")), count(lit(1))).collect()
      }
      val p = tr.span("pipeline")(HandWired(spark, tr, input, conf))
      layers ++= p.counters
      layers += "checkpoints.written_mb" -> ckptDir.map(Proc.duBytes).getOrElse(0L) / 1048576.0
      // the hand-wired sequence must cluster exactly as DedupPipeline.run
      val fp = Dedup.fingerprint(p.clusters)
      val drift = f"traced stage sequence fingerprint $fp%016x differs from " +
        f"DedupPipeline.run's $refFingerprint%016x"
      progress.emit("ev" -> "check", "ok" -> (fp == refFingerprint),
        "reason" -> (if (fp == refFingerprint) "" else drift))
      p.release()
      layers ++= kernelLoop(tr, conf)
    }
    val c1 = Proc.compiles()
    log.drain()
    spark.sparkContext.removeSparkListener(log)
    ckptDir.foreach(Proc.deleteTree)

    for (s <- HandWired.Stages) {
      val sp = tr.named(s)
      val w = SpanWork.of(log, sp)
      layers ++= Seq(s"$s.wall_s" -> sp.map(_.wallNs).sum / 1e9,
        s"$s.cpu_s" -> sp.map(_.cpuNs).sum / 1e9, s"$s.driver_s" -> w.driverS,
        s"$s.shuffle_write_mb" -> w.shuffleWriteMb, s"$s.spill_mb" -> w.spillMb,
        s"$s.task_skew" -> w.taskSkew)
    }
    layers += "cc.jobs" -> SpanWork.of(log, tr.named("cc")).jobs
    layers += "checkpoints.wall_s" -> tr.named("checkpoints.stage").map(_.wallNs).sum / 1e9
    val scan = tr.named("sources.scan")
    layers ++= Seq("sources.scan_s" -> scan.map(_.wallNs).sum / 1e9,
      "sources.input_mb" -> Proc.duBytes(input) / 1048576.0)
    layers ++= Spark.metrics(log, tr.named("run"), c0, c1)
    val tracedWall = HandWired.Stages.flatMap(tr.named).map(_.wallNs).sum / 1e9
    layers += "trace.overhead_s" -> (tracedWall - untracedMedian)
    tr.write(s"$work/spans.jsonl", log)
    layers.result()
  }

  /** Single-thread loop over a sample of the input's clips through each
    * kernel the signature stage calls; microseconds per clip per kernel. */
  private def kernelLoop(tr: Tracer, c: GraftConf): Seq[(String, Any)] = {
    val sample = TableIO.read(spark, input).select($"clip_id", $"bytes", $"transcript")
      .orderBy($"clip_id").limit(KernelSample).as[(String, Array[Byte], String)].collect()
    val textMh = new MinHash(c.textNumPerm, c.seed ^ 0x7e47L)
    val audioMh = new MinHash(c.audioNumPerm, c.seed ^ 0xa0d10L)
    val samples = sample.map(r => WavCodec.decodeShorts(r._2).samples)
    val audioSh = samples.map(s => AudioFeatures.shinglesFromShorts(s, c.audioShingleK, c.seed))
    def textShingles(t: String): Array[Long] = {
      val toks = Shingles.tokens(if (t == null) "" else t)
      Shingles.tokenShinglesFromHashes(toks, toks.map(Hashing.hashString(_, c.seed)), c.textShingleK, c.seed)
    }
    val textSh = sample.map(r => textShingles(r._3))
    var sink = 0L
    def perClipUs(name: String)(f: Int => Long): (String, Any) = tr.span(name) {
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 300L * 1000000L) {
        var i = 0
        while (i < sample.length) { sink ^= f(i); i += 1 }
        reps += 1
      }
      name + "_us" -> (System.nanoTime() - t0) / 1e3 / (reps.toLong * sample.length)
    }
    val out = tr.span("kernel")(Seq(
      perClipUs("kernel.decode")(i => WavCodec.decodeShorts(sample(i)._2).samples.length.toLong),
      perClipUs("kernel.audio_shingle")(i =>
        AudioFeatures.shinglesFromShorts(samples(i), c.audioShingleK, c.seed).length.toLong),
      perClipUs("kernel.text_shingle")(i => textShingles(sample(i)._3).length.toLong),
      perClipUs("kernel.minhash") { i =>
        MinHash.bandKeys(textMh.signature(textSh(i)), c.textBands, c.textRows, c.seed)(0) ^
          MinHash.bandKeys(audioMh.signature(audioSh(i)), c.audioBands, c.audioRows, c.seed)(0)
      },
      perClipUs("kernel.simhash")(i => SimHash.signature(textSh(i), c.simhashBits, SimHash.mixBits(c.seed)))))
    if (sink == 42L) println("") // keeps the loops' results live
    out
  }

  private val KernelSample = 200
}

/** The dedup pipeline's stages called one by one from the benchmark, each
  * materialized inside its own span so its cost can be read apart. It
  * mirrors [[DedupPipeline.run]] stage for stage (same inputs, same
  * Checkpoints.stage boundaries); the traced run asserts that its cluster
  * fingerprint equals DedupPipeline.run's on the same input. */
object HandWired {
  val Stages = Seq("signatures", "bands", "candidates", "verify", "cc")

  final case class Out(clusters: DataFrame, counters: Seq[(String, Any)], release: () => Unit)

  def apply(spark: SparkSession, tr: Tracer, input: String, conf: GraftConf): Out = {
    import spark.implicits._
    val persisted = Seq.newBuilder[DataFrame]
    def keep(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      persisted += p
      (p, p.count())
    }
    // checkpoint mode materializes inside Checkpoints.stage; otherwise persist + count
    def stage(name: String)(compute: => DataFrame): (DataFrame, Long) = {
      val (df, info) = tr.span("checkpoints.stage")(
        Checkpoints.stage(spark, conf.checkpointDir, name, "default")(compute))
      if (conf.checkpointDir.isDefined) (df, info.rows) else keep(df)
    }

    val clips = TableIO.read(spark, input)
    val (signatures, sigRows) = tr.span("signatures")(stage("signatures") {
      Signatures.compute(spark, clips, conf).toDF()
    })
    val (bands, bandRows) = tr.span("bands")(stage("bands") {
      signatures
        .select($"clip_id", explode(arrays_zip($"band_keys", $"band_srcs")).as("z"))
        .select($"z.band_keys".as("band_key"), $"z.band_srcs".as("src"), $"clip_id")
    })
    var bandPairs, suffixPairs = 0L
    val (candidates, candRows) = tr.span("candidates") {
      val (band, nb) = tr.span("candidates.band")(keep(CandidatePairs.fromBands(spark, bands, conf)))
      val (suffix, ns) = tr.span("candidates.suffix")(keep(
        SuffixDups.candidatesFromTokenHashes(spark, signatures.select($"clip_id", $"toks_h"), conf)))
      bandPairs = nb
      suffixPairs = ns
      tr.span("candidates.union")(stage("candidates") {
        band.union(suffix)
          .groupBy($"a", $"b")
          .agg(expr("bit_or(sources)").as("sources"), max($"capped").as("capped"))
      })
    }
    var releaseVerify: () => Unit = () => ()
    val (verified, verRows) = tr.span("verify") {
      val r = stage("verified") {
        val v = VerifyPairs.verify(spark, candidates, signatures, conf)
        releaseVerify = v.release
        v.edges
      }
      if (conf.checkpointDir.isDefined) releaseVerify()
      r
    }
    val (clusters, ccRows) = tr.span("cc")(stage("clusters") {
      Components.connectedComponents(spark, signatures.select($"clip_id"),
        verified.filter($"accepted").select($"a", $"b"), conf.maxCcIterations, conf.checkpointDir)
    })

    val counters = tr.span("counters") {
      val accepted = verified.filter($"accepted").count()
      val audioPhase = verified
        .filter(!($"text_jaccard" >= conf.textJaccardThreshold || $"substring")).count()
      val sizes = clusters.groupBy($"cluster_id").count()
        .agg(count(lit(1)), max($"count")).head()
      Seq(
        "signatures.rows_out" -> sigRows, "bands.rows_out" -> bandRows,
        "candidates.rows_out" -> candRows, "verify.rows_out" -> verRows, "cc.rows_out" -> ccRows,
        "signatures.decode_failures" -> signatures.filter(!$"decode_ok").count(),
        "candidates.band_pairs" -> bandPairs, "candidates.suffix_pairs" -> suffixPairs,
        "candidates.distinct_pairs" -> candRows,
        "candidates.capped_pairs" -> candidates.filter($"capped").count(),
        "verify.accepted" -> accepted,
        "verify.accept_ratio" -> (if (candRows == 0) 0.0 else accepted.toDouble / candRows),
        "verify.audio_phase_pairs" -> audioPhase,
        "cc.components" -> sizes.getLong(0), "cc.largest_component" -> sizes.getLong(1))
    }
    Out(clusters, counters, () => {
      releaseVerify()
      persisted.result().foreach(_.unpersist(false))
    })
  }
}

/** Whole-run Spark totals from the listener, and the code-generation and
  * JIT compile work between two [[Proc.compiles]] readings. */
object Spark {
  def metrics(log: JobLog, spans: Seq[Span], c0: (Long, Long), c1: (Long, Long)): Seq[(String, Any)] = {
    val w = SpanWork.of(log, spans)
    Seq("spark.jobs" -> w.jobs, "spark.tasks" -> w.tasks, "spark.task_cpu_s" -> w.taskCpuS,
      "spark.gc_s" -> w.gcS, "spark.shuffle_write_mb" -> w.shuffleWriteMb, "spark.spill_mb" -> w.spillMb,
      "spark.codegen_compiles" -> (c1._1 - c0._1), "jvm.jit_compile_s" -> (c1._2 - c0._2) / 1000.0)
  }
}
