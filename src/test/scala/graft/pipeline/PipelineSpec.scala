package graft.pipeline

import graft.SparkTestBase
import graft.conf.GraftConf
import graft.oracle.RefOracle
import graft.synth.ClipTableGen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val conf = GraftConf()
  val N = 400

  lazy val clipsLocal = {
    val groups = math.max(1, N / 4)
    (0L until groups).flatMap(g => ClipTableGen.group(conf.seed, g))
  }
  lazy val clipsDf = ClipTableGen.table(spark, N, conf.seed).toDF()
  lazy val result = DedupPipeline.run(spark, clipsDf, conf)
  lazy val oracle = RefOracle.run(clipsLocal, conf)

  test("pipeline reproduces the seeded reference-oracle cluster assignments (recall ≥ 0.99)") {
    val got = result.clusters.as[(String, String)].collect().toMap
    assert(got.size === clipsLocal.size)
    // dup-pair recall + precision vs oracle co-cluster pairs
    def pairs(m: Map[String, String]): Set[(String, String)] = {
      m.groupBy(_._2).values.flatMap { g =>
        val ids = g.keys.toSeq.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
      }.toSet
    }
    val gotPairs = pairs(got)
    val oraclePairs = oracle.dupPairs
    val inter = (gotPairs intersect oraclePairs).size.toDouble
    val recall = if (oraclePairs.isEmpty) 1.0 else inter / oraclePairs.size
    val precision = if (gotPairs.isEmpty) 1.0 else inter / gotPairs.size
    assert(oraclePairs.nonEmpty, "oracle found no dup pairs — fixture broken")
    assert(recall >= 0.99, s"recall=$recall (got ${gotPairs.size}, oracle ${oraclePairs.size})")
    assert(precision >= 0.99, s"precision=$precision")
  }

  test("pipeline clusters match planted golden truth (recall & precision ≥ 0.95)") {
    val got = result.clusters.as[(String, String)].collect().toMap
    val golden = ClipTableGen.goldenClusters(N, conf.seed)
    def pairs(m: Map[String, String]): Set[(String, String)] =
      m.groupBy(_._2).values.flatMap { g =>
        val ids = g.keys.toSeq.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
      }.toSet
    val gp = pairs(golden)
    val rp = pairs(got)
    val inter = (gp intersect rp).size.toDouble
    assert(gp.nonEmpty)
    val recall = inter / gp.size
    val precision = if (rp.isEmpty) 1.0 else inter / rp.size
    assert(recall >= 0.95, s"golden recall=$recall missing=${(gp diff rp).take(5)}")
    assert(precision >= 0.95, s"golden precision=$precision extra=${(rp diff gp).take(5)}")
  }

  test("hard negatives never cluster with their master") {
    val got = result.clusters.as[(String, String)].collect().toMap
    val groups = math.max(1, N / 4)
    for (g <- 0L until groups; v <- 1 to ClipTableGen.variantCount(conf.seed, g)) {
      if (ClipTableGen.variantKind(conf.seed, g, v) == "hardneg") {
        val neg = ClipTableGen.clipId(conf.seed, g, v)
        val master = ClipTableGen.clipId(conf.seed, g, 0)
        assert(got(neg) !== got(master), s"hardneg $neg joined master cluster (group $g)")
      }
    }
  }

  test("substring variants are linked by the suffix pass") {
    val got = result.clusters.as[(String, String)].collect().toMap
    val groups = math.max(1, N / 4)
    var checked = 0
    for (g <- 0L until groups; v <- 1 to ClipTableGen.variantCount(conf.seed, g)) {
      if (ClipTableGen.variantKind(conf.seed, g, v) == "textsub") {
        val sub = ClipTableGen.clipId(conf.seed, g, v)
        val master = ClipTableGen.clipId(conf.seed, g, 0)
        assert(got(sub) === got(master), s"textsub $sub not clustered with master (group $g)")
        checked += 1
      }
    }
    assert(checked > 0, "no textsub variants planted")
  }

  test("connected components handles chains, isolated vertices, and symmetric edges") {
    val vertices = Seq("a", "b", "c", "d", "e", "f").toDF("clip_id")
    val edges = Seq(("a", "b"), ("b", "c"), ("e", "d")).toDF("a", "b")
    val cc = Components.connectedComponents(spark, vertices, edges)
      .as[(String, String)].collect().toMap
    assert(cc("a") === "a" && cc("b") === "a" && cc("c") === "a")
    assert(cc("d") === "d" && cc("e") === "d")
    assert(cc("f") === "f")
  }

  test("connected components converges on a long chain (multi-round propagation + pointer jumps)") {
    // a 64-node path graph needs several propagation rounds even with
    // pointer doubling — exercises the fused one-job-per-round loop
    // (lazy checkpoint + fingerprint convergence on successive
    // min-aggregations) beyond the 1-2 rounds small dup groups need
    val n = 64
    val ids = (0 until n).map(i => f"v$i%03d")
    val vertices = ids.toDF("clip_id")
    val edges = (0 until n - 1).map(i => (ids(i), ids(i + 1))).toDF("a", "b")
    val cc = Components.connectedComponents(spark, vertices, edges)
      .as[(String, String)].collect().toMap
    assert(cc.keySet === ids.toSet)
    assert(cc.values.toSet === Set("v000"), s"chain must collapse to one component: ${cc.values.toSet}")
  }

  test("adversarial skew: one hot band key still yields one correct cluster via chain pairs") {
    // all-duplicates table: many exact copies of one master → every band key hot
    val skewConf = conf.copy(bucketCap = 8, chainWidth = 2)
    val master = ClipTableGen.group(conf.seed, 7L).head
    val dupes = (0 until 120).map(i => master.copy(clip_id = f"dup$i%04d"))
    val df = dupes.toDF()
    val res = DedupPipeline.run(spark, df, skewConf)
    val got = res.clusters.as[(String, String)].collect().toMap
    assert(got.values.toSet.size === 1, "all exact dupes must form one cluster")
    // and the capped path was actually exercised
    val capped = res.edges.filter(col("accepted")).count()
    assert(capped < 120L * 119 / 2, "chain capping should bound pair count below O(n²)")
    assert(capped >= 119, "chain must keep the bucket connected")
  }

  // pair-set checks shared by the capped-group specs: every member appears,
  // the group stays one component, and every pair is flagged capped
  private def assertCappedGroup(rows: Seq[(String, String, Int, Boolean)], ids: Seq[String]): Unit = {
    assert(rows.forall(_._4), "every pair of a capped group must be flagged capped")
    assert(rows.forall(r => r._1 < r._2), "pairs must be endpoint-ordered")
    val pairs = rows.map(r => (r._1, r._2))
    assert(pairs.distinct.size === pairs.size, "a group emits each pair once")
    assert(pairs.flatMap(p => Seq(p._1, p._2)).toSet === ids.toSet,
      "every member must appear in at least one pair")
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert(ids.map(find).toSet.size === 1, "a capped group must remain one component")
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Int, Boolean)] =
    df.select("a", "b", "sources", "capped").as[(String, String, Int, Boolean)]
      .collect().toSeq.sorted

  test("capped band bucket streams a bounded deterministic chain") {
    // 40 members on one band key at bucketCap 4: the generator buffers at
    // most 5 of them and streams the rest as a width-2 chain
    val c = conf.copy(bucketCap = 4, chainWidth = 2)
    val n = 40
    val ids = (0 until n).map(i => f"m$i%03d")
    def bands(order: Seq[String], parts: Int) =
      order.map(id => (99L, Signatures.SrcText, id)).toDF("band_key", "src", "clip_id").repartition(parts)
    val rows = pairRows(CandidatePairs.fromBands(spark, bands(ids, 7), c))
    assertCappedGroup(rows, ids)
    assert(rows.size <= n * c.chainWidth, s"pair count ${rows.size} not linear")
    assert(pairRows(CandidatePairs.fromBands(spark, bands(ids.reverse, 3), c)) === rows,
      "output must not depend on input order or partitioning")
  }

  test("capped window group streams bounded, connected, flagged") {
    // one boilerplate W-token window shared by 40 docs at bucketCap 4: a
    // chain over all 40 plus the seed probes against the first 4 docs
    val w = conf.substringWindow
    val common = (1 to w).map(i => s"b$i").mkString(" ")
    val n = 40
    val ids = (0 until n).map(i => f"s$i%03d")
    def clips(order: Seq[String], parts: Int) =
      order.map(id => (id, common)).toDF("clip_id", "transcript").repartition(parts)
    val c = conf.copy(bucketCap = 4, chainWidth = 2)
    val rows = pairRows(SuffixDups.candidates(spark, clips(ids, 7), c))
    assertCappedGroup(rows, ids)
    // linear regime: chain O(n·width) + seed probes O(SeedProbeLimit·cap)
    assert(rows.size <= n * c.chainWidth + SuffixDups.SeedProbeLimit * c.bucketCap,
      s"pair count ${rows.size} not in the bounded regime")
    assert(pairRows(SuffixDups.candidates(spark, clips(ids.reverse, 3), c)) === rows,
      "output must not depend on input order or partitioning")
  }

  test("band pair sources are the group's single family bit") {
    // one band_key value carrying rows of two families: each family is its
    // own bucket, so no pair crosses families or carries the other's bit
    val text = Seq("t1", "t2", "t3", "x")
    val audio = Seq("a1", "a2", "x")
    val bands = (text.map(id => (5L, Signatures.SrcText, id)) ++
      audio.map(id => (5L, Signatures.SrcAudio, id))).toDF("band_key", "src", "clip_id")
    val rows = pairRows(CandidatePairs.fromBands(spark, bands, conf))
    def pairsOf(ids: Seq[String]) =
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    val want = pairsOf(text.sorted).map(p => (p._1, p._2, Signatures.SrcText, false)) ++
      pairsOf(audio.sorted).map(p => (p._1, p._2, Signatures.SrcAudio, false))
    assert(rows === want.sorted)
  }

  test("capped hot-phrase group still finds containment pairs beyond the chain width") {
    // > bucketCap docs share one boilerplate window; a contained doc's true
    // container sits ~190 ids away — chain pairs (width 2) alone would
    // lose it; the seed-probe fan must recover it. (The fan is itself
    // bounded: containment partners beyond the first bucketCap id-sorted
    // members of a capped group remain out of reach — documented limit.)
    val w = conf.substringWindow
    val common = (1 to w).map(i => s"c$i").mkString(" ")
    val docs = (0 until 520).map { i =>
      val id = f"d$i%04d"
      val text =
        if (id == "d0200") s"$common z9" // fully contained in d0010's text
        else if (id == "d0010") s"$common z9 tail tail2 tail3"
        else s"$common u$i filler$i x$i"
      (id, text)
    }
    val clips = docs.toDF("clip_id", "transcript")
    val smallCap = conf.copy(bucketCap = 256, chainWidth = 2)
    val cand = SuffixDups.candidates(spark, clips, smallCap)
      .select("a", "b").as[(String, String)].collect().toSet
    assert(cand.contains(("d0010", "d0200")),
      "seed-probe fan must emit the far-apart containment pair in a capped group")
    // and the capped path was the one taken (group of 520 > cap 256)
    val capped = SuffixDups.candidates(spark, clips, smallCap)
      .filter(col("capped")).count()
    assert(capped > 0)
    // blowup stays bounded: chain O(n·width) + probes O(limit·cap)
    assert(cand.size <= 520 * 2 + SuffixDups.SeedProbeLimit * 256)
  }

  test("checkpointed stages resume without recompute and reproduce identical clusters") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ckptConf = conf.copy(checkpointDir = Some(tmp))
    val df = ClipTableGen.table(spark, 120, conf.seed).toDF()
    val r1 = DedupPipeline.run(spark, df, ckptConf, inputSig = "t120")
    val c1 = r1.clusters.as[(String, String)].collect().toMap
    assert(r1.stages.forall(!_.resumed))
    assert(r1.stages.forall(_.rows >= 0))
    // manifests exist with lineage
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/_MANIFEST_signatures.json")), "UTF-8")
    assert(manifest.contains("\"partitions\""))
    assert(manifest.contains("\"wall_ms\""))
    // delete the LAST stage's manifest (simulate kill before completion)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/_MANIFEST_clusters.json"))
    val r2 = DedupPipeline.run(spark, df, ckptConf, inputSig = "t120")
    val c2 = r2.clusters.as[(String, String)].collect().toMap
    assert(c2 === c1, "resumed run must be byte-identical")
    // earlier stages were resumed, not recomputed
    assert(r2.stages.count(_.resumed) === 4, r2.stages.map(s => (s.name, s.resumed)).toString)
    // a manifest without its schema sidecar is stale: the stage is
    // recomputed, never read back widened into a recomputed downstream stage
    Seq("_SCHEMA_signatures.json", "_MANIFEST_verified.json", "_MANIFEST_clusters.json")
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/$f")))
    val r2b = DedupPipeline.run(spark, df, ckptConf, inputSig = "t120")
    assert(!r2b.stages.find(_.name == "signatures").get.resumed)
    assert(r2b.clusters.as[(String, String)].collect().toMap === c1)
    // changed input signature invalidates resume
    val r3 = DedupPipeline.run(spark, df, ckptConf, inputSig = "t120-v2")
    assert(r3.stages.forall(!_.resumed))
  }

  test("two empty transcripts with unrelated audio stay apart") {
    // empty transcripts collide on every text band, but two empty shingle
    // sets are not identical text: only the (unrelated) audio may link them
    val a = ClipTableGen.group(conf.seed, 3L).head.copy(clip_id = "empty-a", transcript = "")
    val b = ClipTableGen.group(conf.seed, 4L).head.copy(clip_id = "empty-b", transcript = "")
    val res = DedupPipeline.run(spark, Seq(a, b).toDF(), conf)
    val got = res.clusters.as[(String, String)].collect().toMap
    assert(got("empty-a") !== got("empty-b"), s"empty transcripts clustered: $got")
    res.cleanup()
  }
}
