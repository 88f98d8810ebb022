package graft.pipeline

import graft.conf.GraftConf
import graft.kernel.Hashing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Exact-substring duplicate pass: finds pairs (a, b) where a's full token
  * sequence appears verbatim inside b's — duplicates MinHash misses because
  * containment Jaccard = |a| / |b| can sit far below any near-dup threshold.
  *
  * Seed-and-extend design (the scalable reading of SURVEY §7.5): every
  * document emits a hash for each of its W-token windows (O(total tokens)
  * rows — the suffix-array analogue of indexing every suffix, truncated to
  * W-token prefixes); the FIRST window doubles as the document's probe seed
  * (the row is flagged), so one pass over the corpus produces both sides of
  * the seed↔window equi-join. Candidates then get exact containment
  * verification in [[VerifyPairs]] (operator-Q7 style). Window rows are
  * distinct per (hash, doc) so a repeated phrase costs one row.
  *
  * Pairs come from [[CandidatePairs]]' shared bucket generator, grouped on
  * the window hash: a group of ≤ `bucketCap` documents emits every
  * seed↔member pair; a hot-phrase group streams chain pairs plus the probes
  * of its first [[SeedProbeLimit]] seeds against its first `bucketCap`
  * documents (id order), flagged `capped`, in O(`bucketCap` + `chainWidth`)
  * memory and independent of arrival order. Docs sharing one boilerplate
  * window are mostly NOT mutual dups, so chain edges alone would fail
  * verification; the probes recover containers beyond the chain width.
  * Documented recall limit: a container beyond the first `bucketCap`
  * members of a capped group is still missed.
  *
  * Documents shorter than W tokens are out of scope of this pass (exact
  * equality and MinHash cover them); documented limitation.
  */
object SuffixDups {

  /** Max seed-flagged members that fan out probes inside a capped
    * hot-phrase group (bounds the extra rows at SeedProbeLimit·bucketCap). */
  val SeedProbeLimit = 64

  /** clips (clip_id, transcript) → candidate substring edges
    * (a, b, sources = SrcSubstring, capped), a's text potentially inside
    * b's, a != b. Verification happens in VerifyPairs. (Standalone form —
    * tokenizes and hashes transcripts itself; the pipeline uses
    * [[candidatesFromTokenHashes]] over the signature stage's cached
    * `toks_h` to avoid a second corpus scan + re-tokenization.) */
  def candidates(spark: SparkSession, clips: DataFrame, conf: GraftConf): DataFrame = {
    import spark.implicits._
    val seed = conf.seed
    candidatesFromTokenHashes(spark,
      clips.select($"clip_id", $"transcript").as[(String, String)]
        .map { case (id, text) =>
          val toks = graft.kernel.Shingles.tokens(Option(text).getOrElse(""))
          val toksH = new Array[Long](toks.length)
          var i = 0
          while (i < toks.length) { toksH(i) = Hashing.hashString(toks(i), seed); i += 1 }
          (id, toksH)
        }.toDF("clip_id", "toks_h"),
      conf)
  }

  /** Same candidate stream, fed with precomputed ordered token hashes
    * (clip_id, toks_h) — identical windows/pairs because the window hash
    * folds exactly these per-token hashes. */
  def candidatesFromTokenHashes(spark: SparkSession, tokens: DataFrame,
      conf: GraftConf): DataFrame = {
    import spark.implicits._
    val w = conf.substringWindow
    val seed = conf.seed

    // one pass: every W-token window (distinct per doc), first window flagged
    val windows = tokens.select($"clip_id", $"toks_h").as[(String, Array[Long])]
      .flatMap { case (id, toksH) =>
        if (toksH == null || toksH.length < w) Iterator.empty
        else {
          val seen = new java.util.HashMap[java.lang.Long, java.lang.Boolean]()
          var i = 0
          while (i + w <= toksH.length) {
            var h = seed ^ 0x50ff1eL
            var j = 0
            while (j < w) { h = Hashing.combine(h, toksH(i + j)); j += 1 }
            val isSeed = i == 0
            val prev = seen.get(h)
            if (prev == null || (!prev && isSeed)) seen.put(h, isSeed)
            i += 1
          }
          val out = Vector.newBuilder[(Long, String, Boolean)]
          seen.forEach((h, s) => out += ((h.longValue, id, s.booleanValue)))
          out.result().iterator
        }
      }
      .toDF("key", "clip_id", "flagged")
      .withColumn("src", lit(Signatures.SrcSubstring))

    CandidatePairs.bucketPairs(spark, windows, conf, SeedProbeLimit)
  }
}
