package graft.pipeline

import graft.conf.GraftConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import scala.collection.mutable

/** Band shuffle → candidate pairs (reference operators B1/B2 + Q4), and the
  * one bucket-pair generator both candidate streams share.
  *
  * The reference materializes per-table hash buckets (CSR scatter,
  * `hashIndex/StdHashIndex.h:31-74`) and probes them per
  * query; for all-pairs dedup the bucket directory is never materialized —
  * the `(key, src)` group shuffle IS the hash table, and each group emits its
  * member pairs directly (SURVEY §2.4/§7.4). Band keys are family-salted
  * upstream and `src` ([[Signatures.SrcText]] etc.) is part of the group
  * key, so every group holds exactly one family and a pair's `sources` is
  * the exact family bit that bucketed it; the caller's `bit_or` merges
  * families across groups.
  *
  * Skew (the 10^12-scale hazard the single-node reference never faced): a
  * bucket of size s emits O(s²) pairs; a hot key (e.g. empty-transcript
  * signature) would explode. Members arrive sorted by `clip_id` (equal
  * neighbours merged), and at most `bucketCap + 1` of them are buffered:
  *
  *  - a group that ends with ≤ `bucketCap` members emits every pair with at
  *    least one flagged member (band rows are all flagged: all pairs);
  *  - a larger group streams: each member pairs with the previous
  *    `chainWidth` members (O(s) pairs that keep the bucket connected,
  *    which preserves cluster correctness for true duplicate runs), and the
  *    first `probeLimit` flagged members also pair with the first
  *    `bucketCap` members, still buffered. Its pairs are flagged `capped`.
  *
  * Memory is O(`bucketCap` + `chainWidth`) per group at any group size, and
  * the output depends only on the group's member set — never on shuffle
  * arrival order or partitioning. Recall limit, documented: in a capped
  * group, a flagged member's partners beyond the chain and the first
  * `bucketCap` members are not emitted (the reference's own bucket scans
  * are likewise truncated at the retrieval budget, StdHashIndex.h:159-183).
  */
object CandidatePairs {

  /** bands: (band_key: Long, src: Int, clip_id: String) → RAW pair stream
    * (a, b, sources: Int bitmask, capped) with a < b; NOT deduplicated
    * across buckets — the caller's final groupBy(a, b) (DedupPipeline's
    * candidates stage) is the single dedup shuffle for all candidate
    * streams. */
  def fromBands(spark: SparkSession, bands: DataFrame, conf: GraftConf): DataFrame =
    bucketPairs(spark, bands.select(bands("band_key").as("key"), bands("src"),
      bands("clip_id"), lit(true).as("flagged")), conf, probeLimit = 0)

  /** members (key: Long, src: Int, clip_id: String, flagged: Boolean),
    * grouped on (key, src) → raw pairs (a, b, sources = src, capped) by the
    * rule in the class doc. */
  private[pipeline] def bucketPairs(spark: SparkSession, members: DataFrame,
      conf: GraftConf, probeLimit: Int): DataFrame = {
    import spark.implicits._
    val cap = conf.bucketCap
    val width = conf.chainWidth
    members.select($"key", $"src", $"clip_id", $"flagged")
      .groupBy($"key", $"src").as[(Long, Int), (Long, Int, String, Boolean)]
      .flatMapSortedGroups($"clip_id") { (key, rows) =>
        groupPairs(rows.map(r => (r._3, r._4)), cap, width, probeLimit)
          .map { case (a, b, capped) => (a, b, key._2, capped) }
      }
      .toDF("a", "b", "sources", "capped")
  }

  /** One group's pairs (a, b, capped), a < b, each emitted once, from its
    * (id, flagged) members sorted by id. */
  private[pipeline] def groupPairs(sorted: Iterator[(String, Boolean)], cap: Int,
      width: Int, probeLimit: Int): Iterator[(String, String, Boolean)] = {
    val in = sorted.buffered
    val members = new Iterator[(String, Boolean)] {
      def hasNext: Boolean = in.hasNext
      def next(): (String, Boolean) = {
        val (id, f) = in.next()
        var flagged = f
        while (in.hasNext && in.head._1 == id) flagged |= in.next()._2
        (id, flagged)
      }
    }
    val head = new mutable.ArrayBuffer[(String, Boolean)](cap + 1)
    while (members.hasNext && head.length <= cap) head += members.next()
    if (head.length <= cap) {
      for {
        j <- head.indices.iterator
        i <- (0 until j).iterator
        if head(i)._2 || head(j)._2
      } yield (head(i)._1, head(j)._1, false)
    } else {
      // member j pairs with the members i < j where i >= j - width (chain),
      // or i < cap and either j probes or both sit in the prefix and i probes
      val probing = new Array[Boolean](cap)
      var probes = 0
      var j = -1L
      val recent = mutable.ArrayDeque.empty[(Long, String)] // positions j-width until j
      (head.iterator ++ members).flatMap { case (id, flagged) =>
        j += 1
        val probe = flagged && probes < probeLimit
        if (probe) probes += 1
        if (j < cap) probing(j.toInt) = probe
        val prefixEnd = if (probe || j < cap) math.min(j, cap.toLong).toInt else 0
        val out = mutable.ArrayBuffer.empty[(String, String, Boolean)]
        for (i <- 0 until prefixEnd if probe || probing(i) || i >= j - width)
          out += ((head(i)._1, id, true))
        for ((i, r) <- recent if i >= prefixEnd) out += ((r, id, true))
        recent.append((j, id))
        if (recent.length > width) recent.removeHead()
        out
      }
    }
  }
}
