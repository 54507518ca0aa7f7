package graft.seen

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen gate (SURVEY.md §2.4 J4 / §2.5 A2).
  *
  * The reference keeps a Python set / rewrites a CSV per URL
  * (scripts/utils/helpers.py:120-176). At 10^10-frontier design scale the
  * seen set cannot be a broadcast hash set, so the gate is two-stage:
  *
  *  1. sketch pre-filter — rows the sketch rejects are DEFINITELY unseen
  *     (no false negatives) and skip the join entirely;
  *  2. exact left-anti join on url_hash for sketch-positives only — removes
  *     the sketch's false positives. At fpp=3% only ~3% of truly-new URLs
  *     pay the join shuffle; seen URLs are filtered without error.
  *
  * The sketch has two builds, dispatched on the Bloom's size against Spark's
  * own broadcast limit (`spark.sql.autoBroadcastJoinThreshold`):
  *  - the Bloom fits: one driver-assembled Bloom broadcast to executors,
  *    frontier filtered shuffle-free;
  *  - it does not (or the limit is -1): per-bucket cuckoo filters folded ON
  *    THE EXECUTORS ([[CuckooAgg]]; a 10^10-URL seen set at 3% fpp is
  *    ~9 GiB as one Bloom) and pinned bucket-partitioned, the frontier
  *    zip-co-located with them ([[SketchHandle]]) — each task deserializes
  *    only its own buckets' filters, so per-executor memory is bounded by
  *    seen/B, not seen. The same pinned path serves the re-crawl window.
  *
  * Correctness identity: result == frontier LEFT ANTI JOIN seen, always —
  * asserted for both builds in UrlSeenSpec.
  */
object UrlSeen {

  /** Bucket count for the executor-built sketch — sized so one bucket's
    * filter stays executor-friendly (seen/B items each). */
  def bucketCount(expectedSeen: Long): Int =
    math.max(32, (expectedSeen / (64L * 1000 * 1000)).toInt)

  /** Build a Bloom sketch over `seen(hashCol)`. `expected` must be >= the
    * seen cardinality for the fpp bound to hold. */
  def bloomOf(seen: DataFrame, hashCol: String, expected: Long, fpp: Double = 0.03): BloomFilter =
    seen.stat.bloomFilter(hashCol, math.max(expected, 1L), fpp)

  /** frontier rows whose hashCol is NOT in seen. Two-stage: sketch
    * prefilter, then exact anti-join on the (few) sketch positives, then
    * union. Broadcasts a Bloom when `expectedSeen` items at `fpp` fit the
    * session's broadcast limit (a driver-side size check, no job);
    * otherwise runs the executor-built pinned cuckoo sketch, whose false-
    * positive rate is fixed and far below `fpp`; that path runs its build
    * and flag jobs here, when called, not when the result is used.
    *
    * CONTRACT: `expectedSeen == 0` asserts seen is empty and short-circuits
    * the whole gate — the engine passes the EXACT manifest rowCount it
    * already holds (CrawlEngine round setup), so the empty case costs zero
    * jobs. The previous `seen.isEmpty` probe was a full Spark job over the
    * seen table EVERY round just to learn "not empty" (VERDICT r03 #3,
    * per-round fixed cost). Callers with only an upper bound must pass >= 1
    * when emptiness is unknown (an overestimate merely sizes the sketch up). */
  def antiJoin(
      frontier: DataFrame,
      seen: DataFrame,
      hashCol: String,
      expectedSeen: Long,
      fpp: Double = 0.03,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    // a NEGATIVE estimate is always a caller bug (the 0 contract is "I hold
    // the exact count and it is zero") — failing loud here beats silently
    // disabling the dedup gate and re-crawling the whole seen set
    require(expectedSeen >= 0,
      s"expectedSeen must be >= 0 (exact-zero short-circuits the gate); got $expectedSeen")
    if (expectedSeen == 0) return frontier
    if (BloomFilter.optimalNumOfBits(expectedSeen, fpp) / 8 <= broadcastLimit(frontier))
      antiJoinBroadcast(frontier, seen, hashCol, expectedSeen, fpp, scope)
    else pinnedGate(frontier, seen, hashCol, expectedSeen, None,
      seen.select(col(hashCol)).distinct(), scope)
  }

  /** `spark.sql.autoBroadcastJoinThreshold` of the frontier's session, in
    * bytes (-1 = never broadcast). */
  private def broadcastLimit(frontier: DataFrame): Long =
    frontier.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  private def antiJoinBroadcast(
      frontier: DataFrame, seen: DataFrame, hashCol: String,
      expectedSeen: Long, fpp: Double,
      scope: graft.util.CacheScope): DataFrame = {
    val spark = frontier.sparkSession
    val bloom = bloomOf(seen, hashCol, expectedSeen, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    // codegen'd membership probe — the ScalaUDF it replaces boxed every
    // hash and broke whole-stage codegen on the round's hottest filter
    def mightBeSeen(c: Column): Column = graft.plans.BloomExprs.mightContain(c, bloomBc)
    // persisted: the definitely-new and candidate branches both read the
    // frontier — without this its upstream plan executes twice per round
    val input = scope.track(frontier.persist())
    // a NULL hash is definitely new (the probe is null-intolerant; the
    // exact anti-join keeps NULL-key rows)
    val definitelyNew = input.filter(col(hashCol).isNull || !mightBeSeen(col(hashCol)))
    val candidates = input.filter(mightBeSeen(col(hashCol)))
    val survivors = candidates.join(
      seen.select(col(hashCol)).distinct(), Seq(hashCol), "left_anti")
    definitelyNew.unionByName(survivors)
    // (callers release the persist via the passed CacheScope, or session-
    // level cleanup when unmanaged)
  }

  /** The executor-built sketch gate of one call: build cuckoo filters over
    * `seen`, pin them ([[SketchHandle.pin]]), delete `deletes` in place
    * ([[SketchHandle.update]]) and flag `frontier` against them. The flag
    * frame is materialized before the call's pinned generations are
    * released, so no pinned RDD outlives the call; what remains is Dataset
    * cache in `scope`, which `spark.catalog.clearCache()` also reaches. */
  private def pinnedGate(
      frontier: DataFrame, seen: DataFrame, hashCol: String, expectedSeen: Long,
      deletes: Option[DataFrame], exactSeen: DataFrame,
      scope: graft.util.CacheScope): DataFrame = {
    val b = bucketCount(expectedSeen)
    val pinned = SketchHandle.pin(buildCuckooFilters(seen, hashCol, expectedSeen, b),
      b, math.max(expectedSeen / b, 1L))
    val maintained = SketchHandle.update(pinned, hashCol, deletes, inserts = None)
    val flagged =
      try {
        val f = SketchHandle.flag(frontier, maintained, hashCol, scope)
        f.count()
        f
      } finally { maintained.unpersist(); pinned.unpersist() }
    SketchHandle.verify(flagged, exactSeen, hashCol)
  }

  /** Plain exact anti-join (the correctness identity; used at tiny scale and
    * as the test oracle for the Bloom path). */
  def exactAntiJoin(frontier: DataFrame, seen: DataFrame, hashCol: String): DataFrame =
    frontier.join(seen.select(col(hashCol)).distinct(), Seq(hashCol), "left_anti")

  /** The CUCKOO gate with a re-crawl window: frontier rows not in
    * (seen MINUS expired) — the north rule's "bloom/cuckoo URL-seen set",
    * exercising the half Bloom cannot do.
    *
    * At 10^10-frontier scale an expiry window (re-crawl pages older than N
    * days) invalidates part of the seen set every round. The Bloom build's
    * only move is discard-and-rebuild over the full seen table; a cuckoo
    * filter DELETES in place ([[CuckooFilter]]): per bucket, the expired
    * hashes are removed from the already-built filter — work proportional to
    * |expired|, not |seen|.
    *
    * The gate is the engine's own re-crawl path, the same pinned sketch
    * `antiJoin` runs above the broadcast limit, with the window deleted in
    * place ([[SketchHandle.update]]) before the frontier is flagged. Same two-stage
    * exactness contract as the Bloom gate: the filter has no false negatives
    * (multiset fingerprints + delete-only-inserted, enforced here by
    * semi-joining expired against seen), so sketch-negatives are definitely
    * not in (seen ∖ expired); sketch-positives pass an exact left-anti join
    * against (seen ∖ expired). Result == frontier LEFT ANTI (seen ∖ expired),
    * always — asserted vs the exact oracle in CuckooFilterSpec. No pinned
    * RDD outlives the call; `scope` releases its persisted frames.
    *
    * `expired` may be empty; `|expired| ≪ |seen|` is the design assumption
    * (a day's expiry vs the full history). */
  def antiJoinCuckoo(
      frontier: DataFrame,
      seen: DataFrame,
      expired: DataFrame,
      hashCol: String,
      expectedSeen: Long,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    require(expectedSeen >= 0,
      s"expectedSeen must be >= 0 (exact-zero short-circuits the gate); got $expectedSeen")
    if (expectedSeen == 0) return frontier
    // delete-safety: a delete of a never-inserted key could eat a colliding
    // key's fingerprint copy (false negative) — restrict to expired ∩ seen
    val expiredValid = scope.track(expired.select(col(hashCol)).distinct()
      .join(seen.select(col(hashCol)), Seq(hashCol), "left_semi").persist())
    val seenMinus = seen.select(col(hashCol)).distinct()
      .join(expiredValid, Seq(hashCol), "left_anti")
    pinnedGate(frontier, seen, hashCol, expectedSeen, Some(expiredValid), seenMinus, scope)
  }

  /** Build the PERSISTABLE per-bucket cuckoo sketch over `seen(hashCol)` —
    * one row per bucket, schema `(__bucket INT, __filter BINARY)`. This is
    * the state a long-lived crawl checkpoints next to the seen snapshot
    * table and then maintains INCREMENTALLY via [[SketchHandle.update]]
    * instead of rebuilding from the full 10^10-row history every round. */
  def buildCuckooFilters(
      seen: DataFrame, hashCol: String, expectedSeen: Long, buckets: Int): DataFrame = {
    val perBucket = math.max(expectedSeen / buckets, 1L)
    def bucketOf(c: Column): Column = pmod(c, lit(buckets)).cast("int")
    // repartition by the group key FIRST so partial agg buffers are
    // bucket-local (one task holds ~seen/P items of filter bits, never all)
    seen.select(col(hashCol))
      .repartition(buckets, bucketOf(col(hashCol)))
      .groupBy(bucketOf(col(hashCol)).as("__bucket"))
      .agg(CuckooAgg.cuckooAgg(col(hashCol), perBucket).as("__filter"))
  }
}
