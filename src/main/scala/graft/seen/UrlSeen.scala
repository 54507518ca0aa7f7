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
  *  1. Bloom pre-filter — rows the Bloom rejects are DEFINITELY unseen (no
  *     false negatives) and skip the join entirely.
  *  2. Exact left-anti join on url_hash for Bloom-positives only — removes
  *     the Bloom's false positives. At fpp=3% only ~3% of truly-new URLs pay
  *     the join shuffle; seen URLs are filtered without error.
  *
  * The Bloom itself has two builds, dispatched on seen cardinality:
  *  - small (fits a broadcast comfortably): one driver-assembled filter
  *    broadcast to executors, frontier filtered shuffle-free;
  *  - at scale: PARTITIONED blooms — seen is hashed into B buckets, each
  *    bucket folds its own filter via a TypedImperativeAggregate ON THE
  *    EXECUTORS (no driver merge, no monolithic broadcast: a 10^10-URL seen
  *    set at 3% fpp is ~9 GiB as one filter), and the frontier cogroups
  *    with its bucket's filter — each task deserializes exactly one bucket
  *    filter, so per-executor memory is bounded by seen/B, not seen.
  *
  * Correctness identity: result == frontier LEFT ANTI JOIN seen, always —
  * asserted for both builds in UrlSeenSpec.
  */
object UrlSeen {

  /** Above this seen cardinality the driver/broadcast Bloom is replaced by
    * the partitioned build (at 0.03 fpp, 8M longs ~ 7 MiB of filter). */
  val PartitionedThreshold: Long = 8L * 1000 * 1000

  /** Bucket count for the partitioned build — sized so one bucket's filter
    * stays executor-friendly (seen/B items each). */
  def bucketCount(expectedSeen: Long): Int =
    math.max(32, (expectedSeen / (64L * 1000 * 1000)).toInt)

  /** Build a Bloom sketch over `seen(hashCol)`. `expected` must be >= the
    * seen cardinality for the fpp bound to hold. */
  def bloomOf(seen: DataFrame, hashCol: String, expected: Long, fpp: Double = 0.03): BloomFilter =
    seen.stat.bloomFilter(hashCol, math.max(expected, 1L), fpp)

  /** frontier rows whose hashCol is NOT in seen. Two-stage: Bloom prefilter,
    * then exact anti-join on the (few) Bloom positives, then union.
    * Dispatches between the broadcast and partitioned Bloom builds on
    * `expectedSeen` (override via `forcePartitioned` in tests).
    *
    * CONTRACT: `expectedSeen == 0` asserts seen is empty and short-circuits
    * the whole gate — the engine passes the EXACT manifest rowCount it
    * already holds (CrawlEngine round setup), so the empty case costs zero
    * jobs. The previous `seen.isEmpty` probe was a full Spark job over the
    * seen table EVERY round just to learn "not empty" (VERDICT r03 #3,
    * per-round fixed cost). Callers with only an upper bound must pass >= 1
    * when emptiness is unknown (an overestimate merely sizes the Bloom up). */
  def antiJoin(
      frontier: DataFrame,
      seen: DataFrame,
      hashCol: String,
      expectedSeen: Long,
      fpp: Double = 0.03,
      forcePartitioned: Boolean = false,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    // a NEGATIVE estimate is always a caller bug (the 0 contract is "I hold
    // the exact count and it is zero") — failing loud here beats silently
    // disabling the dedup gate and re-crawling the whole seen set
    require(expectedSeen >= 0,
      s"expectedSeen must be >= 0 (exact-zero short-circuits the gate); got $expectedSeen")
    if (expectedSeen == 0) return frontier
    if (forcePartitioned || expectedSeen > PartitionedThreshold)
      antiJoinPartitioned(frontier, seen, hashCol, expectedSeen, fpp, scope)
    else antiJoinBroadcast(frontier, seen, hashCol, expectedSeen, fpp, scope)
  }

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

  /** The scale build: per-bucket blooms folded on executors, frontier
    * cogrouped with its bucket's filter (one deserialization per bucket per
    * task, never a per-row one), then the exact anti-join on candidates. A
    * bucket with no filter row, and a NULL hash, flag false (definitely new). */
  def antiJoinPartitioned(
      frontier: DataFrame, seen: DataFrame, hashCol: String,
      expectedSeen: Long, fpp: Double,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BooleanType, StructType}
    val b = bucketCount(expectedSeen)
    val perBucket = math.max(expectedSeen / b, 1L)
    def bucketOf(c: Column): Column = pmod(c, lit(b)).cast("int")
    // repartition by the group key FIRST so the aggregate's partial buffers
    // are bucket-local (a task only ever holds its own buckets' filters —
    // ~seen/P items of filter bits per task); groupBy reuses the partitioning
    val blooms = seen
      .select(col(hashCol))
      .repartition(b, bucketOf(col(hashCol)))
      .groupBy(bucketOf(col(hashCol)).as("__bucket"))
      .agg(BloomAgg.bloomAgg(col(hashCol), perBucket, fpp).as("__bloom"))
    val withBucket = frontier.withColumn("__bucket", bucketOf(col(hashCol)))
    val hashIdx = withBucket.schema.fieldIndex(hashCol)
    val outSchema = StructType(withBucket.schema.fields)
      .add("__maybe_seen", BooleanType, nullable = false)
    val fGrouped = withBucket.groupByKey((r: Row) => r.getAs[Int]("__bucket"))(Encoders.scalaInt)
    val sGrouped = blooms.groupByKey((r: Row) => r.getInt(0))(Encoders.scalaInt)
    val flagged = fGrouped.cogroup(sGrouped) { (_, rows, sketchRows) =>
      sketchRows.toList.headOption match {
        case None =>
          rows.map(r => Row.fromSeq(r.toSeq :+ false))
        case Some(sr) =>
          val bloom = BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(sr.getAs[Array[Byte]](1)))
          rows.map(r => Row.fromSeq(r.toSeq :+
            (!r.isNullAt(hashIdx) && bloom.mightContainLong(r.getLong(hashIdx)))))
      }
    }(Encoders.row(outSchema)).toDF()
    val flaggedP = scope.track(flagged.persist()) // both branches below read it
    val definitelyNew = flaggedP.filter(!col("__maybe_seen")).drop("__maybe_seen", "__bucket")
    val candidates = flaggedP.filter(col("__maybe_seen")).drop("__maybe_seen", "__bucket")
    val survivors = candidates.join(seen.select(col(hashCol)).distinct(), Seq(hashCol), "left_anti")
    definitelyNew.unionByName(survivors)
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
    * The gate is the engine's own re-crawl path: build, pin
    * ([[SketchHandle.pin]]), delete the window in place
    * ([[SketchHandle.update]]), gate ([[SketchHandle.gate]]). Same two-stage
    * exactness contract as the Bloom gate: the filter has no false negatives
    * (multiset fingerprints + delete-only-inserted, enforced here by
    * semi-joining expired against seen), so sketch-negatives are definitely
    * not in (seen ∖ expired); sketch-positives pass an exact left-anti join
    * against (seen ∖ expired). Result == frontier LEFT ANTI (seen ∖ expired),
    * always — asserted vs the exact oracle in CuckooFilterSpec. `scope`
    * releases the pinned sketch generations along with its persisted frames.
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
    val b = bucketCount(expectedSeen)
    // delete-safety: a delete of a never-inserted key could eat a colliding
    // key's fingerprint copy (false negative) — restrict to expired ∩ seen
    val expiredValid = scope.track(expired.select(col(hashCol)).distinct()
      .join(seen.select(col(hashCol)), Seq(hashCol), "left_semi").persist())
    val pinned = SketchHandle.pin(buildCuckooFilters(seen, hashCol, expectedSeen, b),
      b, math.max(expectedSeen / b, 1L))
    val maintained = SketchHandle.update(pinned, hashCol,
      deletes = Some(expiredValid), inserts = None)
    scope.onRelease(() => { pinned.unpersist(); maintained.unpersist() })
    val seenMinus = seen.select(col(hashCol)).distinct()
      .join(expiredValid, Seq(hashCol), "left_anti")
    SketchHandle.gate(frontier, maintained, seenMinus, hashCol, scope)
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
