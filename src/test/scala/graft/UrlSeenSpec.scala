package graft

import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.seen.UrlSeen

class UrlSeenSpec extends SparkTestBase {

  test("bloom+exact anti-join identical to plain exact anti-join (no false negatives)") {
    import spark.implicits._
    val frontier = Synthetic.frontier(spark, 1200, 4).toDF()
    val seen = frontier.filter(col("url_hash") % 3 === 0).select("url_hash")
    val seenN = seen.count()
    val viaBloom = UrlSeen.antiJoin(frontier, seen, "url_hash", seenN, 0.05)
      .select("url_hash").as[Long].collect().sorted.toSeq
    val exact = UrlSeen.exactAntiJoin(frontier, seen, "url_hash")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(viaBloom == exact)
  }

  test("empty seen table passes everything through") {
    import spark.implicits._
    val frontier = Synthetic.frontier(spark, 100, 2).toDF()
    val empty = Seq.empty[Long].toDF("url_hash")
    assert(UrlSeen.antiJoin(frontier, empty, "url_hash", 0).count() == frontier.count())
  }

  test("above the broadcast limit the sketch gate equals plain exact anti-join") {
    import spark.implicits._
    import org.apache.spark.util.sketch.BloomFilter
    val frontier = Synthetic.frontier(spark, 1200, 4).toDF()
    val seen = frontier.filter(col("url_hash") % 3 === 0).select("url_hash")
    val seenN = seen.count()
    val bloomBytes = BloomFilter.optimalNumOfBits(seenN, 0.05) / 8
    def gate(limit: Long) = withBroadcastLimit(limit.toString)(
      UrlSeen.antiJoin(frontier, seen, "url_hash", seenN, 0.05))
    // a Bloom exactly at the limit is broadcast, one byte over it is not
    assert(gate(bloomBytes).queryExecution.analyzed.toString.contains("bloom_might_contain"))
    val viaSketch = gate(bloomBytes - 1)
    assert(!viaSketch.queryExecution.analyzed.toString.contains("bloom_might_contain"))
    val exact = UrlSeen.exactAntiJoin(frontier, seen, "url_hash")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(viaSketch.select("url_hash").as[Long].collect().sorted.toSeq == exact)
    spark.catalog.clearCache()
  }

  test("a NULL url_hash is definitely new in every seen gate (== exact anti-join)") {
    import spark.implicits._
    import graft.seen.SketchHandle
    import graft.util.CacheScope
    val base = Synthetic.frontier(spark, 200, 4).toDF().select("url_hash", "url")
    val frontier = base.unionByName(Seq((Option.empty[Long], "null-hash")).toDF("url_hash", "url"))
    val seen = base.filter(col("url_hash") % 2 === 0).select("url_hash")
    val seenN = seen.count()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Option[Long], String)] =
      df.select("url_hash", "url").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSeq.sorted
    val exact = rows(UrlSeen.exactAntiJoin(frontier, seen, "url_hash"))
    assert(exact.contains((None, "null-hash")))
    val b = UrlSeen.bucketCount(seenN)
    val scope = new CacheScope
    val handle = SketchHandle.pin(
      UrlSeen.buildCuckooFilters(seen, "url_hash", seenN, b), b, math.max(seenN / b, 1L))
    val gates: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "broadcast bloom" -> (() => UrlSeen.antiJoin(frontier, seen, "url_hash", seenN, scope = scope)),
      "sketch above the broadcast limit" -> (() => withBroadcastLimit("-1")(
        UrlSeen.antiJoin(frontier, seen, "url_hash", seenN, scope = scope))),
      "cuckoo" -> (() => UrlSeen.antiJoinCuckoo(frontier, seen, seen.limit(0), "url_hash", seenN,
        scope = scope)),
      "pinned sketch" -> (() => SketchHandle.gate(frontier, handle, seen, "url_hash", scope)))
    try {
      val wrong = gates.flatMap { case (name, gate) =>
        scala.util.Try(rows(gate())) match {
          case scala.util.Success(got) if got == exact => None
          case scala.util.Success(got) => Some(s"$name: ${got.size} rows, exact ${exact.size}")
          case scala.util.Failure(e) => Some(s"$name: threw ${e.getClass.getSimpleName}")
        }
      }
      assert(wrong.isEmpty, wrong.mkString("; "))
    } finally { scope.unpersistAll(); handle.unpersist() }
  }

  test("bloom prefilter actually prunes: most unseen rows skip the join") {
    // statistical: with fpp=3%, >90% of truly-new hashes must be rejected by
    // the sketch (mightContain=false)
    import spark.implicits._
    val seen = spark.range(0, 10000).select(xxhash64(col("id")).as("url_hash"))
    val bloom = UrlSeen.bloomOf(seen, "url_hash", 10000, 0.03)
    val fresh = (100000L until 101000L).map(graft.gen.Synthetic.mix)
    val falsePos = fresh.count(bloom.mightContainLong)
    assert(falsePos < 100, s"false-positive rate too high: $falsePos/1000")
  }
}
