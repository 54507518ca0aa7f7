package graft

import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.seen.{CuckooAgg, CuckooFilter, SketchHandle, UrlSeen}

class CuckooFilterSpec extends SparkTestBase {

  private def keys(n: Int, seed: Long): Array[Long] =
    Array.tabulate(n)(i => Synthetic.mix2(seed, i.toLong))

  test("no false negatives for inserted keys") {
    val f = CuckooFilter.create(10000)
    val ks = keys(10000, 1)
    ks.foreach(f.insert)
    ks.foreach(k => assert(f.mightContain(k), s"false negative for $k"))
  }

  test("false-positive rate is far below the Bloom gate's 3%") {
    val f = CuckooFilter.create(20000)
    keys(20000, 2).foreach(f.insert)
    val fresh = keys(100000, 3)
    val fp = fresh.count(f.mightContain)
    // expected ~ 2*4/2^16 * load ≈ 1e-4 -> ~10 of 100k; allow generous slack
    assert(fp < 200, s"fp rate too high: $fp / 100000")
  }

  test("delete removes the key; colliding copies survive one delete (multiset)") {
    val f = CuckooFilter.create(1000)
    val ks = keys(1000, 4)
    ks.foreach(f.insert)
    // delete every third key; the rest must stay positive (delete-safety)
    val (gone, kept) = ks.zipWithIndex.partition(_._2 % 3 == 0)
    gone.foreach { case (k, _) => assert(f.delete(k), s"delete failed for $k") }
    kept.foreach { case (k, _) => assert(f.mightContain(k), s"delete ate survivor $k") }
    // duplicate inserts on a fresh filter: each delete removes ONE copy
    val g = CuckooFilter.create(100)
    val dup = keys(1, 5)(0)
    g.insert(dup); g.insert(dup)
    assert(g.delete(dup) && g.mightContain(dup), "first delete must leave the second copy")
    assert(g.delete(dup) && !g.mightContain(dup), "second delete must clear the key")
  }

  test("delete of a never-inserted key returns false and changes nothing") {
    val f = CuckooFilter.create(100)
    val ks = keys(100, 6)
    ks.foreach(f.insert)
    assert(!f.delete(Synthetic.mix2(99, 99)))
    ks.foreach(k => assert(f.mightContain(k)))
  }

  test("overload past capacity spills to the stash, never loses a key") {
    val f = CuckooFilter.create(64) // tiny: forces kicks + stash
    val ks = keys(300, 7)           // ~5x capacity
    ks.foreach(f.insert)
    assert(f.stashSize > 0, "expected stash spill at 5x load")
    ks.foreach(k => assert(f.mightContain(k), s"lost $k under overload"))
    assert(f.occupiedSlots == 300, "multiset must keep every inserted copy")
  }

  test("serialize/deserialize round-trips membership and stash") {
    val f = CuckooFilter.create(64)
    val ks = keys(300, 8)
    ks.foreach(f.insert)
    val g = CuckooFilter.deserialize(f.serialized)
    assert(g.numBuckets == f.numBuckets && g.stashSize == f.stashSize)
    ks.foreach(k => assert(g.mightContain(k)))
  }

  test("mergeInPlace preserves the union multiset across partials") {
    val a = CuckooFilter.create(2000)
    val b = CuckooFilter.create(2000)
    val ka = keys(800, 9)
    val kb = keys(800, 10)
    ka.foreach(a.insert)
    kb.foreach(b.insert)
    a.mergeInPlace(b)
    (ka ++ kb).foreach(k => assert(a.mightContain(k), s"merge lost $k"))
    assert(a.occupiedSlots == 1600)
  }

  test("CuckooAgg builds per-bucket filters on executors with no false negatives") {
    val seen = spark.range(0, 20000).select(xxhash64(col("id")).as("url_hash"))
    val filters = seen
      .repartition(8, pmod(col("url_hash"), lit(8)).cast("int"))
      .groupBy(pmod(col("url_hash"), lit(8)).cast("int").as("bucket"))
      .agg(CuckooAgg.cuckooAgg(col("url_hash"), 20000 / 8).as("filter"))
      .collect()
      .map(r => r.getInt(0) -> CuckooFilter.deserialize(r.getAs[Array[Byte]](1))).toMap
    assert(filters.size == 8)
    seen.collect().map(_.getLong(0)).foreach { h =>
      val b = (((h % 8) + 8) % 8).toInt
      assert(filters(b).mightContain(h), s"false negative for $h")
    }
  }

  test("cuckoo gate == exact anti-join against (seen minus expired)") {
    import spark.implicits._
    val frontier = Synthetic.frontier(spark, 1200, 4).toDF()
    val seen = frontier.filter(col("url_hash") % 3 === 0).select("url_hash")
    val expired = frontier.filter(col("url_hash") % 9 === 0).select("url_hash")
    val seenN = seen.count()
    val viaCuckoo = UrlSeen.antiJoinCuckoo(frontier, seen, expired, "url_hash", seenN)
      .select("url_hash").as[Long].collect().sorted.toSeq
    val exact = UrlSeen.exactAntiJoin(
        frontier, seen.join(expired, Seq("url_hash"), "left_anti"), "url_hash")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(viaCuckoo == exact)
    assert(viaCuckoo.size > UrlSeen.exactAntiJoin(frontier, seen, "url_hash").count(),
      "the expiry window must re-admit rows")
    spark.catalog.clearCache()
  }

  test("cuckoo gate with empty expiry == the plain exact anti-join") {
    import spark.implicits._
    val frontier = Synthetic.frontier(spark, 600, 4).toDF()
    val seen = frontier.filter(col("url_hash") % 3 === 0).select("url_hash")
    val expired = seen.limit(0)
    val viaCuckoo = UrlSeen.antiJoinCuckoo(frontier, seen, expired, "url_hash", seen.count())
      .select("url_hash").as[Long].collect().sorted.toSeq
    val exact = UrlSeen.exactAntiJoin(frontier, seen, "url_hash")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(viaCuckoo == exact)
    spark.catalog.clearCache()
  }

  test("incremental lifecycle: build once, delete+insert in place, gate stays exact") {
    import spark.implicits._
    val frontier = Synthetic.frontier(spark, 1500, 4).toDF()
    val seen = frontier.filter(col("url_hash") % 3 === 0).select("url_hash").distinct()
    val seenN = seen.count()
    val b = UrlSeen.bucketCount(seenN)
    val perBucket = math.max(seenN / b, 1L)
    // round 1 state: built once, then maintained — never rebuilt
    val filters = UrlSeen.buildCuckooFilters(seen, "url_hash", seenN, b)
    // round 2 boundary: a third of seen expires; the round's crawled URLs
    // (drawn from frontier rows NOT previously seen) become newly seen
    val expired = seen.filter(col("url_hash") % 9 === 0)
    val crawled = frontier.filter(col("url_hash") % 3 =!= 0 && col("url_hash") % 5 === 0)
      .select("url_hash").distinct()
    val pinned = SketchHandle.pin(filters, b, perBucket)
    val updated = SketchHandle.update(pinned, "url_hash",
      deletes = Some(expired), inserts = Some(crawled))
    val evolved = seen.join(expired, Seq("url_hash"), "left_anti").unionByName(crawled)
    try {
      val viaCuckoo = SketchHandle.gate(frontier, updated, evolved, "url_hash")
        .select("url_hash").as[Long].collect().sorted.toSeq
      val exact = UrlSeen.exactAntiJoin(frontier, evolved, "url_hash")
        .select("url_hash").as[Long].collect().sorted.toSeq
      assert(viaCuckoo == exact)
      // the insert side must actually bite: crawled rows are gated out now
      assert(exact.toSet.intersect(crawled.as[Long].collect().toSet).isEmpty)
    } finally { pinned.unpersist(); updated.unpersist() }
    spark.catalog.clearCache()
  }

  test("expired hashes NOT in seen are ignored (delete-safety guard)") {
    import spark.implicits._
    val frontier = Synthetic.frontier(spark, 600, 4).toDF()
    val seen = frontier.filter(col("url_hash") % 3 === 0).select("url_hash")
    // poison: expire hashes that were never seen — must be a no-op
    val poison = frontier.filter(col("url_hash") % 3 =!= 0).select("url_hash")
    val viaCuckoo = UrlSeen.antiJoinCuckoo(frontier, seen, poison, "url_hash", seen.count())
      .select("url_hash").as[Long].collect().sorted.toSeq
    val exact = UrlSeen.exactAntiJoin(frontier, seen, "url_hash")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(viaCuckoo == exact)
    spark.catalog.clearCache()
  }
}
