package graft

import org.apache.spark.sql.functions._
import graft.seen.{CuckooFilter, SketchHandle, UrlSeen}

/** Focused spec for the executor-pinned sketch transport (the one cuckoo
  * path: the engine's re-crawl gate and UrlSeen.antiJoinCuckoo): gate
  * identity vs the exact anti-join before and after an in-place update,
  * insert membership, new-bucket inserts, the loud delete-contract failure,
  * and zip alignment at a bucket count that does not divide the
  * parallelism. */
class SketchHandleSpec extends SparkTestBase {

  private def hashed(from: Long, to: Long) =
    spark.range(from, to).select(xxhash64(col("id")).as("url_hash"))

  test("pinned zip gate == exact anti-join (same filters)") {
    import spark.implicits._
    val seen = hashed(0, 3000)
    val frontier = hashed(2000, 5000)
      .withColumn("url", concat(lit("u"), col("url_hash")))
    val b = 7 // deliberately neither a divisor nor multiple of local cores
    val filters = UrlSeen.buildCuckooFilters(seen, "url_hash", 3000, b)
    val handle = SketchHandle.pin(filters, b, 3000 / b)
    try {
      val viaZip = SketchHandle.gate(frontier, handle, seen, "url_hash")
        .select("url_hash").as[Long].collect().sorted.toSeq
      val exact = UrlSeen.exactAntiJoin(frontier, seen, "url_hash")
        .select("url_hash").as[Long].collect().sorted.toSeq
      assert(viaZip == exact)
      // gate output keeps all frontier columns (minus the internal bucket)
      assert(SketchHandle.gate(frontier, handle, seen, "url_hash").columns.toSeq ==
        Seq("url_hash", "url"))
    } finally handle.unpersist()
  }

  test("zip update == exact anti-join on (seen minus deletes) + inserts, new bucket") {
    import spark.implicits._
    val b = 5
    // bucket 4 has no filter row until the inserts open it
    def offBucket4(df: org.apache.spark.sql.DataFrame) =
      df.filter(pmod(col("url_hash"), lit(b)) =!= 4)
    val seen = offBucket4(hashed(0, 2000))
    val deletes = offBucket4(hashed(0, 300)) // subset of inserted
    val inserts = hashed(5000, 5400)         // fresh keys, open bucket 4
    val handle = SketchHandle.pin(UrlSeen.buildCuckooFilters(seen, "url_hash", 2000, b), b, 2000L / b)
    val updated = SketchHandle.update(handle, "url_hash",
      deletes = Some(deletes), inserts = Some(inserts))
    try {
      assert(handle.rdd.keys.collect().toSet == (0 until 4).toSet)
      val filters = updated.rdd.collect().toMap.map { case (k, bytes) =>
        k -> CuckooFilter.deserialize(bytes) }
      assert(filters.keySet == (0 until b).toSet, "inserts must open the new bucket")
      def positive(h: Long) = filters(Math.floorMod(h, b.toLong).toInt).mightContain(h)
      inserts.as[Long].collect().foreach(h => assert(positive(h), s"inserted $h is sketch-negative"))
      val deleted = deletes.as[Long].collect()
      assert(deleted.count(positive) < deleted.length / 10, "deletes must clear their keys")
      val frontier = hashed(0, 6000)
      val evolved = seen.join(deletes, Seq("url_hash"), "left_anti").unionByName(inserts)
      val viaZip = SketchHandle.gate(frontier, updated, evolved, "url_hash")
        .as[Long].collect().sorted.toSeq
      val exact = UrlSeen.exactAntiJoin(frontier, evolved, "url_hash")
        .as[Long].collect().sorted.toSeq
      assert(viaZip == exact)
    } finally { handle.unpersist(); updated.unpersist() }
  }

  test("delete targeting a bucket with no filter row fails loud") {
    val seen = hashed(0, 50)
    val b = 4
    val filters = UrlSeen.buildCuckooFilters(seen, "url_hash", 50, b)
    // drop one bucket's row entirely, then delete keys that land in it
    val present = filters.collect().map(_.getInt(0)).toSet
    assert(present.nonEmpty)
    val victim = present.head
    val crippled = filters.filter(col("__bucket") =!= victim)
    val deletesAll = hashed(0, 50) // some land in the removed bucket
    val handle = SketchHandle.pin(crippled, b, 50)
    try {
      val e = intercept[org.apache.spark.SparkException] {
        SketchHandle.update(handle, "url_hash",
          deletes = Some(deletesAll), inserts = None).rdd.count()
      }
      assert(e.getMessage.contains("no filter row") ||
        Option(e.getCause).exists(_.getMessage.contains("no filter row")))
    } finally handle.unpersist()
  }

  test("empty frontier and empty update are exact no-ops") {
    import spark.implicits._
    val seen = hashed(0, 500)
    val b = 3
    val filters = UrlSeen.buildCuckooFilters(seen, "url_hash", 500, b)
    val handle = SketchHandle.pin(filters, b, 500)
    try {
      val empty = Seq.empty[Long].toDF("url_hash")
      assert(SketchHandle.gate(empty, handle, seen, "url_hash").count() == 0L)
      assert(SketchHandle.update(handle, "url_hash", None, None) eq handle)
    } finally handle.unpersist()
  }
}
