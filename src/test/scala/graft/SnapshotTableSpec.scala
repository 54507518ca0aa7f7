package graft

import java.nio.file.Files
import graft.state.SnapshotTable

/** Unit contract of SnapshotTable.resolveBase — the resume-safety core every
  * engine commit and ingest append parents from. The invariant: resolve to
  * the HIGHEST snapshot whose whole ancestry back to the checkpointed base
  * is ingest-only; torn round commits above that head are orphaned, ingest
  * appends below (or between) them are NOT lost. The mixed-chain cases here
  * pin the fix for the pre-tear-ingest orphaning defect that
  * CrawlEngineRecrawlSpec's mid-re-crawl tear exposed end-to-end. */
class SnapshotTableSpec extends SparkTestBase {

  private def freshTable(): SnapshotTable =
    new SnapshotTable(spark, Files.createTempDirectory("graft-snap").toString)

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toDF("id")
  }
  private def idsAt(t: SnapshotTable, snap: Int): Set[Long] =
    t.readAt(snap).map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)

  test("pure ingest appends above the base stay visible") {
    val t = freshTable()
    val base = t.overwrite(df(1L), "round:1")
    t.append(df(2L), "ingest", t.resolveBase(base, "ingest"))
    val i2 = t.append(df(3L), "ingest", t.resolveBase(base, "ingest"))
    assert(t.resolveBase(base, "ingest") == i2)
    assert(idsAt(t, t.resolveBase(base, "ingest")) == Set(1L, 2L, 3L))
  }

  test("a torn round commit above the base is orphaned") {
    val t = freshTable()
    val base = t.overwrite(df(1L), "round:1")
    t.append(df(99L), "round:2", base) // committed, checkpoint never advanced
    assert(t.resolveBase(base, "ingest") == base)
    assert(idsAt(t, t.resolveBase(base, "ingest")) == Set(1L))
  }

  test("an ingest append BELOW a torn commit survives the tear") {
    val t = freshTable()
    val base = t.overwrite(df(1L), "round:1")
    val ing = t.append(df(2L), "ingest", t.resolveBase(base, "ingest"))
    t.append(df(99L), "round:2", t.resolveBase(base, "ingest")) // torn
    assert(t.resolveBase(base, "ingest") == ing)
    assert(idsAt(t, t.resolveBase(base, "ingest")) == Set(1L, 2L))
  }

  test("ingest after a tear forks past the orphan and keeps the earlier ingest") {
    val t = freshTable()
    val base = t.overwrite(df(1L), "round:1")
    t.append(df(2L), "ingest", t.resolveBase(base, "ingest"))
    t.append(df(99L), "round:2", t.resolveBase(base, "ingest")) // torn
    val i2 = t.append(df(3L), "ingest", t.resolveBase(base, "ingest"))
    assert(t.resolveBase(base, "ingest") == i2)
    assert(idsAt(t, t.resolveBase(base, "ingest")) == Set(1L, 2L, 3L)) // no 99
  }

  test("next round's commit parents from the resolved head, orphaning only the tear") {
    val t = freshTable()
    val base = t.overwrite(df(1L), "round:1")
    t.append(df(2L), "ingest", t.resolveBase(base, "ingest"))
    t.append(df(99L), "round:2", t.resolveBase(base, "ingest")) // torn round 2
    val r2 = t.append(df(4L), "round:2", t.resolveBase(base, "ingest")) // replay
    assert(idsAt(t, r2) == Set(1L, 2L, 4L))
  }

  test("a CURRENT swap torn between delete and rename rolls forward") {
    val root = Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTable(spark, root)
    t.overwrite(df(1L), "round:1")
    val s2 = t.append(df(2L), "ingest")
    tearPointerSwap(s"$root/snapshots/CURRENT")
    val restarted = new SnapshotTable(spark, root)
    assert(restarted.currentSnapshot.map(_.id) == Some(s2))
    // the next append takes the next id and parents from the rolled-forward
    // head; snapshot s2's manifest is not overwritten
    val s3 = restarted.append(df(3L), "ingest")
    assert(s3 == s2 + 1)
    assert(idsAt(restarted, s2) == Set(1L, 2L))
    assert(idsAt(restarted, s3) == Set(1L, 2L, 3L))
  }
}
