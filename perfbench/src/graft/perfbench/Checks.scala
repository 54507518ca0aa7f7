package graft.perfbench

/** One scheduled URL with the priority key of the frontier row it came
  * from: (host_rank, depth, discovered_seq, url_hash). */
final case class Sched(round: Int, order: Long, urlHash: Long, host: String,
    attempt: Int, hostRank: Int, depth: Int, seq: Long)

/** Output checks over collected results. Each returns None when the output
  * is correct and Some(reason) when it is not; none of them throws. */
object Checks {

  private def firstFailure(msgs: Iterator[String]): Option[String] =
    if (msgs.hasNext) Some(msgs.next()) else None

  /** crawl_order is 0, 1, ..., n-1 within every round. */
  def contiguous(rows: Seq[Sched]): Option[String] =
    firstFailure(rows.groupBy(_.round).iterator.flatMap { case (r, rs) =>
      val orders = rs.map(_.order).sorted
      if (orders == orders.indices.map(_.toLong)) None
      else Some(s"round $r: crawl_order is not 0..${rs.size - 1}")
    })

  /** Within a round, crawl_order is non-decreasing in the priority key. */
  def priorityOrder(rows: Seq[Sched]): Option[String] = {
    val key = Ordering[(Int, Int, Long, Long)]
    firstFailure(rows.groupBy(_.round).iterator.flatMap { case (r, rs) =>
      rs.sortBy(_.order).map(s => (s.hostRank, s.depth, s.seq, s.urlHash)).sliding(2)
        .collectFirst { case Seq(a, b) if key.gt(a, b) => s"round $r: key $a sorts after $b" }
    })
  }

  /** No url_hash twice in one round; in a later round only as a retry (a
    * higher attempt) or, under a re-crawl window w, at least w rounds on. */
  def noRepeats(rows: Seq[Sched], window: Option[Int]): Option[String] = {
    val last = scala.collection.mutable.HashMap.empty[Long, Sched]
    firstFailure(rows.sortBy(s => (s.round, s.order)).iterator.flatMap { s =>
      val bad = last.get(s.urlHash).collect {
        case p if p.round == s.round => s"url_hash ${s.urlHash} scheduled twice in round ${s.round}"
        case p if s.attempt <= p.attempt && !window.exists(s.round - p.round >= _) =>
          s"url_hash ${s.urlHash} re-scheduled in round ${s.round} (last round ${p.round})"
      }
      last(s.urlHash) = s
      bad
    })
  }

  /** No host schedules more than its budget in any round. */
  def budgets(rows: Seq[Sched], budget: String => Int): Option[String] =
    firstFailure(rows.groupBy(s => (s.round, s.host)).iterator.collect {
      case ((r, h), rs) if rs.size > budget(h) =>
        s"round $r: host $h scheduled ${rs.size} > budget ${budget(h)}"
    })

  /** Committed (product_id, name_en, name_ar) equal the generator's names. */
  def names(rows: Seq[(String, String, String)], expected: Long => (String, String)): Option[String] =
    if (rows.isEmpty) Some("no committed products")
    else firstFailure(rows.iterator.collect {
      case (id, en, ar) if scala.util.Try(expected(id.toLong)).toOption.forall(_ != ((en, ar))) =>
        s"product $id: names ($en, $ar) differ from the generator"
    })

  /** Pre-seen hashes that were scheduled: must be none. */
  def noneScheduled(hits: Long): Option[String] =
    if (hits == 0) None else Some(s"$hits pre-seen url_hash values were scheduled")

  /** Every round from `from` on schedules exactly `b` URLs. */
  def exactPerRound(counts: Seq[(Int, Long)], from: Int, b: Long): Option[String] =
    firstFailure(counts.iterator.collect {
      case (r, n) if r >= from && n != b => s"round $r scheduled $n, expected $b"
    })

  /** Digests recorded earlier for the same inputs equal today's. */
  def sameDigests(stored: Map[String, String], now: Map[String, String]): Option[String] =
    firstFailure(now.iterator.collect {
      case (k, v) if stored.get(k).exists(_ != v) => s"$k digest $v differs from earlier ${stored(k)}"
    })
}
