package graft.perfbench

/** Each output check accepts a correct result and rejects a perturbed one.
  * Exits non-zero on the first check that does not. */
object ChecksTest {
  private var failures = 0

  private def expect(name: String, good: Option[String], bad: Option[String]): Unit = {
    val ok = good.isEmpty && bad.isDefined
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name: good=${good.getOrElse("accepted")} " +
      s"perturbed=${bad.getOrElse("ACCEPTED")}")
  }

  def main(args: Array[String]): Unit = {
    // two rounds; round 2 re-schedules hash 11 as a retry (attempt 1)
    val good = Seq(
      Sched(1, 0, 11L, "a", 0, 0, 3, 5), Sched(1, 1, 12L, "a", 0, 0, 3, 6),
      Sched(1, 2, 13L, "b", 0, 1, 3, 2),
      Sched(2, 0, 11L, "a", 1, 0, 3, 5), Sched(2, 1, 14L, "b", 0, 2, 3, 1))

    expect("order_contiguous", Checks.contiguous(good),
      Checks.contiguous(good.map(s => if (s.round == 1 && s.order == 2) s.copy(order = 3) else s)))

    expect("order_priority", Checks.priorityOrder(good),
      Checks.priorityOrder(good.map(s => if (s.urlHash == 12L && s.round == 1) s.copy(seq = 4) else s)))

    expect("no_double_schedule (same round)", Checks.noRepeats(good, None),
      Checks.noRepeats(good.map(s => if (s.urlHash == 12L) s.copy(urlHash = 11L) else s), None))
    expect("no_double_schedule (not a retry)", Checks.noRepeats(good, None),
      Checks.noRepeats(good.map(s => if (s.round == 2 && s.urlHash == 11L) s.copy(attempt = 0) else s), None))
    val rotated = Seq(Sched(1, 0, 7L, "a", 0, 0, 3, 1), Sched(4, 0, 7L, "a", 0, 0, 3, 1))
    expect("no_double_schedule (inside the window)", Checks.noRepeats(rotated, Some(3)),
      Checks.noRepeats(rotated.map(s => if (s.round == 4) s.copy(round = 3) else s), Some(3)))

    expect("host_budget", Checks.budgets(good, _ => 2),
      Checks.budgets(good :+ Sched(1, 3, 15L, "a", 0, 1, 3, 9), _ => 2))

    val names = Seq(("42", "Product 42 Deluxe", "منتج 42 فاخر"))
    val expected = (id: Long) => (s"Product $id Deluxe", s"منتج $id فاخر")
    expect("names_exact", Checks.names(names, expected),
      Checks.names(names.map { case (i, en, ar) => (i, en, ar + " ") }, expected))
    expect("names_exact (no products)", Checks.names(names, expected), Checks.names(Nil, expected))

    expect("no_pre_seen_scheduled", Checks.noneScheduled(0), Checks.noneScheduled(1))

    val counts = Seq((1, 5L), (2, 5L), (3, 5L), (4, 5L), (5, 5L))
    expect("batch_per_round", Checks.exactPerRound(counts, 4, 5),
      Checks.exactPerRound(counts :+ ((6, 4L)), 4, 5))

    val stored = Map("sched:1" -> "3:ab:9", "products:1" -> "2:cd:7")
    expect("digests_repeat", Checks.sameDigests(stored, stored + ("sched:2" -> "1:0:1")),
      Checks.sameDigests(stored, Map("sched:1" -> "3:ab:8")))

    if (failures > 0) { println(s"$failures check(s) did not reject a perturbed result"); sys.exit(1) }
    println("all checks reject their perturbed results")
  }
}
