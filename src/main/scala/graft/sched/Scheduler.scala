package graft.sched

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.politeness.Politeness

/** The frontier drain (SURVEY.md §2.7 O1, §7 module 5).
  *
  * The reference drains its frontier strictly in file order on one thread
  * (carrefour_extract_data.py:216). A parallel engine must reproduce that
  * determinism while actually being parallel, so the crawl order is a pure
  * function of the data — the priority key (host_rank, depth,
  * discovered_seq, url_hash) — never of task timing. Verified invariant
  * across local[N] in SchedulerSpec.
  *
  * Scale design:
  *  - global numbering uses repartitionByRange + sortWithinPartitions +
  *    per-partition offsets (two light jobs, no single-reducer window, no
  *    RDD API) — each partition numbers its own sorted range independently;
  *  - the fetch stage repartitions by SALTED host hash
  *    (xxhash64(host, salt) % P) so one hot host (the synthetic corpus gives
  *    host0 ~50% of URLs) spreads over `saltFactor` partitions instead of
  *    pinning one executor, while per-host budgets keep politeness intact.
  */
object Scheduler {

  /** Deterministic priority key, worst-first = never; lowest sorts first. */
  val priorityColNames: Seq[String] = Seq("host_rank", "depth", "discovered_seq", "url_hash")

  /** Assign a contiguous, parallelism-invariant global `crawl_order` by the
    * given sort columns. Two jobs: (1) count rows per range partition,
    * (2) number rows within each sorted range offset by the cumulative
    * counts. Requires the sort key to be a total order (url_hash tiebreak
    * guarantees it).
    *
    * The range-partition id is MATERIALIZED into the cached rows (`__pid`)
    * rather than read from TaskContext at numbering time: a downstream
    * `coalesce` (e.g. before a single-file write) merges several range
    * partitions into one task, where TaskContext.getPartitionId would lie;
    * the per-parent-partition mapPartitions invocation still sees one
    * consistent `__pid` per iterator, so the offsets stay correct under any
    * physical re-packing. */
  def withCrawlOrder(
      df: DataFrame,
      sortCols: Seq[Column],
      numPartitions: Int,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): DataFrame = {
    val ranged = scope.track(df
      .repartitionByRange(numPartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()) // materialized by the counts job below, with correct pids
    val counts: Array[(Int, Long)] = ranged
      .groupBy(col("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] = {
      val sorted = counts.sortBy(_._1)
      var acc = 0L
      sorted.map { case (pid, c) => val off = acc; acc += c; pid -> off }.toMap
    }
    val spark = df.sparkSession
    val offsetsBc = spark.sparkContext.broadcast(offsets)
    val pidIdx = ranged.schema.fieldIndex("__pid")
    val outSchema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields.filterNot(_.name == "__pid"))
      .add("crawl_order", LongType, nullable = false)
    ranged.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        var i = offsetsBc.value.getOrElse(buf.head.getInt(pidIdx), 0L)
        buf.map { row =>
          val vals = row.toSeq
          val out = Row.fromSeq(vals.patch(pidIdx, Nil, 1) :+ i)
          i += 1
          out
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Full scheduling round with NARROW shuffles: robots filtering runs on
    * the wide rows first (broadcast rules + expression fold — shuffle-free),
    * then the seen gate, dedup, the budget windows and the range-partitioned
    * global ordering all shuffle only
    * (url_hash, host, depth, host_rank, discovered_seq, attempt) — the long
    * url/url_norm/category strings cross the wire exactly once, keyed by
    * (url_hash, discovered_seq). Identical output to the wide single-window
    * form (CrawlEngineSpec oracle + SchedulerSpec's `WideScheduler`).
    *
    * Exchange budget (the round-2 profile showed dedup + budget phase-1 as
    * separate full-frontier exchanges): equal url_hash implies equal host
    * AND equal pmod(url_hash, salt), so ONE explicit repartition on
    * (host, salt) co-locates every url_hash group AND is exactly the
    * distribution budget phase-1 needs — the dedup (a lag window ordered by
    * (url_hash, discovered_seq)) and the phase-1 top-K window both run on
    * that single exchange, each adding only a sort. The seen gate runs
    * BEFORE it (the gate drops whole url_hash groups, so it commutes with
    * dedup) because its internal union would hide the partitioning anyway.
    *
    * The strings side is reduced to ONE deterministic row per join key
    * (lexicographic-min struct): at-least-once ingest can replay identical
    * frontier rows, and a key collision would otherwise fan out the rejoin
    * into duplicate scheduled rows (ADVICE r02 medium). The groupBy hashes
    * on the join keys, so the rejoin reuses that exact partitioning — the
    * wide rows still cross the wire once.
    *
    * Returns (scheduled-with-crawl_order, deferred), both wide. */
  def scheduleRoundNarrow(
      pending: DataFrame,
      robots: DataFrame,
      budgets: DataFrame,
      /** The URL-seen gate: called with the narrow frontier projection, it
        * returns the projection's unseen subset (the engine passes
        * `UrlSeen.antiJoin`, or `SketchHandle.gate` under a re-crawl
        * window). */
      gate: DataFrame => DataFrame,
      defaultBudget: Int,
      numPartitions: Int,
      saltFactor: Int = 16,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val allowed = Politeness.applyRobots(pending, robots)
    val narrowCols = Seq("url_hash", "host", "depth", "host_rank", "discovered_seq", "attempt")
    val joinKeys = Seq("url_hash", "discovered_seq")
    // persisted: both the narrow pipeline and the string side scan `allowed`
    val allowedP = scope.track(allowed.persist())
    val stringCols = allowedP.columns.toSeq
      .filterNot(c => narrowCols.contains(c) && !joinKeys.contains(c))
      .filterNot(joinKeys.contains)
    val strings = allowedP
      .groupBy(joinKeys.map(col): _*)
      .agg(min(struct(stringCols.map(col): _*)).as("__row"))
      .select(joinKeys.map(col) ++ stringCols.map(c => col("__row").getField(c).as(c)): _*)
    val unseen = gate(allowedP.select(narrowCols.map(col): _*))
    val saltExpr = pmod(col("url_hash"), lit(saltFactor))
    val partitioned = unseen.repartition(numPartitions, col("host"), saltExpr)
    // first-wins dedup as a lag scan over the shared exchange: rows of one
    // url_hash are consecutive under (url_hash, discovered_seq) order, the
    // run's first row is the minimum discovered_seq
    val dedupW = Window.partitionBy(col("host"), saltExpr)
      .orderBy(col("url_hash"), col("discovered_seq"))
    val deduped = partitioned
      .withColumn("__prev", lag(col("url_hash"), 1).over(dedupW))
      .filter(col("__prev").isNull || col("__prev") =!= col("url_hash"))
      .drop("__prev")
    val budgeted = Politeness.applyBudgets(deduped, budgets, defaultBudget, saltFactor, scope)
    val now = budgeted.filter(col("scheduled_now")).drop("scheduled_now")
    val deferred = budgeted.filter(!col("scheduled_now")).drop("scheduled_now")
    val ordered = withCrawlOrder(
      now, priorityColNames.map(col), numPartitions, scope)
    (ordered.join(strings, joinKeys), deferred.join(strings, joinKeys))
  }

  /** Salted repartition-by-host for the fetch/extract stage: a host's rows
    * land on `saltFactor` partitions (not 1, not all), bounding both skew
    * and the number of concurrent workers per host. */
  def saltedByHost(df: DataFrame, numPartitions: Int, saltFactor: Int): DataFrame = {
    val salt = pmod(col("url_hash"), lit(saltFactor))
    df.repartition(numPartitions, col("host"), salt)
      .sortWithinPartitions(priorityColNames.map(col): _*)
  }
}
