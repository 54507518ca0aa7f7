package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Crawl-round benchmark driver: one JVM, one Spark session at local[k].
  *
  * `--phase prepare` generates the seed's inputs into the input cache (or
  * finds them there) and exits; a measuring run (`--phase measure`) only
  * reads them, so every measuring JVM starts from the same state whether
  * the inputs were cached or not.
  *
  * Both measuring modes first set up: init plus pre-seeded ingest (`Setups` times on
  * throwaway state dirs, the median counts), then one warm-up round.
  *
  * Untraced (`--trace 0`): the closed crawl loop runs ingest + runRound one
  * round at a time until `--seconds` have been measured, then every output
  * is checked. Prints the end-to-end metrics.
  *
  * Traced (`--trace 1`): the next round is replayed step by step under
  * spans (`Replay`), then run untraced by the engine with a task listener
  * attached (the `app.*` counts), then one more round runs on a fresh
  * engine over the checkpointed state (a resume). Prints the per-layer
  * metrics and writes the spans and per-job-group counters to
  * `<work>/trace/`.
  *
  * Usage: graft.perfbench.Main --phase prepare --workload W --seed N --work DIR --cores K
  *        graft.perfbench.Main --phase measure --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --cores K
  * The last stdout line starting with `PERFBENCH ` is the result. */
object Main {
  val Setups = 3

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val preparing = opt("phase") == "prepare"
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    require(Workload.names.contains(workload), s"unknown workload $workload")

    val runDir = new File(work, s"run-$workload")
    Inputs.deleteTree(runDir)
    runDir.mkdirs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (preparing) {
      try {
        val tg = System.nanoTime()
        val w = Workload(workload, spark, seed, runDir.getPath, work, mayGenerate = true)
        w.prepare()
        println(f"[perfbench] inputs ${w.inputs} ready in ${(System.nanoTime() - tg) / 1e9}%.2f s")
      } finally {
        spark.stop()
        Inputs.deleteTree(runDir)
      }
      return
    }
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val listener = new BenchListener(full = traced)
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def record(results: Seq[(String, Option[String])]): Unit = results.foreach { case (n, r) =>
      attempted += 1
      r.foreach { why => failed += 1; failures += s"$n: $why" }
    }
    def report(s: String): Unit = println(s"[perfbench] $s")
    def fmt(xs: Seq[Double]): String = xs.map(x => "%.3f".format(x)).mkString(" ")
    def finish(metrics: Seq[(String, Double, String)]): Unit = {
      failures.foreach(f => report(s"CHECK FAILED $f"))
      report(s"op_fail_ratio ${failed.toDouble / attempted} ($failed of $attempted rounds and checks)")
      val m = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
      println(s"""PERFBENCH {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$m}}""")
    }

    try {
      val w = Workload(workload, spark, seed, new File(runDir, "state").getPath, work,
        mayGenerate = false)
      w.prepare() // finds the prepared inputs; generation is not part of set-up

      /** One round; `ingest = false` when the round's ingest already ran. */
      def round(c: Crawl, ingest: Boolean = true): RoundRec = {
        val rec = w.step(c, ingest)
        attempted += 1
        report(f"round ${rec.round} scheduled ${rec.scheduled} in ${rec.roundS}%.3f s " +
          f"(+${rec.ingestS}%.3f s ingest)")
        rec
      }

      // ---- set-up
      val inits = (1 to (if (traced) 1 else Setups)).map { i =>
        val s0 = System.nanoTime()
        val c = w.newCrawl(s"setup-$i")
        (c, (System.nanoTime() - s0) / 1e9)
      }
      inits.dropRight(1).foreach(s => Inputs.deleteTree(new File(s._1.dir)))
      val main = inits.last._1
      val warm = round(main)
      val setupS = sessionS + median(inits.map(_._2)) + warm.ingestS + warm.roundS
      report(s"setup_s = session ${fmt(Seq(sessionS))} + median init (${fmt(inits.map(_._2))})" +
        s" + warm-up round ${fmt(Seq(warm.ingestS + warm.roundS))}")

      if (!traced) {
        // ---- the timed closed loop: ingest + runRound, one round at a time
        BenchBus.drain(spark.sparkContext)
        listener.resetPeak()
        val bytes0 = Inputs.dirBytes(main.dir)
        val recs = mutable.ArrayBuffer.empty[RoundRec]
        while (recs.map(r => r.roundS + r.ingestS).sum < seconds && w.hasRound(main.round + 1))
          recs += round(main)
        BenchBus.drain(spark.sparkContext)
        val cachePeakMb = listener.peakMb
        val growth = Inputs.dirBytes(main.dir) - bytes0
        val committed = recs.map(_.scheduled).sum
        val loopS = recs.map(r => r.roundS + r.ingestS).sum
        report(s"loop: ${recs.size} rounds, $committed URLs committed in ${fmt(Seq(loopS))} s; " +
          s"round_s samples=${recs.size}: ${fmt(recs.map(_.roundS).toSeq)}")
        val tc0 = System.nanoTime()
        record(w.check(main))
        report(f"checks took ${(System.nanoTime() - tc0) / 1e9}%.2f s")
        finish(Seq(
          ("committed_urls_per_s", committed / loopS, "1/s"),
          ("round_s_p50", median(recs.map(_.roundS).toSeq), "s"),
          ("setup_s", setupS, "s"),
          ("state_bytes_per_url", growth.toDouble / committed, "B"),
          ("cache_peak_mb", cachePeakMb, "MiB")))
      } else {
        // ---- traced: replay the next round, then run it untraced
        val tracer = new Tracer(spark.sparkContext, s"$workload-seed$seed")
        val out = Replay(w, main, tracer, new File(runDir, "replay").getPath)
        BenchBus.drain(spark.sparkContext)
        val (j0, k0, b0, s0, sp0) = listener.totals
        val n0 = listener.taskCount
        val twin = round(main, ingest = false)
        BenchBus.drain(spark.sparkContext)
        val (j1, k1, b1, s1, sp1) = listener.totals
        val tasks = listener.tasksSince(n0)
        val largest = tasks.groupBy(_._3).values.toSeq.sortBy(-_.map(_._4).sum).headOption
          .map(_.map(_._4.toDouble)).getOrElse(Seq(0.0))
        val taskSkew = if (median(largest) == 0) 0.0 else largest.max / median(largest)
        val driverOnlyS = Intervals.uncovered(twin.startMs, twin.endMs, tasks.map(t => (t._1, t._2))) / 1e3
        record(Seq("replay_matches_round" -> (if (twin.scheduled == out.scheduled) None
          else Some(s"replay scheduled ${out.scheduled}, runRound scheduled ${twin.scheduled}"))))

        // ---- a resume: the next round by a fresh engine on the checkpoint
        main.engine = w.newEngine(main.dir)
        val resume = round(main)
        record(w.check(main))

        val spans = tracer.all
        def self(n: String): Double = spans.filter(_.name == n).map(tracer.selfSeconds).sum
        val ingestS = spans.filter(_.name == "streaming.ingest").map(_.seconds).sum
        val roundSpan = spans.find(_.name == "round").get
        val roundSelf = tracer.selfSeconds(roundSpan)
        val groups = listener.groups
        def shuffleOf(ns: String*): Double = ns.flatMap(groups.get).map(_.shuffleWriteBytes).sum.toDouble
        val canonS = self("url.enrich") + self("url.page_key")
        val kernelS = self("extract.kernel")
        def per(n: Double, d: Double): Double = if (d > 0) n / d else 0.0
        val metrics = Seq(
          ("app.jobs_per_round", (j1 - j0).toDouble, "count"),
          ("app.tasks_per_round", (k1 - k0).toDouble, "count"),
          ("app.task_busy_s", (b1 - b0) / 1e3, "s"),
          ("app.driver_only_s", driverOnlyS, "s"),
          ("app.shuffle_write_bytes_per_url", per((s1 - s0).toDouble, twin.scheduled.toDouble), "B"),
          ("app.spill_bytes", (sp1 - sp0).toDouble, "B"),
          ("app.task_skew", taskSkew, "ratio"),
          ("app.unattributed_s", roundSelf, "s"),
          ("app.resume_round_s", resume.roundS, "s"),
          ("url.canon_s", canonS, "s"),
          ("url.rows_per_s", per(out.canonRows, canonS), "1/s"),
          ("seen.gate_s", self("seen.gate"), "s"),
          ("seen.sketch_build_s", self("seen.sketch_build"), "s"),
          ("seen.shuffle_bytes", shuffleOf("seen.gate", "seen.sketch_build"), "B"),
          ("seen.new_over_probed", per(out.unseen, out.probed), "ratio"),
          ("seen.seen_rows", out.seenRows.toDouble, "count"),
          ("seen.sketch_update_s", self("seen.sketch_update"), "s"),
          ("seen.pin_s", self("seen.pin"), "s"),
          ("politeness.robots_s", self("politeness.robots"), "s"),
          ("politeness.budget_s", self("politeness.budget"), "s"),
          ("politeness.deferred_ratio", out.deferredRatio, "ratio"),
          ("sched.order_s", self("sched.order"), "s"),
          ("sched.salt_s", self("sched.salt"), "s"),
          ("sched.partition_skew", out.partitionSkew, "ratio"),
          ("extract.fetch_join_s", self("extract.fetch_join"), "s"),
          ("extract.kernel_s", kernelS, "s"),
          ("extract.project_s", self("extract.project") + self("extract.harvest"), "s"),
          ("extract.pages_per_s", per(out.pages, kernelS), "1/s"),
          ("extract.failed_ratio", out.failedRatio, "ratio"),
          ("state.commit_s", self("state.commit") + self("state.sketch_write"), "s"),
          ("state.bytes_written_per_round", out.stateBytes.toDouble, "B"),
          ("state.sketch_bytes_written", out.sketchBytes.toDouble, "B"),
          ("streaming.ingest_s", ingestS, "s"),
          ("trace.round_s", roundSpan.seconds, "s"),
          ("trace.untraced_round_s", twin.roundS, "s"),
          ("trace.overhead_s", roundSpan.seconds - twin.roundS, "s"),
          ("trace.attributed_ratio", 1.0 - roundSelf / roundSpan.seconds, "ratio"))

        val traceDir = new File(work, "trace")
        traceDir.mkdirs()
        val base = s"$workload-seed$seed"
        Files.write(new File(traceDir, s"$base.spans.json").toPath, tracer.toJson.getBytes(UTF_8))
        Files.write(new File(traceDir, s"$base.counters.json").toPath,
          groups.toSeq.sortBy(_._1).map { case (g, s) =>
            s""""$g":{"jobs":${s.jobs},"tasks":${s.tasks},"busy_ms":${s.busyMs},""" +
              s""""shuffle_write_bytes":${s.shuffleWriteBytes},"spill_bytes":${s.spillBytes}}"""
          }.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
        report(s"spans and counters written to $traceDir/$base.*.json")
        spans.filter(_.parent == roundSpan.id).foreach(s =>
          report(f"  span ${s.name}%-20s ${s.seconds}%.3f s"))
        report(f"replayed round ${roundSpan.seconds}%.3f s, the same round untraced " +
          f"${twin.roundS}%.3f s, ${100 * (1 - roundSelf / roundSpan.seconds)}%.1f%% in layer spans")
        finish(metrics)
      }
    } finally {
      spark.stop()
      Inputs.deleteTree(runDir)
    }
  }
}
