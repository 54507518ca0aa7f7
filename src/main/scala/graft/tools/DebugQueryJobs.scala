package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

/** Per-JOB wall-time audit for one catalog query (a job/stage listener
  * pointed at `SparkEntry.queries(name)`):
  * shows where an iterative query's time goes — which actions fire, how many
  * AQE stage-jobs each action fans into, and what each costs — so a "slow
  * query" claim decomposes into named jobs before anything is optimized.
  *
  * Usage: runMain graft.tools.DebugQueryJobs <sfDir> <query> [cpus]
  */
object DebugQueryJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val name = args(1)
    val cpus = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-debug-query-jobs")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val jobStart = TrieMap.empty[Int, (String, Long)]
    val jobStageCount = TrieMap.empty[Int, Int]
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
        jobs.incrementAndGet()
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(js.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(120))
        jobStart(js.jobId) = (desc, System.nanoTime())
        jobStageCount(js.jobId) = js.stageInfos.size
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (recording) {
        jobStart.get(je.jobId).foreach { case (desc, t0) =>
          println(f"JOB ${je.jobId}%3d stages=${jobStageCount.getOrElse(je.jobId, -1)}%2d " +
            f"${(System.nanoTime() - t0) / 1e9}%6.2fs  $desc")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (recording) {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
      }
    })

    // warmup run (JIT + codegen), not recorded
    graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    spark.catalog.clearCache()

    recording = true
    val t0 = System.nanoTime()
    val n = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    recording = false
    Thread.sleep(500)
    println(f"TOTAL query=$name rows=$n jobs=${jobs.get} stages=${stages.get} " +
      f"tasks=${tasks.get} wall=$wall%.1fs")
    spark.stop()
  }
}
