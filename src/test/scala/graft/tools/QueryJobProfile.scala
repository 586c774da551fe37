package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-JOB profile of one declared query: runs `SparkEntry.queries(name)`
  * under a listener that records every job's wall-clock, task count, and
  * summed task time, then prints them in submission order. The fixture
  * queries (ingest_*) run dozens of driver-sequential jobs whose FIXED
  * overhead — not any one stage's compute — dominates at bench scale;
  * optimizing them starts with knowing which jobs those are (guide §1:
  * measure first; §7.3: driver-sequential work is invisible in stage
  * metrics). Deterministic counters (job/stage/task counts, summed task
  * time) also survive the shared VM's band noise, which wall-clock does
  * not (BENCH_VARIANCE_r17 §1).
  *
  * Run: `sbt "Test/runMain graft.tools.QueryJobProfile <query> [repeat]"`.
  */
object QueryJobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("ingest_lifecycle")
    val repeat = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    final case class Job(id: Int, desc: String, stageIds: Seq[Int], start: Long,
                         var end: Long = 0L, var tasks: Int = 0,
                         var taskMs: Long = 0L,
                         var stageNames: List[String] = Nil)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs(j.jobId) = Job(j.jobId, d, j.stageIds, j.time)
        j.stageIds.foreach(s => stageToJob(s) = j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(j.jobId).foreach(_.end = j.time)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val info = s.stageInfo
        stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += info.numTasks
          j.taskMs += info.taskMetrics.executorRunTime
          j.stageNames ::= info.name.takeWhile(_ != '\n').take(60)
        }
      }
    })

    val fn = graft.SparkEntry.queries(name)
    (1 to repeat).foreach { r =>
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc(); System.gc()
      // listener events arrive asynchronously: wait (bounded) until every
      // recorded job carries its JobEnd before snapshotting — the bus is
      // ordered, so a delivered JobEnd implies its stage completions too;
      // still-open jobs after the wait are excluded from the wall sum
      // rather than contributing negative times (r18 advice)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (jobs.synchronized(jobs.values.exists(_.end == 0L)) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val snap = jobs.synchronized(jobs.values.toVector)
      val open = snap.count(_.end == 0L)
      if (open > 0) System.err.println(s"[profile] WARNING: $open job(s) never delivered JobEnd; excluded")
      val totalJobMs = snap.filter(_.end != 0L).map(j => j.end - j.start).sum
      System.err.println(f"[profile] $name run $r: wall=$wall%.2f s " +
        f"jobs=${snap.size} jobWall=${totalJobMs / 1000.0}%.2f s " +
        f"taskTime=${snap.map(_.taskMs).sum / 1000.0}%.2f s tasks=${snap.map(_.tasks).sum}")
      if (r == repeat) {
        snap.foreach { j =>
          val src = if (j.desc.nonEmpty) j.desc else j.stageNames.reverse.mkString(" | ")
          System.err.println(f"[profile]   job ${j.id}%3d ${j.end - j.start}%6d ms " +
            f"tasks=${j.tasks}%4d taskMs=${j.taskMs}%7d  ${src.take(140)}")
        }
      }
    }
    spark.stop()
  }
}
