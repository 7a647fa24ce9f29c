package graft.tools

import org.apache.spark.scheduler._

/** Per-JOB decomposition of a registered query (r19 optimization
  * tooling): runs the named queries once under the bench session config
  * with a SparkListener attached and prints every Spark job's wall,
  * stage count, task count, and the gap since the previous job ended
  * (driver-side time: planning, collects, FS metadata, argmax
  * round-trips). The bench medians say WHICH query is slow; this says
  * which of its jobs — and how much of the wall is not in jobs at all.
  * Args: query names. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Graft.localSession("graft-job-profile")
    graft.Bench.warmup(spark, sfDir)

    final case class JobRec(id: Int, start: Long, var end: Long = -1L,
        var stages: Int = 0, var tasks: Int = 0, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[JobRec]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val rec = JobRec(e.jobId, e.time, desc = desc)
        rec.stages = e.stageInfos.size
        rec.tasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, rec)
        order.add(rec)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.end = e.time
      }
    }

    args.toSeq.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      // Steady state: one untimed warm rep, then the instrumented rep.
      fn(spark, sfDir).count()
      order.clear(); jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      // Let straggler end events drain.
      Thread.sleep(200)
      var prevEnd = -1L
      var jobSum = 0.0
      println(f"[jobs] $name wall=$wall%.3f s, ${order.size} jobs")
      order.forEach { r =>
        val dur = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
        if (dur > 0) jobSum += dur
        prevEnd = math.max(prevEnd, r.end)
        println(f"[jobs]   job=${r.id}%-4d dur=$dur%7.3f s gap=$gap%7.3f s " +
          f"stages=${r.stages}%-3d tasks=${r.tasks}%-5d ${r.desc.take(80)}")
      }
      println(f"[jobs] $name sum(job walls)=$jobSum%.3f s, " +
        f"outside-jobs=${wall - jobSum}%.3f s (driver/planning/collect)")
    }
    spark.stop()
  }
}
