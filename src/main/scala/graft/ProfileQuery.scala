package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Measurement harness (guide §1): run named [[SparkEntry.queries]] with a
  * listener that prints per-job wall time, stage counts, task counts,
  * summed task run and deserialize time, and shuffle bytes — the
  * local-mode substitute for the Spark UI's job table (the UI is disabled
  * in the bench contract). Dev-only; the bench and verify surfaces are
  * untouched.
  *
  * {{{ runMain graft.ProfileQuery <sfDir> <q1,q2,…> }}} */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <q1,q2,…>")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // A/B harness for candidate session confs (comma-separated k=v pairs)
    sys.env.get("SPARK_GRAFT_PROFILE_CONFS").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRow(id: Int, desc: String, start: Long,
      var end: Long = -1L, var stages: Int = 0, var tasks: Int = 0,
      var shufWrite: Long = 0L, var shufRead: Long = 0L, var input: Long = 0L,
      var runMs: Long = 0L, var deserMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRow(e.jobId, d, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val r = jobs.get(jid)
        if (r != null) {
          r.stages += 1
          r.tasks += e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            r.shufWrite += m.shuffleWriteMetrics.bytesWritten
            r.shufRead += m.shuffleReadMetrics.totalBytesRead
            r.input += m.inputMetrics.bytesRead
            // task shipping: a job whose tasks deserialize longer than
            // they run pays for what its closures carry, not for work
            r.runMs += m.executorRunTime
            r.deserMs += m.executorDeserializeTime
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args(1).split(",").foreach { name =>
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, args(0)).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"===== $name%s  total ${dt}%.3f s  rows $n%d =====")
      val rows = jobs.values().toArray(Array.empty[JobRow]).sortBy(_.id)
      rows.foreach { r =>
        val ms = if (r.end < 0) -1L else r.end - r.start
        println(f"  job ${r.id}%3d ${ms}%6d ms  stages ${r.stages}%2d tasks ${r.tasks}%4d " +
          f"run ${r.runMs}%6d ms  deser ${r.deserMs}%6d ms  " +
          f"in ${r.input / 1024}%8d KiB  sw ${r.shufWrite / 1024}%6d KiB  " +
          f"sr ${r.shufRead / 1024}%6d KiB  ${r.desc.take(60)}%s")
      }
      val acc = rows.filter(_.end > 0).map(r => r.end - r.start).sum
      println(f"  jobs ${rows.length}%d  sum-of-job-wall ${acc}%d ms  " +
        f"(gap = driver/planning ${(dt * 1000 - acc).toLong}%d ms)")
      Housekeeping.releaseAll(spark, blocking = true)
    }
    spark.stop()
  }
}
