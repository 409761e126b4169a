package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job/stage profiler for catalog queries (optimization-round
  * diagnostic; guide §1 "measure first"). For each named query: one
  * untimed warm-up, then `runs` measured runs, each under its own job
  * group, with a listener recording every job's wall time and every
  * stage's task-time / shuffle read+write bytes, printed in submission
  * order. A run's report waits until the listener has seen every job
  * of its group end (failing after 60 s), so the job count is the
  * run's own, never short of late events. This answers "which
  * internal job of a multi-job operator (BFS levels, checkpoint cuts,
  * CC rounds) carries the wall clock" — the attribution the flat bench
  * median cannot give.
  *
  * Usage: QueryProfile <sfDir> <q1,q2,...> [runs]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProfile <sfDir> <q1,q2,...> [runs]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession("graft-profile", graft.GraftSession.cpus(32))

    final case class JobRow(id: Int, desc: String, var ms: Long = -1,
        var stages: Seq[Int] = Nil)
    final case class StageRow(id: Int, name: String, tasks: Int,
        taskTimeMs: Long, shufReadMB: Double, shufWriteMB: Double,
        inputMB: Double)

    val jobs = scala.collection.mutable.LinkedHashMap[Int, JobRow]()
    val jobStart = scala.collection.mutable.Map[Int, Long]()
    val stages = scala.collection.mutable.LinkedHashMap[Int, StageRow]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = JobRow(e.jobId, d,
            stages = e.stageInfos.map(_.stageId).toSeq)
          jobStart(e.jobId) = e.time
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(j =>
            j.ms = e.time - jobStart.getOrElse(e.jobId, e.time))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages(si.stageId) = StageRow(si.stageId,
            si.name.take(60), si.numTasks, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6)
        }
      }
    }

    def jit: Long = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    // driver-side Janino compile time + generated-class count — cache
    // misses show up here as per-run compile work that never amortizes
    def janinoMs: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getSnapshot.getValues.sum / 1000000
    def janinoN: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

    val sc = spark.sparkContext
    names.foreach { n =>
      val q = graft.Catalog.byName.getOrElse(n, sys.error(s"unknown query: $n"))
      q.fn(spark, sfDir).count() // warm-up
      (1 to runs).foreach { r =>
        jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
        sc.addSparkListener(listener)
        val group = s"profile-$n-$r-${System.nanoTime()}"
        val j0 = jit
        val g0 = janinoN
        val t0 = System.nanoTime()
        sc.setJobGroup(group, s"QueryProfile $n run $r", interruptOnCancel = false)
        try q.fn(spark, sfDir).count() finally sc.clearJobGroup()
        val wall = (System.nanoTime() - t0) / 1e9
        // the listener bus is asynchronous: wait until it has seen every
        // job of the run end, so no late event is dropped or miscounted
        val ids = sc.statusTracker.getJobIdsForGroup(group).toSet
        def seen = jobs.synchronized(ids.forall(id => jobs.get(id).exists(_.ms >= 0)))
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
        sc.removeSparkListener(listener)
        if (!seen) sys.error(s"$n run $r: the listener saw ${jobs.size} of " +
          s"${ids.size} jobs end within 60 s")
        println(f"==== $n run $r wall=$wall%.3f s jobs=${ids.size} jit_delta=${jit - j0} ms codegen_compiles=${janinoN - g0} ====")
        jobs.values.foreach { j =>
          val ss = j.stages.flatMap(stages.get)
          val tt = ss.map(_.taskTimeMs).sum
          val sr = ss.map(_.shufReadMB).sum
          val sw = ss.map(_.shufWriteMB).sum
          val in = ss.map(_.inputMB).sum
          val tasks = ss.map(_.tasks).sum
          println(f"job ${j.id}%3d ${j.ms}%6d ms taskTime=$tt%6d ms tasks=$tasks%3d in=$in%8.1fMB sr=$sr%7.2fMB sw=$sw%7.2fMB ${j.desc.take(50)}")
          if (j.ms > 150) ss.foreach(s =>
            println(f"      stage ${s.id}%4d tasks=${s.tasks}%3d tt=${s.taskTimeMs}%6d ms ${s.name}"))
        }
      }
    }
    spark.stop()
  }
}
