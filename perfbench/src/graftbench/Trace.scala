package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark work attributed to one job group: one group per span. */
final class GroupStats {
  var jobs = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Listener that folds job and task events into per-job-group stats. */
final class GroupListener extends SparkListener {
  private val groupOfJob = new ConcurrentHashMap[Int, String]()
  private val startOfJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, GroupStats]()

  private def of(g: String): GroupStats =
    stats.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .getOrElse("-")
    groupOfJob.put(e.jobId, g)
    startOfJob.put(e.jobId, e.time)
    e.stageIds.foreach(groupOfStage.put(_, g))
    val s = of(g)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = groupOfJob.getOrDefault(e.jobId, "-")
    val t0 = Option(startOfJob.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    val s = of(g)
    s.synchronized { s.jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = of(groupOfStage.getOrDefault(e.stageId, "-"))
      s.synchronized {
        s.tasks += 1
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def take(g: String): GroupStats = Option(stats.remove(g)).getOrElse(new GroupStats)
}

/** One finished span: a timed call into a layer, with the Spark work
  * its job group ran and the codegen compile time spent meanwhile. */
final case class Span(id: Int, parent: Int, name: String, t0Ms: Double,
    t1Ms: Double, stats: GroupStats, codegenMs: Double, codegenCount: Long) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name,
    "t0_ms" -> t0Ms, "t1_ms" -> t1Ms,
    "jobs" -> stats.jobs, "tasks" -> stats.tasks, "task_ms" -> stats.taskMs,
    "gc_ms" -> stats.gcMs, "shuffle_bytes" -> stats.shuffleBytes,
    "spill_bytes" -> stats.spillBytes, "output_bytes" -> stats.outputBytes,
    "job_intervals_ms" -> stats.jobIntervals.map(p => Seq(p._1, p._2)).toSeq,
    "codegen_compile_ms" -> codegenMs, "codegen_compiles" -> codegenCount)
}

/** Spans around the benchmark's calls into each layer. Off, `span` only
  * runs its body: no listener, no job group. On, each span gets its own
  * job group, so Spark attributes every job (also those submitted from a
  * callee's own driver threads, which inherit the group) to the
  * innermost span around it. */
final class Tracer(sc: SparkContext) {
  private val listener = new GroupListener
  private var on = false
  private var nextId = 0
  private var current = -1
  val spans = ArrayBuffer.empty[Span]

  def start(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def stop(): Unit = if (on) {
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val group = s"perfbench-$id"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      current = id
      val cg0 = CodeGenerator.compileTime
      val cn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = Clock.epochMs
      try body
      finally {
        val t1 = Clock.epochMs
        val cg = (CodeGenerator.compileTime - cg0) / 1e6
        val cn = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cn0
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
        current = parent
        org.apache.spark.graftbench.Bus.drain(sc)
        spans += Span(id, parent, name, t0, t1, listener.take(group), cg, cn)
      }
    }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
}

/** Monotonic time, and wall-clock ms with sub-ms digits anchored once so
  * it compares with Spark's job event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def s: Double = System.nanoTime() / 1e9
  def epochMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def codegenMs: Double = CodeGenerator.compileTime / 1e6
}
