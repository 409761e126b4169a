package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Catalog
import graft.ingest.EdgeBuilder
import graft.output.Dot
import graft.pipeline.Admission
import graft.query.CoStar

/** The benchmark's single client: runs one workload closed-loop against
  * the program's public entry points and records every operation.
  *
  * Usage: graftbench.Client <spec.json> <result.json>
  *
  * The spec (written by perfbench/run.py) names the workload, the
  * generated inputs and the measuring time. Answers are recorded, not
  * judged: run.py checks them after the JVM exits, so no check runs
  * inside a timed region. Without `trace` no listener is attached and no
  * job group is set. With it, set-up is traced, and the measured
  * operations alternate between untraced and traced (listener + one job
  * group per span), so the two halves are interleaved in time.
  */
object Client {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  type Rec = Map[String, Any]

  /** The measured loop's records. At least two cycles run, so every
    * distinct operation has two samples. In a traced run every distinct
    * operation is measured both ways: `select` traces an operation when
    * its key index plus its cycle plus the seed's parity is odd, so each
    * key alternates between cycles, and which cycle (the colder first or
    * the warmer second) a key is traced in flips with the seed. */
  final class Phase(tr: Tracer, traced: Boolean, seed: Long) {
    val ops = ArrayBuffer.empty[Rec]
    val minCycles = 2
    var wallS = 0.0
    var gcMs = 0L
    var codegenMs = 0.0
    var extra: Rec = Map.empty
    private var on = false

    def select(key: Int, cycle: Int): Unit = {
      on = traced && Math.floorMod(key + cycle + seed, 2L) == 1L
      if (on) tr.start() else tr.stop()
    }

    /** Record an operation; traced ones carry their top span's id. */
    def record(op: Rec): Unit = ops += (op ++ Map("traced" -> on,
      "span" -> (if (on) tr.spans.last.id else -1)))

    def toMap: Rec = Map("wall_s" -> wallS, "gc_ms" -> gcMs,
      "codegen_compile_ms" -> codegenMs, "ops" -> ops.toSeq) ++ extra
  }

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val out = spec.get("out").asText
    val spark = SparkSession.builder()
      .master(s"local[${spec.get("cores").asInt}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", spec.get("cores").asText)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's session default (see graft.Bench)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext)
    if (spec.has("train")) train(spark, tracer, spec.get("train"))
    else measure(spark, tracer, spec, readyMs, args(1))
    spark.stop()
  }

  private def workload(spark: SparkSession, tracer: Tracer, spec: JsonNode): Workload =
    spec.get("workload").asText match {
      case "costar" => new CostarRun(spark, tracer, spec.get("costar"))
      case "analytics" => new AnalyticsRun(spark, tracer, spec.get("analytics"),
        spec.get("seed").asLong)
      case "admission" => new AdmissionRun(spark, tracer, spec.get("admission"),
        spec.get("out").asText)
      case other => sys.error(s"unknown workload $other")
    }

  /** The class-data sharing training run: set up and warm every
    * workload once, traced, so the archive written at exit holds the
    * classes every kind of run loads. */
  private def train(spark: SparkSession, tracer: Tracer, specs: JsonNode): Unit = {
    tracer.start()
    specs.elements().asScala.foreach { w =>
      val run = workload(spark, tracer, w)
      run.prepare()
      run.warm()
    }
    tracer.stop()
  }

  private def measure(spark: SparkSession, tracer: Tracer, spec: JsonNode,
      readyMs: Long, resultPath: String): Unit = {
    val traced = spec.get("trace").asInt == 1
    if (traced) tracer.start()
    val run = workload(spark, tracer, spec)
    val prep = run.prepare()
    val t0 = Clock.s
    val warm = run.warm()
    val warmS = Clock.s - t0
    tracer.stop()

    val p = new Phase(tracer, traced, spec.get("seed").asLong)
    val gc0 = Jvm.gcMs
    val cg0 = Jvm.codegenMs
    val start = Clock.s
    run.measure(p, start + spec.get("seconds").asDouble)
    p.wallS = Clock.s - start
    p.gcMs = Jvm.gcMs - gc0
    p.codegenMs = Jvm.codegenMs - cg0
    tracer.stop()
    run.afterMeasure(p)

    val result: Rec = Map(
      "session_ready_epoch_ms" -> readyMs,
      "prep_s" -> prep, "warm_s" -> warmS, "warm" -> warm,
      "measure" -> p.toMap,
      "spans" -> tracer.spans.map(_.toMap).toSeq) ++ run.summary
    mapper.writeValue(new File(resultPath), result)
  }

  // -------------------------------------------------------------------------

  def md5Sorted(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(lines.toArray.sorted.mkString("\n").getBytes("UTF-8"))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def errText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" | ").take(600)

  /** Sizes and file count under a local directory. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
  }
}

import Client.{Phase, Rec}

trait Workload {
  /** Repeatable preparation; each repetition's seconds. */
  def prepare(): Seq[Double]
  /** One untimed pass that warms the JIT, codegen and file caches. */
  def warm(): Seq[Rec]
  /** Closed loop until `deadline`, and at least `p.minCycles` cycles. */
  def measure(p: Phase, deadline: Double): Unit
  def afterMeasure(p: Phase): Unit = ()
  def summary: Rec = Map.empty
}

/** costar: ingest once, then co-star queries with collect + DOT render. */
final class CostarRun(s: SparkSession, tr: Tracer, spec: JsonNode) extends Workload {
  private final case class Query(root: String, actor: Boolean, level: Int)
  private val queries = spec.get("queries").elements().asScala.map(q =>
    Query(q.get("root").asText, q.get("actor").asBoolean, q.get("level").asInt)).toVector
  private val order = spec.get("order").elements().asScala.map(_.asInt).toVector
  private var edges: DataFrame = _
  private var edgeRows = 0L

  def prepare(): Seq[Double] = (1 to spec.get("ingest_repeats").asInt).map { _ =>
    if (edges != null) edges.unpersist(blocking = true)
    val t0 = Clock.s
    edges = tr.span("ingest.edges") {
      EdgeBuilder.materialize(EdgeBuilder.edges(s, spec.get("basics").asText,
        spec.get("principals").asText, spec.get("names").asText))
    }
    val dt = Clock.s - t0
    edgeRows = edges.count()
    dt
  }

  private def op(qi: Int): Rec = {
    val q = queries(qi)
    val tpe = if (q.actor) CoStar.ActorQuery else CoStar.MovieQuery
    val t0 = Clock.s
    val (verts, ve, dot, t1, t2, t3) = tr.span("costar.query") {
      val res = tr.span("query.run") { CoStar.run(s, edges, q.root, tpe, q.level) }
      val t1 = Clock.s
      val (verts, ve) = tr.span("output.collect") {
        (res.vertices.collect().map(_.getString(0)),
         res.vertexEdges(tpe).collect().map(r => (r.getString(0), r.getString(1))))
      }
      val t2 = Clock.s
      val dot = tr.span("output.dot_render") { Dot.render(q.root, ve.toSeq, actors = q.actor) }
      (verts, ve, dot, t1, t2, Clock.s)
    }
    Map("kind" -> "costar", "key" -> qi, "lat_s" -> (Clock.s - t0),
      "run_s" -> (t1 - t0), "collect_s" -> (t2 - t1), "render_s" -> (t3 - t2),
      "ok" -> true, "vertices" -> verts.length, "edges" -> ve.length,
      "vertices_md5" -> Client.md5Sorted(verts),
      "edges_md5" -> Client.md5Sorted(ve.map(e => s"${e._1}\t${e._2}")),
      "dot_md5" -> Client.md5Sorted(dot.split("\n", -1)))
  }

  private def guarded(qi: Int): Rec = {
    val t0 = Clock.s
    try op(qi)
    catch { case e: Exception =>
      Map("kind" -> "costar", "key" -> qi, "lat_s" -> (Clock.s - t0),
        "ok" -> false, "err" -> Client.errText(e))
    }
  }

  def warm(): Seq[Rec] = queries.indices.map(guarded)

  def measure(p: Phase, deadline: Double): Unit = {
    var i = 0
    while (Clock.s < deadline || i < p.minCycles * order.size) {
      val qi = order(i % order.size)
      p.select(qi, i / order.size)
      p.record(guarded(qi))
      i += 1
    }
  }

  override def summary: Rec = Map("edge_rows" -> edgeRows)
}

/** analytics: catalog rows forced by `.count()`, round-robin. */
final class AnalyticsRun(s: SparkSession, tr: Tracer, spec: JsonNode, seed: Long)
    extends Workload {
  private val dir = spec.get("dir").asText
  private val rows = spec.get("rows").elements().asScala
    .map(r => (r.get("name").asText, r.get("family").asText)).toVector

  def prepare(): Seq[Double] = Seq(0.0)

  /** The warm pass is also the answer pass: each row's full result is
    * written for the oracle compare. */
  def warm(): Seq[Rec] = rows.map { case (name, fam) =>
    val t0 = Clock.s
    try {
      tr.span(s"operators.$fam.check") {
        Catalog.byName(name).fn(s, dir).write.mode("overwrite")
          .parquet(s"${spec.get("results").asText}/$name")
      }
      Map("kind" -> "check", "key" -> name, "lat_s" -> (Clock.s - t0), "ok" -> true)
    } catch { case e: Exception =>
      Map("kind" -> "check", "key" -> name, "lat_s" -> (Clock.s - t0),
        "ok" -> false, "err" -> Client.errText(e))
    }
  }


  override def summary: Rec = Map("oracle" -> rows.flatMap { case (name, _) =>
    Catalog.byName(name).oracle.map(name -> _) }.toMap)

  def measure(p: Phase, deadline: Double): Unit = {
    var pass = 0
    def more = Clock.s < deadline || pass < p.minCycles
    while (more) {
      val it = new scala.util.Random(seed * 7919 + pass).shuffle(rows.indices.toVector).iterator
      while (it.hasNext && more) {
        val ri = it.next()
        val (name, fam) = rows(ri)
        p.select(ri, pass)
        val t0 = Clock.s
        p.record(try {
          val (t1, t2, n) = tr.span("analytics.query") {
            val (df, t1) = tr.span(s"operators.$fam.plan") {
              (Catalog.byName(name).fn(s, dir), Clock.s)
            }
            val n = tr.span(s"operators.$fam.exec") { df.count() }
            (t1, Clock.s, n)
          }
          Map("kind" -> "query", "key" -> name, "family" -> fam,
            "lat_s" -> (t2 - t0), "plan_s" -> (t1 - t0), "exec_s" -> (t2 - t1),
            "rows" -> n, "ok" -> true)
        } catch { case e: Exception =>
          Map("kind" -> "query", "key" -> name, "family" -> fam,
            "lat_s" -> (Clock.s - t0), "ok" -> false, "err" -> Client.errText(e))
        })
      }
      pass += 1
    }
    p.extra = Map("passes" -> pass)
  }
}

/** admission: increments through `admit`, `compact` every few, and a
  * corpus read after each write, all on one state root. */
final class AdmissionRun(s: SparkSession, tr: Tracer, spec: JsonNode, out: String)
    extends Workload {
  private val incs = spec.get("incs").elements().asScala.map(_.asText).toVector
  private val every = spec.get("compact_every").asInt
  private val dir = s"$out/state/main"

  def prepare(): Seq[Double] = (1 to spec.get("warm_repeats").asInt).map { r =>
    val warmDir = s"$out/state/warm$r"
    val t0 = Clock.s
    tr.span("pipeline.warm") {
      Admission.admit(s.read.parquet(incs(0)), warmDir, "0000").count()
      Admission.compact(s, warmDir)
      Admission.corpus(s, warmDir).count()
    }
    val dt = Clock.s - t0
    Admission.reset(s, warmDir)
    dt
  }

  def warm(): Seq[Rec] = Seq.empty

  private def timed(p: Phase, kind: String, inc: Int)(body: => Rec): Unit = {
    val t0 = Clock.s
    p.record(try {
      val extra = body
      Map("kind" -> kind, "key" -> inc, "lat_s" -> (Clock.s - t0), "ok" -> true) ++ extra
    } catch { case e: Exception =>
      Map("kind" -> kind, "key" -> inc, "lat_s" -> (Clock.s - t0), "ok" -> false,
        "err" -> Client.errText(e))
    })
  }

  /** One cycle is `every` increments, each followed by a corpus read,
    * then a compaction and another read. */
  def measure(p: Phase, deadline: Double): Unit = {
    var k = 0
    def scan(): Unit = timed(p, "corpus", k) {
      Map("rows" -> tr.span("pipeline.corpus_scan") {
        Admission.corpus(s, dir).count()
      })
    }
    while (k < incs.size && (Clock.s < deadline || k < p.minCycles * every)) {
      p.select(k % every, k / every)
      var admitted: DataFrame = null
      timed(p, "admit", k) {
        admitted = tr.span("pipeline.admit") {
          Admission.admit(s.read.parquet(incs(k)), dir, f"$k%04d")
        }
        Map.empty
      }
      // the answer read is untimed and outside the admit span
      if (admitted != null) {
        val ids = tr.span("check") {
          admitted.select("doc_id").collect().map(_.getLong(0)).sorted
        }
        p.ops(p.ops.size - 1) = p.ops.last + ("admitted_ids" -> ids.toSeq)
      }
      scan()
      if ((k + 1) % every == 0) {
        timed(p, "compact", k) {
          Map("folded" -> tr.span("pipeline.compact") { Admission.compact(s, dir) })
        }
        scan()
      }
      k += 1
    }
    p.extra = Map("increments" -> k)
  }

  /** Untimed: state size, and the compositional contract — the state
    * after the increments equals one `admit` of their union into a fresh
    * root. */
  override def afterMeasure(p: Phase): Unit = {
    val k = p.extra("increments").asInstanceOf[Int]
    val (bytes, files) = Client.du(dir)
    val ids = Admission.corpus(s, dir).select("doc_id").collect().map(_.getLong(0)).sorted
    val one = s"$out/state/oneshot"
    Admission.admit(s.read.parquet(incs.take(k): _*), one, "all")
    val oneIds = Admission.corpus(s, one).select("doc_id").collect().map(_.getLong(0)).sorted
    Admission.reset(s, one)
    p.extra = p.extra ++ Map("state_bytes" -> bytes, "state_files" -> files,
      "corpus_ids" -> ids.toSeq, "oneshot_ids" -> oneIds.toSeq)
  }
}
