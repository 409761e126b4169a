package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: every main, diagnostic
  * and the test suite go through [[apply]], so the session contract is
  * stated once:
  *  - shuffle partitions equal to the core count;
  *  - adaptive query execution on;
  *  - UTC session timezone (every timestamp rule in the catalog and its
  *    DuckDB oracles assumes it);
  *  - Spark UI off;
  *  - generated-class cache of [[CodegenCacheEntries]].
  *
  * Catalyst functions are NOT registered here: operators must also run
  * on sessions graft does not build (a benchmark client's, a host
  * application's), so each operator registers what it uses per call
  * (`VectorFunctions.register` and friends).
  *
  * This object refers to Spark and JDK types only. [[AbRunner]] runs
  * under a classpath where the previous round's jar shadows every other
  * `graft.*` class (docs/bench_protocol.md "Prev-HEAD A/B"), and a
  * reference to a repo type here could fail to link there.
  */
object GraftSession {

  /** Spark's generated-class cache holds 100 entries by default, and
    * one composed pipeline run alone emits more whole-stage codegen
    * units than that, so EVERY run re-Janino-compiles and re-JITs the
    * same sources (measured 6-8 s of compiler-thread time per
    * q_pipeline_e2e repeat at steady state). 5000 entries holds the
    * full operator catalog; measured effect: q_pipeline_e2e
    * steady-state repeats 6.5-7.0 s -> 4.4-5.8 s and JIT churn
    * 6-8 s -> 2-4 s per run (CHANGES_r07.md). The knob matters on a
    * real cluster too: the cache is per-executor JVM, and a long-lived
    * session running this catalog cycles it just the same. It is a
    * static conf, so it has to be set when the session is built. */
  val CodegenCacheEntries = "5000"

  /** Cores from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** A session on `master` (null: `local[cores]`) with `cores` shuffle
    * partitions. */
  def apply(app: String, cores: Int, master: String = null,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(Option(master).getOrElse(s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Run `body` under the Spark job description `desc`, restoring the
    * caller's after: the label names the body's jobs in listeners and
    * the UI. Descriptions are thread-local, so parallel driver threads
    * label independently. */
  def labeled[A](s: SparkSession, desc: String)(body: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}
