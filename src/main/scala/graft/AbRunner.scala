package graft

import org.apache.spark.sql.SparkSession

/** Single-launch A/B probe: run a few catalog queries once-warmed and
  * N-timed in THIS JVM and print one JSON line with the raw times.
  *
  * This is the subprocess body of the prev-HEAD A/B protocol
  * (docs/bench_protocol.md, round-13 verdict item 1): [[Bench]]
  * launches alternating JVMs — one classpathed against the PREVIOUS
  * round's committed jar (`tools/ab/graft-prev.jar`), one against the
  * current classes — so both binaries measure on the same box in the
  * same minutes and the ±15–25% cross-round environment term
  * (docs/bench_drift_r13.md) cancels out of the ratio.
  *
  * The catalog is resolved by REFLECTION, not by linking: when this
  * class runs in the "prev" launch, `graft.Catalog` (and every query
  * it pulls in) loads from the prev jar, which predates this class —
  * any compile-time reference to repo types could LinkageError against
  * a round-old binary, while `Catalog$.MODULE$.byName` + the Q case
  * class's `fn` accessor have been stable across rounds and resolve on
  * both. Spark itself comes from /opt/spark/jars on both classpaths,
  * so the engine under each binary is identical — the ratio isolates
  * THIS repo's code.
  *
  * Output (stdout, last line): `{"ab_times":{"<q>":[s,...],...}}`.
  * Failures print `{"ab_error":"..."}` and exit nonzero — the parent
  * records the error and never fails the bench over the A/B.
  */
object AbRunner {

  /** Reflectively resolve `Catalog.byName` and time each query:
    * one untimed warm-up, then `runs` timed `.count()`s. */
  def run(spark: SparkSession, names: Seq[String], dir: String,
      runs: Int): Map[String, Seq[Double]] = {
    val cat = Class.forName("graft.Catalog$").getField("MODULE$").get(null)
    val byName = cat.getClass.getMethod("byName").invoke(cat)
      .asInstanceOf[Map[String, AnyRef]]
    names.map { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      val fn = q.getClass.getMethod("fn").invoke(q)
        .asInstanceOf[(SparkSession, String) => org.apache.spark.sql.DataFrame]
      fn(spark, dir).count() // warm-up (JIT + codegen + footer caches)
      n -> (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: AbRunner <q1,q2,...> <sfDir> <runs>")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession("graft-ab", GraftSession.cpus(32))
    try {
      val times = run(spark, names, args(1), args(2).toInt)
      val body = names.map { n =>
        "\"" + n + "\":[" + times(n).map(t => f"$t%.3f").mkString(",") + "]"
      }.mkString(",")
      println(s"""{"ab_times":{$body}}""")
    } catch {
      case e: Throwable =>
        println(s"""{"ab_error":"${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").replace("\"", "'").take(160)}"}""")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
