package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.dedup.Dedup
import graft.ingest.EdgeBuilder
import graft.operators.EventQueries
import graft.pipeline.Admission
import graft.query.{BipartiteExpand, CoStar, GraphAlgos}
import graft.sources.{Parquet, Tables}

/** The scale harness: each family replicates a fixture table `factor`×
  * with one shared generator per table, runs its operators on the
  * replica, and prints one JSON line per factor (the `*_SCALE_*`,
  * `STREAM_STATE_*` and `CORE_SCALE_*` artifacts). Replicas are built so
  * every family checks itself: extensive outputs must scale exactly
  * ×factor and intensive ones stay put, so a wrong answer shows in the
  * line next to the timings.
  *
  * Usage: `Scale <family> <factors> [dir] [arg]`, factors comma-separated:
  *  - `graph <factors> <sfDir>`: triangles, k-core, PageRank, SSSP and
  *    link prediction on the strong-tie co-order graph (GRAPH_SCALE);
  *  - `event <factors> <sfDir>`: attribution, rolling distinct, MAD,
  *    CUSUM, RFM and bounce rate (EVENT_SCALE);
  *  - `skew <factors> <sfDir> [hubMod=10]`: one hub user holding
  *    1/hubMod of all events; latest-by-key, per-user windows and the
  *    skewed-key join three ways (SKEW_SCALE);
  *  - `pipeline <factors> <sfDir>`: near-dup pairs, Bloom admission,
  *    the admission/compaction loop, tiered folds, streaming admission
  *    across a restart and PQ state bytes (PIPELINE_SCALE);
  *  - `stream <factors> <sfDir>`: state size of the hourly anomaly
  *    chain over a replayed event stream (STREAM_STATE);
  *  - `fixture <factors> <sfDir> <outDir>`: writes replicated
  *    `documents` and `embeddings` to `<outDir>/f<factor>`, one file
  *    and one row group each like the sf tiers (CORE_SCALE input);
  *  - `imdb <factors> [sampleDir]`: ingest star join and co-star BFS
  *    over replicated IMDB sample TSVs (IMDB_SCALE).
  *
  * Cores come from `SPARK_GRAFT_CPUS` (default 32).
  */
object Scale {

  /** One JSON line: ordered (field, value) pairs. */
  type Line = Seq[(String, Any)]

  val Families = Seq("graph", "event", "skew", "pipeline", "stream", "fixture", "imdb")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Families.contains(args(0)),
      s"usage: Scale <${Families.mkString("|")}> <factors> [dir] [arg]")
    val factors = args(1).split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession(s"graft-scale-${args(0)}", GraftSession.cpus(32))
    try run(spark, args(0), factors, args.drop(2).toSeq)(l => println(json(l)))
    finally spark.stop()
  }

  /** Run one family, handing each factor's line to `emit` as soon as it
    * is measured. */
  def run(spark: SparkSession, family: String, factors: Seq[Int],
      args: Seq[String])(emit: Line => Unit): Unit = {
    def arg(i: Int, what: String): String =
      args.lift(i).getOrElse(sys.error(s"Scale $family: missing <$what>"))
    family match {
      case "graph"    => graph(spark, arg(0, "sfDir"), factors, emit)
      case "event"    => event(spark, arg(0, "sfDir"), factors, emit)
      case "skew"     => skew(spark, arg(0, "sfDir"), factors,
        args.lift(1).fold(10)(_.toInt), emit)
      case "pipeline" => pipeline(spark, arg(0, "sfDir"), factors, emit)
      case "stream"   => stream(spark, arg(0, "sfDir"), factors, emit)
      case "fixture"  => fixture(spark, arg(0, "sfDir"), arg(1, "outDir"), factors, emit)
      case "imdb"     => imdb(spark, args.headOption.getOrElse("src/test/resources/imdb"),
        factors, emit)
      case other      => sys.error(s"unknown family $other (${Families.mkString(", ")})")
    }
  }

  // ---- shared instruments --------------------------------------------

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Render a line; seconds and ratios (doubles) print with 2 decimals. */
  def json(line: Line): String = {
    def v(x: Any): String = x match {
      case s: String    => "\"" + s + "\""
      case d: Double    => f"$d%.2f"
      case xs: Seq[_]   => xs.map(v).mkString("[", ",", "]")
      case other        => other.toString
    }
    line.map { case (k, x) => "\"" + k + "\":" + v(x) }.mkString("{", ",", "}")
  }

  private def withWorkDir[A](spark: SparkSession, prefix: String)(f: String => A): A = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(work) finally {
      val p = new org.apache.hadoop.fs.Path(work)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Move the single part file Spark wrote under `tmp` to `dest`. */
  private def movePart(tmp: String, dest: java.nio.file.Path): Unit = {
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- shared replica generators, one per table ----------------------

  private def replicate(factor: Int)(replica: Int => DataFrame): DataFrame =
    (0 until factor).map(replica).reduce(_ unionByName _)

  /** Per-replica id offset: far above every fixture tier's id range. */
  val IdShift = 1000000000L
  /** Lineitem key offset: divisible by 9, so the SSSP edge weight
    * 1 + (a+b) mod 9 is the same in every replica (a 10^9 shift is
    * ≡ 1 mod 9 and would perturb per-replica weights). */
  val KeyShift = 999999999L
  /** Per-replica doc_id / vec_id offset. */
  val DocShift = 10000000L

  /** Events: user_id and event_id shifted into disjoint per-replica
    * ranges, timestamps unchanged, so each replica is an independent
    * user population on the same calendar. With `hubMod`, every
    * replica's users with `user_id % hubMod == 0` collapse onto hub
    * user 0, which then holds ~1/hubMod of all events. */
  def events(base: DataFrame, factor: Int, hubMod: Option[Int] = None): DataFrame =
    replicate(factor) { r =>
      val user = col("user_id") + lit(r * IdShift)
      base.withColumn("user_id", hubMod.fold(user)(m =>
          when(col("user_id") % m === 0, lit(0L)).otherwise(user)))
        .withColumn("event_id", col("event_id") + lit(r * IdShift))
    }

  /** Lineitem: both keys shifted, so any graph derived from (order,
    * part) is `factor` disjoint copies of the 1× graph. */
  def lineitem(base: DataFrame, factor: Int): DataFrame =
    replicate(factor) { r =>
      base.withColumn("l_orderkey", col("l_orderkey") + lit(r * KeyShift))
        .withColumn("l_partkey", col("l_partkey") + lit(r * KeyShift))
    }

  /** Documents shifted by `idShift` with every token suffixed by `salt`
    * (none when empty). */
  def saltedDocs(base: DataFrame, idShift: Long, salt: String): DataFrame =
    base.withColumn("doc_id", col("doc_id") + lit(idShift))
      .withColumn("text",
        if (salt.isEmpty) col("text")
        else concat_ws(" ", transform(split(col("text"), "\\s+"),
          w => concat(w, lit(salt)))))

  /** Documents: replica r shifts doc_ids and salts every token with
    * `~r`, so replicas are pairwise disjoint in shingle space and the
    * duplicate structure is exactly `factor` copies of the 1× one
    * (unsalted replicas would plant factor²-sized cross-replica
    * clusters and measure the generator). */
  def documents(base: DataFrame, factor: Int): DataFrame =
    replicate(factor)(r => saltedDocs(base, r * DocShift, if (r == 0) "" else s"~$r"))

  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Replica r's sign pattern: coordinate i flips when bit `i % 63` is
    * set. Replica 0 is the source itself. */
  def signPattern(r: Int): Long =
    if (r == 0) 0L else splitmix64(r) & Long.MaxValue

  /** Embeddings: replica r shifts vec_ids and flips signs by its own
    * [[signPattern]]. Within a replica every pair flips the same signs,
    * so its geometry is exact; across replicas about half the
    * coordinates disagree, so a vector and its twin land near cosine 0
    * and replication plants no near-duplicate pairs. */
  def embeddings(base: DataFrame, factor: Int): DataFrame =
    replicate(factor) { r =>
      val m = signPattern(r)
      base.withColumn("vec_id", col("vec_id") + lit(r * DocShift))
        .withColumn("embedding",
          if (m == 0) col("embedding")
          else transform(col("embedding"), (x, i) => x * (lit(1) -
            call_function("shiftright", lit(m), i % 63).bitwiseAND(1) * 2)))
    }

  /** One IMDB TSV replicated with per-replica suffixes: `_r<rep>` on the
    * key columns, ` (r<rep>)` on the name columns, so the co-star graph
    * is `factor` disconnected copies. Generation is itself a Spark job
    * (a cross join with the replica ids). */
  def imdbTsv(spark: SparkSession, path: String, header: Boolean,
      keyCols: Seq[Int], nameCols: Seq[Int], factor: Int): DataFrame = {
    val reps = spark.range(factor).select(col("id").cast("int").as("rep"))
    val raw = spark.read.option("sep", "\t").option("header", header)
      .option("quote", "").csv(path)
    val cols = raw.columns.zipWithIndex.map { case (c, i) =>
      if (keyCols.contains(i)) concat(col(c), lit("_r"), col("rep")).as(c)
      else if (nameCols.contains(i)) concat(col(c), lit(" (r"), col("rep"), lit(")")).as(c)
      else col(c)
    }
    raw.crossJoin(reps).select(cols: _*)
  }

  // ---- families ------------------------------------------------------

  /** Graph analytics on `factor` disjoint copies of the strong-tie
    * co-order graph: every structural count must equal exactly `factor
    * ×` its 1× value (`counts_exact`) while wall time stays ~linear.
    * PageRank's top rank is recorded, not checked: it scales ~1/factor
    * (the 10^12 mass base normalizes over factor× as many nodes). */
  def graph(spark: SparkSession, sfDir: String, factors: Seq[Int],
      emit: Line => Unit): Unit = {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")

    // strong-tie edges (a < b co-ordered in >= 2 distinct orders) —
    // the same definition as GraphQueries.strongTieEdges, over an
    // arbitrary (ok, pk) fact slice
    def strongTie(fact: DataFrame): DataFrame =
      fact.as("x").join(fact.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(countDistinct(col("x.ok")).as("no"))
        .filter(col("no") >= 2)
        .select("a", "b")

    var base: Map[String, Long] = Map.empty
    for (factor <- factors) {
      val fact = lineitem(li, factor)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))

      val (e, buildSec) = timed {
        val ed = strongTie(fact).localCheckpoint()
        ed.count()
        ed
      }
      // triangles run on the DENSE co-order projection (every distinct
      // co-ordered pair) — the strong-tie filter leaves ~1 triangle
      // per replica at sf0.1, which measures nothing
      val (co, coBuildSec) = timed {
        val ed = fact.as("x").join(fact.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b"))
          .distinct().localCheckpoint()
        ed.count()
        ed
      }
      val (tri, triSec) = timed {
        GraphAlgos.triangleCount(co).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      // DOULION (p = 1/2) on the same dense projection: the sampled
      // tier's wall-time win over the exact wedge join, plus its
      // relative error against the exact count just measured
      val (dl, doulionSec) = timed {
        GraphAlgos.triangleCountDoulion(co, pInv = 2).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val (core, coreSec) = timed {
        // k = 2 here: the sf0.1 strong-tie graph's 3-core is EMPTY
        // after one peel (gate-scale k=3 liveness is sf0.01-specific),
        // and measuring three empty rounds is not scale evidence
        GraphAlgos.kCore(e, k = 2, rounds = 4).collect()
          .map(r => s"kcore_r${r.getInt(0)}" -> r.getLong(1)).toMap
      }
      val (prTop, prSec) = timed {
        GraphAlgos.pageRank(e, iters = 2)
          .agg(max("pr_fx")).head.getLong(0)
      }
      // seeds: the 1x rule (id % 97 == 0) applied to the replica-local
      // id, so every replica gets the same seed set
      val (ssspAgg, ssspSec) = timed {
        val d = GraphAlgos.sssp(e, u => (u % KeyShift) % 97 === 0, rounds = 3)
        d.agg(count(lit(1)).as("n"), sum("dist").as("s")).head
      }
      val (lp, lpSec) = timed {
        // minCn = 1 here: the sf0.1 strong-tie graph has NO
        // non-adjacent pair with >= 2 common neighbors (the gate row's
        // threshold is sf0.01-live), and a 0-row measurement is not
        // scale evidence
        GraphAlgos.commonNeighbors(e, degCap = 16, minCn = 1L).count()
      }

      val counts = Map(
        "st_edges" -> e.count(),
        "co_edges" -> tri("edges"), "triangles" -> tri("triangles"),
        "sssp_reached" -> ssspAgg.getLong(0),
        "sssp_distsum" -> ssspAgg.getLong(1),
        "predicted_pairs" -> lp) ++ core
      if (factor == factors.head && factors.head == 1) base = counts
      val exact = base.nonEmpty &&
        counts.forall { case (k, v) => v == base(k) * factor }

      emit(Seq("tool" -> "graph_scale", "sf_dir" -> sfDir, "factor" -> factor,
        "build_sec" -> buildSec, "co_build_sec" -> coBuildSec,
        "triangle_sec" -> triSec, "doulion_sec" -> doulionSec,
        "doulion_estimate" -> dl("triangles_estimate"),
        "doulion_err_pct" -> math.abs(dl("triangles_estimate") -
          tri("triangles")).toDouble * 100 / math.max(tri("triangles"), 1L),
        "kcore_sec" -> coreSec, "pagerank_sec" -> prSec,
        "sssp_sec" -> ssspSec, "linkpred_sec" -> lpSec) ++
        counts.toSeq.sortBy(_._1) ++
        Seq("pr_top" -> prTop, "counts_exact" -> exact))
    }
  }

  /** Event analytics on user-disjoint replicas. EXTENSIVE outputs
    * scale exactly ×factor (attribution counts and cents per day,
    * rolling distinct users, RFM segment sizes, sessions/bounces,
    * hourly cnt on flagged rows, max CUSUM statistic — linear in
    * counts, as is its 8·S₀ threshold); INTENSIVE outputs are
    * bit-identical (the MAD flag set, CUSUM drift verdicts, RFM bucket
    * coordinates, bounce ppm), because every statistic is a ratio or
    * rank over quantities that scale together. Any deviation flips
    * `counts_exact`. */
  def event(spark: SparkSession, sfDir: String, factors: Seq[Int],
      emit: Line => Unit): Unit = {
    val ev = Tables.events(spark, sfDir)
      .select("ts", "event_type", "value", "user_id", "event_id")

    // base-factor (1x) outputs for the cross-factor invariants
    var attr1: Map[String, (Long, Long, Long)] = Map.empty
    var roll1: Map[String, Long] = Map.empty
    var mad1: Set[(String, String, String)] = Set.empty
    var madCnt1: Map[(String, String), Long] = Map.empty
    var cusum1: Map[String, (Long, Long, Boolean)] = Map.empty
    var rfm1: Map[(Long, Long, Long), Long] = Map.empty
    var bounce1: Map[String, (Long, Long, Long)] = Map.empty

    for (factor <- factors) {
      val fact = events(ev, factor).localCheckpoint()
      fact.count()

      val (attr, attrSec) = timed {
        EventQueries.attributionOf(fact).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
      }
      val (roll, rollSec) = timed {
        EventQueries.rollingDistinctOf(fact).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val hourly = fact
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_start"))
        .agg(count(lit(1)).as("cnt"))
      val (madRows, madSec) = timed {
        EventQueries.madFlags(hourly).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      }
      val hourlyUs = fact
        .groupBy(col("event_type"),
          unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
        .agg(count(lit(1)).as("cnt"))
      val (cusum, cusumSec) = timed {
        EventQueries.cusumStats(hourlyUs).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
          .toMap
      }
      val (rfm, rfmSec) = timed {
        EventQueries.rfmSegmentsOf(fact).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
          .toMap
      }
      val (bounce, bounceSec) = timed {
        EventQueries.bounceRateOf(fact).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
      }

      val madSet = madRows.map(r => (r._1, r._2, r._4)).toSet
      val madCnt = madRows.map(r => (r._1, r._2) -> r._3).toMap
      if (factor == factors.head && factors.head == 1) {
        attr1 = attr; roll1 = roll; mad1 = madSet; madCnt1 = madCnt
        cusum1 = cusum; rfm1 = rfm; bounce1 = bounce
      }
      val f = factor.toLong
      val exact = attr1.nonEmpty &&
        attr == attr1.map { case (k, (a, o, c)) => k -> (a * f, o * f, c * f) } &&
        roll == roll1.map { case (k, v) => k -> v * f } &&
        madSet == mad1 &&
        madCnt == madCnt1.map { case (k, v) => k -> v * f } &&
        cusum == cusum1.map { case (k, (n, mx, dr)) => k -> (n, mx * f, dr) } &&
        rfm == rfm1.map { case (k, v) => k -> v * f } &&
        bounce == bounce1.map { case (k, (ns, nb, ppm)) =>
          k -> (ns * f, nb * f, ppm) }

      emit(Seq("tool" -> "event_scale", "sf_dir" -> sfDir, "factor" -> factor,
        "n_events" -> fact.count(),
        "attribution_sec" -> attrSec, "rolling_sec" -> rollSec,
        "mad_sec" -> madSec, "cusum_sec" -> cusumSec,
        "rfm_sec" -> rfmSec, "bounce_sec" -> bounceSec,
        "n_mad_flags" -> madRows.length,
        "n_cusum_drifted" -> cusum.values.count(_._3),
        "n_rfm_segments" -> rfm.size,
        "counts_exact" -> exact))
    }
  }

  /** Adversarial skew: one hub user holding ~1/hubMod of all events,
    * growing absolutely with the factor, under the operators whose
    * large-scale failure mode IS the skewed key:
    *  - latest-by-key: the window-free `max(struct(...))` argmax the
    *    catalog ships (partial aggregation combines the hub's rows
    *    map-side before the exchange) vs the `row_number()` window (the
    *    hub's whole history sorts in one task);
    *  - sessionize / last-touch attribution: per-key windows that DO
    *    concentrate the hub in one task, recorded as such;
    *  - fact ⋈ dim on the skewed key: plain shuffle join with AQE
    *    skew-join off, plain with it on, and the explicit salting
    *    rewrite (`q_salted_join_agg`'s shape).
    * Invariants per factor: n_events exact ×factor, hub share ≈
    * 1/hubMod, argmax ≡ window row-for-row, salted ≡ plain ≡ AQE totals.
    * SKEW_SCALE_r12.jsonl headline: at hubMod=2, factor 64 (3.2M of
    * 6.4M events on one key) the salted join beats the plain
    * sort-merge 1.26 s vs 1.99 s (AQE skew-join 1.46 s), and the argmax
    * beats the window ~2× through the mid factors. */
  def skew(spark: SparkSession, sfDir: String, factors: Seq[Int], hubMod: Int,
      emit: Line => Unit): Unit = {
    val base = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val baseN = base.count()

    for (factor <- factors) withWorkDir(spark, s"graft_skew_f$factor") { work =>
      events(base, factor, Some(hubMod)).write.mode("overwrite")
        .parquet(s"$work/events")
      val ev = Parquet.read(spark, s"$work/events")
      val nEvents = ev.count()
      val hubShare = ev.filter(col("user_id") === 0).count().toDouble / nEvents

      // ---- latest-by-key: window-free argmax vs window counterfactual
      val argmaxQ = ev
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("event_id"))
      val (argmaxRows, argmaxSec) = timed(argmaxQ.count())
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val windowQ = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"))
      val (_, windowSec) = timed(windowQ.count())
      // verdict parity: the argmax IS the window's pick, row-for-row
      val latestParity = argmaxQ.join(windowQ, Seq("user_id", "event_id"),
        "left_anti").isEmpty

      // ---- per-user-window shapes under a hub timeline
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val (nSessions, sessionizeSec) = timed(
        ev.withColumn("prev", lag("ts", 1).over(byUser))
          .withColumn("newSession",
            (col("prev").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev")) >
                1800L * 1000000L).cast("long"))
          .agg(sum("newSession")).head.getLong(0))
      val (nAttributed, attributionSec) = timed(
        ev.withColumn("clickTs",
            last(when(col("event_type") === "click", col("ts")), true)
              .over(byUser))
          .filter(col("event_type") === "purchase" &&
            col("clickTs").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("clickTs")) <=
              86400L * 1000000L)
          .count())

      // ---- skewed-key fact ⋈ dim, broadcast disabled so the exchange
      // actually happens
      val dim = ev.select("user_id").distinct()
        .withColumn("grp", pmod(col("user_id"), lit(5)))
      dim.write.mode("overwrite").parquet(s"$work/dim")
      val dimT = Parquet.read(spark, s"$work/dim")
      val bcConf = "spark.sql.autoBroadcastJoinThreshold"
      val skewConf = "spark.sql.adaptive.skewJoin.enabled"
      val saved = Seq(bcConf, skewConf).map(k => k -> spark.conf.getOption(k))
      def plainJoin(): Array[(Long, Long)] =
        ev.join(dimT, "user_id").groupBy("grp")
          .agg(sum("cents").as("total")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val SALT = 16
      def saltedJoin(): Array[(Long, Long)] =
        ev.withColumn("salt", pmod(col("event_id"), lit(SALT)).cast("int"))
          .join(dimT.withColumn("salt",
            explode(sequence(lit(0), lit(SALT - 1)))), Seq("user_id", "salt"))
          .groupBy("grp").agg(sum("cents").as("total")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val ((plainRes, plainNoAqeSec), (saltedRes, saltedSec),
          (plainAqeRes, plainAqeSec)) =
        try {
          spark.conf.set(bcConf, "-1")
          spark.conf.set(skewConf, "false")
          val plain = timed(plainJoin())
          val salted = timed(saltedJoin())
          spark.conf.set(skewConf, "true")
          (plain, salted, timed(plainJoin()))
        } finally saved.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        }
      val joinParity = plainRes.sameElements(saltedRes) &&
        plainRes.sameElements(plainAqeRes)

      emit(Seq("metric" -> "skew_scale", "factor" -> factor, "sf" -> sfDir,
        "n_events" -> nEvents, "n_events_exact" -> (nEvents == baseN * factor),
        "hub_mod" -> hubMod, "hub_share" -> hubShare,
        "latest_argmax_sec" -> argmaxSec, "latest_window_sec" -> windowSec,
        "latest_rows" -> argmaxRows, "latest_parity" -> latestParity,
        "sessionize_sec" -> sessionizeSec, "n_sessions" -> nSessions,
        "attribution_sec" -> attributionSec, "n_attributed" -> nAttributed,
        "join_plain_noaqe_sec" -> plainNoAqeSec,
        "join_plain_aqe_sec" -> plainAqeSec,
        "join_salted_sec" -> saltedSec, "join_parity" -> joinParity))
    }
  }

  /** The dedup/admission pipeline on token-salted document replicas
    * (near-dup work should scale ~linearly, the LSH/prefix-filter
    * claim). Per factor:
    *  - `neardup_sec`: [[Dedup.nearDupPairs]] at the gate parameters
    *    (J ≥ 0.8, maxDf 200), and whether its plan stays cartesian-free;
    *  - `bloom_sec`: [[Dedup.bloomAdmit]] of the non-seed slice against
    *    the seed slice's digests (the gate row's split);
    *  - `adm1_sec`/`adm2_sec`: two [[Admission]] increments into fresh
    *    state, `compact_sec` folding them, `adm3_post_compact_sec` a
    *    third increment against the compacted base;
    *  - `fold_big_sec` vs `fold_minor_secs`: one big fold, then three
    *    2%-sized increments each followed by a compact — a minor fold
    *    must cost ~the increment, never ~total state;
    *  - `stream_*`: streaming admission with compactEvery=2, stopped
    *    after the mid-run compaction and restarted from the checkpoint;
    *    the restarted run must land exactly the one-shot admitted set;
    *  - `vecs_*`: PQ-compressed semantic state bytes per doc against the
    *    same rows written as (id, e, n) float parquet. */
  def pipeline(spark: SparkSession, sfDir: String, factors: Seq[Int],
      emit: Line => Unit): Unit = {
    val base = Tables.documents(spark, sfDir).select("doc_id", "text", "source")

    for (factor <- factors) withWorkDir(spark, s"graft_pscale_f$factor") { work =>
      // ---- corpus generation (timed separately — not pipeline cost)
      val (corpusPath, genSec) = timed {
        val p = s"$work/docs"
        documents(base, factor).write.mode("overwrite").parquet(p)
        p
      }
      val docs = Parquet.read(spark, corpusPath)
      val nDocs = docs.count()

      // ---- near-dup pairs (PPJoin prefix filter, gate parameters)
      val ndPlanStr = Dedup
        .nearDupPairs(docs, "doc_id", "text", 0.8, maxDf = 200)
        .queryExecution.executedPlan.toString
      val ndCartesianFree =
        !ndPlanStr.contains("CartesianProduct") &&
        !ndPlanStr.contains("BroadcastNestedLoopJoin")
      val (ndPairs, ndSec) = timed(
        Dedup.nearDupPairs(docs, "doc_id", "text", 0.8, maxDf = 200).count())

      // ---- Bloom-prefiltered admission (gate split: seed = id%5==0)
      val digests = docs.select(col("doc_id"), md5(col("text")).as("digest"))
      val seed = digests.filter(col("doc_id") % 5 === 0).select("digest")
      val freshSlice = digests.filter(col("doc_id") % 5 =!= 0)
      val (bloomAdmitted, bloomSec) = timed(
        Dedup.bloomAdmit(freshSlice, seed, "doc_id", "digest").count())

      // ---- two-increment admission + compaction + post-compact inc
      val mx = docs.agg(max("doc_id")).head.getLong(0)
      val root = s"$work/adm"
      val (n1, adm1Sec) = timed(
        Admission.admit(docs.filter(col("doc_id") <= mx / 3), root, "d1").count())
      val (n2, adm2Sec) = timed(
        Admission.admit(docs.filter(col("doc_id") > mx / 3 &&
          col("doc_id") <= 2 * mx / 3), root, "d2").count())
      val (_, compactSec) = timed(Admission.compact(spark, root))
      val (n3, adm3Sec) = timed(
        Admission.admit(docs.filter(col("doc_id") > 2 * mx / 3), root, "d3").count())

      // ---- tiered-compaction generations: one BIG fold, then small
      // daily increments — token-salted fresh docs in disjoint id ranges
      // (2% of the corpus each), so every admit is all-fresh and the
      // fold size is exactly the increment size.
      val root2 = s"$work/adm_gens"
      Admission.admit(docs, root2, "big")
      val (_, foldBigSec) = timed(Admission.compact(spark, root2))
      val small = (1 to 3).map { i =>
        saltedDocs(base.filter(col("doc_id") % 50 === 0),
          900000000L + i * DocShift, s"~e$i")
      }
      val foldMinorSecs = small.zipWithIndex.map { case (inc, i) =>
        Admission.admit(inc, root2, s"e${i + 1}")
        val (_, sec) = timed(Admission.compact(spark, root2))
        sec
      }
      val gensState = Admission.readManifest(spark, root2)
      val nSmall = small.head.count()

      // ---- streaming admission across a compaction boundary with a
      // mid-run stop/restart: 3 one-file micro-batches, compactEvery=2;
      // the stream is STOPPED after the compaction fired and restarted
      // from the checkpoint for the last batch.
      val srcDir = java.nio.file.Paths.get(work, "stream_src")
      java.nio.file.Files.createDirectories(srcDir)
      def writeOne(df: DataFrame, name: String): Unit = {
        val tmp = s"$work/one_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        movePart(tmp, srcDir.resolve(name))
      }
      val root3 = s"$work/adm_stream"
      val ckpt = s"$work/ckpt"
      def admitAvailable(): Unit = {
        val q = Admission.admitStream(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(srcDir.toString),
          root3, ckpt, cfg = None, compactEvery = 2)
        try q.processAllAvailable() finally q.stop()
      }
      val (_, streamP1Sec) = timed {
        writeOne(docs.filter(col("doc_id") <= mx / 3), "00_a.parquet")
        writeOne(docs.filter(col("doc_id") > mx / 3 &&
          col("doc_id") <= 2 * mx / 3), "01_b.parquet")
        admitAvailable()
      }
      val genAfterP1 = Admission.readManifest(spark, root3).generation
      val (_, streamP2Sec) = timed {
        writeOne(docs.filter(col("doc_id") > 2 * mx / 3), "02_c.parquet")
        admitAvailable()
      }
      val streamAdmitted = Admission.corpus(spark, root3)
        .select("doc_id").distinct().count()
      val streamParity = streamAdmitted == n1 + n2 + n3

      // ---- PQ-compressed semantic state bytes: one semantic increment
      // with deterministic synthetic embeddings, compacted, then vecs
      // bytes/doc against the float-format counterfactual. 16-bit SRP
      // tables keep the within-increment candidate join sparse at every
      // factor (this measures STATE BYTES, not LSH constants); sin()
      // gives full-mantissa doubles like real embeddings, so the float
      // counterfactual cannot cheat via dictionary encoding.
      def synthEmb(df: DataFrame): DataFrame = df.select(col("doc_id"),
        expr("transform(sequence(0, 63), i -> sin(doc_id * 31 + i * 17))")
          .as("embedding"))
      val embScaled = synthEmb(docs)
      val root4 = s"$work/adm_sem"
      val (_, semAdmSec) = timed(Admission.admitWithEmbeddings(
        docs, embScaled, root4, "d1", cosThreshold = 0.9,
        nBits = 16, nTables = 4).count())
      Admission.compact(spark, root4)
      // a second small increment against the compacted codes state —
      // the steady-state read path (codes scanned, floats fetched only
      // for ADC survivors)
      val inc2 = small.head
      val emb2 = embScaled.unionByName(synthEmb(inc2))
      val (_, semAdm2Sec) = timed(Admission.admitWithEmbeddings(
        inc2, emb2, root4, "d2", cosThreshold = 0.9,
        nBits = 16, nTables = 4).count())
      def dirBytes(p: String): Long = {
        val pp = new org.apache.hadoop.fs.Path(p)
        val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(pp)) fs.getContentSummary(pp).getLength else 0L
      }
      val vecsBytes = dirBytes(s"$root4/vecs_base") +
        dirBytes(s"$root4/vecs") + dirBytes(s"$root4/pqcb")
      val floatDump = s"$work/float_dump"
      embScaled.select(col("doc_id"),
          col("embedding").cast("array<double>").as("e"))
        .withColumn("n", sqrt(expr("aggregate(e, 0D, (acc, v) -> acc + v * v)")))
        .write.mode("overwrite").parquet(floatDump)
      val vecsPerDoc = vecsBytes.toDouble / nDocs
      val floatPerDoc = dirBytes(floatDump).toDouble / nDocs

      emit(Seq("metric" -> "pipeline_scale", "factor" -> factor, "sf" -> sfDir,
        "n_docs" -> nDocs,
        "gen_sec" -> genSec, "neardup_sec" -> ndSec, "neardup_pairs" -> ndPairs,
        "neardup_cartesian_free" -> ndCartesianFree,
        "bloom_sec" -> bloomSec, "bloom_admitted" -> bloomAdmitted,
        "adm1_sec" -> adm1Sec, "adm2_sec" -> adm2Sec,
        "compact_sec" -> compactSec, "adm3_post_compact_sec" -> adm3Sec,
        "admitted" -> (n1 + n2 + n3),
        "fold_big_sec" -> foldBigSec, "fold_big_rows" -> nDocs,
        "fold_minor_secs" -> foldMinorSecs,
        "fold_minor_rows" -> nSmall, "segments_live" -> gensState.segments.size,
        "stream_phase1_sec" -> streamP1Sec, "stream_gen_at_restart" -> genAfterP1,
        "stream_phase2_sec" -> streamP2Sec, "stream_parity" -> streamParity,
        "sem_admit_sec" -> semAdmSec, "sem_adm2_post_compact_sec" -> semAdm2Sec,
        "vecs_bytes_per_doc" -> vecsPerDoc, "float_bytes_per_doc" -> floatPerDoc,
        "vecs_compression" -> floatPerDoc / vecsPerDoc))

      Seq(root, root2, root3, root4).foreach(Admission.reset(spark, _))
    }
  }

  /** One-file micro-batches the stream family replays (every committed
    * STREAM_STATE line used 24, which shows as 26 batches with state). */
  val StreamBatches = 24

  /** State size of [[graft.streaming.EventStreams.hourlyAnomalyChain]]
    * driven as a real multi-batch stream over calendar replicas (file
    * source, one file per micro-batch, event-time order), read from
    * every `StreamingQueryProgress`. The FMGWS state rows equal the
    * number of event types and the bytes per key hold the open-hours
    * map plus four moment longs, so total state bytes must plateau
    * after warm-up: `state_mem_plateau` asserts max(second half) ≤
    * 1.5 × max(first half) of the post-warmup series. Per-hour counts
    * scale ×factor while every intensive statistic is invariant, so
    * the (type, hour, side) hit set must be identical at every factor
    * and per-hit counts exactly ×factor (`hits_invariant`). */
  def stream(spark: SparkSession, sfDir: String, factors: Seq[Int],
      emit: Line => Unit): Unit = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "200")
    val ev = Tables.events(spark, sfDir)

    var hits1: Map[(String, Long, String), Long] = Map.empty
    for (factor <- factors) withWorkDir(spark, "graft_sss") { root =>
      val fact = events(ev, factor)
        .select(col("event_type"), unix_micros(col("ts")).as("tsUs"))
        .localCheckpoint()
      val n = fact.count()
      val maxTs = fact.agg(max("tsUs")).head.getLong(0)

      // event-time-ordered replay: ntile the timeline into one-file
      // slices + a flush sentinel file that closes every hour
      val srcDir = s"$root/src"
      val outDir = s"$root/out"
      val ckpt = s"$root/ck"
      new java.io.File(srcDir).mkdirs()
      val slices = fact.withColumn("slice",
          ntile(StreamBatches).over(Window.orderBy("tsUs", "event_type")))
      (1 to StreamBatches).foreach { sl =>
        val tmp = s"$root/tmp$sl"
        slices.filter(col("slice") === sl).drop("slice")
          .orderBy("tsUs").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        movePart(tmp, java.nio.file.Paths.get(srcDir, f"$sl%03d.parquet"))
      }
      Seq(("~flush", maxTs + 3L * 3600000000L)).toDF("event_type", "tsUs")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/tmpf")
      movePart(s"$root/tmpf", java.nio.file.Paths.get(srcDir, "999.parquet"))

      val t0 = System.nanoTime()
      val q = graft.streaming.EventStreams.hourlyAnomalyChain(
          spark.readStream.schema("event_type string, tsUs long")
            .option("maxFilesPerTrigger", "1").parquet(srcDir)
            .select(col("event_type"), timestamp_micros(col("tsUs")).as("ts")))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9

      // per-batch state series (batches that carried state metrics)
      val series = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
        .map(p => (p.batchId,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      val rows = series.map(_._2)
      val mems = series.map(_._3)
      // plateau check over the post-warmup window (skip the first 4
      // batches: store init + first fills dominate)
      val warm = mems.drop(4)
      val (h1, h2) = warm.splitAt(warm.length / 2)
      val plateau = h1.nonEmpty && h2.nonEmpty &&
        h2.max <= math.max(1.5 * h1.max, h1.max + (64 << 10))
      val hits = Parquet.read(spark, outDir)
        .select("event_type", "hourUs", "cnt", "side").collect()
        .map(r => ((r.getString(0), r.getLong(1), r.getString(3)),
          r.getLong(2))).toMap
      val baseFactor = factors.head
      if (factor == baseFactor && hits1.isEmpty) hits1 = hits
      // intensive invariance: same (type, hour, side) set at every
      // factor; extensive exactness: counts scale exactly x(f/base)
      val invariant = hits.keySet == hits1.keySet &&
        hits.forall { case (k, c) => c * baseFactor == hits1(k) * factor }
      emit(Seq("metric" -> "stream_state", "factor" -> factor, "sf" -> sfDir,
        "n_events" -> n, "n_batches" -> series.length, "wall_sec" -> sec,
        "state_rows_max" -> (if (rows.isEmpty) 0L else rows.max),
        "state_rows_final" -> rows.lastOption.getOrElse(0L),
        "state_mem_first_half_max" -> (if (h1.isEmpty) 0L else h1.max),
        "state_mem_second_half_max" -> (if (h2.isEmpty) 0L else h2.max),
        "state_mem_plateau" -> plateau,
        "n_hits" -> hits.size, "hits_invariant" -> invariant))
    }
  }

  /** Replicated `documents` + `embeddings` ([[documents]],
    * [[embeddings]]) written like the sf tiers — one parquet file, one
    * row group per table — so the scale-adaptive scan fan-out faces the
    * same under-split input it was built for. sf0.1 cannot show
    * parallelism (every core-count ratio there is ≈1, the wall is
    * driver overhead), so CORE_SCALE measures the text/vector heavies
    * on these fixtures. Reads the raw parquet, not [[Tables]]. */
  def fixture(spark: SparkSession, src: String, outRoot: String,
      factors: Seq[Int], emit: Line => Unit): Unit = {
    val docs = Parquet.read(spark, s"$src/documents.parquet")
    val emb = Parquet.read(spark, s"$src/embeddings.parquet")
    for (factor <- factors) {
      val out = s"$outRoot/f$factor"
      documents(docs, factor).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      embeddings(emb, factor).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      emit(Seq("fixture" -> out, "factor" -> factor, "src" -> src))
    }
  }

  /** IMDB-shaped throughput: the reference demos on 1,001 titles and
    * cites the 8.16M-title full dump; factor 1000 ≈ 1M titles / 3.6M
    * principals. Times the ingest star join, level-2/3 co-star queries
    * from a replica-0 root, and the vertex-only level-3 BFS three ways
    * (auto, forced broadcast, forced shuffle), which must agree. */
  def imdb(spark: SparkSession, sample: String, factors: Seq[Int],
      emit: Line => Unit): Unit = {
    import BipartiteExpand.FrontierMode
    for (factor <- factors) withWorkDir(spark, s"graft_imdb_f$factor") { out =>
      def write(df: DataFrame, header: Boolean, name: String): Unit =
        df.write.mode(SaveMode.Overwrite)
          .option("sep", "\t").option("header", header)
          .option("quote", "").option("escapeQuotes", "false")
          .csv(s"$out/$name")
      val (_, genS) = timed {
        // basics: key tconst(0); title cols primaryTitle(2), originalTitle(3)
        write(imdbTsv(spark, s"$sample/basic1000.tsv", header = true,
          Seq(0), Seq(2, 3), factor), header = true, "basics")
        // principals: keys tconst(0), nconst(2)
        write(imdbTsv(spark, s"$sample/principals1000.tsv", header = true,
          Seq(0, 2), Seq(), factor), header = true, "principals")
        // names: key nconst(0); primaryName(1)
        write(imdbTsv(spark, s"$sample/names1000.tsv", header = false,
          Seq(0), Seq(1), factor), header = false, "names")
      }

      val (edges, ingestS) = timed {
        EdgeBuilder.materialize(EdgeBuilder.edges(spark,
          s"$out/basics", s"$out/principals", s"$out/names"))
      }
      val nEdges = edges.count()

      val root = "Florence Lawrence (r0)"
      val (n2, q2S) = timed {
        CoStar.run(spark, edges, root, CoStar.ActorQuery, 2).vertices.count()
      }
      val (n3, q3S) = timed {
        CoStar.run(spark, edges, root, CoStar.ActorQuery, 3).vertices.count()
      }
      val autoModes = scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
      val (n3a, q3aS) = timed {
        BipartiteExpand.expand(spark, edges, "name", "title", lit(root), 3,
          onLevelMode = (l, b) => autoModes += ((l, b))).count()
      }
      val (n3b, q3bS) = timed {
        BipartiteExpand.expand(spark, edges, "name", "title", lit(root), 3,
          mode = FrontierMode.Broadcast).count()
      }
      val (n3s, q3sS) = timed {
        BipartiteExpand.expand(spark, edges, "name", "title", lit(root), 3,
          dedupEdges = true, mode = FrontierMode.Shuffle).count()
      }
      val autoModeStr = autoModes
        .map { case (l, b) => s"$l:${if (b) "broadcast" else "shuffle"}" }
        .mkString(",")

      emit(Seq("metric" -> "imdb_scale", "factor" -> factor,
        "titles" -> 1001L * factor, "edges" -> nEdges,
        "gen_sec" -> genS, "ingest_sec" -> ingestS,
        "l2_vertices" -> n2, "q2_sec" -> q2S, "l3_vertices" -> n3, "q3_sec" -> q3S,
        "l3_auto_vertices" -> n3a, "q3_vertex_auto_sec" -> q3aS,
        "auto_levels" -> autoModeStr,
        "l3_bcast_vertices" -> n3b, "q3_vertex_bcast_sec" -> q3bS,
        "l3_shuffle_vertices" -> n3s, "q3_vertex_shuffle_sec" -> q3sS))
      edges.unpersist()
    }
  }
}
