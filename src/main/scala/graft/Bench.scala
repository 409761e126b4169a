package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}` —
  * the COMPACT form (medians + external residuals + validity +
  * errors), sized to survive the driver's bounded stdout-tail capture;
  * the FULL artifact (adds quantiles, raw loads, extra timings, the
  * second scale point) is written to `SPARK_GRAFT_BENCH_OUT`
  * (default `bench_last.json`).
  *
  * Each query is forced with `.count()` (full plan execution, no
  * collect of wide results). Protocol (kept stable round over round so
  * the driver's comparison stays attributable):
  *  - one untimed warm-up of every query (JIT + codegen compile +
  *    parquet footer caches — without it the first run is a 2-6x
  *    outlier and p90 measures the JIT, not the plan);
  *  - 5 measured runs per query, executed ROUND-ROBIN (run every query
  *    once, then repeat 5x) rather than back-to-back: a machine-wide
  *    contention window then lands on ONE run of each query instead of
  *    all 5 runs of whichever query it overlapped — which is how round
  *    2's q_broadcast_join_agg median absorbed a 7x noise spike;
  *  - per-query time is the MEDIAN of the successful runs; `quantiles`
  *    reports p10/p50/p90 (min/median/max of 5) so a regression can be
  *    told apart from a spike;
  *  - the 1-minute system load average is sampled before and after each
  *    measurement pass (`loadavg` in the JSON) so the artifact itself
  *    shows whether the box was quiet — bench numbers without that
  *    context proved unattributable in round 2;
  *  - a second scale point (`sf2`/`queries_sf2`, medians at the sibling
  *    sf0.01 directory or `SPARK_GRAFT_SF_DIR2`) keeps each query's
  *    scaling slope visible round over round;
  *  - a PREV-HEAD A/B (`ab` in the full artifact, `ab_ratio` compact):
  *    alternating child JVMs measure sentinel queries against the
  *    previous round's committed binary and the current classes in the
  *    same session, so the cross-round ±15-25% environment term
  *    (docs/bench_drift_r13.md) cancels out of the ratio — the one
  *    number that answers "did this round's code get slower?"
  *    ([[AbRunner]]; docs/bench_protocol.md "Prev-HEAD A/B").
  *
  * Validity (`docs/bench_protocol.md`): each measured run is bracketed
  * by load samples and the recorded sample's `external` covers exactly
  * the run's own interval. Since round 13 the external estimate is
  * EXACT CPU accounting ([[CpuExternal]]): average busy cores from
  * /proc/stat minus this process's own CPU time — loadavg-based
  * residuals proved un-usable on this box (loadavg reads 13-23 on an
  * idle machine under bursty micro-batch workloads; the committed
  * trace is in docs/bench_drift_r13.md), and CPU time integrates
  * without the sampling aliasing that produced those phantoms. Raw
  * loadavg stays in the artifact for provenance/continuity, and the
  * [[SelfLoad]] loadavg residual remains the off-Linux fallback. A
  * query is flagged `noisy` when its worst external estimate exceeds
  * the bound (`SPARK_GRAFT_LOAD_BOUND`, default 2.0 — now in busy
  * CORES of external work) or its median drifted off the run floor
  * (p50 > 1.5× p10 AND > 0.25 s over it); the top-level `valid` flag
  * is the AND over headline queries. An invalid artifact must not
  * ground a regression verdict — rounds 4 and 5 both burned a
  * judge-round on exactly that ambiguity.
  *
  * Failure handling: a query that throws is recorded under `errors`
  * (first message), its failed runs are EXCLUDED from the median — a
  * broken query must never bench as ~0 s and "improve" the total — and
  * the process exits nonzero. [[Bench.measure]] is the pure harness
  * core; `BenchHarnessSpec` proves a deliberately broken query fails
  * loudly instead of silently passing, and pins the validity verdicts.
  */
object Bench {
  private val Runs = 5

  /** Default EXTERNAL-load validity bound. Measured calibration
    * (sf0.1, 32-core container): on a quiet box the external residual
    * (loadavg minus the [[SelfLoad]] estimate) stays ≤ 0.12 while raw
    * loadavg peaks above 5; four external spinner processes read as
    * residual 1.9-2.4. 2.0 sits an order of magnitude above estimator
    * noise and at the signature of a ~4-thread intrusion — the scale
    * of contention that produced the round-4/5 drift exhibits. */
  val DefaultLoadBound = 2.0

  /** One loadavg observation: the raw 1-minute system value and the
    * external residual after subtracting this JVM's own estimated
    * contribution. `externalSys` is the external KERNEL-side residual
    * (system-wide sys jiffies minus own stime) — RECORDED, never
    * gated on (round-13 verdict item 6): the chain rows provoke
    * self-caused but process-unattributed kernel reclaim that would
    * re-create the phantom flags if sys time gated, yet a sys-heavy
    * intruder (an I/O storm from another process) should at least be
    * visible in the artifact. Zero where /proc is unavailable. */
  final case class LoadSample(raw: Double, external: Double,
      externalSys: Double = 0.0)

  /** Timing + error + per-run load outcome of one query.
    * `progressTimed` marks rows whose times are the streaming query's
    * own per-batch `triggerExecution` sums ([[StreamOpTiming]]) rather
    * than harness wall clock. */
  final case class QResult(name: String, times: Seq[Double],
      loads: Seq[LoadSample], err: Option[String],
      progressTimed: Boolean = false) {
    def ok: Boolean = times.nonEmpty
    def median: Double = times.sorted.apply(times.size / 2)
    def p10: Double = times.sorted.head
    def p90: Double = times.sorted.last
    def loadMax: Double = if (loads.isEmpty) 0.0 else loads.map(_.raw).max
    def xloadMax: Double = if (loads.isEmpty) 0.0 else loads.map(_.external).max
    /** Worst external KERNEL-side residual (reported, never gating —
      * see [[LoadSample.externalSys]]). */
    def xsysMax: Double = if (loads.isEmpty) 0.0 else loads.map(_.externalSys).max
    /** Contention verdict per docs/bench_protocol.md: the box was
      * measurably busy with OTHER work during a run, or the MEDIAN
      * itself drifted well above the run floor (p50 > 1.5×p10 and
      * > 0.25 s over it — at least half the runs were slowed; the
      * absolute guard keeps micro-query jitter from flagging). A
      * single p90 outlier does NOT flag: the median is robust to one
      * spike in five, and quiet-box runs show occasional 5× GC/JIT
      * outliers that leave p50 ≈ p10. */
    def noisy(loadBound: Double = DefaultLoadBound): Boolean =
      ok && (xloadMax > loadBound ||
        (times.size >= 3 && median > 1.5 * p10 && median - p10 > 0.25))
  }

  /** Kernel-window EWMA: smooths instantaneous load contributions
    * with the same exponential window Linux applies to the 1-minute
    * loadavg (decay `exp(-dt/60)` per update), so a self-load
    * estimate built from it lags identically to the loadavg it is
    * subtracted from. Primes with the first observation. Pure;
    * callers synchronize. */
  final class LoadEwma {
    private var lastT = 0L
    private var ewma = 0.0
    private var primed = false
    def update(tNanos: Long, value: Double): Double = {
      if (!primed) { primed = true; ewma = value; lastT = tNanos }
      else {
        val dt = (tNanos - lastT) / 1e9
        if (dt > 1e-3) {
          val a = math.exp(-dt / 60.0)
          ewma = ewma * a + value * (1 - a)
          lastT = tNanos
        }
      }
      ewma
    }
    def current: Double = ewma
  }

  /** Estimates this JVM's own contribution to the 1-minute system
    * load average, so the residual `loadavg - self` isolates EXTERNAL
    * contention. Loadavg counts RUNNABLE + uninterruptible-IO
    * threads, NOT CPU seconds — a 32-thread shuffle burst queues more
    * threads than it gets cores, and parquet IO parks threads in D
    * state, so a CPU-time estimate undercounts by 2-3 on a quiet box
    * at sf0.1. The estimator therefore counts this process's OWN
    * R/D-state threads (`/proc/self/task/<tid>/stat`), sampled every
    * 500 ms by a daemon thread — uniform sampling, not query-boundary
    * sampling, which would catch the JVM mid-gap between queries and
    * undercount — and smoothed through [[LoadEwma]]. Where /proc is
    * unavailable (non-Linux), falls back to process CPU utilization
    * per interval: a documented undercount, never an overcount. */
  final class SelfLoad {
    private val ewma = new LoadEwma
    private val taskDir = new java.io.File("/proc/self/task")
    private val cpuBean =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => Some(b)
        case _ => None
      }
    private var lastCpu = cpuBean.map(_.getProcessCpuTime).getOrElse(0L)
    private var lastCpuT = System.nanoTime()

    /** Instantaneous count of own threads in R (runnable) or D
      * (uninterruptible IO) state — the states loadavg counts. */
    private def ownRunnable(): Double = {
      val tasks = taskDir.listFiles()
      if (tasks == null) cpuUtilization()
      else {
        var n = 0
        tasks.foreach { t =>
          try {
            val stat = new String(java.nio.file.Files.readAllBytes(
              t.toPath.resolve("stat")), "US-ASCII")
            // state is the first field after the parenthesized comm
            // (comm may itself contain ')': take the LAST one)
            val i = stat.lastIndexOf(')')
            if (i >= 0 && i + 2 < stat.length) {
              val st = stat.charAt(i + 2)
              if (st == 'R' || st == 'D') n += 1
            }
          } catch { case _: java.io.IOException => () } // thread exited mid-scan
        }
        n.toDouble
      }
    }

    private def cpuUtilization(): Double = cpuBean match {
      case None => 0.0
      case Some(b) =>
        val t = System.nanoTime()
        val c = b.getProcessCpuTime
        val dt = (t - lastCpuT) / 1e9
        val u = if (dt > 1e-3) (c - lastCpu) / 1e9 / dt else 0.0
        lastCpu = c
        lastCpuT = t
        u
    }

    @volatile private var running = true
    private val sampler = new Thread(() => {
      try {
        while (running) {
          val v = ownRunnable()
          ewma.synchronized(ewma.update(System.nanoTime(), v))
          Thread.sleep(500)
        }
      } catch {
        // interrupt = close(): exit cleanly. Swallowing it silently in
        // the loop would freeze the EWMA at its last value and let
        // every later external residual drift high with no indication.
        case _: InterruptedException => ()
      }
    }, "bench-selfload")
    sampler.setDaemon(true)
    sampler.start()

    /** Current self-load estimate. */
    def current: Double = ewma.synchronized(ewma.current)

    /** Stop the sampler thread (idempotent). */
    def close(): Unit = { running = false; sampler.interrupt() }
  }

  /** EXACT external-CPU residual from kernel CPU accounting — the
    * round-13 replacement for the loadavg-minus-sampled-threads
    * residual wherever /proc/stat exists. Why: committed trace
    * evidence (docs/bench_drift_r13.md) shows this box's loadavg
    * sitting at 13–23 while the instantaneous system-wide
    * runnable+D thread count averages ~5 and /proc/stat shows the
    * CPUs idle — on burst-heavy queries (streaming micro-batches,
    * thousands of 10 ms tasks) BOTH the kernel's tick-sampled loadavg
    * and a 500 ms thread-count sampler alias badly, and their
    * difference is noise that read as phantom "external" load of 6–14
    * cores on an idle machine (every r12 extras flag). CPU TIME does
    * not alias: it integrates exactly. External contention =
    * (system USER+NICE jiffies − this process's utime) over the
    * interval, in average busy CORES — a real intruding process burns
    * user-mode CPU and shows up; our own work, however bursty,
    * subtracts out exactly. User mode ONLY: kernel system time and
    * steal are excluded because the streaming rows provoke
    * process-unattributed kernel reclaim + hypervisor steal of 14-18
    * cores (see the class body) that would re-create the phantom.
    * Limitation: an intruder's kernel-side time is invisible — its
    * user-mode compute still flags it. Falls back to the loadavg
    * residual where /proc is unavailable. */
  final class CpuExternal {
    /** System-wide (USER+NICE, SYSTEM) jiffies (USER_HZ = 100). Only
      * the USER component ever gates — deliberately. Measured on this
      * box (trace committed in docs/bench_drift_r13.md): the
      * streaming-chain rows provoke 14–18 CORES of kernel SYSTEM time
      * (memory-reclaim storms — mm_percpu_wq / kvfree_rcu kworkers —
      * plus hypervisor steal) that is accounted to NO process, so any
      * busy measure including sys/steal reads self-provoked kernel
      * work as phantom external load, which is exactly the failure
      * mode this class replaces. An intruding process's compute is
      * user time and stays visible. Its kernel-side cost is tracked
      * SEPARATELY as `sys` (system jiffies minus own stime — still
      * polluted by self-provoked unattributed reclaim, which is why it
      * is reported in the artifact but never part of the validity
      * verdict; round-13 verdict item 6 closed the blind spot where a
      * mostly-in-kernel intruder was invisible entirely). */
    private def sysJiffies(): Option[(Long, Long)] =
      try {
        val f = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        Some((f(1).toLong + f(2).toLong, f(3).toLong))
      } catch { case _: Exception => None }
    /** This process's own (utime, stime) jiffies (/proc/self/stat
      * fields 14/15 — same clock and mode split as [[sysJiffies]], so
      * both subtractions are exact; comm may contain ')', parse from
      * the LAST one). */
    private def ownTimes(): Option[(Long, Long)] =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/self/stat")), "US-ASCII")
        val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
        Some((rest(11).toLong, rest(12).toLong)) // utime=11, stime=12 in the tail
      } catch { case _: Exception => None }
    private var lastSys = sysJiffies()
    private var lastOwn = ownTimes()
    private var lastT = System.nanoTime()

    private val debug = sys.env.contains("SPARK_GRAFT_LOAD_DEBUG")

    /** One interval's external residuals, in average busy CORES:
      * `user` is the gating figure (exact, alias-free); `sys` is the
      * recorded-only kernel-side residual. */
    final case class CpuSample(user: Double, sys: Double)

    /** Average EXTERNAL busy cores since the last call, or None where
      * /proc is unavailable or the interval is degenerate (< 50 ms:
      * jiffy granularity is 10 ms, so over a few-ms interval a single
      * tick aliases to 5+ phantom cores — measured runs are seconds,
      * so the floor only suppresses meaningless samples). */
    def sinceLast(): Option[CpuSample] = synchronized {
      val t = System.nanoTime()
      val dt = (t - lastT) / 1e9
      (sysJiffies(), ownTimes()) match {
        case (Some((u, sy)), Some((ou, os))) if dt > 0.05 =>
          val userCores = (u - lastSys.map(_._1).getOrElse(u)) / 100.0 / dt
          val sysCores = (sy - lastSys.map(_._2).getOrElse(sy)) / 100.0 / dt
          val ownCores = (ou - lastOwn.map(_._1).getOrElse(ou)) / 100.0 / dt
          val ownSys = (os - lastOwn.map(_._2).getOrElse(os)) / 100.0 / dt
          if (debug)
            System.err.println(
              f"[cpuext] dt=$dt%.2f user=$userCores%.2f own=$ownCores%.2f ext=${userCores - ownCores}%.2f sys=$sysCores%.2f ownsys=$ownSys%.2f extsys=${sysCores - ownSys}%.2f")
          lastSys = Some((u, sy)); lastOwn = Some((ou, os)); lastT = t
          Some(CpuSample(math.max(0.0, userCores - ownCores),
            math.max(0.0, sysCores - ownSys)))
        case _ => None
      }
    }
  }

  /** The ONE estimator every default-sampled [[measure]] pass shares.
    * A fresh SelfLoad per pass has no memory of the load the JVM
    * generated before its construction — right after a heavy pass the
    * kernel's 1-minute window still carries decaying self-load a
    * newborn estimator cannot subtract, so the 'external' residual of
    * the next pass reads falsely high (round 6's local artifact
    * flagged both extra queries on a quiet box exactly this way). A
    * single estimator whose EWMA spans the whole bench stays aligned
    * with the kernel window across passes — and means one daemon
    * thread total instead of one leaked per pass. */
  lazy val sharedSelfLoad: SelfLoad = new SelfLoad

  /** The shared exact-CPU residual estimator ([[CpuExternal]]). */
  lazy val sharedCpuExternal: CpuExternal = new CpuExternal

  /** Robust estimators for the prev-HEAD A/B (round-14 verdict item 3:
    * the 1+3-cold-JVM-runs-per-child instrument recorded `ab_ratio`
    * 1.686 on a loaded driver box while the primary per-query
    * comparison showed the same build 1.22× FASTER — one contended
    * child launch, with samples 3-5× the quiet floor, flipped the
    * verdict number). Pure functions so `BenchHarnessSpec` pins the
    * math.
    *
    * Trimming rule: a sample more than `tol`× the pooled per-query
    * floor (the min over BOTH sides — the contention-free estimate
    * of the query's cost on this box) is a contention outlier, not a
    * measurement of the code. Both sides trim against the SAME floor,
    * so a genuine regression is never trimmed away on one side only;
    * if every sample of one side exceeds the bound (a real ≥tol×
    * regression), that side falls back untrimmed rather than vanish. */
  object AbStats {
    /** Median by the protocol's convention (upper middle on ties). */
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    /** One side trimmed against the pooled floor (see object doc). */
    def trim(side: Seq[Double], pooledFloor: Double,
        tol: Double = 2.5): Seq[Double] = {
      val kept = side.filter(_ <= tol * pooledFloor)
      if (kept.nonEmpty) kept else side
    }

    /** (trimmed ratio, raw ratio, floor ratio, n trimmed away) for one
      * query's sample sets. */
    def ratios(prev: Seq[Double], cur: Seq[Double],
        tol: Double = 2.5): (Double, Double, Double, Int) = {
      val floor = (prev ++ cur).min
      val pt = trim(prev, floor, tol)
      val ct = trim(cur, floor, tol)
      (med(ct) / med(pt), med(cur) / med(prev), cur.min / prev.min,
        (prev.size - pt.size) + (cur.size - ct.size))
    }
  }

  /** The headline fields of both artifact lines: `complete` says every
    * headline query produced timings, and `value` (the total of their
    * medians) is `null` when one did not, because a sum over the
    * survivors reads as a speedup. */
  def totalFields(headline: Seq[QResult]): String = {
    val complete = headline.forall(_.ok)
    val total = if (complete) f"${headline.map(_.median).sum}%.3f" else "null"
    s""""value":$total,"complete":$complete"""
  }

  /** Run `queries` against `dir`: one untimed warm-up each, then
    * `runs` round-robin measurement passes. Failed runs record the
    * error and contribute no time. `loadSampler` is called once
    * immediately before each measured run (resetting the default
    * sampler's interval — the reading is discarded) and once after it,
    * so the recorded sample's `external` covers exactly the run's own
    * interval (injectable for the spec; the default reads
    * [[sharedCpuExternal]], falling back to [[sharedSelfLoad]]'s
    * loadavg residual off-Linux). */
  def measure(spark: SparkSession, dir: String, queries: Seq[Q],
      runs: Int = Runs,
      loadSampler: () => LoadSample = defaultSampler()): Seq[QResult] = {
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    val progTimed = scala.collection.mutable.Set[String]()
    def runOne(q: Q): Option[Double] = {
      StreamOpTiming.take(q.name) // clear any stale deposit (failed run)
      val t0 = System.nanoTime()
      try {
        q.fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // a gate-harness streaming row deposits its own per-batch
        // triggerExecution sum — the operator's cost without the
        // MemoryStream feed; prefer it and record the provenance
        StreamOpTiming.take(q.name) match {
          case Some(op) => progTimed += q.name; Some(op)
          case None => Some(wall)
        }
      }
      catch {
        case e: Throwable =>
          errs.getOrElseUpdate(q.name,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
          None
      }
    }
    queries.foreach(runOne) // warm-up pass (untimed; errors still recorded)
    val times = queries.map(q => q.name ->
      scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val loads = queries.map(q => q.name ->
      scala.collection.mutable.ArrayBuffer[LoadSample]()).toMap
    (1 to runs).foreach { _ =>
      queries.foreach { q =>
        loadSampler() // reset the interval at run start (reading unused)
        runOne(q).foreach { t =>
          times(q.name) += t; loads(q.name) += loadSampler()
        }
      }
    }
    queries.map(q =>
      QResult(q.name, times(q.name).toSeq, loads(q.name).toSeq, errs.get(q.name),
        progressTimed = progTimed(q.name)))
  }

  /** Raw loadavg (provenance/continuity) + the exact external-CPU
    * residual in busy cores ([[CpuExternal]]); where /proc/stat is
    * unavailable, the pre-round-13 loadavg-minus-self residual.
    *
    * The estimator choice is LATCHED once at sampler construction
    * (round-13 advice): the previous per-sample fallback could mix
    * busy-core units with loadavg units inside one artifact whenever a
    * single /proc read transiently failed or an interval degenerated —
    * and on this box (loadavg 13–23 idle) one loadavg-unit sample
    * spuriously flags the query. With /proc latched in, a transient
    * miss records 0.0 in the SAME units (an unmeasurable interval,
    * not a phantom intruder). */
  def defaultSampler(self: SelfLoad = sharedSelfLoad,
      cpu: CpuExternal = sharedCpuExternal): () => LoadSample = {
    // probe once; also primes cpu's interval so the first real sample
    // doesn't span from construction time
    val exact = cpu.sinceLast().isDefined ||
      new java.io.File("/proc/stat").exists
    () => {
      val raw = loadAvg
      if (exact) {
        val s = cpu.sinceLast()
        LoadSample(raw, s.map(_.user).getOrElse(0.0),
          s.map(_.sys).getOrElse(0.0))
      } else LoadSample(raw, math.max(0.0, raw - self.current))
    }
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench", GraftSession.cpus(32))

    val headline = Catalog.all.filter(_.headline)
    // slope-tier queries (deliberate exact all-pairs baselines) are
    // measured ONLY at the second scale point: the crossover evidence
    // vs their bucketed twins stays in every artifact without an O(n²)
    // plan in the sf0.1 headline budget (round-9 verdict item 5)
    val slopeSet = Catalog.all.filter(q => q.headline || q.slope)
    val loadBound = sys.env.get("SPARK_GRAFT_LOAD_BOUND")
      .map(_.toDouble).getOrElse(DefaultLoadBound)
    // resolve ad-hoc names BEFORE any measurement: a typo must fail in
    // seconds, not after the multi-minute headline pass
    val extraQueries: Option[Seq[Q]] = sys.env.get("SPARK_GRAFT_TIME_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
      .map(_.map(n => Catalog.byName.getOrElse(n,
        sys.error(s"unknown query in SPARK_GRAFT_TIME_QUERIES: $n"))))

    def jnum(v: Double): String = f"$v%.3f"
    def jmap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jarr(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")

    // ONE estimator across every pass below: a fresh SelfLoad per pass
    // cannot subtract the decaying self-load the earlier passes left
    // in the kernel's 1-minute window (see [[sharedSelfLoad]]).
    val sampler = defaultSampler()

    val load0 = loadAvg
    val results = measure(spark, sfDir, headline, loadSampler = sampler)
    val load1 = loadAvg
    val ok = results.filter(_.ok)
    val qs = jmap(ok.map(r => r.name -> jnum(r.median)))
    val quant = jmap(ok.map { r =>
      val ts = r.times.sorted
      r.name -> jmap(Seq("p10" -> jnum(ts.head), "p50" -> jnum(r.median),
        "p90" -> jnum(ts.last)))
    })
    val totalPart = totalFields(results)

    // Validity (docs/bench_protocol.md): per-query worst sampled
    // loadavg (raw + external residual), the queries whose numbers
    // are contention-suspect, and the run-level verdict a regression
    // analysis must check first.
    val xloadPart =
      s""","xload":${jmap(ok.map(r => r.name -> jnum(r.xloadMax)))}"""
    // kernel-side external residual: RECORDED for intruder visibility,
    // never part of the validity verdict (docs/bench_protocol.md —
    // self-provoked unattributed reclaim would re-create the r12
    // phantom flags if it gated)
    val xsysPart =
      s""","xsysload":${jmap(ok.map(r => r.name -> jnum(r.xsysMax)))}"""
    val loadPart =
      s""","load":${jmap(ok.map(r => r.name -> jnum(r.loadMax)))}""" + xloadPart + xsysPart
    val noisyNames = ok.filter(_.noisy(loadBound)).map(_.name)
    val validPart =
      s""","load_bound":${jnum(loadBound)},"noisy":${jarr(noisyNames)},"valid":${noisyNames.isEmpty}"""

    // Ad-hoc per-operator timings land in the SAME artifact (replaces
    // the separate TimeQuery main + TIMEQUERY_rNN.txt side file):
    // SPARK_GRAFT_TIME_QUERIES=q_a,q_b adds an "extra" median map,
    // measured under the identical warm-up + round-robin protocol.
    // Extra results join the headline ones in `errors` and the exit
    // check below — a broken ad-hoc query fails as loudly as a broken
    // headline one instead of silently vanishing from the map.
    val extraResults = extraQueries
      .map(qs2 => measure(spark, sfDir, qs2, loadSampler = sampler))
      .getOrElse(Seq.empty)
    val extraPart =
      if (extraResults.isEmpty) ""
      else {
        val okX = extraResults.filter(_.ok)
        val body = jmap(okX.map(r => r.name -> jnum(r.median)))
        // full per-extras provenance (round-12 verdict item 4): an
        // extra_noisy flag without the quantiles and external-load
        // residuals that triggered it was undiagnosable from the
        // artifact alone
        val quantX = jmap(okX.map { r =>
          val ts = r.times.sorted
          r.name -> jmap(Seq("p10" -> jnum(ts.head), "p50" -> jnum(r.median),
            "p90" -> jnum(ts.last)))
        })
        val xloadX = jmap(okX.map(r => r.name -> jnum(r.xloadMax)))
        val xsysX = jmap(okX.map(r => r.name -> jnum(r.xsysMax)))
        val noisy2 = extraResults.filter(_.noisy(loadBound)).map(_.name)
        s""","extra":$body,"extra_quantiles":$quantX,"extra_xload":$xloadX,"extra_xsysload":$xsysX,"extra_noisy":${jarr(noisy2)}"""
      }

    // Second scale point for the scaling slope (best-effort: skip when
    // absent so the bench contract never breaks on a custom sfDir).
    // The same-directory guard applies to the EXPLICIT env var too: a
    // second pass over the identical directory would masquerade as a
    // scaling slope while measuring nothing new.
    val sf2Dir = sys.env.get("SPARK_GRAFT_SF_DIR2")
      .orElse(Some(sfDir.replace("sf0.1", "sf0.01")))
      .filter(d => d != sfDir && new java.io.File(d).isDirectory)
    // an EXPLICIT second dir that gets dropped deserves a diagnostic:
    // silently losing the scale point hides a typo'd path (the derived
    // fallback may legitimately not exist — no warning there)
    sys.env.get("SPARK_GRAFT_SF_DIR2").foreach { d =>
      if (d == sfDir)
        System.err.println(s"bench: SPARK_GRAFT_SF_DIR2=$d equals " +
          "SPARK_GRAFT_SF_DIR — skipping the duplicate scale point")
      else if (!new java.io.File(d).isDirectory)
        System.err.println(s"bench: SPARK_GRAFT_SF_DIR2=$d is not a " +
          "directory — skipping the second scale point (typo?)")
    }
    val sf2Results = sf2Dir
      .map(d => measure(spark, d, slopeSet, loadSampler = sampler))
      .getOrElse(Seq.empty)
    val sf2Part = sf2Dir match {
      case Some(d) =>
        val qs2 = jmap(sf2Results.filter(_.ok).map(r => r.name -> jnum(r.median)))
        s""","sf2":"$d","queries_sf2":$qs2"""
      case None =>
        // slope-tier queries run ONLY in the sf2 pass — with no second
        // scale point they are measured at NO scale this run, which
        // must be loud (an artifact without them is not comparable to
        // one with them), not a silent key omission
        System.err.println("bench: no second scale point " +
          "(SPARK_GRAFT_SF_DIR2 unset/invalid and no derived sf0.01 " +
          "sibling) — slope-tier queries measured at NO scale this run")
        s""","slope_skipped":true"""
    }

    // ---- Prev-HEAD A/B (round-13 verdict item 1, docs/bench_protocol.md
    // "Prev-HEAD A/B") -------------------------------------------------
    // Cross-round medians carry a ±15-25% environment term on sub-2 s
    // queries (docs/bench_drift_r13.md), so the per-round artifact now
    // self-calibrates: alternating child JVMs run a sentinel query set
    // against the PREVIOUS round's committed binary
    // (tools/ab/graft-prev.jar, refreshed at each round start) and the
    // current classes — same box, same minutes, so the environment term
    // cancels out of the ratio and `ab.ratio_median` answers "did THIS
    // round's code get slower?" directly. ABBA launch order cancels
    // linear drift within the A/B window itself. Any failure records
    // ab_error and never fails the bench.
    val abPart: String = {
      val abJar = sys.env.getOrElse("SPARK_GRAFT_AB_JAR", "tools/ab/graft-prev.jar")
      val enabled = sys.env.getOrElse("SPARK_GRAFT_AB", "1") != "0" &&
        new java.io.File(abJar).isFile
      if (!enabled) {
        System.err.println(s"bench: prev-HEAD A/B skipped (${
          if (new java.io.File(abJar).isFile) "SPARK_GRAFT_AB=0" else s"no $abJar"})")
        s""","ab_skipped":true"""
      } else try {
        // Sentinel set (round 14): the three round-13 drift sentinels
        // PLUS the two heaviest headline queries and one micro-query
        // control — the optimization round moved exactly the queries
        // the old trio under-sampled (its ratio_median landed on the
        // parity sentinel while the total moved −25%), and a ratio
        // that cannot see the biggest movers answers "did this
        // round's code change speed?" badly in both directions.
        // Round 15 adds q_admission_compact — the catalog's heaviest
        // measured operator and that round's main optimization target
        // — and makes the count ODD, so the per-query ratio median is
        // a real sample instead of the average of the parity-group and
        // mover-group boundary values (round-14 advice item 4).
        val abQueries = sys.env.getOrElse("SPARK_GRAFT_AB_QUERIES",
          "q_embed_neardup_lsh,q_graph_level3,q_shuffle_join_agg," +
          "q_pipeline_e2e,q_ngram_jaccard,q_agg_stats,q_admission_compact")
        val launches = sys.env.getOrElse("SPARK_GRAFT_AB_LAUNCHES", "2").toInt
        val abRuns = sys.env.getOrElse("SPARK_GRAFT_AB_RUNS", "3").toInt
        val names = abQueries.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val ownCp = System.getProperty("java.class.path")
        val sep = java.io.File.pathSeparator
        val javaBin = System.getProperty("java.home") + "/bin/java"
        // children inherit this JVM's exact flags (add-opens, -Xmx, -D)
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments
          .toArray(Array.empty[String]).toSeq
          .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp"))
        // Per-launch EXTERNAL user-CPU (average busy cores that are
        // neither this JVM's nor the child's): the round-14 driver run
        // proved one contended child launch flips the verdict ratio,
        // and nothing in the artifact said which launch was dirty.
        // Same jiffy accounting as [[CpuExternal]]; the child's utime
        // is polled from /proc/<pid>/stat while it runs (final poll
        // loses ≤ the poll interval — a bound, not a bias).
        def sysUser(): Option[Long] =
          try {
            val f = java.nio.file.Files.readAllLines(
              java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
            Some(f(1).toLong + f(2).toLong)
          } catch { case _: Exception => None }
        def utimeOf(path: String): Option[Long] =
          try {
            val st = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(path)), "US-ASCII")
            Some(st.substring(st.lastIndexOf(')') + 2).split("\\s+")(11).toLong)
          } catch { case _: Exception => None }
        def launch(cp: String): (Map[String, Seq[Double]], Double) = {
          val cmd = Seq(javaBin) ++ jvmArgs ++
            Seq("-cp", cp, "graft.AbRunner", names.mkString(","), sfDir,
              abRuns.toString)
          val pb = new ProcessBuilder(cmd: _*)
          // child stderr flows through to ours (kept out of the result
          // pipe, can never back-pressure the child the way an undrained
          // pipe buffer would)
          pb.redirectError(ProcessBuilder.Redirect.INHERIT)
          val p = pb.start()
          val t0 = System.nanoTime()
          val sys0 = sysUser(); val own0 = utimeOf("/proc/self/stat")
          @volatile var childU = 0L
          val poller = new Thread(new Runnable {
            override def run(): Unit =
              while (p.isAlive) {
                utimeOf(s"/proc/${p.pid()}/stat").foreach(u => childU = u)
                try Thread.sleep(250)
                catch { case _: InterruptedException => return }
              }
          }, "ab-child-cpu-poller")
          poller.setDaemon(true); poller.start()
          val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
          if (!p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)) {
            p.destroyForcibly(); sys.error("A/B launch timed out")
          }
          val dt = (System.nanoTime() - t0) / 1e9
          val ext = (for {
            s1 <- sysUser(); s0 <- sys0
            o1 <- utimeOf("/proc/self/stat"); o0 <- own0
          } yield math.max(0.0,
            ((s1 - s0) - (o1 - o0) - childU) / 100.0 / dt)).getOrElse(0.0)
          val line = out.linesIterator.toSeq.reverse
            .find(l => l.contains("\"ab_times\"") || l.contains("\"ab_error\""))
            .getOrElse(sys.error(s"A/B launch produced no result line " +
              s"(exit ${p.exitValue()})"))
          if (line.contains("ab_error"))
            sys.error(s"A/B child failed: ${line.take(200)}")
          (names.map { n =>
            val key = "\"" + n + "\":["
            val i = line.indexOf(key)
            require(i >= 0, s"A/B line missing $n: ${line.take(200)}")
            val j = line.indexOf("]", i)
            n -> line.substring(i + key.length, j).split(",")
              .map(_.trim.toDouble).toSeq
          }.toMap, ext)
        }
        val prevCp = new java.io.File(abJar).getAbsolutePath + sep + ownCp
        // ABBA ordering per round trip: prev,cur then cur,prev
        val order = (1 to launches).flatMap(i =>
          if (i % 2 == 1) Seq(("prev", prevCp), ("cur", ownCp))
          else Seq(("cur", ownCp), ("prev", prevCp)))
        val acc = scala.collection.mutable.Map[(String, String), Vector[Double]]()
          .withDefaultValue(Vector.empty)
        val launchExt = scala.collection.mutable.ArrayBuffer[(String, Double)]()
        order.foreach { case (side, cp) =>
          val (r, ext) = launch(cp)
          launchExt += ((side, ext))
          names.foreach(n => acc((side, n)) = acc((side, n)) ++ r(n))
        }
        import AbStats.med
        // per-query robust ratios (AbStats doc): trimmed medians gate
        // the verdict number; the raw medians and the floor (min/min)
        // ratio stay in the artifact for cross-checking
        val perQ = names.map { n =>
          val pv = acc(("prev", n)); val cv = acc(("cur", n))
          val (rt, rr, rf, nTrim) = AbStats.ratios(pv, cv)
          (n, med(pv), med(cv), rt, rr, rf, nTrim)
        }
        val ratioMed = med(perQ.map(_._4))
        val ratioMedRaw = med(perQ.map(_._5))
        val ratioFloorMed = med(perQ.map(_._6))
        // a launch whose window carried more external user-CPU than the
        // bench's own load bound invalidates the instrument (round-14
        // driver anomaly: ab_ratio 1.686 from one loaded launch)
        val abLoadBound =
          sys.env.getOrElse("SPARK_GRAFT_LOAD_BOUND", "2.0").toDouble
        val abValid = launchExt.forall(_._2 <= abLoadBound)
        val prevRef = {
          val f = new java.io.File(new java.io.File(abJar).getParent, "PREV.txt")
          if (f.isFile) scala.io.Source.fromFile(f, "UTF-8").getLines()
            .nextOption().getOrElse("?").replace("\"", "'")
          else "?"
        }
        val qjson = jmap(perQ.map { case (n, pm, cm, rt, rr, rf, nTrim) =>
          n -> jmap(Seq(
            "prev" -> ("[" + acc(("prev", n)).map(jnum).mkString(",") + "]"),
            "cur" -> ("[" + acc(("cur", n)).map(jnum).mkString(",") + "]"),
            "prev_med" -> jnum(pm), "cur_med" -> jnum(cm),
            "ratio" -> jnum(rt), "ratio_raw" -> jnum(rr),
            "ratio_floor" -> jnum(rf), "n_trimmed" -> nTrim.toString))
        })
        val extJson = "[" + launchExt.map { case (side, e) =>
          s"""{"side":"$side","ext":${jnum(e)}}"""
        }.mkString(",") + "]"
        s""","ab":{"prev_ref":"$prevRef","launches":${launches * 2},"runs_per_launch":$abRuns,"queries":$qjson,"ratio_median":${jnum(ratioMed)},"ratio_median_raw":${jnum(ratioMedRaw)},"ratio_floor_median":${jnum(ratioFloorMed)},"launch_ext":$extJson,"load_bound":${jnum(abLoadBound)},"valid":$abValid}"""
      } catch {
        case e: Exception =>
          System.err.println(s"bench: prev-HEAD A/B failed: $e")
          s""","ab_error":"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").replace("\"", "'").take(160)}""""
      }
    }
    // compact form: the verdict ratio + its validity flag (or the
    // error/skip marker)
    val abCompact =
      if (abPart.contains("\"ab\":")) {
        def field(k: String): String = {
          val i = abPart.indexOf(k) + k.length
          val j = Seq(abPart.indexOf(",", i), abPart.indexOf("}", i))
            .filter(_ >= 0).min
          abPart.substring(i, j)
        }
        s""","ab_ratio":${field("\"ratio_median\":")},"ab_valid":${
          field("\"valid\":")}"""
      } else abPart

    // Errors from EVERY pass — headline, extra AND the sf2 slope pass —
    // reach the errors map and the nonzero exit below. The slope tier
    // made sf2 the ONLY pass for the exact-baseline queries, so an sf2
    // failure silently vanishing (the pre-round-10 behavior) would
    // drop the crossover evidence with no diagnostic at all. A query
    // broken at BOTH scales reports once (first message wins).
    val allResults = results ++ extraResults ++ sf2Results
    // provenance: rows timed by their own streaming progress metrics
    // instead of wall clock (see [[StreamOpTiming]])
    val progNames = allResults.filter(r => r.ok && r.progressTimed)
      .map(_.name).distinct
    val progPart =
      if (progNames.isEmpty) "" else s""","progress_timed":${jarr(progNames)}"""
    val errors = allResults.flatMap(r => r.err.map(e =>
        r.name -> ("\"" + e.replace("\"", "'").replace("\\", "/") + "\"")))
      .groupBy(_._1).map { case (_, v) => v.head }.toSeq.sortBy(_._1)
    val errPart = if (errors.isEmpty) "" else s""","errors":${jmap(errors)}"""
    val load2 = loadAvg
    val loadavgPart =
      s""""loadavg":{"start":${jnum(load0)},"mid":${jnum(load1)},"end":${jnum(load2)}},"sf":"$sfDir""""

    // TWO artifact forms of the same run:
    //  - the FULL line (quantiles, raw loads, extra, second scale
    //    point) goes to the file — the artifact of record a change log
    //    cites (copy to BENCH_rNN_local.json and commit);
    //  - stdout gets a COMPACT line (medians, external residuals,
    //    validity verdict, errors): the driver keeps only a bounded
    //    tail of stdout (~2 KB — round 6's full line outgrew it and
    //    the driver artifact's head was truncated into unparseability),
    //    so the stdout form is sized to survive that window while
    //    still carrying everything a cross-round comparison grades.
    val fullLine =
      s"""{"metric":"total",$totalPart,"unit":"sec","queries":$qs,"quantiles":$quant$loadPart$validPart$errPart$extraPart$sf2Part$progPart$abPart,$loadavgPart}"""
    val compactLine =
      s"""{"metric":"total",$totalPart,"unit":"sec","queries":$qs$xloadPart$validPart$errPart$abCompact,$loadavgPart}"""
    println(compactLine)
    // Best-effort: an unwritable path must not mask the error summary
    // and nonzero exit below (stdout already carries the compact line).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch {
      case e: Exception =>
        System.err.println(s"bench: could not write $outPath: $e")
    }
    spark.stop()
    if (allResults.exists(_.err.isDefined)) {
      System.err.println(
        s"bench FAILED: ${allResults.count(_.err.isDefined)} queries threw — see 'errors' in the JSON line")
      sys.exit(1)
    }
  }
}
