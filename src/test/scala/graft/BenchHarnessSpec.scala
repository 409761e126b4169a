package graft

import org.apache.spark.sql.functions._

/** The bench harness must fail loudly: a query that throws is recorded
  * as an error, contributes NO time to the median (a broken query must
  * never bench as ~0 s and "improve" the total), and healthy queries
  * around it still measure normally. The validity verdict
  * (docs/bench_protocol.md) is pinned here too: per-run loadavg
  * samples attribute to the query they preceded, and `noisy` flags
  * exactly the load-over-bound and contention-spread signatures.
  */
class BenchHarnessSpec extends SparkSpec {

  private val okQ = Q("ok",
    (s, _) => s.range(100).toDF("id").filter(col("id") % 2 === 0), None)
  private val planTimeBroken = Q("plan_broken",
    (s, _) => s.range(10).toDF("id").select(col("nope")), None)
  private val runTimeBroken = Q("run_broken",
    (s, _) => {
      import s.implicits._
      s.range(10).map(i => if (i > 5) throw new IllegalStateException("boom") else i).toDF("id")
    }, None)

  test("broken queries record errors and no timings; healthy ones still time") {
    val rs = Bench.measure(spark, "/unused", Seq(okQ, planTimeBroken, runTimeBroken), runs = 2)
    val byName = rs.map(r => r.name -> r).toMap

    assert(byName("ok").ok && byName("ok").times.size == 2 && byName("ok").err.isEmpty)
    assert(byName("ok").median > 0.0)

    assert(!byName("plan_broken").ok, "analysis-time failure must yield no timings")
    assert(byName("plan_broken").err.exists(_.nonEmpty))

    assert(!byName("run_broken").ok, "execution-time failure must yield no timings")
    assert(byName("run_broken").err.exists(_.nonEmpty))

    // the failure predicate main() exits nonzero on
    assert(rs.exists(_.err.isDefined))
  }

  test("one broken headline query: the artifact says incomplete and " +
      "prints no partial total") {
    val rs = Bench.measure(spark, "/unused", Seq(okQ, runTimeBroken), runs = 2)
    assert(rs.exists(_.ok), "the healthy query still has a median")
    assert(Bench.totalFields(rs) == "\"value\":null,\"complete\":false")
    val healthy = Bench.measure(spark, "/unused", Seq(okQ), runs = 2)
    assert(Bench.totalFields(healthy) ==
      f"\"value\":${healthy.head.median}%.3f,\"complete\":true")
  }

  test("all-healthy run has no errors and full timing sets") {
    val rs = Bench.measure(spark, "/unused", Seq(okQ), runs = 3)
    assert(rs.forall(_.err.isEmpty))
    assert(rs.forall(_.times.size == 3))
  }

  test("loadavg samples attribute one per successful measured run") {
    var tick = 0.0
    val rs = Bench.measure(spark, "/unused", Seq(okQ, runTimeBroken),
      runs = 3,
      loadSampler = () => { tick += 1; Bench.LoadSample(tick + 2, tick) })
    val byName = rs.map(r => r.name -> r).toMap
    assert(byName("ok").loads.size == 3)
    assert(byName("ok").loadMax == byName("ok").loads.map(_.raw).max)
    assert(byName("ok").xloadMax == byName("ok").loads.map(_.external).max)
    // failed runs contribute neither a time nor a load sample
    assert(byName("run_broken").loads.isEmpty)
    assert(byName("run_broken").loadMax == 0.0)
  }

  test("noisy flags external-load-over-bound and contention-spread signatures") {
    def qr(times: Seq[Double], xloads: Seq[Double]) =
      Bench.QResult("q", times,
        xloads.map(x => Bench.LoadSample(x + 3, x)), None)
    val quiet = qr(Seq(1.0, 1.02, 0.98, 1.01, 1.03), Seq(0.2, 0.4, 0.1, 0.3, 0.2))
    assert(!quiet.noisy())

    // external load above the bound during any measured run → noisy
    // (raw loadavg is 3 higher throughout and must NOT be the input:
    // the bench's own burst load always inflates it)
    assert(qr(Seq(1.0, 1.0, 1.0), Seq(0.2, 2.5, 0.3)).noisy())
    assert(!qr(Seq(1.0, 1.0, 1.0), Seq(0.2, 2.5, 0.3)).noisy(loadBound = 3.0))

    // median drifted off the floor (p50 > 1.5x p10, > 0.25 s over):
    // at least half the runs were slowed → noisy
    assert(qr(Seq(1.0, 1.6, 1.65, 1.7, 1.7), Seq(0.1)).noisy())
    // a single p90 outlier leaves the median on the floor → quiet
    // (median is robust to one spike in five; quiet-box runs show
    // occasional 5x GC/JIT outliers)
    assert(!qr(Seq(1.0, 1.0, 1.0, 1.0, 5.0), Seq(0.1)).noisy())
    // relative drift but tiny absolute spread (micro-query jitter) → quiet
    assert(!qr(Seq(0.05, 0.1, 0.1, 0.11, 0.12), Seq(0.1)).noisy())
    // big absolute but small relative spread → quiet
    assert(!qr(Seq(5.0, 5.5, 5.6, 5.7, 6.0), Seq(0.1)).noisy())

    // a failed query (no times) is never noisy — it is already an error
    assert(!qr(Seq.empty, Seq.empty).noisy())
  }

  test("LoadEwma: primes on first observation, then kernel-window decay") {
    val e = new Bench.LoadEwma
    // first observation primes directly (a zero start would
    // under-estimate self for the first minute and flag a quiet box)
    assert(e.update(10_000_000_000L, 32.0) == 32.0)

    // 60 s at 0: must decay by exactly exp(-1), mirroring the
    // kernel's 1-minute loadavg window so the subtraction stays
    // aligned (32/e ≈ 11.77)
    val decayed = e.update(70_000_000_000L, 0.0)
    assert(math.abs(decayed - 32.0 * math.exp(-1.0)) < 1e-9)

    // long steady state at 4 converges to ~4
    var t = 70_000_000_000L
    (1 to 50).foreach { _ => t += 60_000_000_000L; e.update(t, 4.0) }
    assert(math.abs(e.current - 4.0) < 0.01)

    // zero-length interval: no update, no division blow-up
    val before = e.current
    e.update(t, 1000.0)
    assert(e.current == before)
  }

  test("CpuExternal: own burst subtracts out exactly; an external " +
      "process's burn is attributed as external") {
    assume(new java.io.File("/proc/stat").exists, "/proc/stat required")
    val cpu = new Bench.CpuExternal
    Thread.sleep(300)
    cpu.sinceLast() // reset after construction noise
    // OWN 8-thread spin for ~1.5 s: the residual must stay near zero —
    // this is exactly the case the loadavg estimator got wrong (own
    // bursty work read as phantom external load, docs/bench_drift_r13.md)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val spinners = (1 to 8).map { _ =>
      val th = new Thread(() => { var x = 0L; while (!stop.get()) { x += 1 } })
      th.setDaemon(true); th.start(); th
    }
    Thread.sleep(1500)
    val ownBurst = cpu.sinceLast()
    stop.set(true); spinners.foreach(_.join(1000))
    assert(ownBurst.exists(_.user < 1.5),
      s"own 8-core spin must subtract out (< 1.5 external cores): $ownBurst")
    // EXTERNAL burn: a child process (not this JVM) spinning ~1.5 s
    // must show up as roughly one external core
    cpu.sinceLast()
    // fixed-iteration arithmetic loop: POSIX sh (no bash $SECONDS),
    // burns ~1-3 s of pure user-mode CPU
    val p = new ProcessBuilder("sh", "-c",
      "i=0; while [ $i -lt 20000000 ]; do i=$((i+1)); done").start()
    p.waitFor()
    val ext = cpu.sinceLast()
    assert(ext.exists(_.user > 0.4),
      s"a full-core external spin must register (> 0.4 cores): $ext")
  }

  test("CpuExternal: a SYS-heavy external process registers in the " +
      "recorded-only kernel residual (round-13 verdict item 6)") {
    assume(new java.io.File("/proc/stat").exists, "/proc/stat required")
    val cpu = new Bench.CpuExternal
    Thread.sleep(300)
    cpu.sinceLast() // reset after construction noise
    // an I/O spinner: byte-at-a-time dd is almost pure syscall time —
    // the intruder shape the user-mode residual is blind to
    val p = new ProcessBuilder("sh", "-c",
      "dd if=/dev/zero of=/dev/null bs=1 count=2000000 2>/dev/null").start()
    p.waitFor()
    val ext = cpu.sinceLast()
    assert(ext.exists(_.sys > 0.15),
      s"a sys-heavy external process must register in the sys residual: $ext")
    // ...and must NOT leak into the gating user residual at full-core
    // strength (dd's user-mode share is small)
    assert(ext.exists(_.user < 0.5),
      s"dd's user-mode share should stay small: $ext")
  }

  test("default sampler latches the exact estimator: units never mix " +
      "within one sampler (round-13 advice)") {
    assume(new java.io.File("/proc/stat").exists, "/proc/stat required")
    val s = Bench.defaultSampler()
    // rapid-fire samples: intervals under CpuExternal's 50 ms floor
    // make the exact estimator return None — the latched sampler must
    // record 0.0 in busy-core units for those, NEVER fall back to the
    // loadavg residual (13-23 on this box while idle, which would
    // spuriously flag). At least one of 10 back-to-back pairs lands
    // under the floor unless the box is pathologically stalled.
    val samples = (1 to 10).map(_ => s())
    assert(samples.exists(_.external == 0.0),
      s"no degenerate-interval sample recorded 0.0 busy cores — " +
        s"per-sample fallback units leak suspected: $samples")
    samples.foreach(l => assert(l.externalSys >= 0.0))
  }

  test("AbStats trimmed ratios reject one contended launch, keep a " +
      "real regression") {
    import Bench.AbStats
    // the round-14 driver anomaly in miniature: prev's second launch
    // landed in a contention window (3-5x the quiet floor). The raw
    // median flips the verdict; the trimmed median does not.
    val prevDirty = Seq(1.0, 1.1, 1.05, 4.4, 3.6, 5.1)
    val curQuiet = Seq(1.0, 0.95, 1.02, 1.04, 0.98, 1.01)
    val (rt, rr, _, nTrim) = AbStats.ratios(prevDirty, curQuiet)
    assert(rt > 0.9 && rt < 1.15, s"trimmed ratio should read parity: $rt")
    assert(rr < 0.5, s"raw median should show the flip the trim fixes: $rr")
    assert(nTrim == 3)
    // a GENUINE >tol regression must never be trimmed into parity:
    // the slow side falls back untrimmed rather than lose every sample
    val prevFast = Seq(1.0, 1.02, 0.98)
    val curSlow = Seq(3.5, 3.6, 3.4) // all above 2.5x the pooled floor
    val (rt2, _, rf2, _) = AbStats.ratios(prevFast, curSlow)
    assert(rt2 > 3.0, s"real regression must survive trimming: $rt2")
    assert(rf2 > 3.0)
    // floor ratio is min/min
    assert(math.abs(AbStats.ratios(Seq(2.0, 4.0), Seq(1.0, 9.0))._3 - 0.5) < 1e-9)
  }

  test("AbRunner resolves the catalog reflectively and times real runs") {
    // the reflection path is what lets the SAME runner class execute
    // against a round-old binary (no compile-time linkage) — pin that
    // it resolves Catalog.byName, runs the query, and returns `runs`
    // positive wall times
    val times = AbRunner.run(spark, Seq("q_distinct"),
      "/root/testdata/sf0.001", runs = 2)
    assert(times.keySet == Set("q_distinct"))
    assert(times("q_distinct").size == 2)
    assert(times("q_distinct").forall(_ > 0.0))
    // an unknown query fails loudly (the parent records ab_error)
    intercept[RuntimeException] {
      AbRunner.run(spark, Seq("q_no_such"), "/root/testdata/sf0.001", 1)
    }
  }

  test("default sampler yields non-negative external residuals and " +
      "SelfLoad sees this JVM's own spin") {
    val s = Bench.defaultSampler()
    val l = s()
    assert(l.raw >= 0.0)
    assert(l.external >= 0.0)

    // live estimator: spin 4 threads, THEN construct the SelfLoad so
    // its priming observation already sees R-state spinners — priming
    // before the spin would anchor the 60 s-window EWMA near 0 and a
    // ~1 s spin could not lift it past the assertion (a CI flake the
    // round-6 advisor called out)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val spinners = (1 to 4).map { _ =>
      val th = new Thread(() => { var x = 0L; while (!stop.get()) { x += 1 } })
      th.setDaemon(true); th.start(); th
    }
    Thread.sleep(100) // spinners provably running before priming
    val self = new Bench.SelfLoad
    try {
      Thread.sleep(1200)
      val busy = self.current
      assert(busy > 0.5, s"self-load during a 4-thread spin should be ≥ 1, got $busy")
    } finally {
      self.close()
      stop.set(true)
      spinners.foreach(_.join(1000))
    }
  }
}
