package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.Admission
import graft.sources.Tables

/** The admission loop's two contracts beyond the oracle row:
  * compositionality (N sequential increments admit exactly the
  * one-shot set over their union — the property that makes a daily
  * loop trustworthy) and restart idempotence (re-running an increment
  * changes nothing — the crash-recovery story). */
class AdmissionSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def freshRoot() =
    Files.createTempDirectory("graft_admission").toString + "/state"

  test("two sequential increments admit exactly the one-shot set (real corpus)") {
    val docs = Tables.documents(spark, dir)
    val split = docs.agg(max("doc_id")).head.getLong(0) / 2
    val twoStep = freshRoot()
    Admission.admit(docs.filter(col("doc_id") <= split), twoStep, "d1")
    Admission.admit(docs.filter(col("doc_id") > split), twoStep, "d2")
    val oneShot = freshRoot()
    Admission.admit(docs, oneShot, "all")
    val a = Admission.corpus(spark, twoStep).select("doc_id")
    val b = Admission.corpus(spark, oneShot).select("doc_id")
    assert(a.count() > 0, "nothing admitted — fixture or rule broken")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"two-step admitted ${a.count()} docs, one-shot ${b.count()}")
    // every admitted doc carries the increment it arrived in
    val wrongInc = Admission.corpus(spark, twoStep)
      .filter((col("doc_id") <= split && col("inc") =!= "d1") ||
        (col("doc_id") > split && col("inc") =!= "d2"))
    assert(wrongInc.count() == 0, wrongInc.limit(5).collect().mkString("\n"))
  }

  test("re-running an increment is idempotent; state survives for the next one") {
    import spark.implicits._
    val inc1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "src0"),
      (2L, "alpha beta gamma delta epsilon zeta", "src0"), // exact dup of 1
      (3L, "one two three one two three", "src0")
    ).toDF("doc_id", "text", "source")
    val inc2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta", "src1"), // exact dup, cross
      // doc 3's text is a period-3 cyclic repeat, so ANY longer repeat
      // of the same period has the IDENTICAL 3-shingle set
      // {one two three, two three one, three one two} -> identical
      // minhash signatures in every band, different digest: only the
      // seen-signature index can reject it (guaranteed, not a lucky
      // band collision)
      (11L, "one two three one two three one two three", "src1"),
      (12L, "totally unrelated fresh content here now", "src1")
    ).toDF("doc_id", "text", "source")
    val root = freshRoot()
    assert(Admission.admit(inc1, root, "d1").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val first = Admission.admit(inc2, root, "d2")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(first == Seq(12L),
      s"10 is an exact dup, 11 collides with doc 3's stored signatures: $first")
    // crash-recovery: the same increment re-runs; state must not change
    Admission.admit(inc2, root, "d2")
    val corpus = Admission.corpus(spark, root)
    assert(corpus.count() == 3)
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 12L))
    // index rows exist for SEEN docs of each increment (12 admitted,
    // 11 rejected-but-seen; 10's content was already indexed as doc 1)
    val indexed = Admission.index(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 3L, 11L, 12L),
      s"seen-not-admitted docs must be indexed too: $indexed")
  }

  /** Write `df` as a single parquet FILE at `dest` with mtime `t` so
    * the file-source processes increments in id order. */
  private def writeOneFile(df: org.apache.spark.sql.DataFrame,
      dest: java.nio.file.Path, t: Long): Unit = {
    val tmp = Files.createTempDirectory("graft_adm_one").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(t))
  }

  test("streaming admission: micro-batch increments equal the batch loop, " +
      "exactly-once across restart") {
    val docs = Tables.documents(spark, dir)
    val split = docs.agg(max("doc_id")).head.getLong(0) / 2
    val srcDir = Files.createTempDirectory("graft_adm_src")
    val t0 = System.currentTimeMillis() - 60000
    writeOneFile(docs.filter(col("doc_id") <= split),
      srcDir.resolve("00_low.parquet"), t0)
    writeOneFile(docs.filter(col("doc_id") > split),
      srcDir.resolve("01_high.parquet"), t0 + 10000)
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_adm_ck").toString
    def run(): Unit = {
      val q = Admission.admitStream(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString),
        root, ckpt, cfg = None)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val oneShot = freshRoot()
    Admission.admit(docs, oneShot, "all")
    val a = Admission.corpus(spark, root).select("doc_id")
    val b = Admission.corpus(spark, oneShot).select("doc_id")
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"streamed ${a.count()} admitted vs one-shot ${b.count()}")
    // two micro-batches -> two increments
    assert(Admission.corpus(spark, root).select("inc").distinct().count() == 2)
    // restart with no new input: the checkpoint prevents reprocessing
    val n1 = Admission.corpus(spark, root).count()
    run()
    assert(Admission.corpus(spark, root).count() == n1, "restart must be a no-op")
    // a later file is admitted incrementally against the full state —
    // one doc duplicates already-admitted content, one is new
    import spark.implicits._
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val keptText = Admission.corpus(spark, root)
      .orderBy("doc_id").select("text").head.getString(0)
    writeOneFile(Seq(
      (maxId + 1, keptText, "en", "srcX", keptText.length.toLong),
      (maxId + 2, "genuinely new streaming content arrives here", "en",
        "srcX", 44L)).toDF("doc_id", "text", "lang", "source", "n_chars"),
      srcDir.resolve("02_late.parquet"), t0 + 20000)
    run()
    assert(Admission.corpus(spark, root).count() == n1 + 1,
      "the duplicate must be rejected, the new doc admitted")
  }

  test("a document too short to shingle is admitted via exact dedup alone") {
    import spark.implicits._
    val root = freshRoot()
    // doc 2 has < 3 whitespace tokens -> no shingles, no index rows;
    // it must still be admitted (and its digest recorded as seen)
    val got1 = Admission.admit(Seq(
      (1L, "aa bb cc dd ee ff gg", "s"),
      (2L, "hello world", "s")).toDF("doc_id", "text", "source"),
      root, "d1").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got1 == Seq(1L, 2L), s"short doc lost: $got1")
    // a later exact copy of the short doc is rejected through digests
    val got2 = Admission.admit(Seq(
      (10L, "hello world", "s"),
      (11L, "ww xx yy zz aa bb cc", "s")).toDF("doc_id", "text", "source"),
      root, "d2").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == Seq(11L), s"short-doc exact dup must be rejected: $got2")
    assert(Admission.corpus(spark, root).count() == 3)
  }

  test("an increment that admits nothing still leaves readable state") {
    import spark.implicits._
    val root = freshRoot()
    Admission.admit(Seq((1L, "aa bb cc dd ee ff gg", "s"))
      .toDF("doc_id", "text", "source"), root, "d1")
    // the whole second increment is duplicate content -> zero admitted;
    // the empty corpus/inc=d2 must still carry schema and read back
    val got = Admission.admit(Seq((2L, "aa bb cc dd ee ff gg", "s"))
      .toDF("doc_id", "text", "source"), root, "d2")
    assert(got.count() == 0)
    assert(Admission.corpus(spark, root).count() == 1)
    // and the loop continues past the empty increment
    Admission.admit(Seq((3L, "totally different words in here", "s"))
      .toDF("doc_id", "text", "source"), root, "d3")
    assert(Admission.corpus(spark, root).count() == 2)
  }

  test("admission decision plans stay cartesian-free (equi/semi joins only)") {
    // q_admission_loop's catalog row returns a post-write parquet scan,
    // so PlanGuardSpec's sweep cannot see the internal join tree — pin
    // the LAZY plans directly (same pattern as the eagerly-materialized
    // operators in PlanGuardSpec).
    val docs = Tables.documents(spark, dir)
    val root = freshRoot()
    Admission.admit(docs.filter(col("doc_id") % 2 === 0), root, "seed")
    val seenIndex = Admission.index(spark, root)
    import spark.implicits._
    val seenDigests = Seq.empty[String].toDF("digest")
    val (fkPlan, idxOf, decide) = Admission.admitPlan(
      docs.filter(col("doc_id") % 2 === 1), seenIndex, seenDigests,
      "doc_id", "text", 3, 8, 2)
    val idxPlan = idxOf(fkPlan)
    for ((label, df) <- Seq("freshKeys" -> fkPlan, "incIndex" -> idxPlan,
        "admittedIds" -> decide(idxPlan, fkPlan))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$label plans a cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label plans a BNLJ")
    }
  }

  test("a third increment is checked against appended state, not just the first") {
    import spark.implicits._
    val root = freshRoot()
    Admission.admit(Seq((1L, "aa bb cc dd ee ff gg", "s"))
      .toDF("doc_id", "text", "source"), root, "d1")
    Admission.admit(Seq((2L, "hh ii jj kk ll mm nn", "s"))
      .toDF("doc_id", "text", "source"), root, "d2")
    val got = Admission.admit(Seq(
      (3L, "hh ii jj kk ll mm nn", "s"), // dup of increment 2's doc
      (4L, "brand new words entirely present", "s"))
      .toDF("doc_id", "text", "source"), root, "d3")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(4L), s"doc 3 duplicates increment 2's content: $got")
    assert(Admission.corpus(spark, root).count() == 3)
  }

  test("inParallel: the first failure cancels and awaits every sibling before it is rethrown") {
    val running = new java.util.concurrent.atomic.AtomicInteger()
    def sibling[A](body: => A): () => A = () => {
      running.incrementAndGet()
      try body finally running.decrementAndGet()
    }
    val boom = new IllegalStateException("injected failure")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Admission.inParallel[Any](spark)(Seq(
        () => { Thread.sleep(200); throw boom },
        // a Spark job that would run ~60 s unless its job is cancelled
        sibling(spark.range(0, 4, 1, 4).foreach { _ =>
          val ctx = org.apache.spark.TaskContext.get()
          val until = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!ctx.isInterrupted() && System.nanoTime() < until) Thread.sleep(20)
        }),
        // driver-side work that ignores cancellation: awaited, not abandoned
        sibling { Thread.sleep(1500); 1 }))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom, "the original exception must be rethrown")
    assert(running.get() == 0, s"${running.get()} sibling thunks outlived the failed call")
    assert(secs >= 1.5, f"returned after $secs%.2f s, before the driver-side sibling ended")
    assert(secs < 30, f"the sibling's Spark job was not cancelled ($secs%.1f s)")
    // the success path is unchanged: results in input order
    assert(Admission.inParallel[Int](spark)(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
  }
}
