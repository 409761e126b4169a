package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Curation
import graft.streaming.CurationStream

/** Streaming curation ingest vs its batch twin: the quality filter is
  * shared code, so the spec pins (1) cross-micro-batch dedup state,
  * (2) batch parity under id-ordered arrival, (3) the partitioned
  * sink layout and its exactly-once restart.
  */
// top-level: Spark encoder derivation can't reach a spec-inner class
case class CurDoc(doc_id: Long, source: String, text: String)

class CurationStreamSpec extends SparkSpec {

  // passes qualityLangFilter's defaults: English markers, >= minWords
  // words, low punctuation
  private def enText(tag: String): String =
    s"the quick brown fox $tag jumps over the lazy dog and " +
      "runs through the green field of tall grass near a river " +
      "while the sun sets slowly behind the hills of a quiet town"

  test("cross-batch exact dedup + shared quality filter, batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[CurDoc](spark)
    val q = CurationStream.curate(in.toDF())
      .writeStream.format("memory").queryName("cur_stream")
      .outputMode("append").start()
    val batches = Seq(
      Seq(CurDoc(1L, "src0", enText("alpha")),
        CurDoc(2L, "src0", "!!!! ???? ####"), // fails punct/lang gate
        CurDoc(3L, "src1", enText("beta"))),
      // 4 duplicates 1's content across micro-batches; 5 is fresh
      Seq(CurDoc(4L, "src1", enText("alpha")),
        CurDoc(5L, "src2", enText("gamma"))))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("cur_stream").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // batch twin on the same rows, arrival order = id order
    val all = batches.flatten.toDF()
    val want = Curation.exactDedup(Curation.qualityLangFilter(all))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, s"stream kept $got, batch twin kept $want")
    assert(got == Seq(1L, 3L, 5L))
  }

  test("partitioned sink: Curation.write layout, exactly-once restart") {
    import spark.implicits._
    val srcDir = tempDir("cur-src").toString
    val outDir = tempDir("cur-out").toString + "/t"
    val ckpt = tempDir("cur-ck").toString
    val docs = Seq(
      CurDoc(1L, "src0", enText("alpha")), CurDoc(2L, "src1", enText("beta")),
      CurDoc(3L, "src1", enText("alpha"))).toDF() // 3 duplicates 1
    docs.coalesce(1).write.mode("overwrite").parquet(srcDir)

    def run(): Unit = {
      val q = CurationStream.writeCurated(
        CurationStream.curate(spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)),
        outDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }

    run()
    val out = spark.read.parquet(outDir)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // Hive layout partitioned by source, like Curation.write
    assert(new java.io.File(s"$outDir/source=src0").isDirectory)
    // restart with no new input: checkpoint prevents duplication
    run()
    assert(spark.read.parquet(outDir).count() == 2)
    // re-fed content is in state: still nothing new
    docs.coalesce(1).write.mode("append").parquet(srcDir)
    run()
    assert(spark.read.parquet(outDir).count() == 2)
  }
}
