package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.DedupStreams

/** Streaming near-dup candidates pinned against the batch LSH
  * pipeline (which is DuckDB-oracle-checked via q_lsh_pairs; both use
  * the same `TextFunctions.lshBands`): a single-batch stream must flag
  * exactly the documents the batch pipeline pairs with a smaller
  * partner, and state must carry across micro-batches. */
class DedupStreamSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("single-batch stream flags exactly the batch pipeline's dup partners") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)](spark)
    val verdicts = DedupStreams.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"))
    val q = verdicts.writeStream.format("memory")
      .queryName("dedup_stream_single").outputMode("append").start()
    try { in.addData(docs.toSeq); q.processAllAvailable() } finally q.stop()

    val flagged = spark.table("dedup_stream_single")
      .filter(col("dup_of") >= 0)
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // batch truth: docs appearing as the LARGER side of any candidate
    val want = graft.dedup.Dedup
      .lshCandidates(graft.sources.Tables.documents(spark, dir), "doc_id", "text")
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == want,
      s"stream flagged ${flagged.size} docs, batch pairs ${want.size}")
    assert(want.nonEmpty, "fixture should contain near-dup candidates")
  }

  test("state carries across micro-batches (later arrival flags against earlier)") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta"
    val in = MemoryStream[(Long, String)](spark)
    val verdicts = DedupStreams.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"))
    val q = verdicts.writeStream.format("memory")
      .queryName("dedup_stream_multi").outputMode("append").start()
    try {
      in.addData((10L, a)); q.processAllAvailable()
      in.addData((20L, a)); q.processAllAvailable()  // exact dup, later batch
      in.addData((5L, a)); q.processAllAvailable()   // smaller id, LATER arrival
    } finally q.stop()
    val rows = spark.table("dedup_stream_multi")
      .groupBy("doc_id").agg(max("dup_of").as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(10L) == -1L, "first arrival must not be flagged")
    assert(rows(20L) == 10L, "second batch must flag against first-batch state")
    // streaming semantics: doc 5 arrived last, so nothing earlier is
    // smaller — it is NOT flagged (order matters, unlike batch)
    assert(rows(5L) == -1L, "later small id compares only against earlier arrivals")
  }

  test("state TTL evicts idle bands; the next occupant is re-admitted as first-seen") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "one two three four five six seven"
    val in = MemoryStream[(Long, String)](spark)
    val verdicts = DedupStreams.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"),
      stateTtl = Some(java.time.Duration.ofSeconds(5)))
    val q = verdicts.writeStream.format("memory")
      .queryName("dedup_stream_ttl").outputMode("append").start()
    // With a processing-time timeout registered, the engine keeps
    // scheduling no-data batches to fire expiries — so
    // `processAllAvailable()` can spin forever (its no-new-data latch
    // keeps resetting). Poll the sink for each document's verdicts
    // instead of barriering on the stream.
    def awaitDoc(id: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("dedup_stream_ttl")
          .filter(col("doc_id") === id).isEmpty) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for doc $id's verdicts in the sink")
        Thread.sleep(100)
      }
    }
    try {
      in.addData((10L, a)); awaitDoc(10L)
      // within the window: a duplicate still flags (TTL must not break
      // live detection)
      in.addData((20L, a)); awaitDoc(20L)
      Thread.sleep(12000) // let text-a bands go idle well past the 5 s TTL
      // an unrelated arrival triggers processing; the idle text-a bands
      // time out and are evicted
      in.addData((30L, b)); awaitDoc(30L)
      // same content AFTER eviction: re-admitted as first-seen — the
      // documented retention trade (missed detection, no false positive)
      in.addData((40L, a)); awaitDoc(40L)
    } finally q.stop()
    val rows = spark.table("dedup_stream_ttl")
      .groupBy("doc_id").agg(max("dup_of").as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(10L) == -1L, "first arrival must not be flagged")
    assert(rows(20L) == 10L, "within-TTL duplicate must still flag")
    assert(rows(30L) == -1L, "unrelated content must not be flagged")
    assert(rows(40L) == -1L,
      "post-eviction duplicate should be re-admitted as first-seen " +
      "(state survived past its TTL)")
  }
}
