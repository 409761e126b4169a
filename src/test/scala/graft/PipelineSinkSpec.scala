package graft

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.pipeline.Curation
import graft.sources.Tables

/** The pipeline egress contract ([[Curation.write]]): the partitioned
  * parquet table a training job reads must be (a) a lossless roundtrip
  * of the in-memory packed result and (b) byte-deterministic — two
  * writes of the same input produce identical files, so re-runs are
  * diffable and downstream caches/checksums stay valid. The
  * cross-engine readability of the same files is gate-checked by
  * `q_pipeline_sink` (DuckDB reads them via read_parquet).
  */
class PipelineSinkSpec extends SparkSpec {

  /** partition-dir name -> sorted content digests of its parquet files
    * (file NAMES carry a per-write uuid; content must not). */
  private def digests(root: Path): Map[String, Seq[String]] = {
    val md = MessageDigest.getInstance("MD5")
    def files(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.sortBy(_.toString)
      finally s.close()
    }
    files(root)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("source="))
      .map { dir =>
        val ds = files(dir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            md.reset()
            md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
          }
          .sorted
        dir.getFileName.toString -> ds
      }.toMap
  }

  test("write -> read-back roundtrip is lossless") {
    val packed = Curation.run(Tables.documents(spark, "/root/testdata/sf0.001"))
    val dir = tempDir("graft_sink_rt").toString
    Curation.write(packed, dir)
    val back = spark.read.parquet(dir)
      .select("source", "bin", "doc_id", "chunk_id", "n_tokens", "chunk_md5")
    val mem = packed
      .select("source", "bin", "doc_id", "chunk_id", "n_tokens", "chunk_md5")
    assert(back.count() > 0, "sink fixture must be non-empty")
    assert(back.exceptAll(mem).isEmpty && mem.exceptAll(back).isEmpty,
      "read-back rows diverge from the in-memory packed result")
    // partition pruning works on the shipped layout: a source filter
    // reads only its directory (PartitionFilters, planning-time)
    val one = spark.read.parquet(dir).filter(col("source") === "src0")
    val scanned = one.queryExecution.executedPlan.toString()
    assert(scanned.contains("PartitionFilters"),
      s"source filter must prune partitions, plan:\n$scanned")
  }

  test("q_compact_files: 64 splinter files compact to the byte-target count") {
    import graft.operators.PipelineQueries
    val sfDir = "/root/testdata/sf0.001"
    // a tiny target forces >1 output file even at smoke scale, so the
    // ceil(bytes/target) rule is live, not just "coalesce to 1"
    val (row, before, after) =
      PipelineQueries.compactFilesRun(spark, sfDir, targetBytes = 16L << 10)
    assert(before == 64, s"fragmentation fixture must write 64 files: $before")
    assert(after < before && after >= 1,
      s"compaction must reduce file count: $before -> $after")
    val r = row.head
    assert(r.getBoolean(1) && r.getBoolean(2),
      s"contract booleans must hold: $r")
    assert(r.getLong(0) > 0)
  }

  test("q_partition_prune: the day filter reads exactly one partition") {
    import graft.operators.PipelineQueries
    val sfDir = "/root/testdata/sf0.001"
    // the gate row itself performs the write; re-derive the read side
    Catalog.byName("q_partition_prune").fn(spark, sfDir).collect()
    val dest = PipelineQueries.prunePath(spark, sfDir)
    val agg = PipelineQueries.prunedDayAgg(spark, dest)
    agg.collect()
    // find the scan through AQE wrappers: AdaptiveSparkPlanExec and
    // every QueryStageExec (Result/Shuffle) are plan-tree LEAVES whose
    // real subtree hangs off a field, so a plain collect stops at them
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    val scan = scans(agg.queryExecution.executedPlan).headOption
      .getOrElse(fail("no FileSourceScanExec in the pruned plan"))
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"day predicate must be a partition filter: ${scan.metadata}")
    // all files the (pruned) scan would read live in the one day dir
    val rel = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    val dayDirs = rel.flatMap(_.files.map(_.getPath.getParent.getName))
      .distinct
    assert(dayDirs == Seq("event_date=2024-01-15"),
      s"scan touched partitions beyond the selected day: $dayDirs")
    // and other day directories DO exist on disk (pruning had work to do)
    val allDays = new java.io.File(dest).list()
      .count(_.startsWith("event_date="))
    assert(allDays > 1, s"fixture wrote only $allDays day partitions")
  }

  test("two writes of the same input produce byte-identical files") {
    val packed = Curation.run(Tables.documents(spark, "/root/testdata/sf0.001"))
    val d1 = tempDir("graft_sink_a")
    val d2 = tempDir("graft_sink_b")
    Curation.write(packed, d1.toString)
    Curation.write(packed, d2.toString)
    val h1 = digests(d1)
    val h2 = digests(d2)
    assert(h1.nonEmpty, "expected source= partition directories")
    assert(h1 == h2,
      s"writes must be byte-deterministic:\n  first=$h1\n  second=$h2")
  }

  test("each per-run maintenance root is registered for delete on exit") {
    import graft.operators.PipelineQueries
    import spark.implicits._
    // an inline events table: the roots are under test, not the answers
    val sfDir = s"${tempDir("graft_runroot")}/sf_inline"
    (0L until 200L).map { i =>
      (i, i % 7, if (i % 2 == 0) "click" else "view",
        new java.sql.Timestamp(1705276800000L + i * 3600000L), i * 0.5)
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.parquet(s"$sfDir/events.parquet")
    Seq("q_partition_prune" -> PipelineQueries.pruneRoot,
      "q_compact_files" -> PipelineQueries.compactRoot,
      "q_forget_user" -> PipelineQueries.forgetRoot,
      "q_table_time_travel" -> PipelineQueries.ttravelRoot).foreach {
      case (name, base) =>
        val root = new org.apache.hadoop.fs.Path(
          s"$base/sf_inline/${spark.sparkContext.applicationId}")
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // an earlier row of this JVM may have registered the root: start
        // unregistered so only this run of the row can register it
        fs.cancelDeleteOnExit(root)
        Catalog.byName(name).fn(spark, sfDir).collect()
        assert(fs.exists(root), s"$name wrote no root at $root")
        // true only for a registered path
        assert(fs.cancelDeleteOnExit(root), s"$name left $root unregistered")
        fs.deleteOnExit(root)
    }
  }
}
