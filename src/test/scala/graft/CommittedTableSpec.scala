package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.CommittedTable

/** Atomic-commit contract of [[CommittedTable]] (round-12 verdict
  * item 2): a maintenance rewrite that dies — or is still racing —
  * mid-write must leave readers on the PREVIOUS committed generation,
  * whole; only the manifest rename publishes the new one.
  */
class CommittedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    tempDir("graft_ct").toString + "/tbl"

  private def rows(root: String): Seq[Long] =
    CommittedTable.read(spark, root).select("v")
      .collect().map(_.getLong(0)).sorted.toSeq

  test("read resolves the committed generation; commit replaces it atomically") {
    val root = freshRoot()
    CommittedTable.commit(spark, root, Seq(1L, 2L, 3L).toDF("v"))
    assert(rows(root) == Seq(1L, 2L, 3L))
    val gen = CommittedTable.commit(spark, root, Seq(4L, 5L).toDF("v"))
    assert(gen == 2)
    assert(rows(root) == Seq(4L, 5L))
  }

  test("a rewrite killed mid-write leaves the old generation serving") {
    val root = freshRoot()
    CommittedTable.commit(spark, root, (1L to 100L).toDF("v"))
    val before = rows(root)
    // simulate the kill: the staged data dir exists (maybe partially —
    // here fully written but UNCOMMITTED: the crash landed between the
    // data write and the manifest rename, the widest window) plus a
    // half-written manifest tmp that never renamed
    (200L to 300L).toDF("v").write.parquet(s"$root/data-2")
    Files.write(java.nio.file.Paths.get(s"$root/manifest/gen-2.tmp"),
      "data=da".getBytes("UTF-8"))
    assert(CommittedTable.currentGen(spark, root) == 1,
      "an uncommitted staged generation must not become current")
    assert(rows(root) == before, "readers must still see generation 1 whole")
    // the NEXT rewrite reuses the orphaned generation id and commits
    val gen = CommittedTable.commit(spark, root, (500L to 510L).toDF("v"))
    assert(gen == 2 && rows(root) == (500L to 510L))
  }

  test("a partially deleted staged dir cannot corrupt reads (old gen intact)") {
    val root = freshRoot()
    CommittedTable.commit(spark, root, (1L to 50L).toDF("v"))
    // a torn data-2: one stray file, no _SUCCESS, no manifest
    Files.createDirectories(java.nio.file.Paths.get(s"$root/data-2"))
    Files.write(java.nio.file.Paths.get(s"$root/data-2/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(rows(root) == (1L to 50L))
  }

  test("time travel: generation N-1 reads whole while N is live " +
      "(round-13 verdict item 7)") {
    val root = freshRoot()
    CommittedTable.commit(spark, root, Seq(1L, 2L).toDF("v"))
    CommittedTable.commit(spark, root, Seq(3L, 4L).toDF("v"))
    assert(rows(root) == Seq(3L, 4L), "head is generation 2")
    assert(CommittedTable.read(spark, root, gen = 1).select("v")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "generation 1 must still serve as a snapshot while 2 is live")
    assert(CommittedTable.generations(spark, root) == Seq(1, 2))
    // a generation that never committed fails loudly, not with an
    // empty/partial read
    intercept[IllegalArgumentException] {
      CommittedTable.read(spark, root, gen = 7)
    }
  }

  test("GC respects retention: newest `retain` generations survive, " +
      "older manifests AND data dirs are collected") {
    val root = freshRoot()
    (1 to 4).foreach { i =>
      CommittedTable.commit(spark, root,
        Seq(i.toLong).toDF("v"), retain = 3)
    }
    assert(CommittedTable.generations(spark, root) == Seq(2, 3, 4),
      "retain=3 keeps exactly the newest three generations")
    // all retained generations read whole
    (2 to 4).foreach { g =>
      assert(CommittedTable.read(spark, root, g).select("v")
        .collect().map(_.getLong(0)).toSeq == Seq(g.toLong))
    }
    // generation 1's manifest is gone (loud failure) and its data dir
    // was collected from disk
    intercept[IllegalArgumentException] {
      CommittedTable.read(spark, root, gen = 1)
    }
    val dirs = new java.io.File(root).listFiles.map(_.getName)
      .filter(_.startsWith("data-")).toSeq
    assert(!dirs.exists(_.startsWith("data-1-")),
      s"generation 1 data must be GC'd: $dirs")
    assert(dirs.size == 3, s"exactly the retained data dirs remain: $dirs")
  }

  test("racing writers stage into distinct directories; the committed " +
      "manifest names a directory one writer wrote whole (round-13 advice)") {
    val root = freshRoot()
    CommittedTable.commit(spark, root, Seq(0L).toDF("v"))
    // two 'writers' both observing gen=1 commit gen=2 back-to-back:
    // last-commit-wins on the manifest, and the winner's manifest must
    // resolve to ITS OWN staging dir — never a dir both wrote into
    CommittedTable.commit(spark, root, Seq(10L, 11L).toDF("v"))
    val d2a = CommittedTable.dataDir(spark, root, 2)
    // the losing writer's generation arithmetic re-runs at gen=3 here
    // (sequential harness), but the uniqueness property under test is
    // that every manifest names a token-suffixed dir owned by one write
    CommittedTable.commit(spark, root, Seq(20L).toDF("v"))
    val d3 = CommittedTable.dataDir(spark, root, 3)
    assert(d2a != d3)
    assert(new java.io.File(d2a).getName.matches("data-2-[0-9a-f]{8}"),
      s"staging dirs carry a unique writer token: $d2a")
    assert(rows(root) == Seq(20L))
  }

  test("maintenance rewrites route through the protocol: forget_user row") {
    // the gate row itself (q_forget_user) now writes via CommittedTable:
    // rerunning it in one session produces TWO generations under the
    // same per-appId root, and the read resolves the newest — the
    // structural proof the rewrite is manifest-committed, not overwrite
    val d = "/root/testdata/sf0.001"
    val q = Catalog.byName("q_forget_user")
    q.fn(spark, d).collect()
    val root = s"/tmp/graft_forget/sf0.001/${spark.sparkContext.applicationId}"
    val g1 = CommittedTable.currentGen(spark, root)
    q.fn(spark, d).collect()
    val g2 = CommittedTable.currentGen(spark, root)
    assert(g1 >= 1 && g2 == g1 + 1,
      s"each forget-user run must commit a fresh generation: $g1 -> $g2")
    assert(CommittedTable.read(spark, root)
      .filter(pmod(col("user_id"), lit(97L)) === 0).count() == 0)
  }
}
