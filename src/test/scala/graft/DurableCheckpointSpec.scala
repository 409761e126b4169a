package graft

import org.apache.spark.sql.functions._
import graft.query.{BipartiteExpand, ConnectedComponents, KMeans}

/** The durable-checkpoint knob ([[graft.query.Checkpoints]]): BFS, CC
  * and dedup accept `checkpointDir`, k-means and the operator-internal
  * cuts read `spark.graft.checkpointDir`; either switches the
  * per-iteration lineage cut from `localCheckpoint` (executor-local
  * blocks — lost with the executor) to a reliable `checkpoint()` into
  * storage, the trade a long 100 TB run makes so executor loss
  * replays instead of failing the job. Results must be IDENTICAL either way; the spec
  * also proves the reliable path really wrote checkpoint data (the
  * knob isn't silently ignored).
  */
class DurableCheckpointSpec extends SparkSpec {

  private def freshDir(tag: String): java.nio.file.Path =
    tempDir(s"graft-ckpt-$tag")

  private def checkpointFiles(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(p => java.nio.file.Files.isRegularFile(p)).count()
    finally s.close()
  }

  test("level-4 BFS: durable checkpointing gives the identical vertex set") {
    import spark.implicits._
    // path graph a0-m0-a1-m1-a2-...: level L from a0 reaches a0..a(L-1)
    val edges = ((0 until 10).map(i => (s"a$i", s"m$i")) ++
      (0 until 9).map(i => (s"a${i + 1}", s"m$i"))).toDF("name", "title")
    val local = BipartiteExpand
      .expand(spark, edges, "name", "title", lit("a0"), 4)
      .collect().map(_.getString(0)).toSet
    assert(local == Set("a0", "a1", "a2", "a3"))
    val dir = freshDir("bfs")
    // Only distributed levels have lineage to cut: driver-held levels
    // return local relations and write no checkpoint, so the knob is
    // pinned on the forced distributed path.
    val durable = BipartiteExpand
      .expand(spark, edges, "name", "title", lit("a0"), 4,
        mode = BipartiteExpand.FrontierMode.Shuffle,
        checkpointDir = Some(dir.toString))
      .collect().map(_.getString(0)).toSet
    assert(durable == local)
    assert(checkpointFiles(dir) > 0, "reliable checkpoint wrote nothing")
    // the dir-install guard must fire once per requested directory —
    // one uuid subdir total, not one per cut (SparkContext creates
    // <dir>/<uuid> at install time)
    val uuidDirs = {
      val s = java.nio.file.Files.list(dir)
      try s.filter(p => java.nio.file.Files.isDirectory(p)).count()
      finally s.close()
    }
    assert(uuidDirs == 1, s"checkpoint dir reinstalled per cut: $uuidDirs uuid dirs")
  }

  test("ConnectedComponents: durable checkpointing gives identical labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val local = ConnectedComponents.run(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = freshDir("cc")
    val durable = ConnectedComponents
      .run(pairs, "id_a", "id_b", checkpointDir = Some(dir.toString))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(durable == local)
    assert(local == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
    assert(checkpointFiles(dir) > 0, "reliable checkpoint wrote nothing")
  }

  test("Dedup.dedupClusters threads the knob through to its CC loop") {
    import spark.implicits._
    val docs = (0L until 12L).map { i =>
      (i, (0 until 10).map(j => s"t${(i / 3 * 5 + j) % 11}").mkString(" "))
    }.toDF("doc_id", "text")
    val local = graft.dedup.Dedup
      .dedupClusters(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(_.getLong(0)).toSet
    val dir = freshDir("dedup")
    val durable = graft.dedup.Dedup
      .dedupClusters(docs, "doc_id", "text", threshold = 0.6,
        checkpointDir = Some(dir.toString))
      .collect().map(_.getLong(0)).toSet
    assert(durable == local)
    assert(checkpointFiles(dir) > 0, "reliable checkpoint wrote nothing")
  }

  test("KMeans.run: durable checkpointing gives identical assignments") {
    import spark.implicits._
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(6)(d => math.cos(i / 10 * 13 + d * 5) + 0.01 * i).toSeq,
        (i % 3).toInt)
    }.toDF("id", "emb", "seed")
    def run() = KMeans.run(vecs, "id", "emb", "seed", iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val local = run()
    // k-means has no checkpoint parameter: its per-round cuts follow
    // the session conf, like every operator-internal cut
    val dir = freshDir("km")
    val durable = withConf("spark.graft.checkpointDir", dir.toString)(run())
    assert(durable == local)
    assert(checkpointFiles(dir) > 0, "reliable checkpoint wrote nothing")
  }

  test("spark.graft.checkpointDir makes operator-internal cuts durable " +
      "with identical results") {
    import spark.implicits._
    // triangleCount's edge cut is operator-internal (no API parameter
    // reaches it); the session conf is the cluster opt-in. Two
    // triangles sharing vertex 3.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L)).toDF("a", "b")
    def counts() = graft.query.GraphAlgos.triangleCount(edges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val local = counts()
    assert(local.contains(("triangles", 2L)))
    val dir = freshDir("conf")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try {
      assert(counts() == local)
      assert(checkpointFiles(dir) > 0,
        "conf-driven reliable checkpoint wrote nothing")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
