package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.query.{BipartiteExpand, ConnectedComponents, KMeans}

/** The durable-checkpoint switch ([[graft.query.Checkpoints]]): every
  * lineage cut in the engine goes through `Checkpoints.cut`, and the
  * session conf `spark.graft.checkpointDir` is its only switch. Set, it
  * turns each cut from `localCheckpoint` (executor-local blocks — lost
  * with the executor) into a reliable `checkpoint()` into storage, the
  * trade a long 100 TB run makes so executor loss replays instead of
  * failing the job. Each case runs a path with the conf unset and then
  * set: results must be IDENTICAL either way, the set run must really
  * write checkpoint data (the switch isn't silently ignored), and all
  * of it lands in one uuid dir (the dir is installed once, not per
  * cut).
  */
class DurableCheckpointSpec extends SparkSpec {

  private def freshDir(tag: String): java.nio.file.Path =
    tempDir(s"graft-ckpt-$tag")

  private def checkpointFiles(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(p => java.nio.file.Files.isRegularFile(p)).count()
    finally s.close()
  }

  private def uuidDirs(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.list(dir)
    try s.filter(p => java.nio.file.Files.isDirectory(p)).count()
    finally s.close()
  }

  /** `body` with `spark.graft.checkpointDir` set to a fresh dir, which
    * must then hold checkpoint files under exactly one uuid subdir: the
    * dir-install guard fires once per requested directory, not once
    * per cut (SparkContext creates <dir>/<uuid> at install time). */
  private def durably[A](tag: String)(body: => A): A = {
    val dir = freshDir(tag)
    val out = withConf("spark.graft.checkpointDir", dir.toString)(body)
    assert(checkpointFiles(dir) > 0, "reliable checkpoint wrote nothing")
    val n = uuidDirs(dir)
    assert(n == 1, s"checkpoint dir reinstalled per cut: $n uuid dirs")
    out
  }

  private def ids(df: DataFrame, c: String = "doc_id"): Seq[Long] =
    df.select(c).collect().map(_.getLong(0)).sorted.toSeq

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text").withColumn("source", lit("s"))
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
    // Only distributed levels have lineage to cut: driver-held levels
    // return local relations and write no checkpoint, so the switch is
    // pinned on the forced distributed path.
    val durable = durably("bfs")(BipartiteExpand
      .expand(spark, edges, "name", "title", lit("a0"), 4,
        mode = BipartiteExpand.FrontierMode.Shuffle)
      .collect().map(_.getString(0)).toSet)
    assert(durable == local)
  }

  test("ConnectedComponents: durable checkpointing gives identical labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    def run() = ConnectedComponents.run(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run()
    val durable = durably("cc")(run())
    assert(durable == local)
    assert(local == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("Dedup.dedupClusters threads the knob through to its CC loop") {
    import spark.implicits._
    val docs = (0L until 12L).map { i =>
      (i, (0 until 10).map(j => s"t${(i / 3 * 5 + j) % 11}").mkString(" "))
    }.toDF("doc_id", "text")
    def run() = graft.dedup.Dedup
      .dedupClusters(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(_.getLong(0)).toSet
    val local = run()
    val durable = durably("dedup")(run())
    assert(durable == local)
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
    val durable = durably("km")(run())
    assert(durable == local)
  }

  test("spark.graft.checkpointDir makes operator-internal cuts durable " +
      "with identical results") {
    import spark.implicits._
    // triangleCount's edge cut is operator-internal. Two triangles
    // sharing vertex 3.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L)).toDF("a", "b")
    def counts() = graft.query.GraphAlgos.triangleCount(edges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val local = counts()
    assert(local.contains(("triangles", 2L)))
    assert(durably("conf")(counts()) == local)
  }

  // inc d2 repeats doc 1 exactly and doc 2 with its last word changed
  private val inc1 = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river",
    2L -> "graph queries expand a frontier level by level until it empties")
  private val inc2 = Seq(
    3L -> "the quick brown fox jumps over the lazy dog near the river",
    4L -> "graph queries expand a frontier level by level until it stops",
    5L -> "an unrelated document about parquet footers and schema reads")

  test("Admission.admit: its increment tables follow the session switch") {
    def run() = {
      val root = tempDir("graft-ckpt-adm").toString + "/state"
      val first = ids(graft.pipeline.Admission.admit(docs(inc1: _*), root, "d1"))
      val second = ids(graft.pipeline.Admission.admit(docs(inc2: _*), root, "d2"))
      (first, second, ids(graft.pipeline.Admission.corpus(spark, root)))
    }
    val local = run()
    assert(local._1 == Seq(1L, 2L) && !local._2.contains(3L),
      s"the exact duplicate must be rejected: $local")
    assert(durably("adm")(run()) == local)
  }

  test("Admission.admitWithEmbeddings: increment and semantic tables " +
      "follow the session switch") {
    import spark.implicits._
    val emb = Seq(
      1L -> Seq(1.0, 0.5, 0.0, 0.0), 2L -> Seq(0.0, 1.0, 0.5, 0.0),
      3L -> Seq(1.0, 0.5, 0.0, 0.0), 4L -> Seq(0.0, 0.0, 1.0, 0.5),
      5L -> Seq(2.0, 1.0, 0.0, 0.0)) // cos = 1 vs doc 1
      .toDF("doc_id", "embedding")
    def admit(root: String, inc: Seq[(Long, String)], id: String) =
      ids(graft.pipeline.Admission.admitWithEmbeddings(docs(inc: _*), emb,
        root, id, dim = 4, nBits = 2, nTables = 4))
    // the first increment trains the root's codebook through k-means;
    // the second loads it, so its cuts are admission's own
    def seeded() = {
      val root = tempDir("graft-ckpt-adm-sem").toString + "/state"
      admit(root, inc1, "d1")
      root
    }
    def second(root: String) =
      (admit(root, inc2, "d2"), ids(graft.pipeline.Admission.corpus(spark, root)))
    val local = second(seeded())
    assert(!local._1.contains(5L), s"the embedding duplicate must be rejected: $local")
    val root = seeded()
    assert(durably("adm-sem")(second(root)) == local)
  }

  test("TextQueries.substrDedupOf: its window-hash cut follows the session switch") {
    val corpus = docs((inc1 ++ inc2): _*)
    def run() = graft.operators.TextQueries.substrDedupOf(corpus)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    val local = run()
    assert(local.exists(_._3 > 0), s"expected duplicated windows: $local")
    assert(durably("substr")(run()) == local)
  }

  test("Curation.nearDedupClusters: its pair and CC cuts follow the session switch") {
    val corpus = docs((inc1 ++ inc2): _*)
    def run() = ids(graft.pipeline.Curation.nearDedupClusters(corpus))
    val local = run()
    assert(!local.contains(3L), s"doc 3 duplicates doc 1: $local")
    assert(durably("curation")(run()) == local)
  }

  test("Dedup.embedNearDupBucketed: its materialize-then-release cut " +
      "follows the session switch") {
    import spark.implicits._
    val vecs = (0L until 24L).map { i =>
      (i, Array.tabulate(8)(d => math.cos(i / 2 * 7 + d * 3) + 1e-3 * (i % 2)).toSeq)
    }.toDF("id", "emb")
    def run() = graft.dedup.Dedup
      .embedNearDupBucketed(vecs, "id", "emb", threshold = 0.9, dim = 8,
        nBits = 4, nTables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run()
    assert(local.nonEmpty, "fixture must plant near-duplicate pairs")
    assert(durably("embed")(run()) == local)
  }
}
