package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one lineage cut. Every cut in `src/main` goes through
  * [[cut]] (the iterative loops — [[BipartiteExpand]],
  * [[ConnectedComponents]], [[KMeans]], [[GraphAlgos]] — the operator
  * cuts, admission's increment tables and the materialize-then-release
  * sites); `graft.CheckpointSiteSpec` pins that.
  *
  * One switch, the session conf `spark.graft.checkpointDir`, read by
  * [[cut]] on every call:
  *  - unset (the local default, and the benchmark's): `localCheckpoint`
  *    — eager, cheap, blocks live in executor storage. Correct on a
  *    healthy cluster, but executor-local blocks do NOT survive
  *    executor loss, and after a loss the truncated lineage cannot
  *    recompute them: the job fails. Acceptable for interactive /
  *    short runs.
  *  - set: reliable `checkpoint()` under that directory (any
  *    Hadoop-visible filesystem — HDFS/object store on a cluster). In
  *    exchange for the write, a lost executor replays from storage
  *    instead of killing the job — the setting a 1000-executor 100 TB
  *    run turns on, because at that scale executor loss is an
  *    expectation, not an anomaly. Cost: the cut frame is written and
  *    re-read once per cut (BFS/CC per level, k-means per round plus
  *    its final assignment, admission per increment). The frame is
  *    persisted for the duration of the cut so Spark's checkpoint job
  *    re-reads the cache instead of recomputing the plan a second time
  *    (the default `checkpoint()` behavior without a persist).
  */
object Checkpoints {

  private val installLock = new Object

  private def dirFromConf(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty)

  /** Whether [[cut]] writes reliable checkpoints in this session. */
  def durable(s: SparkSession): Boolean = dirFromConf(s).nonEmpty

  /** The requested dir, scheme-qualified the same way SparkContext
    * stores it (`file:/...`, `hdfs://nn/...`), so installed-dir
    * comparisons are exact — a bare-string prefix check never matches
    * a qualified stored path and can false-match sibling directories
    * (`/ckpt` vs `/ckpt2`). */
  private def qualified(sc: org.apache.spark.SparkContext,
      dir: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
  }

  /** Cut `df`'s lineage eagerly: executor-local by default, reliable
    * when the session sets `spark.graft.checkpointDir`. The context's
    * checkpoint dir is installed once per requested directory
    * (SparkContext stores `<dir>/<uuid>`, so the guard compares the
    * stored path's PARENT against the qualified request — re-installing
    * per cut would spawn a fresh uuid subdirectory every iteration).
    * Check and install hold one lock, because admission cuts from
    * parallel driver threads. */
  def cut(df: DataFrame): DataFrame =
    dirFromConf(df.sparkSession) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        val want = qualified(sc, dir)
        installLock.synchronized {
          val installed = sc.getCheckpointDir.exists(cur =>
            Option(new org.apache.hadoop.fs.Path(cur).getParent).contains(want))
          if (!installed) sc.setCheckpointDir(dir)
        }
        // persist → checkpoint → unpersist: the checkpoint write job
        // re-reads the cache; without the persist Spark recomputes the
        // whole frame a second time to write it.
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        val out = cached.checkpoint()
        cached.unpersist()
        out
      case None => df.localCheckpoint()
    }
}
