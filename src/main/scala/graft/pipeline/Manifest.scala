package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The gen-N manifest commit protocol behind every piece of state that
  * must survive a crash whole: [[CommittedTable]] generations and
  * [[Admission]] compaction state. Under `root`:
  * {{{
  *   root/manifest/gen-<N>              generation N, key=value lines
  *   root/manifest/gen-<N>.tmp-<token>  a writer's staging file
  * }}}
  * A writer writes generation N whole into its own uniquely named temp
  * file and renames it to `gen-<N>`. The rename is the single commit
  * point: a reader resolves the highest `gen-<N>` and never sees a
  * partial manifest, and a writer killed before the rename leaves only
  * a temp file no reader looks at. What the lines mean, and which data
  * files a generation references, is the caller's business; so is the
  * garbage collection of that data. */
private[pipeline] object Manifest {

  def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `gen-<N>` is committed; `gen-<N>.tmp…` is staging, live until its
    * rename or debris left by a killed writer. */
  private val GenFile = "^gen-(\\d+)(\\.tmp.*)?$".r

  private def dirOf(root: String) = new Path(s"$root/manifest")

  /** (generation, is-temp, path) of every manifest file under `root`. */
  private def files(fs: FileSystem, root: String): Seq[(Int, Boolean, Path)] =
    if (!fs.exists(dirOf(root))) Nil
    else fs.listStatus(dirOf(root)).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case GenFile(n, tmp) => Some((n.toInt, tmp != null, p))
        case _ => None
      }
    }

  /** Committed generations under `root`, ascending (empty if none). */
  def generations(s: SparkSession, root: String): Seq[Int] =
    files(fsOf(s, root), root).collect { case (g, false, _) => g }.sorted

  /** The non-blank, trimmed lines of committed generation `gen`. */
  def read(s: SparkSession, root: String, gen: Int): Seq[String] = {
    val fs = fsOf(s, root)
    val mf = new Path(dirOf(root), s"gen-$gen")
    require(fs.exists(mf),
      s"generation $gen is not committed (or was collected past retention) under $root")
    val in = fs.open(mf)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Commit `lines` as generation `gen`: write them whole to a temp file
    * of this call's own, rename it into place, then delete every
    * manifest file (committed or temp) older than the newest `retain`
    * generations. A re-run of a killed commit at the same `gen`
    * replaces the generation; racing writers at one `gen` are
    * last-rename-wins. */
  def commit(s: SparkSession, root: String, gen: Int, lines: Seq[String],
      retain: Int): Unit = {
    require(retain >= 1, s"retain must keep at least the head: $retain")
    val fs = fsOf(s, root)
    fs.mkdirs(dirOf(root))
    val tmp = new Path(dirOf(root),
      s"gen-$gen.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(dirOf(root), s"gen-$gen")
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      sys.error(s"manifest commit failed: $tmp -> $dest")
    // only files PAST the window go: a temp at gen >= keepFrom may be a
    // racing writer's in-flight commit
    val keepFrom = gen - retain + 1
    for ((g, _, p) <- files(fs, root) if g < keepFrom) fs.delete(p, false)
  }
}
