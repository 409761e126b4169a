package graft.query

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.GraftSession

/** Iterative bipartite graph expansion — the reference engine's single
  * query capability (SURVEY.md §2.5, master.erl:251-304).
  *
  * The reference holds the bipartite actor↔movie adjacency as two ETS
  * tables (movie→cast, actor→movies) sharded by hash, and answers
  * "all co-stars of X up to depth L" by a master-driven loop whose
  * frontier and visited set live in the master process. Here the graph
  * is ONE edge DataFrame viewed from both ends, a level is two hops
  * (src→dst, dst→src), and the visited check is true
  * global-BFS dedup (documented deviation 1 in SURVEY.md §7: strictly
  * more deduplication than the reference's per-DFS-path set, same
  * vertex set).
  *
  * Two level shapes, picked by [[FrontierMode]]:
  *  - DRIVER-HELD (the default while frontiers stay small): like the
  *    reference's master (master.erl:275-283), the driver keeps the
  *    frontier and the visited set, and a level is two scatter/gather
  *    rounds, each ONE narrow Spark job with no join or exchange: hop 1
  *    collects the `(src, dst)` edges whose src is in the frontier, hop
  *    2 those whose dst hop 1 reached. A hop filters the edge side's
  *    plan against its key set, a broadcast variable, deduplicating and
  *    capping its rows at `cap + 1` within each partition, so at most
  *    partitions × (cap + 1) rows are in transit: the worst case of
  *    Spark's own limit collect. The driver pairs the hops into the
  *    distinct `(src, via, peer)` triples ([[expandWithEdges]]) or
  *    reached vertices. Results are local relations: no persist/count
  *    probe, cut or cache release. A level-4 [[CoStar]] query plus its
  *    two collects runs 6 Spark jobs.
  *  - DISTRIBUTED (the shuffle fallback, for frontiers too large to
  *    hold): both edge orientations are cached pre-partitioned on their
  *    hop key (the reference's two ETS tables, server.erl:117-122), so
  *    each hop joins its orientation co-partitioned and only
  *    frontier-sized aggregates shuffle per level; the big table is
  *    shuffled exactly once per orientation ([[graft.ShufflePathPlanSpec]]
  *    pins this). Each level's output that another level consumes is
  *    persisted and counted in one job (the count is the empty-frontier
  *    exit), and the final result is cut ([[Checkpoints.cut]]) before
  *    the caches are released.
  *
  * [[FrontierMode.Auto]] holds levels on the driver while everything
  * they collect stays within both ceilings, and switches to the
  * distributed path from the first level that would exceed one. A
  * driver-held level keeps no more than the ceilings: rows are bounded
  * by the cap (a hop past it overflows its level), and bytes are
  * checked after the pairing, with the cap also bounded by the bytes
  * left over the previous level's measured bytes per row.
  */
object BipartiteExpand {

  /** How the per-level frontier is held. */
  sealed trait FrontierMode
  object FrontierMode {
    /** Always hold the frontier and visited set on the driver, with no
      * ceiling (the reference's one plan — master.erl keeps them in the
      * master; right while frontiers stay bounded). */
    case object Broadcast extends FrontierMode
    /** Always the distributed fallback: both edge orientations cached
      * pre-partitioned, per-level hop joins co-partitioned. */
    case object Shuffle extends FrontierMode
    /** Hold levels on the driver while the running total of what they
      * collected stays within BOTH ceilings — rows ≤ `maxBroadcastRows`
      * AND driver-measured bytes ≤ `maxBroadcastBytes` — then switch to
      * the distributed fallback (building its partitioned caches, once)
      * from the level that would exceed either. The byte test catches a
      * wide key type — long URLs, composite string ids — long before a
      * million rows. */
    final case class Auto(maxBroadcastRows: Long = DefaultMaxBroadcastRows,
        maxBroadcastBytes: Long = DefaultMaxBroadcastBytes)
      extends FrontierMode
  }

  /** Default auto-mode row ceiling: 1M collected rows ≈ tens of MB on
    * the driver — comfortably inside driver and broadcast budgets at
    * any cluster size, while catching the frontier explosions that
    * make the distributed path win (the IMDB factor-8100 level-3
    * frontier stays under this; a 100 TB social-graph frontier does
    * not). */
  val DefaultMaxBroadcastRows: Long = 1L << 20

  /** Default byte ceiling for the same decision: 64 MiB of collected
    * rows ([[rowBytes]]) — inside a default 1-4 GB driver budget with
    * margin, far under Spark's 8 GB broadcast hard limit, and roughly
    * what 1M rows of ordinary ids cost, so narrow keys keep hitting
    * the row ceiling first and only genuinely wide keys move the
    * switch earlier. */
  val DefaultMaxBroadcastBytes: Long = 64L << 20

  /** Result of an expansion: vertices of the root's type and the
    * (src, via-dst, src') edges that discovered them (G7,
    * master.erl:255-263). */
  final case class Expansion(vertices: DataFrame, edges: DataFrame)

  /** Returns the prepared edge side plus whether WE own its cache. A
    * caller-persisted edge table holding both columns is reused in any
    * column order (the projection reads the caller's cache — persisting
    * a reordered copy would double the memory footprint). */
  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
      dedupEdges: Boolean): (DataFrame, Boolean) = {
    val base = edges.select(srcCol, dstCol)
    if (!dedupEdges && edges.storageLevel != StorageLevel.NONE) (base, false)
    else {
      val e =
        if (dedupEdges)
          // One shuffle, reused by every level: HashPartitioning(src)
          // satisfies the dedup aggregate's ClusteredDistribution(src, dst)
          // so dropDuplicates piggybacks on the repartition.
          base.repartition(col(srcCol)).dropDuplicates(srcCol, dstCol)
        else base
      (e.persist(StorageLevel.MEMORY_AND_DISK), true)
    }
  }

  /** Second cached orientation of the edge table for the distributed
    * path: hash-partitioned on the hop-2 key. With it, hop 1 reads the
    * src-partitioned cache and hop 2 the dst-partitioned one, each
    * level's distinct output is already co-partitioned with the NEXT
    * hop's cache, and the only per-level shuffles left are the
    * frontier-sized aggregates. The 100 TB edge table itself is
    * shuffled exactly twice, once per orientation, at fallback entry
    * (`ShufflePathPlanSpec` pins this). */
  private[graft] def dstOriented(e: DataFrame, dstCol: String): DataFrame =
    e.repartition(col(dstCol)).persist(StorageLevel.MEMORY_AND_DISK)

  /** Test hook: the prepared (src-oriented, dst-oriented) pair exactly
    * as the distributed loop builds it. */
  private[graft] def shuffleOrientations(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val (e, _) = prepare(edges, srcCol, dstCol, dedupEdges = true)
    (e, dstOriented(e, dstCol))
  }

  /** Driver-side size of a collected row, shaped like its UnsafeRow:
    * an 8-byte null word, 8 bytes per field, plus the variable-length
    * payload of strings and binaries. */
  private[graft] def rowBytes(r: Row): Long =
    (0 until r.length).foldLeft(8L + 8L * r.length) { (b, i) =>
      b + (r.get(i) match {
        case s: String => UTF8String.fromString(s).numBytes().toLong
        case a: Array[Byte] => a.length.toLong
        case _ => 0L
      })
    }

  /** The distributed levels' machinery: the lazily-built partitioned
    * orientations, the persist-and-count probe, and the caches to
    * release. */
  private final class Distributed(
      e0: DataFrame, ownCache: Boolean, srcCol: String, dstCol: String,
      dedupEdges: Boolean) {
    private val durable = Checkpoints.durable(e0.sparkSession)
    private var eSrc = e0
    private var eDstOpt: Option[DataFrame] = None
    private val owned = mutable.ListBuffer.empty[DataFrame]
    if (ownCache) owned += e0

    /** Hop-join edge sides (hop-1 src-keyed, hop-2 dst-keyed), built on
      * first use: two cache-fed shuffles when we own the edge cache,
      * the caller's table for both hops otherwise. */
    def hopSides(): (DataFrame, DataFrame) = {
      if (eDstOpt.isEmpty) {
        if (ownCache && !dedupEdges) { // prepare() did not partition on src
          eSrc = e0.repartition(col(srcCol)).persist(StorageLevel.MEMORY_AND_DISK)
          owned += eSrc
        }
        eDstOpt = Some(
          if (ownCache) { val d = dstOriented(e0, dstCol); owned += d; d }
          else eSrc)
      }
      (eSrc, eDstOpt.get)
    }

    /** Materialize `df` and learn its row count in ONE job (persist +
      * count), or cut it first when the session makes cuts durable.
      * The persisted frame is registered for release. */
    def matCount(df: DataFrame): (DataFrame, Long) =
      if (durable) {
        val c = Checkpoints.cut(df)
        (c, c.count())
      } else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        owned += p
        (p, p.count())
      }

    /** Cut `df` while the caches are alive (releasing first would force
      * the last level to re-derive the edge table from source); lazy
      * when nothing was cached. */
    def result(df: DataFrame): DataFrame =
      if (owned.nonEmpty) Checkpoints.cut(df) else df

    def release(): Unit = owned.foreach(_.unpersist())
  }

  /** Expand from `root` over `edges(src, dst)` for `level` rounds using
    * the reference's level semantics (master.erl:271): level=1 ⇒ root
    * only; each further level is one two-hop expansion (src → dst →
    * src', e.g. actor → movie → co-actor). Returns all visited
    * src-type vertices (column name = `srcCol`). `root` is a literal
    * of the src column's type.
    *
    * `onLevelMode` is instrumentation only: called once per executed
    * level with (level, frontier held on the driver) so tests pin the
    * auto switch — production callers leave the default no-op.
    */
  def expand(
      spark: SparkSession,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      root: Column,
      level: Int,
      dedupEdges: Boolean = false,
      mode: FrontierMode = FrontierMode.Auto(),
      onLevelMode: (Int, Boolean) => Unit = (_, _) => ()): DataFrame =
    run(spark, edges, srcCol, dstCol, root, level, dedupEdges, mode,
      onLevelMode, withEdges = false).vertices

  /** Full expansion with discovered edges per level (G7): returns both
    * the vertex set and the (src, via-dst, src') co-occurrence edges,
    * self-pairs excluded. */
  def expandWithEdges(
      spark: SparkSession,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      root: Column,
      level: Int,
      dedupEdges: Boolean = false,
      mode: FrontierMode = FrontierMode.Auto(),
      onLevelMode: (Int, Boolean) => Unit = (_, _) => ()): Expansion =
    run(spark, edges, srcCol, dstCol, root, level, dedupEdges, mode,
      onLevelMode, withEdges = true)

  /** The one BFS loop behind both entry points. */
  private def run(spark: SparkSession, edges: DataFrame, srcCol: String,
      dstCol: String, root: Column, level: Int, dedupEdges: Boolean,
      mode: FrontierMode, onLevelMode: (Int, Boolean) => Unit,
      withEdges: Boolean): Expansion = {
    val peerCol = s"${srcCol}_peer"
    val vertexSchema = StructType(Seq(edges.schema(srcCol)))
    val edgeSchema = StructType(Seq(edges.schema(srcCol), edges.schema(dstCol),
      edges.schema(srcCol).copy(name = peerCol)))
    def local(rows: Iterable[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.toVector.asJava, schema)
    def vertices(vs: Iterable[Any]): DataFrame =
      local(vs.view.map(Row(_)), vertexSchema)
    val noEdges = local(Nil, edgeSchema)

    // level 1 is the root alone, present only if it has an edge
    if (level <= 1)
      return Expansion(edges.select(col(srcCol)).filter(col(srcCol) === root)
        .distinct(), noEdges)

    // A single iteration reads the edge table once: caching it (or
    // cutting lineage) would be pure overhead.
    val iterative = level > 2
    val (e, ownCache) =
      if (iterative || dedupEdges) prepare(edges, srcCol, dstCol, dedupEdges)
      else (edges.select(srcCol, dstCol), false)
    val (maxRows, maxBytes) = mode match {
      case FrontierMode.Auto(r, b) => (r, b)
      case _ => (Long.MaxValue, Long.MaxValue)
    }

    // ---- driver-held state: frontier, visited set, discovered triples
    val visited = mutable.HashSet.empty[Any]
    val triples = mutable.ListBuffer.empty[Row]
    var frontier: Seq[Any] = Seq.empty
    var heldRows = 0L
    var heldBytes = 0L
    var bytesPerRow = 1L

    // A cached edge side is planned once per query; an uncached one per
    // hop, with the key filter in the plan, where it reaches the source.
    lazy val plan = e.queryExecution.toRdd
    val cached = ownCache || edges.storageLevel != StorageLevel.NONE
    val types = Array(vertexSchema.head.dataType, edges.schema(dstCol).dataType)

    /** Hop `n` of level `l`: the distinct projections onto columns `out`
      * (0 = src, 1 = dst) of the edges whose column `k` is in `keys`
      * (NULL never matches), or None past `cap` rows. */
    def hop(l: Int, n: Int, keys: Iterable[Any], k: Int, out: Seq[Int],
        cap: Long): Option[Set[Row]] =
      if (keys.isEmpty) Some(Set.empty) // nothing to match: no job
      else GraftSession.labeled(spark, s"bfs L$l hop$n keys=${keys.size}") {
        import CatalystTypeConverters._
        val kt = types(k)
        val ks = spark.sparkContext.broadcast(new java.util.HashSet[Any](
          keys.map(createToCatalystConverter(kt)).asJavaCollection))
        val cols = out.map(o => (o, types(o), createToScalaConverter(types(o))))
        val rdd = if (cached) plan
          else e.filter(col(e.columns(k)).isin(keys.toSeq: _*)).queryExecution.toRdd
        val rows = try rdd.mapPartitions { it =>
          val want = ks.value
          val seen = mutable.HashSet.empty[Row]
          while (it.hasNext && seen.size <= cap) {
            val r = it.next() // reused by the scan: convert (copy) before keeping
            if (!r.isNullAt(k) && want.contains(r.get(k, kt)))
              seen += Row.fromSeq(cols.map { case (o, t, toScala) => toScala(r.get(o, t)) })
          }
          seen.iterator
        }.collect().toSet finally ks.destroy()
        if (rows.size > cap) None else Some(rows)
      }

    /** Driver-held level `l` from the frontier `f`: whether `f` has an
      * edge, and the distinct (src, via, peer) triples (self rows kept)
      * or reached src vertices; None past what is left of a ceiling. */
    def collectLevel(l: Int, f: Seq[Any]): Option[(Boolean, Vector[Row])] = {
      val bytesLeft = maxBytes - heldBytes
      val cap = math.min(maxRows - heldRows, bytesLeft / bytesPerRow)
      for {
        h1 <- hop(l, 1, f, 0, if (withEdges) Seq(0, 1) else Seq(1), cap)
        h2 <- hop(l, 2, h1.map(r => r.get(r.length - 1)), 1,
          if (withEdges) Seq(0, 1) else Seq(0), cap)
        paired = if (!withEdges) h2.iterator else {
          val peers = h2.groupMap(_.get(1))(_.get(0))
          h1.iterator.flatMap(r =>
            peers.getOrElse(r.get(1), Nil).map(Row(r.get(0), r.get(1), _)))
        }
        rows = (if (cap < Int.MaxValue) paired.take(cap.toInt + 1) else paired).toVector
        bytes = rows.iterator.map(rowBytes).sum
        if rows.length <= cap && bytes <= bytesLeft
      } yield {
        heldRows += rows.length
        heldBytes += bytes
        if (rows.nonEmpty) bytesPerRow = math.max(1L, bytes / rows.length)
        (h1.nonEmpty, rows)
      }
    }

    var driverHeld = mode != FrontierMode.Shuffle
    var l = 1
    if (driverHeld) {
      // the root's value, evaluated on the driver (no job)
      val rootRow = spark.createDataFrame(java.util.List.of(Row()), StructType(Nil))
        .select(root.cast(vertexSchema.head.dataType)).head()
      frontier = Seq(rootRow.get(0))
      bytesPerRow = rowBytes(rootRow)
      var done = false
      while (l < level && !done && driverHeld) {
        onLevelMode(l, true)
        collectLevel(l, frontier) match {
          case None => driverHeld = false // this level and the rest run distributed
          case Some((hasEdge, rows)) =>
            if (l == 1 && hasEdge) visited += frontier.head
            val reached = rows.iterator.map(r => r.get(if (withEdges) 2 else 0))
            val fresh = reached.filter(visited.add).toVector
            if (withEdges)
              triples ++= rows.iterator.filter(r => r.get(0) != r.get(2))
            frontier = fresh
            done = fresh.isEmpty
            l += 1
        }
      }
      if (driverHeld) {
        if (ownCache) e.unpersist()
        return Expansion(vertices(visited),
          if (withEdges) local(triples, edgeSchema) else noEdges)
      }
    }

    // ---- distributed levels: the shuffle fallback from level `l` on,
    // seeded with whatever the driver-held levels produced
    val dist = new Distributed(e, ownCache, srcCol, dstCol, dedupEdges)
    var exhausted = false
    var (frontierDf, visitedDf) =
      if (l > 1) (vertices(frontier), vertices(visited))
      else {
        // the root's existence is not known yet: probe the edge table
        val v0 = e.select(col(srcCol)).filter(col(srcCol) === root).distinct()
        if (iterative) {
          val (v, n) = dist.matCount(v0)
          exhausted = n == 0
          (v, v)
        } else (v0, v0)
      }
    var acc: Option[DataFrame] =
      if (triples.nonEmpty) Some(local(triples, edgeSchema)) else None
    // the level that overflowed was already reported as driver-held
    val overflowed = if (mode == FrontierMode.Shuffle) 0 else l
    while (l < level && !exhausted) {
      // Will another iteration consume this one's output? Only then is
      // materializing + counting worth a job — the final level
      // pipelines straight into the consumer.
      val more = l + 1 < level
      if (l != overflowed) onLevelMode(l, false)
      val (hop1E, hop2E) = dist.hopSides()
      val next =
        if (withEdges) {
          val discovered0 = frontierDf.join(hop1E, srcCol)
            .join(hop2E.withColumnRenamed(srcCol, peerCol), dstCol)
            .filter(!(col(srcCol) <=> col(peerCol))) // a NULL peer is kept
            .select(col(srcCol), col(dstCol), col(peerCol))
            .distinct()
          val discovered = if (more) dist.matCount(discovered0)._1 else discovered0
          acc = Some(acc.map(_.union(discovered)).getOrElse(discovered))
          discovered.select(col(peerCol).as(srcCol)).distinct()
        } else {
          // hop 1: frontier src-vertices → their dst neighbors;
          // hop 2: dst neighbors → all their src endpoints
          val mids = frontierDf.join(hop1E, srcCol).select(col(dstCol)).distinct()
          mids.join(hop2E, dstCol).select(col(srcCol)).distinct()
        }
      // G5 visited-set dedup, global-BFS form
      val fresh0 = next.join(visitedDf, Seq(srcCol), "left_anti")
      val fresh =
        if (more) {
          val (f, n) = dist.matCount(fresh0)
          exhausted = n == 0
          f
        } else fresh0
      // No materialization of the union: both parents are already
      // materialized, so lineage stays one union node deep per level.
      visitedDf = visitedDf.union(fresh)
      frontierDf = fresh
      l += 1
    }
    val out = Expansion(dist.result(visitedDf), acc.map(dist.result).getOrElse(noEdges))
    dist.release()
    out
  }
}
