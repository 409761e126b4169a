package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's one real query (entry point 1, SURVEY.md §3):
  * given a movie title or an actor name and a depth level ∈ 1..4,
  * iteratively expand the bipartite actor↔movie co-occurrence graph
  * and return the resulting {vertices, edges}.
  *
  * Level semantics preserved exactly (master.erl:271): level=1 ⇒ root
  * only; level N ⇒ N-1 two-hop expansions; result vertices are all of
  * the root's type.
  */
object CoStar {

  sealed trait QueryType { def src: String; def dst: String }
  /** Root is an actor: expand actor → movies → co-actors. */
  case object ActorQuery extends QueryType { val src = "name"; val dst = "title" }
  /** Root is a movie: expand movie → cast → movies sharing cast. */
  case object MovieQuery extends QueryType { val src = "title"; val dst = "name" }

  /** Result graph: vertices of the root's type, and (vertex, via,
    * co-vertex) co-occurrence edges (G7, master.erl:255-263). */
  final case class Result(vertices: DataFrame, edges: DataFrame) {
    /** Same-type vertex pairs as the reference's digraph edges; a
      * driver-held result is deduplicated on the driver, with no job. */
    def vertexEdges(tpe: QueryType): DataFrame = {
      val pairs = edges.select(col(tpe.src), col(s"${tpe.src}_peer"))
      if (!edges.isLocal) pairs.distinct()
      else edges.sparkSession.createDataFrame(
        java.util.Arrays.asList(pairs.collect().distinct: _*), pairs.schema)
    }
  }

  require(ActorQuery.src != ActorQuery.dst)

  /** Run the expansion over a prepared edge table (from
    * [[graft.ingest.EdgeBuilder]]). P7: rejects blank roots and
    * out-of-range levels at the driver (client.erl:138-140's
    * validation, minus the reference's bad_arg/badarg mismatch —
    * SURVEY.md §7 deviation 4). */
  def run(s: SparkSession, edges: DataFrame, root: String, tpe: QueryType,
      level: Int): Result = {
    require(root.trim.nonEmpty, "query root must be non-empty")
    require(level >= 1 && level <= 4, s"level must be in 1..4, got $level")
    val exp = BipartiteExpand.expandWithEdges(
      s, edges, tpe.src, tpe.dst, lit(root), level)
    Result(exp.vertices, exp.edges)
  }
}
