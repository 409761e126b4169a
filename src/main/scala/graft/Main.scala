package graft

import graft.ingest.EdgeBuilder
import graft.output.Dot
import graft.query.CoStar

/** CLI replacing the reference's wx GUI client (client.erl): run a
  * co-star expansion over the three IMDB TSVs and print the result
  * graph (optionally writing DOT).
  *
  * Usage:
  *   runMain graft.Main --data DIR --name NAME --type movie|actor
  *                      --level 1..4 [--dot OUT.dot] [--png OUT.png]
  * where DIR contains basic1000.tsv / principals1000.tsv / names1000.tsv.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val data = opts.getOrElse("--data", "src/test/resources/imdb")
    val root = opts.getOrElse("--name",
      sys.error("--name <movie title | actor name> is required"))
    val tpe = opts.getOrElse("--type", "actor") match {
      case "actor" => CoStar.ActorQuery
      case "movie" => CoStar.MovieQuery
      case other   => sys.error(s"--type must be movie or actor, got $other")
    }
    val level = opts.getOrElse("--level", "2").toInt

    // SPARK_MASTER is a deployment setting: the CLI may run on a cluster
    val spark = GraftSession("graft-costar", GraftSession.cpus(32),
      master = sys.env.getOrElse("SPARK_MASTER", "local[*]"))

    val t0 = System.nanoTime()
    val edges = EdgeBuilder.materialize(EdgeBuilder.edges(spark,
      s"$data/basic1000.tsv", s"$data/principals1000.tsv", s"$data/names1000.tsv"))
    val result = CoStar.run(spark, edges, root, tpe, level)
    val vs = result.vertices.collect().map(_.getString(0)).sorted
    val es = result.vertexEdges(tpe).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ms = (System.nanoTime() - t0) / 1e6

    // Mirrors the reference's reply + timing log (master.erl:261-265).
    println(s"vertices=${vs.length} edges=${es.length} time_ms=${ms.round}")
    vs.foreach(v => println(s"V $v"))
    es.sortBy(identity).foreach { case (a, b) => println(s"E $a -> $b") }

    lazy val dotText =
      Dot.render(root, es.toSeq, actors = tpe == CoStar.ActorQuery)
    opts.get("--dot").foreach { out =>
      Dot.writeFile(out, dotText)
      println(s"dot written to $out")
    }
    // the reference renders and opens a PNG (graph.erl:47-58); here it
    // is opt-in and skipped gracefully when graphviz is absent
    opts.get("--png").foreach { out =>
      Dot.renderPng(dotText, out) match {
        case Some(p) => println(s"png written to $p")
        case None    => println("png skipped: graphviz `dot` not on PATH")
      }
    }
    spark.stop()
  }
}
