package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Expression-level microbench over the real documents corpus
  * (optimization-round diagnostic): times each text primitive in
  * isolation with the noop sink (guide §1.4) so per-stage CPU is
  * attributable to tokenize / md5 / conv / winnow rather than guessed.
  */
object ExprBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession("graft-exprbench", graft.GraftSession.cpus(32))

    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").persist()
    docs.count()

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(name: String)(df: => DataFrame): Unit = {
      noop(df) // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-34s ${ts.sorted.apply(1)}%.3f s  (min ${ts.min}%.3f)")
    }

    val w = graft.functions.TextFunctions.words(col("text"))
    time("tokenize(words)") { docs.select(w.as("w")) }
    time("tokenize+size") { docs.select(size(w).as("n")) }
    val sh3 = graft.functions.TextFunctions.shingles(docs, "doc_id", "text", 3)
    time("shingles3(explode+distinct)") { sh3 }
    time("shingles3+md5") { sh3.select(col("doc_id"), md5(col("shingle")).as("h")) }
    time("shingles3+md5+conv48") {
      sh3.select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 12), 16, 10).cast("long").as("h"))
    }
    val whs = graft.operators.TextQueries.windowHashesOf(docs)
    time("windowHashes(winnow prep)") { whs }
    time("winnowMins(w=4)") {
      whs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.winnowMins(col("whs"), 4)).as("fp"))
    }
    time("quality filter exprs") {
      docs.select(col("doc_id"),
        (length(regexp_replace(col("text"), "[a-z0-9\\s]", "")) /
          length(col("text"))).as("punct"),
        size(filter(w, x => x.isin("the", "a", "of", "and"))).as("s_en"),
        col("text").rlike("[\\x{4E00}-\\x{9FFF}]").as("zh"))
    }
    time("chunk exprs") {
      docs.select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0),
            greatest(ceil((size(col("w")) - 64).cast("double") / 48), lit(0))
              .cast("int"))).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          md5(array_join(slice(col("w"), col("chunk_id") * 48 + 1, lit(64)), " "))
            .as("chunk_md5"))
    }
    docs.unpersist()
    spark.stop()
  }
}
