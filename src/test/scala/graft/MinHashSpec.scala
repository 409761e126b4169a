package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.dedup.Dedup
import graft.functions.TextFunctions

/** The one MinHash-LSH implementation ([[TextFunctions.minhashRows]],
  * [[TextFunctions.lshBands]]) against a plain-Scala reference of the
  * rule it implements: over a row's distinct word `n`-gram shingles
  * (words = `\S+` runs), permutation j's minimum is the least md5 hex of
  * "j|shingle", and a band's sig is the md5 of its minima joined by "|".
  * Inline rows cover the inputs the fixtures never produce. */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def minima(text: String, n: Int, k: Int): Option[Seq[String]] = {
    val w = Option(text).toSeq.flatMap("\\S+".r.findAllIn(_).toSeq)
    val sh = if (w.size < n) Nil else w.sliding(n).map(_.mkString(" ")).toSeq.distinct
    if (sh.isEmpty) None else Some((0 until k).map(j => sh.map(s => md5(s"$j|$s")).min))
  }

  private val rows = Seq(
    1L -> "two words",                                  // no rows at n = 3
    2L -> "x y z x y z x y z",                          // repeated shingles
    3L -> "  runs   of\twhitespace \n\n collapse  here ",
    4L -> "non BMP \uD83D\uDE00 text \uD834\uDD1E clef ok",  // emoji, G clef
    5L -> null,                                         // NULL text
    6L -> "one id for two rows",                        // duplicate id ...
    6L -> "and a second text under it",                 // ... signed per row
    7L -> "",
    8L -> "m n o")
  private val docs = rows.toDF("doc_id", "text")

  for ((n, k, r) <- Seq((3, 8, 2), (2, 5, 2))) {
    test(s"minhashRows equals the md5 reference (n=$n, k=$k)") {
      val want = rows.flatMap { case (id, t) =>
        minima(t, n, k).toSeq.flatMap(_.zipWithIndex.map { case (m, j) => (id, j, m) })
      }.sorted
      val got = TextFunctions.minhashRows(docs, "doc_id", "text", n, k).as[(Long, Int, String)]
        .collect().toSeq.sorted
      assert(got == want)
    }

    test(s"lshBands equals the md5 reference (n=$n, k=$k, rowsPerBand=$r)") {
      val want = rows.flatMap { case (id, t) =>
        minima(t, n, k).toSeq.flatMap(_.grouped(r).zipWithIndex.map {
          case (g, b) => (id, b, md5(g.mkString("|"))) })
      }.sorted
      val got = TextFunctions.lshBands(docs, "doc_id", "text", n, k, r)
        .as[(Long, Int, String)].collect().toSeq.sorted
      assert(got == want)
      // the duplicate id keeps one signature per row: both rows' bands
      assert(got.count(_._1 == 6L) == 2 * ((k + r - 1) / r))
      val unsigned = Set(5L, 7L) ++ (if (n > 2) Set(1L) else Set.empty)
      assert(!got.exists(g => unsigned(g._1)), "short/NULL/empty rows must not band")
    }
  }

  test("each row is tokenized once: no inferred filter re-derives the shingles") {
    // a file scan: inline rows would be folded into a local relation
    val path = tempDir("graft_minhash").toString + "/docs"
    docs.write.parquet(path)
    val scan = graft.sources.Parquet.read(spark, path)
    for (df <- Seq(TextFunctions.minhashRows(scan, "doc_id", "text"),
        TextFunctions.lshBands(scan, "doc_id", "text"))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert("regexp_extract_all".r.findAllMatchIn(plan).size == 1, plan)
    }
  }

  test("building the LSH index plans no exchange") {
    val plan = Dedup.lshIndex(docs, "doc_id", "text").queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), plan.toString)
  }
}
