package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Unit tests for the text primitives on hand-built inputs (the
  * catalog queries cover them on real data; these pin edge cases). */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def sh(texts: (Long, String)*): Map[Long, Set[String]] =
    TextFunctions.shingles(texts.toDF("id", "text"), "id", "text")
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }

  test("shingles: exactly 3 words yields one shingle; <3 yields none") {
    val got = sh((1L, "a b c"), (2L, "a b"), (3L, "one"), (4L, ""))
    assert(got == Map(1L -> Set("a b c")))
  }

  test("shingles: repeated shingles dedup per document") {
    val got = sh((1L, "x y x y x y"))   // "x y x"/"y x y" repeat
    assert(got(1L) == Set("x y x", "y x y"))
  }

  test("shingles: whitespace runs collapse") {
    val got = sh((1L, "a  b\tc"))
    assert(got(1L) == Set("a b c"))
  }

  test("winnowing: docs sharing >= w+k-1 consecutive words share a fingerprint") {
    // k=4-word hash grams, w=4-hash windows: guarantee kicks in at 7 words
    val shared = "alpha beta gamma delta epsilon zeta eta"  // 7 words
    val docs = Seq(
      (1L, s"one two three $shared"),
      (2L, s"$shared nine ten eleven twelve"),
      (3L, "totally different words with no common run here at all")
    ).toDF("doc_id", "text")
    val fps = graft.operators.TextQueries.windowHashesOf(docs)
      .select(col("doc_id"),
        explode(TextFunctions.winnowMins(col("whs"), 4)).as("fp"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 7-word run must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // winnowing selects a subset of the window hashes
    val allHashes = graft.operators.TextQueries.windowHashesOf(docs)
      .select(col("doc_id"), explode(col("whs")).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    fps.foreach { case (id, s) => assert(s.subsetOf(allHashes(id))) }
  }

  test("HammingDist: codegen'd distance matches hand counts and handles nulls") {
    graft.functions.StringDistance.register(spark)
    val h = graft.functions.StringDistance.hamming _
    val df = Seq(
      ("0101", "0101"), ("0101", "0011"), ("0101", "01"), ("", "01"))
      .toDF("a", "b")
    val got = df.select(h(col("a"), col("b"))).collect().map(_.getInt(0)).toSeq
    // equal; 2 bit flips; equal prefix + 2 missing; all missing
    assert(got == Seq(0, 2, 2, 2))
    val withNull = Seq(("0101", null: String)).toDF("a", "b")
      .select(h(col("a"), col("b"))).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("winnowCandidates pairs exactly the docs sharing a long run") {
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, s"one two three $shared"),
      (2L, s"$shared nine ten eleven twelve"),
      (3L, "totally different words with no common run here at all")
    ).toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.winnowCandidates(
        graft.operators.TextQueries.windowHashesOf(docs), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnowing: a short hash sequence yields exactly its global min") {
    // 5 words -> 2 window hashes < w=4 -> one fingerprint, the min
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val wh = graft.operators.TextQueries.windowHashesOf(docs)
    val whs = wh.collect()(0).getSeq[Long](1)
    assert(whs.length == 2)
    val fps = wh.select(TextFunctions.winnowMins(col("whs"), 4).as("f"))
      .collect()(0).getSeq[Long](0)
    assert(fps == Seq(whs.min))
  }

  test("jaccard: identical docs score 1.0, disjoint docs don't pair") {
    val docs = Seq(
      (1L, "p q r s t"), (2L, "p q r s t"), (3L, "u v w x y")).toDF("id", "text")
    val pairs = TextFunctions.jaccardPairs(
      TextFunctions.shingles(docs, "id", "text"), "id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("prefix-filtered jaccardPairs equals brute force on a random corpus") {
    // 60 docs from a 30-word vocabulary (fixed seed): heavy shingle
    // overlap, so prefix filtering and the df-ceiling both get
    // exercised; brute-force reference computed in plain Scala.
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(30)(i => s"w$i")
    val docs = (1L to 60L).map { id =>
      id -> Array.fill(8 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    }
    val df = docs.toDF("id", "text")
    def shingleSet(t: String): Set[String] =
      t.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap

    for ((threshold, maxDf) <- Seq((0.5, Int.MaxValue), (0.8, Int.MaxValue), (0.5, 5))) {
      val dfCount = sets.values.toSeq.flatMap(_.toSeq).groupBy(identity)
        .map { case (s, xs) => s -> xs.size }
      val expected = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        kept = sets(a).intersect(sets(b)).count(s => dfCount(s) <= maxDf)
        j = kept.toDouble / (sets(a).size + sets(b).size - kept)
        if sets(a).nonEmpty && sets(b).nonEmpty && j >= threshold
      } yield (a, b)).toSet
      val got = TextFunctions.jaccardPairs(
          TextFunctions.shingles(df, "id", "text"), "id", threshold, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"threshold=$threshold maxDf=$maxDf: got ${got.size}, expected ${expected.size}")
    }
  }

  test("simhash: identical docs get identical signatures, length == bits") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally different words here")).toDF("id", "text")
    for (bits <- Seq(16, 64)) {
      val sig = TextFunctions.simhashBits(docs, "id", "text", bits = bits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(sig(1L) == sig(2L))
      assert(sig.values.forall(s => s.length == bits && s.forall(c => c == '0' || c == '1')))
    }
  }

  test("simhash 64-bit: one-word edit moves few bits, different text moves many") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely unrelated sentence about spark catalyst optimizer rules")
    ).toDF("id", "text")
    val sig = TextFunctions.simhashBits(docs, "id", "text", bits = 64)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String): Int = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)),
      "near-dup pair must be closer than unrelated pair")
  }

  test("minhash: signatures are permutation-count wide and stable") {
    val docs = Seq((1L, "m n o p q")).toDF("id", "text")
    val mh = TextFunctions.minhashRows(docs, "id", "text", k = 4).collect()
    assert(mh.length == 4)
    assert(mh.map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2, 3))
  }
}
