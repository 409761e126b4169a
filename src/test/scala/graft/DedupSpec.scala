package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sources.Tables

/** Corpus-level dedup API on sf0.1, which has 8 planted exact
  * duplicates (5000 docs, 4992 distinct texts) and near-duplicates
  * with Jaccard ≈ 0.98. */
class DedupSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.1"
  private lazy val docs = Tables.documents(spark, dir).persist()

  test("exact dedup keeps one smallest-id row per distinct text") {
    val cleaned = Dedup.exact(docs, "doc_id", "text")
    assert(cleaned.count() == 4992L)
    assert(cleaned.select("text").distinct().count() == 4992L)
    // survivor rule: every kept id is the min id of its text group
    val viol = cleaned.as("c")
      .join(docs.groupBy("text").agg(min("doc_id").as("keeper")), "text")
      .filter(col("doc_id") =!= col("keeper")).count()
    assert(viol == 0)
  }

  test("LSH candidates cover every exact duplicate pair") {
    val exactPairs = docs.as("a")
      .join(docs.as("b"), col("a.text") === col("b.text") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cands = Dedup.lshCandidates(docs, "doc_id", "text")
    assert(exactPairs.join(cands, Seq("id_a", "id_b"), "left_anti").count() == 0)
  }

  test("near-dedup removes at least the verified near-dup partners") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
    val n = pairs.count()
    assert(n >= 8, s"expected >= 8 near-dup pairs, got $n")  // 8 exact dups have jaccard 1.0
    val cleaned = Dedup.dropNearDups(docs, "doc_id", "text", threshold = 0.8)
    assert(cleaned.count() == docs.count() - pairs.select("id_b").distinct().count())
  }

  test("exact dedup collapses all-null contents to a single survivor") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String]), (2L, None), (3L, Some("x")))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("maxDf ceiling truncates hot-shingle posting lists (recall-only)") {
    import spark.implicits._
    // 6 docs share the stop-shingle text verbatim; 2 docs additionally
    // share a rare tail, pushing their Jaccard to 1.0.
    val hot = "aaa bbb ccc"
    val rows = (0L to 5L).map(i => (i, if (i < 2) s"$hot xxx yyy zzz" else hot))
    val df = rows.toDF("doc_id", "text")
    val sh = graft.functions.TextFunctions.shingles(df, "doc_id", "text")
    // uncapped: every co-shingled pair appears
    val full = graft.functions.TextFunctions
      .jaccardPairs(sh, "doc_id", threshold = 0.0)
    assert(full.count() == 15)  // all C(6,2) pairs share the hot shingle
    // df ceiling below 6 drops the hot shingle: only the rare-tail pair
    // survives, and its Jaccard is UNDERestimated (n_common counts 3 of
    // 4 shared shingles, so the derived union overcounts: 4+4-3=5) —
    // never overestimated.
    val capped = graft.functions.TextFunctions
      .jaccardPairs(sh, "doc_id", threshold = 0.0, maxDf = 5)
    val got = capped.collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L)
    assert(r.getAs[Double]("jaccard") == 3.0 / 5.0)
    // corpus API default has the ceiling on
    assert(Dedup.DefaultMaxDf > 0)
  }

  test("hashed-shingle pairs agree with raw-shingle pairs") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 10000))
    val hashed = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(key).toSet
    val raw = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8,
        hashShingles = false)
      .collect().map(key).toSet
    assert(hashed == raw)
    assert(hashed.nonEmpty)
  }

  test("incremental LSH via a STORED index equals full-recompute cross pairs") {
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    // the index survives a parquet roundtrip — the persisted-table path
    val idxDir = tempDir("lsh-idx").toString
    Dedup.lshIndex(corpus, "doc_id", "text").write
      .mode("overwrite").parquet(idxDir)
    val viaIndex = Dedup.incrementalLsh(inc, "doc_id", "text",
        spark.read.parquet(idxDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: recompute everything, restrict to cross pairs
    val full = Dedup.lshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.collect {
      case (a, b) if a % 5 == 0 && b % 5 != 0 => (a, b)
      case (a, b) if b % 5 == 0 && a % 5 != 0 => (b, a)
    }
    assert(viaIndex == cross,
      s"index path ${viaIndex.size} pairs, recompute path ${cross.size}")
    assert(viaIndex.nonEmpty, "sf0.1 plants cross-split near-dups")
  }
}
