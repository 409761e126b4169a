package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.query.{AnnLsh, BipartiteExpand, ConnectedComponents, KMeans}

/** Cache-lifecycle guard: every dedup/ANN/iterative entry point that
  * persists an intermediate must release it before returning — a
  * long-lived pipeline session calling these once per corpus must not
  * accumulate Dataset-level cache entries until eviction pressure (the
  * round-3 symptom was "Asked to cache already cached data" WARN spam
  * in the bench tail; at 100 TB a leaked signature table is a large
  * block to pin for the session's lifetime).
  *
  * The assertion is `CacheManager.isEmpty` after the query's action:
  * Dataset `persist` registers there and lives until explicit
  * `unpersist`. `localCheckpoint` blocks are RDD-level and reclaimed
  * by the ContextCleaner when the RDD is GC'd — deliberately out of
  * scope (they are the documented materialize-then-release mechanism,
  * not a leak).
  */
class CacheHygieneSpec extends SparkSpec {

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** Run `body` from a clean cache; assert nothing is left behind. */
  private def assertNoResidue(label: String)(body: => Long): Unit = {
    spark.catalog.clearCache()
    assert(cacheEmpty, "precondition: CacheManager not empty after clearCache")
    val n = body
    assert(n >= 0)
    assert(cacheEmpty,
      s"$label left Dataset cache entries behind after its action completed")
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    // 30 docs; ids 0/1 and 10/11 are near-identical word sequences
    (0L until 30L).map { i =>
      val base = (0 until 12).map(j => s"w${(i / 2 * 7 + j * 3) % 19}").mkString(" ")
      (i, if (i % 2 == 1) base + " tail" else base)
    }.toDF("doc_id", "text")
  }

  private lazy val vecs: DataFrame = {
    import spark.implicits._
    (0L until 40L).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i / 4 * 31 + d * 7).abs + 0.1)
      (i, v.toSeq)
    }.toDF("id", "emb")
  }

  test("nearDupPairs (jaccardPairs) releases its shingle + doc-array caches") {
    assertNoResidue("nearDupPairs") {
      Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5).count()
    }
  }

  test("dedupClusters (jaccardPairs + connected components) releases everything") {
    assertNoResidue("dedupClusters") {
      Dedup.dedupClusters(docs, "doc_id", "text", threshold = 0.5).count()
    }
  }

  test("embedNearDupBucketed releases the signature table") {
    assertNoResidue("embedNearDupBucketed") {
      Dedup.embedNearDupBucketed(vecs, "id", "emb",
        threshold = 0.9, dim = 8, nBits = 4, nTables = 4).count()
    }
  }

  test("knnGraphBucketed releases the signature table") {
    assertNoResidue("knnGraphBucketed") {
      AnnLsh.knnGraphBucketed(vecs, "id", "emb",
        k = 3, dim = 8, nBits = 4, nTables = 2).count()
    }
  }

  test("ConnectedComponents.run releases the symmetrized edge cache") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    assertNoResidue("ConnectedComponents.run") {
      ConnectedComponents.run(pairs, "id_a", "id_b").count()
    }
  }

  test("KMeans.run releases the corpus cache") {
    assertNoResidue("KMeans.run") {
      KMeans.run(vecs.withColumn("seed", (col("id") % 3).cast("int")),
        "id", "emb", "seed", iters = 2).count()
    }
  }

  test("Curation.run full chain leaves no cache residue") {
    import spark.implicits._
    // English-looking docs (en stopwords, >= 10 words, low punctuation)
    // across the mixture-rate sources, with planted near-identical pairs
    // so the near-dedup + CC stages do real work inside the chain.
    val cdocs = (0L until 24L).map { i =>
      val body = (0 until 10)
        .map(j => s"word${(i / 2 * 5 + j * 3) % 17}").mkString(" ")
      val text = s"the quick word of and $body" + (if (i % 2 == 1) " tail" else "")
      (i, text, s"src${i % 4}", "en", text.length)
    }.toDF("doc_id", "text", "source", "lang", "n_chars")
    assertNoResidue("Curation.run") {
      graft.pipeline.Curation.run(cdocs).count()
    }
  }

  test("BipartiteExpand level-4 releases the edge cache") {
    import spark.implicits._
    val edges = Seq(("a", "m1"), ("b", "m1"), ("b", "m2"), ("c", "m2"),
      ("c", "m3"), ("d", "m3")).toDF("name", "title")
    assertNoResidue("BipartiteExpand.expand(level=4)") {
      BipartiteExpand.expand(spark, edges, "name", "title", lit("a"), 4).count()
    }
  }
}
