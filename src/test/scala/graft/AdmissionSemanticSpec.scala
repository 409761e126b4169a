package graft


import org.apache.spark.sql.functions._
import graft.pipeline.Admission
import graft.sources.Tables

/** Contracts of [[Admission.admitWithEmbeddings]] — the semantic
  * (SRP-bucketed, cosine-verified) leg of the admission loop:
  *  - a distinct-text document whose EMBEDDING duplicates a seen one
  *    is rejected (the case the text legs cannot catch), while an
  *    orthogonal-embedding document passes;
  *  - two-increment ≡ one-shot parity (the compositionality the
  *    MinHash leg already proves, extended to the semantic state);
  *  - the semantic state folds through [[Admission.compact]] like the
  *    text state: a post-compact increment is still rejected through
  *    the bucketed `semidx`/`vecs` segments, and roots WITHOUT
  *    semantic state compact without growing empty semidx segments.
  */
class AdmissionSemanticSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def freshRoot() =
    tempDir("graft_adm_sem").toString + "/state"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  // toy 4-dim corpus: doc 2 duplicates doc 1's embedding with distinct
  // text; doc 3 is orthogonal to both
  private def toyDocs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text").withColumn("source", lit("s"))
  }
  private def toyEmb(rows: (Long, Seq[Double])*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "embedding")
  }
  private def admitToy(docs: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame, root: String, inc: String) =
    Admission.admitWithEmbeddings(docs, emb, root, inc,
      dim = 4, nBits = 2, nTables = 4)

  // the feature store every call shares: admitWithEmbeddings fetches
  // seen docs' exact floats from it by id (the PQ-compressed state
  // holds only codes), so it must cover every id — its inc-side rows
  // are cut to the increment internally via the fresh-key semi-join
  private def toyStore = toyEmb(
    1L -> Seq(1.0, 0.5, 0.0, 0.0),
    2L -> Seq(2.0, 1.0, 0.0, 0.0),     // cos = 1 vs doc 1
    3L -> Seq(0.0, 0.0, 1.0, -0.5))    // cos = 0 vs both

  test("an embedding near-dup with distinct text is rejected; orthogonal passes") {
    val root = freshRoot()
    admitToy(
      toyDocs(1L -> "aa bb cc dd ee ff gg"),
      toyStore, root, "d1")
    val got = ids(admitToy(
      toyDocs(2L -> "hh ii jj kk ll mm nn",      // text-fresh, embedding-dup
              3L -> "oo pp qq rr ss tt uu"),     // text-fresh, orthogonal
      toyStore,
      root, "d2"))
    assert(got == Seq(3L), s"semantic leg must reject doc 2, admit doc 3: $got")
    assert(ids(Admission.corpus(spark, root)) == Seq(1L, 3L))
  }

  test("within-increment greedy: smaller id wins the semantic tie") {
    val root = freshRoot()
    val got = ids(admitToy(
      toyDocs(1L -> "aa bb cc dd ee ff gg", 2L -> "hh ii jj kk ll mm nn"),
      toyEmb(1L -> Seq(1.0, 0.0, 0.0, 0.0), 2L -> Seq(3.0, 0.0, 0.0, 0.0)),
      root, "d1"))
    assert(got == Seq(1L), s"greedy must keep the smaller id: $got")
  }

  test("two-increment semantic admission equals one-shot (real tables)") {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val split = docs.agg(max("doc_id")).head.getLong(0) / 2
    val twoStep = freshRoot()
    Admission.admitWithEmbeddings(docs.filter(col("doc_id") <= split),
      emb, twoStep, "d1",
      cosThreshold = 0.45, nTables = 48)
    Admission.admitWithEmbeddings(docs.filter(col("doc_id") > split),
      emb, twoStep, "d2",
      cosThreshold = 0.45, nTables = 48)
    val oneShot = freshRoot()
    Admission.admitWithEmbeddings(docs, emb, oneShot, "all",
      cosThreshold = 0.45, nTables = 48)
    val a = ids(Admission.corpus(spark, twoStep))
    val b = ids(Admission.corpus(spark, oneShot))
    assert(a.nonEmpty && a == b,
      s"two-step admitted ${a.size}, one-shot ${b.size}")
    // and the semantic leg actually rejected something relative to the
    // text-only loop on this corpus (embeddings contain cos >= 0.5 pairs)
    val textOnly = freshRoot()
    Admission.admit(docs, textOnly, "all")
    assert(ids(Admission.corpus(spark, textOnly)).size > a.size,
      "fixture must exercise the semantic leg")
  }

  test("semantic state folds through compact: post-compact dup still rejected") {
    val root = freshRoot()
    admitToy(
      toyDocs(1L -> "aa bb cc dd ee ff gg"),
      toyStore, root, "d1")
    assert(Admission.compact(spark, root))
    assert(new java.io.File(s"$root/semidx_base").exists, "semidx must fold")
    assert(new java.io.File(s"$root/vecs_base").exists, "vecs must fold")
    assert(!new java.io.File(s"$root/semidx/inc=d1").exists,
      "folded semidx increment must be collected")
    val got = ids(admitToy(
      toyDocs(2L -> "hh ii jj kk ll mm nn", 3L -> "oo pp qq rr ss tt uu"),
      toyStore,
      root, "d2"))
    assert(got == Seq(3L),
      s"the folded semantic segments must still reject doc 2: $got")
  }

  test("streaming admission with the semantic leg rejects embedding dups " +
      "batch over batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = freshRoot()
    val ckpt = tempDir("graft_adm_sem_ck").toString
    // static id -> embedding lookup: doc 2 duplicates doc 1's vector
    // with fresh text, doc 3 is orthogonal
    val emb = toyEmb(1L -> Seq(1.0, 0.5, 0.0, 0.0),
      2L -> Seq(2.0, 1.0, 0.0, 0.0), 3L -> Seq(0.0, 0.0, 1.0, -0.5))
    val in = MemoryStream[(Long, String, String)](spark)
    val q = Admission.admitStream(
      in.toDS().toDF("doc_id", "text", "source"),
      root, ckpt, cfg = None, embeddings = Some(emb),
      dim = 4, nBits = 2, nTables = 4)
    try {
      in.addData((1L, "aa bb cc dd ee ff gg", "s"))
      q.processAllAvailable()
      in.addData((2L, "hh ii jj kk ll mm nn", "s"),
        (3L, "oo pp qq rr ss tt uu", "s"))
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(Admission.corpus(spark, root)) == Seq(1L, 3L),
      "the cross-batch embedding dup must be rejected through the " +
        "persisted semantic state")
  }

  test("ADC prefilter is a superset of the exact-accept pairs — even " +
      "under a degenerate 1-codeword codebook") {
    import spark.implicits._
    import graft.operators.VectorQueries
    // deterministic 8-dim corpus: 12 seen vectors, 5 inc vectors,
    // values spread so cosines straddle the 0.6 threshold
    def vec(seed: Long): Seq[Double] =
      (0 until 8).map(i => ((seed * 31 + i * 17) % 19 - 9) / 9.0)
    val seenRows = (101L to 112L).map(i => (i, vec(i)))
    val incRows = (1L to 5L).map(i => (i, vec(i * 7)))
    def withN(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("doc_id", "e")
        .withColumn("n", sqrt(expr(
          "aggregate(e, 0D, (acc, v) -> acc + v * v)")))
    val incVecs = withN(incRows)
    val cand = incRows.flatMap { case (i, _) =>
      seenRows.map { case (s0, _) => (i, s0) } }
      .toDF("doc_id", "seen_id")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exactAccept = (for {
      (i, ev) <- incRows; (s0, sv) <- seenRows if cos(ev, sv) >= 0.6
    } yield (i, s0)).toSet
    assert(exactAccept.nonEmpty, "fixture must contain accept pairs")
    assert(exactAccept.size < seenRows.size * incRows.size,
      "fixture must also contain reject pairs")
    for (k <- Seq(1, 4)) { // k=1: max reconstruction error — worst case
      val (cb, _) = VectorQueries.pqTrain(
        withN(seenRows).select($"doc_id".as("vec_id"), $"e".as("embedding")),
        k = k, iters = 2, nSub = 4, subDim = 2)
      val seenVecs = Admission.pqEncodeVecs(withN(seenRows), cb,
        "doc_id", nSub = 4, subDim = 2)
      val pre = Admission.adcPrefilter(cand, seenVecs, incVecs, cb,
          "doc_id", cosThreshold = 0.6, nSub = 4, subDim = 2)
        .select("doc_id", "seen_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exactAccept.subsetOf(pre),
        s"k=$k: prefilter dropped exact accepts: ${exactAccept -- pre}")
      if (k == 4)
        assert(pre.size < seenRows.size * incRows.size,
          "a real codebook must prune SOME candidate pairs")
    }
  }

  test("vecs state stores packed codes at a fraction of the float bytes") {
    val root = freshRoot()
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Admission.admitWithEmbeddings(docs, emb, root, "d1",
      cosThreshold = 0.45, nTables = 48)
    val vecs = spark.read.parquet(s"$root/vecs/inc=d1")
    assert(vecs.columns.sorted.toSeq == Seq("code", "doc_id", "n", "r"),
      s"vecs rows must be (id, code, n, r): ${vecs.columns.toSeq}")
    assert(vecs.count() > 0)
    // counterfactual: the same rows in the round-11 float format
    val floatDump = freshRoot()
    emb.join(vecs.select("doc_id"), "doc_id")
      .select(col("doc_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("n", sqrt(expr("aggregate(e, 0D, (acc, v) -> acc + v * v)")))
      .write.mode("overwrite").parquet(floatDump)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(new java.io.File(p))
    }
    val (codesB, floatsB) = (bytes(s"$root/vecs/inc=d1"), bytes(floatDump))
    info(s"vecs codes $codesB B vs floats $floatsB B " +
      f"(${floatsB.toDouble / codesB}%.1fx)")
    assert(codesB * 8 <= floatsB,
      s"PQ state must be >= 8x smaller: codes $codesB vs floats $floatsB")
  }

  test("a first increment with zero embedding rows does not brick the root") {
    val root = freshRoot()
    // doc 9 has no feature-store row: text legs apply, the semantic leg
    // is vacuous — and NO semantic state may be written (an empty
    // vecs/inc from a codebook-less first increment previously tripped
    // the legacy-format guard on the NEXT increment, round-12 advice)
    admitToy(toyDocs(9L -> "aa bb cc dd ee ff gg"),
      toyEmb(9L -> Seq(1.0, 0.0, 0.0, 0.0)).filter(col("doc_id") < 0),
      root, "d1")
    assert(!new java.io.File(s"$root/vecs").exists,
      "an embedding-less increment must write no vecs/ state")
    assert(ids(Admission.corpus(spark, root)) == Seq(9L))
    // the next increment carries real vectors: it must train the
    // codebook and proceed, not die on a misread 'legacy float' guard
    val got = ids(admitToy(
      toyDocs(2L -> "hh ii jj kk ll mm nn", 3L -> "oo pp qq rr ss tt uu"),
      toyStore, root, "d2"))
    assert(got == Seq(2L, 3L), s"root must stay serviceable: $got")
    // and the semantic leg is LIVE from d2 on: an embedding near-dup
    // of doc 3 (scaled copy, fresh text) is rejected in d3
    val d3 = ids(admitToy(
      toyDocs(7L -> "vv ww xx yy zz a1 b2"),
      toyStore.union(toyEmb(7L -> Seq(0.0, 0.0, 2.0, -1.0))), root, "d3"))
    assert(d3 == Seq.empty, s"post-recovery semantic leg must reject: $d3")
  }

  test("a pre-round-12 float-format vecs root fails loudly") {
    val root = freshRoot()
    // fabricate legacy state: a vecs/ dir with no pqcb/ codebook
    val legacy = s"$root/vecs/inc=old"
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0, 0.0, 0.0), 1.0)).toDF("doc_id", "e", "n")
      .write.mode("overwrite").parquet(legacy)
    val err = intercept[RuntimeException] {
      admitToy(toyDocs(2L -> "hh ii jj kk ll mm nn"), toyStore, root, "d2")
    }
    assert(err.getMessage.contains("float-format"),
      s"must name the legacy format: ${err.getMessage}")
  }

  test("a text-only root compacts without growing semantic segments") {
    import spark.implicits._
    val root = freshRoot()
    Admission.admit(Seq((1L, "aa bb cc dd ee ff gg", "s"))
      .toDF("doc_id", "text", "source"), root, "d1")
    assert(Admission.compact(spark, root))
    assert(!new java.io.File(s"$root/semidx_base").exists,
      "no semantic inputs -> no semidx segment")
    assert(!new java.io.File(s"$root/vecs_base").exists)
    assert(ids(Admission.corpus(spark, root)) == Seq(1L))
  }
}
