package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.VectorFunctions
import graft.query.KMeans
import graft.sources.Tables

/** Similarity search over the `embeddings` table (Array[Float], dim=64):
  * brute-force cosine top-k as the correctness baseline, cosine
  * near-dup pairing, and an IVF-style probed search as the scale path.
  *
  * Implementation notes:
  *  - dot products run through [[graft.functions.VecDot]] — a native
  *    codegen'd Catalyst expression (tight primitive loop, no
  *    intermediate arrays, stays inside whole-stage codegen);
  *  - elements are cast to double FIRST so both engines do identical
  *    double arithmetic (float32 multiply would round differently from
  *    the oracle);
  *  - per-vector norms are computed BEFORE any join (linear work),
  *    so the quadratic pair stage only evaluates the cross dot;
  *  - top-k goes through `orderBy(...).limit(k)` = TakeOrderedAndProject
  *    (per-partition heaps + driver merge), never a global sort;
  *  - the IVF query prunes the candidate set with a broadcast semi-join
  *    on the probed labels — at 100 TB this is the difference between
  *    scanning everything and scanning nprobe/ncluster of it.
  */
object VectorQueries {

  private def dot(a: Column, b: Column): Column = VectorFunctions.vecDot(a, b)

  /** Codegen'd squared L2 ([[graft.functions.VecSqDist]]) — replaces
    * the interpreted aggregate(zip_with(...)) fold bit-identically. */
  private def sqd(a: Column, b: Column): Column = VectorFunctions.vecSqDist(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The query of the vector-search rows: vector 0, as 1-row (qe). */
  private def query0(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") === 0).select(asDouble(col("embedding")).as("qe"))

  /** Exact-cosine top-k of candidates (vec_id, e) against the 1-row
    * query `q`, ranked on the 4-decimal cosine with id tiebreaks. */
  private def rerank(cands: DataFrame, q: DataFrame, k: Int): DataFrame =
    cands.crossJoin(broadcast(q))
      .select(col("vec_id"), round(dot(col("e"), col("qe")) /
        (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("qe"), col("qe")))),
        4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)

  /** Points seeded by their label: (vec_id, cluster = label, e). */
  private def labeled(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label").cast("int").as("cluster"),
      asDouble(col("embedding")).as("e"))

  /** Per-label mean centroids (cluster = label, cvec): the untrained
    * coarse quantizer and the PQ stand-in codebook. The vector goes in
    * as an expression, not a projected column, so Catalyst infers no
    * non-empty-array filter below the scan's fan-out exchange. */
  private def labelCentroids(emb: DataFrame): DataFrame =
    KMeans.centroids(emb, Seq("label"), asDouble(col("embedding")))
      .withColumnRenamed("label", "cluster")

  /** PQ points: one row per (vec_id, sub) with the `subDim`-dim slice
    * `sv` of subspace `sub`. */
  private def subvectors(emb: DataFrame, vecCol: String = "embedding",
      nSub: Int = 8, subDim: Int = 8): DataFrame = emb
    .select(col("vec_id"), asDouble(col(vecCol)).as("e"))
    .select(col("vec_id"),
      explode(sequence(lit(0), lit(nSub - 1))).as("sub"), col("e"))
    .select(col("vec_id"), col("sub"),
      expr(s"slice(e, sub * $subDim + 1, $subDim)").as("sv"))

  /** Full-dim centroids (cluster, cvec) cut into 8 subspace codebooks
    * (sub, cluster, cvec — 8-dim). */
  private def sliced(cent: DataFrame): DataFrame = cent
    .select(explode(sequence(lit(0), lit(7))).as("sub"), col("cluster"),
      col("cvec"))
    .withColumn("cvec", expr("slice(cvec, sub * 8 + 1, 8)"))

  /** L2 code per (vec_id, sub): (vec_id, sub, cluster, d2). */
  private def pqAssign(pts: DataFrame, cb: DataFrame): DataFrame =
    KMeans.assign(pts, cb, Seq("vec_id", "sub"), KMeans.L2,
      vecCol = "sv", part = Seq("sub"))

  /** Matryoshka (MRL) two-stage retrieval (Kusupati et al., NeurIPS
    * 2022): rank the corpus CHEAPLY on the 16-dim prefix of the
    * embedding (MRL trains nested prefixes to be usable standalone),
    * keep the top-50 candidates, then re-rank ONLY those 50 with the
    * full 64-dim cosine. At 100 TB the first stage reads a quarter of
    * the vector bytes (columnar stores can push the prefix slice to
    * the scan) and the exact stage touches 50 rows — the same
    * coarse-then-exact economics as IVF/PQ but with zero index build.
    * Both stages rank on `round(·,4) + 0.0` with vec_id tiebreaks —
    * total order, so LIMIT is deterministic cross-engine, and the
    * `+ 0.0` kills IEEE −0.0 before it can reach a hash (near-zero
    * cosines DO occur here, unlike the high-cos top-10 rows). Both
    * broadcasts are the 1-row query vector (allowlisted BNLJ). */
  def matryoshkaSearch(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, preDims: Int = 16, nCand: Int = 50,
      k: Int = 10): DataFrame = {
    val id = col(idCol)
    val q = emb.filter(id === queryId)
      .select(asDouble(slice(col(vecCol), 1, preDims)).as("qp"),
        asDouble(col(vecCol)).as("qf"))
    val cand = emb.crossJoin(broadcast(q))
      .withColumn("ep", asDouble(slice(col(vecCol), 1, preDims)))
      .select(id.as("vec_id"),
        (round(dot(col("ep"), col("qp")) /
          (sqrt(dot(col("ep"), col("ep"))) * sqrt(dot(col("qp"), col("qp")))), 4)
          + lit(0.0)).as("cos_pref"))
      .orderBy(col("cos_pref").desc, col("vec_id"))
      .limit(nCand)
    cand.join(emb.withColumnRenamed(idCol, "vec_id"), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("ef", asDouble(col(vecCol)))
      .select(col("vec_id"), col("cos_pref"),
        (round(dot(col("ef"), col("qf")) /
          (sqrt(dot(col("ef"), col("ef"))) * sqrt(dot(col("qf"), col("qf")))), 4)
          + lit(0.0)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  private def matryoshkaTopk(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    matryoshkaSearch(Tables.embeddings(s, d), "vec_id", "embedding", 0L)
  }

  /** Brute-force cosine top-10 against the vec_id=0 query vector.
    * Reads the RAW scan, not the fanned-out table: the per-row work is
    * two dim-64 dots against a broadcast vector feeding a bounded
    * TakeOrdered — far cheaper than the fan-out exchange it would ride
    * (the round-14 fan-out cost this 0.2 s query 21%, its only
    * regression; the heavy SRP/near-dup consumers keep the fan-out).
    * At scale the scan splits by itself, so this is a no-op there. */
  private def cosineTopk(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val emb = Tables.load(s, d, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(asDouble(col("embedding")).as("qe"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(asDouble(col("embedding")), col("qe")) /
          (sqrt(dot(asDouble(col("embedding")), asDouble(col("embedding")))) *
           sqrt(dot(col("qe"), col("qe"))))).as("c"))
      .select(col("vec_id"), round(col("c"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Embedding-cosine near-dup: all pairs with cosine ≥ 0.5.
    * Norms are precomputed per vector (linear), so the O(n²) stage is
    * one fused dot per pair. */
  private def embedNeardup(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("n", sqrt(dot(col("e"), col("e"))))
    val a = v.select(col("vec_id").as("va"), col("e").as("ea"), col("n").as("na"))
    val b = v.select(col("vec_id").as("vb"), col("e").as("eb"), col("n").as("nb"))
    a.crossJoin(b)
      .filter(col("va") < col("vb"))
      .withColumn("c", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("c") >= 0.5)
      .select(col("va"), col("vb"), round(col("c"), 4).as("cos_sim"))
      .orderBy("va", "vb")
  }

  /** Bucketed near-dup — the 100 TB shape for [[embedNeardup]]: the
    * pair stage is an equi self-join on multi-table SRP (table, bucket)
    * keys, never a cartesian product; candidates get the exact
    * codegen'd cosine verify. Checked against the SAME all-pairs
    * DuckDB oracle as the exact form: with 4 bits × 24 tables the
    * deterministic (fixed-seed) bucketing catches every qualifying
    * pair at the gate scale, so the row is hash-exact, and
    * `AnnLshSpec` asserts the plan is cartesian-free.
    *
    * Honest constants: at threshold 0.5 on this i.i.d.-Gaussian corpus
    * the qualifying pairs sit at θ ≈ 60°, where SRP tables admit ~80%
    * of ALL pairs as candidates — so at bench scale the exact cross
    * join is faster (measured ~0.8 s vs ~4.6 s at sf0.1). The point of
    * this form is the asymptotics: the equi-join plan survives a 100×
    * corpus (cost ∝ candidate pairs), while the cartesian product
    * cannot (cost ∝ n²) — and at the thresholds real embedding dedup
    * runs (≥ 0.9, θ ≤ 26°), candidates collapse to a few percent. */
  private def embedNeardupLsh(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup
      .embedNearDupBucketed(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.5, dim = 64)
      .select(col("id_a").as("va"), col("id_b").as("vb"),
        round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("va", "vb")

  /** Planted-near-dup fixture: the embeddings table plus `nTwins`
    * deterministic perturbed twins for every `everyNth`-th vector.
    * Twin t of base b scales coordinate i by (1 + 0.01·m) with
    * m = (b·31 + t·17 + i·13) % 7 − 3 ∈ [−3, 3] — pure integer
    * arithmetic then double multiply, so DuckDB reproduces the corpus
    * bit-for-bit. Twins sit at cosine ≈ 0.9995 from their base (and
    * from each other), while the i.i.d.-Gaussian originals top out at
    * cosine 0.60 — i.e. this is the CLUSTERED corpus real embedding
    * dedup runs on (near-dups at cos ≥ 0.9, background far away),
    * which the round-2 verdict noted was untested: at threshold 0.5 on
    * the raw corpus SRP admits ~80% of pairs and the exact cross join
    * wins; at 0.9 on clustered data it must prune hard. Twin ids live
    * at 1_000_000 + b·16 + t, disjoint from every base id.
    *
    * The default (every vector, 4 twins) makes the corpus 5× the base
    * table — 10,000 vectors at sf0.1 — dense enough that the n² term
    * of the exact cross join dominates its constant costs and the
    * equi-join crossover is measurable in the bench (the sparse
    * 50th-vector/10-twin variant used by the recall spec keeps true
    * top-10 = the twin cluster instead). */
  def plantedEmbeddings(s: SparkSession, d: String,
      everyNth: Int = 1, nTwins: Int = 4): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    // everyNth == 1 keeps every vector: skip the vacuous `% 1 === 0`
    // filter — Catalyst does not fold it away, and its presence makes
    // the twins subtree differ from the base subtree below the fan-out
    // exchange, defeating ReuseExchange (the corpus was scanned and
    // hashed twice per run, measured as two serial ~100 ms map jobs).
    val twins = (if (everyNth == 1) base
      else base.filter(col("vec_id") % everyNth === 0))
      .select(col("vec_id").as("bid"), col("e"),
        explode(sequence(lit(1), lit(nTwins))).as("t"))
      .select(
        (lit(1000000L) + col("bid") * 16 + col("t")).as("vec_id"),
        transform(col("e"), (x, i) =>
          x * (lit(1.0) + lit(0.01) *
            ((col("bid") * 31 + col("t") * 17 + i * 13) % 7 - 3))).as("e"))
    base.unionByName(twins)
  }

  /** Exact all-pairs near-dup on the planted corpus at threshold 0.9 —
    * the baseline the bucketed form must beat (and is hash-checked
    * against). Slope tier (round-9 verdict item 5): benched at the
    * sf0.01 scale point only — the crossover evidence per round —
    * instead of spending ~4.3 s of sf0.1 headline budget on a
    * deliberately-O(n²) plan. */
  private def embedNeardupPlantedExact(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val v = plantedEmbeddings(s, d).withColumn("n", sqrt(dot(col("e"), col("e"))))
    val a = v.select(col("vec_id").as("va"), col("e").as("ea"), col("n").as("na"))
    val b = v.select(col("vec_id").as("vb"), col("e").as("eb"), col("n").as("nb"))
    a.crossJoin(b)
      .filter(col("va") < col("vb"))
      .withColumn("c", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("c") >= 0.9)
      .select(col("va"), col("vb"), round(col("c"), 4).as("cos_sim"))
      .orderBy("va", "vb")
  }

  /** Bucketed near-dup on the planted corpus at threshold 0.9 — the
    * scale-path win the round-2 verdict asked to demonstrate: same
    * all-pairs oracle as [[embedNeardupPlantedExact]], hash-exact, but
    * the candidate stage is an SRP equi-join. At cos ≥ 0.9 (θ ≤ 26°)
    * 8 bits × 8 tables holds the per-pair miss probability of the
    * cos≈0.9995 planted pairs (θ≈1.8°) under 2·10⁻⁹, and the natural
    * corpus (max cos 0.60) contributes no borderline pairs — so unlike
    * the threshold-0.5 `q_embed_neardup_lsh` honest-constants case,
    * candidates collapse to a few percent and the bucketed plan beats
    * the cross join (measured in BENCH_r03: see docs/catalog.md). */
  private def embedNeardupPlanted(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup
      .embedNearDupBucketed(plantedEmbeddings(s, d), "vec_id", "e",
        threshold = 0.9, dim = 64, nBits = 8, nTables = 8)
      .select(col("id_a").as("va"), col("id_b").as("vb"),
        round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("va", "vb")

  private val plantedCte =
    "WITH planted AS (" +
    "SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings " +
    "UNION ALL " +
    "SELECT 1000000 + vec_id * 16 + t AS vec_id, " +
    "list_transform(range(1, 65), i -> embedding[i]::DOUBLE * " +
    "(1 + 0.01 * ((vec_id * 31 + t * 17 + (i - 1) * 13) % 7 - 3))) AS e " +
    "FROM embeddings, range(1, 5) tt(t))"

  private val plantedPairsSql =
    plantedCte + ", " +
    "sc AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
    "sum(a.e[i] * b.e[i]) AS d, " +
    "sum(a.e[i] * a.e[i]) AS na, " +
    "sum(b.e[i] * b.e[i]) AS nb " +
    "FROM planted a, planted b, range(1, 65) t(i) " +
    "WHERE a.vec_id < b.vec_id GROUP BY 1, 2) " +
    "SELECT va, vb, round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc " +
    "WHERE d / (sqrt(na) * sqrt(nb)) >= 0.9 ORDER BY va, vb"

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space coarsely, then find
    * near-duplicate pairs ONLY within each cluster and keep one
    * survivor per duplicate group. The clustering is what makes the
    * operator 100 TB-safe — the quadratic pair stage is bounded by
    * the largest cluster, never the corpus (the paper's design
    * point), and here it is an equi-join on the cluster id; the
    * centroid table (k·dim doubles) is the only broadcast. Run on
    * the planted twin corpus: every 5-member twin group sits at
    * cos ≥ 0.99 pairwise (complete subgraph, so greedy min-id keeps
    * exactly one) while unrelated vectors top out near 0.60 — both
    * thresholds have orders-of-magnitude margins, so the row is
    * hash-stable. Output: every vector with its cluster and whether
    * it survived. Paper variant note: SemDeDup keeps the member
    * FARTHEST from the centroid; we keep min-id (deterministic
    * without a float tie-break in the hashed row — the same
    * survivor-rule normalization as [[graft.dedup.Dedup]]). The
    * row runs through the production [[graft.dedup.SemanticDedup.run]]
    * API (round-9 verdict item 2): the assignment is persisted ONCE
    * and feeds both sides of the pair self-join — single evaluation
    * and the cache-release contract are pinned by
    * `SemanticDedupSpec`; this gate row hash-checks the API's output
    * end-to-end. */
  private def semanticDedup(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    // coarse quantizer: per-label mean centroids of the base table
    graft.dedup.SemanticDedup
      .run(plantedEmbeddings(s, d), "vec_id", "e", labelCentroids(emb),
        threshold = 0.99)
      .orderBy("vec_id")
  }

  private val semanticDedupSql =
    plantedCte + ", " +
    "cent AS (SELECT label AS c, i, avg(embedding[i]::DOUBLE) AS m " +
    "FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2), " +
    "sc AS (SELECT p.vec_id, c.c, sum(p.e[c.i] * c.m) / " +
    "(sqrt(sum(p.e[c.i] * p.e[c.i])) * sqrt(sum(c.m * c.m))) AS s " +
    "FROM planted p, cent c GROUP BY 1, 2), " +
    "asg AS (SELECT vec_id, c AS cluster FROM sc " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) = 1), " +
    "pairs AS (SELECT xa.vec_id AS va, xb.vec_id AS vb, " +
    "sum(pa.e[i] * pb.e[i]) AS dd, sum(pa.e[i] * pa.e[i]) AS na, " +
    "sum(pb.e[i] * pb.e[i]) AS nb " +
    "FROM asg xa JOIN asg xb ON xa.cluster = xb.cluster AND xa.vec_id < xb.vec_id " +
    "JOIN planted pa ON pa.vec_id = xa.vec_id " +
    "JOIN planted pb ON pb.vec_id = xb.vec_id, range(1, 65) t(i) " +
    "GROUP BY 1, 2), " +
    "losers AS (SELECT DISTINCT vb FROM pairs " +
    "WHERE dd / (sqrt(na) * sqrt(nb)) >= 0.99) " +
    "SELECT vec_id, cluster, vec_id NOT IN (SELECT vb FROM losers) AS kept " +
    "FROM asg ORDER BY vec_id"

  /** The `nProbe` cells (cluster) whose centroid is most
    * cosine-similar to the broadcast 1-row query `q` (broadcast k-row
    * centroids × 1-row query; ties to the smaller cluster id).
    * `tieDecimals >= 0` quantizes the ranking key like the training
    * argmax, so a trained probe is engine-reproducible too. */
  private def probe(cent: DataFrame, q: DataFrame, nProbe: Int,
      tieDecimals: Int = -1): DataFrame =
    cent.crossJoin(broadcast(q))
      .select(col("cluster"),
        (dot(col("cvec"), col("qe")) /
          (sqrt(dot(col("cvec"), col("cvec"))) *
           sqrt(dot(col("qe"), col("qe"))))).as("c"))
      .orderBy((if (tieDecimals >= 0) round(col("c"), tieDecimals)
        else col("c")).desc, col("cluster"))
      .limit(nProbe)
      .select("cluster")

  /** IVF-style probed search over PER-LABEL centroids — the
    * zero-training baseline (labels as cells): probe the 2 labels
    * closest to the query, brute-force only there. The TRAINED
    * quantizer ([[trainedCoarse]]) replaces this in `q_ivf_trained`
    * and the IVFADC rows. */
  private def ivfTopk(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val q = query0(emb)
    val probed = probe(labelCentroids(emb), q, nProbe = 2)
      .withColumnRenamed("cluster", "label")
    rerank(emb.join(broadcast(probed), "label")
      .select(col("vec_id"), asDouble(col("embedding")).as("e")), q, 5)
  }

  /** TRAINED IVF coarse quantizer — 2 cosine Lloyd rounds
    * ([[KMeans.train]]) from the label seed, closing the round-11
    * residual that the coarse cells were per-label stand-ins: a real
    * IVF index stores vectors under TRAINED cell centroids and probes
    * those (Jégou et al. 2011 §III). Returns (the LAST round's
    * centroids (cluster, cvec) — the ones the assignment was made
    * against, which is what probing must rank — and the final
    * assignment (vec_id, e, cluster, sim)). */
  private def trainedCoarse(s: SparkSession, emb: DataFrame)
      : (DataFrame, DataFrame) = {
    // tieDecimals = 9: the gate oracles replay BOTH Lloyd rounds as
    // DuckDB CTEs, so every argmax must be quantized identically on
    // both engines or a ~1e-15 summation-order difference can flip a
    // near-tied assignment nondeterministically as fixtures change
    KMeans.train(labeled(emb), Seq("vec_id"), "cluster", iters = 2,
      KMeans.Cosine, tieDecimals = 9)
  }

  /** IVF search over the TRAINED index: probe the `nProbe` closest
    * trained cells, exact-cosine-rank only the vectors ASSIGNED to
    * those cells (the assignment is the index — candidates come from
    * an equi-join on the trained cluster id, so the scan touches
    * nProbe/k of the corpus at any scale). Exposed with `nProbe` as a
    * parameter so `IvfTrainedSpec` can measure the recall/nprobe
    * trade (docs/ann_recall.md) on the same code the gate row runs. */
  private[graft] def ivfTrainedSearch(s: SparkSession, d: String,
      nProbe: Int = 2, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (cent, asg) = trainedCoarse(s, emb)
    val q = query0(emb)
    rerank(asg.join(broadcast(probe(cent, q, nProbe, tieDecimals = 9)),
      "cluster"), q, k)
  }

  private def ivfTrained(s: SparkSession, d: String): DataFrame =
    ivfTrainedSearch(s, d)

  /** The 2-round coarse training + probe, unrolled as DuckDB CTEs —
    * shared by `q_ivf_trained` and `q_ivfpq_search` so the trained
    * quantizer the oracle replays is ONE definition (CTE names are
    * k-prefixed to avoid colliding with [[pqTrainSql]]'s when both
    * appear in the IVFADC oracle). `cand` is the probed candidate id
    * set: vectors whose TRAINED assignment (ka2) lies in the 2 probed
    * cells. */
  // lazy: referenced by ivfPqSearchSql, whose strict-val initializer
  // runs earlier in the object body
  private lazy val coarseTrainCte =
    "kc1 AS (SELECT label AS c, i, avg(embedding[i]::DOUBLE) AS m " +
    "FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2), " +
    "ks1 AS (SELECT e.vec_id, c.c, sum(e.embedding[c.i]::DOUBLE * c.m) / " +
    "(sqrt(sum(e.embedding[c.i]::DOUBLE * e.embedding[c.i]::DOUBLE)) * " +
    "sqrt(sum(c.m * c.m))) AS s FROM embeddings e, kc1 c GROUP BY 1, 2), " +
    "ka1 AS (SELECT vec_id, c AS cluster FROM ks1 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY round(s, 9) DESC, c) = 1), " +
    "kc2 AS (SELECT ka1.cluster AS c, i, avg(e.embedding[i]::DOUBLE) AS m " +
    "FROM embeddings e JOIN ka1 USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2), " +
    "ks2 AS (SELECT e.vec_id, c.c, sum(e.embedding[c.i]::DOUBLE * c.m) / " +
    "(sqrt(sum(e.embedding[c.i]::DOUBLE * e.embedding[c.i]::DOUBLE)) * " +
    "sqrt(sum(c.m * c.m))) AS s FROM embeddings e, kc2 c GROUP BY 1, 2), " +
    "ka2 AS (SELECT vec_id, c AS cluster FROM ks2 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY round(s, 9) DESC, c) = 1), " +
    "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
    "kdist AS (SELECT c AS cluster, sum(m * q.qe[i]::DOUBLE) / " +
    "(sqrt(sum(m * m)) * sqrt(sum(q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))) AS cs " +
    "FROM kc2, q GROUP BY 1), " +
    "probe AS (SELECT cluster FROM kdist ORDER BY round(cs, 9) DESC, cluster LIMIT 2), " +
    "cand AS (SELECT vec_id FROM ka2 JOIN probe USING (cluster))"

  private val ivfTrainedSql =
    "WITH " + coarseTrainCte + ", " +
    "sc AS (SELECT e.vec_id, " +
    "sum(e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE) AS d, " +
    "sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS na, " +
    "sum(q.qe[i]::DOUBLE * q.qe[i]::DOUBLE) AS nb " +
    "FROM embeddings e JOIN cand USING (vec_id), q, range(1, 65) t(i) " +
    "GROUP BY 1) " +
    "SELECT vec_id, round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc " +
    "ORDER BY cos_sim DESC, vec_id LIMIT 5"

  /** Scalar int8 quantization round-trip — the embedding-compression
    * operator (4× storage cut at 100 TB): per-vector min/max scale,
    * codes = floor(255·(x-lo)/(hi-lo) + 0.5) (floor, not round — the
    * two engines' round() half-rule differs), dequantize, report the
    * relative L2 reconstruction error. Scan-stage arithmetic only. */
  private def vecQuantize(s: SparkSession, d: String): DataFrame = {
    val e = asDouble(col("embedding"))
    val lo = array_min(e)
    val span = array_max(e) - array_min(e)
    val codes = transform(e, x => floor((x - lo) / span * 255.0 + 0.5))
    val deq = transform(codes, c => lo + c * span / 255.0)
    val errSq = sqd(col("eD"), col("deq"))
    val normSq = dot(col("eD"), col("eD")) // SelfDotToNorm: one pass
    VectorFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), e.as("eD"), deq.as("deq"))
      .select(col("vec_id"),
        round(sqrt(errSq) / sqrt(normSq), 6).as("rel_l2_err"))
      .orderBy("vec_id")
  }

  /** One deterministic Lloyd (k-means) step — the index-build primitive
    * behind IVF clustering: centroids = current per-label means, then
    * every vector re-assigns to its max-cosine centroid (ties broken by
    * smallest label) — [[KMeans.centroids]] + [[KMeans.assign]], the
    * round [[KMeans.train]] iterates. The 10-row centroid table
    * broadcasts; assignment is scan-stage dot products plus a
    * per-vector 1-row window. */
  private def kmeansStep(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    KMeans.assign(labeled(emb).withColumnRenamed("cluster", "label"),
        labelCentroids(emb), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("cluster").as("new_label"),
        round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** k-NN graph construction (k = 3): exact top-k cosine neighbors for
    * EVERY vector — the building block of graph-based dedup and ANN
    * index construction (and the ground-truth generator for the LSH
    * recall specs). This is the exact all-pairs baseline (norms
    * precomputed, pair stage one fused dot, per-vector top-k via a
    * window); the scale path buckets candidates with [[graft.query
    * .AnnLsh.bucketedMulti]] first and runs the same ranking on the
    * candidate set only. */
  private def knnGraph(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    VectorFunctions.register(s)
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("n", sqrt(dot(col("e"), col("e"))))
    val a = v.select(col("vec_id"), col("e").as("ea"), col("n").as("na"))
    val b = v.select(col("vec_id").as("nbr"), col("e").as("eb"), col("n").as("nb"))
    a.crossJoin(b)
      .filter(col("vec_id") =!= col("nbr"))
      .withColumn("c", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("c").desc, col("nbr"))))
      .filter(col("rank") <= 3)
      .select(col("vec_id"), col("nbr"), col("rank").as("rank"),
        round(col("c"), 4).as("cos_sim"))
      .orderBy("vec_id", "rank")
  }

  /** The multi-iteration Lloyd loop ([[KMeans.run]]) under the gate:
    * 2 rounds from the label seed — the oracle is the same computation
    * unrolled as a DuckDB CTE, so the ITERATIVE code path (points
    * stored once, per-round broadcast centroids, per-round centroid
    * cuts) is hash-checked, not just its single-step twin
    * `q_kmeans_step`. */
  private def kmeansRun(s: SparkSession, d: String): DataFrame =
    KMeans.run(Tables.embeddings(s, d), "vec_id", "embedding", "label",
        iters = 2)
      .orderBy("vec_id")

  private val kmeansRunSql =
    "WITH cent1 AS (SELECT label AS c, i, avg(embedding[i]::DOUBLE) AS m " +
    "FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2), " +
    "sc1 AS (SELECT e.vec_id, c.c, " +
    "sum(e.embedding[c.i]::DOUBLE * c.m) / " +
    "(sqrt(sum(e.embedding[c.i]::DOUBLE * e.embedding[c.i]::DOUBLE)) * sqrt(sum(c.m * c.m))) AS s " +
    "FROM embeddings e, cent1 c GROUP BY 1, 2), " +
    "a1 AS (SELECT vec_id, c AS cluster FROM sc1 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) = 1), " +
    "cent2 AS (SELECT a1.cluster AS c, i, avg(e.embedding[i]::DOUBLE) AS m " +
    "FROM embeddings e JOIN a1 USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2), " +
    "sc2 AS (SELECT e.vec_id, c.c, " +
    "sum(e.embedding[c.i]::DOUBLE * c.m) / " +
    "(sqrt(sum(e.embedding[c.i]::DOUBLE * e.embedding[c.i]::DOUBLE)) * sqrt(sum(c.m * c.m))) AS s " +
    "FROM embeddings e, cent2 c GROUP BY 1, 2) " +
    "SELECT vec_id, cluster, round(s, 4) AS sim FROM (" +
    "SELECT vec_id, c AS cluster, s FROM sc2 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) = 1) r " +
    "ORDER BY vec_id"

  /** The bucketed kNN graph ([[graft.query.AnnLsh.knnGraphBucketed]])
    * under the gate, hash-checked against the EXACT graph's oracle on
    * the planted corpus: every vector there sits in a 5-member twin
    * cluster at cos ≈ 0.9995 while unrelated vectors top out at 0.60,
    * so its true top-3 is inside the cluster; at 16 bits × 8 tables a
    * twin pair (θ ≈ 1.8°) misses all tables with probability
    * (1 − 0.99^16)^8 ≈ 2·10⁻⁷ — across the ~7.5k needed pairs the
    * expected miss count is ~10⁻³, i.e. the bucketed graph equals the
    * exact graph and the row is hash-exact, while the plan stays an
    * equi self-join on (table, bucket). */
  private def knnGraphBucketedQ(s: SparkSession, d: String): DataFrame =
    graft.query.AnnLsh.knnGraphBucketed(plantedEmbeddings(s, d), "vec_id", "e",
        k = 3, dim = 64, nBits = 16, nTables = 8)
      .orderBy("vec_id", "rank")

  private val knnPlantedSql =
    plantedCte + ", " +
    "sc AS (SELECT a.vec_id, b.vec_id AS nbr, " +
    "sum(a.e[i] * b.e[i]) AS d, " +
    "sum(a.e[i] * a.e[i]) AS na, " +
    "sum(b.e[i] * b.e[i]) AS nb " +
    "FROM planted a, planted b, range(1, 65) t(i) " +
    "WHERE a.vec_id <> b.vec_id GROUP BY 1, 2) " +
    "SELECT vec_id, nbr, CAST(rank AS INT) AS rank, cos_sim FROM (" +
    "SELECT vec_id, nbr, row_number() OVER " +
    "(PARTITION BY vec_id ORDER BY d / (sqrt(na) * sqrt(nb)) DESC, nbr) AS rank, " +
    "round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc) r " +
    "WHERE rank <= 3 ORDER BY vec_id, rank"

  /** Multi-probe ANN search ([[graft.query.AnnLsh.searchMulti]]) under
    * the gate: query = vector 0, k = 4 on the planted corpus, where the
    * true top-4 is exactly vector 0's twin cluster (cos ≈ 0.9995; the
    * nearest non-twin sits at ≤ 0.60). At 16 bits × 8 tables × probe
    * radius 1, a twin is missed by every probe with probability
    * ~(1 − 0.988)^8 ≈ 4·10⁻¹⁶, so the probed result equals the exact
    * top-4 and hash-checks against the brute-force oracle. The single
    * driver-side `head` collects ONE row — the user-supplied query
    * vector, the API's actual call shape. */
  private def annSearch(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val corpus = plantedEmbeddings(s, d)
    val q = corpus.filter(col("vec_id") === 0).select("e")
      .head.getSeq[Double](0).toArray
    graft.query.AnnLsh.searchMulti(
        corpus.filter(col("vec_id") =!= 0), "vec_id", "e", q,
        k = 4, dim = 64, nBits = 16, nTables = 8, probeRadius = 1)
      .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  private val annSearchSql =
    plantedCte + ", " +
    "q AS (SELECT e AS qe FROM planted WHERE vec_id = 0), " +
    "sc AS (SELECT p.vec_id, " +
    "sum(p.e[i] * q.qe[i]) AS d, " +
    "sum(p.e[i] * p.e[i]) AS na, " +
    "sum(q.qe[i] * q.qe[i]) AS nb " +
    "FROM planted p, q, range(1, 65) t(i) " +
    "WHERE p.vec_id <> 0 GROUP BY 1) " +
    "SELECT vec_id, round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc " +
    "ORDER BY d / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 4"

  /** Product quantization encode (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search") — the compression
    * behind billion-scale ANN indexes: the 64-dim space splits into 8
    * subspaces of 8 dims; each subvector encodes to its nearest
    * sub-codebook entry, so a vector stores as 8 small codes (64×
    * smaller than float32 at code-book size 256). Codebook here: the
    * per-label centroids ([[labelCentroids]], the same deterministic
    * coarse quantizer the IVF/k-means rows use) sliced per subspace —
    * training a real codebook is [[pqTrain]]. Output: one row per
    * (vector, subspace) with the chosen code and the residual
    * distance — the values an ADC (asymmetric distance) search reads.
    *
    * Scale shape: the codebook (k×dim doubles) broadcasts into an
    * equi-join on `sub`; the argmin is [[KMeans.assign]]'s L2 form, a
    * `min(struct(d2, code))` hash aggregate over (vec_id, sub) —
    * map-side partial, k-row groups, never a per-key window sort. */
  private def pqEncode(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    pqAssign(subvectors(emb), sliced(labelCentroids(emb)))
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("cluster").cast("int").as("code"),
        round(sqrt(col("d2")), 4).as("sub_dist"))
      .orderBy("vec_id", "sub")
  }

  /** ADC (asymmetric distance) top-k over the PQ codes — the search
    * half of [[pqEncode]]: the query stays un-quantized, every corpus
    * vector is represented ONLY by its 8 codes, and the distance is
    * the sum of query-subvector-to-codebook-entry residuals. At index
    * scale this is the point of PQ: the scan touches 8 small codes
    * per vector (not 64 floats), the per-(query, code) distance table
    * is k×8 values computed once and broadcast with the codebook, and
    * the ranking is a TakeOrderedAndProject. Approximate by nature —
    * but DETERMINISTIC given the codebook, so the oracle recomputes
    * the same ADC math and the row is hash-exact (the approximation
    * error vs exact cosine is the documented trade, not drift). */
  private def pqAdcTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // materialize the k-row codebook ONCE: it feeds two broadcasts
    // (code assignment + ADC lookup), and without the cut each would
    // re-run the full corpus posexplode + aggregation lineage — the
    // q_semantic_dedup double-compute this round removed elsewhere
    val cb = sliced(labelCentroids(emb)).localCheckpoint()
    val q = query0(emb)
    pqAssign(subvectors(emb), cb)
      .join(broadcast(cb), Seq("sub", "cluster"))
      .crossJoin(broadcast(q))
      .withColumn("qd2", sqd(expr("slice(qe, sub * 8 + 1, 8)"), col("cvec")))
      .groupBy("vec_id").agg(sum("qd2").as("adc"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(sqrt(col("adc")), 4).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(5)
  }

  /** TRAINED per-subspace PQ codebooks — L2 Lloyd rounds
    * ([[KMeans.train]] with `part = sub`: one independent k-means per
    * subspace, Jégou et al. 2011 §II), replacing the per-label-mean
    * stand-in [[pqEncode]] uses: k codewords per 8-dim subspace,
    * seeded deterministically (code = vec_id mod k) so the gate row
    * and its unrolled DuckDB oracle run the identical computation.
    * Returns (codebook (sub, c_code, cvec — 8-dim), codes (vec_id,
    * sub, code, d2)) with the codes assigned against the LAST round's
    * centroids. */
  private[graft] def pqTrain(emb: DataFrame, k: Int, iters: Int,
      vecCol: String = "embedding", nSub: Int = 8, subDim: Int = 8)
      : (DataFrame, DataFrame) = {
    val (cent, codes) = KMeans.train(pqSeeded(emb, k, vecCol, nSub, subDim),
      Seq("vec_id", "sub"), "seed", iters, KMeans.L2, vecCol = "sv",
      part = Seq("sub"))
    (cent.withColumnRenamed("cluster", "c_code"),
      codes.withColumnRenamed("cluster", "code"))
  }

  /** [[pqTrain]]'s codebook alone ([[KMeans.fit]]). */
  private[graft] def pqCodebook(emb: DataFrame, k: Int, iters: Int,
      vecCol: String = "embedding", nSub: Int = 8, subDim: Int = 8)
      : DataFrame =
    KMeans.fit(pqSeeded(emb, k, vecCol, nSub, subDim),
        Seq("vec_id", "sub"), "seed", iters, KMeans.L2, vecCol = "sv",
        part = Seq("sub"))
      .withColumnRenamed("cluster", "c_code")

  private def pqSeeded(emb: DataFrame, k: Int, vecCol: String, nSub: Int,
      subDim: Int): DataFrame =
    subvectors(emb, vecCol, nSub, subDim)
      .withColumn("seed", (col("vec_id") % k).cast("int"))

  /** ADC top-k against a TRAINED codebook ([[pqTrain]]'s output): the
    * per-(sub, code) query-to-codeword distance table is 8·k values
    * computed on the broadcast codebook; the corpus side touches ONLY
    * the 8 codes per vector (never the floats — the point of PQ at
    * index scale), sums them in a hash aggregate and ranks with
    * TakeOrderedAndProject. Used by `PqSpec` to measure ADC recall@k
    * against the exact ranking (docs/ann_recall.md). */
  private[graft] def adcDistances(codes: DataFrame, cent: DataFrame,
      q: Array[Double]): DataFrame = {
    VectorFunctions.register(cent.sparkSession)
    val qd = cent.withColumn("qe", typedLit(q))
      .withColumn("qd2", sqd(expr("slice(qe, sub * 8 + 1, 8)"), col("cvec")))
      .select(col("sub"), col("c_code").as("code"), col("qd2"))
    codes.join(broadcast(qd), Seq("sub", "code"))
      .groupBy("vec_id").agg(sum("qd2").as("adc"))
      .select(col("vec_id"), sqrt(col("adc")).as("adc_dist"))
  }

  private[graft] def adcTopkWith(codes: DataFrame, cent: DataFrame,
      q: Array[Double], topK: Int): DataFrame =
    adcDistances(codes, cent, q)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)

  /** IVF + PQ composed search — the IVFADC architecture (Jégou et al.
    * 2011 §III, the billion-scale FAISS index shape), now FULLY
    * trained (round-11 item 3): the coarse quantizer is the 2-round
    * Lloyd index of [[trainedCoarse]] — candidates are the vectors
    * ASSIGNED to the 2 probed trained cells (equi-join on the trained
    * cluster id) — and the fine ranking is ADC over the TRAINED
    * sub-codebooks ([[pqTrain]]); the probed scan touches only the 8
    * small codes per candidate, never the floats. Scale shape: probe
    * = broadcast k-row trained-centroid table + TakeOrdered(2);
    * candidate cut = broadcast semi-join on the probed assignment;
    * ADC = broadcast 8·k lookup + hash aggregate; final top-5 ranks
    * on the ROUNDED distance with id tiebreaks (cross-engine stable,
    * like `q_pq_adc_topk`). Deterministic given the fixed seeds, so
    * the oracle recomputes identical math (both trainings unrolled as
    * CTEs) and the approximate search is hash-exact. */
  private def ivfPqSearch(s: SparkSession, d: String): DataFrame =
    ivfPqSearchOn(s, Tables.embeddings(s, d))

  /** [[ivfPqSearch]] parameterized over the corpus (needs `vec_id`,
    * `embedding`, and a `label` seed column) so `IvfTrainedSpec` can
    * measure raw-vs-residual recall on the CLUSTERED planted fixture
    * with the identical code the gate row runs. */
  private[graft] def ivfPqSearchOn(s: SparkSession, emb: DataFrame,
      nProbe: Int = 2, pqK: Int = 4, topK: Int = 5): DataFrame = {
    VectorFunctions.register(s)
    val q = query0(emb)
    // ONE driver-side row — the user-supplied query vector
    val qArr = q.head.getSeq[Double](0).toArray
    val (centC, asgC) = trainedCoarse(s, emb)
    val candIds = asgC
      .join(broadcast(probe(centC, q, nProbe, tieDecimals = 9)), "cluster")
      .select("vec_id")
    val (centT, codes) = pqTrain(emb, k = pqK, iters = 2)
    adcDistances(
        codes.join(candIds, Seq("vec_id"), "left_semi")
          .filter(col("vec_id") =!= 0),
        centT, qArr)
      .select(col("vec_id"), round(col("adc_dist"), 4).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  private val ivfPqSearchSql =
    "WITH pts AS (SELECT vec_id, sub, j, embedding[sub * 8 + j]::DOUBLE AS x " +
    "FROM embeddings, range(0, 8) t(sub), range(1, 9) u(j)), " +
    "c1 AS (SELECT sub, vec_id % 4 AS code, j, avg(x) AS m " +
    "FROM pts GROUP BY 1, 2, 3), " +
    "d1 AS (SELECT p.vec_id, p.sub, c.code, " +
    "sum((p.x - c.m) * (p.x - c.m)) AS d2 " +
    "FROM pts p JOIN c1 c ON c.sub = p.sub AND c.j = p.j GROUP BY 1, 2, 3), " +
    "a1 AS (SELECT vec_id, sub, code FROM d1 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) = 1), " +
    "c2 AS (SELECT p.sub, a.code, p.j, avg(p.x) AS m " +
    "FROM pts p JOIN a1 a ON a.vec_id = p.vec_id AND a.sub = p.sub " +
    "GROUP BY 1, 2, 3), " +
    "d2t AS (SELECT p.vec_id, p.sub, c.code, " +
    "sum((p.x - c.m) * (p.x - c.m)) AS d2 " +
    "FROM pts p JOIN c2 c ON c.sub = p.sub AND c.j = p.j GROUP BY 1, 2, 3), " +
    "codes AS (SELECT vec_id, sub, code FROM d2t " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) = 1), " +
    coarseTrainCte + ", " +
    "qd AS (SELECT c2.sub, c2.code, " +
    "sum((q.qe[c2.sub * 8 + c2.j]::DOUBLE - c2.m) * " +
    "(q.qe[c2.sub * 8 + c2.j]::DOUBLE - c2.m)) AS qd2 " +
    "FROM c2, q GROUP BY 1, 2), " +
    "adc AS (SELECT c.vec_id, sum(qd.qd2) AS d2 FROM codes c " +
    "JOIN qd ON qd.sub = c.sub AND qd.code = c.code " +
    "JOIN cand ON cand.vec_id = c.vec_id " +
    "WHERE c.vec_id <> 0 GROUP BY 1) " +
    "SELECT vec_id, round(sqrt(d2), 4) AS adc_dist FROM adc " +
    "ORDER BY adc_dist, vec_id LIMIT 5"

  /** RESIDUAL IVFADC — the textbook Jégou et al. 2011 §III encoding
    * the raw-vector [[ivfPqSearch]] approximates: PQ trains on the
    * RESIDUALS x − c(x) (each vector minus its trained coarse
    * centroid), which are what PQ can actually compress well once the
    * coarse quantizer has absorbed the between-cell variance, and the
    * ADC lookup table is built per PROBED CELL from the query's own
    * residual q − c_cell. Scale shape: residuals are one equi-join of
    * the assignment against the k-row centroid table + scan-stage
    * zip_with; the per-cell query-residual table is nProbe rows; the
    * qd lookup is nProbe·8·k values (a bounded broadcast BNLJ of the
    * 2-row cell table against the 8·k codebook — allowlisted); the
    * candidate scan still touches only 8 codes per vector. All
    * trainings deterministic, so the DuckDB oracle unrolls coarse +
    * residual-PQ training and the row is hash-exact. */
  private def ivfPqResidual(s: SparkSession, d: String): DataFrame =
    ivfPqResidualOn(s, Tables.embeddings(s, d))

  /** [[ivfPqResidual]] parameterized over the corpus (the
    * [[ivfPqSearchOn]] twin) for the clustered-recall measurement. */
  private[graft] def ivfPqResidualOn(s: SparkSession, emb: DataFrame,
      nProbe: Int = 2, pqK: Int = 4, topK: Int = 5): DataFrame = {
    VectorFunctions.register(s)
    val q = query0(emb)
    val qArr = q.head.getSeq[Double](0).toArray
    val (centC, asgC) = trainedCoarse(s, emb)
    // residuals: x − centroid(assigned cell)
    val resid = asgC.join(centC, Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        expr("zip_with(e, cvec, (a, b) -> a - b)").as("embedding"))
      .localCheckpoint()
    val (centT, codes) = pqTrain(resid, k = pqK, iters = 2)
    val probed = probe(centC, q, nProbe, tieDecimals = 9)
    // per-cell query residual (nProbe rows), then the nProbe·8·k
    // lookup table against the broadcast sub-codebooks
    val qres = probed.join(centC, Seq("cluster"))
      .withColumn("qe", typedLit(qArr.toSeq))
      .select(col("cluster"),
        expr("zip_with(qe, cvec, (a, b) -> a - b)").as("qr"))
    val qd = qres.crossJoin(broadcast(centT))
      .withColumn("qd2", sqd(expr("slice(qr, sub * 8 + 1, 8)"), col("cvec")))
      .select(col("cluster"), col("sub"), col("c_code").as("code"), col("qd2"))
    codes
      .join(asgC.select("vec_id", "cluster"), Seq("vec_id"))
      .filter(col("vec_id") =!= 0)
      .join(broadcast(qd), Seq("cluster", "sub", "code"))
      .groupBy("vec_id").agg(sum("qd2").as("adc"))
      .select(col("vec_id"), round(sqrt(col("adc")), 4).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  private val ivfPqResidualSql =
    "WITH " + coarseTrainCte + ", " +
    // residual points: x − coarse centroid of the assigned cell
    "rpts AS (SELECT e.vec_id, a.cluster, t.sub, u.j, " +
    "e.embedding[t.sub * 8 + u.j]::DOUBLE - k.m AS x " +
    "FROM embeddings e CROSS JOIN range(0, 8) t(sub) CROSS JOIN range(1, 9) u(j) " +
    "JOIN ka2 a ON a.vec_id = e.vec_id " +
    "JOIN kc2 k ON k.c = a.cluster AND k.i = t.sub * 8 + u.j), " +
    // residual-PQ training (2 Lloyd rounds from the vec_id % 4 seed)
    "rc1 AS (SELECT sub, vec_id % 4 AS code, j, avg(x) AS m " +
    "FROM rpts GROUP BY 1, 2, 3), " +
    "rd1 AS (SELECT p.vec_id, p.sub, c.code, " +
    "sum((p.x - c.m) * (p.x - c.m)) AS d2 " +
    "FROM rpts p JOIN rc1 c ON c.sub = p.sub AND c.j = p.j GROUP BY 1, 2, 3), " +
    "ra1 AS (SELECT vec_id, sub, code FROM rd1 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) = 1), " +
    "rc2 AS (SELECT p.sub, a.code, p.j, avg(p.x) AS m " +
    "FROM rpts p JOIN ra1 a ON a.vec_id = p.vec_id AND a.sub = p.sub " +
    "GROUP BY 1, 2, 3), " +
    "rd2 AS (SELECT p.vec_id, p.sub, c.code, " +
    "sum((p.x - c.m) * (p.x - c.m)) AS d2 " +
    "FROM rpts p JOIN rc2 c ON c.sub = p.sub AND c.j = p.j GROUP BY 1, 2, 3), " +
    "rcodes AS (SELECT vec_id, sub, code FROM rd2 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) = 1), " +
    // per-probed-cell query-residual-to-codeword lookup
    "rqd AS (SELECT p.cluster, c.sub, c.code, " +
    "sum((q.qe[c.sub * 8 + c.j]::DOUBLE - k.m - c.m) * " +
    "(q.qe[c.sub * 8 + c.j]::DOUBLE - k.m - c.m)) AS qd2 " +
    "FROM probe p JOIN kc2 k ON k.c = p.cluster " +
    "JOIN rc2 c ON k.i = c.sub * 8 + c.j, q GROUP BY 1, 2, 3), " +
    "adc AS (SELECT rc.vec_id, sum(rqd.qd2) AS d2 FROM rcodes rc " +
    "JOIN ka2 a ON a.vec_id = rc.vec_id " +
    "JOIN rqd ON rqd.cluster = a.cluster AND rqd.sub = rc.sub " +
    "AND rqd.code = rc.code " +
    "WHERE rc.vec_id <> 0 GROUP BY 1) " +
    "SELECT vec_id, round(sqrt(d2), 4) AS adc_dist FROM adc " +
    "ORDER BY adc_dist, vec_id LIMIT 5"

  /** [[pqTrain]] under the gate: k = 4, 2 Lloyd rounds from the
    * deterministic seed, hash-checked code-by-code against the same
    * computation unrolled as a DuckDB CTE — so the TRAINED quantizer
    * path (not just the per-label stand-in of [[pqEncode]]) is
    * oracle-verified. */
  private def pqTrainQ(s: SparkSession, d: String): DataFrame = {
    val (_, codes) = pqTrain(Tables.embeddings(s, d), k = 4, iters = 2)
    codes.select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("code").cast("int").as("code"),
        round(sqrt(col("d2")), 4).as("sub_dist"))
      .orderBy("vec_id", "sub")
  }

  private val pqTrainSql =
    "WITH pts AS (SELECT vec_id, sub, j, embedding[sub * 8 + j]::DOUBLE AS x " +
    "FROM embeddings, range(0, 8) t(sub), range(1, 9) u(j)), " +
    "c1 AS (SELECT sub, vec_id % 4 AS code, j, avg(x) AS m " +
    "FROM pts GROUP BY 1, 2, 3), " +
    "d1 AS (SELECT p.vec_id, p.sub, c.code, " +
    "sum((p.x - c.m) * (p.x - c.m)) AS d2 " +
    "FROM pts p JOIN c1 c ON c.sub = p.sub AND c.j = p.j GROUP BY 1, 2, 3), " +
    "a1 AS (SELECT vec_id, sub, code FROM d1 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) = 1), " +
    "c2 AS (SELECT p.sub, a.code, p.j, avg(p.x) AS m " +
    "FROM pts p JOIN a1 a ON a.vec_id = p.vec_id AND a.sub = p.sub " +
    "GROUP BY 1, 2, 3), " +
    "d2t AS (SELECT p.vec_id, p.sub, c.code, " +
    "sum((p.x - c.m) * (p.x - c.m)) AS d2 " +
    "FROM pts p JOIN c2 c ON c.sub = p.sub AND c.j = p.j GROUP BY 1, 2, 3) " +
    "SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code, " +
    "round(sqrt(d2), 4) AS sub_dist FROM d2t " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) = 1 " +
    "ORDER BY vec_id, sub"

  /** Per-label centroid L2 norm (the IVF coarse-quantizer statistic). */
  private def centroidNorm(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    labelCentroids(Tables.embeddings(s, d))
      .select(col("cluster").as("label"),
        round(sqrt(dot(col("cvec"), col("cvec"))), 4).as("centroid_norm"))
      .orderBy("label")
  }

  /** Vector norms — scan-side feature extraction over the array column. */
  private def vectorNorms(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        round(sqrt(dot(asDouble(col("embedding")), asDouble(col("embedding")))), 4)
          .as("l2_norm"))
      .orderBy("vec_id")
  }

  /** Int8-quantized retrieval: score = Σ round(64·xᵢ)·round(64·qᵢ) —
    * the production quantized-dot-product index shape (4× memory cut,
    * SIMD-friendly int math), and on the GATE the reason is hash
    * stability: the score is a pure INTEGER, so the top-10 ranking
    * cannot flip on float summation order across engines or
    * partitionings (cosine rows need the round+0.0 normalization;
    * this one needs nothing). Quantization is scan-stage `transform`,
    * the query vector a 1-row broadcast, the top-10 a
    * TakeOrderedAndProject. */
  private def int8Topk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val quant = "transform(embedding, x -> cast(round(x * 64) as bigint))"
    val q = emb.filter(col("vec_id") === 7).select(expr(quant).as("qq"))
    emb.filter(col("vec_id") =!= 7)
      .select(col("vec_id"), expr(quant).as("eq"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        expr("aggregate(zip_with(eq, qq, (a, b) -> a * b), 0L, " +
          "(acc, v) -> acc + v)").as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  val all: Seq[Q] = Seq(
    Q("q_int8_topk", int8Topk, Some(
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7) " +
      "SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, len(embedding)), " +
      "i -> CAST(round(embedding[i] * 64) AS BIGINT) * CAST(round(qe[i] * 64) AS BIGINT))) AS BIGINT) AS score " +
      "FROM embeddings, q WHERE vec_id <> 7 " +
      "ORDER BY score DESC, vec_id LIMIT 10")),
    Q("q_matryoshka_topk", matryoshkaTopk, Some(
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
      "pr AS (SELECT e.vec_id, " +
      "round(sum(e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE) / " +
      "(sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) * " +
      "sqrt(sum(q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))), 4) + 0.0 AS cos_pref " +
      "FROM embeddings e, q, range(1, 17) t(i) GROUP BY e.vec_id), " +
      "cand AS (SELECT vec_id, cos_pref FROM pr ORDER BY cos_pref DESC, vec_id LIMIT 50), " +
      "sc AS (SELECT e.vec_id, c.cos_pref, " +
      "sum(e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE) AS dd, " +
      "sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS na, " +
      "sum(q.qe[i]::DOUBLE * q.qe[i]::DOUBLE) AS nb " +
      "FROM embeddings e JOIN cand c USING (vec_id), q, range(1, 65) t(i) " +
      "GROUP BY e.vec_id, c.cos_pref) " +
      "SELECT vec_id, cos_pref, round(dd / (sqrt(na) * sqrt(nb)), 4) + 0.0 AS cos_sim " +
      "FROM sc ORDER BY cos_sim DESC, vec_id LIMIT 10")),
    Q("q_cosine_topk", cosineTopk, Some(
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
      "sc AS (SELECT e.vec_id, " +
      "sum(e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE) AS d, " +
      "sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS na, " +
      "sum(q.qe[i]::DOUBLE * q.qe[i]::DOUBLE) AS nb " +
      "FROM embeddings e, q, range(1, 65) t(i) GROUP BY e.vec_id) " +
      "SELECT vec_id, round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc " +
      "ORDER BY cos_sim DESC, vec_id LIMIT 10"),
      headline = true),
    Q("q_embed_neardup", embedNeardup, Some(
      "WITH sc AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
      "sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS d, " +
      "sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE) AS na, " +
      "sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS nb " +
      "FROM embeddings a, embeddings b, range(1, 65) t(i) " +
      "WHERE a.vec_id < b.vec_id GROUP BY 1, 2) " +
      "SELECT va, vb, round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc " +
      "WHERE d / (sqrt(na) * sqrt(nb)) >= 0.5 ORDER BY va, vb"),
      slope = true),
    Q("q_embed_neardup_lsh", embedNeardupLsh, Some(
      "WITH sc AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
      "sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS d, " +
      "sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE) AS na, " +
      "sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS nb " +
      "FROM embeddings a, embeddings b, range(1, 65) t(i) " +
      "WHERE a.vec_id < b.vec_id GROUP BY 1, 2) " +
      "SELECT va, vb, round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc " +
      "WHERE d / (sqrt(na) * sqrt(nb)) >= 0.5 ORDER BY va, vb"),
      headline = true),
    Q("q_embed_neardup_planted_exact", embedNeardupPlantedExact,
      Some(plantedPairsSql), slope = true),
    Q("q_embed_neardup_planted", embedNeardupPlanted,
      Some(plantedPairsSql), headline = true),
    Q("q_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    Q("q_ivf_topk", ivfTopk, Some(
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
      "cent AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS m " +
      "FROM embeddings, range(1, 65) t(i) GROUP BY label, i), " +
      "cdist AS (SELECT label, sum(m * q.qe[i]::DOUBLE) / " +
      "(sqrt(sum(m * m)) * sqrt(sum(q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))) AS c " +
      "FROM cent, q GROUP BY label), " +
      "probe AS (SELECT label FROM cdist ORDER BY c DESC, label LIMIT 2), " +
      "sc AS (SELECT e.vec_id, " +
      "sum(e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE) AS d, " +
      "sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS na, " +
      "sum(q.qe[i]::DOUBLE * q.qe[i]::DOUBLE) AS nb " +
      "FROM embeddings e JOIN probe USING (label), q, range(1, 65) t(i) " +
      "GROUP BY e.vec_id) " +
      "SELECT vec_id, round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc " +
      "ORDER BY cos_sim DESC, vec_id LIMIT 5")),
    Q("q_ivf_trained", ivfTrained, Some(ivfTrainedSql)),
    Q("q_vec_quantize", vecQuantize, Some(
      "WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings), " +
      "m AS (SELECT vec_id, e, list_min(e) AS lo, list_max(e) - list_min(e) AS span FROM v), " +
      "q AS (SELECT vec_id, e, list_transform(e, " +
      "x -> lo + floor((x - lo) / span * 255 + 0.5) * span / 255.0) AS deq FROM m), " +
      "s AS (SELECT vec_id, " +
      "list_sum(list_transform(range(1, 65), i -> (e[i] - deq[i]) * (e[i] - deq[i]))) AS errsq, " +
      "list_sum(list_transform(e, x -> x * x)) AS normsq FROM q) " +
      "SELECT vec_id, round(sqrt(errsq) / sqrt(normsq), 6) AS rel_l2_err FROM s ORDER BY vec_id")),
    Q("q_kmeans_step", kmeansStep, Some(
      "WITH cent AS (SELECT label AS c_label, i, avg(embedding[i]::DOUBLE) AS m " +
      "FROM embeddings, range(1, 65) t(i) GROUP BY label, i), " +
      "sc AS (SELECT e.vec_id, e.label, c.c_label, " +
      "sum(e.embedding[c.i]::DOUBLE * c.m) / " +
      "(sqrt(sum(e.embedding[c.i]::DOUBLE * e.embedding[c.i]::DOUBLE)) * sqrt(sum(c.m * c.m))) AS c " +
      "FROM embeddings e, cent c GROUP BY 1, 2, 3) " +
      "SELECT vec_id, label, c_label AS new_label, round(c, 4) AS sim FROM sc " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, c_label) = 1 " +
      "ORDER BY vec_id")),
    Q("q_knn_graph", knnGraph, Some(
      "WITH sc AS (SELECT a.vec_id, b.vec_id AS nbr, " +
      "sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS d, " +
      "sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE) AS na, " +
      "sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS nb " +
      "FROM embeddings a, embeddings b, range(1, 65) t(i) " +
      "WHERE a.vec_id <> b.vec_id GROUP BY 1, 2) " +
      "SELECT vec_id, nbr, CAST(rank AS INT) AS rank, cos_sim FROM (" +
      "SELECT vec_id, nbr, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY d / (sqrt(na) * sqrt(nb)) DESC, nbr) AS rank, " +
      "round(d / (sqrt(na) * sqrt(nb)), 4) AS cos_sim FROM sc) r " +
      "WHERE rank <= 3 ORDER BY vec_id, rank")),
    Q("q_kmeans_run", kmeansRun, Some(kmeansRunSql)),
    Q("q_knn_graph_bucketed", knnGraphBucketedQ, Some(knnPlantedSql)),
    Q("q_ann_search", annSearch, Some(annSearchSql)),
    Q("q_pq_encode", pqEncode, Some(
      "WITH cb AS (SELECT label, CAST((i - 1) // 8 AS INT) AS sub, i, " +
      "avg(embedding[i]::DOUBLE) AS m " +
      "FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2, 3), " +
      "d AS (SELECT e.vec_id, cb.label, cb.sub, " +
      "sum((e.embedding[cb.i]::DOUBLE - cb.m) * (e.embedding[cb.i]::DOUBLE - cb.m)) AS d2 " +
      "FROM embeddings e, cb GROUP BY 1, 2, 3) " +
      "SELECT vec_id, sub, CAST(label AS INT) AS code, " +
      "round(sqrt(d2), 4) AS sub_dist FROM d " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, label) = 1 " +
      "ORDER BY vec_id, sub")),
    Q("q_pq_adc_topk", pqAdcTopk, Some(
      "WITH cb AS (SELECT label, CAST((i - 1) // 8 AS INT) AS sub, i, " +
      "avg(embedding[i]::DOUBLE) AS m " +
      "FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2, 3), " +
      "d AS (SELECT e.vec_id, cb.label, cb.sub, " +
      "sum((e.embedding[cb.i]::DOUBLE - cb.m) * (e.embedding[cb.i]::DOUBLE - cb.m)) AS d2 " +
      "FROM embeddings e, cb GROUP BY 1, 2, 3), " +
      "codes AS (SELECT vec_id, sub, label AS code FROM d " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, label) = 1), " +
      "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
      "adc AS (SELECT c.vec_id, " +
      "sum((q.qe[cb.i]::DOUBLE - cb.m) * (q.qe[cb.i]::DOUBLE - cb.m)) AS d2 " +
      "FROM codes c JOIN cb ON cb.label = c.code AND cb.sub = c.sub, q " +
      "GROUP BY 1) " +
      "SELECT vec_id, round(sqrt(d2), 4) AS adc_dist FROM adc " +
      "WHERE vec_id <> 0 ORDER BY adc_dist, vec_id LIMIT 5")),
    Q("q_pq_train", pqTrainQ, Some(pqTrainSql)),
    Q("q_ivfpq_search", ivfPqSearch, Some(ivfPqSearchSql)),
    Q("q_ivfpq_residual", ivfPqResidual, Some(ivfPqResidualSql)),
    Q("q_centroid_norm", centroidNorm, Some(
      "WITH dims AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS m " +
      "FROM embeddings, range(1, 65) t(i) GROUP BY label, i) " +
      "SELECT label, round(sqrt(sum(m * m)), 4) AS centroid_norm FROM dims " +
      "GROUP BY label ORDER BY label")),
    Q("q_vector_norms", vectorNorms, Some(
      "WITH n AS (SELECT vec_id, label, sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS nn " +
      "FROM embeddings, range(1, 65) t(i) GROUP BY vec_id, label) " +
      "SELECT vec_id, label, round(sqrt(nn), 4) AS l2_norm FROM n ORDER BY vec_id")),
  )
}
