package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable text primitives shared by the query catalog
  * ([[graft.operators.TextQueries]]) and the corpus-level dedup API
  * ([[graft.dedup.Dedup]]), built from `functions._` compositions — no
  * UDFs. MinHash-LSH has one implementation here ([[minhashRows]],
  * [[lshBands]]), used by batch dedup, admission and the streaming
  * near-dup detector alike.
  */
object TextFunctions {

  /** Tokenize: non-whitespace runs (robust to repeated separators). */
  def words(c: Column): Column = regexp_extract_all(c, lit("\\S+"), lit(0))

  /** The portable md5 → (0,1] 48-bit uniform hash — ONE definition for
    * every operator whose cross-engine guarantee depends on Spark and
    * DuckDB drawing the SAME uniform value per key (KMV cardinality
    * and intersection sketches, Bernoulli sampling). `key` is the
    * already-salted string expression to hash. [[unitHashSql]] is the
    * DuckDB twin; change them TOGETHER or the hash-parity operators
    * silently diverge. */
  def unitHash(key: Column): Column =
    (conv(substring(md5(key), 1, 12), 16, 10).cast("long") + 1L)
      .cast("double") / lit(281474976710656.0) // 2^48

  /** DuckDB twin of [[unitHash]]: `expr` is the salted VARCHAR SQL
    * expression to hash. */
  def unitHashSql(expr: String): String =
    s"(CAST('0x' || substr(md5($expr), 1, 12) AS BIGINT) + 1)::DOUBLE " +
      "/ 281474976710656.0"

  /** Distinct word n-gram shingles of a tokens array. */
  def shingleArray(ws: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(ws, i + o)): _*)))

  /** Exploded distinct shingles: (idCol, shingle) rows; documents with
    * fewer than `n` words produce none. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol), explode(shingleArray(col("w"), n)).as("shingle"))

  /** Row-local MinHash, stage 1: (idCol, graft_sh), each row's distinct
    * word `shingleN`-gram shingle array, NULL under `shingleN` words or
    * for NULL text.
    *
    * Plan shape, which decides the cost: every stage is its own
    * projection that references its input more than once, so Catalyst
    * keeps that input a column instead of inlining it into the k
    * lambdas, and no generator explodes a bare column, so Spark infers
    * no `size(...) > 0` filter (it would be pushed below these
    * projections with the whole chain inlined, re-tokenizing per
    * shingle). A row is tokenized and shingled once (`MinHashSpec`). */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame = {
    val w = col("graft_w")
    df.select(col(idCol), words(col(textCol)).as("graft_w"))
      .select(col(idCol),
        when(size(w) >= shingleN, shingleArray(w, shingleN)).as("graft_sh"))
  }

  /** Stage 2: the k keyed-md5 minima of a shingle-array column, element
    * j = the least md5("j|s") over its shingles s (k permutations
    * simulated as keyed md5); NULL for a NULL array. */
  private def minima(sh: Column, k: Int): Column =
    when(sh.isNotNull, array((0 until k).map(j =>
      array_min(transform(sh, s => md5(concat(lit(s"$j|"), s))))): _*))

  /** MinHash rows: (idCol, k INT, mh) — one row per (row, permutation),
    * exploded from the row's minima with no shuffle. Each row is signed
    * on its own: two rows sharing an id give two signatures, and rows
    * with fewer than `shingleN` words give none. */
  def minhashRows(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8): DataFrame =
    shingleSets(df, idCol, textCol, shingleN)
      .select(col(idCol), posexplode(minima(col("graft_sh"), k)).as(Seq("k", "mh")))

  /** LSH band signatures: (idCol, band INT, sig) — band b covers
    * permutations [b·rowsPerBand, (b+1)·rowsPerBand) ∩ [0, k), and its
    * sig is the md5 of those minima joined by "|". Row-local like
    * [[minhashRows]]: no shuffle, so the index a pipeline persists is
    * built in the scan stage. */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val mh = col("graft_mh")
    val sigs = (0 until k by rowsPerBand).map(lo => md5(concat_ws("|",
      (lo until math.min(k, lo + rowsPerBand)).map(j => element_at(mh, j + 1)): _*)))
    shingleSets(df, idCol, textCol, shingleN)
      .select(col(idCol), minima(col("graft_sh"), k).as("graft_mh"))
      .select(col(idCol),
        posexplode(when(mh.isNotNull, array(sigs: _*))).as(Seq("band", "sig")))
  }

  /** Candidate pairs sharing any LSH band bucket: (id_a, id_b). */
  def lshCandidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("id_a"), col("band"), col("sig"))
    val b = bands.select(col(idCol).as("id_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** SimHash bit strings: per document, bit j is the sign of the
    * word-count-weighted vote of bit j across word hashes (bit j =
    * parity of hex char j of md5(word) for j < 32, of
    * md5(word || '#') for j ≥ 32). `bits` ≤ 64.
    *
    * 64 bits is the production default: 16-bit signatures (round 2's
    * parameter) saturate — 65,536 distinct values means every
    * signature is shared by millions of documents at corpus scale and
    * "near-dup" stops meaning anything. The per-word hash is 64
    * ENGINE-PORTABLE parity bits (two md5s), so the DuckDB oracle
    * computes the identical signature. Near-duplicate documents differ
    * in few bit positions (compare via Hamming distance on the
    * fixed-width string). */
  def simhashBits(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64): DataFrame =
    df.select(col(idCol), explode(words(col(textCol))).as("word"))
      .select(col(idCol),
        concat(md5(col("word")), md5(concat(col("word"), lit("#")))).as("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("j"))
      .withColumn("weight",
        (ascii(col("h").substr(col("j") + 1, lit(1))) % 2) * 2 - 1)
      .groupBy(idCol, "j")
      .agg(sum("weight").as("sw"))
      .withColumn("b", when(col("sw") > 0, "1").otherwise("0"))
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("j"), col("b")))),
          x => x.getField("b")), "").as("simhash"))

  /** Winnowing (Schleimer et al., SIGMOD 2003) over a k-gram hash
    * sequence: slide a window of `w` consecutive hashes and keep each
    * window's minimum — any shared substring spanning ≥ w+k-1 tokens
    * is then guaranteed to contribute at least one common fingerprint.
    * Sequences shorter than `w` yield their global minimum (one
    * window). Returns the sorted distinct local-minima array. */
  def winnowMins(hashes: Column, w: Int): Column =
    array_sort(array_distinct(transform(
      sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
      i => array_min(slice(hashes, i, lit(w))))))

  /** Exact shingle-set Jaccard for all pairs ≥ threshold:
    * (id_a, id_b, jaccard).
    *
    * AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07):
    * under any global total order on shingles (here: numeric order of
    * the hashed values), a pair with Jaccard ≥ t must share one of the
    * first |d| − ⌈t·|d|⌉ + 1 elements of EACH document's sorted
    * shingle array — proof: the pair shares o ≥ ⌈t·max(|a|,|b|)⌉
    * elements, so each side has at most |d| − o < prefix-length
    * non-shared elements before its smallest shared one. Candidate
    * pairs therefore generate only from document PREFIXES (~(1−t) of
    * each document), and the verify stage intersects the two sorted
    * per-doc arrays directly. At t = 0.8 this cut the candidate-pair
    * shuffle ~20× vs the full inverted index (1.27M → 65k pair rows at
    * sf0.1) — and at 100 TB that second shuffle IS the cost; this is
    * the standard scale algorithm for threshold joins, not a
    * heuristic (the survivor set is provably identical).
    *
    * `maxDf` is the document-frequency ceiling: shingles appearing in
    * more than `maxDf` documents are dropped from the index (and from
    * the verify arrays) BEFORE any pair work — one stop-shingle in m
    * documents otherwise costs m²/2 pairs, a scale-killer no join
    * shape fixes. The trade is recall-only: per-document sizes stay
    * uncapped, so a dropped shared shingle can only LOWER a computed
    * Jaccard (never manufacture a false positive). Singleton shingles
    * (df = 1) drop too — they cannot be shared, so the intersection is
    * unchanged while prefixes shrink. */
  def jaccardPairs(sh: DataFrame, idCol: String, threshold: Double,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val (survivors, release) = jaccardPairsPlan(sh, idCol, threshold, maxDf)
    // Materialize the (small) survivor set while both caches are
    // alive, then RELEASE them — the materialize-then-release rule
    // from [[graft.query.BipartiteExpand.expand]]. Returning the lazy
    // plan instead would leave both persists registered for the
    // session's lifetime: a pipeline calling this once per corpus
    // accumulates cache entries until eviction pressure (and re-calls
    // spam "Asked to cache already cached data"). `CacheHygieneSpec`
    // pins the CacheManager empty after every dedup/ANN entry point.
    val out = survivors.localCheckpoint()
    release()
    out
  }

  /** The LAZY form of [[jaccardPairs]]: the survivor plan plus a
    * release thunk for its two persists. Exists because the public
    * form materializes eagerly, which replaces the join tree with a
    * checkpoint-RDD scan — `PlanGuardSpec` pins the cartesian-free
    * property on THIS plan, since the materialized one no longer
    * shows it. Callers of the public API never need this. */
  private[graft] def jaccardPairsPlan(sh: DataFrame, idCol: String,
      threshold: Double, maxDf: Int = Int.MaxValue): (DataFrame, () => Unit) = {
    // NOT pre-partitioned on `shingle`, deliberately (round-15
    // measured rejection of the "merge the df-ceiling and doc-array
    // exchanges" idea): persisting `sh.repartition(col("shingle"))` so
    // the df aggregate and the kept-flag join share one exchange
    // regressed every consumer 11-17% in a same-session A/B
    // (q_ngram_jaccard 1.13→1.32 s, q_dedup_clusters 1.85→2.05 s,
    // q_pipeline_e2e ~+5%) — the aggregate's PARTIAL map-side pass
    // shuffles only per-partition distinct shingle counts, far fewer
    // bytes than the raw shingle rows the repartition moves
    // (optimization guide §2.3 "aggregate before you shuffle"), and
    // locally the join side broadcasts `kept` anyway.
    val cached = sh.persist()
    // shared-capable shingles: 2 ≤ df ≤ maxDf
    val kept = cached.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("shingle"), lit(true).as("graft_kept"))
    // ONE wide aggregation builds both verify inputs per doc: the
    // UNCAPPED shingle-set size `sz` (the Jaccard denominator must not
    // shrink under the df-ceiling — recall-only, see above) and the
    // sorted kept-shingle array `ks` (collect_list drops the nulls the
    // left join leaves on non-kept rows). Folding `sz` in here removes
    // a second full-corpus aggregation and two back-joins the previous
    // shape paid. Persisted — it feeds four consumers (both
    // prefix-index sides, both verify back-joins).
    val docArr = cached.join(kept, Seq("shingle"), "left")
      .groupBy(idCol).agg(
        count(lit(1)).as("sz"),
        array_sort(collect_list(when(col("graft_kept"), col("shingle")))).as("ks"))
      .persist()
    // prefix index: first |ks| − ⌈t·|ks|⌉ + 1 elements per doc
    val prefixLen = (size(col("ks"))
      - ceil(lit(threshold) * size(col("ks"))) + 1).cast("int")
    val prefix = docArr.select(col(idCol),
      explode(slice(col("ks"), lit(1), prefixLen)).as("shingle"))
    val cand = prefix.select(col(idCol).as("id_a"), col("shingle"))
      .join(prefix.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val survivors = cand
      .join(docArr.select(col(idCol).as("id_a"), col("ks").as("ka"),
        col("sz").as("sz_a")), "id_a")
      .join(docArr.select(col(idCol).as("id_b"), col("ks").as("kb"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("ka"), col("kb"))))
      .withColumn("jaccard",
        col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (survivors, () => { docArr.unpersist(); cached.unpersist(); () })
  }
}
