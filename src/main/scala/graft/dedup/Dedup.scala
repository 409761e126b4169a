package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-level deduplication API — the operator a training-data
  * pipeline calls on a 100 TB document table. All methods return
  * DataFrames and never collect; the survivor rule is deterministic
  * (smallest id wins) so reruns are stable.
  *
  * Strategy layering, cheapest first:
  *  1. [[exact]] — one hash-groupBy over content digests;
  *  2. [[lshCandidates]] — MinHash+LSH banding: signatures are built
  *     row-locally, only 32-char band digests shuffle (into the bucket
  *     join), candidate recall tunable via (k, rowsPerBand);
  *  3. [[nearDupPairs]] — exact shingle-Jaccard verification, run on
  *     the full corpus here but intended to be fed LSH candidates at
  *     scale (verify-what-you-bucket, never all-pairs).
  */
object Dedup {

  /** Exact dedup: keep the smallest-id row per distinct content.
    * Survivors join back to the full rows (no wide shuffle of the
    * payload — only (digest, id) pairs move). NULL contents form one
    * group (all-null rows dedup to a single survivor). */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val keepers = df
      .select(col(idCol), md5(col(contentCol)).as("graft_h"))
      .groupBy("graft_h")
      .agg(min(idCol).as(idCol))
      .select(idCol)
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** MinHash+LSH candidate duplicate pairs (id_a < id_b). */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    TextFunctions.lshCandidatePairs(
      lshIndex(df, idCol, textCol, shingleN, k, rowsPerBand), idCol)

  /** The corpus's LSH band-signature table — the PERSISTED index an
    * incremental pipeline stores (snapshot/bucket it on (band, sig))
    * so later increments never re-read corpus text. One row per
    * (idCol, band) with the 32-char band digest; append an
    * increment's own index rows after admitting it. Row-local
    * ([[TextFunctions.lshBands]]): building it plans no exchange. */
  def lshIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    TextFunctions.lshBands(df, idCol, textCol, shingleN, k, rowsPerBand)

  /** Incremental near-dup: candidate pairs between a NEW increment and
    * an EXISTING corpus represented ONLY by its stored [[lshIndex]]
    * table. The daily-crawl shape at corpus scale: signature work is
    * O(|increment|) — the corpus side is a table scan of 40-byte index
    * rows, its text never re-read, never re-shingled — and the match
    * is an equi-join on (band, sig), broadcastable whenever the
    * increment is small. Returns (new_id, corpus_id) distinct; run
    * jaccard/edit-distance verification on survivors, and append the
    * increment's index rows for the next increment. Same recall
    * semantics as [[lshCandidates]] restricted to cross pairs. */
  def incrementalLsh(newDocs: DataFrame, idCol: String, textCol: String,
      corpusIndex: DataFrame, shingleN: Int = 3, k: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    val newBands = lshIndex(newDocs, idCol, textCol, shingleN, k, rowsPerBand)
    newBands.select(col(idCol).as("new_id"), col("band"), col("sig"))
      .join(corpusIndex.select(col(idCol).as("corpus_id"),
        col("band"), col("sig")), Seq("band", "sig"))
      .select("new_id", "corpus_id")
      .distinct()
  }

  /** Default document-frequency ceiling for shingle posting lists: a
    * shingle shared by more than this many documents is a
    * stop-shingle — it carries ~no dedup signal but quadratic pair
    * cost (see [[TextFunctions.jaccardPairs]]'s scale note). Capping
    * is recall-only (Jaccard can only be underestimated, never
    * overestimated), so it is ON by default for the corpus-level API. */
  val DefaultMaxDf: Int = 1000

  /** Exact shingle-Jaccard near-duplicate pairs ≥ threshold.
    *
    * `hashShingles` (default on): replace each shingle string with its
    * xxhash64 before the prefix-index shuffle, so the wide exchange
    * moves 8-byte longs instead of raw n-gram text — at corpus scale
    * the shuffle is the cost, and text must never leave the scan
    * stage. A 64-bit collision would merge two shingles' posting
    * lists; at 10^9 distinct shingles the probability of ANY collision
    * is ~3·10^-2 per corpus and each one perturbs a single pair count
    * by 1 — acceptable for dedup, switchable off for exact-oracle
    * comparisons. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      maxDf: Int = DefaultMaxDf, hashShingles: Boolean = true): DataFrame = {
    val sh0 = TextFunctions.shingles(df, idCol, textCol, shingleN)
    val sh = if (hashShingles)
      sh0.select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    else sh0
    TextFunctions.jaccardPairs(sh, idCol, threshold, maxDf)
  }

  /** Full near-dedup: drop every document that is the larger id of a
    * verified near-duplicate pair (transitively this keeps at least
    * one representative per duplicate cluster). */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = DefaultMaxDf): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, threshold, maxDf = maxDf)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cluster-exact near-dedup: connected components over the verified
    * pair graph, keeping exactly the min-id document per cluster —
    * a chain a~b~c (where a,c were never directly compared) still
    * collapses to one survivor. */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = DefaultMaxDf): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, maxDf = maxDf)
    val comps = graft.query.ConnectedComponents.run(pairs, "id_a", "id_b")
    // non-minimal members of each component are the losers
    val losers = comps.filter(col("vertex") =!= col("component"))
      .select(col("vertex").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Substring-overlap candidate pairs via winnowing fingerprints
    * ([[TextFunctions.winnowMins]] over the same rolling window-hash
    * pipeline as the catalog's q_winnow): documents sharing any
    * selected fingerprint are candidates — the guarantee is
    * structural, any shared run of ≥ w+k-1 tokens yields a common
    * fingerprint, so recall on long verbatim overlaps is 1.0 (unlike
    * shingle-set LSH, which targets whole-document similarity).
    * Only (fingerprint, id) longs shuffle. `maxDf` caps hot
    * fingerprints exactly like the Jaccard posting lists. */
  def winnowCandidates(hashed: DataFrame, idCol: String,
      w: Int = 4, maxDf: Int = DefaultMaxDf): DataFrame = {
    val fps = hashed.select(col(idCol),
      explode(TextFunctions.winnowMins(col("whs"), w)).as("fp"))
    val a = fps.select(col(idCol).as("id_a"), col("fp"))
    val b = fps.select(col(idCol).as("id_b"), col("fp"))
    val kept = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    a.join(kept, "fp").join(b, "fp")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs via multi-table SRP-LSH
    * bucketing + exact cosine verification — the 100 TB replacement for
    * the all-pairs cross join ([[graft.operators.VectorQueries]] keeps
    * the exact form as the small-scale oracle baseline).
    *
    * Shape: one scan pass hashes every vector into `nTables`
    * sign-random-projection buckets ([[graft.query.AnnLsh
    * .bucketedMulti]]); candidates are pairs colliding in ANY table —
    * an equi self-join on (table, bucket), never a cartesian product —
    * then each candidate is verified with the exact codegen'd dot.
    * Norms are precomputed per vector (linear) before the pair stage.
    *
    * Recall: a pair at angle θ is missed with probability
    * (1 - (1 - θ/π)^nBits)^nTables. The defaults (4 bits × 24 tables)
    * hold that under 0.5% even at cosine 0.5 (θ=60°); at the
    * thresholds real embedding dedup uses (≥ 0.9) a handful of tables
    * suffices. Fixed seed → deterministic buckets across runs. */
  def embedNearDupBucketed(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, nBits: Int = 4, nTables: Int = 24,
      seed: Long = 42L): DataFrame = {
    val (survivors, release) = embedNearDupBucketedPlan(
      df, idCol, vecCol, threshold, dim, nBits, nTables, seed)
    // Materialize the verified survivor pairs (tiny: actual near-dups)
    // while the signature cache is alive, then release it — same
    // materialize-then-release rule as [[graft.query.BipartiteExpand]];
    // without this the persist outlives the query for the whole
    // session (CacheManager WARN spam on re-calls, and at 100 TB the
    // signature table is a large block to leak).
    val out = graft.query.Checkpoints.cut(survivors)
    release()
    out
  }

  /** Lazy twin of [[embedNearDupBucketed]] (survivor plan + cache
    * release thunk) so `PlanGuardSpec` can pin the equi-join shape —
    * the public form's eager materialization hides the join tree
    * behind a checkpoint-RDD scan. */
  private[graft] def embedNearDupBucketedPlan(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, dim: Int, nBits: Int = 4,
      nTables: Int = 24, seed: Long = 42L): (DataFrame, () => Unit) = {
    val vf = graft.functions.VectorFunctions
    vf.register(df.sparkSession)
    // The vector and its norm ride along with the bucket rows so the
    // exact verify evaluates INLINE on the join output: a candidate
    // pair surviving in several tables costs a few redundant 64-mult
    // dots (cheap, codegen'd) instead of a pre-verify distinct that
    // shuffles millions of pair rows plus two array back-joins — the
    // deduplicating distinct runs on the tiny verified survivor set.
    // Persist the signature table: the candidate stage is a SELF-join,
    // and without materialization Spark recomputes the full scan +
    // bucket pass once per side (measured ~2× the whole query cost).
    // At cluster scale the same role is played by checkpointing the
    // signature table to storage before the join.
    val bk = graft.query.AnnLsh
      .bucketedMulti(
        df.select(col(idCol), col(vecCol).cast("array<double>").as("e"))
          .withColumn("n", sqrt(vf.vecDot(col("e"), col("e")))),
        "e", dim, nBits, nTables, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = bk.select(col(idCol).as("id_a"), col("e").as("ea"),
      col("n").as("na"), col("table"), col("bucket"))
    val b = bk.select(col(idCol).as("id_b"), col("e").as("eb"),
      col("n").as("nb"), col("table"), col("bucket"))
    val survivors = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", vf.vecDot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
      .distinct()
    (survivors, () => { bk.unpersist(); () })
  }

  /** Bloom-prefiltered admission against a reference digest set —
    * EXACT anti-join semantics at a fraction of the join cost.
    *
    * The reference corpus is represented by the distinct BIT POSITIONS
    * its digests set in an m-bit Bloom filter (numHashes positions per
    * digest via seeded xxhash64). That position table is bounded by
    * mBits rows no matter how many digests the reference holds — at
    * 100 TB you broadcast ≤ m ints where broadcasting billions of
    * 16-byte digests is impossible. Each fresh row probes its
    * numHashes positions against the broadcast table:
    *
    *  - any position missing → definitely NOT in the reference
    *    (Bloom filters have no false negatives) → admitted with NO
    *    join against the reference at all;
    *  - all positions present → "maybe" → verified by an exact
    *    left-anti join, which now processes only the tiny
    *    maybe-duplicate slice instead of the whole increment.
    *
    * Because false positives are re-checked exactly, the result is
    * byte-identical to a plain anti-join — the Bloom internals (hash
    * choice, m, k) affect only cost, never the answer, which is what
    * makes the operator oracle-checkable with plain SQL.
    *
    * `fresh` must carry (idCol, digestCol); `ref` carries digestCol.
    * Returns the admitted fresh rows (idCol, digestCol).
    *
    * Sizing: the broadcast bit-position table holds
    * min(mBits, |ref|·numHashes) rows, so `mBits` is capped at 2^30 —
    * past that the broadcast outgrows any practical
    * `spark.sql.autoBroadcastJoinThreshold` while the prefilter's hit
    * rate degrades toward zero (every probe "misses" and the operator
    * silently becomes a plain anti-join plus wasted broadcast). Pick
    * m ≈ 10–20 bits per reference digest; at larger reference sets
    * partition the reference and run per-partition admissions.
    */
  def bloomAdmit(fresh: DataFrame, ref: DataFrame, idCol: String,
      digestCol: String, mBits: Long = 1L << 20,
      numHashes: Int = 3): DataFrame = {
    require(numHashes >= 1 && mBits >= 2, "degenerate Bloom geometry")
    require(mBits <= (1L << 30),
      s"mBits=$mBits exceeds 2^30: the bit-position broadcast would blow " +
        "past any practical autoBroadcastJoinThreshold (see scaladoc sizing note)")
    def position(i: Int, c: Column): Column =
      pmod(xxhash64(lit(i), c), lit(mBits))
    val refBits = ref
      .select(explode(array(
        (0 until numHashes).map(i => position(i, col(digestCol))): _*))
        .as("bloom_pos"))
      .distinct()
    // One broadcast left-join per hash function, all stacked in the
    // scan stage — the fresh side never shuffles; each join only adds
    // a presence flag. (A groupBy-count formulation would re-shuffle
    // the entire increment just to count its own exploded rows.) The
    // build side is the SAME DataFrame wrapped in a per-join alias —
    // not a per-join select — so the three BroadcastExchange subtrees
    // stay canonically identical and ReuseExchange collapses them to
    // ONE scan + distinct of the reference (at corpus scale, re-
    // deriving the bit table per hash would triple the dominant cost).
    val bits = broadcast(refBits.withColumn("bloom_hit", lit(1)))
    val probed = (0 until numHashes).foldLeft(
      fresh.select(col(idCol), col(digestCol))) { (acc, i) =>
      val b = bits.as(s"graft_bloom_$i")
      acc
        .withColumn(s"bloom_pos_$i", position(i, col(digestCol)))
        .join(b, col(s"bloom_pos_$i") === col(s"graft_bloom_$i.bloom_pos"),
          "left")
        .withColumn(s"bloom_hit_$i", col(s"graft_bloom_$i.bloom_hit"))
        .drop(col(s"graft_bloom_$i.bloom_pos"))
        .drop(col(s"graft_bloom_$i.bloom_hit"))
    }
    val allHit = (0 until numHashes)
      .map(i => col(s"bloom_hit_$i").isNotNull)
      .reduce(_ && _)
    val definitelyNew = probed.filter(!allHit).select(idCol, digestCol)
    val maybe = probed.filter(allHit).select(idCol, digestCol)
    val verifiedNew = maybe.join(
      ref.select(col(digestCol)).distinct(), Seq(digestCol), "left_anti")
      .select(idCol, digestCol)
    definitelyNew.unionByName(verifiedNew)
  }
}
