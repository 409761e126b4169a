package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.operators.TextQueries

/** The composed end-to-end training-data curation pipeline — the chain
  * a real corpus run ships, assembled from the individually gate-checked
  * stages:
  *
  *   exact dedup → near-dedup clusters → deterministic split →
  *   cross-split decontamination → quality/language filter →
  *   mixture sampling → context-window chunking → sequence packing
  *
  * Every stage is a DataFrame→DataFrame function (no driver-side
  * materialization anywhere in the chain), so the composition inherits
  * each stage's 100 TB posture: only digests / fingerprints / ids cross
  * the wide shuffles (raw text never leaves the scan stages), the
  * near-dedup pair graph is prefix-filtered with a df-ceiling (never
  * all-pairs), split/mixture membership is a salted-hash expression
  * (reproducible on any cluster size and partitioning), and chunking /
  * packing are scan-stage + one narrow window aggregation. The
  * iterative connected-components stage cuts its own lineage and
  * releases its own caches ([[graft.query.ConnectedComponents]],
  * `CacheHygieneSpec` pins the chain cache-clean end to end).
  *
  * Stage semantics are IDENTICAL to the single-stage catalog rows
  * (`q_dedup_exact`, `q_dedup_clusters`, `q_split_assign`,
  * `q_contamination`, `q_lang_id`, `q_quality_score`,
  * `q_mixture_sample`, `q_chunking`, `q_packing`) so the composed
  * gate row `q_pipeline_e2e` hash-checks the HANDOFFS — schema flow,
  * determinism and ordering across stage boundaries — not re-derived
  * per-stage logic.
  */
object Curation {

  /** Tunables for the full chain; defaults match the single-stage
    * catalog rows so the composed oracle stays comparable.
    *
    * `materializeBoundaries` (default on) cuts lineage at the two
    * stage boundaries with multiple downstream consumers — the exact
    * dedup survivors (read by both the shingle pair-graph and the
    * cluster anti-join) and the split-assigned table (read three
    * times by decontamination) — via [[graft.query.Checkpoints.cut]].
    * Without the cut, each consumer re-derives the upstream chain
    * from the raw scan (the formatted plan shows the boundary as one
    * materialized ExistingRDD scanned five times instead). Measured
    * cost-neutral at sf0.1 — the one-time boundary write offsets the
    * saved recompute at a scale where scans are cheap — but at
    * 100 TB the saved work is four extra corpus scans plus their
    * dedup shuffles, while the write cost stays one boundary table.
    * The cut stores the boundary table once (executor-local by
    * default, durable under `spark.graft.checkpointDir` — the same
    * loss-recovery trade documented on [[graft.query.Checkpoints]]).
    * Off = fully lazy single plan, useful when the caller materializes
    * stage outputs itself (e.g. writing each boundary to parquet). */
  final case class Config(
      jaccardThreshold: Double = 0.8,
      shingleN: Int = 3,
      maxDf: Int = 200,
      winnowW: Int = 4,
      keepLang: String = "en",
      minWords: Int = 10,
      maxPunctRatio: Double = 0.3,
      chunkTokens: Int = 64,
      chunkStride: Int = 48,
      packCapacity: Int = 2048,
      materializeBoundaries: Boolean = true)

  private def w(c: Column): Column = TextFunctions.words(c)

  /** md5-derived bucket 0-99 of the doc id under `salt` — the
    * reproducible membership primitive behind splits and mixture
    * sampling (same document → same bucket on every run, any cluster
    * size, any partitioning). */
  private def hashBucket(idCol: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), idCol.cast("string"))), 1, 4), 16, 10)
      .cast("int") % 100

  /** Stage 1 — exact dedup: smallest-id survivor per distinct content
    * (one hash-groupBy; only (digest, id) pairs shuffle). */
  def exactDedup(docs: DataFrame): DataFrame =
    Dedup.exact(docs, "doc_id", "text")

  /** Stage 2 — near-dedup to cluster survivors: verified shingle-Jaccard
    * pairs (prefix-filtered AllPairs join, df-ceiling) → connected
    * components → keep the min-id document per cluster. Shingles take
    * the engine-portable 48-bit md5 hash before the wide shuffle
    * (8-byte longs move instead of n-gram strings — raw text must
    * never leave the scan stage at corpus scale); the composed oracle
    * applies the IDENTICAL hash, so even a collision perturbs both
    * engines the same way (`q_ngram_jaccard`'s scheme). */
  def nearDedupClusters(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val pairs = TextFunctions.jaccardPairs(
      TextFunctions.shingles(docs, "doc_id", "text", cfg.shingleN)
        .select(col("doc_id"),
          conv(substring(md5(col("shingle")), 1, 12), 16, 10).cast("long")
            .as("shingle")),
      "doc_id", cfg.jaccardThreshold, cfg.maxDf)
    val comps = graft.query.ConnectedComponents.run(pairs, "id_a", "id_b")
    val losers = comps.filter(col("vertex") =!= col("component"))
      .select(col("vertex").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Stage 3 — deterministic 80/10/10 split (adds a `split` column). */
  def assignSplits(docs: DataFrame): DataFrame = {
    val b = hashBucket(col("doc_id"), "")
    docs.withColumn("split",
      when(b < 80, "train").when(b < 90, "val").otherwise("test"))
  }

  /** Stage 4 — cross-split decontamination: a TRAIN document sharing any
    * winnowing fingerprint (≥ w+k-1-token verbatim run) with a TEST
    * document is dropped; returns the clean train split. Only
    * (fingerprint, id) longs shuffle; the test index is a distinct
    * build side. */
  def decontaminate(docsWithSplit: DataFrame, cfg: Config = Config()): DataFrame = {
    // Only train (the filtered side) and test (the index side) ever
    // consume fingerprints — restrict BEFORE the tokenize+hash+explode
    // projection so the val split is never fingerprinted. At sf0.01
    // that is 10% of the corpus; at 100 TB it is a full val-corpus
    // scan-stage pass for nothing. Catalyst keeps the split filter
    // below the projection (scan-level predicate on the boundary
    // table), so the trim survives plan optimization.
    val tt = docsWithSplit.filter(col("split").isin("train", "test"))
    // `split` rides IN-ROW through the tokenize+hash projection
    // (windowHashesOf keep-columns) instead of being re-joined: with
    // the join, the split filters of the two consumers below could not
    // push into the fingerprint side, so the full train+test corpus
    // was tokenized + winnowed TWICE — once per branch (measured as
    // the two dominant jobs of the composed pipeline,
    // OPTIMIZATION_r14.md). The fingerprint table is additionally
    // materialized once (narrow: id, split, fp-long) under the same
    // boundary flag as the stage cuts, so both branches SCAN one
    // fingerprint pass; lazy mode keeps the single-plan form.
    val fpsLazy = TextQueries.windowHashesOf(tt, keep = Seq("split"))
      .select(col("doc_id"), col("split"),
        explode(TextFunctions.winnowMins(col("whs"), cfg.winnowW)).as("fp"))
    val fps =
      if (cfg.materializeBoundaries)
        graft.query.Checkpoints.cut(fpsLazy)
      else fpsLazy
    val testFp = fps.filter(col("split") === "test").select("fp").distinct()
    val contaminated = fps.filter(col("split") === "train")
      .join(testFp, "fp").select("doc_id").distinct()
    docsWithSplit.filter(col("split") === "train")
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Stage 5 — quality/language filter: keep documents whose predicted
    * language (stopword-vote heuristic, fixed en > es > de > fr
    * priority — same classifier as `q_lang_id`) equals `cfg.keepLang`,
    * with at least `minWords` tokens and punctuation ratio at most
    * `maxPunctRatio`. The ratio stays UNROUNDED: both engines divide
    * the same two ints, so the threshold compare is bit-identical. */
  def qualityLangFilter(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "los", "de", "que"),
      "de" -> Seq("der", "die", "und", "das"),
      "fr" -> Seq("le", "et", "les", "une"))
    val ws = w(col("text"))
    val scores = markers.map { case (l, ms) =>
      l -> size(filter(ws, x => x.isin(ms: _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    val pred = when(col("text").rlike("[\\x{4E00}-\\x{9FFF}]"), "zh")
      .when(best === 0, "unknown")
      .otherwise(scores.foldRight(lit("unknown"): Column) { case ((l, sc), acc) =>
        when(sc === best, l).otherwise(acc)
      })
    val punct = length(regexp_replace(col("text"), "[a-z0-9\\s]", "")) /
      length(col("text"))
    docs.filter(pred === cfg.keepLang &&
      size(ws) >= cfg.minWords && punct <= cfg.maxPunctRatio)
  }

  /** Stage 6 — deterministic weighted mixture sampling (salted bucket,
    * per-source rates — same rates as `q_mixture_sample`). */
  def mixtureSample(docs: DataFrame): DataFrame = {
    val rate = when(col("source").isin("src0", "src1"), 50)
      .when(col("source") === "src2", 25)
      .otherwise(10)
    docs.filter(hashBucket(col("doc_id"), "mix|") < rate)
  }

  /** Stage 7 — context-window chunking: overlapping token windows of
    * `chunkTokens` at stride `chunkStride`; emits one row per chunk
    * with its token count and content md5. */
  def chunk(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val W = cfg.chunkTokens; val S = cfg.chunkStride
    docs
      .select(col("doc_id"), col("source"), w(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("source"), col("w"),
        explode(sequence(lit(0),
          greatest(ceil((size(col("w")) - W).cast("double") / S), lit(0))
            .cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("source"), col("chunk_id"),
        size(slice(col("w"), col("chunk_id") * S + 1, lit(W))).as("n_tokens"),
        md5(array_join(slice(col("w"), col("chunk_id") * S + 1, lit(W)), " "))
          .as("chunk_md5"))
  }

  /** Stage 8 — greedy sequence packing of the chunks into
    * `packCapacity`-token bins per source (deterministic
    * (doc_id, chunk_id) order; a chunk's bin is where its first token
    * lands under running concatenation — one window cumsum). */
  def pack(chunks: DataFrame, cfg: Config = Config()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("source").orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum("n_tokens").over(win))
      .withColumn("bin",
        floor((col("cum") - col("n_tokens")) / cfg.packCapacity).cast("int"))
      .select("source", "bin", "doc_id", "chunk_id", "n_tokens", "chunk_md5")
  }

  /** Ship [[run]]'s packed output as a Hive-partitioned parquet table —
    * the pipeline's egress, the files a training job actually reads
    * (reference analogue: the S4/S5 sinks, server.erl:379-389,161-167,
    * are the reference's only way results leave the engine).
    *
    * Layout: partitioned by `source` (the low-cardinality mixture key —
    * readers filtering on it prune whole directories at planning time),
    * rows sorted (source, bin, doc_id, chunk_id) within every file.
    * DETERMINISTIC end to end: the hash `repartition` assigns each
    * source the same write task on every run, and the within-partition
    * sort is total (doc_id, chunk_id is a unique key), so two writes of
    * the same input produce byte-identical parquet files
    * (`PipelineSinkSpec` pins this; the `q_pipeline_sink` gate row
    * hash-checks the write→read roundtrip against DuckDB reading the
    * same files). At 100 TB the shuffle moves only the packed chunk
    * table (digests + ids, no raw text), one exchange total. */
  def write(packed: DataFrame, path: String): Unit =
    packed
      .repartition(col("source"))
      .sortWithinPartitions("source", "bin", "doc_id", "chunk_id")
      .write.mode("overwrite").partitionBy("source").parquet(path)

  /** The full chain: packed training chunks from a raw document table.
    * Output: (source, bin, doc_id, chunk_id, n_tokens, chunk_md5). */
  def run(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    // Boundary cuts inherit whatever post-AQE partitioning the stage
    // upstream ended with — at small scale AQE coalesces those tiny
    // aggregates to ONE partition, and every scan-fused heavy consumer
    // of the boundary (shingle md5, winnowing hashes) then runs
    // single-task (measured: three 0.75 s single-task jobs inside the
    // composed run, OPTIMIZATION_r14.md). Re-widen small boundaries to
    // the session parallelism BEFORE materializing, keyed by doc_id so
    // the exchange is deterministic; a boundary already at ≥ cores
    // partitions (the 100 TB case) passes through untouched — the same
    // scale-adaptive rule as [[graft.sources.Tables]]'s scan fan-out.
    // The width probe runs on the ALREADY-materialized checkpoint (its
    // partition count is a free metadata read), never on the lazy
    // plan — probing an unexecuted AQE plan would execute it once just
    // to count partitions and then a second time for real. A narrow
    // boundary is re-materialized WIDE (one extra cut of a by-
    // definition-small table) rather than wrapped in a lazy
    // repartition: the optimizer pushes the downstream heavy FILTERS
    // (quality regexes, token counts) through a lazy exchange back
    // into the single-task checkpoint scan — measured as a 1.1 s
    // serial stage — while a wide materialized boundary gives every
    // consumer pushdown AND parallelism at once.
    def widen(df: DataFrame): DataFrame = {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p)
        graft.query.Checkpoints.cut(df.repartition(p, col("doc_id")))
      else df
    }
    def cut(df: DataFrame): DataFrame =
      if (cfg.materializeBoundaries)
        widen(graft.query.Checkpoints.cut(df))
      else df
    val s1 = cut(exactDedup(docs))
    val s2 = nearDedupClusters(s1, cfg)
    val train = decontaminate(cut(assignSplits(s2)), cfg)
    val kept = qualityLangFilter(train, cfg)
    pack(chunk(mixtureSample(kept), cfg), cfg)
  }
}
