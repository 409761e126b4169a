package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (north-star extensions beyond the
  * reference, SURVEY.md §7): exact dedup, n-gram Jaccard near-dup,
  * MinHash + LSH banding, SimHash, token counting, quality scoring,
  * language-ID heuristic, document fingerprinting.
  *
  * Everything is built from codegen'd `functions._` (split /
  * regexp_extract_all / transform / filter / aggregate higher-order
  * functions) — no Scala UDFs in the hot path, so whole-stage codegen
  * spans the full pipeline. The shingle → minhash → band pipeline
  * shuffles only on (doc_id) and the short band signature, never on
  * raw text, which is what makes it viable at 100 TB (text stays in
  * the scan stage; only 32-char digests move).
  */
object TextQueries {

  import graft.functions.TextFunctions.words

  /** Distinct word-3-gram shingles per document. */
  def shingles(s: SparkSession, d: String): DataFrame =
    graft.functions.TextFunctions.shingles(
      Tables.documents(s, d), "doc_id", "text", n = 3)

  private val shinglesCte =
    "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
    "sh AS (SELECT DISTINCT doc_id, shingle FROM " +
    "(SELECT doc_id, unnest(list_transform(range(1, len(w)-1), " +
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle " +
    "FROM w WHERE len(w) >= 3) q)"

  /** Exact dedup: keep the smallest doc_id per content hash. */
  private def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  /** Exact-duplicate groups (hash → multiplicity). */
  private def dedupGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy("h")

  /** Bloom-prefiltered admission against an already-ingested reference
    * corpus ([[graft.dedup.Dedup.bloomAdmit]]): docs whose digest the
    * broadcast bit-position table rules out are admitted with no join
    * at all; only the Bloom-"maybe" slice pays the exact anti-join.
    * The result is EXACT (no false negatives + re-verified positives),
    * so the oracle is a plain SQL anti-join — Bloom geometry affects
    * cost only, never the answer. Reference = ids ∈ 7ℤ. */
  private def bloomDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("digest"))
    graft.dedup.Dedup.bloomAdmit(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0).select("digest"),
      "doc_id", "digest")
      .orderBy("doc_id")
  }

  /** Per-source dataset card (Datasheets for Datasets, Gebru et al.
    * 2021 — the composition summary shipped WITH a corpus): doc/char/
    * token totals, language spread, min/max lengths and the
    * exact-duplicate count, one row per source, all exact integers.
    * `q_source_mix` reports shares and `q_dedup_report` dup losses;
    * THIS row is the one-table datasheet combining volume, spread and
    * contamination a consumer reads first. One digest groupBy + one
    * digest-co-partitioned join back, then a per-source aggregate. */
  private def datasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(words(col("text"))).as("n_tok"), md5(col("text")).as("h"))
    val dupCounts = docs.groupBy("h").agg(count(lit(1)).as("ch"))
    docs.join(dupCounts, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("n_chars").as("total_chars"),
        sum("n_tok").as("total_tokens"),
        sum(when(col("ch") > 1, 1).otherwise(0)).as("n_dup_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("source")
  }

  /** Heaps-law vocabulary growth — the tokenizer-sizing curve: at each
    * corpus-prefix checkpoint (docs with id < cp), the cumulative
    * token count and the distinct-word vocabulary size. The corpus
    * never re-scans per checkpoint: each word collapses to its FIRST
    * document (one groupBy) and each doc to its token count, then a
    * broadcast of the bounded checkpoint list joins on the range
    * condition — vocab(cp) = |{words: first_doc < cp}|. */
  private def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val cps = Seq(64L, 128L, 256L, 512L, 1024L, 4096L, 16384L).toDF("cp")
    val firstDoc = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("word").agg(min("doc_id").as("first_doc"))
    val vocab = firstDoc
      .join(broadcast(cps), col("first_doc") < col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("vocab"))
    val toks = docs
      .select(col("doc_id"), size(words(col("text"))).as("n_tok"))
      .join(broadcast(cps), col("doc_id") < col("cp"))
      .groupBy("cp").agg(sum("n_tok").as("total_tokens"))
    toks.join(vocab, Seq("cp"), "left")
      .select(col("cp"), col("total_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
      .orderBy("cp")
  }

  /** Gopher quality-rule battery (Rae et al. 2021, Appendix A1.1,
    * adapted to the fixture's newline-free text): per-document boolean
    * verdicts with every threshold evaluated in EXACT integer form
    * (cross-multiplications, never a float ratio), so the gate row
    * cannot flip on rounding. Rules: word count ∈ [50, 100000]; mean
    * word length ∈ [3, 10] (as 3n ≤ Σlen ∧ Σlen ≤ 10n); ≥ 2 distinct
    * stopwords; duplicate-bigram mass ≤ 20% (as 5·dup ≤ n_bigrams).
    * `q_quality_score`/`q_repetition` report the underlying ratios;
    * THIS row is the admit/reject battery a Gopher-style pipeline
    * executes. Everything is scan-stage higher-order-function work on
    * the words array — zero shuffles before the output sort. */
  private def gopherRules(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "that")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).as("n"),
        expr("aggregate(transform(w, x -> length(x)), 0, (a, x) -> a + x)")
          .as("sum_len"),
        size(array_intersect(array_distinct(col("w")),
          array(stop.map(lit): _*))).as("n_stop"),
        greatest(size(col("w")) - 1, lit(0)).as("n_bg"),
        (greatest(size(col("w")) - 1, lit(0)) -
          when(size(col("w")) >= 2, size(array_distinct(expr(
            "transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))))
            .otherwise(0)).as("dup_bg"))
    base.select(col("doc_id"),
      col("n").as("n_words"),
      col("n_stop").as("n_stopwords"),
      col("dup_bg").as("dup_bigrams"),
      col("n").between(50, 100000).as("r_wordcount"),
      (lit(3) * col("n") <= col("sum_len") &&
        col("sum_len") <= lit(10) * col("n")).as("r_meanlen"),
      (col("n_stop") >= 2).as("r_stopwords"),
      (lit(5) * col("dup_bg") <= col("n_bg")).as("r_repetition"))
      .withColumn("keep", col("r_wordcount") && col("r_meanlen") &&
        col("r_stopwords") && col("r_repetition"))
      .orderBy("doc_id")
  }

  /** Inverted-index build (posting lists): token → document frequency
    * + an order-canonical md5 fingerprint of the SORTED posting list,
    * df-capped both ways (2 ≤ df ≤ 1000 — a no-op on the fixture's
    * 31-word vocabulary, but on a real corpus the ceiling drops the
    * stop-token lists that dominate index size with no retrieval
    * signal, same rationale as `jaccardPairs`; singletons only bloat
    * the index). Scale shape: distinct (word, doc_id) pairs shuffle once
    * into the group-by; the fingerprint keeps the gate row narrow
    * while still pinning full list content AND order. `q_bm25` /
    * `q_hybrid_search` score on the fly; THIS is the persisted index
    * a serving system reads. */
  private def postingLists(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(words(col("text"))).as("word"), col("doc_id"))
      .distinct()
      .groupBy("word")
      .agg(count(lit(1)).as("df"),
        expr("md5(array_join(transform(array_sort(collect_list(doc_id)), " +
          "x -> cast(x as string)), ','))").as("postings_md5"))
      .filter(col("df").between(2, 1000))
      .orderBy("word")

  /** BPE tokenizer-training round 1 (Sennrich et al. 2016): the
    * top-20 most frequent adjacent character pairs over the corpus's
    * word-frequency dictionary — the pair a byte-pair-encoding learner
    * would merge first. The corpus collapses to its DISTINCT-word
    * dictionary before any pair work (the standard BPE compression:
    * pair counts are weighted by word frequency, so 100 TB of text
    * becomes a vocabulary-sized table), and the final top-20 plans as
    * a distributed partial top-k (TakeOrderedAndProject), never a
    * global sort. */
  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(words(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .filter(length(col("word")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wc").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  /** N-gram Jaccard near-dup: pairs with shingle-set Jaccard ≥ 0.8 via
    * the prefix-filtered threshold join ([[graft.functions
    * .TextFunctions.jaccardPairs]], AllPairs/PPJoin); n_common / union
    * arithmetic is exact integer→double, so the 0.8 threshold is
    * engine-stable. The df-ceiling (maxDf=200) drops stop-shingles
    * before any pair work. Shingles are hashed to the leading 48 bits
    * of their md5 BEFORE the wide shuffle (8-byte longs move instead
    * of n-gram strings); the oracle applies the IDENTICAL hash and
    * ceiling (its plain self-join form — the algorithms differ, the
    * result sets provably don't), so the row stays hash-exact at any
    * scale factor — even a 48-bit collision would perturb both
    * engines identically. */
  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    graft.functions.TextFunctions.jaccardPairs(
      shingles(s, d).select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 12), 16, 10).cast("long")
          .as("shingle")),
      "doc_id", 0.8, maxDf = 200)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** MinHash signatures (K=8 permutations simulated as keyed md5):
    * one row per (doc_id, k) with the min digest, computed row-locally
    * from each document's own shingle array (no shuffle before the
    * sort). */
  private def minhashSig(s: SparkSession, d: String): DataFrame =
    graft.functions.TextFunctions
      .minhashRows(Tables.documents(s, d), "doc_id", "text", k = 8)
      .orderBy("doc_id", "k")

  /** Shared verified-pair graph + transitive closure — the oracle
    * backbone of `q_dedup_clusters` and `q_dedup_cluster_sizes` (ends
    * with the recursive closure `r`). */
  private val clustersCte =
    shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ", " +
    "shh AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS shingle FROM sh), " +
    "sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id), " +
    "kept AS (SELECT shingle FROM shh GROUP BY shingle HAVING count(*) <= 200), " +
    "ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common " +
    "FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
    "JOIN kept ON a.shingle = kept.shingle GROUP BY 1, 2), " +
    "pr AS (SELECT doc_a, doc_b FROM ov JOIN sizes sa ON doc_a = sa.doc_id " +
    "JOIN sizes sb ON doc_b = sb.doc_id " +
    "WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.8), " +
    "e AS (SELECT doc_a AS v, doc_b AS u FROM pr UNION SELECT doc_b, doc_a FROM pr " +
    "UNION SELECT doc_a, doc_a FROM pr UNION SELECT doc_b, doc_b FROM pr), " +
    "r AS (SELECT v, u FROM e UNION SELECT r.v, e.u FROM r JOIN e ON r.u = e.v)"

  private val minhashCte = shinglesCte + ", " +
    "mh AS (SELECT doc_id, CAST(k AS INT) AS k, " +
    "min(md5(CAST(k AS VARCHAR) || '|' || shingle)) AS mh " +
    "FROM sh, range(0, 8) t(k) GROUP BY doc_id, k)"

  /** LSH banding over the minhash signature (4 bands × 2 rows):
    * candidate pairs = documents sharing any band signature. Only the
    * 32-char band digest is shuffled — the 100 TB-safe join key. */
  private def lshPairs(s: SparkSession, d: String): DataFrame =
    lshCandidates(s, d).orderBy("doc_a", "doc_b")

  /** [[graft.dedup.Dedup.lshCandidates]] (3-word shingles, 4 bands × 2
    * rows) as (doc_a, doc_b). */
  private def lshCandidates(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.lshCandidates(Tables.documents(s, d), "doc_id", "text")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

  /** Incremental near-dup — the daily-crawl shape: the corpus is
    * represented ONLY by its stored band-signature index
    * ([[graft.dedup.Dedup.lshIndex]] — here built in-query, in
    * production a persisted table bucketed on (band, sig)); the
    * increment (every 5th doc id) is the only side that gets shingled
    * and minhashed, and the match is an equi-join on band digests.
    * At 100 TB the corpus side of that join is 40-byte index rows —
    * its text is never re-read. The oracle recomputes BOTH sides'
    * signatures from scratch and restricts to cross pairs, so a green
    * row proves the stored-index path equals the recompute-everything
    * path. */
  private def incrementalLsh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val index = graft.dedup.Dedup.lshIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    graft.dedup.Dedup.incrementalLsh(inc, "doc_id", "text", index)
      .orderBy("new_id", "corpus_id")
  }

  /** The PERSISTED-BUCKETED form of the incremental-LSH index
    * (round-9 verdict "missing" item 2): the corpus index is written
    * once as a table bucketed AND sorted on (band, sig) — the
    * equi-join keys — via [[graft.sources.Bucketing]], then the
    * increment matches against the table read back from storage. Same
    * oracle as `q_incremental_lsh`, so a green row proves
    * disk-roundtripped-bucketed ≡ in-memory index; the plan gain is
    * pinned by `BucketedIndexSpec`: the index side of the match join
    * re-shuffles NOTHING (its scan satisfies the join clustering),
    * only the day's increment exchanges — the recurring-join cost the
    * reference hardcodes at ingest (phash2 co-partitioning,
    * dataInit.erl:155-156), paid once at index-write time. */
  private def incrementalLshBucketed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scale = new java.io.File(d).getName.replaceAll("[^a-zA-Z0-9]", "_")
    val table = s"graft_lsh_index_$scale"
    graft.sources.Bucketing.writeBucketed(
      graft.dedup.Dedup.lshIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
      table, "band", buckets = 8,
      path = s"/tmp/graft_lsh_index/$scale", moreKeys = "sig")
    graft.dedup.Dedup.incrementalLsh(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        graft.sources.Bucketing.read(s, table))
      .orderBy("new_id", "corpus_id")
  }

  /** Daily-crawl admission loop end-to-end ([[graft.pipeline
    * .Admission]]): the document table is split into two increments by
    * id, each is admitted against the persisted state the previous one
    * left behind (digests + seen-signature index — text of increment 1
    * is never re-read while admitting increment 2), and the admitted
    * corpus is read back from the durable files. The oracle recomputes
    * the ONE-SHOT greedy rule over the whole table in DuckDB — a green
    * row proves the two-increment incremental run admits exactly the
    * one-shot set (the compositionality contract `AdmissionSpec` also
    * pins engine-internally, plus restart idempotence). */
  private def admissionLoop(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // split probe reads ONE pruned column — the raw scan, not the
    // fanned-out table (the fan-out exchange only pays off for the
    // heavy tokenize consumers; max() would drag it in for nothing)
    val split = Tables.load(s, d, "documents")
      .agg(max("doc_id")).head.getLong(0) / 2
    val root = s"/tmp/graft_admission/${new java.io.File(d).getName}"
    graft.pipeline.Admission.reset(s, root)
    graft.pipeline.Admission.admit(docs.filter(col("doc_id") <= split), root, "d1")
    graft.pipeline.Admission.admit(docs.filter(col("doc_id") > split), root, "d2")
    graft.pipeline.Admission.corpus(s, root)
      .select(col("doc_id"), col("inc"))
      .orderBy("doc_id")
  }

  /** The admission loop ACROSS a compaction boundary — three
    * increments with [[graft.pipeline.Admission.compact]] folding the
    * first two into the bucketed base before the third arrives. The
    * oracle is the SAME one-shot greedy computation as
    * `q_admission_loop` (admission is compact-invariant — the
    * property `AdmissionCompactSpec` pins structurally, hash-checked
    * here end-to-end through the real base-table read path), with the
    * inc labels at thirds. */
  private def admissionCompact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // raw-scan split probe — same rationale as q_admission_loop's
    val mx = Tables.load(s, d, "documents")
      .agg(max("doc_id")).head.getLong(0)
    val (t1, t2) = (mx / 3, 2 * mx / 3)
    val root = s"/tmp/graft_admission_compact/${new java.io.File(d).getName}"
    graft.pipeline.Admission.reset(s, root)
    graft.pipeline.Admission.admit(docs.filter(col("doc_id") <= t1), root, "d1")
    graft.pipeline.Admission.admit(
      docs.filter(col("doc_id") > t1 && col("doc_id") <= t2), root, "d2")
    graft.pipeline.Admission.compact(s, root)
    graft.pipeline.Admission.admit(docs.filter(col("doc_id") > t2), root, "d3")
    graft.pipeline.Admission.corpus(s, root)
      .select(col("doc_id"), col("inc"))
      .orderBy("doc_id")
  }

  /** The admission loop with the SEMANTIC near-dup leg
    * ([[graft.pipeline.Admission.admitWithEmbeddings]]): two
    * increments, each additionally matched against the persisted SRP
    * bucket index + vector state — a document is rejected when a
    * bucket-colliding candidate verifies at cosine ≥ 0.45 against any
    * seen (or smaller-id same-increment) exact-survivor. The oracle
    * recomputes the one-shot greedy rule with ALL THREE legs (digest,
    * MinHash bands, exact all-pairs cosine among exact-survivors) in
    * DuckDB. Threshold/tables chosen for the gate corpus: 0.45 admits
    * 14 qualifying pairs at sf0.01 (7 at smoke — 0.5 would leave the
    * leg firing once), and at 4 bits × 48 tables a θ≈63° pair misses
    * every table with p ≈ 9·10⁻⁵ (deterministic under the fixed seed
    * — the green row IS the coverage check, the same structure as
    * `q_embed_neardup_lsh`'s exactness at 0.5 × 24 tables), so a green
    * row proves incremental ≡ one-shot INCLUDING the semantic leg. */
  private def admissionSemantic(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // raw-scan split probe — same rationale as q_admission_loop's
    val split = Tables.load(s, d, "documents")
      .agg(max("doc_id")).head.getLong(0) / 2
    val root = s"/tmp/graft_admission_semantic/${new java.io.File(d).getName}"
    graft.pipeline.Admission.reset(s, root)
    // `emb` passes UNFILTERED both times: it is the feature store
    // (stable id -> vector lookup) the PQ-compressed state fetches
    // exact floats from; the increment's own vectors are cut to the
    // increment inside admitWithEmbeddings via the fresh-key semi-join
    graft.pipeline.Admission.admitWithEmbeddings(
      docs.filter(col("doc_id") <= split), emb, root, "d1",
      cosThreshold = 0.45, nTables = 48)
    graft.pipeline.Admission.admitWithEmbeddings(
      docs.filter(col("doc_id") > split), emb, root, "d2",
      cosThreshold = 0.45, nTables = 48)
    graft.pipeline.Admission.corpus(s, root)
      .select(col("doc_id"), col("inc"))
      .orderBy("doc_id")
  }

  /** MinHash Jaccard ESTIMATION over the LSH candidates — the middle
    * stage of the scale pipeline (band → estimate → exact-verify only
    * survivors): estimated J = fraction of agreeing signature
    * components. Only 32-char digests are compared; the raw shingle
    * sets are never revisited. */
  private def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val mh = graft.functions.TextFunctions
      .minhashRows(Tables.documents(s, d), "doc_id", "text", k = 8)
    lshCandidates(s, d)
      .join(mh.select(col("doc_id").as("doc_a"), col("k"), col("mh").as("mh_a")),
        "doc_a")
      .join(mh.select(col("doc_id").as("doc_b"), col("k"), col("mh").as("mh_b")),
        Seq("doc_b", "k"))
      .groupBy("doc_a", "doc_b")
      .agg(round(sum(when(col("mh_a") === col("mh_b"), 1).otherwise(0)) /
        count(lit(1)), 4).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash (64-bit; bit j = sign of Σ_words ±1 from the parity of
    * hex char j of md5(word)||md5(word||'#')), emitted as a bit string
    * to stay engine-portable. 64 bits, not 16: round 2's 16-bit
    * signature space (65,536 values) visibly collapsed on this
    * template-homogeneous corpus (5,617 Hamming≤1 pairs at sf0.01);
    * at corpus scale every 16-bit signature is shared by millions of
    * documents and the near-dup verdict is meaningless. */
  private def simhash(s: SparkSession, d: String): DataFrame =
    graft.functions.TextFunctions
      .simhashBits(Tables.documents(s, d), "doc_id", "text", bits = 64)
      .orderBy("doc_id")

  /** SimHash near-dup pairing at scale (pigeonhole bucketing): two
    * 64-bit signatures within Hamming distance 3 must agree on one of
    * their four 16-bit chunks (radius r needs r+1 chunks), so
    * candidates come from an equi self-join on (chunk index, chunk
    * value) — never all pairs — and only candidates pay the exact
    * 64-position Hamming verify (codegen'd byte loop).
    *
    * Widening 16→64 bits collapsed the volume exactly as the larger
    * signature space predicts: at sf0.01 (500 docs, 124,750 possible
    * pairs) the 16-bit radius-1 form admitted 18,111 candidates (14.5%)
    * and called 5,617 pairs "near-dup" — the 8-bit halves were
    * saturating on this template-homogeneous corpus; the 64-bit
    * radius-3 form admits 2,874 candidates (2.3%) and verifies 21 true
    * near-dups. A 6× candidate cut even while the verify radius
    * TRIPLED — and unlike 16 bits, the 64-bit verdict keeps meaning at
    * corpus scale. */
  private def simhashNeardup(s: SparkSession, d: String): DataFrame = {
    graft.functions.StringDistance.register(s)
    // Cut the signature table: it feeds THREE consumers (the chunk
    // index and both verify back-joins), each of which otherwise
    // re-runs the full per-bit weighted-sum signature chain (measured
    // 3 × ~30 s of task time at sf0.1 — the whole query cost). Same
    // boundary rule as jaccardPairs/dupNgramMass; the cut frame is
    // narrow (id, 64-char signature).
    val sim = graft.query.Checkpoints.cut(graft.functions.TextFunctions
      .simhashBits(Tables.documents(s, d), "doc_id", "text", bits = 64))
    val chunks = sim
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("i"))
      .select(col("doc_id"), col("i"),
        col("simhash").substr(col("i") * 16 + 1, lit(16)).as("chunk"))
    val cands = chunks.as("a")
      .join(chunks.as("b"),
        col("a.i") === col("b.i") && col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // codegen'd byte-compare loop (HOF filter/sequence would be
    // interpreted — see graft.functions.HammingDist)
    val hamming = graft.functions.StringDistance.hamming(col("sa"), col("sb"))
    cands
      .join(sim.select(col("doc_id").as("doc_a"), col("simhash").as("sa")), "doc_a")
      .join(sim.select(col("doc_id").as("doc_b"), col("simhash").as("sb")), "doc_b")
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Edit-distance verification of LSH candidate pairs — the fourth
    * verify-stage measure next to Jaccard, Hamming and cosine: only
    * candidate pairs (never all pairs) pay the O(len²) Levenshtein,
    * and the texts join in AFTER candidate generation so raw text
    * still never enters the wide shuffle. Both engines ship the same
    * classic DP `levenshtein`, so the distances are integer-exact. */
  private def editDistance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    lshCandidates(s, d)
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"),
        round(lit(1.0) - levenshtein(col("ta"), col("tb")) /
          greatest(length(col("ta")), length(col("tb"))), 4).as("edit_sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** PMI collocation mining over adjacent word bigrams — the
    * phrase-detection statistic (word2vec's phrase pass, NPMI
    * collocation extraction): PMI(w1, w2) = ln(p(w1 w2) / (p(w1)
    * p(w2))) with p(bigram) over total bigram occurrences and p(word)
    * over total word occurrences. Count floor 5 (the standard
    * low-frequency guard — PMI explodes on hapax pairs). Output is
    * ordered by the pair STRING and carries the exact integer counts;
    * the only float is the 4-decimal PMI derived from those integers
    * through an identical left-associated double expression in both
    * engines, so the row cannot flip on ranking ties. Scale shape:
    * two hash aggregates (bigrams, unigrams) + equi-joins on the
    * word; the totals are a broadcast 1-row scalar; counts cast to
    * double BEFORE multiplying so the expression cannot overflow
    * long arithmetic at corpus scale. */
  private def pmiBigrams(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
    val uni = base.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val bgCounts = base.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c12"))
    // totals derive from the two aggregates already built — u_tot =
    // Σ unigram counts, b_tot = Σ unfiltered bigram counts — instead
    // of a third full corpus scan + re-tokenization
    val totals = uni.agg(sum("c").as("u_tot"))
      .crossJoin(bgCounts.agg(sum("c12").as("b_tot")))
    bgCounts
      .filter(col("c12") >= 5)
      .withColumn("w1", element_at(split(col("pair"), " "), 1))
      .withColumn("w2", element_at(split(col("pair"), " "), 2))
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("pair"), col("c12"), col("c1"), col("c2"),
        // `+ 0.0` normalizes IEEE signed zero: Spark's round (BigDecimal,
        // no -0.0) and DuckDB's round (IEEE, keeps -0.0) diverge on a
        // rounded value of exactly zero; -0.0 + 0.0 = +0.0 in both engines.
        (round(log(
          (col("c12").cast("double") * col("u_tot") * col("u_tot")) /
          (col("b_tot").cast("double") * col("c1") * col("c2"))), 4) + lit(0.0)).as("pmi"))
      .orderBy("pair")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation. */
  private def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(words(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_re_tokens"))
      .orderBy("doc_id")

  private val simhashCteSql =
    "WITH words AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word FROM documents), " +
    "h AS (SELECT doc_id, md5(word) || md5(word || '#') AS h FROM words), " +
    "bits AS (SELECT doc_id, j, CASE WHEN " +
    "sum((ascii(substr(h, CAST(j AS INT) + 1, 1)) % 2) * 2 - 1) > 0 THEN '1' ELSE '0' END AS b " +
    "FROM h, range(0, 64) t(j) GROUP BY doc_id, j), " +
    "sim AS (SELECT doc_id, string_agg(b, '' ORDER BY j) AS simhash FROM bits GROUP BY doc_id)"

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Quality scoring: length, punctuation ratio, stopword ratio,
    * average word length — the standard pre-training text filters. */
  private def qualityScore(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("n_len"),
        size(w).as("n_words"),
        round(length(regexp_replace(col("text"), "[a-z0-9\\s]", "")) / length(col("text")), 4)
          .as("punct_ratio"),
        round(size(filter(w, x => x.isin(stopwords: _*))) / size(w), 4)
          .as("stopword_ratio"),
        round(length(translate(col("text"), " ", "")) / size(w), 4)
          .as("avg_word_len"))
      .orderBy("doc_id")
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "los", "de", "que"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "et", "les", "une"))

  /** Per-language stopword-vote scores over `text` — ONE definition
    * shared by [[langId]] and [[langConfusion]] so the per-doc row and
    * the confusion matrix cannot drift (the probe/funnelTimes
    * drift-proofing pattern). */
  private def langScoreCols: Seq[(String, Column)] = {
    val w = words(col("text"))
    langMarkers.map { case (l, ms) =>
      l -> size(filter(w, x => x.isin(ms: _*)))
    }
  }

  /** The language prediction of [[langId]]: CJK codepoint check +
    * stopword votes with a fixed priority order (en > es > de > fr). */
  private def langPredCol: Column = {
    val scores = langScoreCols
    val best = greatest(scores.map(_._2): _*)
    when(col("text").rlike("[\\x{4E00}-\\x{9FFF}]"), "zh")
      .when(best === 0, "unknown")
      .otherwise(scores.foldRight(lit("unknown"): Column) { case ((l, sc), acc) =>
        when(sc === best, l).otherwise(acc)
      })
  }

  /** Language-ID heuristic — a deterministic n-gram-style classifier
    * computed identically by engine and oracle. */
  private def langId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        (Seq(col("doc_id")) ++
          langScoreCols.map { case (l, sc) => sc.as(s"s_$l") } :+
          langPredCol.as("pred_lang") :+
          col("lang")): _*)
      .orderBy("doc_id")

  /** Classifier-evaluation-as-an-operator: the confusion matrix of
    * [[langId]]'s prediction against the corpus's labeled `lang`
    * column, with per-true-language shares in fixed-point ppm
    * (integer `div` — engine-exact). This is the eval every curation
    * pipeline runs before trusting a filter at 100 TB; it is one
    * scan-stage prediction + one hash aggregate + a ≤|langs|²-row
    * broadcast totals join — evaluation costs one pass, not a
    * collect. */
  private def langConfusion(s: SparkSession, d: String): DataFrame = {
    val cm = Tables.documents(s, d)
      .select(col("lang"), langPredCol.as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
    val tot = cm.groupBy("lang").agg(sum("n_docs").as("tot"))
    cm.join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        expr("CAST((n_docs * 1000000) div tot AS LONG)").as("share_ppm"))
      .orderBy("lang", "pred_lang")
  }

  /** Per-document 4-word rolling window hashes (base-131 polynomial
    * over per-word integer hashes) — the k-gram hash sequence feeding
    * both [[rollingFingerprint]] and [[winnow]]. Pure integer
    * arithmetic end to end, so engine-exact. */
  def windowHashesOf(docs: DataFrame): DataFrame =
    windowHashesOf(docs, Nil)

  /** As [[windowHashesOf]], additionally carrying `keep` columns
    * through the projection — so a consumer that needs per-doc
    * metadata next to the hash sequence (e.g. the curation
    * decontamination stage's `split`) gets it IN-ROW instead of
    * re-joining the corpus, which would force the whole
    * tokenize+hash pass to run once per join branch. */
  def windowHashesOf(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val B1 = 131L; val B2 = 17161L; val B3 = 2248091L  // 131^1..131^3
    // nested transform: md5 once per word, then fold its hex head —
    // as a single lambda the 8 substring terms would each hold their
    // OWN md5(w) instance, and HOF lambdas evaluate interpreted with
    // no common-subexpression elimination → 8 digests per word
    def hexFold(h: Column): Column =
      (1 to 8).map(j => ascii(substring(h, j, 1)) * lit(j)).reduce(_ + _)
        .cast("long")
    docs
      .select(col("doc_id") +: keep.map(col) :+ words(col("text")).as("w"): _*)
      .filter(size(col("w")) >= 4)
      .withColumn("us", transform(transform(col("w"), md5(_)), hexFold(_)))
      .withColumn("whs", transform(
        sequence(lit(1), size(col("us")) - 3),
        i => element_at(col("us"), i) * B3 +
             element_at(col("us"), i + 1) * B2 +
             element_at(col("us"), i + 2) * B1 +
             element_at(col("us"), i + 3)))
      .select(col("doc_id") +: keep.map(col) :+ col("whs"): _*)
  }

  private def windowHashes(s: SparkSession, d: String): DataFrame =
    windowHashesOf(Tables.documents(s, d))

  /** Corpus-health report on duplicated n-gram MASS (the statistic
    * Lee et al. 2021 report when motivating dedup): per source, the
    * fraction of 4-token window occurrences whose hash appears more
    * than once CORPUS-WIDE — "how much of this source is boilerplate
    * shared with anything else", the triage number that decides
    * which sources are worth aggressive dedup. Companion to the
    * per-source exact-dup loss report (q_dedup_report) at the
    * sub-document granularity. Scale shape: only (doc_id, wh) longs
    * cross the exchanges; the occurrence count is a map-side-partial
    * hash aggregate; the join back on wh is the standard posting-
    * list shape; the final report is |sources| rows. dup_frac is a
    * single division of two exact integers rounded once —
    * engine-exact. */
  private def dupNgramMass(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Lineage-cut the hash projection BEFORE the explode (the
    // substrDedupOf boundary rule) — for two measured reasons, not
    // style: (1) `h` feeds both the occurrence count and the join
    // probe, so the tokenize+hash pass otherwise runs once per
    // branch; (2) far worse, InferFiltersFromGenerate synthesizes
    // `size(whs) > 0 AND isnotnull(whs)` from the explode and
    // predicate pushdown then inlines the `us`/`whs` projection
    // aliases INTO the filter's per-window lambda — re-running the
    // full regexp tokenize + per-word md5 chain once per window
    // index, O(words²) per document. Measured: 139 s single-task at
    // sf0.1 (the worst stage in the whole catalog sweep) vs ~0.4 s
    // with the cut; the plan excerpt is in OPTIMIZATION_r14.md.
    val whs = graft.query.Checkpoints.cut(windowHashesOf(docs))
    val h = whs.select(col("doc_id"), explode(col("whs")).as("wh"))
    val counts = h.groupBy("wh").agg(count(lit(1)).as("c"))
    h.join(counts, "wh")
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("total_windows"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).cast("long").as("dup_windows"))
      .withColumn("dup_frac",
        round(col("dup_windows") / col("total_windows"), 6))
      .orderBy("source")
  }

  /** Rolling-hash fingerprint (winnowing-style): the document
    * fingerprint is the minimum window hash. */
  private def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    windowHashes(s, d)
      .select(col("doc_id"), size(col("whs")).as("n_windows"),
        array_min(col("whs")).as("fp"))
      .orderBy("doc_id")

  /** Winnowing proper: per-window local minima over the hash sequence
    * (window = 4 hashes), one row per distinct fingerprint — the
    * substring-level overlap index ([[graft.functions.TextFunctions
    * .winnowMins]]; guarantee: docs sharing ≥ 7 consecutive words share
    * a fingerprint). Scan-stage work per document, no shuffle. */
  private def winnow(s: SparkSession, d: String): DataFrame =
    windowHashes(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.winnowMins(col("whs"), 4)).as("fp"))
      .orderBy("doc_id", "fp")

  /** Winnowing candidate pairing ([[graft.dedup.Dedup.winnowCandidates]]):
    * documents sharing any selected fingerprint — the one dedup stage
    * with a structural recall-1.0 guarantee on long verbatim overlaps
    * (any shared run of ≥ 7 tokens yields a common fingerprint). Same
    * df-ceiling discipline as the Jaccard posting lists. */
  private def winnowPairs(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup
      .winnowCandidates(windowHashes(s, d), "doc_id", w = 4, maxDf = 200)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .orderBy("doc_a", "doc_b")

  /** ExactSubstr-style duplicated-span accounting (the substring-level
    * dedup of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): a 4-word window whose hash also occurs
    * in an EARLIER document (smaller doc_id — the same keep-first rule
    * as the exact-dedup stage) is a duplicated span, and its 4 token
    * positions count as duplicated text. Per document: total tokens,
    * duplicated-window count, and the number of token positions
    * covered by ≥ 1 duplicated window (overlapping spans merged) —
    * exactly what a substring-cut pass would remove. Scale shape: only
    * (hash, doc_id, pos) longs cross the exchanges — text never leaves
    * the scan stage; the first-occurrence reduction is a map-side
    * partial min (skew-safe on hot boilerplate 4-grams); the
    * merged cover is a running-max window fused into the SAME doc_id
    * pass as the counts — O(1) state per row, no position explode, no
    * second aggregate-join; and the tokenize+hash projection is
    * lineage-cut ([[graft.query.Checkpoints.cut]], the `Curation`
    * boundary rule) because BOTH sides of the first-occurrence join
    * derive from it — without the cut the corpus is scanned, split
    * and md5-hashed twice per query. The cut stores the NARROW
    * (doc_id, hashes) frame, ~8 bytes/token, not the 5-column
    * exploded position table. */
  def substrDedupOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whs = graft.query.Checkpoints.cut(windowHashesOf(docs))
    val pos = whs
      .select(col("doc_id"), (size(col("whs")) + 3).as("n_tokens"),
        posexplode(col("whs")).as(Seq("i", "wh")))
      .withColumn("pos", col("i") + 1)
    // first occurrence per window hash as groupBy+join, NOT a window
    // over wh: the partial (map-side) min collapses a hot boilerplate
    // 4-gram before the exchange, where a window would buffer the
    // whole hot group in one task
    val firstDoc = pos.groupBy("wh").agg(min("doc_id").as("first_doc"))
    val dup = col("first_doc") < col("doc_id")
    // merged-interval cover in the SAME pass as the window count: each
    // duplicated window spans tokens [pos, pos+3]; its new-cover
    // contribution is the span end minus the running max end of the
    // doc's earlier duplicated spans (overlaps subtract themselves) —
    // no explode of covered positions, no second aggregate-join
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevEnd = max(when(dup, col("pos") + 3)).over(byDoc)
    val contrib = when(dup, greatest(
      col("pos") + 3 - greatest(col("pos") - 1, coalesce(prevEnd, lit(0))),
      lit(0))).otherwise(0)
    pos.join(firstDoc, "wh")
      .withColumn("contrib", contrib)
      .groupBy("doc_id")
      .agg(max("n_tokens").cast("int").as("n_tokens"),
        sum(when(dup, 1).otherwise(0)).cast("int").as("dup_windows"),
        sum("contrib").cast("int").as("dup_tokens"))
      .orderBy("doc_id")
  }

  private def substrDedup(s: SparkSession, d: String): DataFrame =
    substrDedupOf(Tables.documents(s, d))

  /** Substring-cut transform — the EXECUTION of the [[substrDedupOf]]
    * accounting (Lee et al. 2021's ExactSubstr removal): every token
    * position covered by a window duplicated from an EARLIER document
    * is cut, and the cleaned document is emitted (kept-token count +
    * md5 fingerprint of the re-joined text, so the gate hash pins the
    * exact surviving byte sequence, not just counts). By construction
    * `kept_tokens = n_tokens − dup_tokens` of the accounting row —
    * the two operators cross-check each other. Scale shape: the hash
    * side is identical to [[substrDedupOf]] (longs only across the
    * wide exchanges, map-side-partial first-occurrence min); the cut
    * itself needs tokens and duplicated-span starts co-located, which
    * costs ONE exchange of the token arrays keyed by doc_id (or none,
    * when the starts table — only docs that HAVE duplicated spans —
    * is small enough to broadcast; AQE decides). Per-doc work is
    * LINEAR: the sorted duplicated-start list is merged into disjoint
    * covered intervals elementwise (window length is fixed at 4, so a
    * maximal run needs only neighbor gap comparisons — no fold, no
    * accumulator copying), and the kept text is reassembled as the
    * slices of the gaps BETWEEN covered intervals — O(n + |starts|),
    * where the previous per-token membership probe was
    * O(n·|starts|), quadratic on a long fully-duplicated document. */
  def substrCutOf(docs: DataFrame): DataFrame = {
    val whs = graft.query.Checkpoints.cut(windowHashesOf(docs))
    val pos = whs
      .select(col("doc_id"), posexplode(col("whs")).as(Seq("i", "wh")))
      .withColumn("pos", col("i") + 1)
    val firstDoc = pos.groupBy("wh").agg(min("doc_id").as("first_doc"))
    val dupStarts = pos.join(firstDoc, "wh")
      .filter(col("first_doc") < col("doc_id"))
      .groupBy("doc_id")
      .agg(collect_set("pos").as("starts"))
    // a duplicated window starting at st covers tokens [st, st+3];
    // successive sorted starts ≤ 4 apart belong to one merged cover
    val sorted = array_sort(col("starts"))
    val m = size(sorted)
    val emptyInt = array().cast("array<int>")
    // interior gap indices only — every element_at stays in [1, m]
    // (sequence(1, 0) would descend and index 0 always throws)
    val tailIdx = when(m >= 2, sequence(lit(2), m)).otherwise(emptyInt)
    val initIdx = when(m >= 2, sequence(lit(1), m - 1)).otherwise(emptyInt)
    val runStartIdx = when(m > 0, concat(array(lit(1)), filter(tailIdx, j =>
      element_at(sorted, j) - element_at(sorted, j - 1) > 4)))
      .otherwise(emptyInt)
    val runEndIdx = when(m > 0, concat(filter(initIdx, j =>
      element_at(sorted, j + 1) - element_at(sorted, j) > 4), array(m)))
      .otherwise(emptyInt)
    val covStart = transform(runStartIdx, j => element_at(sorted, j))
    val covEnd = transform(runEndIdx, j => element_at(sorted, j) + 3)
    // kept text = the gap slices between covered intervals (before the
    // first, between consecutive, after the last — empty gaps slice to
    // zero length); concatenation preserves token order
    val gapStart = concat(array(lit(1)), transform(covEnd, b => b + 1))
    val gapEnd = concat(transform(covStart, a => a - 1),
      array(size(col("w"))))
    val kept = flatten(zip_with(gapStart, gapEnd, (gs, ge) =>
      slice(col("w"), gs, greatest(ge - gs + 1, lit(0)))))
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<int>")))
      .select(col("doc_id"), size(col("w")).cast("int").as("n_tokens"),
        kept.as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("int").as("kept_tokens"),
        md5(array_join(col("kept"), " ")).as("cut_fp"))
      .orderBy("doc_id")
  }

  private def substrCut(s: SparkSession, d: String): DataFrame =
    substrCutOf(Tables.documents(s, d))

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed-bigram profile is
    * under a TARGET distribution than under the RAW corpus — the
    * data-selection signal for "make the crawl look like the
    * reference corpus". Target here: the corpus's English documents
    * (a stand-in for any curated seed set). The published recipe:
    * feature-hash word bigrams into a fixed bucket space (512 here),
    * estimate Laplace-smoothed bucket probabilities for target and
    * raw, and weight a document by its bigrams' log-ratios. Hash-
    * stability rule (same as [[weightedSample]]'s docstring): the
    * oracle-hashed output must not contain libm floats — JVM vs DuckDB
    * `ln` last-ulp drift plus partition-order `avg` accumulation can
    * flip a rounded 4th decimal — so the gate emits the EXACT integer
    * form of the signal instead: a bigram "boosts" a document iff its
    * smoothed target probability exceeds its raw probability, i.e.
    * (ct+1)·(nr+B) > (cr+1)·(nt+B) — a pure integer comparison no
    * math library touches — and a document is target_like iff a
    * majority of its bigram occurrences boost. (The float mean
    * log-ratio is a trivial `avg(ln(...))` over the same joined table
    * for library users; it just cannot be hash-compared.) Scale
    * shape: text is tokenized and hashed in the scan stage — only
    * 8-byte bucket ids cross any exchange; the two bucket-count
    * tables are ≤ 512 rows each (broadcast joins), the totals a
    * single broadcast row, and the per-doc count is one hash
    * aggregate keyed by doc_id. */
  private def dsirWeight(s: SparkSession, d: String): DataFrame = {
    val B = 512
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val bg = docs.select(col("doc_id"), col("lang"),
      explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => conv(substring(md5(concat(element_at(col("w"), i), lit(" "),
          element_at(col("w"), i + 1))), 1, 8), 16, 10)
          .cast("long") % B)).as("b"))
    val raw = bg.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = bg.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = bg.agg(count(lit(1)).as("nr"),
      sum(when(col("lang") === "en", 1).otherwise(0)).as("nt"))
    bg.join(broadcast(raw), "b")
      .join(broadcast(tgt), Seq("b"), "left")
      .na.fill(0, Seq("ct"))
      .crossJoin(broadcast(totals))
      .withColumn("boost",
        ((col("ct") + 1L) * (col("nr") + B) >
         (col("cr") + 1L) * (col("nt") + B)).cast("int"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum("boost").cast("int").as("n_boosted"))
      .withColumn("target_like", col("n_boosted") * 2 > col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split assignment: bucket 0-99 from
    * the leading 16 bits of md5(doc_id), 80/10/10 split. The property a
    * training pipeline needs is REPRODUCIBILITY — the same document
    * lands in the same split on every run, any cluster size, any
    * partitioning — which a random() sample can't give. Scan-stage
    * expression, no shuffle. */
  private def splitAssign(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    Tables.documents(s, d)
      .select(col("doc_id"), bucket.as("bucket"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  /** Deterministic global shuffle into fixed training shards — the
    * data-loader prep step after curation: every document gets a
    * reproducible shard (salted md5 mod 8) and a dense 0-based
    * position within its shard, ordered by a SECOND independent
    * salted hash (within-shard order decorrelated from ids and from
    * the shard hash) with doc_id as the total tiebreak. The property
    * a trainer needs is a byte-reproducible epoch order on any
    * cluster size — a `rand()` shuffle can't give that, and
    * `zipWithIndex` imposes a global order barrier. Plan: ONE hash
    * exchange on `shard` + per-shard sort (row_number window); at
    * 100 TB each shard streams through an external sort — there is
    * never a single-partition global order. */
  private def shardShuffle(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def h(salt: String, digits: Int) = conv(substring(
      md5(concat(lit(salt), col("doc_id").cast("string"))), 1, digits), 16, 10)
    Tables.documents(s, d)
      .select(col("doc_id"),
        (h("shard|", 4).cast("int") % 8).as("shard"),
        h("ord|", 8).cast("long").as("ord"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id")))
        .cast("int") - 1)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  /** TF-IDF term weighting — the classic text-featurization aggregate:
    * raw term frequency per (doc, word), document frequency per word,
    * idf = ln(N/df). ONE scan and two narrow shuffles: tf is a
    * (doc, word) hash aggregate and df a count-over-window by word on
    * the tf rows (a self-join on word would rescan and re-aggregate
    * the corpus); the N-docs scalar joins in as a broadcast
    * single-row build. */
  /** Shared TF-IDF scoring core — (doc_id, word, tf, tfidf rounded 4)
    * — used verbatim by both the q_tfidf gate row and
    * [[keywordExtract]]'s per-doc ranking so the weighting cannot
    * drift between the two. */
  private def tfidfScores(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    tf.crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
          .as("tfidf"))
  }

  private def tfidf(s: SparkSession, d: String): DataFrame =
    tfidfScores(s, d).orderBy("doc_id", "word")

  /** Per-document keyword extraction: the top-3 TF-IDF terms of every
    * document — the "what is this doc about" featurizer behind topic
    * tagging, cluster labeling and retrieval snippets. Ranking is a
    * row_number window PER DOCUMENT (each doc's terms rank
    * independently — 10⁹ docs spread across executors, no global
    * sort) over the ROUNDED score with a lexicographic tie-break, so
    * the rank is engine-independent wherever the rounded scores are
    * (which the green q_tfidf row establishes). */
  private def keywordExtract(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word"))
    tfidfScores(s, d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Deterministic Bernoulli sampling (p = 0.1) via the portable
    * md5→(0,1] hash — TABLESAMPLE with a seed that reproduces across
    * engines, partitionings and reruns: both Spark and DuckDB select
    * the IDENTICAL rows, so the sample itself (not just its size) is
    * oracle-checked. The per-row probe is scan-stage arithmetic (no
    * shuffle, no rand()); complements `q_stratified_sample`'s
    * exact-k-per-group form. */
  private def bernoulliSample(s: SparkSession, d: String): DataFrame = {
    val u = graft.functions.TextFunctions.unitHash(
      concat(lit("smp|"), col("doc_id").cast("string")))
    Tables.documents(s, d)
      .withColumn("u", u).filter(col("u") < 0.1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Per-document token Shannon entropy (nats) — the lexical-diversity
    * curation signal (template/boilerplate docs score low, natural
    * prose high). H = ln(n) − (Σ c·ln c)/n over the doc's word
    * histogram. The cross-engine trap is the Σ: a float sum over a
    * GROUP is summation-order-dependent, so the histogram is folded
    * as a SORTED ARRAY — `sort_array(collect_list(struct(word, c)))`
    * then a left `aggregate` fold — and DuckDB mirrors it with
    * `list_sort` + `list_transform` + `list_reduce`: both engines add
    * the same terms in the same order. Per-doc arrays are bounded by
    * the doc's vocabulary (collect_list here is per-document state,
    * not a global collect). */
  /** Misra–Gries heavy hitters over corpus words
    * ([[graft.functions.MisraGries]] — the typed mergeable Aggregator;
    * see its scaladoc for the PODS'12 merge): the frequent-items
    * sketch that complements `q_cms_counts` (CMS estimates ANY key's
    * count but cannot LIST the heavy keys; MG lists them in k−1
    * counters with the deterministic guarantee that every item above
    * n/k is present and every estimate sits in [true − n/k, true]).
    * The candidate set BEYOND the guaranteed items is merge-order-
    * dependent (partitioning-sensitive), so the hashed row carries
    * only the theorem: the true heavies (exact·k > n, recomputed
    * exactly — the join-back a production pipeline also does) with
    * `captured` and `within_bound` verdict booleans the oracle
    * asserts TRUE. Scale shape: the sketch is one typed aggregate —
    * partial ≤ (k−1)-entry maps merge map-side, the full word stream
    * never centralizes; the exact side is the usual partial-agg
    * word count. `MisraGriesSpec` pins the bounds under adversarial
    * partitionings and the classic decrement math. */
  private def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    val words = Tables.documents(s, d)
      .select(explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
    val n = words.count()
    val sketch: Map[String, Long] = words.as[String]
      .select(new graft.functions.MisraGries(k).toColumn)
      .head()
    val est = sketch.toSeq.toDF("w", "mg_est")
    words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      .filter(col("exact_cnt") * k > n)
      .join(est, Seq("w"), "left")
      .select(col("w"), col("exact_cnt"),
        col("mg_est").isNotNull.as("captured"),
        (col("mg_est").isNotNull && col("mg_est") <= col("exact_cnt") &&
          col("mg_est") * lit(k.toLong) >=
            col("exact_cnt") * lit(k.toLong) - lit(n)).as("within_bound"))
      .orderBy("w")
  }

  /** SpaceSaving heavy hitters under the gate — [[heavyHitters]]'s
    * MG twin with the OVERestimating sketch whose per-item (count,
    * error) interval is itself reportable
    * ([[graft.functions.SpaceSaving]]). Hashed-row discipline (the MG
    * rule): only merge-order-invariant theorems reach the row —
    * `captured` is the implication "true > absent-bound d ⇒ tracked"
    * (exact capture whenever the theorem promises it; a sketch that
    * MISSES such an item hash-fails the gate) and `within_bound` is
    * the per-item interval `c − e ≤ exact ≤ c` for tracked heavies.
    * The sharp guarantees (all true heavies tracked, d·k ≤ n) are
    * partition-sensitive in deep merge trees, so `SpaceSavingSpec`
    * pins them under adversarial repartitionings instead. Scale
    * shape: identical to the MG row — one typed aggregate whose
    * partials are ≤ k-entry maps merging map-side, plus the exact
    * join-back a production pipeline also does. */
  private def heavyHittersSS(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    val words = Tables.documents(s, d)
      .select(explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
    val n = words.count()
    val sk: graft.functions.SpaceSavingBuf = words.as[String]
      .select(new graft.functions.SpaceSaving(k).toColumn)
      .head()
    val est = sk.entries.toSeq.map { case (w, (c, e)) => (w, c, e) }
      .toDF("w", "ss_est", "ss_err")
    words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      .filter(col("exact_cnt") * k > n)
      .join(est, Seq("w"), "left")
      .select(col("w"), col("exact_cnt"),
        (col("ss_est").isNotNull || col("exact_cnt") <= lit(sk.d))
          .as("captured"),
        (col("ss_est").isNull || (col("exact_cnt") <= col("ss_est") &&
          col("ss_est") - col("ss_err") <= col("exact_cnt")))
          .as("within_bound"))
      .orderBy("w")
  }

  private def entropyQ(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(lower(col("text")))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    tf.groupBy("doc_id")
      .agg(sum("c").as("n_tok"),
        sort_array(collect_list(struct(col("word"), col("c")))).as("h"))
      .select(col("doc_id"), col("n_tok"),
        (round(
          log(col("n_tok").cast("double")) -
            expr("aggregate(h, 0D, (acc, x) -> acc + x.c * ln(x.c))") /
              col("n_tok"), 4) + lit(0.0)).as("entropy_nats"))
      .orderBy("doc_id")
  }

  /** Tokenizer-vocabulary coverage: per-document out-of-vocabulary
    * rate against the corpus top-K vocabulary — the curation signal
    * that tells "this doc is full of tokens the tokenizer will
    * shatter" (code, other scripts, boilerplate noise). The vocab is
    * the top-K words by corpus frequency with a lexicographic
    * tie-break (deterministic truncation), built by one hash
    * aggregate + TakeOrderedAndProject and BROADCAST back — the
    * per-token membership probe never shuffles the token stream. The
    * rate is fixed-point ppm via integer floor division (no float
    * division to diverge). K = 16 because the synthetic corpus has 31
    * distinct lowered words; production K (32k–256k) changes nothing
    * structural — a 256k-word broadcast is a few MB. */
  private def oovRate(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(lower(col("text")))).as("word"))
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(16)
      .select(col("word"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        expr("n_oov * cast(1000000 as bigint) div n_tok"))
      .orderBy("doc_id")
  }

  /** BM25 relevance scoring against a fixed term set — the ranking
    * function behind retrieval-based curation (scoring a web corpus
    * against a seed query, retrieval-augmented filtering, dedup
    * triage). Lucene-form idf = ln(1 + (N−df+0.5)/(df+0.5)), k1 = 1.2,
    * b = 0.75. Same one-scan shape as [[tfidf]]: tf is a (doc, term)
    * aggregate, df a window over it, N and avgdl broadcast scalars —
    * no shuffle touches raw text. */
  /** Shared BM25 scoring core: (doc_id, bm25 rounded 4, n_terms_hit)
    * for documents hitting ≥ 1 seed term — used verbatim by both the
    * q_bm25 gate row and q_hybrid_search's sparse leg so the two can
    * never drift apart. */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queryTerms = Seq("data", "table", "join")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = Tables.documents(s, d)
      .join(dl, "doc_id")
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = toks.filter(col("word").isin(queryTerms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
    tf.join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * col("tf") * (lit(1.2) + 1) /
          (col("tf") + lit(1.2) *
            (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 4).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
  }

  private def bm25(s: SparkSession, d: String): DataFrame =
    bm25Scores(s, d).orderBy("doc_id")

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    * of the [[bm25]] sparse ranking and a dense cosine ranking
    * against the query vector (vec_id 0, the same probe as
    * q_cosine_topk; embeddings row i is document i's vector): the
    * retrieval-based curation operator a seed-guided corpus filter
    * runs at scale. RRF(d) = Σ_list 1/(60 + rank_list(d)) over the
    * top-50 of each list. Hash stability: both ranks are computed on
    * the 4-decimal-ROUNDED scores with a doc-id tiebreak — the
    * rounded scores are cross-engine-exact (the green q_bm25 /
    * q_cosine_topk rows prove it), so the integer ranks and the
    * 2-term RRF sum cannot drift; the raw libm floats never
    * determine the hashed row beyond their rounded form. Scale
    * shape: each top-50 list is a distributed partial top-k
    * (TakeOrderedAndProject), the rank window then runs on 50 rows;
    * the fusion is a 50×50 full-outer equi-join; the query vector
    * and corpus stats are 1-row broadcasts. */
  private def hybridSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vf = graft.functions.VectorFunctions
    vf.register(s)
    val kList = 50
    val rankW = Window.orderBy(col("score").desc, col("doc_id"))
    val topS = bm25Scores(s, d).select(col("doc_id"), col("bm25").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(kList)
      .withColumn("rank_sparse", row_number().over(rankW).cast("int"))
      .select("doc_id", "rank_sparse")
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val qv = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    val topD = emb.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(vf.vecDot(col("e"), col("qe")) /
          (sqrt(vf.vecDot(col("e"), col("e"))) *
           sqrt(vf.vecDot(col("qe"), col("qe")))), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(kList)
      .withColumn("rank_dense", row_number().over(rankW).cast("int"))
      .select("doc_id", "rank_dense")
    topS.join(topD, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("rank_sparse")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .select("doc_id", "rank_sparse", "rank_dense", "rrf")
  }

  /** Near-duplicate clusters: the engine's min-label-propagation
    * connected components ([[graft.query.ConnectedComponents]]) over
    * the verified Jaccard pair graph — checked against a DuckDB
    * recursive-CTE transitive closure, so the iterative driver-loop
    * algorithm itself is oracle-validated, not just spec-tested.
    * Shingles take the same engine-portable 48-bit md5 hash as
    * [[ngramJaccard]] before the wide shuffle (longs move, not n-gram
    * strings; the oracle hashes identically). */
  /** The (vertex, component) assignment over near-dup clusters —
    * shared by `q_dedup_clusters`, `q_dedup_cluster_sizes` and
    * `q_survivor_pick` so the clustering cannot drift between the
    * three views of it. */
  private def dedupComponents(s: SparkSession, d: String): DataFrame =
    graft.query.ConnectedComponents
      .run(graft.functions.TextFunctions
        .jaccardPairs(shingles(s, d).select(col("doc_id"),
          conv(substring(md5(col("shingle")), 1, 12), 16, 10).cast("long")
            .as("shingle")),
          "doc_id", 0.8, maxDf = 200),
        "id_a", "id_b")

  private def dedupClustersQ(s: SparkSession, d: String): DataFrame =
    dedupComponents(s, d).orderBy("vertex")

  /** Survivorship: the canonical document each near-dup cluster KEEPS
    * — dedup's output side (the admission loop keeps first-seen;
    * an offline curation pass keeps BEST, here longest-text with
    * smallest-id tie-break). One `max(struct(n_chars, −doc_id))`
    * argmax hash aggregate per component (the `q_latest_by_key`
    * shape — no window, partial aggregation map-side, survives a
    * giant template cluster), over the SAME component assignment as
    * `q_dedup_clusters`. */
  private def survivorPick(s: SparkSession, d: String): DataFrame =
    dedupComponents(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("vertex") === col("doc_id"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("component"), col("n_members"),
        (-col("m.nid")).as("survivor_doc_id"),
        col("m.n_chars").as("survivor_chars"))
      .orderBy("component")

  /** Duplicate-cluster size histogram — the observability twin of
    * [[dedupClustersQ]]: how much of the corpus sits in near-dup
    * clusters of which sizes (size 1 = documents in no verified pair)
    * — the statistic that tells a curation run whether duplication is
    * a long tail of pairs or a few giant template clusters (which
    * need the df-ceiling / substring path instead). Cluster rows are
    * one tiny aggregate over the components table; the singleton
    * count is corpus-total minus clustered, a broadcast scalar join. */
  private def dedupClusterSizes(s: SparkSession, d: String): DataFrame = {
    val comps = dedupComponents(s, d)
    val hist = comps.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      .crossJoin(comps.agg(count(lit(1)).as("n_in")))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_in")).as("n_clusters"))
    singles.unionByName(hist).orderBy("cluster_size")
  }

  /** Train→test contamination check — the eval-decontamination
    * operator: a test-split document is contaminated when it shares a
    * winnowing fingerprint (≥ 7-token verbatim run, see [[winnow]])
    * with ANY train-split document. Composes [[splitAssign]]'s
    * deterministic buckets with the fingerprint index; only
    * (fingerprint, id) longs shuffle, and the train index is a
    * distinct-fingerprint semi-join build side. */
  private def contamination(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    val fps = windowHashes(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.winnowMins(col("whs"), 4)).as("fp"))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val trainFps = fps.filter(col("split") === "train")
      .select("fp").distinct().withColumn("hit", lit(1))
    fps.filter(col("split") === "test")
      .join(trainFps, Seq("fp"), "left")
      .agg(
        countDistinct("doc_id").as("n_test"),
        countDistinct(when(col("hit") === 1, col("doc_id"))).as("n_contaminated"))
  }

  /** Repetition metrics — the degenerate-text detector every
    * pre-training filter stack runs (Gopher-style repetition rules):
    * top-bigram share, duplicate-bigram fraction, and type-token
    * ratio. A looping generation or boilerplate page shows
    * dup_bigram_frac near 1 and TTR near 0. Scan-stage + one narrow
    * (doc, bigram) aggregate; no text leaves the scan. */
  private def repetition(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 2)
    val bigramStats = base
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
          .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max("c").as("top"), sum("c").as("n"), sum(col("c") - 1).as("dup"))
    base.select(col("doc_id"),
        round(size(array_distinct(col("w"))).cast("double") / size(col("w")), 4)
          .as("ttr"))
      .join(bigramStats, "doc_id")
      .select(col("doc_id"),
        round(col("top").cast("double") / col("n"), 4).as("top_bigram_frac"),
        round(col("dup").cast("double") / col("n"), 4).as("dup_bigram_frac"),
        col("ttr"))
      .orderBy("doc_id")
  }

  /** Exact-k stratified sample — k documents per source, selected as
    * the k smallest salted hashes (so membership is deterministic and
    * rerun-stable, unlike `sample()`, and uniform within each
    * stratum). Rate-based sampling ([[mixtureSample]]) only hits its
    * target in expectation; eval sets and per-source quotas need the
    * EXACT count. Scale shape: the naive window form
    * (`row_number` over each stratum) sorts every stratum's full
    * contents through one reducer; this runs the bounded-heap
    * [[graft.functions.TopK]] Aggregator instead — map-side partial
    * heaps, n_sources × k tuples shuffle. The window form IS the
    * DuckDB oracle, so the two are hash-checked equivalent. */
  private def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val k = 20
    // 48-bit hash: exact in a double (TopK scores are doubles) AND in
    // DuckDB's BIGINT, so the two engines rank identical keys
    val h = conv(substring(
      md5(concat(lit("strat|"), col("doc_id").cast("string"))), 1, 12), 16, 10)
      .cast("long")
    val scored = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), (-h).cast("double").as("neg_h"))
    graft.functions.TopK.perKey(scored, "source", "neg_h", "doc_id", k)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
  }

  /** Deterministic weighted (priority) sample — k docs per source with
    * inclusion biased toward heavier documents, via priority sampling
    * (Duffield, Lund & Thorup, JACM 2007): each doc draws u ∈ (0,1]
    * from a salted 48-bit hash and is ranked by priority w/u; the k
    * largest priorities per stratum win, so inclusion probability
    * rises with w while membership stays rerun- and
    * partitioning-stable. Here w = whitespace-token count — the
    * "sample long documents proportionally more" policy a token-budget
    * mixture wants; [[stratifiedSample]] is the unweighted twin.
    * Cross-engine exact by construction: u = (h+1)/2^48 is a
    * power-of-two division (no rounding), and ranking by w/u ≡ ranking
    * by w/(h+1) — ONE correctly-rounded IEEE division of exact
    * operands, so Spark and DuckDB order identically. (The classical
    * exponential-key form u^(1/w) needs ln/pow, whose last-ulp
    * rounding is math-library-specific — not safe to hash-match across
    * engines.) Scale shape: same bounded-heap [[graft.functions.TopK]]
    * as the stratified twin — map-side partial heaps, n_sources × k
    * tuples shuffle, never a whole-stratum sort. */
  private def weightedSample(s: SparkSession, d: String): DataFrame = {
    val k = 20
    val h = conv(substring(
      md5(concat(lit("prio|"), col("doc_id").cast("string"))), 1, 12), 16, 10)
      .cast("long")
    val scored = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        (size(words(col("text"))).cast("double") /
          (h + lit(1L)).cast("double")).as("priority"))
    graft.functions.TopK.perKey(scored, "source", "priority", "doc_id", k)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
  }

  /** Deterministic epoch upsampling — the other half of data mixing:
    * sources weighted ABOVE 1.0 are repeated, fractional weights
    * resolved per document by salted hash bucket (weight 2.25 → every
    * document twice, a deterministic 25% of them three times), so the
    * epoch plan is reproducible on any cluster size and partitioning.
    * Emits one (doc, epoch) row per repetition — the table a packing
    * stage consumes when a mixture calls for more than one pass over
    * a source. Scan-stage explode, no shuffle. */
  private def mixtureEpochs(s: SparkSession, d: String): DataFrame = {
    val w100 = when(col("source") === "src0", 225)
      .when(col("source") === "src1", 150)
      .when(col("source") === "src2", 100)
      .otherwise(30) // weight × 100
    val bucket = conv(substring(
      md5(concat(lit("ep|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
      .cast("int") % 100
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        ((w100 / 100).cast("int") +
          when(bucket < w100 % 100, 1).otherwise(0)).as("n_rep"))
      .filter(col("n_rep") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), col("n_rep") - 1)).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Deterministic weighted mixture sampling — the data-mixture
    * operator: each source gets a target sampling rate (here src0/src1
    * upweighted 50%, src2 25%, everything else 10%) and membership is
    * decided by a salted md5 bucket of the doc id, so the same
    * document is kept on every run, any cluster size, any partitioning
    * — a `sample()` call can promise none of that. Scan-stage, no
    * shuffle; the salt ("mix|") keeps this independent of
    * `q_split_assign`'s buckets. */
  private def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(
      md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
      .cast("int") % 100
    val rate = when(col("source").isin("src0", "src1"), 50)
      .when(col("source") === "src2", 25)
      .otherwise(10)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), bucket.as("bucket"),
        rate.as("rate_pct"))
      .filter(col("bucket") < col("rate_pct"))
      .orderBy("doc_id")
  }

  /** Corpus composition report — per (source, language) document and
    * character counts plus each cell's share of the corpus: the
    * mixture dashboard a training-data pipeline re-checks after every
    * filter stage. One aggregate + a global window over the (tiny)
    * group table. */
  private def sourceMix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy()), 4))
      .orderBy("source", "lang")
  }

  /** Document fingerprint: md5 of the whitespace-normalized text. */
  private def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
      .orderBy("doc_id")

  private def langCase: String = {
    // Build the nested CASE mirroring the Scala fold: priority en > es > de > fr.
    val cond = langMarkers.reverse.foldLeft("'unknown'") { case (acc, (l, _)) =>
      s"CASE WHEN s_$l = best THEN '$l' ELSE $acc END"
    }
    cond
  }

  /** PII redaction — the compliance scrub a training-data pipeline
    * runs before anything else: regex-detect emails and phone numbers,
    * count them, replace them with typed placeholder tokens. Pure
    * scan-stage work (codegen'd regexp functions, no UDF); the
    * patterns stay inside the RE2 ∩ Java-regex dialect so the DuckDB
    * oracle executes them identically. The synthetic corpus plants no
    * PII, so every 5th document gets a deterministic doc_id-derived
    * email + phone appended IN THE QUERY (both engines build the same
    * augmented text); the redacted-text md5 then hash-checks the full
    * replacement semantics, not just the match counts. */
  private val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiPhoneRe = "\\d{3}[-. ]\\d{3}[-. ]\\d{4}"
  private def piiRedact(s: SparkSession, d: String): DataFrame = {
    val aug = Tables.documents(s, d).withColumn("t",
      when(col("doc_id") % 5 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-4567 now")))
        .otherwise(col("text")))
    aug.select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(piiEmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(piiPhoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(
          regexp_replace(col("t"), piiEmailRe, "[EMAIL]"),
          piiPhoneRe, "[PHONE]")).as("red_md5"))
      .orderBy("doc_id")
  }

  /** Per-source exact-dedup report — the corpus-health dashboard
    * number a curation run publishes: how many documents each source
    * loses to exact deduplication (smallest-id survivor rule, so a
    * cross-source duplicate charges the loss to the source holding the
    * later copy). Only (digest, id, source) rows shuffle. */
  private def dedupReport(s: SparkSession, d: String): DataFrame = {
    val g = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val keep = g.groupBy("h").agg(min("doc_id").as("keeper"))
    g.join(keep, "h")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper"), 1).otherwise(0))
          .cast("bigint").as("n_dup_losses"),
        round(avg(when(col("doc_id") =!= col("keeper"), 1.0).otherwise(0.0)), 4)
          .as("dup_rate"))
      .orderBy("source")
  }

  /** Context-window chunking — split every document into overlapping
    * token windows (64 tokens, stride 48 ⇒ 16-token overlap), the prep
    * step that turns raw documents into model-sized training rows.
    * Chunk count and boundaries are pure integer functions of the
    * token count; the chunk-text md5 hash-checks the slicing itself
    * cross-engine. All scan-stage array work — no shuffle at all
    * until a consumer aggregates. */
  private def chunking(s: SparkSession, d: String): DataFrame = {
    val W = 64; val S = 48
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          greatest(ceil((size(col("w")) - W).cast("double") / S), lit(0))
            .cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("w"), col("chunk_id") * S + 1, lit(W))).as("n_tokens"),
        md5(array_join(slice(col("w"), col("chunk_id") * S + 1, lit(W)), " "))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Greedy sequence packing — concatenate documents (in deterministic
    * doc_id order per source) into fixed-capacity token bins of 2048,
    * the sample-packing step that keeps training batches dense. A
    * document's bin is the bin its first token lands in under running
    * concatenation: floor(tokens-before-it / capacity) — one window
    * cumsum, engine-portable integer arithmetic, reproducible across
    * reruns and partitionings (unlike any load-balancing heuristic
    * with runtime-dependent order). */
  private def packing(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = 2048
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(words(col("text"))).as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / cap).cast("int"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("bigint").as("total_tokens"))
      .orderBy("source", "bin")
  }

  /** Bigram language-model scoring — the perplexity-style quality gate
    * (CCNet-shape): estimate add-1-smoothed bigram probabilities FROM
    * THE CORPUS ITSELF (occurrence counts, not per-doc distinct), then
    * score every document by its mean log-probability
    * avg ln((c(w1 w2) + 1) / (c(w1) + V)). Low scores = text unlike
    * the corpus (boilerplate, gibberish, wrong language). Plan shape:
    * two count tables joined back on (bigram) and (w1) — corpus-sized
    * aggregates, broadcastable vocab scalar, no driver-side state.
    * Tokens contain no spaces (\\S+ runs), so the bigram join key is
    * an unambiguous "w1 w2" string in both engines. */
  /** Shared bigram-LM scoring core: (doc_id, n_bigrams, avg_logp
    * rounded 4) — used verbatim by the q_bigram_lm gate row and
    * q_ppl_buckets' scoring leg so the two cannot drift apart. */
  private def bigramLmScores(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val b = docs.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat(element_at(col("w"), i), lit(" "),
            element_at(col("w"), i + 1)))).as("big"))
      .withColumn("w1", substring_index(col("big"), " ", 1))
    val toks = docs.select(explode(col("w")).as("word"))
    val uni = toks.groupBy("word").agg(count(lit(1)).as("cu"))
      .withColumnRenamed("word", "w1")
    val vocab = toks.agg(countDistinct("word").as("v"))
    val bi = b.groupBy("big").agg(count(lit(1)).as("cb"))
    b.join(bi, "big").join(uni, "w1").crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((col("cb") + 1.0) / (col("cu") + col("v"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("lp"), 4).as("avg_logp"))
  }

  private def bigramLm(s: SparkSession, d: String): DataFrame =
    bigramLmScores(s, d).orderBy("doc_id")

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    * corpus into head / middle / tail by the TERCILES of the bigram-LM
    * score — the standard "keep the head, drop or down-weight the
    * tail" curation knob. Scale shape: the two cutoffs are ONE tiny
    * percentile aggregate broadcast back (never a global ntile sort —
    * that would funnel the corpus through a single ordering task);
    * bucket assignment is then scan-stage. Hash stability: cutoffs
    * are exact type-7 interpolated percentiles OF THE 4-DECIMAL-
    * ROUNDED scores (cross-engine-exact per the green q_bigram_lm
    * row), compared with `>=` in both engines, so a document lands in
    * the same bucket everywhere. */
  private def pplBuckets(s: SparkSession, d: String): DataFrame = {
    val scored = bigramLmScores(s, d)
    val cuts = scored.agg(
      percentile(col("avg_logp"), lit(1.0 / 3)).as("c1"),
      percentile(col("avg_logp"), lit(2.0 / 3)).as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("avg_logp"),
        when(col("avg_logp") >= col("c2"), "head")
          .when(col("avg_logp") >= col("c1"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** Exact-match cross-split decontamination — the digest-level
    * companion to the fingerprint-overlap `q_contamination`: a TRAIN
    * document is dropped when its exact content (md5) also appears in
    * the TEST split (the held-out set must never leak into training
    * verbatim). Anti-join on 16-byte digests — the only thing that
    * shuffles; survivors report per-split counts. Reuses the
    * deterministic md5-bucket split of `q_split_assign`. */
  private def crossDedup(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
    val testH = docs.filter(col("split") === "test").select("h").distinct()
      .withColumn("graft_in_test", lit(true))
    // ONE equi left join on the digest + conditional aggregation — a
    // separate count-of-cleaned-train scalar joined back on a constant
    // key folds into a BroadcastNestedLoopJoin, which PlanGuardSpec
    // rightly rejects.
    docs.join(testH, Seq("h"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split") === "train" && col("graft_in_test"), 1)
          .otherwise(0)).as("graft_dropped"))
      .select(col("split"), col("n_docs"),
        (col("n_docs") - col("graft_dropped")).as("n_after_decontam"))
      .orderBy("split")
  }

  val all: Seq[Q] = Seq(
    Q("q_cross_dedup", crossDedup, Some(
      "WITH s AS (SELECT doc_id, md5(text) AS h, " +
      "CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 < 80 THEN 'train' " +
      "WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 < 90 THEN 'val' " +
      "ELSE 'test' END AS split FROM documents), " +
      "th AS (SELECT DISTINCT h FROM s WHERE split = 'test') " +
      "SELECT split, count(*) AS n_docs, " +
      "CAST(count(*) - sum(CASE WHEN split = 'train' AND h IN (SELECT h FROM th) " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_after_decontam " +
      "FROM s GROUP BY split ORDER BY split")),
    Q("q_bigram_lm", bigramLm, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "f AS (SELECT doc_id, w FROM w WHERE len(w) >= 2), " +
      "b AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
      "i -> w[i] || ' ' || w[i+1])) AS big FROM f), " +
      "b2 AS (SELECT doc_id, big, split_part(big, ' ', 1) AS w1 FROM b), " +
      "toks AS (SELECT unnest(w) AS word FROM f), " +
      "uni AS (SELECT word AS w1, count(*) AS cu FROM toks GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT word) AS v FROM toks), " +
      "bi AS (SELECT big, count(*) AS cb FROM b GROUP BY 1), " +
      "sc AS (SELECT doc_id, ln((cb + 1.0) / (cu + v)) AS lp " +
      "FROM b2 JOIN bi USING (big) JOIN uni USING (w1), v) " +
      "SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 4) AS avg_logp " +
      "FROM sc GROUP BY 1 ORDER BY doc_id")),
    Q("q_ppl_buckets", pplBuckets, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "f AS (SELECT doc_id, w FROM w WHERE len(w) >= 2), " +
      "b AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
      "i -> w[i] || ' ' || w[i+1])) AS big FROM f), " +
      "b2 AS (SELECT doc_id, big, split_part(big, ' ', 1) AS w1 FROM b), " +
      "toks AS (SELECT unnest(w) AS word FROM f), " +
      "uni AS (SELECT word AS w1, count(*) AS cu FROM toks GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT word) AS v FROM toks), " +
      "bi AS (SELECT big, count(*) AS cb FROM b GROUP BY 1), " +
      "sc AS (SELECT doc_id, ln((cb + 1.0) / (cu + v)) AS lp " +
      "FROM b2 JOIN bi USING (big) JOIN uni USING (w1), v), " +
      "sc2 AS (SELECT doc_id, round(avg(lp), 4) AS avg_logp FROM sc GROUP BY 1), " +
      "cut AS (SELECT quantile_cont(avg_logp, CAST(1 AS DOUBLE) / 3) AS c1, " +
      "quantile_cont(avg_logp, CAST(2 AS DOUBLE) / 3) AS c2 FROM sc2) " +
      "SELECT doc_id, avg_logp, " +
      "CASE WHEN avg_logp >= c2 THEN 'head' WHEN avg_logp >= c1 THEN 'middle' " +
      "ELSE 'tail' END AS ppl_bucket FROM sc2, cut ORDER BY doc_id")),
    Q("q_chunking", chunking, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w " +
      "FROM documents), " +
      "c AS (SELECT doc_id, w, unnest(range(0, " +
      "greatest(CAST(ceil((len(w) - 64) / 48.0) AS INT), 0) + 1)) AS chunk_id " +
      "FROM w WHERE len(w) >= 1) " +
      "SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, " +
      "CAST(len(list_slice(w, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS INT) AS n_tokens, " +
      "md5(array_to_string(list_slice(w, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')) AS chunk_md5 " +
      "FROM c ORDER BY doc_id, chunk_id")),
    Q("q_packing", packing, Some(
      "WITH t AS (SELECT doc_id, source, " +
      "CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tok FROM documents), " +
      "c AS (SELECT doc_id, source, n_tok, sum(n_tok) OVER " +
      "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t) " +
      "SELECT source, CAST((cum - n_tok) // 2048 AS INT) AS bin, " +
      "count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens " +
      "FROM c GROUP BY 1, 2 ORDER BY source, bin")),
    Q("q_dedup_report", dedupReport, Some(
      "WITH g AS (SELECT doc_id, source, md5(text) AS h FROM documents), " +
      "k AS (SELECT h, min(doc_id) AS keeper FROM g GROUP BY h) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_losses, " +
      "round(avg(CASE WHEN doc_id <> keeper THEN 1.0 ELSE 0.0 END), 4) AS dup_rate " +
      "FROM g JOIN k USING (h) GROUP BY source ORDER BY source")),
    Q("q_pii_redact", piiRedact, Some(
      "WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN " +
      "text || ' contact user' || doc_id::VARCHAR || '@example.com or call 555-' || " +
      "lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-4567 now' ELSE text END AS t " +
      "FROM documents) " +
      "SELECT doc_id, " +
      "CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, " +
      "CAST(len(regexp_extract_all(t, '\\d{3}[-. ]\\d{3}[-. ]\\d{4}')) AS INT) AS n_phones, " +
      "md5(regexp_replace(regexp_replace(t, " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), " +
      "'\\d{3}[-. ]\\d{3}[-. ]\\d{4}', '[PHONE]', 'g')) AS red_md5 " +
      "FROM aug ORDER BY doc_id")),
    Q("q_dedup_exact", dedupExact, Some(
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id")),
    Q("q_dedup_groups", dedupGroups, Some(
      "SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY h")),
    Q("q_bloom_dedup", bloomDedup, Some(
      "SELECT doc_id, md5(text) AS digest FROM documents f " +
      "WHERE doc_id % 7 <> 0 AND NOT EXISTS (SELECT 1 FROM documents r " +
      "WHERE r.doc_id % 7 = 0 AND md5(r.text) = md5(f.text)) ORDER BY doc_id")),
    Q("q_dataset_card", datasetCard, Some(
      "WITH w AS (SELECT doc_id, source, lang, n_chars, " +
      "len(regexp_extract_all(text, '\\S+')) AS n_tok, md5(text) AS h FROM documents), " +
      "c AS (SELECT h, count(*) AS ch FROM w GROUP BY 1) " +
      "SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      "CAST(sum(n_tok) AS BIGINT) AS total_tokens, " +
      "CAST(sum(CASE WHEN ch > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, " +
      "min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
      "FROM w JOIN c USING (h) GROUP BY 1 ORDER BY 1")),
    Q("q_vocab_growth", vocabGrowth, Some(
      "WITH cps AS (SELECT CAST(unnest([64, 128, 256, 512, 1024, 4096, 16384]) AS BIGINT) AS cp), " +
      "fw AS (SELECT word, min(doc_id) AS first_doc FROM " +
      "(SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word FROM documents) q GROUP BY 1), " +
      "v AS (SELECT cp, count(*) AS vocab FROM fw JOIN cps ON first_doc < cp GROUP BY 1), " +
      "t AS (SELECT cp, sum(len(regexp_extract_all(text, '\\S+'))) AS total_tokens " +
      "FROM documents JOIN cps ON doc_id < cp GROUP BY 1) " +
      "SELECT t.cp, CAST(t.total_tokens AS BIGINT) AS total_tokens, " +
      "CAST(coalesce(v.vocab, 0) AS BIGINT) AS vocab " +
      "FROM t LEFT JOIN v USING (cp) ORDER BY cp")),
    Q("q_posting_lists", postingLists, Some(
      "WITH t AS (SELECT DISTINCT word, doc_id FROM " +
      "(SELECT unnest(regexp_extract_all(text, '\\S+')) AS word, doc_id FROM documents) q) " +
      "SELECT word, count(*) AS df, " +
      "md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5 " +
      "FROM t GROUP BY 1 HAVING count(*) BETWEEN 2 AND 1000 ORDER BY word")),
    Q("q_gopher_rules", gopherRules, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      // coalesce: DuckDB list_sum of an empty list is NULL where
      // Spark's aggregate(..., 0, ...) returns 0 — a zero-word doc
      // must not NULL-poison the r_meanlen comparison
      "b AS (SELECT doc_id, len(w) AS n, " +
      "coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS sum_len, " +
      "len(list_intersect(list_distinct(w), " +
      "['the','a','and','of','to','in','is','that'])) AS n_stop, " +
      "greatest(len(w) - 1, 0) AS n_bg, " +
      "greatest(len(w) - 1, 0) - len(list_distinct(list_transform(" +
      "range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS dup_bg FROM w) " +
      "SELECT doc_id, CAST(n AS INT) AS n_words, CAST(n_stop AS INT) AS n_stopwords, " +
      "CAST(dup_bg AS INT) AS dup_bigrams, " +
      "n BETWEEN 50 AND 100000 AS r_wordcount, " +
      "(3 * n <= sum_len AND sum_len <= 10 * n) AS r_meanlen, " +
      "n_stop >= 2 AS r_stopwords, " +
      "5 * dup_bg <= n_bg AS r_repetition, " +
      "(n BETWEEN 50 AND 100000 AND 3 * n <= sum_len AND sum_len <= 10 * n " +
      "AND n_stop >= 2 AND 5 * dup_bg <= n_bg) AS keep " +
      "FROM b ORDER BY doc_id")),
    Q("q_bpe_merges", bpeMerges, Some(
      "WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS word FROM documents), " +
      "f AS (SELECT word, count(*) AS wc FROM t WHERE regexp_full_match(word, '[a-z]+') GROUP BY 1), " +
      "p AS (SELECT wc, unnest(list_transform(range(1, length(word)), " +
      "i -> word[i:i+1])) AS pair FROM f WHERE length(word) >= 2) " +
      "SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM p GROUP BY 1 " +
      "ORDER BY cnt DESC, pair LIMIT 20")),
    Q("q_ngram_jaccard", ngramJaccard, Some(
      shinglesCte + ", " +
      "shh AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS shingle FROM sh), " +
      "sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id), " +
      "kept AS (SELECT shingle FROM shh GROUP BY shingle HAVING count(*) <= 200), " +
      "ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common " +
      "FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "JOIN kept ON a.shingle = kept.shingle GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, round(n_common / (sa.sz + sb.sz - n_common), 4) AS jaccard " +
      "FROM ov JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id " +
      "WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.8 ORDER BY doc_a, doc_b"),
      headline = true),
    Q("q_minhash_sig", minhashSig, Some(
      minhashCte + " SELECT doc_id, k, mh FROM mh ORDER BY doc_id, k")),
    Q("q_lsh_pairs", lshPairs, Some(
      minhashCte + ", " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh GROUP BY doc_id, k // 2) " +
      "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id " +
      "ORDER BY doc_a, doc_b")),
    Q("q_incremental_lsh", incrementalLsh, Some(
      minhashCte + ", " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh GROUP BY doc_id, k // 2) " +
      "SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id FROM bands n " +
      "JOIN bands c ON n.band = c.band AND n.sig = c.sig " +
      "WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 " +
      "ORDER BY new_id, corpus_id")),
    Q("q_incremental_lsh_bucketed", incrementalLshBucketed, Some(
      minhashCte + ", " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh GROUP BY doc_id, k // 2) " +
      "SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id FROM bands n " +
      "JOIN bands c ON n.band = c.band AND n.sig = c.sig " +
      "WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 " +
      "ORDER BY new_id, corpus_id")),
    Q("q_admission_loop", admissionLoop, Some(
      minhashCte + ", " +
      "dg AS (SELECT min(doc_id) AS keep FROM documents GROUP BY md5(text)), " +
      "ex AS (SELECT doc_id FROM documents WHERE doc_id IN (SELECT keep FROM dg)), " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh " +
      "WHERE doc_id IN (SELECT keep FROM dg) GROUP BY doc_id, k // 2), " +
      "losers AS (SELECT DISTINCT b.doc_id AS doc_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id) " +
      "SELECT doc_id, CASE WHEN doc_id <= (SELECT max(doc_id) // 2 FROM documents) " +
      "THEN 'd1' ELSE 'd2' END AS inc " +
      "FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers) ORDER BY doc_id")),
    Q("q_admission_compact", admissionCompact, Some(
      minhashCte + ", " +
      "dg AS (SELECT min(doc_id) AS keep FROM documents GROUP BY md5(text)), " +
      "ex AS (SELECT doc_id FROM documents WHERE doc_id IN (SELECT keep FROM dg)), " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh " +
      "WHERE doc_id IN (SELECT keep FROM dg) GROUP BY doc_id, k // 2), " +
      "losers AS (SELECT DISTINCT b.doc_id AS doc_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id) " +
      "SELECT doc_id, CASE WHEN doc_id <= (SELECT max(doc_id) // 3 FROM documents) " +
      "THEN 'd1' WHEN doc_id <= (SELECT 2 * max(doc_id) // 3 FROM documents) " +
      "THEN 'd2' ELSE 'd3' END AS inc " +
      "FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers) ORDER BY doc_id")),
    Q("q_admission_semantic", admissionSemantic, Some(
      minhashCte + ", " +
      "dg AS (SELECT min(doc_id) AS keep FROM documents GROUP BY md5(text)), " +
      "ex AS (SELECT doc_id FROM documents WHERE doc_id IN (SELECT keep FROM dg)), " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh " +
      "WHERE doc_id IN (SELECT keep FROM dg) GROUP BY doc_id, k // 2), " +
      "losers AS (SELECT DISTINCT b.doc_id AS doc_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id), " +
      "semsc AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
      "sum(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS d, " +
      "sum(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE) AS na, " +
      "sum(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS nb " +
      "FROM embeddings a, embeddings b, range(1, 65) t(i) " +
      "WHERE a.vec_id < b.vec_id AND a.vec_id IN (SELECT keep FROM dg) " +
      "AND b.vec_id IN (SELECT keep FROM dg) GROUP BY 1, 2), " +
      "seml AS (SELECT DISTINCT vb AS doc_id FROM semsc " +
      "WHERE d / (sqrt(na) * sqrt(nb)) >= 0.45) " +
      "SELECT doc_id, CASE WHEN doc_id <= (SELECT max(doc_id) // 2 FROM documents) " +
      "THEN 'd1' ELSE 'd2' END AS inc " +
      "FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers) " +
      "AND doc_id NOT IN (SELECT doc_id FROM seml) ORDER BY doc_id")),
    Q("q_minhash_estimate", minhashEstimate, Some(
      minhashCte + ", " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh GROUP BY doc_id, k // 2), " +
      "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id) " +
      "SELECT doc_a, doc_b, round(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) " +
      "/ count(*), 4) AS est_jaccard " +
      "FROM cands JOIN mh x ON x.doc_id = doc_a JOIN mh y ON y.doc_id = doc_b AND y.k = x.k " +
      "GROUP BY 1, 2 ORDER BY 1, 2")),
    Q("q_simhash", simhash, Some(
      simhashCteSql + " SELECT doc_id, simhash FROM sim ORDER BY doc_id")),
    Q("q_simhash_neardup", simhashNeardup, Some(
      simhashCteSql + ", " +
      "ch AS (SELECT doc_id, i, substr(simhash, CAST(1 + 16 * i AS INT), 16) AS chunk " +
      "FROM sim, range(0, 4) t(i)), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM ch a " +
      "JOIN ch b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id) " +
      "SELECT doc_a, doc_b, hamming FROM " +
      "(SELECT doc_a, doc_b, CAST(len(list_filter(range(1, 65), " +
      "j -> substr(x.simhash, CAST(j AS INT), 1) <> substr(y.simhash, CAST(j AS INT), 1))) AS INT) AS hamming " +
      "FROM cand JOIN sim x ON x.doc_id = doc_a JOIN sim y ON y.doc_id = doc_b) q " +
      "WHERE hamming <= 3 ORDER BY doc_a, doc_b")),
    Q("q_pmi_bigrams", pmiBigrams, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "uniw AS (SELECT unnest(w) AS t FROM w), " +
      "uni AS (SELECT t, count(*) AS c FROM uniw GROUP BY 1), " +
      "tot AS (SELECT (SELECT count(*) FROM uniw) AS u_tot, " +
      "(SELECT sum(greatest(len(w) - 1, 0)) FROM w) AS b_tot), " +
      "bg AS (SELECT unnest(list_transform(range(1, len(w)), " +
      "i -> w[i] || ' ' || w[i+1])) AS pair FROM w WHERE len(w) >= 2), " +
      "bc AS (SELECT pair, count(*) AS c12 FROM bg GROUP BY 1 HAVING count(*) >= 5) " +
      "SELECT pair, c12, u1.c AS c1, u2.c AS c2, " +
      "round(ln((c12::DOUBLE * u_tot * u_tot) / (b_tot::DOUBLE * u1.c * u2.c)), 4) + 0.0 AS pmi " +
      "FROM bc JOIN uni u1 ON u1.t = split_part(pair, ' ', 1) " +
      "JOIN uni u2 ON u2.t = split_part(pair, ' ', 2), tot " +
      "ORDER BY pair")),
    Q("q_token_counts", tokenCounts, Some(
      "SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_ws_tokens, " +
      "CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS INT) AS n_re_tokens " +
      "FROM documents ORDER BY doc_id")),
    Q("q_quality_score", qualityScore, Some(
      "SELECT doc_id, CAST(length(text) AS INT) AS n_len, " +
      "CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_words, " +
      "round(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) / length(text), 4) AS punct_ratio, " +
      "round(len(list_filter(regexp_extract_all(text, '\\S+'), x -> x IN ('the','a','of','and','to','in'))) " +
      "/ len(regexp_extract_all(text, '\\S+')), 4) AS stopword_ratio, " +
      "round(length(replace(text, ' ', '')) / len(regexp_extract_all(text, '\\S+')), 4) AS avg_word_len " +
      "FROM documents ORDER BY doc_id")),
    Q("q_lang_id", langId, Some(
      "WITH s AS (SELECT doc_id, lang, text, " +
      langMarkers.map { case (l, ms) =>
        s"CAST(len(list_filter(regexp_extract_all(text, '\\S+'), " +
        s"x -> x IN (${ms.map(m => s"'$m'").mkString(",")}))) AS INT) AS s_$l"
      }.mkString(", ") +
      " FROM documents), " +
      "g AS (SELECT *, greatest(s_en, s_es, s_de, s_fr) AS best FROM s) " +
      "SELECT doc_id, s_en, s_es, s_de, s_fr, " +
      "CASE WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh' " +
      s"WHEN best = 0 THEN 'unknown' ELSE $langCase END AS pred_lang, lang " +
      "FROM g ORDER BY doc_id")),
    Q("q_lang_confusion", langConfusion, Some(
      "WITH s AS (SELECT doc_id, lang, text, " +
      langMarkers.map { case (l, ms) =>
        s"CAST(len(list_filter(regexp_extract_all(text, '\\S+'), " +
        s"x -> x IN (${ms.map(m => s"'$m'").mkString(",")}))) AS INT) AS s_$l"
      }.mkString(", ") +
      " FROM documents), " +
      "g AS (SELECT *, greatest(s_en, s_es, s_de, s_fr) AS best FROM s), " +
      "p AS (SELECT lang, " +
      "CASE WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh' " +
      s"WHEN best = 0 THEN 'unknown' ELSE $langCase END AS pred_lang FROM g), " +
      "c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs " +
      "FROM p GROUP BY 1, 2), " +
      "t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS tot FROM c GROUP BY 1) " +
      "SELECT c.lang, c.pred_lang, c.n_docs, (c.n_docs * 1000000) // t.tot AS share_ppm " +
      "FROM c JOIN t USING (lang) ORDER BY 1, 2")),
    Q("q_fingerprint", fingerprint, Some(
      "SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id")),
    Q("q_rolling_fingerprint", rollingFingerprint, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "u AS (SELECT doc_id, list_transform(w, x -> CAST(" +
      (1 to 8).map(j => s"ascii(substr(md5(x), $j, 1)) * $j").mkString(" + ") +
      " AS BIGINT)) AS us FROM w WHERE len(w) >= 4), " +
      "h AS (SELECT doc_id, list_transform(range(1, len(us) - 2), " +
      "i -> us[i] * 2248091 + us[i+1] * 17161 + us[i+2] * 131 + us[i+3]) AS whs FROM u) " +
      "SELECT doc_id, CAST(len(whs) AS INT) AS n_windows, list_min(whs) AS fp " +
      "FROM h ORDER BY doc_id")),
    Q("q_split_assign", splitAssign, Some(
      "SELECT doc_id, bucket, CASE WHEN bucket < 80 THEN 'train' " +
      "WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM " +
      "(SELECT doc_id, CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) " +
      "% 100 AS INT) AS bucket FROM documents) t ORDER BY doc_id")),
    Q("q_shard_shuffle", shardShuffle, Some(
      "WITH t AS (SELECT doc_id, " +
      "CAST(CAST('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 8 AS INT) AS shard, " +
      "CAST('0x' || substr(md5('ord|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS ord " +
      "FROM documents) " +
      "SELECT doc_id, shard, CAST(row_number() OVER " +
      "(PARTITION BY shard ORDER BY ord, doc_id) - 1 AS INT) AS pos " +
      "FROM t ORDER BY doc_id")),
    Q("q_tfidf", tfidf, Some(
      "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word FROM documents), " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2), " +
      "df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(*) AS n_docs FROM documents) " +
      "SELECT doc_id, word, tf, round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf " +
      "FROM tf JOIN df USING (word), n ORDER BY doc_id, word")),
    Q("q_keyword_extract", keywordExtract, Some(
      "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word FROM documents), " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2), " +
      "df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(*) AS n_docs FROM documents), " +
      "sc AS (SELECT doc_id, word, tf, round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf " +
      "FROM tf JOIN df USING (word), n), " +
      "rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id " +
      "ORDER BY tfidf DESC, word) AS INT) AS rank FROM sc) " +
      "SELECT doc_id, rank, word, tfidf FROM rk WHERE rank <= 3 " +
      "ORDER BY doc_id, rank")),
    Q("q_bernoulli_sample", bernoulliSample, Some(
      "SELECT doc_id, lang, n_chars FROM (SELECT *, " +
      graft.functions.TextFunctions.unitHashSql("'smp|' || CAST(doc_id AS VARCHAR)") +
      " AS u FROM documents) WHERE u < 0.1 ORDER BY doc_id")),
    Q("q_heavy_hitters", heavyHitters, Some(
      "WITH w AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS w " +
      "FROM documents), " +
      "t AS (SELECT count(*) AS n FROM w), " +
      "c AS (SELECT w, count(*) AS exact_cnt FROM w GROUP BY 1) " +
      "SELECT w, exact_cnt, TRUE AS captured, TRUE AS within_bound " +
      "FROM c, t WHERE exact_cnt * 64 > t.n ORDER BY w")),
    Q("q_heavy_hitters_ss", heavyHittersSS, Some(
      "WITH w AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS w " +
      "FROM documents), " +
      "t AS (SELECT count(*) AS n FROM w), " +
      "c AS (SELECT w, count(*) AS exact_cnt FROM w GROUP BY 1) " +
      "SELECT w, exact_cnt, TRUE AS captured, TRUE AS within_bound " +
      "FROM c, t WHERE exact_cnt * 64 > t.n ORDER BY w")),
    Q("q_entropy", entropyQ, Some(
      "WITH tf AS (SELECT doc_id, word, count(*) AS c FROM " +
      "(SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word " +
      "FROM documents) GROUP BY 1, 2), " +
      "hh AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, " +
      "list_sort(list(struct_pack(word := word, c := c))) AS h " +
      "FROM tf GROUP BY 1) " +
      "SELECT doc_id, n_tok, " +
      "round(ln(CAST(n_tok AS DOUBLE)) - " +
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(h, x -> x.c * ln(x.c))), (acc, v) -> acc + v) " +
      "/ n_tok, 4) + 0.0 AS entropy_nats " +
      "FROM hh ORDER BY doc_id")),
    Q("q_oov_rate", oovRate, Some(
      "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word " +
      "FROM documents), " +
      "v AS (SELECT word, CAST(1 AS BIGINT) AS in_vocab FROM " +
      "(SELECT word, count(*) AS c FROM toks GROUP BY 1 ORDER BY c DESC, word LIMIT 16)) " +
      "SELECT doc_id, count(*) AS n_tok, " +
      "CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "(CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS oov_ppm " +
      "FROM toks LEFT JOIN v USING (word) GROUP BY 1 ORDER BY 1")),
    Q("q_dedup_clusters", dedupClustersQ, Some(clustersCte +
      " SELECT v AS vertex, min(u) AS component FROM r GROUP BY v ORDER BY v")),
    Q("q_survivor_pick", survivorPick, Some(clustersCte + ", " +
      "comp AS (SELECT v AS vertex, min(u) AS component FROM r GROUP BY v), " +
      "j AS (SELECT component, doc_id, n_chars FROM comp " +
      "JOIN documents ON vertex = doc_id), " +
      "rk AS (SELECT component, doc_id, n_chars, row_number() OVER " +
      "(PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn FROM j), " +
      "cn AS (SELECT component, count(*) AS n_members FROM j GROUP BY 1) " +
      "SELECT cn.component, cn.n_members, rk.doc_id AS survivor_doc_id, " +
      "rk.n_chars AS survivor_chars " +
      "FROM cn JOIN rk ON cn.component = rk.component AND rk.rn = 1 " +
      "ORDER BY cn.component")),
    Q("q_dedup_cluster_sizes", dedupClusterSizes, Some(clustersCte + ", " +
      "comp AS (SELECT v AS vertex, min(u) AS component FROM r GROUP BY v), " +
      "cs AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1), " +
      "h AS (SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY 1), " +
      "singles AS (SELECT CAST(1 AS BIGINT) AS cluster_size, " +
      "(SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_clusters) " +
      "SELECT cluster_size, n_clusters FROM " +
      "(SELECT * FROM singles UNION ALL SELECT * FROM h) t ORDER BY cluster_size")),
    Q("q_contamination", contamination, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "u AS (SELECT doc_id, list_transform(w, x -> CAST(" +
      (1 to 8).map(j => s"ascii(substr(md5(x), $j, 1)) * $j").mkString(" + ") +
      " AS BIGINT)) AS us FROM w WHERE len(w) >= 4), " +
      "h AS (SELECT doc_id, list_transform(range(1, len(us) - 2), " +
      "i -> us[i] * 2248091 + us[i+1] * 17161 + us[i+2] * 131 + us[i+3]) AS whs FROM u), " +
      "f AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, greatest(len(whs) - 3, 1) + 1), i -> list_min(whs[i:i+3])))) AS fp FROM h), " +
      "sp AS (SELECT doc_id, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' " +
      "ELSE 'test' END AS split FROM (SELECT doc_id, " +
      "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS INT) AS b " +
      "FROM documents) t), " +
      "fs AS (SELECT f.doc_id, fp, split FROM f JOIN sp ON f.doc_id = sp.doc_id), " +
      "tr AS (SELECT DISTINCT fp FROM fs WHERE split = 'train') " +
      "SELECT count(DISTINCT doc_id) AS n_test, " +
      "count(DISTINCT CASE WHEN fp IN (SELECT fp FROM tr) THEN doc_id END) AS n_contaminated " +
      "FROM fs WHERE split = 'test'")),
    Q("q_winnow", winnow, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "u AS (SELECT doc_id, list_transform(w, x -> CAST(" +
      (1 to 8).map(j => s"ascii(substr(md5(x), $j, 1)) * $j").mkString(" + ") +
      " AS BIGINT)) AS us FROM w WHERE len(w) >= 4), " +
      "h AS (SELECT doc_id, list_transform(range(1, len(us) - 2), " +
      "i -> us[i] * 2248091 + us[i+1] * 17161 + us[i+2] * 131 + us[i+3]) AS whs FROM u) " +
      "SELECT doc_id, unnest(list_sort(list_distinct(list_transform(" +
      "range(1, greatest(len(whs) - 3, 1) + 1), i -> list_min(whs[i:i+3]))))) AS fp " +
      "FROM h ORDER BY doc_id, fp")),
    Q("q_winnow_pairs", winnowPairs, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "u AS (SELECT doc_id, list_transform(w, x -> CAST(" +
      (1 to 8).map(j => s"ascii(substr(md5(x), $j, 1)) * $j").mkString(" + ") +
      " AS BIGINT)) AS us FROM w WHERE len(w) >= 4), " +
      "h AS (SELECT doc_id, list_transform(range(1, len(us) - 2), " +
      "i -> us[i] * 2248091 + us[i+1] * 17161 + us[i+2] * 131 + us[i+3]) AS whs FROM u), " +
      "f AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, greatest(len(whs) - 3, 1) + 1), i -> list_min(whs[i:i+3])))) AS fp FROM h), " +
      "kept AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 200) " +
      "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM f a JOIN kept ON a.fp = kept.fp JOIN f b ON a.fp = b.fp " +
      "WHERE a.doc_id < b.doc_id ORDER BY 1, 2")),
    Q("q_dup_ngram_mass", dupNgramMass, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "u AS (SELECT doc_id, list_transform(w, x -> CAST(" +
      (1 to 8).map(j => s"ascii(substr(md5(x), $j, 1)) * $j").mkString(" + ") +
      " AS BIGINT)) AS us FROM w WHERE len(w) >= 4), " +
      "h AS (SELECT doc_id, unnest(list_transform(range(1, len(us) - 2), " +
      "i -> us[i]*2248091 + us[i+1]*17161 + us[i+2]*131 + us[i+3])) AS wh FROM u), " +
      "c AS (SELECT wh, count(*) AS c FROM h GROUP BY wh) " +
      "SELECT d.source, count(*) AS total_windows, " +
      "CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows, " +
      "round(CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac " +
      "FROM h JOIN c USING (wh) JOIN documents d USING (doc_id) " +
      "GROUP BY 1 ORDER BY 1")),
    Q("q_substr_dedup", substrDedup, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "u AS (SELECT doc_id, len(w) AS n_tokens, list_transform(w, x -> CAST(" +
      (1 to 8).map(j => s"ascii(substr(md5(x), $j, 1)) * $j").mkString(" + ") +
      " AS BIGINT)) AS us FROM w WHERE len(w) >= 4), " +
      "h0 AS (SELECT doc_id, n_tokens, unnest(list_transform(range(1, len(us) - 2), " +
      "i -> {'pos': i, 'wh': us[i]*2248091 + us[i+1]*17161 + us[i+2]*131 + us[i+3]})) AS s FROM u), " +
      "h AS (SELECT doc_id, n_tokens, s.pos AS pos, s.wh AS wh FROM h0), " +
      "f AS (SELECT wh, min(doc_id) AS first_doc FROM h GROUP BY wh), " +
      "dup AS (SELECT h.doc_id, h.pos FROM h JOIN f USING (wh) WHERE f.first_doc < h.doc_id), " +
      "dw AS (SELECT doc_id, count(*) AS dup_windows FROM dup GROUP BY doc_id), " +
      "cov AS (SELECT doc_id, count(DISTINCT pos + o) AS dup_tokens " +
      "FROM dup, unnest([0,1,2,3]) t(o) GROUP BY doc_id) " +
      "SELECT u.doc_id, CAST(u.n_tokens AS INT) AS n_tokens, " +
      "CAST(coalesce(dw.dup_windows, 0) AS INT) AS dup_windows, " +
      "CAST(coalesce(cov.dup_tokens, 0) AS INT) AS dup_tokens " +
      "FROM u LEFT JOIN dw USING (doc_id) LEFT JOIN cov USING (doc_id) " +
      "ORDER BY doc_id")),
    Q("q_substr_cut", substrCut, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "u AS (SELECT doc_id, list_transform(w, x -> CAST(" +
      (1 to 8).map(j => s"ascii(substr(md5(x), $j, 1)) * $j").mkString(" + ") +
      " AS BIGINT)) AS us FROM w WHERE len(w) >= 4), " +
      "h0 AS (SELECT doc_id, unnest(list_transform(range(1, len(us) - 2), " +
      "i -> {'pos': i, 'wh': us[i]*2248091 + us[i+1]*17161 + us[i+2]*131 + us[i+3]})) AS s FROM u), " +
      "h AS (SELECT doc_id, s.pos AS pos, s.wh AS wh FROM h0), " +
      "f AS (SELECT wh, min(doc_id) AS first_doc FROM h GROUP BY wh), " +
      "ds AS (SELECT h.doc_id, h.pos FROM h JOIN f USING (wh) WHERE f.first_doc < h.doc_id), " +
      "cov AS (SELECT DISTINCT ds.doc_id, ds.pos + t.o AS i FROM ds, unnest([0,1,2,3]) t(o)), " +
      "t0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1), " +
      "i -> {'i': i, 'tok': w[i]})) AS s FROM w), " +
      "tk AS (SELECT doc_id, s.i AS i, s.tok AS tok FROM t0), " +
      "kept AS (SELECT tk.doc_id, tk.i, tk.tok FROM tk LEFT JOIN cov " +
      "ON tk.doc_id = cov.doc_id AND tk.i = cov.i WHERE cov.i IS NULL), " +
      "ag AS (SELECT doc_id, count(*) AS kept_tokens, " +
      "string_agg(tok, ' ' ORDER BY i) AS txt FROM kept GROUP BY doc_id) " +
      "SELECT w.doc_id, CAST(len(w.w) AS INT) AS n_tokens, " +
      "CAST(coalesce(ag.kept_tokens, 0) AS INT) AS kept_tokens, " +
      "md5(coalesce(ag.txt, '')) AS cut_fp " +
      "FROM w LEFT JOIN ag USING (doc_id) ORDER BY w.doc_id")),
    Q("q_dsir_weight", dsirWeight, Some(
      "WITH w AS (SELECT doc_id, lang, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "d AS (SELECT doc_id, lang, w FROM w WHERE len(w) >= 2), " +
      "bg AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(w)), " +
      "i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 8) AS BIGINT) % 512)) AS b FROM d), " +
      "raw AS (SELECT b, count(*) AS cr FROM bg GROUP BY b), " +
      "tgt AS (SELECT b, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY b), " +
      "tot AS (SELECT count(*) AS nr, count(*) FILTER (WHERE lang = 'en') AS nt FROM bg) " +
      "SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, " +
      "CAST(count(*) FILTER (WHERE (coalesce(ct, 0) + 1) * (nr + 512) > (cr + 1) * (nt + 512)) AS INT) AS n_boosted, " +
      "2 * count(*) FILTER (WHERE (coalesce(ct, 0) + 1) * (nr + 512) > (cr + 1) * (nt + 512)) > count(*) AS target_like " +
      "FROM bg JOIN raw USING (b) LEFT JOIN tgt USING (b), tot " +
      "GROUP BY doc_id ORDER BY doc_id")),
    Q("q_edit_distance", editDistance, Some(
      minhashCte + ", " +
      "bands AS (SELECT doc_id, CAST(k // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY k)) AS sig FROM mh GROUP BY doc_id, k // 2), " +
      "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id) " +
      "SELECT doc_a, doc_b, " +
      "CAST(levenshtein(x.text, y.text) AS INT) AS edit_dist, " +
      "round(1.0 - levenshtein(x.text, y.text) / greatest(length(x.text), length(y.text)), 4) AS edit_sim " +
      "FROM cands JOIN documents x ON x.doc_id = doc_a " +
      "JOIN documents y ON y.doc_id = doc_b ORDER BY doc_a, doc_b")),
    Q("q_bm25", bm25, Some(
      "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word FROM documents), " +
      "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1), " +
      "stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM documents JOIN dl USING (doc_id)), " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM toks " +
      "WHERE word IN ('data', 'table', 'join') GROUP BY 1, 2), " +
      "tfd AS (SELECT *, count(*) OVER (PARTITION BY word) AS df FROM tf), " +
      "sc AS (SELECT doc_id, " +
      "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1) / " +
      "(tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS term_score " +
      "FROM tfd JOIN dl USING (doc_id), stats) " +
      "SELECT doc_id, round(sum(term_score), 4) AS bm25, " +
      "count(*) AS n_terms_hit FROM sc GROUP BY 1 ORDER BY doc_id")),
    Q("q_hybrid_search", hybridSearch, Some(
      "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word FROM documents), " +
      "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1), " +
      "stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM documents JOIN dl USING (doc_id)), " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM toks " +
      "WHERE word IN ('data', 'table', 'join') GROUP BY 1, 2), " +
      "tfd AS (SELECT *, count(*) OVER (PARTITION BY word) AS df FROM tf), " +
      "sc AS (SELECT doc_id, " +
      "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1) / " +
      "(tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS term_score " +
      "FROM tfd JOIN dl USING (doc_id), stats), " +
      "bm AS (SELECT doc_id, round(sum(term_score), 4) AS score FROM sc GROUP BY 1), " +
      "ts AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_sparse " +
      "FROM bm QUALIFY rank_sparse <= 50), " +
      "qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
      "cs AS (SELECT e.vec_id AS doc_id, " +
      "round(sum(e.embedding[i]::DOUBLE * qv.qe[i]::DOUBLE) / " +
      "(sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) * " +
      "sqrt(sum(qv.qe[i]::DOUBLE * qv.qe[i]::DOUBLE))), 4) AS score " +
      "FROM embeddings e, qv, range(1, 65) t(i) GROUP BY 1), " +
      "td AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_dense " +
      "FROM cs QUALIFY rank_dense <= 50), " +
      "fu AS (SELECT coalesce(ts.doc_id, td.doc_id) AS doc_id, rank_sparse, rank_dense " +
      "FROM ts FULL JOIN td ON ts.doc_id = td.doc_id) " +
      "SELECT doc_id, rank_sparse, rank_dense, " +
      "round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_sparse), 0) + " +
      "coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_dense), 0), 6) AS rrf " +
      "FROM fu ORDER BY rrf DESC, doc_id LIMIT 20")),
    Q("q_repetition", repetition, Some(
      "WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents), " +
      "f AS (SELECT doc_id, w FROM w WHERE len(w) >= 2), " +
      "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
      "i -> w[i] || ' ' || w[i+1])) AS bg FROM f), " +
      "c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2), " +
      "st AS (SELECT doc_id, max(c) AS top, sum(c) AS n, sum(c - 1) AS dup " +
      "FROM c GROUP BY 1), " +
      "t AS (SELECT doc_id, round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS ttr FROM f) " +
      "SELECT st.doc_id, round(CAST(top AS DOUBLE) / n, 4) AS top_bigram_frac, " +
      "round(CAST(dup AS DOUBLE) / n, 4) AS dup_bigram_frac, ttr " +
      "FROM st JOIN t ON st.doc_id = t.doc_id ORDER BY st.doc_id")),
    Q("q_stratified_sample", stratifiedSample, Some(
      "SELECT source, doc_id FROM (" +
      "SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
      "ORDER BY CAST('0x' || substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT), doc_id) AS rn " +
      "FROM documents) t WHERE rn <= 20 ORDER BY source, doc_id")),
    Q("q_weighted_sample", weightedSample, Some(
      "SELECT source, doc_id FROM (" +
      "SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
      "ORDER BY CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / " +
      "(CAST('0x' || substr(md5('prio|' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) + 1) DESC, " +
      "doc_id) AS rn " +
      "FROM documents) t WHERE rn <= 20 ORDER BY source, doc_id")),
    Q("q_mixture_epochs", mixtureEpochs, Some(
      "WITH b AS (SELECT doc_id, source, " +
      "CASE WHEN source = 'src0' THEN 225 WHEN source = 'src1' THEN 150 " +
      "WHEN source = 'src2' THEN 100 ELSE 30 END AS w100, " +
      "CAST(CAST('0x' || substr(md5('ep|' || CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS INT) AS bucket " +
      "FROM documents), " +
      "r AS (SELECT doc_id, source, w100 // 100 + " +
      "CASE WHEN bucket < w100 % 100 THEN 1 ELSE 0 END AS n_rep FROM b) " +
      "SELECT doc_id, source, CAST(unnest(range(n_rep)) AS INT) AS epoch " +
      "FROM r WHERE n_rep > 0 ORDER BY doc_id, epoch")),
    Q("q_mixture_sample", mixtureSample, Some(
      "SELECT doc_id, source, bucket, rate_pct FROM (" +
      "SELECT doc_id, source, " +
      "CAST(CAST('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS INT) AS bucket, " +
      "CASE WHEN source IN ('src0', 'src1') THEN 50 WHEN source = 'src2' THEN 25 ELSE 10 END AS rate_pct " +
      "FROM documents) t WHERE bucket < rate_pct ORDER BY doc_id")),
    Q("q_source_mix", sourceMix, Some(
      "WITH g AS (SELECT source, lang, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY 1, 2) " +
      "SELECT source, lang, n_docs, total_chars, " +
      "round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 4) AS doc_share " +
      "FROM g ORDER BY source, lang")),
  )
}
