package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.query.{Checkpoints, KMeans}
import graft.sources.Parquet

/** Daily-crawl admission loop — the composed incremental form of the
  * curation front half (reference analogue: the incremental ingest
  * path, dataInit.erl:52-70, feeding the server's stored tables,
  * server.erl:161-167): each increment of crawled documents is matched
  * against the PERSISTED state of everything seen so far, survivors
  * are admitted, and the state is extended — without ever re-reading
  * or re-shingling previously seen text.
  *
  * Persisted state under `root` (all parquet):
  *   - `corpus/`  admitted documents (original schema + `inc`), one
  *     `inc=<id>` subdir per increment so a re-run of the same
  *     increment OVERWRITES its own files — restart-idempotent by
  *     construction;
  *   - `index/`   LSH band signatures of every SEEN exact-survivor —
  *     including near-dup REJECTED docs ([[Dedup.lshIndex]] rows);
  *   - `digests/` content digests of every seen exact-survivor;
  *   - `{index,digests,corpus}_base/s<id>` — compacted SEGMENTS (see
  *     [[compact]]): folded increments, written for index/digests as
  *     tables bucketed on their match keys, for corpus as plain
  *     parquet (payload — never joined on a key);
  *   - `manifest/gen-<N>` — compaction manifests, committed through
  *     the [[Manifest]] protocol: the highest generation wins (each is
  *     written whole then renamed into place, so a reader never
  *     observes a partial manifest), and each commit deletes all but
  *     the newest [[RetainManifests]], so a stream that compacts
  *     forever keeps a bounded `manifest/` listing.
  *
  * Single writer: [[compact]] is the only writer of `manifest/` and
  * `*_base/`, and no caller may run two `compact`s on one root at
  * once — both would mint the same segment id and generation, and
  * each one's garbage collection would delete the other's segments.
  *
  * Admission rule, greedy by id (documents ascend across increments —
  * a crawl log's natural order; [[AdmissionSpec]] pins the parity):
  * a document is admitted iff (1) its content digest was never seen,
  * (2) no SEEN document shares an LSH band signature with it, and
  * (3) no smaller-id document of its own increment shares a digest or
  * band signature. Indexing the seen-not-admitted survivors is what
  * makes the loop COMPOSITIONAL: `admit(A); admit(B)` admits exactly
  * the same set as one-shot `admit(A ∪ B)` — a chain a~b~c (a<b<c,
  * a≁c) greedily admits only `a` in both forms, where an
  * admitted-only index would re-admit `c` in the two-step run.
  *
  * Scale shape: per increment, only the increment's text is shingled
  * (O(|inc|)); the corpus side of every match is a scan of 40-byte
  * index/digest rows with the equi-join broadcastable when the
  * increment is small; decision tables (ids, signatures of the
  * increment) are eagerly materialized BEFORE any state write so no
  * write's plan re-scans a state directory mid-update (through
  * [[Checkpoints.cut]], so `spark.graft.checkpointDir` makes them
  * reliable checkpoints at cluster scale, same boundary). Raw text
  * crosses no exchange — the corpus append is a semi-join of the
  * increment input against the admitted-id list.
  *
  * Why [[compact]] exists: without it a daily loop run for years
  * accumulates one `inc=<id>` subdir per day in `index/`, `digests/`
  * AND `corpus/` — a listing/small-files problem — and every
  * admission re-shuffles the ever-growing seen state for its
  * equi-joins. Compaction folds increments into SEGMENTS:
  *
  *   - a MINOR fold (every [[compact]] call with un-folded work)
  *     writes only the new increments into one fresh segment per
  *     state kind — cost is O(|increments folded|), independent of
  *     total state;
  *   - a MAJOR fold (size-tiered: when the live segments outside the
  *     largest reach `mergeFactor` × the largest) merges ALL live
  *     segments into one — cost is O(total state), but the trigger is
  *     geometric, so total write I/O over the loop's life is bounded
  *     at ~(1 + 1/mergeFactor)× the data ever ingested (amortized
  *     O(1) rewrites per byte), instead of the O(total) PER DAY a
  *     rewrite-everything-every-fold design pays.
  *
  * Index/digest segments are bucketed on the match key ((band, sig) /
  * digest), so when the state is fully merged (one live segment — the
  * steady state between major folds) the seen side of every
  * cross-match arrives pre-partitioned and plans WITHOUT an exchange;
  * with several live segments the union costs one exchange until the
  * next major fold restores the single-segment shape
  * ([[AdmissionCompactSpec]] pins the merged case). The reference's
  * analogue is its snapshot/merge recovery (server.erl:343-353):
  * state that survives without replaying everything.
  */
object Admission {
  import Manifest.fsOf

  private def indexSchema(idCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField("band", IntegerType),
    StructField("sig", StringType)))
  private val digestSchema = StructType(Seq(StructField("digest", StringType)))
  // the semantic leg ([[admitWithEmbeddings]]): SRP band signatures of
  // every seen exact-survivor's embedding, plus PQ-COMPRESSED vector
  // state (round-11 item 2): `code` packs nSub 8-bit codewords into
  // one BIGINT, `n` is the TRUE L2 norm, `r` the reconstruction error
  // ‖x − x̂‖ — together 32 bytes/doc where the round-11 format stored
  // the full float64 vector (~528 B/doc at dim 64). Exact floats for
  // the verify are fetched from the caller's feature-store table by
  // id, only for ADC-prefilter survivors.
  private def semidxSchema(idCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField("table", IntegerType),
    StructField("bucket", IntegerType)))
  private def vecsSchema(idCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField("code", LongType),
    StructField("n", DoubleType), StructField("r", DoubleType)))

  private def schemaOf(kind: String, idCol: String): StructType = kind match {
    case "index" => indexSchema(idCol)
    case "digests" => digestSchema
    case "semidx" => semidxSchema(idCol)
    case "vecs" => vecsSchema(idCol)
    case other => sys.error(s"no schema for state kind $other")
  }

  /** Run INDEPENDENT Spark actions of one admission step concurrently
    * (optimization guide §2.6 "overlap independent jobs"): the loop's
    * wall clock is a chain of 100-600 ms jobs whose task work is far
    * smaller than their scheduling latency, so actions with no data
    * dependency — state writes to distinct directories, the text and
    * vector decision chains — are submitted from a small driver pool
    * and back-fill each other's scheduling gaps and task tails. The
    * pool is created PER CALL (threads inherit the caller's job
    * group/description exactly; nothing leaks across queries). The
    * first failure, in completion order, cancels the siblings' Spark
    * jobs (every thunk tags its jobs with one per-call tag) and waits
    * for every sibling to finish before it is rethrown with its
    * original exception, so no state write outlives a failed call. */
  private[graft] def inParallel[A](s: SparkSession)(work: Seq[() => A]): Seq[A] =
    if (work.sizeIs <= 1) work.map(_())
    else {
      val sc = s.sparkContext
      val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
      val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
      try {
        val futs = work.map(w =>
          done.submit(new java.util.concurrent.Callable[A] {
            def call(): A = {
              sc.addJobTag(tag)
              try w() finally sc.removeJobTag(tag)
            }
          }))
        try work.foreach(_ => done.take().get())
        catch { case e: java.util.concurrent.ExecutionException =>
          // a cancel reaches only jobs already submitted: repeat it until
          // every sibling has ended, so a job started late is cancelled too
          while (!futs.forall(_.isDone)) {
            sc.cancelJobsWithTag(tag)
            Thread.sleep(20)
          }
          throw e.getCause
        }
        futs.map(_.get())
      } finally pool.shutdown()
    }

  /** Two-sided [[inParallel]] with precise types. */
  private def par2[A, B](s: SparkSession, a: () => A, b: () => B): (A, B) = {
    val r = inParallel[Any](s)(Seq(a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Run `body` under a Spark job description (guide §1.5 — the label
    * shows up in QueryProfile/UI so the loop's many small jobs stay
    * attributable), restoring the caller's label after. Descriptions
    * are thread-local, so the parallel thunks label independently. */
  private def labeled[A](s: SparkSession, desc: String)(body: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Keyed state kinds (bucketed segments). `index`/`digests` exist
    * for every root; `semidx`/`vecs` only where
    * [[admitWithEmbeddings]] runs — every reader/folder below checks
    * on-disk presence per kind. `corpus` payload segments share the
    * lifecycle but are plain parquet. */
  private val KeyedKinds = Seq("index", "digests", "semidx", "vecs")
  private val AllKinds = KeyedKinds :+ "corpus"

  // ---------------------------------------------------------------------
  // Compaction manifest
  // ---------------------------------------------------------------------

  /** One live compacted segment: which increment ids it folded. */
  private[graft] final case class Segment(id: Int, incs: Set[String])

  /** What a manifest generation records: the live segments (and which
    * increment ids each folded), the next never-used segment id, and
    * the bucket count / id column the keyed segments were written with
    * (needed to re-register them in a fresh session's catalog).
    * Generation 0 = no compaction has ever run. */
  private[graft] final case class CompactionState(
      generation: Int, buckets: Int, idCol: String, nextSeg: Int,
      segments: Seq[Segment]) {
    def folded: Set[String] = segments.iterator.flatMap(_.incs).toSet
  }

  private val EmptyState = CompactionState(0, 0, "doc_id", 1, Nil)

  /** Manifest generations a [[compact]] keeps: the head and one behind,
    * so a reader that listed the head just before a commit can still
    * open it. Older ones describe segments GC already deleted. */
  private[graft] val RetainManifests = 2

  /** Highest-generation manifest under `root`, or the empty state.
    * Manifests are immutable once renamed into place, so readers and
    * a concurrent [[compact]] never race on file contents — only on
    * WHICH generation is current, and any complete generation yields
    * a correct (if slightly stale) seen-state view. */
  private[graft] def readManifest(s: SparkSession, root: String): CompactionState =
    Manifest.generations(s, root).lastOption.fold(EmptyState) { gen =>
      val kv = Manifest.read(s, root, gen)
      def all(k: String) = kv.filter(_.startsWith(s"$k=")).map(_.stripPrefix(s"$k="))
      def one(k: String): String = all(k).headOption
        .getOrElse(sys.error(s"manifest gen-$gen under $root has no '$k=' line"))
      // the pre-leveled single-base format (`folded=` lines) has no
      // `nextseg=`: refuse it rather than read it as an empty state
      if (all("nextseg").isEmpty)
        sys.error(s"manifest gen-$gen under $root is in the unsupported " +
          "pre-leveled single-base format (no 'nextseg=' line); replay the " +
          "root's increments into a fresh root")
      // seginc=<segId>:<incId> — split on the FIRST colon only; the
      // increment id is caller-supplied and may itself contain colons
      val segIncs = all("seginc").map { body =>
        val i = body.indexOf(':')
        require(i > 0, s"manifest gen-$gen: bad seginc line '$body'")
        body.take(i).toInt -> body.drop(i + 1)
      }.groupMap(_._1)(_._2)
      CompactionState(gen, one("buckets").toInt, one("idcol"), one("nextseg").toInt,
        all("seg").map(_.toInt).map(id => Segment(id, segIncs.getOrElse(id, Nil).toSet)))
    }

  /** Catalog table name for one keyed segment — deterministic from
    * (root, kind, segId) so any session can re-register it. The root
    * is both sanitized (readability) and hashed (injectivity: two
    * roots like `/tmp/a-b` and `/tmp/a_b` sanitize identically, and a
    * name collision would silently serve one root's seen-state to the
    * other). */
  private def tableName(root: String, kind: String, seg: Int): String = {
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(root))
    s"graft_adm_${kind}_s${seg}_h${h}_" +
      root.toLowerCase.replaceAll("[^a-z0-9]+", "_").dropWhile(_ == '_')
  }

  private def dropTableIfExists(s: SparkSession, name: String): Unit =
    if (s.catalog.tableExists(name)) { s.sql(s"DROP TABLE $name"); () }

  private def basePath(root: String, kind: String, seg: Int): String =
    s"$root/${kind}_base/s$seg"

  private val SegDir = "^s(\\d+)$".r

  /** Ids of the segment dirs on disk under `{kind}_base/` — live, dead
    * or orphaned by a killed compact. */
  private def segDirIds(s: SparkSession, root: String, kind: String): Seq[Int] = {
    val fs = fsOf(s, root)
    val dir = new Path(s"$root/${kind}_base")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case SegDir(id) => id.toInt
    }
  }

  /** Bucket/sort keys per keyed state kind — the equi-join keys of the
    * admission cross-matches, so a scan of a segment satisfies the
    * join's required clustering with no exchange ((band, sig) and
    * (table, bucket) feed the collision joins; `vecs` clusters on the
    * id the candidate-pair verify joins back on). */
  private def keysOf(kind: String, idCol: String): Seq[String] = kind match {
    case "index" => Seq("band", "sig")
    case "digests" => Seq("digest")
    case "semidx" => Seq("table", "bucket")
    case "vecs" => Seq(idCol)
    case other => sys.error(s"no keys for state kind $other")
  }

  private def ddlOf(kind: String, idCol: String): String = kind match {
    case "index" => s"`$idCol` BIGINT, band INT, sig STRING, inc STRING"
    case "digests" => "digest STRING, inc STRING"
    case "semidx" => s"`$idCol` BIGINT, `table` INT, bucket INT, inc STRING"
    case "vecs" => s"`$idCol` BIGINT, code BIGINT, n DOUBLE, r DOUBLE, inc STRING"
    case other => sys.error(s"no DDL for state kind $other")
  }

  /** One keyed segment as a table, re-registered in this session's
    * catalog if absent (segments are self-describing from the manifest
    * — a fresh session re-creates the external bucketed-table entry
    * over the existing files). */
  private def segTable(s: SparkSession, root: String, kind: String,
      st: CompactionState, seg: Segment): DataFrame = {
    val name = tableName(root, kind, seg.id)
    if (!s.catalog.tableExists(name)) {
      val keys = keysOf(kind, st.idCol).map(k => s"`$k`").mkString(", ")
      s.sql(s"CREATE TABLE $name (${ddlOf(kind, st.idCol)}) USING PARQUET " +
        s"CLUSTERED BY ($keys) SORTED BY ($keys) INTO ${st.buckets} BUCKETS " +
        s"LOCATION '${basePath(root, kind, seg.id)}'")
    }
    s.table(name)
  }

  /** Whether a segment carries any data of `kind` — optional kinds
    * (`semidx`/`vecs`, and `corpus` on all-duplicate increments)
    * are simply absent from segments folded before they existed. */
  private def segHasKind(s: SparkSession, root: String, kind: String,
      seg: Segment): Boolean =
    fsOf(s, root).exists(new Path(basePath(root, kind, seg.id)))

  /** Increment ids currently present as `inc=<id>` subdirs of
    * `$root/$kind`. */
  private def listIncs(s: SparkSession, root: String, kind: String): Seq[String] = {
    val p = new Path(s"$root/$kind")
    val fs = fsOf(s, root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("inc=")).map(_.stripPrefix("inc=")).toSeq
  }

  /** [[listIncs]] restricted to dirs carrying the `_SUCCESS` job
    * commit marker — the only increments [[compact]] may fold. */
  private def committedIncs(s: SparkSession, root: String,
      kind: String): Seq[String] = {
    val fs = fsOf(s, root)
    listIncs(s, root, kind)
      .filter(id => fs.exists(new Path(s"$root/$kind/inc=$id/_SUCCESS")))
  }

  /** Seen-state reader: compacted segments (if any) ∪ the increments
    * not yet folded. Exclusions, both crash-recovery stories:
    *  - the CURRENT increment's own subdir AND its own segment rows
    *    (`inc` travels into the segments exactly so this filter
    *    survives compaction): a crashed-and-rerun increment must not
    *    see its previous partial run as "already seen" — it would
    *    admit nothing and overwrite its output with an empty set. The
    *    streaming loop replays a batch under the same id, possibly
    *    AFTER a compaction folded that batch — still idempotent.
    *  - increments the manifest lists as folded, even if their
    *    subdirs still exist on disk (a crash between manifest commit
    *    and cleanup leaves debris; counting it twice is harmless for
    *    semi/anti semantics but the exclusion keeps reads bounded and
    *    lets [[compact]] delete the debris later).
    * When the state is FULLY merged (one live segment) the returned
    * frame is exactly the bucketed segment scan — later equi-joins on
    * the match keys plan with no exchange on this side
    * ([[AdmissionCompactSpec]]). `st` is the caller's one manifest
    * read, so every kind of one admit comes from the same generation. */
  private[graft] def readSeen(s: SparkSession, root: String,
      st: CompactionState, kind: String, idCol: String,
      selfInc: String): DataFrame = {
    val schema = schemaOf(kind, idCol)
    val segs = st.segments.filter(seg => segHasKind(s, root, kind, seg))
      .map(seg => segTable(s, root, kind, st, seg)
        .filter(col("inc") =!= lit(selfInc))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*))
    val dirs = listIncs(s, root, kind)
      .filterNot(st.folded).filterNot(_ == selfInc)
      .map(id => s"$root/$kind/inc=$id")
    val incs =
      if (dirs.isEmpty) Nil
      else Seq(s.read.schema(schema).parquet(dirs: _*))
    (segs ++ incs).reduceOption(_ unionByName _)
      .getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row], schema))
  }

  /** Total on-disk bytes of one segment across all three state kinds —
    * the size the tiering policy reasons about. */
  private def segBytes(s: SparkSession, root: String, seg: Segment): Long = {
    val fs = fsOf(s, root)
    AllKinds.map { kind =>
      val p = new Path(basePath(root, kind, seg.id))
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** Fold every un-folded, committed `inc=*` increment of all three
    * state kinds into ONE new segment per kind (a MINOR fold — cost
    * proportional to the increments, never to total state), then, if
    * the size-tiering policy fires, merge all live segments into one
    * (a MAJOR fold), and commit a new manifest generation. Afterwards
    * [[readSeen]]/[[corpus]]/[[index]] serve the segment scans instead
    * of listing an unbounded `inc=*` directory set, and the folded
    * subdirs plus dead segments are deleted.
    *
    * `mergeFactor` bounds write amplification: a major fold runs only
    * when Σ|segments other than the largest| ≥ mergeFactor × |largest|,
    * so each byte is rewritten O(log) times total (geometric growth
    * between majors) instead of once per compact. `mergeFactor <= 0`
    * forces a major fold every time (the round-10 behavior — maximal
    * read-side locality, O(total) write I/O per fold).
    *
    * Crash safety (spec-pinned by `AdmissionCompactSpec`):
    *  - before the manifest rename commits, nothing observable
    *    changed — new segment files and a torn manifest temp file are
    *    orphans; segment ids advance only on commit, so a replayed
    *    compact overwrites the segments, and the temp file goes once
    *    it falls out of the [[RetainManifests]] window;
    *  - after the commit, folded subdirs are already excluded by the
    *    manifest, so the cleanup phase is pure garbage collection; a
    *    crash inside it leaves debris the next [[compact]] removes;
    *  - a replayed increment that was ALREADY folded stays idempotent
    *    because its rows carry `inc` into the segments and
    *    [[readSeen]] filters them out for that increment.
    * No-op (returns false) when nothing is un-folded — safe to call
    * every N batches from the streaming loop. `cleanup = false` is
    * the spec's crash-injection hook: commit the manifest, skip the
    * garbage collection. */
  def compact(s: SparkSession, root: String, idCol: String = "doc_id",
      buckets: Int = 8, cleanup: Boolean = true,
      mergeFactor: Double = 0.5): Boolean = {
    val st = readManifest(s, root)
    // Fold only increments COMMITTED in BOTH keyed state kinds.
    // [[admit]] writes corpus → index → digests, so an increment
    // missing or uncommitted in either kind is a crashed partial admit
    // awaiting replay — marking it folded would exclude its REPLAYED
    // rows forever (and garbage-collect them), silently losing dedup
    // state. (Digests committed ⇒ corpus committed, by write order.)
    // "Committed" means the dir carries the _SUCCESS job marker, not
    // mere existence: the output committer creates the directory at
    // job SETUP, so a crash mid-write leaves an existing-but-empty dir
    // that bare listing cannot tell apart from a legitimately empty
    // increment. A healthy admit always commits all three dirs (an
    // empty increment still writes empty parquet + _SUCCESS); partial
    // increments stay unfolded until replayed.
    val idxIncs = committedIncs(s, root, "index").toSet
    val unfolded = committedIncs(s, root, "digests")
      .filter(idxIncs).filterNot(st.folded).toSet
    if (unfolded.isEmpty) {
      if (cleanup) collectGarbage(s, root, st)
      return false
    }
    // Bucketing metadata is the MANIFEST's once state exists: segments
    // now survive across compact calls, and re-labeling an 8-bucket
    // segment as 16-bucket in a later manifest would make the
    // catalog's declared clustering lie about the files — the
    // exchange-free seen-side joins would then silently miss rows and
    // re-admit duplicates. The parameters bind a FRESH root only.
    require(st.generation == 0 || st.idCol == idCol,
      s"idCol '$idCol' does not match this root's state ('${st.idCol}')")
    val effBuckets = if (st.generation == 0) buckets else st.buckets
    // Decide minor vs major BEFORE writing anything: if folding these
    // increments would trip the size tier anyway, fold them STRAIGHT
    // into the merged segment — writing a minor segment only for the
    // same call to rewrite and delete it would double the write I/O
    // of every merge round.
    val fs = fsOf(s, root)
    val foldIdsByKind = AllKinds.map(k => k -> listIncs(s, root, k).filter(unfolded)).toMap
    val incBytes = AllKinds.map { kind =>
      foldIdsByKind(kind)
        .map(id => fs.getContentSummary(new Path(s"$root/$kind/inc=$id"))
          .getLength).sum
    }.sum
    val major = st.segments.nonEmpty && {
      val all = st.segments.map(seg => segBytes(s, root, seg)) :+ incBytes
      val largest = all.max
      all.sum - largest >= mergeFactor * largest
    }
    val newId = st.nextSeg
    // ---- one new segment per kind: the increments, plus (major only)
    // every live segment of that kind. index/digests are written even
    // when empty; the optional kinds (semidx/vecs) only where inputs
    // exist.
    // One fold write per kind, all into DISTINCT new-segment paths with
    // no cross-kind data dependency — overlapped (guide §2.6; the
    // manifest rename below stays the single commit point, so the
    // crash story is unchanged: until it lands every parallel write is
    // an orphan). Frame construction (driver-side listing/planning)
    // happens inside each thunk and is independent per kind too.
    val keyedFolds: Seq[() => Unit] = KeyedKinds.flatMap { kind =>
      val schema = schemaOf(kind, idCol)
      val withInc = StructType(schema.fields :+ StructField("inc", StringType))
      val dirs = foldIdsByKind(kind).map(id => s"$root/$kind/inc=$id")
      val forceEmpty = kind == "index" || kind == "digests"
      val anySegs = major &&
        st.segments.exists(seg => segHasKind(s, root, kind, seg))
      if (dirs.isEmpty && !anySegs && !forceEmpty) None
      else Some(() => labeled(s, s"compact: fold $kind -> s$newId") {
        val incRows =
          if (dirs.isEmpty) None
          else Some(s.read.option("basePath", s"$root/$kind").schema(withInc)
            .parquet(dirs: _*)
            .withColumn("inc", col("inc").cast("string"))
            .select(withInc.fieldNames.map(col).toIndexedSeq: _*))
        val segFrames =
          if (!major) Nil
          else st.segments.filter(seg => segHasKind(s, root, kind, seg))
            .map(seg => segTable(s, root, kind, st, seg))
        val parts = segFrames ++ incRows.toSeq
        if (parts.nonEmpty || forceEmpty)
          writeKeyedSegment(s, root, kind, newId, effBuckets, idCol,
            parts.reduceOption(_ unionByName _).getOrElse(
              s.createDataFrame(s.sparkContext.emptyRDD[Row], withInc)))
      }: Unit)
    }
    // corpus payload: schema is the caller's, so read each increment
    // dir on its own and tag `inc` as a literal (partition-value
    // inference would strip a numeric id's leading zeros)
    val corpusFold: () => Unit = () => labeled(s, s"compact: fold corpus -> s$newId") {
      val corpusIncFrames = foldIdsByKind("corpus").sorted
        .map(id => Parquet.read(s, s"$root/corpus/inc=$id")
          .withColumn("inc", lit(id)))
      val corpusSegFrames =
        if (!major) Nil
        else st.segments.map(seg => basePath(root, "corpus", seg.id))
          .filter(p => fs.exists(new Path(p)))
          .map(Parquet.read(s, _))
      (corpusSegFrames ++ corpusIncFrames).reduceOption(_ unionByName _).foreach(
        _.write.mode("overwrite").parquet(basePath(root, "corpus", newId)))
    }
    inParallel(s)(keyedFolds :+ corpusFold)
    val next = CompactionState(st.generation + 1, effBuckets, idCol, newId + 1,
      if (major) Seq(Segment(newId, st.folded ++ unfolded))
      else st.segments :+ Segment(newId, unfolded))
    // COMMIT: once this rename lands, the new generation is current.
    Manifest.commit(s, root, next.generation,
      Seq(s"buckets=${next.buckets}", s"idcol=${next.idCol}",
        s"nextseg=${next.nextSeg}") ++
      next.segments.flatMap(seg => s"seg=${seg.id}" +:
        seg.incs.toSeq.sorted.map(i => s"seginc=${seg.id}:$i")),
      RetainManifests)
    if (cleanup) collectGarbage(s, root, next)
    true
  }

  private def writeKeyedSegment(s: SparkSession, root: String, kind: String,
      segId: Int, buckets: Int, idCol: String, rows: DataFrame): Unit = {
    val keys = keysOf(kind, idCol)
    rows.write.mode("overwrite")
      .option("path", basePath(root, kind, segId))
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(tableName(root, kind, segId))
  }

  /** Garbage collection after a committed compaction: folded `inc=`
    * subdirs (per the CURRENT manifest) and segment dirs no longer in
    * the live set — for all three state kinds. Pure cleanup —
    * everything deleted here is already excluded from every read
    * path. */
  private def collectGarbage(s: SparkSession, root: String,
      st: CompactionState): Unit = {
    if (st.generation == 0) return
    val fs = fsOf(s, root)
    val live = st.segments.map(_.id).toSet
    for (kind <- AllKinds) {
      for (id <- listIncs(s, root, kind) if st.folded(id))
        fs.delete(new Path(s"$root/$kind/inc=$id"), true)
      for (g <- segDirIds(s, root, kind) if !live(g)) {
        if (kind != "corpus") dropTableIfExists(s, tableName(root, kind, g))
        fs.delete(new Path(basePath(root, kind, g)), true)
      }
    }
  }

  /** Lazy decision plans for one increment — returned un-materialized
    * so `AdmissionSpec` can pin the join shapes (every corpus-side
    * match an equi/semi join, never a cartesian), the same
    * plan-exposure pattern as [[graft.dedup.Dedup
    * .embedNearDupBucketedPlan]]. Returns (freshKeys, incIndexOf,
    * admittedIdsOf): `incIndexOf` builds the increment's signature
    * rows from the (normally checkpointed) fresh keys, and
    * `admittedIdsOf` resolves the admitted ids from the index and
    * fresh keys. The admitted set starts from the FRESH key set, not
    * the index universe: a document too short to shingle (< shingleN
    * tokens) has no index rows, participates only in exact dedup,
    * and must still be admitted — deriving from the index would
    * silently drop it while its digest was already marked seen. */
  private[graft] def admitPlan(newDocs: DataFrame, seenIndex: DataFrame,
      seenDigests: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame => DataFrame,
         (DataFrame, DataFrame) => DataFrame) = {
    // (1) within-increment exact: keep the min id per distinct content
    val digested = newDocs
      .select(col(idCol), md5(col(textCol)).as("digest"))
    val exactKeep = digested.groupBy("digest").agg(min(idCol).as(idCol))
    // (2) cross-exact: content already seen in ANY earlier increment
    val freshKeys = exactKeep
      .join(seenDigests, Seq("digest"), "left_anti")
    // (3) signatures for every fresh doc — seen-index rows, admitted or not
    val incIndexOf = (fk: DataFrame) => Dedup.lshIndex(
      newDocs.join(fk.select(idCol), Seq(idCol), "left_semi"),
      idCol, textCol, shingleN, k, rowsPerBand)
    val admittedIdsOf = (idx: DataFrame, fk: DataFrame) => {
      // (4) cross near-dup: any band collision with a seen document
      val crossLosers = idx
        .join(seenIndex.select("band", "sig"), Seq("band", "sig"), "left_semi")
        .select(idCol)
      // (5) within-increment near-dup, greedy: a band collision with a
      // smaller id of this increment rejects the larger id — i.e. an
      // id loses iff it exceeds its (band, sig) group's MINIMUM. The
      // min is a partial-aggregating groupBy joined back on the same
      // key (one co-partitioned exchange), replacing the previous
      // a<b self-join, whose output was QUADRATIC in the size of a
      // hot signature group — a viral duplicate cluster at corpus
      // scale is exactly where that form dies. Same loser set.
      val withinLosers = idx
        .join(idx.groupBy("band", "sig").agg(min(idCol).as("gr_min")),
          Seq("band", "sig"))
        .filter(col(idCol) > col("gr_min"))
        .select(idCol)
      fk.select(idCol)
        .join(crossLosers.union(withinLosers), Seq(idCol), "left_anti")
    }
    (freshKeys, incIndexOf, admittedIdsOf)
  }

  /** Admit one increment against (and into) the state under `root`.
    * Returns the admitted rows as durably written. Re-running the same
    * `incId` is idempotent (even after a [[compact]] folded it);
    * `incId`s must be distinct per increment and doc ids must ascend
    * across increments for the one-shot parity. */
  def admit(newDocs: DataFrame, root: String, incId: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val s = newDocs.sparkSession
    val st = readManifest(s, root)
    val seenIndex = readSeen(s, root, st, "index", idCol, incId)
    val seenDigests = readSeen(s, root, st, "digests", idCol, incId)
    val (freshKeysPlan, incIndexOf, admittedIdsOf) = admitPlan(
      newDocs, seenIndex, seenDigests, idCol, textCol, shingleN, k, rowsPerBand)
    // decision tables with MULTIPLE consumers materialize before any
    // state write; `admittedIds` has exactly one consumer (the corpus
    // write below), so it stays lazy and computes inside that write's
    // job — one job barrier saved per increment, same work either way.
    // Its plan reads the PRE-update seen state (readSeen snapshotted
    // the inc dirs on the driver and excludes this increment), which
    // no concurrent write below touches.
    val freshKeys = labeled(s, s"admit $incId: fresh-keys") {
      Checkpoints.cut(freshKeysPlan)
    }
    val incIndex = labeled(s, s"admit $incId: inc-index") {
      Checkpoints.cut(incIndexOf(freshKeys))
    }
    val freshDigests = freshKeys.select("digest")
    // single consumer (the corpus write) — stays lazy: the admitted-id
    // anti-join chain computes inside that write's job (one job
    // barrier saved; its plan reads only materialized tables plus the
    // pre-update seen state, which the parallel index write never
    // touches)
    val admittedIds = admittedIdsOf(incIndex, freshKeys)

    // state writes: corpus and index land in distinct directories and
    // depend only on materialized tables + newDocs — overlapped
    // (guide §2.6). `digests` stays LAST and alone: it is [[compact]]'s
    // increment-commit marker, so digests-committed ⇒ every other kind
    // committed too — the barrier before it preserves that contract.
    inParallel[Unit](s)(Seq(
      () => labeled(s, s"admit $incId: write corpus") {
        newDocs.join(admittedIds, Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(s"$root/corpus/inc=$incId")
      },
      () => labeled(s, s"admit $incId: write index") {
        incIndex.write.mode("overwrite").parquet(s"$root/index/inc=$incId")
      }))
    labeled(s, s"admit $incId: write digests") {
      freshDigests.write.mode("overwrite").parquet(s"$root/digests/inc=$incId")
    }
    Parquet.read(s, s"$root/corpus/inc=$incId")
  }

  // ---------------------------------------------------------------------
  // PQ-compressed semantic vector state (round-11 verdict item 2)
  // ---------------------------------------------------------------------

  /** Path of the per-root PQ codebook — trained ONCE on the first
    * semantic increment that carries vectors, then immutable: codes
    * written across increments must decode against one codebook. */
  private def pqcbPath(root: String) = s"$root/pqcb"

  private def pqcbCommitted(s: SparkSession, root: String): Boolean =
    fsOf(s, root).exists(new Path(s"${pqcbPath(root)}/_SUCCESS"))

  /** Encode (id, e, n) rows against codebook `cb` (sub, c_code, cvec):
    * per subspace L2 argmin ([[graft.query.KMeans.assign]]), pack the
    * nSub 8-bit codes into ONE BIGINT lane-wise, and carry the exact
    * reconstruction error r = ‖x − x̂‖ (the per-doc bound
    * [[adcPrefilter]]'s pruning guarantee is built from). */
  private[graft] def pqEncodeVecs(incVecs: DataFrame, cb: DataFrame,
      idCol: String, nSub: Int, subDim: Int): DataFrame =
    KMeans.assign(
        incVecs
          .select(col(idCol), col("n"),
            explode(sequence(lit(0), lit(nSub - 1))).as("sub"), col("e"))
          .withColumn("sv", expr(s"slice(e, sub * $subDim + 1, $subDim)")),
        cb.withColumnRenamed("c_code", "cluster"), Seq(idCol, "n", "sub"),
        KMeans.L2, vecCol = "sv", part = Seq("sub"))
      .groupBy(col(idCol), col("n"))
      .agg(sum(expr("shiftleft(cast(cluster as bigint), 8 * sub)"))
          .as("code"),
        sqrt(sum(col("d2"))).as("r"))
      .select(col(idCol), col("code"), col("n"), col("r"))

  /** ADC pre-filter over candidate (inc, seen) pairs — the stage that
    * lets the seen state hold CODES instead of floats without changing
    * one admission decision: a pair survives iff its ADC-approximated
    * dot CAN still reach the threshold given the seen doc's stored
    * reconstruction error. Provably a SUPERSET of the exact-accept
    * set (spec-pinned by `AdmissionSemanticSpec`): with x̂ the
    * reconstruction and r = ‖x − x̂‖, Cauchy–Schwarz gives
    * |q·x − q·x̂| ≤ ‖q‖·r, so q·x ≥ T·‖q‖·‖x‖ implies
    * q·x̂ ≥ ‖q‖·(T·‖x‖ − r) — the filter below (minus a 1e-9 float
    * slack). A poor codebook (large r) degrades PRUNING, never
    * correctness. Plan: the per-(inc doc, sub, code) dot table is
    * |inc|·nSub·k rows against the broadcast codebook; the pair side
    * unpacks 8-bit lanes and equi-joins it — no floats of seen docs
    * are ever read. Returns (idCol, seen_id, sn). */
  private[graft] def adcPrefilter(cand: DataFrame, seenVecs: DataFrame,
      incVecs: DataFrame, cb: DataFrame, idCol: String,
      cosThreshold: Double, nSub: Int, subDim: Int): DataFrame = {
    val adcTab = incVecs
      .select(col(idCol),
        explode(sequence(lit(0), lit(nSub - 1))).as("sub"), col("e"))
      .withColumn("qsv", expr(s"slice(e, sub * $subDim + 1, $subDim)"))
      .join(broadcast(cb), Seq("sub"))
      // codegen'd dot — same left fold as the zip_with product form
      .select(col(idCol), col("sub"), col("c_code"),
        graft.functions.VectorFunctions.vecDot(col("qsv"), col("cvec"))
          .as("pdot"))
    cand
      .join(seenVecs.select(col(idCol).as("seen_id"), col("code"),
        col("n").as("sn"), col("r").as("sr")), Seq("seen_id"))
      .select(col(idCol), col("seen_id"), col("sn"), col("sr"),
        explode(sequence(lit(0), lit(nSub - 1))).as("sub"), col("code"))
      .withColumn("c_code", expr("cast(shiftright(code, 8 * sub) & 255 as int)"))
      .join(adcTab, Seq(idCol, "sub", "c_code"))
      .groupBy(col(idCol), col("seen_id"), col("sn"), col("sr"))
      .agg(sum("pdot").as("adot"))
      .join(incVecs.select(col(idCol), col("n").as("inorm")), Seq(idCol))
      .filter(col("adot") >=
        col("inorm") * (lit(cosThreshold) * col("sn") - col("sr")) - lit(1e-9))
      .select(col(idCol), col("seen_id"), col("sn"))
  }

  /** [[admit]] with a SEMANTIC near-dup leg (round-10 verdict stretch
    * item): alongside the digest and MinHash-LSH matches, each fresh
    * document's embedding is SRP-bucketed
    * ([[graft.query.AnnLsh.bucketedMulti]], same deterministic tables
    * as [[graft.dedup.Dedup.embedNearDupBucketed]]) and a document is
    * additionally rejected when a bucket-colliding candidate VERIFIES
    * at cosine ≥ `cosThreshold` against any seen document (or a
    * smaller-id document of its own increment) — the SemDeDup
    * admission shape. Persisted semantic state mirrors the MinHash
    * design: `semidx/` holds (id, table, bucket) rows of EVERY fresh
    * exact-survivor (admitted or not — what makes the loop
    * compositional); `vecs/` holds PQ-COMPRESSED vector state (codes
    * packed into one BIGINT + exact norm + reconstruction error —
    * 32 B/doc instead of the round-11 full-float ~528 B/doc, the
    * unbounded-bytes residual at 100 TB-years), with the per-root
    * codebook trained once on the first vector-carrying increment
    * and persisted at `pqcb/`. Cross verification is three stages,
    * none of which changes a decision: SRP bucket collision → ADC
    * pre-filter over the codes ([[adcPrefilter]] — a PROVABLE
    * superset of the exact-accept pairs via the stored per-doc
    * reconstruction-error bound) → exact codegen'd cosine on the
    * survivors, whose seen-side floats are fetched BY ID from `emb`.
    * That makes `emb` a FEATURE-STORE contract: it must serve a
    * stable embedding for every id ever indexed through this leg (it
    * always was the static lookup in [[admitStream]]); exact floats
    * are otherwise kept only for the current increment. Both state
    * kinds fold into bucketed segments ((table, bucket) / (id))
    * through the same [[compact]] lifecycle, so the steady-state
    * candidate join is exchange-free on the seen side. A root with
    * round-11 float-format `vecs/` state fails LOUDLY (replay the
    * increments or stay on the round-11 binary — codes and floats
    * cannot mix silently). Documents without an embedding row skip
    * the semantic leg (text legs still apply). `admit(A); admit(B)` ≡
    * `admit(A ∪ B)` parity and compact-invariance are pinned by
    * `AdmissionSemanticSpec` and hash-checked end-to-end by
    * `q_admission_semantic` — which runs cosThreshold = 0.45 with
    * nTables = 48 (NOT these defaults): at θ ≈ 63° a qualifying pair
    * escapes all 48 tables with p ≈ 9·10⁻⁵ under the fixed seed,
    * while at the 0.5 × 24-table defaults the corresponding coverage
    * is the one `q_embed_neardup_lsh`'s hash-exactness demonstrates.
    * Raise nTables when lowering the threshold: coverage decays as
    * (1 − (1 − θ/π)^nBits)^nTables.
    *
    * Sizing nBits to the increment: the WITHIN-increment candidate
    * self-join grows ~|inc|²·nTables/2^nBits on an unclustered
    * corpus, so a good operating point is nBits ≈ log₂|inc| + c
    * (c ≈ 4–6 keeps expected bucket occupancy ~2⁻ᶜ·|inc|^0 pairs per
    * table) — bits are per-INCREMENT geometry and can differ from
    * root to root, but must stay FIXED per root (the persisted semidx
    * keys are (table, bucket) under one projection family). The
    * PIPELINE_SCALE_r12 one-shot column shows exactly this term when
    * an entire corpus arrives as one increment at fixed 16-bit
    * tables; daily-sized increments sit on the flat steady-state
    * column instead. */
  def admitWithEmbeddings(newDocs: DataFrame, emb: DataFrame, root: String,
      incId: String, idCol: String = "doc_id", textCol: String = "text",
      vecCol: String = "embedding", cosThreshold: Double = 0.5,
      dim: Int = 64, nBits: Int = 4, nTables: Int = 24,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2,
      pqK: Int = 16): DataFrame = {
    val s = newDocs.sparkSession
    val vf = graft.functions.VectorFunctions
    vf.register(s)
    require(pqK <= 256, s"pqK=$pqK exceeds the 8-bit code lanes")
    // subspace geometry: the largest nSub <= 8 dividing dim (dim = 64
    // gives the canonical 8x8; dim = 4 gives 4 one-dim subspaces).
    // dim must be stable per root, like idCol.
    val nSub = (8 to 1 by -1).find(dim % _ == 0).get
    val subDim = dim / nSub
    val haveCb = pqcbCommitted(s, root)
    // Legacy-format guard (round-13 hardening): key on the SCHEMA of
    // the stored vecs rows, not on mere directory existence — a root
    // whose early increments carried zero embedding rows legitimately
    // has vecs/ state (possibly empty dirs from older binaries) and no
    // trained codebook yet, and must NOT be bricked. Only rows that
    // actually store the round-11 float vector column `e` are the
    // un-mixable legacy state.
    if (!haveCb && Parquet.footerSchema(s, s"$root/vecs", s"$root/vecs_base")
        .exists(_.fieldNames.contains("e")))
      sys.error(s"$root holds pre-round-12 float-format vecs/ state " +
        "(no pqcb/ codebook): PQ codes and legacy floats cannot mix — " +
        "replay the increments with this binary or stay on the old one")
    val st = readManifest(s, root)
    val Seq(seenIndex, seenDigests, seenSem, seenVecs) =
      KeyedKinds.map(readSeen(s, root, st, _, idCol, incId))
    val (freshKeysPlan, incIndexOf, admittedIdsOf) = admitPlan(
      newDocs, seenIndex, seenDigests, idCol, textCol, shingleN, k, rowsPerBand)
    // decision tables materialize BEFORE state writes (same boundary
    // rule as [[admit]])
    val freshKeys = labeled(s, s"admit $incId: fresh-keys") {
      Checkpoints.cut(freshKeysPlan)
    }
    val freshDigests = freshKeys.select("digest")
    val cbSchema = StructType(Seq(StructField("sub", IntegerType),
      StructField("c_code", IntegerType),
      StructField("cvec", ArrayType(DoubleType))))
    // The TEXT chain (shingle + minhash signatures of the fresh docs)
    // and the VECTOR chain (norms, SRP buckets, PQ codebook) share no
    // data past `freshKeys` — overlap them (guide §2.6): the text
    // chain is one heavy tokenize job, the vector chain a string of
    // small codebook jobs whose wall clock is mostly scheduling.
    val (incIndex, (incVecs, incSem, incHasVecs, cb, cbNew)) = par2(s,
      () => labeled(s, s"admit $incId: inc-index") {
        Checkpoints.cut(incIndexOf(freshKeys))
      },
      () => labeled(s, s"admit $incId: vector chain") {
        // semantic decision tables: vectors of the fresh docs (norm
        // precomputed once — linear work) and their SRP bucket rows
        val incVecs = Checkpoints.cut(emb
          .select(col(idCol), col(vecCol).cast("array<double>").as("e"))
          .join(freshKeys.select(idCol), Seq(idCol), "left_semi")
          .withColumn("n", sqrt(vf.vecDot(col("e"), col("e")))))
        val incSem = Checkpoints.cut(graft.query.AnnLsh
          .bucketedMulti(incVecs.select(col(idCol), col("e")), "e",
            dim, nBits, nTables)
          .select(col(idCol), col("table"), col("bucket")))
        // the per-root codebook: load, or train on THIS increment's
        // vectors (the first that carries any). A fresh codebook is
        // used directly from its materialized frame; its parquet
        // commit (the _SUCCESS marker every vecs/ row must follow)
        // lands in the first write phase below, still strictly before
        // the vecs/ write.
        val incHasVecs = !incVecs.isEmpty
        val (cb, cbNew): (DataFrame, Boolean) =
          if (haveCb) (Checkpoints.cut(
            s.read.schema(cbSchema).parquet(pqcbPath(root))), false)
          else if (!incHasVecs)
            (s.createDataFrame(s.sparkContext.emptyRDD[Row], cbSchema), false)
          else // (sub int, c_code int, cvec), already cut
            (graft.operators.VectorQueries.pqCodebook(
              incVecs.select(col(idCol).as("vec_id"), col("e").as("embedding")),
              k = pqK, iters = 2, nSub = nSub, subDim = subDim), true)
        (incVecs, incSem, incHasVecs, cb, cbNew)
      }: (DataFrame, DataFrame, Boolean, DataFrame, Boolean))
    val textAdmitted = admittedIdsOf(incIndex, freshKeys)
    // cross near-dup, three stages, decisions EXACT end-to-end:
    // (1) candidates are equi-join bucket collisions (the seen side a
    //     bucketed segment scan post-compact) — never all-pairs;
    // (2) ADC pre-filter over the stored codes — a provable superset
    //     of the exact accepts (see [[adcPrefilter]]);
    // (3) exact codegen'd cosine on the survivors, seen floats
    //     fetched by id from the feature-store table
    val crossCand = incSem
      .join(seenSem.select(col(idCol).as("seen_id"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .select(col(idCol), col("seen_id")).distinct()
    val crossSemLosers = adcPrefilter(crossCand, seenVecs, incVecs, cb,
        idCol, cosThreshold, nSub, subDim)
      .join(emb.select(col(idCol).as("seen_id"),
        col(vecCol).cast("array<double>").as("se")), Seq("seen_id"))
      .join(incVecs.select(col(idCol), col("e").as("ie"), col("n").as("inorm")),
        Seq(idCol))
      .filter(vf.vecDot(col("ie"), col("se")) /
        (col("inorm") * col("sn")) >= cosThreshold)
      .select(idCol)
    // within-increment, greedy by id (same rule as the MinHash leg: a
    // verified collision with ANY smaller id rejects the larger)
    val withinCand = incSem.select(col(idCol).as("sb"), col("table"), col("bucket"))
      .join(incSem.select(col(idCol).as("sa"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("sa") < col("sb"))
      .select("sa", "sb").distinct()
    val withinSemLosers = withinCand
      .join(incVecs.select(col(idCol).as("sa"), col("e").as("ea"),
        col("n").as("na")), Seq("sa"))
      .join(incVecs.select(col(idCol).as("sb"), col("e").as("eb"),
        col("n").as("nb")), Seq("sb"))
      .filter(vf.vecDot(col("ea"), col("eb")) /
        (col("na") * col("nb")) >= cosThreshold)
      .select(col("sb").as(idCol))
    // Phase 1 (all overlapped, guide §2.6): the three loser legs —
    // text anti-join chain, cross-semantic verify, within-semantic
    // verify — are independent anti/semi-join chains of several AQE
    // stage-jobs each (the cross leg alone is ~10 sequential stages:
    // candidate distinct, ADC explode+join+aggregate, feature-store
    // fetch, exact verify), and every state write with no ordering
    // constraint lands in its own directory. The only intra-phase
    // order — the codebook's parquet _SUCCESS marker must precede
    // every vecs/ row encoded against it — is kept by running
    // (codebook write → vecs write) sequentially WITHIN one thunk.
    // An increment with NO embedding rows writes no semantic state:
    // an empty vecs/inc from a codebook-less first increment would
    // otherwise look like (and previously tripped) the legacy guard,
    // bricking the root before the first real vectors ever arrive.
    val writes: Seq[() => Any] = Seq(
      () => labeled(s, s"admit $incId: write index") {
        incIndex.write.mode("overwrite").parquet(s"$root/index/inc=$incId")
      }) ++
      (if (incHasVecs) Seq(
        () => labeled(s, s"admit $incId: write semidx") {
          incSem.write.mode("overwrite").parquet(s"$root/semidx/inc=$incId")
        },
        () => labeled(s, s"admit $incId: write codebook+vecs") {
          if (cbNew) cb.write.mode("overwrite").parquet(pqcbPath(root))
          pqEncodeVecs(incVecs, cb, idCol, nSub, subDim)
            .write.mode("overwrite").parquet(s"$root/vecs/inc=$incId")
        }) else Nil)
    val legs: Seq[() => Any] = Seq(
      () => labeled(s, s"admit $incId: text admitted") {
        Checkpoints.cut(textAdmitted)
      },
      () => labeled(s, s"admit $incId: sem cross losers") {
        Checkpoints.cut(crossSemLosers)
      },
      () => labeled(s, s"admit $incId: sem within losers") {
        Checkpoints.cut(withinSemLosers)
      })
    val phase1 = inParallel(s)(legs ++ writes)
    val admittedIds = phase1(0).asInstanceOf[DataFrame]
      .join(phase1(1).asInstanceOf[DataFrame]
        .union(phase1(2).asInstanceOf[DataFrame]), Seq(idCol), "left_anti")

    // Phase 2: the corpus write consumes the three small materialized
    // id lists; `digests` stays LAST and alone — it is [[compact]]'s
    // increment-commit marker, so digests-committed ⇒ every other kind
    // (corpus, semidx, vecs, index) is committed too.
    labeled(s, s"admit $incId: write corpus") {
      newDocs.join(admittedIds, Seq(idCol), "left_semi")
        .write.mode("overwrite").parquet(s"$root/corpus/inc=$incId")
    }
    labeled(s, s"admit $incId: write digests") {
      freshDigests.write.mode("overwrite").parquet(s"$root/digests/inc=$incId")
    }
    Parquet.read(s, s"$root/corpus/inc=$incId")
  }

  /** Streaming admission — the continuous form of the daily loop
    * ([[graft.streaming.CurationStream]]'s ingest feeding this state):
    * every micro-batch is one increment whose id is the MICRO-BATCH
    * id. Structured Streaming replays a failed batch under the SAME
    * id, and [[admit]] is idempotent per increment id (a re-run
    * overwrites its own subdirs and excludes them from the seen
    * state), so the composed loop is exactly-once end-to-end under
    * crash/restart — no dedup-sink tricks needed, the admission state
    * itself is the sink. `cfg` applies the batch pipeline's
    * quality/language filter ([[Curation.qualityLangFilter]], pure
    * scan-stage expressions) before admission, completing the
    * ingest → filter → match-against-index → admit → append-index
    * chain as one restartable flow. Batch ids are zero-padded so
    * lexicographic `inc=` ordering equals arrival order.
    *
    * `compactEvery = n` runs [[compact]] after every n-th batch, the
    * retention story that keeps a long-running stream's state-listing
    * bounded. The compaction is itself crash-safe (manifest commit
    * point) and a batch replayed across a compaction boundary stays
    * exactly-once because its folded rows still carry `inc` — pinned
    * by `AdmissionCompactSpec`.
    *
    * `embeddings = Some(e)` routes every batch through
    * [[admitWithEmbeddings]] instead of [[admit]]: `e` is a STATIC
    * lookup table (id → embedding, e.g. a feature store the stream
    * joins against); the semantic state then grows batch-by-batch
    * under the identical exactly-once/replay story, since
    * `admitWithEmbeddings` is idempotent per increment id like
    * [[admit]] (`AdmissionSemanticSpec` pins the streamed form). */
  def admitStream(docs: DataFrame, root: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      cfg: Option[Curation.Config] = Some(Curation.Config()),
      compactEvery: Int = 0,
      embeddings: Option[DataFrame] = None,
      cosThreshold: Double = 0.5, dim: Int = 64,
      nBits: Int = 4, nTables: Int = 24)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val kept = cfg.fold(batch.toDF())(c =>
          Curation.qualityLangFilter(batch.toDF(), c))
        val incId = f"b$batchId%09d"
        embeddings match {
          case Some(e) => admitWithEmbeddings(kept, e, root, incId,
            idCol, textCol, cosThreshold = cosThreshold, dim = dim,
            nBits = nBits, nTables = nTables)
          case None => admit(kept, root, incId, idCol, textCol)
        }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(batch.sparkSession, root, idCol)
        ()
      }
      .start()

  /** All admitted documents (original columns + `inc`): compacted
    * corpus segments plus the not-yet-folded, COMMITTED `inc=*`
    * increments — the read stays O(live segments + unfolded
    * increments), never O(all increments ever), matching the
    * index/digest retention story. An increment dir without the
    * `_SUCCESS` marker is a crashed admit awaiting replay (the rule
    * [[compact]] applies) and is not served. `inc` arrives as a real
    * string column from segments and is tagged as a literal on
    * increment dirs (partition-value inference would otherwise strip a
    * numeric id's leading zeros). */
  def corpus(s: SparkSession, root: String): DataFrame = {
    val st = readManifest(s, root)
    val fs = fsOf(s, root)
    val segs = st.segments.map(seg => basePath(root, "corpus", seg.id))
      .filter(p => fs.exists(new Path(p)))
      .map(Parquet.read(s, _))
    val incs = committedIncs(s, root, "corpus").filterNot(st.folded).sorted
      .map(id => Parquet.read(s, s"$root/corpus/inc=$id")
        .withColumn("inc", lit(id)))
    (segs ++ incs).reduceOption(_ unionByName _)
      .getOrElse(sys.error(s"no admitted corpus under $root"))
  }

  /** The stored seen-signature index (idCol, band, sig, inc) —
    * compacted segments plus the not-yet-folded increments. The
    * increment dirs are read with their footer schema plus `inc` as a
    * string, as in the segments, so an id like `0003` keeps its
    * leading zeros (partition-value inference would turn it into the
    * integer 3). */
  def index(s: SparkSession, root: String): DataFrame = {
    val st = readManifest(s, root)
    val segs = st.segments
      .filter(seg => segHasKind(s, root, "index", seg))
      .map(seg => segTable(s, root, "index", st, seg))
    val dirs = listIncs(s, root, "index").filterNot(st.folded)
      .map(id => s"$root/index/inc=$id")
    val withInc = Parquet.footerSchema(s, dirs: _*)
      .getOrElse(indexSchema(st.idCol)).add("inc", StringType)
    val incs =
      if (dirs.isEmpty) Nil
      else Seq(s.read.option("basePath", s"$root/index").schema(withInc)
        .parquet(dirs: _*))
    val frames = segs ++ incs
    frames match {
      case Nil => s.createDataFrame(s.sparkContext.emptyRDD[Row], withInc)
      case head +: tail =>
        tail.foldLeft(head)((a, b) =>
          a.unionByName(b.select(a.columns.map(col).toIndexedSeq: _*)))
    }
  }

  /** Drop all state under `root` (gate rows re-run from scratch),
    * including any segment catalog entries — live per the manifest or
    * orphaned by a crashed compact (their data dirs live under
    * `root`). */
  def reset(s: SparkSession, root: String): Unit = {
    val fs = fsOf(s, root)
    for (kind <- KeyedKinds; g <- segDirIds(s, root, kind))
      dropTableIfExists(s, tableName(root, kind, g))
    val p = new Path(root)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
