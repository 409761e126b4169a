package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextFunctions

/** Streaming near-duplicate detection — the incremental form of the
  * batch MinHash+LSH pipeline ([[graft.dedup.Dedup.lshCandidates]]):
  * every arriving document is banded, per-band keyed state remembers
  * the smallest doc id seen so far, and a document colliding with an
  * earlier occupant of ANY of its bands is flagged as a near-dup
  * CANDIDATE. The exact-Jaccard verify stage stays a batch job over
  * the flagged pairs — the same band → verify staging as batch.
  *
  * The band signatures are the batch pipeline's own
  * ([[graft.functions.TextFunctions.lshBands]]), which is row-local —
  * each permutation minimum is an `array_min` over the document's own
  * shingle array, with no aggregation to watermark. So the only
  * stateful operator in the stream is the band-key
  * `flatMapGroupsWithState`, whose state is one (band signature → min
  * doc id) entry per DISTINCT band — it grows with corpus novelty, not
  * stream length, and is the same key set a batch LSH index
  * materializes.
  */
object DedupStreams {

  /** One (document, band) observation; `band_key` is "band:sig". */
  final case class BandObs(band_key: String, doc_id: Long)
  /** Smallest doc id ever seen for a band key. */
  final case class BandState(minId: Long)
  /** `dup_of` = the smaller colliding doc id, or -1 when this doc is
    * the band's first/smallest occupant. */
  final case class BandVerdict(doc_id: Long, band_key: String, dup_of: Long)

  /** The stateful stage: per band key, emit one verdict per arriving
    * document — `dup_of` is the smallest colliding id when one exists
    * below the document's own id. Within a micro-batch the group min
    * is taken over state AND the batch's arrivals, so verdicts do not
    * depend on iterator order; across micro-batches the state min
    * carries forward (a document is only ever compared against what
    * arrived BEFORE it — streaming semantics; feeding a single batch
    * reproduces the batch pipeline's smaller-id rule exactly).
    *
    * `stateTtl` bounds state for a genuinely unbounded stream: with a
    * retention set, every band entry's processing-time timeout is
    * (re)armed on activity, and a band idle past the TTL is evicted on
    * a later trigger. The default keeps the round-trip-exact
    * no-timeout semantics — state then grows with corpus novelty
    * (one entry per distinct band signature, the same key set a batch
    * LSH index materializes), which is the right choice for bounded
    * backfills. THE TRADE, explicitly: after an eviction the band's
    * next occupant is treated as first-seen, so a duplicate arriving
    * more than the retention window after its last twin is RE-ADMITTED
    * (a missed detection, never a false positive). Size the TTL to the
    * dedup horizon the pipeline actually promises — e.g. "no dup
    * within 7 days" needs 7 days of retention, not unbounded state. */
  def bandVerdicts(obs: Dataset[BandObs],
      stateTtl: Option[java.time.Duration] = None): Dataset[BandVerdict] = {
    import obs.sparkSession.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    obs
      .groupByKey(_.band_key)
      .flatMapGroupsWithState[BandState, BandVerdict](
        OutputMode.Append(), timeoutConf) {
        (key: String, it: Iterator[BandObs], state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: drop the entry; no verdicts to emit
            state.remove()
            Iterator.empty
          } else {
            val arrived = it.map(_.doc_id).toSeq
            val groupMin = (arrived ++ state.getOption.map(_.minId)).min
            state.update(BandState(groupMin))
            // activity re-arms the clock: a band stays resident while
            // it keeps seeing documents within the retention window
            stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
            arrived.iterator.map { id =>
              BandVerdict(id, key, if (groupMin < id) groupMin else -1L)
            }
          }
      }
  }

  /** Full streaming pipeline over a document stream: band rows
    * (none for documents under 3 words) → keyed verdicts. A document
    * is a near-dup candidate iff ANY of its bands reports
    * `dup_of >= 0`; that per-document reduction is the consumer's (or
    * a downstream batch job's) one-line group-by over the sink. */
  def nearDupVerdicts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      stateTtl: Option[java.time.Duration] = None): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    val bands = TextFunctions.lshBands(docs, idCol, textCol)
      .select(concat_ws(":", col("band"), col("sig")).as("band_key"),
        col(idCol).cast("long").as("doc_id"))
    bandVerdicts(bands.as[BandObs], stateTtl)
  }
}
