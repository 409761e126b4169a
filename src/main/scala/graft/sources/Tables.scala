package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated synthetic parquet tables
  * (`TESTDATA.md`): TPC-H-ish star schema + events/documents/embeddings.
  *
  * All queries read through here so that scan-level concerns (schema
  * pruning, partition sizing) live in one place. At cluster scale the
  * same API would point at an object store; locally it is a directory
  * of parquet files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** Planned scan parallelism of `dir/name`, memoized per path: the
    * number of partitions the file source actually splits the table
    * into (file count, `maxPartitionBytes`, `openCostInBytes` — and,
    * effectively, row-group layout). Ground truth for [[fanout]]'s
    * decision; memoized because the fixture layout cannot change
    * mid-session and the probe costs a plan. */
  private val scanParts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private def plannedParts(s: SparkSession, dir: String, name: String): Int = {
    // memo key includes the layout-relevant session config: a later
    // session with different maxPartitionBytes/parallelism (tests vs
    // bench in one JVM) must re-probe, not reuse a stale count
    // (round-14 advice item 3)
    val layout = s"${s.conf.get("spark.sql.files.maxPartitionBytes", "")}|" +
      s"${s.sparkContext.defaultParallelism}"
    scanParts.computeIfAbsent(s"$dir/$name@$layout",
      _ => load(s, dir, name).rdd.getNumPartitions)
  }

  /** Scale-adaptive scan fan-out (optimization guide §1.2 step 1 /
    * §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read").
    *
    * The text/vector operators fuse heavy per-row work — regexp
    * tokenization, shingle md5, SRP bit hashing — into the scan
    * stage via whole-stage codegen. When the table is a handful of
    * single-row-group files (every local sf tier), that scan stage
    * plans at 1-3 tasks and the fused work runs nearly serially on a
    * 32-core box, while every post-exchange stage parallelizes fine
    * (measured: the five dominant jobs of `q_pipeline_e2e` were
    * single-task scan stages of 0.7-1.2 s each, OPTIMIZATION_r14.md).
    *
    * Fix: when the PLANNED scan parallelism is below the session's
    * default parallelism, redistribute by a deterministic hash of the
    * table's primary key before the heavy consumers. The trigger
    * condition is derived from the input itself, not a local constant:
    * a table big enough to split into ≥ cores scan partitions (the
    * 100 TB case — thousands of files/row groups) passes through
    * UNTOUCHED, so no corpus-sized shuffle is ever introduced; a table
    * below that bound costs at most one sub-(cores × split-size)
    * exchange, which is exactly the regime where the exchange is
    * cheaper than the serialized scan it replaces. Hash-by-key (not
    * round-robin) keeps the row→partition assignment deterministic
    * under retries (guide §2.5's SPARK-38388 note) and reusable by
    * downstream operators keyed the same way. The explicit partition
    * count pins the exchange against AQE re-coalescing it back to one
    * task (coalescing would undo precisely the parallelism the
    * exchange exists to buy). */
  private def fanout(s: SparkSession, dir: String, name: String,
      key: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = load(s, dir, name)
    val target = s.sparkContext.defaultParallelism
    if (plannedParts(s, dir, name) < target) df.repartition(target, col(key))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet encodings: TIMESTAMP(NANOS)
    * (readable only as a raw long via the legacy conf) and native
    * TIMESTAMP(MICROS). Adapt to whichever the fixture currently uses:
    * a `LongType` column is nanos → truncate to micros (the same
    * truncation DuckDB applies); a timestamp column passes through,
    * normalized NTZ→session-local (session TZ is UTC, so the wall-clock
    * micros are identical either way).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    normalizeEventTs(s.read.schema(eventsSchema(s, path)).parquet(path))
  }

  /** Physical schema of the events parquet at `path` (a file or a
    * directory of parts), read from its footer. Spark reads a
    * TIMESTAMP(NANOS) `ts` only as a raw long under
    * `spark.sql.legacy.parquet.nanosAsLong`, so that conf is set on the
    * session when — and only when — the footer's `ts` is NANOS; a
    * MICROS fixture leaves the caller's session untouched. The one
    * place [[events]] and the streaming readers decide it. */
  def eventsSchema(s: SparkSession, path: String): StructType = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit,
      TimestampLogicalTypeAnnotation}
    Parquet.footer(s, path) match {
      case None => Parquet.read(s, path).schema // Spark raises its own error
      case Some(f) =>
        val file = f.getParquetMetadata.getFileMetaData.getSchema
        val nanos = file.containsField("ts") &&
          (file.getType(file.getFieldIndex("ts")).getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          })
        if (nanos) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        Parquet.sparkSchema(s, f)
    }
  }

  /** Normalize whatever `ts` encoding the fixture shipped to a plain
    * session-local timestamp. Shared by the batch loader and the
    * streaming reader so both surfaces adapt identically.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet type $other — fixture drifted again?")
    }
  }
  /** Documents and embeddings read through [[fanout]]: their consumers
    * (tokenize/shingle/md5, SRP hashing, chunking) are the operators
    * whose per-row cost dominates their scan stage — the measured
    * single-task bottleneck of the text/vector headline queries. The
    * star-schema fact tables deliberately do NOT fan out: their
    * consumers are cheap partial-aggregating scans where an extra
    * exchange costs more than the serial scan it would replace
    * (measured both ways, OPTIMIZATION_r14.md). */
  def documents(s: SparkSession, d: String): DataFrame =
    fanout(s, d, "documents", "doc_id")
  def embeddings(s: SparkSession, d: String): DataFrame =
    fanout(s, d, "embeddings", "vec_id")
}
