package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schemas.Imdb

/** TSV sources + sinks for the IMDB data model (SURVEY.md §2.1).
  *
  * The reference streams lines over Erlang messages with a hash router
  * (dataInit.erl:151-158); here a single declarative `spark.read.csv`
  * carries the same semantics — splittable, parallel, with real nulls
  * for the `\N` token (S2) instead of a magic string.
  */
object ImdbTsv {

  private def tsv(s: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType,
      header: Boolean): DataFrame =
    s.read
      .option("sep", "\t")
      .option("header", header)
      .option("nullValue", "\\N")
      .option("quote", "")          // IMDB dumps are unquoted; '"' is data
      .schema(schema)
      .csv(path)

  /** S1: title.basics scan (header row present). */
  def basics(s: SparkSession, path: String): DataFrame =
    tsv(s, path, Imdb.basicsSchema, header = true)
      .withColumn("genres", split(col("genres"), ","))

  /** S1: title.principals scan (header row present). */
  def principals(s: SparkSession, path: String): DataFrame =
    tsv(s, path, Imdb.principalsSchema, header = true)

  /** S1: name.basics scan — the sample file has NO header; the
    * reference's header-skip drops the first record (dataInit.erl:83-84),
    * we keep it (SURVEY.md §7 deviation 3). */
  def names(s: SparkSession, path: String): DataFrame =
    tsv(s, path, Imdb.namesSchema, header = false)
      .withColumn("primaryProfession", split(col("primaryProfession"), ","))
      .withColumn("knownForTitles", split(col("knownForTitles"), ","))

  /** S3: pre-joined `title \t a,b,c` scan (step0, server.erl:111-124):
    * yields the edge table directly via split + explode. */
  def prejoined(s: SparkSession, path: String): DataFrame =
    tsv(s, path, Imdb.prejoinedSchema, header = false)
      .select(col("title"), explode(split(col("cast"), ",")).as("name"))
      .filter(length(trim(col("name"))) > 0)
      .select(col("title"), trim(col("name")).as("name"))

  /** S4: TSV sink `key \t v1, v2` (tab2file, server.erl:379-389). */
  def writeGroupedTsv(df: DataFrame, keyCol: String, listCol: String, path: String): Unit =
    df.select(col(keyCol), concat_ws(", ", col(listCol)).as("vs"))
      .write.mode("overwrite").option("sep", "\t").csv(path)

  /** S5: columnar snapshot sink/source (ets:tab2file / file2tab,
    * server.erl:161,329-341) — parquet checkpoint of a built table;
    * replication/recovery is the storage layer's job at scale. */
  def snapshot(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Hive-partitioned parquet sink — the 100 TB table layout: one
    * directory per `partCol` value, so readers filtering on it prune
    * whole partitions at planning time (PartitionFilters on the scan,
    * zero I/O for excluded values) instead of row-group-skipping
    * inside files. Partition columns should be low-cardinality (a
    * date, a category); high-cardinality keys belong in sort order
    * within files, not the directory tree. */
  def snapshotPartitioned(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  def readSnapshot(s: SparkSession, path: String): DataFrame =
    Parquet.read(s, path)
}
