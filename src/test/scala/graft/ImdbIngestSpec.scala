package graft

import org.apache.spark.sql.functions._
import graft.ingest.EdgeBuilder
import graft.sources.ImdbTsv

/** Ingest parity on the reference's own sample TSVs (FIXTURES.md §A). */
class ImdbIngestSpec extends SparkSpec {
  private lazy val dir = new java.io.File(resource("imdb")).getPath

  test("S1: row counts match the sample files") {
    assert(ImdbTsv.basics(spark, s"$dir/basic1000.tsv").count() == 1001L)
    assert(ImdbTsv.principals(spark, s"$dir/principals1000.tsv").count() == 3589L)
    // 847 rows INCLUDING the first record the reference drops (dev. 3)
    assert(ImdbTsv.names(spark, s"$dir/names1000.tsv").count() == 847L)
  }

  test("S1 keeps the first names record the reference loses") {
    val first = ImdbTsv.names(spark, s"$dir/names1000.tsv")
      .filter(col("nconst") === "nm0000428").collect()
    assert(first.length == 1)
    assert(first(0).getAs[String]("primaryName") == "D.W. Griffith")
  }

  test("S2: \\N becomes a real null; arrays split") {
    val b = ImdbTsv.basics(spark, s"$dir/basic1000.tsv")
    assert(b.filter(col("endYear").isNull).count() > 0)
    val genres = b.filter(col("tconst") === "tt0000001")
      .select("genres").collect()(0).getSeq[String](0)
    assert(genres == Seq("Documentary", "Short"))
  }

  test("edge table matches the in-memory oracle join") {
    val got = EdgeBuilder.edges(spark,
        s"$dir/basic1000.tsv", s"$dir/principals1000.tsv", s"$dir/names1000.tsv")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = ImdbOracle.edges(dir)
    assert(got == want, s"got ${got.size} edges, want ${want.size}")
    assert(got.nonEmpty)
  }

  test("A1/A2: grouped views agree with the edge table") {
    val e = EdgeBuilder.edges(spark,
      s"$dir/basic1000.tsv", s"$dir/principals1000.tsv", s"$dir/names1000.tsv")
    val titleCast = EdgeBuilder.titleToCast(e)
    val nameTitles = EdgeBuilder.nameToTitles(e)
    assert(titleCast.select(explode(col("cast"))).count() == e.count())
    assert(nameTitles.select(explode(col("titles"))).count() == e.count())
    // P6: no empty casts survive (inner-join semantics)
    assert(titleCast.filter(size(col("cast")) === 0).count() == 0)
  }

  test("S4/S5: grouped TSV sink and parquet snapshot roundtrip") {
    val e = EdgeBuilder.edges(spark,
      s"$dir/basic1000.tsv", s"$dir/principals1000.tsv", s"$dir/names1000.tsv")
    val grouped = EdgeBuilder.titleToCast(e)
    val tsvDir = tempDir("tsvsink").toString
    ImdbTsv.writeGroupedTsv(grouped, "title", "cast", tsvDir)
    // the reference's `key \t v1, v2` shape (tab2file, server.erl:379-389)
    val line = spark.read.option("sep", "\t").csv(tsvDir).collect()(0)
    assert(line.length == 2 && line.getString(0).nonEmpty)

    val snapDir = tempDir("snap").toString + "/edges"
    ImdbTsv.snapshot(e, snapDir)
    val back = ImdbTsv.readSnapshot(spark, snapDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == ImdbOracle.edges(dir))
  }

  test("partitioned snapshot prunes partitions at planning time") {
    val dir2 = tempDir("psnap").toString + "/events"
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
    ImdbTsv.snapshotPartitioned(ev, "day", dir2)
    val back = spark.read.parquet(dir2)
    val days = back.select("day").distinct().count()
    assert(days > 1, "need several partitions for the pruning check")
    val oneDay = ev.select(max(to_date(col("ts")))).collect()(0).getDate(0)
    val pruned = back.filter(col("day") === lit(oneDay))
    // roundtrip correctness
    assert(pruned.count() == ev.filter(to_date(col("ts")) === lit(oneDay)).count())
    // the day filter must land in PartitionFilters (planning-time prune,
    // zero I/O on other partitions), not in the data filters
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("day"), s"day filter not pushed to partition pruning:\n$scan")
  }

  test("S3: pre-joined step0 path yields the same edges") {
    // build a step0 file from the oracle edges (sort_data.py's output shape)
    val tmp = java.nio.file.Files.createTempFile("prejoined", ".tsv")
    val byTitle = ImdbOracle.edges(dir).groupMap(_._1)(_._2)
    val content = byTitle.map { case (t, ns) => s"$t\t${ns.mkString(",")}" }
      .mkString("\n")
    java.nio.file.Files.writeString(tmp, content)
    val got = EdgeBuilder.edgesFromPrejoined(spark, tmp.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == ImdbOracle.edges(dir))
  }
}
