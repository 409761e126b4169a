package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._
import graft.pipeline.Admission
import graft.sources.{Parquet, Tables}

/** Fixture-schema contract: every `Tables.*` loader must hand
  * downstream operators the SAME logical schema regardless of how the
  * driver re-encodes the parquet fixtures. Round 8 shipped red because
  * `events.ts` silently changed encoding (TIMESTAMP(NANOS)-as-long →
  * native TIMESTAMP(MICROS)) and nothing named the drift — this spec
  * turns any future fixture change into an immediate, named failure.
  */
class TablesContractSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Types downstream queries rely on. Timestamp-bearing columns accept
    * either session-local or NTZ flavor (both compare identically under
    * the UTC session TZ) — EXCEPT `events.ts`, which the loader
    * guarantees is normalized to session-local for watermark/window use.
    */
  private def tsLike(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  private val exact: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  for ((name, want) <- exact.toSeq.sortBy(_._1))
    test(s"$name loader returns the contracted schema") {
      val got = Tables.load(spark, dir, name).schema
        .map(f => f.name -> f.dataType)
      assert(got == want, s"$name drifted: got $got, want $want")
    }

  test("orders loader: keys/price exact, o_orderdate is a timestamp") {
    val s = Tables.orders(spark, dir).schema
    assert(s.map(_.name) == Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"))
    assert(s("o_orderkey").dataType == LongType)
    assert(s("o_custkey").dataType == LongType)
    assert(s("o_totalprice").dataType == DoubleType)
    assert(tsLike(s("o_orderdate").dataType),
      s"o_orderdate drifted to ${s("o_orderdate").dataType}")
  }

  test("lineitem loader: keys/measures exact, l_shipdate is a timestamp") {
    val s = Tables.lineitem(spark, dir).schema
    assert(s.map(_.name) == Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    assert(s("l_orderkey").dataType == LongType)
    assert(s("l_quantity").dataType == DoubleType)
    assert(tsLike(s("l_shipdate").dataType),
      s"l_shipdate drifted to ${s("l_shipdate").dataType}")
  }

  test("events loader normalizes ts to a session-local timestamp " +
      "whatever the fixture encoding") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val s = Tables.events(spark, s"/root/testdata/$sf").schema
      assert(s.map(_.name) == Seq("event_id", "ts", "user_id",
        "event_type", "value", "props"), s"$sf column drift")
      assert(s("ts").dataType == TimestampType,
        s"$sf: events.ts must normalize to TimestampType, got ${s("ts").dataType}")
      assert(s("event_id").dataType == LongType)
      assert(s("user_id").dataType == LongType)
      assert(s("value").dataType == DoubleType)
      assert(s("props").dataType == StringType)
    }
  }

  test("normalizeEventTs adapts all three historical ts encodings") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val asLong = Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
    assert(Tables.normalizeEventTs(asLong).schema("ts").dataType == TimestampType)
    // nanos truncate to micros, same rule DuckDB applies
    assert(Tables.normalizeEventTs(asLong)
      .select(unix_micros(col("ts"))).head.getLong(0) == 1700000000123456L)
    val asLtz = asLong.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    assert(Tables.normalizeEventTs(asLtz).schema("ts").dataType == TimestampType)
    val asNtz = asLtz.withColumn("ts",
      col("ts").cast(TimestampNTZType))
    val ntzFixed = Tables.normalizeEventTs(asNtz)
    assert(ntzFixed.schema("ts").dataType == TimestampType)
    assert(ntzFixed.select(unix_micros(col("ts"))).head.getLong(0)
      == 1700000000123456L)
  }

  test("events stream probe matches the batch loader's normalized schema") {
    val probed = graft.streaming.EventStreams
      .probeSchema(spark, s"$dir/events.parquet")
    assert(probed.map(_.name) == Seq("event_id", "ts", "user_id",
      "event_type", "value", "props"))
  }

  test("events loader and stream probe leave nanosAsLong alone on a MICROS " +
      "fixture") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key, "false") {
      Tables.events(spark, dir)
      graft.streaming.EventStreams.probeSchema(spark, s"$dir/events.parquet")
      assert(spark.conf.get(key) == "false", s"$key leaked into the session")
    }
  }

  test("a TIMESTAMP(NANOS) events file turns nanosAsLong on and loads as " +
      "truncated micros") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = tempDir("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key, "false") {
      val ev = Tables.events(spark, d)
      assert(spark.conf.get(key) == "true")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.selectExpr("unix_micros(ts)").head.getLong(0) == 1700000000123456L)
    }
  }

  // ---- footer schemas: Parquet.read must hand out exactly the schema
  // Spark's own inference finds, without the inference job

  private def assertFooterSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val footer = Parquet.read(spark, path).schema
    assert(footer == inferred, s"$path: footer $footer, inferred $inferred")
  }

  for (name <- Tables.names)
    test(s"$name: footer schema equals the inferred schema at every tier, " +
        "nanosAsLong off and on") {
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1");
           nanos <- Seq("false", "true"))
        withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
          assertFooterSchema(s"/root/testdata/$sf/$name.parquet")
        }
    }

  /** Spark-written admission state: increment d1 folded into segment
    * s1, increment d2 still in its `inc=d2` dirs. */
  private lazy val admissionRoot: String = {
    import spark.implicits._
    val root = tempDir("graft_footer")
      .toString + "/state"
    Admission.admit(Seq((1L, "aa bb cc dd ee ff gg", "s"))
      .toDF("doc_id", "text", "source"), root, "d1")
    Admission.compact(spark, root)
    Admission.admit(Seq((2L, "hh ii jj kk ll mm nn", "s"))
      .toDF("doc_id", "text", "source"), root, "d2")
    root
  }

  test("footer schema equals the inferred schema on Spark-written admission " +
      "state: corpus dirs and a bucketed segment") {
    // one increment dir, the partitioned corpus root (inc inferred from
    // the paths), the corpus segment and the bucketed index segment
    for (p <- Seq("corpus/inc=d2", "corpus", "corpus_base/s1", "index_base/s1"))
      assertFooterSchema(s"$admissionRoot/$p")
  }

  /** Spark jobs started by `body` on this thread, counted by a listener.
    * A fence job run afterwards under its own group is seen after every
    * job of `body`, since the listener bus delivers events in order. */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"footer-jobs-${System.nanoTime()}"
    val fence = s"$group-fence"
    val started = new AtomicInteger()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => started.incrementAndGet(); ()
          case `fence` => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "schema job count", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "listener fence", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(30, TimeUnit.SECONDS), "fence job never seen")
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("a table scan's schema and a corpus frame start no Spark job") {
    assert(jobsStarted { Tables.load(spark, dir, "orders").schema; () } == 0)
    val root = admissionRoot // built outside the counted region
    // one segment plus one increment dir: two frames, no job for either
    assert(jobsStarted { Admission.corpus(spark, root).schema; () } == 0)
  }
}
