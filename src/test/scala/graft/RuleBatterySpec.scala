package graft

/** Property pins for q_gopher_rules and q_neighbor_sample (both are
  * hash-checked against DuckDB in the gate; these assert the semantic
  * invariants a hash can't explain). */
class RuleBatterySpec extends SparkSpec {

  import spark.implicits._

  test("q_gopher_rules: keep is the conjunction of its rule columns") {
    val rows = Catalog.byName("q_gopher_rules")
      .fn(spark, "/root/testdata/sf0.001")
      .select("r_wordcount", "r_meanlen", "r_stopwords", "r_repetition", "keep")
      .as[(Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c, d, keep) =>
      assert(keep === (a && b && c && d))
    }
    // the battery must actually discriminate at smoke scale
    assert(rows.exists(_._5) && rows.exists(!_._5),
      "all documents landed on one side of the battery")
  }

  test("q_neighbor_sample: fan-out capped at 5, sample ⊆ adjacency") {
    val dir = "/root/testdata/sf0.001"
    val sample = Catalog.byName("q_neighbor_sample").fn(spark, dir)
    val fanOut = sample.groupBy("cust").count()
      .filter(org.apache.spark.sql.functions.col("count") > 5).count()
    assert(fanOut === 0, "a vertex exceeded the k=5 fan-out cap")
    val edges = graft.operators.GraphQueries.copurchaseEdges(spark, dir)
      .distinct()
    assert(sample.join(edges, Seq("cust", "part"), "left_anti").count() === 0,
      "sampled a non-existent edge")
    // vertices with degree >= k must be sampled at exactly k
    val deg = edges.groupBy("cust").count().filter(
      org.apache.spark.sql.functions.col("count") >= 5)
    val under = sample.groupBy("cust").count()
      .withColumnRenamed("count", "got")
      .join(deg, "cust")
      .filter(org.apache.spark.sql.functions.col("got") =!= 5)
      .count()
    assert(under === 0, "a high-degree vertex was sampled below k")
  }

  test("q_bpe_merges: ranked pair list is well-formed") {
    val rows = Catalog.byName("q_bpe_merges")
      .fn(spark, "/root/testdata/sf0.001")
      .select("pair", "cnt").as[(String, Long)].collect()
    assert(rows.length === 20)
    assert(rows.map(_._1).distinct.length === 20)
    assert(rows.forall { case (p, c) => p.length == 2 && c > 0 })
    // descending by count with pair tiebreak
    assert(rows.sliding(2).forall { case Array((pa, ca), (pb, cb)) =>
      ca > cb || (ca == cb && pa < pb) })
  }

  test("q_snapshot_diff: statuses follow the id rule") {
    val rows = Catalog.byName("q_snapshot_diff")
      .fn(spark, "/root/testdata/sf0.001")
      .select("doc_id", "status").as[(Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, st) =>
      val inOld = id % 11 != 0
      val inNew = id % 13 != 0
      val expected =
        if (!inOld && inNew) "added"
        else if (inOld && !inNew) "removed"
        else if (id % 17 == 0) "changed"
        else fail(s"doc $id should be unchanged but was emitted as $st")
      assert(st === expected, s"doc $id")
    }
  }

  test("q_retention_cohorts: offset-0 row is each cohort's maximum") {
    val rows = Catalog.byName("q_retention_cohorts")
      .fn(spark, "/root/testdata/sf0.001")
      .select("cohort", "day_offset", "n_users")
      .as[(String, Int, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 0), "negative day offset")
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val day0 = rs.find(_._2 == 0)
        .getOrElse(fail(s"cohort $c has no offset-0 row"))._3
      assert(rs.forall(_._3 <= day0),
        s"cohort $c: a later day exceeds the cohort size")
    }
  }

  test("q_zorder_layout: every bucket bounds BOTH dimensions to 16") {
    val rows = Catalog.byName("q_zorder_layout")
      .fn(spark, "/root/testdata/sf0.001")
      .select("bucket", "min_user", "max_user", "min_hour", "max_hour")
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(rows.length > 1, "z-layout degenerated to a single bucket")
    rows.foreach { case (bkt, lu, hu, lh, hh) =>
      assert(hu - lu <= 15, s"bucket $bkt: user span ${hu - lu} > 15")
      assert(hh - lh <= 15, s"bucket $bkt: hour span ${hh - lh} > 15")
    }
  }

  test("q_funnel_steps: step counts are monotonically non-increasing") {
    val rows = Catalog.byName("q_funnel_steps")
      .fn(spark, "/root/testdata/sf0.001")
      .select("step", "n_users").as[(Int, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1, 2, 3))
    assert(rows(0)._2 >= rows(1)._2 && rows(1)._2 >= rows(2)._2,
      s"funnel widened downstream: ${rows.mkString(", ")}")
    assert(rows(0)._2 > 0, "empty funnel at smoke scale")
  }

  test("q_gap_fill: dense grid, zero-filled gaps, forward fill carries " +
      "the last observed value") {
    val rows = Catalog.byName("q_gap_fill")
      .fn(spark, "/root/testdata/sf0.001")
      .select("hour", "event_type", "n_events", "value_cents", "filled_cents")
      .as[(String, String, Long, Long, Long)].collect()
    val hours = rows.map(_._1).distinct.sorted
    val types = rows.map(_._2).distinct
    assert(rows.length == hours.length * types.length,
      "grid is not the full hour × type cross product")
    val gaps = rows.filter(_._3 == 0)
    assert(gaps.nonEmpty, "fixture produced no gap cells")
    assert(gaps.forall(_._4 == 0L), "a gap cell carries observed value")
    // replay the forward fill per type in plain Scala. The fill's
    // observation predicate is "cents IS NOT NULL" (last(ignoreNulls)),
    // NOT "n_events > 0": an hour whose events all carry NULL value has
    // n_events > 0 but no observed cents, and must carry the previous
    // fill (round-11 review finding — the old n_events-based replay
    // passed only because the fixture has no NULL values). Recompute
    // observedness from the raw events so the pin survives a fixture
    // with NULLs.
    val observed = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("value").isNotNull)
      .select(
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.date_trunc("hour",
            org.apache.spark.sql.functions.col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour"),
        org.apache.spark.sql.functions.col("event_type"))
      .distinct().as[(String, String)].collect().toSet
    types.foreach { t =>
      var lastSeen = 0L
      rows.filter(_._2 == t).sortBy(_._1).foreach { r =>
        if (observed((r._1, t))) lastSeen = r._4
        assert(r._5 == lastSeen,
          s"fill drifted at (${r._1}, $t): got ${r._5}, want $lastSeen")
      }
    }
  }

  test("JSONL roundtrip survives adversarial text (quotes/controls/unicode)") {
    import org.apache.spark.sql.functions._
    val nasty = Seq(
      (1L, "plain text"),
      (2L, "quote \" backslash \\ slash /"),
      (3L, "tab\tnewline\ncarriage\rreturn"),
      (4L, "unicode é中😀 mixed"),
      (5L, "control  chars"),
      (6L, ""))
    val df = nasty.toDF("doc_id", "text")
    val dest = tempDir("graft_jsonl_spec").toString
    df.write.mode("overwrite").json(dest)
    val back = spark.read.schema(df.schema).json(dest)
    assert(back.count() === nasty.length)
    val diff = df.select(col("doc_id"), md5(col("text")).as("h"))
      .join(back.select(col("doc_id"), md5(col("text")).as("h2")), "doc_id")
      .filter(col("h") =!= col("h2")).count()
    assert(diff === 0, "text changed through the JSONL roundtrip")
  }

  test("q_vocab_growth: tokens and vocabulary are non-decreasing in cp") {
    val rows = Catalog.byName("q_vocab_growth")
      .fn(spark, "/root/testdata/sf0.001")
      .select("cp", "total_tokens", "vocab")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 7)
    rows.sliding(2).foreach { case Array((_, ta, va), (cp, tb, vb)) =>
      assert(tb >= ta && vb >= va, s"growth curve decreased at cp=$cp")
    }
    assert(rows.last._3 > rows.head._3 || rows.head._3 > 0,
      "vocabulary never grew across checkpoints")
  }

  test("q_dataset_card: per-source invariants") {
    val rows = Catalog.byName("q_dataset_card")
      .fn(spark, "/root/testdata/sf0.001")
      .select("source", "n_docs", "n_dup_docs", "min_chars", "max_chars")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, dup, lo, hi) =>
      assert(n > 0 && dup >= 0 && dup <= n, s"$src dup bounds")
      assert(lo <= hi, s"$src length bounds inverted")
    }
  }

  test("q_merge_apply: deletes absent, upserts win") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val merged = Catalog.byName("q_merge_apply").fn(spark, dir)
    assert(merged.filter(col("doc_id") % 19 === 0).count() === 0,
      "a deleted id survived the merge")
    val docs = graft.sources.Tables.documents(spark, dir)
    val upserted = docs.filter(col("doc_id") % 13 === 0 &&
        col("doc_id") % 19 =!= 0 && col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), md5(concat(col("text"), lit(" v2"))).as("expect"))
    val wrong = merged.join(upserted, "doc_id")
      .filter(col("digest") =!= col("expect")).count()
    assert(wrong === 0, "an upsert did not win over the base row")
  }

  /** (user_id, ts_µs, event_id, event_type) collected once for the
    * round-11 event-rule replays. */
  private def eventsUs(dir: String): Array[(Long, Long, Long, String)] = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)].collect()
  }

  test("q_interval_merge: per-user islands equal a plain-Scala sweep") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_interval_merge").fn(spark, dir)
      .select("user_id", "n_islands", "covered_us", "longest_us")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val gap = 1800L * 1000000L
    val expected = eventsUs(dir).groupBy(_._1).view.mapValues { evs =>
      val iv = evs.map(e => (e._2, e._2 + gap)).sortBy(identity)
      val islands = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      iv.foreach { case (s0, e0) =>
        if (islands.nonEmpty && s0 <= islands.last._2)
          islands(islands.length - 1) =
            (islands.last._1, math.max(islands.last._2, e0))
        else islands += ((s0, e0))
      }
      (islands.length.toLong,
        islands.map(i => i._2 - i._1).sum,
        islands.map(i => i._2 - i._1).max)
    }.toMap
    assert(out == expected, "island sweep diverged")
    assert(out.values.exists(_._1 > 1), "no user ever had a gap — rule untested")
  }

  test("q_anomaly_zscore: flags equal the exact-integer 2σ rule replayed") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_anomaly_zscore").fn(spark, dir)
      .select("event_type", "hour", "cnt", "side")
      .as[(String, String, Long, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val hourUs = 3600L * 1000000L
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val hourly = eventsUs(dir)
      .groupBy(e => (e._4, e._2 / hourUs * hourUs))
      .view.mapValues(_.length.toLong).toMap
    val expected = hourly.groupBy(_._1._1).flatMap { case (_, hs) =>
      val n = hs.size.toLong
      val s0 = hs.values.sum
      val ss = hs.values.map(c => c * c).sum
      hs.filter { case (_, cnt) =>
        val dev = n * cnt - s0
        dev * dev > 4L * (n * ss - s0 * s0)
      }.map { case ((et, us), cnt) =>
        (et, fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L))) ->
          (cnt, if (n * cnt - s0 > 0) "high" else "low")
      }
    }
    assert(out == expected, "anomaly flag set diverged")
    // the fixtures' hourly counts are high-tail skewed: no hour falls 2σ
    // BELOW its mean at any SF, so only the high side can fire — the
    // side computation itself is still proven by the replay equality
    assert(out.values.exists(_._2 == "high"), "no anomaly fired at smoke scale")
  }

  test("q_transition_matrix: counts equal a plain-Scala pairing; ppm " +
      "rows under-sum one million by at most |row|") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_transition_matrix").fn(spark, dir)
      .select("from_type", "to_type", "n_trans", "prob_ppm")
      .as[(String, String, Long, Long)].collect()
    val expected = eventsUs(dir).groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      evs.sortBy(e => (e._2, e._3)).map(_._4).sliding(2).toSeq
        .collect { case arr if arr.length == 2 => (arr(0), arr(1)) }
    }.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    assert(out.map(r => (r._1, r._2) -> r._3).toMap == expected,
      "transition counts diverged")
    out.groupBy(_._1).foreach { case (ft, rows) =>
      val ppm = rows.map(_._4).sum
      assert(ppm <= 1000000L && ppm >= 1000000L - rows.length,
        s"$ft row ppm sums to $ppm")
    }
  }

  test("q_skyline: grid-pruned frontier equals naive dominance") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_skyline").fn(spark, dir)
      .select("p_partkey", "cents", "p_size")
      .as[(Long, Long, Int)].collect().toSet
    val pts = {
      import org.apache.spark.sql.functions.{col, round}
      graft.sources.Tables.part(spark, dir)
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long"), col("p_size"))
        .as[(Long, Long, Int)].collect()
    }
    val expected = pts.filter { case (_, c, z) =>
      !pts.exists { case (_, c2, z2) =>
        c2 <= c && z2 <= z && (c2 < c || z2 < z)
      }
    }.toSet
    assert(out == expected, "skyline diverged from naive dominance")
    assert(out.nonEmpty && out.size < pts.length)
  }

  test("q_scd2_build: versions contiguous, exactly one current row per key") {
    val out = Catalog.byName("q_scd2_build").fn(spark, "/root/testdata/sf0.001")
      .select("o_custkey", "version", "valid_from", "valid_to", "is_current")
      .as[(Long, Int, String, String, Boolean)].collect()
    out.groupBy(_._1).foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to vs.length), s"key $k version gap")
      assert(vs.count(_._5) == 1, s"key $k current-row count")
      assert(sorted.last._5, s"key $k: current row is not the last version")
      assert(sorted.last._4 == "9999-12-31 00:00:00")
      // each version's valid_to is the next version's valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"key $k interval gap")
        case _ =>
      }
    }
  }

  test("q_pit_join: buckets partition the fact table; NULL bucket is " +
      "exactly the pre-history items; version drift is live") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_pit_join").fn(spark, dir)
      .select("prio_at_order", "prio_at_ship", "n_items")
      .as[(String, Option[String], Long)].collect()
    val li = graft.sources.Tables.lineitem(spark, dir)
    assert(out.map(_._3).sum == li.count(), "PIT buckets dropped fact rows")
    // NULL prio_at_ship == items shipped before the customer's first
    // version existed
    val orders = graft.sources.Tables.orders(spark, dir)
    val firstV = orders.groupBy("o_custkey")
      .agg(min("o_orderdate").as("f"))
    val preHistory = li.join(orders,
        li("l_orderkey") === orders("o_orderkey"))
      .join(firstV, "o_custkey")
      .filter(col("l_shipdate") < col("f")).count()
    assert(out.filter(_._2.isEmpty).map(_._3).sum == preHistory,
      "NULL bucket is not exactly the pre-history items")
    // the operator must actually observe drift (ship-time version !=
    // order-time version), else the PIT join is indistinguishable
    // from a plain dimension join
    assert(out.exists(r => r._2.exists(_ != r._1) && r._3 > 0),
      "no version drift observed — fixture degenerate")
  }

  test("q_lang_confusion: matrix equals a regroup of q_lang_id's rows; " +
      "ppm rows under-sum one million by at most |row|") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_lang_confusion").fn(spark, dir)
      .select("lang", "pred_lang", "n_docs", "share_ppm")
      .as[(String, String, Long, Long)].collect()
    val perDoc = Catalog.byName("q_lang_id").fn(spark, dir)
      .select("lang", "pred_lang").as[(String, String)].collect()
    val expected = perDoc.groupBy(x => x).view.mapValues(_.length.toLong).toMap
    assert(out.map(r => (r._1, r._2) -> r._3).toMap == expected,
      "confusion matrix diverged from the per-doc classifier rows")
    assert(out.map(_._3).sum == perDoc.length, "matrix dropped documents")
    out.groupBy(_._1).foreach { case (l, rows) =>
      val ppm = rows.map(_._4).sum
      assert(ppm <= 1000000L && ppm >= 1000000L - rows.length,
        s"$l ppm row sums to $ppm")
    }
  }

  test("q_grouping_sets: margins are consistent with the detail cells") {
    val out = Catalog.byName("q_grouping_sets")
      .fn(spark, "/root/testdata/sf0.001")
      .select("o_orderpriority", "o_orderstatus", "gid", "n_orders")
      .as[(Option[String], Option[String], Int, Long)].collect()
    val detail = out.filter(_._3 == 0)
    val grand = out.filter(_._3 == 3)
    assert(grand.length == 1 && grand.head._4 == detail.map(_._4).sum)
    out.filter(_._3 == 1).foreach { case (p, _, _, n) =>
      assert(n == detail.filter(_._1 == p).map(_._4).sum, s"priority margin $p")
    }
    out.filter(_._3 == 2).foreach { case (_, st, _, n) =>
      assert(n == detail.filter(_._2 == st).map(_._4).sum, s"status margin $st")
    }
  }

  test("q_attribution: last-touch credit equals a plain-Scala replay") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_attribution").fn(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
        round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long, String, String, Long)].collect()
    val window = 86400000000L
    val expected = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    ev.groupBy(_._1).foreach { case (_, rows) =>
      var lastClick = Option.empty[Long]
      rows.sortBy(r => (r._2, r._3)).foreach { r =>
        if (r._4 == "click") lastClick = Some(r._2)
        else {
          val attr = lastClick.exists(c => r._2 - c <= window)
          val (a, o, c) = expected(r._5)
          expected(r._5) =
            if (attr) (a + 1, o, c + r._6) else (a, o + 1, c)
        }
      }
    }
    assert(out == expected.toMap, "per-day attribution mismatch")
  }

  test("q_event_paths: trigram top-10 equals a plain-Scala replay") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_event_paths").fn(spark, dir)
      .as[(String, String, String, Long)].collect()
    val tri = eventsUs(dir).groupBy(_._1).values.flatMap { evs =>
      evs.sortBy(e => (e._2, e._3)).map(_._4).sliding(3).filter(_.length == 3)
        .map(w => (w(0), w(1), w(2))).toSeq
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expectedTop = tri.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(10)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    assert(out.toSeq == expectedTop, "trigram ranking mismatch")
  }

  test("q_rolling_distinct: trailing-7d uniques equal a per-day set scan") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_rolling_distinct").fn(spark, dir)
      .as[(String, Long)].collect().toMap
    val du = graft.sources.Tables.events(spark, dir)
      .select(to_date(col("ts")).cast("string"), col("user_id"))
      .as[(String, Long)].collect().distinct
    val days = du.map(_._1).distinct
    val expected = days.map { asof =>
      val d = java.time.LocalDate.parse(asof)
      asof -> du.collect {
        case (day, u) if {
          val dd = java.time.LocalDate.parse(day)
          !dd.isAfter(d) && !dd.isBefore(d.minusDays(6))
        } => u
      }.distinct.length.toLong
    }.toMap
    assert(out == expected, "trailing-7d distinct mismatch")
    // the window genuinely accumulates: some day must exceed its
    // same-day unique count (otherwise the fixture can't catch a
    // broken trailing rule)
    val sameDay = du.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
    assert(days.exists(d => out(d) > sameDay(d)),
      "fixture degenerate: trailing window never exceeds same-day uniques")
  }

  test("q_rfm_segments: tie-stable quintiles equal a plain-Scala replay") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_rfm_segments").fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    val p = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).cast("string"),
        round(col("value") * 100).cast("long"))
      .as[(Long, String, Long)].collect()
    val asof = java.time.LocalDate.parse(p.map(_._2).max)
    val users = p.groupBy(_._1).map { case (_, rows) =>
      val r = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(rows.map(_._2).max), asof)
      // monetary ranks on whole dollars (value-range-bounded histogram)
      (r, rows.length.toLong, rows.map(_._3).sum / 100)
    }.toSeq
    val n = users.length
    def buckets(vs: Seq[Long]): Map[Long, Long] = {
      val less = vs.groupBy(identity).view
        .mapValues(_ => 0L).toMap.map { case (v, _) =>
          v -> vs.count(_ < v).toLong }
      less.map { case (v, l) => v -> (l * 5 / n + 1) }
    }
    val (rb, fb, mb) =
      (buckets(users.map(_._1)), buckets(users.map(_._2)),
        buckets(users.map(_._3)))
    val expected = users.groupBy(u => (rb(u._1), fb(u._2), mb(u._3)))
      .view.mapValues(_.length.toLong).toMap
    assert(out == expected, "RFM segment histogram mismatch")
    // tie-stability is the point: at least one metric must actually
    // have tied values across users, or the test proves nothing
    assert(users.map(_._2).distinct.length < n,
      "fixture degenerate: no frequency ties to exercise bucket stability")
  }

  test("q_mad_anomaly: flags equal the exact-integer 3-MAD rule replayed") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_mad_anomaly").fn(spark, dir)
      .as[(String, String, Long, String)].collect().toSet
    val hourly = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("h"))
      .agg(count(lit(1)).as("cnt"))
      .as[(String, String, Long)].collect()
    def med2(vs: Seq[Long]): Long = {
      val s = vs.sorted
      val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    val expected = hourly.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
      val m2 = med2(rows.map(_._3).toSeq)
      val devs = rows.map(r => math.abs(2 * r._3 - m2))
      val mad2 = med2(devs.toSeq)
      rows.zip(devs).collect {
        case ((_, h, cnt), dev) if dev * 2 > mad2 * 3 =>
          (et, h, cnt, if (cnt * 2 > m2) "high" else "low")
      }
    }.toSet
    assert(out == expected, "MAD flag set diverged from the replay")
    assert(out.exists(_._4 == "high"), "no high anomaly at smoke scale")
    // the fixture's Poisson-ish counts never dip 3 MADs BELOW the
    // median, so the low branch gets engine coverage from a synthetic
    // series driven through the SAME madFlags core as the gate row
    val synth = Seq.tabulate(24)(i =>
        ("synth", f"2024-01-01 $i%02d:00:00", if (i == 5) 3L else 100L))
      .toDF("event_type", "hour_start", "cnt")
    val flags = graft.operators.EventQueries.madFlags(synth)
      .as[(String, String, Long, String)].collect()
    assert(flags.toSeq == Seq(("synth", "2024-01-01 05:00:00", 3L, "low")),
      s"synthetic low outlier misflagged: ${flags.toSeq}")
  }

  test("q_ab_significance: integer z-square verdict equals the float " +
      "z-test replayed") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_ab_significance").fn(spark, dir)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (cohort, na, ca, nb, cb, sig) =>
      // the float form the integer cross-multiplication encodes
      val (p1, p2) = (ca.toDouble / na, cb.toDouble / nb)
      val p = (ca + cb).toDouble / (na + nb)
      val z2 = math.pow(p1 - p2, 2) / (p * (1 - p) * (1.0 / na + 1.0 / nb))
      val expected = if (p == 0.0 || p == 1.0) false else z2 > 3.8416
      assert(sig == expected,
        s"cohort $cohort: integer verdict $sig vs float z²=$z2")
      // arm sizes must be a real split, not 100/0
      assert(na > 0 && nb > 0)
    }
  }

  test("q_entropy: sorted-fold entropy equals an order-free replay " +
      "within 1e-9 before rounding") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_entropy").fn(spark, dir)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")))
      .as[(Long, String)].collect()
    docs.foreach { case (id, t) =>
      val ws = "\\S+".r.findAllIn(t).toSeq
      val n = ws.length
      val hist = ws.groupBy(identity).view.mapValues(_.size).toMap
      val h = math.log(n.toDouble) -
        hist.values.map(c => c * math.log(c.toDouble)).sum / n
      val (nTok, got) = out(id)
      assert(nTok == n)
      assert(math.abs(got - BigDecimal(h).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-4 + 1e-12,
        s"doc $id entropy $got vs replay $h")
    }
    // diversity signal is live: entropies differ across docs
    assert(out.values.map(_._2).toSet.size > 10,
      "fixture degenerate: entropy constant across docs")
  }

  test("q_kmv_intersect: estimate honors the KMV contract vs the exact " +
      "overlap") {
    val dir = "/root/testdata/sf0.001"
    val Array((exact, kInt, est)) =
      Catalog.byName("q_kmv_intersect").fn(spark, dir)
        .as[(Long, Long, Double)].collect()
    assert(kInt >= 0 && kInt <= 16)
    // k=16 gives ~1/sqrt(k)=25% relative error at one sigma; a 3-sigma
    // contract bound still catches a broken estimator (off by 2x+)
    assert(math.abs(est - exact) <= 0.75 * exact + 2.0,
      s"KMV estimate $est too far from exact $exact")
  }

  test("q_first_touch: touch-day credit equals a plain-Scala replay and " +
      "differs from a last-touch credited rollup") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_first_touch").fn(spark, dir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"),
        round(col("value") * 100).cast("long"))
      .as[(Long, Long, String, Long)].collect()
    val look = 86400000000L
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd").withZone(java.time.ZoneOffset.UTC)
    def dayOf(us: Long) =
      fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L))
    def credited(pick: Seq[Long] => Long): Map[String, (Long, Long)] = {
      val m = scala.collection.mutable.Map
        .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
      ev.groupBy(_._1).foreach { case (_, rows) =>
        val clicks = rows.filter(_._3 == "click").map(_._2).sorted
        rows.filter(_._3 == "purchase").foreach { p =>
          val inWin = clicks.filter(c => c >= p._2 - look && c <= p._2)
          if (inWin.nonEmpty) {
            val day = dayOf(pick(inWin))
            val (n, c) = m(day)
            m(day) = (n + 1, c + p._4)
          }
        }
      }
      m.toMap
    }
    val first = credited(_.min)
    assert(out == first, "first-touch credited rollup mismatch")
    assert(out.nonEmpty && first != credited(_.max),
      "fixture degenerate: first- and last-touch credit identically")
  }

  test("q_stickiness: ratio consistent with q_rolling_distinct and a " +
      "DAU replay; day-1 ratio is 100%") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_stickiness").fn(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val wau = Catalog.byName("q_rolling_distinct").fn(spark, dir)
      .as[(String, Long)].collect().toMap
    val du = graft.sources.Tables.events(spark, dir)
      .select(to_date(col("ts")).cast("string"), col("user_id"))
      .as[(String, Long)].collect().distinct
    val dau = du.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong)
    out.foreach { case (day, (d0, w7, ppm)) =>
      assert(d0 == dau(day) && w7 == wau(day), s"components drifted at $day")
      assert(ppm == d0 * 1000000L / w7, s"ppm arithmetic at $day")
      assert(ppm <= 1000000L, s"DAU exceeded trailing actives at $day")
    }
    val firstDay = out.keys.min
    assert(out(firstDay)._3 == 1000000L,
      "day 1 has no trailing history: stickiness must be exactly 100%")
    assert(out.values.exists(_._3 < 1000000L),
      "fixture degenerate: stickiness never drops below 100%")
  }

  test("q_seasonality: shares regroup q_hourly-style counts; per-type " +
      "ppm under-sums one million by at most 23") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_seasonality").fn(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    val byType = out.groupBy(_._1)
    byType.foreach { case (t, rows) =>
      val total = rows.map(_._3).sum
      rows.foreach { r =>
        assert(r._4 == r._3 * 1000000L / total, s"share at ($t, ${r._2})")
      }
      val sumPpm = rows.map(_._4).sum
      assert(sumPpm <= 1000000L && sumPpm >= 1000000L - 23,
        s"$t: floor-division ppm must under-sum by < #buckets, got $sumPpm")
    }
    assert(out.map(_._2).forall(h => h >= 0 && h <= 23))
  }

  test("q_cusum_drift: the window identity equals the clamped fold, and " +
      "a synthetic shift trips the flag") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_cusum_drift").fn(spark, dir)
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out.nonEmpty)
    val hourly = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Long, Long)].collect()
    val weekUs = 604800000000L
    val expected = hourly.groupBy(_._1).map { case (et, rows) =>
      val h0 = rows.map(_._2).min
      val (bl, test) = rows.sortBy(_._2).partition(_._2 < h0 + weekUs)
      val (n0, s0) = (bl.length.toLong, bl.map(_._3).sum)
      // the clamped fold the operator's window identity must equal
      var s = 0L; var mx = 0L
      test.foreach { r =>
        s = math.max(0L, s + (2 * n0 * r._3 - 3 * s0))
        mx = math.max(mx, s)
      }
      et -> (test.length.toLong, mx, mx > 8 * s0)
    }
    assert(out == expected.toMap,
      "window-identity CUSUM diverged from the clamped fold")
    assert(out.values.forall(!_._3), "stationary fixture should not drift")
    // synthetic: baseline ~100/hour, then a sustained +60% shift —
    // must flag through the SAME engine core
    val synth = (0 until 400).map(i =>
        ("synth", i * 3600000000L, if (i < 168) 100L else 160L))
      .toDF("event_type", "hour_us", "cnt")
    val Array((_, _, _, drifted)) =
      graft.operators.EventQueries.cusumStats(synth)
        .as[(String, Long, Long, Boolean)].collect()
    assert(drifted, "sustained +60% shift must trip the CUSUM flag")
  }

  test("q_time_to_convert: cohort medians equal a plain-Scala replay") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_time_to_convert").fn(spark, dir)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .as[(Long, String, Long)].collect()
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd").withZone(java.time.ZoneOffset.UTC)
    def med2(vs: Seq[Long]): Long = {
      val s = vs.sorted; val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    val expected = ev.groupBy(_._1).values.flatMap { rows =>
      val v0 = rows.collect { case (_, "view", us) => us }.minOption
      val p0 = rows.collect { case (_, "purchase", us) => us }.minOption
      (v0, p0) match {
        case (Some(v), Some(p)) if p > v =>
          Some((fmt.format(java.time.Instant.ofEpochSecond(v / 1000000L)),
            (p - v) / 60000000L))
        case _ => None
      }
    }.toSeq.groupBy(_._1).map { case (c, vs) =>
      c -> (vs.length.toLong, med2(vs.map(_._2)))
    }
    assert(out == expected, "time-to-convert medians diverged")
    assert(out.values.map(_._1).sum >= 5,
      "too few conversions to exercise the median")
  }

  test("q_bounce_rate: per-day ppm equals a session-sweep replay") {
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_bounce_rate").fn(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val ev = eventsUs(dir) // (user_id, tsUs, event_id, event_type)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd").withZone(java.time.ZoneOffset.UTC)
    val sessions = ev.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val sizes = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      var startUs = -1L; var lastUs = -1L; var n = 0
      sorted.foreach { r =>
        if (startUs < 0 || r._2 - lastUs > 1800000000L) {
          if (n > 0) sizes += ((startUs, n))
          startUs = r._2; n = 0
        }
        lastUs = r._2; n += 1
      }
      if (n > 0) sizes += ((startUs, n))
      sizes
    }.toSeq
    val expected = sessions
      .groupBy(s => fmt.format(java.time.Instant.ofEpochSecond(s._1 / 1000000L)))
      .map { case (day, ss) =>
        val b = ss.count(_._2 == 1).toLong
        day -> (ss.length.toLong, b, b * 1000000L / ss.length)
      }
    assert(out == expected.toMap, "bounce rollup diverged from the sweep")
    assert(out.values.exists(v => v._2 > 0 && v._2 < v._1),
      "fixture degenerate: bounce share is 0% or 100% everywhere")
  }

  test("q_bernoulli_sample: rows equal the hash replay; rate near p") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_bernoulli_sample").fn(spark, dir)
      .as[(Long, String, Long)].collect().map(_._1).toSet
    val ids = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long].collect()
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"smp|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      (java.lang.Long.parseLong(hex, 16) + 1L).toDouble / 281474976710656.0
    }
    val expected = ids.filter(u(_) < 0.1).toSet
    assert(out == expected, "sampled id set diverged from the hash replay")
    // rate within 4 sigma of p=0.1 (binomial sd ≈ sqrt(p(1-p)/n))
    val rate = out.size.toDouble / ids.length
    assert(math.abs(rate - 0.1) < 4 * math.sqrt(0.09 / ids.length),
      s"sample rate $rate suspiciously far from 0.1")
  }

  test("q_lag_features: lags equal a per-type sorted replay, NULLs only " +
      "at series heads") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_lag_features").fn(spark, dir)
      .as[(String, String, Long, Option[Long], Option[Long], Option[Long])]
      .collect()
    val byType = out.groupBy(_._1)
    byType.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.zipWithIndex.foreach { case (r, i) =>
        val lag1 = if (i >= 1) Some(sorted(i - 1)._3) else None
        val lag24 = if (i >= 24) Some(sorted(i - 24)._3) else None
        assert(r._4 == lag1 && r._5 == lag24,
          s"lag mismatch at ${r._1}/${r._2}")
        assert(r._6 == lag1.map(v => r._3 - v), "delta mismatch")
      }
    }
    assert(out.exists(_._5.isDefined), "no lag24 rows at smoke scale")
  }

  test("q_decile_lift: gains table equals a plain-Scala strict-rank replay") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_decile_lift").fn(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val us = graft.sources.Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("s"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .as[(Long, Long, Long)].collect()
    val n = us.length
    val scores = us.map(_._2)
    val decile = scores.map(v => scores.count(_ < v).toLong * 10 / n + 1)
    val byDecile = us.zip(decile).groupBy(_._2).map { case (dk, rows) =>
      dk -> (rows.length.toLong, rows.map(_._1._3).sum)
    }
    val totalConv = byDecile.values.map(_._2).sum
    var cum = 0L
    val expected = byDecile.toSeq.sortBy(-_._1).map { case (dk, (nu, nc)) =>
      cum += nc
      dk -> (nu, nc, nc * 1000000L / nu, cum * 1000000L / totalConv)
    }.toMap
    assert(out == expected, "lift table diverged from the replay")
    // the gains curve must be monotone non-decreasing top-down and end
    // at exactly 100%
    val topDown = out.toSeq.sortBy(-_._1).map(_._2._4)
    assert(topDown == topDown.sorted && topDown.last == 1000000L,
      s"gains curve malformed: $topDown")
  }

  test("q_survivor_pick: per-cluster keeper equals an argmax replay over " +
      "the shared components") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_survivor_pick").fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val comps = Catalog.byName("q_dedup_clusters").fn(spark, dir)
      .as[(Long, Long)].collect()
    val chars = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect().toMap
    val expected = comps.groupBy(_._2).map { case (comp, vs) =>
      val members = vs.map(_._1)
      val keep = members.maxBy(id => (chars(id), -id))
      comp -> (members.length.toLong, keep, chars(keep))
    }
    assert(out == expected, "survivor choice diverged from the replay")
    // survivorship must be live: some cluster's keeper is NOT its
    // smallest id (the admission loop's min-id rule differs here)
    assert(expected.exists { case (comp, (_, keep, _)) =>
      keep != comps.filter(_._2 == comp).map(_._1).min },
      "fixture degenerate: longest-doc rule never disagrees with min-id")
  }

  test("q_oov_rate: ppm rates equal a replay and vocab truncation bites") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Catalog.byName("q_oov_rate").fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")))
      .as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> "\\S+".r.findAllIn(t).toSeq }
    val vocab = toks.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(16).map(_._1).toSet
    val expected = toks.map { case (id, ws) =>
      val oov = ws.count(w => !vocab.contains(w)).toLong
      id -> (ws.length.toLong, oov, oov * 1000000L / ws.length)
    }.toMap
    assert(out == expected, "OOV replay mismatch")
    assert(expected.values.exists(_._2 > 0),
      "fixture degenerate: vocab covers everything, OOV never fires")
  }
}
