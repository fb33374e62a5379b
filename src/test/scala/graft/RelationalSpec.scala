package graft

import graft.operators.Relational

class RelationalSpec extends SparkSpec {

  test("all A-family queries return rows at sf0.001") {
    Relational.all.foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("q01 groups are the 3 flag/status combos with positive counts") {
    val rows = Relational.q01.fn(spark, sf).collect()
    assert(rows.length >= 3)
    val flags = rows.map(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"))).toSet
    assert(flags.subsetOf(
      Set("A", "N", "R").flatMap(f => Set("F", "O").map(s => (f, s)))))
    rows.foreach(r => assert(r.getAs[Long]("count_order") > 0))
  }

  test("q02 pushes filter and projection into the parquet scan") {
    val plan = physicalPlan(Relational.q02.fn(spark, sf))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("l_shipdate") && plan.contains("l_quantity"))
    // narrow ReadSchema: only the 5 referenced columns, not all 11
    assert(!plan.contains("l_returnflag"), "ReadSchema not pruned")
  }

  test("q03 broadcasts the dimension tables") {
    val plan = physicalPlan(Relational.q03.fn(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
  }

  test("q12 probes the DISTINCT key set, never a row-wide semi join: " +
      "the plan aggregates l_partkey BEFORE any join (map-side partial " +
      "collapse — the r12 rewrite's load-bearing shape)") {
    val plan = physicalPlan(Relational.q12.fn(spark, sf))
    // the probe side must be an aggregate (distinct) over l_partkey;
    // a HashAggregate appearing below the join is the partial-collapse
    // signature — a plain left-semi SMJ over raw lineitem rows has none
    assert(plan.contains("HashAggregate"), s"no distinct aggregate in:\n$plan")
    val joinAt = plan.indexOf("Join")
    val aggAt = plan.lastIndexOf("HashAggregate")
    assert(joinAt >= 0 && aggAt > joinAt,
      s"distinct must sit BELOW the semi join (probe-side collapse):\n$plan")
    // lineitem scan reads ONLY the join key
    assert(!plan.contains("l_quantity"), s"lineitem scan not pruned:\n$plan")
  }

  test("q05 semi+anti counts partition the customer table") {
    val rows = Relational.q05.fn(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    val nCust = Tables(spark, sf).customer.count()
    assert(total == nCust)
  }

  test("q07 returns exactly k rows per group") {
    val rows = Relational.q07.fn(spark, sf).collect()
    val perGroup = rows.groupBy(_.getAs[String]("o_orderpriority")).view.mapValues(_.length)
    perGroup.foreach { case (g, n) => assert(n == 3, s"group $g has $n rows") }
  }

  test("q10 exact and approx distinct agree within 5%, gate column true") {
    val exact = Relational.q10.fn(spark, sf).collect()(0)
    val rows = Relational.q10b.fn(spark, sf).collect()
    assert(rows.length == 3, rows.mkString(";"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_5pct"), r.toString)
      val e = r.getAs[Long]("n_exact").toDouble
      val a = r.getAs[Long]("approx").toDouble
      assert(math.abs(e - a) / e < 0.05, s"exact=$e approx=$a")
    }
    // the fixture path's exact side must be the q10 twin's numbers
    val byMetric = rows.map(r =>
      r.getAs[String]("metric") -> r.getAs[Long]("n_exact")).toMap
    assert(byMetric("parts") == exact.getAs[Long]("n_parts"))
    assert(byMetric("supps") == exact.getAs[Long]("n_supps"))
    assert(byMetric("orders") == exact.getAs[Long]("n_orders"))
  }

  test("q21 hash sampling is deterministic and near the nominal rates") {
    val run1 = Relational.q21.fn(spark, sf).collect()
    val run2 = Relational.q21.fn(spark, sf).collect()
    assert(run1.sameElements(run2)) // same rows every run — no RNG
    val nominal = Map("O" -> 64.0 / 256, "F" -> 32.0 / 256, "P" -> 128.0 / 256)
    run1.foreach { r =>
      val status = r.getAs[String]("o_orderstatus")
      val rate = r.getAs[Double]("rate")
      assert(math.abs(rate - nominal(status)) < 0.08,
        s"$status: rate=$rate nominal=${nominal(status)}")
    }
  }

  test("oracle coverage: every Relational query has an oracle (r8: none rows-only)") {
    Relational.all.foreach { q =>
      assert(q.oracle.isDefined, s"${q.name} missing oracle")
    }
  }

  test("q20 sketch estimates stay within 5% of exact, merged total included") {
    val rows = Relational.q20.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_5pct"), r.toString)
      val est = r.getAs[Long]("est").toDouble
      val exact = r.getAs[Long]("n_exact").toDouble
      assert(math.abs(est - exact) / exact < 0.05,
        s"mon=${r.get(0)}: est=$est exact=$exact")
    }
  }

  test("q23 range join avoids the nested-loop plan and matches the theta-join") {
    import org.apache.spark.sql.functions._
    val out = Relational.q23.fn(spark, sf)
    val plan = physicalPlan(out)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bucket quantization should yield an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"window buckets should broadcast:\n$plan")
    // ground truth: the naive theta-join (fine at test scale)
    val win = out.sparkSession.createDataFrame(Seq(
      (0, "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (10, "2024-01-01 00:00:00", "2024-01-06 00:00:00")))
      .toDF("wid", "ws_s", "we_s")
      .select(col("wid"), to_timestamp(col("ws_s")).as("ws"),
        to_timestamp(col("we_s")).as("we"))
    val naive = Tables(spark, sf).events.join(win,
        col("ts") >= col("ws") && col("ts") < col("we"))
      .groupBy(col("wid")).agg(count(lit(1)).as("n_events"))
      .collect().map(r => r.getAs[Int]("wid") -> r.getAs[Long]("n_events")).toMap
    val got = out.collect().map(r => r.getAs[Int]("wid") -> r.getAs[Long]("n_events")).toMap
    naive.foreach { case (w, n) => assert(got(w) == n, s"wid=$w: ${got(w)} != $n") }
    // wide window 10 strictly contains narrow window 0 — overlap is real
    assert(got(10) > got(0))
  }

  test("q24 cube: full lattice present, grand total matches the table") {
    val rows = Relational.q24.fn(spark, sf).collect()
    val rf = rows.filter(_.getAs[Int]("gid") == 0).map(_.getAs[String]("rf")).distinct
    val ls = rows.filter(_.getAs[Int]("gid") == 0).map(_.getAs[String]("ls")).distinct
    assert(rows.length == rf.length * ls.length + rf.length + ls.length + 1)
    val grand = rows.filter(_.getAs[Int]("gid") == 3)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") == Tables(spark, sf).lineitem.count())
  }

  test("q25 time-range frame matches a brute-force recount") {
    import org.apache.spark.sql.functions._
    val rows = Relational.q25.fn(spark, sf).collect()
    val byId = Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => r.getAs[Long]("event_id") -> (r.getAs[Long]("user_id"), r.getAs[Long]("us")))
      .toMap
    val perUser = byId.values.groupBy(_._1).view.mapValues(_.map(_._2).toArray).toMap
    rows.foreach { r =>
      val (u, t) = byId(r.getAs[Long]("event_id"))
      val expected = perUser(u).count(x => x >= t - 604800000000L && x <= t)
      assert(r.getAs[Long]("n_7d") == expected,
        s"event ${r.get(0)}: frame count ${r.getAs[Long]("n_7d")} != $expected")
    }
  }

  test("j03 overlap join matches the naive interval theta-join exactly") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Temporal.j03.fn(spark, sf)
    assert(!physicalPlan(out).contains("NestedLoopJoin"),
      "bucketized interval join must not plan a nested loop")
    val got = out.collect()
      .map(r => r.getAs[Int]("wid") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("total_overlap_us"))).toMap
    // ground truth: unbucketized theta-join over the same 14 windows
    val win = spark.createDataFrame(
      (0 until 10).map(k => (k, f"2024-01-${1 + 3 * k}%02d 00:00:00",
        f"2024-01-${3 + 3 * k}%02d 00:00:00")) ++
      (0 until 4).map(k => (10 + k, f"2024-01-${1 + 7 * k}%02d 00:00:00",
        f"2024-01-${6 + 7 * k}%02d 00:00:00")))
      .toDF("wid", "ws_s", "we_s")
      .select(col("wid"), unix_micros(to_timestamp(col("ws_s"))).as("wsm"),
        unix_micros(to_timestamp(col("we_s"))).as("wem"))
    val ev = Tables(spark, sf).events.select(unix_micros(col("ts")).as("sm"),
      (unix_micros(col("ts")) + floor(col("value") * 60000000d)).as("em"))
    val naive = ev.join(win, col("sm") < col("wem") && col("em") > col("wsm"))
      .groupBy(col("wid"))
      .agg(count(lit(1)).as("n"),
        sum(least(col("em"), col("wem")) - greatest(col("sm"), col("wsm"))).as("ov"))
      .collect()
      .map(r => r.getAs[Int]("wid") -> (r.getAs[Long]("n"), r.getAs[Long]("ov"))).toMap
    assert(got == naive)
  }

  test("j04 nearest join equals the naive bounded theta-join") {
    import org.apache.spark.sql.functions._
    val tol = 600000000L
    val got = graft.operators.Temporal.j04.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("delta_us"))) None
         else Some(r.getAs[Long]("delta_us")))).toMap
    val ev = Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tsu").as("pt"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tsu").as("ct"))
    // the O(n·m) formulation the operator must never plan — but at
    // sf0.001 it is the perfect ground truth
    val naive = purchases.join(clicks, Seq("user_id"), "left")
      .withColumn("d", abs(col("pt") - col("ct")))
      .filter(col("ct").isNull || col("d") <= tol)
      .groupBy(col("event_id")).agg(min(col("d")).as("best"))
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(1)) None else Some(r.getAs[Long]("best")))).toMap
    // naive's left join loses purchases whose clicks are all out of
    // tolerance — those must appear in `got` as None
    assert(got.size >= naive.size)
    got.foreach { case (id, delta) =>
      assert(delta == naive.getOrElse(id, None),
        s"purchase $id: got $delta, naive ${naive.get(id)}")
    }
    assert(got.values.exists(_.isDefined), "no purchase found any nearby click")
  }

  test("j01/j04 equal-ts right rows resolve by event_id, deterministically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_j0114").toString
    val sec = 1000000000L // ns
    // two clicks at the SAME instant (values 10 vs 20): the asof
    // tiebreak must pin the carried value to the LARGEST click
    // event_id (backward "latest wins" — j05's discipline, adopted by
    // the whole family), on every run and partitioning. e3 is a
    // purchase AT the tied instant (clicks sort before purchases at
    // equal ts → inclusive); e5 sits exactly midway between the tied
    // pair and a later click, so j04's dp<=dn prefers the previous.
    val events = Seq(
      (1L, 1000 * sec, 1L, "click", 10.0, "{}"),
      (2L, 1000 * sec, 1L, "click", 20.0, "{}"),
      (3L, 1000 * sec, 1L, "purchase", 99.0, "{}"),
      (5L, 1400 * sec, 1L, "purchase", 99.0, "{}"),
      (6L, 1800 * sec, 1L, "click", 30.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val j01 = graft.operators.Temporal.j01.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        r.getAs[Double]("last_click_value")).toMap
    assert(j01 == Map(3L -> 20.0, 5L -> 20.0), j01.toString)
    val j04 = graft.operators.Temporal.j04.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Double]("nearest_click_value"), r.getAs[Long]("delta_us"))).toMap
    // e3: tied instant → value 20 at delta 0; e5: dp == dn == 400 s,
    // prev wins the tie → 20, not the future 30
    assert(j04 == Map(3L -> (20.0, 0L), 5L -> (20.0, 400000000L)), j04.toString)
  }

  test("j05 forward as-of equals the naive next-within-tolerance lookup") {
    import org.apache.spark.sql.functions._
    val tol = 86400000000L
    val got = graft.operators.Temporal.j05.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("wait_us"))) None
         else Some(r.getAs[Long]("wait_us")))).toMap
    val ev = Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tsu").as("pt"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tsu").as("ct"))
    // ground truth: minimal nonnegative wait — the as-of match; then
    // tolerance-gated (a first click beyond 24 h nulls out)
    val naive = purchases.join(clicks, Seq("user_id"), "left")
      .filter(col("ct").isNull || col("ct") >= col("pt"))
      .groupBy(col("event_id")).agg(min(col("ct") - col("pt")).as("w"))
      .collect()
      .map { r =>
        val w = if (r.isNullAt(1)) None else Some(r.getLong(1))
        r.getLong(0) -> w.filter(_ <= tol)
      }.toMap
    assert(got.nonEmpty && got.values.exists(_.isDefined))
    got.foreach { case (id, w) =>
      assert(w == naive.getOrElse(id, None), s"purchase $id: $w vs ${naive.get(id)}")
    }
  }

  test("q27 grouping sets: each set partitions the table, subtotals re-aggregate") {
    val rows = graft.operators.Relational.q27.fn(spark, sf).collect()
    val total = Tables(spark, sf).lineitem.count()
    // every grouping set independently covers all rows
    rows.groupBy(_.getAs[Int]("gid")).foreach { case (gid, g) =>
      assert(g.map(_.getAs[Long]("n")).sum == total,
        s"grouping set gid=$gid does not partition the table")
    }
    assert(rows.map(_.getAs[Int]("gid")).distinct.sorted.length == 3,
      "expected exactly three grouping sets")
    // per-rf subtotal equals the sum of its (rf, ls) detail rows
    val detail = rows.filter(r => r.getAs[String]("ls") != "ALL")
    val subtotal = rows.filter(r =>
      r.getAs[String]("ls") == "ALL" && r.getAs[String]("rf") != "ALL")
    subtotal.foreach { st =>
      val n = detail.filter(_.getAs[String]("rf") == st.getAs[String]("rf"))
        .map(_.getAs[Long]("n")).sum
      assert(n == st.getAs[Long]("n"),
        s"rf=${st.getAs[String]("rf")} subtotal inconsistent with detail")
    }
  }

  test("r6 plan shapes: i48 exchange-free after window; q34 grid-bounded; i50 cached once; j05 joinless") {
    // i48: the (station, ym, dim) agg reuses the window's clustering —
    // exactly 2 hash exchanges (daily distinct + window), none after
    val i48Plan = graft.operators.Ingest.i48.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert("Exchange hashpartitioning".r.findAllIn(i48Plan).length == 2,
      s"i48 must not re-shuffle after its window:\n$i48Plan")
    // q34: the cum/bucket stage runs over the value GRID in one single
    // partition — exactly one hash exchange (the grid histogram), one
    // SinglePartition exchange, and NO range sort of the row table
    val q34Plan = graft.operators.Relational.q34.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert("Exchange hashpartitioning".r.findAllIn(q34Plan).length == 1,
      s"q34 must shuffle rows once, into the grid histogram:\n$q34Plan")
    assert(!q34Plan.contains("Exchange rangepartitioning"),
      s"q34 must never globally sort the row table:\n$q34Plan")
    // i50: the window pipeline materializes ONCE (persisted) and both
    // rollups read the cache — the four window functions never re-run
    val i50Plan = graft.operators.Ingest.i50.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(i50Plan.contains("InMemoryTableScan"),
      s"i50's window pipeline must be computed once and cached:\n$i50Plan")
    // j05: the as-of is a union + window — no join operator anywhere
    val j05Plan = graft.operators.Temporal.j05.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!j05Plan.contains("Join"),
      s"forward as-of must plan as union+window, never a join:\n$j05Plan")
  }

  test("q27/s12 plan shapes: one-pass lattice expand; broadcast-only MIPS scan") {
    // q27: the whole mixed lattice is ONE Expand + one shuffle
    val q27Plan = graft.operators.Relational.q27.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(q27Plan.contains("Expand"),
      s"grouping sets must expand rows map-side:\n$q27Plan")
    assert("Exchange hashpartitioning".r.findAllIn(q27Plan).length == 1,
      s"the lattice must aggregate in one shuffle:\n$q27Plan")
    // s12: scoring never shuffles — broadcasts + a top-k sort only
    val s12Plan = graft.operators.Similarity.s12.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!s12Plan.contains("Exchange hashpartitioning"),
      s"MIPS scoring must be a zero-shuffle broadcast scan:\n$s12Plan")
    assert(s12Plan.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded take, not a global sort:\n$s12Plan")
  }

  test("j04 plan shape: one window pass, no join, filter pushed to the scan") {
    val plan = graft.operators.Temporal.j04.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"nearest join must be window-only:\n$plan")
    // both directions resolve in ONE window operator over one user-key
    // shuffle — not a second pass
    assert(plan.sliding("Window [".length).count(_ == "Window [") == 1,
      s"expected a single Window operator:\n$plan")
    assert(plan.contains("PushedFilters: [In(event_type"),
      s"event-type filter must reach the parquet scan:\n$plan")
  }

  test("q28 rolling distinct equals the naive window recompute, dense over the span") {
    import org.apache.spark.sql.functions.{col, to_date}
    val rows = Relational.q28.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // dense daily grid, no holes
    val days = rows.map(_.getTimestamp(0).toLocalDateTime.toLocalDate)
    days.sliding(2).foreach { case Array(a, b) => assert(b == a.plusDays(1)) }
    // naive recompute from the raw (user, day) pairs
    val pairs = Tables(spark, sf).events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct().collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    rows.foreach { r =>
      val d = r.getTimestamp(0).toLocalDateTime.toLocalDate
      val want = pairs.filter { case (pd, _) =>
        !pd.isAfter(d) && !pd.isBefore(d.minusDays(6))
      }.map(_._2).distinct.length
      assert(r.getLong(1) == want, s"day $d")
    }
    // the plan must contain NO window frame — the whole point of the
    // explode rewrite
    val plan = Relational.q28.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), s"rolling distinct must not plan a window:\n$plan")
  }

  test("q29 funnel enforces stage order and the 7-day horizon") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_q29").toString
    val h = 3600L * 1000000000L // one hour in nanos
    val t0 = 1704067200L * 1000000000L // 2024-01-01 00:00:00 UTC
    val events = Seq(
      // user 1 completes every stage in order
      (0L, t0, 1L, "view", 1.0, "{}"),
      (1L, t0 + h, 1L, "click", 1.0, "{}"),
      (2L, t0 + 2 * h, 1L, "purchase", 1.0, "{}"),
      // user 2's click PRECEDES its first view — must not count as stage 2
      (3L, t0 + 2 * h, 2L, "click", 1.0, "{}"),
      (4L, t0 + 3 * h, 2L, "view", 1.0, "{}"),
      (5L, t0 + h, 2L, "purchase", 1.0, "{}"),
      // user 3 purchases AFTER the 7-day horizon — stage 2 only
      (6L, t0, 3L, "view", 1.0, "{}"),
      (7L, t0 + h, 3L, "click", 1.0, "{}"),
      (8L, t0 + 240 * h, 3L, "purchase", 1.0, "{}"),
      // user 4 never clicks — stage 1 only
      (9L, t0, 4L, "view", 1.0, "{}"),
      (10L, t0 + h, 4L, "purchase", 1.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Relational.q29.fn(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(1) == 4 && rows(0).getLong(2) == 2 && rows(0).getLong(3) == 1,
      s"expected 4/2/1: ${rows(0)}")
    // on real data the funnel is monotone per cohort
    Relational.q29.fn(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) >= r.getLong(2) && r.getLong(2) >= r.getLong(3), s"$r")
    }
  }

  test("q30 retention: offset-0 cells are complete and counts never exceed cohort size") {
    val rows = Relational.q30.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), s"active above cohort size: $r")
      if (r.getInt(1) == 0)
        assert(r.getLong(2) == r.getLong(3) && r.getDouble(4) == 1.0,
          s"every cohort member is active in week 0: $r")
      assert(r.getInt(1) >= 0)
    }
    // cohort sizes partition the user population
    val users = Tables(spark, sf).events
      .select(org.apache.spark.sql.functions.col("user_id")).distinct().count()
    assert(rows.filter(_.getInt(1) == 0).map(_.getLong(3)).sum == users)
  }

  test("q31 attribution credits the last in-window touch, else organic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_q31").toString
    val h = 3600L * 1000000000L
    val t0 = 1704067200L * 1000000000L
    Seq(
      // user 1: view then click then purchase → click credited
      (0L, t0, 1L, "view", 1.0, "{}"),
      (1L, t0 + h, 1L, "click", 1.0, "{}"),
      (2L, t0 + 2 * h, 1L, "purchase", 10.0, "{}"),
      // user 2: touch 5 days before purchase → organic
      (3L, t0, 2L, "view", 1.0, "{}"),
      (4L, t0 + 120 * h, 2L, "purchase", 20.0, "{}"),
      // user 3: no touch at all → organic
      (5L, t0, 3L, "purchase", 40.0, "{}"),
      // user 4: view only → view credited
      (6L, t0, 4L, "view", 1.0, "{}"),
      (7L, t0 + h, 4L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q31.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map("click" -> ((1L, 10.0)), "organic" -> ((2L, 60.0)),
      "view" -> ((1L, 5.0))), s"$got")
    // conversions conserve: every purchase is credited exactly once
    val purchases = Tables(spark, sf).events
      .filter(col("event_type") === "purchase").count()
    assert(Relational.q31.fn(spark, sf).collect().map(_.getLong(1)).sum == purchases)
  }

  test("q32 stratified sample: exact k per stratum, deterministic, within-stratum") {
    import org.apache.spark.sql.functions._
    val got = Relational.q32.fn(spark, sf)
    // never more than k=5 per stratum; count matches min(5, stratum size)
    val perStratum = got.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("k"), max(col("stratum_n")).as("n")).collect()
    assert(perStratum.nonEmpty)
    perStratum.foreach { r =>
      assert(r.getAs[Long]("k") == math.min(5L, r.getAs[Long]("n")))
    }
    // every stratum of the corpus is represented
    val strata = Tables(spark, sf).documents
      .select(col("lang"), col("source")).distinct().count()
    assert(perStratum.length.toLong == strata)
    // sampled rows really belong to their stratum
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), col("lang").as("dl"), col("source").as("ds"))
    assert(got.join(docs, "doc_id")
      .filter(col("lang") =!= col("dl") || col("source") =!= col("ds"))
      .count() == 0)
    // deterministic: a rerun picks the identical sample
    val again = Relational.q32.fn(spark, sf)
    assert(got.exceptAll(again).count() == 0 && again.exceptAll(got).count() == 0)
  }

  test("q33 transitions: mass conserved, rows sum to 1, starts = users") {
    import org.apache.spark.sql.functions._
    val got = Relational.q33.fn(spark, sf).collect()
    val events = Tables(spark, sf).events
    // every event lands in exactly one transition cell
    assert(got.map(_.getAs[Long]("n")).sum == events.count())
    // each prev row is a probability distribution (grid-rounded)
    got.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getAs[Double]("p_next")).sum - 1.0) < 1e-2)
    }
    // '(start)' mass = one first event per user
    val users = events.select(col("user_id")).distinct().count()
    assert(got.filter(_.getString(0) == "(start)").map(_.getAs[Long]("n")).sum == users)
  }

  test("q34 equi-depth histogram: crafted grid exact, corpus partition invariants") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 32 distinct prices, one row each → 16 buckets of exactly 2 values
    val dir = java.nio.file.Files.createTempDirectory("graft_q34").toString
    (1 to 32).map(i => i.toDouble).toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val crafted = Relational.q34.fn(spark, dir).collect()
    assert(crafted.length == 16)
    crafted.zipWithIndex.foreach { case (r, k) =>
      assert(r.getAs[Int]("bucket") == k)
      assert(r.getAs[Long]("n_rows") == 2L && r.getAs[Long]("n_values") == 2L)
      assert(r.getAs[Long]("lo_cents") == (2 * k + 1) * 100L)
      assert(r.getAs[Long]("hi_cents") == (2 * k + 2) * 100L)
    }
    // corpus: buckets partition the rows; ranges ordered and disjoint;
    // depth is equal up to the largest single value's multiplicity
    val li = Tables(spark, sf).lineitem
    val n = li.count()
    val maxMult = li.groupBy(round(col("l_extendedprice") * 100))
      .count().agg(max("count")).collect()(0).getLong(0)
    val rows = Relational.q34.fn(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == n)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi_cents") < b.getAs[Long]("lo_cents"))
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") <= n / 16 + maxMult,
        s"bucket ${r.getAs[Int]("bucket")} over-deep: ${r.getAs[Long]("n_rows")}")
    }
  }

  test("q35 decay score: half-life arithmetic exact on crafted days") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q35").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L
    // user 1: 10.0 on the snapshot day, 10.0 exactly one half-life (7
    // days) earlier, 10.0 fourteen days earlier → 10 + 5 + 2.5 = 17.5.
    // user 2: one event 70 days back → 10·2⁻¹⁰ ≈ 0.009766 → 0.01.
    val events = Seq(
      (1L, t0 + 70 * day, 1L, "obs", 10.0, "{}"),
      (2L, t0 + 63 * day, 1L, "obs", 10.0, "{}"),
      (3L, t0 + 56 * day, 1L, "obs", 10.0, "{}"),
      (4L, t0, 2L, "obs", 10.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q35.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_events") == 3L)
    assert(math.abs(got(1L).getAs[Double]("decay_score") - 17.5) < 1e-9)
    assert(math.abs(got(2L).getAs[Double]("decay_score") - 0.01) < 1e-9)
    // corpus: decayed mass never exceeds the plain sum of |values|
    val plain = Tables(spark, sf).events.groupBy(col("user_id"))
      .agg(sum(abs(col("value"))).as("cap"))
    val joined = Relational.q35.fn(spark, sf)
      .join(plain, "user_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Double]("decay_score") <= r.getAs[Double]("cap") + 0.01)
    }
  }

  test("q36 pagerank: hub dominates, mass conserved, degrees exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q36").toString
    // customer 1 trades with suppliers 1,2,3; customer 2 with supplier 1
    Seq((10L, 1L), (11L, 1L), (12L, 1L), (13L, 2L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1L), (11L, 2L), (12L, 3L), (13L, 1L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.q36.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // node ids: customers even (c1=2, c2=4), suppliers odd (s1=3, s2=5, s3=7)
    assert(got.keySet == Set(2L, 3L, 4L, 5L, 7L))
    assert(got(2L)._2 == 3L && got(3L)._2 == 2L && got(4L)._2 == 1L)
    // the 3-degree customer hub outranks everyone; the shared supplier
    // outranks the single-link spokes
    assert(got.forall { case (n, (pr, _)) => n == 2L || pr < got(2L)._1 })
    assert(got(3L)._1 > got(5L)._1 && got(3L)._1 > got(4L)._1)
    // scaled-rank mass conserved up to grid rounding: mean rank ≈ 1
    val mass = got.values.map(_._1).sum
    assert(math.abs(mass / got.size - 1.0) < 0.01, s"mass $mass")
    // corpus: every node ranked, mean rank ≈ 1, gate adopted ≤ cap
    val rows = Relational.q36.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val m = rows.map(_.getDouble(1)).sum / rows.length
    assert(math.abs(m - 1.0) < 0.02, s"corpus mean rank $m")
    assert(Relational.q36RoundsFor(sf) >= 4 &&
      Relational.q36RoundsFor(sf) <= 48, s"rounds ${Relational.q36RoundsFor(sf)}")
  }

  test("q36 delta gate: cap binds exactly, early stop matches the cap run") {
    // cap=4 with an unreachable tolerance runs exactly to the cap; a huge
    // tolerance under a high cap stops after the first 4-round block —
    // both paths must adopt 4 rounds and produce identical frames, and
    // the generated oracle must unroll to exactly the adopted count.
    def run(roundCap: Int, tolPerNode: Long): Array[org.apache.spark.sql.Row] =
      Relational.q36Ranks(spark, sf, roundCap, tolPerNode).collect()
    val atCap = run(4, 0L)
    assert(Relational.q36RoundsFor(sf) == 4)
    val early = run(Relational.Q36RoundCap, Long.MaxValue / (1 << 22))
    assert(Relational.q36RoundsFor(sf) == 4,
      s"early stop adopted ${Relational.q36RoundsFor(sf)}")
    assert(atCap.sameElements(early), "cap run != early-stop run at equal rounds")
    val oracle = graft.SparkEntry.oracleSqlFor(sf)("q36_pagerank")
    assert(oracle.contains("r4 AS") && !oracle.contains("r5 AS"),
      "oracle not unrolled to the adopted round count")
  }

  test("q34/q40 value grid is domain-bounded (the single-partition window's license)") {
    // Both histograms key on ROUND(l_extendedprice*100): the grid
    // cardinality is bounded by the CENTS DOMAIN of the price column
    // (TPC-H prices live in [~900, ~105k] dollars → ≤ ~1.1e7 cents
    // values), NOT by the corpus row count — that bound is the
    // documented justification for running the cumulative-sum window
    // single-partition (r17 verdict item 8). Pin it mechanically: the
    // grid must be no larger than the domain bound and must not grow
    // with duplicated fact rows.
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sf).lineitem
    val grid = li.select(round(col("l_extendedprice") * 100).cast("long").as("v"))
      .distinct()
    val n = grid.count()
    val bounds = grid.agg(min(col("v")), max(col("v"))).collect()(0)
    val domain = bounds.getLong(1) - bounds.getLong(0) + 1
    assert(n <= domain, s"grid $n exceeds the value domain $domain")
    assert(n <= 11000000L, s"grid $n exceeds the documented cents-domain cap")
    // duplicating the fact rows must not change the grid cardinality
    val doubled = li.union(li)
      .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
      .distinct().count()
    assert(doubled == n, s"grid grew with row count: $doubled != $n")
  }

  test("q40 psi: fused single fact pass reproduces crafted parity sides exactly") {
    // r18: both histograms come out of ONE (parity, v) grouped scan —
    // this pins the fused shape's arithmetic on crafted data where the
    // per-side answers are known. Even keys: prices 1..20 (expected
    // side, 10 bins × 2 values); odd keys: prices 1..10 (actual side,
    // filling exactly bins 0..4 with 2 values each).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q40").toString
    val rows = (1 to 20).map(i => (2L * i, i.toDouble)) ++
      (1 to 10).map(i => (2L * i + 1, i.toDouble))
    rows.toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.q40.fn(spark, dir).collect()
    assert(got.length == 10)
    got.zipWithIndex.foreach { case (r, k) =>
      assert(r.getAs[Int]("bucket") == k)
      assert(r.getAs[Long]("n_a") == 2L, s"bucket $k n_a")
      assert(r.getAs[Long]("n_b") == (if (k < 5) 2L else 0L), s"bucket $k n_b")
    }
  }

  test("engine session defaults carry the scale-derived coalescing floor") {
    // parallelismFirst=false alone lets AQE coalesce any sub-advisory
    // exchange to ONE partition, serializing small-but-compute-carrying
    // final aggregations (d13's pair counts, q34/q40's grid merge,
    // t06's vocab merge — measured r18). The floor is p/8 — derived
    // from the session parallelism, never a local constant; stock
    // Spark's parallelismFirst=true floors at p itself.
    val p = spark.sparkContext.defaultParallelism
    val got = spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionNum").toInt
    assert(got == math.max(1, p / 8))
  }

  test("q36 driver solve below the edge gate is bit-identical to the distributed loop") {
    // the r18 driver power iteration must reproduce the distributed
    // loop's integer recurrence exactly: same ranks, same degrees, same
    // adopted-rounds count (the dynamic oracle unrolls to that count)
    // the driver solve hands back a local relation; the loop does not
    def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.find(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]).isDefined
    // the corpus edge count is far below the default gate
    val driverDf = Relational.q36.fn(spark, sf)
    assert(onDriver(driverDf))
    val viaDriver = driverDf.collect()
    val roundsDriver = Relational.q36RoundsFor(sf)
    val clusterDf = Relational.q36Ranks(spark, sf, driverCap = 0L)
    assert(!onDriver(clusterDf), "driverCap 0 must take the distributed loop")
    val viaCluster = clusterDf.collect()
    assert(Relational.q36RoundsFor(sf) == roundsDriver,
      s"adopted rounds diverged: $roundsDriver vs ${Relational.q36RoundsFor(sf)}")
    assert(viaDriver.sameElements(viaCluster),
      "driver solve != distributed loop")
  }

  test("q36 adopted rounds are keyed by dataset dir — no cross-dir contamination") {
    import spark.implicits._
    // two Verifies over different dirs in one JVM: each dir's oracle
    // must unroll to ITS adopted count — the r9 @volatile global
    // replayed whatever the LAST run adopted for every dir
    val dirA = java.nio.file.Files.createTempDirectory("graft_q36a").toString
    Seq((10L, 1L), (11L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dirA/orders.parquet")
    Seq((10L, 1L), (11L, 2L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dirA/lineitem.parquet")
    try {
      // tolerance 0: the cap always binds
      Relational.q36Ranks(spark, dirA, roundCap = 3, tolPerNode = 0L).collect()
      Relational.q36Ranks(spark, sf, roundCap = 5, tolPerNode = 0L).collect()
      assert(Relational.q36RoundsFor(dirA) == 3 && Relational.q36RoundsFor(sf) == 5)
      val oA = graft.SparkEntry.oracleSqlFor(dirA)("q36_pagerank")
      val oB = graft.SparkEntry.oracleSqlFor(sf)("q36_pagerank")
      assert(oA.contains("r3 AS") && !oA.contains("r4 AS"), "dirA oracle wrong")
      assert(oB.contains("r5 AS") && !oB.contains("r6 AS"), "dirB oracle wrong")
      // a dir never run in this JVM resolves to the 48-round cap default
      assert(graft.SparkEntry.oracleSqlFor("/nonexistent")("q36_pagerank")
        .contains("r48 AS"))
    } finally {
      Relational.q36AdoptedRounds.remove(sf) // don't leak cap-5 into later tests
      Relational.q36AdoptedRounds.remove(dirA)
    }
  }

  test("q37 audience overlap: crafted sets exact, corpus bounds hold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q37").toString
    val t0 = 1704067200L * 1000000000L
    // users 1,2,3 do 'view'; users 1,2 do 'click'; user 4 only 'buy'
    val events = Seq(
      (1L, t0, 1L, "view", 1.0, "{}"), (2L, t0, 2L, "view", 1.0, "{}"),
      (3L, t0, 3L, "view", 1.0, "{}"), (4L, t0, 1L, "click", 1.0, "{}"),
      (5L, t0, 2L, "click", 1.0, "{}"), (6L, t0, 4L, "buy", 1.0, "{}"),
      (7L, t0, 1L, "view", 2.0, "{}")) // duplicate (user,type) — distinct
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q37.fn(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(0)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // note columns come back (tb, ta, ...) after the join reorder —
    // key on (ta, tb) via the named fields instead
    val byName = Relational.q37.fn(spark, dir).collect()
      .map(r => (r.getAs[String]("ta"), r.getAs[String]("tb")) ->
        ((r.getAs[Long]("n_both"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("jaccard_ppm")))).toMap
    // click ∩ view = {1,2}: J = 2/(2+3-2) = 2/3 → 666666 ppm (floor)
    assert(byName(("click", "view")) == ((2L, 2L, 3L, 666666L)), s"$byName")
    // buy overlaps nothing → no (buy, *) pair rows survive the inner join
    assert(!byName.keySet.exists { case (a, b) => a == "buy" || b == "buy" })
    assert(got.size == byName.size)
    // corpus: overlap ≤ min audience; jaccard within [0, 1e6]
    Relational.q37.fn(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_both") <=
        math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      val j = r.getAs[Long]("jaccard_ppm")
      assert(j >= 0L && j <= 1000000L)
    }
  }

  test("q38 SCD2 reconstruction: unique interval, pre-history NULL, rewrites empty") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q38").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L // 2024-01-01; snapshot is Jan 15
    val events = Seq(
      // user 1: v=1 from Jan 1, v=2 from Jan 10, v=3 from Jan 20 →
      // at Jan 15 version 2 (value 2.0) is in force
      (1L, t0, 1L, "obs", 1.0, "{}"),
      (2L, t0 + 9 * day, 1L, "obs", 2.0, "{}"),
      (3L, t0 + 19 * day, 1L, "obs", 3.0, "{}"),
      // user 2: history starts Jan 20 → NULL at the snapshot
      (4L, t0 + 19 * day, 2L, "obs", 9.0, "{}"),
      // user 3: same-instant rewrite on Jan 5 — the empty interval is
      // skipped, the rewrite (higher event_id) is in force
      (5L, t0 + 4 * day, 3L, "obs", 7.0, "{}"),
      (6L, t0 + 4 * day, 3L, "obs", 8.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q38.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_versions") == 3L)
    assert(got(1L).getAs[Double]("value_at") == 2.0)
    assert(got(1L).getAs[Int]("version_at") == 2)
    assert(got(2L).isNullAt(got(2L).fieldIndex("value_at")))
    assert(got(3L).getAs[Double]("value_at") == 8.0)
    assert(got(3L).getAs[Int]("version_at") == 2)
    // corpus: reconstruction is unique — one row per user
    val rows = Relational.q38.fn(spark, sf)
    assert(rows.count() == rows.select("user_id").distinct().count())
  }

  test("q39 period growth: MoM across the year boundary, YTD resets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q39").toString
    Seq(("A", "2023-11-05", 10.0), ("A", "2023-12-05", 20.0),
      ("A", "2024-01-05", 10.0), ("A", "2024-02-05", 15.0),
      ("A", "2024-03-05", 12.0))
      .toDF("l_returnflag", "d", "l_extendedprice")
      .select(col("l_returnflag"), to_date(col("d")).as("l_shipdate"),
        col("l_extendedprice"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = Relational.q39.fn(spark, dir).collect()
      .map(r => (r.getInt(1), r.getInt(2)) -> r).toMap
    // Dec: +100% over Nov; YTD Dec = Nov+Dec (same year)
    assert(rows((2023, 12)).getAs[Long]("mom_delta_cents") == 1000L)
    assert(rows((2023, 12)).getAs[Double]("mom_pct") == 1.0)
    assert(rows((2023, 12)).getAs[Long]("ytd_cents") == 3000L)
    // Jan crosses the year: MoM vs Dec, YTD resets
    assert(rows((2024, 1)).getAs[Long]("mom_delta_cents") == -1000L)
    assert(rows((2024, 1)).getAs[Double]("mom_pct") == -0.5)
    assert(rows((2024, 1)).getAs[Long]("ytd_cents") == 1000L)
    assert(rows((2024, 2)).getAs[Double]("mom_pct") == 0.5)
    assert(rows((2024, 3)).getAs[Double]("mom_pct") == -0.2)
    assert(rows((2024, 3)).getAs[Long]("ytd_cents") == 3700L)
    // first month has no baseline
    assert(rows((2023, 11)).isNullAt(rows((2023, 11)).fieldIndex("mom_pct")))
    // corpus: YTD is monotone within each (rf, yr)
    val corpus = Relational.q39.fn(spark, sf).collect()
    corpus.groupBy(r => (r.getString(0), r.getInt(1))).foreach { case (_, rs) =>
      val ytd = rs.sortBy(_.getInt(2)).map(_.getAs[Long]("ytd_cents"))
      assert(ytd.zip(ytd.tail).forall { case (a, b) => b >= a })
    }
  }

  test("q40 PSI drift: identical halves score zero, a shifted half alarms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // identical distributions: p = q in every bin ⇒ every term exactly 0
    val dirA = java.nio.file.Files.createTempDirectory("graft_q40a").toString
    ((1 to 20).map(i => (2L * i, i.toDouble)) ++
      (1 to 20).map(i => (2L * i + 1, i.toDouble)))
      .toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dirA/lineitem.parquet")
    val same = Relational.q40.fn(spark, dirA).collect()
    assert(same.nonEmpty)
    same.foreach(r => assert(r.getAs[Double]("psi_term") == 0.0, s"$r"))
    // shifted actual: all mass lands in the top bin ⇒ PSI well above 0.25
    val dirB = java.nio.file.Files.createTempDirectory("graft_q40b").toString
    ((1 to 20).map(i => (2L * i, i.toDouble)) ++
      (1 to 20).map(i => (2L * i + 1, 100.0 + i)))
      .toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dirB/lineitem.parquet")
    val shifted = Relational.q40.fn(spark, dirB).collect()
    val psi = shifted.map(_.getAs[Double]("psi_term")).sum
    assert(psi > 0.25, s"shifted PSI $psi")
    // every term is nonnegative by construction: sign(p−q) = sign(ln(p/q))
    val corpus = Relational.q40.fn(spark, sf).collect()
    assert(corpus.length == 10)
    corpus.foreach(r => assert(r.getAs[Double]("psi_term") >= 0.0))
    // TPC-H halves are statistically identical — the corpus PSI is stable
    assert(corpus.map(_.getAs[Double]("psi_term")).sum < 0.1)
  }

  test("q26 incremental state merge equals the full recompute") {
    import org.apache.spark.sql.functions._
    val merged = Relational.q26.fn(spark, sf)
    val full = Tables(spark, sf).lineitem
      .groupBy(col("l_returnflag"), month(col("l_shipdate")).as("cal_month"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"), count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("cal_month"), col("total_qty"), col("n_rows"),
        graft.QueryDef.roundBiased(col("total_qty") / col("n_rows"), 4).as("avg_qty"))
    assert(merged.exceptAll(full).count() == 0 && full.exceptAll(merged).count() == 0)
  }

  test("j06 OHLC/TWAP: hand-computed bars, hold-to-bar-end, equal-ts tiebreak") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_j06").toString
    val halfDay = 43200L * 1000000000L // ns
    // user 1 day 0: v=10 at 00:00 and v=20 at 12:00 → each holds half
    // the day: twap 15; OHLC 10/20/10/20. user 2: a SINGLE midday
    // observation holds to bar end → twap equals it exactly. user 3:
    // two events at the SAME instant → open/close resolve by event_id.
    val events = Seq(
      (1L, 0L, 1L, "obs", 10.0, "{}"),
      (2L, halfDay, 1L, "obs", 20.0, "{}"),
      (3L, halfDay, 2L, "obs", 30.0, "{}"),
      (4L, halfDay, 3L, "obs", 40.0, "{}"),
      (5L, halfDay, 3L, "obs", 50.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Temporal.j06.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Double]("open") == 10.0 &&
      got(1L).getAs[Double]("close") == 20.0 &&
      got(1L).getAs[Double]("high") == 20.0 &&
      got(1L).getAs[Double]("low") == 10.0 &&
      got(1L).getAs[Double]("twap") == 15.0, s"${got(1L)}")
    assert(got(2L).getAs[Double]("twap") == 30.0, s"${got(2L)}")
    assert(got(3L).getAs[Double]("open") == 40.0 &&
      got(3L).getAs[Double]("close") == 50.0, s"${got(3L)}")
    // corpus invariants: low <= open/close/twap <= high per bar
    graft.operators.Temporal.j06.fn(spark, sf).collect().foreach { r =>
      val (lo, hi, tw) = (r.getAs[Double]("low"), r.getAs[Double]("high"),
        r.getAs[Double]("twap"))
      assert(lo <= hi && tw >= lo - 1e-4 && tw <= hi + 1e-4, r.toString)
      assert(r.getAs[Double]("open") >= lo && r.getAs[Double]("open") <= hi)
    }
  }

  test("q41 decile lift: top-loaded conversions, cumulative lift ends at 1.0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q41").toString
    // 20 users, score 21-u; users 1..5 convert -> deciles of 2 users
    val events =
      (1 to 20).map(u => (100L + u, u * 1000000000L, u.toLong, "view",
        (21 - u) * 1.0, "{}")) ++
      (1 to 5).map(u => (200L + u, u * 1000000000L, u.toLong, "purchase",
        1.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Relational.q41.fn(spark, dir).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got.size == 10)
    assert(got(1).getAs[Long]("n_users") == 2L &&
      got(1).getAs[Long]("n_conv") == 2L &&
      got(1).getAs[Double]("conv_rate") == 1.0 &&
      got(1).getAs[Double]("cum_lift") == 4.0, s"${got(1)}")
    assert(got(3).getAs[Double]("conv_rate") == 0.5 &&
      math.abs(got(3).getAs[Double]("cum_lift") - (5.0 / 6) / 0.25) < 1e-3)
    assert(got(10).getAs[Double]("cum_lift") == 1.0, s"${got(10)}")
    // corpus: the base-rate decile closes the table at lift exactly 1.0
    val rows = graft.operators.Relational.q41.fn(spark, sf).collect()
    val lifts = rows.sortBy(_.getInt(0)).map(_.getAs[Double]("cum_lift"))
    assert(lifts.last == 1.0, lifts.mkString(","))
  }

  test("j07 LOCF resample: carries last obs, tie pinned, null before first obs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_j07").toString
    val h = 3600L * 1000000000L
    // two clicks at the SAME instant (3h) -> event_id 2 wins (j01's
    // tiebreak); a 26h click extends the span but never leaks backward
    val events = Seq(
      (1L, 3 * h, 1L, "click", 10.0, "{}"),
      (2L, 3 * h, 1L, "click", 20.0, "{}"),
      (3L, 26 * h, 1L, "click", 30.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Temporal.j07.fn(spark, dir).collect()
    assert(got.length == 5, got.mkString(";")) // 0,6,12,18,24h
    val byH = got.map(r => r.getAs[java.sql.Timestamp]("grid_ts").toInstant
      .getEpochSecond / 3600 -> r).toMap
    assert(byH(0L).isNullAt(byH(0L).fieldIndex("value")) &&
      byH(0L).isNullAt(byH(0L).fieldIndex("staleness_sec")), s"${byH(0L)}")
    assert(byH(6L).getAs[Double]("value") == 20.0 &&
      byH(6L).getAs[Long]("staleness_sec") == 3 * 3600L, s"${byH(6L)}")
    assert(byH(24L).getAs[Double]("value") == 20.0 &&
      byH(24L).getAs[Long]("staleness_sec") == 21 * 3600L, s"${byH(24L)}")
    // corpus: staleness non-negative wherever a value is carried
    graft.operators.Temporal.j07.fn(spark, sf).collect().foreach { r =>
      if (!r.isNullAt(r.fieldIndex("value")))
        assert(r.getAs[Long]("staleness_sec") >= 0L, r.toString)
    }
  }

  test("j08 interval union: overlap merges, touch merges, gap splits, exact micros") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_j08").toString
    val m = 60L * 1000000L // one minute in micros
    val mNs = 60L * 1000000000L
    // user 1: [0,10) overlaps [5,15) -> island A [0,15); [15,20) TOUCHES
    // and merges into A -> [0,20); [30,35) is disjoint -> island B.
    val events = Seq(
      (1L, 0L, 1L, "obs", 10.0, "{}"),
      (2L, 5L * mNs, 1L, "obs", 10.0, "{}"),
      (3L, 15L * mNs, 1L, "obs", 5.0, "{}"),
      (4L, 30L * mNs, 1L, "obs", 5.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Temporal.j08.fn(spark, dir).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_islands") == 2L && r.getAs[Long]("n_intervals") == 4L,
      r.toString)
    assert(r.getAs[Long]("covered_us") == 25L * m, r.toString) // 20 + 5 min
    assert(r.getAs[Long]("longest_us") == 20L * m, r.toString)
    // corpus: covered time never exceeds the sum of interval lengths,
    // and never undercuts the longest single interval
    import org.apache.spark.sql.functions.{col, expr, max, sum}
    val sums = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("user_id"))
      .agg(sum(expr("CAST(FLOOR(value * 60000000) AS BIGINT)")).as("tot"),
        max(expr("CAST(FLOOR(value * 60000000) AS BIGINT)")).as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.operators.Temporal.j08.fn(spark, sf).collect().foreach { r =>
      val (tot, mx) = sums(r.getLong(0))
      assert(r.getAs[Long]("covered_us") <= tot, r.toString)
      assert(r.getAs[Long]("longest_us") >= mx, r.toString)
    }
  }
}
