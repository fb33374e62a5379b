package graft

import graft.operators.Ingest
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {

  test("all B-family queries return rows at sf0.001") {
    Ingest.all.foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("i62–i67 read their grid files through a FileGridScan, never a binaryFile scan") {
    import graft.sources.FileGridScan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plans = new AdaptiveSparkPlanHelper {}
    val wrong = Seq(Ingest.i62, Ingest.i63, Ingest.i64, Ingest.i65, Ingest.i66,
      Ingest.i67).flatMap { q =>
      val plan = q.fn(spark, sf).queryExecution.executedPlan
      val gridScans = plans.collect(plan) {
        case b: BatchScanExec if b.scan.isInstanceOf[FileGridScan] => b
      }
      val binaryScans = plans.collect(plan) {
        case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[BinaryFileFormat] => f
      }
      if (gridScans.nonEmpty && binaryScans.isEmpty) None
      else Some(s"${q.name}: ${gridScans.size} FileGridScan, " +
        s"${binaryScans.size} binaryFile scan\n$plan")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("unitConvert implements the four reference operations") {
    val df = spark.range(1).select(lit(10.0).as("v"))
    def eval(op: String, c: Double): Double =
      df.select(Ingest.unitConvert(col("v"), op, c).as("r")).collect()(0).getDouble(0)
    assert(eval("multiply", 3) == 30.0)
    assert(eval("divide", 4) == 2.5)
    assert(eval("add", 5) == 15.0)
    assert(eval("subtract", 1) == 9.0)
    intercept[IllegalArgumentException](Ingest.unitConvert(col("v"), "modulo", 2))
  }

  test("upsertByDate replaces exactly the incoming date partitions") {
    val existing = Tables(spark, sf).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        date_trunc("day", col("l_shipdate")).as("d"), col("l_quantity"))
    val targetDate = existing.select(col("d")).limit(1).collect()(0).getTimestamp(0)
    val incoming = existing.filter(col("d") === targetDate)
      .withColumn("l_quantity", lit(-1.0))
    val result = Ingest.upsertByDate(existing, incoming, "d")
    assert(result.count() == existing.count())
    // every row of the target date now carries the incoming value
    val vals = result.filter(col("d") === targetDate)
      .select(col("l_quantity")).distinct().collect().map(_.getDouble(0))
    assert(vals.sameElements(Array(-1.0)))
  }

  test("anomaly masks missing normals with the sentinel") {
    val df = spark.range(1).select(lit(5.0).as("cur"), lit(null).cast("double").as("norm"))
    val r = df.select(Ingest.anomaly(col("cur"), col("norm")).as("a")).collect()(0).getDouble(0)
    assert(r == -9999.0)
    val df2 = spark.range(1).select(lit(5.0).as("cur"), lit(3.0).as("norm"))
    val r2 = df2.select(Ingest.anomaly(col("cur"), col("norm")).as("a")).collect()(0).getDouble(0)
    assert(r2 == 2.0)
  }

  test("pentad boundaries match the reference get_next_pentad buckets") {
    import graft.functions.Calendar
    val df = spark.createDataFrame(Seq(
      Tuple1("2023-01-01"), Tuple1("2023-01-05"), Tuple1("2023-01-06"),
      Tuple1("2023-01-25"), Tuple1("2023-01-26"), Tuple1("2023-01-31")
    )).toDF("d").select(col("d").cast("date").as("d"))
    val got = df.select(Calendar.pentadOfMonth(col("d")).as("p")).collect().map(_.getInt(0))
    assert(got.sameElements(Array(1, 1, 2, 5, 6, 6)))
  }

  test("withUnits attaches units metadata that survives a parquet round-trip") {
    import java.nio.file.Files
    val df = Tables(spark, sf).events.select(
      col("event_id"),
      Ingest.withUnits(Ingest.unitConvert(col("value"), "subtract", 273.15),
        "temp_degc", "degC"))
    assert(df.schema("temp_degc").metadata.getString("units") == "degC")
    val p = Files.createTempDirectory("graft_units").resolve("t.parquet").toString
    df.limit(10).write.parquet(p)
    val back = spark.read.parquet(p)
    assert(back.schema("temp_degc").metadata.getString("units") == "degC")
  }

  test("next-period functions match the reference dateutils") {
    import graft.functions.Calendar
    import spark.implicits._
    // reference get_next_pentad: day 3 → (6th, 2); day 26 → (1st next month, 1)
    val df = Seq("2023-01-03", "2023-01-26", "2023-12-28").toDF("d")
      .select(col("d").cast("date").as("d"))
    val got = df.select(
      Calendar.nextPentadStart(col("d")).cast("string").as("start"),
      Calendar.nextPentadNum(col("d")).as("num"),
      Calendar.nextMonthStart(col("d")).cast("string").as("nm")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(got.sameElements(Array(
      ("2023-01-06", 2, "2023-02-01"),
      ("2023-02-01", 1, "2023-02-01"),
      ("2024-01-01", 1, "2024-01-01"))))
  }

  test("isoDateIn extracts the reference filename date convention") {
    import graft.functions.Calendar
    import spark.implicits._
    val df = Seq(
      "oper_fc_temperature_sfc_2024-03-01T06:00:00.000Z.tif",
      "no_date_here.tif").toDF("f")
    val got = df.select(Calendar.isoDateIn(col("f")).cast("string").as("d"))
      .collect().map(_.getString(0))
    assert(got(0) == "2024-03-01 06:00:00")
    assert(got(1) == null)
  }

  test("tileEnvelope matches slippy-map corners") {
    val (w, e, s, n) = Ingest.tileEnvelope(0, 0, 0)
    assert(w == -180.0 && e == 180.0)
    assert(math.abs(n - 85.0511287798066) < 1e-9)
    assert(math.abs(s + 85.0511287798066) < 1e-9)
    val (w2, e2, s2, n2) = Ingest.tileEnvelope(2, 1, 1)
    assert(w2 == -90.0 && e2 == 0.0 && s2 == 0.0)
    assert(math.abs(n2 - 66.51326044311186) < 1e-12)
  }

  test("retention keeps only the trailing window") {
    val orders = Tables(spark, sf).orders
    val kept = Ingest.retainLastDays(orders, col("o_orderdate"), 30)
    val spread = kept.agg(
      datediff(max(col("o_orderdate")), min(col("o_orderdate"))).as("dd"))
      .collect()(0).getInt(0)
    assert(spread <= 30)
    assert(kept.count() < orders.count())
  }

  test("mosaic resolves overlaps to the highest-priority tile") {
    import spark.implicits._
    val t1 = Seq((1L, 10.0, 1), (2L, 20.0, 1)).toDF("k", "v", "tile")
    val t2 = Seq((2L, 99.0, 2), (3L, 30.0, 2)).toDF("k", "v", "tile")
    val m = Ingest.mosaic(Seq(t1, t2), Seq("k"), Seq("tile"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(m.sameElements(Array((1L, 10.0, 1), (2L, 99.0, 2), (3L, 30.0, 2))))
  }
  test("afterWatermark: null or empty watermark means full ingest") {
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 20L)).toDF("id", "ts")
    // watermark present → strictly-newer rows only
    val wm = Seq(10L).toDF("watermark")
    assert(Ingest.afterWatermark(df, col("ts"), wm).collect().map(_.getLong(0))
      .sameElements(Array(2L)))
    // 1-row NULL watermark (agg over empty history) → everything
    val nullWm = Seq.empty[Long].toDF("x").agg(max(col("x")).as("watermark"))
    assert(Ingest.afterWatermark(df, col("ts"), nullWm).count() == 2)
    // 0-row watermark relation → everything, watermark column dropped
    val emptyWm = Seq.empty[Long].toDF("watermark")
    val out = Ingest.afterWatermark(df, col("ts"), emptyWm)
    assert(out.count() == 2 && out.columns.sameElements(Array("id", "ts")))
  }

  test("thinVertices drops near-predecessor points, keeps endpoints") {
    import spark.implicits._
    val pts = Seq((1L, 1L, 0.0, 0.0), (1L, 2L, 1.0, 1.0), (1L, 3L, 30.0, 30.0),
      (1L, 4L, 30.5, 30.5), (2L, 5L, 5.0, 5.0))
      .toDF("line", "seq", "x", "y")
    val kept = Ingest.thinVertices(pts, col("line"), Seq(col("seq")),
        col("x"), col("y"), tol = 10.0)
      .select("seq").orderBy("seq").collect().map(_.getLong(0))
    // seq 2 is within tol of seq 1 → dropped; seq 4 is near seq 3 but
    // is the line's LAST vertex → kept; singleton line 2 kept
    assert(kept.sameElements(Array(1L, 3L, 4L, 5L)))
  }

  test("pointInPolygon: ray cast classifies known points") {
    import spark.implicits._
    // (name, lon, lat, expected-inside) against the Africa ring:
    // Kinshasa inside; Madrid, Mumbai, mid-Atlantic outside
    val pts = Seq(("kinshasa", 15.3, -4.3, true), ("madrid", -3.7, 40.4, false),
      ("mumbai", 72.9, 19.1, false), ("atlantic", -30.0, 0.0, false),
      ("sahara", 10.0, 22.0, true))
      .toDF("name", "lon", "lat", "want")
    val got = pts.withColumn("inside",
      Ingest.pointInPolygon(col("lon"), col("lat"), Ingest.AfricaPolygon))
      .collect()
    got.foreach(r => assert(r.getAs[Boolean]("inside") == r.getAs[Boolean]("want"),
      s"${r.getAs[String]("name")} misclassified"))
  }

  test("point-in-polygon kernel is bit-identical to the unrolled composition " +
      "on the full events corpus (all zones)") {
    val lon = col("value") * 2 % 360.0 - 180.0
    val lat = (col("value") * 1.7 + col("user_id")) % 120.0 - 60.0
    val ev = Tables(spark, sf).events
    for ((name, poly) <- Seq(("africa", Ingest.AfricaPolygon))) {
      val fast = ev.withColumn("in",
        Ingest.pointInPolygon(lon, lat, poly))
      val slow = ev.withColumn("in",
        Ingest.pointInPolygonComposed(lon, lat, poly))
      val diff = fast.select(col("event_id"), col("in"))
        .exceptAll(slow.select(col("event_id"), col("in"))).count()
      assert(diff == 0, s"$name: $diff rows diverge from the composition")
      // and the kernel actually selects something on this corpus
      assert(fast.filter(col("in")).count() > 0, name)
    }
  }

  test("i30 zonal stats: zones partition every point, all zones populated") {
    val rows = Ingest.i30.fn(spark, sf).collect()
    val zones = rows.map(_.getAs[String]("zone")).toSet
    assert(zones == Set("atlantic_band", "africa", "indo_pacific", "outside"))
    assert(rows.map(_.getAs[Long]("n")).sum == Tables(spark, sf).events.count())
    rows.foreach { r =>
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("avg_v") + 1e-9)
      assert(r.getAs[Double]("avg_v") <= r.getAs[Double]("max_v") + 1e-9)
    }
  }

  test("i28 focal mean: neighborhood sizes bounded, stencil bounded by extremes") {
    val out = Ingest.i28.fn(spark, sf)
    assert(!physicalPlan(out).contains("NestedLoopJoin"),
      "stencil must be explode+agg, not a shifted self-join")
    val rows = out.collect()
    assert(rows.nonEmpty)
    val means = rows.map(_.getAs[Double]("cell_mean"))
    val (lo, hi) = (means.min, means.max)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_nb")
      assert(n >= 1 && n <= 9, s"cell (${r.get(0)},${r.get(1)}): n_nb=$n")
      val focal = r.getAs[Double]("focal")
      assert(focal >= lo - 1e-9 && focal <= hi + 1e-9,
        s"cell (${r.get(0)},${r.get(1)}): focal=$focal outside [$lo,$hi]")
    }
    // a dense grid has interior cells with the full 3x3 neighborhood
    assert(rows.exists(_.getAs[Long]("n_nb") == 9), "no interior cell found")
  }

  test("i29 gap-fill: dense per-key calendar, no null fills, first day observed") {
    val rows = Ingest.i29.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("filled")), s"null fill at ${r.get(0)}/${r.get(1)}")
      assert(Set(0, 1).contains(r.getAs[Int]("was_gap")))
    }
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("day").getTime)
      // span endpoints are real observations, and the calendar is dense
      assert(sorted.head.getAs[Int]("was_gap") == 0, s"user $u starts on a gap")
      assert(sorted.last.getAs[Int]("was_gap") == 0, s"user $u ends on a gap")
      val days = sorted.map(_.getAs[java.sql.Timestamp]("day").getTime)
      assert(days.zip(days.tail).forall { case (a, b) => b - a == 86400000L },
        s"user $u calendar has holes")
    }
    assert(rows.exists(_.getAs[Int]("was_gap") == 1), "corpus has no gaps to fill")
  }

  test("i27 pyramid: level-2 cell counts re-aggregate level 1 exactly") {
    val rows = Ingest.i27.fn(spark, sf).collect()
    val l1 = rows.filter(_.getAs[Int]("level") == 1)
    val l2 = rows.filter(_.getAs[Int]("level") == 2)
    assert(l1.nonEmpty && l2.nonEmpty && l2.length < l1.length)
    // the coarser level partitions the finer one: same total population
    assert(l1.map(_.getAs[Long]("n")).sum == l2.map(_.getAs[Long]("n")).sum)
    // every level-1 cell maps into an existing level-2 cell
    val l2Cells = l2.map(r => (r.getAs[Int]("yc"), r.getAs[Int]("xc"))).toSet
    l1.foreach { r =>
      val cell = (r.getAs[Int]("yc") / 4, r.getAs[Int]("xc") / 4)
      assert(l2Cells.contains(cell), s"orphan level-1 cell $cell")
    }
  }

  test("i31 percentile rank: bounded, extremes hit 0 and 1, years consistent") {
    val rows = Ingest.i31.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pr = r.getAs[Double]("pct_rank")
      assert(pr >= 0.0 && pr <= 1.0, s"pct_rank out of range: $pr")
    }
    rows.groupBy(r => (r.getAs[String]("cell"), r.getAs[Int]("cal_month")))
      .foreach { case (k, g) =>
        assert(g.length > 1, s"single-year climatology at $k")
        val prs = g.map(_.getAs[Double]("pct_rank"))
        assert(prs.min == 0.0, s"driest year at $k should rank 0")
        assert(math.abs(prs.max - 1.0) < 1e-6, s"wettest year at $k should rank 1")
        assert(g.forall(_.getAs[Long]("n_years") == g.length))
      }
  }

  test("i32 wind direction: degrees in [0, 360), consistent with the components") {
    val dirs = Ingest.i32.fn(spark, sf).collect()
    assert(dirs.nonEmpty)
    val speeds = Ingest.i02.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("wind_speed")).toMap
    dirs.foreach { r =>
      val d = r.getAs[Double]("wind_dir_deg")
      assert(d >= 0.0 && d < 360.0, s"direction $d out of range")
      // same (u, v) pair as i02: speeds must agree exactly
      assert(r.getAs[Double]("wind_speed") == speeds(r.getAs[Long]("user_id")))
    }
  }

  test("i34 z-order ranges are spatially tight and partition the points") {
    val rows = Ingest.i34.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_pts")).sum == Tables(spark, sf).events.count())
    // zrange = z >> 6 keeps 5+5 interleaved bits = an 8×8 cell block:
    // every range's bbox is bounded by the block size — the data-skipping
    // guarantee (a bbox query overlaps few ranges, min/max stats prune
    // the rest)
    val maxLonSpan = 8 * 360.0 / 256 // 11.25°
    val maxLatSpan = 8 * 180.0 / 256 // 5.625°
    rows.foreach { r =>
      val lonSpan = r.getAs[Double]("max_lon") - r.getAs[Double]("min_lon")
      val latSpan = r.getAs[Double]("max_lat") - r.getAs[Double]("min_lat")
      assert(lonSpan <= maxLonSpan + 1e-9,
        s"zrange ${r.getAs[Int]("zrange")} lon span $lonSpan exceeds the block bound")
      assert(latSpan <= maxLatSpan + 1e-9,
        s"zrange ${r.getAs[Int]("zrange")} lat span $latSpan exceeds the block bound")
    }
  }

  test("i35 linear interp matches i29's grid, blends inside the bracket") {
    val lin = Ingest.i35.fn(spark, sf).collect()
    val locf = Ingest.i29.fn(spark, sf).collect()
    assert(lin.length == locf.length, "i35 must build the same dense grid as i29")
    // on observed days the two fills agree (both are the observation)
    val locfByKey = locf.map(r =>
      (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("day")) -> r).toMap
    lin.filter(_.getAs[Int]("was_gap") == 0).foreach { r =>
      val twin = locfByKey((r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("day")))
      assert(twin.getAs[Int]("was_gap") == 0)
      assert(r.getAs[Double]("filled") == twin.getAs[Double]("filled"))
    }
    // every gap fill lies between its brackets (scan per user in day order)
    var gaps = 0
    lin.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rows) =>
      val seq = rows.sortBy(_.getAs[java.sql.Timestamp]("day").getTime)
      var i = 0
      while (i < seq.length) {
        if (seq(i).getAs[Int]("was_gap") == 1) {
          val prev = seq.take(i).reverse.find(_.getAs[Int]("was_gap") == 0).get
          val next = seq.drop(i + 1).find(_.getAs[Int]("was_gap") == 0).get
          val (lo, hi) = {
            val (a, b) = (prev.getAs[Double]("filled"), next.getAs[Double]("filled"))
            (math.min(a, b), math.max(a, b))
          }
          val v = seq(i).getAs[Double]("filled")
          assert(v >= lo - 1e-3 && v <= hi + 1e-3,
            s"gap fill $v escapes bracket [$lo, $hi]")
          gaps += 1
        }
        i += 1
      }
    }
    assert(gaps > 0, "corpus has no gaps — the interpolation path never ran")
  }

  test("i36 upsample equals a direct bilinear recompute from the coarse grid") {
    val up = Ingest.i36.fn(spark, sf).collect()
    assert(up.nonEmpty)
    // rebuild the coarse grid exactly as the operator sees it
    val coarse = Tables(spark, sf).events
      .select(col("user_id").cast("int").as("y"),
        (col("event_id") % 128).cast("int").as("x"),
        when(col("value") < 5.0, lit(null)).otherwise(col("value")).as("v"))
      .groupBy(expr("y div 4").cast("int").as("yc"), expr("x div 4").cast("int").as("xc"))
      .agg(count(col("v")).as("n"), sum(col("v")).as("s"))
      .filter(col("n") > 0).collect()
      .map(r => (r.getAs[Int]("yc"), r.getAs[Int]("xc")) ->
        BigDecimal(r.getAs[Double]("s") / r.getAs[Long]("n") + 1e-9)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    val wts = Seq((-1, 0.25), (0, 0.75), (1, 0.75), (2, 0.25))
    up.foreach { r =>
      val (fy, fx) = (r.getAs[Int]("fy"), r.getAs[Int]("fx"))
      val contribs = for {
        (dy, wy) <- wts; (dx, wx) <- wts
        // coarse (yc, xc) contributes to fine (2yc+dy, 2xc+dx)
        yc = (fy - dy) / 2 if (fy - dy) % 2 == 0 && fy - dy >= 0
        xc = (fx - dx) / 2 if (fx - dx) % 2 == 0 && fx - dx >= 0
        v <- coarse.get((yc, xc))
      } yield (wy * wx, v)
      assert(contribs.nonEmpty, s"fine cell ($fy, $fx) has no contributor")
      assert(contribs.length == r.getAs[Long]("n_src").toInt)
      val expect = contribs.map { case (w, v) => w * v }.sum / contribs.map(_._1).sum
      assert(math.abs(expect - r.getAs[Double]("up_v")) < 1e-3,
        s"($fy, $fx): expected $expect, got ${r.getAs[Double]("up_v")}")
    }
  }

  test("i37 terciles are equal-frequency and order-consistent per cell") {
    val rows = Ingest.i37.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("cell")).foreach { case (cell, g) =>
      val sizes = g.groupBy(_.getAs[Int]("tercile")).view.mapValues(_.length)
      // NTILE guarantee: bucket populations differ by at most one
      assert(sizes.values.max - sizes.values.min <= 1,
        s"cell $cell terciles not equal-frequency: $sizes")
      val sorted = g.sortBy(r => (r.getAs[Double]("v"), r.getAs[Int]("yr")))
      assert(sorted.head.getAs[Int]("tercile") == 1, s"$cell: driest year not 'below'")
      assert(sorted.last.getAs[Int]("tercile") == sizes.keys.max,
        s"$cell: wettest year not in the top tercile")
      // class boundaries are monotone in v
      assert(sorted.map(_.getAs[Int]("tercile")).sliding(2).forall(p => p(0) <= p(1)))
    }
    val labels = rows.map(r => r.getAs[Int]("tercile") -> r.getAs[String]("outlook")).distinct
    assert(labels.toSet.subsetOf(
      Set(1 -> "below_normal", 2 -> "near_normal", 3 -> "above_normal")))
  }

  test("i36/i37 plan shapes: stencil explode never joins, tercile is agg+window") {
    val i36Plan = Ingest.i36.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!i36Plan.contains("Join"),
      s"upsample must be explode + partial agg, not a shifted self-join:\n$i36Plan")
    assert(i36Plan.contains("partial_"),
      s"fine-cell sums must combine map-side:\n$i36Plan")
    val i37Plan = Ingest.i37.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!i37Plan.contains("Join"), s"tercile must not join:\n$i37Plan")
    assert("Exchange hashpartitioning".r.findAllIn(i37Plan).length <= 2,
      s"tercile is one agg shuffle + one window shuffle:\n$i37Plan")
  }

  test("i38 IDW equals a direct recompute; out-of-radius cells stay nodata") {
    // the tile bucketing must plan a HASH join on the tile key — never
    // a nested loop iterating every station per cell
    val i38Plan = Ingest.i38.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!i38Plan.contains("BroadcastNestedLoopJoin") && !i38Plan.contains("CartesianProduct"),
      s"IDW must bucket stations to tiles, not nested-loop them:\n$i38Plan")
    assert(i38Plan.contains("BroadcastHashJoin"),
      s"tiled stations should broadcast-hash-join the cell grid:\n$i38Plan")
    val got = Ingest.i38.fn(spark, sf).collect()
    assert(got.nonEmpty)
    // cells beyond every station's radius must be absent, not zero
    assert(got.length < 256, "radius cutoff produced a fully dense grid")
    val stations = Tables(spark, sf).events
      .filter(col("user_id") < 64)
      .groupBy((col("user_id") % 16).cast("int").as("sx"),
        expr("user_id div 16 % 16").cast("int").as("sy"))
      .agg(avg(col("value")).as("v")).collect()
      .map(r => (r.getAs[Int]("sx"), r.getAs[Int]("sy"),
        BigDecimal(r.getAs[Double]("v") + 1e-9)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
    got.foreach { r =>
      val (cx, cy) = (r.getAs[Double]("cx"), r.getAs[Double]("cy"))
      val near = stations.map { case (sx, sy, v) =>
        ((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy), v)
      }.filter(_._1 <= 16.0)
      assert(near.length == r.getAs[Long]("n_stations").toInt)
      val expect = near.map { case (d2, v) => v / d2 }.sum / near.map(1.0 / _._1).sum
      assert(math.abs(expect - r.getAs[Double]("idw_v")) < 1e-3,
        s"cell ($cx, $cy): expected $expect, got ${r.getAs[Double]("idw_v")}")
      // the blend can never escape the contributing stations' range
      assert(r.getAs[Double]("idw_v") >= near.map(_._2).min - 1e-3 &&
        r.getAs[Double]("idw_v") <= near.map(_._2).max + 1e-3)
    }
  }

  test("i15b tile-local coords stay in extent and match a direct mercator recompute") {
    val rows = Ingest.i15b.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val events = Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), col("value")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lx, ly) = (r.getAs[Int]("lx"), r.getAs[Int]("ly"))
      assert(lx >= 0 && lx <= 4096 && ly >= 0 && ly <= 4096)
      val (uid, v) = events(r.getAs[Long]("event_id"))
      val lon = uid * 1.7 - 95.0
      val lat = v * 0.35 - 80.0
      val fx = (lon + 180.0) / 360.0 * 4 - 1
      val fy = (1.0 - math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)) / math.Pi) / 2 * 4 - 1
      assert(lx == math.min(4096, math.max(0, math.floor(fx * 4096 + 1e-9).toInt)))
      assert(ly == math.min(4096, math.max(0, math.floor(fy * 4096 + 1e-9).toInt)))
      // in-envelope features quantize INSIDE the tile extent
      assert(fx >= 0.0 && fx < 1.0 && fy > 0.0 && fy <= 1.0)
    }
  }

  test("i39 marching squares: exact interpolated segments, deterministic saddle resolution") {
    import spark.implicits._
    def seg(r: org.apache.spark.sql.Row) =
      (r.getAs[Double]("level"), r.getAs[Int]("cx"), r.getAs[Int]("cy"),
        r.getAs[Int]("e1"), r.getAs[Double]("x1"), r.getAs[Double]("y1"),
        r.getAs[Double]("x2"), r.getAs[Double]("y2"))
    // one hot corner (bottom-right): the level-25 line cuts the bottom
    // and right edges at their interpolated midpoints
    val simple = Seq((0, 0, 10.0), (1, 0, 40.0), (0, 1, 10.0), (1, 1, 10.0))
      .toDF("px", "py", "v")
    val s1 = Ingest.contourSegments(simple, 25.0).collect()
    assert(s1.map(seg).toSeq == Seq((25.0, 0, 0, 0, 0.5, 0.0, 1.0, 0.5)))
    // saddle (opposite corners hot): all four edges cross; pairing in
    // edge order resolves it deterministically into TWO segments
    val saddle = Seq((0, 0, 40.0), (1, 0, 10.0), (0, 1, 10.0), (1, 1, 40.0))
      .toDF("px", "py", "v")
    val s2 = Ingest.contourSegments(saddle, 25.0).orderBy(col("e1")).collect()
    assert(s2.map(seg).toSeq == Seq(
      (25.0, 0, 0, 0, 0.5, 0.0, 1.0, 0.5),
      (25.0, 0, 0, 2, 0.5, 1.0, 0.0, 0.5)))
    // a flat cell spans no level → no segments; a 3-point grid has no
    // complete cell → no segments
    val flat = Seq((0, 0, 30.0), (1, 0, 30.0), (0, 1, 30.0), (1, 1, 30.0))
      .toDF("px", "py", "v")
    assert(Ingest.contourSegments(flat, 25.0).isEmpty)
    val sparse = Seq((0, 0, 10.0), (1, 0, 40.0), (0, 1, 10.0)).toDF("px", "py", "v")
    assert(Ingest.contourSegments(sparse, 25.0).isEmpty)
    // a steep cell crosses MULTIPLE levels: 10→90 spans 25, 50, 75
    val steep = Seq((0, 0, 10.0), (1, 0, 90.0), (0, 1, 10.0), (1, 1, 10.0))
      .toDF("px", "py", "v")
    val s3 = Ingest.contourSegments(steep, 25.0).collect()
    assert(s3.map(_.getAs[Double]("level")).sorted.toSeq == Seq(25.0, 50.0, 75.0))
    // every endpoint sits ON the cell boundary and interpolates inside it
    s3.foreach { r =>
      Seq((r.getAs[Double]("x1"), r.getAs[Double]("y1")),
        (r.getAs[Double]("x2"), r.getAs[Double]("y2"))).foreach { case (x, y) =>
        assert(x >= 0.0 && x <= 1.0 && y >= 0.0 && y <= 1.0)
        assert(x == 0.0 || x == 1.0 || y == 0.0 || y == 1.0,
          s"($x, $y) is not on a cell edge")
      }
    }
  }

  test("i39b polyline assembly: peak field chains into closed rings, gradient into an open path") {
    import spark.implicits._
    // 3×3 points, hot center: each of levels 25/50/75 cuts all four
    // cells once → one CLOSED 4-segment diamond ring per level
    val peak = (for (y <- 0 to 2; x <- 0 to 2)
      yield (x, y, if (x == 1 && y == 1) 95.0 else 10.0)).toDF("px", "py", "v")
    val rings = Ingest.contourPolylines(Ingest.contourSegments(peak, 25.0), 25.0)
      .orderBy(col("level")).collect()
    assert(rings.length == 3)
    assert(rings.map(_.getAs[Double]("level")).toSeq == Seq(25.0, 50.0, 75.0))
    rings.foreach { r =>
      assert(r.getAs[Long]("n_segs") == 4, s"ring should have 4 segments: $r")
      assert(r.getAs[Long]("n_open_ends") == 0 && r.getAs[Boolean]("closed"))
      assert(r.getAs[Double]("length") > 0.0)
    }
    // higher levels hug the peak tighter: ring length strictly decreases
    val lengths = rings.map(_.getAs[Double]("length"))
    assert(lengths.sliding(2).forall { case Array(a, b) => a > b })

    // 3×3 gradient in x: the level-25 line is a vertical chain of two
    // segments sharing one interior point — one OPEN feature
    val grad = (for (y <- 0 to 2; x <- 0 to 2)
      yield (x, y, Seq(10.0, 10.0, 40.0)(x))).toDF("px", "py", "v")
    val path = Ingest.contourPolylines(Ingest.contourSegments(grad, 25.0), 25.0).collect()
    assert(path.length == 1)
    assert(path.head.getAs[Long]("n_segs") == 2)
    assert(path.head.getAs[Long]("n_open_ends") == 2 && !path.head.getAs[Boolean]("closed"))
    assert(math.abs(path.head.getAs[Double]("length") - 2.0) < 1e-6)

    // two peaks far apart at the same level stay two separate features
    val twoPeaks = (for (y <- 0 to 2; x <- 0 to 6)
      yield (x, y, if (y == 1 && (x == 1 || x == 5)) 95.0 else 10.0))
      .toDF("px", "py", "v")
    val two = Ingest.contourPolylines(Ingest.contourSegments(twoPeaks, 25.0), 25.0)
      .filter(col("level") === 25.0).collect()
    assert(two.length == 2, s"expected two features, got ${two.toSeq}")
    assert(two.forall(r => r.getAs[Long]("n_segs") == 4 && r.getAs[Boolean]("closed")))
  }

  test("i41 z-scores have zero mean and unit sample deviation per climatology key") {
    val rows = Ingest.i41.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val byKey = rows.groupBy(r => (r.getString(0), r.getAs[Int]("cal_month")))
    var standardized = 0
    byKey.values.foreach { g =>
      val zs = g.flatMap(r => Option(r.getAs[java.lang.Double]("zscore")).map(_.toDouble))
      if (zs.length > 2) {
        standardized += 1
        assert(math.abs(zs.sum) <= 2e-4 * zs.length, s"mean not ~0: ${zs.toSeq}")
        val m = zs.sum / zs.length
        val sd = math.sqrt(zs.map(z => (z - m) * (z - m)).sum / (zs.length - 1))
        assert(math.abs(sd - 1.0) < 0.01, s"sample sd not ~1: $sd")
      }
      // degenerate climatologies must be NULL, never a division artifact
      if (g.length == 1) assert(g.head.isNullAt(g.head.fieldIndex("zscore")))
    }
    assert(standardized > 0, "no key had a real climatology")
  }

  test("i33 dekad product: anomaly = total - normal, sentinel only without history") {
    val rows = Ingest.i33.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[Double]("anomaly")
      // year-2000 dekads all have pre-2000 history on this corpus, so
      // the -9999 sentinel must never fire here
      assert(a != -9999.0, s"unexpected sentinel at ${r}")
      assert(r.getAs[Int]("dekad") >= 1 && r.getAs[Int]("dekad") <= 3)
      assert(r.getAs[Double]("dekad_total") > 0.0)
    }
  }

  test("i42 onset/cessation match a direct cumulative-fraction recompute") {
    import org.apache.spark.sql.functions.{col, month, year, round => fnRound, sum => fnSum, dayofmonth, when, lit}
    val rows = Ingest.i42.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // direct recompute: dekad totals in integer cents, ordered cumsum
    val dek = Tables(spark, sf).lineitem
      .groupBy(col("l_returnflag").as("cell"), year(col("l_shipdate")).as("yr"),
        ((month(col("l_shipdate")) - 1) * 3 +
          when(dayofmonth(col("l_shipdate")) <= 10, 1)
            .when(dayofmonth(col("l_shipdate")) <= 20, 2).otherwise(lit(3))).as("dk"))
      .agg(fnRound(fnRound(fnSum(col("l_quantity")), 2) * 100).cast("long").as("vc"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getInt(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      val deks = dek(key)
      val tot = deks.map(_._2).sum
      val cums = deks.scanLeft((0, 0L)) { case ((_, c), (dk, v)) => (dk, c + v) }.tail
      def first(num: Long): Int = cums.find { case (_, c) => c * 20 >= num * tot }.get._1
      assert(r.getInt(3) == first(3), s"onset mismatch at $key")
      assert(r.getInt(4) == first(17), s"cessation mismatch at $key")
      assert(r.getInt(3) <= r.getInt(4))
      assert(r.getInt(5) == r.getInt(4) - r.getInt(3))
    }
  }

  test("i43 QC flags: range, step and persistence trigger exactly as specified") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i43").toString
    val h = 3600L * 1000000000L
    val t0 = 1704067200L * 1000000000L
    Seq(
      (0L, t0, 1L, "obs", 50.0, "{}"),          // clean
      (1L, t0 + h, 1L, "obs", 200.0, "{}"),     // range + step = 3
      (2L, t0 + 2 * h, 1L, "obs", 49.0, "{}"),  // step = 2
      (3L, t0 + 3 * h, 1L, "obs", 49.0, "{}"),  // two identical: clean
      (4L, t0 + 4 * h, 1L, "obs", 49.0, "{}"),  // third identical: persistence = 4
      (5L, t0 + 5 * h, 1L, "obs", -5.0, "{}"))  // range = 1
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i43.fn(spark, dir).collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(got == Map(0L -> 0, 1L -> 3, 2L -> 2, 3L -> 0, 4L -> 4, 5L -> 1), s"$got")
    // real data: flags stay within the 3-bit mask
    Ingest.i43.fn(spark, sf).collect().foreach { r =>
      assert(r.getInt(3) >= 0 && r.getInt(3) <= 7)
    }
  }

  test("i45 SNHT finds the exact step-change day in a crafted series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i45").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L
    // station 1: clean step 10.0 → 50.0 after day 10; station 2: smooth ramp
    val events = (1 to 20).map { i =>
      (i.toLong, t0 + (i - 1) * day, 1L, "obs", if (i <= 10) 10.0 else 50.0, "{}")
    } ++ (1 to 20).map { i =>
      (100L + i, t0 + (i - 1) * day, 2L, "obs", i.toDouble, "{}")
    }
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i45.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getTimestamp(2).toLocalDateTime.toLocalDate, r.getDouble(3))))
      .toMap
    // the step series breaks exactly at the last low day
    assert(got(1L)._1 == java.time.LocalDate.of(2024, 1, 10), s"${got(1L)}")
    // a clean step's T_max is the theoretical maximum n (= 20); the ramp's is lower
    assert(got(1L)._2 > got(2L)._2, s"$got")
    assert(math.abs(got(1L)._2 - 20.0) < 0.1, s"step T_max ≈ n: ${got(1L)._2}")
  }

  test("i46 degree days: cap/base arithmetic, crossing day, never-crossing NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i46").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L // 2024-01-01 = epoch day 19723
    val events =
      // station 1: 15 days at 35.0 → capped to 30 → 20.00 dd/day;
      // the 200-dd trigger lands exactly on day 10 (2024-01-10)
      (1 to 15).map { i =>
        (i.toLong, t0 + (i - 1) * day, 1L, "obs", 35.0, "{}")
      } ++
        // station 2: below base → zero heat units, never crosses
        (1 to 15).map { i => (100L + i, t0 + (i - 1) * day, 2L, "obs", 5.0, "{}") } ++
        // station 3: two same-day readings average to 25.0 → 15.00 dd
        Seq((200L, t0, 3L, "obs", 20.0, "{}"), (201L, t0, 3L, "obs", 30.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i46.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("gdd_cents") == 15L * 2000)
    assert(got(1L).getAs[Int]("cross_day") == 19723 + 9)
    assert(got(2L).getAs[Long]("gdd_cents") == 0L)
    assert(got(2L).isNullAt(got(2L).fieldIndex("cross_day")))
    assert(got(3L).getAs[Int]("n_days") == 1 &&
      got(3L).getAs[Long]("gdd_cents") == 1500L)
  }

  test("i47 spell lengths: runs, calendar gaps break spells, threshold boundary") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i47").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L
    def ev(id: Long, d: Int, station: Long, v: Double) =
      (id, t0 + (d - 1) * day, station, "obs", v, "{}")
    val events =
      // station 1: 3 dry, 2 wet, 7 dry → cdd=7, cwd=2, one spell ≥5
      (1 to 3).map(i => ev(i, i, 1L, 5.0)) ++
        (4 to 5).map(i => ev(i, i, 1L, 50.0)) ++
        (6 to 12).map(i => ev(i, i, 1L, 10.0)) ++
        // station 2: 4 dry, a MISSING day, 4 dry — the calendar gap
        // breaks the run: cdd=4, no spell reaches 5
        (1 to 4).map(i => ev(100L + i, i, 2L, 0.0)) ++
        (6 to 9).map(i => ev(100L + i, i, 2L, 0.0)) ++
        // station 3: all wet
        (1 to 3).map(i => ev(200L + i, i, 3L, 99.0)) ++
        // station 4: exactly 20.00 is WET (strict <), 19.99 is dry
        Seq(ev(301L, 1, 4L, 20.0), ev(302L, 2, 4L, 19.99))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i47.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == ((7, 2, 1)), s"${got(1L)}")
    assert(got(2L) == ((4, 0, 0)), s"${got(2L)}")
    assert(got(3L) == ((0, 3, 0)), s"${got(3L)}")
    assert(got(4L) == ((1, 1, 0)), s"${got(4L)}")
  }

  test("i48 month completeness: lead/interior/tail gaps and the 3/5 verdict") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i48").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L // 2024-01-01; January has 31 days
    def ev(id: Long, d: Int, station: Long) =
      (id, t0 + (d - 1) * day, station, "obs", 1.0, "{}")
    val events =
      // station 1: days 1–28 → tail run of 3 missing → OK (3 ≤ 5, 3 ≤ 3)
      (1 to 28).map(i => ev(i, i, 1L)) ++
        // station 2: days 5–31 → lead run of 4 → max_gap 4 fails
        (5 to 31).map(i => ev(100L + i, i, 2L)) ++
        // station 3: 1–3 then 10–31 → interior run of 6 → n_missing 6 fails
        ((1 to 3) ++ (10 to 31)).map(i => ev(200L + i, i, 3L)) ++
        // station 4: complete month (two readings one day — DISTINCT days)
        ((1 to 31).map(i => ev(300L + i, i, 4L)) :+ ev(400L, 15, 4L))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i48.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5)))).toMap
    assert(got(1L) == ((28, 3, 3, true)), s"${got(1L)}")
    assert(got(2L) == ((27, 4, 4, false)), s"${got(2L)}")
    assert(got(3L) == ((25, 6, 6, false)), s"${got(3L)}")
    assert(got(4L) == ((31, 0, 0, true)), s"${got(4L)}")
  }

  test("i49 wind rose: sectors, speed classes, north wraparound, ppm shares") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i49").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L
    // one observation per (station, day): a click (u) + a view (v)
    def pair(st: Long, d: Int, u: Double, v: Double) = Seq(
      (st * 1000 + d * 2L, t0 + (d - 1) * day, st, "click", u, "{}"),
      (st * 1000 + d * 2L + 1, t0 + (d - 1) * day, st, "view", v, "{}"))
    val events =
      pair(1L, 1, 0.0, 10.0) ++   // dir 180° → sector 8 (S), speed 10 light
        pair(1L, 2, 10.0, 0.0) ++ // dir 270° → sector 12 (W), light
        pair(2L, 1, 30.0, 40.0) ++ // dir 216.87° → sector 10, speed 50 moderate
        pair(2L, 2, 0.0, -100.0)   // dir 0° (wraps) → sector 0 (N), strong
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i49.fn(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(8) == ((1L, 0L, 0L, 1L, 250000L)), s"${got.get(8)}")
    assert(got(12) == ((1L, 0L, 0L, 1L, 250000L)), s"${got.get(12)}")
    assert(got(10) == ((0L, 1L, 0L, 1L, 250000L)), s"${got.get(10)}")
    assert(got(0) == ((0L, 0L, 1L, 1L, 250000L)), s"${got.get(0)}")
    // corpus: sectors within 0..15, class counts partition the totals
    val rows = Ingest.i49.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 15)
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == r.getLong(4))
    }
  }

  test("i50 alert hysteresis: dead band holds state, episodes and lengths exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i50").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L
    def ev(id: Long, d: Int, st: Long, v: Double) =
      (id, t0 + (d - 1) * day, st, "obs", v, "{}")
    val events =
      // station 1: 0,0,ON,(dead band: stays ON),OFF,ON,ON →
      // 4 alert days, 2 episodes, longest 2
      Seq(10.0, 10.0, 30.0, 20.0, 10.0, 26.0, 27.0).zipWithIndex.map {
        case (v, i) => ev(i + 1L, i + 1, 1L, v)
      } ++
        // station 2: dead band from the start — default state is OFF
        Seq(ev(101L, 1, 2L, 20.0), ev(102L, 2, 2L, 24.99)) ++
        // station 3: always on
        (1 to 3).map(i => ev(200L + i, i, 3L, 25.0)) ++
        // station 4: exact boundaries — 25.00 turns ON, 15.00 HOLDS, 14.99 off
        Seq(ev(301L, 1, 4L, 25.0), ev(302L, 2, 4L, 15.0), ev(303L, 3, 4L, 14.99))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i50.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((4L, 2L, 2L)), s"${got(1L)}")
    assert(got(2L) == ((0L, 0L, 0L)), s"${got(2L)}")
    assert(got(3L) == ((3L, 1L, 3L)), s"${got(3L)}")
    assert(got(4L) == ((2L, 1L, 2L)), s"${got(4L)}")
  }

  test("i51 robust outliers: one typo flags itself without moving the gate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i51").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L
    def ev(id: Long, d: Int, st: Long, v: Double) =
      (id, t0 + (d - 1) * day, st, "obs", v, "{}")
    // station 1: 20 days oscillating 20/22 °C plus one 450.0 typo.
    // Median of the 21 days is 22.00 (the typo can't drag it), MAD is
    // 2.00; the typo's modified z is 0.6745·42800/200 ≈ 144 ≫ 3.5
    // while every real day stays at ≤ 0.68
    val events = (1 to 20).map(i =>
      ev(i, i, 1L, if (i % 2 == 0) 20.0 else 22.0)) :+ ev(99L, 21, 1L, 450.0)
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Ingest.i51.fn(spark, dir).collect()(0)
    assert(r.getLong(1) == 21L)
    assert(r.getDouble(2) == 2200.0, s"median ${r.getDouble(2)}")
    assert(r.getDouble(3) == 200.0, s"mad ${r.getDouble(3)}")
    assert(r.getLong(4) == 1L, s"outliers ${r.getLong(4)}")
    // corpus: outliers are always a strict minority per station
    Ingest.i51.fn(spark, sf).collect().foreach { c =>
      assert(c.getLong(4) * 2 < c.getLong(1),
        s"station ${c.getLong(0)} flags half its days")
    }
  }

  test("i52 heat index: Rothfusz above 80F, Steadman below, danger days") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i52").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L
    def pair(st: Long, d: Int, t: Double, r: Double) = Seq(
      (st * 1000 + d * 2L, t0 + (d - 1) * day, st, "click", t, "{}"),
      (st * 1000 + d * 2L + 1, t0 + (d - 1) * day, st, "view", r, "{}"))
    // station 1 day 1: T=100 R=50 → Rothfusz 118.32 (danger ≥ 103);
    // day 2: T=70 R=50 → Steadman 69.05. station 2: R clamps at 100.
    val events = pair(1L, 1, 100.0, 50.0) ++ pair(1L, 2, 70.0, 50.0) ++
      pair(2L, 1, 85.0, 250.0)
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i52.fn(spark, dir).collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_days") == 2L)
    assert(got(1L).getAs[Double]("max_hi") == 118.32)
    assert(math.abs(got(1L).getAs[Double]("mean_hi") - 93.69) < 0.02)
    assert(got(1L).getAs[Long]("n_danger") == 1L)
    // clamped humidity: T=85, R=100 → Rothfusz fires with R=100
    assert(got(2L).getAs[Double]("max_hi") > 100.0)
  }

  test("i53 forecast skill: persistence hits and Heidke exact on a crafted series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i53").toString
    // cell A: six years of strictly increasing totals → terciles
    // 1,1,2,2,3,3; persistence scores 3 hits in 5 pairs → HSS 0.4
    (0 until 6).map(i => ("A", java.sql.Date.valueOf(s"${2000 + i}-06-01"),
        10.0 * (i + 1)))
      .toDF("l_returnflag", "l_shipdate", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Ingest.i53.fn(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_years") == 5L)
    assert(r.getAs[Long]("n_hits") == 3L)
    assert(r.getAs[Long]("hit_ppm") == 600000L)
    assert(r.getAs[Double]("heidke") == 0.4)
    // corpus: hit rate within [0, 1e6]; Heidke within [-0.5, 1]
    Ingest.i53.fn(spark, sf).collect().foreach { c =>
      assert(c.getAs[Long]("hit_ppm") <= 1000000L)
      val hss = c.getAs[Double]("heidke")
      assert(hss >= -0.5 && hss <= 1.0, s"hss $hss")
    }
  }

  test("i54 nearest station: known geodesics, symmetry of the nearest pair") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i54").toString
    val t0 = 1704067200L * 1000000000L
    // station coords via (click−50, view−50): A=(0,0), B=(1,0), C=(0,10).
    // 1° of latitude ≈ 111.1949 km; C sits ~10× further out.
    def pair(st: Long, lat: Double, lon: Double) = Seq(
      (st * 10, t0, st, "click", lat + 50.0, "{}"),
      (st * 10 + 1, t0, st, "view", lon + 50.0, "{}"))
    val events = pair(1L, 0.0, 0.0) ++ pair(2L, 1.0, 0.0) ++ pair(3L, 0.0, 10.0)
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i54.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got(1L)._2 == 2L && got(2L)._2 == 1L, s"$got")
    assert(math.abs(got(1L)._1 - 111.1949) < 0.01, s"${got(1L)}")
    assert(got(1L)._1 == got(2L)._1) // symmetric pair, identical rounded km
    assert(got(3L)._2 == 1L) // C's nearest is the origin
    assert(got(3L)._1 > 1000.0)
    // corpus: nearest distance positive, neighbor differs from self
    Ingest.i54.fn(spark, sf).collect().foreach { c =>
      assert(c.getDouble(1) > 0.0 && c.getLong(2) != c.getLong(0))
    }
  }

  test("i55 IDW cross-validation: hand-computed leave-one-out predictions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i55").toString
    val t0 = 1704067200L * 1000000000L
    // station coords (x, y) from click/view means; the 'obs' reading is
    // chosen so the all-event mean v is exact: o = 3v − x − y
    def station(st: Long, x: Double, y: Double, v: Double) = Seq(
      (st * 10, t0, st, "click", x, "{}"),
      (st * 10 + 1, t0, st, "view", y, "{}"),
      (st * 10 + 2, t0, st, "obs", 3 * v - x - y, "{}"))
    val events = station(1L, 0.0, 0.0, 10.0) ++
      station(2L, 3.0, 0.0, 20.0) ++ station(3L, 0.0, 4.0, 30.0)
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i55.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L).getAs[Long]("n_neighbors") == 2L)
    // station 1: w = (1/9, 1/16), wv = (20/9, 30/16) → 23.6 exactly on grid
    assert(got(1L).getAs[Double]("pred") == 23.6, s"${got(1L)}")
    assert(got(1L).getAs[Double]("abs_err") == 13.6)
    assert(got(2L).getAs[Double]("pred") == 15.2941)
    assert(got(3L).getAs[Double]("pred") == 13.9024)
    // corpus: every validated station has neighbors and nonneg error
    Ingest.i55.fn(spark, sf).collect().foreach { c =>
      assert(c.getAs[Long]("n_neighbors") >= 1L)
      assert(c.getAs[Double]("abs_err") >= 0.0)
    }
  }

  test("i56 Hargreaves ET0: equator value hand-computed, zero diurnal range is zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i56").toString
    val day = 24L * 3600 * 1000000000L
    val t0 = 1704067200L * 1000000000L // 2024-01-01 → J = 1
    // clicks drive BOTH latitude (avg−50) and the daily extremes: station
    // 1 reads 40/60 on day 1 (Tmax−Tmin = 20) and 50 on day 2 (range 0)
    // → avg 50 → equator. At φ=0, J=1: ωs = π/2, Ra-term = cos δ, and
    // ET0(day 1) = 0.0023·(50+17.8)·√20·0.408·(1440/π·0.082·dr·cos δ)
    //            = 10.17 (2-dec grid); day 2 is exactly 0.
    val events = Seq(
      (1L, t0, 1L, "click", 40.0, "{}"),
      (2L, t0, 1L, "click", 60.0, "{}"),
      (3L, t0 + day, 1L, "click", 50.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i56.fn(spark, dir).collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_days") == 2L)
    assert(got(1L).getAs[Double]("max_et0") == 10.17, s"${got(1L)}")
    assert(got(1L).getAs[Double]("mean_et0") == 5.09, s"${got(1L)}") // (10.1709+0)/2
    // corpus: ET0 is non-negative and the max dominates the mean
    Ingest.i56.fn(spark, sf).collect().foreach { c =>
      val mean = c.getAs[Double]("mean_et0"); val max = c.getAs[Double]("max_et0")
      assert(mean >= 0.0 && max + 1e-9 >= mean, s"$c")
    }
  }

  test("i57 Mann-Kendall: monotone, constant, tied, and declining stations exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i57").toString
    val day = 86400L * 1000000000L // ns
    def ev(id: Long, st: Long, d: Int, v: Double) =
      (id, d * day, st, "obs", v, "{}")
    val events =
      (0 until 5).map(d => ev(10 + d, 1L, d, (d + 1) * 1.0)) ++   // rising
      (0 until 5).map(d => ev(20 + d, 2L, d, 2.0)) ++             // constant
      (0 until 3).map(d => ev(30 + d, 3L, d, (3 - d) * 1.0)) ++   // falling
      Seq(ev(40, 4L, 0, 1.0), ev(41, 4L, 1, 1.0), ev(42, 4L, 2, 2.0)) // tie
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i57.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("s_stat") == 10L && r1.getAs[Long]("n_days") == 5L)
    assert(math.abs(r1.getAs[Double]("z") - 9.0 / math.sqrt(300.0 / 18)) < 1e-3)
    assert(r1.getAs[Long]("sen_micro") == 100000000L, r1.toString)
    val r2 = got(2L) // all ties: Var(S) degenerates to 0 -> z undefined
    assert(r2.getAs[Long]("s_stat") == 0L && r2.isNullAt(r2.fieldIndex("z")) &&
      r2.getAs[Long]("sen_micro") == 0L, r2.toString)
    val r3 = got(3L) // decline: continuity correction from the other side
    assert(r3.getAs[Long]("s_stat") == -3L &&
      math.abs(r3.getAs[Double]("z") - (-2.0 / math.sqrt(66.0 / 18))) < 1e-3 &&
      r3.getAs[Long]("sen_micro") == -100000000L, r3.toString)
    val r4 = got(4L) // one tie group t=2: tadj = 18; lower-median slope
    assert(r4.getAs[Long]("s_stat") == 2L &&
      math.abs(r4.getAs[Double]("z") - 1.0 / math.sqrt(48.0 / 18)) < 1e-3 &&
      r4.getAs[Long]("sen_micro") == 50000000L, r4.toString)
    // corpus sanity: |S| <= n(n-1)/2 and z sign follows S
    Ingest.i57.fn(spark, sf).collect().foreach { r =>
      val n = r.getAs[Long]("n_days"); val s = r.getAs[Long]("s_stat")
      assert(math.abs(s) <= n * (n - 1) / 2, r.toString)
      if (!r.isNullAt(r.fieldIndex("z")) && math.abs(s) > 1)
        assert(r.getAs[Double]("z") * s >= 0, r.toString)
    }
  }

  test("i58 Rx5day: crafted peak window found, earliest end day on ties") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i58").toString
    val day = 86400L * 1000000000L
    // station 1: days 0..6 amounts 1,1,5,1,1,1,1 -> best 5-window ends
    // day 4 (sum 9), tie with window ending day 5? 5+1+1+1+1=9 too ->
    // earliest end day 4 wins. station 2: only 3 days -> dropped.
    val amounts = Seq(1.0, 1.0, 5.0, 1.0, 1.0, 1.0, 1.0)
    val events =
      amounts.zipWithIndex.map { case (v, d) =>
        (10L + d, d * day, 1L, "obs", v, "{}") } ++
      (0 until 3).map(d => (30L + d, d * day, 2L, "obs", 1.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Ingest.i58.fn(spark, dir).collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got(0)
    assert(r.getLong(0) == 1L && r.getAs[Long]("rx5day_cents") == 900L,
      r.toString)
    assert(r.getAs[java.sql.Timestamp]("end_day").toInstant ==
      java.time.Instant.parse("1970-01-05T00:00:00Z"), r.toString)
    // corpus: independent driver-side recompute of every station's max
    val daily = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(round(round(sum(col("value")), 2) * 100).cast("long").as("vc"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1)
    val expect2 = daily.flatMap { case (st, rows) =>
      val vs = rows.sortBy(_._2).map(_._3)
      if (vs.length < 5) None
      else Some(st -> vs.sliding(5).map(_.sum).max)
    }
    val got2 = Ingest.i58.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("rx5day_cents")).toMap
    assert(got2 == expect2, s"diff: ${(got2.toSet -- expect2.toSet).take(3)}")
  }

  test("i59 Savitzky-Golay: spike preserved vs moving average, constants fixed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i59").toString
    val day = 86400L * 1000000000L
    val spike = Seq(1.0, 1.0, 1.0, 8.0, 1.0, 1.0, 1.0)
    val events =
      spike.zipWithIndex.map { case (v, d) =>
        (10L + d, d * day, 1L, "obs", v, "{}") } ++
      (0 until 5).map(d => (30L + d, d * day, 2L, "obs", 1.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Ingest.i59.fn(spark, dir).collect()
    val st1 = got.filter(_.getLong(0) == 1L)
    assert(st1.length == 3, got.mkString(";")) // interior days 2..4 of 7
    val center = st1(1)
    // kernel at the peak: (-3+12)*100 + 17*800 + (12-3)*100 = 15400
    assert(center.getAs[Long]("sm35") == 15400L &&
      center.getAs[Double]("smoothed") == 4.4, center.toString)
    // SG preserves the peak (4.40) where the 5-point mean flattens to 2.40
    assert(center.getAs[Double]("smoothed") > 2.4 * 1.5)
    // the kernel sums to 35: a constant series is a fixed point
    got.filter(_.getLong(0) == 2L).foreach { r =>
      assert(r.getAs[Long]("sm35") == 3500L &&
        r.getAs[Double]("smoothed") == 1.0, r.toString)
    }
    // corpus: row count = sum over stations of max(n_days - 4, 0)
    val nDays = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("user_id"), to_date(col("ts")).as("d")).count()
      .groupBy(col("user_id")).count()
      .collect().map(r => math.max(r.getLong(1) - 4, 0L)).sum
    assert(graft.operators.Ingest.i59.fn(spark, sf).count() == nDays)
  }

  test("i60 phenology: stage days at exact GDD crossings, cold station all NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i60").toString
    val day = 86400L * 1000000000L
    // station 1: 2000 gdd-cents/day -> stages at cum 6000 (d2), 10000
    // (d4), 20000 (d9); station 2 never exceeds the 10.00 base
    val events =
      (0 until 12).map(d => (10L + d, d * day, 1L, "obs", 30.0, "{}")) ++
      (0 until 12).map(d => (40L + d, d * day, 2L, "obs", 5.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Ingest.i60.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Int]("emerge_day") == 2 && r1.getAs[Int]("flower_day") == 4 &&
      r1.getAs[Int]("mature_day") == 9 &&
      r1.getAs[Int]("emerge_to_flower") == 2 &&
      r1.getAs[Int]("flower_to_mature") == 5, r1.toString)
    val r2 = got(2L)
    assert(r2.isNullAt(r2.fieldIndex("emerge_day")) &&
      r2.isNullAt(r2.fieldIndex("flower_to_mature")), r2.toString)
    // corpus: stage order monotone wherever defined; i46 agreement at 200dd
    val i46cross = graft.operators.Ingest.i46.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.get(r.fieldIndex("cross_day"))).toMap
    graft.operators.Ingest.i60.fn(spark, sf).collect().foreach { r =>
      val e = r.get(r.fieldIndex("emerge_day"))
      val f = r.get(r.fieldIndex("flower_day"))
      val m = r.get(r.fieldIndex("mature_day"))
      if (e != null && f != null)
        assert(e.asInstanceOf[Int] <= f.asInstanceOf[Int], r.toString)
      if (f != null && m != null)
        assert(f.asInstanceOf[Int] <= m.asInstanceOf[Int], r.toString)
      assert(m == i46cross(r.getLong(0)), s"i46/i60 disagree: $r")
    }
  }

  test("i61 wind chill: formula exact, warm days excluded, calm wind floored") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i61").toString
    val day = 86400L * 1000000000L
    // station 1: T=-40, v=20; station 2: T=30 (warm -> excluded);
    // station 3: T=0, view 2 km/h -> floored to the 4.8 validity bound
    val events = Seq(
      (1L, 0L, 1L, "click", 10.0, "{}"), (2L, 0L, 1L, "view", 20.0, "{}"),
      (3L, day, 2L, "click", 80.0, "{}"), (4L, day, 2L, "view", 20.0, "{}"),
      (5L, day, 3L, "click", 50.0, "{}"), (6L, day, 3L, "view", 2.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def wct(t: Double, v: Double) =
      13.12 + 0.6215 * t - 11.37 * math.pow(v, 0.16) +
        0.3965 * t * math.pow(v, 0.16)
    val got = graft.operators.Ingest.i61.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 3L), got.toString)
    assert(math.abs(got(1L).getAs[Double]("min_wct") - wct(-40, 20)) < 1e-2)
    assert(math.abs(got(3L).getAs[Double]("min_wct") - wct(0, 4.8)) < 1e-2)
    // corpus: min <= mean, and cold-day counts bounded by the series
    graft.operators.Ingest.i61.fn(spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("min_wct") <= r.getAs[Double]("mean_wct") + 1e-9,
        r.toString)
    }
  }
}
