package graft.operators

import graft.functions.Calendar
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** B-family: ingestion/ETL operators re-expressing the reference's
  * semantics Spark-first (SURVEY.md §2.B). Each public method is the
  * reusable library operator; the QueryDefs below exercise it on the
  * driver test tables with a DuckDB oracle.
  */
object Ingest {

  // ---- library operators -------------------------------------------------

  /** Elementwise unit conversion — reference `convert_data`
    * (`ingest/utils.py:163`): value {add|subtract|multiply|divide}
    * constant. Pure Column expression (codegen'd). */
  def unitConvert(value: Column, operation: String, constant: Double): Column =
    operation match {
      case "multiply" => value * constant
      case "divide"   => value / constant
      case "add"      => value + constant
      case "subtract" => value - constant
      case other      => throw new IllegalArgumentException(s"Unknown operation: $other")
    }

  /** Config-driven conversion over a variable/type discriminator —
    * mirrors the reference's per-parameter `convert` configs. */
  def unitConvertByType(typeCol: Column, value: Column,
      config: Seq[(String, String, Double)]): Column =
    config.foldRight(value) { case ((tpe, op, const), acc) =>
      when(typeCol === tpe, unitConvert(value, op, const)).otherwise(acc)
    }

  /** Derived wind speed sqrt(u²+v²) — reference `calculate_wind_speed`
    * (`ingest/ecmwf_opendata/__init__.py:495`). */
  def windSpeed(u: Column, v: Column): Column = sqrt(u * u + v * v)

  /** Attach a units label as column metadata — the reference writes
    * `data_array.attrs["units"]` after conversion
    * (`ingest/__init__.py:62`); in Spark that is schema metadata, which
    * survives parquet round-trips. */
  def withUnits(c: Column, name: String, units: String): Column =
    c.as(name, new org.apache.spark.sql.types.MetadataBuilder()
      .putString("units", units).build())

  /** Climatology normal: per-key mean over a multi-year window keyed by
    * a calendar period — reference `get_month_normal`
    * (`ingest/chirps_rainfall/__init__.py:232`). The result is small
    * (|cells| × |periods|) and meant to be broadcast into [[anomaly]]. */
  def climatologyNormal(df: DataFrame, cellCols: Seq[Column], periodCol: Column,
      valueCol: Column): DataFrame =
    df.groupBy(cellCols :+ periodCol.as("cal_period"): _*)
      .agg(avg(valueCol).as("normal"), count(lit(1)).as("n_obs"))

  /** Anomaly = current − normal with sentinel masking on missing
    * normals — reference `chirps_rainfall/__init__.py:93`. `normals` is
    * broadcast: at 100 TB the normals table stays |cells|×12 rows while
    * the current side streams through map-side joined. */
  def anomaly(currentVal: Column, normalVal: Column, sentinel: Double = -9999.0): Column =
    when(normalVal.isNull, sentinel).otherwise(currentVal - normalVal)

  /** Incremental ingest: rows strictly newer than the watermark —
    * reference state machine `read_state`/`update_state`
    * (`ingest/utils.py:96`). The watermark predicate prunes date
    * partitions at the scan. */
  def afterWatermark(df: DataFrame, tsCol: Column, watermark: DataFrame): DataFrame = {
    // Missing history ⇒ full ingest, matching the reference's
    // read_state semantics (missing state → ingest all). Two shapes of
    // "missing": a NULL watermark value (tsCol > NULL would drop every
    // row) and an EMPTY watermark relation (an inner/cross join would
    // drop every row) — the left join + isNull handles both. The
    // watermark value joins under a reserved name so an input df that
    // itself has a `watermark` column can't make the filter ambiguous,
    // and a multi-row watermark relation fails fast instead of
    // silently duplicating every input row through the cross join.
    require(watermark.limit(2).count() <= 1,
      "watermark relation must have at most one row")
    val wm = watermark.select(watermark.columns.head).toDF("__graft_wm")
    df.join(broadcast(wm), lit(true), "left")
      .filter(col("__graft_wm").isNull || tsCol > col("__graft_wm"))
      .drop("__graft_wm")
  }

  /** Date-partition upsert: incoming slice replaces all existing rows
    * of the same date — reference `insert_update_data`
    * (`ingest/raster_vector.py:158`, delete-then-insert by date). At
    * scale this is a partition overwrite, never a full rewrite: the
    * anti-join broadcasts the (tiny) set of incoming dates. */
  def upsertByDate(existing: DataFrame, incoming: DataFrame, dateCol: String): DataFrame =
    upsertByKey(existing, incoming, Seq(dateCol))

  /** Generalized merge/upsert: incoming rows replace existing rows with
    * the same key (SCD type-1). Broadcast anti-join on the incoming key
    * set — a partition overwrite when keyed by partition, a MERGE when
    * keyed by business key. */
  def upsertByKey(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing
      .join(broadcast(incoming.select(keys.map(col): _*).distinct()), keys, "left_anti")
      .unionByName(incoming)

  /** Retention: keep only rows within `days` of the latest date —
    * reference `delete_past_data_files` (`ingest/utils.py:141`) /
    * `DELETE WHERE date < latest` (`raster_vector.py:170`). */
  def retainLastDays(df: DataFrame, tsCol: Column, days: Int): DataFrame = {
    val cutoff = df.agg(max(tsCol).as("latest"))
      .select((col("latest") - expr(s"INTERVAL $days DAYS")).as("cutoff"))
    df.join(broadcast(cutoff)).filter(tsCol >= col("cutoff")).drop("cutoff")
  }

  /** Latest record per key — the reference's `state.json` latest-update
    * semantics as a table compaction. One shuffle on the key. */
  def latestSnapshot(df: DataFrame, keys: Seq[Column], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Iso-interval classification — reference contour generation
    * `gdal_contour -i interval` (`ingest/utils.py:180`): the contour
    * level containing a value. */
  def contourLevel(value: Column, interval: Double): Column =
    (floor(value / interval) * interval).cast("double")

  /** Marching-squares contour SEGMENT construction — the reference's
    * actual contour product: `gdal_contour -i interval` emits per-level
    * LineString vector features (`ingest/utils.py:180`, consumed by
    * `handle_vector_generation`, `ecmwf_opendata/__init__.py:480`); i11
    * only classifies cells into iso bins. Input: a point grid
    * (px, py, v) with integer grid coordinates, one value per point.
    * Output: one row per contour segment per (cell, level) — the
    * iso-line of each level L = k·interval crossing a 2×2 cell,
    * linearly interpolated along its crossing edges.
    *
    * Distributed shape — map-side explode, never a 4-way shifted
    * self-join: each grid point explodes to the ≤4 cells it corners
    * (i28's stencil pattern), ONE partial-agg shuffle gathers the four
    * corners per cell, and levels, crossing edges, and segments are all
    * per-row array work from there. Sign changes around the 4-cycle
    * come in pairs, so a cell×level has 0, 2, or 4 crossing edges;
    * crossing edges are paired consecutively in edge order (bottom=0,
    * right=1, top=2, left=3), which for the two saddle cases is a
    * fixed deterministic resolution both engines replay identically.
    * A segment is keyed by its first crossing edge, so
    * (cell, level, e1) is a unique key with no ordinal window needed. */
  def contourSegments(points: DataFrame, interval: Double): DataFrame = {
    val corners = points
      .withColumn("d", explode(typedlit(Seq((0, 0), (1, 0), (0, 1), (1, 1)))))
      .select((col("px") - col("d._1")).as("cx"), (col("py") - col("d._2")).as("cy"),
        col("d._1").as("dx"), col("d._2").as("dy"), col("v"))
      .groupBy(col("cx"), col("cy"))
      .agg(
        max(when(col("dx") === 0 && col("dy") === 0, col("v"))).as("v00"),
        max(when(col("dx") === 1 && col("dy") === 0, col("v"))).as("v10"),
        max(when(col("dx") === 0 && col("dy") === 1, col("v"))).as("v01"),
        max(when(col("dx") === 1 && col("dy") === 1, col("v"))).as("v11"),
        count(lit(1)).as("nc"))
      .filter(col("nc") === 4) // marching squares needs all four corners
    val vs = Seq(col("v00"), col("v10"), col("v01"), col("v11"))
    val kmin = ceil(least(vs: _*) / interval)
    val kmax = floor(greatest(vs: _*) / interval)
    // Spark's sequence(a, b) DESCENDS when a > b: a cell whose value
    // span contains no level must yield NULL (explode drops the row),
    // never a misused descending sequence
    val lv = corners
      .withColumn("k", explode(when(kmin <= kmax, sequence(kmin, kmax))))
      .withColumn("L", col("k") * interval)
    // interpolated crossing point along an edge; the denominator is
    // NULL-guarded for ANSI — a zero span can only occur on an edge
    // that does not cross, whose point is never referenced
    def t(va: Column, vb: Column): Column =
      (col("L") - va) / when(vb === va, lit(null)).otherwise(vb - va)
    def in(vc: Column): Column = vc >= col("L")
    val cross = array(
      struct(lit(0).as("e"), (col("cx") + t(col("v00"), col("v10"))).as("x"),
        col("cy").cast("double").as("y"), (in(col("v00")) =!= in(col("v10"))).as("c")),
      struct(lit(1).as("e"), (col("cx") + 1).cast("double").as("x"),
        (col("cy") + t(col("v10"), col("v11"))).as("y"),
        (in(col("v10")) =!= in(col("v11"))).as("c")),
      struct(lit(2).as("e"), (col("cx") + t(col("v01"), col("v11"))).as("x"),
        (col("cy") + 1).cast("double").as("y"),
        (in(col("v01")) =!= in(col("v11"))).as("c")),
      struct(lit(3).as("e"), col("cx").cast("double").as("x"),
        (col("cy") + t(col("v00"), col("v01"))).as("y"),
        (in(col("v00")) =!= in(col("v01"))).as("c")))
    lv.withColumn("f", filter(cross, s => s.getField("c")))
      .withColumn("segs",
        when(size(col("f")) === 2,
          array(struct(col("f")(0).as("a"), col("f")(1).as("b"))))
          .when(size(col("f")) === 4, array(
            struct(col("f")(0).as("a"), col("f")(1).as("b")),
            struct(col("f")(2).as("a"), col("f")(3).as("b")))))
      .withColumn("s", explode(col("segs")))
      .select(col("L").as("level"), col("cx"), col("cy"),
        col("s.a.e").as("e1"),
        graft.QueryDef.roundBiased(col("s.a.x"), 4).as("x1"),
        graft.QueryDef.roundBiased(col("s.a.y"), 4).as("y1"),
        graft.QueryDef.roundBiased(col("s.b.x"), 4).as("x2"),
        graft.QueryDef.roundBiased(col("s.b.y"), 4).as("y2"))
  }

  /** Assemble [[contourSegments]] output into POLYLINE features — the
    * LineString level of the reference's contour product: segments
    * sharing an endpoint chain into one feature (`gdal_contour` emits
    * one LineString per connected iso-line). Marching squares gives
    * every crossing point degree ≤ 2, so features are simple open
    * chains or closed rings; each output row is one feature with its
    * segment count, open-end count (0 ⇔ ring), and total length.
    *
    * Distributed shape: connected components over the segment graph
    * (edges = segments meeting at a point, built by ONE self-join on
    * the endpoint key — degree ≤ 2 bounds it) resolved by the shared
    * [[Components.minLabel]] core: the bounded driver union-find gate
    * collapses grid-sized graphs in a single pass, and past the gate
    * the neighbor-min fast path hands over to alternating large-star /
    * small-star contraction (Kiveris et al. 2014) — O(log²) rounds on
    * the chain/ring components contours produce, where plain min-label
    * propagation would pay one round per hop of the contour length.
    * Per-round lineage is truncated by eager localCheckpoint (the d06
    * lesson). Segment lengths round to the 1e-6 grid and sum as
    * DECIMAL, so feature length is order-independent cross-engine;
    * the representative label is the MIN segment id — an integer
    * encoding of (level, cell, edge) the SQL oracle replays. */
  def contourPolylines(segments: DataFrame, interval: Double): DataFrame = {
    // deterministic integer segment id, replayable in SQL:
    // ((k·4096 + cy+1)·4096 + cx+1)·4 + e1, k = level/interval
    val sid = ((((col("level") / interval).cast("long") * 4096 +
      col("cy") + 1) * 4096 + col("cx") + 1) * 4 + col("e1")).as("sid")
    val segs = segments
      .select(sid, col("level"), col("x1"), col("y1"), col("x2"), col("y2"))
      .persist()
    // endpoints: two rows per segment keyed by (level, point); degree
    // ≤ 2 means the self-join below emits ≤ 2 edges per point
    val ep = segs.select(col("level"), col("x1").as("px"), col("y1").as("py"), col("sid"))
      .unionByName(segs.select(col("level"),
        col("x2").as("px"), col("y2").as("py"), col("sid")))
      .persist()
    val edges0 = ep.select(col("level"), col("px"), col("py"), col("sid").as("u"))
      .join(ep.select(col("level"), col("px"), col("py"), col("sid").as("v")),
        Seq("level", "px", "py"))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"))
    // components via the shared star-contraction core ([[Components]]);
    // isolated segments (no shared endpoint) stay their own
    // single-segment feature via the left join
    val comp = segs.select(col("sid"))
      .join(Components.minLabel(edges0).toDF("sid", "ctr"), Seq("sid"), "left")
      .select(col("sid"), coalesce(col("ctr"), col("sid")).as("comp"))
    // per-feature stats: segment lengths on the 1e-6 decimal grid sum
    // order-independently; an endpoint seen once in its component is an
    // open end (interior points appear twice)
    val segLen = graft.QueryDef
      .roundBiased(sqrt((col("x2") - col("x1")) * (col("x2") - col("x1")) +
        (col("y2") - col("y1")) * (col("y2") - col("y1"))), 6)
      .cast("decimal(18,6)")
    val lens = segs.join(comp, "sid")
      .groupBy(col("level"), col("comp"))
      .agg(count(lit(1)).as("n_segs"), sum(segLen).as("len"))
    val openEnds = ep.join(comp, "sid")
      .groupBy(col("level"), col("comp"), col("px"), col("py"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("level"), col("comp"))
      .agg(count(when(col("deg") === 1, 1)).as("n_open_ends"))
    lens.join(openEnds, Seq("level", "comp"))
      .select(col("level"), col("comp"), col("n_segs"), col("n_open_ends"),
        (col("n_open_ends") === 0).as("closed"),
        graft.QueryDef.roundBiased(col("len").cast("double"), 4).as("length"))
  }

  /** Bounding-box clip — reference `clip_to_africa`
    * (`ingest/__init__.py:50`) reduced to its relational core: a 2-D
    * range predicate that pushes down to the scan. */
  def bboxClip(df: DataFrame, x: Column, y: Column,
      xMin: Double, xMax: Double, yMin: Double, yMax: Double): DataFrame =
    df.filter(x >= xMin && x <= xMax && y >= yMin && y <= yMax)

  /** True point-in-polygon via ray casting (PNPOLY crossing parity)
    * against a literal polygon ring — the reference's actual
    * `clip_to_africa` (`ingest/__init__.py:49`) clips to a polygon
    * geometry, not a bbox; this is that semantics without a geo
    * library, as a pure Column expression (codegen'd, zero shuffle,
    * pushable). Horizontal edges never flip crossing parity and are
    * skipped, which also keeps the per-edge division ANSI-safe. */
  def pointInPolygon(x: Column, y: Column, poly: Seq[(Double, Double)]): Column = {
    // one compact codegen'd kernel (PointInPolygonExpr, bit-identical —
    // spec-pinned): the unrolled composition below duplicated the full
    // x/y chains into every edge branch, blowing the predicate past the
    // codegen size limits into interpreted eval (~4.5 µs/row measured)
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.PointInPolygonExpr(
      ColumnBridge.expression(x), ColumnBridge.expression(y), poly))
  }

  /** The unrolled Catalyst composition [[pointInPolygon]] replaced —
    * kept as the parity-spec reference. */
  private[graft] def pointInPolygonComposed(x: Column, y: Column,
      poly: Seq[(Double, Double)]): Column = {
    val n = poly.length
    val crossings = (0 until n).flatMap { k =>
      val (xi, yi) = poly(k)
      val (xj, yj) = poly((k + 1) % n)
      if (yj == yi) None
      else Some(when(
        (lit(yi) > y) =!= (lit(yj) > y) &&
          x < lit(xj - xi) * (y - lit(yi)) / lit(yj - yi) + lit(xi), 1).otherwise(0))
    }.reduce(_ + _)
    crossings % 2 === 1
  }

  /** Simplified Africa outline (lon, lat) for the clip demo — the
    * reference ships a shapefile; a literal ring keeps the operator
    * self-contained and lets the oracle inline the same vertices. */
  val AfricaPolygon: Seq[(Double, Double)] = Seq(
    (-17.5, 14.7), (-10.0, 31.0), (-5.5, 35.9), (10.5, 37.3), (32.0, 31.3),
    (43.5, 11.5), (51.3, 10.4), (40.6, -15.4), (31.4, -29.9), (17.9, -34.8),
    (11.7, -17.9), (8.7, 4.6), (-8.0, 4.3))

  /** Clamp coordinates to world extents — reference
    * `fix_linestring_within_world_extents` (`ingest/raster_vector.py:13`). */
  def clampLon(lon: Column): Column = greatest(least(lon, lit(180.0)), lit(-180.0))
  def clampLat(lat: Column): Column = greatest(least(lat, lit(90.0)), lit(-90.0))

  /** Per-line vertex thinning — the columnar analogue of the
    * reference's linestring simplification (`raster_vector.py:27`,
    * shapely `.simplify(0.001)` before insert): drop vertices closer
    * than `tol` to their predecessor, always keeping each line's first
    * and last vertex. One window pass (single shuffle on the line key);
    * the predecessor is the previous ORIGINAL vertex, which is the
    * standard streaming radial-distance approximation — true
    * Douglas–Peucker is recursive and not expressible as one columnar
    * pass. */
  def thinVertices(df: DataFrame, line: Column, order: Seq[Column],
      x: Column, y: Column, tol: Double): DataFrame = {
    val w = Window.partitionBy(line).orderBy(order.map(c => c.asc): _*)
    df.withColumn("__px", lag(x, 1).over(w))
      .withColumn("__py", lag(y, 1).over(w))
      .withColumn("__last", lead(order.head, 1).over(w).isNull)
      .filter(col("__px").isNull || col("__last") ||
        (x - col("__px")) * (x - col("__px")) +
          (y - col("__py")) * (y - col("__py")) >= tol * tol)
      .drop("__px", "__py", "__last")
  }

  /** Mosaic: union overlapping tiles, resolving overlap by highest tile
    * priority — reference MODIS mosaic (`ingest/modis/convertmodis.py`).
    * One shuffle on the cell key. */
  def mosaic(tiles: Seq[DataFrame], keyCols: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val unioned = tiles.reduce(_.unionByName(_))
    latestSnapshot(unioned, keyCols.map(col), orderCols.map(col))
  }

  /** Slippy-map tile envelope (z/x/y → lon/lat bounds) — reference MVT
    * tile function `ST_TileEnvelope` (`ingest/raster_vector.py:88`). */
  def tileEnvelope(z: Int, x: Int, y: Int): (Double, Double, Double, Double) = {
    val n = 1 << z
    def lon(i: Int): Double = i.toDouble / n * 360.0 - 180.0
    def lat(j: Int): Double = math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2.0 * j / n))))
    (lon(x), lon(x + 1), lat(y + 1), lat(y)) // (west, east, south, north)
  }

  // ---- QueryDefs over the driver test tables -----------------------------

  private val eventConvertConfig = Seq(
    ("click", "multiply", 1000.0),    // m  → mm   (cf. ecmwf tp)
    ("view", "subtract", 273.15),     // K  → degC (cf. ecmwf 2t)
    ("purchase", "divide", 100.0),    // Pa → hPa  (cf. ecmwf msl)
    ("signup", "add", 100.0))

  val i01 = QueryDef(
    "i01_unit_convert",
    """SELECT event_id, event_type,
      |  ROUND(CASE event_type
      |    WHEN 'click'    THEN value * 1000.0
      |    WHEN 'view'     THEN value - 273.15
      |    WHEN 'purchase' THEN value / 100.0
      |    WHEN 'signup'   THEN value + 100.0
      |    ELSE value END, 4) AS converted
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    // round(_, 4): the inputs are 2-decimal values, so every converted
    // result is exactly representable at 4 decimals — rounding at 2
    // would land on .xx5 halves where Spark (decimal-string HALF_UP)
    // and DuckDB (binary) disagree.
    Tables(spark, dir).events
      .select(col("event_id"), col("event_type"),
        round(unitConvertByType(col("event_type"), col("value"), eventConvertConfig), 4)
          .as("converted"))
      .orderBy(col("event_id"))
  }

  val i02 = QueryDef(
    "i02_derived_windspeed",
    """SELECT user_id, ROUND(SQRT(u * u + v * v) + 1e-9, 2) AS wind_speed FROM (
      |  SELECT user_id,
      |    AVG(value) FILTER (WHERE event_type = 'click') AS u,
      |    AVG(value) FILTER (WHERE event_type = 'view')  AS v
      |  FROM events GROUP BY user_id) t
      |WHERE u IS NOT NULL AND v IS NOT NULL
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(
        avg(when(col("event_type") === "click", col("value"))).as("u"),
        avg(when(col("event_type") === "view", col("value"))).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .select(col("user_id"),
        graft.QueryDef.roundBiased(windSpeed(col("u"), col("v")), 2).as("wind_speed"))
      .orderBy(col("user_id"))
  }

  val i03 = QueryDef(
    "i03_climatology_normal",
    """SELECT l_returnflag AS cell, CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS cal_period,
      |  ROUND(AVG(l_quantity) + 1e-9, 2) AS normal_qty, COUNT(*) AS n_obs
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val hist = Tables(spark, dir).lineitem
      .filter(col("l_shipdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
    climatologyNormal(hist, Seq(col("l_returnflag").as("cell")), month(col("l_shipdate")),
        col("l_quantity"))
      .select(col("cell"), col("cal_period"),
        graft.QueryDef.roundBiased(col("normal"), 2).as("normal_qty"), col("n_obs"))
      .orderBy(col("cell"), col("cal_period"))
  }

  val i04 = QueryDef(
    "i04_anomaly_nodata",
    """WITH normal AS (
      |  SELECT l_returnflag AS cell, CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS cal_period,
      |         AVG(l_quantity) AS normal
      |  FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01 00:00:00' GROUP BY 1, 2),
      |cur AS (
      |  SELECT l_returnflag AS cell, CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS cal_period,
      |         AVG(l_quantity) AS cur_qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
      |  GROUP BY 1, 2)
      |SELECT cur.cell AS cell, cur.cal_period AS cal_period,
      |  ROUND(CASE WHEN normal.normal IS NULL THEN -9999.0
      |             ELSE cur.cur_qty - normal.normal END + 1e-9, 2) + 0.0 AS anomaly
      |FROM cur LEFT JOIN normal
      |  ON cur.cell = normal.cell AND cur.cal_period = normal.cal_period
      |ORDER BY cell, cal_period""".stripMargin) { (spark, dir) =>
    val li = Tables(spark, dir).lineitem
    val y2000 = lit("2000-01-01 00:00:00").cast("timestamp")
    val normals = climatologyNormal(
      li.filter(col("l_shipdate") < y2000),
      Seq(col("l_returnflag").as("cell")), month(col("l_shipdate")), col("l_quantity"))
      .select(col("cell"), col("cal_period"), col("normal"))
    val current = li
      .filter(col("l_shipdate") >= y2000 &&
        col("l_shipdate") < lit("2001-01-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag").as("cell"), month(col("l_shipdate")).as("cal_period"))
      .agg(avg(col("l_quantity")).as("cur_qty"))
    current
      .join(broadcast(normals), Seq("cell", "cal_period"), "left")
      .select(col("cell"), col("cal_period"),
        graft.QueryDef.roundBiased(anomaly(col("cur_qty"), col("normal")), 2).as("anomaly"))
      .orderBy(col("cell"), col("cal_period"))
  }

  val i05 = QueryDef(
    "i05_pentad_key",
    """SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |       CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS mon,
      |  CASE WHEN EXTRACT(day FROM l_shipdate) <= 5 THEN 1
      |       WHEN EXTRACT(day FROM l_shipdate) <= 10 THEN 2
      |       WHEN EXTRACT(day FROM l_shipdate) <= 15 THEN 3
      |       WHEN EXTRACT(day FROM l_shipdate) <= 20 THEN 4
      |       WHEN EXTRACT(day FROM l_shipdate) <= 25 THEN 5
      |       ELSE 6 END AS pentad,
      |  COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .groupBy(
        year(col("l_shipdate")).as("yr"),
        month(col("l_shipdate")).as("mon"),
        Calendar.pentadOfMonth(col("l_shipdate")).as("pentad"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("yr"), col("mon"), col("pentad"))
  }

  val i06 = QueryDef(
    "i06_dekad_month_keys",
    """SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |       CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS mon,
      |  CASE WHEN EXTRACT(day FROM l_shipdate) <= 10 THEN 1
      |       WHEN EXTRACT(day FROM l_shipdate) <= 20 THEN 2
      |       ELSE 3 END AS dekad,
      |  CASE WHEN EXTRACT(month FROM l_shipdate) = 12 OR EXTRACT(month FROM l_shipdate) <= 2 THEN 'DJF'
      |       WHEN EXTRACT(month FROM l_shipdate) <= 5 THEN 'MAM'
      |       WHEN EXTRACT(month FROM l_shipdate) <= 8 THEN 'JJA'
      |       ELSE 'SON' END AS season,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .groupBy(
        year(col("l_shipdate")).as("yr"),
        month(col("l_shipdate")).as("mon"),
        Calendar.dekadOfMonth(col("l_shipdate")).as("dekad"),
        Calendar.season(col("l_shipdate")).as("season"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("yr"), col("mon"), col("dekad"), col("season"))
  }

  val i07 = QueryDef(
    "i07_watermark_increment",
    """SELECT o_orderkey, o_orderdate FROM orders
      |WHERE o_orderdate > COALESCE(
      |  (SELECT MAX(o_orderdate) FROM orders
      |   WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
      |  TIMESTAMP '0001-01-01 00:00:00')
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    // COALESCE to -infinity mirrors afterWatermark's missing-history ⇒
    // full-ingest contract, keeping the oracle aligned even on a
    // dataset slice with no pre-2000 orders.
    val orders = Tables(spark, dir).orders
    val watermark = orders
      .filter(col("o_orderdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
      .agg(max(col("o_orderdate")).as("watermark"))
    afterWatermark(orders, col("o_orderdate"), watermark)
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
  }

  val i08 = QueryDef(
    "i08_date_upsert",
    """WITH existing AS (
      |  SELECT l_orderkey, l_linenumber, DATE_TRUNC('day', l_shipdate) AS d, l_quantity
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '2000-06-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '2000-07-01 00:00:00'),
      |incoming AS (
      |  SELECT l_orderkey, l_linenumber, d, l_quantity * 2 AS l_quantity
      |  FROM existing WHERE d = TIMESTAMP '2000-06-15 00:00:00')
      |SELECT l_orderkey, l_linenumber, d, ROUND(l_quantity, 2) AS qty FROM (
      |  SELECT * FROM existing WHERE d NOT IN (SELECT d FROM incoming)
      |  UNION ALL SELECT * FROM incoming) u
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (spark, dir) =>
    val existing = Tables(spark, dir).lineitem
      .filter(col("l_shipdate") >= lit("2000-06-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("2000-07-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"),
        date_trunc("day", col("l_shipdate")).as("d"), col("l_quantity"))
    val incoming = existing
      .filter(col("d") === lit("2000-06-15 00:00:00").cast("timestamp"))
      .withColumn("l_quantity", col("l_quantity") * 2)
    upsertByDate(existing, incoming, "d")
      .select(col("l_orderkey"), col("l_linenumber"), col("d"),
        round(col("l_quantity"), 2).as("qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val i09 = QueryDef(
    "i09_retention",
    """SELECT o_orderkey, o_orderdate FROM orders
      |WHERE o_orderdate >= (SELECT MAX(o_orderdate) - INTERVAL 30 DAY FROM orders)
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    retainLastDays(Tables(spark, dir).orders, col("o_orderdate"), 30)
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
  }

  val i10 = QueryDef(
    "i10_latest_snapshot",
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (spark, dir) =>
    latestSnapshot(Tables(spark, dir).events,
        Seq(col("user_id")), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  val i11 = QueryDef(
    "i11_contour_bins",
    """SELECT CAST(FLOOR(value / 25) * 25 AS DOUBLE) AS level,
      |  COUNT(*) AS n, ROUND(AVG(value) + 1e-9, 2) AS avg_v
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).events
      .groupBy(contourLevel(col("value"), 25).as("level"))
      .agg(count(lit(1)).as("n"),
        graft.QueryDef.roundBiased(avg(col("value")), 2).as("avg_v"))
      .orderBy(col("level"))
  }

  val i12 = QueryDef(
    "i12_bbox_clip",
    """SELECT event_id, user_id, value FROM events
      |WHERE user_id >= 3 AND user_id <= 90 AND value >= 50.0 AND value <= 300.0
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    bboxClip(Tables(spark, dir).events, col("user_id"), col("value"), 3, 90, 50.0, 300.0)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }

  val i13 = QueryDef(
    "i13_coord_clamp",
    """SELECT event_id,
      |  ROUND(GREATEST(LEAST(value * 2 - 250.0, 180.0), -180.0), 2) AS lon,
      |  ROUND(GREATEST(LEAST(user_id * 1.5 - 100.0, 90.0), -90.0), 2) AS lat
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).events
      .select(col("event_id"),
        round(clampLon(col("value") * 2 - 250.0), 2).as("lon"),
        round(clampLat(col("user_id") * 1.5 - 100.0), 2).as("lat"))
      .orderBy(col("event_id"))
  }

  val i14 = QueryDef(
    "i14_mosaic_dedup",
    """WITH t1 AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity, 1 AS tile FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
      |t2 AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity, 2 AS tile FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00')
      |SELECT l_orderkey, l_linenumber, l_quantity, tile FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
      |                          ORDER BY tile DESC, l_quantity DESC) AS rn
      |  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2) u) v
      |WHERE rn = 1 ORDER BY l_orderkey, l_linenumber""".stripMargin) { (spark, dir) =>
    val li = Tables(spark, dir).lineitem
    def slice(from: String, to: String, tile: Int) = li
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), lit(tile).as("tile"))
    // order by (tile, quantity): the cell key is NOT unique at larger
    // SFs, so overlap resolution needs a total order to stay
    // deterministic across engines
    mosaic(
      Seq(slice("1997-01-01 00:00:00", "1998-01-01 00:00:00", 1),
          slice("1997-07-01 00:00:00", "1998-07-01 00:00:00", 2)),
      Seq("l_orderkey", "l_linenumber"), Seq("tile", "l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val i15 = QueryDef(
    "i15_tile_query",
    """SELECT event_id,
      |  ROUND(user_id * 1.7 - 95.0, 4) AS lon,
      |  ROUND(value * 0.35 - 80.0, 4) AS lat
      |FROM events
      |WHERE user_id * 1.7 - 95.0 >= -90.0
      |  AND user_id * 1.7 - 95.0 <  0.0
      |  AND value * 0.35 - 80.0 >= 0.0
      |  AND value * 0.35 - 80.0 <  66.51326044311186
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    // Tile (z=2, x=1, y=1): lon [-90, 0), lat [0, 66.51326044311186)
    // (web-mercator north bound; DuckDB lacks SINH so the oracle inlines
    // the closed-form constant).
    val (west, east, south, north) = tileEnvelope(z = 2, x = 1, y = 1)
    val lon = col("user_id") * 1.7 - 95.0
    val lat = col("value") * 0.35 - 80.0
    Tables(spark, dir).events
      .filter(lon >= west && lon < east && lat >= south && lat < north)
      .select(col("event_id"), round(lon, 4).as("lon"), round(lat, 4).as("lat"))
      .orderBy(col("event_id"))
  }

  /** i15b: MVT-shape tile payload — the geometry half of the
    * reference's MVT tile function (`raster_vector.py:88`
    * `ST_AsMVT(ST_AsMVTGeom(geom, ST_TileEnvelope(z,x,y)), ...)`):
    * features inside the (z,x,y) envelope (i15's range query)
    * transformed into the TILE-LOCAL integer coordinate space —
    * extent 4096, X from the tile's west edge, Y DOWN from the tile's
    * north edge in web-mercator — exactly what ST_AsMVTGeom computes
    * before protobuf encoding (the byte format itself is a declared
    * reduction: serialization, not computation). Map-only: the
    * envelope predicate pushes to the scan, the projection is
    * codegen'd arithmetic. The mercator TAN/LN evaluate within 1 ulp
    * on either engine, so the 4096-grid quantization carries the
    * repo's 1e-9 bias applied to FLOOR. */
  /** The (z=2, x=1, y=1) tile's features in TILE-LOCAL integer
    * coordinates (ST_AsMVTGeom's math) — shared by i15b (coordinate
    * parity) and i15c (byte encoding). */
  private def mvtTileLocal(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (west, east, south, north) = tileEnvelope(z = 2, x = 1, y = 1)
    val lon = col("user_id") * 1.7 - 95.0
    val lat = col("value") * 0.35 - 80.0
    // global web-mercator fraction × 2^z − tile index = tile-local [0,1]
    val fx = (lon + 180.0) / 360.0 * 4 - 1
    val fy = (lit(1.0) - log(tan(lit(math.Pi / 4) + radians(lat) / 2)) / math.Pi) / 2 * 4 - 1
    Tables(spark, dir).events
      .filter(lon >= west && lon < east && lat >= south && lat < north)
      .select(col("event_id"), lit(2).as("z"), lit(1).as("tx"), lit(1).as("ty"),
        greatest(least(floor(fx * 4096 + 1e-9), lit(4096)), lit(0)).cast("int").as("lx"),
        greatest(least(floor(fy * 4096 + 1e-9), lit(4096)), lit(0)).cast("int").as("ly"),
        round(col("value"), 2).as("el_val"))
  }

  val i15b = QueryDef(
    "i15b_mvt_tile_coords",
    """SELECT event_id, 2 AS z, 1 AS tx, 1 AS ty,
      |  CAST(GREATEST(LEAST(FLOOR(((user_id * 1.7 - 95.0 + 180.0) / 360.0 * 4 - 1)
      |    * 4096 + 1e-9), 4096), 0) AS INTEGER) AS lx,
      |  CAST(GREATEST(LEAST(FLOOR(((1 - LN(TAN(PI() / 4
      |    + RADIANS(value * 0.35 - 80.0) / 2)) / PI()) / 2 * 4 - 1)
      |    * 4096 + 1e-9), 4096), 0) AS INTEGER) AS ly,
      |  ROUND(value, 2) AS el_val
      |FROM events
      |WHERE user_id * 1.7 - 95.0 >= -90.0 AND user_id * 1.7 - 95.0 < 0.0
      |  AND value * 0.35 - 80.0 >= 0.0
      |  AND value * 0.35 - 80.0 < 66.51326044311186
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    mvtTileLocal(spark, dir).orderBy(col("event_id"))
  }

  /** i15c: the MVT tile BYTES — `ST_AsMVT` itself
    * (`raster_vector.py:88`), closing the one byte-level reduction
    * i15b declared: the tile's id-sorted point features protobuf-encode
    * into one binary blob per tile ([[graft.functions.MvtTileExpr]]:
    * varint/zigzag/length-delimited wire format, MVT spec 2.1, with
    * per-feature `el_val` attributes through the keys/values tables).
    *
    * Verified TWO ways: the DuckDB oracle recomputes the exact tile
    * byte length from varint-length arithmetic in pure SQL (every
    * field of the wire format contributes a CASE-computable size — a
    * single byte of drift in the encoder moves the total), and
    * MvtSpec DECODES the emitted bytes and round-trips every feature
    * id/coordinate/value. Scale shape: per-point work (transform +
    * struct assembly) is codegen'd map-side; the per-TILE encode runs
    * on aggregated rows (features per tile bounded by the 4096-extent
    * geometry — thousands of rows at planet scale, never per-point). */
  val i15c = QueryDef(
    "i15c_mvt_tile_bytes",
    """WITH pts AS (
      |  SELECT event_id,
      |    CAST(GREATEST(LEAST(FLOOR(((user_id * 1.7 - 95.0 + 180.0) / 360.0 * 4 - 1)
      |      * 4096 + 1e-9), 4096), 0) AS INTEGER) AS lx,
      |    CAST(GREATEST(LEAST(FLOOR(((1 - LN(TAN(PI() / 4
      |      + RADIANS(value * 0.35 - 80.0) / 2)) / PI()) / 2 * 4 - 1)
      |      * 4096 + 1e-9), 4096), 0) AS INTEGER) AS ly
      |  FROM events
      |  WHERE user_id * 1.7 - 95.0 >= -90.0 AND user_id * 1.7 - 95.0 < 0.0
      |    AND value * 0.35 - 80.0 >= 0.0
      |    AND value * 0.35 - 80.0 < 66.51326044311186),
      |o AS (SELECT *, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS i FROM pts),
      |fl AS (SELECT
      |    (CASE WHEN event_id < 128 THEN 1 WHEN event_id < 16384 THEN 2
      |          WHEN event_id < 2097152 THEN 3 WHEN event_id < 268435456 THEN 4
      |          ELSE 5 END) AS v_id,
      |    (CASE WHEN i < 128 THEN 1 WHEN i < 16384 THEN 2 ELSE 3 END) AS v_i,
      |    (CASE WHEN 2*lx < 128 THEN 1 WHEN 2*lx < 16384 THEN 2 ELSE 3 END) AS v_zx,
      |    (CASE WHEN 2*ly < 128 THEN 1 WHEN 2*ly < 16384 THEN 2 ELSE 3 END) AS v_zy
      |  FROM o),
      |agg AS (SELECT COUNT(*) AS nf,
      |    -- wrapped feature = tag + len + payload(9 + the 4 varints)
      |    SUM(11 + v_id + v_i + v_zx + v_zy) AS sfw
      |  FROM fl),
      |lay AS (SELECT nf, 2 + 8 + sfw + 8 + 11 * nf + 3 AS ll FROM agg WHERE nf > 0)
      |SELECT 2 AS z, 1 AS tx, 1 AS ty, CAST(nf AS BIGINT) AS n_features,
      |  CAST(1 + (CASE WHEN ll < 128 THEN 1 WHEN ll < 16384 THEN 2
      |            WHEN ll < 2097152 THEN 3 ELSE 4 END) + ll AS BIGINT) AS mvt_len
      |FROM lay""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.graft.ColumnBridge
    val bytes = ColumnBridge.column(graft.functions.MvtTileExpr(
      ColumnBridge.expression(col("pts"))))
    mvtTileLocal(spark, dir)
      .groupBy(col("z"), col("tx"), col("ty"))
      .agg(sort_array(collect_list(
        struct(col("event_id"), col("lx"), col("ly"), col("el_val")))).as("pts"))
      .select(col("z"), col("tx"), col("ty"),
        size(col("pts")).cast("long").as("n_features"),
        length(bytes).cast("long").as("mvt_len"))
      .orderBy(col("z"), col("tx"), col("ty"))
  }

  /** One-time materialization of the csv/json demo sources for i16 —
    * a QUERY must be read-only (it gets re-invoked by verify/bench
    * loops); writing inside it was both a side effect and wasted work.
    * Keyed per source dir, unique temp path (no hashCode collisions). */
  private val i16Sources = scala.collection.concurrent.TrieMap.empty[String, String]
  private def heterogeneousSources(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    i16Sources.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sources_").toString
      val base = Tables(spark, dir).events
        .select(col("event_id"), col("event_type"), col("value"))
      base.filter(col("event_id") % 4 === 0).write.mode("overwrite")
        .option("header", "true").csv(s"$tmp/csv")
      base.filter(col("event_id") % 4 === 1).write.mode("overwrite").json(s"$tmp/json")
      base.filter(col("event_id") % 4 === 2).write.mode("overwrite").orc(s"$tmp/orc")
      tmp
    })

  /** i16: heterogeneous-source union — the reference ingests GRIB,
    * NetCDF, GeoTIFF, HDF and normalizes to one layout; here csv +
    * json + orc + parquet slices of `events` are normalized and
    * unioned with an explicit schema (never inferred). Oracle: the
    * union equals the original table's aggregate. */
  val i16 = QueryDef(
    "i16_multi_source_union",
    """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val tmp = heterogeneousSources(spark, dir)
    val base = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val fromCsv = spark.read.schema(schema).option("header", "true").csv(s"$tmp/csv")
    val fromJson = spark.read.schema(schema).json(s"$tmp/json")
    val fromOrc = spark.read.schema(schema).orc(s"$tmp/orc")
    val fromParquet = base.filter(col("event_id") % 4 === 3)
    fromCsv.unionByName(fromJson).unionByName(fromOrc).unionByName(fromParquet)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .orderBy(col("event_type"))
  }

  /** i17: time-window aggregation (batch twin of the streaming st01). */
  val i17 = QueryDef(
    "i17_window_agg_batch",
    """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_v"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** i18: semi-structured column extraction — the reference's XML/JSON
    * catalog parsing (`dustforecast/__init__.py` xmltodict) as a
    * columnar JSON path op over `events.props`. */
  val i18 = QueryDef(
    "i18_json_extract",
    """SELECT CAST(JSON_EXTRACT(props, '$.k') AS INTEGER) AS k,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_v
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    // spread: the per-row JSON parse in the partial-agg stage ran
    // serial on the single-split scan (no key column is high-cardinality
    // here — round-robin)
    Tables.spread(Tables(spark, dir).events.select(col("props"), col("value")))
      .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .orderBy(col("k"))
  }

  /** Web-mercator tile coordinates of a lon/lat point at zoom z —
    * the inverse of [[tileEnvelope]] (assign rows to the tiles the MVT
    * function would serve, `raster_vector.py:88`). Same closed-form
    * double math as DuckDB, so tile ids hash-match. */
  def tileXY(lon: Column, lat: Column, z: Int): (Column, Column) = {
    val n = lit((1 << z).toDouble)
    val latRad = radians(lat)
    val x = floor((lon + 180.0) / 360.0 * n).cast("int")
    val y = floor((lit(1.0) - log(tan(latRad) + lit(1.0) / cos(latRad)) / math.Pi) / 2.0 * n)
      .cast("int")
    (x, y)
  }

  /** i19: tile assignment at z=4 over synthetic lon/lat from events. */
  val i19 = QueryDef(
    "i19_tile_assign",
    """WITH pts AS (
      |  SELECT GREATEST(LEAST(value * 2 - 250.0, 179.9), -179.9) AS lon,
      |         GREATEST(LEAST(user_id * 1.5 - 100.0, 85.0), -85.0) AS lat
      |  FROM events)
      |SELECT CAST(FLOOR((lon + 180.0) / 360.0 * 16.0) AS INTEGER) AS tile_x,
      |  CAST(FLOOR((1.0 - LN(TAN(RADIANS(lat)) + 1.0 / COS(RADIANS(lat))) / PI()) / 2.0 * 16.0) AS INTEGER) AS tile_y,
      |  COUNT(*) AS n
      |FROM pts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val lon = greatest(least(col("value") * 2 - 250.0, lit(179.9)), lit(-179.9))
    val lat = greatest(least(col("user_id") * 1.5 - 100.0, lit(85.0)), lit(-85.0))
    val (tx, ty) = tileXY(lon, lat, 4)
    Tables(spark, dir).events
      .groupBy(tx.as("tile_x"), ty.as("tile_y"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("tile_x"), col("tile_y"))
  }

  /** i20: unpivot (melt) — the reference's per-variable extraction
    * loop (`for param in params: ds[param.variable]`,
    * `ecmwf_opendata/__init__.py:300`) is exactly wide→long unpivot.
    * Round-trips q18's pivot back to long form. */
  val i20 = QueryDef(
    "i20_unpivot",
    """WITH wide AS (
      |  SELECT user_id,
      |    ROUND(COALESCE(SUM(value) FILTER (WHERE event_type = 'click'), 0), 2) AS click,
      |    ROUND(COALESCE(SUM(value) FILTER (WHERE event_type = 'purchase'), 0), 2) AS purchase
      |  FROM events GROUP BY user_id)
      |SELECT user_id, variable, sum_v FROM (
      |  SELECT user_id, 'click' AS variable, click AS sum_v FROM wide
      |  UNION ALL
      |  SELECT user_id, 'purchase' AS variable, purchase AS sum_v FROM wide) u
      |ORDER BY user_id, variable""".stripMargin) { (spark, dir) =>
    val wide = Tables(spark, dir).events
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "purchase"))
      .agg(sum(col("value")))
      .select(col("user_id"),
        round(coalesce(col("click"), lit(0)), 2).as("click"),
        round(coalesce(col("purchase"), lit(0)), 2).as("purchase"))
    wide.unpivot(
        Array(col("user_id")), Array(col("click"), col("purchase")),
        "variable", "sum_v")
      .orderBy(col("user_id"), col("variable"))
  }

  /** i21: key-merge upsert — an incoming snapshot updates matching
    * customers, everything else passes through. */
  val i21 = QueryDef(
    "i21_merge_upsert",
    """WITH incoming AS (
      |  SELECT c_custkey, c_name, ROUND(c_acctbal + 100.0, 2) AS bal
      |  FROM customer WHERE c_custkey % 10 = 0)
      |SELECT c_custkey, c_name, bal FROM (
      |  SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS bal FROM customer
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM incoming)
      |  UNION ALL SELECT c_custkey, c_name, bal FROM incoming) u
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val existing = Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("bal"))
    val incoming = Tables(spark, dir).customer
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal") + 100.0, 2).as("bal"))
    upsertByKey(existing, incoming, Seq("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Single-pass column profile (completeness + cardinality) — the
    * validation step a pipeline runs before publishing a slice. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"))) :+
      count(lit(1)).as("n")
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"), col("n"),
        col(s"nn_$c").as("n_nonnull"), col(s"nd_$c").as("n_distinct"))): _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column"))
  }

  /** i22: data-quality profile of the orders table. */
  val i22 = QueryDef(
    "i22_data_profile",
    """SELECT col AS "column", n, nn AS n_nonnull, nd AS n_distinct FROM (
      |  SELECT 'o_custkey' AS col, COUNT(*) AS n, COUNT(o_custkey) AS nn,
      |         COUNT(DISTINCT o_custkey) AS nd FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
      |         COUNT(DISTINCT o_orderstatus) FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
      |         COUNT(DISTINCT o_totalprice) FROM orders) u
      |ORDER BY col""".stripMargin) { (spark, dir) =>
    profile(Tables(spark, dir).orders, Seq("o_custkey", "o_orderstatus", "o_totalprice"))
  }

  /** i23: true polygon clip — ray-cast point-in-polygon against the
    * literal Africa ring, with the identical per-edge crossing tests
    * inlined into the DuckDB oracle (same constants, same operation
    * order, so the parity decision is bit-identical on both engines). */
  val i23: QueryDef = {
    val poly = AfricaPolygon
    val edgeSql = poly.indices.flatMap { k =>
      val (xi, yi) = poly(k)
      val (xj, yj) = poly((k + 1) % poly.length)
      if (yj == yi) None
      else Some(s"(CASE WHEN ($yi > lat) <> ($yj > lat)" +
        s" AND lon < ${xj - xi} * (lat - $yi) / ${yj - yi} + $xi THEN 1 ELSE 0 END)")
    }.mkString("(", "\n      | + ", ")")
    QueryDef(
      "i23_polygon_clip",
      s"""WITH pts AS (
         |  SELECT event_id, value * 2 % 360.0 - 180.0 AS lon,
         |         (value * 1.7 + user_id) % 120.0 - 60.0 AS lat
         |  FROM events)
         |SELECT event_id, ROUND(lon, 4) AS lon, ROUND(lat, 4) AS lat
         |FROM pts
         |WHERE $edgeSql % 2 = 1
         |ORDER BY event_id""".stripMargin) { (spark, dir) =>
      // synthetic world-spanning coordinates from `value` alone —
      // user_id's range collapses at small SFs and would miss the ring
      val lon = col("value") * 2 % 360.0 - 180.0
      val lat = (col("value") * 1.7 + col("user_id")) % 120.0 - 60.0
      Tables(spark, dir).events
        .filter(pointInPolygon(lon, lat, poly))
        .select(col("event_id"), round(lon, 4).as("lon"), round(lat, 4).as("lat"))
        .orderBy(col("event_id"))
    }
  }

  /** i24: PENTAD-keyed climatology normal + anomaly — the reference's
    * actual CHIRPS pentad product (`get_pentad_normal`,
    * `chirps_rainfall/__init__.py:278` feeding the anomaly at `:93`);
    * i03/i04 cover only the month-keyed variant. Same broadcast-normals
    * shape with the (month, pentad) composite calendar key. */
  val i24 = QueryDef(
    "i24_pentad_normal_anomaly",
    """WITH keyed AS (
      |  SELECT l_returnflag AS cell,
      |         CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS mon,
      |         CASE WHEN EXTRACT(day FROM l_shipdate) <= 5 THEN 1
      |              WHEN EXTRACT(day FROM l_shipdate) <= 10 THEN 2
      |              WHEN EXTRACT(day FROM l_shipdate) <= 15 THEN 3
      |              WHEN EXTRACT(day FROM l_shipdate) <= 20 THEN 4
      |              WHEN EXTRACT(day FROM l_shipdate) <= 25 THEN 5
      |              ELSE 6 END AS pentad,
      |         l_shipdate, l_quantity
      |  FROM lineitem),
      |normal AS (
      |  SELECT cell, mon, pentad, AVG(l_quantity) AS normal
      |  FROM keyed WHERE l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
      |  GROUP BY 1, 2, 3),
      |cur AS (
      |  SELECT cell, mon, pentad, AVG(l_quantity) AS cur_qty
      |  FROM keyed
      |  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
      |  GROUP BY 1, 2, 3)
      |SELECT cur.cell AS cell, cur.mon AS mon, cur.pentad AS pentad,
      |  ROUND(CASE WHEN normal.normal IS NULL THEN -9999.0
      |             ELSE cur.cur_qty - normal.normal END + 1e-9, 2) + 0.0 AS anomaly
      |FROM cur LEFT JOIN normal
      |  ON cur.cell = normal.cell AND cur.mon = normal.mon AND cur.pentad = normal.pentad
      |ORDER BY cell, mon, pentad""".stripMargin) { (spark, dir) =>
    val li = Tables(spark, dir).lineitem
    val y2000 = lit("2000-01-01 00:00:00").cast("timestamp")
    val keys = Seq(month(col("l_shipdate")).as("mon"),
      Calendar.pentadOfMonth(col("l_shipdate")).as("pentad"))
    val normals = li.filter(col("l_shipdate") < y2000)
      .groupBy(col("l_returnflag").as("cell") +: keys: _*)
      .agg(avg(col("l_quantity")).as("normal"))
    val current = li
      .filter(col("l_shipdate") >= y2000 &&
        col("l_shipdate") < lit("2001-01-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag").as("cell") +: keys: _*)
      .agg(avg(col("l_quantity")).as("cur_qty"))
    current
      .join(broadcast(normals), Seq("cell", "mon", "pentad"), "left")
      .select(col("cell"), col("mon"), col("pentad"),
        graft.QueryDef.roundBiased(anomaly(col("cur_qty"), col("normal")), 2).as("anomaly"))
      .orderBy(col("cell"), col("mon"), col("pentad"))
  }

  /** i25: XML catalog extraction — the reference's dust-forecast feed
    * parses an XML catalog per cycle (`dustforecast/__init__.py` via
    * xmltodict); Spark 4 has native `from_xml`. Each event is rendered
    * to a deterministic XML record and parsed back through a typed
    * schema; the filter and every output column come from the PARSED
    * struct, so the oracle (computed from the raw columns) proves the
    * XML round-trip is lossless. */
  val i25 = QueryDef(
    "i25_xml_extract",
    """SELECT event_id, event_type AS typ, ROUND(value, 2) AS v
      |FROM events WHERE event_id % 50 = 0
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val xmlSchema = StructType(Seq(
      StructField("id", LongType), StructField("typ", StringType),
      StructField("v", DoubleType)))
    val xml = concat(
      lit("<item><id>"), col("event_id"), lit("</id><typ>"), col("event_type"),
      lit("</typ><v>"), col("value"), lit("</v></item>"))
    // spread + persist-when-spread (the q10 pattern): the pushed-down
    // filter inlines the from_xml parse below any exchange, so the
    // whole corpus re-parses serially on the single-split scan; the
    // cache boundary pins the parse above the spread, parsed ONCE in
    // parallel. At real corpus widths nothing is spread or cached and
    // the scan-side filter-parse prunes as before.
    val raw = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))
    val spreadEv = Tables.spread(raw, "event_id")
    val parsed = spreadEv.select(from_xml(xml, xmlSchema).as("x"))
    val src = if (spreadEv eq raw) parsed else parsed.persist()
    src.filter(col("x.id") % 50 === 0)
      .select(col("x.id").as("event_id"), col("x.typ").as("typ"),
        round(col("x.v"), 2).as("v"))
      .orderBy(col("event_id"))
  }

  /** i26: linestring vertex thinning over synthetic per-user tracks
    * (line = user_id, vertex order = event time). The distance test
    * compares raw doubles with identical operation order on both
    * engines, so the keep/drop decision hash-matches. */
  val i26 = QueryDef(
    "i26_vertex_thin",
    """WITH pts AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         value % 50.0 AS x, (value * 1.3) % 50.0 AS y
      |  FROM events),
      |lagged AS (
      |  SELECT *, LAG(x) OVER w AS px, LAG(y) OVER w AS py,
      |         LEAD(ts) OVER w AS nxt
      |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id, ROUND(x + 1e-9, 4) AS x, ROUND(y + 1e-9, 4) AS y
      |FROM lagged
      |WHERE px IS NULL OR nxt IS NULL
      |   OR (x - px) * (x - px) + (y - py) * (y - py) >= 100.0
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val pts = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value") % 50.0).as("x"), (col("value") * 1.3 % 50.0).as("y"))
    thinVertices(pts, col("user_id"), Seq(col("ts"), col("event_id")),
        col("x"), col("y"), tol = 10.0)
      .select(col("user_id"), col("event_id"),
        graft.QueryDef.roundBiased(col("x"), 4).as("x"),
        graft.QueryDef.roundBiased(col("y"), 4).as("y"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** i27: regrid / coarsen — the reference's raster downsampling as
    * its relational core: every published product goes through
    * `rio.to_raster(driver="COG")` (`ingest/utils.py:72`), whose COG
    * driver builds exactly this overview pyramid internally; here
    * cells aggregate into
    * 4×4 coarser cells with nodata masked out of the mean, and the
    * NEXT pyramid level re-aggregates the (sum, count) pairs of the
    * previous level — never rescanning the raw grid. That is the
    * 100 TB overview-pyramid shape: level k+1 costs one shuffle of
    * level k (16× smaller each step), all partial-agg combined; means
    * are derived from the carried sums at the end, so coarser levels
    * stay exact without a second pass. */
  /** Synthetic (yc, xc, n, sum_v) cell grid from events — the i27/i28
    * raster stand-in: y = station row, x = hashed column, values under
    * the detection limit masked as nodata. */
  private def eventCells(events: DataFrame): DataFrame =
    events.select(
        col("user_id").cast("int").as("y"),
        (col("event_id") % 128).cast("int").as("x"),
        when(col("value") < 5.0, lit(null)).otherwise(col("value")).as("v"))
      .groupBy(expr("y div 4").cast("int").as("yc"),
        expr("x div 4").cast("int").as("xc"))
      .agg(count(col("v")).as("n"), sum(col("v")).as("sum_v"))

  val i27 = QueryDef(
    "i27_regrid_coarsen",
    """WITH g AS (
      |  SELECT CAST(user_id AS INTEGER) AS y, CAST(event_id % 128 AS INTEGER) AS x,
      |         CASE WHEN value < 5.0 THEN NULL ELSE value END AS v
      |  FROM events),
      |l1 AS (SELECT CAST(y // 4 AS INTEGER) AS yc, CAST(x // 4 AS INTEGER) AS xc,
      |       COUNT(v) AS n, SUM(v) AS sum_v FROM g GROUP BY 1, 2),
      |l2 AS (SELECT CAST(yc // 4 AS INTEGER) AS yc, CAST(xc // 4 AS INTEGER) AS xc,
      |       SUM(n) AS n, SUM(sum_v) AS sum_v FROM l1 GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT 1 AS level, yc, xc, CAST(n AS BIGINT) AS n,
      |         ROUND(sum_v / n + 1e-9, 4) AS avg_v FROM l1 WHERE n > 0
      |  UNION ALL
      |  SELECT 2, yc, xc, CAST(n AS BIGINT), ROUND(sum_v / n + 1e-9, 4)
      |  FROM l2 WHERE n > 0)
      |ORDER BY level, yc, xc""".stripMargin) { (spark, dir) =>
    // persisted: the level-1 and level-2 branches both consume the cell
    // grid, and the non-identical subtrees defeat ReuseExchange — without
    // the cache the raw events scan (the 100 TB side) runs twice. The
    // cached set is grid-sized, orders of magnitude below the input.
    val l1 = eventCells(Tables(spark, dir).events).persist()
    val l2 = l1.groupBy(expr("yc div 4").cast("int").as("yc2"),
        expr("xc div 4").cast("int").as("xc2"))
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"))
      .withColumnsRenamed(Map("yc2" -> "yc", "xc2" -> "xc"))
    def finish(df: DataFrame, level: Int) = df.filter(col("n") > 0)
      .select(lit(level).as("level"), col("yc"), col("xc"), col("n").cast("long").as("n"),
        graft.QueryDef.roundBiased(col("sum_v") / col("n"), 4).as("avg_v"))
    finish(l1, 1).unionAll(finish(l2, 2))
      .orderBy(col("level"), col("yc"), col("xc"))
  }

  /** i28: focal (neighborhood) mean — the raster stencil op (smoothing,
    * gap-aware interpolation) behind the reference's gridded products
    * (the COG resampler at `ingest/utils.py:72` applies the same
    * neighborhood kernels when building overviews): each cell's
    * smoothed value is the mean of the 3×3 neighborhood's cell means,
    * absent/nodata neighbors excluded.
    *
    * The distributed stencil shape: every cell EXPLODES to the 9 target
    * cells it contributes to (map-side ×9 row expansion, no join), then
    * one partial-agg shuffle keyed by target cell — never a 9-way
    * self-join of shifted grid copies, and at 100 TB the expansion
    * streams while the shuffle carries one row per (cell, contribution).
    * Cell means are rounded before the stencil on BOTH engines so the
    * focal inputs are bit-identical. */
  val i28 = QueryDef(
    "i28_focal_mean",
    """WITH g AS (
      |  SELECT CAST(user_id AS INTEGER) AS y, CAST(event_id % 128 AS INTEGER) AS x,
      |         CASE WHEN value < 5.0 THEN NULL ELSE value END AS v
      |  FROM events),
      |cells AS (SELECT CAST(y // 4 AS INTEGER) AS yc, CAST(x // 4 AS INTEGER) AS xc,
      |          COUNT(v) AS n, SUM(v) AS sum_v FROM g GROUP BY 1, 2),
      |cm AS (SELECT yc, xc, ROUND(sum_v / n + 1e-9, 4) AS m FROM cells WHERE n > 0),
      |nb AS (SELECT cm.yc + dy.d AS yt, cm.xc + dx.d AS xt, cm.m
      |       FROM cm, (VALUES (-1), (0), (1)) dy(d), (VALUES (-1), (0), (1)) dx(d)),
      |f AS (SELECT yt, xt, CAST(COUNT(*) AS BIGINT) AS n_nb,
      |      ROUND(AVG(m) + 1e-9, 4) AS focal FROM nb GROUP BY yt, xt)
      |SELECT cm.yc, cm.xc, cm.m AS cell_mean, f.n_nb, f.focal
      |FROM f JOIN cm ON cm.yc = f.yt AND cm.xc = f.xt
      |ORDER BY yc, xc""".stripMargin) { (spark, dir) =>
    // persisted for the same reason as i27: cm feeds both the stencil
    // explode and the final join-back; one raw scan, not two
    val cm = eventCells(Tables(spark, dir).events)
      .filter(col("n") > 0)
      .select(col("yc"), col("xc"),
        graft.QueryDef.roundBiased(col("sum_v") / col("n"), 4).as("m"))
      .persist()
    val offs = for { dy <- Seq(-1, 0, 1); dx <- Seq(-1, 0, 1) } yield (dy, dx)
    val nb = cm.select(
        explode(array(offs.map { case (dy, dx) =>
          struct((col("yc") + dy).as("yt"), (col("xc") + dx).as("xt")) }: _*)).as("t"),
        col("m"))
      .select(col("t.yt").as("yt"), col("t.xt").as("xt"), col("m"))
    val f = nb.groupBy(col("yt"), col("xt"))
      .agg(count(lit(1)).as("n_nb"),
        graft.QueryDef.roundBiased(avg(col("m")), 4).as("focal"))
    cm.join(f, cm("yc") === f("yt") && cm("xc") === f("xt"))
      .select(cm("yc"), cm("xc"), cm("m").as("cell_mean"), f("n_nb"), f("focal"))
      .orderBy(col("yc"), col("xc"))
  }

  /** i29: resample + gap-fill — the time-series regularization the
    * reference needs before any climatology math: its period cursors
    * (`ingest/dateutils.py` pentad/dekad successors) assume a DENSE
    * calendar, while station feeds skip days. Per key,
    * observations collapse to a daily grid spanning that key's own
    * [min, max] range, missing days materialize as explicit rows, and
    * values forward-fill (last observation carried forward) with a
    * `was_gap` provenance flag.
    *
    * Scale shape: per-day means are one partial-agg shuffle; the dense
    * grid explodes map-side from the per-key (min, max) span — never a
    * calendar cross-join; the fill is one window per key ordered by
    * day. Grid size is bounded by keys × span-days regardless of raw
    * event volume. */
  val i29 = QueryDef(
    "i29_gapfill",
    """WITH obs AS (
      |  SELECT user_id, DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
      |         ROUND(AVG(value) + 1e-9, 4) AS v
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM obs GROUP BY user_id),
      |grid AS (SELECT user_id, UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS day
      |         FROM span),
      |joined AS (SELECT g.user_id, g.day, o.v FROM grid g
      |           LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day)
      |SELECT user_id, day,
      |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
      |  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INTEGER) AS was_gap
      |FROM joined ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    // persisted: obs feeds both the span aggregation and the grid join
    val obs = Tables(spark, dir).events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(graft.QueryDef.roundBiased(avg(col("value")), 4).as("v"))
      .persist()
    val grid = obs.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("v"), ignoreNulls = true).over(w).as("filled"),
        when(col("v").isNull, 1).otherwise(0).as("was_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** i30: zonal statistics — the raster⋈vector classic behind every
    * per-region climate product (the step after the reference's
    * region clip, `clip_to_africa`, `ingest/__init__.py:49`: aggregate
    * the gridded field inside each admin/zone polygon): points
    * classify to their FIRST matching zone
    * via the i23 ray-cast (a pure codegen'd Column chain over literal
    * rings — zone geometry is broadcast-as-literals, the 100 TB side
    * never joins), then one partial-agg shuffle keyed by zone. The
    * DuckDB oracle inlines the identical per-edge crossing tests, so
    * classification parity is bit-exact. */
  val i30: QueryDef = {
    // two synthetic non-axis-aligned quads next to the Africa ring —
    // overlapping coverage resolved by first-match order, like rasterio
    // burning zones in order
    val zones: Seq[(String, Seq[(Double, Double)])] = Seq(
      ("atlantic_band", Seq((-150.0, -40.0), (-40.0, -55.0), (-25.0, 30.0), (-140.0, 45.0))),
      ("africa", AfricaPolygon),
      ("indo_pacific", Seq((60.0, -45.0), (165.0, -30.0), (150.0, 50.0), (75.0, 35.0))))
    def edgeSql(poly: Seq[(Double, Double)]): String =
      poly.indices.flatMap { k =>
        val (xi, yi) = poly(k)
        val (xj, yj) = poly((k + 1) % poly.length)
        if (yj == yi) None
        else Some(s"(CASE WHEN ($yi > lat) <> ($yj > lat)" +
          s" AND lon < ${xj - xi} * (lat - $yi) / ${yj - yi} + $xi THEN 1 ELSE 0 END)")
      }.mkString("(", " + ", ")")
    val zoneSql = zones.map { case (name, poly) =>
      s"WHEN ${edgeSql(poly)} % 2 = 1 THEN '$name'"
    }.mkString("CASE ", " ", " ELSE 'outside' END")
    QueryDef(
      "i30_zonal_stats",
      s"""WITH pts AS (
         |  SELECT value, value * 2 % 360.0 - 180.0 AS lon,
         |         (value * 1.7 + user_id) % 120.0 - 60.0 AS lat
         |  FROM events)
         |SELECT $zoneSql AS zone,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ROUND(AVG(value) + 1e-9, 4) AS avg_v,
         |  ROUND(MIN(value), 2) AS min_v, ROUND(MAX(value), 2) AS max_v
         |FROM pts GROUP BY 1 ORDER BY zone""".stripMargin) { (spark, dir) =>
      val lon = col("value") * 2 % 360.0 - 180.0
      val lat = (col("value") * 1.7 + col("user_id")) % 120.0 - 60.0
      val zone = zones.foldRight(lit("outside")) { case ((name, poly), rest) =>
        when(pointInPolygon(lon, lat, poly), name).otherwise(rest)
      }
      // foldRight builds WHEN z1 .. WHEN z2 .. ELSE outside in declared
      // order — same first-match resolution as the oracle's CASE
      Tables(spark, dir).events
        .groupBy(zone.as("zone"))
        .agg(count(lit(1)).as("n"),
          graft.QueryDef.roundBiased(avg(col("value")), 4).as("avg_v"),
          round(min(col("value")), 2).as("min_v"),
          round(max(col("value")), 2).as("max_v"))
        .orderBy(col("zone"))
    }
  }

  /** i31: climatology PERCENTILE rank — the drought-index shape (SPI
    * proxy) downstream of the reference's CHIRPS normals: instead of
    * anomaly = current − mean (i04/i24), each year's value is ranked
    * within its (cell, calendar-month) climatology DISTRIBUTION —
    * "this January is drier than 83% of Januaries". Reference
    * analogue: the month-keyed climatology of `get_month_normal`
    * (`ingest/chirps_rainfall/__init__.py:232`), upgraded from the
    * mean to the full distribution.
    *
    * Plan: one partial-agg shuffle to the (cell, year, month) totals,
    * then one window shuffle keyed (cell, month) — each climatology
    * distribution (≤ #years rows/key) ranks entirely inside its own
    * partition, so at 100 TB the rank never sees more than the key's
    * few-dozen yearly values. Yearly totals are rounded to the exact
    * 2-decimal grid BEFORE ranking so float summation order can't
    * flip a rank tie across engines. */
  val i31 = QueryDef(
    "i31_climate_percentile",
    """WITH monthly AS (
      |  SELECT l_returnflag AS cell,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |    CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS cal_month,
      |    ROUND(SUM(l_quantity), 2) AS v
      |  FROM lineitem GROUP BY 1, 2, 3)
      |SELECT cell, yr, cal_month, v,
      |  ROUND(PERCENT_RANK() OVER (PARTITION BY cell, cal_month ORDER BY v) + 1e-9, 4) AS pct_rank,
      |  CAST(COUNT(*) OVER (PARTITION BY cell, cal_month) AS BIGINT) AS n_years
      |FROM monthly ORDER BY cell, cal_month, yr""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("cell"), col("cal_month")).orderBy(col("v"))
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("cell"),
        year(col("l_shipdate")).as("yr"), month(col("l_shipdate")).as("cal_month"))
      .agg(round(sum(col("l_quantity")), 2).as("v"))
      .select(col("cell"), col("yr"), col("cal_month"), col("v"),
        graft.QueryDef.roundBiased(percent_rank().over(w), 4).as("pct_rank"),
        count(lit(1)).over(Window.partitionBy(col("cell"), col("cal_month"))).as("n_years"))
      .orderBy(col("cell"), col("cal_month"), col("yr"))
  }

  /** i41: climatology Z-SCORE — the PARAMETRIC standardized-anomaly
    * index next to i31's percentile rank (the SPI family's two faces:
    * empirical rank vs fitted-distribution deviation): each (cell,
    * year, month) total standardized against the cell's own
    * calendar-month climatology, z = (v − μ)/σ.
    *
    * Cross-engine exactness without a builtin STDDEV: μ and σ derive
    * from (n, Σv, Σv²) — the totals are exact 2-decimal sums, so both
    * moment sums are EXACT in doubles regardless of summation order
    * and the whole z expression is bit-identical on both engines.
    * One partial-agg shuffle to monthly totals + one unordered window
    * per (cell, month) key; degenerate climatologies (single year or
    * zero variance) yield NULL rather than a division blow-up. */
  val i41 = QueryDef(
    "i41_climate_zscore",
    """WITH monthly AS (
      |  SELECT l_returnflag AS cell,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |    CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS cal_month,
      |    ROUND(SUM(l_quantity), 2) AS v
      |  FROM lineitem GROUP BY 1, 2, 3),
      |st AS (
      |  SELECT *, COUNT(*) OVER w AS n, SUM(v) OVER w AS s1, SUM(v * v) OVER w AS s2
      |  FROM monthly WINDOW w AS (PARTITION BY cell, cal_month))
      |SELECT cell, yr, cal_month, v, CAST(n AS BIGINT) AS n_years,
      |  ROUND(CASE WHEN n > 1 AND s2 - s1 * s1 / n > 0
      |    THEN (v - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1)) END + 1e-9, 4) + 0.0
      |    AS zscore
      |FROM st ORDER BY cell, cal_month, yr""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("cell"), col("cal_month"))
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("cell"),
        year(col("l_shipdate")).as("yr"), month(col("l_shipdate")).as("cal_month"))
      .agg(round(sum(col("l_quantity")), 2).as("v"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(col("v")).over(w))
      .withColumn("s2", sum(col("v") * col("v")).over(w))
      .select(col("cell"), col("yr"), col("cal_month"), col("v"),
        col("n").as("n_years"),
        graft.QueryDef.roundBiased(
          when(col("n") > 1 && col("s2") - col("s1") * col("s1") / col("n") > 0,
            (col("v") - col("s1") / col("n")) /
              sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))),
          4).as("zscore"))
      .orderBy(col("cell"), col("cal_month"), col("yr"))
  }

  /** i42: rainy-season ONSET / CESSATION detection — the seasonal
    * monitoring product downstream of the reference's dekadal rainfall
    * family (TAMSAT/CHIRPS dekad totals, `ingest/tamsat/__init__.py`,
    * `chirps_rainfall/__init__.py`): per (cell, year), the first dekad
    * where the season's cumulative rainfall reaches 15% of the annual
    * total (onset) and 85% (cessation) — the fraction-of-cumulative
    * definition used in operational rainfall-calendar monitoring
    * (Liebmann et al. 2012's anomalous-accumulation family).
    *
    * Cross-engine exactness: dekad totals round to the 2-decimal grid,
    * then convert to INTEGER CENTS — the running and annual sums are
    * integer arithmetic, so the threshold comparisons (c·20 ≥ 3·tot,
    * c·20 ≥ 17·tot) can never flip on a float ulp. Plan: one
    * partial-agg shuffle to (cell, yr, dekad) totals, then one window
    * keyed (cell, yr) — ≤36 rows per key regardless of data volume —
    * and the per-(cell, yr) final agg. */
  val i42 = QueryDef(
    "i42_season_onset",
    """WITH dek AS (
      |  SELECT l_returnflag AS cell,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |    CAST((EXTRACT(month FROM l_shipdate) - 1) * 3 +
      |      CASE WHEN EXTRACT(day FROM l_shipdate) <= 10 THEN 1
      |           WHEN EXTRACT(day FROM l_shipdate) <= 20 THEN 2
      |           ELSE 3 END AS INTEGER) AS dk,
      |    CAST(ROUND(ROUND(SUM(l_quantity), 2) * 100) AS BIGINT) AS vc
      |  FROM lineitem GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT *, SUM(vc) OVER (PARTITION BY cell, yr ORDER BY dk) AS c,
      |    SUM(vc) OVER (PARTITION BY cell, yr) AS tot
      |  FROM dek)
      |SELECT cell, yr,
      |  ROUND(MAX(tot) / 100.0, 2) AS annual_total,
      |  MIN(CASE WHEN c * 20 >= 3 * tot THEN dk END) AS onset_dk,
      |  MIN(CASE WHEN c * 20 >= 17 * tot THEN dk END) AS cessation_dk,
      |  MIN(CASE WHEN c * 20 >= 17 * tot THEN dk END) -
      |    MIN(CASE WHEN c * 20 >= 3 * tot THEN dk END) AS season_len
      |FROM cum GROUP BY cell, yr ORDER BY cell, yr""".stripMargin) { (spark, dir) =>
    val dk = ((month(col("l_shipdate")) - 1) * 3 +
      Calendar.dekadOfMonth(col("l_shipdate"))).cast("int")
    val wOrd = Window.partitionBy(col("cell"), col("yr")).orderBy(col("dk"))
    val wAll = Window.partitionBy(col("cell"), col("yr"))
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("cell"),
        year(col("l_shipdate")).as("yr"), dk.as("dk"))
      .agg(round(round(sum(col("l_quantity")), 2) * 100).cast("long").as("vc"))
      .withColumn("c", sum(col("vc")).over(wOrd))
      .withColumn("tot", sum(col("vc")).over(wAll))
      .groupBy(col("cell"), col("yr"))
      .agg(round(max(col("tot")) / 100.0, 2).as("annual_total"),
        min(when(col("c") * 20 >= col("tot") * 3, col("dk"))).as("onset_dk"),
        min(when(col("c") * 20 >= col("tot") * 17, col("dk"))).as("cessation_dk"),
        (min(when(col("c") * 20 >= col("tot") * 17, col("dk"))) -
          min(when(col("c") * 20 >= col("tot") * 3, col("dk")))).as("season_len"))
      .orderBy(col("cell"), col("yr"))
  }

  /** i43: observation QUALITY-CONTROL flags — the WMO station-data QC
    * battery (WMO-No. 1269 automatic checks) the reference's ingest
    * path presumes upstream: each reading gets a bitmask of
    * (1) RANGE — outside the variable's plausible physical limits,
    * (2) STEP — jump from the previous reading above the maximum
    * plausible tendency, (3) PERSISTENCE — three identical consecutive
    * readings (a stuck sensor flatlines; real signal varies).
    *
    * Plan: ONE window shuffle on the station key (two lags share the
    * frame), everything else map-side — at 100 TB each station's
    * series sorts inside its own partition and the flag arithmetic is
    * codegen'd. All comparisons are on raw doubles both engines read
    * from the same parquet, so flags are bit-deterministic. */
  val i43 = QueryDef(
    "i43_qc_flags",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events),
      |l AS (SELECT *, LAG(value, 1) OVER w AS p1, LAG(value, 2) OVER w AS p2
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_id, user_id AS station, ROUND(value, 2) AS v,
      |  CAST((CASE WHEN value < 0 OR value > 150 THEN 1 ELSE 0 END)
      |    + (CASE WHEN p1 IS NOT NULL AND ABS(value - p1) > 100 THEN 2 ELSE 0 END)
      |    + (CASE WHEN p1 = value AND p2 = value THEN 4 ELSE 0 END)
      |    AS INTEGER) AS qc_flags
      |FROM l ORDER BY event_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("p1", lag(col("value"), 1).over(w))
      .withColumn("p2", lag(col("value"), 2).over(w))
      .select(col("event_id"), col("user_id").as("station"),
        round(col("value"), 2).as("v"),
        (when(col("value") < 0 || col("value") > 150, 1).otherwise(0)
          + when(col("p1").isNotNull && abs(col("value") - col("p1")) > 100, 2)
            .otherwise(0)
          + when(col("p1") === col("value") && col("p2") === col("value"), 4)
            .otherwise(0)).cast("int").as("qc_flags"))
      .orderBy(col("event_id"))
  }

  /** i45: SNHT HOMOGENEITY breakpoint detection (Alexandersson 1986,
    * the standard-normal homogeneity test) — the climate-QC step after
    * i43's per-reading flags: a station move or sensor swap shifts the
    * series MEAN, and the test statistic T(k) = k·z̄²₍₁..k₎ +
    * (n−k)·z̄²₍k+1..n₎ over the standardized series peaks at the break
    * position. Output per station: the argmax day and T_max (compared
    * against the published critical values downstream).
    *
    * Determinism discipline: daily totals go to INTEGER CENTS, so the
    * full-series moments (n, Σv, Σv²) are exact integers and μ/σ are
    * bit-identical doubles; z-scores then round to the 1e-6 grid and
    * the prefix sums run as DECIMAL — order-independent — so T(k) on
    * both engines derives from literally identical operands and the
    * argmax can never flip on a float ulp. Shape: one daily partial
    * agg + station-keyed windows (moments, ordered prefix, rank) that
    * all share ONE exchange. */
  val i45 = QueryDef(
    "i45_snht_breakpoint",
    """WITH d AS (SELECT user_id AS station,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(ROUND(ROUND(SUM(value), 2) * 100) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT *, COUNT(*) OVER w AS n,
      |    SUM(vc) OVER w AS s1, SUM(vc * vc) OVER w AS s2
      |  FROM d WINDOW w AS (PARTITION BY station)),
      |z AS (SELECT station, day, n,
      |    CAST(ROUND(CASE WHEN n > 1 AND s2 - s1 * s1 * 1.0 / n > 0
      |      THEN (vc - s1 * 1.0 / n) / SQRT((s2 - s1 * s1 * 1.0 / n) / n) END
      |      + 1e-9, 6) AS DECIMAL(18,6)) AS z
      |  FROM st),
      |c AS (SELECT *, SUM(z) OVER (PARTITION BY station ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS cz,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY station ORDER BY day) AS BIGINT) AS k,
      |    SUM(z) OVER (PARTITION BY station) AS tz
      |  FROM z WHERE z IS NOT NULL),
      |t AS (SELECT station, day, n, k,
      |    k * POW(CAST(cz AS DOUBLE) / k, 2) +
      |      (n - k) * POW(CAST(tz - cz AS DOUBLE) / (n - k), 2) AS tk
      |  FROM c WHERE k < n),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY station
      |    ORDER BY tk DESC, day) AS rnk FROM t)
      |SELECT station, CAST(n AS BIGINT) AS n_days,
      |  CAST(day AS TIMESTAMP) AS break_day,
      |  ROUND(tk + 1e-9, 4) AS t_max
      |FROM r WHERE rnk = 1 ORDER BY station""".stripMargin) { (spark, dir) =>
    val wAll = Window.partitionBy(col("station"))
    val wOrd = Window.partitionBy(col("station")).orderBy(col("day"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = Tables(spark, dir).events
      .groupBy(col("user_id").as("station"), to_date(col("ts")).as("day"))
      .agg(round(round(sum(col("value")), 2) * 100).cast("long").as("vc"))
    val z = d
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s1", sum(col("vc")).over(wAll))
      .withColumn("s2", sum(col("vc") * col("vc")).over(wAll))
      .select(col("station"), col("day"), col("n"),
        graft.QueryDef.roundBiased(
          when(col("n") > 1 && col("s2") - col("s1") * col("s1") * 1.0 / col("n") > 0,
            (col("vc") - col("s1") * 1.0 / col("n")) /
              sqrt((col("s2") - col("s1") * col("s1") * 1.0 / col("n")) / col("n"))),
          6).cast("decimal(18,6)").as("z"))
      .filter(col("z").isNotNull)
    val t = z
      .withColumn("cz", sum(col("z")).over(wCum))
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("tz", sum(col("z")).over(wAll))
      .filter(col("k") < col("n"))
      .withColumn("tk",
        col("k") * pow(col("cz").cast("double") / col("k"), 2) +
          (col("n") - col("k")) *
            pow((col("tz") - col("cz")).cast("double") / (col("n") - col("k")), 2))
    t.withColumn("rnk", row_number().over(
        Window.partitionBy(col("station")).orderBy(col("tk").desc, col("day"))))
      .filter(col("rnk") === 1)
      .select(col("station"), col("n").as("n_days"),
        col("day").cast("timestamp").as("break_day"),
        graft.QueryDef.roundBiased(col("tk"), 4).as("t_max"))
      .orderBy(col("station"))
  }

  /** i32: derived wind DIRECTION — i02's angular sibling: the
    * reference derives wind speed from the (u, v) component pair
    * (`ecmwf_opendata/__init__.py:495`); the meteorological direction
    * (degrees the wind blows FROM, 0° = north, clockwise) is the other
    * standard derived variable from the same pair:
    * dir = mod(270 − atan2(v, u)·180/π, 360). Zero shuffle beyond the
    * component agg; atan2 of identical doubles is bit-identical across
    * engines, so the rounded degrees hash-match. */
  val i32 = QueryDef(
    "i32_wind_direction",
    """SELECT user_id,
      |  ROUND(SQRT(u * u + v * v) + 1e-9, 2) AS wind_speed,
      |  ROUND(FMOD(270.0 - DEGREES(ATAN2(v, u)), 360.0) + 1e-9, 2) AS wind_dir_deg
      |FROM (
      |  SELECT user_id,
      |    AVG(value) FILTER (WHERE event_type = 'click') AS u,
      |    AVG(value) FILTER (WHERE event_type = 'view')  AS v
      |  FROM events GROUP BY user_id) t
      |WHERE u IS NOT NULL AND v IS NOT NULL
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(
        avg(when(col("event_type") === "click", col("value"))).as("u"),
        avg(when(col("event_type") === "view", col("value"))).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .select(col("user_id"),
        graft.QueryDef.roundBiased(windSpeed(col("u"), col("v")), 2).as("wind_speed"),
        graft.QueryDef.roundBiased(
          pmod(lit(270.0) - degrees(atan2(col("v"), col("u"))), lit(360.0)), 2)
          .as("wind_dir_deg"))
      .orderBy(col("user_id"))
  }

  /** i33: dekad PRODUCT — the TAMSAT calendar unit end to end: i06
    * derives dekad keys, this aggregates the dekad TOTAL per cell
    * (rainfall-style accumulation, SUM not AVG), computes the
    * dekad-keyed climatology normal as the multi-year mean of those
    * totals, and emits the current year's anomaly with the sentinel
    * for missing normals — completing the month (i03/i04) / pentad
    * (i24) / dekad family the reference publishes
    * (TAMSAT configs in `ingest/tamsat/__init__.py`; dekad arithmetic
    * `ingest/dateutils.py`).
    *
    * Parity: yearly dekad totals are rounded to the exact 2-decimal
    * grid BEFORE the normal's AVG, so both engines average identical
    * operands. Normals broadcast (≤ cells × 36 rows), same as i04. */
  val i33 = QueryDef(
    "i33_dekad_product",
    """WITH dk AS (
      |  SELECT l_returnflag AS cell,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |    CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS mon,
      |    CASE WHEN EXTRACT(day FROM l_shipdate) <= 10 THEN 1
      |         WHEN EXTRACT(day FROM l_shipdate) <= 20 THEN 2
      |         ELSE 3 END AS dekad,
      |    ROUND(SUM(l_quantity), 2) AS v
      |  FROM lineitem GROUP BY 1, 2, 3, 4),
      |normal AS (
      |  SELECT cell, mon, dekad, ROUND(AVG(v) + 1e-9, 2) AS normal
      |  FROM dk WHERE yr < 2000 GROUP BY 1, 2, 3),
      |cur AS (SELECT cell, mon, dekad, v FROM dk WHERE yr = 2000)
      |SELECT cur.cell AS cell, cur.mon AS mon, cur.dekad AS dekad, cur.v AS dekad_total,
      |  ROUND(CASE WHEN normal.normal IS NULL THEN -9999.0
      |             ELSE cur.v - normal.normal END + 1e-9, 2) + 0.0 AS anomaly
      |FROM cur LEFT JOIN normal
      |  ON cur.cell = normal.cell AND cur.mon = normal.mon AND cur.dekad = normal.dekad
      |ORDER BY cell, mon, dekad""".stripMargin) { (spark, dir) =>
    val dk = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("cell"),
        year(col("l_shipdate")).as("yr"), month(col("l_shipdate")).as("mon"),
        Calendar.dekadOfMonth(col("l_shipdate")).as("dekad"))
      .agg(round(sum(col("l_quantity")), 2).as("v"))
    val normals = dk.filter(col("yr") < 2000)
      .groupBy(col("cell"), col("mon"), col("dekad"))
      .agg(graft.QueryDef.roundBiased(avg(col("v")), 2).as("normal"))
    dk.filter(col("yr") === 2000)
      .join(broadcast(normals), Seq("cell", "mon", "dekad"), "left")
      .select(col("cell"), col("mon"), col("dekad"), col("v").as("dekad_total"),
        graft.QueryDef.roundBiased(anomaly(col("v"), col("normal")), 2).as("anomaly"))
      .orderBy(col("cell"), col("mon"), col("dekad"))
  }

  /** i34: Z-ORDER (Morton) layout key — the multi-dimensional
    * clustering step a 100 TB spatial lakehouse runs before writing:
    * interleaving the bits of the quantized (lon, lat) cell gives a
    * 1-D sort key under which spatially-near points land in the same
    * file, so per-file min/max column stats prune 2-D bbox queries
    * (the reference's tile/bbox reads, `raster_vector.py:88`) without
    * a spatial index. The query emits per-Z-range file stats — each
    * range's bbox is TIGHT, which is exactly the property data
    * skipping needs; writing is one `repartitionByRange(zkey)`.
    *
    * Map-side everything: quantization and bit-interleave are pure
    * integer Column arithmetic (codegen'd); the only shuffle is the
    * per-range stats aggregation. The oracle interleaves with the
    * identical shift/mask terms. */
  val i34: QueryDef = {
    def mortonSql: String = (0 until 8).map { i =>
      s"(((qx >> $i) & 1) << ${2 * i}) + (((qy >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")
    QueryDef(
      "i34_zorder_layout",
      s"""WITH pts AS (
         |  SELECT user_id * 1.7 - 95.0 AS lon, value * 0.35 - 80.0 AS lat
         |  FROM events),
         |q AS (SELECT lon, lat,
         |    CAST(LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 256), 0), 255) AS INTEGER) AS qx,
         |    CAST(LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * 256), 0), 255) AS INTEGER) AS qy
         |  FROM pts),
         |z AS (SELECT lon, lat, CAST($mortonSql AS INTEGER) AS zkey FROM q)
         |SELECT CAST(zkey >> 6 AS INTEGER) AS zrange,
         |  CAST(COUNT(*) AS BIGINT) AS n_pts,
         |  ROUND(MIN(lon), 4) + 0.0 AS min_lon, ROUND(MAX(lon), 4) + 0.0 AS max_lon,
         |  ROUND(MIN(lat), 4) + 0.0 AS min_lat, ROUND(MAX(lat), 4) + 0.0 AS max_lat
         |FROM z GROUP BY 1 ORDER BY zrange""".stripMargin) { (spark, dir) =>
      import graft.functions.Spatial
      val lon = col("user_id") * 1.7 - 95.0
      val lat = col("value") * 0.35 - 80.0
      Tables(spark, dir).events
        .select(lon.as("lon"), lat.as("lat"))
        .withColumn("qx", Spatial.quantize8(col("lon"), 180.0, 360.0))
        .withColumn("qy", Spatial.quantize8(col("lat"), 90.0, 180.0))
        .withColumn("zkey", Spatial.morton16(col("qx"), col("qy")))
        .groupBy(shiftright(col("zkey"), 6).cast("int").as("zrange"))
        .agg(count(lit(1)).as("n_pts"),
          round(min(col("lon")), 4).as("min_lon"), round(max(col("lon")), 4).as("max_lon"),
          round(min(col("lat")), 4).as("min_lat"), round(max(col("lat")), 4).as("max_lat"))
        .orderBy(col("zrange"))
    }
  }

  /** i35: LINEAR-interpolation gap fill — i29's fill upgraded from
    * last-observation-carried-forward to the time-weighted blend
    * climate series actually use (`pv + (nv−pv)·Δt/Δspan`): a 3-day
    * hole between 10.0 and 13.0 fills 10.75/11.5/12.25, not 10/10/10.
    * Same dense-grid construction as i29 (per-key span explode, never
    * a calendar cross-join); the bracketing observations arrive via
    * ONE window per key — `last(obs before)` / `first(obs after)`
    * carried as (day, value) pairs — so interpolation is a map-side
    * formula, not a self-join against the observation table.
    *
    * Grid endpoints are observations by construction, so every gap is
    * interior (both brackets exist); the blend divides day offsets on
    * the exact integer grid and rounds to 1e-4 on both engines. */
  val i35 = QueryDef(
    "i35_linear_interp",
    """WITH obs AS (
      |  SELECT user_id, DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
      |         ROUND(AVG(value) + 1e-9, 4) AS v
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM obs GROUP BY user_id),
      |grid AS (SELECT user_id, UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS day
      |         FROM span),
      |j AS (SELECT g.user_id, g.day, o.v FROM grid g
      |      LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day),
      |w AS (SELECT *,
      |    LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
      |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
      |    FIRST_VALUE(v IGNORE NULLS) OVER wn AS nv,
      |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
      |  FROM j
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING),
      |    wn AS (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, day,
      |  ROUND(CASE WHEN v IS NOT NULL THEN v
      |    ELSE pv + (nv - pv) * DATEDIFF('day', pd, day) / DATEDIFF('day', pd, nd)
      |    END + 1e-9, 4) + 0.0 AS filled,
      |  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INTEGER) AS was_gap
      |FROM w ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val obs = Tables(spark, dir).events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(graft.QueryDef.roundBiased(avg(col("value")), 4).as("v"))
      .persist() // feeds the span aggregation AND the grid join
    val grid = obs.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val ord = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wp = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("day"))
    grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wp))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wn))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wn))
      .select(col("user_id"), col("day"),
        graft.QueryDef.roundBiased(
          when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              datediff(col("day"), col("pd")) / datediff(col("nd"), col("pd"))), 4)
          .as("filled"),
        when(col("v").isNull, 1).otherwise(0).as("was_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** i37: TERCILE classification — the seasonal-outlook product
    * (below / near / above normal) every meteorological service
    * publishes from exactly the reference's climatology data
    * (CHIRPS/TAMSAT normals, `chirps_rainfall/__init__.py:232`): each
    * (cell, year) total is ranked into equal-frequency thirds of that
    * cell's own climatology via NTILE — i31's percent-rank upgraded to
    * the categorical product, i11's equal-WIDTH bins' statistical
    * sibling (equal-FREQUENCY).
    *
    * One partial-agg shuffle to yearly totals, one cell-partitioned
    * window; ties broken (value, year) so both engines fill the
    * NTILE buckets identically. */
  val i37 = QueryDef(
    "i37_tercile_class",
    """WITH yearly AS (
      |  SELECT l_returnflag AS cell,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |    ROUND(SUM(l_quantity), 2) AS v
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT cell, yr, v,
      |  CAST(NTILE(3) OVER (PARTITION BY cell ORDER BY v, yr) AS INTEGER) AS tercile,
      |  CASE NTILE(3) OVER (PARTITION BY cell ORDER BY v, yr)
      |    WHEN 1 THEN 'below_normal' WHEN 2 THEN 'near_normal'
      |    ELSE 'above_normal' END AS outlook
      |FROM yearly ORDER BY cell, yr""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("cell")).orderBy(col("v"), col("yr"))
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("cell"), year(col("l_shipdate")).as("yr"))
      .agg(round(sum(col("l_quantity")), 2).as("v"))
      .select(col("cell"), col("yr"), col("v"),
        ntile(3).over(w).cast("int").as("tercile"),
        when(ntile(3).over(w) === 1, "below_normal")
          .when(ntile(3).over(w) === 2, "near_normal")
          .otherwise("above_normal").as("outlook"))
      .orderBy(col("cell"), col("yr"))
  }

  /** i38: IDW station-to-grid interpolation (Shepard's method) — the
    * geostatistical core of station-blended rainfall products (the
    * reference ingests TAMSAT/CHIRPS, which blend station observations
    * into the satellite grid exactly this way): every grid cell takes
    * the inverse-square-distance weighted mean of the station values
    * within a cutoff radius; cells no station can see stay nodata.
    *
    * 100 TB shape: q23's bucket quantization in 2-D. Each station
    * EXPLODES map-side to the grid tiles its cutoff radius can touch
    * (≤3×3 tiles at radius 4 over tile size 4) and the tiled station
    * table BROADCASTS; each cell belongs to exactly ONE tile, so the
    * join is a BroadcastHashJoin on the tile key with a residual d²
    * filter — per-cell work is bounded by the stations near its tile,
    * never an iteration over EVERY station (the broadcast nested loop
    * this replaced was O(cells × stations) map-side: fine at the
    * reference's thousands of stations, a wall at a continental
    * network). The grid side still never shuffles for the join; the
    * only shuffle is the per-cell partial aggregation of (w·v, w, n).
    * Station coordinates land on integer corners while cell centers
    * sit at half-offsets, so d² ≥ 0.5 and the 1/d² weight is always
    * finite; sums round biased at 1e-4 on both engines. */
  val i38 = QueryDef(
    "i38_idw_gridding",
    """WITH stations AS (
      |  SELECT CAST(user_id % 16 AS INTEGER) AS sx,
      |    CAST(user_id // 16 % 16 AS INTEGER) AS sy,
      |    ROUND(AVG(value) + 1e-9, 2) AS v
      |  FROM events WHERE user_id < 64 GROUP BY 1, 2),
      |cells AS (
      |  SELECT gx.x + 0.5 AS cx, gy.y + 0.5 AS cy
      |  FROM (SELECT UNNEST(RANGE(16)) AS x) gx, (SELECT UNNEST(RANGE(16)) AS y) gy),
      |pairs AS (
      |  SELECT cx, cy, v,
      |    1.0 / ((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)) AS w
      |  FROM cells, stations
      |  WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 16.0)
      |SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_stations,
      |  ROUND(SUM(w * v) / SUM(w) + 1e-9, 4) AS idw_v
      |FROM pairs GROUP BY cx, cy ORDER BY cx, cy""".stripMargin) { (spark, dir) =>
    val stations = Tables(spark, dir).events
      .filter(col("user_id") < 64)
      .groupBy((col("user_id") % 16).cast("int").as("sx"),
        expr("user_id div 16 % 16").cast("int").as("sy"))
      .agg(graft.QueryDef.roundBiased(avg(col("value")), 2).as("v"))
    // a station at (sx, sy) with cutoff radius 4 can only reach cells
    // whose tile (4×4 block) intersects [sx−4, sx+4]² — at most 3×3
    // tiles; cells carry their single tile, so every in-radius pair
    // appears exactly once through the tile equi-join
    val stationTiles = stations
      .withColumn("tx", explode(sequence(
        greatest(expr("(sx - 4) div 4").cast("int"), lit(0)),
        least(expr("(sx + 4) div 4").cast("int"), lit(3)))))
      .withColumn("ty", explode(sequence(
        greatest(expr("(sy - 4) div 4").cast("int"), lit(0)),
        least(expr("(sy + 4) div 4").cast("int"), lit(3)))))
    val cells = spark.range(256).select(
      (expr("id % 16") + 0.5).as("cx"), (expr("id div 16") + 0.5).as("cy"),
      expr("id % 16 div 4").cast("int").as("tx"),
      expr("id div 16 div 4").cast("int").as("ty"))
    val d2 = (col("cx") - col("sx")) * (col("cx") - col("sx")) +
      (col("cy") - col("sy")) * (col("cy") - col("sy"))
    cells.join(broadcast(stationTiles), Seq("tx", "ty"))
      .filter(d2 <= 16.0)
      .select(col("cx"), col("cy"), col("v"), (lit(1.0) / d2).as("w"))
      .groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("n_stations"),
        graft.QueryDef.roundBiased(sum(col("w") * col("v")) / sum(col("w")), 4).as("idw_v"))
      .orderBy(col("cx"), col("cy"))
  }

  /** i36: bilinear UPSAMPLE — i27's inverse direction (the reference
    * regrids both ways: overview pyramids down, display/reanalysis
    * alignment up, `ingest/utils.py:72` COG resampler): the coarse
    * cell grid doubles per axis, each fine cell the 2×2-neighborhood
    * bilinear blend with weights 0.75/0.25 from the half-cell offset.
    *
    * Distributed shape = i28's stencil inversion: each coarse cell
    * EXPLODES map-side to the 16 fine cells it influences, carrying
    * weight wy·wx (exact binary fractions), then ONE partial-agg
    * shuffle sums Σw·v and Σw per fine cell — never a 4-way shifted
    * self-join. Missing/edge neighbors renormalize via Σw, the same
    * gap-aware rule as the focal mean. Coarse means are rounded to
    * the 1e-4 grid BEFORE blending so both engines blend identical
    * operands. */
  val i36 = QueryDef(
    "i36_bilinear_upsample",
    """WITH g AS (
      |  SELECT CAST(user_id AS INTEGER) AS y, CAST(event_id % 128 AS INTEGER) AS x,
      |         CASE WHEN value < 5.0 THEN NULL ELSE value END AS v
      |  FROM events),
      |c AS (SELECT CAST(y // 4 AS INTEGER) AS yc, CAST(x // 4 AS INTEGER) AS xc,
      |      ROUND(SUM(v) / COUNT(v) + 1e-9, 4) AS cv
      |      FROM g GROUP BY 1, 2 HAVING COUNT(v) > 0),
      |w(d, wt) AS (VALUES (-1, 0.25::DOUBLE), (0, 0.75::DOUBLE),
      |             (1, 0.75::DOUBLE), (2, 0.25::DOUBLE)),
      |contrib AS (
      |  SELECT 2 * yc + wy.d AS fy, 2 * xc + wx.d AS fx, wy.wt * wx.wt AS wt, cv
      |  FROM c, w wy, w wx)
      |SELECT CAST(fy AS INTEGER) AS fy, CAST(fx AS INTEGER) AS fx,
      |  CAST(COUNT(*) AS BIGINT) AS n_src,
      |  ROUND(SUM(wt * cv) / SUM(wt) + 1e-9, 4) AS up_v
      |FROM contrib WHERE fy >= 0 AND fx >= 0
      |GROUP BY 1, 2 ORDER BY fy, fx""".stripMargin) { (spark, dir) =>
    val offsets = Seq((-1, 0.25), (0, 0.75), (1, 0.75), (2, 0.25))
    val c = eventCells(Tables(spark, dir).events)
      .filter(col("n") > 0)
      .select(col("yc"), col("xc"),
        graft.QueryDef.roundBiased(col("sum_v") / col("n"), 4).as("cv"))
    c.withColumn("wy", explode(typedlit(offsets)))
      .withColumn("wx", explode(typedlit(offsets)))
      .select((col("yc") * 2 + col("wy._1")).cast("int").as("fy"),
        (col("xc") * 2 + col("wx._1")).cast("int").as("fx"),
        (col("wy._2") * col("wx._2")).as("wt"), col("cv"))
      .filter(col("fy") >= 0 && col("fx") >= 0)
      .groupBy(col("fy"), col("fx"))
      .agg(count(lit(1)).as("n_src"),
        (sum(col("wt") * col("cv")) / sum(col("wt"))).as("raw"))
      .select(col("fy"), col("fx"), col("n_src"),
        graft.QueryDef.roundBiased(col("raw"), 4).as("up_v"))
      .orderBy(col("fy"), col("fx"))
  }

  /** i39: contour LineString construction — [[contourSegments]] run on
    * the event cell grid (i27's coarse means as the scalar field), the
    * last reference computation that was still reduced to a proxy: i11
    * bins cells by level, this EMITS the per-level vector segments that
    * `gdal_contour` produces (`ingest/utils.py:180`). The oracle
    * replays the identical marching-squares case table in SQL: the
    * same corner gather, the same level range, the same edge-order
    * pairing (LEAD over crossing edges sorted by edge index), the same
    * interpolation arithmetic on the same 1e-4-rounded operands. */
  /** The marching-squares CTE chain shared by the i39/i39b oracles, up
    * to `seg` = the rounded per-(cell, level) segments. `ptsWhere`
    * restricts the point grid (i39b bounds the recursive closure);
    * `recursive` switches the WITH form for oracles that append a
    * recursive CTE. */
  private def contourSegCtes(ptsWhere: String, recursive: Boolean): String = {
    val withKw = if (recursive) "WITH RECURSIVE" else "WITH"
    s"""$withKw g AS (
       |  SELECT CAST(user_id AS INTEGER) AS y, CAST(event_id % 128 AS INTEGER) AS x,
       |         CASE WHEN value < 5.0 THEN NULL ELSE value END AS v
       |  FROM events),
       |pts0 AS (SELECT CAST(y // 4 AS INTEGER) AS py, CAST(x // 4 AS INTEGER) AS px,
       |        ROUND(SUM(v) / COUNT(v) + 1e-9, 4) AS v
       |        FROM g GROUP BY 1, 2 HAVING COUNT(v) > 0),
       |pts AS (SELECT * FROM pts0 $ptsWhere),
       |sp AS (SELECT px - dx AS cx, py - dy AS cy, dx, dy, v
       |       FROM pts CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) d(dx, dy)),
       |corners AS (
       |  SELECT cx, cy,
       |    MAX(CASE WHEN dx = 0 AND dy = 0 THEN v END) AS v00,
       |    MAX(CASE WHEN dx = 1 AND dy = 0 THEN v END) AS v10,
       |    MAX(CASE WHEN dx = 0 AND dy = 1 THEN v END) AS v01,
       |    MAX(CASE WHEN dx = 1 AND dy = 1 THEN v END) AS v11
       |  FROM sp GROUP BY 1, 2 HAVING COUNT(*) = 4),
       |ks AS (SELECT *, UNNEST(RANGE(CAST(CEIL(LEAST(v00, v10, v01, v11) / 25) AS BIGINT),
       |         CAST(FLOOR(GREATEST(v00, v10, v01, v11) / 25) AS BIGINT) + 1)) AS k
       |       FROM corners),
       |lv AS (SELECT cx, cy, v00, v10, v01, v11, CAST(25.0 AS DOUBLE) * k AS L FROM ks),
       |edges AS (
       |  SELECT cx, cy, L, e, ex, ey FROM (
       |    SELECT cx, cy, L, 0 AS e,
       |      cx + (L - v00) / NULLIF(v10 - v00, 0) AS ex, CAST(cy AS DOUBLE) AS ey,
       |      (v00 >= L) <> (v10 >= L) AS c FROM lv
       |    UNION ALL SELECT cx, cy, L, 1,
       |      CAST(cx + 1 AS DOUBLE), cy + (L - v10) / NULLIF(v11 - v10, 0),
       |      (v10 >= L) <> (v11 >= L) FROM lv
       |    UNION ALL SELECT cx, cy, L, 2,
       |      cx + (L - v01) / NULLIF(v11 - v01, 0), CAST(cy + 1 AS DOUBLE),
       |      (v01 >= L) <> (v11 >= L) FROM lv
       |    UNION ALL SELECT cx, cy, L, 3,
       |      CAST(cx AS DOUBLE), cy + (L - v00) / NULLIF(v01 - v00, 0),
       |      (v00 >= L) <> (v01 >= L) FROM lv) u
       |  WHERE c),
       |paired AS (
       |  SELECT cx, cy, L, e, ex, ey,
       |    ROW_NUMBER() OVER (PARTITION BY cx, cy, L ORDER BY e) - 1 AS r,
       |    LEAD(ex) OVER (PARTITION BY cx, cy, L ORDER BY e) AS nx,
       |    LEAD(ey) OVER (PARTITION BY cx, cy, L ORDER BY e) AS ny
       |  FROM edges),
       |seg AS (
       |  SELECT L AS level, cx, cy, e AS e1,
       |    ROUND(ex + 1e-9, 4) AS x1, ROUND(ey + 1e-9, 4) AS y1,
       |    ROUND(nx + 1e-9, 4) AS x2, ROUND(ny + 1e-9, 4) AS y2
       |  FROM paired WHERE r % 2 = 0)""".stripMargin
  }

  val i39 = QueryDef(
    "i39_contour_segments",
    contourSegCtes("", recursive = false) +
      """
        |SELECT level, cx, cy, e1, x1, y1, x2, y2 FROM seg
        |ORDER BY level, cy, cx, e1""".stripMargin) { (spark, dir) =>
    val pts = eventCells(Tables(spark, dir).events)
      .filter(col("n") > 0)
      .select(col("xc").as("px"), col("yc").as("py"),
        graft.QueryDef.roundBiased(col("sum_v") / col("n"), 4).as("v"))
    contourSegments(pts, 25.0)
      .orderBy(col("level"), col("cy"), col("cx"), col("e1"))
  }

  /** i39b: contour POLYLINE assembly — [[contourPolylines]] over the
    * i39 segments on a bounded 24×24 sub-grid (the oracle's recursive
    * reachability closure is quadratic per component, so the oracled
    * region stays bounded; the Spark path is [[Components.minLabel]]'s
    * star-contraction core and scales to the full grid). One feature
    * row per
    * connected iso-line with segment count, open ends, and length —
    * the LineString level of `gdal_contour`'s output. */
  /** i39b's point grid with the region bound applied BELOW the
    * aggregate: `py < 24 ⇔ user_id < 96` and `px < 24 ⇔
    * event_id % 128 < 96` (cells are 4-wide, so the cell bound is an
    * exact row-level predicate), so the `user_id` half reaches the
    * parquet scan as a pushed filter and the groupBy aggregates only
    * the clipped region instead of the full grid (~25× less input at
    * full grid width — the r7 verdict's i39b finding). The post-agg
    * cell filter stays for structural parity with the oracle's
    * `WHERE px < 24 AND py < 24` shape (it is grid-sized and free). */
  private[graft] def i39bPoints(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    eventCells(Tables(spark, dir).events
        .filter(col("user_id") < 96 && col("event_id") % 128 < 96))
      .filter(col("n") > 0)
      .select(col("xc").as("px"), col("yc").as("py"),
        graft.QueryDef.roundBiased(col("sum_v") / col("n"), 4).as("v"))
      .filter(col("px") < 24 && col("py") < 24)

  val i39b = QueryDef(
    "i39b_contour_polylines",
    contourSegCtes("WHERE px < 24 AND py < 24", recursive = true) +
      """,
        |sidt AS (SELECT ((CAST(level / 25 AS BIGINT) * 4096 + cy + 1) * 4096
        |    + cx + 1) * 4 + e1 AS sid, level, x1, y1, x2, y2 FROM seg),
        |epp AS (SELECT level, x1 AS px, y1 AS py, sid FROM sidt
        |        UNION ALL SELECT level, x2, y2, sid FROM sidt),
        |adj AS (SELECT a.sid AS u, b.sid AS v FROM epp a JOIN epp b
        |        ON a.level = b.level AND a.px = b.px AND a.py = b.py
        |       AND a.sid <> b.sid),
        |reach AS (SELECT sid AS id, sid AS r FROM sidt
        |          UNION
        |          SELECT reach.id, a.v FROM reach JOIN adj a ON reach.r = a.u),
        |compt AS (SELECT id AS sid, MIN(r) AS comp FROM reach GROUP BY id),
        |lens AS (SELECT s.level, c.comp, CAST(COUNT(*) AS BIGINT) AS n_segs,
        |    SUM(CAST(ROUND(SQRT((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
        |      + 1e-9, 6) AS DECIMAL(18,6))) AS len
        |  FROM sidt s JOIN compt c USING (sid) GROUP BY 1, 2),
        |degs AS (SELECT e.level, c.comp, e.px, e.py, COUNT(*) AS deg
        |  FROM epp e JOIN compt c USING (sid) GROUP BY 1, 2, 3, 4),
        |opens AS (SELECT level, comp,
        |    CAST(COUNT(*) FILTER (WHERE deg = 1) AS BIGINT) AS n_open_ends
        |  FROM degs GROUP BY 1, 2)
        |SELECT level, comp, n_segs, n_open_ends, n_open_ends = 0 AS closed,
        |  ROUND(CAST(len AS DOUBLE) + 1e-9, 4) AS length
        |FROM lens JOIN opens USING (level, comp)
        |ORDER BY level, comp""".stripMargin) { (spark, dir) =>
    contourPolylines(contourSegments(i39bPoints(spark, dir), 25.0), 25.0)
      .orderBy(col("level"), col("comp"))
  }

  /** i46: growing DEGREE-DAY accumulation — the agro-climate product
    * beside i42's onset/cessation (FAO/WMO phenology: crop stages are
    * predicted by accumulated heat units, not calendar days): per
    * station-day the mean reading becomes min(t, cap) − base heat
    * units (capped-at-30 / base-10 single-triangle formulation), the
    * per-station running total accumulates in INTEGER cents (i42's
    * discipline — one biased 2-decimal round at the daily mean, exact
    * integers after), and each station reports its total plus the
    * first day the cumulative sum crosses 200 degree-days (the
    * sowing-window trigger; NULL if never reached).
    *
    * Plan: (station, day) partial-agg shuffle, ONE station-keyed
    * cumsum window (partition = a station's day count, bounded by the
    * series span — i45's stance), then a station-sized final agg. */
  val i46 = QueryDef(
    "i46_degree_days",
    """WITH daily AS (
      |  SELECT user_id AS station,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS INTEGER) AS day,
      |    CAST(ROUND(ROUND(AVG(value) + 1e-9, 2) * 100) AS BIGINT) AS tc
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT station, day,
      |    GREATEST(LEAST(tc, 3000) - 1000, 0) AS gdd FROM daily),
      |c AS (SELECT station, day, gdd,
      |    SUM(gdd) OVER (PARTITION BY station ORDER BY day) AS cum FROM g)
      |SELECT station, CAST(COUNT(*) AS INTEGER) AS n_days,
      |  CAST(SUM(gdd) AS BIGINT) AS gdd_cents,
      |  CAST(MIN(CASE WHEN cum >= 20000 THEN day END) AS INTEGER) AS cross_day
      |FROM c GROUP BY station ORDER BY station""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"),
        expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
        col("value"))
      .groupBy(col("station"), col("day"))
      .agg(round(round(avg(col("value")) + 1e-9, 2) * 100).cast("long").as("tc"))
    val g = daily.select(col("station"), col("day"),
      greatest(least(col("tc"), lit(3000L)) - 1000L, lit(0L)).as("gdd"))
    val w = Window.partitionBy(col("station")).orderBy(col("day"))
    g.withColumn("cum", sum(col("gdd")).over(w))
      .groupBy(col("station"))
      .agg(count(lit(1)).cast("int").as("n_days"),
        sum(col("gdd")).as("gdd_cents"),
        min(when(col("cum") >= 20000L, col("day"))).cast("int").as("cross_day"))
      .orderBy(col("station"))
  }

  /** i47: consecutive DRY/WET spell lengths — the ETCCDI CDD/CWD
    * climate-extremes indices over the station series the reference's
    * rainfall products feed (`ingest/chirps_rainfall/__init__.py`
    * computes the same daily series this op classifies; spell indices
    * are the standard WMO product one step downstream): a station-day
    * is DRY when its 2-decimal-rounded mean reading is below 20.00
    * (integer-cents compare, i46's discipline), and maximal runs of
    * consecutive CALENDAR days with the same dry/wet flag are found by
    * gaps-and-islands (`run = day − row_number` within the flag class
    * — a missing observation day breaks the run, matching the
    * station-record semantics). Per station: longest dry spell (CDD),
    * longest wet spell (CWD), and the count of dry spells ≥ 5 days
    * (the drought-watch alert trigger).
    *
    * Plan: (station, day) partial-agg shuffle with map-side combine,
    * ONE (station, is_dry)-keyed row_number window (partition bounded
    * by a station's series span — i45's stance); the run-length
    * groupBy reuses the window's clustering exchange-free (its keys
    * are a superset), and only the final station-sized rollup
    * re-shuffles — on a station-count-sized table. */
  val i47 = QueryDef(
    "i47_spell_lengths",
    """WITH daily AS (
      |  SELECT user_id AS station,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS INTEGER) AS day,
      |    CAST(ROUND(ROUND(AVG(value) + 1e-9, 2) * 100) AS BIGINT) AS tc
      |  FROM events GROUP BY 1, 2),
      |f AS (SELECT station, day, tc < 2000 AS is_dry FROM daily),
      |r AS (SELECT station, day, is_dry,
      |    day - CAST(ROW_NUMBER() OVER (
      |      PARTITION BY station, is_dry ORDER BY day) AS INTEGER) AS grp
      |  FROM f),
      |s AS (SELECT station, is_dry, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT station,
      |  CAST(COALESCE(MAX(CASE WHEN is_dry THEN len END), 0) AS INTEGER)
      |    AS cdd,
      |  CAST(COALESCE(MAX(CASE WHEN NOT is_dry THEN len END), 0) AS INTEGER)
      |    AS cwd,
      |  CAST(COUNT(CASE WHEN is_dry AND len >= 5 THEN 1 END) AS INTEGER)
      |    AS n_dry5
      |FROM s GROUP BY station ORDER BY station""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"),
        expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
        col("value"))
      .groupBy(col("station"), col("day"))
      .agg(round(round(avg(col("value")) + 1e-9, 2) * 100).cast("long").as("tc"))
    val f = daily.select(col("station"), col("day"),
      (col("tc") < 2000L).as("is_dry"))
    val w = Window.partitionBy(col("station"), col("is_dry")).orderBy(col("day"))
    val spells = f
      .withColumn("grp", col("day") - row_number().over(w).cast("int"))
      .groupBy(col("station"), col("is_dry"), col("grp"))
      .agg(count(lit(1)).as("len"))
    spells.groupBy(col("station"))
      .agg(
        coalesce(max(when(col("is_dry"), col("len"))), lit(0L))
          .cast("int").as("cdd"),
        coalesce(max(when(!col("is_dry"), col("len"))), lit(0L))
          .cast("int").as("cwd"),
        count(when(col("is_dry") && col("len") >= 5L, lit(1)))
          .cast("int").as("n_dry5"))
      .orderBy(col("station"))
  }

  /** i48: station-month COMPLETENESS QC (the WMO "3/5 rule" for
    * climate normals, WMO-No. 1201): a monthly value may enter the
    * normal only if the month has ≤ 5 missing days AND no run of more
    * than 3 CONSECUTIVE missing days — the gate that sits directly
    * upstream of i03's climatology (reference
    * `chirps_rainfall/__init__.py:93` computes the normals this rule
    * admits series into). Per station-month: observed-day count, total
    * missing, the longest missing run, and the verdict.
    *
    * The longest missing run needs NO calendar-spine explode: over the
    * month's PRESENT days sorted by day-of-month, every missing run is
    * either the lead-in (first_dom − 1), an interior gap
    * (dom − lag(dom) − 1), or the tail (days_in_month − last_dom) —
    * one (station, month)-keyed lag window over ≤31 rows per
    * partition, then a station-month agg folding the tail in with
    * GREATEST. One daily-distinct shuffle + one window; the window's
    * (station, ym) partitioning serves the final agg. */
  val i48 = QueryDef(
    "i48_month_completeness",
    """WITH daily AS (
      |  SELECT DISTINCT user_id AS station,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |m AS (SELECT station,
      |    CAST(EXTRACT(year FROM d) * 100 + EXTRACT(month FROM d)
      |      AS INTEGER) AS ym,
      |    CAST(EXTRACT(day FROM d) AS INTEGER) AS dom,
      |    CAST(EXTRACT(day FROM LAST_DAY(d)) AS INTEGER) AS dim
      |  FROM daily),
      |g AS (SELECT station, ym, dim, dom,
      |    COALESCE(dom - LAG(dom) OVER (
      |      PARTITION BY station, ym ORDER BY dom) - 1, dom - 1) AS gap
      |  FROM m)
      |SELECT station, ym, CAST(COUNT(*) AS INTEGER) AS n_present,
      |  CAST(dim - COUNT(*) AS INTEGER) AS n_missing,
      |  CAST(GREATEST(MAX(gap), dim - MAX(dom)) AS INTEGER) AS max_gap,
      |  (dim - COUNT(*)) <= 5 AND GREATEST(MAX(gap), dim - MAX(dom)) <= 3
      |    AS month_ok
      |FROM g GROUP BY station, ym, dim
      |ORDER BY station, ym""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"), to_date(col("ts")).as("d"))
      .distinct()
    val m = daily.select(col("station"),
      (year(col("d")) * 100 + month(col("d"))).cast("int").as("ym"),
      dayofmonth(col("d")).as("dom"),
      dayofmonth(last_day(col("d"))).as("dim"))
    val w = Window.partitionBy(col("station"), col("ym")).orderBy(col("dom"))
    m.withColumn("gap",
        coalesce(col("dom") - lag(col("dom"), 1).over(w) - 1, col("dom") - 1))
      .groupBy(col("station"), col("ym"), col("dim"))
      .agg(count(lit(1)).cast("int").as("n_present"),
        (col("dim") - count(lit(1))).cast("int").as("n_missing"),
        greatest(max(col("gap")), col("dim") - max(col("dom")))
          .cast("int").as("max_gap"))
      .select(col("station"), col("ym"), col("n_present"), col("n_missing"),
        col("max_gap"),
        (col("n_missing") <= 5 && col("max_gap") <= 3).as("month_ok"))
      .orderBy(col("station"), col("ym"))
  }

  /** i49: WIND ROSE — the 16-sector × speed-class frequency matrix
    * every meteorological service publishes (WMO climate summaries;
    * the polar plot behind airport/renewables siting), built from the
    * same (u, v) pairs as i02's speed and i32's direction
    * (`ecmwf:495`), one observation per station-day. Sector math is
    * ALL-INTEGER after one rounding: direction and speed land on the
    * cents grid (`ROUND(x·100)` of bit-identical atan2/sqrt doubles —
    * i32's parity stance), then sector = ((dc + 1125) % 36000) / 2250
    * (16 sectors centered on N; a ≥359.995° rounding to 36000 cents
    * wraps to sector 0 through the modulo) and speed classes compare
    * cents against integer thresholds (30.00 / 60.00). Frequencies as
    * integer ppm via floor division.
    *
    * Plan: (station, day) partial agg; sector/class map-side integer
    * arithmetic; the rose is a 16-group agg with the observation
    * total broadcast from one tiny agg. */
  val i49 = QueryDef(
    "i49_wind_rose",
    """WITH daily AS (
      |  SELECT user_id AS station, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    AVG(value) FILTER (WHERE event_type = 'click') AS u,
      |    AVG(value) FILTER (WHERE event_type = 'view')  AS v
      |  FROM events GROUP BY 1, 2),
      |obs AS (SELECT
      |    CAST(ROUND(FMOD(270.0 - DEGREES(ATAN2(v, u)), 360.0) * 100)
      |      AS BIGINT) AS dc,
      |    CAST(ROUND(SQRT(u * u + v * v) * 100) AS BIGINT) AS sc
      |  FROM daily WHERE u IS NOT NULL AND v IS NOT NULL),
      |sect AS (SELECT ((dc + 1125) % 36000) // 2250 AS sector, sc FROM obs),
      |tot AS (SELECT COUNT(*) AS total FROM sect)
      |SELECT CAST(sector AS INTEGER) AS sector,
      |  CAST(COUNT(*) FILTER (WHERE sc < 3000) AS BIGINT) AS n_light,
      |  CAST(COUNT(*) FILTER (WHERE sc >= 3000 AND sc < 6000) AS BIGINT)
      |    AS n_moderate,
      |  CAST(COUNT(*) FILTER (WHERE sc >= 6000) AS BIGINT) AS n_strong,
      |  CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(COUNT(*) * 1000000 // tot.total AS BIGINT) AS pct_ppm
      |FROM sect, tot GROUP BY sector, tot.total
      |ORDER BY sector""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"), to_date(col("ts")).as("d"),
        col("event_type"), col("value"))
      .groupBy(col("station"), col("d"))
      .agg(avg(when(col("event_type") === "click", col("value"))).as("u"),
        avg(when(col("event_type") === "view", col("value"))).as("v"))
    val obs = daily
      .filter(col("u").isNotNull && col("v").isNotNull)
      .select(
        round(pmod(lit(270.0) - degrees(atan2(col("v"), col("u"))),
          lit(360.0)) * 100).cast("long").as("dc"),
        round(windSpeed(col("u"), col("v")) * 100).cast("long").as("sc"))
    val sect = obs.select(
      expr("((dc + 1125) % 36000) div 2250").as("sector"), col("sc"))
    val tot = sect.agg(count(lit(1)).as("total"))
    sect.join(broadcast(tot))
      .groupBy(col("sector"), col("total"))
      .agg(count(when(col("sc") < 3000L, 1)).as("n_light"),
        count(when(col("sc") >= 3000L && col("sc") < 6000L, 1)).as("n_moderate"),
        count(when(col("sc") >= 6000L, 1)).as("n_strong"),
        count(lit(1)).as("n_total"))
      .select(col("sector").cast("int").as("sector"), col("n_light"),
        col("n_moderate"), col("n_strong"), col("n_total"),
        expr("CAST((n_total * 1000000) div total AS BIGINT)").as("pct_ppm"))
      .orderBy(col("sector"))
  }

  /** i50: ALERT episodes with HYSTERESIS — the drought/heat-watch
    * state machine every monitoring service runs on its station
    * series (alert ON at ≥ 25.00, OFF only below 15.00 — the dead
    * band suppresses flapping at the threshold): per station, total
    * alert days, episode count, and the longest episode. A stateful
    * scan re-expressed as pure windows: threshold CROSSINGS become
    * events (≥ high → on, < low → off, dead band → none), the running
    * state is `last_value(event) IGNORE NULLS` over the day order, an
    * episode opens where state rises from 0, and episode lengths fall
    * out of a running-sum run id — four stacked window functions
    * sharing ONE (station, day-order) sort, no state store, no UDF.
    *
    * Plan: (station, day) partial agg, one station-keyed window
    * exchange serving all four functions, then run-length and station
    * rollups (i47's shape). */
  val i50 = QueryDef(
    "i50_alert_hysteresis",
    """WITH daily AS (
      |  SELECT user_id AS station,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS INTEGER) AS day,
      |    CAST(ROUND(ROUND(AVG(value) + 1e-9, 2) * 100) AS BIGINT) AS tc
      |  FROM events GROUP BY 1, 2),
      |ev AS (SELECT station, day,
      |    CASE WHEN tc >= 2500 THEN 1 WHEN tc < 1500 THEN 0 END AS e
      |  FROM daily),
      |st AS (SELECT station, day,
      |    COALESCE(LAST_VALUE(e IGNORE NULLS) OVER (
      |      PARTITION BY station ORDER BY day), 0) AS state
      |  FROM ev),
      |chg AS (SELECT station, day, state,
      |    CASE WHEN state = 1 AND COALESCE(LAG(state) OVER (
      |      PARTITION BY station ORDER BY day), 0) = 0 THEN 1 ELSE 0 END
      |      AS opens
      |  FROM st),
      |runs AS (SELECT station, day, state, opens,
      |    SUM(opens) OVER (PARTITION BY station ORDER BY day) AS run_id
      |  FROM chg),
      |eps AS (SELECT station, run_id, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM runs WHERE state = 1 GROUP BY station, run_id),
      |eps2 AS (SELECT station, MAX(len) AS longest FROM eps GROUP BY station)
      |SELECT r.station,
      |  CAST(COUNT(*) FILTER (WHERE r.state = 1) AS BIGINT) AS n_alert_days,
      |  CAST(SUM(r.opens) AS BIGINT) AS n_episodes,
      |  CAST(COALESCE(e2.longest, 0) AS BIGINT) AS longest_episode
      |FROM runs r LEFT JOIN eps2 e2 USING (station)
      |GROUP BY r.station, e2.longest
      |ORDER BY r.station""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"),
        expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
        col("value"))
      .groupBy(col("station"), col("day"))
      .agg(round(round(avg(col("value")) + 1e-9, 2) * 100).cast("long").as("tc"))
    val w = Window.partitionBy(col("station")).orderBy(col("day"))
    val runs = daily
      .withColumn("e",
        when(col("tc") >= 2500L, 1).when(col("tc") < 1500L, 0))
      .withColumn("state", coalesce(last(col("e"), ignoreNulls = true).over(w),
        lit(0)))
      .withColumn("opens",
        when(col("state") === 1 &&
          coalesce(lag(col("state"), 1).over(w), lit(0)) === 0, 1).otherwise(0))
      .withColumn("run_id", sum(col("opens")).over(w))
      .persist()
    val eps = runs.filter(col("state") === 1)
      .groupBy(col("station"), col("run_id"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("station"))
      .agg(max(col("len")).as("longest"))
    runs.groupBy(col("station"))
      .agg(count(when(col("state") === 1, 1)).as("n_alert_days"),
        sum(col("opens")).cast("long").as("n_episodes"))
      .join(eps, Seq("station"), "left")
      .select(col("station"), col("n_alert_days"), col("n_episodes"),
        coalesce(col("longest"), lit(0L)).as("longest_episode"))
      .orderBy(col("station"))
  }

  /** i51: ROBUST outlier QC — the MAD-based robust z-score
    * (Iglewicz–Hoaglin modified z, |0.6745·(x − med)/MAD| > 3.5), the
    * station-QC twin of i41's moment z-score that does NOT let the
    * outliers it hunts inflate their own threshold (one 45 °C typo
    * shifts a mean/σ gate; the median/MAD gate shrugs). Per station:
    * day count, median, MAD, and the flagged-day count.
    *
    * Exactness: daily values are integer CENTS, exact medians land on
    * the half-cent grid (even-count interpolation), and the modified-z
    * compare is the identical IEEE expression on identical inputs both
    * engines — no rounding needed anywhere. Station series are
    * span-bounded (i45's stance), so the exact per-group percentile is
    * safe at scale; two (station) aggs + one join, all on the daily
    * table. */
  val i51 = QueryDef(
    "i51_robust_outliers",
    """WITH daily AS (
      |  SELECT user_id AS station,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS INTEGER) AS day,
      |    CAST(ROUND(ROUND(AVG(value) + 1e-9, 2) * 100) AS BIGINT) AS tc
      |  FROM events GROUP BY 1, 2),
      |med AS (SELECT station, CAST(MEDIAN(tc) AS DOUBLE) AS med
      |  FROM daily GROUP BY station),
      |dev AS (SELECT d.station, d.tc, m.med, ABS(d.tc - m.med) AS adev
      |  FROM daily d JOIN med m USING (station)),
      |mad AS (SELECT station, CAST(MEDIAN(adev) AS DOUBLE) AS mad
      |  FROM dev GROUP BY station)
      |SELECT v.station, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  v.med AS median_cents, a.mad AS mad_cents,
      |  CAST(COUNT(*) FILTER (WHERE a.mad > 0
      |    AND ABS(0.6745 * (v.tc - v.med) / a.mad) > 3.5) AS BIGINT)
      |    AS n_outliers
      |FROM dev v JOIN mad a USING (station)
      |GROUP BY v.station, v.med, a.mad
      |ORDER BY v.station""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"),
        expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
        col("value"))
      .groupBy(col("station"), col("day"))
      .agg(round(round(avg(col("value")) + 1e-9, 2) * 100).cast("long").as("tc"))
    val med = daily.groupBy(col("station"))
      .agg(expr("percentile(tc, 0.5)").as("med"))
    val dev = daily.join(med, "station")
      .select(col("station"), col("tc"), col("med"),
        abs(col("tc") - col("med")).as("adev"))
    val mad = dev.groupBy(col("station"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, "station")
      .groupBy(col("station"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_days"),
        count(when(col("mad") > 0 &&
          abs(lit(0.6745) * (col("tc") - col("med")) / col("mad")) > 3.5, 1))
          .as("n_outliers"))
      .select(col("station"), col("n_days"), col("med").as("median_cents"),
        col("mad").as("mad_cents"), col("n_outliers"))
      .orderBy(col("station"))
  }

  /** i52: HEAT INDEX — the NOAA apparent-temperature product beside
    * i02's wind speed and i32's direction (the heat-health warnings
    * the reference's pipeline family serves): per station-day, T =
    * mean 'click' reading (°F), R = mean 'view' reading clamped to
    * 0–100 (%RH), both biased-rounded to 2 decimals first; HI is the
    * Rothfusz regression when T ≥ 80 and the Steadman simple formula
    * below it (the standard NWS two-regime form). Per station: day
    * count, max HI, mean HI, and danger days (HI ≥ 103 — the NWS
    * "danger" band).
    *
    * Parity: the polynomials are PURE +/× on identical grid-rounded
    * inputs mirrored term-for-term — identical IEEE results with no
    * libm and no rounding needed at the compare; the mean's float sum
    * rides the t24 DECIMAL-grid discipline. One (station, day)
    * partial agg, HI map-side, one station rollup. */
  val i52 = QueryDef(
    "i52_heat_index",
    """WITH daily AS (
      |  SELECT user_id AS station,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS INTEGER) AS day,
      |    ROUND(AVG(value) FILTER (WHERE event_type = 'click') + 1e-9, 2) AS t,
      |    ROUND(LEAST(GREATEST(
      |      AVG(value) FILTER (WHERE event_type = 'view'), 0.0), 100.0)
      |      + 1e-9, 2) AS r
      |  FROM events GROUP BY 1, 2),
      |hi AS (SELECT station, day,
      |    CASE WHEN t >= 80.0 THEN
      |      -42.379 + 2.04901523 * t + 10.14333127 * r
      |      - 0.22475541 * t * r - 0.00683783 * t * t
      |      - 0.05481717 * r * r + 0.00122874 * t * t * r
      |      + 0.00085282 * t * r * r - 0.00000199 * t * t * r * r
      |    ELSE
      |      0.5 * (t + 61.0 + (t - 68.0) * 1.2 + r * 0.094)
      |    END AS hi
      |  FROM daily WHERE t IS NOT NULL AND r IS NOT NULL)
      |SELECT station, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  ROUND(MAX(hi) + 1e-9, 2) AS max_hi,
      |  ROUND(CAST(SUM(CAST(ROUND(hi + 1e-9, 4) AS DECIMAL(18,4)))
      |    AS DOUBLE) / COUNT(*) + 1e-9, 2) AS mean_hi,
      |  CAST(COUNT(*) FILTER (WHERE hi >= 103.0) AS BIGINT) AS n_danger
      |FROM hi GROUP BY station ORDER BY station""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"),
        expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
        col("event_type"), col("value"))
      .groupBy(col("station"), col("day"))
      .agg(
        graft.QueryDef.roundBiased(
          avg(when(col("event_type") === "click", col("value"))), 2).as("t"),
        graft.QueryDef.roundBiased(
          least(greatest(avg(when(col("event_type") === "view", col("value"))),
            lit(0.0)), lit(100.0)), 2).as("r"))
      .filter(col("t").isNotNull && col("r").isNotNull)
    val t = col("t"); val r = col("r")
    val rothfusz = lit(-42.379) + lit(2.04901523) * t + lit(10.14333127) * r -
      lit(0.22475541) * t * r - lit(0.00683783) * t * t -
      lit(0.05481717) * r * r + lit(0.00122874) * t * t * r +
      lit(0.00085282) * t * r * r - lit(0.00000199) * t * t * r * r
    val steadman = lit(0.5) * (t + lit(61.0) + (t - lit(68.0)) * lit(1.2) +
      r * lit(0.094))
    val hi = daily.withColumn("hi", when(t >= 80.0, rothfusz).otherwise(steadman))
    hi.groupBy(col("station"))
      .agg(count(lit(1)).as("n_days"),
        graft.QueryDef.roundBiased(max(col("hi")), 2).as("max_hi"),
        graft.QueryDef.roundBiased(
          sum(round(col("hi") + 1e-9, 4).cast("decimal(18,4)")).cast("double") /
            count(lit(1)), 2).as("mean_hi"),
        count(when(col("hi") >= 103.0, 1)).as("n_danger"))
      .orderBy(col("station"))
  }

  /** i53: forecast VERIFICATION — persistence skill over i37's tercile
    * outlooks (the WMO verification step every seasonal-outlook
    * service publishes): forecast for year y = year y−1's observed
    * tercile (the persistence baseline any real model must beat),
    * scored per cell as hit count, hit rate (floor ppm) and the
    * HEIDKE skill score vs the 1/3 climatology chance rate —
    * HSS = (3H − N)/(2N), evaluated as one identical IEEE double
    * expression then 4-dec biased (it can be negative, so integer
    * floor division would diverge between engines' div semantics).
    *
    * One (cell, yr) partial agg, tercile + lag in ONE cell-keyed
    * window pass (shared sort), cell-sized verification agg. */
  val i53 = QueryDef(
    "i53_forecast_skill",
    """WITH yearly AS (
      |  SELECT l_returnflag AS cell,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
      |    ROUND(SUM(l_quantity), 2) AS v
      |  FROM lineitem GROUP BY 1, 2),
      |t AS (SELECT cell, yr,
      |    NTILE(3) OVER (PARTITION BY cell ORDER BY v, yr) AS tc
      |  FROM yearly),
      |p AS (SELECT cell, yr, tc,
      |    LAG(tc) OVER (PARTITION BY cell ORDER BY yr) AS f FROM t),
      |ver AS (SELECT cell, COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE tc = f) AS h
      |  FROM p WHERE f IS NOT NULL GROUP BY cell)
      |SELECT cell, CAST(n AS BIGINT) AS n_years, CAST(h AS BIGINT) AS n_hits,
      |  CAST(h * 1000000 // n AS BIGINT) AS hit_ppm,
      |  ROUND((3.0 * h - n) / (2.0 * n) + 1e-9, 4) + 0.0 AS heidke
      |FROM ver ORDER BY cell""".stripMargin) { (spark, dir) =>
    val yearly = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("cell"), year(col("l_shipdate")).as("yr"))
      .agg(round(sum(col("l_quantity")), 2).as("v"))
    val wv = Window.partitionBy(col("cell")).orderBy(col("v"), col("yr"))
    val wy = Window.partitionBy(col("cell")).orderBy(col("yr"))
    val p = yearly
      .withColumn("tc", ntile(3).over(wv))
      .withColumn("f", lag(col("tc"), 1).over(wy))
      .filter(col("f").isNotNull)
    p.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_years"),
        count(when(col("tc") === col("f"), 1)).as("n_hits"))
      .select(col("cell"), col("n_years"), col("n_hits"),
        expr("CAST((n_hits * 1000000) div n_years AS BIGINT)").as("hit_ppm"),
        graft.QueryDef.roundBiased(
          (lit(3.0) * col("n_hits") - col("n_years")) /
            (lit(2.0) * col("n_years")), 4).as("heidke"))
      .orderBy(col("cell"))
  }

  /** i54: NEAREST-station geodesic distances — the station-network
    * analysis behind WMO network-density audits and i38's
    * interpolation quality (a cell is only as good as its nearest
    * observing station): synthetic station coordinates derive from the
    * per-station mean readings (lat/lon clamped to ±60/±90, 4-dec
    * grid BEFORE any trig), the HAVERSINE great-circle distance runs
    * over station pairs, and each station reports its nearest
    * neighbor + distance (argmin via a (rounded km, id) struct-min —
    * the id tiebreak makes the pick deterministic on the grid).
    *
    * Stations are DIMENSION-sized by nature (thousands, not events) —
    * below [[SpatialPairs.AllPairsGate]] the pair space is a broadcast
    * self-join, never touching the event table twice; one station agg
    * + one station-sized argmin agg. ABOVE the gate (a continental
    * network) [[SpatialPairs.nearestStation]] switches to the
    * certified tile-ring search — i38's tile buckets + an exact
    * distance-bound certificate — so per-station work is bounded by
    * local density, not n (the quadratic rung stays where it is
    * faster, exactly like InlineCodebookK). sin/cos/asin parity rides
    * the t08 libm convention under the 4-dec output grid. */
  val i54 = QueryDef(
    "i54_nearest_station",
    """WITH st AS (
      |  SELECT user_id AS station,
      |    ROUND(LEAST(GREATEST(
      |      AVG(value) FILTER (WHERE event_type = 'click') - 50.0,
      |      -60.0), 60.0) + 1e-9, 4) AS lat,
      |    ROUND(LEAST(GREATEST(
      |      AVG(value) FILTER (WHERE event_type = 'view') - 50.0,
      |      -90.0), 90.0) + 1e-9, 4) AS lon
      |  FROM events GROUP BY user_id
      |  HAVING lat IS NOT NULL AND lon IS NOT NULL),
      |d AS (SELECT a.station, b.station AS other,
      |    ROUND(2.0 * 6371.0 * ASIN(SQRT(
      |      SIN(RADIANS((b.lat - a.lat) / 2.0)) *
      |        SIN(RADIANS((b.lat - a.lat) / 2.0)) +
      |      COS(RADIANS(a.lat)) * COS(RADIANS(b.lat)) *
      |        SIN(RADIANS((b.lon - a.lon) / 2.0)) *
      |        SIN(RADIANS((b.lon - a.lon) / 2.0)))) + 1e-9, 4) AS km
      |  FROM st a JOIN st b ON a.station <> b.station)
      |SELECT station,
      |  MIN(struct_pack(km := km, other := other)).km AS nearest_km,
      |  CAST(MIN(struct_pack(km := km, other := other)).other AS BIGINT)
      |    AS nearest_station
      |FROM d GROUP BY station ORDER BY station""".stripMargin) { (spark, dir) =>
    val st = Tables(spark, dir).events
      .groupBy(col("user_id").as("station"))
      .agg(
        graft.QueryDef.roundBiased(least(greatest(
          avg(when(col("event_type") === "click", col("value"))) - 50.0,
          lit(-60.0)), lit(60.0)), 4).as("lat"),
        graft.QueryDef.roundBiased(least(greatest(
          avg(when(col("event_type") === "view", col("value"))) - 50.0,
          lit(-90.0)), lit(90.0)), 4).as("lon"))
      .filter(col("lat").isNotNull && col("lon").isNotNull)
      .persist()
    SpatialPairs.nearestStation(st, st.count())
      .orderBy(col("station"))
  }

  /** i55: IDW CROSS-VALIDATION — leave-one-out verification of i38's
    * interpolation (the standard geostatistical QC: hide each station,
    * predict it from its neighbors, score the error — the number a
    * gridding service publishes next to every blended product): per
    * station, the inverse-square-distance prediction from OTHER
    * stations within the cutoff radius, the observed value, and the
    * absolute error. Numerator/denominator sums ride the 8-dec
    * DECIMAL grid separately (order-free), the division rounds at
    * 4-dec, near-coincident stations (d² < 0.01) are excluded from
    * each other's neighborhoods (the 1/d² weight would explode), and
    * stations with no in-radius neighbor drop (inner-join semantics —
    * nothing to validate against).
    *
    * Stations are dimension-sized: below the gate the pair space is a
    * broadcast self-join (i54's stance), the events table is scanned
    * once. Above [[SpatialPairs.AllPairsGate]] the cutoff radius (d² ≤
    * 400 ⇒ r = 20) makes the tile rung direct: stations explode to the
    * ≤3×3 tiles the radius touches and pairs meet through the tile
    * equi-join + residual d² filter — no certification needed because
    * the neighborhood is radius-bounded by the operator itself. Both
    * rungs emit the same pair set, and the num/denom sums ride the
    * DECIMAL grid, so the result is order-free and rung-identical. */
  val i55 = QueryDef(
    "i55_idw_crossval",
    """WITH st AS (
      |  SELECT user_id AS station,
      |    ROUND(AVG(value) FILTER (WHERE event_type = 'click') + 1e-9, 2)
      |      AS x,
      |    ROUND(AVG(value) FILTER (WHERE event_type = 'view') + 1e-9, 2)
      |      AS y,
      |    ROUND(AVG(value) + 1e-9, 2) AS v
      |  FROM events GROUP BY user_id
      |  HAVING x IS NOT NULL AND y IS NOT NULL),
      |pr AS (SELECT a.station,
      |    CAST(COUNT(*) AS BIGINT) AS n_neighbors,
      |    ROUND(CAST(SUM(CAST(ROUND(b.v / ((a.x - b.x) * (a.x - b.x)
      |        + (a.y - b.y) * (a.y - b.y)) + 1e-9, 8) AS DECIMAL(28,8)))
      |      AS DOUBLE) /
      |      CAST(SUM(CAST(ROUND(1.0 / ((a.x - b.x) * (a.x - b.x)
      |        + (a.y - b.y) * (a.y - b.y)) + 1e-9, 8) AS DECIMAL(28,8)))
      |      AS DOUBLE) + 1e-9, 4) AS pred
      |  FROM st a JOIN st b ON a.station <> b.station
      |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) >= 0.01
      |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 400.0
      |  GROUP BY a.station)
      |SELECT p.station, p.n_neighbors, p.pred, s.v AS obs,
      |  ROUND(ABS(p.pred - s.v) + 1e-9, 4) AS abs_err
      |FROM pr p JOIN st s ON s.station = p.station
      |ORDER BY p.station""".stripMargin) { (spark, dir) =>
    val st = Tables(spark, dir).events
      .groupBy(col("user_id").as("station"))
      .agg(
        graft.QueryDef.roundBiased(
          avg(when(col("event_type") === "click", col("value"))), 2).as("x"),
        graft.QueryDef.roundBiased(
          avg(when(col("event_type") === "view", col("value"))), 2).as("y"),
        graft.QueryDef.roundBiased(avg(col("value")), 2).as("v"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .persist()
    val a = st.toDF("station", "x", "y", "v")
    val b = st.toDF("other", "bx", "by", "bv")
    val d2 = (col("x") - col("bx")) * (col("x") - col("bx")) +
      (col("y") - col("by")) * (col("y") - col("by"))
    val pr = SpatialPairs
      .radiusPairs(a, b, "x", "y", "bx", "by", 400.0, st.count())
      .filter(col("station") =!= col("other") && d2 >= 0.01)
      .select(col("station"),
        round(col("bv") / d2 + 1e-9, 8).cast("decimal(28,8)").as("wv"),
        round(lit(1.0) / d2 + 1e-9, 8).cast("decimal(28,8)").as("w"))
      .groupBy(col("station"))
      .agg(count(lit(1)).as("n_neighbors"),
        graft.QueryDef.roundBiased(
          sum(col("wv")).cast("double") / sum(col("w")).cast("double"), 4)
          .as("pred"))
    pr.join(st.select(col("station"), col("v")), "station")
      .select(col("station"), col("n_neighbors"), col("pred"),
        col("v").as("obs"),
        graft.QueryDef.roundBiased(abs(col("pred") - col("v")), 4)
          .as("abs_err"))
      .orderBy(col("station"))
  }

  /** i56: REFERENCE EVAPOTRANSPIRATION (FAO-56 Hargreaves) — the
    * temperature-only ET₀ estimate (Hargreaves & Samani 1985, as
    * standardized in FAO Irrigation & Drainage Paper 56 eq. 52) that
    * agro-met services publish wherever radiation/humidity sensors
    * don't exist — the drought/irrigation product next to i24's
    * rainfall anomaly: ET₀ = 0.0023 · (Tmean + 17.8) · √(Tmax − Tmin)
    * · 0.408·Ra, with extraterrestrial radiation Ra from latitude and
    * day-of-year alone (FAO-56 eqs. 21–25: inverse relative distance
    * dr, solar declination δ, sunset hour angle ωs).
    *
    * Inputs ride i52's shape: per-(station, day) Tmax/Tmin from the
    * click readings (2-dec grid), station latitude from i54's
    * derivation (4-dec grid). One (station, day) partial agg + one
    * station-dim agg broadcast back + a station-sized final agg — the
    * events table is scanned twice (daily extremes vs station mean),
    * never shuffled wide more than once.
    *
    * Determinism: every trig input sits on a decimal grid, the
    * astronomy chain (sin/cos/tan/acos under the t08 libm convention)
    * is ONE fixed-shape expression on both engines, per-day ET₀
    * biased-rounds to the 4-dec grid and the station mean sums those
    * as DECIMAL(18,4) (order-free; i52's discipline). ωs's acos
    * argument is clamped to [−1, 1] (|φ| ≤ 60° keeps it interior, the
    * clamp is rigor). ET₀ ≥ 0 by construction (all factors
    * non-negative here), so no −0.0 normalization is needed. */
  val i56 = QueryDef(
    "i56_eto_hargreaves",
    """WITH st AS (
      |  SELECT user_id AS station,
      |    ROUND(LEAST(GREATEST(
      |      AVG(value) FILTER (WHERE event_type = 'click') - 50.0,
      |      -60.0), 60.0) + 1e-9, 4) AS lat
      |  FROM events GROUP BY user_id HAVING lat IS NOT NULL),
      |daily AS (
      |  SELECT user_id AS station, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    ROUND(MAX(value) FILTER (WHERE event_type = 'click') + 1e-9, 2) AS tmax,
      |    ROUND(MIN(value) FILTER (WHERE event_type = 'click') + 1e-9, 2) AS tmin
      |  FROM events GROUP BY 1, 2 HAVING tmax IS NOT NULL),
      |geo AS (
      |  SELECT daily.station, tmax, tmin,
      |    RADIANS(st.lat) AS phi,
      |    0.409 * SIN(2 * PI() / 365 * DAYOFYEAR(d) - 1.39) AS sdec,
      |    1 + 0.033 * COS(2 * PI() / 365 * DAYOFYEAR(d)) AS dr
      |  FROM daily JOIN st USING (station)),
      |g2 AS (
      |  SELECT station, tmax, tmin, phi, sdec, dr,
      |    ACOS(LEAST(GREATEST(-TAN(phi) * TAN(sdec), -1.0), 1.0)) AS ws
      |  FROM geo),
      |et AS (
      |  SELECT station,
      |    0.0023 * ((tmax + tmin) / 2 + 17.8) * SQRT(tmax - tmin)
      |      * (0.408 * (1440 / PI() * 0.082 * dr
      |        * (ws * SIN(phi) * SIN(sdec)
      |           + COS(phi) * COS(sdec) * SIN(ws)))) AS et0
      |  FROM g2)
      |SELECT station, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  ROUND(CAST(SUM(CAST(ROUND(et0 + 1e-9, 4) AS DECIMAL(18,4)))
      |    AS DOUBLE) / COUNT(*) + 1e-9, 2) AS mean_et0,
      |  ROUND(MAX(et0) + 1e-9, 2) AS max_et0
      |FROM et GROUP BY station ORDER BY station""".stripMargin) { (spark, dir) =>
    val ev = Tables(spark, dir).events
    def click(c: Column) = when(col("event_type") === "click", c)
    val st = ev.groupBy(col("user_id").as("station"))
      .agg(graft.QueryDef.roundBiased(least(greatest(
        avg(click(col("value"))) - 50.0, lit(-60.0)), lit(60.0)), 4).as("lat"))
      .filter(col("lat").isNotNull)
    val daily = ev
      .groupBy(col("user_id").as("station"), expr("to_date(ts)").as("d"))
      .agg(graft.QueryDef.roundBiased(max(click(col("value"))), 2).as("tmax"),
        graft.QueryDef.roundBiased(min(click(col("value"))), 2).as("tmin"))
      .filter(col("tmax").isNotNull)
    val ang = lit(2) * lit(math.Pi) / lit(365) * dayofyear(col("d"))
    val geo = daily.join(broadcast(st), "station")
      .select(col("station"), col("tmax"), col("tmin"),
        radians(col("lat")).as("phi"),
        (lit(0.409) * sin(ang - lit(1.39))).as("sdec"),
        (lit(1) + lit(0.033) * cos(ang)).as("dr"))
      .withColumn("ws",
        acos(least(greatest(-tan(col("phi")) * tan(col("sdec")), lit(-1.0)),
          lit(1.0))))
    val et0 = lit(0.0023) * ((col("tmax") + col("tmin")) / 2 + lit(17.8)) *
      sqrt(col("tmax") - col("tmin")) *
      (lit(0.408) * (lit(1440) / lit(math.Pi) * lit(0.082) * col("dr") *
        (col("ws") * sin(col("phi")) * sin(col("sdec")) +
          cos(col("phi")) * cos(col("sdec")) * sin(col("ws")))))
    geo.select(col("station"), et0.as("et0"))
      .groupBy(col("station"))
      .agg(count(lit(1)).as("n_days"),
        graft.QueryDef.roundBiased(
          sum(round(col("et0") + 1e-9, 4).cast("decimal(18,4)")).cast("double") /
            count(lit(1)), 2).as("mean_et0"),
        graft.QueryDef.roundBiased(max(col("et0")), 2).as("max_et0"))
      .orderBy(col("station"))
  }

  /** i57: MANN–KENDALL trend test + SEN'S SLOPE per station — the
    * WMO-recommended nonparametric trend detection for climate series
    * (Mann 1945; Kendall 1975; Sen 1968; the exact procedure WMO-No.
    * 1203 prescribes for trend statements): over each station's
    * DAILY totals, S = Σ_{i<j} sign(v_j − v_i), the tie-corrected
    * variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, the
    * continuity-corrected Z, and Sen's slope = median of the pairwise
    * daily slopes (v_j − v_i)/(j − i) — the robust trend magnitude a
    * homogenized series is annotated with (i45 finds the breakpoint;
    * i57 quantifies the trend).
    *
    * 100 TB shape: the raw scan partial-aggs to (station, day)
    * totals — CALENDAR-bounded, so the pairwise self-join's work per
    * station is O(days²) ≤ ~10³ regardless of row count (unlike
    * i54's station×station space, this pair space cannot grow with
    * the network; no gate needed). One station-keyed shuffle serves
    * the pair join, the rank window, and every aggregate.
    *
    * Determinism: monthly totals land on the integer-cents grid
    * (i45's convention); slopes are exact integer micro-cents/day
    * via a pmod-floor division (identical floor semantics on both
    * engines — Spark `div` truncates, so the remainder is
    * pre-subtracted); the median is the LOWER median (rank
    * (c+1)/2-th smallest), a value pick that ties cannot perturb;
    * Z is the one rounded double, −0.0-normalized. */
  val i57 = QueryDef(
    "i57_mann_kendall",
    """WITH m AS (SELECT user_id AS station,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(ROUND(ROUND(SUM(value), 2) * 100) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |idx AS (SELECT station, vc,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY station ORDER BY day)
      |      AS BIGINT) AS k
      |  FROM m),
      |pr AS (SELECT a.station AS station,
      |    b.vc - a.vc AS dv, b.k - a.k AS dk
      |  FROM idx a JOIN idx b ON a.station = b.station AND b.k > a.k),
      |sl AS (SELECT station, dv, dk,
      |    (dv * 1000000 - ((dv * 1000000 % dk) + dk) % dk) // dk AS sm
      |  FROM pr),
      |st AS (SELECT station,
      |    CAST(SUM(CASE WHEN dv > 0 THEN 1 WHEN dv < 0 THEN -1 ELSE 0 END)
      |      AS BIGINT) AS s
      |  FROM pr GROUP BY 1),
      |n AS (SELECT station, CAST(COUNT(*) AS BIGINT) AS n FROM idx GROUP BY 1),
      |tie AS (SELECT station,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tadj
      |  FROM (SELECT station, vc, CAST(COUNT(*) AS BIGINT) AS t
      |        FROM idx GROUP BY 1, 2) g GROUP BY 1),
      |med AS (SELECT station, sm,
      |    ROW_NUMBER() OVER (PARTITION BY station ORDER BY sm, dv, dk) AS r,
      |    COUNT(*) OVER (PARTITION BY station) AS c
      |  FROM sl),
      |sen AS (SELECT station, CAST(sm AS BIGINT) AS sen_micro
      |  FROM med WHERE r = (c + 1) // 2)
      |SELECT st.station AS station, n.n AS n_days, st.s AS s_stat,
      |  ROUND(CASE WHEN n.n * (n.n - 1) * (2 * n.n + 5) - tie.tadj > 0 THEN
      |      CASE WHEN st.s > 0 THEN (st.s - 1)
      |          / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - tie.tadj) / 18.0)
      |        WHEN st.s < 0 THEN (st.s + 1)
      |          / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - tie.tadj) / 18.0)
      |        ELSE 0.0 END END + 1e-9, 4) + 0.0 AS z,
      |  sen.sen_micro AS sen_micro
      |FROM st JOIN n USING (station) JOIN tie USING (station)
      |     JOIN sen USING (station)
      |ORDER BY station""".stripMargin) { (spark, dir) =>
    val wOrd = Window.partitionBy(col("station")).orderBy(col("day"))
    val m = Tables(spark, dir).events
      .groupBy(col("user_id").as("station"),
        to_date(col("ts")).as("day"))
      .agg(round(round(sum(col("value")), 2) * 100).cast("long").as("vc"))
    val idx = m
      .select(col("station"), col("vc"),
        row_number().over(wOrd).cast("long").as("k"))
      .persist() // feeds the pair join (twice), n, and the tie table
    val pr = idx.as("a").join(idx.as("b"),
        col("a.station") === col("b.station") && col("b.k") > col("a.k"))
      .select(col("a.station").as("station"),
        (col("b.vc") - col("a.vc")).as("dv"),
        (col("b.k") - col("a.k")).as("dk"))
    // exact floor division in integers: pre-subtract the pmod remainder
    // so Spark's truncating `div` agrees with a true floor for dv < 0
    val sl = pr.withColumn("sm",
      expr("(dv * 1000000 - ((dv * 1000000 % dk) + dk) % dk) div dk"))
    val st = pr.groupBy(col("station"))
      .agg(sum(when(col("dv") > 0, 1).when(col("dv") < 0, -1).otherwise(0))
        .cast("long").as("s"))
    val n = idx.groupBy(col("station")).agg(count(lit(1)).as("n"))
    val tie = idx.groupBy(col("station"), col("vc"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("station"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tadj"))
    val wMed = Window.partitionBy(col("station"))
      .orderBy(col("sm"), col("dv"), col("dk"))
    val sen = sl
      .withColumn("r", row_number().over(wMed))
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("station"))))
      .filter(col("r") === expr("(c + 1) div 2"))
      .select(col("station"), col("sm").cast("long").as("sen_micro"))
    val varNum = col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tadj")
    st.join(n, "station").join(tie, "station").join(sen, "station")
      .select(col("station"), col("n").as("n_days"), col("s").as("s_stat"),
        graft.QueryDef.roundBiased(
          when(varNum > 0,
            when(col("s") > 0, (col("s") - 1) / sqrt(varNum / 18.0))
              .when(col("s") < 0, (col("s") + 1) / sqrt(varNum / 18.0))
              .otherwise(0.0)), 4).as("z"),
        col("sen_micro"))
      .orderBy(col("station"))
  }

  /** i58: RX5DAY — the ETCCDI extreme-precipitation index (highest
    * consecutive 5-day precipitation total; WMO/CCl ETCCDI core set,
    * Karl et al. 1999) every national climate service reports
    * annually: per station, the maximum rolling 5-observation total
    * of the daily amounts and the day the maximum window ENDS
    * (earliest such day when tied — a deterministic pick). i47's
    * spells count threshold runs; i58 is the magnitude extreme, the
    * flood-risk number.
    *
    * 100 TB shape: raw scan partial-aggs to (station, day) cents
    * (i45's grid); the rolling sum is ONE station-keyed window whose
    * partition is calendar-bounded; the max + earliest-end reduce on
    * the same keyed frame (the window's shuffle partitioning serves
    * the final agg). Only complete 5-obs windows count (nwin = 5 —
    * a ROWS frame over observed days, the i17 batch-window stance on
    * gaps). All-integer. */
  val i58 = QueryDef(
    "i58_rx5day",
    """WITH d AS (SELECT user_id AS station,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(ROUND(ROUND(SUM(value), 2) * 100) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT station, day,
      |    CAST(SUM(vc) OVER w AS BIGINT) AS r5,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS nwin
      |  FROM d WINDOW w AS (PARTITION BY station ORDER BY day
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      |f AS (SELECT * FROM r WHERE nwin = 5),
      |mx AS (SELECT station, CAST(MAX(r5) AS BIGINT) AS rx FROM f GROUP BY 1)
      |SELECT f.station AS station, mx.rx AS rx5day_cents,
      |  CAST(MIN(f.day) AS TIMESTAMP) AS end_day
      |FROM f JOIN mx ON f.station = mx.station AND f.r5 = mx.rx
      |GROUP BY 1, 2 ORDER BY station""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("station")).orderBy(col("day"))
      .rowsBetween(-4, Window.currentRow)
    val d = Tables(spark, dir).events
      .groupBy(col("user_id").as("station"), to_date(col("ts")).as("day"))
      .agg(round(round(sum(col("value")), 2) * 100).cast("long").as("vc"))
    val f = d
      .withColumn("r5", sum(col("vc")).over(w))
      .withColumn("nwin", count(lit(1)).over(w))
      .filter(col("nwin") === 5)
    val mx = f.groupBy(col("station").as("mstation")).agg(max(col("r5")).as("rx"))
    f.join(mx, col("station") === col("mstation") && col("r5") === col("rx"))
      .groupBy(col("station"), col("rx").as("rx5day_cents"))
      .agg(min(col("day")).cast("timestamp").as("end_day"))
      .orderBy(col("station"))
  }

  /** i59: SAVITZKY–GOLAY smoothing (Savitzky & Golay 1964; 5-point
    * quadratic kernel [−3, 12, 17, 12, −3]/35) over each station's
    * daily series — the polynomial filter satellite-product pipelines
    * (NDVI dekads, the reference's domain) run before thresholding,
    * because it preserves peak height where a moving average (q25)
    * flattens it: per interior day, the smoothed value plus the raw
    * one, complete 5-point windows only (the i58 stance on edges).
    *
    * 100 TB shape: raw scan partial-aggs to calendar-bounded
    * (station, day) cents; the kernel is ONE station-keyed window
    * (lag2..lead2 share a single sort/shuffle). Determinism: the
    * kernel is applied in INTEGER cents ×35 (exact BIGINT — no float
    * until the single presentation division, which can be negative →
    * −0.0-normalized). */
  val i59 = QueryDef(
    "i59_savgol_smooth",
    """WITH d AS (SELECT user_id AS station,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(ROUND(ROUND(SUM(value), 2) * 100) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |k AS (SELECT station, day, vc,
      |    LAG(vc, 2) OVER w AS a, LAG(vc, 1) OVER w AS b,
      |    LEAD(vc, 1) OVER w AS p, LEAD(vc, 2) OVER w AS q
      |  FROM d WINDOW w AS (PARTITION BY station ORDER BY day))
      |SELECT station, CAST(day AS TIMESTAMP) AS day, vc,
      |  CAST(-3 * a + 12 * b + 17 * vc + 12 * p - 3 * q AS BIGINT) AS sm35,
      |  ROUND((-3 * a + 12 * b + 17 * vc + 12 * p - 3 * q) / 35.0 / 100.0
      |    + 1e-9, 2) + 0.0 AS smoothed
      |FROM k WHERE a IS NOT NULL AND b IS NOT NULL
      |  AND p IS NOT NULL AND q IS NOT NULL
      |ORDER BY station, day""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("station")).orderBy(col("day"))
    val d = Tables(spark, dir).events
      .groupBy(col("user_id").as("station"), to_date(col("ts")).as("day"))
      .agg(round(round(sum(col("value")), 2) * 100).cast("long").as("vc"))
    val k = d
      .withColumn("a", lag(col("vc"), 2).over(w))
      .withColumn("b", lag(col("vc"), 1).over(w))
      .withColumn("p", lead(col("vc"), 1).over(w))
      .withColumn("q", lead(col("vc"), 2).over(w))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("p").isNotNull && col("q").isNotNull)
    val sm35 = lit(-3) * col("a") + lit(12) * col("b") + lit(17) * col("vc") +
      lit(12) * col("p") + lit(-3) * col("q")
    k.select(col("station"), col("day").cast("timestamp").as("day"), col("vc"),
        sm35.cast("long").as("sm35"),
        graft.QueryDef.roundBiased(sm35 / 35.0 / 100.0, 2).as("smoothed"))
      .orderBy(col("station"), col("day"))
  }

  /** i60: PHENOLOGY CALENDAR from cumulative degree days — the
    * agro-met product one step downstream of i46's GDD total (FAO
    * crop-stage guidance: fixed GDD thresholds mark emergence /
    * flowering / maturity): per station, the first day the cumulative
    * GDD (i46's capped definition, shared grid) crosses each of the
    * 50/100/200 degree-day stages, plus the two inter-stage spans —
    * the planting-advice numbers an extension service publishes.
    *
    * 100 TB shape: i46's chain verbatim — (station, day) partial agg,
    * ONE station-keyed cumulative window, a station-sized conditional
    * min. Stations that never reach a stage carry NULLs (visible, not
    * dropped; the span columns go NULL with them). All-integer. */
  val i60 = QueryDef(
    "i60_phenology_dates",
    """WITH daily AS (
      |  SELECT user_id AS station,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS INTEGER) AS day,
      |    CAST(ROUND(ROUND(AVG(value) + 1e-9, 2) * 100) AS BIGINT) AS tc
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT station, day,
      |    GREATEST(LEAST(tc, 3000) - 1000, 0) AS gdd FROM daily),
      |c AS (SELECT station, day, gdd,
      |    SUM(gdd) OVER (PARTITION BY station ORDER BY day) AS cum FROM g)
      |SELECT station,
      |  CAST(MIN(CASE WHEN cum >= 5000 THEN day END) AS INTEGER) AS emerge_day,
      |  CAST(MIN(CASE WHEN cum >= 10000 THEN day END) AS INTEGER) AS flower_day,
      |  CAST(MIN(CASE WHEN cum >= 20000 THEN day END) AS INTEGER) AS mature_day,
      |  CAST(MIN(CASE WHEN cum >= 10000 THEN day END)
      |    - MIN(CASE WHEN cum >= 5000 THEN day END) AS INTEGER) AS emerge_to_flower,
      |  CAST(MIN(CASE WHEN cum >= 20000 THEN day END)
      |    - MIN(CASE WHEN cum >= 10000 THEN day END) AS INTEGER) AS flower_to_mature
      |FROM c GROUP BY station ORDER BY station""".stripMargin) { (spark, dir) =>
    val daily = Tables(spark, dir).events
      .select(col("user_id").as("station"),
        expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
        col("value"))
      .groupBy(col("station"), col("day"))
      .agg(round(round(avg(col("value")) + 1e-9, 2) * 100).cast("long").as("tc"))
    val g = daily.select(col("station"), col("day"),
      greatest(least(col("tc"), lit(3000L)) - 1000L, lit(0L)).as("gdd"))
    val w = Window.partitionBy(col("station")).orderBy(col("day"))
    def stage(thr: Long) = min(when(col("cum") >= thr, col("day")))
    g.withColumn("cum", sum(col("gdd")).over(w))
      .groupBy(col("station"))
      .agg(stage(5000L).cast("int").as("emerge_day"),
        stage(10000L).cast("int").as("flower_day"),
        stage(20000L).cast("int").as("mature_day"),
        (stage(10000L) - stage(5000L)).cast("int").as("emerge_to_flower"),
        (stage(20000L) - stage(10000L)).cast("int").as("flower_to_mature"))
      .orderBy(col("station"))
  }

  /** i61: WIND CHILL index — the cold-side twin of i52's heat index
    * (the JAG/TI formula adopted by the US NWS and Environment Canada
    * in 2001; the number behind every winter warning bulletin):
    * WCT = 13.12 + 0.6215·T − 11.37·v^0.16 + 0.3965·T·v^0.16 with T
    * in °C and wind v in km/h, defined for cold days (T ≤ 10) with
    * the wind floored at the formula's 4.8 km/h validity bound. Per
    * station: cold-day count, the season's minimum WCT (the warning
    * trigger), and the mean.
    *
    * Inputs ride i52's shape: per-(station, day) temperature = click
    * mean − 50 and wind = view mean, both on the 2-dec grid before
    * any float math; v^0.16 is ONE POW call (t08's libm convention,
    * argument ≥ 4.8 > 0) inside a single fixed-shape expression. Per-
    * day WCT biased-rounds to the 4-dec grid; the station mean sums
    * those as DECIMAL(18,4) (order-free, i52/i56's discipline); min
    * and mean can be negative → −0.0-normalized. One (station, day)
    * partial agg + one station rollup. */
  val i61 = QueryDef(
    "i61_wind_chill",
    """WITH daily AS (
      |  SELECT user_id AS station, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    ROUND(AVG(value) FILTER (WHERE event_type = 'click') - 50.0
      |      + 1e-9, 2) AS t,
      |    GREATEST(ROUND(AVG(value) FILTER (WHERE event_type = 'view')
      |      + 1e-9, 2), 4.8) AS v
      |  FROM events GROUP BY 1, 2
      |  HAVING t IS NOT NULL AND t <= 10.0
      |     AND AVG(value) FILTER (WHERE event_type = 'view') IS NOT NULL),
      |w AS (SELECT station,
      |    13.12 + 0.6215 * t - 11.37 * POW(v, 0.16)
      |      + 0.3965 * t * POW(v, 0.16) AS wct
      |  FROM daily)
      |SELECT station, CAST(COUNT(*) AS BIGINT) AS n_cold_days,
      |  ROUND(MIN(wct) + 1e-9, 2) + 0.0 AS min_wct,
      |  ROUND(CAST(SUM(CAST(ROUND(wct + 1e-9, 4) AS DECIMAL(18,4)))
      |    AS DOUBLE) / COUNT(*) + 1e-9, 2) + 0.0 AS mean_wct
      |FROM w GROUP BY station ORDER BY station""".stripMargin) { (spark, dir) =>
    def typed(t: String) = when(col("event_type") === t, col("value"))
    val daily = Tables(spark, dir).events
      .groupBy(col("user_id").as("station"), to_date(col("ts")).as("d"))
      .agg(graft.QueryDef.roundBiased(avg(typed("click")) - 50.0, 2).as("t"),
        greatest(graft.QueryDef.roundBiased(avg(typed("view")), 2), lit(4.8))
          .as("v"),
        avg(typed("view")).as("vraw"))
      .filter(col("t").isNotNull && col("t") <= 10.0 && col("vraw").isNotNull)
    val vp = pow(col("v"), 0.16)
    val wct = lit(13.12) + lit(0.6215) * col("t") - lit(11.37) * vp +
      lit(0.3965) * col("t") * vp
    daily.select(col("station"), wct.as("wct"))
      .groupBy(col("station"))
      .agg(count(lit(1)).as("n_cold_days"),
        graft.QueryDef.roundBiased(min(col("wct")), 2).as("min_wct"),
        graft.QueryDef.roundBiased(
          sum(round(col("wct") + 1e-9, 4).cast("decimal(18,4)")).cast("double") /
            count(lit(1)), 2).as("mean_wct"))
      .orderBy(col("station"))
  }

  /** i62: the ACQUIRE→DECODE transport rung inside the correctness
    * gate — a deterministic lineitem aggregate is laid out as a CF
    * grid, written through the clean-room [[graft.sources.NetCdf]]
    * encoder as a real `.nc` cube (record time dim, coordinate vars,
    * `_FillValue`, CF time units), read BACK through the
    * [[graft.sources.NcGridSource]] DSv2 scan (per-(file×step) splits),
    * and emitted with its decoded georeferencing and timestamps. The
    * DuckDB oracle recomputes the grid DIRECTLY from lineitem — any
    * codec bit-slip (layout, record stride, CF unpack, time base)
    * breaks the hash. The reference's `.nc`→slice→product path
    * (`cams_forecast/__init__.py:63`, `tamsat_rainfall/__init__.py:184`)
    * as ONE oracled operator. r14: one file per step, step 1
    * GZIP-WRAPPED (`.nc.gz`) — the transparent task-side unwrap and
    * the bounded ISIZE-trailer planning path both sit inside the
    * hash gate; t recovered from the decoded time axis.
    *
    * Scale shape: the grid is FIXED-size (2×8×12 — model-state-sized,
    * like s04's codebook), so the driver-side encode is bounded by the
    * grid, never the data; the aggregation feeding it is one
    * partial-agg shuffle with 192 groups out, and the read-back fans
    * out per (file × time step). Empty cells land as fill and are
    * dropped by the source — absent from both engines. */
  def i62: QueryDef = QueryDef(
    "i62_nc_grid_cycle",
    """WITH g AS (
      |  SELECT CAST(l_linenumber % 2 AS INTEGER) AS t,
      |    CAST(l_suppkey % 8 AS INTEGER) AS y,
      |    CAST(l_partkey % 12 AS INTEGER) AS x,
      |    CAST(SUM(l_quantity) AS DOUBLE) AS v
      |  FROM lineitem GROUP BY 1, 2, 3)
      |SELECT t, STRFTIME(DATE '1995-01-01' + t, '%Y-%m-%d') AS time_day,
      |  x, y, -10.0 + x * 0.5 AS lon, 10.0 - y * 0.5 AS lat,
      |  ROUND(v, 2) AS value
      |FROM g ORDER BY t, y, x""".stripMargin) { (spark, dir) =>
    import graft.sources.NetCdf
    import graft.sources.NetCdf.{Att, Dim, VarSpec}
    val (nt, ny, nx) = (2, 8, 12)
    val cells = Tables(spark, dir).lineitem
      .groupBy((col("l_linenumber") % 2).cast("int").as("t"),
        (col("l_suppkey") % 8).cast("int").as("y"),
        (col("l_partkey") % 12).cast("int").as("x"))
      .agg(sum(col("l_quantity")).cast("double").as("v"))
      .collect() // bounded by the fixed grid (≤192 cells), not the data
    val values = Array.fill(nt * ny * nx)(-9999.0)
    cells.foreach(r =>
      values(r.getInt(0) * ny * nx + r.getInt(1) * nx + r.getInt(2)) =
        r.getDouble(3))
    // one file per time step — step 1 lands GZIP-WRAPPED (`.nc.gz`,
    // the common archive distribution shape) so the transparent
    // unwrap AND the bounded gz planning path sit INSIDE the DuckDB
    // hash gate (r14); t is recovered from the time AXIS (each file's
    // in-file step index is 0)
    def ncFor(t: Int): Array[Byte] = NetCdf.encode(
      Seq(Dim("time", 0), Dim("lat", ny), Dim("lon", nx)), Nil,
      Seq(
        VarSpec("time", Seq("time"), NetCdf.NcDouble,
          atts = Seq(Att("units", Some("days since 1995-01-01"), Array.empty)),
          values = Array(t.toDouble)),
        VarSpec("lat", Seq("lat"), NetCdf.NcDouble,
          values = Array.tabulate(ny)(10.0 - _ * 0.5)),
        VarSpec("lon", Seq("lon"), NetCdf.NcDouble,
          values = Array.tabulate(nx)(-10.0 + _ * 0.5)),
        VarSpec("qty", Seq("time", "lat", "lon"), NetCdf.NcDouble,
          atts = Seq(Att("_FillValue", None, Array(-9999.0))),
          values = java.util.Arrays.copyOfRange(
            values, t * ny * nx, (t + 1) * ny * nx))),
      numRecs = 1)
    val ncDir = java.nio.file.Paths.get(
      graft.Fixtures.pathFor(dir, "i62_nc"))
    java.nio.file.Files.createDirectories(ncDir)
    // wipe stale layouts first (the fixture dir persists across runs —
    // the old single-file grid.nc held BOTH steps and would double rows)
    val stale = java.nio.file.Files.list(ncDir)
    try stale.forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally stale.close()
    java.nio.file.Files.write(ncDir.resolve("grid0.nc"), ncFor(0))
    java.nio.file.Files.write(ncDir.resolve("grid1.nc.gz"),
      graft.sources.Gz.gzip(ncFor(1)))
    spark.read.format("graft.sources.NcGridSource")
      .option("path", ncDir.toString).option("var", "qty").load()
      .select(
        datediff(col("time"), lit("1995-01-01").cast("date"))
          .cast("int").as("t"),
        date_format(col("time"), "yyyy-MM-dd").as("time_day"),
        col("x"), col("y"), col("lon"), col("lat"),
        round(col("value"), 2).as("value"))
      .orderBy(col("t"), col("y"), col("x"))
  }

  /** i63: the GRIB TRANSPORT CYCLE inside the correctness gate — the
    * i62 pattern for the engine's other acquisition format: the same
    * deterministic lineitem grid is packed as EIGHT real GRIB messages
    * (lat/lon grid, BITMAP for empty cells, 2^-2 binary scale, param
    * number = slice index) — slice 0 as 5.0 SIMPLE packing through
    * [[graft.sources.GribMeta.encodeSimple]], slice 1
    * as 5.3 COMPLEX packing with second-order spatial differencing
    * through [[graft.sources.GribMeta.encodeComplex]] (r10: the ECMWF
    * archive common case, group-split refs/widths/lengths + difference
    * integration), slice 2 as 5.41 PNG packing through
    * [[graft.sources.GribMeta.encodePng]] (r11: 24-bit RGB carrier),
    * slice 3 as 5.40 lossless JPEG2000 through
    * [[graft.sources.GribMeta.encodeJpeg2000]] (r12: the DOMINANT
    * NCEP/ECMWF dissemination packing, clean-room [[graft.sources.Jpeg2k]]
    * codestream), slice 4 as 5.42 CCSDS/AEC Rice packing through
    * [[graft.sources.GribMeta.encodeCcsds]] (r12: the clean-room
    * [[graft.sources.Szip]] coder), slice 5 as a GRIB EDITION-1
    * SECOND-ORDER message through
    * [[graft.sources.GribMeta.encodeG1SecondOrder]] (r13: the
    * ECMWF-era pre-GRIB2 archive packing — secondary-bitmap groups,
    * IBM-32 reference, per-group widths), slice 6 as 5.50 SPECTRAL
    * SIMPLE packing through [[graft.sources.GribMeta.encodeSpectral]]
    * (r14: the ECMWF model-level archive packing — a T-8 triangular
    * truncation of 90 coefficients over grid template 3.50, the (0,0)
    * real part riding §5 unpacked, no bitmap so missing cells carry
    * code 0), and slice 7 as a GRIB EDITION-1 SPHERICAL-HARMONIC
    * message through [[graft.sources.GribMeta.encodeG1Spectral]]
    * (r14: the pre-GRIB2 spectral archive shape — type-50 triangular
    * GDS, the (0,0) real part as an exact IBM-32 float in BDS octets
    * 12-15) — slices 0-6 landed as one concatenated MIXED-EDITION
    * archive and slice 7 GZIP-WRAPPED (`.grib.gz`, the historical
    * NCEP/CPC distribution shape — r14; t rides param_number since
    * msg_index is per-file), decoded back task-side through the
    * [[graft.sources.GribGridSource]] DSv2 scan (per-message splits for
    * the archive, one whole-file split for the `.grib.gz`), and
    * hash-checked against DuckDB recomputing the grid directly —
    * bit-slips anywhere in the section walk, bitmap masking,
    * (R + X·2^E) unpacking, group/differencing reconstruction, PNG
    * pixel walk, the EBCOT/DWT pipeline, the Rice coder, the
    * edition-1 BDS walk, the per-message split planner, or the
    * §5-riding (0,0) coefficient break the hash (2^-2 and the integer
    * codes are exact in binary, so no rounding is needed on either
    * side).
    *
    * Scale shape: identical to i62 — fixed 8×(8×12) grid, one
    * 768-group partial-agg shuffle, model-state-bounded driver encode,
    * per-message task fan-out on the read. */
  def i63: QueryDef = QueryDef(
    "i63_grib_cycle",
    """WITH g AS (
      |  SELECT CAST(l_linenumber % 8 AS INTEGER) AS t,
      |    CAST(l_suppkey % 8 AS INTEGER) AS y,
      |    CAST(l_partkey % 12 AS INTEGER) AS x,
      |    CAST(SUM(l_quantity) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2, 3),
      |base AS (
      |  SELECT t, x, y, 2048.0 + CAST(q AS DOUBLE) / 4 AS value
      |  FROM g WHERE t < 6),
      |spec AS (
      |  SELECT CAST(tt.t AS INTEGER) AS t,
      |    CAST(yy.y * 12 + xx.x AS INTEGER) AS x, CAST(0 AS INTEGER) AS y,
      |    2048.0 + CAST(COALESCE(g.q, 0) AS DOUBLE) / 4 AS value
      |  FROM (SELECT 6 AS t UNION ALL SELECT 7) AS tt
      |  CROSS JOIN range(8) AS yy(y) CROSS JOIN range(12) AS xx(x)
      |  LEFT JOIN g ON g.t = tt.t AND g.y = yy.y AND g.x = xx.x
      |  WHERE yy.y * 12 + xx.x < 90)
      |SELECT t, x, y, value FROM base
      |UNION ALL SELECT t, x, y, value FROM spec
      |ORDER BY t, y, x""".stripMargin) { (spark, dir) =>
    import graft.sources.GribMeta
    val (nt, ny, nx) = (8, 8, 12)
    val cells = Tables(spark, dir).lineitem
      .groupBy((col("l_linenumber") % 8).cast("int").as("t"),
        (col("l_suppkey") % 8).cast("int").as("y"),
        (col("l_partkey") % 12).cast("int").as("x"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
      .collect() // bounded by the fixed grid (≤768 cells), not the data
    val grids = Array.fill(nt)(Array.fill[Long](ny * nx)(-1L)) // -1 = missing
    cells.foreach(r =>
      grids(r.getInt(0))(r.getInt(1) * nx + r.getInt(2)) = r.getLong(3))
    // one slice per packing family — simple 5.0, complex+spatial 5.3,
    // PNG 5.41 (r11), lossless JPEG2000 5.40 and CCSDS 5.42 (r12),
    // GRIB1 second-order (r13), spectral 5.50 (r14) — all under the
    // same DuckDB hash
    val msgs = grids.zipWithIndex.map { case (g, t) =>
      val mask = g.map(_ >= 0L)
      if (t >= 6) {
        // spectral carries no bitmap: a T-8 truncation packs exactly
        // (8+1)(8+2) = 90 coefficients — the first 90 row-major cells,
        // missing cells as code 0 (the oracle COALESCEs them to 2048),
        // the first cell riding unpacked as the (0,0) real part
        // (GRIB2 5.50: §5 IEEE-32; GRIB1: BDS octets 12-15 IBM-32)
        val codes = g.take(90).map(q => if (q >= 0L) q else 0L)
        // the (0,0) coefficient is compared against the oracle's
        // exact DOUBLE — refuse LOUDLY past the carrier-exact range,
        // far above any tested scale, instead of letting the hash
        // gate go silently flaky (r14 review). Each slice guards its
        // OWN carrier: t=6 rides IEEE-32 (exact while q < 2^24−8192);
        // t=7 rides IBM-32, whose exact-only encoder (ibm32bits,
        // inside encodeG1Spectral) refuses non-representable values
        // by name on its own (r14 late-wave review)
        val v00 = 2048.0 + codes(0).toDouble / 4
        if (t == 6)
          require(v00.toFloat.toDouble == v00,
            s"i63 spectral (0,0) value $v00 is not float-exact — cell " +
              "quantity too large for the IEEE-32 §5 field")
        if (t == 6)
          GribMeta.encodeSpectral(truncation = 8,
            paramCategory = 1, paramNumber = t,
            refValue = 2048f, binScale = -2, decScale = 0, nBits = 24,
            real00 = v00.toFloat,
            xs = codes.drop(1), centre = 98,
            refTime = (1995, 1, 1 + t, 0, 0))
        else // …and as a GRIB EDITION-1 spherical-harmonic message (r14)
          GribMeta.encodeG1Spectral(truncation = 8, paramNumber = t,
            refValue = 2048.0, binScale = -2, nBits = 24,
            real00 = v00, xs = codes.drop(1), centre = 98,
            refTime = (1995, 1, 1 + t, 0, 0))
      }
      else if (t == 0)
        GribMeta.encodeSimple(nx, ny, paramCategory = 1, paramNumber = t,
          refValue = 2048f, binScale = -2, decScale = 0, nBits = 24,
          xs = g.filter(_ >= 0L), bitmap = Some(mask), centre = 98,
          refTime = (1995, 1, 1 + t, 0, 0))
      else if (t == 1) // the same contract through the 5.3 complex writer
        GribMeta.encodeComplex(nx, ny, paramCategory = 1, paramNumber = t,
          refValue = 2048f, binScale = -2, decScale = 0,
          xs = g.filter(_ >= 0L), bitmap = Some(mask), centre = 98,
          refTime = (1995, 1, 1 + t, 0, 0), groupLen = 16, spatialOrder = 2)
      else if (t == 2) // …through the 5.41 PNG writer (RGB 24-bit carrier)
        GribMeta.encodePng(nx, ny, paramCategory = 1, paramNumber = t,
          refValue = 2048f, binScale = -2, decScale = 0, nBits = 24,
          xs = g.filter(_ >= 0L), bitmap = Some(mask), centre = 98,
          refTime = (1995, 1, 1 + t, 0, 0))
      else if (t == 3) // …through the clean-room lossless JPEG2000 (5.40)
        GribMeta.encodeJpeg2000(nx, ny, paramCategory = 1, paramNumber = t,
          refValue = 2048f, binScale = -2, decScale = 0, nBits = 24,
          xs = g.filter(_ >= 0L), bitmap = Some(mask), centre = 98,
          refTime = (1995, 1, 1 + t, 0, 0))
      else if (t == 4) // …through the CCSDS/AEC (5.42) Rice writer
        GribMeta.encodeCcsds(nx, ny, paramCategory = 1, paramNumber = t,
          refValue = 2048f, binScale = -2, decScale = 0, nBits = 24,
          xs = g.filter(_ >= 0L), bitmap = Some(mask), centre = 98,
          refTime = (1995, 1, 1 + t, 0, 0))
      else // …and as a GRIB EDITION-1 second-order message (r13)
        GribMeta.encodeG1SecondOrder(nx, ny, paramNumber = t,
          refValue = 2048.0, binScale = -2, decScale = 0,
          xs = g.filter(_ >= 0L), bitmap = Some(mask), centre = 98,
          refTime = (1995, 1, 1 + t, 0, 0), groupLen = 16)
    }
    val gribDir = java.nio.file.Paths.get(
      graft.Fixtures.pathFor(dir, "i63_grib"))
    java.nio.file.Files.createDirectories(gribDir)
    // wipe stale layouts (the fixture dir persists across runs — an
    // old single-archive slices.grib2 held all 8 slices and would
    // double rows against the new two-file layout)
    val staleG = java.nio.file.Files.list(gribDir)
    try staleG.forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally staleG.close()
    // slices 0-6 land as one concatenated mixed-edition archive;
    // slice 7 lands GZIP-WRAPPED (`.grib.gz`, the historical NCEP/CPC
    // distribution shape) so the transparent unwrap sits INSIDE the
    // hash gate (r14). t rides param_number (set = slice index by
    // every encoder above) — msg_index is per-FILE and would collide
    // across the two archives.
    java.nio.file.Files.write(gribDir.resolve("slices.grib2"),
      msgs.take(7).reduce(_ ++ _))
    java.nio.file.Files.write(gribDir.resolve("slice7.grib.gz"),
      graft.sources.Gz.gzip(msgs(7)))
    spark.read.format("graft.sources.GribGridSource")
      .option("path", gribDir.toString).load()
      .select(col("param_number").as("t"), col("x"), col("y"), col("value"))
      .orderBy(col("t"), col("y"), col("x"))
  }

  /** i64: the GEOTIFF transport cycle inside the correctness gate —
    * completing the i62/i63 trio for the engine's PUBLISH format (the
    * reference's own per-date `{ns}_{date}.tif` layout): the same
    * deterministic lineitem grid is published as one float32 GeoTIFF
    * per date key through [[graft.sources.GeoTiff.publishTif]]
    * (missing cells land as −9999 nodata; date 2 GZIP-WRAPPED — the
    * CHIRPS `.tif.gz` distribution shape, r14) and read BACK through
    * the [[graft.sources.TiffGridSource]] DSv2 scan, date keys
    * recovered from the layout's file names. DuckDB recomputes the
    * grid directly — a bit-slip in the TIFF encode, strip decode,
    * gzip unwrap, nodata masking, or the per-file task fan-out breaks
    * the hash. Values
    * 2048 + q/4 are exact in float32 while 4·value < 2^24 (q below
    * ~16.7M — orders of magnitude above any tested scale), so no
    * rounding is needed on either side.
    *
    * Scale shape: i62's — fixed per-date 12×8 grids, one 192-group
    * partial-agg shuffle, grid-bounded publish, per-FILE read
    * fan-out. */
  def i64: QueryDef = QueryDef(
    "i64_tif_cycle",
    """WITH g AS (
      |  SELECT CAST(l_linenumber % 2 AS INTEGER) AS t,
      |    CAST(l_suppkey % 8 AS INTEGER) AS y,
      |    CAST(l_partkey % 12 AS INTEGER) AS x,
      |    CAST(SUM(l_quantity) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2, 3)
      |SELECT STRFTIME(DATE '1995-01-01' + t, '%Y-%m-%d') AS time_day,
      |  x, y, 2048.0 + CAST(q AS DOUBLE) / 4 AS value
      |FROM g ORDER BY time_day, y, x""".stripMargin) { (spark, dir) =>
    import graft.sources.GeoTiff
    val (ny, nx) = (8, 12)
    val grid = Tables(spark, dir).lineitem
      .groupBy((col("l_linenumber") % 2).cast("int").as("t"),
        (col("l_suppkey") % 8).cast("int").as("y"),
        (col("l_partkey") % 12).cast("int").as("x"))
      .agg((lit(2048.0) + sum(col("l_quantity")) / 4).as("v"))
      .persist()
    val outDir = graft.Fixtures.pathFor(dir, "i64_tif")
    // the fixture dir is deterministic and persists across runs — wipe
    // stale product files first so a layout change (e.g. a date moving
    // from .tif to .tif.gz) never leaves BOTH twins for the scan to
    // double-count (r14)
    val ns = java.nio.file.Paths.get(outDir, "qty")
    if (java.nio.file.Files.isDirectory(ns)) {
      val s = java.nio.file.Files.list(ns)
      try s.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
    Seq(0, 1).foreach { t =>
      // date 2 publishes GZIP-WRAPPED (`.tif.gz`, the CHIRPS
      // distribution shape the reference gunzips by hand) so the
      // transparent unwrap sits INSIDE the DuckDB hash gate (r14)
      GeoTiff.publishTif(grid.filter(col("t") === t), "x", "y", "v",
        nx, ny, outDir, "qty", f"1995-01-${t + 1}%02d", gzip = t == 1)
    }
    grid.unpersist()
    spark.read.format("graft.sources.TiffGridSource")
      .option("path", s"$outDir/qty").load()
      .select(
        regexp_extract(col("path"), "_(\\d{4}-\\d{2}-\\d{2})\\.tif(?:\\.gz)?$", 1)
          .as("time_day"),
        col("x"), col("y"), col("value"))
      .orderBy(col("time_day"), col("y"), col("x"))
  }

  /** i65: the MODIS HDF4 MOSAIC transport cycle inside the correctness
    * gate — the last reference dataset's acquisition path made
    * executable (`ingest/modis/pymodis.py:159` downloads per-tile
    * `.hdf`; `convertmodis.py:343-373` mosaics the chosen SDS across
    * tiles with fill-respecting overwrite): the deterministic lineitem
    * grid becomes TWO adjacent MODLAND-style tiles (h00/h01, int16
    * NDVI-scaled codes, fill −3000 — one deflate-compressed, one
    * HDF-RLE) plus a REPROCESSED h00 overlay tile whose non-fill
    * pixels must win (the reference's later-tile-overwrites
    * `raster_copy_with_nodata`), written through [[graft.sources.Hdf.encode]],
    * read back through the [[graft.sources.HdfGridSource]] DSv2 scan
    * (per-(tile × SDS) splits), mosaicked into the union grid
    * (gx = h·12 + x, last-file-wins per pixel), and unit-converted
    * raw/10000 exactly like the reference's MYD13Q1 config
    * (`modis/__init__.py:23-26` divide by 10000). DuckDB recomputes
    * grid + overlay directly — a bit-slip in the DD walk, SDD dims,
    * RLE/deflate decode, fill masking, or the mosaic dedup breaks the
    * hash (raw codes are integers ≤ 10000; the ndvi division is the
    * same one IEEE op on both engines).
    *
    * Scale shape: i62's — fixed 2×(8×12) tile grids, one 192-group
    * partial-agg shuffle, grid-bounded driver encode, per-(file × SDS)
    * read fan-out; the mosaic dedup shuffles union-grid-sized rows
    * once. */
  def i65: QueryDef = QueryDef(
    "i65_hdf_mosaic_cycle",
    """WITH g AS (
      |  SELECT CAST(l_linenumber % 2 AS INTEGER) AS h,
      |    CAST(l_suppkey % 8 AS INTEGER) AS y,
      |    CAST(l_partkey % 12 AS INTEGER) AS x,
      |    CAST(SUM(l_quantity) AS BIGINT) % 10001 AS raw
      |  FROM lineitem GROUP BY 1, 2, 3),
      |ov AS (SELECT 0 AS h, 0 AS y, CAST(x AS INTEGER) AS x,
      |       CAST(2000 + x AS BIGINT) AS raw FROM RANGE(12) r(x)),
      |m AS (
      |  SELECT COALESCE(ov.h, g.h) AS h, COALESCE(ov.y, g.y) AS y,
      |    COALESCE(ov.x, g.x) AS x, COALESCE(ov.raw, g.raw) AS raw
      |  FROM g FULL OUTER JOIN ov
      |    ON g.h = ov.h AND g.y = ov.y AND g.x = ov.x)
      |SELECT h * 12 + x AS gx, y, raw,
      |  CAST(raw AS DOUBLE) / 10000.0 AS ndvi
      |FROM m ORDER BY gx, y""".stripMargin) { (spark, dir) =>
    import graft.sources.Hdf
    val (ny, nx) = (8, 12)
    val cells = Tables(spark, dir).lineitem
      .groupBy((col("l_linenumber") % 2).cast("int").as("h"),
        (col("l_suppkey") % 8).cast("int").as("y"),
        (col("l_partkey") % 12).cast("int").as("x"))
      .agg((sum(col("l_quantity")).cast("long") % 10001).as("raw"))
      .collect() // bounded by the fixed grid (≤192 cells), not the data
    val tiles = Array.fill(2)(Array.fill(ny * nx)(-3000.0))
    cells.foreach(r =>
      tiles(r.getInt(0))(r.getInt(1) * nx + r.getInt(2)) =
        r.getLong(3).toDouble)
    // the reprocessed overlay: row y=0 carries fresh codes, the rest
    // stays fill — only its non-fill pixels may win the mosaic
    val overlay = Array.fill(ny * nx)(-3000.0)
    (0 until nx).foreach(x => overlay(x) = 2000.0 + x)
    val hdfDir = java.nio.file.Paths.get(
      graft.Fixtures.pathFor(dir, "i65_hdf"))
    java.nio.file.Files.createDirectories(hdfDir)
    val sdsName = "250m 16 days NDVI" // the reference's MYD13Q1 subset name
    def sds(vs: Array[Double], comp: String,
        chunks: Option[Seq[Int]] = None) = Hdf.SdsSpec(
      sdsName, Seq(ny, nx), Hdf.Int16, vs, fill = Some(-3000.0), comp = comp,
      chunkDims = chunks)
    java.nio.file.Files.write(hdfDir.resolve("MYX.A1995001.h00v00.a.hdf"),
      Hdf.encode(Seq(sds(tiles(0), "deflate"))))
    // h01 ships CHUNKED+deflate with clipped edge chunks and the
    // overlay CHUNKED+rle row strips (r11): the chunk-table Vdata walk
    // — the storage LAADS/LP DAAC archives actually use — is inside
    // the same DuckDB hash gate as the contiguous coders
    java.nio.file.Files.write(hdfDir.resolve("MYX.A1995001.h01v00.a.hdf"),
      Hdf.encode(Seq(sds(tiles(1), "deflate", Some(Seq(3, 5))))))
    java.nio.file.Files.write(hdfDir.resolve("MYX.A1995001.h00v00.b.hdf"),
      Hdf.encode(Seq(sds(overlay, "rle", Some(Seq(2, nx))))))
    spark.read.format("graft.sources.HdfGridSource")
      .option("path", hdfDir.toString).option("sds", sdsName).load()
      .withColumn("h",
        regexp_extract(col("path"), "\\.h(\\d{2})v", 1).cast("int"))
      .groupBy((col("h") * nx + col("x")).as("gx"), col("y"))
      .agg(max_by(col("value"), col("path")).as("v"))
      .select(col("gx"), col("y"), col("v").cast("long").as("raw"),
        (col("v") / 10000.0).as("ndvi"))
      .orderBy(col("gx"), col("y"))
  }

  /** i66: the HDF5/NetCDF-4 transport cycle inside the correctness
    * gate — the r10 stretch rung made executable end to end: the
    * deterministic lineitem grid becomes TWO int16 datasets in ONE
    * real HDF5 file (superblock v2, compact links, contiguous layout,
    * v3 fill message, CF `scale_factor`/`add_offset` attributes)
    * through [[graft.sources.Hdf5.encode]], read back task-side
    * through the [[graft.sources.H5GridSource]] DSv2 connector (r11:
    * per-(file × dataset) splits, the t key recovered from the
    * dataset name) with netCDF CF semantics (fill → dropped,
    * raw·0.25 + 2048 applied — both binary-exact), DuckDB recomputing
    * grid + transform directly — a bit-slip in the superblock walk,
    * OHDR message parse, link traversal, attribute decode, contiguous
    * read, or DSv2 split planning breaks the hash.
    *
    * Scale shape: i62's — fixed 2×(8×12) grids, one 192-group
    * partial-agg shuffle, grid-bounded driver encode, per-file task
    * fan-out on the read. */
  def i66: QueryDef = QueryDef(
    "i66_h5_grid_cycle",
    """WITH g AS (
      |  SELECT CAST(l_linenumber % 2 AS INTEGER) AS t,
      |    CAST(l_suppkey % 8 AS INTEGER) AS y,
      |    CAST(l_partkey % 12 AS INTEGER) AS x,
      |    CAST(SUM(l_quantity) AS BIGINT) % 10001 AS raw
      |  FROM lineitem GROUP BY 1, 2, 3)
      |SELECT t, x, y, CAST(raw AS DOUBLE) / 4 + 2048.0 AS value
      |FROM g ORDER BY t, y, x""".stripMargin) { (spark, dir) =>
    import graft.sources.Hdf5
    val (ny, nx) = (8, 12)
    val cells = Tables(spark, dir).lineitem
      .groupBy((col("l_linenumber") % 2).cast("int").as("t"),
        (col("l_suppkey") % 8).cast("int").as("y"),
        (col("l_partkey") % 12).cast("int").as("x"))
      .agg((sum(col("l_quantity")).cast("long") % 10001).as("raw"))
      .collect() // bounded by the fixed grid (≤192 cells), not the data
    val grids = Array.fill(2)(Array.fill(ny * nx)(-3000.0))
    cells.foreach(r =>
      grids(r.getInt(0))(r.getInt(1) * nx + r.getInt(2)) =
        r.getLong(3).toDouble)
    val h5Dir = java.nio.file.Paths.get(
      graft.Fixtures.pathFor(dir, "i66_h5"))
    java.nio.file.Files.createDirectories(h5Dir)
    val dt16 = Hdf5.Dtype(0, 2, littleEndian = true, signed = true)
    java.nio.file.Files.write(h5Dir.resolve("grid.h5"), Hdf5.encode(
      grids.zipWithIndex.map { case (g, t) =>
        Hdf5.DsSpec(s"q$t", Seq(ny.toLong, nx.toLong), dt16, g,
          fill = Some(-3000.0),
          attrs = Seq("scale_factor" -> 0.25, "add_offset" -> 2048.0))
      }.toSeq))
    // read back through the H5GridSource DSv2 connector (r11): one
    // scan plans per-(file × dataset) splits and the t key recovers
    // from the dataset name — the cells Hdf5.gridCells yields, through
    // the pruned, column-projected scale path
    spark.read.format("graft.sources.H5GridSource")
      .option("path", h5Dir.toString).load()
      .select(regexp_extract(col("dataset"), "q(\\d+)", 1).cast("int").as("t"),
        col("x"), col("y"), col("value"))
      .orderBy(col("t"), col("y"), col("x"))
  }

  /** i67: the netCDF-4 COMPRESSED-variable shape inside the
    * correctness gate — the r10 chunked-HDF5 rung end to end: the
    * deterministic lineitem grid written as ONE int16 dataset in
    * CHUNKED layout (5×5 chunks over 8×12 — ragged edges on BOTH
    * axes) through the full netCDF-4 filter pipeline
    * shuffle→deflate→fletcher32 (`nc_def_var_deflate`'s exact
    * emission, checksums REAL) via [[graft.sources.Hdf5.encode]],
    * indexed by a type-1 chunk B-tree, read back task-side by
    * [[graft.sources.H5GridSource]] undoing the pipeline in reverse
    * per chunk with CF semantics applied (fill dropped,
    * raw·0.5 − 500); DuckDB recomputes grid + transform directly — a
    * bit-slip in the B-tree walk, chunk scatter, shuffle transpose,
    * inflate, or fletcher32 verify breaks the hash.
    *
    * Scale shape: i66's — fixed 8×12 grid, one 96-group partial-agg
    * shuffle, grid-bounded driver encode, per-file task fan-out. */
  def i67: QueryDef = QueryDef(
    "i67_h5_chunked_cycle",
    """WITH g AS (
      |  SELECT CAST(l_suppkey % 8 AS INTEGER) AS y,
      |    CAST(l_partkey % 12 AS INTEGER) AS x,
      |    CAST(SUM(l_quantity) AS BIGINT) % 10001 AS raw
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT x, y, CAST(raw AS DOUBLE) / 2 - 500.0 AS value
      |FROM g ORDER BY y, x""".stripMargin) { (spark, dir) =>
    import graft.sources.Hdf5
    val (ny, nx) = (8, 12)
    val cells = Tables(spark, dir).lineitem
      .groupBy((col("l_suppkey") % 8).cast("int").as("y"),
        (col("l_partkey") % 12).cast("int").as("x"))
      .agg((sum(col("l_quantity")).cast("long") % 10001).as("raw"))
      .collect() // bounded by the fixed grid (≤96 cells), not the data
    val grid = Array.fill(ny * nx)(-3000.0)
    cells.foreach(r => grid(r.getInt(0) * nx + r.getInt(1)) =
      r.getLong(2).toDouble)
    val h5Dir = java.nio.file.Paths.get(
      graft.Fixtures.pathFor(dir, "i67_h5c"))
    java.nio.file.Files.createDirectories(h5Dir)
    val dt16 = Hdf5.Dtype(0, 2, littleEndian = true, signed = true)
    java.nio.file.Files.write(h5Dir.resolve("chunked.h5"), Hdf5.encode(Seq(
      Hdf5.DsSpec("q", Seq(ny.toLong, nx.toLong), dt16, grid,
        fill = Some(-3000.0),
        attrs = Seq("scale_factor" -> 0.5, "add_offset" -> -500.0),
        chunk = Some(Seq(5, 5)),
        filters = Seq("shuffle", "deflate", "fletcher32")))))
    spark.read.format("graft.sources.H5GridSource")
      .option("path", h5Dir.resolve("chunked.h5").toString)
      .option("dataset", "/q").load()
      .select(col("x"), col("y"), col("value"))
      .orderBy(col("y"), col("x"))
  }

  val all: Seq[QueryDef] = Seq(
    i01, i02, i03, i04, i05, i06, i07, i08, i09, i10, i11, i12, i13,
    i14, i15, i15b, i15c, i16, i17, i18, i19, i20, i21, i22, i23, i24, i25,
    i26, i27, i28, i29, i30, i31, i32, i33, i34, i35, i36, i37, i38,
    i39, i39b, i41, i42, i43, i45, i46, i47, i48, i49, i50, i51, i52, i53,
    i54, i55, i56, i57, i58, i59, i60, i61, i62, i63, i64, i65, i66, i67)
}
