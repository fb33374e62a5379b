package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** GATED station-pair spaces (SURVEY.md §2 i54/i55; §5 scale bar).
  *
  * At dimension sizes (thousands of stations — the reference's WMO
  * network scale, `ingest/utils.py`-era station lists) the all-pairs
  * broadcast self-join is the fastest plan: one broadcast, no explode,
  * no shuffle before the per-station agg. But its work is O(n²) in the
  * station count — the one shape in the repo whose cost is quadratic in
  * an input cardinality. Above [[AllPairsGate]] both entry points
  * switch to i38's tile-bucket quantization generalized off the integer
  * grid: stations explode map-side to the ≤3×3 tiles their radius can
  * touch, candidate pairs meet through a tile EQUI-join (hash-
  * partitioned by tile; AQE splits a hot tile), and a residual
  * d²/haversine filter keeps the exact neighborhood — per-station work
  * is bounded by local density, never by n. Same two-rung structure as
  * [[graft.functions.Vectors.codebookArgmaxCid]]'s InlineCodebookK
  * gate; crossover measured in SURVEY §7.
  */
object SpatialPairs {

  /** Station-count gate between the broadcast all-pairs rung and the
    * tile-bucket rung. At n = 4096 the pair space is ≤ 16.8 M rows —
    * a broadcast join clears that in well under a second, cheaper than
    * the tile rung's explode + shuffle setup; past it the quadratic
    * term takes over (SURVEY §7). */
  val AllPairsGate = 4096

  /** Fallback-inlining cap for [[nearestStation]]: up to this many
    * uncertified stations are collected and inlined as literals (the
    * codebook collect-and-inline discipline) so the fallback pass is
    * a plain scan+agg with NO join; past it the escape hatch is the
    * pre-gate broadcast nested-loop on the residual (documented —
    * only reachable when most stations sit alone in their tile ring,
    * i.e. the station set is too sparse for any tiling to help). */
  val InlineFallbackCap = 1024

  /** All (a, b) row pairs with planar d² ≤ maxD2, each EXACTLY once
    * (identity pairs included — callers filter). `a` carries
    * coordinate columns (ax, ay), `b` (bx, by); all column names must
    * be disjoint across the two sides.
    *
    * Below the gate: broadcast all-pairs with the d² residual (the
    * i55 original). Above: tile size = the cutoff radius, so a
    * station's disc touches ≤3×3 tiles; `b` explodes to that cover,
    * `a` keeps its single home tile, and the tile equi-join + residual
    * yields every in-radius pair exactly once (the i38/q23 bucket
    * argument: |ax−bx| ≤ r ⇒ floor(ax/r) ∈ [floor((bx−r)/r),
    * floor((bx+r)/r)], and the exploded tiles are distinct).
    * Both rungs emit the same pair SET; callers must aggregate
    * order-free (the DECIMAL-grid discipline) — i55 does. */
  def radiusPairs(a: DataFrame, b: DataFrame, ax: String, ay: String,
      bx: String, by: String, maxD2: Double, nStations: Long,
      gate: Int = AllPairsGate): DataFrame = {
    val d2 = (col(ax) - col(bx)) * (col(ax) - col(bx)) +
      (col(ay) - col(by)) * (col(ay) - col(by))
    // The probe side carries the whole pair-space compute (the build
    // side is broadcast on both rungs), and its bytes are station-sized
    // — KBs — while its work is O(n·density): the AQE coalescer
    // (engine default parallelismFirst=false) folds the station agg's
    // exchange to ONE partition and the quadratic kernel runs serial
    // (measured: i54 2.75→16.8 s, i55 2.0→16.7 s at ×10 SF). The
    // stat-gated spread pins probe width structurally (the §1
    // counterpart-risk discipline); at real fact widths it is a no-op.
    val sa = graft.Tables.spread(a, ax, ay)
    if (nStations <= gate) {
      sa.join(broadcast(b), d2 <= maxD2)
    } else {
      val ts = math.sqrt(maxD2)
      val ta = sa.withColumn("__tx", floor(col(ax) / ts))
        .withColumn("__ty", floor(col(ay) / ts))
      val tb = b
        .withColumn("__tx", explode(sequence(
          floor((col(bx) - ts) / ts), floor((col(bx) + ts) / ts))))
        .withColumn("__ty", explode(sequence(
          floor((col(by) - ts) / ts), floor((col(by) + ts) / ts))))
      // no broadcast hint: at dimension sizes the planner already
      // broadcasts the exploded cover (well under the 64 MB threshold)
      // and the spread probe keeps its width through the BHJ; a network
      // big enough to exceed the threshold shuffles normally — and at
      // those bytes the coalescer keeps width on its own.
      ta.join(tb, Seq("__tx", "__ty")).filter(d2 <= maxD2)
        .drop("__tx", "__ty")
    }
  }

  /** Haversine great-circle km between 4-dec-grid (lat, lon) pairs,
    * biased-rounded at 4 decimals — i54's formula, shared verbatim by
    * both rungs (and mirrored by the DuckDB oracle). */
  def haversineKm(lat: Column, lon: Column, blat: Column,
      blon: Column): Column = {
    def sin2(x: Column) = sin(radians(x / 2.0)) * sin(radians(x / 2.0))
    graft.QueryDef.roundBiased(
      lit(2.0) * 6371.0 * asin(sqrt(
        sin2(blat - lat) +
          cos(radians(lat)) * cos(radians(blat)) * sin2(blon - lon))), 4)
  }

  /** Each station's nearest OTHER station by rounded haversine km
    * (ties → smallest other id, via the struct-min). `st` must have
    * columns (station: BIGINT, lat ∈ [−60, 60], lon ∈ [−90, 90]) on
    * the 4-dec grid (i54's clamps) and SHOULD be persisted by the
    * caller (the tile rung scans it up to three times). Output:
    * (station, nearest_km, nearest_station), unordered.
    *
    * Nearest-neighbor has no cutoff radius, so the tile rung can't
    * just residual-filter — it runs a CERTIFIED ring-1 search:
    *
    *  1. k×k tiles over the [−60,60]×[−90,90] box, k ≈ √(n/16)
    *     (≈16 stations/tile expected — candidate work stays ~144 per
    *     station while the certification bound lands ≈4.8× the mean
    *     nearest-neighbor distance, so the uncertified fraction is
    *     ~e^{−18} under Poisson density), clamped to [2, 512].
    *  2. Candidates = tile equi-join of each station's home tile
    *     against every station's 3×3 tile ring; per-station argmin.
    *  3. CERTIFY: a station outside the 3×3 ring differs by ≥ one
    *     full tile in lat or lon, so its distance is ≥ 111.19·tsLat
    *     km (a lat degree) or ≥ 55.5·tsLon km (a lon degree under the
    *     |lat| ≤ 60 clamp, cos 60° = ½). An in-ring best strictly
    *     under min(111·tsLat, 55·tsLon) − 0.01 km (conservative
    *     constants + margin absorb the 4-dec rounding) therefore
    *     beats every unseen station — it IS the global argmin, ties
    *     included (any tying station would be in-ring too).
    *  4. The uncertified residual (typically empty at network
    *     density) recomputes exactly, against ALL stations: inlined
    *     as literals (≤ [[InlineFallbackCap]] — scan+agg, no join) or
    *     through the pre-gate broadcast nested-loop past the cap. */
  def nearestStation(st: DataFrame, nStations: Long,
      gate: Int = AllPairsGate, tilesPerAxis: Option[Int] = None,
      inlineFallbackCap: Int = InlineFallbackCap): DataFrame = {
    // spread the probe by station id (radiusPairs' width rationale; the
    // id is the one guaranteed-distinct column, and the argmin's
    // groupBy(station) reuses the spread's hashpartitioning with no
    // further exchange — the pair stream never crosses a shuffle)
    val a = graft.Tables.spread(st.toDF("station", "lat", "lon"), "station")
    val b = st.toDF("other", "blat", "blon")
    val km = haversineKm(col("lat"), col("lon"), col("blat"), col("blon"))
    def argmin(pairs: DataFrame): DataFrame = pairs
      .select(col("station"), col("other"), km.as("km"))
      .groupBy(col("station"))
      .agg(min(struct(col("km"), col("other"))).as("m"))
      .select(col("station"), col("m.km").as("nearest_km"),
        col("m.other").as("nearest_station"))
    if (nStations <= gate) {
      argmin(a.join(broadcast(b), col("station") =!= col("other")))
    } else {
      val k = tilesPerAxis.getOrElse(
        math.max(2, math.min(512, math.sqrt(nStations / 16.0).toInt)))
      val tsLat = 120.0 / k
      val tsLon = 180.0 / k
      val bound = math.min(111.0 * tsLat, 55.0 * tsLon) - 0.01
      def home(c: Column, off: Double, ts: Double) =
        greatest(least(floor((c + off) / ts), lit((k - 1).toLong)), lit(0L))
      val ta = a.withColumn("__tx", home(col("lat"), 60.0, tsLat))
        .withColumn("__ty", home(col("lon"), 90.0, tsLon))
      val tb = b.withColumn("__hx", home(col("blat"), 60.0, tsLat))
        .withColumn("__hy", home(col("blon"), 90.0, tsLon))
        .withColumn("__tx", explode(sequence(
          greatest(col("__hx") - 1, lit(0L)),
          least(col("__hx") + 1, lit((k - 1).toLong)))))
        .withColumn("__ty", explode(sequence(
          greatest(col("__hy") - 1, lit(0L)),
          least(col("__hy") + 1, lit((k - 1).toLong)))))
        .drop("__hx", "__hy")
      val best = argmin(
        ta.join(tb, Seq("__tx", "__ty"))
          .filter(col("station") =!= col("other"))).persist()
      val resolved = best.filter(col("nearest_km") < bound)
      // ring-1 best too far to certify, or no ring candidate at all
      val unresolved =
        a.join(resolved.select("station"), Seq("station"), "left_anti")
      val un = unresolved.select("station", "lat", "lon").collect()
      if (un.isEmpty) resolved
      else if (un.length <= inlineFallbackCap) {
        val lits = un.map(r => struct(lit(r.getLong(0)).as("station"),
          lit(r.getDouble(1)).as("ulat"), lit(r.getDouble(2)).as("ulon")))
        val fb = graft.Tables.spread(b, "other")
          .select(col("other"), col("blat"), col("blon"),
            explode(array(lits.toIndexedSeq: _*)).as("u"))
          .filter(col("u.station") =!= col("other"))
          .select(col("u.station").as("station"),
            haversineKm(col("u.ulat"), col("u.ulon"),
              col("blat"), col("blon")).as("km"), col("other"))
          .groupBy(col("station"))
          .agg(min(struct(col("km"), col("other"))).as("m"))
          .select(col("station"), col("m.km").as("nearest_km"),
            col("m.other").as("nearest_station"))
        resolved.unionByName(fb)
      } else {
        resolved.unionByName(
          argmin(unresolved.join(b, col("station") =!= col("other"))))
      }
    }
  }
}
