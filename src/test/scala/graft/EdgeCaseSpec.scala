package graft

import graft.operators.{Ingest, Temporal}
import graft.functions.{Text, Vectors}
import org.apache.spark.sql.functions._

/** Edge semantics the sf-scale data doesn't exercise. */
class EdgeCaseSpec extends SparkSpec {

  test("Tables normalizes both driver timestamp generations to TIMESTAMP") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    val t0 = 1704067200L // 2024-01-01T00:00:00Z
    // generation 1: INT64 nanos read as long under nanosAsLong
    val dirA = java.nio.file.Files.createTempDirectory("graft_tsA").toString
    Seq((1L, t0 * 1000000000L, 1L, "obs", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dirA/events.parquet")
    // generation 2: TIMESTAMP_NTZ (no timezone metadata in the file)
    val dirB = java.nio.file.Files.createTempDirectory("graft_tsB").toString
    Seq((1L, 1L, "obs", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(t0 * 1000000L))
        .cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dirB/events.parquet")
    for (dir <- Seq(dirA, dirB)) {
      val df = Tables(spark, dir).events
      assert(df.schema("ts").dataType == TimestampType, s"$dir: ${df.schema}")
      val got = df.select(unix_micros(col("ts"))).collect()(0).getLong(0)
      // UTC session zone: the wall-clock instant survives both paths
      assert(got == t0 * 1000000L, s"$dir: $got")
    }
  }

  test("driver contract: query names unique, oracle keys subset of queries") {
    val names = SparkEntry.defs.map(_.name)
    // a duplicate name would silently drop an entry from the Map the
    // driver iterates — every def must survive the Map round-trip
    assert(names.distinct.size == names.size,
      names.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }.mkString(","))
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("repetitionMetrics drops sub-trigram docs and derives exact token counts") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "a"), (3L, "a b"), (4L, "a b c"),
      (5L, "x y x y x y")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionMetrics(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // docs 1–3 have no trigram — matching the oracle's inner-join drop
    assert(got.keySet == Set(4L, 5L))
    assert(got(4L).getAs[Int]("n_tokens") == 3 && got(4L).getAs[Long]("top2_cnt") == 1)
    // "x y x y x y": 5 bigrams, "x y"×3; 4 trigrams, each ×2 → all dup
    val r5 = got(5L)
    assert(r5.getAs[Int]("n_tokens") == 6 && r5.getAs[Long]("top2_cnt") == 3)
    assert(r5.getAs[Long]("dup3_occ") == 4 && r5.getAs[Long]("tri_total") == 4)
  }

  test("q36 pagerank on an empty trade graph returns empty, no exception") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q36_empty").toString
    Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq.empty[(Long, Long)].toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Relational.q36.fn(spark, dir)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("node", "pr", "deg"))
  }

  test("contamination with an empty eval side flags nothing and does not crash") {
    import spark.implicits._
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val evalDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.contamination(train, evalDocs).count() == 0)
  }

  test("asof join with an empty right side yields all-null carries") {
    import spark.implicits._
    val left = Seq((1L, 10L, 1)).toDF("k", "t", "eid")
    val right = Seq.empty[(Long, Long, Double)].toDF("k", "t", "v")
    val got = Temporal.asofJoin(
      left.select(col("k"), col("eid"), col("t")),
      right.select(col("k"), col("t"), col("v")),
      "k", "t", "t", Seq("v")).collect()
    assert(got.length == 1 && got(0).isNullAt(got(0).fieldIndex("v")))
  }

  test("sessionize on a single event per user emits session 1") {
    import spark.implicits._
    val df = Seq((7L, "2024-01-01 00:00:00", 1L)).toDF("user_id", "ts", "event_id")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Temporal.sessionize(df, col("user_id"), col("ts"), col("event_id"), 1L)
      .select("session_num").collect()(0).getInt(0)
    assert(got == 1)
  }

  test("upsertByKey with empty incoming is the identity") {
    val existing = Tables(spark, sf).customer
    val incoming = existing.filter(lit(false))
    assert(Ingest.upsertByKey(existing, incoming, Seq("c_custkey")).count() == existing.count())
  }

  test("contourLevel handles negatives (floor toward -inf)") {
    import spark.implicits._
    val got = Seq(-0.1, -25.0, 24.9).toDF("v")
      .select(Ingest.contourLevel(col("v"), 25).as("l")).collect().map(_.getDouble(0))
    assert(got.sameElements(Array(-25.0, -25.0, 0.0)))
  }

  test("minhash signature of an empty shingle set stays at the identity") {
    import spark.implicits._
    val df = Seq((1L, "a b")).toDF("doc_id", "text") // < 3 tokens → no shingles
      .select(col("doc_id"), Text.shingles(Text.tokens(col("text")), 3).as("sh"))
    // explode-based signatures drop docs with no shingles — the LSH
    // pipeline treats them as having no near-dup candidates
    val sigs = Text.minhashSignatures(df, "doc_id", col("sh"), 8)
    assert(sigs.count() == 0)
  }

  test("cosine of a zero vector is NaN, not an exception") {
    import spark.implicits._
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = df.select(Vectors.cosine(col("a"), col("b")).as("c")).collect()(0).getDouble(0)
    assert(r.isNaN)
  }

  test("rolling fingerprint of empty string is 0") {
    import spark.implicits._
    graft.functions.RollingFingerprintExpr.register(spark)
    val r = Seq("").toDF("text").select(expr("graft_rolling_fp(text)")).collect()(0).getLong(0)
    assert(r == 0L)
  }

  test("afterWatermark rejects a multi-row watermark relation") {
    import spark.implicits._
    val df = Seq((1L, 10L)).toDF("id", "ts")
    val multi = Seq(5L, 7L).toDF("watermark")
    intercept[IllegalArgumentException] {
      Ingest.afterWatermark(df, col("ts"), multi)
    }
  }

  test("afterWatermark tolerates an input that has its own watermark column") {
    import spark.implicits._
    val df = Seq((1L, 10L, "x"), (2L, 3L, "y")).toDF("id", "ts", "watermark")
    val wm = Seq(5L).toDF("watermark")
    val kept = Ingest.afterWatermark(df, col("ts"), wm).collect()
    assert(kept.map(_.getLong(0)).sameElements(Array(1L)))
    assert(kept(0).schema.fieldNames.contains("watermark")) // input column survives
  }

  test("Md5SeededExpr rejects seed counts outside [1, 64] at construction") {
    import org.apache.spark.sql.graft.ColumnBridge
    val child = ColumnBridge.expression(lit("x"))
    intercept[IllegalArgumentException] {
      graft.functions.Md5SeededExpr(child, 65)
    }
    intercept[IllegalArgumentException] {
      graft.functions.Md5SeededExpr(child, 0)
    }
  }

  test("semanticPairs on an empty embedding set returns empty, no exception") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "v")
    val out = graft.operators.Similarity.semanticPairsOf(empty, 0.4)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("cid", "id1", "id2", "raw_sim"))
  }

  test("bpeTrain ends early when the corpus runs out of adjacent pairs") {
    import spark.implicits._
    // single-token docs: no pair at all → zero rounds, schema intact
    val singles = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val none = graft.operators.TextAnalysis.bpeTrain(singles, 3)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("iter", "pair", "pair_count", "tokens_after"))
    // one merge exhausts the corpus: round 1 fuses `a b` into one token
    // per doc, leaving single-token docs — rounds 2–3 must not run
    val onePair = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val one = graft.operators.TextAnalysis.bpeTrain(onePair, 3).collect()
    assert(one.length == 1)
    assert(one(0).getAs[String]("pair") == "a+b")
    assert(one(0).getAs[Long]("pair_count") == 2)
    assert(one(0).getAs[Long]("tokens_after") == 2)
  }

  test("components: driver union-find and distributed star paths agree exactly") {
    import spark.implicits._
    // a chain (worst case for propagation), a star, a triangle with a
    // tail, and a 2-cycle — mixed shapes, non-canonical input order
    val edges = (1L to 40L).sliding(2).map(s => (s(1), s.head)).toSeq ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (103L, 100L)) ++
      Seq((200L, 201L), (201L, 202L), (202L, 200L), (202L, 203L)) ++
      Seq((300L, 301L), (301L, 300L))
    val df = edges.toDF("x", "y")
    val driver = operators.Components.minLabel(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = operators.Components.minLabel(df, driverCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == dist, s"paths diverge: ${driver.toSeq.diff(dist.toSeq)}")
    assert(driver((1L to 40L).head) == 1L && driver(40L) == 1L)
    assert(driver(103L) == 100L && driver(203L) == 200L && driver(301L) == 300L)
  }

  test("components: driver-gate boundary (cap±1) picks different paths, same answer") {
    import spark.implicits._
    // crafted graph with a KNOWN canonical edge count: a 30-chain (29)
    // + a 5-star (4) + one pair (1) = 34 canonical edges after dedup /
    // self-loop removal (raw input is messier on purpose)
    val edges = (1L to 30L).sliding(2).map(s => (s(1), s.head)).toSeq ++
      Seq((100L, 101L), (101L, 100L), (100L, 102L), (100L, 103L), (100L, 104L)) ++
      Seq((200L, 201L), (200L, 200L))
    val df = edges.toDF("x", "y")
    // the gate probes RAW pair rows (limit(cap+1) — one truncated job,
    // no dedup shuffle): 29 chain + 5 star (incl. the duplicate
    // orientation) + 2 = 36 raw rows here, vs 34 canonical edges
    val E = 36L
    // cap = E → the driver union-find takes it; cap = E−1 → one raw
    // pair over the gate, the distributed star-contraction path runs
    // (the 30-chain outlasts the PhaseRounds neighbor-min cap, so the
    // slow path is genuinely exercised at the boundary)
    val atCap = operators.Components.minLabel(df, driverCap = E).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val overCap = operators.Components.minLabel(df, driverCap = E - 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atCap == overCap,
      s"boundary paths diverge: ${atCap.toSeq.diff(overCap.toSeq)}")
    assert(atCap(30L) == 1L && atCap(104L) == 100L && atCap(201L) == 200L)
    assert(atCap.size == 37) // 30 + 5 + 2 distinct endpoints
  }

  test("components: null ids drop on BOTH solve paths, no NPE under the gate") {
    import spark.implicits._
    // the distributed path's `a =!= b` filter silently drops nulls;
    // the driver-gate probe must match (a raw getLong would NPE), so
    // behavior cannot depend on which side of the cap the data lands
    val df = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None),
      (Some(2L), Some(5L))).toDF("x", "y")
    val driver = operators.Components.minLabel(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = operators.Components.minLabel(df, driverCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == Map(1L -> 1L, 2L -> 1L, 5L -> 1L), driver.toString)
    assert(driver == dist, s"paths diverge: $driver vs $dist")
  }

  test("graft_topk orders NaN as greatest and −∞ as least, deterministically") {
    functions.TopKAggregate.register(spark)
    import spark.implicits._
    // NaN entries must be orderable (NaN ranks GREATEST, the shared
    // Spark/DuckDB sort semantics) — with plain > / == a NaN trapped in
    // an unfilled buffer was never evictable and results depended on
    // insertion order (r7 ADVICE on s18)
    val rows = Seq(
      (Double.NaN, 1L), (1.0, 2L), (2.0, 3L),
      (Double.NegativeInfinity, 4L), (Double.NaN, 5L), (0.5, 6L))
    // both insertion orders give the identical buffer
    for (perm <- Seq(rows, rows.reverse)) {
      val got = perm.toDF("s", "k").repartition(1)
        .selectExpr("graft_topk(s, k, 3) AS t")
        .selectExpr("transform(t, e -> e.key) AS ks").collect()(0)
        .getSeq[Long](0)
      assert(got == Seq(1L, 5L, 3L), s"$perm -> $got")
    }
    // −∞ is orderable too: kept only while the buffer has room
    val tail = Seq((1.0, 10L), (Double.NegativeInfinity, 11L), (2.0, 12L))
      .toDF("s", "k").repartition(1)
      .selectExpr("graft_topk(s, k, 2) AS t")
      .selectExpr("transform(t, e -> e.key) AS ks").collect()(0).getSeq[Long](0)
    assert(tail == Seq(12L, 10L), tail.toString)
  }

  test("s18 zero-norm embeddings rank last, never poison the top-k") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s18z").toString
    // query vec_id 0 (vec_id % 50 == 0); corpus: one zero-norm vector
    // (cosine denominator 0 → −∞ sentinel, NOT NaN) + 6 real ones, so
    // k=5 must select exactly the real vectors nearest the query
    def v(xs: Double*) = xs.toArray
    val rows = Seq(
      (0L, v(1, 0, 0, 0), 1),
      (1L, v(0, 0, 0, 0), 9), // zero-norm: must come LAST, never top-5
      (2L, v(1, 0.1, 0, 0), 1), (3L, v(1, 0.2, 0, 0), 1),
      (4L, v(1, 0.3, 0, 0), 2), (5L, v(1, 0.4, 0, 0), 2),
      (6L, v(1, 0.5, 0, 0), 2), (7L, v(-1, 0, 0, 0), 3))
    rows.map { case (id, a, l) => (id, a.map(_.toFloat), l) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Similarity.s18.fn(spark, dir).collect()
    assert(got.length == 1, got.mkString(";"))
    // top-5 of {2,3,4,5,6,7} by cosine: 2,3,4,5,6 → labels 1,1,2,2,2
    // → majority label 2 (the zero-norm row 1, label 9, is excluded)
    assert(got(0).getAs[Int]("pred_label") == 2 &&
      got(0).getAs[Long]("votes") == 3L, got(0).toString)
  }

  test("d17 empty tokens produce no deletion variants (oracle RANGE parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d17e").toString
    // the double space splits into an EMPTY token; Spark's
    // sequence(0, -1) would auto-step descending and emit junk
    // variants with negative substring indices where the oracle's
    // RANGE(0) is empty — the guard must drop them structurally
    Seq((0L, "cat  cab bat", "en", "s0", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Dedup.d17.fn(spark, dir).collect()
    val pairs = got.map(r => (r.getString(0), r.getString(1))).toSet
    assert(!pairs.exists(p => p._1.isEmpty || p._2.isEmpty), pairs.toString)
    assert(pairs.contains(("cab", "cat")), pairs.toString)
    got.foreach(r => assert(r.getAs[Int]("dist") <= 2, r.toString))
  }

  test("i57 single-day stations drop cleanly; i58/i59 need full windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_i57e").toString
    Seq((1L, 0L, 1L, "obs", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // one observation: no pairs, no 5-windows, no SG interior — all
    // three trend/extreme ops return EMPTY rather than throwing
    assert(graft.operators.Ingest.i57.fn(spark, dir).count() == 0)
    assert(graft.operators.Ingest.i58.fn(spark, dir).count() == 0)
    assert(graft.operators.Ingest.i59.fn(spark, dir).count() == 0)
  }

  test("j07 grid for a user with no observations carries NULLs end to end") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_j07e").toString
    // only 'view' events: the grid exists (span from ANY event) but no
    // click is ever carried — every grid row keeps NULL value/staleness
    Seq((1L, 0L, 1L, "view", 1.0, "{}"),
        (2L, 7L * 3600L * 1000000000L, 1L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Temporal.j07.fn(spark, dir).collect()
    assert(got.length == 2, got.mkString(";")) // 0h and 6h grid points
    got.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("value")) &&
        r.isNullAt(r.fieldIndex("staleness_sec")), r.toString)
    }
  }

  test("m11 single-frame payload forms one shot with itself as keyframe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_m11e").toString
    Seq((0L, "x" * 10, "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Multimodal.m11.fn(spark, dir).collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got(0)
    assert(r.getAs[Int]("shot") == 0 && r.getAs[Long]("n_frames") == 1L &&
      r.getAs[Int]("key_frame") == 0 &&
      r.getAs[Long]("key_luma") == 120L * 10, r.toString)
  }
}
