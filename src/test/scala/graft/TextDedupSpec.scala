package graft

import graft.functions.{Text, Vectors}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {

  test("all C-family queries return rows at sf0.001") {
    (TextAnalysis.all ++ Dedup.all ++ Similarity.all ++ Multimodal.all).foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("shingles produces n-2 trigrams and handles short docs") {
    import spark.implicits._
    val df = Seq("a b c d e", "a b", "").toDF("text")
    val got = df.select(size(Text.shingles(Text.tokens(col("text")), 3)).as("n"))
      .collect().map(_.getInt(0))
    assert(got.sameElements(Array(3, 0, 0)))
  }

  test("xx minhash signatures: static input matches an independent " +
      "XXH64 recomputation and pinned literals (the d06/d12 fixture " +
      "path's signatures are not purely self-referential)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val text = "the quick brown fox jumps over the lazy dog the quick brown fox"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    // the production d06/d12 shape: XxShinglesExpr → distinct →
    // minhashSignatures(16) → 4 band hashes over signature quarters
    val sh = df.select(col("doc_id"), array_distinct(ColumnBridge.column(
      graft.functions.XxShinglesExpr(
        ColumnBridge.expression(Text.tokens(col("text"))), 3))).as("sh"))
    val sigs = Text.minhashSignatures(sh, "doc_id", col("sh"), 16)
    val row = sigs.select(col("sig"), array((0 until 4).map(b =>
      xxhash64(slice(col("sig"), b * 4 + 1, 4), lit(b))): _*).as("bands"))
      .collect()(0)
    val got = row.getSeq[Long](0)
    val gotBands = row.getSeq[Long](1)
    // independent recomputation straight from the hash primitives:
    // shingle = chained hashUTF8String over the 3 words (seed 42),
    // sig_j = min over distinct shingles of hashInt(j, hashLong(h, 42)),
    // band_b = hashInt(b, fold(hashLong) over the 4-element quarter)
    val toks = text.split(" ")
    val shingles = toks.sliding(3).map(_.foldLeft(42L)((s, t) =>
      XXH64.hashUTF8String(UTF8String.fromString(t), s))).toSeq.distinct
    assert(shingles.size == toks.length - 2 - 2) // 2 repeated trigrams drop
    // minhashSignatures re-hashes each element once (xxhash64(s) — the
    // hash-each-shingle-ONCE step) before the 16 cheap per-j re-hashes
    val want = (0 until 16).map(j =>
      shingles.map(s => XXH64.hashInt(j,
        XXH64.hashLong(XXH64.hashLong(s, 42L), 42L))).min)
    assert(got == want, s"sigs $got != $want")
    val wantBands = (0 until 4).map(b =>
      XXH64.hashInt(b, want.slice(b * 4, b * 4 + 4).foldLeft(42L)(
        (s, h) => XXH64.hashLong(h, s))))
    assert(gotBands == wantBands, s"bands $gotBands != $wantBands")
    // pinned literals (computed once, 2026-08): a change in EITHER the
    // Spark xxhash64 builtin or XXH64 itself must fail loudly here —
    // the d06/d12 DuckDB oracle replays from a Spark-written fixture,
    // so this pin is its only engine-independent anchor
    assert(got.head == -8906026034915526732L, s"sig0 drifted: ${got.head}")
    assert(got(15) == -9096901514476364173L, s"sig15 drifted: ${got(15)}")
    assert(gotBands.head == -8434133567922164351L,
      s"band0 drifted: ${gotBands.head}")
  }

  test("per-row signature kernels: every caller feeds one row per id") {
    // minhashSignatures / simhashMaskOf / md5MinhashSigTable are PER-ROW
    // projections: a multi-row-per-id input would emit divergent
    // duplicate signatures where the old explode+groupBy shape merged
    // them (r17 advice). Pin the contract at the caller inputs: each
    // signature-producing path's input frame is unique per doc_id.
    val docs = Tables(spark, sf).documents
    val inputs = Seq(
      "docShingleHashes (d02/d06/d12 sig input)" ->
        Dedup.docShingleHashes(docs).select(col("doc_id")),
      "documents (d03 simhashMaskOf input)" -> docs.select(col("doc_id")))
    inputs.foreach { case (name, ids) =>
      val dups = ids.groupBy(col("doc_id")).count().filter(col("count") > 1).count()
      assert(dups == 0L, s"$name has $dups duplicate ids")
    }
    // and the kernel itself emits exactly its input rows (minus empties)
    val sh = Dedup.docShingleHashes(docs)
    val nonEmpty = sh.filter(size(col("sh")) > 0).count()
    assert(Text.minhashSignatures(sh, "doc_id", col("sh"), 16).count() == nonEmpty)
  }

  test("rolling fingerprint matches hand-computed value") {
    import spark.implicits._
    // "ab" -> (0*31+97)*31+98 = 3105 (cross-checked against DuckDB)
    val got = Seq("ab").toDF("text")
      .select(Text.rollingFingerprint(col("text")).as("fp")).collect()(0).getLong(0)
    assert(got == 3105L)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0), Seq(0.0, 0.0, 1.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      Vectors.cosine(col("a"), col("b")).as("same"),
      Vectors.cosine(col("a").cast("array<double>"),
        array(lit(3.0), lit(0.0), lit(-1.0))).as("orth")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("minhash signature: identical docs collide on every band") {
    import spark.implicits._
    val df = Seq((1L, "x y z w v u t s"), (2L, "x y z w v u t s")).toDF("doc_id", "text")
    val sigs = Text.minhashSignatures(
        df.select(col("doc_id"), Text.shingles(Text.tokens(col("text")), 3).as("sh")),
        "doc_id", col("sh"), 64)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == 64)
  }

  test("simhash: near-identical docs have small hamming distance") {
    import spark.implicits._
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val near = base + " extra"
    val far = (1 to 50).map(i => s"q$i").mkString(" ")
    val df = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val bits = Text.simhashBitsOf(df, "doc_id", Text.tokens(col("text")), 64)
      .orderBy("doc_id").collect().map(_.getSeq[Int](1))
    def ham(a: Seq[Int], b: Seq[Int]) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(bits(0), bits(1)) < ham(bits(0), bits(2)),
      s"near=${ham(bits(0), bits(1))} far=${ham(bits(0), bits(2))}")
    assert(ham(bits(0), bits(1)) <= 8)
    // packed-mask variant: bit i of fp == bits[i], for every doc
    val masks = Text.simhashMaskOf(df, "doc_id", Text.tokens(col("text")))
      .orderBy("doc_id").collect().map(_.getLong(1))
    for (d <- 0 until 3; i <- 0 until 64)
      assert(((masks(d) >>> i) & 1L) == bits(d)(i),
        s"doc $d bit $i: mask disagrees with the array variant")
  }

  test("s04 IVF probe returns descending sims from one cell") {
    val out = Similarity.s04.fn(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 5)
    val sims = out.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("s01 top-k is ordered by similarity descending") {
    val sims = Similarity.s01.fn(spark, sf).collect().map(_.getAs[Double]("sim"))
    assert(sims.length == 10)
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("s16 cluster quality: members partition the corpus, metrics consistent") {
    val rows = Similarity.s16.fn(spark, sf).collect()
    assert(rows.length == 4, s"expected 4 clusters, got ${rows.length}")
    val total = Tables(spark, sf).embeddings.count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == total)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_members")
      val inertia = r.getAs[Double]("inertia")
      val mean = r.getAs[Double]("mean_d2")
      assert(inertia >= 0.0)
      // mean is the grid-rounded inertia/n
      assert(math.abs(mean - inertia / n) < 1e-3, s"cid ${r.getLong(0)}")
      assert(r.getAs[Double]("min_center_d2") > 0.0)
    }
  }

  test("d01 keeps one representative per distinct content") {
    val docs = Tables(spark, sf).documents.count()
    val out = Dedup.d01.fn(spark, sf)
    val totalCopies = out.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(totalCopies == docs)
  }

  test("d14 dup weights: per-copy mass, canonical flag reproduces d01") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_d14").toString
    Seq((1L, "same text", "en", "A", 9L), (5L, "same text", "en", "A", 9L),
      (9L, "same text", "en", "B", 9L), (2L, "unique", "en", "A", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val got = Dedup.d14.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((3L, 333333L, true)))
    assert(got(5L) == ((3L, 333333L, false)))
    assert(got(9L) == ((3L, 333333L, false)))
    assert(got(2L) == ((1L, 1000000L, true)))
    // corpus: every doc appears once; canonical set == d01's keep set
    val w = Dedup.d14.fn(spark, sf)
    assert(w.count() == Tables(spark, sf).documents.count())
    val canon = w.filter(col("is_canonical")).select("doc_id").collect().map(_.getLong(0)).toSet
    val d01keep = Dedup.d01.fn(spark, sf).select("keep_id").collect().map(_.getLong(0)).toSet
    assert(canon == d01keep)
  }

  test("m07 modality router: prefix-bounded sniff classifies text vs binary") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_m07").toString
    // doc 1: pure text. doc 2: 8 control bytes in 64 → 875000 ppm → binary.
    // doc 3: 300 printable bytes then controls — the sniff stops at 256,
    // so the tail controls never flip the verdict.
    val bin = ("A" * 56) + ("\u0001" * 8)
    val longDoc = ("B" * 300) + ("\u0002" * 50)
    Seq((1L, "hello world", "en", "A", 11L), (2L, bin, "en", "A", 64L),
      (3L, longDoc, "en", "A", 350L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val got = Multimodal.m07.fn(spark, dir).collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("printable_ppm") == 1000000L)
    assert(got(1L).getAs[String]("modality") == "text")
    assert(got(2L).getAs[Long]("printable_ppm") == 875000L)
    assert(got(2L).getAs[String]("modality") == "binary")
    assert(got(2L).getAs[Int]("n_distinct") == 2)
    assert(got(3L).getAs[Int]("sniff_bytes") == 256)
    assert(got(3L).getAs[String]("modality") == "text")
    // corpus: plain word text routes entirely to 'text'
    val corpus = Multimodal.m07.fn(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { c =>
      assert(c.getAs[Int]("sniff_bytes") == math.min(256, c.getAs[Int]("n_bytes")))
      assert(c.getAs[String]("modality") == "text")
    }
  }

  test("d15 snapshot diff: classes partition the union, crafted ids land right") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_d15").toString
    // ids chosen to hit each class: 4 (old-excluded → added), 6
    // (new-excluded → removed), 18 (in both, edited → changed),
    // 1 (unchanged)
    Seq(1L, 4L, 6L, 18L).map(i => (i, s"text $i", "en", "A", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val r = Dedup.d15.fn(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_added") == 1L)     // doc 4
    assert(r(0).getAs[Long]("n_removed") == 1L)   // doc 6
    assert(r(0).getAs[Long]("n_changed") == 1L)   // doc 18
    assert(r(0).getAs[Long]("n_unchanged") == 1L) // doc 1
    assert(r(0).getAs[Long]("net_docs") == 0L)
    // corpus: classes partition |old ∪ new|
    val rows = Dedup.d15.fn(spark, sf).collect()
    val docs = Tables(spark, sf).documents
    val union = docs.filter(col("doc_id") % 5 =!= 4)
      .select("doc_id")
      .union(docs.filter(col("doc_id") % 7 =!= 6).select("doc_id"))
      .distinct().count()
    val classed = rows.map(r2 => r2.getAs[Long]("n_added") +
      r2.getAs[Long]("n_removed") + r2.getAs[Long]("n_changed") +
      r2.getAs[Long]("n_unchanged")).sum
    assert(classed == union, s"$classed != $union")
  }

  test("m08 CDC chunks: boundary walk exact, identical docs fully shared") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_m08").toString
    // docs 0 and 25 are byte-identical (13 chunks each by independent
    // ground truth: min 2, max 42 — every chunk shared); doc 50 is a
    // degenerate constant payload whose window hash never fires →
    // ONE chunk, unshared
    val txt = ("the quick brown fox jumps over the lazy dog " * 6).take(256)
    Seq((0L, txt, "en", "A", 256L), (25L, txt, "en", "B", 256L),
      (50L, "Z" * 40, "en", "A", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val got = Multimodal.m08.fn(spark, dir).collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 25L)) {
      assert(got(id).getAs[Long]("n_chunks") == 13L, s"$id: ${got(id)}")
      assert(got(id).getAs[Long]("min_chunk") == 2L)
      assert(got(id).getAs[Long]("max_chunk") == 42L)
      assert(got(id).getAs[Long]("n_shared") == 13L)
    }
    assert(got(50L).getAs[Long]("n_chunks") == 1L)
    assert(got(50L).getAs[Long]("max_chunk") == 40L)
    assert(got(50L).getAs[Long]("n_shared") == 0L)
    // corpus: chunk lens tile the payload (min ≥ 1), determinism
    val r1 = Multimodal.m08.fn(spark, sf).collect()
    val r2 = Multimodal.m08.fn(spark, sf).collect()
    assert(r1.nonEmpty && r1.sameElements(r2))
    r1.foreach { c =>
      assert(c.getAs[Long]("min_chunk") >= 1L)
      assert(c.getAs[Long]("n_shared") <= c.getAs[Long]("n_chunks"))
    }
  }

  test("bucket cap: identical-doc flood stays bounded, real near-dups survive") {
    import spark.implicits._
    // adversarial corpus: thousands of byte-identical boilerplate docs
    // (the 100 TB web-text failure mode) + one genuine near-dup pair
    val boiler = (1 to 40).map(i => s"b$i").mkString(" ")
    val flood = (1L to 3000L).map(i => (i, boiler))
    val nearA = (4001L, (1 to 30).map(i => s"w$i").mkString(" "))
    val nearB = (4002L, (1 to 30).map(i => s"w$i").mkString(" ") + " tail")
    val docs = (flood :+ nearA :+ nearB).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      array_distinct(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
    val pairs = Dedup.bucketPairs(Dedup.md5MinhashBands(sh, "doc_id", "sh")).collect()
    // flood buckets (population 3000 > BucketCap) are discarded: the
    // candidate count is bounded per bucket by cap²/2, not N²/2 ≈ 4.5M
    assert(pairs.length <= Dedup.BucketCap * Dedup.BucketCap / 2,
      s"uncapped blowup: ${pairs.length} candidate pairs")
    // the genuinely-near pair sits in a size-2 bucket and survives the cap
    assert(pairs.exists(r => r.getLong(0) == 4001L && r.getLong(1) == 4002L),
      "near-dup pair lost by the cap")
  }

  test("dupClusters resolves transitive chains to one representative") {
    import spark.implicits._
    // chain 1~2~3 must collapse into ONE cluster (pair-based pruning
    // would mishandle it), disjoint pair 10~11 stays separate
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val got = Dedup.dupClusters(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(Array((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))))
  }

  test("dupClusters on an empty pair graph returns empty (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.dupClusters(empty).count() == 0)
  }

  test("d07 incremental dedup: batch fates are exhaustive and exclusive") {
    val rows = Dedup.d07.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ex, near, kept) = (r.getAs[Long]("n_batch"), r.getAs[Long]("n_exact_dup"),
        r.getAs[Long]("n_near_dup"), r.getAs[Long]("n_kept"))
      assert(ex + near + kept == n,
        s"${r.getAs[String]("source")}: $ex+$near+$kept != $n")
    }
  }

  test("capBuckets drops only oversized groups") {
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, if (i <= 8) "hot" else "cold")).toDF("id", "k")
    val kept = Dedup.capBuckets(df, Seq("k"), 4).select("k").distinct()
      .collect().map(_.getString(0))
    assert(kept.sameElements(Array("cold")))
  }

  test("langid predicts a language for every doc") {
    val out = TextAnalysis.t03.fn(spark, sf).collect()
    assert(out.forall(r => Set("en", "fr", "es", "und").contains(r.getAs[String]("predicted"))))
  }

  test("s05 k-means: K×dims centroid rows, members partition the corpus") {
    val rows = Similarity.s05.fn(spark, sf).collect()
    assert(rows.length == 4 * 64)
    val perCluster = rows.groupBy(_.getAs[Long]("cid"))
      .map { case (cid, rs) => cid -> rs.head.getAs[Long]("n_members") }
    val total = Similarity.s03.fn(spark, sf).count() // one row per vector
    assert(perCluster.values.sum == total,
      s"cluster members ${perCluster.values.sum} != corpus $total")
    assert(perCluster.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
  }

  test("s06 quantization: rmse bounded by the int8 grid step") {
    val rows = Similarity.s06.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-dim error ≤ half a grid step; embeddings span ~[-0.6, 0.6] per
    // dim, so rmse ≤ (max span)/255 generously bounded at 0.01
    rows.foreach { r =>
      val rmse = r.getAs[Double]("rmse")
      assert(rmse >= 0 && rmse < 0.01, s"vec ${r.get(0)}: rmse=$rmse")
    }
  }

  test("t11 packing: every non-terminal chunk exactly full, mass conserved") {
    val rows = TextAnalysis.t11.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rs) =>
      val lastChunk = rs.map(_.getAs[Long]("chunk")).max
      rs.filter(_.getAs[Long]("chunk") < lastChunk).foreach { r =>
        assert(r.getAs[Long]("tok_fill") == 512L,
          s"$src chunk ${r.get(1)}: fill ${r.getAs[Long]("tok_fill")} != 512")
      }
      // chunk ids are dense from 0
      assert(rs.map(_.getAs[Long]("chunk")).sorted.sameElements(0L to lastChunk))
    }
    // token mass conservation: sum of fills == corpus token count
    val totalFill = rows.map(_.getAs[Long]("tok_fill")).sum
    val totalTokens = Tables(spark, sf).documents
      .agg(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    assert(totalFill == totalTokens)
  }

  test("t10 normalization inverts every synthetic corruption class") {
    val rows = TextAnalysis.t10.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("restored") == 1,
      s"doc ${r.get(0)} not restored"))
    // three of four doc-id classes are corrupted
    val dirty = rows.count(_.getAs[Int]("was_dirty") == 1)
    assert(math.abs(dirty.toDouble / rows.length - 0.75) < 0.05)
  }

  test("s08 ANN recall is a valid fraction and hits never exceed candidates") {
    val r = Similarity.s08.fn(spark, sf).collect()(0)
    val (nAnn, nHits) = (r.getAs[Long]("n_ann"), r.getAs[Long]("n_hits"))
    assert(nAnn <= 10 && nHits <= nAnn)
    val recall = r.getAs[Double]("recall")
    assert(recall >= 0.0 && recall <= 1.0)
    assert(math.abs(recall - nHits / 10.0) < 1e-6)
  }

  test("d10 LSH quality harness: hits bounded by both sides, rates valid") {
    val r = Dedup.d10.fn(spark, sf).collect()(0)
    val (nExact, nCand, nHit) =
      (r.getAs[Long]("n_exact"), r.getAs[Long]("n_cand"), r.getAs[Long]("n_hit"))
    assert(nHit <= nExact && nHit <= nCand)
    assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0)
    assert(r.getAs[Double]("precision") >= 0.0 && r.getAs[Double]("precision") <= 1.0)
  }

  test("d09 bloom prefilter: prunes most of the batch, never a true dup") {
    val dups = Dedup.d09.fn(spark, sf).count()
    val (bloomPass, batchTotal) = Dedup.bloomPassCount(spark, sf)
    // no false negatives: every true dup survives the bloom
    assert(bloomPass >= dups, s"bloom dropped true dups: $bloomPass < $dups")
    // and the filter actually prunes — the point of the prepass
    assert(bloomPass < batchTotal / 2,
      s"bloom passed $bloomPass of $batchTotal: no pruning happened")
  }

  test("s07 PQ: codes within codebook range, all subspace codebooks used") {
    val rows = Similarity.s07.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val codeCols = Seq("code0", "code1", "code2", "code3")
    rows.foreach { r =>
      codeCols.foreach { c =>
        val code = r.getAs[Int](c)
        assert(code >= 0 && code < 4, s"vec ${r.get(0)}: $c=$code out of range")
      }
      // PQ reconstruction is lossy but bounded: unit-ish 64-dim vectors
      // against K=4 centroids stay well under per-dim std
      val rmse = r.getAs[Double]("rmse")
      assert(rmse > 0 && rmse < 0.5, s"vec ${r.get(0)}: rmse=$rmse")
    }
    codeCols.foreach { c =>
      assert(rows.map(_.getAs[Int](c)).distinct.length > 1,
        s"$c degenerate: one cluster swallowed the subspace")
    }
  }

  test("t06 vocab: tf descending, df never exceeds tf") {
    val rows = TextAnalysis.t06.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val tfs = rows.map(_.getAs[Long]("tf"))
    assert(tfs.zip(tfs.tail).forall { case (a, b) => a >= b })
    rows.foreach(r =>
      assert(r.getAs[Long]("df") <= r.getAs[Long]("tf") && r.getAs[Long]("df") > 0))
  }

  test("m03 thumbnail: strided size is ceil(min(n,4096)/16)") {
    val rows = Multimodal.m03.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Int]("n_bytes")
      val expected = (math.min(n, 4096) + 15) / 16
      assert(r.getAs[Int]("thumb_bytes") == expected)
    }
  }

  test("d02/d03 partial oracle: fixtures written, paths land in the generated SQL") {
    Dedup.d02.fn(spark, sf).collect()
    Dedup.d03.fn(spark, sf).collect()
    val tag = new java.io.File(sf).getName
    for ((name, leaf) <- Seq("d02_minhash_lsh" -> "d02_sigs",
        "d03_simhash" -> "d03_bits")) {
      val path = s"${graft.Fixtures.Root}/$tag/$leaf"
      assert(path == graft.Fixtures.pathFor(sf, leaf),
        "oracle path formula must match the write-side formula")
      assert(graft.SparkEntry.oracleSqlFor(sf)(name)
        .contains(s"read_parquet('$path/*.parquet')"),
        s"$name oracle must read the per-sf fixture")
      assert(new java.io.File(path).listFiles(
        (_, n) => n.endsWith(".parquet")).nonEmpty, s"$leaf fixture missing")
    }
  }

  test("m03 real codec rung: PNG decodes in the same batch loop, stub untouched") {
    import spark.implicits._
    val Mod = graft.functions.Text.RollMod
    // synthetic 16×16 PNG with a deterministic gradient (2×2 box cells)
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, (x * 16 << 16) | (y * 16 << 8) | ((x + y) * 8))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(Multimodal.isPng(png) && !Multimodal.isPng("plain text".getBytes))
    // expected checksum recomputed independently from the ORIGINAL pixels
    var ck = 0L
    for (cy <- 0 until 8; cx <- 0 until 8) {
      var sum = 0L
      for (y <- cy * 2 until cy * 2 + 2; x <- cx * 2 until cx * 2 + 2) {
        val rgb = img.getRGB(x, y)
        sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
      }
      ck = (ck * 31 + sum / 4) % Mod
    }
    // mixed batch through the SAME typed pipeline m03 uses
    val textBytes = ("hello world " * 40).getBytes("UTF-8")
    val blobs = Seq(Multimodal.Blob(1L, "img", png),
      Multimodal.Blob(2L, "txt", textBytes)).toDS()
    val pipe = blobs.mapPartitions(it =>
      it.map(b => Multimodal.thumbRow(b.doc_id, b.payload)))
    val out = pipe.collect().sortBy(_.doc_id)
    assert(out(0) == Multimodal.Thumb(1L, png.length, 64, ck))
    // the non-PNG row matches the stride stub exactly (byte recompute)
    val m = (math.min(textBytes.length, 4096) + 15) / 16
    var h = 0L
    for (i <- 0 until m) h = (h * 31 + (textBytes(i * 16) & 0xff)) % Mod
    assert(out(1) == Multimodal.Thumb(2L, textBytes.length, m, h))
    // corrupt PNG-magic payload degrades to the stub, no exception
    val cr = Multimodal.thumbRow(3L, png.take(20))
    assert(cr.thumb_bytes == (20 + 15) / 16 && cr.n_bytes == 20)
    // odd geometry (5×3 < 8×8 grid) still yields a full 64-cell thumb
    val small = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val b2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(small, "png", b2)
    assert(Multimodal.thumbRow(4L, b2.toByteArray).thumb_bytes == 64)
    // plan shape: the codec rung rides m03's single object-batch stage —
    // swapping codecs changes no plan. The decode stage is never
    // IMPLICITLY re-shuffled: the only hash exchange allowed is the
    // explicit scan spread (REPARTITION_BY_NUM), never an
    // ENSURE_REQUIREMENTS one injected by a plan requirement.
    val planReal = physicalPlan(pipe.toDF())
    val planM03 = physicalPlan(Multimodal.m03.fn(spark, sf))
    for (p <- Seq(planReal, planM03)) {
      assert(p.contains("MapPartitions"))
      assert("""Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS""".r
        .findFirstIn(p).isEmpty, p)
    }
  }

  test("m05 audio energy: PCM decode, windowing, and relative silence on crafted bytes") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_m05").toString
    // doc 0 (picked by doc_id % 50 == 0): 64 samples = exactly 2 windows,
    // all bytes ASCII (the oracle gate). Window 0 repeats the sample
    // ('~','~') = 126 + 256*126 = 32382, energy 32*32382^2 = 33555005568;
    // window 1 repeats (' ',' ') = 8224, energy 32*8224^2 = 2164293632,
    // and 2164293632*4 < 33555005568 makes it relative silence.
    val loud = "~~" * 32
    val quiet = "  " * 32
    spark.createDataFrame(Seq(
      (0L, loud + quiet, "en", "A", 128L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val rows = Multimodal.m05.fn(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Int]("n_windows") == 2)
    assert(r.getAs[Long]("peak_energy") == 33555005568L)
    assert(r.getAs[Int]("peak_win") == 0)
    assert(r.getAs[Long]("total_energy") == 33555005568L + 2164293632L)
    assert(r.getAs[Long]("n_silent") == 1L)
    // on the real corpus: windows cover every sample pair, peaks sane
    val corpus = Multimodal.m05.fn(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { c =>
      assert(c.getAs[Long]("peak_energy") <= c.getAs[Long]("total_energy"))
      assert(c.getAs[Int]("peak_win") < c.getAs[Int]("n_windows"))
      assert(c.getAs[Long]("n_silent") < c.getAs[Int]("n_windows"))
    }
  }

  test("m06 shot boundaries: luma diffs, adaptive cut threshold, single-frame doc") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_m06").toString
    // doc 0: five 64-byte frames — A(4160) A(4160) z(7808) B(4224) C×10(670).
    // Diffs: 0, 3648, 3584, 3554; peak 3648 at frame 2; every nonzero
    // diff clears the half-peak gate (×2 > 3648) → 3 cuts.
    val payload = "A" * 64 + "A" * 64 + "z" * 64 + "B" * 64 + "C" * 10
    spark.createDataFrame(Seq(
      (0L, payload, "en", "A", payload.length.toLong),
      // doc 50: a single short frame — no diffs, NULL peak frame
      (50L, "AA", "en", "A", 2L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val rows = Multimodal.m06.fn(spark, dir).collect().map(r => r.getLong(0) -> r).toMap
    val r0 = rows(0L)
    assert(r0.getAs[Int]("n_frames") == 5)
    assert(r0.getAs[Long]("total_diff") == 10786L)
    assert(r0.getAs[Long]("peak_diff") == 3648L)
    assert(r0.getAs[Int]("peak_frame") == 2)
    assert(r0.getAs[Long]("n_cuts") == 3L)
    val r50 = rows(50L)
    assert(r50.getAs[Int]("n_frames") == 1)
    assert(r50.getAs[Long]("peak_diff") == 0L)
    assert(r50.isNullAt(r50.fieldIndex("peak_frame")))
    assert(r50.getAs[Long]("n_cuts") == 0L)
    // corpus invariants: the peak itself is always a cut; cuts bounded
    val corpus = Multimodal.m06.fn(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { c =>
      assert(c.getAs[Long]("peak_diff") <= c.getAs[Long]("total_diff"))
      if (c.getAs[Long]("peak_diff") > 0) {
        assert(c.getAs[Long]("n_cuts") >= 1L)
        assert(c.getAs[Int]("peak_frame") >= 1 &&
          c.getAs[Int]("peak_frame") < c.getAs[Int]("n_frames"))
      }
      assert(c.getAs[Long]("n_cuts") <= c.getAs[Int]("n_frames") - 1L)
    }
  }

  test("t23 burstiness: bursty vs dispersed tokens, VMR hand-computed, threshold") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_t23").toString
    // 4 docs. 'x': 60 occurrences all in doc 1 (bursty).
    // 'y': 15 in every doc (perfectly dispersed). 'z': 3 total (below 50).
    val xDoc = (("x " * 60) + ("y " * 15)).trim
    val yDoc = ("y " * 15).trim
    Seq((1L, xDoc, "en", "A", 0L), (2L, yDoc, "en", "A", 0L),
      (3L, yDoc, "en", "A", 0L), (4L, (yDoc + " z z z"), "en", "A", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t23.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // x: mean 15, E[x²] = 3600/4 = 900, var 675, VMR = 675/15 = 45
    assert(got("x").getAs[Long]("df") == 1L)
    assert(got("x").getAs[Long]("total") == 60L)
    assert(math.abs(got("x").getAs[Double]("vmr") - 45.0) < 1e-9)
    // y: same count in every doc → zero variance
    assert(got("y").getAs[Long]("df") == 4L)
    assert(math.abs(got("y").getAs[Double]("vmr")) < 1e-9)
    // z: below the corpus-count threshold
    assert(!got.contains("z"))
    // corpus: VMR is nonnegative and a token in every doc with equal
    // counts would be 0 — sanity bounds only
    val rows = TextAnalysis.t23.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("vmr") >= 0.0))
  }

  test("t24 char entropy: degenerate zero, uniform ln(k), corpus bounds") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_t24").toString
    Seq((1L, "aaaa", "en", "A", 4L), (2L, "abab", "en", "A", 4L),
      (3L, "abcd", "en", "A", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t24.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Double]("entropy") == 0.0)
    assert(got(1L).getAs[Long]("n_distinct") == 1L)
    // two equiprobable chars → ln 2 ≈ 0.6931; four → ln 4 ≈ 1.3863
    assert(math.abs(got(2L).getAs[Double]("entropy") - 0.6931) < 1e-9)
    assert(math.abs(got(3L).getAs[Double]("entropy") - 1.3863) < 1e-9)
    // corpus: 0 ≤ H ≤ ln(n_distinct) (+ grid slack)
    val rows = TextAnalysis.t24.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy")
      assert(h >= 0.0 && h <= math.log(r.getAs[Long]("n_distinct").toDouble) + 1e-3)
    }
  }

  test("t22 collocations: a true pair dominates, PMI matches the hand formula") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t22").toString
    // "neural nets" always adjacent (a collocation); filler words are
    // shuffled independently so their pairings stay near-random
    val filler = Seq("alpha", "beta", "gamma", "delta")
    val docs = (0 until 40).map { i =>
      val f = (0 until 6).map(j => filler((i * 7 + j * 3) % 4)).mkString(" ")
      (i.toLong, s"neural nets $f", "en", "A", 0L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.t22.fn(spark, dir).collect()
    val pair = rows.find(r => r.getString(0) == "neural" && r.getString(1) == "nets")
    assert(pair.isDefined, s"collocation lost: ${rows.mkString(";")}")
    // hand PMI: c(neural nets)=40, c(neural)=c(nets)=40, N=320 tokens,
    // M=280 bigrams → ln((40/280)/((40/320)^2)) = ln(64/7)
    val expected = math.round(
      (math.log((40.0 / 280.0) / ((40.0 / 320.0) * (40.0 / 320.0))) + 1e-9) * 1e4) / 1e4
    assert(pair.get.getAs[Double]("pmi") == expected,
      s"${pair.get.getAs[Double]("pmi")} != $expected")
    assert(pair.get.getAs[Long]("n_pair") == 40L)
    // every emitted pair respects both thresholds
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pair") >= 5 && r.getAs[Double]("pmi") >= 0.2)
    }
    // the collocation outranks every filler-filler pairing's PMI
    rows.filter(r => filler.contains(r.getString(0))).foreach { r =>
      assert(r.getAs[Double]("pmi") < pair.get.getAs[Double]("pmi"))
    }
  }

  test("t18 zipf slope matches a direct least-squares recompute; ratios sane") {
    val rows = TextAnalysis.t18.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ttr = r.getAs[Double]("type_token_ratio")
      assert(ttr > 0.0 && ttr <= 1.0)
      assert(r.getAs[Double]("zipf_slope") < 0.0,
        s"token frequencies must fall with rank: $r")
    }
    // direct recompute for one source from raw counts
    val src = rows.head.getAs[String]("source")
    val freqs = Tables(spark, sf).documents.filter(col("source") === src)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .groupBy("t").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, f) => (-f, t) }.take(100)
    val pts = freqs.zipWithIndex.map { case ((_, f), i) =>
      (math.log(i + 1.0), math.log(f.toDouble))
    }
    val k = pts.length
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val want = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert(math.abs(rows.head.getAs[Double]("zipf_slope") - want) < 1e-3,
      s"slope ${rows.head.getAs[Double]("zipf_slope")} vs direct $want")
  }

  test("t19 classifier separates disjoint-vocabulary classes on held-out docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t19").toString
    val docs = (0L until 40L).map { i =>
      if (i % 4 == 0) (i, "good clean prose text sample", "en", "src0", 28L)
      else (i, "spam junk noise garbage filler", "en", s"src${i % 4}", 30L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.t19.fn(spark, dir).collect()
    // the class vocabularies are disjoint, so every held-out doc must
    // land on the diagonal of the confusion matrix
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("is_target") == r.getAs[Int]("pred"),
      s"off-diagonal cell: $r"))
    // every held-out doc is evaluated exactly once (the left join keeps
    // docs whose tokens miss the train vocabulary)
    val heldOut = docs.count { case (i, _, _, _, _) =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString).charAt(0) >= '8'
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum == heldOut)
    // the target cell scores strictly above the non-target cell
    val byClass = rows.map(r => r.getAs[Int]("is_target") -> r.getAs[Double]("avg_score")).toMap
    assert(byClass(1) > byClass(0))
  }

  test("t20 novelty: first doc fully novel, verbatim copies score zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t20").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "src0", 29L),
      (1L, "alpha beta gamma delta epsilon", "en", "src1", 29L), // verbatim copy
      (2L, "zeta eta theta iota kappa", "en", "src2", 25L),      // fresh content
      (3L, "alpha beta gamma nu xi omicron", "en", "src3", 30L)) // partial overlap
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t20.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(0L) == 1.0 && got(1L) == 0.0 && got(2L) == 1.0)
    assert(got(3L) > 0.0 && got(3L) < 1.0, s"partial overlap: ${got(3L)}")
    // real data: the earliest doc is fully novel and every ratio is in [0, 1]
    val rows = TextAnalysis.t20.fn(spark, sf).collect()
    assert(rows.head.getDouble(3) == 1.0)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("s14 two-stage rerank widens s04's single-cell probe consistently") {
    val rows = Similarity.s14.fn(spark, sf).collect()
    assert(rows.length == 10)
    // ranked by similarity, deterministic tie-break
    val sims = rows.map(_.getDouble(2))
    sims.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // at most nprobe = 2 distinct cells in the shortlist
    val cells = rows.map(_.getInt(1)).distinct
    assert(cells.length <= 2)
    // the pool is a superset of s04's single-cell pool: any s04 hit
    // missing from s14's top-10 must be displaced by a better score
    val s04rows = Similarity.s04.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val ids = rows.map(_.getLong(0)).toSet
    val minSim = sims.min
    s04rows.filterNot { case (id, _) => ids.contains(id) }.foreach { case (id, s) =>
      assert(minSim >= s, s"s04 hit $id (sim $s) dropped but not displaced")
    }
    // the rerank joins broadcast-only — the corpus side never shuffles
    val plan = Similarity.s14.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!plan.contains("SortMergeJoin"), s"rerank must not shuffle-join:\n$plan")
  }

  test("s15 ADC search scans codes join-free and ranks by the decimal table sum") {
    val df = Similarity.s15.fn(spark, sf)
    val rows = df.collect()
    assert(rows.length == 10)
    val adc = rows.map(_.getDouble(1))
    adc.sliding(2).foreach { case Array(a, b) => assert(a <= b) }
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(2) >= 0.0)
    }
    // the scored scan is a pure projection: no join, no aggregation —
    // the only work besides the trainer is a TakeOrdered over map output
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"ADC scoring must not join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a TakeOrdered reduction, not a global sort:\n$plan")
  }

  test("s13 merged centroids equal the weighted member mean; counts conserve") {
    val rows = Similarity.s13.fn(spark, sf).collect()
    assert(rows.length == 4 * 64, "4 centroids x 64 dims")
    // member conservation: every vector lands in exactly one centroid
    val total = Tables(spark, sf).embeddings.count()
    val perCid = rows.groupBy(_.getAs[Long]("cid")).view
      .mapValues(_.map(_.getAs[Long]("n_members")).distinct).toMap
    perCid.values.foreach(ns => assert(ns.length == 1,
      "n_members must be constant across a centroid's dims"))
    assert(perCid.values.map(_.head).sum == total,
      s"members must partition the corpus: ${perCid.view.mapValues(_.head).toMap} vs $total")
    // the merge is a true weighted mean: |centroid| <= max |coordinate|
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("centroid")) <= 1.0 + 1e-6,
        s"centroid coordinate outside the unit embedding range: $r")
    }
  }

  test("d13 catches an excerpt Jaccard misses; boilerplate shingles can't explode candidates") {
    import spark.implicits._
    val excerpt = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val container = excerpt + " " + (1 to 60).map(i => s"filler$i word$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"other$i token$i stuff$i").mkString(" ")
    val docs = Seq((1L, excerpt), (2L, container), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("contained_id") == 1L && p.getAs[Long]("container_id") == 2L)
    // the excerpt's shingles all appear in the container → containment 1
    assert(p.getAs[Double]("containment") == 1.0)
    // while Jaccard on the same pair is low — the tier d02/d04 gate on
    // would have dropped it
    val sh = docs.select(col("doc_id"),
      array_distinct(graft.functions.Text.shingles(
        graft.functions.Text.tokens(col("text")), 3)).as("sh"))
    val jac = sh.filter(col("doc_id") === 1).select(col("sh").as("a"))
      .crossJoin(sh.filter(col("doc_id") === 2).select(col("sh").as("b")))
      .select((size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("j")).collect()(0).getDouble(0)
    assert(jac < 0.3, s"excerpt/container Jaccard should be low, got $jac")

    // a shingle shared by MORE than the posting cap identifies nothing:
    // 20 docs sharing one boilerplate sentence produce no candidates
    // through it (every posting list capped away)
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val flood = (10L to 29L).map(i => (i, s"$boiler unique$i marker$i end$i"))
      .toDF("doc_id", "text")
    val floodPairs = Dedup.containmentPairs(flood).collect()
    assert(floodPairs.isEmpty,
      s"boilerplate-only overlap must not pair: ${floodPairs.take(3).toSeq}")
  }

  test("d12 keeps each cluster's longest member and conserves token totals") {
    val clusters = Dedup.d06.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val toks = Tables(spark, sf).documents
      .select(col("doc_id"), size(graft.functions.Text.tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reps = Dedup.d12.fn(spark, sf).collect()
    assert(reps.nonEmpty)
    assert(reps.length == byCluster.size, "one representative per cluster")
    reps.foreach { r =>
      val members = byCluster(r.getAs[Long]("cluster_id"))
      val keepId = r.getAs[Long]("keep_id")
      assert(members.contains(keepId))
      val best = members.map(id => (toks(id), -id)).max
      assert((toks(keepId), -keepId) == best,
        s"cluster ${r.getAs[Long]("cluster_id")}: kept $keepId, expected ${-best._2}")
      assert(r.getAs[Long]("keep_tok") == toks(keepId))
      assert(r.getAs[Long]("n_members") == members.size)
      assert(r.getAs[Long]("dropped_tok") ==
        members.toSeq.map(toks).sum - toks(keepId))
    }
  }

  test("m04 payload near-dup: pairs match a direct aHash recompute, exact dups at hamming 0") {
    // direct reimplementation of the 60-block average-hash
    def fingerprint(text: String): Long = {
      val bytes = text.getBytes("UTF-8")
      val n = math.min(bytes.length, 4096)
      val s = n / 60
      val sums = Array.tabulate(60)(i =>
        (0 until s).map(j => (bytes(i * s + j) & 0xff).toLong).sum)
      val ts = sums.sum
      (0 until 60).foldLeft(0L)((acc, i) =>
        if (sums(i) * 60 >= ts) acc | (1L << i) else acc)
    }
    val pairs = Multimodal.m04.fn(spark, sf).collect()
    assert(pairs.nonEmpty)
    val texts = Tables(spark, sf).documents
      .filter(col("doc_id") % 2 === 0 && length(col("text")) >= 64 &&
        length(col("text")) === octet_length(col("text")))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.foreach { p =>
      val (i1, i2) = (p.getAs[Long]("id1"), p.getAs[Long]("id2"))
      val want = java.lang.Long.bitCount(fingerprint(texts(i1)) ^ fingerprint(texts(i2)))
      assert(p.getAs[Int]("hamming") == want, s"pair ($i1, $i2)")
      assert(want <= 6)
    }
    // the corpus has exact duplicate families — identical payloads must
    // surface at hamming 0
    assert(pairs.exists(_.getAs[Int]("hamming") == 0))
    // and every exact-dup SAMPLED pair is found (aHash of identical
    // bytes always collides in every band)
    val exactPairs = texts.toSeq.groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.combinations(2).map(c => (c(0), c(1))))
      .toSet
    val got = pairs.map(p => (p.getAs[Long]("id1"), p.getAs[Long]("id2"))).toSet
    assert(exactPairs.subsetOf(got),
      s"missing exact-dup pairs: ${exactPairs.diff(got).take(3)}")
  }

  test("t08 tf-idf: at most 3 terms per doc, scores non-negative") {
    val rows = TextAnalysis.t08.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(perDoc.values.forall(_.length <= 3))
    rows.foreach(r => assert(r.getAs[Double]("tfidf") >= 0.0))
  }

  test("t07 mix weights: shares sum to 1, weight inverts the share") {
    val rows = TextAnalysis.t07.fn(spark, sf).collect()
    val shares = rows.map(_.getAs[Double]("token_share"))
    assert(math.abs(shares.sum - 1.0) < 0.01)
    val n = rows.length.toDouble
    rows.foreach { r =>
      val implied = r.getAs[Double]("mix_weight") * r.getAs[Double]("token_share")
      assert(math.abs(implied - 1.0 / n) < 0.01)
    }
  }

  test("t09 repetition: metrics bounded, keep matches thresholds, both classes occur") {
    val rows = TextAnalysis.t09.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top2 = r.getAs[Double]("top2_share")
      val dup3 = r.getAs[Double]("dup3_frac")
      assert(top2 > 0.0 && top2 <= 1.0 && dup3 >= 0.0 && dup3 <= 1.0)
      val expectKeep = if (top2 <= 0.10 && dup3 <= 0.10) 1 else 0
      assert(r.getAs[Int]("keep") == expectKeep)
    }
    val keeps = rows.map(_.getAs[Int]("keep")).toSet
    assert(keeps == Set(0, 1), "threshold should split the corpus")
  }

  test("d08 decontamination: eval docs never flagged, threshold holds, eval side broadcast") {
    val out = Dedup.d08.fn(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 97 != 0, "eval doc leaked into training output")
      assert(r.getAs[Long]("n_overlap") >= 2)
      assert(r.getAs[Long]("n_eval_docs") >= 1)
    }
    val plan = physicalPlan(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"eval shingle set should broadcast:\n$plan")
  }

  test("t12 LM quality: scores negative, token counts agree with t01") {
    val out = TextAnalysis.t12.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Double]("avg_logprob") < 0.0,
      "a unigram log-probability can never be positive"))
    val wsCounts = TextAnalysis.t01.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_ws_tokens")).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_tok") == wsCounts(r.getAs[Long]("doc_id")).toLong,
        s"token count mismatch for doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("d11 span dedup: every distinct span survives exactly once") {
    val out = Dedup.d11.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_spans") >= 1)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_spans"))
    }
    val distinctSpans = Tables(spark, sf).documents
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(col("tk"), explode(sequence(lit(0),
        ceil(size(col("tk")) / 10.0).cast("int") - 1)).as("c"))
      .select(array_join(slice(col("tk"), col("c") * 10 + 1, lit(10)), " ").as("span"))
      .distinct().count()
    assert(out.map(_.getAs[Long]("n_kept")).sum == distinctSpans,
      "kept spans must equal the distinct span population")
  }

  test("s09 semantic dedup: pairs confined to cells, sims in the threshold band") {
    val rows = Similarity.s09.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"))
      val cid = r.getAs[Long]("cid")
      assert(cid >= 0 && cid < 8, s"cell id $cid outside the codebook")
      val s = r.getAs[Double]("sim")
      assert(s >= 0.4 && s <= 1.0 + 1e-6, s"sim $s outside [0.4, 1]")
    }
  }

  test("t13 chunking: non-final chunks exactly full, stride covers every token") {
    val chunks = TextAnalysis.t13.fn(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nTok = TextAnalysis.t01.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_ws_tokens")).toMap
    assert(chunks.nonEmpty && chunks.keySet == nTok.keySet)
    chunks.foreach { case (doc, g) =>
      val byIdx = g.sortBy(_.getAs[Int]("chunk_idx"))
      val n = nTok(doc)
      byIdx.init.foreach(r => assert(r.getAs[Int]("n_tok_chunk") == 64,
        s"non-final chunk of doc $doc not full"))
      val last = byIdx.last
      // the final chunk ends exactly at the document's last token
      assert(last.getAs[Int]("chunk_idx") * 48 + last.getAs[Int]("n_tok_chunk") == n,
        s"doc $doc chunks do not cover the tail")
      assert(last.getAs[Int]("n_tok_chunk") >= 1)
    }
  }

  test("s10 truncation recall is a valid fraction of k") {
    val r = Similarity.s10.fn(spark, sf).collect()(0)
    assert(r.getAs[Int]("k") == 10)
    val hits = r.getAs[Long]("n_hits")
    assert(hits >= 0 && hits <= 10)
    assert(math.abs(r.getAs[Double]("recall") - hits / 10.0) < 1e-6)
  }

  test("t14 bigram perplexity: ppl = exp(-mean), bigrams = tokens - 1") {
    val out = TextAnalysis.t14.fn(spark, sf).collect()
    assert(out.nonEmpty)
    val nTok = TextAnalysis.t01.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_ws_tokens")).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") == nTok(r.getAs[Long]("doc_id")).toLong - 1)
      val lp = r.getAs[Double]("avg_logprob")
      assert(lp < 0.0, "smoothed bigram probability is always < 1")
      assert(math.abs(r.getAs[Double]("ppl") -
        BigDecimal(math.exp(-lp) + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble) < 1e-9)
      assert(r.getAs[Double]("ppl") > 1.0)
    }
  }

  test("d11 flood: 3000 identical docs keep exactly one copy of each span, linearly") {
    import spark.implicits._
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = ((0 until 3000).map(i => (i.toLong, body)) :+
      (3000L, "entirely different words never repeated anywhere at all ok"))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, 10).collect()
    assert(out.length == 3001)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the first copy keeps all 4 spans; every later identical doc keeps none
    assert(byId(0L).getAs[Long]("n_kept") == 4)
    (1L until 3000L).foreach(i => assert(byId(i).getAs[Long]("n_kept") == 0,
      s"doc $i resurrected a duplicated span"))
    // the unique doc is untouched
    assert(byId(3000L).getAs[Long]("n_kept") == byId(3000L).getAs[Long]("n_spans"))
    // dedup is rank-only: identical docs share one hash (empty rebuild)
    assert((1L until 3000L).map(byId(_).getAs[String]("dedup_hash")).toSet.size == 1)
  }

  test("t13 plan shape: zero shuffle before the oracle ORDER BY") {
    val plan = TextAnalysis.t13.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"chunking must not join:\n$plan")
    // the only exchange is the final range partition for ORDER BY
    val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "")).length
    assert(exchanges <= 1, s"chunking should be map-only plus the oracle sort:\n$plan")
  }

  test("t09 plan shape: map-side stats, zero shuffle before the oracle ORDER BY") {
    val df = TextAnalysis.t09.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"repetition metrics must not join:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"per-doc gram counting must stay inside the row expression:\n$plan")
    // the only exchange is the final range partition for ORDER BY
    val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "")).length
    assert(exchanges <= 1, s"metrics should be map-only plus the oracle sort:\n$plan")
    val docs = Tables(spark, sf).documents
    // the exchange-free metrics core is one whole-stage-codegen'd scan,
    // and the stats expression appears exactly ONCE (a pushed-down
    // tri_total filter would duplicate it below the Project)
    val core = TextAnalysis.repetitionMetrics(docs)
      .queryExecution.executedPlan.toString()
    assert(core.contains("*(1) "), s"stats expr must codegen:\n$core")
    assert("graft_repetition_stats".r.findAllIn(core).length == 1,
      s"stats expr must evaluate once per row:\n$core")
    // per-row counting agrees with the exploded groupBy recompute
    val toksC = graft.functions.Text.tokens(col("text"))
    val reference = docs
      .select(col("doc_id"), explode(graft.functions.Text.shingles(toksC, 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top2_cnt"))
    val got = TextAnalysis.repetitionMetrics(docs)
      .select(col("doc_id"), col("top2_cnt"))
    assert(got.join(reference, Seq("doc_id"))
      .filter(got("top2_cnt") =!= reference("top2_cnt")).count() == 0)
  }

  test("t21 inverted index: bounded postings match the window recompute") {
    val got = TextAnalysis.t21.fn(spark, sf)
    // postings are capped, ranked, and ordered by tf desc within a term
    val byTerm = got.collect().groupBy(_.getString(0))
    assert(byTerm.nonEmpty)
    byTerm.foreach { case (term, rows) =>
      assert(rows.length <= 8, s"term $term postings uncapped")
      val tfs = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("tf"))
      assert(tfs.zip(tfs.tail).forall { case (a, b) => a >= b },
        s"term $term postings not tf-descending")
      assert(rows.map(_.getAs[Long]("df")).distinct.length == 1)
      assert(rows.head.getAs[Long]("df") >= rows.length)
    }
    // the bounded aggregate selects exactly what the rank window would
    import org.apache.spark.sql.expressions.Window
    val tf = Tables(spark, sf).documents
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val win = tf.withColumn("rnk", row_number().over(Window.partitionBy(col("term"))
        .orderBy(col("tf").desc, col("doc_id"))))
      .filter(col("rnk") <= 8)
      .select(col("term"), col("rnk").cast("int").as("rnk"), col("doc_id"),
        col("tf"))
    val gotSel = got.select(col("term"), col("rnk"), col("doc_id"), col("tf"))
    assert(gotSel.exceptAll(win).count() == 0 && win.exceptAll(gotSel).count() == 0)
    // plan: the posting list must aggregate (bounded partial buffers),
    // never sort whole per-term partitions through a window
    val plan = TextAnalysis.t21.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), s"postings must not rank-window:\n$plan")
    assert(plan.contains("graft_topk"), s"bounded aggregate missing:\n$plan")
  }

  test("s09 plan shape: cell join is hash-based, never a nested loop") {
    val plan = Similarity.s09.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(!plan.contains("NestedLoopJoin"),
      s"within-cell pairing must be an equi-join on the cell id:\n$plan")
  }

  test("t15 drift: distances bounded in [0,1], top gap consistent, vocab-sized") {
    val rows = TextAnalysis.t15.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getAs[Double]("tv_dist")
      assert(tv >= 0.0 && tv <= 1.0, s"TV distance $tv outside [0,1]")
      // the max per-term gap can never exceed twice the total distance
      assert(r.getAs[Double]("top_gap") <= 2 * tv + 1e-6)
      assert(r.getAs[String]("top_token").nonEmpty)
      assert(r.getAs[Long]("n_terms") > 0)
    }
  }

  test("t16 DSIR weights tilt toward the target domain") {
    val sourceOf = Tables(spark, sf).documents
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextAnalysis.t16.fn(spark, sf).collect()
    assert(rows.length == sourceOf.size, "every doc must get a weight")
    val (target, rest) = rows.partition(r => sourceOf(r.getAs[Long]("doc_id")) == "src0")
    assert(target.nonEmpty && rest.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("dsir_weight")))
      assert(!r.getAs[Double]("dsir_weight").isNaN)
    }
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("dsir_weight")).sum / rs.length
    // the whole point of the LLR: target-domain docs must score higher
    // under the target LM than the rest of the corpus does on average
    assert(mean(target) > mean(rest),
      s"target mean ${mean(target)} not above raw mean ${mean(rest)}")
  }

  test("s11 diversity sample caps every cell and is deterministic") {
    val run1 = Similarity.s11.fn(spark, sf).collect()
    val run2 = Similarity.s11.fn(spark, sf).collect()
    assert(run1.sameElements(run2), "md5-ranked sampling must be run-stable")
    assert(run1.nonEmpty)
    val byCell = run1.groupBy(_.getAs[Long]("cid"))
    var corpus = 0L
    byCell.foreach { case (cid, rows) =>
      val cellN = rows.head.getAs[Long]("cell_n")
      assert(rows.forall(_.getAs[Long]("cell_n") == cellN))
      // exactly min(cell population, cap) sampled, ranks dense 1..k
      assert(rows.length == math.min(cellN, 32L),
        s"cell $cid kept ${rows.length} of $cellN (cap 32)")
      assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to rows.length))
      corpus += cellN
    }
    assert(corpus == Tables(spark, sf).embeddings.count(),
      "cell populations must partition the corpus")
    // the cap actually binds on this corpus (500 vectors / 8 cells)
    assert(run1.length < corpus, "no cell hit the cap — the sample is the corpus")
  }

  test("t17 greedy merge resolves runs left-to-right, linear in run length") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // adversarial run: `t t t t` merges to `t+t t+t`; `t t t` to `t+t t`
    val docs = Seq(
      (1L, Seq("t", "t", "t", "t")),
      (2L, Seq("t", "t", "t")),
      (3L, Seq("x", "t", "t", "x", "t"))).toDF("doc_id", "toks")
    val s = docs.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
    val w = s.withColumn("nxt",
      lead(col("tok"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val out = TextAnalysis.bpeMergeRound(w, "t", "t")
      .orderBy(col("doc_id"), col("pos")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    assert(out(1L) == Seq("t+t", "t+t"))
    assert(out(2L) == Seq("t+t", "t"))
    assert(out(3L) == Seq("x", "t+t", "x", "t"))
  }

  test("t17 batch rounds adopt multiple non-interacting pairs, skip interacting ones") {
    import spark.implicits._
    // (a,b) and (c,d) are both frequent and share no token → ONE round
    // adopts both; (b,x) is frequent but interacts with (a,b) → skipped
    val docs = Seq(
      (1L, "a b c d a b c d"),
      (2L, "a b c d b x"),
      (3L, "b x b x")).toDF("doc_id", "text")
    val r = TextAnalysis.bpeTrain(docs, iters = 1, batch = 2)
      .orderBy(col("pair")).collect()
    // counts: (a,b)=3, (c,d)=3, (b,x)=3 — lex order adopts a+b, then
    // b+x is skipped (shares b), then c+d lands as the second merge
    assert(r.map(_.getAs[String]("pair")).toSeq == Seq("a+b", "c+d"))
    assert(r.forall(_.getAs[Int]("iter") == 1))
    assert(r.forall(_.getAs[Long]("pair_count") == 3L))
    // 18 tokens − 3 a+b merges − 3 c+d merges = 12
    assert(r.head.getAs[Long]("tokens_after") == 12L)

    // batch = 1 stays textbook-sequential: round 1 adopts only (a,b)
    val seq1 = TextAnalysis.bpeTrain(docs, iters = 1, batch = 1).collect()
    assert(seq1.map(_.getAs[String]("pair")).toSeq == Seq("a+b"))
    assert(seq1.head.getAs[Long]("tokens_after") == 15L)

    // a fully interacting top (chain a b a b a …) adopts only ONE pair
    // per round no matter the batch size
    val chain = Seq((1L, "a b a b a b a")).toDF("doc_id", "text")
    val r2 = TextAnalysis.bpeTrain(chain, iters = 1, batch = 4).collect()
    assert(r2.length == 1 && r2.head.getAs[String]("pair") == "a+b")
  }

  test("t17 merge counts are non-increasing and the stream shrinks by the applied merges") {
    val rows = TextAnalysis.t17.fn(spark, sf).collect().sortBy(_.getAs[Int]("iter"))
    assert(rows.length == 3)
    // each adopted pair's frequency bounds the next round's best
    rows.sliding(2).foreach { case Array(p, n) =>
      assert(n.getAs[Long]("pair_count") <= p.getAs[Long]("pair_count"),
        "a later merge cannot beat an earlier round's maximum")
      assert(n.getAs[Long]("tokens_after") < p.getAs[Long]("tokens_after"),
        "every merge round must shrink the stream")
    }
    rows.foreach { r =>
      // applied merges (stream shrinkage) never exceed the pair count
      assert(r.getAs[Long]("pair_count") > 0)
      assert(r.getAs[String]("pair").contains("+"))
    }
  }

  test("s12 augmentation makes every vector the same norm; ranking matches raw dot") {
    val rows = Similarity.s12.fn(spark, sf).collect()
    assert(rows.length == 5)
    // recompute ground truth: top-5 by raw inner product
    val vecs = Tables(spark, sf).embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = vecs(0L)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val want = vecs.filter(_._1 != 0L).toSeq
      .map { case (id, v) => (id, dot(v, q)) }
      .sortBy { case (id, d) => (-d, id) }.take(5).map(_._1)
    assert(rows.map(_.getAs[Long]("vec_id")).toSeq == want)
    // the transform's guarantee: ||x~||² = ||x||² + aug² = M² for all
    val m2 = vecs.values.map(v => dot(v, v)).max
    rows.foreach { r =>
      val ns = dot(vecs(r.getAs[Long]("vec_id")), vecs(r.getAs[Long]("vec_id")))
      val aug = r.getAs[Double]("aug_coord")
      assert(math.abs((ns + aug * aug) - m2) < 1e-3,
        s"augmented norm ${ns + aug * aug} drifts from M²=$m2")
    }
  }

  test("s11/t16/i34 plan shapes: caps push down, LM tables broadcast, layout is map-side") {
    // s11: the rk <= 32 filter becomes a WindowGroupLimit — only the cap
    // survives the shuffle per cell, the window never buffers a dense cell
    val s11Plan = Similarity.s11.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(s11Plan.contains("WindowGroupLimit"),
      s"cell cap must push into the rank window:\n$s11Plan")
    assert(!s11Plan.contains("Join"), s"sampling must not join:\n$s11Plan")
    // t16: both LM count tables reach the token stream via broadcast —
    // the corpus-sized side never shuffle-joins
    val t16Plan = TextAnalysis.t16.fn(spark, sf).queryExecution.executedPlan.toString()
    assert(t16Plan.contains("BroadcastHashJoin"),
      s"vocab LLR table must broadcast:\n$t16Plan")
    assert(!t16Plan.contains("SortMergeJoin"),
      s"the scoring join must never shuffle the token stream:\n$t16Plan")
    // i34: quantize + interleave are map-side; one partial-agg shuffle
    val i34Plan = graft.operators.Ingest.i34.fn(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!i34Plan.contains("Join"), s"z-order layout must not join:\n$i34Plan")
    assert(i34Plan.contains("partial_count"),
      s"range stats must partial-aggregate map-side:\n$i34Plan")
  }

  test("t24 runs as one per-row expression: no explode, only the ORDER BY exchange") {
    val plan = physicalPlan(TextAnalysis.t24.fn(spark, sf))
    assert(plan.contains("graft_char_entropy_stats"), plan)
    assert(!plan.contains("Generate"),
      s"the char stream must never exist as rows:\n$plan")
    assert("Exchange".r.findAllMatchIn(plan).size <= 1,
      s"scan→project→sort only:\n$plan")
  }

  test("t24 expression is bit-identical to the exploded reference plan") {
    // the expression replicates Round/Cast/DECIMAL internally; prove it
    // against the pre-r7 composition on the real corpus, comparing
    // doubles by BITS (the driver's hash does)
    val docs = Tables(spark, sf).documents
    val cc = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val n = cc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"), count(lit(1)).as("n_distinct"))
    val p = col("c") * lit(1.0) / col("n_chars")
    val old = cc.join(n, "doc_id")
      .groupBy(col("doc_id"), col("n_chars"), col("n_distinct"))
      .agg(round((-sum(round(p * log(p) + 1e-9, 8).cast("decimal(18,8)")))
        .cast("double") + 1e-9, 4).as("entropy"))
      .orderBy(col("doc_id")).collect()
    val neu = TextAnalysis.t24.fn(spark, sf).collect()
    assert(old.length == neu.length && old.nonEmpty)
    old.zip(neu).foreach { case (o, r) =>
      assert(o.getLong(0) == r.getLong(0) && o.getLong(1) == r.getLong(1) &&
        o.getLong(2) == r.getLong(2))
      assert(java.lang.Double.doubleToLongBits(o.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"doc ${o.getLong(0)}: ${o.getDouble(3)} vs ${r.getDouble(3)}")
    }
  }

  test("t23 token-counts expression matches the exploded (token, doc) aggregate") {
    val docs = Tables(spark, sf).documents
    val old = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
      .orderBy(col("token")).collect()
    val neu = docs
      .select(explode(Text.tokenCounts(Text.tokens(col("text"))))
        .as(Seq("token", "c")))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
      .orderBy(col("token")).collect()
    assert(old.length == neu.length && old.nonEmpty)
    assert(old.toSeq == neu.toSeq)
    val plan = physicalPlan(TextAnalysis.t23.fn(spark, sf))
    assert(plan.contains("graft_token_counts"), plan)
  }

  test("t25 BM25 matches a hand-computed two-doc corpus; plan is a top-k take") {
    import spark.implicits._
    // doc 1: "spark spark hash" (dl 3, tf spark 2, hash 1)
    // doc 2: "merge x y z"      (dl 4, tf merge 1)
    // N = 2, sumdl = 7, avgdl = 3.5; df(spark)=1, df(hash)=1, df(merge)=1
    val docs = Seq((1L, "spark spark hash"), (2L, "merge x y z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Raw(docs).orderBy("doc_id").collect()
    def idf(df: Int, n: Int) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def term(tf: Int, dl: Int, df: Int) =
      idf(df, 2) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.5))
    val exp1 = term(2, 3, 1) + term(1, 3, 1) + term(0, 3, 1)
    val exp2 = term(0, 4, 1) + term(0, 4, 1) + term(1, 4, 1)
    assert(math.abs(got(0).getAs[Double]("raw") - exp1) < 1e-12)
    assert(math.abs(got(1).getAs[Double]("raw") - exp2) < 1e-12)
    // corpus plan: token stream never explodes; the top-10 is a
    // per-partition take, not a global sort
    val plan = physicalPlan(TextAnalysis.t25.fn(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("s17 RRF fuses ranks self-consistently and covers single-list candidates") {
    val rows = Similarity.s17.fn(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val dr = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val lr = if (r.isNullAt(2)) None else Some(r.getInt(2))
      assert(dr.nonEmpty || lr.nonEmpty)
      val exp = dr.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        lr.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      val expRounded = java.math.BigDecimal.valueOf(exp + 1e-9)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(r.getDouble(3) == expRounded, s"row $r expected $expRounded")
    }
    // fused scores are emitted in non-increasing order
    val scores = rows.map(_.getDouble(3)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("d16 winnowing catches any shared substring of length >= k+w-1") {
    import spark.implicits._
    // the winnowing guarantee: k=8, w=4 ⇒ an 11-char shared substring
    // yields at least one shared fingerprint (both docs select a min
    // over the same full window of its gram hashes)
    val shared = "qwertyuiopz" // 11 chars, appears in both docs
    val docs = Seq(
      (1L, s"aaaa bbbb $shared cccc dddd"),
      (2L, s"xxxx $shared yyyy zzzz wwww vvvv")).toDF("doc_id", "text")
    val hits = Dedup.winnowPairs(docs, minShared = 1, minOverlap = 0.0).collect()
    assert(hits.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L), hits.toSeq)
    // degenerate text: one repeated char has a single distinct gram
    // hash, so every window selects the same value — exactly ONE
    // fingerprint; a self-pair of two copies then shares it fully
    val degen = Seq((1L, "aaaaaaaaaaaaaaaa"), (2L, "aaaaaaaaaaaaaaaa"))
      .toDF("doc_id", "text")
    val dp = Dedup.winnowPairs(degen, minShared = 1, minOverlap = 0.0).collect()
    assert(dp.length == 1 && dp(0).getLong(2) == 1L && dp(0).getDouble(3) == 1.0,
      dp.toSeq)
    // pair generation never degenerates to a nested-loop join
    val plan = physicalPlan(Dedup.d16.fn(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("d16 winnow expression is bit-identical to the built-in array composition") {
    val docs = Tables(spark, sf).documents
    val ref = Dedup.winnowFpsReference(docs).orderBy("doc_id").collect()
    val neu = docs.filter(length(col("text")) >= 11)
      .select(col("doc_id"), Text.winnowFingerprints(col("text")).as("fps"))
      .orderBy("doc_id").collect()
    assert(ref.length == neu.length && ref.nonEmpty)
    ref.zip(neu).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getSeq[Long](1) == b.getSeq[Long](1), s"doc ${a.getLong(0)}")
    }
    // short strings (< k+w-1) yield an empty set on both paths
    import spark.implicits._
    val short = Seq((1L, "abcdefghij")).toDF("doc_id", "text") // 10 < 11
    assert(short.select(Text.winnowFingerprints(col("text"))).collect()(0)
      .getSeq[Long](0).isEmpty)
    // the d16 plan carries the expression, not a lambda chain
    val plan = physicalPlan(Dedup.d16.fn(spark, sf))
    assert(plan.contains("graft_winnow_fps"), plan)
  }

  test("minhash-sig expression is byte-identical to the HOF md5 composition") {
    import org.apache.spark.sql.graft.ColumnBridge
    val docs = Tables(spark, sf).documents
      .withColumn("shg",
        array_distinct(Text.shingles(Text.tokens(col("text")), 3)))
    def sigExpr = ColumnBridge.column(
      graft.functions.MinHashSigExpr(ColumnBridge.expression(col("shg")), 16))
    val composed = transform(sequence(lit(0), lit(15)),
      j => array_min(transform(col("shg"),
        sx => md5(concat(sx, lit("#"), j.cast("string"))))))
    val rows = docs.select(col("doc_id"), sigExpr.as("a"), composed.as("b"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}")
    }
    // empty shingle arrays: both paths yield 16 NULL lanes
    import spark.implicits._
    val empty = Seq((1L, Seq.empty[String])).toDF("doc_id", "shg")
    val e = empty.select(sigExpr.as("a"), composed.as("b")).collect()(0)
    assert(e.getSeq[String](0) == Seq.fill(16)(null) &&
      e.getSeq[String](1) == Seq.fill(16)(null))
    // null elements are skipped, exactly like array_min over md5(NULL)
    val withNull = Seq((1L, Seq("alpha beta gamma", null, "beta gamma delta")))
      .toDF("doc_id", "shg")
    val w = withNull.select(sigExpr.as("a"), composed.as("b")).collect()(0)
    assert(w.getSeq[String](0) == w.getSeq[String](1))
    assert(w.getSeq[String](0).forall(_ != null))
  }

  test("xx minhash-sig expression is bit-identical to the explode + grouped-min " +
      "composition it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), array_distinct(ColumnBridge.column(
        graft.functions.XxShinglesExpr(
          ColumnBridge.expression(Text.tokens(col("text"))), 3))).as("sh"))
    // the OLD Text.minhashSignatures shape, verbatim
    def composed(df: org.apache.spark.sql.DataFrame, n: Int) = {
      val exploded = df.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
      val mins = (0 until n).map(j => min(xxhash64(col("h"), lit(j))).as(s"m$j"))
      exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        .select(col("doc_id"), array((0 until n).map(j => col(s"m$j")): _*).as("sig"))
    }
    val a = Text.minhashSignatures(docs, "doc_id", col("sh"), 16)
      .orderBy("doc_id").collect()
    val b = composed(docs, 16).orderBy("doc_id").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.getSeq[Long](1) == y.getSeq[Long](1), s"doc ${x.getLong(0)}")
    }
    // empty shingle arrays vanish on BOTH paths (the explode semantics
    // the size filter preserves)
    val empty = Seq((1L, Seq.empty[Long]), (2L, Seq(7L, 9L))).toDF("doc_id", "sh")
    assert(Text.minhashSignatures(empty, "doc_id", col("sh"), 4)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(composed(empty, 4)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // null elements contribute the bare seed on both paths
    val withNull = Seq((1L, Seq[java.lang.Long](3L, null, 11L))).toDF("doc_id", "sh")
      .select(col("doc_id"), col("sh").cast("array<long>").as("sh"))
    val na = Text.minhashSignatures(withNull, "doc_id", col("sh"), 4).collect()(0)
    val nb = composed(withNull, 4).collect()(0)
    assert(na.getSeq[Long](1) == nb.getSeq[Long](1))
  }

  test("simhash mask expression is bit-identical to the explode + vote-sum " +
      "composition it replaced") {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    // the OLD Text.simhashMaskOf shape, verbatim
    def composed(df: org.apache.spark.sql.DataFrame) = {
      val exploded = df.select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
        .select(col("doc_id"), xxhash64(col("t")).as("h"))
      val sums = (0 until 64).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) =!= 0, 1).otherwise(-1)).as(s"c$i")
      }
      exploded.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), (0 until 64).map(i =>
            when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("fp"))
    }
    val a = Text.simhashMaskOf(docs, "doc_id", Text.tokens(col("text")))
      .orderBy("doc_id").collect()
    val b = composed(docs).orderBy("doc_id").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.getLong(1) == y.getLong(1), s"doc ${x.getLong(0)}")
    }
  }

  test("t26 BPE encode: greedy chain hand-traced, corpus totals re-aggregate t17") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t26").toString
    // round 1 adopts (a,a) c=4: "a a a a a" keeps even run offsets →
    // [a+a, a+a, a]; round 2's count-1 tie resolves lexicographically
    // to (a+a, a) → [a+a, a+a+a]; round 3 to (a+a, a+a+a) → one token.
    // doc 2 never merges: (b,b) loses every tie.
    Seq((1L, "a a a a a"), (2L, "b b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t26.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_before") == 5L &&
      got(1L).getAs[Long]("n_after") == 1L &&
      got(1L).getAs[Long]("tokens_ppm") == 200000L, s"${got(1L)}")
    assert(got(2L).getAs[Long]("n_before") == 2L &&
      got(2L).getAs[Long]("n_after") == 2L &&
      got(2L).getAs[Long]("tokens_ppm") == 1000000L, s"${got(2L)}")
    // corpus: per-doc n_after re-aggregates to t17's round-3 stream size
    val t17After = TextAnalysis.t17.fn(spark, sf).collect()
      .filter(_.getInt(0) == 3).map(_.getAs[Long]("tokens_after")).head
    val t26Sum = TextAnalysis.t26.fn(spark, sf)
      .agg(sum(col("n_after"))).collect()(0).getLong(0)
    assert(t17After == t26Sum, s"t17 $t17After vs t26 $t26Sum")
  }

  test("m09 average-hash: hand-packed mask, resize-invariant PNG rung, dup pairing") {
    import spark.implicits._
    // grays 0..63: mean floor 31 → bits 32..63 set = 0xFFFFFFFF00000000
    val ramp = Array.tabulate(64)(_.toLong)
    assert(Multimodal.averageHash(ramp) == 0xFFFFFFFF00000000L)
    // flat grays: nothing exceeds the mean, mask 0
    assert(Multimodal.averageHash(Array.fill(64)(7L)) == 0L)
    // REAL codec rung is RESIZE-invariant: a 2× pixel-replicated copy
    // of a gradient PNG box-filters to identical grays → hamming 0,
    // while the payload BYTES differ (the point vs d01's exact hash)
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, (x * 16 << 16) | (y * 16 << 8) | ((x + y) * 8))
    val big = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) big.setRGB(x, y, img.getRGB(x / 2, y / 2))
    def pngBytes(i: java.awt.image.BufferedImage) = {
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(i, "png", b); b.toByteArray
    }
    val (p1, p2) = (pngBytes(img), pngBytes(big))
    assert(!java.util.Arrays.equals(p1, p2))
    val g1 = Multimodal.pngGrays(p1).get
    val g2 = Multimodal.pngGrays(p2).get
    assert(g1.toSeq == g2.toSeq)
    assert(Multimodal.averageHash(g1) == Multimodal.averageHash(g2))
    // stub path through the full query: two identical 64+-char payloads
    // pair at hamming 0; an unrelated doc stays unpaired
    val dir = java.nio.file.Files.createTempDirectory("graft_m09").toString
    val txt = "the quick brown fox jumps over the lazy dog again and again ok"
    Seq((1L, txt + " padded to pass the length gate", "src0"),
      (2L, txt + " padded to pass the length gate", "src0"),
      (3L, ("z9" * 40) + "completely different payload bytes", "src1"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.m09.fn(spark, dir).collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L && got(0).getLong(1) == 2L
      && got(0).getInt(2) == 0, got.toSeq)
    // fingerprinting is one object batch; pairing never a nested loop
    val plan = physicalPlan(Multimodal.m09.fn(spark, sf))
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("t27 gopher rules: each rule rejects its crafted violator, stats exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t27").toString
    val long30 = (1 to 30).map(i => "word").mkString(" ")       // passes all
    val short = "the a word"                                    // n_words < 20
    val noStop = (1 to 30).map(_ => "word").mkString(" ")       // 0 stop hits
    val shortToks = ("the a " + (1 to 28).map(_ => "x").mkString(" ")) // >10% 1-char
    Seq((1L, "the a " + long30), (2L, short), (3L, noStop), (4L, shortToks))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t27.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Int]("passes") == 1, s"${got(1L)}")
    assert(got(1L).getAs[Long]("n_words") == 32L)
    assert(got(1L).getAs[Long]("stop_hits") == 2L)
    assert(got(2L).getAs[Int]("passes") == 0, s"${got(2L)}")
    assert(got(3L).getAs[Int]("passes") == 0 &&
      got(3L).getAs[Long]("stop_hits") == 0L, s"${got(3L)}")
    assert(got(4L).getAs[Int]("passes") == 0, s"${got(4L)}")
    // doc 1 mean word length: (3 + 1 + 30*4) / 32 = 3.875
    assert(math.abs(got(1L).getAs[Double]("mean_word_len") - 3.875) < 1e-6)
    // corpus: the flag re-derives from the emitted stat columns
    TextAnalysis.t27.fn(spark, sf).collect().foreach { r =>
      val nw = r.getAs[Long]("n_words")
      val expect = if (nw >= 20 && nw <= 100000 &&
        r.getAs[Double]("mean_word_len") >= 3 && r.getAs[Double]("mean_word_len") <= 10 &&
        r.getAs[Long]("stop_hits") >= 2 &&
        r.getAs[Double]("short_frac") <= 0.1 + 1e-9) 1 else 0
      assert(r.getAs[Int]("passes") == expect, r.toString)
    }
  }

  test("t28 Kneser-Ney: hand-computed two-doc model, stream width matches t14") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t28").toString
    // bigrams: (a,b)x2, (b,a)x1, (a,c)x1 -> c(a)=3 n1+(a.)=2, c(b)=1
    // n1+(b.)=1; n1+(.b)=1, n1+(.a)=1, n1+(.c)=1; bigram types nb=3
    Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t28.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val pBgivenA = (2 - 0.75 + 0.75 * 2 * (1.0 / 3)) / 3  // 0.58333
    val pAgivenB = (1 - 0.75 + 0.75 * 1 * (1.0 / 3)) / 1  // 0.5
    val pCgivenA = (1 - 0.75 + 0.75 * 2 * (1.0 / 3)) / 3  // 0.25
    val avg1 = (2 * math.log(pBgivenA) + math.log(pAgivenB)) / 3
    assert(got(1L).getAs[Long]("n_bigrams") == 3L)
    assert(math.abs(got(1L).getAs[Double]("avg_logprob") - avg1) < 1e-3, s"${got(1L)}")
    assert(math.abs(got(2L).getAs[Double]("avg_logprob") - math.log(pCgivenA)) < 1e-3)
    // ppl is exp(-avg) of the ROUNDED avg, exactly
    val r1 = got(1L)
    assert(math.abs(r1.getAs[Double]("ppl") -
      math.exp(-r1.getAs[Double]("avg_logprob"))) < 1e-3)
    // corpus: the KN and add-one models walk the SAME bigram stream
    val kn = TextAnalysis.t28.fn(spark, sf).select("doc_id", "n_bigrams")
    val t14 = TextAnalysis.t14.fn(spark, sf).select("doc_id", "n_bigrams")
    assert(kn.except(t14).count() == 0 && t14.except(kn).count() == 0)
  }

  test("s18 kNN label: majority adopted, vote ties resolve to the smaller label") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s18").toString
    // query 0 at [1,0]; sims order a>b>c>d>e; votes 7:2, 3:2, 5:1 ->
    // count tie between 7 and 3 resolves to label 3
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val rows = Seq(
      (0L, v(1, 0), 7),
      (1L, v(0.99, 0.01), 7), (2L, v(0.97, 0.03), 7),
      (3L, v(0.9, 0.1), 3), (4L, v(0.8, 0.2), 3),
      (5L, v(0.7, 0.3), 5), (6L, v(-1, 0), 9))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.s18.fn(spark, dir).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Int]("pred_label") == 3 &&
      got(0).getAs[Int]("true_label") == 7 &&
      got(0).getAs[Int]("correct") == 0, got(0).toString)
    // corpus: every probe row carries a majority-vote count within k
    Similarity.s18.fn(spark, sf).collect().foreach { r =>
      val c = r.getAs[Long]("votes")
      assert(c >= 1 && c <= 5, r.toString)
      assert((r.getAs[Int]("pred_label") == r.getAs[Int]("true_label")) ==
        (r.getAs[Int]("correct") == 1))
    }
  }

  test("s18 pair-budget gate: brute below, IVF route above, identical surface") {
    // default budget: sf pair space is far below -> brute (the oracled
    // exact path; this is what every correctness surface runs)
    // the IVF route is the one whose plan assigns corpus cells
    def run(pairBudget: Long): (Array[org.apache.spark.sql.Row], Boolean) = {
      val df = Similarity.s18Labels(spark, sf, pairBudget)
      (df.collect(), df.queryExecution.logical.toString.contains("cell#"))
    }
    val brute = Similarity.s18.fn(spark, sf).collect()
    assert(brute.nonEmpty)
    // a pinned brute route gives the same frame as the default gate
    val (pinned, pinnedIvf) = run(Long.MaxValue)
    assert(!pinnedIvf && pinned.sameElements(brute))
    // force the scale route on the same data: schema identical, one
    // prediction per query, votes within k — the surface a caller
    // sees does not change, only the candidate pruning
    val (ivf, forcedIvf) = run(0L)
    assert(forcedIvf, "pairBudget 0 must take the IVF route")
    assert(ivf.map(_.schema.fieldNames.toSeq).distinct.toSeq ==
      brute.map(_.schema.fieldNames.toSeq).distinct.toSeq)
    assert(ivf.map(_.getAs[Long]("query_id")).toSeq ==
      brute.map(_.getAs[Long]("query_id")).toSeq,
      "every probe must still get exactly one prediction")
    ivf.foreach(r => assert(r.getAs[Long]("votes") >= 1 &&
      r.getAs[Long]("votes") <= 5, r.toString))
    // pruned candidates: IVF agreement with brute is high but not
    // required to be total — cells that miss a true neighbor are the
    // documented trade; on this data the 64-cell codebook over ~490
    // corpus vectors keeps most neighborhoods intact
    val bruteBy = brute.map(r =>
      r.getAs[Long]("query_id") -> r.getAs[Int]("pred_label")).toMap
    val agree = ivf.count(r =>
      bruteBy(r.getAs[Long]("query_id")) == r.getAs[Int]("pred_label"))
    assert(agree * 2 >= ivf.length,
      s"IVF route lost the plot: $agree/${ivf.length} agree with brute")
    // the auto gate itself: a tiny budget must pick the IVF route
    val (routed, routedIvf) = run(1L)
    assert(routedIvf)
    assert(routed.map(_.getAs[Long]("query_id")).toSeq ==
      ivf.map(_.getAs[Long]("query_id")).toSeq)
  }

  test("m10 silence trim: crafted quiet-loud-quiet payload trims both ends") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_m10").toString
    val quiet = "\u0001\u0000" * 32   // 32 samples of amplitude 1
    val loud = "A\u0000" * 32          // 32 samples of amplitude 65
    Seq((0L, quiet + loud + quiet, "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.m10.fn(spark, dir).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_windows") == 3L && r.getAs[Long]("lead_sil") == 1L &&
      r.getAs[Long]("trail_sil") == 1L && r.getAs[Long]("kept_windows") == 1L &&
      r.getAs[Long]("kept_energy") == 65L * 65L * 32L, r.toString)
    // corpus: spans re-assemble and kept energy never exceeds m05's total
    val m05 = Multimodal.m05.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("total_energy")).toMap
    Multimodal.m10.fn(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("lead_sil") + r.getAs[Long]("trail_sil") +
        r.getAs[Long]("kept_windows") == r.getAs[Long]("n_windows"), r.toString)
      assert(r.getAs[Long]("kept_energy") <= m05(r.getLong(0)), r.toString)
    }
  }

  test("t29 lexical diversity: hand-computed Yule's K, boilerplate scores high") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t29").toString
    // doc 1: "a a a b" -> N=4 V=2 V1=1; sum m^2 = 9+1 = 10;
    // K = 1e4*(10-4)/16 = 3750. doc 2 all-distinct -> K = 0, TTR = 1.
    Seq((1L, "a a a b"), (2L, "x y z")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t29.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_tokens") == 4L &&
      got(1L).getAs[Long]("n_types") == 2L &&
      got(1L).getAs[Long]("hapax") == 1L &&
      got(1L).getAs[Double]("ttr") == 0.5 &&
      got(1L).getAs[Double]("yule_k") == 3750.0, s"${got(1L)}")
    assert(got(2L).getAs[Double]("ttr") == 1.0 &&
      got(2L).getAs[Double]("yule_k") == 0.0 &&
      got(2L).getAs[Long]("hapax") == 3L, s"${got(2L)}")
    // corpus invariants + plan: per-row map kernel, no shuffle before sort
    TextAnalysis.t29.fn(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("hapax") <= r.getAs[Long]("n_types"))
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Double]("yule_k") >= 0.0)
    }
    val plan = physicalPlan(TextAnalysis.t29.fn(spark, sf))
    assert(!plan.contains("HashAggregate"), plan) // stats never leave the row
  }

  test("d17 symspell: ed<=2 neighbors found via shared deletions, none missed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d17").toString
    // tabel~table: transposition = 2 edits; cat~cart: 1 insertion;
    // dog is isolated (every pair distance > 2 except none)
    Seq((1L, "table tabel cat cart dog"), (2L, "table cat dog zebra"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.d17.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Int]("dist")).toMap
    assert(got.contains(("tabel", "table")) && got(("tabel", "table")) == 2)
    assert(got.contains(("cart", "cat")) && got(("cart", "cat")) == 1)
    assert(!got.keys.exists { case (a, b) => a == "dog" || b == "dog" }, got.toString)
    // completeness oracle: brute-force all-pairs levenshtein on the vocab
    val vocab = Seq("table", "tabel", "cat", "cart", "dog", "zebra")
    val expect = (for {
      a <- vocab; b <- vocab if a < b
      d = com(a, b) if d <= 2
    } yield (a, b)).toSet
    assert(got.keySet == expect, s"got ${got.keySet} expect $expect")
    // corpus: every emitted pair within the declared radius
    Dedup.d17.fn(spark, sf).collect().foreach { r =>
      assert(r.getAs[Int]("dist") >= 1 && r.getAs[Int]("dist") <= 2, r.toString)
    }
  }

  /** Reference Levenshtein (textbook DP) for the d17 completeness check. */
  private def com(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("t30 OOV rate: budget boundary pinned by the tie-broken rank") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t30").toString
    // 21 tokens, all count 1 -> the (count DESC, token) rank keeps the
    // 20 alphabetically-first; "u" alone falls outside the budget
    val alpha = ('a' to 't').map(_.toString).mkString(" ")
    Seq((1L, alpha), (2L, "a u")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t30.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_oov") == 0L &&
      got(1L).getAs[Long]("oov_ppm") == 0L, s"${got(1L)}")
    assert(got(2L).getAs[Long]("n_tokens") == 2L &&
      got(2L).getAs[Long]("n_oov") == 1L &&
      got(2L).getAs[Long]("oov_ppm") == 500000L, s"${got(2L)}")
    // corpus: ppm is exactly the floor ratio of the emitted integers
    TextAnalysis.t30.fn(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("oov_ppm") ==
        r.getAs[Long]("n_oov") * 1000000L / r.getAs[Long]("n_tokens"), r.toString)
    }
  }

  test("s19 nearest centroid: crafted separable labels, probes held out of training") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s19").toString
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // training: label 0 clusters at [1,0], label 1 at [0,1]. probe 0
    // sits NEAR label 0's centroid but carries label 1 (a mislabeled
    // probe -> pred 0, correct 0); probe 50 is clean label 1.
    val rows = Seq(
      (0L, v(0.9, 0.1), 1), (50L, v(0.05, 1.0), 1),
      (1L, v(1, 0), 0), (2L, v(0.95, 0.05), 0),
      (3L, v(0, 1), 1), (4L, v(0.05, 0.95), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.s19.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getAs[Int]("pred_label") == 0 &&
      got(0L).getAs[Int]("correct") == 0, s"${got(0L)}")
    assert(got(50L).getAs[Int]("pred_label") == 1 &&
      got(50L).getAs[Int]("correct") == 1, s"${got(50L)}")
    // corpus: predictions stay in the label domain; correct consistent
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label").distinct().collect().map(_.getInt(0)).toSet
    Similarity.s19.fn(spark, sf).collect().foreach { r =>
      assert(labels.contains(r.getAs[Int]("pred_label")), r.toString)
      assert((r.getAs[Int]("pred_label") == r.getAs[Int]("true_label")) ==
        (r.getAs[Int]("correct") == 1))
    }
  }

  test("r7c plan shapes: d17 hash-joined, s18 bounded top-k, t29/t30 join-free") {
    val d17p = physicalPlan(Dedup.d17.fn(spark, sf))
    assert(!d17p.contains("BroadcastNestedLoopJoin") &&
      !d17p.contains("CartesianProduct"), d17p) // variant join stays equi
    val s18p = physicalPlan(Similarity.s18.fn(spark, sf))
    assert(s18p.contains("graft_topk"), s18p) // bounded agg, no corpus window
    val t30p = physicalPlan(TextAnalysis.t30.fn(spark, sf))
    assert(!t30p.contains("Join"), t30p) // vocab inlined as a literal set
    val t29p = physicalPlan(TextAnalysis.t29.fn(spark, sf))
    assert(!t29p.contains("Join") && !t29p.contains("Generate"), t29p)
  }

  test("m11 keyframes: shots split at the adaptive cut, brightest-earliest wins") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_m11").toString
    // frames: quiet, quiet, loud, loud -> one cut at frame 2; shot 0
    // elects frame 0 (luma tie -> earliest), shot 1 elects frame 2
    val quiet = "\u0001" * 64
    val loud = "z" * 64
    Seq((0L, quiet + quiet + loud + loud, "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.m11.fn(spark, dir).collect()
    assert(got.length == 2, got.mkString(";"))
    val s0 = got(0); val s1 = got(1)
    assert(s0.getAs[Int]("shot") == 0 && s0.getAs[Int]("start_frame") == 0 &&
      s0.getAs[Long]("n_frames") == 2L && s0.getAs[Int]("key_frame") == 0 &&
      s0.getAs[Long]("key_luma") == 64L, s0.toString)
    assert(s1.getAs[Int]("shot") == 1 && s1.getAs[Int]("start_frame") == 2 &&
      s1.getAs[Int]("key_frame") == 2 &&
      s1.getAs[Long]("key_luma") == 122L * 64, s1.toString)
    // corpus: shots re-assemble m06's frame counts; keyframe inside shot
    val m06n = Multimodal.m06.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("n_frames").toLong).toMap
    val byDoc = Multimodal.m11.fn(spark, sf).collect().groupBy(_.getLong(0))
    byDoc.foreach { case (doc, shots) =>
      assert(shots.map(_.getAs[Long]("n_frames")).sum == m06n(doc))
      shots.foreach { r =>
        val kf = r.getAs[Int]("key_frame")
        assert(kf >= r.getAs[Int]("start_frame") &&
          kf < r.getAs[Int]("start_frame") + r.getAs[Long]("n_frames"), r.toString)
      }
    }
  }

  test("s20 confusion matrix: cells tie out to s19's predictions, rows sum to 1") {
    val preds = Similarity.s19.fn(spark, sf).collect()
    val cells = Similarity.s20.fn(spark, sf).collect()
    assert(cells.map(_.getAs[Long]("n")).sum == preds.length)
    // diagonal counts == s19's correct flags per label
    val correctByLabel = preds.filter(_.getAs[Int]("correct") == 1)
      .groupBy(_.getAs[Int]("true_label")).view.mapValues(_.length.toLong).toMap
    cells.filter(r => r.getAs[Int]("true_label") == r.getAs[Int]("pred_label"))
      .foreach { r =>
        assert(r.getAs[Long]("n") == correctByLabel(r.getAs[Int]("true_label")))
      }
    // each true-label row's shares sum to ~1 (per-cell rounding only)
    cells.groupBy(_.getAs[Int]("true_label")).foreach { case (_, rs) =>
      val s = rs.map(_.getAs[Double]("row_share")).sum
      assert(math.abs(s - 1.0) < 1e-3 * rs.length, rs.mkString(";"))
    }
  }

  test("t31 phrase hits: positions exact, sub-2-token docs safe, corpus re-derived") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t31").toString
    Seq((1L, "spark hash spark hash"), (2L, "hash spark"), (3L, "spark"),
        (4L, "a spark hash b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t31.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 4L), got.toString)
    assert(got(1L).getAs[Long]("n_hits") == 2L &&
      got(1L).getAs[Long]("first_pos") == 1L, s"${got(1L)}")
    assert(got(4L).getAs[Long]("n_hits") == 1L &&
      got(4L).getAs[Long]("first_pos") == 2L, s"${got(4L)}")
    // corpus: driver-side re-derive of every doc's hit count
    val expect = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        r.getLong(0) -> tk.indices.dropRight(1)
          .count(i => tk(i) == "spark" && tk(i + 1) == "hash").toLong }
      .filter(_._2 >= 1).toMap
    val got2 = TextAnalysis.t31.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hits")).toMap
    assert(got2 == expect, s"diff ${(got2.toSet diff expect.toSet).take(3)}")
  }

  test("s21 recall curve: @10 row agrees with s08, curve monotone in hits") {
    val s08row = Similarity.s08.fn(spark, sf).collect()(0)
    val curve = Similarity.s21.fn(spark, sf).collect()
      .map(r => r.getAs[Int]("k") -> r).toMap
    assert(curve.keySet == Set(1, 5, 10))
    assert(curve(10).getAs[Long]("n_hits") == s08row.getAs[Long]("n_hits"),
      s"s21 ${curve(10)} vs s08 $s08row")
    // hits can only grow with k; recall stays a valid fraction
    assert(curve(1).getAs[Long]("n_hits") <= curve(5).getAs[Long]("n_hits"))
    assert(curve(5).getAs[Long]("n_hits") <= curve(10).getAs[Long]("n_hits"))
    curve.values.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, r.toString)
    }
  }

  test("t32 source similarity: identical sources score 1, disjoint score 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t32").toString
    Seq((1L, "a b c", "sA"), (2L, "a b c", "sB"), (3L, "x y z", "sC"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t32.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got(("sA", "sB")).getAs[Double]("cosine") == 1.0)
    assert(!got.contains(("sA", "sC"))) // zero shared tokens -> no pair row
    // corpus: all pairs bounded, symmetric-complete over the 20 sources
    val rows = TextAnalysis.t32.fn(spark, sf).collect()
    assert(rows.length == 20 * 19 / 2, rows.length.toString)
    rows.foreach { r =>
      val c = r.getAs[Double]("cosine")
      assert(c >= 0.0 && c <= 1.0 + 1e-9, r.toString)
      assert(r.getString(0) < r.getString(1), r.toString)
    }
  }

  test("q42 gini: equal spends score 0, one-whale segment near 1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q42").toString
    // type 'eq': 4 users x 25 -> G = 0; type 'wh': one user holds all
    // the mass among 4 users -> G = (n-1)/n = 0.75
    val events =
      (1 to 4).map(u => (10L + u, u * 1000000000L, u.toLong, "eq", 25.0, "{}")) ++
      Seq((20L, 1000000000L, 1L, "wh", 100.0, "{}")) ++
      (2 to 4).map(u => (20L + u, u * 1000000000L, u.toLong, "wh", 0.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Relational.q42.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("eq").getAs[Double]("gini") == 0.0, s"${got("eq")}")
    assert(got("wh").getAs[Double]("gini") == 0.75, s"${got("wh")}")
    // corpus: gini strictly inside [0, 1)
    graft.operators.Relational.q42.fn(spark, sf).collect().foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, r.toString)
    }
  }
}
