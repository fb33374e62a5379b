package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-pipeline operators (SURVEY.md §2.C).
  * Everything is built from codegen'd built-ins / higher-order
  * functions — no UDFs, so the hot path stays inside whole-stage
  * codegen and scales per-row with no serialization boundary.
  */
object Text {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish regex token stream: letter runs, digit runs, single
    * punctuation marks. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Word n-gram shingles as strings ("w1 w2 w3"), short docs ⇒ empty
    * array. Backed by the codegen'd [[WordShinglesExpr]] — the built-in
    * `transform`+`concat_ws` composition runs interpreted per shingle
    * and dominated the near-dup pipelines' shingling stage. */
  def shingles(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(WordShinglesExpr(ColumnBridge.expression(toks), n))
  }

  /** Per-doc char stats struct (n_chars, n_distinct, entropy) — the
    * codegen'd one-pass [[CharEntropyStatsExpr]] (t24's hot path). */
  def charEntropyStats(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(CharEntropyStatsExpr(ColumnBridge.expression(text)))
  }

  /** Per-doc token→count map — the codegen'd one-pass
    * [[TokenCountsExpr]] (t23's per-row half). */
  def tokenCounts(toks: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(TokenCountsExpr(ColumnBridge.expression(toks)))
  }

  /** Per-doc winnowing fingerprint array — the codegen'd one-pass
    * [[WinnowFingerprintsExpr]] (d16's per-row half). */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(WinnowFingerprintsExpr(ColumnBridge.expression(text), k, w))
  }

  /** Count of tokens belonging to `set`. */
  def countIn(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(set)))

  /** Polynomial rolling hash over characters: h = fold(31·h + code) mod
    * 10^15+37 — the document fingerprint (SURVEY §2 t04). */
  val RollMod = 1000000000000037L
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % RollMod)

  /** MinHash signatures as a one-pass per-row projection: each row's
    * shingle array goes through [[XxMinhashSigExpr]], which hashes each
    * shingle once and keeps `numHashes` minima of cheap long re-hashes,
    * inside whole-stage codegen. There is no explode, no aggregate and
    * no shuffle, so the input must hold ONE row per id: rows sharing an
    * id are not merged, each gets its own signature. Rows with an empty
    * shingle array are dropped.
    *
    * Input: (id, shingleArr); output: (id, sig: array<bigint>[numHashes],
    * then the `carry` columns).
    */
  def minhashSignatures(docs: org.apache.spark.sql.DataFrame, idCol: String,
      shingleArr: Column, numHashes: Int = 64,
      carry: Seq[Column] = Nil): org.apache.spark.sql.DataFrame = {
    // One-pass per-row projection ([[XxMinhashSigExpr]], bit-identical
    // to the old explode + min(xxhash64(h, j)) grouped agg — spec-
    // pinned): no row multiplication, no hash aggregate, no exchange.
    // The size filter preserves the explode semantics (a doc with no
    // shingles vanished from the grouped result). Callers pass one row
    // per id, which the old groupBy collapsed and this shape assumes.
    // `carry` columns ride the same projection — a caller that needs
    // the signature NEXT TO other per-doc columns (d02's fixture keeps
    // the shingle array) must not join the projection back onto its
    // own input (r18: that self-join cost two exchanges + sorts).
    import org.apache.spark.sql.graft.ColumnBridge
    docs.filter(size(shingleArr) > 0)
      .select(col(idCol) +: ColumnBridge.column(XxMinhashSigExpr(
        ColumnBridge.expression(shingleArr), numHashes)).as("sig") +: carry: _*)
  }

  /** SimHash sign-bit fingerprints, same explode + grouped-agg shape:
    * bit i = sign of Σ(±1 from bit i of xxhash64(token)).
    * Input: (id, toks); output: (id, bits: array<int>[bits]). */
  def simhashBitsOf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      toks: Column, bits: Int = 64): org.apache.spark.sql.DataFrame = {
    val exploded = docs.select(col(idCol), explode(toks).as("t"))
      .select(col(idCol), xxhash64(col("t")).as("h"))
    val sums = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) =!= 0, 1).otherwise(-1)).as(s"c$i")
    }
    exploded.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol), array((0 until bits).map(i =>
        when(col(s"c$i") > 0, lit(1)).otherwise(lit(0))): _*).as("bits"))
  }

  /** Hamming distance between two equal-length bit arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x =!= y, 1).otherwise(0)),
      lit(0), (acc, d) => acc + d)

  /** SimHash fingerprint PACKED into one 64-bit mask (bit i = sign of
    * bit i's ±1 vote sum — identical votes to [[simhashBitsOf]], 8
    * bytes per doc instead of a 64-int array). Hamming distance
    * becomes `bit_count(a ^ b)` — one codegen'd instruction pair on
    * both engines instead of a 64-element array walk, and a simhash
    * index (d03's fixture) shrinks ~10×. */
  def simhashMaskOf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      toks: Column): org.apache.spark.sql.DataFrame = {
    // One-pass per-row projection ([[SimhashMaskExpr]], bit-identical
    // to the old explode + 64 conditional-sum grouped agg — spec-
    // pinned): no row multiplication, no hash aggregate, no exchange.
    // The size filter preserves the explode semantics (a doc with no
    // tokens vanished from the grouped result). Callers pass one row
    // per id, which the old groupBy collapsed and this shape assumes.
    import org.apache.spark.sql.graft.ColumnBridge
    docs.filter(size(toks) > 0)
      .select(col(idCol), ColumnBridge.column(SimhashMaskExpr(
        ColumnBridge.expression(toks))).as("fp"))
  }
}
