package graft.operators

import graft.functions.Text
import graft.{GraftConf, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** C-family text analysis (SURVEY.md §2 t01–t04): token counting,
  * quality scoring, language ID, fingerprinting — all pure Column
  * expressions over `documents`, embarrassingly parallel at 100 TB
  * (no shuffle at all until the final ORDER BY for oracle parity).
  */
object TextAnalysis {

  private val stopwords = Seq("a", "the")

  /** Broadcast gate for corpus-derived vocabulary tables (t16): a vocab
    * row is a token string + two longs (~50 bytes serialized), so 1M
    * rows ≈ 50 MB — comfortably broadcastable; beyond that the shuffle
    * join is the right physical plan. */
  private[graft] val BroadcastVocabRows = 1000000L

  val t01 = QueryDef(
    "t01_token_count",
    """SELECT doc_id,
      |  CAST(LENGTH(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_ws_tokens,
      |  CAST(LENGTH(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).documents
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).as("n_ws_tokens"),
        size(Text.regexTokens(col("text"))).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  val t02 = QueryDef(
    "t02_quality_score",
    """WITH t AS (
      |  SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS n_chars_m,
      |    STRING_SPLIT(text, ' ') AS toks
      |  FROM documents)
      |SELECT doc_id, n_chars_m,
      |  CAST(LEN(toks) AS INTEGER) AS n_tokens,
      |  ROUND(CAST(LEN(LIST_FILTER(toks, x -> x IN ('a', 'the'))) AS DOUBLE) / LEN(toks) + 1e-9, 4) AS stop_ratio,
      |  ROUND(LEAST(LEN(toks) / 200.0, 1.0) * 0.4 +
      |        (1.0 - CAST(LEN(LIST_FILTER(toks, x -> x IN ('a', 'the'))) AS DOUBLE) / LEN(toks)) * 0.6 + 1e-9, 4) AS quality
      |FROM t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    val nToks = size(toks)
    val nStop = Text.countIn(toks, stopwords)
    val stopRatio = nStop.cast("double") / nToks
    Tables(spark, dir).documents
      .select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        nToks.as("n_tokens"),
        graft.QueryDef.roundBiased(stopRatio, 4).as("stop_ratio"),
        graft.QueryDef.roundBiased(
          least(nToks / lit(200.0), lit(1.0)) * 0.4 + (lit(1.0) - stopRatio) * 0.6, 4)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Marker-token language ID. The synthetic corpus is english-ish, so
    * the interesting part is the deterministic argmax plumbing — the
    * marker lists are the pluggable heuristic. */
  val t03 = QueryDef(
    "t03_langid",
    """WITH t AS (
      |  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)
      |SELECT doc_id,
      |  CAST(LEN(LIST_FILTER(toks, x -> x IN ('the', 'a', 'is'))) AS INTEGER) AS en_hits,
      |  CAST(LEN(LIST_FILTER(toks, x -> x IN ('le', 'la', 'et'))) AS INTEGER) AS fr_hits,
      |  CAST(LEN(LIST_FILTER(toks, x -> x IN ('el', 'los', 'y'))) AS INTEGER) AS es_hits,
      |  CASE
      |    WHEN LEN(LIST_FILTER(toks, x -> x IN ('the', 'a', 'is'))) >= LEN(LIST_FILTER(toks, x -> x IN ('le', 'la', 'et')))
      |     AND LEN(LIST_FILTER(toks, x -> x IN ('the', 'a', 'is'))) >= LEN(LIST_FILTER(toks, x -> x IN ('el', 'los', 'y')))
      |     AND LEN(LIST_FILTER(toks, x -> x IN ('the', 'a', 'is'))) > 0 THEN 'en'
      |    WHEN LEN(LIST_FILTER(toks, x -> x IN ('le', 'la', 'et'))) >= LEN(LIST_FILTER(toks, x -> x IN ('el', 'los', 'y')))
      |     AND LEN(LIST_FILTER(toks, x -> x IN ('le', 'la', 'et'))) > 0 THEN 'fr'
      |    WHEN LEN(LIST_FILTER(toks, x -> x IN ('el', 'los', 'y'))) > 0 THEN 'es'
      |    ELSE 'und' END AS predicted
      |FROM t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val toks = Text.tokens(col("text"))
    val en = Text.countIn(toks, Seq("the", "a", "is"))
    val fr = Text.countIn(toks, Seq("le", "la", "et"))
    val es = Text.countIn(toks, Seq("el", "los", "y"))
    Tables(spark, dir).documents
      .select(col("doc_id"),
        en.as("en_hits"), fr.as("fr_hits"), es.as("es_hits"),
        when(en >= fr && en >= es && en > 0, "en")
          .when(fr >= es && fr > 0, "fr")
          .when(es > 0, "es")
          .otherwise("und").as("predicted"))
      .orderBy(col("doc_id"))
  }

  val t04 = QueryDef(
    "t04_fingerprint",
    """SELECT doc_id, MD5(text) AS content_md5,
      |  LIST_REDUCE(
      |    LIST_PREPEND(CAST(0 AS BIGINT),
      |      LIST_TRANSFORM(STRING_SPLIT(text, ''), c -> CAST(ASCII(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000000000037) AS rolling_fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.functions.RollingFingerprintExpr.register(spark)
    Tables(spark, dir).documents
      .select(col("doc_id"),
        md5(col("text")).as("content_md5"),
        expr("graft_rolling_fp(text)").as("rolling_fp"))
      .orderBy(col("doc_id"))
  }

  /** t05: PII scrubbing — the redaction stage every training-data
    * curation pipeline runs before tokenization: emails, URLs, then
    * residual numbers are replaced with typed placeholders (ORDER
    * matters — emails/URLs contain digits). The corpus has no PII, so
    * the test text is synthesized from event columns (the i25 pattern)
    * and the DuckDB oracle applies the identical RE2-compatible
    * patterns with the 'g' flag, proving removal byte-for-byte.
    * Pure codegen'd regexp_replace chain — zero shuffle. */
  val t05 = QueryDef(
    "t05_pii_scrub",
    """WITH raw AS (
      |  SELECT event_id,
      |    'contact u' || user_id || '@mail.example.com visit https://ex.com/p/'
      |      || event_id || ' amount ' || value || ' end' AS txt
      |  FROM events WHERE event_id % 20 = 0)
      |SELECT event_id,
      |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(txt,
      |    '[a-z0-9._]+@[a-z.]+', '<EMAIL>', 'g'),
      |    'https?://[^ ]+', '<URL>', 'g'),
      |    '[0-9]+(\.[0-9]+)?', '<NUM>', 'g') AS scrubbed,
      |  LEN(REGEXP_EXTRACT_ALL(txt, '[a-z0-9._]+@[a-z.]+')) AS n_emails,
      |  LEN(REGEXP_EXTRACT_ALL(txt, 'https?://[^ ]+')) AS n_urls
      |FROM raw ORDER BY event_id""".stripMargin) { (spark, dir) =>
    val txt = concat(
      lit("contact u"), col("user_id"), lit("@mail.example.com visit https://ex.com/p/"),
      col("event_id"), lit(" amount "), col("value"), lit(" end"))
    Tables(spark, dir).events
      .filter(col("event_id") % 20 === 0)
      .select(col("event_id"), txt.as("txt"))
      .select(col("event_id"),
        regexp_replace(regexp_replace(regexp_replace(col("txt"),
          "[a-z0-9._]+@[a-z.]+", "<EMAIL>"),
          "https?://[^ ]+", "<URL>"),
          "[0-9]+(\\.[0-9]+)?", "<NUM>").as("scrubbed"),
        size(regexp_extract_all(col("txt"), lit("[a-z0-9._]+@[a-z.]+"), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("txt"), lit("https?://[^ ]+"), lit(0))).as("n_urls"))
      .orderBy(col("event_id"))
  }

  /** t06: vocabulary statistics — global term frequency + document
    * frequency, top 100 by tf with a deterministic token tie-break.
    * The canonical 100 TB wordcount: explode + ONE partially-aggregated
    * shuffle keyed by token (map-side combine collapses each
    * partition's repeats before anything moves), then a second tiny
    * shuffle for the exact document frequency. At corpus scale the
    * exact distinct-doc count swaps for approx_count_distinct (q10's
    * pattern) without touching the rest of the plan. */
  val t06 = QueryDef(
    "t06_vocab_topk",
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tk FROM documents),
      |f AS (
      |  SELECT tk, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      |  FROM tok WHERE tk <> '' GROUP BY tk)
      |SELECT tk, tf, df FROM f
      |ORDER BY tf DESC, tk LIMIT 100""".stripMargin) { (spark, dir) =>
    // r7: the token stream never exists as rows — the per-row
    // TokenCountsExpr map explodes to DISTINCT (token, count) pairs per
    // doc (t23's shape), so tf = Σ count and df = COUNT(*) come from
    // ONE vocab-keyed partial agg; the old explode shuffled the full
    // occurrence stream and paid countDistinct's two-phase expand on
    // top (the exact per-token feeder the t24 scale note flags)
    Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(explode(Text.tokenCounts(
          filter(split(lower(col("text")), " "), t => t =!= "")))
        .as(Seq("tk", "cnt")))
      .groupBy(col("tk"))
      .agg(sum(col("cnt")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("tk"))
      .limit(100)
  }

  /** t07: domain-mixing weights — per-source token mass and the
    * up/down-sampling weight that would equalize the mixture (target
    * share / actual share), the data-mixing stage in front of training.
    * One partial-agg shuffle on source; the totals are a broadcast
    * 1-row cross join. */
  val t07 = QueryDef(
    "t07_domain_mix",
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(LENGTH(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |               COUNT(*) AS n_sources FROM s)
      |SELECT source, n_docs, n_tokens,
      |  ROUND(n_tokens * 1.0 / total_tokens + 1e-9, 4) AS token_share,
      |  ROUND((1.0 / n_sources) / (n_tokens * 1.0 / total_tokens) + 1e-9, 4) AS mix_weight
      |FROM s, tot ORDER BY source""".stripMargin) { (spark, dir) =>
    // persisted: `totals` re-aggregates from this #sources-row result —
    // without the cache the totals branch would re-SCAN the full corpus
    val perSource = Tables(spark, dir).documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens(col("text")))).as("n_tokens"))
      .persist()
    val totals = perSource
      .agg(sum(col("n_tokens")).as("total_tokens"), count(lit(1)).as("n_sources"))
    val share = col("n_tokens") * lit(1.0) / col("total_tokens")
    perSource.join(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.QueryDef.roundBiased(share, 4).as("token_share"),
        graft.QueryDef.roundBiased((lit(1.0) / col("n_sources")) / share, 4).as("mix_weight"))
      .orderBy(col("source"))
  }

  /** t08: tf-idf keyword extraction — top 3 terms per document by
    * tf·ln(N/df), deterministic tie-break on the term. The full-corpus
    * plan: per-doc term counts (one shuffle on (doc, term), map-side
    * combined), document frequencies re-aggregated from the tf table
    * (vocab-sized, broadcastable at 100 TB), a broadcast 1-row corpus
    * count, and a per-doc rank window (one shuffle on doc). tf-idf is
    * never negative (df ≤ N ⇒ ln ≥ 0), so no -0.0 normalization is
    * needed. */
  val t08 = QueryDef(
    "t08_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tk FROM documents),
      |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok WHERE tk <> ''
      |       GROUP BY doc_id, tk),
      |df AS (SELECT tk, COUNT(*) AS df FROM tf GROUP BY tk),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, tk, tf, df,
      |  ROUND(tf * LN(n_docs * 1.0 / df) + 1e-9, 4) AS tfidf
      |FROM (
      |  SELECT tf.doc_id, tf.tk, tf.tf, df.df, n.n_docs,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |                       ORDER BY tf.tf * LN(n.n_docs * 1.0 / df.df) DESC, tf.tk) AS rn
      |  FROM tf JOIN df USING (tk) CROSS JOIN n) t
      |WHERE rn <= 3
      |ORDER BY doc_id, tk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    // persisted: df and the scored join both consume tf — without the
    // cache the df branch re-explodes and re-aggregates the corpus.
    // (defaults to MEMORY_AND_DISK, so a corpus-scale tf spills rather
    // than OOMs; at 100 TB you'd materialize tf once as a table — the
    // cache-vs-recompute call is the caller's, recomputing costs a
    // second full explode+agg pass)
    val tf = Tables.spread(docs, "doc_id")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tk"))
      .filter(col("tk") =!= "")
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val score = col("tf") * log(col("n_docs") * lit(1.0) / col("df"))
    tf.join(df, "tk").join(broadcast(n))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(score.desc, col("tk"))))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tk"), col("tf"), col("df"),
        graft.QueryDef.roundBiased(score, 4).as("tfidf"))
      .orderBy(col("doc_id"), col("tk"))
  }

  /** t09: repetition-based quality rules (the Gopher/C4 family): the
    * token share of the single most frequent bigram and the fraction
    * of trigram occurrences that are repeats. Boilerplate and
    * SEO-spam pages score high on both; a doc is kept only when both
    * stay under threshold. Plan: two explode→count passes keyed by
    * (doc, gram) — partial-agg combined, key cardinality ≈ corpus
    * gram count so no hot keys — then per-doc reductions joined back.
    * Shingling runs in the codegen'd [[graft.functions.WordShinglesExpr]].
    * Embarrassingly parallel at 100 TB: every shuffle key contains
    * doc_id, so skew is bounded by the longest single document. */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    // the metrics only depend on each document's OWN tokens, so they
    // are computed map-side in one generated pass per row
    // ([[graft.functions.RepetitionStatsExpr]]: per-row gram count
    // tables) — the gram stream (≈2 rows per corpus token) never
    // exists as rows and nothing shuffles. Earlier shape for the
    // record: explode both widths → groupBy(doc_id, gram) →
    // groupBy(doc_id), i.e. two shuffles of the whole gram stream.
    val st = ColumnBridge.column(graft.functions.RepetitionStatsExpr(
      ColumnBridge.expression(Text.tokens(col("text")))))
    docs
      // docs too short for a trigram match the oracle's inner-join drop.
      // The guard is tri_total > 0 ⇔ size(tokens) > 2 — phrased on the
      // cheap token count so the pushed-down Filter never duplicates
      // the stats expression below the Project
      .filter(size(Text.tokens(col("text"))) > 2)
      .select(col("doc_id"), st.as("st"))
      // n_tokens falls out of the trigram population (len = tri_total + 2)
      .select(col("doc_id"), (col("st.tri_total") + 2).cast("int").as("n_tokens"),
        col("st.top2_cnt").as("top2_cnt"), col("st.dup3_occ").as("dup3_occ"),
        col("st.tri_total").as("tri_total"))
  }

  /** Rounded repetition ratios + keep flag over [[repetitionMetrics]]
    * columns — shared verbatim by t09 and p02 so their oracle gates
    * can't drift apart. */
  val top2Share: org.apache.spark.sql.Column =
    graft.QueryDef.roundBiased(col("top2_cnt") * 2.0 / col("n_tokens"), 4)
  val dup3Frac: org.apache.spark.sql.Column =
    graft.QueryDef.roundBiased(col("dup3_occ").cast("double") / col("tri_total"), 4)
  val repKeep: org.apache.spark.sql.Column =
    when(top2Share <= 0.10 && dup3Frac <= 0.10, 1).otherwise(0)

  val t09 = QueryDef(
    "t09_repetition",
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |n AS (SELECT doc_id, CAST(LEN(tk) AS INTEGER) AS n_tokens FROM toks),
      |bi AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk), 1)),
      |         i -> tk[i] || ' ' || tk[i+1])) AS g FROM toks),
      |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g),
      |btop AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_cnt FROM bc GROUP BY doc_id),
      |tri AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
      |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM toks),
      |tc AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY doc_id, g),
      |tagg AS (SELECT doc_id,
      |         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3_occ,
      |         CAST(SUM(c) AS BIGINT) AS tri_total FROM tc GROUP BY doc_id)
      |SELECT n.doc_id, n_tokens, top2_cnt,
      |  ROUND(top2_cnt * 2.0 / n_tokens + 1e-9, 4) AS top2_share,
      |  ROUND(CAST(dup3_occ AS DOUBLE) / tri_total + 1e-9, 4) AS dup3_frac,
      |  CAST(CASE WHEN ROUND(top2_cnt * 2.0 / n_tokens + 1e-9, 4) <= 0.10
      |             AND ROUND(CAST(dup3_occ AS DOUBLE) / tri_total + 1e-9, 4) <= 0.10
      |        THEN 1 ELSE 0 END AS INTEGER) AS keep
      |FROM n JOIN btop USING (doc_id) JOIN tagg USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    repetitionMetrics(Tables(spark, dir).documents)
      .select(col("doc_id"), col("n_tokens"), col("top2_cnt"),
        top2Share.as("top2_share"), dup3Frac.as("dup3_frac"),
        repKeep.as("keep"))
      .orderBy(col("doc_id"))
  }

  /** t10: text normalization — the canonicalization pass that runs
    * BEFORE exact dedup (d01's content hashes only dedupe what
    * normalization makes byte-identical): lowercase, strip
    * non-alphanumerics, collapse runs of whitespace, trim. Pure
    * codegen'd scalar pipeline, zero shuffles. The corpus is already
    * clean, so (the t05 pattern) the operator corrupts it
    * DETERMINISTICALLY per doc-id class — case-folding, space
    * inflation, punctuation padding — and the round-trip proves the
    * normalizer inverts every class: `restored = 1` on all rows,
    * hash-checked including the normalized content hash. */
  val t10 = QueryDef(
    "t10_normalize",
    """WITH dirty AS (SELECT doc_id, text,
      |  CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 0 THEN UPPER(text)
      |    WHEN 1 THEN REPLACE(text, ' ', '   ')
      |    WHEN 2 THEN '  ' || text || ' !!! '
      |    ELSE text END AS raw FROM documents),
      |norm AS (SELECT doc_id, text, raw,
      |  TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(raw), '[^a-z0-9 ]', '', 'g'),
      |       ' +', ' ', 'g')) AS cleaned FROM dirty)
      |SELECT doc_id,
      |  CAST(CASE WHEN raw <> text THEN 1 ELSE 0 END AS INTEGER) AS was_dirty,
      |  CAST(CASE WHEN cleaned = text THEN 1 ELSE 0 END AS INTEGER) AS restored,
      |  MD5(cleaned) AS content_hash
      |FROM norm ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val raw = when(col("doc_id") % 4 === 0, upper(col("text")))
      .when(col("doc_id") % 4 === 1, regexp_replace(col("text"), " ", "   "))
      .when(col("doc_id") % 4 === 2, concat(lit("  "), col("text"), lit(" !!! ")))
      .otherwise(col("text"))
    val cleaned = trim(regexp_replace(
      regexp_replace(lower(col("raw")), "[^a-z0-9 ]", ""), " +", " "))
    Tables(spark, dir).documents
      .withColumn("raw", raw)
      .withColumn("cleaned", cleaned)
      .select(col("doc_id"),
        when(col("raw") =!= col("text"), 1).otherwise(0).as("was_dirty"),
        when(col("cleaned") === col("text"), 1).otherwise(0).as("restored"),
        md5(col("cleaned")).as("content_hash"))
      .orderBy(col("doc_id"))
  }

  /** t11: training-sequence packing — the concatenate-then-chunk layout
    * (the industry-standard way LLM training corpora become fixed-size
    * sequences): per source, docs concatenate in doc-id order and split
    * into 512-token chunks, docs straddling boundaries. Output: per
    * chunk, how many docs touch it and its token fill — every non-last
    * chunk is exactly full (spec-asserted), all-integer arithmetic so
    * the hash parity is exact.
    *
    * 100 TB shape: one window cumsum per source (single shuffle) gives
    * each doc its global offset; the doc→chunk fan-out is a map-side
    * sequence explode bounded by docLen/chunkSize; the tally is one
    * partial agg on (source, chunk). True bin-packing (first-fit) is
    * inherently sequential — concat-chunk is the parallelizable form
    * production uses. */
  val t11 = QueryDef(
    "t11_sequence_pack",
    """WITH tok AS (SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n FROM documents),
      |pos AS (SELECT doc_id, source, n,
      |        CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      |        FROM tok),
      |ch AS (SELECT source, doc_id, n, s,
      |       UNNEST(GENERATE_SERIES(CAST(s // 512 AS BIGINT),
      |         CAST((s + n - 1) // 512 AS BIGINT))) AS chunk FROM pos)
      |SELECT source, chunk, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(LEAST(s + n, (chunk + 1) * 512) - GREATEST(s, chunk * 512)) AS BIGINT) AS tok_fill
      |FROM ch GROUP BY source, chunk ORDER BY source, chunk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n"))
      .withColumn("s", coalesce(sum(col("n")).over(w), lit(0L)))
      .select(col("source"), col("n"), col("s"),
        explode(sequence(expr("s div 512"), expr("(s + n - 1) div 512"))).as("chunk"))
      .groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("s") + col("n"), (col("chunk") + 1) * 512) -
          greatest(col("s"), col("chunk") * 512)).as("tok_fill"))
      .orderBy(col("source"), col("chunk"))
  }

  /** t12: unigram language-model quality score — the perplexity-filter
    * proxy (CCNet/KenLM family, reduced to the unigram term so it is
    * exactly SQL-expressible): train token frequencies on the corpus
    * itself, then score each document by its mean token log-probability
    * ln(cnt/T). Low-probability token soup (gibberish, rare-token spam)
    * scores far below fluent text — the standard third quality gate
    * next to t02's surface ratios and t09's repetition rules.
    *
    * 100 TB shape: the vocab is t06's table — megabytes after the
    * wordcount agg — so scoring is a BROADCAST join on the token
    * stream + one per-doc partial agg; the corpus shuffles only
    * (doc_id, decimal) pairs. One corpus scan via a persisted token
    * stream feeding both the vocab build and the scoring join.
    *
    * Parity: per-token ln() of bit-identical doubles is bit-identical;
    * each log-prob is then rounded to the 1e-6 grid and summed as
    * DECIMAL — an order-independent exact sum — so the per-doc mean
    * divides identical operands on both engines. */
  val t12 = QueryDef(
    "t12_lm_quality",
    """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
      |vocab AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM vocab),
      |lp AS (SELECT doc_id,
      |         CAST(ROUND(LN(cnt * 1.0 / tt) + 1e-9, 6) AS DECIMAL(12,6)) AS lp
      |       FROM tok JOIN vocab USING (t) CROSS JOIN tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*) + 1e-9, 4) AS avg_logprob
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val tok = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .persist() // feeds vocab AND scoring — one corpus scan, not two
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("tt"))
    tok.join(broadcast(vocab), "t")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        graft.QueryDef.roundBiased(log(col("cnt") * 1.0 / col("tt")), 6)
          .cast("decimal(12,6)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_tok"),
        graft.QueryDef.roundBiased(col("slp").cast("double") / col("n_tok"), 4)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** t13: sliding-window CHUNKING with overlap — t11's retrieval-side
    * sibling: t11 packs docs into exactly-full training sequences
    * (concat-then-chunk, no overlap); t13 splits each document into
    * 64-token windows advancing by a 48-token stride, so consecutive
    * chunks share a 16-token overlap (the standard RAG / long-context
    * ingestion layout — overlap keeps boundary-straddling facts intact
    * in at least one chunk). Every non-final chunk is exactly full;
    * the final chunk carries the tail.
    *
    * 100 TB shape: chunk starts explode MAP-SIDE from each doc's own
    * token count (the i29 span-explode shape — never a cross join with
    * a chunk calendar), the chunk text is sliced from the already-
    * materialized token array, and nothing shuffles until the final
    * oracle ORDER BY — the operator itself is embarrassingly
    * parallel. */
  val t13 = QueryDef(
    "t13_chunk_overlap",
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |nch AS (SELECT doc_id, tk, LEN(tk) AS n,
      |    CASE WHEN LEN(tk) <= 64 THEN 1
      |         ELSE CAST(CEIL((LEN(tk) - 64) / 48.0) AS INTEGER) + 1 END AS nc
      |  FROM toks),
      |ex AS (SELECT doc_id, tk, n, UNNEST(RANGE(0, nc)) AS c FROM nch)
      |SELECT doc_id, CAST(c AS INTEGER) AS chunk_idx,
      |  CAST(LEAST(64, n - c * 48) AS INTEGER) AS n_tok_chunk,
      |  MD5(ARRAY_TO_STRING(tk[c*48+1 : c*48+64], ' ')) AS chunk_hash
      |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    val winW = 64
    val stride = 48
    Tables(spark, dir).documents
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      .withColumn("nc",
        when(col("n") <= winW, 1)
          .otherwise(ceil((col("n") - winW) / lit(stride.toDouble)).cast("int") + 1))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0), col("nc") - 1)).as("c"))
      .select(col("doc_id"), col("c").as("chunk_idx"),
        least(lit(winW), col("n") - col("c") * stride).cast("int").as("n_tok_chunk"),
        md5(array_join(slice(col("tk"), col("c") * stride + 1, lit(winW)), " "))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** t14: bigram-LM PERPLEXITY — t12's conditional upgrade and the
    * closest SQL-expressible analogue of the KenLM perplexity filter:
    * P(cur|prev) = (C(prev,cur)+1) / (C(prev)+V) (add-one smoothing
    * over the vocab), scored as the mean log-probability over each
    * document's bigram positions and reported as perplexity
    * exp(−mean). Gibberish with unseen-in-context tokens collapses
    * toward the smoothing floor and scores high-perplexity.
    *
    * 100 TB shape: the bigram count table is the t06 vocab's 2-gram
    * sibling — aggregated once, broadcast to the scoring join (context
    * counts re-aggregate FROM the bigram table, no second corpus
    * scan); scoring is map-side + one per-doc partial agg. The bigram
    * stream reuses the shingle machinery (explode once, persisted).
    * Decimal-summed log-probs keep the mean order-independent. */
  val t14 = QueryDef(
    "t14_bigram_perplexity",
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS b
      |       FROM toks, UNNEST(RANGE(1, GREATEST(LEN(tk), 1))) r(i)),
      |bc AS (SELECT b, COUNT(*) AS cnt FROM bg GROUP BY b),
      |ctx AS (SELECT STRING_SPLIT(b, ' ')[1] AS prev, CAST(SUM(cnt) AS BIGINT) AS pc
      |        FROM bc GROUP BY 1),
      |voc AS (SELECT COUNT(DISTINCT t) AS v
      |        FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents)),
      |lp AS (SELECT doc_id,
      |         CAST(ROUND(LN((cnt + 1.0) / (pc + v)) + 1e-9, 6) AS DECIMAL(12,6)) AS lp
      |       FROM bg JOIN bc USING (b)
      |       JOIN ctx ON ctx.prev = STRING_SPLIT(bg.b, ' ')[1]
      |       CROSS JOIN voc)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*) + 1e-9, 4) AS avg_logprob,
      |  ROUND(EXP(-(ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*) + 1e-9, 4))) + 1e-9, 4) AS ppl
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val bg = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(Text.shingles(col("tk"), 2)).as("b"))
      .persist() // feeds the count table AND the scoring join
    val bc = bg.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    // context counts derived FROM the bigram table — vocab-sized input,
    // never a second corpus scan
    val ctx = bc.groupBy(substring_index(col("b"), " ", 1).as("prev"))
      .agg(sum(col("cnt")).as("pc"))
    val voc = Tables(spark, dir).documents
      .select(explode(Text.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val meanLp = col("slp").cast("double") / col("n_bigrams")
    bg.join(broadcast(bc), "b")
      .join(broadcast(ctx), substring_index(col("b"), " ", 1) === col("prev"))
      .crossJoin(broadcast(voc))
      .select(col("doc_id"),
        graft.QueryDef.roundBiased(log((col("cnt") + 1.0) / (col("pc") + col("v"))), 6)
          .cast("decimal(12,6)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        graft.QueryDef.roundBiased(meanLp, 4).as("avg_logprob"),
        graft.QueryDef.roundBiased(
          exp(-graft.QueryDef.roundBiased(meanLp, 4)), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** t15: corpus DRIFT monitoring — the data-quality check between two
    * corpus snapshots (here deterministic md5-nibble halves stand in
    * for "last month's crawl" vs "this month's" — the q21 sampler, so
    * the halves cut ACROSS sources): per-source total-
    * variation distance between the two token distributions, plus the
    * single most-drifted token. A distribution shift in a source —
    * new boilerplate, a scraper regression, a language mix change —
    * shows up as TV mass long before eyeballing documents would catch
    * it; production pipelines alert on exactly this number.
    *
    * 100 TB shape: one corpus scan to (source, token, half) counts
    * (partial-agg), per-source totals broadcast back, and the TV sum +
    * top-token window both run on the VOCAB-sized count table, never
    * the corpus. Per-term gaps are rounded to the 1e-9 grid and summed
    * as DECIMAL so the distance is order-independent cross-engine. */
  val t15 = QueryDef(
    "t15_corpus_drift",
    """WITH tok AS (SELECT source,
      |    CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
      |         THEN 0 ELSE 1 END AS half,
      |    UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
      |cnt AS (SELECT source, t,
      |    CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS c0,
      |    CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS c1
      |  FROM tok GROUP BY source, t),
      |tot AS (SELECT source, CAST(SUM(c0) AS BIGINT) AS t0,
      |    CAST(SUM(c1) AS BIGINT) AS t1 FROM cnt GROUP BY source),
      |gap AS (SELECT cnt.source AS source, t,
      |    CAST(ROUND(CASE WHEN t0 = 0 OR t1 = 0 THEN 0.0
      |      ELSE ABS(c0 * 1.0 / t0 - c1 * 1.0 / t1) END + 1e-9, 9) AS DECIMAL(18,9)) AS g
      |  FROM cnt JOIN tot ON cnt.source = tot.source),
      |top AS (SELECT source, t AS top_token, g AS top_gap FROM gap
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY g DESC, t) = 1)
      |SELECT gap.source AS source, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  ROUND(CAST(SUM(g) AS DOUBLE) / 2 + 1e-9, 6) AS tv_dist,
      |  MAX(top.top_token) AS top_token,
      |  ROUND(CAST(MAX(top.top_gap) AS DOUBLE) + 1e-9, 6) AS top_gap
      |FROM gap JOIN top ON gap.source = top.source
      |GROUP BY gap.source ORDER BY source""".stripMargin) { (spark, dir) =>
    val cnt = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("source"),
        when(substring(md5(col("doc_id").cast("string")), 1, 1) < "8", 0).otherwise(1)
          .as("half"),
        explode(Text.tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(when(col("half") === 0, 1)).as("c0"),
        count(when(col("half") === 1, 1)).as("c1"))
      .persist() // vocab-sized; feeds totals AND gaps
    val tot = cnt.groupBy(col("source"))
      .agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"))
    val gap = cnt.join(broadcast(tot), "source")
      .select(col("source"), col("t"),
        graft.QueryDef.roundBiased(
          when(col("t0") === 0 || col("t1") === 0, 0.0)
            .otherwise(abs(col("c0") * 1.0 / col("t0") - col("c1") * 1.0 / col("t1"))), 9)
          .cast("decimal(18,9)").as("g"))
      .persist() // feeds the TV sum AND the top-token window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("g").desc, col("t"))
    val top = gap.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("t").as("top_token"), col("g").as("top_gap"))
    gap.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), sum(col("g")).as("sg"))
      .join(broadcast(top), "source")
      .select(col("source"), col("n_terms"),
        graft.QueryDef.roundBiased(col("sg").cast("double") / 2, 6).as("tv_dist"),
        col("top_token"),
        graft.QueryDef.roundBiased(col("top_gap").cast("double"), 6).as("top_gap"))
      .orderBy(col("source"))
  }

  /** t16: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much more likely its tokens are under a
    * TARGET domain's unigram LM than under the raw corpus LM —
    * per-token log-likelihood ratio with add-one smoothing over the
    * shared vocabulary, averaged per doc. High scores mark raw docs
    * that "look like" the target domain; resampling by this weight is
    * the standard recipe for tilting a 100 TB crawl toward a small
    * high-quality corpus. Here `source = 'src0'` stands in for the
    * target domain.
    *
    * 100 TB shape = t12's: ONE corpus token scan feeds both LM count
    * tables (a conditional aggregate splits target vs raw in the same
    * pass), the vocab-sized ratio table is BROADCAST to the scoring
    * join, and per-token LLRs are rounded to the 1e-6 grid and summed
    * as DECIMAL so the doc score is order-independent cross-engine. */
  val t16 = QueryDef(
    "t16_dsir_weights",
    """WITH tok AS (SELECT doc_id, source = 'src0' AS tgt,
      |    UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
      |vocab AS (SELECT t,
      |    CAST(COUNT(*) FILTER (WHERE tgt) AS BIGINT) AS ct,
      |    CAST(COUNT(*) AS BIGINT) AS cr
      |  FROM tok GROUP BY t),
      |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
      |    CAST(SUM(cr) AS BIGINT) AS tr,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
      |lp AS (SELECT doc_id,
      |    CAST(ROUND(LN((ct + 1.0) / (tt + v)) - LN((cr + 1.0) / (tr + v))
      |      + 1e-9, 6) AS DECIMAL(14,6)) AS llr
      |  FROM tok JOIN vocab USING (t) CROSS JOIN tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  ROUND(CAST(SUM(llr) AS DOUBLE) / COUNT(*) + 1e-9, 4) + 0.0 AS dsir_weight
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val tok = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("doc_id"), (col("source") === "src0").as("tgt"),
        explode(Text.tokens(col("text"))).as("t"))
      .persist() // feeds both LM count tables AND scoring — one corpus scan
    val vocab = tok.groupBy(col("t"))
      .agg(count(when(col("tgt"), 1)).as("ct"), count(lit(1)).as("cr"))
      .persist() // counted for the broadcast gate, reused by the join + totals
    val tot = vocab.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"),
      count(lit(1)).as("v"))
    // the vocabulary is CORPUS-derived, so its cardinality is unbounded
    // in principle (typo/numeric blow-up on a raw crawl): broadcast only
    // while it is actually broadcast-sized (~1M rows ≈ tens of MB
    // serialized), else fall back to the shuffle join — same result,
    // the hint is purely physical
    val vocabSide = if (vocab.count() <= BroadcastVocabRows) broadcast(vocab) else vocab
    tok.join(vocabSide, "t")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        graft.QueryDef.roundBiased(
          log((col("ct") + 1.0) / (col("tt") + col("v"))) -
            log((col("cr") + 1.0) / (col("tr") + col("v"))), 6)
          .cast("decimal(14,6)").as("llr"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("llr")).as("sl"))
      .select(col("doc_id"), col("n_tok"),
        graft.QueryDef.roundBiased(col("sl").cast("double") / col("n_tok"), 4)
          .as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  /** t17: BPE pair-merge TRAINING — the tokenizer-training core (Sennrich
    * et al. 2016) run as iterative distributed queries over the token
    * stream: each round counts adjacent pairs (one partial-agg shuffle),
    * adopts the most frequent pair as a merge (ties lexicographic),
    * rewrites the stream with non-overlapping left-to-right greedy
    * application, and repeats. Three rounds here; the learned merge
    * list + post-merge stream sizes are the (exact-integer) output.
    *
    * Greedy overlap resolution WITHOUT a self-join: candidate runs
    * (consecutive matching positions, e.g. `t t t` under merge (t,t))
    * resolve by keeping even offsets from the run start, all computed
    * in ONE doc-partitioned window pass — run starts are carried by
    * `last(mark, ignoreNulls)`, so a million-token boilerplate run
    * costs linear window work, never pairwise.
    *
    * 100 TB shape: the adopted merge is ONE row collected per round —
    * the merge table is driver-held model state, exactly like s04's
    * IVF codebook (every production BPE trainer holds the merge list
    * centrally); the stream rewrite is map-side given the doc-key
    * window; per-round lineage is truncated by eager localCheckpoint
    * (the d06 lesson). All arithmetic is integer/string — the oracle
    * replays the identical three rounds in SQL and hashes exactly. */
  /** One BPE rewrite round: apply merge (a, b) to the token stream
    * `w` (columns doc_id, pos, tok, nxt = lead(tok)) left-to-right
    * greedily. Runs of consecutive candidates (`t t t t` under (t,t))
    * keep even offsets from the run start — all resolved in one
    * doc-partitioned window pass, linear in the run length. */
  private[graft] def bpeMergeRound(w: DataFrame, a: String, b: String): DataFrame =
    bpeMergeRound(w, Seq((a, b)))

  /** Data-derived BPE loop shuffle width (the q36 loop-pin formula):
    * one partition per ~64 KB of corpus scan (the exploded token
    * stream is ~8× the scan and each round sorts it through six window
    * exprs — measured sweet spot 8-9 partitions on a 580 KB corpus at
    * BOTH 8 and 32 cores; p/4 serialized the 8-core loop, p fanned the
    * 32-core loop into tiny sort tasks), capped at the core count;
    * never a local[32] constant. */
  private[graft] def bpeLoopWidth(docs: DataFrame): Int = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / (64L * 1024)).min(BigInt(p)).max(BigInt(2)).toInt
  }

  /** The multi-merge rewrite round: apply a BATCH of merges whose token
    * sets are pairwise DISJOINT in one pass. Disjointness makes the
    * batch exact, not approximate-per-pair: a position's token decides
    * the one pair it can candidate for, two candidates of different
    * pairs can never overlap (that would need a shared token), and
    * consecutive candidates always belong to one pair's (t,t) self-run
    * — so the single combined pass produces exactly what applying the
    * merges one-round-each would, while paying ONE pair-count
    * aggregation + ONE corpus rewrite for the whole batch. */
  private[graft] def bpeMergeRound(w: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dw = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val dwAll = dw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isCand = pairs.map { case (a, b) => col("tok") === a && col("nxt") === b }
      .reduce(_ || _)
    w.withColumn("iscand", isCand)
      .withColumn("prevcand", coalesce(lag(col("iscand"), 1).over(dw), lit(false)))
      .withColumn("runstart",
        last(when(col("iscand") && !col("prevcand"), col("pos")),
          ignoreNulls = true).over(dwAll))
      .withColumn("keep", col("iscand") && (col("pos") - col("runstart")) % 2 === 0)
      .withColumn("dropped", coalesce(lag(col("keep"), 1).over(dw), lit(false)))
      .filter(!col("dropped"))
      .select(col("doc_id"), (row_number().over(dw).cast("long") - 1).as("pos"),
        when(col("keep"), concat(col("tok"), lit("+"), col("nxt")))
          .otherwise(col("tok")).as("tok"))
  }

  /** The t17/t26 shared oracle CTE chain: `iters` textbook BPE rounds
    * (count pairs → adopt top by (count desc, lex) → greedy-left
    * rewrite) over the `s1(doc_id, pos, tok)` stream, leaving the
    * rewritten stream as `s{iters+1}` and per-round stats as `st{k}`. */
  private def bpeIterCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""w$k AS (SELECT doc_id, pos, tok,
         |  LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM s$k),
         |best$k AS (SELECT tok AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM w$k WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY c DESC, a, b LIMIT 1),
         |c1_$k AS (SELECT doc_id, pos, tok, nxt,
         |  (tok = a AND nxt = b) AS iscand FROM w$k, best$k),
         |c2_$k AS (SELECT *, COALESCE(LAG(iscand) OVER (PARTITION BY doc_id ORDER BY pos),
         |  FALSE) AS prevcand FROM c1_$k),
         |c3_$k AS (SELECT *, LAST_VALUE(CASE WHEN iscand AND NOT prevcand THEN pos END
         |    IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS UNBOUNDED PRECEDING) AS runstart FROM c2_$k),
         |c4_$k AS (SELECT *, (iscand AND (pos - runstart) % 2 = 0) AS keep FROM c3_$k),
         |c5_$k AS (SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY doc_id ORDER BY pos),
         |  FALSE) AS dropped FROM c4_$k),
         |s${k + 1} AS (SELECT doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
         |  CASE WHEN keep THEN tok || '+' || nxt ELSE tok END AS tok
         |  FROM c5_$k WHERE NOT dropped),
         |st$k AS (SELECT CAST($k AS INTEGER) AS iter, a || '+' || b AS pair,
         |  c AS pair_count,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s${k + 1}) AS tokens_after
         |  FROM best$k)""".stripMargin
    }.mkString(",\n")

  val t17: QueryDef = {
    val iters = 3
    val iterCtes = bpeIterCtes(iters)
    val unions = (1 to iters).map(k => s"SELECT * FROM st$k").mkString(" UNION ALL ")
    QueryDef(
      "t17_bpe_merges",
      s"""WITH s1 AS (
         |  SELECT doc_id, UNNEST(RANGE(LEN(STRING_SPLIT(text, ' ')))) AS pos,
         |         UNNEST(STRING_SPLIT(text, ' ')) AS tok
         |  FROM documents),
         |$iterCtes
         |SELECT * FROM ($unions) ORDER BY iter""".stripMargin) { (spark, dir) =>
      bpeTrain(Tables(spark, dir).documents, iters)
    }
  }

  /** The t17 training loop: `iters` pair-merge rounds over `docs`
    * (doc_id, text). Returns (iter, pair, pair_count, tokens_after).
    * A corpus that runs out of adjacent pairs (single-token docs)
    * ends training early instead of failing.
    *
    * `batch` > 1 adopts up to that many NON-INTERACTING pairs per round
    * (greedy by count desc / lex over the top candidates, skipping any
    * pair sharing a token with an earlier adoption): each round still
    * pays one pair-count aggregation + one corpus rewrite +
    * checkpoint, so a 32k-merge vocabulary costs O(vocab/batch) corpus
    * rewrites instead of O(vocab) — the known wall of distributed BPE.
    * Within a round the batch is EXACT (disjoint token sets, see
    * [[bpeMergeRound]]); across rounds it is the standard batch-BPE
    * approximation: a pair formed BY a just-adopted merge can't be
    * adopted until the next round, which sequential BPE would allow.
    * batch = 1 degenerates to textbook sequential training (the
    * oracle's formulation). */
  private[graft] def bpeTrain(docs: DataFrame, iters: Int, batch: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val dw = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var s = docs
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
    // loop pin (r18): every round's window/agg runs on an isolated
    // session at a DATA-DERIVED width, so a small corpus is neither
    // coalesced to one partition (the engine default would serialize
    // each round) nor fanned out one tiny sort task per core
    val stats = GraftConf.isolated(spark, bpeLoopWidth(docs), GraftConf.NoCoalescing) { loop =>
      s = ColumnBridge.ofRows(loop, s)
      (1 to iters).iterator.map { k =>
      // persisted: the lead-windowed stream feeds TWO jobs per round
      // (the pair-count collect and the rewrite checkpoint) — without
      // the cache the window shuffle+sort of the whole token stream
      // runs twice per round
      val w = s.withColumn("nxt", lead(col("tok"), 1).over(dw)).persist()
      // the adopted merges: ≤ batch rows, driver-held (the trainer's
      // model state — s04's codebook precedent), shipped back as
      // literals; candidates beyond the batch cover greedy skips
      val top = w.filter(col("nxt").isNotNull)
        .groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"), col("nxt"))
        .limit(math.max(16, batch * 4))
        .collect()
      if (top.isEmpty) { w.unpersist(); None }
      else {
        val adopted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        top.iterator
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .foreach { case (a, b, c) =>
            if (adopted.length < batch && !used(a) && !used(b)) {
              adopted += ((a, b, c)); used += a; used += b
            }
          }
        // eager lineage truncation per round (the d06 localCheckpoint
        // lesson): rounds stay constant-cost instead of re-analyzing a
        // plan that grows by one rewrite per iteration. The post-merge
        // token count rides the SAME checkpoint job (observe) instead
        // of a third job per round.
        val obs = new org.apache.spark.sql.Observation()
        s = bpeMergeRound(w, adopted.map(p => (p._1, p._2)).toSeq)
          .observe(obs, count(lit(1)).as("n"))
          .localCheckpoint()
        w.unpersist()
        val nAfter = obs.get("n") match {
          case l: java.lang.Long => l.longValue()
          case other => throw new IllegalStateException(
            s"bpe round count metric missing or non-long: $other")
        }
        Some(adopted.toSeq.map { case (a, b, c) => (k, s"$a+$b", c, nAfter) })
      }
      }.takeWhile(_.isDefined).flatten.flatten.toSeq
    }
    import spark.implicits._
    stats.toDF("iter", "pair", "pair_count", "tokens_after")
      .orderBy(col("iter"), col("pair"))
  }

  /** t18: Zipf / vocabulary statistics — the corpus-health diagnostic
    * every crawl pipeline monitors: per source, token mass, vocabulary
    * size, type-token ratio, and the ZIPF SLOPE (log-log least-squares
    * over the top-100 token frequencies; natural text sits near −1,
    * template/boilerplate spam flattens it — a machine-detectable
    * quality signal).
    *
    * Scale shape: ONE (source, token) partial-agg shuffle; everything
    * downstream runs on the vocab-sized table (per-source stats
    * re-aggregate, the top-100 rank window, the regression sums).
    * Cross-engine determinism for a REGRESSION: log(rank)/log(freq)
    * round to the 1e-6 grid first, each product term rounds to 1e-8,
    * and all four regression sums accumulate as DECIMAL — so the
    * closed-form slope (kΣxy − ΣxΣy)/(kΣx² − (Σx)²) is computed from
    * identical operands in identical order-independent arithmetic on
    * both engines. */
  val t18 = QueryDef(
    "t18_zipf_stats",
    """WITH tok AS (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
      |tf AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY 1, 2),
      |stats AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
      |          CAST(COUNT(*) AS BIGINT) AS vocab FROM tf GROUP BY source),
      |top AS (SELECT source, t, f, r FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY f DESC, t) AS r
      |  FROM tf) q WHERE r <= 100),
      |xy AS (SELECT source,
      |    CAST(ROUND(LN(r) + 1e-9, 6) AS DECIMAL(18,6)) AS x,
      |    CAST(ROUND(LN(f) + 1e-9, 6) AS DECIMAL(18,6)) AS y
      |  FROM top),
      |reg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS k,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) + 1e-9, 8)
      |      AS DECIMAL(20,8))) AS sxy,
      |    SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) + 1e-9, 8)
      |      AS DECIMAL(20,8))) AS sxx
      |  FROM xy GROUP BY source)
      |SELECT s.source, s.n_tokens, s.vocab,
      |  ROUND(CAST(s.vocab AS DOUBLE) / s.n_tokens + 1e-9, 6) AS type_token_ratio,
      |  ROUND((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |        (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    + 1e-9, 4) + 0.0 AS zipf_slope
      |FROM stats s JOIN reg USING (source)
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("source"), explode(Text.tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("f"))
      .persist() // vocab-sized; feeds the stats AND the rank window
    val stats = tf.groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("vocab"))
    val w = Window.partitionBy(col("source")).orderBy(col("f").desc, col("t"))
    val xy = tf.withColumn("r", row_number().over(w)).filter(col("r") <= 100)
      .select(col("source"),
        graft.QueryDef.roundBiased(log(col("r")), 6).cast("decimal(18,6)").as("x"),
        graft.QueryDef.roundBiased(log(col("f")), 6).cast("decimal(18,6)").as("y"))
    val reg = xy.groupBy(col("source")).agg(count(lit(1)).as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(graft.QueryDef.roundBiased(
        col("x").cast("double") * col("y").cast("double"), 8)
        .cast("decimal(20,8)")).as("sxy"),
      sum(graft.QueryDef.roundBiased(
        col("x").cast("double") * col("x").cast("double"), 8)
        .cast("decimal(20,8)")).as("sxx"))
    stats.join(reg, "source")
      .select(col("source"), col("n_tokens"), col("vocab"),
        graft.QueryDef.roundBiased(
          col("vocab").cast("double") / col("n_tokens"), 6).as("type_token_ratio"),
        graft.QueryDef.roundBiased(
          (col("k") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("k") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")), 4).as("zipf_slope"))
      .orderBy(col("source"))
  }

  /** t19: Naive-Bayes QUALITY CLASSIFIER — the fastText-style gate every
    * production curation stack trains (GPT-3's WebText-vs-crawl filter,
    * LLaMA's Wikipedia-reference classifier): learn token log-odds from
    * a labeled TRAIN split, score the HELD-OUT split, and report the
    * confusion matrix of the learned gate. Distinct from t16 (DSIR
    * scores every doc against a target LM with no split and no
    * decision): t19 is the supervised train/evaluate workflow —
    * deterministic 50% md5 split, multinomial NB with add-one
    * smoothing + class prior, hard predictions, held-out evaluation.
    * `source = 'src0'` stands in for the curated positive class.
    *
    * 100 TB shape: ONE corpus token scan; the model is a vocab-sized
    * (token → class counts) table built by one partial-agg shuffle and
    * BROADCAST-GATED like t16 (unbounded crawl vocab falls back to a
    * shuffle join); scoring is the token→model join + one doc-key
    * aggregation; the confusion matrix is a 4-row final agg. Per-token
    * log-likelihood ratios land on the 1e-6 decimal grid and sum
    * order-independently, so the score — and the sign that decides the
    * prediction — is bit-identical cross-engine. Held-out tokens
    * OUTSIDE the train vocabulary contribute exactly 0 (no smoothing
    * mass invented for unseen types; the LEFT join keeps the doc). */
  val t19 = QueryDef(
    "t19_quality_classifier",
    """WITH tok AS (SELECT doc_id,
      |    SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS train,
      |    source = 'src0' AS pos, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |  FROM documents),
      |model AS (SELECT t,
      |    CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS cp,
      |    CAST(COUNT(*) FILTER (WHERE NOT pos) AS BIGINT) AS cn
      |  FROM tok WHERE train GROUP BY t),
      |tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp,
      |    CAST(SUM(cn) AS BIGINT) AS tn,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM model),
      |prior AS (SELECT CAST(ROUND(
      |      LN(CAST(COUNT(*) FILTER (WHERE source = 'src0') AS DOUBLE) /
      |         COUNT(*) FILTER (WHERE source <> 'src0')) + 1e-9, 6)
      |    AS DECIMAL(14,6)) AS pr
      |  FROM documents
      |  WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
      |sc AS (SELECT doc_id, pos,
      |    CASE WHEN cp IS NULL THEN CAST(0 AS DECIMAL(14,6))
      |      ELSE CAST(ROUND(LN((cp + 1.0) / (tp + v)) -
      |                      LN((cn + 1.0) / (tn + v)) + 1e-9, 6)
      |        AS DECIMAL(14,6)) END AS llr
      |  FROM tok LEFT JOIN model USING (t) CROSS JOIN tot
      |  WHERE NOT train),
      |doc AS (SELECT doc_id, pos, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |    MAX(pr) + SUM(llr) AS score
      |  FROM sc CROSS JOIN prior GROUP BY doc_id, pos)
      |SELECT CAST(pos AS INTEGER) AS is_target,
      |  CAST(score > 0 AS INTEGER) AS pred,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
      |  ROUND(AVG(CAST(score AS DOUBLE)) + 1e-9, 4) + 0.0 AS avg_score
      |FROM doc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val docs = Tables.spread(Tables(spark, dir).documents, "doc_id")
    val trainSide = substring(md5(col("doc_id").cast("string")), 1, 1) < "8"
    val tok = docs
      .select(col("doc_id"), trainSide.as("train"),
        (col("source") === "src0").as("pos"),
        explode(Text.tokens(col("text"))).as("t"))
      .persist() // one corpus scan feeds the model AND the scoring join
    val model = tok.filter(col("train"))
      .groupBy(col("t"))
      .agg(count(when(col("pos"), 1)).as("cp"),
        count(when(!col("pos"), 1)).as("cn"))
      .persist() // counted for the broadcast gate, reused by join + totals
    val tot = model.agg(sum(col("cp")).as("tp"), sum(col("cn")).as("tn"),
      count(lit(1)).as("v"))
    val prior = docs.filter(trainSide)
      .agg(graft.QueryDef.roundBiased(
        log(count(when(col("source") === "src0", 1)).cast("double") /
          count(when(col("source") =!= "src0", 1))), 6)
        .cast("decimal(14,6)").as("pr"))
    // crawl vocabulary is unbounded in principle — broadcast only while
    // broadcast-sized (t16's gate), else the shuffle join, same result
    val modelSide = if (model.count() <= BroadcastVocabRows) broadcast(model) else model
    tok.filter(!col("train"))
      .join(modelSide, Seq("t"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("pos"),
        when(col("cp").isNull, lit(0).cast("decimal(14,6)"))
          .otherwise(graft.QueryDef.roundBiased(
            log((col("cp") + 1.0) / (col("tp") + col("v"))) -
              log((col("cn") + 1.0) / (col("tn") + col("v"))), 6)
            .cast("decimal(14,6)")).as("llr"))
      .groupBy(col("doc_id"), col("pos"))
      .agg(count(lit(1)).as("n_tok"), sum(col("llr")).as("sl"))
      .crossJoin(broadcast(prior))
      .select(col("pos"), (col("pr") + col("sl")).as("score"), col("n_tok"))
      .groupBy(col("pos").cast("int").as("is_target"),
        (col("score") > 0).cast("int").as("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        graft.QueryDef.roundBiased(avg(col("score").cast("double")), 4)
          .as("avg_score"))
      .orderBy(col("is_target"), col("pred"))
  }

  /** t20: n-gram NOVELTY profile — for each document, the fraction of
    * its distinct trigrams whose FIRST corpus occurrence (minimum
    * doc_id) is this document. The crawl-monitoring diagnostic behind
    * "how much genuinely new content does each snapshot add" (the
    * longitudinal dedup view of Lee et al. 2022's repeated-substring
    * analysis): near-1 novelty marks fresh material, near-0 marks
    * recombined boilerplate.
    *
    * 100 TB shape: (doc, gram) pairs dedup per doc MAP-SIDE
    * (array_distinct before the explode); the first-occurrence table
    * is a groupBy(gram).min partial agg — the map-side combiner
    * absorbs boilerplate-gram skew BEFORE the shuffle, which is why
    * this is a groupBy+join and NOT a gram-partitioned window (a
    * window would buffer a hot gram's million rows in one partition;
    * the join redistributes under AQE skew splitting). Both shuffles
    * key on the gram. */
  val t20 = QueryDef(
    "t20_ngram_novelty",
    """WITH g AS (SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
      |    RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 1)),
      |    i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i+1]
      |      || ' ' || STRING_SPLIT(text, ' ')[i+2]))) AS sh
      |  FROM documents),
      |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM g GROUP BY sh)
      |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT) AS n_novel,
      |  ROUND(COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) * 1.0 / COUNT(*)
      |    + 1e-9, 4) AS novelty
      |FROM g JOIN f USING (sh)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (spark, dir) =>
    val g = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(Text.tokens(col("text")), 3))).as("sh"))
      .persist() // feeds the first-occurrence agg AND the scoring join
    val first = g.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    g.join(first, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        graft.QueryDef.roundBiased(
          col("n_novel").cast("double") / col("n_grams"), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** t21: INVERTED-INDEX construction — the retrieval artifact every
    * RAG / search / decontamination pipeline builds over its corpus:
    * per term, the document frequency and the top-8 postings by term
    * frequency (tf desc, doc_id tie-break).
    *
    * Scale shape: explode → (term, doc) tf with map-side partial
    * counts, then the per-term posting list through the bounded
    * [[graft.functions.TopKAggregate]] — the q19 argument applied to
    * text: a stopword's posting list is the whole corpus, and a rank
    * window would sort all of it per term; the aggregate's partial
    * buffers carry AT MOST 8 entries per term per partition, so the
    * hot-term shuffle volume is |vocab|×8×partitions no matter how
    * skewed the term distribution (d13's postings-cap stance, made
    * algebraic). df still counts every posting exactly. */
  val t21 = QueryDef(
    "t21_inverted_index",
    """WITH tf AS (
      |  SELECT t AS term, doc_id, COUNT(*) AS tf FROM (
      |    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents) u
      |  GROUP BY 1, 2),
      |r AS (SELECT term, doc_id, tf,
      |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rnk,
      |    COUNT(*) OVER (PARTITION BY term) AS df
      |  FROM tf)
      |SELECT term, CAST(df AS BIGINT) AS df, CAST(rnk AS INTEGER) AS rnk,
      |  doc_id, CAST(tf AS BIGINT) AS tf
      |FROM r WHERE rnk <= 8
      |ORDER BY term, rnk""".stripMargin) { (spark, dir) =>
    graft.functions.TopKAggregate.register(spark)
    val tf = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        expr("graft_topk(CAST(tf AS DOUBLE), doc_id, 8)").as("post"))
      .select(col("term"), col("df"), posexplode(col("post")))
      .select(col("term"), col("df"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.key").as("doc_id"), col("col.score").cast("long").as("tf"))
      .orderBy(col("term"), col("rnk"))
  }

  /** t22: COLLOCATION mining — pointwise mutual information over
    * adjacent bigrams (Church & Hanks 1990), the corpus-linguistics
    * pass that surfaces multi-word units ("new york", "machine
    * learning") for tokenizer vocab seeding and phrase-aware indexing:
    * PMI = ln(p(ab) / (p(a)·p(b))) with bigram and unigram
    * probabilities over their own populations. Emitted: every bigram
    * with count ≥ 5 whose grid-rounded PMI clears 0.2 (the
    * synthetic corpus's bigrams are near-uniform, so absolute PMIs sit
    * far below natural-language collocation scores — the machinery,
    * not the constant, is the operator) — the
    * threshold-on-the-rounded-value discipline means NO cross-engine
    * float ranking anywhere (t08's ln-parity precedent carries the
    * transcendental; ordering is purely lexicographic).
    *
    * Scale: bigram + unigram counts are two partial-agg'd shuffles of
    * token streams; the two probability joins hit the BOUNDED vocab
    * side through the t16/t19 broadcast gate (Heaps' law keeps vocab
    * millions, not corpus-sized — above the gate the join falls back
    * to shuffle). */
  val t22 = QueryDef(
    "t22_collocations",
    """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |uni AS (SELECT t, COUNT(*) AS cu FROM
      |    (SELECT UNNEST(tk) AS t FROM tok) u GROUP BY t),
      |nu AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
      |bi AS (SELECT g, COUNT(*) AS cb FROM
      |    (SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk), 1)),
      |       i -> tk[i] || ' ' || tk[i+1])) AS g FROM tok) x
      |  GROUP BY g),
      |nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS m FROM bi),
      |pmi AS (SELECT STRING_SPLIT(g, ' ')[1] AS w1, STRING_SPLIT(g, ' ')[2] AS w2,
      |    cb,
      |    ROUND(LN((cb * 1.0 / m) / ((a.cu * 1.0 / n) * (b.cu * 1.0 / n)))
      |      + 1e-9, 4) AS pmi
      |  FROM bi JOIN uni a ON STRING_SPLIT(g, ' ')[1] = a.t
      |          JOIN uni b ON STRING_SPLIT(g, ' ')[2] = b.t
      |  CROSS JOIN nu CROSS JOIN nb
      |  WHERE cb >= 5)
      |SELECT w1, w2, CAST(cb AS BIGINT) AS n_pair, pmi
      |FROM pmi WHERE pmi >= 0.2
      |ORDER BY w1, w2""".stripMargin) { (spark, dir) =>
    val toks = Tables(spark, dir).documents
      .select(Text.tokens(col("text")).as("tk"))
    val uni = toks.select(explode(col("tk")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
      .persist()
    val nU = uni.agg(sum(col("cu")).as("n"))
    val bi = toks
      .select(explode(Text.shingles(col("tk"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= 5)
      .withColumn("sp", split(col("g"), " ", 2))
      .select(col("sp").getItem(0).as("w1"), col("sp").getItem(1).as("w2"),
        col("cb"))
    val nB = toks.select(explode(Text.shingles(col("tk"), 2)).as("g"))
      .agg(count(lit(1)).as("m"))
    val uniSide = if (uni.count() <= BroadcastVocabRows) broadcast(uni) else uni
    bi
      .join(uniSide.select(col("t").as("w1"), col("cu").as("cu1")), "w1")
      .join(uniSide.select(col("t").as("w2"), col("cu").as("cu2")), "w2")
      .join(broadcast(nU)).join(broadcast(nB))
      .withColumn("pmi", graft.QueryDef.roundBiased(
        log((col("cb") * lit(1.0) / col("m")) /
          ((col("cu1") * lit(1.0) / col("n")) * (col("cu2") * lit(1.0) / col("n")))), 4))
      .filter(col("pmi") >= 0.2)
      .select(col("w1"), col("w2"), col("cb").as("n_pair"), col("pmi"))
      .orderBy(col("w1"), col("w2"))
  }

  /** t23: token BURSTINESS — the variance-to-mean dispersion index
    * (Church & Gale 1995): content words are BURSTY (a doc that
    * mentions them mentions them repeatedly ⇒ VMR ≫ 1), function
    * words are dispersed (VMR ≈ 1, near-Poisson) — the
    * corpus-statistical signal that separates topical vocabulary from
    * glue without any stopword list, feeding stopword induction and
    * keyword weighting. Per token with corpus count ≥ 50
    * (integer threshold — no float ranking): document frequency,
    * total count, and VMR = Var[x]/E[x] with moments over ALL docs
    * (zeros included — derived from Σx, Σx² and the doc count alone,
    * so absent-doc rows are never materialized).
    *
    * Plan: per-doc token counts come from the codegen'd one-pass
    * [[graft.functions.TokenCountsExpr]] (no token-stream rows, no
    * (token, doc) aggregate — each doc emits its DISTINCT tokens
    * once), then one vocab-keyed agg (Heaps' law bounds it) with the
    * doc count broadcast; the VMR arithmetic is map-side on the vocab
    * table. Both engines evaluate the identical double expression
    * once, then the biased 4-decimal grid round (t08's stance). */
  val t23 = QueryDef(
    "t23_burstiness",
    """WITH tok AS (SELECT doc_id,
      |    UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
      |tc AS (SELECT token, doc_id, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |n AS (SELECT COUNT(*) AS nd FROM documents),
      |st AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(SUM(c) AS BIGINT) AS total,
      |    CAST(SUM(c * c) AS BIGINT) AS sumsq
      |  FROM tc GROUP BY token)
      |SELECT token, df, total,
      |  ROUND((sumsq * 1.0 / nd - (total * 1.0 / nd) * (total * 1.0 / nd))
      |    / (total * 1.0 / nd) + 1e-9, 4) AS vmr
      |FROM st, n WHERE total >= 50 ORDER BY token""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir).documents
    val tc = docs
      .select(explode(Text.tokenCounts(Text.tokens(col("text"))))
        .as(Seq("token", "c")))
    val st = tc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
      .filter(col("total") >= 50L)
    val n = docs.agg(count(lit(1)).as("nd"))
    val mean = col("total") * lit(1.0) / col("nd")
    st.join(broadcast(n))
      .select(col("token"), col("df"), col("total"),
        graft.QueryDef.roundBiased(
          (col("sumsq") * lit(1.0) / col("nd") - mean * mean) / mean, 4)
          .as("vmr"))
      .orderBy(col("token"))
  }

  /** t24: character ENTROPY — per-doc Shannon entropy of the char
    * distribution (nats): the gibberish / keyboard-mash / compression
    * filter (a Gopher-style quality rule — "aaaa…" scores ≈ 0, diverse
    * text ≈ ln(alphabet)); emitted with char and distinct-char counts.
    *
    * Determinism: −Σ p·ln p is a FLOAT SUM whose order differs across
    * engines, so each term is biased-rounded to the 8-decimal grid and
    * summed as DECIMAL(18,8) — exact, associative, order-free (i39b's
    * length-sum discipline; ln parity is the t08 convention).
    *
    * Plan: ONE codegen'd per-row expression
    * ([[graft.functions.CharEntropyStatsExpr]] — t09's
    * RepetitionStatsExpr discipline): the char stream never exists as
    * rows, the count table is per-row and alphabet-bounded, and the
    * query is exchange-free scan→project (was the worst uniform ×10
    * ratio in r6 — the per-char explode fed a corpus-bytes-
    * proportional aggregate). The expression replicates the old
    * plan's Round/Cast/DECIMAL pipeline bit-for-bit, so the DuckDB
    * oracle is unchanged; empty docs are filtered to mirror UNNEST's
    * empty-array drop. */
  val t24 = QueryDef(
    "t24_char_entropy",
    """WITH ch AS (SELECT doc_id,
      |    UNNEST(STRING_SPLIT(text, '')) AS ch FROM documents),
      |cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM ch GROUP BY 1, 2),
      |n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct FROM cc GROUP BY 1)
      |SELECT cc.doc_id, n.n_chars, n.n_distinct,
      |  ROUND(CAST(-SUM(CAST(ROUND(
      |      (c * 1.0 / n.n_chars) * LN(c * 1.0 / n.n_chars) + 1e-9, 8)
      |    AS DECIMAL(18,8))) AS DOUBLE) + 1e-9, 4) AS entropy
      |FROM cc JOIN n USING (doc_id)
      |GROUP BY cc.doc_id, n.n_chars, n.n_distinct
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables(spark, dir).documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), Text.charEntropyStats(col("text")).as("s"))
      .select(col("doc_id"), col("s.n_chars").as("n_chars"),
        col("s.n_distinct").as("n_distinct"), col("s.entropy").as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Fixed 3-term probe query shared by t25 and s17 (terms chosen from
    * the synthetic vocabulary with non-degenerate tf spread). */
  val Bm25Terms: Seq[String] = Seq("spark", "hash", "merge")

  /** The d/s/sc CTE chain computing per-doc BM25 raw scores in DuckDB —
    * shared VERBATIM by the t25 and s17 oracles so the two rankings
    * can never drift apart. Exposes `sc(doc_id, dl, tf1..3, raw)`. */
  val bm25RawSql: String = {
    val tfSql = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x = '$t')) AS tf${i + 1}"
    }.mkString(",\n    ")
    val dfSql = Bm25Terms.indices.map(i =>
      s"COUNT(*) FILTER (WHERE tf${i + 1} > 0) AS df${i + 1}").mkString(", ")
    val scoreSql = Bm25Terms.indices.map { i =>
      s"""LN(1 + (n - df${i + 1} + 0.5) / (df${i + 1} + 0.5))
         |      * (tf${i + 1} * 2.2)
         |      / (tf${i + 1} + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))"""
        .stripMargin
    }.mkString("(", "\n    + ", ")")
    s"""d AS (
       |  SELECT doc_id,
       |    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS dl,
       |    $tfSql
       |  FROM documents),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(dl) AS BIGINT) AS sumdl, $dfSql FROM d),
       |sc AS (SELECT doc_id, dl, tf1, tf2, tf3,
       |    $scoreSql AS raw FROM d, s)""".stripMargin
  }

  /** Per-doc BM25 raw-score frame (doc_id, dl, tf1..3, raw) — the
    * Spark side of [[bm25RawSql]], shared by t25 and s17. The per-doc
    * tf/dl frame is persisted (both the one-row stats agg and the
    * scored pass consume it; 5 ints per doc, corpus-scale safe). */
  def bm25Raw(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val perDoc = docs
      .select(col("doc_id") +:
        size(filter(toks, x => x =!= "")).as("dl") +:
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === t)).as(s"tf${i + 1}")
        }: _*)
      .persist()
    val statCols = count(lit(1)).as("n") +: sum(col("dl")).as("sumdl") +:
      Bm25Terms.indices.map(i =>
        count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("sumdl") * lit(1.0) / col("n")
    val raw = Bm25Terms.indices.map { i =>
      val tf = col(s"tf${i + 1}"); val df = col(s"df${i + 1}")
      log(lit(1) + (col("n") - df + lit(0.5)) / (df + lit(0.5))) *
        (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    }.reduceLeft(_ + _)
    perDoc.join(broadcast(stats))
      .select(col("doc_id"), col("dl"), col("tf1"), col("tf2"), col("tf3"),
        raw.as("raw"))
  }

  /** t25: BM25 retrieval — Okapi BM25 (Robertson & Spärck Jones;
    * k1 = 1.2, b = 0.75) top-10 for the fixed [[Bm25Terms]] query: the
    * lexical ranking half of every hybrid retrieval stack (s17 fuses
    * it with the dense ranks) and the scoring function behind
    * quality-targeted corpus selection (query = a quality probe,
    * scores = soft labels).
    *
    * Plan: per-doc term frequencies and doc length come from array
    * ops on the SPLIT tokens — the token stream never exists as rows
    * and nothing corpus-sized shuffles. The corpus statistics
    * (N, Σdl, per-term df) reduce to ONE row (map-side combined),
    * broadcast back over the per-doc frame; the global top-10 is a
    * TakeOrderedAndProject (per-partition top-k + driver merge of
    * k×partitions rows — never a global sort).
    *
    * Determinism: every score input (tf, dl, df, N, Σdl) is an exact
    * integer; the score is ONE fixed-shape double expression — terms
    * summed in query order, idf = ln(1 + (N − df + ½)/(df + ½)), the
    * BM25+ form that stays positive when df > N/2 (this vocab is ~30
    * tokens, so common terms hit df ≈ N) — identical trees on both
    * engines, ranked on the RAW double (doc_id tiebreak) and rounded
    * only in the projection (s01's discipline). */
  val t25: QueryDef = QueryDef(
    "t25_bm25",
    s"""WITH $bm25RawSql
       |SELECT doc_id, dl, tf1, tf2, tf3,
       |  ROUND(raw + 1e-9, 4) AS score
       |FROM sc ORDER BY raw DESC, doc_id LIMIT 10""".stripMargin) { (spark, dir) =>
    bm25Raw(Tables.spread(Tables(spark, dir).documents, "doc_id"))
      .orderBy(col("raw").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("dl"), col("tf1"), col("tf2"), col("tf3"),
        graft.QueryDef.roundBiased(col("raw"), 4).as("score"))
  }

  /** t26: BPE ENCODING — the apply half of the tokenizer loop t17
    * trains (Sennrich 2016 §2: for each learned merge in adoption
    * order, rewrite the stream greedy-left): per document, token count
    * before and after the learned merges, merges applied, and the
    * post-encode token share as integer ppm — the FERTILITY /
    * compression numbers a tokenizer rollout is judged by (and the
    * per-doc input to p07-style token budgeting under a real
    * tokenizer).
    *
    * One greedy-left pass per merge is COMPLETE: merging (a,b) never
    * creates a new (a,b) adjacency — the merged token is "a+b", not
    * "a" or "b" — so the single [[bpeMergeRound]] rewrite per merge
    * IS textbook sequential encoding. Training state (the merge list)
    * is re-derived in-query (one collected row per round, t17's
    * driver-held-model stance) so the oracle can replay everything
    * from the corpus alone — the s1→s4 CTE chain is SHARED verbatim
    * with t17 ([[bpeIterCtes]]), the encode adds only the two per-doc
    * counts.
    *
    * Scale: each round is one doc-keyed window rewrite (linear,
    * skew = longest doc) + one pair-count partial agg; counts are one
    * more doc-keyed agg pair. All-integer output (ppm by FLOOR
    * division — i53's convention), no float anywhere. */
  val t26: QueryDef = {
    val iters = 3
    QueryDef(
      "t26_bpe_encode",
      s"""WITH s1 AS (
         |  SELECT doc_id, UNNEST(RANGE(LEN(STRING_SPLIT(text, ' ')))) AS pos,
         |         UNNEST(STRING_SPLIT(text, ' ')) AS tok
         |  FROM documents),
         |${bpeIterCtes(iters)},
         |nb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_before
         |  FROM s1 GROUP BY 1),
         |na AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after
         |  FROM s${iters + 1} GROUP BY 1)
         |SELECT doc_id, n_before, n_after,
         |  n_before - n_after AS n_merged,
         |  CAST(n_after * 1000000 // n_before AS BIGINT) AS tokens_ppm
         |FROM nb JOIN na USING (doc_id) ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val dw = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      var s = Tables(spark, dir).documents
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
        .localCheckpoint()
      val before = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n_before"))
      // loop pin (r18): see bpeTrain — data-derived round width
      s = GraftConf.isolated(spark, bpeLoopWidth(Tables(spark, dir).documents),
          GraftConf.NoCoalescing) { loop =>
      s = ColumnBridge.ofRows(loop, s)
      (1 to iters).foreach { _ =>
        // persisted: the lead-windowed stream feeds both the top-pair
        // collect and the rewrite checkpoint (the t17 fix) — without
        // the cache the window shuffle+sort runs twice per round
        val w = s.withColumn("nxt", lead(col("tok"), 1).over(dw)).persist()
        val top = w.filter(col("nxt").isNotNull)
          .groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok"), col("nxt"))
          .limit(1).collect()
        if (top.nonEmpty)
          s = bpeMergeRound(w, top(0).getString(0), top(0).getString(1))
            .localCheckpoint()
        w.unpersist()
      }
      ColumnBridge.ofRows(spark, s)
      }
      val after = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n_after"))
      before.join(after, "doc_id")
        .select(col("doc_id"), col("n_before"), col("n_after"),
          (col("n_before") - col("n_after")).as("n_merged"),
          expr("CAST((n_after * 1000000) div n_before AS BIGINT)").as("tokens_ppm"))
        .orderBy(col("doc_id"))
    }
  }

  /** t27: GOPHER-style quality rules (Rae et al. 2021, Appendix A —
    * the rule-based pre-filter every web-scale corpus passes through
    * before model-based scoring): per document, word count, mean word
    * length, stopword hits, and the 1-char-token share, plus the
    * combined pass flag under the classic bounds (word count in
    * range, mean word length in [3,10], ≥2 stopword hits, ≤10%
    * 1-char tokens). t02 scores quality on a continuous scale; t27
    * is the HARD gate with named, auditable rules — pipelines log
    * which rule rejected a document, so each input stat is a column.
    *
    * 100 TB shape: pure per-row array arithmetic on the split token
    * stream (no explode, no shuffle beyond the final presentation
    * sort) — the stats come from size/filter/aggregate over the token
    * array inside whole-stage codegen. All rule inputs are exact
    * integers; the two ratios are single divisions rounded under the
    * biased grid, and the BETWEEN bounds compare the raw quotient on
    * both engines (identical one-division trees, so the flag can't
    * straddle a rounding boundary cross-engine). */
  val t27 = QueryDef(
    "t27_gopher_rules",
    """WITH s AS (SELECT doc_id,
      |    LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS tk
      |  FROM documents),
      |st AS (SELECT doc_id,
      |    CAST(LEN(tk) AS BIGINT) AS n_words,
      |    CAST(LIST_SUM(LIST_TRANSFORM(tk, x -> LEN(x))) AS BIGINT) AS sum_len,
      |    CAST(LEN(LIST_FILTER(tk,
      |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT)
      |      AS stop_hits,
      |    CAST(LEN(LIST_FILTER(tk, x -> LEN(x) <= 1)) AS BIGINT) AS short_hits
      |  FROM s)
      |SELECT doc_id, n_words,
      |  ROUND(sum_len * 1.0 / n_words + 1e-9, 4) AS mean_word_len,
      |  stop_hits,
      |  ROUND(short_hits * 1.0 / n_words + 1e-9, 4) AS short_frac,
      |  CAST(CASE WHEN n_words BETWEEN 20 AND 100000
      |        AND sum_len * 1.0 / n_words BETWEEN 3 AND 10
      |        AND stop_hits >= 2
      |        AND short_hits * 10 <= n_words THEN 1 ELSE 0 END AS INTEGER)
      |    AS passes
      |FROM st ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val meanWl = col("sum_len") * 1.0 / col("n_words")
    Tables(spark, dir).documents
      .select(col("doc_id"),
        filter(Text.tokens(col("text")), t => t =!= "").as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        aggregate(col("tk"), lit(0L),
          (acc, x) => acc + length(x).cast("long")).as("sum_len"),
        size(filter(col("tk"), t => t.isInCollection(stops)))
          .cast("long").as("stop_hits"),
        size(filter(col("tk"), t => length(t) <= 1))
          .cast("long").as("short_hits"))
      .select(col("doc_id"), col("n_words"),
        graft.QueryDef.roundBiased(meanWl, 4).as("mean_word_len"),
        col("stop_hits"),
        graft.QueryDef.roundBiased(
          col("short_hits") * 1.0 / col("n_words"), 4).as("short_frac"),
        when(col("n_words").between(20, 100000) &&
            meanWl.between(3, 10) &&
            col("stop_hits") >= 2 &&
            col("short_hits") * 10 <= col("n_words"), 1)
          .otherwise(0).cast("int").as("passes"))
      .orderBy(col("doc_id"))
  }

  /** t28: interpolated KNESER–NEY bigram LM scoring — the
    * absolute-discount smoothing (Kneser & Ney 1995; Chen & Goodman
    * 1999 eq. 4.26) behind the KenLM-style perplexity filters CCNet
    * popularized for corpus curation: t14's add-one bigram model
    * over-penalizes unseen-context mass, KN backs off to the
    * CONTINUATION unigram (how many distinct contexts a word follows,
    * not how often it occurs) — the standard production LM filter.
    * Per document: bigram count, mean KN log-prob, perplexity.
    *
    * P(w2|w1) = (max(c(w1w2) − D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1),
    * Pcont(w2) = N1+(·w2)/N1+(··), D = 0.75.
    *
    * 100 TB shape: ONE corpus scan to the bigram stream (persisted —
    * it feeds the count table and the scoring join); every model
    * table (bigram counts, context totals+fanouts, continuation
    * counts, the 1-row bigram-type total) derives from the
    * VOCAB²-bounded count table and broadcasts back — the t14
    * discipline, with N1+ fanouts replacing the add-one vocabulary.
    * Determinism: all model inputs are exact integers; each log-prob
    * is one fixed-shape double expression rounded to the 1e-6 grid
    * and summed as DECIMAL, so per-doc accumulation order can't move
    * the hash (the t14/t24 discipline). */
  val t28 = QueryDef(
    "t28_kneser_ney",
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      |       FROM toks, UNNEST(RANGE(1, GREATEST(LEN(tk), 1))) r(i)),
      |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |       FROM bg GROUP BY 1, 2),
      |cw1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |        CAST(COUNT(*) AS BIGINT) AS n1f FROM bc GROUP BY 1),
      |cw2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bc GROUP BY 1),
      |nbg AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bc),
      |lp AS (SELECT doc_id,
      |    CAST(ROUND(LN((GREATEST(c12 - 0.75, 0.0)
      |        + 0.75 * n1f * (n1b * 1.0 / nb)) / c1) + 1e-9, 6)
      |      AS DECIMAL(12,6)) AS lp
      |  FROM bg JOIN bc USING (w1, w2) JOIN cw1 USING (w1)
      |       JOIN cw2 USING (w2) CROSS JOIN nbg)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*) + 1e-9, 4) + 0.0 AS avg_logprob,
      |  ROUND(EXP(-(ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*) + 1e-9, 4))) + 1e-9, 4)
      |    AS ppl
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val bg = Tables.spread(Tables(spark, dir).documents, "doc_id")
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(Text.shingles(col("tk"), 2)).as("b"))
      .select(col("doc_id"),
        substring_index(col("b"), " ", 1).as("w1"),
        substring_index(col("b"), " ", -1).as("w2"))
      .persist() // feeds the count table AND the scoring join
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // every model table derives FROM the bigram-type table — vocab²-
    // bounded input, never a second corpus scan
    val cw1 = bc.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cw2 = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val nbg = bc.agg(count(lit(1)).as("nb"))
    val meanLp = col("slp").cast("double") / col("n_bigrams")
    bg.join(broadcast(bc), Seq("w1", "w2"))
      .join(broadcast(cw1), "w1")
      .join(broadcast(cw2), "w2")
      .crossJoin(broadcast(nbg))
      .select(col("doc_id"),
        graft.QueryDef.roundBiased(
          log((greatest(col("c12") - 0.75, lit(0.0)) +
            lit(0.75) * col("n1f") * (col("n1b") * 1.0 / col("nb"))) /
            col("c1")), 6)
          .cast("decimal(12,6)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        (graft.QueryDef.roundBiased(meanLp, 4) + 0.0).as("avg_logprob"),
        graft.QueryDef.roundBiased(
          exp(-graft.QueryDef.roundBiased(meanLp, 4)), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** t29: LEXICAL DIVERSITY — the vocabulary-richness panel (TTR,
    * hapax count, Yule's K; Yule 1944) that separates template/
    * boilerplate text (few types recycled — low TTR, K high) from
    * natural prose, the per-document complement to t18's corpus-level
    * Zipf fit and a standard input to quality classifiers like t19's:
    * per doc, token count N, type count V, type-token ratio V/N,
    * hapax legomena V1, and Yule's characteristic
    * K = 10⁴·(Σ_m m²V(m) − N)/N² (repeat-rate; length-robust where
    * raw TTR is not).
    *
    * 100 TB shape: ZERO shuffle — all four statistics are per-row
    * array arithmetic over the [[Text.tokenCounts]] map (the
    * codegen'd one-pass kernel t23 uses): N/V/V1/Σm² fold over
    * map_values inside whole-stage codegen, nothing exists as rows
    * but the output (the oracle groups an exploded stream instead —
    * same integers, different plan by design). Integer stats; the two
    * ratios are fixed-shape rounded doubles (both ≥ 0: Σm² ≥ N
    * always). */
  val t29 = QueryDef(
    "t29_lexical_diversity",
    """WITH tc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |        FROM documents) u
      |  GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax,
      |  ROUND(COUNT(*) * 1.0 / CAST(SUM(c) AS BIGINT) + 1e-9, 4) AS ttr,
      |  ROUND(10000.0 * (CAST(SUM(c * c) AS BIGINT) - CAST(SUM(c) AS BIGINT))
      |      / (CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)) + 1e-9, 4)
      |    AS yule_k
      |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val vals = map_values(Text.tokenCounts(Text.tokens(col("text"))))
    Tables(spark, dir).documents
      .select(col("doc_id"),
        aggregate(vals, lit(0L), (a, v) => a + v).as("n_tokens"),
        size(vals).cast("long").as("n_types"),
        size(filter(vals, v => v === 1L)).cast("long").as("hapax"),
        aggregate(vals, lit(0L), (a, v) => a + v * v).as("sumc2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("hapax"),
        graft.QueryDef.roundBiased(
          col("n_types") * 1.0 / col("n_tokens"), 4).as("ttr"),
        graft.QueryDef.roundBiased(
          lit(10000.0) * (col("sumc2") - col("n_tokens")) /
            (col("n_tokens") * col("n_tokens")), 4).as("yule_k"))
      .orderBy(col("doc_id"))
  }

  /** t30: OOV RATE under a fixed vocabulary budget — the tokenizer-
    * rollout metric paired with t26's fertility (how much of each
    * document falls outside the top-K vocabulary, i.e. would map to
    * UNK): vocab = top-20 corpus tokens by (count DESC, token) — the
    * deterministic t06 ranking — and per doc the token count, OOV
    * count, and OOV share as integer ppm (floor division, i53's
    * convention). High-OOV documents are exactly the ones a
    * byte-fallback tokenizer inflates (t26's n_after) — curation
    * pipelines gate or re-route them.
    *
    * 100 TB shape: ONE corpus scan partial-aggs to the vocab-sized
    * count table; the top-K is a TakeOrderedAndProject collected as
    * DRIVER-HELD MODEL STATE (K strings — the s05 codebook
    * discipline) and inlined as a literal set, so the scoring pass is
    * pure per-row array arithmetic (size/filter inside codegen, zero
    * shuffle, no join). All-integer output. */
  val t30 = QueryDef(
    "t30_oov_rate",
    """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |  FROM documents),
      |vc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
      |top AS (SELECT t FROM vc ORDER BY c DESC, t LIMIT 20)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE top.t IS NULL) AS BIGINT) AS n_oov,
      |  CAST(COUNT(*) FILTER (WHERE top.t IS NULL) * 1000000 // COUNT(*)
      |    AS BIGINT) AS oov_ppm
      |FROM tok LEFT JOIN top ON tok.t = top.t
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir).documents
    // driver-held vocab (20 strings, the collect-and-inline trainer-
    // state discipline): rank fully tie-broken so the budget boundary
    // is pinned on both engines
    val vocab = docs.select(explode(Text.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(20)
      .collect().map(_.getString(0)).toSeq
    val toks = Text.tokens(col("text"))
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => !t.isInCollection(vocab)))
          .cast("long").as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("CAST((n_oov * 1000000) div n_tokens AS BIGINT)").as("oov_ppm"))
      .orderBy(col("doc_id"))
  }

  /** t31: PHRASE SEARCH — exact adjacent-bigram matching for a fixed
    * probe phrase ("spark hash"): the retrieval verb t21's inverted
    * index exists to serve (a positional index evaluates phrases by
    * intersecting postings; t31 is the scan-side ground truth such an
    * index is validated against, and the shape of a contamination
    * check for a KNOWN string): per matching doc, the hit count and
    * the first match position (1-based — the snippet offset a
    * highlighter uses).
    *
    * 100 TB shape: ZERO shuffle — the doc's 2-gram stream comes from
    * the codegen'd one-pass [[WordShinglesExpr]] kernel and the match
    * count / first position are array ops whose lambdas touch ONLY
    * the bound element (an earlier draft indexed the token array from
    * INSIDE the position lambda — a higher-order-function lambda body
    * re-evaluates captured expressions per element, turning the scan
    * O(len²) per doc: 2.8 → 0.6 s at sf0.1, 10.5 → 1.1 at ×10 after
    * this rewrite — the pitfall is now named here); only matching
    * docs survive to the presentation sort. All-integer. */
  val t31 = QueryDef(
    "t31_phrase_hits",
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |hits AS (SELECT doc_id,
      |    LIST_FILTER(RANGE(1, LEN(tk)),
      |      i -> tk[i] = 'spark' AND tk[i+1] = 'hash') AS pos
      |  FROM toks)
      |SELECT doc_id, CAST(LEN(pos) AS BIGINT) AS n_hits,
      |  CAST(pos[1] AS BIGINT) AS first_pos
      |FROM hits WHERE LEN(pos) >= 1 ORDER BY doc_id""".stripMargin) {
    (spark, dir) =>
    Tables(spark, dir).documents
      .select(col("doc_id"),
        Text.shingles(Text.tokens(col("text")), 2).as("sh"))
      .select(col("doc_id"),
        size(filter(col("sh"), s => s === "spark hash"))
          .cast("long").as("n_hits"),
        array_position(col("sh"), "spark hash").as("first_pos"))
      .filter(col("n_hits") >= 1)
      .orderBy(col("doc_id"))
  }

  /** t32: SOURCE SIMILARITY matrix — pairwise cosine between the
    * sources' token-count vectors (the corpus-composition map a
    * mixture designer reads before setting p03/p10 weights: two
    * near-identical feeds should not both get full weight, and a
    * source whose distribution sits far from every other is either
    * gold or garbage): per unordered source pair, the integer count
    * dot product and the cosine over the full shared vocabulary.
    * t15 compares two snapshots of ONE source over time; t32 compares
    * sources to EACH OTHER.
    *
    * 100 TB shape: one corpus scan partial-aggs to the (source,
    * token) count table — vocab×sources-bounded; the pair dot product
    * is a token-keyed self-join ON that bounded table (never the
    * corpus), norms² a source-sized agg broadcast back. Integer dot
    * and norms² are exact; cosine is ONE fixed-shape double
    * (non-negative — counts are) rounded on the biased grid. */
  val t32 = QueryDef(
    "t32_source_similarity",
    """WITH tc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |        FROM documents) u GROUP BY 1, 2),
      |nrm AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2
      |  FROM tc GROUP BY 1),
      |dot AS (SELECT a.source AS s1, b.source AS s2,
      |    CAST(SUM(a.c * b.c) AS BIGINT) AS dp
      |  FROM tc a JOIN tc b ON a.t = b.t AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s1, s2, dp,
      |  ROUND(dp / SQRT(CAST(n1.n2 AS DOUBLE) * CAST(n2t.n2 AS DOUBLE))
      |    + 1e-9, 4) AS cosine
      |FROM dot JOIN nrm n1 ON n1.source = s1 JOIN nrm n2t ON n2t.source = s2
      |ORDER BY s1, s2""".stripMargin) { (spark, dir) =>
    val tc = Tables(spark, dir).documents
      .select(col("source"), explode(Text.tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .persist() // vocab×sources-bounded: feeds norms AND the pair join
    val nrm = tc.groupBy(col("source")).agg(sum(col("c") * col("c")).as("n2"))
    val dot = tc.toDF("s1", "t", "c1")
      .join(tc.toDF("s2", "t", "c2"), "t")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(sum(col("c1") * col("c2")).as("dp"))
    dot
      .join(broadcast(nrm.toDF("s1", "n2a")), "s1")
      .join(broadcast(nrm.toDF("s2", "n2b")), "s2")
      .select(col("s1"), col("s2"), col("dp"),
        graft.QueryDef.roundBiased(
          col("dp") / sqrt(col("n2a").cast("double") * col("n2b").cast("double")),
          4).as("cosine"))
      .orderBy(col("s1"), col("s2"))
  }

  val all: Seq[QueryDef] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13, t14,
      t15, t16, t17, t18, t19, t20, t21, t22, t23, t24, t25, t26, t27, t28,
      t29, t30, t31, t32)
}
