package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.GraftSession.table
import graft.functions.TextFunctions._

/** Text-analysis operators for the training-data pipeline surface:
  * token statistics, quality scoring, language ID, document
  * fingerprinting. All pure column expressions over the `documents`
  * table — narrow, codegen'd, shuffle-free until the final small
  * aggregate, so they stream at scan speed over 100 TB.
  */
object TextQueries {

  /** Shared stopword lists — the SQL oracles interpolate these same
    * Scala values, so both engines score from identical lists.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "es" -> Seq("el", "los", "de", "y", "es", "en", "un", "una"),
    "fr" -> Seq("le", "les", "de", "et", "est", "un", "une", "dans"))

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  // ------------------------------------------------------- token stats
  /** GPT-2-style pretokenizer shape (simplified): letter runs, digit
    * runs, single punctuation marks — the "BPE-ish" piece count that
    * approximates subword-token budgets far better than whitespace
    * splitting on punctuation-heavy text. Same RE2/Java-compatible
    * pattern on both engines.
    */
  private val BpePieceRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** DuckDB twin of `TextFunctions.tokens` for oracle SQL: guards the
    * empty/whitespace-only document — `regexp_split_to_array(trim(''))`
    * is `['']` (one empty token) where `tokens()` is `[]`. Derived
    * ratios then agree too: 0-token docs divide 0/0, which is NULL in
    * BOTH engines (Spark non-ANSI Divide and DuckDB return NULL on a
    * zero divisor). Every token-counting oracle must use this guard or
    * a `WHERE len(trim(text)) > 0` filter (for explode-shaped queries,
    * where Spark drops the doc entirely).
    */
  private val sqlToks: String =
    "CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
      "ELSE regexp_split_to_array(trim(text), '\\s+') END"

  /** Per-document token statistics (token counting operator). */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    table(spark, sfDir, "documents").select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_uniq_tokens"),
      array_max(transform(t, x => length(x))).cast("long").as("max_token_len"),
      length(col("text")).cast("long").as("n_chars_calc"),
      size(regexp_extract_all(col("text"), lit(BpePieceRe), lit(0)))
        .cast("long").as("n_bpe_pieces"))
      .orderBy("doc_id")
  }

  def textStatsSql: String =
    s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
       |  CAST(list_max(list_transform(toks, x -> len(x))) AS BIGINT) AS max_token_len,
       |  CAST(length(text) AS BIGINT) AS n_chars_calc,
       |  CAST(len(regexp_extract_all(text, '$BpePieceRe')) AS BIGINT) AS n_bpe_pieces
       |FROM t ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- token histogram
  /** Corpus length distribution: fixed-width token-count histogram
    * (buckets of 50) with per-bucket doc counts and token totals — the
    * first chart of every corpus analysis, and the input to
    * truncation/packing decisions for a training pipeline. Integer
    * floor-division buckets are engine-exact (a log-scale bucket via
    * floor(log2(n)) is NOT: both engines compute log2 in floating
    * point and can round differently at exact powers of two).
    * One map-side-combining groupBy on a small key domain — the
    * cheapest distributed histogram shape at any scale.
    */
  def tokenHist(spark: SparkSession, sfDir: String): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    table(spark, sfDir, "documents")
      .select(n.as("n_tokens"))
      .select((expr("n_tokens div 50") * 50).as("bucket_lo"), col("n_tokens"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("bucket_lo")
  }

  def tokenHistSql: String =
    s"""WITH t AS (SELECT CAST(len($sqlToks) AS BIGINT) AS n_tokens
      |           FROM documents)
      |SELECT (n_tokens // 50) * 50 AS bucket_lo,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------- Gopher-style rules
  /** Gopher/C4-style document quality rules, each as an exact integer
    * or ratio expression: mean token length, symbol-to-token ratio
    * (# and … are the canonical boilerplate symbols), fraction of
    * lines starting with a bullet, fraction ending with an ellipsis.
    * A document passes when every rule does — the published Gopher
    * thresholds. Pure narrow expressions; the quantized mean (×10⁴
    * floor) keeps the pass/fail bit identical across engines.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val meanLenQ = floor(
      (aggregate(transform(t, x => length(x).cast("long")), lit(0L), _ + _)
        .cast("double") / nTok.cast("double")) * 10000d).cast("long")
    val nHash = size(split(col("text"), "#", -1)).cast("long") - 1
    // both ASCII '...' and the Unicode ellipsis '…' count (the
    // published rule names the symbol, dumps contain either spelling)
    val nEllipsis =
      (size(split(col("text"), "\\.\\.\\.", -1)).cast("long") - 1) +
        (size(split(col("text"), "…", -1)).cast("long") - 1)
    val lines = split(col("text"), "\n", -1)
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => trim(l).startsWith("-") || trim(l).startsWith("*")))
      .cast("long")
    val nEndEllipsis = size(filter(lines,
      l => trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("long")
    table(spark, sfDir, "documents")
      .select(col("doc_id"), nTok.as("n_tokens"), meanLenQ.as("mean_tok_len_q"),
        (nHash + nEllipsis).as("n_symbols"), nLines.as("n_lines"),
        nBullet.as("n_bullet_lines"), nEndEllipsis.as("n_ellipsis_lines"))
      .withColumn("accept",
        col("n_tokens").between(50, 100000) &&
          col("mean_tok_len_q").between(30000L, 100000L) && // mean len in [3,10]
          (col("n_symbols").cast("double") / col("n_tokens").cast("double")) < 0.1 &&
          (col("n_bullet_lines").cast("double") / col("n_lines").cast("double")) < 0.9 &&
          (col("n_ellipsis_lines").cast("double") / col("n_lines").cast("double")) < 0.3)
      .orderBy("doc_id")
  }

  def gopherRulesSql: String =
    s"""WITH t AS (SELECT doc_id, text,
      |    $sqlToks AS toks,
      |    string_split(text, chr(10)) AS lines
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(floor(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
      |      / len(toks) * 10000) AS BIGINT) AS mean_tok_len_q,
      |    CAST(len(string_split(text, '#')) - 1
      |      + len(string_split(text, '...')) - 1
      |      + len(string_split(text, '…')) - 1 AS BIGINT) AS n_symbols,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(lines, l -> starts_with(trim(l), '-')
      |      OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet_lines,
      |    CAST(len(list_filter(lines, l -> suffix(trim(l), '...')
      |      OR suffix(trim(l), '…'))) AS BIGINT) AS n_ellipsis_lines
      |  FROM t)
      |SELECT doc_id, n_tokens, mean_tok_len_q, n_symbols, n_lines,
      |  n_bullet_lines, n_ellipsis_lines,
      |  (n_tokens BETWEEN 50 AND 100000)
      |    AND (mean_tok_len_q BETWEEN 30000 AND 100000)
      |    AND (CAST(n_symbols AS DOUBLE) / n_tokens) < 0.1
      |    AND (CAST(n_bullet_lines AS DOUBLE) / n_lines) < 0.9
      |    AND (CAST(n_ellipsis_lines AS DOUBLE) / n_lines) < 0.3 AS accept
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------- within-doc repetition
  /** Within-document repetition: fraction of duplicate lines and the
    * hottest line's share — the C4 "repetitious text" filter. Narrow
    * per-row array math (no shuffle): a doc whose text is mostly one
    * repeated line scores near 1.0 on both measures.
    */
  def docRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = filter(split(col("text"), "\n", -1), l => length(trim(l)) > 0)
    val nLines = size(lines).cast("long")
    val nUniq = size(array_distinct(lines)).cast("long")
    // hottest line's occurrence count: per distinct line, count its
    // occurrences — O(L²) per doc on the (short) line list, still a
    // narrow per-row expression
    val topCount = array_max(transform(array_distinct(lines),
      d => size(filter(lines, l => l === d)).cast("long")))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), nLines.as("n_lines"), nUniq.as("n_uniq_lines"),
        topCount.as("top_count"))
      .where(col("n_lines") > 0)
      .select(col("doc_id"), col("n_lines"), col("n_uniq_lines"),
        ((col("n_lines") - col("n_uniq_lines")).cast("double") / col("n_lines").cast("double"))
          .as("dup_line_frac"),
        (col("top_count").cast("double") / col("n_lines").cast("double"))
          .as("top_line_share"))
      .orderBy("doc_id")
  }

  def docRepetitionSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(len(list_distinct(lines)) AS BIGINT) AS n_uniq_lines,
      |    CAST(list_max(list_transform(list_distinct(lines),
      |      d -> len(list_filter(lines, l -> l = d)))) AS BIGINT) AS top_count
      |  FROM t)
      |SELECT doc_id, n_lines, n_uniq_lines,
      |  CAST(n_lines - n_uniq_lines AS DOUBLE) / n_lines AS dup_line_frac,
      |  CAST(top_count AS DOUBLE) / n_lines AS top_line_share
      |FROM m WHERE n_lines > 0 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- corpus report
  /** The corpus "data card" row: doc/token/language totals, exact-dup
    * rate, and the quality-gate pass count (same accept rule as
    * [[qualityScore]]) — the one-line summary every pipeline emits
    * when a corpus ships. ONE map-side-combining aggregate over a
    * narrow projection; at 100 TB this is a single scan.
    */
  def corpusReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (nTok, nStop, nUniq) = qualityStats
    val accept = qualityAccept(nTok, nStop, nUniq)
    table(spark, sfDir, "documents")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTok).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text").cast("binary"))).as("n_uniq_texts"),
        sum(when(accept, 1L).otherwise(0L)).as("n_quality_pass"))
  }

  def corpusReportSql: String = {
    val en = sqlList(stopwords("en"))
    s"""WITH tk AS (SELECT text, lang, $sqlToks AS toks FROM documents),
       |m AS (SELECT text, lang,
       |    CAST(len(toks) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(toks,
       |      x -> list_contains($en, x))) AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
       |  FROM tk)
       |SELECT count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  count(DISTINCT lang) AS n_langs,
       |  count(DISTINCT md5(text)) AS n_uniq_texts,
       |  CAST(sum(CASE WHEN n_tok BETWEEN 10 AND 5000
       |    AND CAST(n_uniq AS DOUBLE) / n_tok > 0.1
       |    AND CAST(n_stop AS DOUBLE) / n_tok < 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
       |FROM m""".stripMargin
  }

  // ------------------------------------------------- JSONL round trip
  /** JSONL export + re-import: training pipelines hand corpora around
    * as line-delimited JSON, so the engine must write and read it
    * losslessly. Spark's native json source is splittable (newline
    * boundaries) and schema-applied on read — the same late-typing
    * discipline as the CSV path. The round trip re-aggregates to prove
    * content equality against the source table.
    */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${graft.GraftSession.fixtureRoot(sfDir)}/docs_jsonl"
    table(spark, sfDir, "documents")
      .select("doc_id", "lang", "text", "n_chars")
      .write.mode("overwrite").json(out)
    spark.read
      .schema("doc_id BIGINT, lang STRING, text STRING, n_chars BIGINT")
      .json(out)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        countDistinct(col("lang")).as("n_langs"))
  }

  def jsonlRoundtripSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |  count(DISTINCT lang) AS n_langs
      |FROM documents""".stripMargin

  // ------------------------------------------------ sequence packing
  /** Training-sequence packing: assign documents to fixed token-budget
    * packs (2048 tokens) — the step that turns a curated corpus into
    * model-ready sequences. Deterministic start-offset packing: docs
    * order by doc_id within their language, each doc's pack is
    * floor(start_offset / budget) where start_offset is the running
    * token count before it. A doc longer than the budget just spans
    * packs, like real packers truncate/continue.
    *
    * Scale: a per-language running sum as a SQL window
    * (`PARTITION BY lang ORDER BY doc_id`) would serialize every
    * document of a language through ONE reducer's sort — with an
    * en-dominant corpus that is most of 100 TB through a single task.
    * Instead this is a two-level prefix sum (the
    * [[graft.transform.RowTransform.chunkedRowId]] pattern): range-
    * partition by (lang, doc_id) so every partition holds a contiguous
    * doc_id run, take per-(partition, lang) token subtotals — a
    * driver-side collect of O(#partitions + #langs) longs, NOT data —
    * scan those into per-(partition, lang) base offsets, then a second
    * narrow pass assigns each doc `base + running-within-partition`.
    * Identical output to the window, no single-reducer stage; the input
    * is localCheckpoint'ed so both passes see the same (sampled, hence
    * nondeterministic) range partitioning.
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val budget = 2048L
    val n = size(tokens(col("text"))).cast("long")
    val stable = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), n.as("n_tokens"))
      .repartitionByRange(col("lang"), col("doc_id"))
      .sortWithinPartitions(col("lang"), col("doc_id"))
      .localCheckpoint(true)
    val rdd = stable.rdd
    // pass 1: per-(partition, lang) token subtotals — tiny
    val subtotals = rdd.mapPartitionsWithIndex { case (i, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r => val l = r.getString(1); m(l) = m.getOrElse(l, 0L) + r.getLong(2) }
      m.iterator.map { case (l, tot) => (i, l, tot) }
    }.collect().sortBy(_._1)
    // driver scan: cumulative token count of each lang BEFORE partition i
    val cum = scala.collection.mutable.Map.empty[String, Long]
    val bases: Map[(Int, String), Long] = subtotals.map { case (i, l, tot) =>
      val b = cum.getOrElse(l, 0L); cum(l) = b + tot; ((i, l), b)
    }.toMap
    val bc = spark.sparkContext.broadcast(bases)
    // pass 2: narrow — per-partition running sum seeded with the base
    val packed = rdd.mapPartitionsWithIndex { case (i, it) =>
      val off = scala.collection.mutable.Map.empty[String, Long]
      it.map { r =>
        val l = r.getString(1); val nt = r.getLong(2)
        val start = off.getOrElse(l, bc.value((i, l)))
        off(l) = start + nt
        Row(l, start / budget, nt)
      }
    }
    val schema = new StructType()
      .add("lang", StringType, nullable = false)
      .add("pack_id", LongType, nullable = false)
      .add("n_tokens", LongType, nullable = false)
    spark.createDataFrame(packed, schema)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("lang", "pack_id")
  }

  def packSequencesSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
      |    CAST(len($sqlToks) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT lang, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens AS start_off
      |  FROM t)
      |SELECT lang, CAST(start_off // 2048 AS BIGINT) AS pack_id,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- RAG chunking
  /** Overlapping token-window chunking (RAG / retrieval-index prep,
    * the other direction from [[packSequences]]): window W=128 tokens,
    * stride S=96 (32-token overlap). Chunk i of a doc starts at
    * i·S; K = 1 chunk for docs within one window, else
    * ceil((n−W)/S)+1, so every token is covered and only the last
    * chunk may be short. A narrow per-row explode — no shuffle,
    * chunking streams at scan speed at any corpus size; the ORDER BY
    * is presentation for the oracle compare.
    */
  def chunkRag(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 128L; val S = 96L
    val t = table(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("k_max", expr(
        s"CASE WHEN n <= $W THEN CAST(0 AS BIGINT) ELSE (n - $W + ${S - 1}) div $S END"))
    t.select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("k_max"))).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * S)
      .withColumn("n_chunk_tokens", least(lit(W), col("n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("n_chunk_tokens"),
        array_join(slice(col("toks"), (col("start_tok") + 1).cast("int"),
          col("n_chunk_tokens").cast("int")), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  def chunkRagSql: String =
    """WITH s AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents WHERE len(trim(text)) > 0
      |), c AS (
      |  SELECT doc_id, toks, n,
      |    unnest(generate_series(0,
      |      CASE WHEN n <= 128 THEN 0 ELSE (n - 128 + 95) // 96 END)) AS chunk_id
      |  FROM s
      |)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(chunk_id * 96 AS BIGINT) AS start_tok,
      |  CAST(least(128, n - chunk_id * 96) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(
      |    toks[(chunk_id * 96 + 1):(chunk_id * 96 + least(128, n - chunk_id * 96))],
      |    ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------- TF-IDF keywords
  /** Per-document keyword extraction, TF-IDF-style but integer-exact:
    * terms rank by (tf DESC, df ASC, term ASC) — document frequency is
    * the exact integer idf proxy (idf is monotone-decreasing in df),
    * so the ranking is hash-comparable across engines with no float
    * score. Plan shape at scale: one shuffle for tf (map-side
    * combined), one for df, an equi-join on term, and a per-doc window
    * (millions of independent doc partitions — WindowGroupLimit
    * applies, no global sort).
    */
  def tfidfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val terms = table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term").rlike("^[a-z]{3,}$"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "rnk")
  }

  def tfidfTopkSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents WHERE len(trim(text)) > 0
      |), ft AS (
      |  SELECT * FROM terms WHERE regexp_matches(term, '^[a-z]{3,}$')
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM ft GROUP BY 1, 2
      |), df AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |), r AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
      |  FROM tf JOIN df USING (term)
      |)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df
      |FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------- quality score
  /** Quality scoring: length band + stopword-density + repetition
    * filters, the standard pretraining-corpus heuristics. Ratios are
    * double divisions of exact integers — bit-identical across engines.
    */
  /** The quality rule's token-stat columns (total, stopword, unique
    * counts) and the accept predicate — ONE definition consumed by both
    * [[qualityScore]] and [[corpusReport]], so the shipped data card's
    * pass count can never drift from the per-doc gate.
    */
  private def qualityStats: (Column, Column, Column) = {
    val t = tokens(col("text"))
    val en = stopwords("en")
    (size(t).cast("long"),
      size(filter(t, x => x.isin(en: _*))).cast("long"),
      size(array_distinct(t)).cast("long"))
  }

  private def qualityAccept(nTok: Column, nStop: Column, nUniq: Column): Column =
    nTok >= 10 && nTok <= 5000 &&
      (nUniq.cast("double") / nTok.cast("double")) > 0.1 &&
      (nStop.cast("double") / nTok.cast("double")) < 0.9

  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val (nTok, nStop, nUniq) = qualityStats
    table(spark, sfDir, "documents").select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (nStop.cast("double") / nTok.cast("double")).as("stop_ratio"),
      (nUniq.cast("double") / nTok.cast("double")).as("uniq_ratio"),
      qualityAccept(nTok, nStop, nUniq).as("accept"))
      .orderBy("doc_id")
  }

  def qualityScoreSql: String = {
    val en = sqlList(stopwords("en"))
    s"""WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents)
       |SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(tk, x -> list_contains($en, x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stop_ratio,
       |  CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS uniq_ratio,
       |  (len(tk) >= 10 AND len(tk) <= 5000
       |    AND CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) > 0.1
       |    AND CAST(len(list_filter(tk, x -> list_contains($en, x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) < 0.9) AS accept
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Calibrate the quality gate to a token budget: the per-bucket
    * curve of "keep everything scoring ≥ s" — docs, tokens, and the
    * cumulative token mass from the top score down, with the
    * within-budget frontier marked. Reading the table gives the
    * threshold a curation run should set to land a target token count
    * (the gate-side complement of [[mixSample]]'s source-side budget
    * and [[tokenBudgetTrim]]'s doc-side cap). The score is the
    * quantized unique-token ratio ([[qualityStats]]' signal), so the
    * calibration can never drift from the gate it tunes.
    *
    * Scale shape: one narrow scan + a map-side-combining groupBy onto
    * a DOMAIN-bounded bucket relation (≤ 10⁴ rows at any corpus
    * size); the running sum windows over that bounded relation, never
    * the corpus — the one-reducer window is 10k rows however many
    * exabytes scored.
    */
  val CalibrateBudgetTokens = 15000L

  def qualityCalibrate(spark: SparkSession, sfDir: String): DataFrame = {
    val (nTok, _, nUniq) = qualityStats
    val buckets = table(spark, sfDir, "documents")
      .where(length(trim(col("text"))) > 0)
      .select(floor(lit(10000d) * nUniq.cast("double") / nTok.cast("double"))
        .cast("long").as("score"), nTok.as("nt"))
      .groupBy("score")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    buckets
      .withColumn("cum_tokens",
        expr("sum(n_tokens) OVER (ORDER BY score DESC)"))
      .withColumn("in_budget",
        (col("cum_tokens") <= CalibrateBudgetTokens).cast("long"))
      .orderBy(col("score").desc)
  }

  def qualityCalibrateSql: String =
    s"""WITH t AS (SELECT $sqlToks AS tk FROM documents WHERE len(trim(text)) > 0),
      |s AS (SELECT CAST(floor(10000.0 * len(list_distinct(tk)) / len(tk)) AS BIGINT) AS score,
      |    CAST(len(tk) AS BIGINT) AS nt FROM t),
      |b AS (SELECT score, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
      |  FROM s GROUP BY score)
      |SELECT score, n_docs, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY score DESC) AS BIGINT) AS cum_tokens,
      |  CAST(CASE WHEN CAST(sum(n_tokens) OVER (ORDER BY score DESC) AS BIGINT)
      |    <= ${CalibrateBudgetTokens} THEN 1 ELSE 0 END AS BIGINT) AS in_budget
      |FROM b ORDER BY score DESC""".stripMargin

  /** Curriculum bucketing: every doc tagged with its length QUARTILE
    * (0 = shortest … 3 = longest), the stratification a curriculum-
    * ordered training run samples from (easy-to-hard by length proxy).
    *
    * Exact quantiles WITHOUT a global sort: `n_chars` has a bounded
    * domain, so exact cut points fall out of a (value, count)
    * histogram — one map-side-combining groupBy onto ≤ max-doc-length
    * rows, a running sum over that bounded relation (one-reducer
    * window over the histogram, never the corpus — same shape as
    * [[qualityCalibrate]]), then a single-row cut relation broadcast
    * back over the corpus as a narrow CASE. All-integer cut logic
    * (`cum·4 ≥ q·total` — no float quantile semantics to disagree on),
    * so both engines pick identical cut points. Contrast Spark's exact
    * `percentile`, which buffers every value per group, or
    * `approx_percentile`, whose error bound an oracle can't replicate.
    */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", expr("sum(cnt) OVER (ORDER BY n_chars)"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("total"))))
    val cuts = cum.agg(
      min(when(col("cum") * 4 >= col("total"), col("n_chars"))).as("c25"),
      min(when(col("cum") * 2 >= col("total"), col("n_chars"))).as("c50"),
      min(when(col("cum") * 4 >= col("total") * 3, col("n_chars"))).as("c75"))
    docs.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_chars"),
        when(col("n_chars") <= col("c25"), 0)
          .when(col("n_chars") <= col("c50"), 1)
          .when(col("n_chars") <= col("c75"), 2)
          .otherwise(3).cast("int").as("bucket"))
      .orderBy("doc_id")
  }

  def curriculumSql: String =
    """WITH hist AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
      |c AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum FROM hist),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
      |cuts AS (SELECT
      |    min(CASE WHEN cum * 4 >= total THEN n_chars END) AS c25,
      |    min(CASE WHEN cum * 2 >= total THEN n_chars END) AS c50,
      |    min(CASE WHEN cum * 4 >= total * 3 THEN n_chars END) AS c75
      |  FROM c, t)
      |SELECT d.doc_id, d.n_chars,
      |  CAST(CASE WHEN d.n_chars <= cuts.c25 THEN 0
      |            WHEN d.n_chars <= cuts.c50 THEN 1
      |            WHEN d.n_chars <= cuts.c75 THEN 2
      |            ELSE 3 END AS INT) AS bucket
      |FROM documents d, cuts ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- lang id
  /** Language ID: distinct-stopword hit count per language, argmax with
    * fixed priority tie-break (en > de > es > fr > und). An n-gram
    * heuristic classifier — deterministic, dictionary-driven.
    */
  def langid(spark: SparkSession, sfDir: String): DataFrame = {
    val t = array_distinct(tokens(col("text")))
    def hits(l: String): Column =
      size(array_intersect(t, array(stopwords(l).map(lit): _*)))
    val scored = table(spark, sfDir, "documents").select(
      col("doc_id"),
      hits("en").as("s_en"), hits("de").as("s_de"),
      hits("es").as("s_es"), hits("fr").as("s_fr"))
    val best = greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr"))
    scored.withColumn("lang_pred",
      when(best === 0, "und")
        .when(col("s_en") === best, "en")
        .when(col("s_de") === best, "de")
        .when(col("s_es") === best, "es")
        .otherwise("fr"))
      .groupBy("lang_pred").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang_pred")
  }

  def langidSql: String = {
    def h(l: String) =
      s"len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\\s+')), ${sqlList(stopwords(l))}))"
    s"""WITH s AS (SELECT doc_id, ${h("en")} AS s_en, ${h("de")} AS s_de,
       |    ${h("es")} AS s_es, ${h("fr")} AS s_fr FROM documents),
       |p AS (SELECT doc_id, CASE
       |    WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
       |    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
       |    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
       |    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
       |    ELSE 'fr' END AS lang_pred FROM s)
       |SELECT lang_pred, count(*) AS n_docs FROM p GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  // ------------------------------------------------------- redaction
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction: emails and IPv4 literals masked with typed
    * placeholders — the scrub pass every pretraining corpus runs. Pure
    * regexp_replace chain (narrow, codegen'd). The corpus has no PII,
    * so the query plants a deterministic email + IP per document and
    * must count and mask exactly those.
    */
  def redact(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = table(spark, sfDir, "documents").select(
      col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com from 10.0."), pmod(col("doc_id"), lit(256)),
        lit(".7")).as("text"))
    planted.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).cast("long")
        .as("n_ips"),
      md5(regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>").cast("binary")).as("fp_redacted"))
      .orderBy("doc_id")
  }

  def redactSql: String =
    s"""WITH p AS (SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
       |      || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |    '$Ipv4Re', '<IP>', 'g')) AS fp_redacted
       |FROM p ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- stratified sample
  /** Per-language sampling rates (percent) — downsample the dominant
    * language, keep more of the rest: the mixture-rebalancing step of a
    * pretraining pipeline. The SQL oracle interpolates the same map.
    */
  val sampleRates: Map[String, Int] = Map(
    "en" -> 10, "de" -> 40, "es" -> 40, "fr" -> 40, "zh" -> 40)
  private val DefaultRate = 25

  /** Deterministic stratified sampling: a document is kept when
    * md5(lang:doc_id) mod 100 falls under its language's rate. Hash
    * selection (not `rand()`) makes the sample reproducible across
    * runs, partitionings and engines — resumable at 100 TB, and the
    * per-row decision is a narrow expression, so the operator is a
    * filter at scan speed followed by one small per-stratum aggregate.
    */
  /** The hash-sample keep predicate — ONE definition consumed by both
    * [[sampleStrata]] and [[curateE2e]] (and mirrored by
    * [[sampleKeepSqlPredicate]] for their oracles).
    */
  private def sampleKeep: Column = {
    val bucket = md5Long(concat_ws(":", col("lang"), col("doc_id"))) % 100
    val rate = sampleRates.foldLeft(lit(DefaultRate)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    bucket < rate
  }

  private def sampleKeepSqlPredicate: String = {
    val cases = sampleRates.toSeq.sorted
      .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 100
       |  < CASE lang $cases ELSE $DefaultRate END""".stripMargin
  }

  def sampleStrata(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .where(sampleKeep)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
      .orderBy("lang")

  def sampleStrataSql: String =
    s"""SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM documents
       |WHERE $sampleKeepSqlPredicate
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------- vocab top-k
  /** Vocabulary induction: top 20 tokens by document frequency with a
    * deterministic tie-break. Distinct-per-doc happens in the narrow
    * stage (`array_distinct` before the explode), the groupBy combines
    * map-side, and the top-k is a TakeOrdered — no global sort ever
    * materializes, which is what makes a 100 TB vocab pass feasible.
    */
  def vocabTopk(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(explode(array_distinct(tokens(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok"))
      .limit(20)

  def vocabTopkSql: String =
    """SELECT tok, count(*) AS df
      |FROM (SELECT DISTINCT doc_id, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok
      |      FROM documents WHERE len(trim(text)) > 0)
      |GROUP BY tok ORDER BY df DESC, tok LIMIT 20""".stripMargin

  // ------------------------------------------------- best-per-stratum
  /** Per-language top-5 documents by lexical diversity (distinct/total
    * token ratio, doc_id tie-break) — the "keep the best N per stratum"
    * curation step. The rank filter sits directly above the window, so
    * Spark's WindowGroupLimit rewrite turns the per-group full sort
    * into a per-partition top-k: each group keeps 5 rows before the
    * shuffle, which is what makes per-stratum selection linear at
    * corpus scale.
    */
  def bestPerLang(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val uniq = size(array_distinct(t)).cast("double") / size(t).cast("double")
    val win = Window.partitionBy("lang")
      .orderBy(col("uniq_ratio").desc, col("doc_id"))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), uniq.as("uniq_ratio"))
      .withColumn("rn", row_number().over(win).cast("long"))
      .where(col("rn") <= 5)
      .orderBy("lang", "rn")
  }

  def bestPerLangSql: String =
    s"""WITH tk AS (SELECT doc_id, lang, $sqlToks AS toks FROM documents),
      |s AS (SELECT doc_id, lang,
      |    CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE) AS uniq_ratio
      |  FROM tk),
      |r AS (SELECT doc_id, lang, uniq_ratio,
      |    row_number() OVER (PARTITION BY lang ORDER BY uniq_ratio DESC, doc_id) AS rn
      |  FROM s)
      |SELECT doc_id, lang, uniq_ratio, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 5 ORDER BY lang, rn""".stripMargin

  // ------------------------------------------------------ fingerprint
  /** Document fingerprinting: md5 over the whitespace-normalized,
    * lowercased text — the canonical form used by exact dedup.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents").select(
      col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ").cast("binary"))
        .as("fp"))
      .orderBy("doc_id")

  def fingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- winnowing
  private val WinnowK = 4 // k-gram length (tokens)
  private val WinnowW = 4 // winnowing window (k-grams)

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    * w-gram window, keep the minimum hash per window (rightmost on
    * ties), dedupe. The guarantee: any shared substring of
    * ≥ w+k-1 tokens yields at least one shared fingerprint, while
    * only ~2/(w+1) of positions are kept — position-robust partial-
    * overlap detection at a fraction of the full k-gram relation,
    * the classic primitive under plagiarism / near-dup span search.
    *
    * Scale shape: selection is entirely per-document — one narrow
    * projection of nested higher-order functions (all codegen'd, no
    * UDF), and only the SELECTED (doc_id, pos, fp) triples ever leave
    * the row. No shuffle except the presentation sort. Docs shorter
    * than k tokens have no k-gram and are absent, matching the oracle.
    *
    * Ties pick the RIGHTMOST minimal position (the paper's choice, for
    * window-to-window consistency): both engines express it as
    * max(position where hash = window-min), integer logic only.
    */
  def winnow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = WinnowW
    // k-gram fingerprints via the codegen'd modular polynomial kernel
    // (PolyHash): ~6 integer ops per character instead of an md5
    // compression per shingle, no shingle-string concatenation, and
    // exactly mirrored by integer SQL in the oracle
    val hsCol = graft.functions.PolyGramHash.polyGramHash(
      tokens(col("text")), WinnowK)
    val hs = col("hs")
    // window i (0-based over k-gram index): min of hs[i..i+w-1], at the
    // rightmost position holding it; sequence bounds keep element_at
    // in-range under ANSI. size<w degrades to one whole-array window.
    val sel = transform(
      sequence(lit(0), greatest(size(hs) - w, lit(0))),
      i => {
        val wmin = array_min(slice(hs, i + lit(1), lit(w)))
        val pos = array_max(transform(
          sequence(i + lit(1), least(i + lit(w), size(hs))),
          j => when(element_at(hs, j) === wmin, j - lit(1)).otherwise(lit(-1))))
        struct(pos.cast("long").as("pos"), wmin.as("fp"))
      })
    table(spark, sfDir, "documents")
      .select(col("doc_id"), hsCol.as("hs"))
      .where(size(hs) >= 1)
      .select(col("doc_id"), explode(array_distinct(sel)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
      .orderBy("doc_id", "pos")
  }

  /** Shared winnowing CTE chain (toks → hs → sel), ending without a
    * final SELECT so both [[winnowSql]] and [[winnowPairsSql]] splice it.
    */
  private def winnowCte: String = {
    val (k, w) = (WinnowK, WinnowW)
    // the hash stage interpolates the ONE copy of the PolyHash SQL
    // twin (graft.functions.PolyHash.thSql/gramSql) — per-token
    // modular code-point folds, then a per-gram fold, packed
    // g1·2³¹+g2, all BIGINT-safe integer ops
    s"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |th AS (SELECT doc_id, ${graft.functions.PolyHash.thSql("t")} AS th FROM toks),
       |hs AS (SELECT doc_id,
       |    list_transform(range(1, greatest(len(th) - $k + 2, 1)), j ->
       |      ${graft.functions.PolyHash.gramSql("th", "j", k)}) AS h
       |  FROM th),
       |sel AS (SELECT doc_id,
       |    list_transform(range(1, greatest(len(h) - $w + 2, 2)), i ->
       |      {'pos': list_aggregate(list_transform(range(i, least(i + $w, len(h) + 1)), j ->
       |                 CASE WHEN h[j] = list_aggregate(h[i:i+${w - 1}], 'min') THEN j - 1 ELSE -1 END), 'max'),
       |       'fp': list_aggregate(h[i:i+${w - 1}], 'min')}) AS sels
       |  FROM hs WHERE len(h) >= 1)""".stripMargin
  }

  def winnowSql: String =
    s"""WITH $winnowCte
       |SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos, s.fp AS fp
       |FROM sel, UNNEST(sels) AS u(s)
       |ORDER BY doc_id, pos""".stripMargin

  private val WinnowDfCap = 50L  // boilerplate fingerprints never pair
  private val WinnowMinShared = 2L

  /** Cross-document overlap candidates from the winnowing fingerprints:
    * doc pairs sharing ≥ [[WinnowMinShared]] selected fingerprints —
    * each shared fingerprint witnesses a shared ≥ k-token run, so the
    * pair list is the span-overlap candidate set a plagiarism / near-
    * dup pipeline verifies (the guarantee direction: any shared run of
    * ≥ w+k−1 tokens is CAUGHT by at least one shared fingerprint).
    *
    * Scale: the pair generator is an equi-join on fp, and fingerprints
    * carried by more than [[WinnowDfCap]] docs are dropped first (the
    * [[DedupQueries]] DfCap discipline — ubiquitous boilerplate grams
    * would otherwise contribute df² pair rows while witnessing nothing
    * distinctive). Fanout is bounded by cap² per fingerprint; no
    * all-pairs join anywhere.
    */
  /** Pair candidates from a materialized distinct (doc_id, fp)
    * relation — shared by [[winnowPairs]] and [[winnowAlign]] so the
    * candidate definition cannot drift between them.
    */
  /** Fingerprints under the document-frequency cap — boilerplate
    * grams neither pair nor align.
    */
  private def rareWinnowFps(fps: DataFrame): DataFrame =
    fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") <= WinnowDfCap).select("fp")

  private def winnowPairsFrom(fps: DataFrame): DataFrame = {
    // r19 audit: an explicit fp-keyed repartition here (the DedupQueries
    // spreadByH pattern) was measured and REJECTED — interleaved A/B
    // read 1.22x WORSE on q_winnow_pairs in both rounds
    // (BENCH_r19 ab_new vs ab_old artifacts). Unlike the dedup sites,
    // `fps` arrives eagerly checkpointed at the winnow query's full
    // width, so the df-capped self-join below already runs parallel off
    // the checkpoint blocks and the extra exchange is pure cost.
    val rf = fps.join(rareWinnowFps(fps), Seq("fp"), "left_semi")
    rf.as("a").join(rf.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= WinnowMinShared)
  }

  /** Distinct (doc, fp) pairs, materialized eagerly (the
    * [[DedupQueries]] candidate discipline): the df count, the semi
    * filter, and BOTH self-join sides read it, and an unmaterialized
    * plan would re-run the md5+selection chain per reference —
    * ~16 bytes/fingerprint, a corpus-scale-safe residue. (The same
    * fingerprint can win several windows at different positions; a
    * pair must count it once, hence the distinct.)
    */
  def winnowPairs(spark: SparkSession, sfDir: String): DataFrame =
    winnowPairsFrom(
      winnow(spark, sfDir).select("doc_id", "fp").distinct()
        .localCheckpoint(true))
      .orderBy("doc_a", "doc_b")

  /** The verify/locate stage over [[winnowPairs]]' candidates: for
    * every candidate pair, each shared fingerprint with BOTH
    * positions — the alignment table a plagiarism/overlap report
    * renders (doc_a's token offset against doc_b's for every shared
    * ≥ k-token run). The full positioned relation materializes ONCE
    * and feeds the candidate generator and both alignment sides; all
    * joins are equi-joins on (doc, fp), output bounded by
    * pairs × positions-per-fingerprint.
    */
  def winnowAlign(spark: SparkSession, sfDir: String): DataFrame = {
    val pos = winnow(spark, sfDir).localCheckpoint(true) // doc_id, pos, fp
    // r18: fps feeds THREE consumers (both candidate self-join sides
    // and the df cap) — materialized once like pos, the repeated
    // distinct-aggregate subtrees (one exchange each) collapse to
    // block reads (guide §2.4)
    val fps = pos.select("doc_id", "fp").distinct().localCheckpoint(true)
    val pairs = winnowPairsFrom(fps).select("doc_a", "doc_b")
    // alignment rides the SAME df-capped fingerprint set the candidate
    // generator used
    val rfPos = pos.join(rareWinnowFps(fps), Seq("fp"), "left_semi")
    val a = rfPos.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("fp"))
    val b = rfPos.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("fp"))
    pairs.join(a, "doc_a").join(b, Seq("doc_b", "fp"))
      .select(col("doc_a"), col("doc_b"), col("fp"), col("pos_a"), col("pos_b"))
      .orderBy("doc_a", "doc_b", "fp", "pos_a", "pos_b")
  }

  def winnowPairsSql: String =
    s"""WITH $winnowCte,
       |fps AS (SELECT DISTINCT doc_id, s.fp AS fp
       |  FROM sel, UNNEST(sels) AS u(s)),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $WinnowDfCap),
       |rf AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM rf a JOIN rf b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  def winnowAlignSql: String =
    s"""WITH $winnowCte,
       |pos AS (SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos, s.fp AS fp
       |  FROM sel, UNNEST(sels) AS u(s)),
       |fps AS (SELECT DISTINCT doc_id, fp FROM pos),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $WinnowDfCap),
       |rf AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp)),
       |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rf a JOIN rf b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared),
       |rpos AS (SELECT pos.doc_id, pos.pos, pos.fp FROM pos JOIN rare USING (fp))
       |SELECT prs.doc_a, prs.doc_b, a.fp AS fp,
       |  a.pos AS pos_a, b.pos AS pos_b
       |FROM prs
       |JOIN rpos a ON a.doc_id = prs.doc_a
       |JOIN rpos b ON b.doc_id = prs.doc_b AND b.fp = a.fp
       |ORDER BY doc_a, doc_b, fp, pos_a, pos_b""".stripMargin

  // ------------------------------------------------- mixture weights
  /** Training-mixture weights per source with temperature-style
    * upsampling: weight ∝ √tokens (α = 0.5), the rebalancing used for
    * multilingual/multi-domain pretraining mixes (low-resource strata
    * get more than their raw share). α = 0.5 is deliberate: IEEE 754
    * requires sqrt be exactly rounded, so Spark and the oracle compute
    * bit-identical weights, where a pow(x, 0.3) could differ in the
    * last ulp between libm implementations. The √ is quantized to
    * integer micro-units before the normalizing sum so the total is
    * exact int arithmetic (a double sum would depend on reduce order).
    *
    * One groupBy over the corpus + a broadcast of the 1-row total:
    * scan-speed at 100 TB.
    */
  /** Per-source doc/token mass and the √-temperature quantity q — ONE
    * definition consumed by [[mixtureWeights]] and [[mixSample]] (SQL
    * twin: [[sourceStatsCtes]]), so the weights a run reports and the
    * mix it materializes can never disagree on the temperature.
    */
  private def sourceTokenStats(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("q", floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))

  private def sourceStatsCtes: String =
    """per AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |q AS (SELECT source, n_docs, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS qv
      |  FROM per),
      |t AS (SELECT CAST(sum(qv) AS BIGINT) AS qt FROM q)""".stripMargin

  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val per = sourceTokenStats(table(spark, sfDir, "documents"))
    val total = per.agg(sum("q").as("qt"))
    val w = col("q").cast("double") / col("qt").cast("double")
    per.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        w.as("weight"),
        floor(w * 100000d).cast("long").as("target_per_100k"))
      .orderBy("source")
  }

  def mixtureWeightsSql: String =
    s"""WITH $sourceStatsCtes
      |SELECT source, n_docs, n_tokens,
      |  CAST(qv AS DOUBLE) / CAST(qt AS DOUBLE) AS weight,
      |  CAST(floor(CAST(qv AS DOUBLE) / CAST(qt AS DOUBLE) * 100000) AS BIGINT) AS target_per_100k
      |FROM q, t ORDER BY source""".stripMargin

  private val UniMaxBudget = 50000L
  private val UniMaxCap = 2L

  /** UniMax mixture allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): distribute a token budget across sources as
    * uniformly as possible subject to a per-source epoch cap — small
    * sources contribute at most [[UniMaxCap]] epochs of their data,
    * the rest of the budget splits evenly over the larger sources.
    * The published alternative to [[mixtureWeights]]' temperature
    * sampling (no source is oversampled past the cap, no source is
    * starved below the even share).
    *
    * Water-filling in closed form, all-integer: sources ascend by
    * token mass; the breakpoint k is the first rank whose capped mass
    * c·t exceeds the running fair share (B − c·T_prev) div (remaining
    * sources); ranks below k allocate c·t, ranks ≥ k split the budget
    * remainder evenly with the mod going to the largest sources — a
    * spec pins this closed form equal to the sequential fair-share
    * loop. Scale shape: one map-side-combining groupBy onto the
    * bounded per-source relation; every window below ranges over
    * ≤ #sources rows, never the corpus (the [[qualityCalibrate]]
    * bounded-relation discipline).
    */
  def unimax(spark: SparkSession, sfDir: String,
      b: Long = UniMaxBudget, c: Long = UniMaxCap): DataFrame = {
    val per = table(spark, sfDir, "documents").groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    per
      .withColumn("rn", expr("cast(row_number() over (order by n_tokens, source) as bigint)"))
      .withColumn("n", expr("cast(count(1) over () as bigint)"))
      .withColumn("tprev", expr(
        s"""cast(coalesce(sum($c * n_tokens) over (order by n_tokens, source
           |  rows between unbounded preceding and 1 preceding), 0) as bigint)""".stripMargin))
      .withColumn("capped", expr(s"$c * n_tokens > ($b - tprev) div (n - rn + 1)"))
      .withColumn("k", expr("min(case when capped then rn end) over ()"))
      .withColumn("basek", expr(s"max(case when rn = k then $b - tprev end) over ()"))
      .select(col("source"), col("n_docs"), col("n_tokens"), expr(
        s"""cast(case when k is null or rn < k then $c * n_tokens
           |  else basek div (n - k + 1)
           |       + (case when rn > n - basek % (n - k + 1) then 1 else 0 end)
           |  end as bigint)""".stripMargin).as("alloc_tokens"))
      .orderBy("source")
  }

  def unimaxSql: String = {
    val (b, c) = (UniMaxBudget, UniMaxCap)
    s"""WITH per AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |r AS (SELECT source, n_docs, n_tokens,
       |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS rn,
       |    CAST(count(*) OVER () AS BIGINT) AS n,
       |    CAST(coalesce(sum($c * n_tokens) OVER (ORDER BY n_tokens, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tprev
       |  FROM per),
       |f AS (SELECT *, ($c * n_tokens > ($b - tprev) // (n - rn + 1)) AS capped FROM r),
       |kk AS (SELECT *, min(CASE WHEN capped THEN rn END) OVER () AS k FROM f),
       |bb AS (SELECT *, max(CASE WHEN rn = k THEN $b - tprev END) OVER () AS basek FROM kk)
       |SELECT source, n_docs, n_tokens,
       |  CAST(CASE WHEN k IS NULL OR rn < k THEN $c * n_tokens
       |       ELSE basek // (n - k + 1)
       |            + CASE WHEN rn > n - basek % (n - k + 1) THEN 1 ELSE 0 END
       |  END AS BIGINT) AS alloc_tokens
       |FROM bb ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------- BPE pairs
  /** One BPE-training iteration: the top-20 most frequent adjacent
    * character pairs inside words, weighted by occurrence — the merge
    * candidates a byte-pair tokenizer trainer would fuse first. Full
    * training iterates this count-and-merge; each iteration is exactly
    * this shape: a narrow double explode (word, then its len−1 pairs),
    * a map-side-combining groupBy, and a TakeOrdered top-k — no global
    * sort, no join, linear in corpus characters.
    */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pairsOf = when(length(col("w")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2))))
    table(spark, sfDir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .select(explode(pairsOf).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)
  }

  def bpePairsSql: String =
    """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents WHERE len(trim(text)) > 0),
      |p AS (SELECT unnest(list_transform(range(1, len(w)),
      |    i -> substr(w, CAST(i AS INT), 2))) AS pair FROM w)
      |SELECT pair, count(*) AS pair_count
      |FROM p GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  // -------------------------------------------- unigram commonness
  /** Unigram-frequency quality proxy (the integer-exact stand-in for a
    * CCNet-style LM perplexity score): per doc, the mean corpus
    * frequency of its tokens, in parts-per-million of a token. Rare-
    * token documents (garbled text, codes, boilerplate IDs) score low;
    * stopword soup scores high — both tails are what a quality gate
    * cuts. log-prob would be the classical form, but libm log is not
    * exactly rounded and engines could disagree in the last ulp; mean
    * frequency ranks documents identically for gating purposes and is
    * exact integer arithmetic (products stay < 2⁵³).
    *
    * Scale shape: one explode, one map-side-combining vocab count, one
    * equi-join back on the token (both sides hash-partition on `tok`;
    * AQE broadcasts the vocab side when it is small), one per-doc
    * aggregate. No driver-side state — the vocab never collects.
    */
  def unigramQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    toks.join(vocab, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        floor(lit(1000000d) * sum(col("cnt")) / count(lit(1)))
          .cast("long").as("commonness_ppm"))
      .orderBy("doc_id")
  }

  def unigramQualitySql: String =
    """WITH e AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents WHERE len(trim(text)) > 0),
      |c AS (SELECT tok, count(*) AS cnt FROM e GROUP BY tok)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(floor(1000000.0 * CAST(sum(cnt) AS BIGINT) / count(*)) AS BIGINT) AS commonness_ppm
      |FROM e JOIN c USING (tok) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- curation pipeline
  /** The full curation chain composed end-to-end — quality gate → exact
    * dedup (keep min doc_id per text) → deterministic stratified sample
    * → per-language data card. Every stage reuses the SINGLE shared
    * rule definition of its standalone operator ([[qualityAccept]],
    * [[sampleKeep]]), so this pipeline can never drift from the
    * per-operator gates.
    *
    * Scale shape: the quality gate and sample predicate are narrow
    * filters at scan speed; dedup is one min(struct) groupBy on the
    * text hash (map-side combine, no skewed reducer — the struct
    * reduces per partition before the shuffle); the report is one small
    * aggregate. Two shuffles over the filtered corpus, total.
    */
  def curateE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val (nTok, nStop, nUniq) = qualityStats
    val scored = table(spark, sfDir, "documents")
      .where(qualityAccept(nTok, nStop, nUniq))
      .select(col("doc_id"), col("lang"), nTok.as("n_tokens"),
        md5(col("text").cast("binary")).as("fp"))
    val deduped = scored
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        col("r.n_tokens").as("n_tokens"))
    deduped
      .where(sampleKeep)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_ids"),
        sum("n_tokens").as("sum_tokens"))
      .orderBy("lang")
  }

  def curateE2eSql: String = {
    val en = sqlList(stopwords("en"))
    s"""WITH t AS (SELECT doc_id, lang, md5(text) AS fp,
       |    regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents),
       |a AS (SELECT doc_id, lang, fp, CAST(len(tk) AS BIGINT) AS n_tokens
       |  FROM t
       |  WHERE len(tk) >= 10 AND len(tk) <= 5000
       |    AND CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) > 0.1
       |    AND CAST(len(list_filter(tk, x -> list_contains($en, x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) < 0.9),
       |d AS (SELECT doc_id, lang, n_tokens,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |  FROM a),
       |s AS (SELECT doc_id, lang, n_tokens FROM d
       |  WHERE rn = 1 AND $sampleKeepSqlPredicate)
       |SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM s GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------ eval split / trim
  /** Deterministic 80/10/10 train/val/test split by content-free id
    * hash — reproducible across runs, partitionings, and engines
    * (md5 of the decimal id string; the first 16 bits mod 10 pick the
    * bucket). A narrow expression + one small combining aggregate:
    * scan speed at any scale, and a document's split never changes
    * when the corpus grows — the property that keeps eval sets stable
    * across dataset versions.
    */
  def evalSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4),
      16, 10).cast("long") % 10)
    val split = when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), split.as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang", "split")
  }

  def evalSplitSql: String =
    """WITH s AS (SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 AS b
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Token-budget truncation (context-window prep): cap every document
    * at 64 tokens, reporting kept/trimmed counts and the md5 of the
    * kept text so the truncation itself — not just the arithmetic —
    * is cross-engine exact. Pure narrow expressions at scan speed.
    */
  def tokenBudgetTrim(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("long")
    val kept = least(n, lit(64L))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), n.as("n_tokens"), kept.as("n_kept"),
        (n - kept).as("n_trimmed"),
        md5(array_join(slice(t, 1, 64), " ").cast("binary")).as("kept_md5"))
      .orderBy("doc_id")
  }

  def tokenBudgetTrimSql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(least(len(toks), 64) AS BIGINT) AS n_kept,
       |  CAST(len(toks) - least(len(toks), 64) AS BIGINT) AS n_trimmed,
       |  md5(array_to_string(toks[1:64], ' ')) AS kept_md5
       |FROM t ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus version diff
  /** Corpus-version diff — the release audit every dataset refresh
    * ships: which documents were added / removed / changed / unchanged
    * between two snapshot versions, as per-class counts plus an id
    * checksum. V2 is derived deterministically from V1 inside the
    * query (every 10th doc removed, every 7th rewritten, five new ids
    * appended) so both engines diff identical snapshots.
    *
    * Scale shape: each side reduces to (doc_id, 16-byte fingerprint)
    * at scan speed; ONE full-outer sort-merge join on the id and a
    * map-side-combining class aggregate. Linear in corpus size, no
    * wide rows past the scan.
    */
  def corpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val v1 = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val v2 = docs.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).cast("binary")).as("fp"))
      .unionByName(spark.range(1, 6).select(
        (col("id") + 10000000L).as("doc_id"),
        md5(concat(lit("new doc "), col("id").cast("string")).cast("binary")).as("fp")))
    v1.as("a").join(v2.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(
        when(col("a.doc_id").isNull, "added")
          .when(col("b.doc_id").isNull, "removed")
          .when(col("a.fp") =!= col("b.fp"), "changed")
          .otherwise("unchanged").as("class"),
        coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"))
      .groupBy("class")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy("class")
  }

  def corpusDiffSql: String =
    """WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |v2 AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
      |  FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT i + 10000000, md5('new doc ' || CAST(i AS VARCHAR)) FROM range(1, 6) t(i)),
      |j AS (SELECT
      |    CASE WHEN v1.doc_id IS NULL THEN 'added'
      |         WHEN v2.doc_id IS NULL THEN 'removed'
      |         WHEN v1.fp <> v2.fp THEN 'changed'
      |         ELSE 'unchanged' END AS class,
      |    coalesce(v1.doc_id, v2.doc_id) AS doc_id
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT class, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM j GROUP BY class ORDER BY class""".stripMargin

  // ------------------------------------------- cross-corpus line dedup
  /** C4-style duplicated-line removal: a line (≥10 chars trimmed)
    * appearing in ≥3 DISTINCT documents is boilerplate (nav bars,
    * license headers, cookie banners) and is dropped from every
    * document that carries it. The corpus's documents are single-line,
    * so the page structure web text would arrive with is synthesized
    * deterministically in-query: every doc gets a corpus-wide header
    * line, and even-id docs a per-source footer — giving the df pass
    * two distinct hot populations (df=500 and df≈5) above unique body
    * lines. Emits the per-document rewrite ledger (total/kept/dropped
    * line counts).
    *
    * Scale shape: one narrow line explode; every shuffle and join key
    * is the line's 56-bit md5 fingerprint, not the line text — 8 bytes
    * per row reach the df groupBy and the rewrite join, never the full
    * line (web lines are unbounded; license blocks run KBs). The hot
    * set is SMALL by construction (only fingerprints crossing the df
    * threshold; AQE broadcasts it) and the per-doc ledger is a
    * combining count. No per-doc sets, no self-join — linear at
    * 100 TB.
    *
    * The 56-bit key is a deliberate tradeoff (same as [[DedupQueries]]'
    * SimHash band keys), NOT free: at d distinct lines, ~d²/2^57
    * unique↔hot collision pairs each misclassify one rare line as
    * boilerplate — at d = 1e11 (100 TB of web pages) that is ~7e4
    * wrongly-dropped lines, a ~1e-6 fraction of documents with an
    * off-by-one ledger. Acceptable for corpus cleaning (C4 drops these
    * lines heuristically anyway); a compliance-grade rewrite should
    * widen the key to the full 128-bit md5 at 2× shuffle width.
    */
  def lineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val page = concat(
      lit("COMMON SITE HEADER NAVIGATION\n"), col("text"),
      when(col("doc_id") % 2 === 0,
        concat(lit("\nfooter boilerplate of "), col("source"))).otherwise(lit("")))
    val lines = table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(split(page, "\n", -1)).as("line"))
      .select(col("doc_id"), md5Long(col("line")).as("lh"),
        (length(trim(col("line"))) >= 10).as("eligible"))
    val hot = lines
      .where(col("eligible"))
      .groupBy("lh").agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= 3)
      .select(col("lh"), lit(1).as("hot"))
    lines.join(hot, Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("hot"), lit(0))).as("n_dropped"))
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - col("n_dropped")).as("n_kept"), col("n_dropped"))
      .orderBy("doc_id")
  }

  def lineDedupSql: String =
    """WITH p AS (SELECT doc_id,
      |    'COMMON SITE HEADER NAVIGATION' || chr(10) || text ||
      |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'footer boilerplate of ' || source
      |         ELSE '' END AS page
      |  FROM documents),
      |l AS (SELECT doc_id,
      |    CAST('0x' || substr(md5(line), 1, 14) AS BIGINT) AS lh,
      |    len(trim(line)) >= 10 AS eligible
      |  FROM (SELECT doc_id, unnest(string_split(page, chr(10))) AS line FROM p)),
      |c AS (SELECT lh FROM l WHERE eligible
      |  GROUP BY lh HAVING count(DISTINCT doc_id) >= 3),
      |m AS (SELECT l.doc_id, CASE WHEN c.lh IS NOT NULL THEN 1 ELSE 0 END AS hot
      |  FROM l LEFT JOIN c ON l.lh = c.lh)
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(count(*) - sum(hot) AS BIGINT) AS n_kept,
      |  CAST(sum(hot) AS BIGINT) AS n_dropped
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** WITHIN-document repeated-line removal — the REWRITE face of
    * repetition trimming ([[lineDedup]] is the cross-corpus audit):
    * keep the FIRST occurrence of every line inside each document and
    * reconstruct the cleaned text in original order, the classic
    * within-page dedup of web-text curation. Scale shape: a PURE
    * narrow pass — split to a lines array, keep element i iff its
    * first array position is i (higher-order `filter` with index, no
    * explode, no shuffle, no window), rejoin. The fixture doubles each
    * document (`text\ntext`) so every line is repeated at least once
    * and real within-text repeats stack on top; the rebuilt text ships
    * as its md5 so the exact reconstruction is pinned compactly.
    */
  def lineDedupDoc(spark: SparkSession, sfDir: String): DataFrame = {
    val page = concat(col("text"), lit("\n"), col("text"))
    val lines = split(page, "\n", -1)
    val kept = filter(lines, (l, i) => array_position(lines, l) === i + 1)
    table(spark, sfDir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        md5(array_join(kept, "\n").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  def lineDedupDocSql: String =
    """WITH p AS (SELECT doc_id, text || chr(10) || text AS page
      |  FROM documents WHERE text IS NOT NULL),
      |t AS (SELECT doc_id, string_split(page, chr(10)) AS lines FROM p),
      |e AS (SELECT doc_id, i, lines[i] AS line, len(lines) AS n_lines
      |  FROM t, UNNEST(range(1, len(lines) + 1)) AS r(i)),
      |f AS (SELECT doc_id, i, line, n_lines,
      |    min(i) OVER (PARTITION BY doc_id, line) AS fi FROM e)
      |SELECT doc_id,
      |  CAST(max(n_lines) AS BIGINT) AS n_lines,
      |  CAST(count(*) FILTER (WHERE i = fi) AS BIGINT) AS n_kept,
      |  md5(string_agg(line, chr(10) ORDER BY i) FILTER (WHERE i = fi)) AS clean_md5
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- conjunctive search
  /** Conjunctive (AND) term search with exact-tf ranking — the boolean
    * retrieval primitive under corpus exploration tools: documents
    * containing EVERY query term, ranked by total term frequency with
    * a doc_id tie-break, top 20. Integer-exact end to end.
    *
    * Scale shape: the explode filters to the query's terms at scan
    * speed (predicate on the token — a tiny IN list), so the groupBy
    * only ever shuffles rows for matching terms; the AND is a
    * count-distinct-terms == K filter on the combined aggregate, and
    * the top-k is a TakeOrdered. On the bucketed layouts the same
    * probe reads only the terms' buckets ([[SimilarityQueries]]'
    * pattern); here the filter-first explode keeps it linear.
    */
  val SearchTerms: Seq[String] = Seq("spark", "merge")

  def searchTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = SearchTerms
    val hits = table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .where(col("tok").isin(terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_terms"),
        count(lit(1)).as("total_tf"))
      .where(col("n_terms") === terms.size)
    hits.select(col("doc_id"), col("total_tf"))
      .orderBy(col("total_tf").desc, col("doc_id"))
      .limit(20)
  }

  def searchTopkSql: String = {
    val terms = sqlList(SearchTerms)
    val k = SearchTerms.size
    s"""WITH e AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents WHERE len(trim(text)) > 0),
       |h AS (SELECT doc_id, count(DISTINCT tok) AS n_terms, count(*) AS total_tf
       |  FROM e WHERE list_contains($terms, tok) GROUP BY doc_id)
       |SELECT doc_id, CAST(total_tf AS BIGINT) AS total_tf
       |FROM h WHERE n_terms = $k
       |ORDER BY total_tf DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------- standing inverted index
  /** The retrieval stack's SERVING layout: a (term → postings) parquet
    * tree partitioned by a term-hash bucket, so a query for k terms
    * reads k bucket directories at the file listing instead of
    * re-tokenizing the corpus — the difference between an analytics
    * pass and a serving path at 100 TB. Postings carry everything a
    * scorer needs (tf, the doc length for BM25's normalization, and
    * 1-based token positions for phrase queries), the classic
    * self-contained impact-style posting entry. Same standing-layout
    * discipline as [[DedupQueries.simhashLayout]]: built once per
    * corpus, staleness-checked against the source parquet, warmed by
    * Bench so probes measure the read, not the build.
    */
  private val InvIndexVersion = 2 // v2: content-stamp marker

  private[graft] val InvIndexDir = s"invindex_v$InvIndexVersion"
  private val InvIndexBuckets = 64

  /** CRC32-based term bucket — the one hash both the Spark builtin
    * (`crc32`, build side) and the plain JVM (driver-side probe
    * pruning) compute identically.
    */
  private[operators] def termBucket(t: String): Int = {
    val c = new java.util.zip.CRC32()
    c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, InvIndexBuckets.toLong).toInt
  }

  private[operators] def invIndexLayout(spark: SparkSession, sfDir: String): String = {
    val layout =
      s"${graft.GraftSession.fixtureRoot(sfDir)}/$InvIndexDir"
    graft.GraftSession.ensureLayout(spark, layout, s"$sfDir/documents.parquet") {
      // a rebuild is a new corpus snapshot — any streaming-maintenance
      // batch marker from the previous snapshot is void, and so is a
      // crashed compaction's staging tree (its manifest would
      // otherwise merge OLD-corpus postings into the fresh layout)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(layout, "_LAST_BATCH"))
      graft.GraftSession.deleteRec(
        java.nio.file.Paths.get(s"$layout/postings_compacting"))
      // tombstones are void too: they hid docs of the PREVIOUS corpus
      // snapshot; the rebuild follows the source, and a source still
      // carrying the docs needs the forget re-issued (the serving-side
      // forget is the complement of the table-level purge, not its
      // substitute)
      graft.GraftSession.deleteRec(
        java.nio.file.Paths.get(s"$layout/tombstones"))
      val base = table(spark, sfDir, "documents")
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
      base.select(col("doc_id"), col("dl"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
        .groupBy("tok", "doc_id", "dl")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos") + 1)).as("positions"))
        .withColumn("tb", pmod(crc32(col("tok")), lit(InvIndexBuckets)).cast("int"))
        // pre-shuffle on the partition key: each bucket directory is
        // written by one task, ≤ one file per bucket instead of
        // tasks × buckets fragments
        .repartition(col("tb"))
        .write.partitionBy("tb").mode("overwrite").parquet(s"$layout/postings")
      // stats derive from the WRITTEN postings (every base doc has ≥1
      // token, so n_docs = distinct doc_id; Σtf = Σdl) — one compact
      // index read instead of a second full corpus tokenization pass
      spark.read.parquet(s"$layout/postings")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          sum(col("tf")).as("t_tokens"))
        .coalesce(1).write.mode("overwrite").parquet(s"$layout/stats")
    }
    layout
  }

  /** Pre-build the standing layouts (Bench warm-up counterpart of the
    * simhash/ANN layout warms).
    */
  def warmLayouts(spark: SparkSession, sfDir: String): Unit = {
    invIndexLayout(spark, sfDir)
    langStats.seed(spark, sfDir)
    scriptStats.seed(spark, sfDir)
    lenStats.seed(spark, sfDir)
    tokStats.seed(spark, sfDir)
    ()
  }

  /** Incremental index maintenance — the [[SimilarityQueries
    * .ivfPqAppend]] sibling for the TEXT index: tokenize ONLY the new
    * documents and append their postings into the standing bucket
    * directories, plus a stats DELTA partial (readers SUM the relation
    * — [[indexStats]] — so N appenders never race a read-add-write).
    * Bit-equal to a from-scratch rebuild of the union corpus
    * (spec-pinned) because posting rows are per (tok, doc) and
    * appended doc_ids are new — the production path keeps the serving
    * index ahead of the batch corpus snapshot without ever
    * re-tokenizing what already landed. Commits through
    * [[graft.GraftSession.commitAppend]] (`tag` = its tagged form), so
    * any number of appenders, forgets and compactions may run beside
    * it. Caller contract (ivfPqAppend's too): `newDocs` carries
    * doc_ids not yet indexed; the layout's rebuild stays one-writer.
    *
    * BOTH legs stage fully before ANY move: a crash mid-staging
    * commits nothing. The moves then go stats-FIRST — the remaining
    * crash window (stats moved, postings not) leaves the index
    * UNDER-counting postings against slightly over-counted
    * n_docs/t_tokens, which only deflates BM25 scores for the missing
    * docs; a postings-first order would leave docs SERVEABLE with
    * idf/avgdl computed from stats that never saw them.
    */
  def invIndexAppend(spark: SparkSession, sfDir: String,
      newDocs: DataFrame, tag: Option[String] = None): String = {
    val layout = invIndexLayout(spark, sfDir) // ensure the base exists
    val (base, rows) = postingRowsOf(newDocs)
    val (dn, dt) = statsDeltaOf(base)
    import spark.implicits._
    graft.GraftSession.commitAppend(layout, tag)(
      s"$layout/stats" ->
        Seq((dn, dt)).toDF("n_docs", "t_tokens").coalesce(1).write,
      s"$layout/postings" ->
        rows.repartition(col("tb")).write.partitionBy("tb"))
    layout
  }

  /** The one tokenize-and-group definition shared by the append and
    * (shape-wise) the build: returns (tokenized base, posting rows).
    */
  private def postingRowsOf(newDocs: DataFrame): (DataFrame, DataFrame) = {
    val base = newDocs
      .where(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val rows = base.select(col("doc_id"), col("dl"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .groupBy("tok", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos") + 1)).as("positions"))
      .withColumn("tb", pmod(crc32(col("tok")), lit(InvIndexBuckets)).cast("int"))
    (base, rows)
  }

  /** The stats DELTA row for an append batch. sum() over zero rows is
    * NULL — coalesce so a batch of all-blank docs is a clean (0, 0)
    * partial instead of an NPE that kills the caller (incl. the
    * streaming maintenance query, whose !isEmpty guard doesn't cover
    * this).
    */
  private def statsDeltaOf(base: DataFrame): (Long, Long) = {
    val d = base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("t")).head
    (d.getLong(0), d.getLong(1))
  }

  /** foreachBatch-idempotent append — the streaming maintenance
    * entrypoint. foreachBatch is at-least-once on failure recovery: a
    * replayed batch would re-append the same postings and double-add
    * stats. The standard remedy: record the last APPLIED batchId
    * beside the layout and skip any batch at or below it (batchIds are
    * monotonic within one checkpointed query). Returns whether the
    * batch was applied. A full index rebuild clears the marker (the
    * corpus snapshot changed); pointing a NEW checkpoint at an
    * already-maintained layout requires clearing it too — same
    * contract as every foreachBatch-idempotence marker.
    */
  def invIndexAppendOnce(spark: SparkSession, sfDir: String,
      newDocs: DataFrame, batchId: Long): Boolean =
    graft.GraftSession.appliedOnce(java.nio.file.Paths.get(
      invIndexLayout(spark, sfDir), "_LAST_BATCH"), batchId) {
      invIndexAppend(spark, sfDir, newDocs)
    }

  /** Whether a standing inverted index exists for `sfDir` — the guard
    * an OPERATIONAL caller (Ctl index-compact) wants: compaction of a
    * present-but-stale layout refreshes it first by design, but a
    * missing layout should report "nothing to compact" instead of
    * silently running a full index build.
    */
  def invIndexPresent(sfDir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${graft.GraftSession.fixtureRoot(sfDir)}/$InvIndexDir/postings"))

  /** Last applied maintenance batch id for the standing inverted
    * index, −1 = no streamed appends ever committed — the
    * `GET /forget/lag` read for this layout ([[graft.GraftSession
    * .lastBatchIn]] semantics: a corrupt marker fails loudly).
    * Direct path read: a lag probe must not build a layout.
    */
  def invIndexAppendLag(sfDir: String): Long =
    graft.GraftSession.lastBatchIn(
      s"${graft.GraftSession.fixtureRoot(sfDir)}/$InvIndexDir")

  /** Deletion tombstones standing on the index (hidden but not yet
    * physically deleted — the next [[invIndexCompact]] retires them).
    * Reads the path directly: a review counter must not BUILD a
    * missing or stale layout.
    */
  def invIndexPendingForgets(spark: SparkSession, sfDir: String): Long =
    graft.GraftSession.tombstonesIn(spark, java.nio.file.Paths.get(
        s"${graft.GraftSession.fixtureRoot(sfDir)}/$InvIndexDir",
        "tombstones"), "doc_id")
      .map(_.count()).getOrElse(0L)

  /** Standing-layout compaction — the D6 sibling for the index: every
    * [[invIndexAppend]] adds one file per touched bucket directory, so
    * a frequently-maintained index fragments (N appends → N+1 files in
    * a hot bucket, and probe cost grows with file COUNT even when the
    * byte total doesn't). Snapshot-isolated (an append OR a forget
    * landing mid-compaction survives — data files via the staged
    * manifest, tombstones via consumed-only retirement), crash-safe,
    * idempotent. CLEAN (no tombstones): full re-pack, postings
    * bit-identical before and after (spec-pinned), stats invariant.
    * With tombstones PENDING: the physical delete PRUNES to the term
    * buckets the victims' postings live in (recorded at forget time)
    * and stats recompute from the servable postings — for a text doc
    * the victim's distinct-token buckets can span most of the 64-way
    * fan-out, so the honest bound is dirty-dirs/64 of the tree, a
    * real win for small-vocabulary docs and a wash for large ones
    * (priced per fold in FORGET_PROBE).
    */
  def invIndexCompact(spark: SparkSession, sfDir: String): String = {
    val layout = invIndexLayout(spark, sfDir)
    val tombDir = java.nio.file.Paths.get(s"$layout/tombstones")
    // SNAPSHOT the tombstone files before any rewrite resolves a file
    // listing: the compaction applies and retires exactly these; a
    // tombstone staged-moved in DURING the compaction survives to the
    // next one instead of being destroyed unapplied
    val snap = graft.GraftSession.tombstoneSnapshot(tombDir)
    if (snap.isEmpty) {
      // pure defrag: full postings re-pack
      graft.GraftSession.compactSnapshot(spark, s"$layout/postings",
        (df, staged) => df.repartition(col("tb"))
          .write.partitionBy("tb").mode("overwrite").parquet(staged))
    } else {
      // PRUNED physical delete: rewrite only the term-bucket dirs the
      // victims' postings live in (recorded at forget time; ids
      // forgotten while absent re-resolve against the postings NOW,
      // in case a later append indexed them) — the delete costs ∝
      // affected partitions, not corpus. A clean follow-up compact
      // remains the full-defrag verb.
      val tomb = graft.GraftSession.tombstonesFrom(spark, snap)
        .localCheckpoint(true) // people-scale by the forget contract
      val tombIds = tomb.select("doc_id").distinct()
      val recorded =
        if (tomb.columns.contains("tb"))
          tomb.where(col("tb").isNotNull).select("tb").distinct()
            .collect().map(_.getInt(0)).toSeq
        else Seq.empty[Int]
      // re-resolve ALL victims against the postings of compaction
      // day, not just the ids that were absent at forget time: the
      // recorded buckets cover a victim's rows AS OF its forget, and
      // a contract-violating later append of a tombstoned id would
      // otherwise leave physically-servable rows in an unrecorded
      // bucket once the tombstone retires. A pushed-down people-scale
      // id scan — the same narrow read class as the stats heal below.
      val ids = tombIds.collect().map(_.getLong(0)).toSeq
      val late = graft.GraftSession.filterIdIn(
        spark.read.parquet(s"$layout/postings"), "doc_id", ids) // pushed-down
        .select("tb").distinct().collect().map(_.getInt(0)).toSeq
      val dirty = (recorded ++ late).distinct.map(b => s"tb=$b").toSet
      if (dirty.nonEmpty)
        graft.GraftSession.compactSnapshotPruned(spark, s"$layout/postings",
          dirty, (df, staged) => df
            .join(broadcast(tombIds), Seq("doc_id"), "left_anti")
            .repartition(col("tb"))
            .write.partitionBy("tb").mode("overwrite").parquet(staged))
    }
    // stats: recomputed from the SERVABLE postings — invariant when
    // no deletes are pending (postings are the stats' source of
    // truth), and the healer for the documented forget crash window
    // (tombstones committed, stats delta not) when they are. A
    // map-side-combined aggregate READ, never a rewrite. The LIVE
    // tombstones anti-join here is load-bearing: a tombstone that
    // landed after this compaction's snapshot keeps its rows PHYSICAL
    // until the next compaction, and a recompute that counted them
    // would resurrect their idf/avgdl contribution while serving
    // hides them.
    graft.GraftSession.compactSnapshot(spark, s"$layout/stats", (_, staged) => {
      val posts = spark.read.parquet(s"$layout/postings")
      tombstonesOf(spark, layout)
        .fold(posts)(t => posts.join(broadcast(t), Seq("doc_id"), "left_anti"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          coalesce(sum(col("tf")), lit(0L)).as("t_tokens"))
        .coalesce(1).write.mode("overwrite").parquet(staged)
    })
    // deletes are physical now; exactly the CONSUMED tombstone files
    // retire, LAST (a crash above leaves them pending — the anti-join
    // of already-absent rows is a no-op and the next compaction
    // clears them; a concurrently-landed tombstone survives here)
    graft.GraftSession.retireTombstones(tombDir, snap)
    layout
  }

  /** The layout's deletion tombstones (doc ids a [[invIndexForget]]
    * call hid), or None in the normal no-deletions state. Deletion
    * requests are people-scale, so the relation is bounded and
    * broadcastable by construction.
    */
  private def tombstonesOf(spark: SparkSession,
      layout: String): Option[DataFrame] =
    graft.GraftSession.tombstonesIn(spark,
      java.nio.file.Paths.get(layout, "tombstones"), "doc_id")

  /** Deletion propagation INTO the standing text index — the
    * governance half `q_forget`'s table-level pass cannot do: a
    * forgotten document must stop being SERVABLE from the index, not
    * just vanish from the corpus parquet. Immutable-layout deletes
    * are tombstones + compaction (the LSM discipline the reference's
    * backing store itself uses): this appends the ids to
    * `<layout>/tombstones` and a NEGATIVE stats partial (the victims'
    * doc/token contribution, measured from the index itself, so BM25's
    * idf/avgdl stay exact), every retrieval read applies the bounded
    * tombstone anti-join via [[postingsFor]], and the next
    * [[invIndexCompact]] makes the delete physical. Ordering is
    * privacy-first: tombstones commit BEFORE the stats delta, so the
    * crash window hides the document with conservatively-high stats
    * (and compaction recomputes stats from the surviving postings,
    * healing any such skew). Idempotent: already-tombstoned ids
    * contribute nothing, so a retried request never double-subtracts.
    * CONCURRENCY: both writes are staged + moved (no `_temporary` in
    * the live dirs), so a forget is legal beside the live maintenance
    * stream and any appender; concurrent forgets need disjoint
    * cohorts (a shared id would double-subtract stats — both would
    * measure it un-tombstoned), and an identical retried cohort maps
    * to the same claim tag and refuses loudly instead of racing.
    * Returns (docs newly hidden, their token count).
    */
  def invIndexForget(spark: SparkSession, sfDir: String,
      ids: Seq[Long]): (Long, Long) = {
    require(ids.nonEmpty, "forget request carries no ids")
    val layout = invIndexLayout(spark, sfDir)
    // a crashed attempt of THIS cohort keeps its stage (see below);
    // the check must run BEFORE the dn measurement, because a crash
    // after the tombstone move makes the retry measure dn = 0 and the
    // claim would never even be touched — the silent path that loses
    // the negative stats delta until an index-compact
    val crashStage = java.nio.file.Paths.get(layout,
      s".forget_stage_${graft.GraftSession.forgetTag(ids)}")
    if (java.nio.file.Files.exists(crashStage))
      throw new IllegalArgumentException(
        s"a crashed forget of this cohort left $crashStage (its staged " +
          "stats leg is kept for inspection); delete that directory to " +
          "retry — an index-compact recomputes the stats either way")
    import spark.implicits._
    val victims0 = graft.GraftSession.filterIdIn(
      spark.read.parquet(s"$layout/postings"), "doc_id", ids)
    val victims = tombstonesOf(spark, layout)
      .fold(victims0)(t => victims0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val row = victims
      .agg(countDistinct(col("doc_id")).as("dn"),
        coalesce(sum(col("tf")), lit(0L)).as("dt")).head()
    val (dn, dt) = (row.getLong(0), row.getLong(1))
    if (dn > 0) {
      // one two-leg commit under the cohort-derived tag. Tombstones
      // move FIRST (privacy: hide before the books adjust). A failure
      // between the moves KEEPS the stage, with its measured stats
      // leg, so the retry refuses (the check above) instead of
      // measuring dn = 0. Tombstone rows are (doc_id, tb): the
      // victims' term buckets double as the pruned compaction's
      // dirty-partition list (content-derived, so valid across
      // rewrites, unlike file names); an id absent from the index
      // gets a null tb, re-resolved by the compaction of ITS day.
      graft.GraftSession.commitAppend(layout,
        Some(graft.GraftSession.forgetTag(ids)), "forget")(
        s"$layout/tombstones" -> ids.distinct.toDF("doc_id")
          .join(victims.select("doc_id", "tb").distinct(), Seq("doc_id"), "left")
          .coalesce(1).write,
        s"$layout/stats" ->
          Seq((-dn, -dt)).toDF("n_docs", "t_tokens").coalesce(1).write)
    }
    (dn, dt)
  }

  /** Registered forget-propagation gate: a fixture COPY of the corpus
    * (the standing sfDir index must not be mutated under the other
    * registered retrieval queries) gets its index built, a
    * deterministic people-scale cohort (`doc_id % 97 == 0`, the
    * `q_forget` convention) forgotten through [[invIndexForget]], and
    * BM25 served from the TOMBSTONED index — which must equal the
    * oracle's BM25 over `documents` minus the cohort, idf/avgdl
    * included (the negative stats partial is what keeps them exact).
    * Idempotent across reruns: an already-tombstoned cohort
    * contributes nothing on the second pass.
    */
  def forgetIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.GraftSession.forgetFixtureDir(spark, sfDir)
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .where(pmod(col("doc_id"), lit(97)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    invIndexForget(spark, dir, ids)
    bm25Topk(spark, dir)
  }

  def forgetIndexSql: String = bm25TopkSqlOver("doc_id % 97 <> 0")

  /** Postings for `terms`: the bucket filter prunes at the FILE
    * LISTING (PartitionFilters, plan-pinned), the term filter drops
    * bucket-mates inside the ≤|terms| directories read; deletion
    * tombstones, when present, apply as one broadcast anti-join —
    * EVERY retrieval consumer reads through here, so forget reaches
    * bm25/search/phrase/proximity/highlight/fusion in one hook.
    */
  private def postingsFor(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame = {
    val layout = invIndexLayout(spark, sfDir)
    val buckets = terms.map(termBucket).distinct
    val base = spark.read.parquet(s"$layout/postings")
      .where(col("tb").isin(buckets: _*) && col("tok").isin(terms: _*))
    tombstonesOf(spark, layout)
      .fold(base)(t => base.join(broadcast(t), Seq("doc_id"), "left_anti"))
  }

  /** The standing stats as ONE row — the relation on disk is a set of
    * summable partials (base row + one delta per append), the shape
    * that makes appends — including concurrent staged ones — never
    * read-modify-write shared state.
    */
  private def indexStats(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${invIndexLayout(spark, sfDir)}/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("t_tokens")).as("t_tokens"))

  // ------------------------------------------------- BM25 ranking
  /** Disjunctive query terms for BM25 — unlike [[SearchTerms]]' AND
    * semantics, any match contributes to the score.
    */
  val Bm25Terms: Seq[String] = Seq("spark", "merge", "data")

  /** BM25-ranked retrieval (Robertson & Zaragoza 2009) over the
    * documents table with integer-exact scoring. k1=1.2 and b=0.75 are
    * expressed as exact rationals (×6/5, ×3/4), and the idf's log is
    * replaced by the RSJ odds ratio itself, (N−df+½)/(df+½) as
    * (2N−2df+1)/(2df+1) — same monotonicity in df, but a fixed tree of
    * BIGINT multiply/`div` ops both engines round identically, where
    * libm `log` differs in the last ulp (the DSIR scorer below uses
    * the same trick). Scales: idf in thousandths, the saturated-tf
    * term in ppm, the summed score in ppm; every intermediate is
    * bounded within int64 for tf ≤ 10⁶ and N ≤ 10⁹ (headroom noted
    * inline).
    *
    * Scale shape: dl is a narrow `size()` per doc (no explode needed);
    * corpus stats (N, total tokens) are ONE map-side-combining agg
    * broadcast back as a single row; df is ≤|terms| rows, broadcast;
    * the only wide shuffle is the (doc, term) tf groupBy, whose input
    * is pre-filtered to query-term matches; the final top-k is
    * TakeOrderedAndProject (per-partition heaps), never a global sort.
    * At 100 TB the same plan holds: the posting list for the query
    * terms is the only data that crosses the network.
    */
  def bm25Topk(spark: SparkSession, sfDir: String): DataFrame =
    bm25Scored(spark, sfDir)
      .orderBy(col("bm25_ppm").desc, col("doc_id"))
      .limit(20)

  /** Full scored relation (doc_id, bm25_ppm, n_terms) — shared by the
    * top-k query, the RRF fusion and the PRF feedback set. Serves from
    * the standing inverted index: the only input read is |terms|
    * posting buckets plus the one-row stats relation.
    */
  private[operators] def bm25Scored(spark: SparkSession, sfDir: String): DataFrame =
    bm25Score(
      postingsFor(spark, sfDir, Bm25Terms).select("doc_id", "dl", "tok", "tf"),
      indexStats(spark, sfDir))

  /** The pre-index implementation — one corpus scan, tokenizing on the
    * fly. Kept as the parity twin (`InvIndexSpec` pins index == scan on
    * every retrieval query) and as the shape the index BUILD uses.
    */
  private[operators] def bm25ScoredScan(spark: SparkSession, sfDir: String): DataFrame = {
    val base = table(spark, sfDir, "documents")
      .where(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    // pre-filter INSIDE the array so the explode emits only query-term
    // matches (a handful per doc) instead of the full token stream
    val isTerm = (t: Column) => Bm25Terms.map(term => t === lit(term)).reduce(_ || _)
    val tf = base
      .select(col("doc_id"), col("dl"),
        explode(filter(col("toks"), isTerm)).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    bm25Score(tf, stats)
  }

  /** THE one copy of the integer BM25 arithmetic, over any
    * (doc_id, dl, tok, tf) relation — indexed and scan paths share it,
    * so the scorer cannot drift between them.
    */
  private def bm25Score(tf: DataFrame, stats: DataFrame): DataFrame = {
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      // avgdl in whole tokens (avgdl ≫ 1, so the truncation is noise)
      .withColumn("avgdl", expr("t_tokens div n_docs"))
      // RSJ odds ratio ×1000; ≤ ~667·N, so idf_mil·tfn_ppm < 1.5e18 at N=1e9
      .withColumn("idf_mil", expr("(1000 * (2*n_docs - 2*df + 1)) div (2*df + 1)"))
      // 1 − b + b·dl/avgdl in ppm, b = 3/4
      .withColumn("bp_ppm", expr("250000 + (750000 * dl) div avgdl"))
      // tf + k1·bp in ppm, k1 = 6/5
      .withColumn("den_ppm", expr("1000000 * tf + (6 * bp_ppm) div 5"))
      // (k1+1)·tf / den in ppm; 2.2e12·tf stays < 2⁶³ for tf ≤ 10⁶
      .withColumn("tfn_ppm", expr("(2200000 * tf * 1000000) div den_ppm"))
      .withColumn("contrib", expr("(idf_mil * tfn_ppm) div 1000"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("bm25_ppm"), count(lit(1)).as("n_terms"))
  }

  /** FEDERATED retrieval — the serve-side sibling of the federated
    * door chains: the corpus stands as N shard sub-corpora, each with
    * its OWN standing inverted index and its own BM25 statistics
    * (per-shard n_docs/avgdl/df — the honest federated semantics:
    * shards score locally, nobody pays a global-statistics exchange),
    * each shard answers its LOCAL top-k, and the merger re-sorts the
    * ≤ N·k candidate rows for the global top-k. That scatter-gather
    * is the 100 TB shape — per-shard work is one index probe, the
    * merge is N·k rows however large the corpus — and it is exactly
    * how a sharded search tier (per-tenant indexes, a thin
    * coordinator) serves. Deterministic: shard-local ties break on
    * doc_id, the merge re-breaks on (score, doc_id), and the shard
    * split is content-derived (`pmod(doc_id, N)` — the SIGN-SAFE
    * form: Spark's `pmod` and the oracle's `(x % N + N) % N` agree on
    * every id including negatives, where a bare `%` pair would route
    * a negative id to shard 1 on the serve path and match neither
    * oracle leg), so the DuckDB oracle replays every shard with the
    * same residue filter over the same table.
    */
  def federatedSearch(spark: SparkSession, sfDir: String): DataFrame =
    federatedSearchAt(spark, sfDir, FederatedShards)

  /** [[federatedSearch]] at an explicit shard count — the coordinator
    * is shard-count-generic (the ≤ N·k merge bound is the design,
    * not a two-shard special case); the registered query runs the
    * default N so the bound is exercised past the trivial pair.
    */
  def federatedSearchAt(spark: SparkSession, sfDir: String,
      shards: Int): DataFrame =
    federatedShardDirs(spark, sfDir, shards).map { case (s, dir) =>
      bm25Scored(spark, dir)
        .orderBy(col("bm25_ppm").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("bm25_ppm"), col("n_terms"),
          lit(s).as("shard"))
    }.reduce(_.unionByName(_))
      .orderBy(col("bm25_ppm").desc, col("doc_id")).limit(20)

  /** Registered shard count. Four, not two: the coordinator's merge
    * is ≤ N·k rows and the per-shard indexes are independent at ANY
    * N, but only a non-trivial N actually exercises that bound (and
    * the oracle generates its N residue legs from the same constant,
    * so the two can never drift).
    */
  val FederatedShards: Int = 4

  /** The N shard sub-corpora (doc_id residue split of `documents`),
    * written once per (sf dir, N) like [[graft.GraftSession
    * .forgetFixtureDir]] — each shard dir is a normal corpus dir, so
    * [[bm25Scored]] stands a normal per-shard inverted index under
    * its own fixture root (nothing federated leaks into the index
    * tier; federation is purely the serve composition above). The
    * dir is keyed by N (`fed_shards_n<N>/s<i>`): two shard counts
    * are two different federations, never a half-reused split.
    */
  private[operators] def federatedShardDirs(spark: SparkSession,
      sfDir: String, shards: Int): Seq[(Int, String)] = {
    require(shards >= 2, s"a federation needs >= 2 shards, got $shards")
    (0 until shards).map { s =>
      val dir =
        s"${graft.GraftSession.fixtureRoot(sfDir)}/fed_shards_n$shards/s$s"
      val out = java.nio.file.Paths.get(s"$dir/documents.parquet")
      // stamp-guarded, not _SUCCESS-guarded: a regenerated corpus
      // table must re-split (and, via each shard's OWN stamp chain,
      // re-index), never serve a stale shard of the old corpus
      graft.GraftSession.ensureLayout(spark, dir,
        s"$sfDir/documents.parquet") {
        table(spark, sfDir, "documents")
          .where(pmod(col("doc_id"), lit(shards)) === s)
          .write.mode("overwrite").parquet(out.toString)
      }
      s -> dir
    }
  }

  /** Oracle: each shard's leg is the whole [[bm25TopkSqlOver]] body
    * under the residue filter (shard-local stats INCLUDED — that is
    * the point), merged and re-sorted exactly like the serve path.
    * N legs generated from [[FederatedShards]]; the residue is the
    * sign-safe `(x % N + N) % N`, which equals Spark's `pmod` for
    * every id.
    */
  def federatedSearchSql: String = {
    val n = FederatedShards
    val legs = (0 until n).map(s =>
      s"s$s AS (${bm25TopkSqlOver(s"(doc_id % $n + $n) % $n = $s")})")
    val union = (0 until n)
      .map(s => s"SELECT *, $s AS shard FROM s$s")
      .mkString("\n  UNION ALL ")
    s"""WITH ${legs.mkString(",\n")}
       |SELECT doc_id, bm25_ppm, n_terms, shard FROM (
       |  $union)
       |ORDER BY bm25_ppm DESC, doc_id LIMIT 20""".stripMargin
  }

  def bm25TopkSql: String = bm25TopkSqlOver("TRUE")

  /** [[bm25TopkSql]] with a document predicate — the forget gate's
    * oracle replays retrieval over `documents` minus the forgotten
    * cohort, which is exactly what the tombstoned index must serve.
    */
  def bm25TopkSqlOver(docFilter: String): String = {
    val terms = sqlList(Bm25Terms)
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
       |    CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
       |  FROM documents WHERE len(trim(text)) > 0 AND ($docFilter)),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS t_tokens FROM base),
       |tf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
       |  WHERE list_contains($terms, tok) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT t.doc_id,
       |    ((1000 * (2*s.n_docs - 2*d.df + 1)) // (2*d.df + 1)
       |     * ((2200000 * t.tf * 1000000) //
       |        (1000000*t.tf +
       |         (6 * (250000 + (750000 * t.dl) // (s.t_tokens // s.n_docs))) // 5))
       |    ) // 1000 AS contrib
       |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN stats s)
       |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS bm25_ppm,
       |  CAST(count(*) AS BIGINT) AS n_terms
       |FROM scored GROUP BY 1
       |ORDER BY bm25_ppm DESC, doc_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------------- rank fusion
  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009) of two
    * retrieval signals over the same query terms: BM25 (idf + length
    * normalization) and raw disjunctive term frequency (no idf, no
    * norm). Each ranker contributes 10⁶ div (60 + rank) — the paper's
    * k=60 — as BIGINT division, so both engines fuse identically.
    * The hybrid-retrieval shape every RAG stack runs (lexical ⊕
    * dense); here both arms are lexical so the oracle can replay them
    * exactly, while the ANN arm swaps in unchanged at call sites.
    *
    * Scale shape: each arm ends in a bounded top-100 candidate list
    * (TakeOrderedAndProject), so the rank window and full-outer fuse
    * run on ≤100-row relations — single-partition windows are fine
    * there, the corpus-sized work stays in the arms.
    */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame =
    rrfFuse(bm25Scored(spark, sfDir),
      // the tf arm is one pruned postings read: Σtf per doc over the
      // query terms == counting the exploded occurrences
      postingsFor(spark, sfDir, Bm25Terms)
        .groupBy("doc_id").agg(sum(col("tf")).as("total_tf")))

  /** Scan-path twin (parity-pinned in `InvIndexSpec`). */
  private[operators] def rrfFusionScan(spark: SparkSession, sfDir: String): DataFrame =
    rrfFuse(bm25ScoredScan(spark, sfDir),
      table(spark, sfDir, "documents")
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
        .where(col("tok").isin(Bm25Terms: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("total_tf")))

  private def rrfFuse(scored: DataFrame, totals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pool = 100
    val bmArm = scored
      .orderBy(col("bm25_ppm").desc, col("doc_id")).limit(pool)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("bm25_ppm").desc, col("doc_id"))).as("bm25_rank"))
    val tfArm = totals
      .orderBy(col("total_tf").desc, col("doc_id")).limit(pool)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("total_tf").desc, col("doc_id"))).as("tf_rank"))
    bmArm.join(tfArm, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm", expr(
        "coalesce(1000000 div (60 + bm25_rank), 0) + " +
          "coalesce(1000000 div (60 + tf_rank), 0)"))
      .select(col("doc_id"), col("bm25_rank").cast("long").as("bm25_rank"),
        col("tf_rank").cast("long").as("tf_rank"), col("rrf_ppm"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(20)
  }

  def rrfFusionSql: String = {
    val terms = sqlList(Bm25Terms)
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
       |    CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
       |  FROM documents WHERE len(trim(text)) > 0),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS t_tokens FROM base),
       |tf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
       |  WHERE list_contains($terms, tok) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT t.doc_id,
       |    ((1000 * (2*s.n_docs - 2*d.df + 1)) // (2*d.df + 1)
       |     * ((2200000 * t.tf * 1000000) //
       |        (1000000*t.tf +
       |         (6 * (250000 + (750000 * t.dl) // (s.t_tokens // s.n_docs))) // 5))
       |    ) // 1000 AS contrib
       |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN stats s),
       |bm AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS bm25_ppm
       |  FROM scored GROUP BY 1 ORDER BY bm25_ppm DESC, doc_id LIMIT 100),
       |bm_rank AS (SELECT doc_id, CAST(row_number() OVER
       |  (ORDER BY bm25_ppm DESC, doc_id) AS BIGINT) AS bm25_rank FROM bm),
       |tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
       |  FROM tf GROUP BY 1 ORDER BY total_tf DESC, doc_id LIMIT 100),
       |tf_rank AS (SELECT doc_id, CAST(row_number() OVER
       |  (ORDER BY total_tf DESC, doc_id) AS BIGINT) AS tf_rank FROM tot)
       |SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id, b.bm25_rank, t.tf_rank,
       |  COALESCE(1000000 // (60 + b.bm25_rank), 0)
       |    + COALESCE(1000000 // (60 + t.tf_rank), 0) AS rrf_ppm
       |FROM bm_rank b FULL OUTER JOIN tf_rank t ON b.doc_id = t.doc_id
       |ORDER BY rrf_ppm DESC, doc_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------- query expansion
  /** Pseudo-relevance-feedback query expansion (RM1-flavored, counts
    * instead of the smoothed language model): take BM25's top-10
    * documents as the relevant set, then surface the terms that occur
    * across most of them — the candidates a second retrieval pass
    * would OR into the query. Exact integers only (document
    * frequency within the feedback set, total tf), so the oracle
    * replays it bitwise.
    *
    * Scale shape: the feedback set is a bounded top-k
    * (TakeOrderedAndProject) broadcast into a semi-join against the
    * token stream — one corpus scan, and only feedback-doc tokens
    * reach the (tiny, vocab-bounded) aggregate.
    */
  def queryExpand(spark: SparkSession, sfDir: String): DataFrame = {
    val feedback = bm25Scored(spark, sfDir)
      .orderBy(col("bm25_ppm").desc, col("doc_id")).limit(10)
      .select(col("doc_id"))
    // join BEFORE tokenizing: the broadcast semi-join survives only the
    // feedback docs, so the explode runs on 10 documents, not the corpus
    table(spark, sfDir, "documents")
      .join(broadcast(feedback), Seq("doc_id"))
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .where(!col("tok").isin(Bm25Terms: _*))
      .groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("total_tf"))
      .orderBy(col("n_docs").desc, col("total_tf").desc, col("tok"))
      .limit(15)
  }

  def queryExpandSql: String = {
    val terms = sqlList(Bm25Terms)
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
       |    CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
       |  FROM documents WHERE len(trim(text)) > 0),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS t_tokens FROM base),
       |tf AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
       |  WHERE list_contains($terms, tok) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT t.doc_id,
       |    ((1000 * (2*s.n_docs - 2*d.df + 1)) // (2*d.df + 1)
       |     * ((2200000 * t.tf * 1000000) //
       |        (1000000*t.tf +
       |         (6 * (250000 + (750000 * t.dl) // (s.t_tokens // s.n_docs))) // 5))
       |    ) // 1000 AS contrib
       |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN stats s),
       |feedback AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS bm25_ppm
       |  FROM scored GROUP BY 1 ORDER BY bm25_ppm DESC, doc_id LIMIT 10),
       |ftoks AS (
       |  SELECT e.doc_id, e.tok
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base) e
       |  JOIN feedback f ON e.doc_id = f.doc_id
       |  WHERE NOT list_contains($terms, e.tok))
       |SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS total_tf
       |FROM ftoks GROUP BY 1
       |ORDER BY n_docs DESC, total_tf DESC, tok LIMIT 15""".stripMargin
  }

  // ----------------------------------------------- phrase search
  /** Exact-phrase retrieval from the POSITIONAL postings of the
    * standing index: one pruned bucket read per phrase term, an
    * equi-join on doc_id (a doc must hold every term), and the match
    * count is a pure array expression — positions of term 0 whose
    * successors appear in each following term's positions. Nothing but
    * |terms| posting lists is ever read; at 100 TB this is an
    * index-read serving path, not a corpus scan.
    */
  val PhraseQuery: Seq[String] = Seq("spark", "merge")

  /** THE phrase-match relation from the positional index:
    * (doc_id, matches) where matches = the start positions p with
    * p+j ∈ pos(term j) for every following term — one pruned bucket
    * read per term, an equi-join on doc_id. Shared by [[phraseSearch]]
    * and [[searchHighlight]] so the matching semantics cannot drift
    * between them.
    */
  private def phraseMatches(spark: SparkSession, sfDir: String): DataFrame = {
    val n = PhraseQuery.size
    val reads = PhraseQuery.zipWithIndex.map { case (t, j) =>
      postingsFor(spark, sfDir, Seq(t))
        .select(col("doc_id"), col("positions").as(s"p$j"))
    }
    val joined = reads.reduce((a, b) => a.join(b, "doc_id"))
    val matches =
      if (n == 1) col("p0")
      else filter(col("p0"), p =>
        (1 until n).map(j => array_contains(col(s"p$j"), p + j)).reduce(_ && _))
    joined.select(col("doc_id"), matches.as("matches"))
  }

  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame =
    // |{p ∈ pos(t0) : ∀j>0, p+j ∈ pos(tj)}| — exactly the token-stream
    // consecutive-run count the scan twin computes
    phraseMatches(spark, sfDir)
      .select(col("doc_id"), size(col("matches")).cast("long").as("n_phrase"))
      .where(col("n_phrase") > 0)
      .orderBy(col("n_phrase").desc, col("doc_id"))
      .limit(20)

  // -------------------------------------------- proximity search
  /** Windowed co-occurrence retrieval ("terms within W tokens") from
    * the positional postings: one pruned bucket read per term, a
    * doc_id equi-join, and the score is the exact count of position
    * pairs |p−q| ≤ W — the classic NEAR/W operator, served without
    * touching the corpus. Scan twin below, parity-pinned.
    */
  val ProximityTerms: (String, String) = ("spark", "data")
  val ProximityWindow: Int = 5

  def proximitySearch(spark: SparkSession, sfDir: String): DataFrame = {
    val (t0, t1) = ProximityTerms
    val a = postingsFor(spark, sfDir, Seq(t0))
      .select(col("doc_id"), col("positions").as("pa"))
    val b = postingsFor(spark, sfDir, Seq(t1))
      .select(col("doc_id"), col("positions").as("pb"))
    a.join(b, "doc_id")
      .select(col("doc_id"), proximityCount(col("pa"), col("pb")).as("n_prox"))
      .where(col("n_prox") > 0)
      .orderBy(col("n_prox").desc, col("doc_id"))
      .limit(20)
  }

  /** Scan twin: positions recomputed from the token stream per query —
    * what the operator costs without the standing index.
    */
  private[operators] def proximitySearchScan(spark: SparkSession, sfDir: String): DataFrame = {
    val (t0, t1) = ProximityTerms
    val toks = tokens(lower(col("text")))
    def positionsOf(term: String) =
      filter(sequence(lit(1), size(toks)), i => element_at(toks, i) === lit(term))
    table(spark, sfDir, "documents")
      .where(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        proximityCount(positionsOf(t0), positionsOf(t1)).as("n_prox"))
      .where(col("n_prox") > 0)
      .orderBy(col("n_prox").desc, col("doc_id"))
      .limit(20)
  }

  /** Σ_{p∈pa} |{q ∈ pb : |q−p| ≤ W}| — one shared expression for both
    * paths (long, so a pathological doc can't overflow int).
    */
  private def proximityCount(pa: Column, pb: Column): Column =
    aggregate(pa, lit(0L), (acc, p) =>
      acc + size(filter(pb, q => abs(q - p) <= ProximityWindow)).cast("long"))

  def proximitySearchSql: String = {
    val (t0, t1) = ProximityTerms
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents WHERE len(trim(text)) > 0),
       |pos AS (
       |  SELECT doc_id,
       |    list_filter(generate_series(1, len(toks)), i -> toks[i] = '$t0') AS pa,
       |    list_filter(generate_series(1, len(toks)), i -> toks[i] = '$t1') AS pb
       |  FROM base),
       |scored AS (
       |  SELECT doc_id, CAST(coalesce(list_sum(list_transform(pa,
       |      p -> len(list_filter(pb, q -> abs(q - p) <= $ProximityWindow)))), 0)
       |    AS BIGINT) AS n_prox
       |  FROM pos)
       |SELECT doc_id, n_prox FROM scored WHERE n_prox > 0
       |ORDER BY n_prox DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------- search highlight
  /** Keyword-in-context snippets for the phrase hits — the serving
    * feature a search result page needs: for each top phrase match,
    * a ±2-token window around the FIRST occurrence. The positional
    * index locates the occurrence (array_min over the matching start
    * positions — no re-scan); only the ≤20 hit documents are then
    * joined back to the corpus for their text, so the corpus pays one
    * broadcast-semi-join probe, not a scan per result.
    */
  def searchHighlight(spark: SparkSession, sfDir: String): DataFrame = {
    val hits = phraseMatches(spark, sfDir)
      .select(col("doc_id"), size(col("matches")).cast("long").as("n_phrase"),
        array_min(col("matches")).as("p"))
      .where(col("n_phrase") > 0)
      .orderBy(col("n_phrase").desc, col("doc_id"))
      .limit(20)
    // join the RAW text first: tokenization sits ABOVE the join, so
    // only the ≤20 surviving rows pay it (a projection below the join
    // would re-tokenize the whole corpus per query)
    val docs = table(spark, sfDir, "documents").select("doc_id", "text")
    val toks = tokens(lower(col("text")))
    val s = greatest(lit(1), col("p") - 2)
    val e = least(size(toks), s + lit(SnippetSpan))
    docs.join(broadcast(hits), "doc_id")
      .select(col("doc_id"), col("n_phrase"),
        array_join(slice(toks, s, e - s + 1), " ").as("snippet"))
      .orderBy(col("n_phrase").desc, col("doc_id"))
  }

  /** Window extent past the start token: the phrase itself plus two
    * context tokens each side — derived from PhraseQuery so a longer
    * phrase still fits inside its own snippet.
    */
  private def SnippetSpan: Int = PhraseQuery.size + 3

  def searchHighlightSql: String = {
    val nq = PhraseQuery.size
    val cond = PhraseQuery.zipWithIndex.map { case (t, j) =>
      if (j == 0) s"toks[i] = '$t'" else s"toks[i + $j] = '$t'"
    }.mkString(" AND ")
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents WHERE len(trim(text)) > 0),
       |m AS (
       |  SELECT doc_id, toks,
       |    list_filter(generate_series(1, len(toks) - ${nq - 1}),
       |      i -> $cond) AS ms
       |  FROM base),
       |hits AS (
       |  SELECT doc_id, toks, CAST(len(ms) AS BIGINT) AS n_phrase, ms[1] AS p
       |  FROM m WHERE len(ms) > 0
       |  ORDER BY n_phrase DESC, doc_id LIMIT 20)
       |SELECT doc_id, n_phrase,
       |  array_to_string(list_slice(toks, greatest(1, p - 2),
       |    least(len(toks), greatest(1, p - 2) + $SnippetSpan)), ' ') AS snippet
       |FROM hits ORDER BY n_phrase DESC, doc_id""".stripMargin
  }

  /** Scan twin of [[searchHighlight]]: matches and snippet recomputed
    * from the raw token stream, no index — parity-pinned so a shared
    * Spark/oracle misunderstanding of the window arithmetic can't
    * pass the hash gate unchecked.
    */
  private[operators] def searchHighlightScan(spark: SparkSession, sfDir: String): DataFrame = {
    val n = PhraseQuery.size
    val toks = tokens(lower(col("text")))
    val ms = when(size(toks) < n, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(1), size(toks) - (n - 1)),
        i => PhraseQuery.zipWithIndex.map { case (t, j) =>
          element_at(toks, i + j) === lit(t)
        }.reduce(_ && _)).cast("array<int>"))
    val hits = table(spark, sfDir, "documents")
      .select(col("doc_id"), toks.as("toks"), ms.as("ms"))
      .select(col("doc_id"), col("toks"),
        size(col("ms")).cast("long").as("n_phrase"),
        array_min(col("ms")).as("p"))
      .where(col("n_phrase") > 0)
      .orderBy(col("n_phrase").desc, col("doc_id"))
      .limit(20)
    val s = greatest(lit(1), col("p") - 2)
    val e = least(size(col("toks")), s + lit(SnippetSpan))
    hits.select(col("doc_id"), col("n_phrase"),
        array_join(slice(col("toks"), s, e - s + 1), " ").as("snippet"))
      .orderBy(col("n_phrase").desc, col("doc_id"))
  }

  /** Scan-path twin: the nested-HOF token-stream count over the raw
    * corpus (no index) — parity-pinned against [[phraseSearch]] in
    * `InvIndexSpec`.
    */
  private[operators] def phraseSearchScan(spark: SparkSession, sfDir: String): DataFrame = {
    val n = PhraseQuery.size
    val toksCol = tokens(lower(col("text")))
    // positional equality instead of materializing shingle strings:
    // for each start position, AND the term-by-term comparisons — no
    // per-position string allocation, same codegen'd narrow pass
    val hits = (toks: Column) =>
      size(filter(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => PhraseQuery.zipWithIndex.map { case (term, j) =>
          element_at(toks, i + j) === lit(term)
        }.reduce(_ && _)), m => m))
    table(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(size(toksCol) < n, lit(0L))
          .otherwise(hits(toksCol).cast("long")).as("n_phrase"))
      .where(col("n_phrase") > 0)
      .orderBy(col("n_phrase").desc, col("doc_id"))
      .limit(20)
  }

  def phraseSearchSql: String = {
    val phrase = PhraseQuery.mkString(" ")
    // the shingle expression is GENERATED from PhraseQuery so the
    // oracle tracks the Spark side's phrase width — a hardcoded bigram
    // would silently break parity the day the query grows a term
    val n = PhraseQuery.size
    val shingle = (0 until n).map(j =>
      if (j == 0) "toks[i]" else s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents WHERE len(trim(text)) > 0),
       |counted AS (
       |  SELECT doc_id, CAST(len(list_filter(
       |    list_transform(generate_series(1, len(toks) - ${n - 1}),
       |      i -> $shingle),
       |    s -> s = '$phrase')) AS BIGINT) AS n_phrase
       |  FROM base)
       |SELECT doc_id, n_phrase FROM counted WHERE n_phrase > 0
       |ORDER BY n_phrase DESC, doc_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------- vocab coverage
  /** Tokenizer-vocabulary coverage audit: how much of each language's
    * token stream the top-50 corpus vocabulary covers (the OOV-rate
    * check run before freezing a tokenizer on a corpus). Exact
    * integers end to end — per-lang totals, covered counts, coverage
    * in ppm by BIGINT division. Scale shape: the vocabulary is a
    * bounded TakeOrdered relation broadcast into the token stream;
    * one scan, one combining per-lang aggregate.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = table(spark, sfDir, "documents")
      .select(col("lang"), explode(tokens(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(50)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0)).cast("long")).as("n_covered"))
      .withColumn("coverage_ppm",
        expr("(1000000 * n_covered) div n_tokens"))
      .orderBy("lang")
  }

  def vocabCoverageSql: String =
    """WITH toks AS (
      |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents WHERE len(trim(text)) > 0),
      |vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS c FROM toks GROUP BY 1
      |    ORDER BY c DESC, tok LIMIT 50)),
      |flags AS (
      |  SELECT t.lang, CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS cov
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
      |SELECT lang, count(*) AS n_tokens,
      |  CAST(sum(cov) AS BIGINT) AS n_covered,
      |  (1000000 * CAST(sum(cov) AS BIGINT)) // count(*) AS coverage_ppm
      |FROM flags GROUP BY 1 ORDER BY lang""".stripMargin

  // -------------------------------------- unicode normalization
  /** Unicode NFC canonicalization audit (the [[graft.functions
    * .NfcNormalize]] codegen'd expression): decomposed and composed
    * renderings of the same text are different BYTES, so every
    * fingerprint operator in the repo would treat them as different
    * documents — normalization is the step before hashing. The corpus
    * is ASCII, so the query plants a decomposed `é` (e + U+0301) per
    * document and reports the rewrite: changed flag, char lengths
    * before/after (composition drops one), and the md5 of the
    * normalized text — all replayed exactly by DuckDB's
    * `nfc_normalize`. Narrow, zero shuffle.
    */
  def normalizeNfc(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NfcNormalize.nfcNormalize
    val raw = concat(col("text"), lit(" Café "), col("lang"))
    table(spark, sfDir, "documents").select(
      col("doc_id"),
      (nfcNormalize(raw) =!= raw).cast("long").as("changed"),
      md5(nfcNormalize(raw).cast("binary")).as("fp_nfc"),
      length(raw).cast("long").as("len_raw"),
      length(nfcNormalize(raw)).cast("long").as("len_nfc"))
      .orderBy("doc_id")
  }

  def normalizeNfcSql: String =
    """WITH p AS (
      |  SELECT doc_id, text || ' Cafe' || chr(769) || ' ' || lang AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(CASE WHEN nfc_normalize(raw) = raw THEN 0 ELSE 1 END AS BIGINT)
      |    AS changed,
      |  md5(nfc_normalize(raw)) AS fp_nfc,
      |  CAST(len(raw) AS BIGINT) AS len_raw,
      |  CAST(len(nfc_normalize(raw)) AS BIGINT) AS len_nfc
      |FROM p ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ script mix
  /** THE per-character script classification — printable codepoints
    * (cp > 32 drops whitespace/control) classified into {latin, cjk,
    * cyr, digit, other} by the codegen'd [[graft.functions
    * .ScriptCounts]] kernel: one codepoint loop per row, full
    * codepoints (an emoji counts ONCE — non-BMP spec-pinned), exactly
    * the oracle's `unicode(text[i:i])` recipe. [[scriptMix]], the
    * drift door's script axis ([[scriptCountsOf]]) and their oracles
    * all derive from this one recipe; the earlier
    * split("")/transform(ascii)/filter composition computed the same
    * integers but paid interpreted HOF dispatch plus a per-character
    * string allocation per range test (Spark's HOFs are
    * CodegenFallback) — on the drift door this was the whole cost of
    * the script axis.
    */
  private def scriptCounts(textCol: Column): Column =
    graft.functions.ScriptCounts.scriptCounts(textCol)

  /** Unicode-script mix audit: per language, the ppm share of Latin,
    * CJK, Cyrillic and digit codepoints — the triage a multilingual
    * pipeline runs to catch wrong-language contamination before
    * langid ever sees the text. Pure HOFs over the per-character
    * codepoints (`ascii`/`unicode` agree on full codepoints in both
    * engines), exact integer counts, ppm by BIGINT division. The
    * corpus is ASCII, so a fixed multilingual suffix is planted per
    * doc to prove the classifier discriminates. One scan, one
    * combining per-lang aggregate.
    */
  def scriptMix(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = concat(col("text"), lit(" 中文 кириллица 123"))
    val sc = scriptCounts(planted)
    table(spark, sfDir, "documents")
      .select(col("lang"),
        sc.getField("n_cp").as("n_cp"),
        sc.getField("latin").as("n_latin"),
        sc.getField("cjk").as("n_cjk"),
        sc.getField("cyr").as("n_cyr"),
        sc.getField("digit").as("n_digit"))
      .groupBy("lang")
      .agg(sum(col("n_cp")).as("n_cp"),
        sum(col("n_latin")).as("n_latin"),
        sum(col("n_cjk")).as("n_cjk"),
        sum(col("n_cyr")).as("n_cyr"),
        sum(col("n_digit")).as("n_digit"))
      .withColumn("latin_ppm", expr("(1000000 * n_latin) div n_cp"))
      .withColumn("cjk_ppm", expr("(1000000 * n_cjk) div n_cp"))
      .withColumn("cyr_ppm", expr("(1000000 * n_cyr) div n_cp"))
      .orderBy("lang")
  }

  def scriptMixSql: String =
    """WITH p AS (
      |  SELECT lang, text || ' 中文 кириллица 123' AS t FROM documents),
      |c AS (
      |  SELECT lang, list_filter(list_transform(
      |    generate_series(1, len(t)), i -> unicode(t[i:i])), x -> x > 32) AS cps
      |  FROM p),
      |d AS (
      |  SELECT lang,
      |    CAST(len(cps) AS BIGINT) AS n_cp,
      |    CAST(len(list_filter(cps, x -> (x >= 97 AND x <= 122)
      |      OR (x >= 65 AND x <= 90))) AS BIGINT) AS n_latin,
      |    CAST(len(list_filter(cps, x -> x >= 19968 AND x <= 40959)) AS BIGINT)
      |      AS n_cjk,
      |    CAST(len(list_filter(cps, x -> x >= 1024 AND x <= 1279)) AS BIGINT)
      |      AS n_cyr,
      |    CAST(len(list_filter(cps, x -> x >= 48 AND x <= 57)) AS BIGINT)
      |      AS n_digit
      |  FROM c)
      |SELECT lang, CAST(sum(n_cp) AS BIGINT) AS n_cp,
      |  CAST(sum(n_latin) AS BIGINT) AS n_latin,
      |  CAST(sum(n_cjk) AS BIGINT) AS n_cjk,
      |  CAST(sum(n_cyr) AS BIGINT) AS n_cyr,
      |  CAST(sum(n_digit) AS BIGINT) AS n_digit,
      |  (1000000 * CAST(sum(n_latin) AS BIGINT)) // CAST(sum(n_cp) AS BIGINT)
      |    AS latin_ppm,
      |  (1000000 * CAST(sum(n_cjk) AS BIGINT)) // CAST(sum(n_cp) AS BIGINT)
      |    AS cjk_ppm,
      |  (1000000 * CAST(sum(n_cyr) AS BIGINT)) // CAST(sum(n_cp) AS BIGINT)
      |    AS cyr_ppm
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------- importance weighting
  /** DSIR-style data-selection scoring (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how target-domain-like its unigram distribution
    * is, so a pretraining mix can upsample raw data that resembles a
    * trusted target corpus. Target domain here = the `en` slice; raw =
    * the whole corpus. Per token the affinity is the frequency ratio
    * (p_target / p_corpus) in ppm; per document, the floor-mean of its
    * tokens' affinities (DSIR's log-likelihood-ratio becomes a ratio
    * mean: libm `log` is not exactly rounded so engines could differ in
    * the last ulp, while this fixed tree of IEEE-exactly-rounded
    * divide/multiply ops is bit-identical across engines and ranks
    * documents the same way for selection purposes).
    *
    * Scale shape: ONE vocab groupBy carrying both counts (corpus
    * count + conditional target count — not two aggregations),
    * materialized once (`localCheckpoint` — the vocab is unique
    * tokens, orders of magnitude smaller than the corpus; without it
    * Spark re-derives the corpus explode for the totals aggregate AND
    * the probe join, tripling the dominant scan), one broadcast 1-row
    * totals, one equi-join of the token stream back to the vocab, one
    * per-doc aggregate. Two corpus passes total; linear, skew-free
    * (hot tokens join against a single vocab row).
    */
  def importanceWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(
      count(lit(1)).as("cnt_s"),
      count(when(col("lang") === "en", 1)).as("cnt_t"))
      .localCheckpoint(true)
    val totals = vocab.agg(
      sum("cnt_s").as("ns"), sum("cnt_t").as("nt"))
    // fixed op order, each exactly rounded: (cnt_t/nt) / (cnt_s/ns),
    // then *1e6, then floor — the oracle spells the identical tree.
    // nt = 0 (no target-domain docs at all) would be 0/0 — NULL under
    // Spark's non-ANSI divide, NaN on the oracle's — so it is pinned
    // to affinity 0 explicitly on BOTH sides: with an empty target
    // every token is equally (un)informative.
    val affinity = when(col("nt") === 0, lit(0L)).otherwise(
      floor(lit(1000000d) *
        ((col("cnt_t").cast("double") / col("nt").cast("double")) /
          (col("cnt_s").cast("double") / col("ns").cast("double")))).cast("long"))
    val perTok = toks.select("doc_id", "tok") // probe side: lang not needed past the vocab build
      .join(vocab, "tok")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), affinity.as("aff"))
    perTok.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        floor(sum(col("aff")) / count(lit(1))).cast("long").as("affinity_ppm"))
      .orderBy("doc_id")
  }

  def importanceWeightsSql: String =
    """WITH e AS (SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents WHERE len(trim(text)) > 0),
      |v AS (SELECT tok, count(*) AS cnt_s,
      |    count(CASE WHEN lang = 'en' THEN 1 END) AS cnt_t
      |  FROM e GROUP BY tok),
      |t AS (SELECT CAST(sum(cnt_s) AS BIGINT) AS ns, CAST(sum(cnt_t) AS BIGINT) AS nt FROM v),
      |p AS (SELECT e.doc_id,
      |    CASE WHEN t.nt = 0 THEN 0 ELSE CAST(floor(1000000.0 *
      |      ((CAST(v.cnt_t AS DOUBLE) / CAST(t.nt AS DOUBLE)) /
      |       (CAST(v.cnt_s AS DOUBLE) / CAST(t.ns AS DOUBLE)))) AS BIGINT) END AS aff
      |  FROM e JOIN v USING (tok), t)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(floor(CAST(sum(aff) AS DOUBLE) / count(*)) AS BIGINT) AS affinity_ppm
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- n-gram diversity
  /** Corpus diversity report: distinct-n over total-n for word n-grams
    * (n = 1, 2, 3) — the "distinct-n" diversity metric used to detect
    * mode collapse in generated corpora and template boilerplate in
    * scraped ones (low distinct-2/3 = the same phrasings repeated).
    *
    * Scale shape: ONE corpus pass — each document emits its 1/2/3-gram
    * shingles tagged with n in a single narrow explode (three
    * per-query scans would triple the dominant tokenize cost), then
    * one groupBy(n) aggregate; the distinct count is the unavoidable
    * shuffle, and it shuffles the 61-bit polynomial FINGERPRINT of
    * each n-gram ([[graft.functions.PolyGramHash]]), not the string
    * ([[lineDedup]]'s convention — web n-grams are unbounded, 8
    * bytes/row cross the wire). Both engines
    * fingerprint the same strings, so collisions are shared and the
    * compare stays bit-exact; vs true string-distinct the count is low
    * by ~d²/2^57 (d distinct n-grams) — at 1e11 n-grams that is a
    * ~4e-5 relative error on a ppm-scale diversity metric, far below
    * the metric's own sampling noise. The n-gram relation is never
    * materialized twice (total and distinct come from the same
    * aggregate).
    */
  def ngramDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tokens(col("text"))
    // gram fingerprints via the codegen'd polynomial kernel (PolyHash)
    // instead of md5 over space-joined shingle strings: no per-gram
    // string allocation, no digest, and the 61-bit fingerprint's
    // collision rate matches the md5-56 distinct-count convention
    val tagged = (1 to 3).map(n =>
      transform(graft.functions.PolyGramHash.polyGramHash(toks, n),
        h => struct(lit(n).as("n"), h.as("g"))))
    table(spark, sfDir, "documents")
      .select(explode(flatten(array(tagged: _*))).as("t"))
      .select(col("t.n").as("n"), col("t.g").as("g"))
      .groupBy("n")
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("g")).as("distinct_ngrams"))
      .select(col("n").cast("int").as("n"), col("total_ngrams"), col("distinct_ngrams"),
        floor(lit(1000000d) * col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double")).cast("long").as("distinct_ppm"))
      .orderBy("n")
  }

  def ngramDiversitySql: String = {
    // the PolyHash fingerprint via the one-copy SQL twin
    // (graft.functions.PolyHash.thSql/gramSql), and a HAVING guard: a
    // bare aggregate leg always emits a row, but the Spark side's
    // groupBy(n) emits nothing for an n no document reaches — the
    // guard drops the leg's empty row (and with it the 0/0 it would
    // otherwise compute) so degenerate corpora agree.
    import graft.functions.PolyHash
    def leg(n: Int) =
      s"""SELECT $n AS n, CAST(count(*) AS BIGINT) AS total_ngrams,
         |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
         |  CAST(floor(1000000.0 * CAST(count(DISTINCT g) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS distinct_ppm
         |FROM (SELECT unnest(list_transform(range(1, len(th) - $n + 2), j ->
         |    ${PolyHash.gramSql("th", "j", n)})) AS g
         |  FROM (SELECT ${PolyHash.thSql("regexp_split_to_array(trim(text), '\\s+')")} AS th
         |        FROM documents WHERE len(trim(text)) > 0) WHERE len(th) >= $n)
         |HAVING count(*) > 0""".stripMargin
    (1 to 3).map(leg).mkString("", "\nUNION ALL\n", "\nORDER BY n")
  }

  // ------------------------------------ model-based quality classifier
  /** Model-based quality filtering — the linear-classifier gate of a
    * FineWeb-Edu / fastText-style pipeline — scored entirely inside one
    * narrow expression chain: each token hashes into one of 1024 weight
    * buckets (the hashing trick, so there is NO vocabulary relation and
    * NO join), the per-doc score is the sum of bucket weights,
    * length-normalized, and the keep gate compares it to 0. Inference
    * is scan-speed at 100 TB: zero shuffles, zero driver state, the
    * whole thing lives in one WholeStageCodegen span.
    *
    * The weights are a deterministic md5-derived stand-in for trained
    * parameters (same honesty contract as the multimodal codec stub —
    * the image libs / trained model aren't in this container): the
    * hashing-trick plumbing, integer scoring, and gate are the real
    * production shape, and swapping in trained weights is a
    * one-relation change (broadcast a 1024-row weight table or bake
    * literals). Integer weights in [-1000, 1000] keep every sum exact
    * (|sum| < 2⁵³ up to 9×10⁴⁹ tokens/doc) so the gate is bit-identical
    * across engines.
    */
  /** The classifier's (n_tokens, score_sum) expressions over `text` —
    * ONE definition consumed by the batch op and the streaming gate
    * ([[graft.streaming.StreamingOps.qualityGateStream]]), so a
    * document the backfill keeps is exactly the document the live gate
    * keeps.
    */
  private[graft] def classifierExprs: (Column, Column) = {
    // NULL text scores as empty (0 tokens, score 0, keep 0) on BOTH
    // engines — without the coalesce, Spark's NULL array would leak
    // NULL through size/aggregate while the oracle's coalesce yields 0
    val t = tokens(coalesce(col("text"), lit("")))
    val weightOf = (w: Column) =>
      md5Long(concat(lit("w:"), pmod(md5Long(w), lit(1024L)).cast("string"))) % 2001L - 1000L
    (size(t).cast("long"),
      aggregate(transform(t, weightOf), lit(0L), (acc, x) => acc + x))
  }

  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val (nToks, scoreSum) = classifierExprs
    val avg = when(col("n_tokens") === 0, lit(0L)).otherwise(
      floor(col("score_sum").cast("double") / col("n_tokens").cast("double")).cast("long"))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), nToks.as("n_tokens"), scoreSum.as("score_sum"))
      .withColumn("score_avg", avg)
      .withColumn("keep", (col("score_avg") > 0).cast("long"))
      .orderBy("doc_id")
  }

  def qualityClassifierSql: String = {
    val weight = "(CAST('0x' || substr(md5('w:' || CAST(" +
      "CAST('0x' || substr(md5(w), 1, 14) AS BIGINT) % 1024" +
      " AS VARCHAR)), 1, 14) AS BIGINT) % 2001) - 1000"
    // NULL text folds to '' before tokenizing — the twin of the Spark
    // side's coalesce, so a NULL row is (0, 0, 0, keep 0) on both
    val toks = "CASE WHEN len(trim(coalesce(text, ''))) = 0 " +
      "THEN CAST([] AS VARCHAR[]) " +
      "ELSE regexp_split_to_array(trim(coalesce(text, '')), '\\s+') END"
    s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
       |s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(list_sum(list_transform(toks, w -> $weight)), 0) AS BIGINT) AS score_sum
       |  FROM tk),
       |a AS (SELECT doc_id, n_tokens, score_sum,
       |    CASE WHEN n_tokens = 0 THEN 0
       |         ELSE CAST(floor(CAST(score_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS BIGINT)
       |    END AS score_avg
       |  FROM s)
       |SELECT doc_id, n_tokens, score_sum, score_avg,
       |  CAST(CASE WHEN score_avg > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM a ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------- bigram LM quality scoring
  /** N-gram LM quality scoring — the CCNet-style perplexity-filtering
    * stage: train a bigram model on a held-in half of the corpus (the
    * even-doc_id parity split — deliberately simpler than
    * [[evalSplit]]'s md5-bucket convention, and spelled identically in
    * the oracle), then score every document WITH at least one bigram
    * (docs of fewer than two tokens have no bigrams and emit no row,
    * on both engines) by its mean per-bigram score under stupid backoff
    * (Brants et al. 2007: score = c(w₁w₂)/c(w₁), backing off to
    * 0.4·c(w₂)/N for unseen bigrams, 0 for OOV — scores, not
    * normalized probabilities, exactly as published). Garbled text and
    * boilerplate land in the low tail, natural prose in the middle —
    * the gate CCNet cuts on. Scores are quantized to integer ppm at
    * each division (fixed op order both engines) so the compare is
    * exact; a float log-prob would hit libm's last-ulp divergence
    * ([[unigramQuality]]'s rationale).
    *
    * Scale shape: the model IS two count relations (unigrams, bigrams
    * — map-side-combining groupBys over the training half, no driver
    * state); scoring is three left equi-joins from the per-doc
    * DISTINCT bigram ledger (occurrences pre-aggregated to (doc, w₁,
    * w₂, k) so repeated bigrams join once) + one broadcast of the
    * 1-row token total, then a per-doc combining aggregate. Every
    * shuffle keys on token text — Zipf skew on the model side is
    * bounded because the join's build relations are counts, not
    * occurrences; AQE handles the probe side. Linear at 100 TB.
    *
    * Materialization trade (r19): `uni` is vocab-sized — bounded at
    * any corpus, always worth materializing for its three consumers.
    * `occ` is corpus-scale but already the COMPRESSED ledger (distinct
    * bigrams per doc, two words + a count — far smaller than the raw
    * text it derives from); its checkpoint buys back a full
    * scan→tokenize→explode→aggregate pass (the single most CPU-dense
    * stage here), which is the §5 recompute-vs-memory trade in the
    * direction that favors materializing. On a cluster the equivalent
    * is a persist(MEMORY_AND_DISK) scoped to the job.
    */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val all = table(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
    def bigramsOf(df: DataFrame) = df.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = all.where(col("doc_id") % 2 === 0)
    val trTok = train.select(explode(col("t")).as("w"))
    // r19 (guide §2.4, VERDICT #3): the model relations were DERIVED
    // shapes that re-ran scan→tokenize→explode per consumer — uni fed
    // two broadcast joins plus (via the old trTok count) the token
    // total, and the occurrence ledger's %2 train fold split from its
    // probe use, so the bigram explode ran twice. Materializing the
    // two BOUNDED model relations once (uni is vocab-sized, occ is the
    // pre-aggregated per-doc ledger) cuts the tokenize/explode passes
    // from five to two; the token total then folds out of uni
    // (sum of per-word counts IS the token count — same long, exactly)
    // instead of paying its own pass.
    val uni = trTok.groupBy("w").agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    val nTr = uni.agg(sum(col("c1")).as("n"))
    val occ = bigramsOf(all).groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("k")).localCheckpoint(true)
    val big = occ.where(col("doc_id") % 2 === 0)
      .groupBy("w1", "w2").agg(sum("k").as("c2"))
    val s = when(col("c2").isNotNull,
        floor(lit(1000000d) * col("c2").cast("double") / col("c1").cast("double")))
      .otherwise(when(col("cw2").isNotNull,
        floor(lit(400000d) * col("cw2").cast("double") / col("n").cast("double")))
      .otherwise(lit(0d))).cast("long")
    occ
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("cw2")), Seq("w2"), "left")
      .crossJoin(broadcast(nTr))
      .select(col("doc_id"), col("k"), s.as("s"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        floor(sum(col("k") * col("s")).cast("double") /
          sum(col("k")).cast("double")).cast("long").as("lm_score_ppm"))
      .orderBy("doc_id")
  }

  def lmScoreSql: String =
    """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents WHERE len(trim(text)) > 0),
      |trt AS (SELECT unnest(toks) AS w FROM tk WHERE doc_id % 2 = 0),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM trt GROUP BY w),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM trt),
      |bg AS (SELECT doc_id,
      |    unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
      |    unnest(list_slice(toks, 2, len(toks))) AS w2
      |  FROM tk WHERE len(toks) >= 2),
      |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      |  FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2),
      |occ AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
      |  FROM bg GROUP BY doc_id, w1, w2),
      |sc AS (SELECT o.doc_id, o.k,
      |    CASE WHEN b.c2 IS NOT NULL
      |         THEN CAST(floor(1000000.0 * CAST(b.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)) AS BIGINT)
      |         WHEN u2.c1 IS NOT NULL
      |         THEN CAST(floor(400000.0 * CAST(u2.c1 AS DOUBLE) / CAST(n.n AS DOUBLE)) AS BIGINT)
      |         ELSE 0 END AS s
      |  FROM occ o
      |  LEFT JOIN big b ON o.w1 = b.w1 AND o.w2 = b.w2
      |  LEFT JOIN uni u1 ON o.w1 = u1.w
      |  LEFT JOIN uni u2 ON o.w2 = u2.w, n)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |  CAST(floor(CAST(sum(k * s) AS DOUBLE) / CAST(sum(k) AS DOUBLE)) AS BIGINT) AS lm_score_ppm
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- shuffle-shard layout
  /** Reproducible corpus shuffle + sharding, audited per shard: every
    * document is assigned shard = md5("shuf:"‖doc_id) mod 16 — the
    * deterministic global shuffle every pretraining run needs (hash
    * order is reproducible across runs, partitionings and engines,
    * where `rand()`/`repartition` orderings are not; the reference's
    * engine-per-chunk split plays the same role for import,
    * `lightning/mydump/region.go`). The probe emits each shard's doc
    * count, token mass, and doc_id checksum: balance + membership in
    * one 16-row relation.
    *
    * Scale shape: the assignment is a narrow expression at scan speed
    * and the audit is one map-side-combining groupBy on 16 keys. The
    * production write is `.repartition(N, shard).sortWithinPartitions
    * (shard, key)` — hash exchange + per-partition sort, NO global
    * range sort — and N scales with the cluster, not with this fixed
    * 16 (a window/row_number per shard would serialize each shard
    * through one reducer; file-local write order is the contract
    * real tokenizer pipelines use instead).
    */
  def shuffleShard(spark: SparkSession, sfDir: String): DataFrame = {
    val key = md5Long(concat(lit("shuf:"), col("doc_id").cast("string")))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("nt"),
        (key % 16).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        sum("doc_id").as("sum_ids"))
      .orderBy("shard")
  }

  def shuffleShardSql: String =
    """WITH a AS (SELECT doc_id,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt,
      |    CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 16 AS shard
      |  FROM documents)
      |SELECT shard, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM a GROUP BY shard ORDER BY shard""".stripMargin

  // --------------------------------------------- mix materialization
  /** Token budget for [[mixSample]] — the corpus-independent knob. */
  val MixBudgetTokens = 20000L

  /** Materialize the training mix: apply [[mixtureWeights]]' √-
    * temperature weights as a deterministic per-source Bernoulli
    * sample at a fixed token budget. Source s keeps each document
    * with probability budget·w_s / tokens_s (capped at 1), decided by
    * md5("mix:"‖doc_id) mod 10⁶ < rate_ppm — reproducible, join-free
    * per row, and exactly the documents a re-run or a resumed 100 TB
    * job would pick again. The per-source audit (requested rate, kept
    * docs, kept tokens) is the mix card a training run logs.
    *
    * Scale shape: two corpus scans (per-source stats, then the
    * filtered audit) + a broadcast of the 20-row rate relation into
    * an equi-join on `source`; the keep decision itself is a narrow
    * expression — no shuffle of the corpus beyond the audit's own
    * 20-key groupBy. The double arithmetic (budget·(q/qt)/tokens·10⁶,
    * floored) is IEEE-754-identical across engines, so the quantized
    * rate is engine-exact like [[mixtureWeights]]' weight column.
    */
  def mixSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val per = sourceTokenStats(docs)
    val total = per.agg(sum("q").as("qt"))
    // a zero-token source keeps nothing, by explicit guard: the double
    // pipeline would produce NaN here, and Spark's non-ANSI cast (0)
    // and DuckDB's NULL-division + least() (1000000) would diverge to
    // OPPOSITE verdicts — keep-none vs keep-all
    val rates = per.crossJoin(broadcast(total))
      .select(col("source"), when(col("n_tokens") === 0, lit(0L))
        .otherwise(least(lit(1000000L),
          floor(lit(MixBudgetTokens.toDouble) *
            (col("q").cast("double") / col("qt").cast("double")) /
            col("n_tokens").cast("double") * 1e6).cast("long"))).as("rate_ppm"))
    val keep = md5Long(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L
    docs.join(broadcast(rates), "source")
      .where(keep < col("rate_ppm"))
      .groupBy("source", "rate_ppm")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(tokens(col("text"))).cast("long")).as("kept_tokens"))
      .select(col("source"), col("rate_ppm"), col("n_kept"), col("kept_tokens"))
      .orderBy("source")
  }

  def mixSampleSql: String =
    s"""WITH $sourceStatsCtes,
      |r AS (SELECT source, n_tokens,
      |    CASE WHEN n_tokens = 0 THEN 0
      |    ELSE least(1000000, CAST(floor(${MixBudgetTokens}.0 *
      |      (CAST(qv AS DOUBLE) / CAST(qt AS DOUBLE)) /
      |      CAST(n_tokens AS DOUBLE) * 1000000) AS BIGINT)) END AS rate_ppm
      |  FROM q, t)
      |SELECT d.source, r.rate_ppm, count(*) AS n_kept,
      |  CAST(sum(CASE WHEN len(trim(d.text)) = 0 THEN 0
      |    ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END) AS BIGINT) AS kept_tokens
      |FROM documents d JOIN r ON d.source = r.source
      |WHERE CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 1000000 < r.rate_ppm
      |GROUP BY d.source, r.rate_ppm ORDER BY d.source""".stripMargin

  // --------------------------------------------- distribution drift gate
  private val LangStatsVersion = 2

  /** L1 drift threshold in ppm: an incoming batch whose language
    * distribution differs from the corpus by more than 20 points of
    * total probability mass (Σ|p−q| > 0.2, i.e. TV > 0.1) is flagged.
    */
  val DriftThresholdPpm = 200000L

  /** Standing corpus language histogram — the reference distribution
    * the drift gate compares incoming batches against. A few partial
    * rows per lang (counts are trivially mergeable — [[driftOf]] sums
    * them at read), seeded once per corpus stamp
    * ([[graft.GraftSession.ensureLayout]]) and maintained LIVE by
    * [[DriftReference.append]]/[[DriftReference.appendOnce]] with what the door
    * PASSES — a 24/7 door must track the corpus as it legitimately
    * shifts, not compare against the day-one snapshot forever. At
    * 100 TB this is the point: the gate never rescans the corpus, it
    * broadcasts a langs-sized relation.
    */
  /** ONE implementation of the standing drift-reference lifecycle,
    * shared by all axes (and free for any future bounded-domain
    * axis): a histogram is defined by its layout name, its key column,
    * and ONE counts recipe (`countsOf: docs => (key, n)`), and gets
    * the full standing-layout symmetry — corpus-stamp seed with
    * marker/staging voiding on rebuild (the usersketch discipline),
    * O(batch) partial appends, a batchId-deduped appendOnce, semantic
    * compaction on the shared snapshot/manifest engine, and a
    * presence probe for `Ctl index-compact`.
    *
    * v2 layout: the corpus-stamp SEED and the maintenance APPENDS live
    * in separate subdirs (`seed/` + `hist/`). The registered batch
    * queries read the seed ONLY — their DuckDB twins recompute the
    * reference from `documents`, and a maintaining door appending into
    * the same relation would silently break that parity contract
    * forever (r12 advice). The door reads [[read]] = seed ∪ appends —
    * the live reference that tracks what it accepted. A corpus-stamp
    * REBUILD clears the appends with the seed (the documented reseed
    * contract: a new corpus snapshot voids maintenance history).
    */
  private[graft] final class DriftReference(val layoutName: String, key: String,
      countsOf: DataFrame => DataFrame) {

    private def root(sfDir: String): String =
      s"${graft.GraftSession.fixtureRoot(sfDir)}/$layoutName"

    /** Ensure the layout; returns the SEED dir — the parity-stable
      * relation the registered queries scan.
      */
    def seed(spark: SparkSession, sfDir: String): String = {
      val layout = root(sfDir)
      graft.GraftSession.ensureLayout(spark, layout, s"$sfDir/documents.parquet") {
        // a rebuild is a new corpus snapshot — void any streaming
        // maintenance batch marker, any crashed compaction's staging
        // tree, AND the appends themselves (reseed contract)
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(layout, "_LAST_BATCH"))
        graft.GraftSession.deleteRec(
          java.nio.file.Paths.get(s"$layout/hist_compacting"))
        graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/hist"))
        countsOf(table(spark, sfDir, "documents"))
          .coalesce(1).write.mode("overwrite").parquet(s"$layout/seed")
      }
      s"$layout/seed"
    }

    private def histDir(sfDir: String): String = s"${root(sfDir)}/hist"

    private def histHasData(sfDir: String): Boolean =
      graft.GraftSession.hasVisibleData(java.nio.file.Paths.get(histDir(sfDir)))

    /** The FULL standing reference — seed ∪ maintenance appends (the
      * door's view; partial rows per key, summed by [[driftCounts]]).
      */
    def read(spark: SparkSession, sfDir: String): DataFrame = {
      val s = spark.read.parquet(seed(spark, sfDir))
      if (histHasData(sfDir)) s.unionByName(spark.read.parquet(histDir(sfDir)))
      else s
    }

    def append(spark: SparkSession, sfDir: String, passedDocs: DataFrame): String = {
      seed(spark, sfDir) // ensure the base exists
      val hist = histDir(sfDir)
      graft.GraftSession.commitAppend(root(sfDir))(
        hist -> countsOf(passedDocs).write)
      hist
    }

    def appendOnce(spark: SparkSession, sfDir: String, passedDocs: DataFrame,
        batchId: Long, marker: Option[java.nio.file.Path] = None): Boolean = {
      seed(spark, sfDir)
      val layoutLocal =
        java.nio.file.Paths.get(root(sfDir)).resolve("_LAST_BATCH")
      // marker placement is the CALLER's idempotence scope: the
      // default (layout-local) suits a detached maintenance stream;
      // the door passes a marker inside its own outDir, so the
      // documented checkpoint-reset contract (clear the door dir,
      // batchIds restart) clears the maintenance high-water mark WITH
      // it — a reset door must not silently no-op its first N appends
      // against a stale layout-local mark. ONE maintaining marker per
      // layout either way; a caller with its own marker OWNS the
      // layout, so the superseded layout-local mark is voided — it
      // must not booby-trap a LATER switch to detached maintenance
      // with a silent freeze.
      marker.foreach(_ => java.nio.file.Files.deleteIfExists(layoutLocal))
      graft.GraftSession.appliedOnce(marker.getOrElse(layoutLocal), batchId) {
        append(spark, sfDir, passedDocs)
      }
    }

    def compact(spark: SparkSession, sfDir: String,
        beforeSwap: () => Unit = () => ()): String = {
      seed(spark, sfDir)
      val hist = histDir(sfDir)
      // the seed never fragments (one file, rewritten only at corpus
      // restamp) — compaction is an APPENDS concern; an append-free
      // layout has nothing to do (and compactSnapshot requires a tree)
      if (histHasData(sfDir))
        graft.GraftSession.compactSnapshot(spark, hist, (df, staged) => df
          .groupBy(key).agg(sum(col("n")).as("n"))
          .coalesce(1)
          .write.mode("overwrite").parquet(staged),
          beforeSwap)
      hist
    }

    def present(sfDir: String): Boolean =
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"${root(sfDir)}/seed"))

    /** The layout's root dir (specs pin marker placement). */
    def dir(sfDir: String): String = root(sfDir)
  }

  private val ScriptStatsVersion = 2

  /** Standing corpus language histogram (a few partial rows per lang;
    * [[driftCounts]] sums them at read).
    */
  private[graft] val langStats = new DriftReference(s"langstats_v$LangStatsVersion",
    "lang", _.groupBy("lang").agg(count(lit(1)).as("n")))

  /** The SECOND standing drift reference: the corpus's per-script
    * codepoint histogram (5 rows — bounded domain by construction,
    * exactly like the lang axis's |langs|).
    */
  private[graft] val scriptStats = new DriftReference(
    s"scriptstats_v$ScriptStatsVersion", "script", scriptCountsOf)

  private val LenStatsVersion = 1

  /** Per-length-bucket doc counts — (len_bucket, n) over the bounded
    * domain of DIGIT COUNTS of the char length (~1–8 buckets: a 3-char
    * doc is bucket 1, a 514-char doc bucket 3). The THIRD drift axis's
    * counts recipe: a scraper delivering TRUNCATED documents keeps its
    * language AND script mix — neither other axis sees it — but
    * collapses the length-bucket distribution. Exact integer
    * arithmetic in both engines (char length → decimal digit count);
    * NULL text counts as empty, the [[scriptCountsOf]] convention.
    */
  private[graft] def lenCountsOf(docs: DataFrame): DataFrame =
    docs.groupBy(
        length(length(coalesce(col("text"), lit(""))).cast("string"))
          .cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n"))

  /** The THIRD standing drift reference: the corpus's length-bucket
    * histogram ([[lenCountsOf]]).
    */
  private[graft] val lenStats = new DriftReference(
    s"lenstats_v$LenStatsVersion", "len_bucket", lenCountsOf)

  private val TokStatsVersion = 1

  /** Per-mean-token-length-bucket doc counts — (tok_bucket, n) over
    * the bounded domain of DIGIT COUNTS of chars-per-token (BIGINT
    * floor division; a 0-token blank doc is bucket 0, normal prose
    * with ~5-char mean tokens bucket 1, a single-giant-token doc its
    * length's digit count, ≤8). The FOURTH drift axis's counts
    * recipe, and the proof the v2 map-typed audit schema holds its
    * promise: this axis is ONE [[DriftReference]] constructor call and
    * a map key — zero schema change anywhere. The adversary it
    * catches: SLUGIFICATION (whitespace collapsed to hyphens by a
    * mangling pipeline) keeps the language metadata, the script mix
    * (space and hyphen both sit in the `other` codepoint class — a
    * 1:1 swap inside one class), and every document length — all
    * three standing axes blind — while the token count collapses to 1
    * and the mean-token-length bucket jumps. Exact integers end to
    * end; NULL text counts as empty (the [[lenCountsOf]] convention).
    */
  private[graft] def tokCountsOf(docs: DataFrame): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    docs
      .select(length(txt).cast("long").as("chars"),
        when(length(trim(txt)) === 0, lit(0L))
          .otherwise(size(split(trim(txt), "\\s+")).cast("long")).as("ntok"))
      .withColumn("tok_bucket",
        when(col("ntok") === 0, lit(0L))
          .otherwise(length(expr("chars div ntok").cast("string")).cast("long")))
      .groupBy("tok_bucket").agg(count(lit(1)).as("n"))
  }

  /** The FOURTH standing drift reference: the corpus's mean-token-
    * length-bucket histogram ([[tokCountsOf]]).
    */
  private[graft] val tokStats = new DriftReference(
    s"tokstats_v$TokStatsVersion", "tok_bucket", tokCountsOf)

  /** L1 distance (ppm) between a batch's language distribution and the
    * standing histogram — THE one drift computation (batch query,
    * streaming gate and spec all call this, so the metric cannot drift
    * between paths). Exact integer arithmetic end to end: per-lang
    * shares quantized by BIGINT floor-division to ppm, |diffs| summed —
    * no log/entropy float whose last ulp differs between engines. The
    * full-outer join keeps a lang that only one side has (its whole
    * share counts as drift). Returns one row (n_docs, l1_ppm, drifted).
    */
  private[graft] def driftOf(batch: DataFrame, hist: DataFrame): DataFrame =
    driftCounts(batch.groupBy("lang").agg(count(lit(1)).as("nb")), hist, "lang")

  /** The script-axis twin of [[driftOf]]: the batch's per-script
    * codepoint counts ([[scriptCountsOf]]) against the standing script
    * histogram, through the IDENTICAL integer-L1 kernel — one metric,
    * two bounded-domain axes. The lang axis alone is easy to pass
    * while the content shifts (same langs, junk text); this catches
    * the junk. `n_docs` here counts CODEPOINTS (the axis's mass unit).
    */
  private[graft] def driftScriptOf(batch: DataFrame, hist: DataFrame): DataFrame =
    driftCounts(scriptCountsOf(batch).withColumnRenamed("n", "nb"),
      hist, "script")

  /** The length-axis twin of [[driftOf]]: the batch's per-length-bucket
    * doc counts ([[lenCountsOf]]) against the standing length
    * histogram, through the IDENTICAL integer-L1 kernel. Catches the
    * truncation adversary the other two axes are blind to: cut-off
    * documents keep their language and script mix exactly.
    */
  private[graft] def driftLenOf(batch: DataFrame, hist: DataFrame): DataFrame =
    driftCounts(lenCountsOf(batch).withColumnRenamed("n", "nb"),
      hist, "len_bucket")

  /** The mean-token-length twin of [[driftOf]]: the batch's per-
    * tok-bucket doc counts ([[tokCountsOf]]) against the standing
    * histogram, through the IDENTICAL integer-L1 kernel. Catches the
    * slugification adversary all three other axes are blind to.
    */
  private[graft] def driftTokOf(batch: DataFrame, hist: DataFrame): DataFrame =
    driftCounts(tokCountsOf(batch).withColumnRenamed("n", "nb"),
      hist, "tok_bucket")

  /** THE drift kernel, shared by both axes (and any future
    * bounded-domain axis): given pre-aggregated batch counts (key, nb)
    * and the standing histogram (key, n), the L1 distance in ppm
    * between the two distributions. Exact integer arithmetic end to
    * end: per-key shares quantized by BIGINT floor-division to ppm,
    * |diffs| summed — no log/entropy float whose last ulp differs
    * between engines. The full-outer join keeps a key only one side
    * has (its whole share counts as drift). Totals via an all-rows
    * window, NOT a second aggregation or a checkpoint: the joined
    * relation is key-cardinality-sized and evaluates exactly once (a
    * checkpoint here would pin one RDD per micro-batch in a 24/7
    * gate). The kernel owns the partial-row merge (an
    * append-maintained histogram holds a few rows per key; counts sum
    * exactly), so every caller — batch query, door, spec — reads a
    * maintained layout correctly. Zero totals guard explicitly: an
    * EMPTY standing histogram has no reference distribution, so every
    * batch's whole mass counts as drift (l1 = 1M, flagged) — loud,
    * never a null-propagating crash in the routing stream. Returns one
    * row (n_docs, l1_ppm, drifted).
    */
  private[graft] def driftCounts(batchCounts: DataFrame, hist: DataFrame,
      key: String): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val c = hist.groupBy(key).agg(sum(col("n")).as("n"))
    val b = batchCounts.groupBy(key).agg(sum(col("nb")).as("nb"))
    c.as("c").join(b.as("b"), Seq(key), "full_outer")
      .select(col(key),
        coalesce(col("n"), lit(0L)).as("nc"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .withColumn("tc", sum(col("nc")).over(all))
      .withColumn("tb", sum(col("nb")).over(all))
      .select(
        when(col("tc") === 0, lit(0L))
          .otherwise(expr("(1000000 * nc) div tc")).as("corpus_ppm"),
        when(col("tb") === 0, lit(0L))
          .otherwise(expr("(1000000 * nb) div tb")).as("batch_ppm"),
        col("nb"))
      .agg(sum(col("nb")).as("n_docs"),
        sum(abs(col("corpus_ppm") - col("batch_ppm"))).as("l1_ppm"))
      .select(coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("l1_ppm"), lit(0L)).as("l1_ppm"))
      .select(col("n_docs"), col("l1_ppm"),
        (col("l1_ppm") > DriftThresholdPpm).as("drifted"))
  }

  /** Per-script codepoint counts of a document relation — (script, n)
    * over the bounded domain {latin, cjk, cyr, digit, other}: ONE
    * narrow map-side-combined pass classifying every printable
    * codepoint by the shared [[scriptCounts]] kernel, then a 5-row
    * unpivot. NULL text counts as empty (a streaming batch may carry
    * nulls; the door must get a verdict, not a null-propagating size
    * of -1).
    */
  private[graft] def scriptCountsOf(docs: DataFrame): DataFrame = {
    val sc = scriptCounts(coalesce(col("text"), lit("")))
    docs
      .select(
        sc.getField("n_cp").as("n_cp"),
        sc.getField("latin").as("latin"),
        sc.getField("cjk").as("cjk"),
        sc.getField("cyr").as("cyr"),
        sc.getField("digit").as("digit"))
      .agg(coalesce(sum(col("n_cp")), lit(0L)).as("n_cp"),
        coalesce(sum(col("latin")), lit(0L)).as("latin"),
        coalesce(sum(col("cjk")), lit(0L)).as("cjk"),
        coalesce(sum(col("cyr")), lit(0L)).as("cyr"),
        coalesce(sum(col("digit")), lit(0L)).as("digit"))
      .select(expr(
        "stack(5, 'latin', latin, 'cjk', cjk, 'cyr', cyr, 'digit', digit, " +
          "'other', n_cp - latin - cjk - cyr - digit) AS (script, n)"))
  }

  /** Distribution-drift gate at the ingest door — the
    * [[graft.operators.DedupQueries.nearDupAdmitFor]] sibling for
    * BATCH-level QA: where the near-dup gate rejects individual
    * documents it has seen before, the drift gate flags a whole batch
    * whose language mix doesn't look like the corpus (a scraper stuck
    * on one domain, a mislabeled source, an upstream langid
    * regression). The registered form runs two deterministic synthetic
    * batches so BOTH verdicts occur and the oracle replays the full
    * construction: every-10th-doc (representative — small L1, passes)
    * and single-language (all docs of the alphabetically-first lang —
    * L1 ≈ 2·(1−share)·10⁶, flagged). Scale shape: the corpus side is
    * the standing |langs|-row histogram (broadcast), the batch side is
    * one combining groupBy over the batch only — corpus size never
    * enters the per-batch cost. Live twin:
    * [[graft.streaming.StreamingOps.driftGateStream]].
    */
  def driftGate(spark: SparkSession, sfDir: String): DataFrame = {
    // the SEED relation, not the maintained reference: the DuckDB twin
    // recomputes the histogram from `documents`, and a maintaining
    // door's appends into the same sfDir would otherwise silently
    // diverge the two forever (r12 advice — parity contract)
    val hist = spark.read.parquet(langStats.seed(spark, sfDir))
    val docs = table(spark, sfDir, "documents")
    // bounded driver value: the synthetic skewed batch's language
    val minLang = docs.agg(min(col("lang"))).head.getString(0)
    val rep = driftOf(docs.where(pmod(col("doc_id"), lit(10)) === 0), hist)
      .select(lit("representative").as("batch_kind"), col("*"))
    val skew = driftOf(docs.where(col("lang") === minLang), hist)
      .select(lit("single_lang").as("batch_kind"), col("*"))
    rep.unionByName(skew).orderBy("batch_kind")
  }

  def driftGateSql: String =
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY lang),
      |tc AS (SELECT CAST(sum(nc) AS BIGINT) AS tc FROM c),
      |rep AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY lang),
      |skew AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE lang = (SELECT min(lang) FROM documents) GROUP BY lang),
      |jr AS (SELECT coalesce(c.nc, 0) AS nc, coalesce(rep.nb, 0) AS nb
      |  FROM c FULL OUTER JOIN rep USING (lang)),
      |js AS (SELECT coalesce(c.nc, 0) AS nc, coalesce(skew.nb, 0) AS nb
      |  FROM c FULL OUTER JOIN skew USING (lang)),
      |sr AS (SELECT 'representative' AS batch_kind,
      |    CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_docs,
      |    CAST(coalesce(sum(abs(
      |      CASE WHEN tc = 0 THEN 0 ELSE (1000000 * nc) // tc END -
      |      CASE WHEN tb = 0 THEN 0 ELSE (1000000 * nb) // tb END)), 0) AS BIGINT) AS l1_ppm
      |  FROM jr, tc, (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS tb FROM jr)),
      |ss AS (SELECT 'single_lang' AS batch_kind,
      |    CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_docs,
      |    CAST(coalesce(sum(abs(
      |      CASE WHEN tc = 0 THEN 0 ELSE (1000000 * nc) // tc END -
      |      CASE WHEN tb = 0 THEN 0 ELSE (1000000 * nb) // tb END)), 0) AS BIGINT) AS l1_ppm
      |  FROM js, tc, (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS tb FROM js))
      |SELECT batch_kind, n_docs, l1_ppm, l1_ppm > $DriftThresholdPpm AS drifted
      |FROM (SELECT * FROM sr UNION ALL SELECT * FROM ss)
      |ORDER BY batch_kind""".stripMargin

  /** The digit-noise batch's planted body — all-digit text that leaves
    * the language column (and with it the lang axis) untouched while
    * collapsing the script mix. Interpolated into the oracle too.
    */
  private[graft] val DigitNoiseText = "0123456789 0123456789"

  /** TWO-AXIS drift gate — the registered form of the door's combined
    * verdict ([[graft.streaming.StreamingOps.driftRouteStream]] with
    * `scriptAxis = true`): each synthetic batch is judged on BOTH
    * bounded-domain axes through the one shared [[driftCounts]]
    * kernel — language mix vs the standing lang histogram AND
    * per-script codepoint mix vs the standing script histogram — and
    * flagged on the OR. The lang axis alone is easy to pass while the
    * content shifts (same langs, junk text): `digit_noise` is exactly
    * that adversary — the representative batch with its text replaced
    * by digits — so it PASSES the lang axis and FLAGS the script axis,
    * while `single_lang` flags lang and `representative` passes both.
    * Scale shape: two standing histograms (|langs| + 5 rows), two
    * combining aggregates over the batch only; the corpus is never
    * rescanned per batch.
    */
  def driftAxes(spark: SparkSession, sfDir: String): DataFrame = {
    // seeds, not the maintained references — the parity contract (see
    // [[driftGate]])
    val langHist = spark.read.parquet(langStats.seed(spark, sfDir))
    val scriptHist = spark.read.parquet(scriptStats.seed(spark, sfDir))
    val docs = table(spark, sfDir, "documents")
    // bounded driver value: the synthetic skewed batch's language
    val minLang = docs.agg(min(col("lang"))).head.getString(0)
    def langLeg(batch: DataFrame): DataFrame =
      driftOf(batch, langHist)
        .select(col("n_docs"), col("l1_ppm").as("lang_l1_ppm"),
          col("drifted").as("lang_drifted"))
    def scriptLeg(batch: DataFrame): DataFrame =
      driftScriptOf(batch, scriptHist)
        .select(col("l1_ppm").as("script_l1_ppm"),
          col("drifted").as("script_drifted"))
    def fuse(kind: String, l: DataFrame, s: DataFrame): DataFrame =
      l.crossJoin(s) // one row × one row — a bounded fuse, not a blowup
        .select(lit(kind).as("batch_kind"), col("n_docs"),
          col("lang_l1_ppm"), col("lang_drifted"),
          col("script_l1_ppm"), col("script_drifted"),
          (col("lang_drifted") || col("script_drifted")).as("drifted"))
    val rep = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val single = docs.where(col("lang") === minLang)
    // digit_noise rewrites TEXT only — its lang leg is the
    // representative batch's, computed once (the SQL twin shares l1rl
    // the same way)
    val repLang = langLeg(rep)
    fuse("digit_noise", repLang,
        scriptLeg(rep.withColumn("text", lit(DigitNoiseText))))
      .unionByName(fuse("representative", repLang, scriptLeg(rep)))
      .unionByName(fuse("single_lang", langLeg(single), scriptLeg(single)))
      .orderBy("batch_kind")
  }

  def driftAxesSql: String = {
    // one L1 leg of the kernel, replayed per (batch × axis) with the
    // same zero-total guards as the Scala path
    def l1(join: String) =
      s"""SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(abs(
        |      CASE WHEN tc = 0 THEN 0 ELSE (1000000 * nc) // tc END -
        |      CASE WHEN tb = 0 THEN 0 ELSE (1000000 * nb) // tb END)), 0) AS BIGINT) AS l1
        |  FROM $join, (SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS tc FROM $join),
        |    (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS tb FROM $join)""".stripMargin
    s"""WITH lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY lang),
      |scd AS (SELECT doc_id, lang,
      |    list_filter(list_transform(generate_series(1, len(text)),
      |      i -> unicode(text[i:i])), x -> x > 32) AS cps
      |  FROM documents),
      |scc AS (SELECT doc_id, lang,
      |    CAST(len(cps) AS BIGINT) AS n_cp,
      |    CAST(len(list_filter(cps, x -> (x >= 97 AND x <= 122)
      |      OR (x >= 65 AND x <= 90))) AS BIGINT) AS latin,
      |    CAST(len(list_filter(cps, x -> x >= 19968 AND x <= 40959)) AS BIGINT) AS cjk,
      |    CAST(len(list_filter(cps, x -> x >= 1024 AND x <= 1279)) AS BIGINT) AS cyr,
      |    CAST(len(list_filter(cps, x -> x >= 48 AND x <= 57)) AS BIGINT) AS digit
      |  FROM scd),
      |st AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM scc),
      |sh AS (SELECT 'latin' AS script, latin AS nc FROM st
      |  UNION ALL SELECT 'cjk', cjk FROM st
      |  UNION ALL SELECT 'cyr', cyr FROM st
      |  UNION ALL SELECT 'digit', digit FROM st
      |  UNION ALL SELECT 'other', n_cp - latin - cjk - cyr - digit FROM st),
      |rl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY lang),
      |rst AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM scc WHERE doc_id % 10 = 0),
      |rs AS (SELECT 'latin' AS script, latin AS nb FROM rst
      |  UNION ALL SELECT 'cjk', cjk FROM rst
      |  UNION ALL SELECT 'cyr', cyr FROM rst
      |  UNION ALL SELECT 'digit', digit FROM rst
      |  UNION ALL SELECT 'other', n_cp - latin - cjk - cyr - digit FROM rst),
      |ul AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE lang = (SELECT min(lang) FROM documents) GROUP BY lang),
      |ust AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM scc
      |  WHERE lang = (SELECT min(lang) FROM documents)),
      |us AS (SELECT 'latin' AS script, latin AS nb FROM ust
      |  UNION ALL SELECT 'cjk', cjk FROM ust
      |  UNION ALL SELECT 'cyr', cyr FROM ust
      |  UNION ALL SELECT 'digit', digit FROM ust
      |  UNION ALL SELECT 'other', n_cp - latin - cjk - cyr - digit FROM ust),
      |dct AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents WHERE doc_id % 10 = 0),
      |-- the planted batch body is all digits: 20 digit codepoints per
      |-- doc (DigitNoiseText), zero everywhere else
      |ds AS (SELECT 'latin' AS script, CAST(0 AS BIGINT) AS nb FROM dct
      |  UNION ALL SELECT 'cjk', 0 FROM dct
      |  UNION ALL SELECT 'cyr', 0 FROM dct
      |  UNION ALL SELECT 'digit', 20 * c FROM dct
      |  UNION ALL SELECT 'other', 0 FROM dct),
      |jrl AS (SELECT coalesce(lc.nc, 0) AS nc, coalesce(rl.nb, 0) AS nb
      |  FROM lc FULL OUTER JOIN rl USING (lang)),
      |jul AS (SELECT coalesce(lc.nc, 0) AS nc, coalesce(ul.nb, 0) AS nb
      |  FROM lc FULL OUTER JOIN ul USING (lang)),
      |jrs AS (SELECT coalesce(sh.nc, 0) AS nc, coalesce(rs.nb, 0) AS nb
      |  FROM sh FULL OUTER JOIN rs USING (script)),
      |jus AS (SELECT coalesce(sh.nc, 0) AS nc, coalesce(us.nb, 0) AS nb
      |  FROM sh FULL OUTER JOIN us USING (script)),
      |jds AS (SELECT coalesce(sh.nc, 0) AS nc, coalesce(ds.nb, 0) AS nb
      |  FROM sh FULL OUTER JOIN ds USING (script)),
      |l1rl AS (${l1("jrl")}),
      |l1ul AS (${l1("jul")}),
      |l1rs AS (${l1("jrs")}),
      |l1us AS (${l1("jus")}),
      |l1ds AS (${l1("jds")})
      |SELECT batch_kind, n_docs, lang_l1_ppm,
      |  lang_l1_ppm > $DriftThresholdPpm AS lang_drifted,
      |  script_l1_ppm, script_l1_ppm > $DriftThresholdPpm AS script_drifted,
      |  (lang_l1_ppm > $DriftThresholdPpm)
      |    OR (script_l1_ppm > $DriftThresholdPpm) AS drifted
      |FROM (
      |  SELECT 'representative' AS batch_kind, l.n_docs,
      |    l.l1 AS lang_l1_ppm, s.l1 AS script_l1_ppm FROM l1rl l, l1rs s
      |  UNION ALL SELECT 'single_lang', l.n_docs, l.l1, s.l1 FROM l1ul l, l1us s
      |  UNION ALL SELECT 'digit_noise', l.n_docs, l.l1, s.l1 FROM l1rl l, l1ds s)
      |ORDER BY batch_kind""".stripMargin
  }

  /** The truncation batch's cut: 40 codepoints — well under the
    * corpus's typical document length, so every truncated doc falls
    * into length-bucket ≤ 2 while the corpus mass sits in bucket 3.
    * Shared with the oracle by value.
    */
  private[graft] val TruncLen = 40

  /** THREE-AXIS drift gate — [[driftAxes]] plus the length-bucket axis
    * ([[driftLenOf]]), the registered form of the door's
    * `lenAxis = true` verdict. The adversary this axis exists for:
    * `truncation` — the representative batch with every document cut
    * to its first [[TruncLen]] codepoints. A scraper delivering
    * cut-off documents keeps its language mix (lang axis blind) AND
    * its script mix (truncating ASCII text stays ASCII — script axis
    * blind), but collapses the length-bucket distribution to one
    * bucket — only the length axis flags it. All three axes ride the
    * one shared [[driftCounts]] integer-L1 kernel over bounded domains
    * (|langs| + 5 scripts + ≤8 length buckets); the corpus is never
    * rescanned per batch, and the shared rep lang leg is computed once
    * (the [[driftAxes]] AQE exchange-reuse shape).
    */
  def driftAxes3(spark: SparkSession, sfDir: String): DataFrame = {
    val langHist = spark.read.parquet(langStats.seed(spark, sfDir))
    val scriptHist = spark.read.parquet(scriptStats.seed(spark, sfDir))
    val lenHist = spark.read.parquet(lenStats.seed(spark, sfDir))
    val docs = table(spark, sfDir, "documents")
    def langLeg(batch: DataFrame): DataFrame =
      driftOf(batch, langHist)
        .select(col("n_docs"), col("l1_ppm").as("lang_l1_ppm"),
          col("drifted").as("lang_drifted"))
    def scriptLeg(batch: DataFrame): DataFrame =
      driftScriptOf(batch, scriptHist)
        .select(col("l1_ppm").as("script_l1_ppm"),
          col("drifted").as("script_drifted"))
    def lenLeg(batch: DataFrame): DataFrame =
      driftLenOf(batch, lenHist)
        .select(col("l1_ppm").as("len_l1_ppm"),
          col("drifted").as("len_drifted"))
    def fuse(kind: String, l: DataFrame, s: DataFrame, n: DataFrame): DataFrame =
      l.crossJoin(s).crossJoin(n) // 1-row × 1-row × 1-row fuses
        .select(lit(kind).as("batch_kind"), col("n_docs"),
          col("lang_l1_ppm"), col("lang_drifted"),
          col("script_l1_ppm"), col("script_drifted"),
          col("len_l1_ppm"), col("len_drifted"),
          (col("lang_drifted") || col("script_drifted") || col("len_drifted"))
            .as("drifted"))
    val rep = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    // truncation rewrites TEXT only — its lang leg is the rep batch's,
    // computed once (the digit_noise precedent)
    val trunc = rep.withColumn("text", substring(col("text"), 1, TruncLen))
    val repLang = langLeg(rep)
    fuse("representative", repLang, scriptLeg(rep), lenLeg(rep))
      .unionByName(fuse("truncation", repLang, scriptLeg(trunc), lenLeg(trunc)))
      .orderBy("batch_kind")
  }

  def driftAxes3Sql: String = {
    val l1 = (join: String) =>
      s"""SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(abs(
        |      CASE WHEN tc = 0 THEN 0 ELSE (1000000 * nc) // tc END -
        |      CASE WHEN tb = 0 THEN 0 ELSE (1000000 * nb) // tb END)), 0) AS BIGINT) AS l1
        |  FROM $join, (SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS tc FROM $join),
        |    (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS tb FROM $join)""".stripMargin
    val scriptCols =
      """CAST(len(cps) AS BIGINT) AS n_cp,
        |    CAST(len(list_filter(cps, x -> (x >= 97 AND x <= 122)
        |      OR (x >= 65 AND x <= 90))) AS BIGINT) AS latin,
        |    CAST(len(list_filter(cps, x -> x >= 19968 AND x <= 40959)) AS BIGINT) AS cjk,
        |    CAST(len(list_filter(cps, x -> x >= 1024 AND x <= 1279)) AS BIGINT) AS cyr,
        |    CAST(len(list_filter(cps, x -> x >= 48 AND x <= 57)) AS BIGINT) AS digit""".stripMargin
    def unpivot(src: String, as: String, valCol: String) =
      s"""$as AS (SELECT 'latin' AS script, latin AS $valCol FROM $src
        |  UNION ALL SELECT 'cjk', cjk FROM $src
        |  UNION ALL SELECT 'cyr', cyr FROM $src
        |  UNION ALL SELECT 'digit', digit FROM $src
        |  UNION ALL SELECT 'other', n_cp - latin - cjk - cyr - digit FROM $src)""".stripMargin
    s"""WITH lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY lang),
      |rl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY lang),
      |jrl AS (SELECT coalesce(lc.nc, 0) AS nc, coalesce(rl.nb, 0) AS nb
      |  FROM lc FULL OUTER JOIN rl USING (lang)),
      |scd AS (SELECT doc_id, list_filter(list_transform(generate_series(1, len(text)),
      |    i -> unicode(text[i:i])), x -> x > 32) AS cps
      |  FROM documents),
      |scc AS (SELECT doc_id, $scriptCols FROM scd),
      |st AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM scc),
      |${unpivot("st", "sh", "nc")},
      |rst AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM scc WHERE doc_id % 10 = 0),
      |${unpivot("rst", "rs", "nb")},
      |-- coalesce mirrors lenCountsOf/scriptCountsOf's NULL-text-as-
      |-- empty convention: a NULL len_bucket would never merge in the
      |-- FULL OUTER JOIN and the engines would count its mass apart
      |tsrc AS (SELECT doc_id, coalesce(text, '')[1:$TruncLen] AS t
      |  FROM documents WHERE doc_id % 10 = 0),
      |tcd AS (SELECT doc_id, list_filter(list_transform(generate_series(1, len(t)),
      |    i -> unicode(t[i:i])), x -> x > 32) AS cps FROM tsrc),
      |tcc AS (SELECT doc_id, $scriptCols FROM tcd),
      |tst AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM tcc),
      |${unpivot("tst", "ts", "nb")},
      |ll AS (SELECT CAST(len(CAST(len(coalesce(text, '')) AS VARCHAR)) AS BIGINT) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY 1),
      |rll AS (SELECT CAST(len(CAST(len(coalesce(text, '')) AS VARCHAR)) AS BIGINT) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY 1),
      |tll AS (SELECT CAST(len(CAST(len(t) AS VARCHAR)) AS BIGINT) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS nb FROM tsrc GROUP BY 1),
      |jrs AS (SELECT coalesce(sh.nc, 0) AS nc, coalesce(rs.nb, 0) AS nb
      |  FROM sh FULL OUTER JOIN rs USING (script)),
      |jts AS (SELECT coalesce(sh.nc, 0) AS nc, coalesce(ts.nb, 0) AS nb
      |  FROM sh FULL OUTER JOIN ts USING (script)),
      |jrll AS (SELECT coalesce(ll.nc, 0) AS nc, coalesce(rll.nb, 0) AS nb
      |  FROM ll FULL OUTER JOIN rll USING (len_bucket)),
      |jtll AS (SELECT coalesce(ll.nc, 0) AS nc, coalesce(tll.nb, 0) AS nb
      |  FROM ll FULL OUTER JOIN tll USING (len_bucket)),
      |l1rl AS (${l1("jrl")}),
      |l1rs AS (${l1("jrs")}),
      |l1ts AS (${l1("jts")}),
      |l1rll AS (${l1("jrll")}),
      |l1tll AS (${l1("jtll")})
      |SELECT batch_kind, n_docs, lang_l1_ppm,
      |  lang_l1_ppm > $DriftThresholdPpm AS lang_drifted,
      |  script_l1_ppm, script_l1_ppm > $DriftThresholdPpm AS script_drifted,
      |  len_l1_ppm, len_l1_ppm > $DriftThresholdPpm AS len_drifted,
      |  (lang_l1_ppm > $DriftThresholdPpm)
      |    OR (script_l1_ppm > $DriftThresholdPpm)
      |    OR (len_l1_ppm > $DriftThresholdPpm) AS drifted
      |FROM (
      |  SELECT 'representative' AS batch_kind, l.n_docs,
      |    l.l1 AS lang_l1_ppm, s.l1 AS script_l1_ppm, n.l1 AS len_l1_ppm
      |  FROM l1rl l, l1rs s, l1rll n
      |  UNION ALL SELECT 'truncation', l.n_docs, l.l1, s.l1, n.l1
      |  FROM l1rl l, l1ts s, l1tll n)
      |ORDER BY batch_kind""".stripMargin
  }

  /** FOUR-AXIS drift gate — [[driftAxes3]] plus the mean-token-length
    * axis ([[driftTokOf]]), the registered form of the door's
    * `tokAxis = true` verdict and the live proof of the v2 audit
    * design: the fourth axis cost ONE [[DriftReference]] constructor
    * call and a map key, zero schema change. The adversary:
    * `stripped` — the representative batch with every whitespace
    * codepoint REMOVED (a concatenation/mangling bug upstream of the
    * tokenizer). Language is metadata (lang axis blind); the script
    * kernel never counts codepoints ≤ 32, so deleting spaces leaves
    * every script count EXACTLY unchanged (script axis blind by
    * construction — the result rows show identical script_l1_ppm);
    * lengths shrink ~15% but mostly within their digit bucket (len
    * axis under threshold on this corpus — measured 68k vs 200k ppm);
    * the token count collapses to 1 per doc and the mean-token-length
    * bucket jumps a decade — only the tok axis flags it. All four
    * axes ride the one [[driftCounts]] integer-L1 kernel over bounded
    * domains.
    */
  def driftAxes4(spark: SparkSession, sfDir: String): DataFrame = {
    val langHist = spark.read.parquet(langStats.seed(spark, sfDir))
    val scriptHist = spark.read.parquet(scriptStats.seed(spark, sfDir))
    val lenHist = spark.read.parquet(lenStats.seed(spark, sfDir))
    val tokHist = spark.read.parquet(tokStats.seed(spark, sfDir))
    val docs = table(spark, sfDir, "documents")
    def langLeg(batch: DataFrame): DataFrame =
      driftOf(batch, langHist)
        .select(col("n_docs"), col("l1_ppm").as("lang_l1_ppm"),
          col("drifted").as("lang_drifted"))
    def scriptLeg(batch: DataFrame): DataFrame =
      driftScriptOf(batch, scriptHist)
        .select(col("l1_ppm").as("script_l1_ppm"),
          col("drifted").as("script_drifted"))
    def lenLeg(batch: DataFrame): DataFrame =
      driftLenOf(batch, lenHist)
        .select(col("l1_ppm").as("len_l1_ppm"),
          col("drifted").as("len_drifted"))
    def tokLeg(batch: DataFrame): DataFrame =
      driftTokOf(batch, tokHist)
        .select(col("l1_ppm").as("tok_l1_ppm"),
          col("drifted").as("tok_drifted"))
    def fuse(kind: String, l: DataFrame, s: DataFrame, n: DataFrame,
        t: DataFrame): DataFrame =
      l.crossJoin(s).crossJoin(n).crossJoin(t) // 1-row fuses
        .select(lit(kind).as("batch_kind"), col("n_docs"),
          col("lang_l1_ppm"), col("lang_drifted"),
          col("script_l1_ppm"), col("script_drifted"),
          col("len_l1_ppm"), col("len_drifted"),
          col("tok_l1_ppm"), col("tok_drifted"),
          (col("lang_drifted") || col("script_drifted") ||
            col("len_drifted") || col("tok_drifted")).as("drifted"))
    val rep = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    // strip rewrites TEXT only — its lang leg is the rep batch's,
    // computed once (the truncation precedent); script/len/tok legs
    // compute FOR REAL on the stripped text so the blindness claims
    // are visible in the output, never assumed
    val strip = rep.withColumn("text", regexp_replace(col("text"), "\\s", ""))
    val repLang = langLeg(rep)
    fuse("representative", repLang, scriptLeg(rep), lenLeg(rep), tokLeg(rep))
      .unionByName(
        fuse("stripped", repLang, scriptLeg(strip), lenLeg(strip), tokLeg(strip)))
      .orderBy("batch_kind")
  }

  def driftAxes4Sql: String = {
    val l1 = (join: String) =>
      s"""SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(abs(
        |      CASE WHEN tc = 0 THEN 0 ELSE (1000000 * nc) // tc END -
        |      CASE WHEN tb = 0 THEN 0 ELSE (1000000 * nb) // tb END)), 0) AS BIGINT) AS l1
        |  FROM $join, (SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS tc FROM $join),
        |    (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS tb FROM $join)""".stripMargin
    val scriptCols =
      """CAST(len(cps) AS BIGINT) AS n_cp,
        |    CAST(len(list_filter(cps, x -> (x >= 97 AND x <= 122)
        |      OR (x >= 65 AND x <= 90))) AS BIGINT) AS latin,
        |    CAST(len(list_filter(cps, x -> x >= 19968 AND x <= 40959)) AS BIGINT) AS cjk,
        |    CAST(len(list_filter(cps, x -> x >= 1024 AND x <= 1279)) AS BIGINT) AS cyr,
        |    CAST(len(list_filter(cps, x -> x >= 48 AND x <= 57)) AS BIGINT) AS digit""".stripMargin
    def unpivot(src: String, as: String, valCol: String) =
      s"""$as AS (SELECT 'latin' AS script, latin AS $valCol FROM $src
        |  UNION ALL SELECT 'cjk', cjk FROM $src
        |  UNION ALL SELECT 'cyr', cyr FROM $src
        |  UNION ALL SELECT 'digit', digit FROM $src
        |  UNION ALL SELECT 'other', n_cp - latin - cjk - cyr - digit FROM $src)""".stripMargin
    // mean-token-length bucket of a text column t: digit count of
    // chars // tokens, 0 for blank — exactly [[tokCountsOf]]
    def tokB(t: String) =
      s"""CASE WHEN len(trim($t)) = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(len(CAST((len($t) // len(regexp_split_to_array(trim($t), '\\s+'))) AS VARCHAR)) AS BIGINT) END""".stripMargin
    s"""WITH lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY lang),
      |rl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY lang),
      |jrl AS (SELECT coalesce(lc.nc, 0) AS nc, coalesce(rl.nb, 0) AS nb
      |  FROM lc FULL OUTER JOIN rl USING (lang)),
      |scd AS (SELECT doc_id, list_filter(list_transform(generate_series(1, len(text)),
      |    i -> unicode(text[i:i])), x -> x > 32) AS cps
      |  FROM documents),
      |scc AS (SELECT doc_id, $scriptCols FROM scd),
      |st AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM scc),
      |${unpivot("st", "sh", "nc")},
      |rst AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM scc WHERE doc_id % 10 = 0),
      |${unpivot("rst", "rs", "nb")},
      |ssrc AS (SELECT doc_id, regexp_replace(coalesce(text, ''), '\\s', '', 'g') AS t
      |  FROM documents WHERE doc_id % 10 = 0),
      |pcd AS (SELECT doc_id, list_filter(list_transform(generate_series(1, len(t)),
      |    i -> unicode(t[i:i])), x -> x > 32) AS cps FROM ssrc),
      |pcc AS (SELECT doc_id, $scriptCols FROM pcd),
      |pst AS (SELECT CAST(sum(latin) AS BIGINT) AS latin, CAST(sum(cjk) AS BIGINT) AS cjk,
      |    CAST(sum(cyr) AS BIGINT) AS cyr, CAST(sum(digit) AS BIGINT) AS digit,
      |    CAST(sum(n_cp) AS BIGINT) AS n_cp FROM pcc),
      |${unpivot("pst", "ps", "nb")},
      |ll AS (SELECT CAST(len(CAST(len(coalesce(text, '')) AS VARCHAR)) AS BIGINT) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY 1),
      |rll AS (SELECT CAST(len(CAST(len(coalesce(text, '')) AS VARCHAR)) AS BIGINT) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY 1),
      |sll AS (SELECT CAST(len(CAST(len(t) AS VARCHAR)) AS BIGINT) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS nb FROM ssrc GROUP BY 1),
      |tkc AS (SELECT ${tokB("coalesce(text, '')")} AS tok_bucket,
      |    CAST(count(*) AS BIGINT) AS nc FROM documents GROUP BY 1),
      |rtk AS (SELECT ${tokB("coalesce(text, '')")} AS tok_bucket,
      |    CAST(count(*) AS BIGINT) AS nb FROM documents
      |  WHERE doc_id % 10 = 0 GROUP BY 1),
      |stk AS (SELECT ${tokB("t")} AS tok_bucket,
      |    CAST(count(*) AS BIGINT) AS nb FROM ssrc GROUP BY 1),
      |jrs AS (SELECT coalesce(sh.nc, 0) AS nc, coalesce(rs.nb, 0) AS nb
      |  FROM sh FULL OUTER JOIN rs USING (script)),
      |jps AS (SELECT coalesce(sh.nc, 0) AS nc, coalesce(ps.nb, 0) AS nb
      |  FROM sh FULL OUTER JOIN ps USING (script)),
      |jrll AS (SELECT coalesce(ll.nc, 0) AS nc, coalesce(rll.nb, 0) AS nb
      |  FROM ll FULL OUTER JOIN rll USING (len_bucket)),
      |jsll AS (SELECT coalesce(ll.nc, 0) AS nc, coalesce(sll.nb, 0) AS nb
      |  FROM ll FULL OUTER JOIN sll USING (len_bucket)),
      |jrtk AS (SELECT coalesce(tkc.nc, 0) AS nc, coalesce(rtk.nb, 0) AS nb
      |  FROM tkc FULL OUTER JOIN rtk USING (tok_bucket)),
      |jstk AS (SELECT coalesce(tkc.nc, 0) AS nc, coalesce(stk.nb, 0) AS nb
      |  FROM tkc FULL OUTER JOIN stk USING (tok_bucket)),
      |l1rl AS (${l1("jrl")}),
      |l1rs AS (${l1("jrs")}),
      |l1ps AS (${l1("jps")}),
      |l1rll AS (${l1("jrll")}),
      |l1sll AS (${l1("jsll")}),
      |l1rtk AS (${l1("jrtk")}),
      |l1stk AS (${l1("jstk")})
      |SELECT batch_kind, n_docs, lang_l1_ppm,
      |  lang_l1_ppm > $DriftThresholdPpm AS lang_drifted,
      |  script_l1_ppm, script_l1_ppm > $DriftThresholdPpm AS script_drifted,
      |  len_l1_ppm, len_l1_ppm > $DriftThresholdPpm AS len_drifted,
      |  tok_l1_ppm, tok_l1_ppm > $DriftThresholdPpm AS tok_drifted,
      |  (lang_l1_ppm > $DriftThresholdPpm)
      |    OR (script_l1_ppm > $DriftThresholdPpm)
      |    OR (len_l1_ppm > $DriftThresholdPpm)
      |    OR (tok_l1_ppm > $DriftThresholdPpm) AS drifted
      |FROM (
      |  SELECT 'representative' AS batch_kind, l.n_docs,
      |    l.l1 AS lang_l1_ppm, s.l1 AS script_l1_ppm,
      |    n.l1 AS len_l1_ppm, t.l1 AS tok_l1_ppm
      |  FROM l1rl l, l1rs s, l1rll n, l1rtk t
      |  UNION ALL SELECT 'stripped', l.n_docs, l.l1, s.l1, n.l1, t.l1
      |  FROM l1rl l, l1ps s, l1sll n, l1stk t)
      |ORDER BY batch_kind""".stripMargin
  }
}
