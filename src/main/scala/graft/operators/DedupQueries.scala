package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.GraftSession.table
import graft.functions.TextFunctions._

/** Deduplication operators — exact, n-gram Jaccard, MinHash-LSH,
  * SimHash — over the `documents` table. All hashes are md5-derived so
  * the DuckDB oracles replay the identical integers; all similarity
  * filters are integer/double arithmetic on exact ints, so results are
  * bit-stable across engines and partitionings.
  *
  * Scale shapes:
  *  - exact: one hash-groupBy — the cheapest possible shuffle, combines
  *    map-side.
  *  - n-gram: the shared-shingle self-join is the quadratic risk; with
  *    5-gram shingles the per-shingle doc-frequency stays tiny, and on
  *    a real corpus a df-cap filter (drop shingles seen in >N docs)
  *    bounds the blowup without hurting recall.
  *  - MinHash-LSH: candidate generation joins on (band, signature) —
  *    |candidates| ≪ |pairs|, which is the entire point of LSH: only
  *    candidates pay the verification join. This is the 100 TB path.
  *  - SimHash: linear explode + two groupBys, no joins at all.
  */
object DedupQueries {

  /** Shingle width shared by every contamination/Jaccard op — also the
    * streaming decontamination path ([[graft.streaming.StreamingOps]]),
    * so live and backfill agree on what "overlap" means.
    */
  private[graft] val ShingleN = 5
  private val MinhashK = 12
  private val BandRows = 2 // 6 bands × 2 rows → LSH threshold ≈ 0.41
  private val DfCap = 64 // max docs a shingle may appear in before it's dropped

  /** 31-bit universal hash family h_i(x) = (a_i·x + b_i) mod M over
    * M = 2³¹−1. Products stay < 2⁶² so the math is exact int64 in both
    * engines — one multiply-add per (shingle, i) instead of an md5,
    * which is what makes the 12-hash MinHash pass cheap at corpus
    * scale. Coefficients are md5-seeded so the oracle can interpolate
    * the same constants.
    */
  private val M31 = 2147483647L
  private[operators] val hashA: Array[Long] =
    Array.tabulate(MinhashK)(i => math.floorMod(md5LongLocal(s"a:$i"), M31 - 1) + 1)
  private[operators] val hashB: Array[Long] =
    Array.tabulate(MinhashK)(i => math.floorMod(md5LongLocal(s"b:$i"), M31))
  private def sqlLongList(xs: Array[Long]): String = xs.mkString("[", ", ", "]")

  // Shingles leave the map stage as 61-bit polynomial fingerprints,
  // not strings: downstream joins shuffle 8-byte keys instead of
  // ~40-byte 5-grams — at 100 TB that's the difference between a
  // survivable and a pathological shuffle. The fingerprint is the
  // codegen'd [[graft.functions.PolyGramHash]] kernel (~6 integer ops
  // per character; the md5-56 it replaced paid a digest compression
  // per shingle plus the space-joined string allocation). The oracle
  // interpolates the ONE copy of the SQL twin
  // ([[graft.functions.PolyHash.thSql]]/`gramSql`), so any
  // (negligible, ~2⁻⁶⁰) collision affects both engines the same way.

  /** Spark-side shingle fingerprints of a text column: the gram-hash
    * array, one entry per [[ShingleN]]-gram in token order — explode
    * for the flat (doc_id, h) relation, posexplode when the position
    * matters.
    */
  private[graft] def shingleHashes(text: Column): Column =
    graft.functions.PolyGramHash.polyGramHash(tokens(text), ShingleN)

  /** Parameterized shingle-hash CTE: distinct (doc_id, fingerprint)
    * pairs for `srcRel`, named `toksName`/`shName`; also exposes
    * `<toksName>_th` (the per-token hash-struct level) for positional
    * oracles.
    */
  private def shingleCteFor(srcRel: String, toksName: String, shName: String): String =
    s"""$toksName AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $srcRel),
       |${toksName}_th AS (SELECT doc_id, ${graft.functions.PolyHash.thSql("t")} AS th FROM $toksName),
       |$shName AS (SELECT DISTINCT doc_id,
       |         ${graft.functions.PolyHash.gramSql("th", "j", ShingleN)} AS h
       |       FROM ${toksName}_th, UNNEST(range(1, len(th)-${ShingleN - 2})) AS u(j))""".stripMargin

  private val shingleCte = shingleCteFor("documents", "toks", "sh")

  // -------------------------------------------------- span-level exact
  private val SpanLen = 10

  /** Exact-substring dedup at span granularity (the engine analog of
    * suffix-array exact dedup, Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better"): each document is chunked
    * into consecutive [[SpanLen]]-token spans; a span keeps only its
    * FIRST corpus occurrence (min (doc_id, pos)); later occurrences —
    * boilerplate, quoted passages, copied paragraphs — are dropped and
    * the surviving text fingerprinted per doc.
    *
    * Scale shape: tokens explode ≈1× corpus, the first-occurrence
    * groupBy is a min(struct) that combines map-side (a hot span — a
    * license header repeated a billion times — still reduces to one
    * row per partition before the shuffle, so there is no skewed
    * reducer), the join back is an equi-join on the span, and the
    * per-doc regroup shuffles each doc's own spans only. Two shuffles
    * total, both linear in corpus size.
    */
  def spanDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = tokens(col("text"))
    // starts 1, 11, 21, … — sequence() needs the empty-text guard
    // (sequence(1, 0, 10) is an illegal range, not an empty one)
    val spanArr = when(size(ts) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ts), lit(SpanLen)),
        j => array_join(slice(ts, j, lit(SpanLen)), " ")))
    val spans = table(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(spanArr).as(Seq("pos", "span")))
    val firsts = spans
      .groupBy("span")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("span"), col("f.doc_id").as("f_doc"), col("f.pos").as("f_pos"))
    val kept = col("doc_id") === col("f_doc") && col("pos") === col("f_pos")
    spans.join(firsts, "span")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(kept, struct(col("pos"), col("span"))))),
            x => x.getField("span")),
          " ").cast("binary")).as("fp_kept"))
      .orderBy("doc_id")
  }

  def spanDedupSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
       |  FROM documents),
       |s AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
       |    array_to_string(ts[CAST(u.i*$SpanLen+1 AS INT):CAST(u.i*$SpanLen+$SpanLen AS INT)], ' ') AS span
       |  FROM t, UNNEST(range(0, CAST(ceil(len(ts)/$SpanLen.0) AS INT))) AS u(i)),
       |r AS (SELECT doc_id, pos, span,
       |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
       |  FROM s)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY pos), '')) AS fp_kept
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- normalized exact dedup
  /** Exact dedup under TEXT NORMALIZATION — the standard first pass
    * before any fuzzy method: case fold, strip punctuation, collapse
    * whitespace. Two documents differing only in casing/punctuation/
    * spacing are the same training example; byte-exact dedup misses
    * them, near-dup methods pay a quadratic candidate step to find
    * them. This is one codegen'd regex chain + one combining groupBy —
    * the cheap middle ground. Reports corpus totals and how many
    * groups only normalization could collapse.
    */
  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    // plant normalization-only variants: case-flipped, re-spaced, and
    // the same accent in composed vs decomposed Unicode form — the
    // pair only collapses because NFC runs FIRST in the norm chain
    // (without it the ascii strip turns é into "" but e+U+0301 into
    // "e", silently splitting byte-different renderings of one text)
    // r18: the five variants explode out of ONE corpus scan (guide
    // §2.4) — the previous unionByName of five projections re-scanned
    // (and re-fanned-out) `documents` five times for rows derivable
    // from each source row locally; same (doc_id, text) multiset, so
    // the aggregate (and the oracle) is untouched.
    val variants = docs
      .select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + 1000000).as("doc_id"),
          upper(col("text")).as("text")),
        struct((col("doc_id") + 2000000).as("doc_id"),
          regexp_replace(col("text"), " ", "   ").as("text")),
        struct((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" café")).as("text")),
        struct((col("doc_id") + 4000000).as("doc_id"),
          concat(col("text"), lit(" café")).as("text")))).as("v"))
      .select(col("v.doc_id").as("doc_id"), col("v.text").as("text"))
    val norm = trim(regexp_replace(
      regexp_replace(lower(graft.functions.NfcNormalize.nfcNormalize(col("text"))),
        "[^a-z0-9\\s]", ""), "\\s+", " "))
    variants
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp_raw"),
        md5(norm.cast("binary")).as("fp_norm"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp_raw")).as("n_byte_distinct"),
        countDistinct(col("fp_norm")).as("n_norm_distinct"))
  }

  def dedupNormalizedSql: String =
    """WITH v AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, upper(text) FROM documents
      |  UNION ALL SELECT doc_id + 2000000, replace(text, ' ', '   ') FROM documents
      |  UNION ALL SELECT doc_id + 3000000, text || ' caf' || chr(233) FROM documents
      |  UNION ALL SELECT doc_id + 4000000, text || ' cafe' || chr(769) FROM documents
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_byte_distinct,
      |  CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
      |    lower(nfc_normalize(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))))
      |    AS BIGINT) AS n_norm_distinct
      |FROM v""".stripMargin

  // ------------------------------------------------------------ exact
  /** Exact dedup: duplicate the corpus under shifted IDs, keep the
    * min-ID copy per exact text — collapses back to the original set.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select("doc_id", "text")
    // r18: both copies out of ONE scan (guide §2.4; the
    // [[dedupNormalized]] explode shape) — same (doc_id, text) set
    val doubled = docs
      .select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + 500000).as("doc_id"), col("text")))).as("v"))
      .select(col("v.doc_id").as("doc_id"), col("v.text").as("text"))
    doubled
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("kept_id"))
      .agg(count(lit(1)).as("n_kept"), sum(col("kept_id")).as("sum_ids"))
  }

  // group-by-text, not count(*): the corpus is allowed to contain
  // natural exact duplicates (sf0.1 has 8), and the operator must
  // collapse those too — an oracle assuming all-unique texts would
  // report the planted copies only
  def dedupExactSql: String =
    """SELECT count(*) AS n_kept, CAST(sum(kept_id) AS BIGINT) AS sum_ids
      |FROM (SELECT min(doc_id) AS kept_id FROM documents GROUP BY md5(text))""".stripMargin

  // ----------------------------------------------------- n-gram Jaccard
  /** Near-dup pairs by exact n-gram Jaccard ≥ 0.5 (the ground truth the
    * LSH variant approximates), over the df-capped shingle universe:
    * shingles appearing in more than [[DfCap]] documents are boilerplate
    * and are dropped BEFORE the shared-shingle self-join, bounding the
    * per-key fanout to DfCap² rows. Without the cap one hot shingle
    * (a license header, a template sentence) makes the self-join
    * quadratic in corpus size — the cap is what keeps this operator
    * alive at 100 TB. Jaccard is computed over the same capped universe
    * on both sides (counts included), so Spark and the oracle agree
    * exactly.
    */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame = {
    // The shingle universe is never materialized as per-doc sets (no
    // collect_set): df comes straight off the RAW exploded relation
    // (countDistinct dedups intra-doc repeats in the aggregation), and
    // the only cached relation is the df-CAPPED flat distinct (doc_id,
    // h) — 16 bytes/row with every boilerplate shingle already gone,
    // the same recompute-beats-caching trade as [[minhashExactInter]].
    // The raw scan runs twice (df pass + capped pass), both at scan
    // speed. NB the per-doc counts are computed from the CAPPED
    // relation below (`cnt`): Jaccard must use the same capped
    // universe on both sides or the oracle diverges.
    val raw = minhashShingleRel(spark, sfDir)
    // the HOT set (df > cap) is tiny by construction — broadcast it and
    // anti-join, so the cap costs one map-side-combined groupBy plus a
    // broadcast, never a second full shuffle of the shingle set
    val hot = raw.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") > DfCap).select("h")
    // r19: spreadByH before the distinct — the explicit h-partitioning
    // replaces the distinct's own exchange and feeds both self-join
    // sides through the cache, so the pair fan-out below runs at full
    // width instead of AQE-coalesced ~1 task (see [[spreadByH]])
    val sh = raw.join(broadcast(hot), Seq("h"), "left_anti")
      .transform(spreadByH)
      .distinct().cache()
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"), "h")
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "inter", "jaccard")
      .orderBy("doc_a", "doc_b")
    // materialize the (small) pair set, then release the shingle cache
    val out = pairs.localCheckpoint(true)
    sh.unpersist(false)
    out
  }

  def dedupNgramSql: String =
    s"""WITH $shingleCte,
       |rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= $DfCap),
       |shc AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |          FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |  CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
       |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ MinHash LSH
  /** One row per doc: all 12 min-hashes computed in a single map-side-
    * combining groupBy (no ×k row explosion) plus the DISTINCT shingle
    * count (a count over the deduped (doc, h) rows; `min` is
    * duplicate-insensitive). No shingle set is ever held: the
    * signature relation is 14 longs per doc — at 100 TB it must never
    * carry the corpus's whole shingle universe. Shared by
    * [[dedupMinhash]] and [[minhashEstimate]].
    */
  private def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    // r18 (guide §4): the distinct-shingle count was size(collect_set)
    // — a TypedImperativeAggregate that forces the whole pass onto
    // ObjectHashAggregate, whose partial stage falls back to SORT-based
    // aggregation past 128 groups per partition (the unraised default;
    // docs-per-partition sits right at that cliff). Instead: dedup the
    // (doc, h) relation with a plain codegen'd distinct (16 B rows,
    // map-side combined), then count + min over the deduped rows —
    // min() is duplicate-insensitive and count-over-distinct IS the
    // distinct count, so every output value is bit-identical; no
    // object buffer, no sort fallback, whole-stage codegen end to end.
    val aggCols =
      count(lit(1)).as("n") +:
        (0 until MinhashK).map { i =>
          min((lit(hashA(i)) * pmod(col("h"), lit(M31)) + lit(hashB(i))) % M31)
            .as(s"mh$i")
        }
    // r19 (guide §2.5): one EXPLICIT doc_id exchange replaces both of
    // the r18 form's exchanges — doc_id ⊂ (doc_id, h) satisfies the
    // distinct's clustering and doc_id the groupBy's, so dedup and
    // the 13-aggregate pass both run partition-local above it at the
    // explicit width (the r18 shape paid a (doc_id, h) shuffle for
    // the distinct and a second doc_id shuffle for the groupBy).
    minhashShingleRel(spark, sfDir)
      .repartition(
        spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .distinct()
      .groupBy("doc_id")
      .agg(aggCols.head, aggCols.tail: _*)
  }

  private def minhashShingleRel(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))

  /** 6 band signatures per doc (band b = minhashes 2b, 2b+1 joined by
    * a comma) — a 6-row explode of one-row-per-doc, not of shingles —
    * self-joined into the distinct, eagerly-materialized candidate
    * pair set. Shared by [[dedupMinhash]] and [[minhashEstimate]].
    */
  private def minhashCandidates(docs: DataFrame): DataFrame = {
    val bandCols = (0 until MinhashK / BandRows).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until BandRows).map(r =>
          col(s"mh${b * BandRows + r}").cast("string")): _*).as("band_sig"))
    }
    val bands = docs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(true)
  }

  /** Exact pairwise intersection counts for the candidate pairs: the
    * (doc_id, h) relation re-derived SEMI-FILTERED to candidate docs —
    * the broadcast filter sits directly on the rescan, so only
    * candidate docs' shingles are ever shuffled (the corpus-wide set
    * relation is never cached or re-shuffled anywhere), materialized
    * once because the self-join would otherwise recompute the
    * scan+md5 chain per side. Candidates ≪ corpus, so this stays
    * small at any scale. Shared by both MinHash queries.
    */
  private def minhashExactInter(spark: SparkSession, sfDir: String,
      cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shC = minhashShingleRel(spark, sfDir)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .transform(spreadByH)
      .distinct()
      .localCheckpoint(true)
    shC.as("a").join(shC.as("b"), "h")
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** r19 (guide §2.5, the [[dedupEditDist]] C3 pattern applied to the
    * exact-intersection self-joins): the (doc_id, h) relation is
    * BYTES-small (16 B/row) but its h-keyed self-join fans out to the
    * pair relation and pays a count per pair row — AQE's size-based
    * coalesce collapses the exchanges feeding it to ~1 partition and
    * runs the whole intersection single-threaded. An EXPLICIT-count
    * hash repartition ON h placed BEFORE the distinct does double
    * duty: h ⊂ (doc_id, h) satisfies the distinct's clustering (no
    * extra exchange vs the status quo — it REPLACES the distinct's
    * own), and the surviving h-partitioning feeds both self-join
    * sides, so the join itself needs NO exchange and keeps the full
    * explicit width. Hot-h skew is pre-bounded on both call sites
    * (dedupNgram drops df>DfCap shingles first; minhashExactInter is
    * semi-filtered to candidate docs).
    */
  private def spreadByH(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col("h"))

  /** MinHash + banded LSH near-dup detection: k=12 md5-family hashes,
    * 6 bands × 2 rows, candidates verified with exact Jaccard ≥ 0.5.
    */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = minhashSignatures(spark, sfDir).cache()
    val cand = minhashCandidates(docs)
    // Only LSH candidates pay verification.
    val inter = minhashExactInter(spark, sfDir, cand)
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
    val cnts = docs.select(col("doc_id"), col("n"))
    val pairs = inter
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
    // materialize the (small) pair set, then release the signature cache
    val out = pairs.localCheckpoint(true)
    docs.unpersist(false)
    out
  }

  /** MinHash ESTIMATE quality report: for every banded candidate
    * pair, the signature agreement count (matched hashes out of
    * [[MinhashK]] — the integer numerator of the Jaccard estimate)
    * next to the EXACT intersection and set sizes. All integers, so
    * the estimate-vs-truth table hash-compares across engines — this
    * is the sketch-accuracy audit a tuning pass reads before trusting
    * bands-only dedup on the full corpus.
    */
  def minhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = minhashSignatures(spark, sfDir).localCheckpoint(true)
    val cand = minhashCandidates(docs)
    val sigA = docs.select(
      col("doc_id").as("doc_a") +: col("n").as("n_a") +:
        (0 until MinhashK).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
    val sigB = docs.select(
      col("doc_id").as("doc_b") +: col("n").as("n_b") +:
        (0 until MinhashK).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
    val nSigMatch = (0 until MinhashK)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val withSig = cand.join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"), nSigMatch.as("n_sig_match"),
        col("n_a"), col("n_b"))
    // exact ground truth: the same semi-filtered rescan dedupMinhash uses
    val inter = minhashExactInter(spark, sfDir, cand)
    withSig.join(inter, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("n_sig_match"),
        coalesce(col("inter"), lit(0L)).as("inter"), col("n_a"), col("n_b"))
      .orderBy("doc_a", "doc_b")
  }

  def minhashEstimateSql: String =
    s"""WITH $shingleCte,
       |hashes AS (SELECT doc_id, i,
       |    ((${sqlLongList(hashA)}[i + 1] * (h % $M31)) + ${sqlLongList(hashB)}[i + 1]) % $M31 AS hi
       |  FROM sh, UNNEST(range($MinhashK)) AS r(i)),
       |sig AS (SELECT doc_id, i, min(hi) AS mh FROM hashes GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // $BandRows AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
       |  FROM sig GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
       |sigmatch AS (SELECT c.doc_a, c.doc_b, count(*) AS n_sig_match
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a
       |    JOIN sig b ON b.doc_id = c.doc_b AND b.i = a.i AND b.mh = a.mh
       |  GROUP BY 1, 2),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(coalesce(sm.n_sig_match, 0) AS BIGINT) AS n_sig_match,
       |  CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
       |  ca.n AS n_a, cb.n AS n_b
       |FROM cand c
       |LEFT JOIN sigmatch sm ON sm.doc_a = c.doc_a AND sm.doc_b = c.doc_b
       |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN cnt ca ON ca.doc_id = c.doc_a
       |JOIN cnt cb ON cb.doc_id = c.doc_b
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  def dedupMinhashSql: String =
    s"""WITH $shingleCte,
       |hashes AS (SELECT doc_id, i,
       |    ((${sqlLongList(hashA)}[i + 1] * (h % $M31)) + ${sqlLongList(hashB)}[i + 1]) % $M31 AS hi
       |  FROM sh, UNNEST(range($MinhashK)) AS r(i)),
       |sig AS (SELECT doc_id, i, min(hi) AS mh FROM hashes GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // $BandRows AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
       |  FROM sig GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.inter AS DOUBLE) / CAST(ca.n + cb.n - i.inter AS DOUBLE) AS jaccard
       |FROM inter i JOIN cand c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
       |  JOIN cnt ca ON ca.doc_id = i.doc_a JOIN cnt cb ON cb.doc_id = i.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / CAST(ca.n + cb.n - i.inter AS DOUBLE) >= 0.5
       |ORDER BY i.doc_a, i.doc_b""".stripMargin

  // ---------------------------------------------- decontamination
  /** Benchmark decontamination: flag corpus documents that share any
    * shingle with a (small) eval set — the check every training
    * pipeline runs before a corpus ships, so eval answers don't leak
    * into training data.
    *
    * Scale shape: the eval side is tiny by definition, so its shingle
    * hashes broadcast and the corpus pays ONE narrow semi-join probe
    * per shingle — no shuffle of the corpus, no pair explosion. The
    * contaminated doc list (with its witness count) is the output.
    * Fixture: docs 0,10,20,30,40 play the eval set; the corpus is the
    * rest of the table PLUS copies of the eval docs under shifted IDs
    * (+900000) — planted leaks the probe MUST flag (a vacuous fixture
    * where both engines return empty would pass with a broken join).
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val evalIds = Seq(0L, 10L, 20L, 30L, 40L)
    val evalDocs = docs.where(col("doc_id").isin(evalIds: _*))
    def shingleSet(df: DataFrame) = df
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
    val evalSh = shingleSet(evalDocs).select("h").distinct()
    val corpus = docs.where(!col("doc_id").isin(evalIds: _*))
      .unionByName(evalDocs.withColumn("doc_id", col("doc_id") + 900000))
    shingleSet(corpus)
      .join(broadcast(evalSh), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Per-source duplicate rates — WHERE the duplication comes from:
    * for each source, how many of its documents carry a text that
    * appears more than once corpus-wide, as a ppm rate. The curation
    * diagnostic that decides which crawl/feed gets deduped first (a
    * mirror source at 40% duplication is a different problem than a
    * 0.1% background rate). One md5-groupBy for group sizes, one
    * equi-join back on the fingerprint, one per-source aggregate —
    * all map-side-combining, shuffle keys 8–16 bytes.
    *
    * The corpus's natural duplicate rate at small sf is ~0, so the
    * query plants a 'mirror' source copying every 7th document — the
    * operator must attribute those dups to BOTH the mirror (100% dup)
    * and each victim source (its copied share).
    */
  def dupBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select(
      col("doc_id"), col("source"), col("text"))
    val planted = docs.unionByName(
      docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          lit("mirror").as("source"), col("text")))
    val sized = planted
      .select(col("source"), md5(col("text").cast("binary")).as("fp"))
    val groups = sized.groupBy("fp").agg(count(lit(1)).as("gsz"))
    sized.join(groups, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("gsz") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_ppm",
        floor(col("n_dup_docs").cast("double") * 1000000d /
          col("n_docs").cast("double")).cast("long"))
      .orderBy("source")
  }

  def dupBySourceSql: String =
    """WITH planted AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 500000, 'mirror', text FROM documents
      |  WHERE doc_id % 7 = 0),
      |sized AS (SELECT source, md5(text) AS fp FROM planted),
      |groups AS (SELECT fp, count(*) AS gsz FROM sized GROUP BY 1)
      |SELECT s.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN g.gsz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  CAST(floor(CAST(sum(CASE WHEN g.gsz > 1 THEN 1 ELSE 0 END) AS DOUBLE) * 1000000
      |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS dup_ppm
      |FROM sized s JOIN groups g USING (fp)
      |GROUP BY s.source ORDER BY s.source""".stripMargin

  /** Cross-source content overlap matrix: for every source pair, how
    * many distinct shingles they share, as a ppm of the smaller side —
    * the corpus diagnostic that surfaces syndication/mirroring BETWEEN
    * feeds before document-level dedup runs. The per-(shingle, source)
    * relation is distinct-compressed first, so the self-join's per-key
    * fanout is bounded by the SOURCE COUNT (a constant ≪ corpus), and
    * the output is ≤ sources² rows at any corpus size — this is the
    * blocked-join discipline with the source domain as the bound.
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: same [[spreadByH]] discipline as the exact-intersection
    // joins — the explicit h exchange replaces the distinct's own
    // (source,h) exchange, is identical under every consumer (so
    // ReuseExchange collapses the three derivations to ONE shingle
    // pass), and feeds both self-join sides at full width with no
    // further exchange. Per-h fanout stays bounded by the source count.
    val sh = table(spark, sfDir, "documents")
      .select(col("source"), explode(shingleHashes(col("text"))).as("h"))
      .transform(spreadByH)
      .distinct()
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(counts.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(counts.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .withColumn("overlap_ppm",
        floor(col("n_shared").cast("double") * 1000000d /
          least(col("na"), col("nb")).cast("double")).cast("long"))
      .select("src_a", "src_b", "n_shared", "overlap_ppm")
      .orderBy("src_a", "src_b")
  }

  def sourceOverlapSql: String = {
    import graft.functions.PolyHash
    s"""WITH toks AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |th AS (SELECT source, ${PolyHash.thSql("t")} AS th FROM toks),
       |sh AS (SELECT DISTINCT source, ${PolyHash.gramSql("th", "j", ShingleN)} AS h
       |  FROM th, UNNEST(range(1, len(th)-${ShingleN - 2})) AS u(j)),
       |counts AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       |shared AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared,
       |  CAST(floor(CAST(n_shared AS DOUBLE) * 1000000
       |    / CAST(least(ca.n, cb.n) AS DOUBLE)) AS BIGINT) AS overlap_ppm
       |FROM shared JOIN counts ca ON ca.source = src_a
       |            JOIN counts cb ON cb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** Contamination attribution — WHICH eval document each flagged
    * corpus document overlaps, with the shared-shingle count: the
    * per-pair evidence a benchmark-leak report needs ([[decontaminate]]
    * says "this doc is contaminated", this says "by that eval doc, n
    * shingles' worth"). Same broadcast-eval equi-join shape — the
    * corpus side is scanned once and only (corpus_doc, eval_doc, h)
    * triples that MATCH the tiny eval set reach the aggregate, so the
    * output is bounded by true contamination, not corpus size. Pairs
    * sharing a single shingle are noise and dropped (≥ 2, the
    * [[TextQueries]] winnow-pair convention).
    */
  def decontaminatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val evalIds = Seq(0L, 10L, 20L, 30L, 40L)
    val evalDocs = docs.where(col("doc_id").isin(evalIds: _*))
    def shingleSet(df: DataFrame) = df
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
      .distinct()
    val evalSh = shingleSet(evalDocs)
      .select(col("doc_id").as("eval_doc"), col("h"))
    val corpus = docs.where(!col("doc_id").isin(evalIds: _*))
      .unionByName(evalDocs.withColumn("doc_id", col("doc_id") + 900000))
    shingleSet(corpus)
      .join(broadcast(evalSh), "h")
      .groupBy(col("doc_id"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .orderBy("doc_id", "eval_doc")
  }

  def decontaminatePairsSql: String =
    s"""WITH eval_docs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id IN (0, 10, 20, 30, 40)),
       |corpus_docs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id NOT IN (0, 10, 20, 30, 40)
       |  UNION ALL
       |  SELECT doc_id + 900000, text FROM eval_docs),
       |${shingleCteFor("eval_docs", "ev_toks", "ev_sh")},
       |${shingleCteFor("corpus_docs", "toks", "sh")}
       |SELECT sh.doc_id AS doc_id, ev_sh.doc_id AS eval_doc, count(*) AS n_shared
       |FROM sh JOIN ev_sh ON sh.h = ev_sh.h
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_id, eval_doc""".stripMargin

  /** Span-level contamination localization — the follow-up to
    * [[decontaminate]]'s doc-level verdict: WHICH token offsets of a
    * contaminated document overlap the eval set, so a cleaning pass
    * can cut the leaking span instead of dropping the whole document.
    * Position-tagged shingles (posexplode — still a narrow transform)
    * semi-join the broadcast eval set; per doc: hit count and the
    * first/last leaking offsets.
    */
  def decontaminateSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val evalIds = Seq(0L, 10L, 20L, 30L, 40L)
    val evalDocs = docs.where(col("doc_id").isin(evalIds: _*))
    val evalSh = evalDocs
      .select(explode(shingleHashes(col("text"))).as("h")).distinct()
    val corpus = docs.where(!col("doc_id").isin(evalIds: _*))
      .unionByName(evalDocs.withColumn("doc_id", col("doc_id") + 900000))
    corpus
      .select(col("doc_id"),
        posexplode(shingleHashes(col("text"))).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      .join(broadcast(evalSh), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_spans"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
      .orderBy("doc_id")
  }

  def decontaminateSpansSql: String =
    s"""WITH $shingleCte,
       |eval AS (SELECT DISTINCT h FROM sh WHERE doc_id IN (0, 10, 20, 30, 40)),
       |corpus AS (SELECT doc_id, th FROM toks_th WHERE doc_id NOT IN (0, 10, 20, 30, 40)
       |  UNION ALL SELECT doc_id + 900000, th FROM toks_th
       |  WHERE doc_id IN (0, 10, 20, 30, 40)),
       |ps AS (SELECT doc_id, j - 1 AS pos, ${graft.functions.PolyHash.gramSql("th", "j", ShingleN)} AS h
       |  FROM corpus, UNNEST(range(1, len(th)-${ShingleN - 2})) AS u(j))
       |SELECT ps.doc_id, count(*) AS n_hit_spans,
       |  CAST(min(ps.pos) AS BIGINT) AS first_pos,
       |  CAST(max(ps.pos) AS BIGINT) AS last_pos
       |FROM ps JOIN eval USING (h)
       |GROUP BY ps.doc_id ORDER BY ps.doc_id""".stripMargin

  def decontaminateSql: String =
    s"""WITH eval_docs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id IN (0, 10, 20, 30, 40)),
       |corpus_docs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id NOT IN (0, 10, 20, 30, 40)
       |  UNION ALL
       |  SELECT doc_id + 900000, text FROM eval_docs),
       |${shingleCteFor("eval_docs", "ev_toks", "ev_sh")},
       |${shingleCteFor("corpus_docs", "toks", "sh")}
       |SELECT doc_id, count(DISTINCT h) AS n_hits
       |FROM sh WHERE h IN (SELECT h FROM ev_sh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ incremental dedup
  /** Incremental (cross-run) dedup: drop batch documents whose exact
    * text already exists in a standing corpus — the every-crawl-cycle
    * operation of a training-data pipeline, where the corpus is orders
    * of magnitude bigger than the batch.
    *
    * Scale shape: a Bloom filter over the corpus fingerprints is built
    * distributed (one pass, merged on the driver) and broadcast; batch
    * rows it rejects are DEFINITELY new and skip the join entirely, so
    * only the tiny might-contain candidate set pays a shuffle against
    * the corpus in the exact anti-join that removes false positives.
    * False negatives are impossible, so the result is exact — identical
    * to a plain anti-join, at a fraction of the shuffle.
    *
    * Fixture: corpus = even doc_ids; batch = odd doc_ids (genuinely
    * new) plus copies of the even docs under shifted IDs (dupes to
    * drop). Expected output: exactly the odd doc_ids.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val fp = md5(col("text").cast("binary"))
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(fp.as("fp"))
    // the batch is small by premise — materialize its fingerprints once
    // instead of re-parsing the union for each side of the split below.
    // r18: the two union legs were a 1:1 map of the corpus (odds keep
    // their id, evens shift by 700000 — every doc contributes exactly
    // one batch row), so the batch is ONE projection of one scan, not
    // two scans glued by a union (guide §2.4); same rows exactly.
    // NULL precondition (r19 ADVICE note): the old pmod filters dropped
    // a NULL doc_id from BOTH legs, while when/otherwise keeps it
    // (NULL falls to otherwise, stays NULL). documents.doc_id is the
    // generated corpus's non-null key, so the two forms are identical
    // here — this rewrite does NOT transfer to a nullable-id source.
    val batch = docs
      .select(when(pmod(col("doc_id"), lit(2)) === 1, col("doc_id"))
        .otherwise(col("doc_id") + 700000).as("doc_id"), fp.as("fp"))
      .localCheckpoint(true)
    val bf = corpus.stat.bloomFilter("fp",
      expectedNumItems = math.max(1000L, corpus.count()), fpp = 0.01)
    // The bloom check is one cheap driver-broadcast probe per row; a
    // UDF here is fine — it GATES the expensive join rather than
    // sitting in a per-element hot loop. Null-safe: a NULL fingerprint
    // (NULL text) is definitely-new, matching the oracle's NOT EXISTS
    // (NULL never matches) — and BloomFilter.mightContain(null) throws.
    val mightContain = udf((s: String) => s != null && bf.mightContain(s))
    val definitelyNew = batch.where(!mightContain(col("fp")))
    val verifiedNew = batch.where(mightContain(col("fp")))
      .join(corpus, Seq("fp"), "left_anti")
    definitelyNew.select("doc_id")
      .unionByName(verifiedNew.select("doc_id"))
      .orderBy("doc_id")
  }

  def dedupIncrementalSql: String =
    """WITH corpus AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
      |batch AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + 700000, md5(text) FROM documents WHERE doc_id % 2 = 0)
      |SELECT doc_id FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- SimHash
  /** 56-bit SimHash fingerprints: md5-hash each token, weight by term
    * frequency, majority-vote per bit.
    *
    * All 56 bit-votes ride ONE map-side-combining groupBy as separate
    * aggregate columns (the same trick the MinHash pass uses for its 12
    * hashes) — the naive shape explodes every token row ×56 and
    * shuffles that, turning the fingerprint pass into the corpus's
    * biggest exchange; here the shuffle carries one row per (doc,
    * token) and the votes collapse map-side.
    */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashDf(spark, sfDir).orderBy("doc_id")

  private val SimhashLayoutVersion = 3 // v3: corpus-derived band width (_BAND_HEX stamp)

  /** Corpus size at which the simhash banding WIDENS — the
    * pre-wired resize the round-17 funnel probe priced
    * (SCALING.md): the banded self-join's within-slot term grows
    * with mean slot population, which at the 14-hex width (4 bands ×
    * 14 bits, 4·2¹⁴ slots) starts rivaling the slot count only past
    * ~10⁸ documents. At the trigger the fingerprint takes one more
    * md5 hex digit (15 → 60 bits, 4 bands × 15 bits — 2× the slots,
    * still positive in a signed 64-bit on both engines) and the
    * pigeonhole guarantee is unchanged: 4 bands cover hamming ≤ 3 at
    * ANY per-band width. Derived at layout build from the corpus
    * count and stamped into the layout (`_BAND_HEX`), mirrored in
    * the oracles as a CASE over count(*) — like every other
    * corpus-derived funnel width, the two engines derive the same
    * value from the same corpus.
    */
  private[graft] val SimhashWideTrigger = 100000000L

  /** Hex digits of the md5 digest a corpus of `nDocs` keeps for its
    * simhash fingerprints — see [[SimhashWideTrigger]]. Band width in
    * BITS equals this value (bits = 4·hexChars split into 4 bands).
    */
  private[graft] def simhashHexCharsFor(nDocs: Long): Int =
    if (nDocs < SimhashWideTrigger) 14 else 15

  private[graft] val SimhashDir = s"simhash_v$SimhashLayoutVersion"

  /** The simhash fingerprint relation materialized ON DISK (8 bytes
    * per doc) — the "fingerprint index" five queries probe (simhash,
    * banded pairs, clusters, canonical pick, edit-distance funnel).
    * Built once per sf dir and amortized over every probe, exactly
    * the [[SimilarityQueries.bucketedLayout]] discipline: in
    * production the fingerprint index is a standing table maintained
    * beside the corpus, not recomputed per query. Rebuilt when the
    * version bumps or the source parquet is newer.
    */
  private[operators] def simhashLayout(spark: SparkSession, sfDir: String): String = {
    val layout = s"${graft.GraftSession.fixtureRoot(sfDir)}/$SimhashDir"
    graft.GraftSession.ensureLayout(spark, layout, s"$sfDir/documents.parquet") {
      // a rebuild is a new corpus snapshot — void any streaming
      // maintenance batch marker from the previous one, a crashed
      // compaction's staging tree, and the tombstones (they hid docs
      // of the PREVIOUS snapshot; the rebuild follows the source, and
      // a source still carrying the docs needs the forget re-issued)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(layout, "_LAST_BATCH"))
      graft.GraftSession.deleteRec(
        java.nio.file.Paths.get(s"$layout/fp_compacting"))
      graft.GraftSession.deleteRec(
        java.nio.file.Paths.get(s"$layout/tombstones"))
      // the band width is a property of THIS corpus snapshot
      // ([[simhashHexCharsFor]]); stamp it BEFORE the fingerprints so
      // any layout ensureLayout ever declares complete carries it —
      // appends and banded probes must use the standing width, never
      // re-derive from a corpus that may have grown since the build
      // (a mixed-width relation breaks the pigeonhole guarantee)
      val hex = simhashHexCharsFor(
        table(spark, sfDir, "documents").count())
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(layout)) // first build: dir not yet there
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(layout, "_BAND_HEX"), hex.toString)
      // fingerprints under a subdir: the parquet overwrite clears its
      // own dir, and the stamp marker lives beside it, not inside it
      simhashCompute(spark, sfDir, hex).write.mode("overwrite")
        .parquet(s"$layout/fp")
    }
    s"$layout/fp"
  }

  /** The STANDING layout's band width (hex digits), from its
    * `_BAND_HEX` stamp — every fingerprint append and banded probe
    * reads this, so a corpus that has grown past
    * [[SimhashWideTrigger]] since the build keeps the built width
    * until the stamp chain rebuilds the layout. A complete layout
    * without the stamp is impossible by construction (written before
    * the fingerprints inside the same ensureLayout body), so a
    * missing/corrupt stamp fails loudly.
    */
  private def simhashHexCharsAt(fp: String): Int =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(fp)
      .getParent.resolve("_BAND_HEX")).trim.toInt
    catch {
      case e: Exception => throw new IllegalStateException(
        s"standing simhash layout at $fp has no readable _BAND_HEX " +
          "stamp — rebuild the layout", e)
    }

  /** Whether a standing simhash fingerprint layout exists for `sfDir`
    * — Ctl's "nothing to compact / forget" guard (the
    * [[graft.operators.TextQueries.invIndexPresent]] sibling).
    */
  def simhashPresent(sfDir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${graft.GraftSession.fixtureRoot(sfDir)}/$SimhashDir/fp/_SUCCESS"))

  /** Last applied maintenance batch id for the standing fingerprint
    * index, −1 = no streamed appends ever committed — the
    * `GET /forget/lag` read for this layout ([[graft.GraftSession
    * .lastBatchIn]] semantics: a corrupt marker fails loudly).
    * Direct path read: a lag probe must not build a layout.
    */
  def simhashAppendLag(sfDir: String): Long =
    graft.GraftSession.lastBatchIn(
      s"${graft.GraftSession.fixtureRoot(sfDir)}/$SimhashDir")

  /** Deletion tombstones standing on the fingerprint index (hidden,
    * not yet physically deleted — [[simhashCompact]] retires them).
    * Direct path read: a review counter must not build a layout.
    */
  def simhashPendingForgets(spark: SparkSession, sfDir: String): Long =
    graft.GraftSession.tombstonesIn(spark, java.nio.file.Paths.get(
        s"${graft.GraftSession.fixtureRoot(sfDir)}/$SimhashDir",
        "tombstones"), "doc_id")
      .map(_.count()).getOrElse(0L)

  private def simhashTombDir(fp: String): java.nio.file.Path =
    java.nio.file.Paths.get(fp).getParent.resolve("tombstones")

  /** Deletion propagation INTO the standing fingerprint index — the
    * [[graft.operators.TextQueries.invIndexForget]] sibling: a
    * forgotten document must stop participating in near-dup pairing,
    * clustering, canonical picks AND the admission gate (a re-upload
    * of a forgotten document is NEW data, not a near-duplicate of
    * something we no longer hold). Immutable-layout deletes are
    * tombstones + compaction: the ids append to
    * `<layout>/tombstones`, every consumer reads through
    * [[simhashDf]]'s bounded broadcast anti-join, and the next
    * [[simhashCompact]] applies the delete physically. Fingerprints
    * have no stats leg, so the port is the tombstone append alone —
    * idempotent (already-tombstoned ids contribute nothing to the
    * returned newly-hidden count and are never re-appended as work).
    * Returns the number of docs newly hidden.
    */
  def simhashForget(spark: SparkSession, sfDir: String,
      ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "forget request carries no ids")
    val fp = simhashLayout(spark, sfDir)
    import spark.implicits._
    val standing = graft.GraftSession.filterIdIn(
      spark.read.parquet(fp), "doc_id", ids).select("doc_id")
    val fresh = graft.GraftSession
      .tombstonesIn(spark, simhashTombDir(fp), "doc_id")
      .fold(standing)(t =>
        standing.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val dn = fresh.distinct().count()
    if (dn > 0) {
      // staged + moved (no `_temporary` in the live dir): legal beside
      // the live fingerprint maintenance stream; concurrent forgets
      // with distinct cohorts get distinct claim tags
      graft.GraftSession.commitAppend(
        java.nio.file.Paths.get(fp).getParent.toString,
        Some(graft.GraftSession.forgetTag(ids)), "forget")(
        simhashTombDir(fp).toString -> ids.distinct.toDF("doc_id").coalesce(1).write)
    }
    dn
  }

  /** Standing-layout compaction for the fingerprint relation — with
    * tombstones pending, the PRUNED physical half of [[simhashForget]]
    * (only the files carrying a victim row rewrite, found by one
    * pushed-down id scan); clean, a full file re-pack (appends
    * fragment the flat dir) to the session's shuffle parallelism —
    * the 8-byte-per-doc relation is ~8 GB at 10⁹ docs, so a fixed
    * file count would mis-size at either end. Tombstones retire LAST
    * and only the files the snapshot CONSUMED (a crash above leaves
    * them pending — the anti-join of already-absent rows is a no-op —
    * and one landing mid-compaction survives to the next).
    */
  def simhashCompact(spark: SparkSession, sfDir: String): String = {
    val fp = simhashLayout(spark, sfDir)
    val tombDir = simhashTombDir(fp)
    // SNAPSHOT the tombstone files before the rewrite resolves any
    // file listing: exactly these are applied and retired, so a
    // tombstone staged-moved in DURING the compaction survives to the
    // next one instead of being destroyed unapplied
    val snap = graft.GraftSession.tombstoneSnapshot(tombDir)
    if (snap.isEmpty) {
      // pure defrag: full re-pack to the session's parallelism
      graft.GraftSession.compactSnapshot(spark, fp, (df, staged) => df
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .write.mode("overwrite").parquet(staged))
    } else {
      // PRUNED physical delete — the fingerprint relation is FLAT
      // (no partition dirs), so the dirty unit is the FILE: one
      // pushed-down id scan over the 8-byte-per-doc relation finds
      // the files carrying a victim row, and only those rewrite. The
      // delete costs ∝ carrying files + one narrow locate scan, not
      // a corpus rewrite; a clean follow-up compact stays the
      // full-defrag verb.
      val ids = graft.GraftSession.tombstonesFrom(spark, snap)
        .select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSeq // people-scale
      val liveP = java.nio.file.Paths.get(fp).toAbsolutePath
      val dirty = graft.GraftSession.filterIdIn(
        spark.read.parquet(fp), "doc_id", ids) // pushed to the scan
        // (literal In at people scale; broadcast semi past the cliff)
        .select(input_file_name().as("f")).distinct()
        .collect().map { r =>
          // residual decode ambiguity: a LITERAL '%xx' in a layout
          // file name would decode wrongly here and the pruned
          // rewrite would miss its dirty file — impossible for this
          // layout (Spark writes part-<uuid>.parquet names, never a
          // '%'), so the URI decode is safe; revisit if a layout
          // ever takes operator-supplied file names
          liveP.relativize(java.nio.file.Paths.get(
            graft.GraftSession.inputFileNamePath(r.getString(0)))).toString
        }.toSet
      if (dirty.nonEmpty)
        graft.GraftSession.compactSnapshotFiles(spark, fp, dirty,
          (df, staged) => graft.GraftSession
            .filterIdNotIn(df, "doc_id", ids)
            .write.mode("overwrite").parquet(staged))
    }
    graft.GraftSession.retireTombstones(tombDir, snap)
    fp
  }

  /** Incremental fingerprint maintenance — the
    * [[graft.operators.TextQueries.invIndexAppend]] sibling for the
    * simhash index: fingerprint ONLY the new documents and append
    * their 8-byte rows. Bit-equal to a rebuild over the union corpus
    * (spec-pinned) because fingerprints are per-doc and appended
    * doc_ids are new — same caller contract as every append path.
    * Through [[graft.GraftSession.commitAppend]] (`tag` = its tagged
    * form), N admission gates — or a gate beside a batch backfill —
    * may maintain the index SIMULTANEOUSLY.
    */
  def simhashAppend(spark: SparkSession, sfDir: String,
      newDocs: DataFrame, tag: Option[String] = None): String = {
    val fp = simhashLayout(spark, sfDir) // ensure the base exists
    graft.GraftSession.commitAppend(
      java.nio.file.Paths.get(fp).getParent.toString, tag)(
      fp -> simhashOf(newDocs, simhashHexCharsAt(fp)).write)
    fp
  }

  /** foreachBatch-idempotent append (the [[graft.operators.TextQueries
    * .invIndexAppendOnce]] pattern): the last applied batchId rides a
    * marker beside the layout, so an at-least-once replay is a no-op
    * instead of duplicate fingerprint rows.
    */
  def simhashAppendOnce(spark: SparkSession, sfDir: String,
      newDocs: DataFrame, batchId: Long): Boolean =
    graft.GraftSession.appliedOnce(java.nio.file.Paths.get(
      simhashLayout(spark, sfDir)).getParent.resolve("_LAST_BATCH"), batchId) {
      simhashAppend(spark, sfDir, newDocs)
    }

  /** Near-dup ADMISSION against the standing corpus: of `incoming`
    * documents, keep only those whose simhash is NOT within hamming ≤3
    * of any fingerprint already in the standing index — the "don't
    * ingest near-copies of what we already have" gate every
    * training-data pipeline runs at the door. Scale shape: fingerprint
    * only the incoming batch (one shared recipe with the index build),
    * banded equi-join against the 8-byte-per-doc standing layout (the
    * [[simhashCands]] bands — pigeonhole: any pair at hamming ≤3
    * shares a band, so recall at the threshold is exact), verify by
    * bit_count, and a bounded LeftAnti of the duplicate ids — the
    * corpus is never re-fingerprinted and the incoming side never
    * self-joins. Streaming twin:
    * [[graft.streaming.StreamingOps.nearDupGateStream]].
    */
  def nearDupAdmitFor(spark: SparkSession, sfDir: String,
      incoming: DataFrame): DataFrame = {
    // the incoming batch MUST fingerprint at the standing layout's
    // width — a mixed-width band join would compare incompatible
    // band values and silently admit every near-copy
    val hex = simhashHexCharsAt(simhashLayout(spark, sfDir))
    val standing = simBands(simhashDf(spark, sfDir), hex)
      .select(col("b"), col("band_val"), col("simhash").as("s_sim"))
    // no broadcast HINT: dupIds is bounded by the incoming batch, so
    // AQE broadcasts it when small and falls back to a shuffle join
    // when a large ingest batch is mostly duplicates — a forced hint
    // would crash at the broadcast cap instead of degrading
    val dupIds = simBands(simhashOf(incoming, hex), hex)
      .join(standing, Seq("b", "band_val"))
      .where(expr("bit_count(simhash ^ s_sim) <= 3"))
      .select("doc_id").distinct()
    incoming.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Registered form: the incoming batch is a deterministic
    * perturbation of every 100th corpus document (new ids, three
    * appended tokens) — long documents stay within hamming 3 of their
    * source and are REJECTED by the gate, short ones drift past the
    * threshold and are admitted, so the query exercises both verdicts.
    */
  def nearDupAdmit(spark: SparkSession, sfDir: String): DataFrame = {
    val incoming = table(spark, sfDir, "documents")
      .where(pmod(col("doc_id"), lit(100)) === 7)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq unique marker")).as("text"))
    nearDupAdmitFor(spark, sfDir, incoming)
      .select(col("doc_id")).orderBy("doc_id")
  }

  def nearDupAdmitSql: String =
    s"""WITH $simhashWidthCte,
      |inc AS (SELECT doc_id + 10000000 AS doc_id,
      |    text || ' zq unique marker' AS text
      |  FROM documents WHERE doc_id % 100 = 7),
      |corp_tc AS (SELECT doc_id, tok, count(*) AS cnt,
      |    CAST(('0x' || substr(md5(tok), 1, (SELECT w FROM ws))) AS BIGINT) AS h
      |  FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |        FROM documents) GROUP BY doc_id, tok),
      |corp_votes AS (SELECT doc_id, j,
      |    sum(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS vote
      |  FROM corp_tc, UNNEST(range(4 * (SELECT w FROM ws))) AS r(j) GROUP BY doc_id, j),
      |corp_sim AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |  FROM corp_votes GROUP BY doc_id),
      |inc_tc AS (SELECT doc_id, tok, count(*) AS cnt,
      |    CAST(('0x' || substr(md5(tok), 1, (SELECT w FROM ws))) AS BIGINT) AS h
      |  FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |        FROM inc) GROUP BY doc_id, tok),
      |inc_votes AS (SELECT doc_id, j,
      |    sum(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS vote
      |  FROM inc_tc, UNNEST(range(4 * (SELECT w FROM ws))) AS r(j) GROUP BY doc_id, j),
      |inc_sim AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |  FROM inc_votes GROUP BY doc_id),
      |corp_bands AS (SELECT simhash AS s_sim, j AS b,
      |    (simhash >> ((SELECT w FROM ws) * j)) & ((CAST(1 AS BIGINT) << (SELECT w FROM ws)) - 1) AS band_val
      |  FROM corp_sim, UNNEST(range(4)) AS r(j)),
      |inc_bands AS (SELECT doc_id, simhash, j AS b,
      |    (simhash >> ((SELECT w FROM ws) * j)) & ((CAST(1 AS BIGINT) << (SELECT w FROM ws)) - 1) AS band_val
      |  FROM inc_sim, UNNEST(range(4)) AS r(j)),
      |dups AS (SELECT DISTINCT i.doc_id
      |  FROM inc_bands i JOIN corp_bands c ON i.b = c.b AND i.band_val = c.band_val
      |  WHERE bit_count(xor(i.simhash, c.s_sim)) <= 3)
      |SELECT doc_id FROM inc
      |WHERE doc_id NOT IN (SELECT doc_id FROM dups)
      |ORDER BY doc_id""".stripMargin

  /** Pre-build the on-disk layouts so benchmark timings measure the
    * probes, not the one-time index build (the
    * [[SimilarityQueries.warmLayouts]] counterpart).
    */
  def warmLayouts(spark: SparkSession, sfDir: String): Unit = {
    simhashLayout(spark, sfDir)
    ()
  }

  /** The standing fingerprint relation — EVERY simhash consumer
    * (pairing, clustering, canonical pick, edit-distance funnel, the
    * admission gate) reads through here, so deletion tombstones, when
    * present, reach all of them in one bounded broadcast anti-join
    * (the [[graft.operators.TextQueries]] `postingsFor` hook shape).
    */
  private def simhashDf(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = simhashLayout(spark, sfDir)
    val base = spark.read.parquet(fp)
    graft.GraftSession.tombstonesIn(spark, simhashTombDir(fp), "doc_id")
      .fold(base)(t => base.join(broadcast(t), Seq("doc_id"), "left_anti"))
  }

  /** Registered forget-propagation gate for the fingerprint index
    * (the [[graft.operators.TextQueries.forgetIndex]] sibling): on
    * the shared fixture COPY of the corpus, the `q_forget` cohort
    * (`doc_id % 97 == 0`) is forgotten through [[simhashForget]] and
    * the near-dup pairs are served from the TOMBSTONED layout — which
    * must equal the oracle's pairs over `documents` minus the cohort.
    * Banding is per-document, so filtering pairs by endpoint in the
    * oracle is exactly removing the docs before banding. Idempotent
    * across reruns.
    */
  def forgetSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.GraftSession.forgetFixtureDir(spark, sfDir)
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .where(pmod(col("doc_id"), lit(97)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    simhashForget(spark, dir, ids)
    dedupSimhashPairs(spark, dir)
  }

  def forgetSimhashSql: String =
    s"""WITH $simhashCandCte
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |  AND doc_a % 97 <> 0 AND doc_b % 97 <> 0
       |ORDER BY doc_a, doc_b""".stripMargin

  private def simhashCompute(spark: SparkSession, sfDir: String,
      hexChars: Int): DataFrame =
    simhashOf(table(spark, sfDir, "documents"), hexChars)

  /** `4·hexChars`-bit simhash fingerprints of an arbitrary documents
    * relation — the ONE fingerprint recipe (full build and
    * incremental append both call this, so the two can never drift);
    * the width comes from the standing layout's `_BAND_HEX` stamp
    * ([[simhashHexCharsAt]] — 56-bit at today's corpus scales,
    * 60-bit past [[SimhashWideTrigger]]).
    */
  private def simhashOf(docs: DataFrame, hexChars: Int): DataFrame = {
    val bits = 4 * hexChars
    val tokCnt = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5LongHex(col("tok"), hexChars))
    val voteCols = (0 until bits).map { j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, col("cnt")).otherwise(-col("cnt")))
        .as(s"v$j")
    }
    tokCnt.groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: band the 56-bit fingerprint into 4×14-bit
    * chunks; pairs agreeing on ≥1 band are candidates (pigeonhole: any
    * pair with hamming ≤ 3 must share a band, so recall at the ≤3
    * threshold is exact); verify with bit_count(xor). The banded join
    * is the scale shape — no all-pairs comparison ever happens.
    */
  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashCands(spark, sfDir)
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")

  /** The 4-band explosion of a (…, simhash) relation at a per-band
    * width of `hexChars` BITS — the ONE banding recipe (self-join
    * candidates and the admission gate both call this, so the
    * pigeonhole guarantee — any pair at hamming ≤3 shares one of the
    * 4 bands, at ANY band width — cannot drift between paths).
    */
  private[operators] def simBands(df: DataFrame, hexChars: Int): DataFrame = df
    .withColumn("b", explode(sequence(lit(0), lit(3))))
    .withColumn("band_val",
      expr(s"shiftright(simhash, $hexChars * b) & ${(1L << hexChars) - 1}"))

  /** Banded candidate pairs (doc_a, sa, doc_b, sb): docs agreeing on
    * ≥1 of the 4 simhash bands at the standing layout's width.
    * Shared by the hamming-verified pairs query and the edit-distance
    * verifier.
    */
  private def simhashCands(spark: SparkSession, sfDir: String): DataFrame = {
    // both self-join sides read the on-disk fingerprint layout — an
    // 8-byte-per-doc parquet scan per side, no recompute to guard.
    // (r18 measured-and-rejected: hash-repartitioning this scan to
    // spread the band fan-out was neutral at best in its explicit-
    // count form and 4x WORSE in its AQE-coalescible form, which also
    // removed the candidate distinct's own exchange — the downstream
    // pair repartition in dedupEditDist is where the parallelism
    // actually pays.)
    val hex = simhashHexCharsAt(simhashLayout(spark, sfDir))
    val bands = simBands(simhashDf(spark, sfDir), hex)
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.simhash").as("sa"),
        col("y.doc_id").as("doc_b"), col("y.simhash").as("sb"))
      .distinct()
  }

  /** Edit-distance near-dup verification: the banded SimHash
    * candidates, verified by EXACT Levenshtein distance ≤
    * [[EditDistMax]]. The gold-standard fuzzy-duplicate check is
    * affordable at corpus scale only as a funnel, and every stage here
    * is LOSSLESS for the ≤[[EditDistMax]] answer:
    *
    *  1. banded candidates (linear fanout, never all pairs);
    *  2. length-difference bound — edit distance ≥ |len(a)−len(b)|,
    *     so the cheap codegen'd filter drops no qualifying pair (a
    *     hamming pre-filter would: measured on this corpus, pairs
    *     at edit distance ≤ 50 still show simhash hamming up to 12);
    *  3. THRESHOLDED Levenshtein — the 3-arg builtin runs the banded
    *     O(len·k) DP with early exit instead of the full O(len²)
    *     matrix, returning −1 past the threshold; identical values
    *     for every kept pair.
    *
    * The funnel took this query from 692 s to seconds at sf0.1 — the
    * difference between a benchmark-only operator and one that
    * survives a corpus.
    */
  private val EditDistMax = 50

  def dedupEditDist(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = simhashCands(spark, sfDir).select("doc_a", "doc_b")
    val d = table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    // stage 2 joins LENGTHS (ints) and filters before any text moves;
    // only the surviving pairs pull the two text payloads
    val lens = d.select(col("doc_id"), length(col("text")).as("len"))
    val narrowed = cand
      .join(lens.select(col("doc_id").as("doc_a"), col("len").as("la")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("lb")), "doc_b")
      .where(abs(col("la") - col("lb")) <= EditDistMax)
      .select("doc_a", "doc_b")
    narrowed
      // r18 (guide §2.5/§1.2): the pair relation is BYTES-small (16 B/
      // pair) but each row carries O(len·k) of Levenshtein DP — AQE's
      // size-based coalesce collapsed the candidate exchange to ~1
      // partition and ran the whole verify stage single-threaded
      // (measured: 89k surviving pairs at sf0.1). An EXPLICIT-count
      // hash repartition on the pair key re-spreads the DP across the
      // cluster (explicit so AQE cannot re-coalesce a bytes-small but
      // CPU-dense stage); cost is one shuffle of the 16-byte pairs.
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("doc_a"), col("doc_b"))
      .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .withColumn("dist",
        levenshtein(col("ta"), col("tb"), EditDistMax).cast("long"))
      .where(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  def dedupEditDistSql: String =
    s"""WITH $simhashCandCte
       |SELECT doc_a, doc_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
       |FROM cand JOIN documents da ON da.doc_id = cand.doc_a
       |          JOIN documents db ON db.doc_id = cand.doc_b
       |WHERE abs(len(da.text) - len(db.text)) <= $EditDistMax
       |  AND levenshtein(da.text, db.text) <= $EditDistMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Boilerplate detection: a shingle present in ≥ [[BoilerDf]]
    * distinct documents is boilerplate (license headers, navigation
    * chrome, templated disclaimers); each affected document reports
    * its distinct-shingle count and how many are boilerplate — the
    * per-doc coverage a cleaning pass would cut. Same polynomial
    * shingle fingerprint as the dedup family (8-byte shuffle keys);
    * one map-side-combined groupBy for document frequency, one
    * equi-join back.
    */
  private val BoilerDf = 3

  def boilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    // r18 audit: sh executes twice (the df leg and the join-back leg
    // push different requirements, so ReuseExchange cannot fold them)
    // — but a localCheckpoint of the distinct MEASURED ~1.9x WORSE
    // (1.14 -> 2.1-2.4 s): the block write + extra job costs more
    // than the second tokenize+hash pass at any measured scale.
    // Recompute deliberately kept (the dedupNgram trade, same file).
    val sh = table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
      .distinct()
    val bp = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= BoilerDf)
    sh.join(bp.select(col("h"), lit(1L).as("is_bp")), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_bp"), lit(0L))).as("n_boiler"))
      .where(col("n_boiler") > 0)
      .orderBy("doc_id")
  }

  def boilerplateSql: String =
    s"""WITH $shingleCte,
       |bp AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= $BoilerDf),
       |j AS (SELECT sh.doc_id, CASE WHEN bp.h IS NULL THEN 0 ELSE 1 END AS is_bp
       |      FROM sh LEFT JOIN bp ON sh.h = bp.h)
       |SELECT doc_id, count(*) AS n_shingles, CAST(sum(is_bp) AS BIGINT) AS n_boiler
       |FROM j GROUP BY doc_id HAVING sum(is_bp) > 0 ORDER BY doc_id""".stripMargin

  /** Shared CTE chain ending in `cand` (banded simhash candidate
    * pairs) — the pairs query and the cluster query build on the same
    * SQL, mirroring the Scala reuse of [[dedupSimhashPairs]].
    */
  /** Oracle-side band-width derivation — the SQL mirror of
    * [[simhashHexCharsFor]] over the same corpus (the semdedup
    * formula-mirroring discipline): both engines derive the same
    * width from the same document count, at any corpus size.
    */
  private def simhashWidthCte: String =
    s"ws AS (SELECT CASE WHEN (SELECT count(*) FROM documents) " +
      s"< $SimhashWideTrigger THEN 14 ELSE 15 END AS w)"

  private def simhashCandCte =
    s"""$simhashWidthCte,
      |tc AS (SELECT doc_id, tok, count(*) AS cnt,
      |    CAST(('0x' || substr(md5(tok), 1, (SELECT w FROM ws))) AS BIGINT) AS h
      |  FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |        FROM documents)
      |  GROUP BY doc_id, tok),
      |votes AS (SELECT doc_id, j,
      |    sum(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS vote
      |  FROM tc, UNNEST(range(4 * (SELECT w FROM ws))) AS r(j) GROUP BY doc_id, j),
      |sim AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id),
      |bands AS (SELECT doc_id, simhash, b, (simhash >> ((SELECT w FROM ws) * b)) & ((CAST(1 AS BIGINT) << (SELECT w FROM ws)) - 1) AS band_val
      |  FROM sim, UNNEST(range(4)) AS r(b)),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS sa, y.doc_id AS doc_b, y.simhash AS sb
      |  FROM bands x JOIN bands y
      |    ON x.b = y.b AND x.band_val = y.band_val AND x.doc_id < y.doc_id)""".stripMargin

  def dedupSimhashPairsSql: String =
    s"""WITH $simhashCandCte
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------- duplicate clustering
  /** Duplicate-cluster assignment: connected components over the
    * simhash near-dup pair graph (hamming ≤ 3), labeling every
    * clustered document with the min doc_id of its component — the
    * "pick one canonical copy per duplicate group" step that follows
    * pair detection in every dedup pipeline (A~B and B~C must collapse
    * into ONE cluster even when A and C were never paired directly).
    *
    * Shape: iterative min-label propagation — each round is one
    * equi-join of the (tiny) edge set with the labels plus a map-side-
    * combining min-groupBy, repeated to the component diameter. Near-
    * dup components are shallow (duplicates of a common source), so
    * rounds stay single-digit at corpus scale; a pathological deep
    * chain would call for the large-star/small-star variant, which
    * halves diameter per round with the same join primitive. Labels
    * are checkpointed per round so the plan never grows with the
    * iteration count.
    */
  /** Edge count below which the component computation collapses to a
    * driver-side union-find over the collected pair set. The pair graph
    * is the OUTPUT of near-dup detection — orders of magnitude smaller
    * than the corpus — and 1M edges ≈ tens of MiB of driver heap
    * (collected rows + parent map), comfortably bounded on the default
    * driver. NOT safe on every driver, though: the ceiling is derived
    * from `spark.driver.maxResultSize` (≈200 bytes per collected
    * two-long Row, kept to a quarter of the configured limit), so a
    * small-driver deployment degrades to the distributed min-label
    * loop instead of OOMing inside the "bounded" path — the same
    * adaptive small-side collapse AQE applies to joins.
    */
  private[operators] def unionFindMaxEdges(spark: SparkSession): Long = {
    val maxResult = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult <= 0) 1000000L // 0 = "unlimited": keep the 1M cap
    else math.min(1000000L, maxResult / 800)
  }

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupSimhashPairs(spark, sfDir).select("doc_a", "doc_b")
      .localCheckpoint(true)
    val nEdges = pairs.count()
    if (nEdges <= unionFindMaxEdges(spark)) unionFindClusters(pairs)
    else distributedClusters(pairs)
  }

  /** Driver union-find — the ≤threshold path: one collect of the
    * (small) pair set, zero additional Spark jobs per iteration.
    */
  private[operators] def unionFindClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val out = members.toSeq.sorted.map(id => (id, find(id)))
    import spark.implicits._
    out.toDF("doc_id", "cluster_id").orderBy("doc_id")
  }

  /** Distributed min-label propagation — the >threshold path: each
    * round is one equi-join of the edge set with the labels plus a
    * map-side-combining min-groupBy, repeated to the component
    * diameter (shallow for near-dup graphs; a pathological chain would
    * call for large-star/small-star with the same join primitive).
    * Labels checkpoint per round so the plan never grows.
    */
  private[operators] def distributedClusters(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id"))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    val maxRounds = 64
    while (!converged && rounds < maxRounds) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("lab").as("plab"))
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"), col("lab"),
          least(col("lab"), coalesce(col("plab"), col("lab"))).as("nlab"))
        .localCheckpoint(true)
      converged = next.where(col("nlab") < col("lab")).isEmpty
      val prev = labels
      labels = next.select(col("id"), col("nlab").as("lab"))
      prev.unpersist(false)
      rounds += 1
    }
    // silent non-convergence would label one component inconsistently —
    // fail loudly instead (a >64-diameter near-dup chain is pathological;
    // it would call for the large-star/small-star variant)
    if (!converged) throw new IllegalStateException(
      s"duplicate-cluster propagation did not converge in $maxRounds rounds")
    labels.select(col("id").as("doc_id"), col("lab").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: transitive closure via a recursive CTE over the same
    * candidate pairs, min reachable id per node ≡ converged min-label.
    */
  def dedupClustersSql: String =
    s"""WITH RECURSIVE $simhashCandCte,
       |pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(id, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id)
       |SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
       |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- canonical pick
  /** Source-priority canonical selection — the step after clustering
    * in a curation pipeline: every duplicate cluster keeps exactly one
    * copy, chosen by source priority (here the numeric source rank,
    * lower = more trusted; in production a wiki>books>web table), then
    * min doc_id as the deterministic tie-break. One min(struct)
    * groupBy over the (tiny) clustered subset — the struct reduces
    * map-side, so the shuffle carries one candidate per cluster per
    * partition, never the member lists.
    */
  def canonicalPick(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = dedupClusters(spark, sfDir).select("doc_id", "cluster_id")
    val docs = table(spark, sfDir, "documents").select(col("doc_id"), col("source"))
    clusters.join(docs, "doc_id")
      .withColumn("prio", substring(col("source"), 4, 10).cast("long"))
      .groupBy("cluster_id")
      .agg(min(struct(col("prio"), col("doc_id"), col("source"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("w.doc_id").as("keep_doc_id"),
        col("w.source").as("keep_source"), col("n_members"))
      .orderBy("cluster_id")
  }

  def canonicalPickSql: String =
    s"""WITH RECURSIVE $simhashCandCte,
       |pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(id, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id),
       |cl AS (SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
       |  FROM walk GROUP BY id),
       |m AS (SELECT cl.cluster_id, cl.doc_id, d.source,
       |    CAST(substr(d.source, 4) AS BIGINT) AS prio
       |  FROM cl JOIN documents d USING (doc_id)),
       |r AS (SELECT cluster_id, doc_id, source,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY prio, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM m)
       |SELECT cluster_id, doc_id AS keep_doc_id, source AS keep_source,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  def dedupSimhashSql: String =
    s"""WITH $simhashWidthCte,
      |tc AS (SELECT doc_id, tok, count(*) AS cnt,
      |    CAST(('0x' || substr(md5(tok), 1, (SELECT w FROM ws))) AS BIGINT) AS h
      |  FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |        FROM documents)
      |  GROUP BY doc_id, tok),
      |votes AS (SELECT doc_id, j,
      |    sum(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS vote
      |  FROM tc, UNNEST(range(4 * (SELECT w FROM ws))) AS r(j) GROUP BY doc_id, j)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
