package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.GraftSession.table
import graft.functions.TextFunctions._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force top-k as the exact baseline, sign-random-
  * projection LSH bucketing as the scale path, and embedding-cosine
  * near-dup pairs.
  *
  * All scores are exact integers under floor(x·10⁶) quantization (see
  * TextFunctions.quant) — order-independent, bit-identical in DuckDB,
  * and the same trick int8-quantized ANN systems use at scale. Cosine
  * uses sqrt(na)·sqrt(nb) in the denominator (not sqrt(na·nb)) so the
  * norms product never overflows int64.
  *
  * Scale shapes: brute-force top-k is a single narrow pass + a k-row
  * takeOrdered — no shuffle of the vectors themselves. LSH bucketing
  * turns the all-pairs problem into per-bucket work; near-dup pairing
  * is restricted to label blocks (a stand-in for IVF cells), so the
  * quadratic term is per-block, not global.
  */
object SimilarityQueries {

  private val LshPlanes = 6 // 64 buckets; bits from md5-seeded hyperplanes

  /** Deterministic integer hyperplanes: component (i,j) from md5.
    * `planesFor(p)` is the p-plane prefix of one infinite family, so a
    * corpus-derived plane count (the knn graph) and the fixed 6-plane
    * standing layout share their first 6 hyperplanes exactly.
    */
  private[operators] def planesFor(p: Int): Array[Array[Long]] =
    Array.tabulate(p, 64) { (i, j) => md5LongLocal(s"$i,$j") % 2001 - 1000 }

  private[operators] def planes: Array[Array[Long]] = planesFor(LshPlanes)

  /** Sign-projection LSH bucket of an embedding column: one bit per
    * hyperplane, set when the quantized dot product is positive. The
    * single source of the bucket function — the on-disk layout, every
    * probe, and the dedup blocking all call this, so the
    * `annLsh == annLshBucketed` equivalence can't drift.
    */
  private def bucketColFor(pl: Array[Array[Long]])(emb: Column): Column =
    pl.zipWithIndex.map { case (p, i) =>
      when(quantDot(emb, typedLit(p.toSeq)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def bucketCol(emb: Column): Column = bucketColFor(planes)(emb)

  /** Driver-side twin of [[bucketCol]] for a literal query vector —
    * identical integer math (floor(x·10⁶) quantization, same planes).
    */
  private def bucketOfVec(v: Seq[Float]): Long = {
    val q = v.map(x => math.floor(x * 1000000d).toLong)
    planes.zipWithIndex.map { case (p, i) =>
      val dot = p.indices.map(j => q(j) * p(j)).sum
      if (dot > 0) 1L << i else 0L
    }.sum
  }

  private def queryVec(spark: SparkSession, sfDir: String): Seq[Float] =
    table(spark, sfDir, "embeddings").where(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0)

  // --------------------------------------------------- brute-force kNN
  /** Exact top-10 by quantized dot product against vec_id 0. */
  def annBruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    val q = typedLit(queryVec(spark, sfDir))
    table(spark, sfDir, "embeddings")
      .select(col("vec_id"), quantDot(col("embedding"), q).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  // NB all oracles cast list elements to DOUBLE before the ×10⁶: DuckDB
  // would otherwise multiply in float32 and floor differently than
  // Spark's double arithmetic.
  private val QDot =
    "CAST(floor(CAST(p[1] AS DOUBLE)*1000000) AS BIGINT) * CAST(floor(CAST(p[2] AS DOUBLE)*1000000) AS BIGINT)"

  def annBruteForceSql: String =
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id,
       |  CAST(list_sum(list_transform(list_zip(e.embedding, q.embedding),
       |    p -> $QDot)) AS BIGINT) AS score
       |FROM embeddings e, q
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------- cosine variant
  /** Exact top-10 by cosine: the quantized dot normalized by the
    * quantized L2 norms. All inputs to the doubles are exact int64
    * (quantDot of a vector with itself is the quantized squared norm),
    * and sqrt/division are exactly-rounded IEEE ops, so both engines
    * produce bit-identical cosines. Zero-norm vectors score 0 rather
    * than NaN (engines disagree on NaN ordering). Same scan-speed
    * shape as [[annBruteForce]]: narrow projection + TakeOrdered.
    */
  def annCosine(spark: SparkSession, sfDir: String): DataFrame = {
    val qv = queryVec(spark, sfDir)
    // the query's own norm is constant — computed ONCE on the driver
    // with the identical integer quantization (QuantDot is a custom
    // expression Catalyst can't constant-fold, so leaving it in the
    // row expression would pay a 64-wide dot per scanned row)
    val qq = {
      val q = qv.map(x => math.floor(x * 1000000d).toLong)
      q.map(x => x * x).sum
    }
    val sqrtQq = math.sqrt(qq.toDouble)
    val e = col("embedding")
    table(spark, sfDir, "embeddings")
      .select(col("vec_id"), quantDot(e, typedLit(qv)).as("dot"),
        quantDot(e, e).as("na"))
      .select(col("vec_id"),
        when(col("na") === 0, lit(0d)).otherwise(
          col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * lit(sqrtQq))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  def annCosineSql: String =
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT e.vec_id,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, q.embedding), p -> $QDot)) AS BIGINT) AS dot,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> $QDot)) AS BIGINT) AS na,
       |    CAST(list_sum(list_transform(list_zip(q.embedding, q.embedding), p -> $QDot)) AS BIGINT) AS nq
       |  FROM embeddings e, q)
       |SELECT vec_id,
       |  CASE WHEN na = 0 THEN 0.0
       |       ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))) END AS cosine
       |FROM s ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  // ----------------------------------------------------------- LSH ANN
  /** Bucketed ANN: 6 sign-projection bits → 64 buckets; search only the
    * query's bucket. The per-vector bucket is a narrow expression; on a
    * cluster the table would be written bucketed-by(bucket) so a query
    * touches one bucket's files only.
    */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val q = queryVec(spark, sfDir)
    table(spark, sfDir, "embeddings")
      .withColumn("bucket", bucketCol(col("embedding")))
      .where(col("bucket") === bucketOfVec(q))
      .select(col("vec_id"), quantDot(col("embedding"), typedLit(q)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  def annLshSql: String =
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |planes AS (SELECT i, j,
       |    (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 14) AS BIGINT) % 2001) - 1000 AS r
       |  FROM range($LshPlanes) t1(i), range(64) t2(j)),
       |dots AS (SELECT e.vec_id, p.i,
       |    sum(CAST(floor(CAST(e.embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT) * p.r) AS d
       |  FROM embeddings e, planes p GROUP BY 1, 2),
       |buckets AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY 1),
       |qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
       |scored AS (SELECT e.vec_id,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, q.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings e, q)
       |SELECT s.vec_id, s.score
       |FROM scored s JOIN buckets b ON s.vec_id = b.vec_id, qb
       |WHERE b.bucket = qb.bucket
       |ORDER BY s.score DESC, s.vec_id LIMIT 10""".stripMargin

  /** Bumped whenever the layout's format or bucket function changes —
    * part of the directory name, so a cache written by an older build
    * is never served to new probes.
    */
  private val LayoutVersion = 2
  private[graft] val EmbByBucketDir = s"emb_by_bucket_v$LayoutVersion"

  /** Build (once per sf dir) the embeddings layout partitioned by LSH
    * bucket — the "index build" side of [[annLshBucketed]], amortized
    * over every probe. `repartition(bucket)` first, so each bucket
    * directory holds one file instead of one per shuffle partition.
    * Rebuilt when the version changes (path suffix) or the source
    * parquet is newer than the cached layout.
    */
  private[operators] def bucketedLayout(spark: SparkSession, sfDir: String): String = {
    val layout = s"${graft.GraftSession.fixtureRoot(sfDir)}/$EmbByBucketDir"
    val success = new java.io.File(s"$layout/_SUCCESS")
    val src = new java.io.File(s"$sfDir/embeddings.parquet")
    val stale = src.exists() && src.lastModified() > success.lastModified()
    if (!success.exists() || stale) {
      table(spark, sfDir, "embeddings")
        .withColumn("bucket", bucketCol(col("embedding")))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(layout)
    }
    layout
  }

  /** Pre-build the on-disk layouts so benchmark timings measure the
    * probe, not the one-time index build.
    */
  def warmLayouts(spark: SparkSession, sfDir: String): Unit = {
    bucketedLayout(spark, sfDir)
    ivfPqLayout(spark, sfDir)
    // standing quantizers (kmeans_cells/label_purity share one;
    // semdedup trains on the planted union — ONE construction, shared
    // with the query, so the warm can never train under a key the
    // query doesn't read)
    KMeans.embModel(spark, sfDir)
    semDedupModel(spark, sfDir)
    warmSemDedupHier(spark, sfDir)
    knnLayout(spark, sfDir)
    ()
  }

  /** [[annLsh]] served from the on-disk bucketed layout: the probe's
    * scan reads ONE bucket directory — real partition pruning, visible
    * in the plan's file listing, not a full scan plus filter. At corpus
    * scale this is the difference between touching 1/64th of the files
    * and touching all of them. Same results as [[annLsh]].
    */
  def annLshBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val q = queryVec(spark, sfDir)
    val layout = bucketedLayout(spark, sfDir)
    spark.read.parquet(layout)
      .where(col("bucket") === bucketOfVec(q)) // prunes to one partition dir
      .select(col("vec_id"), quantDot(col("embedding"), typedLit(q)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  def annLshBucketedSql: String = annLshSql

  /** Batched ANN lookup — the SERVING shape: a bounded relation of
    * query vectors answered in ONE pass over the standing bucketed
    * layout. Per query: bucket via the shared [[bucketCol]] (so lookup
    * and layout can never disagree), the distinct query buckets
    * collected driver-side (bounded — it is a serving batch) so the
    * layout scan prunes AT THE FILE LISTING, then one broadcast join
    * query×bucket-mates, quantized dot, per-query rank ≤ k
    * (WindowGroupLimit pushes the limit into the rank). Cost scales
    * with |queries| × bucket population, never with corpus size — the
    * shape a 100 TB vector-serving tier actually runs. The streaming
    * twin ([[graft.streaming.StreamingOps.annServeStream]]) applies
    * this per micro-batch.
    */
  def annBatchLookup(spark: SparkSession, sfDir: String,
      queries: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val layout = bucketedLayout(spark, sfDir)
    val qs = queries
      .select(col("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_bucket", bucketCol(col("q_emb")))
    val buckets = qs.select("q_bucket").distinct().collect().map(_.getLong(0))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id"))
    spark.read.parquet(layout)
      .where(col("bucket").isin(buckets: _*)) // listing-level pruning
      .join(broadcast(qs), col("bucket") === col("q_bucket"))
      .select(col("query_id"), col("vec_id"),
        quantDot(col("embedding"), col("q_emb")).as("score"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k).drop("rn")
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
  }

  /** Registered form of [[annBatchLookup]]: three query vectors
    * (vec_id 0, 100, 200) against the standing layout.
    */
  def annBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val queries = table(spark, sfDir, "embeddings")
      .where(col("vec_id").isin(0L, 100L, 200L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    annBatchLookup(spark, sfDir, queries)
  }

  def annBatchSql: String =
    s"""WITH qids(query_id) AS (VALUES (0), (100), (200)),
       |planes AS (SELECT i, j,
       |    (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 14) AS BIGINT) % 2001) - 1000 AS r
       |  FROM range($LshPlanes) t1(i), range(64) t2(j)),
       |dots AS (SELECT e.vec_id, p.i,
       |    sum(CAST(floor(CAST(e.embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT) * p.r) AS d
       |  FROM embeddings e, planes p GROUP BY 1, 2),
       |buckets AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY 1),
       |q AS (SELECT qids.query_id, e.embedding AS q_emb, b.bucket AS q_bucket
       |  FROM qids JOIN embeddings e ON e.vec_id = qids.query_id
       |  JOIN buckets b ON b.vec_id = qids.query_id),
       |scored AS (SELECT q.query_id, e.vec_id,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, q.q_emb),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings e
       |  JOIN buckets b ON b.vec_id = e.vec_id
       |  JOIN q ON b.bucket = q.q_bucket),
       |ranked AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, vec_id, score
       |FROM ranked WHERE rn <= 10
       |ORDER BY query_id, score DESC, vec_id""".stripMargin

  // ----------------------------------------------------------- IVF ANN
  private val IvfCells = 16
  private val IvfProbes = 2

  /** IVF-Flat ANN: a 16-cell coarse quantizer (centroids = the
    * embeddings of vec_id 1..16 — deterministic stand-ins for a k-means
    * training job) assigns every vector to its max-dot cell via a
    * narrow expression; the query probes only its top-[[IvfProbes]]
    * cells. On a cluster the table is written partitioned by cell, so
    * a probe reads 2/16ths of the files — the classic IVF pruning —
    * while the in-cell scan stays the exact quantized dot product.
    */
  /** Coarse-quantizer centroids: the embeddings of vec_id 1..16 —
    * deterministic stand-ins for a k-means training job. Shared by
    * [[annIvf]] and the IVF-PQ layout so both prune with the SAME
    * cell geometry.
    */
  private def ivfCentroids(spark: SparkSession, sfDir: String): Array[(Long, Seq[Float])] =
    table(spark, sfDir, "embeddings")
      .where(col("vec_id").between(1, IvfCells))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0) - 1, r.getSeq[Float](1)))
      .sortBy(_._1)

  private def ivfCellOf(cents: Array[(Long, Seq[Float])])(emb: Column): Column =
    array_min(array(cents.map { case (cid, c) =>
      struct((-quantDot(emb, typedLit(c))).as("nd"), lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** Driver-side twin of [[ivfCellOf]] for the query's probe cells
    * (same integer math, so probe and assignment can never disagree).
    */
  private def ivfQueryCells(cents: Array[(Long, Seq[Float])], q: Seq[Float],
      probes: Int): Seq[Long] = {
    val qQuant = q.map(x => math.floor(x * 1000000d).toLong)
    cents.map { case (cid, c) =>
      val d = c.indices.map(j => qQuant(j) * math.floor(c(j) * 1000000d).toLong).sum
      (cid, d)
    }.sortBy { case (cid, d) => (-d, cid) }.take(probes).map(_._1).toSeq
  }

  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = ivfCentroids(spark, sfDir)
    val q = queryVec(spark, sfDir)
    val qCells = ivfQueryCells(cents, q, IvfProbes)
    table(spark, sfDir, "embeddings")
      .withColumn("cell", ivfCellOf(cents)(col("embedding")))
      .where(col("cell").isin(qCells: _*))
      .select(col("vec_id"), quantDot(col("embedding"), typedLit(q)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  def annIvfSql: String =
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |cent AS (SELECT vec_id - 1 AS cid, embedding AS c
       |  FROM embeddings WHERE vec_id BETWEEN 1 AND $IvfCells),
       |dots AS (SELECT e.vec_id, cent.cid,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, cent.c),
       |      p -> $QDot)) AS BIGINT) AS d
       |  FROM embeddings e, cent),
       |cells AS (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
       |  FROM dots),
       |vc AS (SELECT vec_id, cid FROM cells WHERE rn = 1),
       |qc AS (SELECT cid FROM cells WHERE vec_id = 0 AND rn <= $IvfProbes),
       |scored AS (SELECT e.vec_id,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, q.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings e, q)
       |SELECT s.vec_id, s.score
       |FROM scored s JOIN vc ON vc.vec_id = s.vec_id
       |WHERE vc.cid IN (SELECT cid FROM qc)
       |ORDER BY s.score DESC, s.vec_id LIMIT 10""".stripMargin

  // -------------------------------------------------- product quantization
  private val PqM = 4 // subspaces
  private val PqK = 16 // codes per subspace → 4 bits each, m·4 = 16 bits/vector
  private val PqRerank = 50

  /** PQ-compressed ANN with asymmetric-distance scan + exact re-rank —
    * the storage shape that makes trillion-vector search feasible. The
    * vector column is never scanned at query time: each vector is
    * encoded once into [[PqM]] sub-quantizer codes (k-means per
    * subspace slice, trained by the same exact-integer
    * [[KMeans.fit]]), and the query scans the CODE relation with a
    * driver-built ADC lookup table (dot-product flavor, so the metric
    * matches [[annBruteForce]]); only the ADC top-[[PqRerank]]
    * candidates pay a join back to the true vectors for exact
    * re-ranking. At 100 TB the code relation is ~2 bytes/vector vs
    * 256 bytes of float — the scan is 100× smaller, and the candidate
    * join is Rerank rows, not the corpus. Codebook training is
    * deterministic (min-id init, exact integer sums, one Lloyd pass),
    * so the whole pipeline is reproducible AND oracle-able —
    * [[annIvfPqSql]] replays training, encoding, pruning, ADC scan,
    * and re-rank in DuckDB bit for bit.
    */
  /** Train the PQ codebooks: joint training of ALL subspaces in one
    * init job + one Lloyd pass (same min-id init and exact-integer
    * centroid means as KMeans.fit — four separate fit() calls would
    * pay 4× the job overhead for identical math). Empty cells keep
    * their init centroid, the standard Lloyd fallback. Deterministic,
    * so build and spec replays always agree.
    */
  private def pqTrain(spark: SparkSession, sfDir: String): Array[Array[Array[Double]]] = {
    val base = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).cache()
    val initRows = base.orderBy("vec_id").limit(PqK).collect()
    val initVecs: Array[Array[Double]] =
      initRows.map(_.getSeq[Number](1).map(_.doubleValue).toArray)
    val dim = initVecs(0).length
    require(dim % PqM == 0, s"dim $dim not divisible into $PqM subspaces")
    val span = dim / PqM
    def sub(s: Int): Column = slice(col("embedding"), s * span + 1, span)
    val init: Array[Array[Array[Double]]] = Array.tabulate(PqM)(s =>
      initVecs.map(v => v.slice(s * span, (s + 1) * span)))
    val subCells = array((0 until PqM).map { s =>
      struct(lit(s).as("s"), KMeans.cellOf(sub(s), init(s)).as("cell"),
        sub(s).as("v"))
    }: _*)
    val sums = base
      .select(posexplode(subCells).as(Seq("_i", "sc")))
      .select(col("sc.s").as("s"), col("sc.cell").as("cell"),
        posexplode(col("sc.v")).as(Seq("pos", "x")))
      .groupBy("s", "cell", "pos")
      .agg(sum(quant(col("x"))).as("sm"), count(lit(1)).as("n"))
      .collect()
    val books: Array[Array[Array[Double]]] = init.map(_.map(_.clone()))
    sums.foreach { r =>
      books(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
        r.getLong(3).toDouble / r.getLong(4) / 1e6
    }
    base.unpersist()
    books
  }

  private val IvfPqVersion = 1
  private[graft] val IvfPqDir = s"ivfpq_v$IvfPqVersion"
  private val IvfPqProbes = 6 // coarse cells the PQ probe scans

  /** Build (once per sf dir) the IVF-PQ index: the codes relation
    * (vec_id, c0..c3) partitioned ON DISK by coarse IVF cell, plus the
    * trained codebooks as a small parquet (s, cell, pos, v) beside it.
    * This is the full trillion-vector layout: the probe prunes cell
    * directories at the FILE LISTING, then scans ~2 bytes/vector of
    * codes — the float vectors are touched only by the final re-rank
    * join. Rebuilt when the version bumps or the source parquet is
    * newer than the cached layout.
    */
  /** Encode vectors into (vec_id, c0..c3, cell) code rows with FROZEN
    * codebooks + coarse centroids — the one encoding definition shared
    * by the initial build, [[ivfPqAppend]], and the append-equivalence
    * spec, so incremental and from-scratch encodes cannot drift.
    */
  private def pqEncode(vecs: DataFrame, books: Array[Array[Array[Double]]],
      cents: Array[(Long, Seq[Float])]): DataFrame = {
    val span = books(0)(0).length
    def sub(s: Int): Column = slice(col("embedding"), s * span + 1, span)
    vecs.select(col("vec_id") +:
      (0 until PqM).map(s => KMeans.cellOf(sub(s), books(s)).as(s"c$s")) :+
      ivfCellOf(cents)(col("embedding")).as("cell"): _*)
  }

  /** Build the IVF-PQ index (codes + trained books) at an EXPLICIT
    * path — [[ivfPqLayout]] calls this for the per-sf cached copy;
    * specs call it with a temp dir so append experiments never mutate
    * the shared fixture.
    */
  private[operators] def buildIvfPq(spark: SparkSession, sfDir: String,
      layout: String): Unit = {
    // a rebuild voids a crashed compaction's staging tree (its
    // manifest would otherwise merge old-corpus codes into the fresh
    // layout — the invIndexLayout rebuild discipline) and the
    // tombstones (they hid vectors of the PREVIOUS corpus snapshot;
    // the rebuild follows the source)
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/codes_compacting"))
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/tombstones"))
    val books = pqTrain(spark, sfDir)
    val cents = ivfCentroids(spark, sfDir)
    pqEncode(table(spark, sfDir, "embeddings"), books, cents)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$layout/codes")
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.flatMap { case (c, cell) =>
        c.zipWithIndex.map { case (v, pos) => (s, cell, pos, v) }
      }
    }.toSeq.toDF("s", "cell", "pos", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$layout/books")
  }

  /** Incremental index maintenance — the production path between
    * periodic re-trains: encode NEW vectors with the layout's frozen
    * codebooks/centroids and APPEND their code rows to the existing
    * cell directories. Cost is one encode pass over the new vectors
    * only (the standing codes are untouched — at 100 TB an append of
    * a day's vectors never rewrites the index), and the result is
    * bit-identical to a from-scratch encode of the union with the
    * same books ([[pqEncode]] is the shared definition; the spec pins
    * the equivalence). Re-training (codebook drift after heavy
    * appends) is a rebuild via [[buildIvfPq]], as in any IVF system.
    * Through [[graft.GraftSession.commitAppend]] (`tag` = its tagged
    * form), N appenders may run at once. Caller contract: vec_ids not
    * yet indexed, base layout fresh before appending.
    */
  def ivfPqAppend(spark: SparkSession, sfDir: String, layout: String,
      newVecs: DataFrame, tag: Option[String] = None): Unit = {
    val books = readBooks(spark, layout)
    val cents = ivfCentroids(spark, sfDir)
    graft.GraftSession.commitAppend(layout, tag)(
      s"$layout/codes" ->
        pqEncode(newVecs.select(col("vec_id"), col("embedding")), books, cents)
          .repartition(col("cell")).write.partitionBy("cell"))
  }

  /** Whether a standing IVF-PQ layout exists for `sfDir` (the
    * [[graft.operators.TextQueries.invIndexPresent]] sibling).
    */
  def ivfPqPresent(sfDir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${graft.GraftSession.fixtureRoot(sfDir)}/$IvfPqDir/codes"))

  /** Deletion tombstones standing on the ANN index (hidden, not yet
    * physically deleted — [[ivfPqCompact]] retires them). Direct path
    * read: a review counter must not build a layout.
    */
  def ivfPqPendingForgets(spark: SparkSession, sfDir: String): Long =
    graft.GraftSession.tombstonesIn(spark, java.nio.file.Paths.get(
        s"${graft.GraftSession.fixtureRoot(sfDir)}/$IvfPqDir",
        "tombstones"), "vec_id")
      .map(_.count()).getOrElse(0L)

  /** The radii a knn layout may legally stand at — BOTH are
    * first-class standing layouts ([[graft.pipeline.StandingLayouts]]
    * lists both), so the governance dispatch must loop this list, never
    * the session conf: an operator who switched
    * `spark.graft.knn.probeRadius` between sessions has layouts at
    * both radii, and a forget that only reached the session's radius
    * would leave the OTHER radius serving the forgotten vectors with
    * no pending marker.
    *
    * The APPEND side is deliberately asymmetric: forgets loop this
    * list (privacy is unconditional — a stale layout must still hide
    * its victims), but the append/maintenance path feeds exactly ONE
    * radius — the session's ([[knnAppend]]'s one-writer-by-semantics
    * contract is per layout, and blindly double-appending into a
    * layout whose corpus lineage diverged would violate the
    * "vec_ids not yet indexed" precondition there, corrupting top-k
    * partials instead of merely lagging). With both radii standing,
    * the non-maintained radius therefore accumulates APPEND LAG with
    * no staleness signal of its own (appends don't restamp the seed
    * stamp) — which is why the lag is surfaced per radius:
    * [[knnAppendLagAtRadius]] / `Governance.appendLag` /
    * `GET /forget/lag`. The operator's remedies are to run the
    * maintainer at that radius too, or retire the layout.
    */
  val KnnLegalRadii: Seq[Int] = Seq(1, 2)

  /** Last committed append batch id for the standing layout at
    * `radius`, or −1 when no idempotent append ever committed there —
    * the APPEND-LAG surface (the [[knnPendingForgetsAtRadius]]
    * operational sibling; see the [[KnnLegalRadii]] asymmetry note).
    * Reads the layout's `_LAST_BATCH` marker, which
    * [[knnAppendOnce]] moves atomically after each committed batch;
    * a marker that exists but does not parse fails loudly
    * ([[graft.GraftSession.lastBatchIn]] — a corrupt marker is not
    * "no appends ever").
    */
  def knnAppendLagAtRadius(sfDir: String, radius: Int): Long =
    graft.GraftSession.lastBatchIn(knnLayoutPath(sfDir, radius))

  /** Per-radius forget — the governance-dispatch entrypoint: applies
    * to the STANDING layout at `radius` exactly as it is (a stale
    * layout still serves stale rows, so it still must hide them);
    * never builds or refreshes. [[knnForget]] stays the
    * ensure-then-forget path for the session's own radius.
    */
  def knnForgetAtRadius(spark: SparkSession, sfDir: String, radius: Int,
      ids: Seq[Long]): Long =
    knnForgetAt(spark, knnLayoutPath(sfDir, radius), ids)

  /** Per-radius pending-tombstone count (the [[knnForgetAtRadius]]
    * review sibling).
    */
  def knnPendingForgetsAtRadius(spark: SparkSession, sfDir: String,
      radius: Int): Long =
    graft.GraftSession.tombstonesIn(spark,
        knnTombDir(knnLayoutPath(sfDir, radius)), "vec_id")
      .map(_.count()).getOrElse(0L)

  /** Serve the standing layout at an EXPLICIT radius (the
    * per-radius audit read behind the dual-radius governance specs);
    * never builds.
    */
  def knnGraphAtRadius(spark: SparkSession, sfDir: String,
      radius: Int): DataFrame =
    knnGraphAt(spark, knnLayoutPath(sfDir, radius))

  /** Compaction for the append-maintained codes relation — the
    * [[graft.operators.TextQueries.invIndexCompact]] sibling: every
    * [[ivfPqAppend]] adds one file per touched cell directory; this
    * restores ≤1 file per cell with rows bit-identical (spec-pinned)
    * and the codebooks untouched.
    */
  def ivfPqCompact(spark: SparkSession, sfDir: String): String = {
    val layout = ivfPqLayout(spark, sfDir)
    val tombDir = java.nio.file.Paths.get(s"$layout/tombstones")
    // snapshot-then-retire-consumed: a tombstone staged-moved in
    // during the compaction survives to the next one
    val snap = graft.GraftSession.tombstoneSnapshot(tombDir)
    if (snap.isEmpty)
      graft.GraftSession.compactPartitioned(spark, s"$layout/codes", "cell")
    else {
      // the PRUNED physical half of ivfPqForget: only the coarse
      // cells the victims' code rows live in rewrite (recorded at
      // forget time; ids forgotten while absent re-resolve against
      // the codes now) — delete cost ∝ affected cells, not corpus
      val tomb = graft.GraftSession.tombstonesFrom(spark, snap)
        .localCheckpoint(true) // people-scale
      val tombIds = tomb.select("vec_id").distinct()
      val recorded =
        if (tomb.columns.contains("cell"))
          tomb.where(col("cell").isNotNull).select("cell").distinct()
            .collect().map(_.getInt(0)).toSeq
        else Seq.empty[Int]
      // ALL victims re-resolve against the codes of compaction day
      // (the invIndexCompact rationale: recorded cells cover rows as
      // of the forget; a contract-violating later append of a
      // tombstoned id must not leave servable rows behind a retired
      // tombstone) — one pushed-down people-scale id scan
      val ids = tombIds.collect().map(_.getLong(0)).toSeq
      val late = graft.GraftSession.filterIdIn(
        spark.read.parquet(s"$layout/codes"), "vec_id", ids) // pushed-down
        .select("cell").distinct().collect().map(_.getInt(0)).toSeq
      val dirty = (recorded ++ late).distinct.map(c => s"cell=$c").toSet
      if (dirty.nonEmpty)
        graft.GraftSession.compactSnapshotPruned(spark, s"$layout/codes",
          dirty, (df, staged) => df
            .join(broadcast(tombIds), Seq("vec_id"), "left_anti")
            .repartition(col("cell"))
            .write.partitionBy("cell").mode("overwrite").parquet(staged))
      graft.GraftSession.retireTombstones(tombDir, snap)
    }
    layout
  }

  private def ivfPqTombstones(spark: SparkSession,
      layout: String): Option[DataFrame] =
    graft.GraftSession.tombstonesIn(spark,
      java.nio.file.Paths.get(layout, "tombstones"), "vec_id")

  /** Deletion propagation INTO the standing IVF-PQ index — the ANN
    * serving tier's [[graft.operators.TextQueries.invIndexForget]]
    * sibling: a forgotten vector must stop being RETRIEVABLE. The ids
    * append to `<layout>/tombstones`; the probe's candidate read
    * ([[annIvfPqAt]]) applies the bounded broadcast anti-join BEFORE
    * the ADC ranking (a victim must not occupy a rerank slot, let
    * alone a result row), and the next [[ivfPqCompact]] applies the
    * delete physically. The frozen codebooks/centroids stay: they are
    * trained AGGREGATES over the old corpus, not per-vector rows — a
    * regime that requires erasing a vector's influence on the trained
    * quantizer rebuilds via [[buildIvfPq]] from the purged source,
    * exactly the documented re-train path. Idempotent: an
    * already-tombstoned id contributes nothing to the returned count
    * and is never re-appended. Returns the number of vectors newly
    * hidden.
    */
  def ivfPqForget(spark: SparkSession, sfDir: String,
      ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "forget request carries no ids")
    val layout = ivfPqLayout(spark, sfDir)
    import spark.implicits._
    val standing = graft.GraftSession.filterIdIn(
      spark.read.parquet(s"$layout/codes"), "vec_id", ids)
      .select("vec_id", "cell").distinct().localCheckpoint(true)
    val fresh = ivfPqTombstones(spark, layout)
      .fold(standing.select("vec_id"))(t =>
        standing.select("vec_id").join(broadcast(t), Seq("vec_id"), "left_anti"))
    val dn = fresh.distinct().count()
    if (dn > 0) {
      // staged + moved (no `_temporary` in the live dir): legal beside
      // the live codes maintenance stream; concurrent forgets with
      // distinct cohorts get distinct claim tags. Rows carry the
      // victims' coarse CELL (null when absent from the index) — the
      // pruned compaction's dirty-partition list.
      graft.GraftSession.commitAppend(layout,
        Some(graft.GraftSession.forgetTag(ids)), "forget")(
        s"$layout/tombstones" -> ids.distinct.toDF("vec_id")
          .join(standing, Seq("vec_id"), "left").coalesce(1).write)
    }
    dn
  }

  /** Registered forget-propagation gate for the ANN index: on the
    * shared fixture COPY, the `q_forget` cohort (`vec_id % 97 == 0`)
    * is forgotten through [[ivfPqForget]] and the probe served from
    * the TOMBSTONED layout — which must equal the oracle's replay
    * with the same filter applied at the same place (candidate
    * selection; training replays over the FULL corpus exactly like
    * the frozen on-disk books). The cohort includes vec_id 0 — the
    * fixture's query vector — which is the sharper test: the query
    * is an external input and keeps working, but the vector itself
    * must vanish from the result (it was rank 1 by self-similarity).
    */
  def forgetAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.GraftSession.forgetFixtureDir(spark, sfDir)
    val ids = table(spark, dir, "embeddings")
      .where(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    ivfPqForget(spark, dir, ids)
    annIvfPq(spark, dir)
  }

  def forgetAnnSql: String = annIvfPqSqlOver("c.vec_id % 97 <> 0")

  private[operators] def ivfPqLayout(spark: SparkSession, sfDir: String): String = {
    val layout = s"${graft.GraftSession.fixtureRoot(sfDir)}/$IvfPqDir"
    val codesOk = new java.io.File(s"$layout/codes/_SUCCESS")
    val booksOk = new java.io.File(s"$layout/books/_SUCCESS")
    val src = new java.io.File(s"$sfDir/embeddings.parquet")
    val stale = src.exists() && codesOk.exists() &&
      src.lastModified() > codesOk.lastModified()
    if (!codesOk.exists() || !booksOk.exists() || stale)
      buildIvfPq(spark, sfDir, layout)
    layout
  }

  private def readBooks(spark: SparkSession, layout: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$layout/books").collect() // m·k·span rows, bounded
    // by NAME, not position: the on-disk (s, cell, pos, v) order is
    // not a contract — a reorder must fail loudly, never silently
    // transpose codebook axes
    val span = rows.map(_.getAs[Int]("pos")).max + 1
    val books = Array.fill(PqM, PqK, span)(0d)
    rows.foreach(r => books(r.getAs[Int]("s"))(r.getAs[Int]("cell"))(
      r.getAs[Int]("pos")) = r.getAs[Double]("v"))
    books
  }

  /** IVF-PQ probe over the on-disk index built by [[ivfPqLayout]]:
    * prune to the query's [[IvfPqProbes]] coarse cells (partition
    * directories — visible as PartitionFilters in the plan), ADC-scan
    * ONLY the code columns with a driver-built lookup table
    * (dot-product flavor, matching [[annBruteForce]]'s metric), then
    * re-rank the top-[[PqRerank]] candidates against the true vectors.
    * At 100 TB the probe reads 6/16ths of a ~2 byte/vector relation
    * and joins [[PqRerank]] rows back — never a full float scan.
    * Codebook training is deterministic (min-id init, exact integer
    * sums, one Lloyd pass), so [[annIvfPqSql]] replays the whole
    * pipeline in DuckDB; the spec additionally pins determinism, the
    * pruned + codes-only plan shape, and recall against the exact
    * scan.
    */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = table(spark, sfDir, "embeddings")
    annIvfPqAt(spark, sfDir, ivfPqLayout(spark, sfDir), vecs)
  }

  /** The probe against an EXPLICIT layout and vector relation (the
    * cached per-sf copy + source table for [[annIvfPq]]; an appended
    * temp copy + grown corpus for the maintenance path — index codes
    * and true vectors append TOGETHER in production, and the exact
    * re-rank must read the same corpus the codes index).
    */
  private[operators] def annIvfPqAt(spark: SparkSession, sfDir: String,
      layout: String, vecs: DataFrame): DataFrame = {
    val books = readBooks(spark, layout)
    val span = books(0)(0).length
    val cents = ivfCentroids(spark, sfDir)
    val q = queryVec(spark, sfDir)
    val qCells = ivfQueryCells(cents, q, IvfPqProbes)
    // driver-side ADC table: exact-integer dot of the query slice with
    // every sub-centroid (m×k longs)
    val qQuant = q.map(x => math.floor(x * 1000000d).toLong)
    val adcTab: IndexedSeq[Seq[Long]] = (0 until PqM).map { s =>
      books(s).toSeq.map { c =>
        c.indices.map(j => qQuant(s * span + j) * math.floor(c(j) * 1000000d).toLong).sum
      }
    }
    val adc = (0 until PqM).map(s =>
      element_at(typedLit(adcTab(s)), col(s"c$s").cast("int") + 1)).reduce(_ + _)
    // candidates materialize eagerly (PqRerank rows) so nothing from
    // the probe plan is pinned across calls; deletion tombstones,
    // when present, drop BEFORE the ADC ranking (a victim must not
    // occupy a rerank slot) — the cell filter still prunes partition
    // dirs (it pushes below the anti-join's probe side)
    val codes0 = spark.read.parquet(s"$layout/codes")
      .where(col("cell").isin(qCells: _*)) // prunes partition dirs
    val codes = ivfPqTombstones(spark, layout)
      .fold(codes0)(t =>
        codes0.join(broadcast(t), Seq("vec_id"), "left_anti"))
    val cand = codes
      .select(col("vec_id"), adc.as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(PqRerank)
      .localCheckpoint(true)
    // exact re-rank: only the ADC candidates touch true vectors
    vecs.join(broadcast(cand), "vec_id")
      .select(col("vec_id"),
        quantDot(col("embedding"), typedLit(q)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  /** DuckDB replay of the ENTIRE IVF-PQ pipeline — training included.
    * Feasible because [[pqTrain]] is a single Lloyd pass: min-id init,
    * integer-exact assignment and sums, and a two-step IEEE double
    * division (sm/n/1e6) for the refined centroids — every step is a
    * deterministic sequence of exactly-rounded ops both engines share,
    * so codebooks, codes, the ADC table, candidate set, and the final
    * re-rank all agree bit for bit (verified at sf0.001/0.01/0.1).
    * Closes the last `no_oracle` gap from round 7.
    */
  def annIvfPqSql: String = annIvfPqSqlOver("TRUE")

  /** The IVF-PQ oracle with a serving-side filter (`c` = the codes
    * row) — `TRUE` for the plain probe; the forget gate passes the
    * cohort exclusion, mirroring exactly where the Spark side applies
    * its tombstone anti-join (candidate selection; the training CTEs
    * stay unfiltered like the frozen on-disk books).
    */
  private def annIvfPqSqlOver(serveFilter: String): String = {
    val qd2 = "(CAST(floor(CAST(p[1] AS DOUBLE)*1000000) AS BIGINT) - CAST(floor(p[2]*1000000) AS BIGINT))" +
      " * (CAST(floor(CAST(p[1] AS DOUBLE)*1000000) AS BIGINT) - CAST(floor(p[2]*1000000) AS BIGINT))"
    val span = 16 // 64 dims / PqM subspaces
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |cent AS (SELECT vec_id - 1 AS cid, embedding AS c
       |  FROM embeddings WHERE vec_id BETWEEN 1 AND $IvfCells),
       |cdots AS (SELECT e.vec_id, cent.cid,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, cent.c), p -> $QDot)) AS BIGINT) AS d
       |  FROM embeddings e, cent),
       |crank AS (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
       |  FROM cdots),
       |vcell AS (SELECT vec_id, cid FROM crank WHERE rn = 1),
       |qcells AS (SELECT cid FROM crank WHERE vec_id = 0 AND rn <= $IvfPqProbes),
       |ini AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
       |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $PqK)),
       |inib AS (SELECT s.s, i.cell,
       |    list_transform(list_slice(i.embedding, s.s*$span + 1, s.s*$span + $span),
       |      x -> CAST(x AS DOUBLE)) AS cv
       |  FROM ini i, range($PqM) s(s)),
       |asg0 AS (SELECT v.vec_id, b.s, b.cell,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(v.embedding, b.s*$span + 1, b.s*$span + $span), b.cv),
       |      p -> $qd2)) AS BIGINT) AS d
       |  FROM embeddings v, inib b),
       |asgr AS (SELECT vec_id, s, cell,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cell) AS rn FROM asg0),
       |vassign AS (SELECT vec_id, s, cell FROM asgr WHERE rn = 1),
       |sums AS (SELECT a.s, a.cell, p.pos,
       |    sum(CAST(floor(CAST(v.embedding[a.s*$span + p.pos + 1] AS DOUBLE)*1000000) AS BIGINT)) AS sm,
       |    count(*) AS n
       |  FROM vassign a JOIN embeddings v USING (vec_id), range($span) p(pos)
       |  GROUP BY 1, 2, 3),
       |bookr AS (SELECT b.s, b.cell, p.pos,
       |    COALESCE(CAST(s2.sm AS DOUBLE)/CAST(s2.n AS DOUBLE)/1000000, b.cv[p.pos + 1]) AS c
       |  FROM inib b CROSS JOIN range($span) p(pos)
       |  LEFT JOIN sums s2 ON s2.s = b.s AND s2.cell = b.cell AND s2.pos = p.pos),
       |books AS (SELECT s, cell, list(c ORDER BY pos) AS cv FROM bookr GROUP BY 1, 2),
       |casg AS (SELECT v.vec_id, b.s, b.cell,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(v.embedding, b.s*$span + 1, b.s*$span + $span), b.cv),
       |      p -> $qd2)) AS BIGINT) AS d
       |  FROM embeddings v, books b),
       |casgr AS (SELECT vec_id, s, cell,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cell) AS rn FROM casg),
       |vcodes AS (SELECT vec_id, s, cell FROM casgr WHERE rn = 1),
       |adct AS (SELECT b.s, b.cell,
       |    CAST(list_sum(list_transform(
       |      list_zip(list_slice(q.embedding, b.s*$span + 1, b.s*$span + $span), b.cv),
       |      p -> CAST(floor(CAST(p[1] AS DOUBLE)*1000000) AS BIGINT)
       |         * CAST(floor(p[2]*1000000) AS BIGINT))) AS BIGINT) AS t
       |  FROM books b, q),
       |adc AS (SELECT c.vec_id, sum(t.t) AS adc
       |  FROM vcodes c JOIN adct t ON c.s = t.s AND c.cell = t.cell
       |  JOIN vcell vc ON vc.vec_id = c.vec_id
       |  WHERE vc.cid IN (SELECT cid FROM qcells) AND ($serveFilter)
       |  GROUP BY 1),
       |cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT $PqRerank),
       |scored AS (SELECT e.vec_id,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, q.embedding), p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings e JOIN cand USING (vec_id), q)
       |SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  // ------------------------------------------------------- SemDeDup
  /** Mean-cell-population target: k = max(8, ⌈n / target⌉), so cells
    * stay bounded as the corpus grows (the paper's k ≈ 10⁴–10⁵ at
    * web scale IS this rule: ~10⁹ docs / ~10⁴ per cell). The scale
    * contract lives in the signature, not a comment — a fixed k would
    * make the within-cell pair join quadratic in corpus size.
    */
  private[operators] val SemDedupCellTarget = 2048L
  private[operators] def semDedupK(n: Long): Int =
    math.max(8L, math.ceil(n.toDouble / SemDedupCellTarget).toLong).toInt
  private val SemDedupIters = 4
  private val SemDedupTau = 0.95

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space with k-means, then find near-identical pairs ONLY
    * within each cluster and drop the pair member closer to the
    * cluster centroid (keeping the farther one preserves the cluster's
    * boundary diversity — the paper's keep-far policy). The clustering
    * is what makes semantic dedup tractable: candidate pairs are
    * per-cell, never corpus-wide, and at production scale k grows with
    * the corpus so cell populations stay bounded (the paper uses
    * k ≈ 10⁴–10⁵; the within-cell pair scan is the same
    * blocked-quadratic shape as [[embedDedup]]'s LSH buckets, with the
    * quantizer as the blocking function instead of random planes).
    *
    * SCALE CAVEAT — this flat form is the small-SF audit shape, not
    * the 100 TB path: with k ∝ n, every Lloyd pass and the per-query
    * assignment is O(n·k) = O(n²/target) — measured quadratic past the
    * 8× fold (1.97→10.08→16.68 s at 4×/8×/16×, SCALING_PROBE_r12).
    * Production corpora run [[semDedupHier]] (registered as
    * `q_semdedup_hier`): the identical verdict semantics on a
    * two-level √k × √k quantizer, cutting train+assign to n·√k.
    *
    * Fully deterministic and oracle-replayable: training is
    * [[KMeans.fit]] (min-id init, integer sums), assignment and
    * centroid similarity are exact quantized integer dots, and the
    * cosine uses the [[annCosine]] recipe — identical IEEE ops both
    * engines. The corpus has no natural near-dups (max same-label
    * cosine ≈ 0.47), so the query plants exact copies under shifted
    * IDs, which the operator must pair with cosine 1 and resolve by
    * the tie rule (drop the higher id).
    */
  /** The planted corpus, its derived k, and the (cached) trained
    * quantizer — ONE construction shared by [[semDedup]] and
    * [[warmLayouts]], so the warm cannot train under a key the query
    * doesn't read. k ∝ corpus (one cheap count of the narrow base
    * relation — the planted union is exactly 2× it); the layout is
    * keyed by (tag, k, iters), so the dominant training cost is paid
    * once per corpus, not per query.
    */
  private def semDedupModel(spark: SparkSession,
      sfDir: String): (DataFrame, KMeans.Model) = {
    val base = table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val planted = base.unionByName(
      base.withColumn("vec_id", col("vec_id") + 100000))
    val k = semDedupK(2L * base.count())
    (planted, KMeans.fitCached(spark, sfDir, planted, "vec_id", "embedding",
      k = k, iters = SemDedupIters, tag = "semdedup"))
  }

  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val (planted, m) = semDedupModel(spark, sfDir)
    // per-vector: cell, squared norm, and dot with the OWN cell's
    // centroid — one narrow pass, materialized ONCE (localCheckpoint,
    // the winnowPairs candidate discipline) because both pair sides
    // read it and an unmaterialized plan would re-run assignment per
    // side; the pair join itself returns lazily so its plan shape
    // stays auditable
    val cd = element_at(
      array(m.centroids.map(c =>
        quantDot(col("embedding"), typedLit(c.toSeq))): _*),
      col("cell").cast("int") + 1)
    val e = planted
      .select(col("vec_id"), col("embedding"),
        KMeans.cellOf(col("embedding"), m.centroids).cast("long").as("cell"),
        quantDot(col("embedding"), col("embedding")).as("nrm"))
      .withColumn("cdot", cd)
      .localCheckpoint(true)
    e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0d)).otherwise(
          quantDot(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double"))))
          .as("cosine"),
        // keep-far: drop the member MORE similar to the centroid;
        // exact ties (planted copies) drop the higher id
        when(col("a.cdot") > col("b.cdot"), col("a.vec_id"))
          .when(col("a.cdot") < col("b.cdot"), col("b.vec_id"))
          .otherwise(greatest(col("a.vec_id"), col("b.vec_id"))).as("drop_id"))
      .where(col("cosine") >= SemDedupTau)
      .orderBy("vec_a", "vec_b")
  }

  def semDedupSql: String = {
    // quantized dot of a FLOAT vector against a DOUBLE centroid list
    val qdotMixed = "CAST(floor(CAST(p[1] AS DOUBLE)*1000000) AS BIGINT) * CAST(floor(p[2]*1000000) AS BIGINT)"
    s"""WITH planted AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings),
       |${KMeans.lloydCte("planted",
          s"greatest(8, CAST(ceil(CAST((SELECT count(*) FROM planted) AS DOUBLE)" +
            s" / $SemDedupCellTarget) AS BIGINT))",
          SemDedupIters, 64)},
       |asgn AS (SELECT vec_id, cell FROM fr WHERE rn = 1),
       |e AS (SELECT v.vec_id, a.cell, v.embedding,
       |    CAST(list_sum(list_transform(list_zip(v.embedding, v.embedding), p -> $QDot)) AS BIGINT) AS nrm,
       |    CAST(list_sum(list_transform(list_zip(v.embedding, c.cv), p -> $qdotMixed)) AS BIGINT) AS cdot
       |  FROM planted v
       |  JOIN asgn a ON a.vec_id = v.vec_id
       |  JOIN c$SemDedupIters c ON c.cell = a.cell),
       |pairs AS (SELECT x.cell, x.vec_id AS vec_a, y.vec_id AS vec_b,
       |    CASE WHEN x.nrm = 0 OR y.nrm = 0 THEN 0.0
       |         ELSE CAST(CAST(list_sum(list_transform(list_zip(x.embedding, y.embedding), p -> $QDot)) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))) END AS cosine,
       |    CASE WHEN x.cdot > y.cdot THEN x.vec_id
       |         WHEN x.cdot < y.cdot THEN y.vec_id
       |         ELSE greatest(x.vec_id, y.vec_id) END AS drop_id
       |  FROM e x JOIN e y ON x.cell = y.cell AND x.vec_id < y.vec_id)
       |SELECT cell, vec_a, vec_b, cosine, drop_id FROM pairs
       |WHERE cosine >= $SemDedupTau ORDER BY vec_a, vec_b""".stripMargin
  }

  // ----------------------------------------- SemDeDup, two-level form
  /** The hierarchy's shape: k_total fine cells split as
    * k_c = ⌈√k_total⌉ coarse × k_f = ⌈k_total/k_c⌉ fine per coarse —
    * k_c·k_f ≥ k_total cells, each level ≈ √k_total centroids wide.
    */
  private[operators] def semDedupHierKs(n: Long): (Int, Int) = {
    val kt = semDedupK(n)
    val kc = math.ceil(math.sqrt(kt.toDouble)).toInt
    val kf = math.ceil(kt.toDouble / kc).toInt
    (kc, kf)
  }

  /** The 100 TB form of [[semDedup]] — SAME verdict semantics (within-
    * cell cosine ≥ τ pairs, keep-far drop policy), sub-quadratic plan.
    * [[semDedup]]'s flat k ∝ n rule keeps cells bounded but makes
    * every Lloyd training pass and the per-query assignment O(n·k) =
    * O(n²/target) — measured 1.97→10.08→16.68 s across 4×/8×/16× folds
    * (SCALING_PROBE_r12.json). This variant splits the quantizer in
    * two levels (the IVF-PQ coarse/fine shape): a k_c = ⌈√k⌉ coarse
    * quantizer over the corpus, then an independent k_f = ⌈k/k_c⌉-cell
    * fine quantizer per coarse cell ([[KMeans.fitGrouped]] — ONE
    * distributed job per iteration, all groups at once), so train and
    * assignment cost n·(k_c + k_f) ≈ 2n√k instead of n·k. A vector's
    * cell is the (coarse, fine) pair; mean cell population honors the
    * same n/k_total ≤ target bound, so the within-cell pair join stays
    * blocked-quadratic.
    *
    * The centroid-similarity for the keep-far rule needs NO extra dot
    * pass: the fine argmin already carries d = |q−c|², and
    * 2·(q·c) = |q|² + |c|² − |q−c|² exactly in the quantized integer
    * space — cdot derives from nrm, the per-cell |c|² constant, and d.
    * Deterministic end to end (min-id inits, integer sums, IEEE-exact
    * divisions), so [[semDedupHierSql]] replays BOTH Lloyd levels in
    * DuckDB bit for bit. On the planted corpus the verdicts equal the
    * flat form's exactly (identical vectors share any quantizer's
    * cell; spec-pinned parity), with cell ids renamed to
    * coarse·k_f + fine.
    */
  private def semDedupHierModel(spark: SparkSession, sfDir: String):
      (DataFrame, KMeans.Model, Array[Array[Array[Double]]], Int, Int) = {
    val base = table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val planted = base.unionByName(
      base.withColumn("vec_id", col("vec_id") + 100000))
    val (kc, kf) = semDedupHierKs(2L * base.count())
    val coarse = KMeans.fitCached(spark, sfDir, planted, "vec_id", "embedding",
      k = kc, iters = SemDedupIters, tag = "semdedup_coarse")
    val fine = KMeans.fitGroupedCached(spark, sfDir,
      planted.withColumn("g",
        KMeans.cellOf(col("embedding"), coarse.centroids)),
      "vec_id", "embedding", "g", nGroups = kc, kPerGroup = kf,
      iters = SemDedupIters, tag = "semdedup_fine")
    (planted, coarse, fine, kc, kf)
  }

  private[operators] def warmSemDedupHier(spark: SparkSession, sfDir: String): Unit = {
    semDedupHierModel(spark, sfDir)
    ()
  }

  def semDedupHier(spark: SparkSession, sfDir: String): DataFrame = {
    val (planted, coarse, fine, _, kf) = semDedupHierModel(spark, sfDir)
    // per-fine-cell quantized |c|² constants, flattened with per-group
    // offsets (groups are ragged) — driver-side longs, broadcast as
    // literals into the narrow pass
    val qfine = fine.map(_.map(_.map(x => math.floor(x * 1000000d).toLong)))
    val csqFlat: Seq[Long] = qfine.toSeq.flatMap(_.map(c => c.map(x => x * x).sum))
    val offsets: Seq[Long] = qfine.scanLeft(0L)((acc, g) => acc + g.length).init.toSeq
    val e = planted
      .withColumn("ccell",
        KMeans.cellOf(col("embedding"), coarse.centroids))
      .withColumn("fs", graft.functions.QDistArgmin
        .qdistArgminGrouped(col("embedding"), col("ccell"), fine))
      .select(col("vec_id"), col("embedding"),
        col("ccell").cast("long").as("ccell"),
        col("fs").getField("cid").cast("long").as("fcell"),
        col("fs").getField("d").as("fd"),
        quantDot(col("embedding"), col("embedding")).as("nrm"))
      .withColumn("csq", element_at(typedLit(csqFlat),
        (element_at(typedLit(offsets), col("ccell").cast("int") + 1)
          + col("fcell")).cast("int") + 1))
      // exact integer identity: 2·(q·c) = |q|² + |c|² − |q−c|², every
      // term quantized the same way — the sum is even, div is exact
      .withColumn("cdot", expr("(nrm + csq - fd) div 2"))
      .localCheckpoint(true) // both pair sides read it (the semDedup discipline)
    e.as("a").join(e.as("b"),
        col("a.ccell") === col("b.ccell") && col("a.fcell") === col("b.fcell") &&
          col("a.vec_id") < col("b.vec_id"))
      .select((col("a.ccell") * kf + col("a.fcell")).as("cell"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0d)).otherwise(
          quantDot(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double"))))
          .as("cosine"),
        when(col("a.cdot") > col("b.cdot"), col("a.vec_id"))
          .when(col("a.cdot") < col("b.cdot"), col("b.vec_id"))
          .otherwise(greatest(col("a.vec_id"), col("b.vec_id"))).as("drop_id"))
      .where(col("cosine") >= SemDedupTau)
      .orderBy("vec_a", "vec_b")
  }

  /** DuckDB replay of the ENTIRE two-level pipeline — both Lloyd
    * levels included: the coarse chain is [[KMeans.lloydCte]] with
    * k_c, the fine chain is [[KMeans.lloydGroupedCte]] partitioned by
    * the final coarse assignment, and cdot is the DIRECT fine-centroid
    * dot (integer-identical to the Scala side's |q|²+|c|²−d identity).
    */
  def semDedupHierSql: String = {
    val qdotMixed = "CAST(floor(CAST(p[1] AS DOUBLE)*1000000) AS BIGINT) * CAST(floor(p[2]*1000000) AS BIGINT)"
    val kcSql = "(SELECT kc FROM ks)"
    val kfSql = "(SELECT kf FROM ks)"
    // MATERIALIZED on every multiply-referenced relation: DuckDB 1.0
    // INLINES plain CTEs, and the fine chain references the coarse
    // chain per iteration — inlined, the plan tree (and the
    // optimizer's time) grows exponentially in the iteration count
    s"""WITH planted AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings),
       |kt AS (SELECT greatest(8, CAST(ceil(CAST((SELECT count(*) FROM planted) AS DOUBLE)
       |    / $SemDedupCellTarget) AS BIGINT)) AS kt),
       |ks AS MATERIALIZED (SELECT kt, CAST(ceil(sqrt(CAST(kt AS DOUBLE))) AS BIGINT) AS kc,
       |    CAST(ceil(CAST(kt AS DOUBLE)
       |      / CAST(ceil(sqrt(CAST(kt AS DOUBLE))) AS BIGINT)) AS BIGINT) AS kf
       |  FROM kt),
       |${KMeans.lloydCte("planted", kcSql, SemDedupIters, 64)},
       |ca AS MATERIALIZED (SELECT vec_id, cell AS ccell FROM fr WHERE rn = 1),
       |${KMeans.lloydGroupedCte("planted", "ca", kfSql, SemDedupIters, 64)},
       |fasgn AS (SELECT vec_id, ccell, fcell FROM ffr WHERE rn = 1),
       |e AS MATERIALIZED (SELECT v.vec_id, a.ccell, a.fcell, v.embedding,
       |    CAST(list_sum(list_transform(list_zip(v.embedding, v.embedding), p -> $QDot)) AS BIGINT) AS nrm,
       |    CAST(list_sum(list_transform(list_zip(v.embedding, c.cv), p -> $qdotMixed)) AS BIGINT) AS cdot
       |  FROM planted v
       |  JOIN fasgn a ON a.vec_id = v.vec_id
       |  JOIN f$SemDedupIters c ON c.ccell = a.ccell AND c.fcell = a.fcell),
       |pairs AS (SELECT x.ccell * $kfSql + x.fcell AS cell,
       |    x.vec_id AS vec_a, y.vec_id AS vec_b,
       |    CASE WHEN x.nrm = 0 OR y.nrm = 0 THEN 0.0
       |         ELSE CAST(CAST(list_sum(list_transform(list_zip(x.embedding, y.embedding), p -> $QDot)) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))) END AS cosine,
       |    CASE WHEN x.cdot > y.cdot THEN x.vec_id
       |         WHEN x.cdot < y.cdot THEN y.vec_id
       |         ELSE greatest(x.vec_id, y.vec_id) END AS drop_id
       |  FROM e x JOIN e y ON x.ccell = y.ccell AND x.fcell = y.fcell
       |    AND x.vec_id < y.vec_id)
       |SELECT cell, vec_a, vec_b, cosine, drop_id FROM pairs
       |WHERE cosine >= $SemDedupTau ORDER BY vec_a, vec_b""".stripMargin
  }

  // ------------------------------------------- embedding-cosine dedup
  /** Near-dup pairs by embedding cosine ≥ 0.95, blocked by
    * (label, LSH bucket) with MULTI-PROBE radius 1: one side explodes
    * into its own bucket plus the 6 one-bit flips, so candidate pairs
    * may differ in up to one sign-projection bit — a near-dup that
    * drifted across a single hyperplane is still recalled (the
    * single-probe version missed exactly those). Still an equi-join on
    * (label, probe): the 7× candidate fanout is linear, never the
    * quadratic all-pairs join, and exact duplicates always share a
    * bucket so recall on true dups stays 1.0.
    *
    * The corpus has no natural near-dups (max same-label cosine ≈
    * 0.47), so the query plants exact copies under shifted IDs — the
    * operator must recover exactly those 1:1 pairs.
    */
  def embedDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = table(spark, sfDir, "embeddings").select("vec_id", "label", "embedding")
    val planted = base.unionByName(base.withColumn("vec_id", col("vec_id") + 100000))
    // bucket + norm computed ONCE and cached: `e` feeds both sides of
    // the candidate join, and without the cache Catalyst re-evaluates
    // the 6-plane bucket projection per side (the join blocks common
    // subexpression reuse across its children)
    val e = planted
      .select(col("vec_id"), col("label"), col("embedding"),
        quantDot(col("embedding"), col("embedding")).as("nrm"),
        bucketCol(col("embedding")).as("bucket"))
      .cache()
    // probe set = own bucket + one-bit flips (distinct values, so each
    // candidate pair is produced exactly once)
    val probeCols = col("bucket") +:
      (0 until LshPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i)))
    val probes = e.select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
      explode(array(probeCols: _*)).as("probe"))
    val pairs = probes.as("a").join(e.as("b"),
      col("a.label") === col("b.label") && col("a.probe") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
    val scored = pairs
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (quantDot(col("a.embedding"), col("b.embedding")).cast("double") /
          (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double"))))
          .as("cosine"))
      .where(col("cosine") >= 0.95)
      .orderBy("vec_a", "vec_b")
    // materialize the (small) pair set, then release the bucketed side
    val out = scored.localCheckpoint(true)
    e.unpersist(false)
    out
  }

  def embedDedupSql: String =
    s"""WITH planted AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, label, embedding FROM embeddings),
       |planes AS (SELECT i, j,
       |    (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 14) AS BIGINT) % 2001) - 1000 AS r
       |  FROM range($LshPlanes) t1(i), range(64) t2(j)),
       |dots AS (SELECT v.vec_id, p.i,
       |    sum(CAST(floor(CAST(v.embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT) * p.r) AS d
       |  FROM planted v, planes p GROUP BY 1, 2),
       |buckets AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY 1),
       |e AS (SELECT v.vec_id, v.label, v.embedding, bk.bucket,
       |    CAST(list_sum(list_transform(v.embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT))) AS BIGINT) AS nrm
       |  FROM planted v JOIN buckets bk ON bk.vec_id = v.vec_id),
       |scored AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> $QDot)) AS BIGINT) AS DOUBLE)
       |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cosine
       |  FROM e a JOIN e b
       |    ON a.label = b.label AND bit_count(xor(a.bucket, b.bucket)) <= 1
       |      AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM scored
       |WHERE cosine >= 0.95 ORDER BY vec_a, vec_b""".stripMargin

  // --------------------------------------------------- k-NN graph
  private[operators] val KnnK = 5
  private[operators] val KnnBucketTarget = 1024L

  /** The recall/cost knob of the knn tier's multi-probe LSH blocking:
    * probe every bucket within hamming ≤ radius of a vector's own —
    * radius 1 is 1+p probes (the default; natural-corpus edge recall
    * ≈0.24–0.27 on near-random vectors, structural 1.0 on planted
    * duplicates), radius 2 adds the C(p,2) two-bit flips (measured
    * recall/candidate-cost table in SCALING.md §"Honesty number").
    * A REAL conf, not prose: read at build time, STAMPED into the
    * layout (path suffix + meta row) exactly like [[CoreQueries
    * .SketchLgK]] — a radius change orphans the old layout and
    * appends always encode at the layout's own radius, never the
    * ambient conf's. The registered oracles replay the DEFAULT; at a
    * non-default radius the scan/serve parity specs are the gate.
    */
  private[graft] val KnnProbeRadiusKey = "spark.graft.knn.probeRadius"
  private[graft] val KnnProbeRadiusDefault = 1

  private[graft] def knnProbeRadius(spark: SparkSession): Int = {
    val r = spark.conf.get(KnnProbeRadiusKey,
      KnnProbeRadiusDefault.toString).toInt
    require(r == 1 || r == 2,
      s"$KnnProbeRadiusKey must be 1 or 2, got $r")
    r
  }

  /** XOR masks of the probe ring at `radius` over `p` planes: the own
    * bucket, the p one-bit flips, and (radius 2) the C(p,2) two-bit
    * flips — ONE mask recipe shared by candidate generation and the
    * append's affectedness test (hamming ≤ r is symmetric, so "old
    * vector whose bucket lies in the batch's ring" is exact).
    */
  private def probeMasks(p: Int, radius: Int): Seq[Long] =
    (Seq(0L) ++ (0 until p).map(i => 1L << i) ++
      (if (radius >= 2)
        for { i <- 0 until p; j <- (i + 1) until p }
          yield (1L << i) | (1L << j)
      else Seq.empty[Long]))

  private def probeColsFor(p: Int, radius: Int): Seq[Column] =
    probeMasks(p, radius).map(m => col("bucket").bitwiseXOR(lit(m)))

  /** Plane count for the knn graph's blocking: the smallest p ≥ 6 with
    * 2^p buckets ≥ ⌈n/target⌉ — mean bucket population stays ≤ target
    * however large the corpus (the [[semDedupK]] scale-contract-in-
    * the-signature rule applied to LSH: a FIXED plane count would make
    * the per-bucket candidate join quadratic in corpus size). Pure
    * integer derivation (no libm log whose rounding could differ
    * between engines); the oracle replays it as a `min(p) WHERE
    * (1 << p) >= cells` scan over a bounded range.
    */
  private[operators] def knnPlanes(n: Long): Int = {
    val cells = math.max(1L, (n + KnnBucketTarget - 1) / KnnBucketTarget)
    (6 to 30).find(p => (1L << p) >= cells).getOrElse(30)
  }

  /** k-NN GRAPH over the corpus — every vector's top-[[KnnK]] most
    * similar neighbors by quantized dot, the similarity-graph
    * primitive under graph-based curation (SemDeDup-graph,
    * NN-descent seeding, diversity/coverage sampling, duplicate
    * clustering). Exact all-pairs is O(n²); candidates here come from
    * sign-LSH blocking with MULTI-PROBE radius 1 (own bucket + the p
    * one-bit flips — the [[embedDedup]] recall shape: a neighbor that
    * drifted across one hyperplane is still found), so each directed
    * candidate set is the vector's bucket neighborhood, never the
    * corpus. The plane count DERIVES from the corpus ([[knnPlanes]]):
    * mean bucket population stays ≤ [[KnnBucketTarget]], so candidate
    * cost is ≈ n·(p+1)·target — linear in n with a log-n probe
    * fanout — and the per-vector top-k is the bounded
    * [[graft.functions.TopKPairs]] aggregate: k pairs of state per
    * vector, combined map-side, so the exchange carries ≤ k rows per
    * vector and — unlike the rank-window formulation, whose partial
    * WindowGroupLimit still SORTS every candidate row per partition —
    * no candidate-stream sort exists anywhere in the plan (that sort,
    * and its spill, was the measured dominant cost past ~10⁸
    * candidates). The standard LSH tradeoff applies:
    * more planes = tighter buckets = recall shifts onto the
    * multi-probe ring; exact duplicates always share a bucket, so
    * recall on true dups stays 1.0 at any p.
    *
    * Deterministic and fully oracle-replayable: md5-seeded integer
    * hyperplanes (the [[planesFor]] family — the first 6 planes ARE
    * the standing layout's), exact integer dots, lowest-id tie rule.
    */
  /** Scoped session for the knn tier: the raised ObjectHashAggregate
    * fallback threshold keeps the bounded ~100-byte [[graft.functions
    * .TopKPairsAgg]] buffers in hash mode at high group cardinality
    * WITHOUT weakening the memory bound anywhere else — the 128-entry
    * default is the OOM protection for unbounded object buffers
    * (collect_set shingle sets, position lists), so the conf lives on
    * a child session the knn DataFrames are built (and therefore
    * executed) under, never on the caller's.
    */
  private def knnSession(spark: SparkSession, nVectors: Long): SparkSession = {
    val s = spark.newSession()
    // sized from the corpus, not a fixed constant: a partition can
    // never hold more distinct vec_id groups than the corpus has
    // vectors, so threshold ≥ n makes the no-sort guarantee
    // STRUCTURAL rather than conf-bounded (past a fixed 500k the
    // aggregate would silently revert to sort-based mode and the
    // candidate-stream sort this tier exists to avoid would be back).
    // The memory this authorizes is the hash map's true state —
    // (groups actually present per partition) × ~100 B bounded
    // buffers — which is the cost of hash aggregation itself, not an
    // unbounded buffer growing with candidate count.
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      math.max(500000L, nVectors).toString)
    s
  }

  /** ONE candidate generation for the knn tier ([[knnGraph]] and
    * [[knnOutliers]] — a probe-ring change lands in exactly one
    * place): the checkpointed (vec_id, embedding, bucket, nrm)
    * relation plus the multi-probe ring pairs self-joined on it
    * (aliases `a`/`b`, both sides carrying id, embedding, nrm).
    */
  private def knnRing(parent: SparkSession, sfDir: String,
      radius: Int = KnnProbeRadiusDefault): (DataFrame, DataFrame) = {
    val n = table(parent, sfDir, "embeddings").count()
    // the scoped session's hash-agg threshold derives from n — the
    // DataFrames below are BUILT under it so the knn aggregates
    // execute with the structural no-sort bound
    val spark = knnSession(parent, n)
    val base = table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val p = knnPlanes(n)
    val pl = planesFor(p)
    // bucket + norm computed ONCE and materialized: both join sides
    // read them, and an unmaterialized plan would re-evaluate the
    // p-plane projection per side (the embedDedup discipline)
    val e = base
      .select(col("vec_id"), col("embedding"),
        bucketColFor(pl)(col("embedding")).as("bucket"),
        quantDot(col("embedding"), col("embedding")).as("nrm"))
      .localCheckpoint(true)
    val probes = e.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array(probeColsFor(p, radius): _*)).as("probe"))
    val pairs = probes.as("a").join(e.as("b"),
      col("a.probe") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
    (e, pairs)
  }

  /** The [[knnRing]] SQL twin — shared prologue of both knn oracles:
    * derived plane count, md5 planes, per-vector buckets.
    */
  private def knnRingCtes: String =
    s"""n AS (SELECT count(*) AS n FROM embeddings),
       |np AS (SELECT coalesce((SELECT min(p) FROM range(6, 31) r(p)
       |    WHERE (CAST(1 AS BIGINT) << p) >=
       |      greatest(1, (n + $KnnBucketTarget - 1) // $KnnBucketTarget)), 30) AS p
       |  FROM n),
       |planes AS (SELECT i, j,
       |    (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 14) AS BIGINT) % 2001) - 1000 AS r
       |  FROM range(30) t1(i), range(64) t2(j)
       |  WHERE i < (SELECT p FROM np)),
       |dots AS (SELECT e.vec_id, p.i,
       |    sum(CAST(floor(CAST(e.embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT) * p.r) AS d
       |  FROM embeddings e, planes p GROUP BY 1, 2),
       |buckets AS MATERIALIZED (SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY 1)""".stripMargin

  def knnGraph(spark: SparkSession, sfDir: String): DataFrame =
    knnGraphScan(spark, sfDir, knnProbeRadius(spark))

  private[graft] def knnGraphScan(spark: SparkSession, sfDir: String,
      radius: Int): DataFrame = {
    val (_, pairs) = knnRing(spark, sfDir, radius)
    pairs
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        quantDot(col("a.embedding"), col("b.embedding")).as("score"))
      // malformed-embedding candidates (a NULL quantized dot: length
      // mismatch or null element) are EXCLUDED by contract — explicit
      // here, `WHERE score IS NOT NULL` in the oracle, so both engines
      // agree instead of relying on rank-vs-heap NULL placement
      .where(col("score").isNotNull)
      // scores stay exact through the double heap: quantized dots are
      // ≤ 2.6e14, far under 2⁵³
      .groupBy("vec_id")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("score").cast("double"), col("neighbor_id")).as("nbrs"))
      .select(col("vec_id"), posexplode(col("nbrs")).as(Seq("pos", "nb")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("nb.id").as("neighbor_id"), col("nb.score").cast("long").as("score"))
      .orderBy("vec_id", "rank")
  }

  def knnGraphSql(radius: Int = KnnProbeRadiusDefault): String =
    knnGraphSqlOver(radius, "TRUE")

  /** The graph oracle with a serving-side pair filter (`a`/`b` = the
    * two embeddings rows) — `TRUE` for the plain graph; the forget
    * gate passes the cohort exclusion on BOTH endpoints, mirroring
    * the tombstone anti-joins. The plane-derivation CTE stays over
    * the FULL corpus, matching the layout's frozen build-time count.
    */
  private def knnGraphSqlOver(radius: Int, pairFilter: String): String =
    s"""WITH $knnRingCtes,
       |scored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings a JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id
       |  WHERE $pairFilter),
       |ranked AS (SELECT vec_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored WHERE score IS NOT NULL)
       |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, score
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY vec_id, rank""".stripMargin

  /** SEMANTIC decontamination audit — the embedding-level complement
    * of the n-gram `q_decontaminate` family: n-gram overlap catches
    * verbatim eval-set leakage, this catches PARAPHRASE-level leakage
    * (an eval item rewritten, re-punctuated or translated shares no
    * 13-gram but sits next to its source in embedding space). The
    * held-out fold is [[TextQueries.evalSplit]]'s own convention
    * (md5-bucket 9 = "test") applied to vec_id, so the audit and the
    * split can't drift apart; for every held-out vector the single
    * most-similar RETAINED-corpus vector within its LSH probe ring
    * (same derived plane count, same [[probeMasks]] recipe and
    * `probeRadius` conf as the knn graph — candidate cost is ring
    * economics, linear in corpus size), with the [[knnOutliers]]
    * sentinel pair (-1, -2.0) when the ring holds no retained
    * candidate — an empty ring means "nothing even near", which IS
    * the audit's answer for that item. Deliberately reports the
    * whole top-1 curve instead of baking in a τ: a release decides
    * its contamination threshold FROM this audit (on this
    * near-random corpus every cosine is < 0.5; a real corpus shows a
    * bimodal curve whose upper mode is the leakage). Cosines are the
    * engine-exact recipe (integer dots, IEEE sqrt/divide).
    */
  def decontaminateSemantic(spark: SparkSession, sfDir: String): DataFrame =
    decontaminateSemanticScan(spark, sfDir, knnProbeRadius(spark))

  private[graft] def decontaminateSemanticScan(spark: SparkSession,
      sfDir: String, radius: Int): DataFrame = {
    val n = table(spark, sfDir, "embeddings").count()
    val p = knnPlanes(n)
    val pl = planesFor(p)
    val fold = conv(substring(md5(col("vec_id").cast("string")
      .cast("binary")), 1, 4), 16, 10).cast("long") % 10
    // bucket + norm + fold computed ONCE and materialized (both join
    // sides read them — the knnRing discipline)
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        bucketColFor(pl)(col("embedding")).as("bucket"),
        quantDot(col("embedding"), col("embedding")).as("nrm"),
        (fold === 9).as("is_eval"))
      .localCheckpoint(true)
    val evalSide = e.where(col("is_eval"))
    val corpus = e.where(!col("is_eval"))
    val probes = evalSide.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array(probeColsFor(p, radius): _*)).as("probe"))
    val top1 = probes.as("a")
      .join(corpus.as("b"), col("a.probe") === col("b.bucket"))
      .select(col("a.vec_id").as("eval_id"), col("b.vec_id").as("match_id"),
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0d)).otherwise(
          quantDot(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.nrm").cast("double")) *
              sqrt(col("b.nrm").cast("double")))).as("cosine"))
      .where(col("cosine").isNotNull)
      .groupBy("eval_id")
      .agg(graft.functions.TopKPairs.topK(1,
        col("cosine"), col("match_id")).as("nbrs"))
      .select(col("eval_id"),
        element_at(col("nbrs"), 1).getField("id").as("match_id"),
        element_at(col("nbrs"), 1).getField("score").as("cosine"))
    evalSide.select(col("vec_id").as("eval_id"))
      .join(top1, Seq("eval_id"), "left_outer")
      .select(col("eval_id"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("cosine"), lit(-2d)).as("cosine"))
      .orderBy("eval_id")
  }

  def decontaminateSemanticSql(radius: Int = KnnProbeRadiusDefault): String =
    s"""WITH $knnRingCtes,
       |f AS (SELECT vec_id,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT)
       |      % 10 = 9 AS is_eval
       |  FROM embeddings),
       |nrm AS MATERIALIZED (SELECT vec_id,
       |    CAST(list_sum(list_transform(list_zip(embedding, embedding),
       |      p -> $QDot)) AS BIGINT) AS nrm
       |  FROM embeddings),
       |scored AS (SELECT a.vec_id AS eval_id, b.vec_id AS match_id,
       |    CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |         ELSE CAST(list_sum(list_transform(
       |             list_zip(a.embedding, b.embedding), p -> $QDot)) AS DOUBLE)
       |           / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
       |    END AS cosine
       |  FROM embeddings a JOIN f fa ON fa.vec_id = a.vec_id AND fa.is_eval
       |  JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN f fb ON fb.vec_id = bb.vec_id AND NOT fb.is_eval
       |  JOIN embeddings b ON b.vec_id = bb.vec_id
       |  JOIN nrm na ON na.vec_id = a.vec_id
       |  JOIN nrm nb ON nb.vec_id = b.vec_id),
       |ranked AS (SELECT eval_id, match_id, cosine,
       |    row_number() OVER (PARTITION BY eval_id
       |      ORDER BY cosine DESC, match_id) AS rk
       |  FROM scored WHERE cosine IS NOT NULL)
       |SELECT f.vec_id AS eval_id,
       |  CAST(coalesce(r.match_id, -1) AS BIGINT) AS match_id,
       |  CAST(coalesce(r.cosine, -2.0) AS DOUBLE) AS cosine
       |FROM f LEFT JOIN ranked r ON r.eval_id = f.vec_id AND r.rk = 1
       |WHERE f.is_eval ORDER BY eval_id""".stripMargin

  /** Embedding PREFLIGHT health audit — the check a pipeline runs
    * before building any index over a new embedding drop: NULL
    * vectors, NULL elements, non-finite elements (an encoder that
    * NaN'd silently poisons every downstream cosine), zero-norm
    * vectors (undefined direction — the ANN/knn tiers score them 0 by
    * contract, but a SPIKE of them is an encoder bug), and dimension
    * drift (min/max length — a mixed-dim drop breaks the quantized
    * dot's zip contract, which is exactly the malformed-row case the
    * similarity tier's score-null filters exclude). One row, pure
    * narrow aggregation at scan speed — no shuffle beyond the final
    * single-row combine; norms ride the same integer quantization as
    * every similarity op, so the bounds are engine-exact.
    */
  def embeddingHealth(spark: SparkSession, sfDir: String): DataFrame = {
    val e = table(spark, sfDir, "embeddings")
    val nonfinite = exists(col("embedding"), x =>
      isnan(x) || x === lit(Float.PositiveInfinity) ||
        x === lit(Float.NegativeInfinity))
    val nullElem = exists(col("embedding"), x => x.isNull)
    val nrm = quantDot(col("embedding"), col("embedding"))
    e.agg(
      count(lit(1)).as("n_vectors"),
      count(when(col("embedding").isNull, 1)).as("n_null_vec"),
      count(when(nullElem, 1)).as("n_null_elem"),
      count(when(nonfinite, 1)).as("n_nonfinite"),
      count(when(nrm === 0, 1)).as("n_zero_norm"),
      min(size(col("embedding"))).cast("long").as("dim_min"),
      max(size(col("embedding"))).cast("long").as("dim_max"),
      min(nrm).as("norm_q_min"),
      max(nrm).as("norm_q_max"))
  }

  def embeddingHealthSql: String =
    s"""WITH e AS (SELECT embedding,
       |    list_bool_or(list_transform(embedding, x -> x IS NULL)) AS null_elem,
       |    list_bool_or(list_transform(embedding,
       |      x -> isnan(x) OR isinf(x))) AS nonfinite,
       |    CAST(list_sum(list_transform(list_zip(embedding, embedding),
       |      p -> $QDot)) AS BIGINT) AS nrm,
       |    len(embedding) AS dim
       |  FROM embeddings)
       |SELECT count(*) AS n_vectors,
       |  count(CASE WHEN embedding IS NULL THEN 1 END) AS n_null_vec,
       |  count(CASE WHEN null_elem THEN 1 END) AS n_null_elem,
       |  count(CASE WHEN nonfinite THEN 1 END) AS n_nonfinite,
       |  count(CASE WHEN nrm = 0 THEN 1 END) AS n_zero_norm,
       |  CAST(min(dim) AS BIGINT) AS dim_min,
       |  CAST(max(dim) AS BIGINT) AS dim_max,
       |  CAST(min(nrm) AS BIGINT) AS norm_q_min,
       |  CAST(max(nrm) AS BIGINT) AS norm_q_max
       |FROM e""".stripMargin

  // ------------------------------------ eval-set firewall (the guard)
  /** Contamination threshold of [[evalGuardFor]]: an incoming vector
    * whose max cosine against the eval reference is ≥ τ is diverted.
    * A serve-time knob (the verdict recomputes per batch against a
    * FIXED reference — nothing on disk encodes τ), so changing it
    * never orphans the layout.
    */
  private[graft] val DecontamTauKey = "spark.graft.decontam.tau"
  private[graft] val DecontamTauDefault = 0.999

  private[graft] def decontamTau(spark: SparkSession): Double = {
    val t = spark.conf.get(DecontamTauKey, DecontamTauDefault.toString).toDouble
    require(t > 0d && t <= 1d, s"$DecontamTauKey must be in (0,1], got $t")
    t
  }

  private[graft] val EvalRefDir = "evalref_v1"

  def evalRefPath(sfDir: String): String =
    s"${graft.GraftSession.fixtureRoot(sfDir)}/$EvalRefDir"

  /** Standing EVAL-REFERENCE layout: the held-out fold's vectors with
    * bucket + norm at a plane count derived from the EVAL count (the
    * [[knnPlanes]] rule sized to the reference side — mean eval-bucket
    * population stays ≤ target however large the eval registry, so the
    * guard's per-incoming-vector candidate cost is ring economics
    * against the reference, never a reference rescan). The plane count
    * is STAMPED in meta — incoming batches encode at the layout's p.
    * Unlike the knn graph the reference is FIXED by design (incoming
    * training data never joins the eval set — that is the point of the
    * firewall), so there is no append path and the probe radius stays
    * a pure serve-time knob (buckets on disk don't depend on it).
    */
  /** The eval set a reference (re)build reads: an explicit eval
    * release parquet when one was registered ([[evalRefRebuild]]'s
    * `_EVAL_SOURCE` record), else the corpus' held-out md5-fold (the
    * self-contained default the registered oracles replay).
    */
  private def evalRefSourcePath(sfDir: String): String = {
    // the REGISTRATION file (outside the layout tree) is the
    // authority: it survives the rebuild verb's swap window, so a
    // crash between "live tree deleted" and "staged tree moved in"
    // still re-derives from the REGISTERED release, never silently
    // from the held-out-fold default (the firewall verdicts would be
    // computed against the wrong eval set with no error). The
    // in-layout _EVAL_SOURCE stays as self-description + fallback for
    // layouts installed before the registration file existed.
    val reg = evalRefRegistration(sfDir)
    if (java.nio.file.Files.exists(reg))
      java.nio.file.Files.readString(reg).trim
    else {
      val rec = java.nio.file.Paths.get(evalRefPath(sfDir), "_EVAL_SOURCE")
      if (java.nio.file.Files.exists(rec))
        java.nio.file.Files.readString(rec).trim
      else s"$sfDir/embeddings.parquet"
    }
  }

  /** Where the registered eval-release path persists ACROSS the
    * rebuild swap — a fixture-root sibling of the layout, never
    * inside the tree [[evalRefRebuild]] replaces. Absent = the
    * held-out-fold default.
    */
  private def evalRefRegistration(sfDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      s"${graft.GraftSession.fixtureRoot(sfDir)}/evalref_source")

  private def evalSetFrom(spark: SparkSession, sfDir: String,
      src: String): DataFrame =
    if (src == s"$sfDir/embeddings.parquet") {
      val fold = conv(substring(md5(col("vec_id").cast("string")
        .cast("binary")), 1, 4), 16, 10).cast("long") % 10
      spark.read.parquet(src).where(fold === 9)
        .select("vec_id", "embedding")
    } else spark.read.parquet(src).select("vec_id", "embedding")

  /** ONE reference-build body shared by the ensure path and the
    * rebuild verb, so the encode recipe cannot drift between them.
    */
  private def buildEvalRefInto(spark: SparkSession, eval: DataFrame,
      layout: String): Unit = {
    val nE = eval.count()
    val p = knnPlanes(nE)
    val pl = planesFor(p)
    eval.select(col("vec_id"), col("embedding"),
      bucketColFor(pl)(col("embedding")).as("bucket"),
      quantDot(col("embedding"), col("embedding")).as("nrm"))
      .coalesce(1) // eval registries are small by nature
      .write.mode("overwrite").parquet(s"$layout/vecs")
    import spark.implicits._
    Seq((p, nE)).toDF("p", "n_eval").coalesce(1)
      .write.mode("overwrite").parquet(s"$layout/meta")
  }

  private[operators] def evalRefLayout(spark: SparkSession,
      sfDir: String): String = {
    val layout = evalRefPath(sfDir)
    // staleness follows the layout's OWN eval source: the default
    // fold-of-corpus reference tracks the corpus table, a registered
    // eval release tracks its release parquet — a content change in
    // either re-derives on the next guard read
    val src = evalRefSourcePath(sfDir)
    graft.GraftSession.ensureLayout(spark, layout, src) {
      buildEvalRefInto(spark, evalSetFrom(spark, sfDir, src), layout)
    }
    layout
  }

  /** EVAL-RELEASE lifecycle verb (`Ctl evalref-rebuild`): rebuild the
    * standing reference from a NEW eval release — `evalSrc` = a
    * (vec_id, embedding) parquet, or None to return to the
    * held-out-fold default. Builds into a dot-prefixed staging
    * sibling first and swaps whole (guard reads never see a
    * half-built reference; the plane count restamps from the NEW eval
    * size), records the release path so subsequent staleness checks
    * follow the release file, and re-stamps the ensure marker — the
    * old tree is REPLACED in place, so there is no superseded
    * generation for the GC to carry.
    */
  def evalRefRebuild(spark: SparkSession, sfDir: String,
      evalSrc: Option[String] = None): String = {
    val layout = evalRefPath(sfDir)
    val src = evalSrc.getOrElse(s"$sfDir/embeddings.parquet")
    val staged = java.nio.file.Paths.get(
      s"${graft.GraftSession.fixtureRoot(sfDir)}/.evalref_rebuild_stage")
    java.nio.file.Files.createDirectories(staged.getParent)
    graft.GraftSession.claimStage(staged,
      "an evalref rebuild") // refuse-loudly beside a concurrent rebuild
    try {
      // stamp captured BEFORE the build (ensureLayout's documented
      // stamp-before-build discipline): a release parquet rewritten
      // MID-build must read stale on the next guard check — stamping
      // after would put the NEW stamp on a tree built from the OLD
      // content, freezing the stale reference as fresh
      val srcStamp = graft.GraftSession.pathStamp(spark, src)
      buildEvalRefInto(spark, evalSetFrom(spark, sfDir, src),
        staged.toString)
      evalSrc.foreach(s => java.nio.file.Files.writeString(
        staged.resolve("_EVAL_SOURCE"), s))
      java.nio.file.Files.writeString(staged.resolve("_GRAFT_STAMP"),
        srcStamp.toString)
    } catch {
      // a failed BUILD self-heals (live tree untouched, nothing
      // escaped the stage); only the swap window below leaves the
      // claim for the operator
      case e: Throwable => graft.GraftSession.deleteRec(staged); throw e
    }
    // the swap-durable eval-source REGISTRATION lands before the
    // swap: a hard crash inside the swap window below leaves no live
    // tree, and the self-healing re-derivation must follow the
    // operator's registered intent — the release on install, the
    // default on return — not whatever _EVAL_SOURCE the destroyed
    // tree used to carry. Atomic move so a torn write can't stand.
    val reg = evalRefRegistration(sfDir)
    evalSrc match {
      case Some(s) =>
        val tmp = reg.resolveSibling(reg.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, s)
        java.nio.file.Files.move(tmp, reg,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case None => java.nio.file.Files.deleteIfExists(reg)
    }
    val live = java.nio.file.Paths.get(layout)
    graft.GraftSession.deleteRec(live)
    // a hard crash RIGHT HERE leaves no live tree and a complete
    // stage: the next guard read self-heals by re-deriving via the
    // ensure path FROM THE REGISTRATION above, and the kept claim
    // makes the next rebuild verb refuse loudly (delete-to-retry)
    java.nio.file.Files.move(staged, live)
    layout
  }

  /** The eval-set FIREWALL verdict — enforcement form of the
    * [[decontaminateSemantic]] audit, direction reversed for ingest:
    * the audit asks "which held-out items does the CORPUS already
    * leak"; the guard asks, per INCOMING batch, "which arriving
    * training rows are near-copies of the eval set" and diverts them
    * before they pollute a release (the eval firewall every serious
    * training pipeline runs at ingest). Every batch row comes back
    * with its top-1 eval match within the probe ring (the audit's
    * sentinel convention for empty rings) and a `contaminated`
    * verdict at [[decontamTau]]. Candidates are a bucket equi-join
    * against the standing reference — batch·ring bounded, reference
    * never rescanned, broadcast left to the optimizer (real parquet
    * size stats; an unusually large registry shuffles instead of
    * blowing a forced broadcast). Batch contract: `vec_id`
    * unique within the batch, `embedding` present; other columns
    * ride through untouched.
    */
  private[graft] def evalGuardFor(spark: SparkSession, sfDir: String,
      batch: DataFrame): DataFrame = {
    val layout = evalRefLayout(spark, sfDir)
    val p = spark.read.parquet(s"$layout/meta")
      .select("p").collect()(0).getInt(0)
    val tau = decontamTau(spark)
    val radius = knnProbeRadius(spark)
    val ev = spark.read.parquet(s"$layout/vecs")
    val pl = planesFor(p)
    val inc = batch
      .withColumn("bucket", bucketColFor(pl)(col("embedding")))
      .withColumn("nrm",
        quantDot(col("embedding"), col("embedding")))
      .localCheckpoint(true) // batch-bounded
    val probes = inc.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array(probeColsFor(p, radius): _*)).as("probe"))
    // bucket equi-join, NO forced broadcast: typical eval registries
    // auto-broadcast (the reference is a freshly-scanned parquet with
    // real size stats), but the registry is not bounded by
    // construction — a huge one must be allowed to shuffle; either
    // way the candidate set is batch·ring bounded
    val top1 = probes.as("a")
      .join(ev.as("b"), col("a.probe") === col("b.bucket"))
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("match_vec_id"),
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0d)).otherwise(
          quantDot(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.nrm").cast("double")) *
              sqrt(col("b.nrm").cast("double")))).as("cosine"))
      .where(col("cosine").isNotNull)
      .groupBy("vec_id")
      .agg(graft.functions.TopKPairs.topK(1,
        col("cosine"), col("match_vec_id")).as("nbrs"))
      .select(col("vec_id"),
        element_at(col("nbrs"), 1).getField("id").as("match_vec_id"),
        element_at(col("nbrs"), 1).getField("score").as("cosine"))
    inc.drop("bucket", "nrm")
      .join(top1, Seq("vec_id"), "left_outer")
      .withColumn("match_vec_id", coalesce(col("match_vec_id"), lit(-1L)))
      .withColumn("cosine", coalesce(col("cosine"), lit(-2d)))
      .withColumn("contaminated", col("cosine") >= tau)
  }

  /** Registered probe of the guard: a deterministic synthetic batch —
    * exact copies of the 10 lowest-id EVAL vectors (the leakage the
    * firewall exists to stop) plus copies of the 20 lowest-id RETAINED
    * vectors (ordinary training traffic) — pushed through
    * [[evalGuardFor]]. The eval copies must come back `contaminated`
    * matched to their sources at cosine ~1; the retained copies pass
    * (their eval-ring top-1 is a near-random cosine or the sentinel).
    */
  def evalGuard(spark: SparkSession, sfDir: String): DataFrame = {
    val fold = conv(substring(md5(col("vec_id").cast("string")
      .cast("binary")), 1, 4), 16, 10).cast("long") % 10
    val emb = table(spark, sfDir, "embeddings")
    val evalSrc = emb.where(fold === 9).orderBy("vec_id").limit(10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val cleanSrc = emb.where(fold =!= 9).orderBy("vec_id").limit(20)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    evalGuardFor(spark, sfDir, evalSrc.unionByName(cleanSrc))
      .select(col("vec_id"), col("match_vec_id"), col("cosine"),
        col("contaminated"))
      .orderBy("vec_id")
  }

  def evalGuardSql(radius: Int = KnnProbeRadiusDefault,
      tau: Double = DecontamTauDefault): String =
    s"""WITH f AS (SELECT vec_id, embedding,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT)
       |      % 10 = 9 AS is_eval
       |  FROM embeddings),
       |npe AS (SELECT coalesce((SELECT min(p) FROM range(6, 31) r(p)
       |    WHERE (CAST(1 AS BIGINT) << p) >=
       |      greatest(1, (n + $KnnBucketTarget - 1) // $KnnBucketTarget)), 30) AS p
       |  FROM (SELECT count(*) AS n FROM f WHERE is_eval)),
       |planes AS (SELECT i, j,
       |    (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 14) AS BIGINT) % 2001) - 1000 AS r
       |  FROM range(30) t1(i), range(64) t2(j)
       |  WHERE i < (SELECT p FROM npe)),
       |batch AS (SELECT vec_id + 1000000 AS vec_id, embedding FROM
       |    (SELECT vec_id, embedding FROM f WHERE is_eval
       |     ORDER BY vec_id LIMIT 10)
       |  UNION ALL SELECT vec_id + 2000000, embedding FROM
       |    (SELECT vec_id, embedding FROM f WHERE NOT is_eval
       |     ORDER BY vec_id LIMIT 20)),
       |evref AS (SELECT vec_id, embedding FROM f WHERE is_eval),
       |bdots AS (SELECT e.vec_id, p.i,
       |    sum(CAST(floor(CAST(e.embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT) * p.r) AS d
       |  FROM batch e, planes p GROUP BY 1, 2),
       |bbuckets AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM bdots GROUP BY 1),
       |edots AS (SELECT e.vec_id, p.i,
       |    sum(CAST(floor(CAST(e.embedding[p.j + 1] AS DOUBLE) * 1000000) AS BIGINT) * p.r) AS d
       |  FROM evref e, planes p GROUP BY 1, 2),
       |ebuckets AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM edots GROUP BY 1),
       |bnrm AS (SELECT vec_id,
       |    CAST(list_sum(list_transform(list_zip(embedding, embedding),
       |      p -> $QDot)) AS BIGINT) AS nrm FROM batch),
       |enrm AS (SELECT vec_id,
       |    CAST(list_sum(list_transform(list_zip(embedding, embedding),
       |      p -> $QDot)) AS BIGINT) AS nrm FROM evref),
       |scored AS (SELECT a.vec_id, b.vec_id AS match_vec_id,
       |    CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |         ELSE CAST(list_sum(list_transform(
       |             list_zip(a.embedding, b.embedding), p -> $QDot)) AS DOUBLE)
       |           / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
       |    END AS cosine
       |  FROM batch a JOIN bbuckets ba ON ba.vec_id = a.vec_id
       |  JOIN ebuckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN evref b ON b.vec_id = bb.vec_id
       |  JOIN bnrm na ON na.vec_id = a.vec_id
       |  JOIN enrm nb ON nb.vec_id = b.vec_id),
       |ranked AS (SELECT vec_id, match_vec_id, cosine,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cosine DESC, match_vec_id) AS rk
       |  FROM scored WHERE cosine IS NOT NULL)
       |SELECT b.vec_id,
       |  CAST(coalesce(r.match_vec_id, -1) AS BIGINT) AS match_vec_id,
       |  CAST(coalesce(r.cosine, -2.0) AS DOUBLE) AS cosine,
       |  coalesce(r.cosine, -2.0) >= $tau AS contaminated
       |FROM batch b LEFT JOIN ranked r ON r.vec_id = b.vec_id AND r.rk = 1
       |ORDER BY b.vec_id""".stripMargin

  /** Bounded audit set of [[knnRecall]]: the exact side scores
    * `|audit| · n` dots — LINEAR in corpus size with a fixed audit
    * width, the only shape an exact-vs-approx audit can have at
    * 100 TB (an uncapped exact pass is O(n²) by definition). At the
    * test SFs the cap covers every vector, so the registered number
    * IS the whole-corpus recall.
    */
  private val KnnRecallCap = 4096L

  /** The knn graph's measured RECALL, driver-gated — the honesty
    * number SCALING.md publishes (its recall/cost table, "Honesty
    * number: knn-graph edge recall"), re-derived identically in both
    * engines: per audit vector (vec_id < [[KnnRecallCap]]) the EXACT
    * top-[[KnnK]] neighbors by quantized dot (same NULL-exclusion
    * contract and (score desc, id asc) tie rule as the graph), intersected with the ring-blocked
    * top-k at probe radius 1 AND 2 — one row per radius with
    * integer-exact recall in ppm, so the recall/cost curve the
    * `probeRadius` conf buys is pinned by the oracle, not only by a
    * committed probe artifact. Exact side: the bounded audit set
    * broadcast against the corpus (nested-loop by construction — no
    * shuffle), scored once; ring side: [[knnGraphScan]] per radius.
    * On this near-random corpus the expected bands are ≈0.24/0.55
    * (radius 1/2); planted-duplicate recall is structural 1.0 and
    * spec-pinned separately.
    */
  def knnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val audit = emb.where(col("vec_id") < KnnRecallCap)
    val exact = broadcast(audit).as("a")
      .join(emb.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        quantDot(col("a.embedding"), col("b.embedding")).as("score"))
      .where(col("score").isNotNull)
      .groupBy("vec_id")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("score").cast("double"), col("neighbor_id")).as("nbrs"))
      .select(col("vec_id"), explode(col("nbrs")).as("nb"))
      .select(col("vec_id"), col("nb.id").as("neighbor_id"))
      .localCheckpoint(true) // audit-bounded: ≤ cap·k rows
    val exactEdges = exact.count()
    val rows = Seq(1, 2).map { r =>
      val hits = knnGraphScan(spark, sfDir, r)
        .where(col("vec_id") < KnnRecallCap)
        .select("vec_id", "neighbor_id")
        .join(exact, Seq("vec_id", "neighbor_id"))
        .count()
      val ppm = if (exactEdges == 0) 0L else 1000000L * hits / exactEdges
      (r.toLong, exactEdges, hits, ppm)
    }
    import spark.implicits._
    rows.toDF("radius", "exact_edges", "hit_edges", "recall_ppm")
      .orderBy("radius")
  }

  def knnRecallSql: String =
    s"""WITH $knnRingCtes,
       |aud AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id < $KnnRecallCap),
       |exact_scored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM aud a JOIN embeddings b ON b.vec_id <> a.vec_id),
       |exact_ranked AS (SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, neighbor_id) AS rank
       |  FROM exact_scored WHERE score IS NOT NULL),
       |exact_edges AS MATERIALIZED (SELECT vec_id, neighbor_id
       |  FROM exact_ranked WHERE rank <= $KnnK),
       |ring_scored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    bit_count(xor(ba.bucket, bb.bucket)) AS dist,
       |    CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings a JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= 2
       |  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < $KnnRecallCap),
       |per_radius AS (SELECT r.radius, s.vec_id, s.neighbor_id,
       |    row_number() OVER (PARTITION BY r.radius, s.vec_id
       |      ORDER BY s.score DESC, s.neighbor_id) AS rank
       |  FROM (VALUES (1), (2)) r(radius) JOIN ring_scored s
       |    ON s.dist <= r.radius
       |  WHERE s.score IS NOT NULL),
       |tot AS (SELECT count(*) AS t FROM exact_edges),
       |hits AS (SELECT p.radius, count(*) AS h
       |  FROM per_radius p JOIN exact_edges e
       |    ON e.vec_id = p.vec_id AND e.neighbor_id = p.neighbor_id
       |  WHERE p.rank <= $KnnK GROUP BY 1)
       |SELECT CAST(radius AS BIGINT) AS radius,
       |  CAST(t AS BIGINT) AS exact_edges, CAST(h AS BIGINT) AS hit_edges,
       |  CAST(CASE WHEN t = 0 THEN 0 ELSE (1000000 * h) // t END AS BIGINT)
       |    AS recall_ppm
       |FROM hits, tot ORDER BY radius""".stripMargin

  /** Embedding-space OUTLIER detection — the k-th-nearest-neighbor
    * distance score (classic kNN outlier factor, cosine flavor): a
    * document whose 5th-closest neighbor is still far is off the data
    * manifold — encoder junk, corrupted input, or genuinely novel
    * content a curation pass wants a human to see. Reported as the
    * 20 LOWEST 5th-neighbor cosines (most isolated first). Same
    * blocked candidate generation as [[knnGraph]] (corpus-derived
    * plane count, multi-probe ring), so the score is the k-th cosine
    * WITHIN the probe ring; a vector with fewer than k ring candidates
    * is more isolated still and scores the −2.0 sentinel, ranking
    * ahead of any true cosine — on the LSH geometry, an
    * under-populated ring IS the outlier signal. Cosine via the
    * [[annCosine]] recipe (exact integer dots, IEEE sqrt/divide —
    * bit-identical across engines; zero-norm scores 0).
    */
  def knnOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, pairs) = knnRing(spark, sfDir, knnProbeRadius(spark))
    knnOutliersFrom(e, pairs)
  }

  /** The outlier verdict math given a ring relation `e` (vec_id, …,
    * nrm) and its candidate pairs (aliases a/b) — ONE definition
    * shared by the scan twin ([[knnOutliers]]) and the layout-served
    * form ([[knnOutliersIndexed]]).
    */
  private def knnOutliersFrom(e: DataFrame, pairs: DataFrame): DataFrame = {
    // the k-th cosine via the SAME bounded top-k aggregate as
    // [[knnGraph]] (no candidate-stream sort); a ring with fewer than
    // k candidates scores the sentinel inline. NULL cosines (malformed
    // embeddings) excluded by the shared contract.
    val kth = pairs
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0d)).otherwise(
          quantDot(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double"))))
          .as("cosine"))
      .where(col("cosine").isNotNull)
      .groupBy("vec_id")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("cosine"), col("neighbor_id")).as("nbrs"))
      .select(col("vec_id"),
        when(size(col("nbrs")) === KnnK,
          element_at(col("nbrs"), KnnK).getField("score"))
          .otherwise(lit(-2d)).as("knn_cos"))
    // the spine reads vec_id off the already-checkpointed ring
    // relation — never a third scan of the parquet
    e.select("vec_id")
      .join(kth, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("knn_cos"), lit(-2d)).as("knn_cos"))
      .orderBy(col("knn_cos"), col("vec_id"))
      .limit(20)
  }

  def knnOutliersSql(radius: Int = KnnProbeRadiusDefault): String =
    s"""WITH $knnRingCtes,
       |nrm AS MATERIALIZED (SELECT vec_id,
       |    CAST(list_sum(list_transform(list_zip(embedding, embedding), p -> $QDot)) AS BIGINT) AS nrm
       |  FROM embeddings),
       |scored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |         ELSE CAST(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |           p -> $QDot)) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) END AS cosine
       |  FROM embeddings a JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN nrm na ON na.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id
       |  JOIN nrm nb ON nb.vec_id = b.vec_id),
       |ranked AS (SELECT vec_id, cosine,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM scored WHERE cosine IS NOT NULL),
       |kth AS (SELECT vec_id, cosine AS knn_cos FROM ranked WHERE rn = $KnnK)
       |SELECT e.vec_id, coalesce(k.knn_cos, -2.0) AS knn_cos
       |FROM embeddings e LEFT JOIN kth k ON k.vec_id = e.vec_id
       |ORDER BY knn_cos, e.vec_id LIMIT 20""".stripMargin

  // ------------------------------------------ standing knn-graph layout
  // v2: edges dir-keyed by pmod(vec_id) (id-prunable lookups) instead
  // of the bucket fold — a v1 layout would mis-prune knnLookup
  // v3: + cedges (bounded COSINE top-k partials, built in the same
  // candidate pass) so the outlier score serves flat too
  // v4: + probe radius stamped in path + meta (a radius change
  // orphans the layout), + derived `mutual`/`ranks` standing
  // relations (the graph consumers' shared state, built once per
  // edge generation instead of re-derived per query)
  private val KnnVersion = 4

  /** The layout's dir name at `radius`. BOTH legal radii are current
    * layouts — the radius is an operator knob, not a version; a radius
    * change orphans nothing a GC should take.
    */
  private[graft] def knnDir(radius: Int): String = s"knn_v${KnnVersion}_r$radius"
  private[operators] val KnnDirBuckets = 64

  def knnLayoutPath(sfDir: String,
      radius: Int = KnnProbeRadiusDefault): String =
    s"${graft.GraftSession.fixtureRoot(sfDir)}/${knnDir(radius)}"

  /** Directory fan-out key: the LSH bucket folded into a FIXED number
    * of partition dirs. Raw-bucket dirs would mean 2^p directories
    * (10⁶ at the 10⁹-vector regime — file-listing pain on any object
    * store); a fixed fan-out keeps the tree calendar-stable while kb
    * pruning still skips (64 − touched)/64 of the bytes on append
    * reads, and parquet min/max on the `bucket` column prunes inside
    * a dir.
    */
  private def kbOf(bucket: Column): Column =
    pmod(bucket, lit(KnnDirBuckets.toLong)).cast("int")

  /** Encode vectors against a FROZEN plane count — the ONE encoding
    * definition shared by the initial build, [[knnAppendAt]], and the
    * append-equivalence spec (the [[pqEncode]] rule: incremental and
    * from-scratch encodes cannot drift). The plane count freezes at
    * build time; appends encode against it, and a rebuild (source
    * stamp change) re-derives it from the grown corpus — exactly the
    * IVF re-train contract.
    */
  private[operators] def knnEncode(vecs: DataFrame, p: Int): DataFrame = {
    val pl = planesFor(p)
    vecs.select(col("vec_id"), col("embedding"),
        bucketColFor(pl)(col("embedding")).as("bucket"),
        quantDot(col("embedding"), col("embedding")).as("nrm"))
      .withColumn("kb", kbOf(col("bucket")))
  }

  /** Directed multi-probe ring candidates probe-side → bucket-side:
    * (vec_id, vbucket, neighbor_id, score). Both sides need (vec_id,
    * embedding, bucket).
    */
  private def knnCandidates(probeSide: DataFrame, bucketSide: DataFrame,
      p: Int, radius: Int): DataFrame = {
    probeSide.select(col("vec_id"), col("embedding"), col("nrm"),
        col("bucket").as("vbucket"),
        explode(array(probeColsFor(p, radius): _*)).as("probe")).as("a")
      .join(bucketSide
          .select(col("vec_id"), col("embedding"), col("nrm"), col("bucket")).as("b"),
        col("a.probe") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.vbucket").as("vbucket"),
        col("b.vec_id").as("neighbor_id"),
        quantDot(col("a.embedding"), col("b.embedding")).as("score"),
        // the outlier metric, computed in the SAME pass (the knnRing
        // cosine recipe: zero-norm scores 0; a malformed embedding's
        // null dot nulls BOTH score and cosine — its self-dot nrm is
        // null too, so the zero-norm branch can't mask it — which is
        // why one score-null filter excludes identical rows from both
        // aggregates)
        when(col("a.nrm") === 0 || col("b.nrm") === 0, lit(0d)).otherwise(
          quantDot(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double"))))
          .as("cosine"))
  }

  /** Bounded top-k PARTIAL rows from a candidate stream — the edges
    * relation's row shape (vec_id, neighbor_id, score, bucket, kb).
    * Partials are MERGEABLE state (top-k of a union = top-k of the
    * per-part top-ks), which is what makes the layout append-ONLY:
    * an append contributes its own partials and never rewrites a
    * standing file — the sketch layout's semantic-merge discipline
    * applied to bounded top-k instead of count partials.
    *
    * The dir key is pmod(vec_id), NOT the bucket fold the `vecs`
    * relation uses: nothing that reads edges prunes by bucket (the
    * append's affected-old pruning reads VECS; serves re-aggregate
    * everything), while the id-serving lookup ([[knnLookup]]) prunes
    * its query ids' dirs at the file listing — each relation carries
    * the partition key its own readers filter on.
    */
  private def knnPartialsOf(cand: DataFrame): DataFrame =
    cand.where(col("score").isNotNull)
      .groupBy("vec_id", "vbucket")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("score").cast("double"), col("neighbor_id")).as("nbrs"))
      .select(col("vec_id"), col("vbucket"), explode(col("nbrs")).as("nb"))
      .select(col("vec_id"), col("nb.id").as("neighbor_id"),
        col("nb.score").cast("long").as("score"),
        col("vbucket").as("bucket"))
      .withColumn("kb", kbOf(col("vec_id")))

  /** The COSINE twin of [[knnPartialsOf]] — the `cedges` relation's
    * row shape (vec_id, neighbor_id, cosine, bucket, kb); cosine
    * top-k is bounded mergeable state exactly like the dot top-k, so
    * the outlier score serves from partials too.
    */
  private def knnCosPartialsOf(cand: DataFrame): DataFrame =
    cand.where(col("cosine").isNotNull)
      .groupBy("vec_id", "vbucket")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("cosine"), col("neighbor_id")).as("nbrs"))
      .select(col("vec_id"), col("vbucket"), explode(col("nbrs")).as("nb"))
      .select(col("vec_id"), col("nb.id").as("neighbor_id"),
        col("nb.score").as("cosine"),
        col("vbucket").as("bucket"))
      .withColumn("kb", kbOf(col("vec_id")))

  /** BOTH bounded partial sets — dot (the graph) and cosine (the
    * outlier score) — from ONE aggregation pass over one candidate
    * stream: the agg result (≤ 2k entries per vector) materializes so
    * the two partial writes never re-generate the corpus-sized
    * candidates. One score-null filter excludes identical rows from
    * both aggregates (see [[knnCandidates]]'s cosine note).
    */
  private def knnBothPartials(cand: DataFrame): (DataFrame, DataFrame) = {
    val aggd = cand.where(col("score").isNotNull)
      .groupBy("vec_id", "vbucket")
      .agg(graft.functions.TopKPairs.topK(KnnK,
          col("score").cast("double"), col("neighbor_id")).as("nbrs"),
        graft.functions.TopKPairs.topK(KnnK,
          col("cosine"), col("neighbor_id")).as("cnbrs"))
      .localCheckpoint(true)
    val dots = aggd
      .select(col("vec_id"), col("vbucket"), explode(col("nbrs")).as("nb"))
      .select(col("vec_id"), col("nb.id").as("neighbor_id"),
        col("nb.score").cast("long").as("score"),
        col("vbucket").as("bucket"))
      .withColumn("kb", kbOf(col("vec_id")))
    val coss = aggd
      .select(col("vec_id"), col("vbucket"), explode(col("cnbrs")).as("nb"))
      .select(col("vec_id"), col("nb.id").as("neighbor_id"),
        col("nb.score").as("cosine"),
        col("vbucket").as("bucket"))
      .withColumn("kb", kbOf(col("vec_id")))
    (dots, coss)
  }

  /** Build (at an explicit path — specs use temp dirs) the standing
    * knn layout: `vecs` = the materialized ring relation (vec_id,
    * embedding, bucket, nrm) partitioned by kb — ON DISK, so every
    * consumer reads replayable-lineage parquet instead of the scan
    * form's executor-pinned `localCheckpoint` (one lost executor on a
    * real cluster kills a localCheckpointed corpus relation; a disk
    * relation just re-reads) — `edges` = gen-0 top-k partials, and a
    * one-row `meta` (frozen plane count + build count).
    */
  private[operators] def buildKnn(spark: SparkSession, sfDir: String,
      layout: String): Unit =
    buildKnn(spark, sfDir, layout, knnProbeRadius(spark))

  private def buildKnn(spark: SparkSession, sfDir: String, layout: String,
      radius: Int): Unit = {
    // a rebuild is a new corpus snapshot: void the maintenance
    // markers and any crashed compaction's staging trees (the
    // invIndexLayout rebuild discipline)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_LAST_BATCH"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_LAST_BATCH_EDGES"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_LAST_BATCH_VECS"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_LAST_BATCH_CEDGES"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_LAST_BATCH_DELTA"))
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/edges_compacting"))
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/cedges_compacting"))
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/vecs_compacting"))
    // tombstones hid vectors of the PREVIOUS corpus snapshot; the
    // rebuild follows the source (re-issue the forget if the source
    // still carries them — the invIndexLayout rebuild discipline)
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/tombstones"))
    java.nio.file.Files.deleteIfExists(knnHealedMarker(layout))
    knnDropDerived(layout) // derived relations follow the edge state
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val p = knnPlanes(n)
    val s = knnSession(spark, n)
    knnEncode(s.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding"), p)
      .repartition(col("kb"))
      .write.partitionBy("kb").mode("overwrite").parquet(s"$layout/vecs")
    import s.implicits._
    // radius rides the meta row: appends and serves read the LAYOUT's
    // radius, never the ambient conf's (the stamp is what "a radius
    // change orphans the layout" means)
    Seq((p, n, radius)).toDF("p", "n0", "r").coalesce(1)
      .write.mode("overwrite").parquet(s"$layout/meta")
    // probe side round-robin repartitioned: the vecs tree is laid out
    // BY BUCKET FOLD, so a scan partition holds bucket-mates — and a
    // populous bucket's vectors all probe their own bucket, landing
    // that bucket's entire |pop|² candidate amplification in the one
    // task that read its dir (measured: a single task grinding
    // minutes while 31 cores idled). One cheap shuffle of n rows
    // decorrelates per-task amplification; at cluster scale the same
    // hazard appears as a skewed sort-merge partition, which AQE's
    // skew-join split handles — this is the broadcast-plan analog.
    val e = s.read.parquet(s"$layout/vecs")
    val eSpread = e.repartition(s.sessionState.conf.numShufflePartitions)
    val (dots, coss) = knnBothPartials(knnCandidates(eSpread, e, p, radius))
    dots.repartition(col("kb"))
      .write.partitionBy("kb").mode("overwrite").parquet(s"$layout/edges")
    coss.repartition(col("kb"))
      .write.partitionBy("kb").mode("overwrite").parquet(s"$layout/cedges")
  }

  private[operators] def knnLayout(spark: SparkSession, sfDir: String): String =
    knnLayoutAtRadius(spark, sfDir, knnProbeRadius(spark))

  /** The layout at an explicit `radius`, built or refreshed when
    * missing or stale — at that radius, whatever the session conf.
    */
  private def knnLayoutAtRadius(spark: SparkSession, sfDir: String,
      radius: Int): String = {
    val layout = knnLayoutPath(sfDir, radius)
    graft.GraftSession.ensureLayout(spark, layout, s"$sfDir/embeddings.parquet") {
      buildKnn(spark, sfDir, layout, radius)
    }
    layout
  }

  /** Whether a standing knn layout exists for `sfDir` at `radius`
    * (the [[ivfPqPresent]] sibling — Ctl's "nothing to compact"
    * guard).
    */
  def knnPresent(sfDir: String,
      radius: Int = KnnProbeRadiusDefault): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${knnLayoutPath(sfDir, radius)}/edges"))

  /** Incremental graph maintenance — the production path between
    * periodic re-derivations of the plane count: encode the new batch
    * against the FROZEN planes, then append exactly two partial sets,
    * (a) each new vector's top-k over its ring in the grown corpus
    * (old ∪ batch — batch-mates see each other), and (b) each
    * AFFECTED old vector's top-k over the new batch only. An old
    * vector is affected iff its bucket lies in the batch's ring-
    * bucket set (hamming ≤ 1 is symmetric), so the delta work is
    * batch-proportional: candidates ≈ |batch|·(p+1)·bucket-pop for
    * (a) plus the affected×batch equi-join for (b) — never a corpus
    * rescan. Standing files are untouched (append-only — partials
    * merge at serve time), so the result equals a from-scratch build
    * of the union at the same plane count (spec-pinned).
    * Caller contract (the sibling appends'): `newVecs` carries
    * vec_ids not yet indexed, batches are bounded (the ring-bucket
    * set collects to the driver), one writer per layout.
    *
    * ONE-WRITER BY SEMANTICS, not by committer mechanics (why
    * knnAppend takes no tag where invindex/simhash/ivfpq/sketch
    * do): those layouts' appends are order-INDEPENDENT row adds
    * — any interleaving unions to the same relation. A knn append is
    * order-DEPENDENT: batch B's "new vs grown corpus" leg must see
    * batch A's vectors as corpus (and A's affected-old leg must cover
    * B's ids or not, consistently), so two concurrent appenders each
    * blind to the other's in-flight batch would BOTH omit the
    * cross-batch edge partials — the union of their outputs is not
    * the rebuild of the union. Staging fixes shared committer state;
    * it cannot fix a read-your-predecessor dependency. Concurrent
    * feeds must serialize through one maintainer (the
    * [[graft.streaming.StreamingOps.knnMaintainStream]] composition).
    */
  def knnAppend(spark: SparkSession, sfDir: String, newVecs: DataFrame): String = {
    val layout = knnLayout(spark, sfDir)
    knnAppendAt(spark, layout, newVecs, (_, f) => f())
    layout
  }

  /** foreachBatch-idempotent append — PER-STAGE markers because the
    * edge partials and the vec rows land in separate jobs: a crash
    * between any job commit and its marker would otherwise re-append
    * the committed stage on replay (duplicate top-k partials
    * double-count a neighbor into two of the k slots — worse than the
    * siblings' duplicate-row failure). `_LAST_BATCH_EDGES` /
    * `_LAST_BATCH_VECS` commit the stages; `_LAST_BATCH` commits the
    * batch (the fast skip for fully-applied replays). A mid-append
    * crash replays only the uncommitted stage — and the edge stage's
    * candidate sets are replay-invariant by the anti-join contract
    * (already-appended batch vec rows never double as corpus).
    */
  def knnAppendOnce(spark: SparkSession, sfDir: String, newVecs: DataFrame,
      batchId: Long): Boolean = {
    val layout = knnLayout(spark, sfDir)
    graft.GraftSession.appliedOnce(
      java.nio.file.Paths.get(layout, "_LAST_BATCH"), batchId) {
      knnAppendAt(spark, layout, newVecs,
        (name, f) => graft.GraftSession.appliedOnce(
          java.nio.file.Paths.get(layout, s"_LAST_BATCH_$name"), batchId)(f()))
    }
  }

  private[operators] def knnAppendAt(spark0: SparkSession, layout: String,
      newVecs: DataFrame, stage: (String, () => Unit) => Unit): Unit = {
    // edges are about to move: the derived mutual/ranks marker drops
    // FIRST (consumers see "absent" from here — a crash anywhere
    // leaves no stale derived state servable), but the DIRS stay as
    // the splice input; the DELTA stage below records the changed ids
    // before any partial lands
    knnInvalidateDerived(layout)
    val meta = spark0.read.parquet(s"$layout/meta").head
    // by NAME, not position — a meta column reorder must fail loudly
    // (missing field), never silently encode the batch at a wrong
    // plane count / the wrong LAYOUT radius
    val (p, radius) = (meta.getAs[Int]("p"), meta.getAs[Int]("r"))
    val newE0 = knnEncode(
      newVecs.select(col("vec_id"), col("embedding")), p)
      .localCheckpoint(true) // batch-sized (bounded-batch contract)
    // the hash-agg threshold sizes from the GROWN corpus — standing
    // vecs count PLUS this batch (the aggregation's groups are new ∪
    // affected-old vectors), never meta's frozen build-time n0: the
    // structural no-sort bound must hold on the append path too. Both
    // counts are cheap (parquet stats; a checkpointed batch).
    val nNow = spark0.read.parquet(s"$layout/vecs").count() + newE0.count()
    val spark = knnSession(spark0, nNow)
    // re-root the batch under the knn session: every DataFrame below
    // derives from newE, and a plan rooted at the CALLER's session
    // would execute with the caller's (default, 128-entry) fallback
    // threshold — the raised conf would silently not govern the
    // append aggregation. The checkpointed RDD is session-independent,
    // so this is a re-rooting, not a recompute.
    val newE = spark.createDataFrame(newE0.rdd, newE0.schema)
    // the batch's ring-bucket set: ≤ |batch|·(1+p+C(p,2)) values
    val ringB = newE
      .select(explode(array(probeColsFor(p, radius): _*)).as("bucket"))
      .distinct().localCheckpoint(true)
    val affKb = ringB.select(kbOf(col("bucket")).as("kb")).distinct()
      .collect().map(_.getInt(0)) // ≤ KnnDirBuckets values — static dir pruning
    val newIds = newE.select("vec_id")
    // old corpus = standing vecs minus the batch ids: under crash
    // replay the batch's vec rows may already stand, and they must
    // not double as corpus (the candidate sets — and therefore the
    // appended partials — must be byte-identical across replays).
    // Tombstoned vectors are excluded too (knnReadVecs): a forgotten
    // vector must not re-enter as a NEW vector's neighbor.
    // The dual partial sets derive from ONE candidate pass here,
    // OUTSIDE the stage closures: the agg result is batch-proportional
    // and deterministic, so a partial replay recomputes it once and
    // each committed stage still skips its write.
    val old = knnReadVecs(spark, layout)
      .join(broadcast(newIds), Seq("vec_id"), "left_anti")
    val affOld = old
      .where(col("kb").isin(affKb.toSeq: _*))
      .join(broadcast(ringB), Seq("bucket"), "left_semi")
    def vc(d: DataFrame) = d.select("vec_id", "embedding", "nrm", "bucket")
    val dir1 = knnCandidates(newE, vc(old).unionByName(vc(newE)), p, radius)
    val dir2 = knnCandidates(affOld, newE, p, radius)
    val (dots, coss) = knnBothPartials(dir1.unionByName(dir2))
    // the derived-splice delta: every id whose served list this
    // append can move — recorded BEFORE any partial lands (delta-first
    // ordering, see knnInvalidateDerived), its own idempotence marker
    // under stage replay
    def commit(name: String, rel: String,
        w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): Unit =
      stage(name, () => graft.GraftSession.commitAppend(layout)(s"$layout/$rel" -> w))
    commit("DELTA", "derived_delta",
      newIds.unionByName(affOld.select("vec_id")).distinct().coalesce(1).write)
    commit("EDGES", "edges", dots.repartition(col("kb")).write.partitionBy("kb"))
    commit("CEDGES", "cedges", coss.repartition(col("kb")).write.partitionBy("kb"))
    commit("VECS", "vecs", newE.repartition(col("kb")).write.partitionBy("kb"))
  }

  /** Standing-layout compaction, `Ctl index-compact <sf> knn`. CLEAN
    * (no tombstones): vecs re-pack file-wise
    * ([[graft.GraftSession.compactPartitioned]]); edges compact
    * SEMANTICALLY (the sketch-layout discipline) — N generations of
    * top-k partials per vector collapse back to ONE exact top-k, so
    * steady-state edge size is k·corpus however many appends ever
    * ran. With tombstones PENDING: the physical delete PRUNES — vecs
    * rewrite only the victims' recorded bucket-fold dirs, edge
    * partials only the ID-fold dirs of victims ∪ affected survivors
    * (pure arithmetic on two bounded id lists), and exactly the
    * snapshot-consumed tombstone files retire, so a single-victim
    * request costs ~(1 + in-degree-dirs)/64 of the tree instead of a
    * full rewrite; run a second (clean) compact to also defrag.
    * Served rows are invariant either way (spec-pinned).
    */
  def knnCompact(spark: SparkSession, sfDir: String): String =
    knnCompactAtRadius(spark, sfDir, knnProbeRadius(spark))

  /** [[knnCompact]] of the layout at an explicit `radius` (the
    * per-radius maintenance entry behind `Ctl index-compact knn`,
    * which compacts every standing radius); a stale layout refreshes
    * at its own radius first.
    */
  def knnCompactAtRadius(spark: SparkSession, sfDir: String,
      radius: Int): String = {
    val layout = knnLayoutAtRadius(spark, sfDir, radius)
    knnCompactAt(spark, layout)
    layout
  }

  // ------------------------------ deletion propagation (knn graph)
  private def knnTombDir(layout: String): java.nio.file.Path =
    java.nio.file.Paths.get(layout, "tombstones")

  private def knnTombOf(spark: SparkSession,
      layout: String): Option[DataFrame] =
    graft.GraftSession.tombstonesIn(spark, knnTombDir(layout), "vec_id")

  /** The layout's vector spine with deletion tombstones applied —
    * every consumer that treats vecs as "the corpus" (serve spines,
    * the mutual relation's norms, an append's old-corpus side) reads
    * through here, so a forgotten vector can neither appear in a
    * result nor re-enter as a NEW vector's neighbor.
    */
  private[operators] def knnReadVecs(spark: SparkSession,
      layout: String): DataFrame = {
    val base = spark.read.parquet(s"$layout/vecs")
    knnTombOf(spark, layout).fold(base)(t =>
      base.join(broadcast(t), Seq("vec_id"), "left_anti"))
  }

  /** A partial relation (`edges` or `cedges`) with tombstones applied
    * to BOTH endpoints: a victim serves no list of its own and
    * vanishes from everyone else's — two bounded broadcast
    * anti-joins, the one hook all partial consumers share.
    */
  private def knnReadPartials(spark: SparkSession, layout: String,
      sub: String): DataFrame = {
    val base = spark.read.parquet(s"$layout/$sub")
    knnTombOf(spark, layout).fold(base) { t =>
      base
        .join(broadcast(t), Seq("vec_id"), "left_anti")
        .join(broadcast(t.select(col("vec_id").as("neighbor_id"))),
          Seq("neighbor_id"), "left_anti")
    }
  }

  /** HEAL the partial relations after a forget — the exactness half
    * of [[knnForget]]: hiding a victim's rows removes it from every
    * survivor's list, but a survivor whose true top-k CONTAINED the
    * victim now serves k−1 rows while a rebuild over the remaining
    * corpus would promote its (k+1)-th ring neighbor, which the
    * bounded partials discarded at build time. So every AFFECTED
    * survivor (one with a standing partial row pointing at any
    * tombstoned id — a superset of "victim in served top-k", bounded
    * by the victims' in-degree across generations) gets ONE fresh
    * ring pass over the remaining corpus, and only the pairs NOT
    * already standing append. The anti-join on (vec_id, neighbor_id)
    * preserves the layout's one-row-per-pair invariant (a duplicate
    * would occupy two k-slots in the serve aggregation) and makes the
    * heal REPLAY-IDEMPOTENT by construction: a second pass finds
    * every fresh pair standing and appends nothing — no marker
    * needed. Cost: one scan of the k·n edge relation to find the
    * affected set, plus an affected-proportional ring join — never a
    * corpus×corpus pass. Returns the affected survivor ids (bounded
    * by the victims' in-degree) — the pruned compaction's dirty-dir
    * seed. `affHint` lets the forget path donate the affected set it
    * just computed (legal only when its cohort is the only standing
    * tombstones — see the call site); `nHint` skips a vecs re-count.
    */
  /** Signature of the standing tombstone FILE SET — the heal-skip
    * cache key: heal work exists iff the tombstone set changed (a new
    * forget appends a uniquely-named file; appends admit through the
    * tombstone-filtered corpus, so they never create victim
    * references; retirement clears the set). File NAMES, not content:
    * the forget tier never rewrites a tombstone file in place.
    */
  private def knnTombSig(layout: String): String = {
    val dir = knnTombDir(layout)
    if (!java.nio.file.Files.isDirectory(dir)) return ""
    val l = java.nio.file.Files.list(dir)
    try {
      val b = Seq.newBuilder[String]
      l.forEach { p =>
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) &&
          !n.startsWith("_") && !n.startsWith(".")) b += n
      }
      b.result().sorted.mkString("\n")
    } finally l.close()
  }

  private def knnHealedMarker(layout: String): java.nio.file.Path =
    java.nio.file.Paths.get(layout, "_HEAL_OK")

  private def knnHealAt(spark0: SparkSession, layout: String,
      affHint: Option[Seq[Long]] = None,
      nHint: Option[Long] = None,
      forCompact: Boolean = false): Seq[Long] = {
    val tombOpt = knnTombOf(spark0, layout)
    if (tombOpt.isEmpty) return Seq.empty
    // HEAL-SKIP cache: a completed heal stamps the tombstone-set
    // signature; an UNCHANGED set means zero heal work exists (the
    // idempotent-retry norm under at-least-once delivery), so the
    // rerun skips the discovery scans and the ring pass entirely — a
    // compaction caller still needs the affected ids for its pruned
    // rewrite and only skips the ring pass. Any new forget appends a
    // fresh tombstone file and misses the cache; a crashed heal never
    // wrote the stamp and re-runs in full.
    val sig = knnTombSig(layout)
    val healed =
      try java.nio.file.Files.readString(knnHealedMarker(layout)) == sig
      catch { case _: Exception => false }
    if (healed && !forCompact) return Seq.empty
    val meta = spark0.read.parquet(s"$layout/meta").head
    // by NAME, not position — a meta column reorder must fail loudly
    // (missing field), never silently mis-read the plane count
    val (p, radius) = (meta.getAs[Int]("p"), meta.getAs[Int]("r"))
    val n = nHint.getOrElse(spark0.read.parquet(s"$layout/vecs").count())
    val spark = knnSession(spark0, n)
    import spark.implicits._
    val tomb = knnTombOf(spark, layout).get.localCheckpoint(true)
    val tombN = tomb.select(col("vec_id").as("neighbor_id"))
    val rawE = spark.read.parquet(s"$layout/edges")
    val rawC = spark.read.parquet(s"$layout/cedges")
    // affHint (a just-computed affected list from the forget path,
    // legal only when ITS cohort is the only standing tombstones)
    // skips the edges/cedges re-scan; the tombstone anti-join still
    // applies — a cohort victim can itself list another victim
    val affIds = affHint.fold(
      rawE.join(broadcast(tombN), Seq("neighbor_id"), "left_semi")
        .select("vec_id")
        .unionByName(rawC.join(broadcast(tombN), Seq("neighbor_id"), "left_semi")
          .select("vec_id"))
        .distinct())(h => h.toDF("vec_id"))
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // bounded: victims' in-degree across gens
    // collected once: bounded by the same in-degree argument, and the
    // caller-side pruned compaction needs the ids (their kb dirs are
    // the ones carrying victim references)
    val affected = affIds.collect().map(_.getLong(0)).toSeq
    if (healed) return affected // compact caller: ids only, no ring pass
    if (affected.isEmpty) {
      java.nio.file.Files.writeString(knnHealedMarker(layout), sig)
      return affected
    }
    val remaining = knnReadVecs(spark, layout)
    val aff = remaining.join(broadcast(affIds), Seq("vec_id"), "left_semi")
    val (dots, coss) = knnBothPartials(knnCandidates(aff, remaining, p, radius))
    val standE = rawE.join(broadcast(affIds), Seq("vec_id"), "left_semi")
      .select("vec_id", "neighbor_id")
    val dotsNew = dots
      .join(standE, Seq("vec_id", "neighbor_id"), "left_anti")
      .localCheckpoint(true) // ≤ k·|affected| rows
    val standC = rawC.join(broadcast(affIds), Seq("vec_id"), "left_semi")
      .select("vec_id", "neighbor_id")
    val cossNew = coss
      .join(standC, Seq("vec_id", "neighbor_id"), "left_anti")
      .localCheckpoint(true)
    val (nDots, nCoss) = (dotsNew.count(), cossNew.count())
    if (nDots > 0 || nCoss > 0) {
      // the heal is about to change affected survivors' lists: record
      // them in the derived-splice delta BEFORE any append
      // (delta-first). The forget path recorded them already, but a
      // crashed-heal RERUN (dn == 0) reaches here after an ensure may
      // have consumed the original delta — without this, the spliced
      // derived state would go stale against the healed lists.
      // Duplicate ids across the two writes are harmless (the splice
      // distincts).
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(layout, "_DERIVED_OK"))
      graft.GraftSession.commitAppend(layout)(
        Seq(s"$layout/derived_delta" -> affIds.coalesce(1).write) ++
          (if (nDots > 0) Seq(s"$layout/edges" ->
            dotsNew.repartition(col("kb")).write.partitionBy("kb")) else Nil) ++
          (if (nCoss > 0) Seq(s"$layout/cedges" ->
            cossNew.repartition(col("kb")).write.partitionBy("kb")) else Nil): _*)
    }
    // the heal-skip stamp writes LAST: a crash anywhere above leaves
    // it absent/stale and the next heal re-runs in full (idempotent)
    java.nio.file.Files.writeString(knnHealedMarker(layout), sig)
    affected
  }

  /** Deletion propagation INTO the standing knn graph — the graph
    * tier's [[graft.operators.TextQueries.invIndexForget]] sibling,
    * with the one wrinkle the bounded-partials design adds: hiding a
    * victim is not enough, because survivors whose top-k contained it
    * must get their (k+1)-th neighbor PROMOTED for the serve to equal
    * a rebuild over the remaining corpus (spec-pinned equal, graph
    * and outlier partials both). Ordering is privacy-first: derived
    * relations drop FIRST (they embed victim edges), tombstones
    * commit SECOND (from here no victim row is servable anywhere),
    * and the heal leg runs LAST — a crash in between leaves affected
    * survivors serving conservatively SHORT lists, never a forgotten
    * row, and both the next forget call and the next
    * [[knnCompactAt]] re-run the idempotent heal. Consumers inherit
    * in one hop: clusters/centrality/representatives rebuild their
    * derived relations from the tombstone-filtered serve; the
    * admission of future appends reads the corpus through
    * [[knnReadVecs]], so a forgotten vector never re-enters as a new
    * vector's neighbor. The frozen planes stay (corpus-derived
    * AGGREGATE, not per-vector data — the ivfPqForget codebook
    * rationale). CONCURRENCY: unlike the other three layouts' forgets
    * (staged tombstone writes, legal beside live maintenance), a knn
    * forget is a WRITER on the layout — the heal appends edge
    * partials — so it serializes with the one maintainer and with
    * other forgets: the [[knnAppend]] one-writer-by-semantics
    * rationale applies verbatim (route requests around the
    * maintainer, e.g. stop-forget-resume or feed them between
    * batches). Returns the number of vectors newly hidden.
    */
  def knnForget(spark: SparkSession, sfDir: String, ids: Seq[Long]): Long =
    knnForgetAt(spark, knnLayout(spark, sfDir), ids)

  private[operators] def knnForgetAt(spark0: SparkSession, layout: String,
      ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "forget request carries no ids")
    val n = spark0.read.parquet(s"$layout/vecs").count()
    val spark = knnSession(spark0, n)
    import spark.implicits._
    val standing = graft.GraftSession.filterIdIn(
      spark.read.parquet(s"$layout/vecs"), "vec_id", ids)
      .select("vec_id", "kb").distinct().localCheckpoint(true)
    val priorTombs = knnTombOf(spark, layout)
    val fresh = priorTombs.fold(standing.select("vec_id"))(t =>
      standing.select("vec_id").join(broadcast(t), Seq("vec_id"), "left_anti"))
    val dn = fresh.distinct().count()
    // the heal's affected set can ride the delta computation below —
    // but ONLY when no prior tombstones stood: with priors, a crashed
    // earlier heal may have left survivors of OTHER victims unhealed,
    // and the hint would skip them (the "next forget re-runs the
    // idempotent heal" contract)
    var affHint: Option[Seq[Long]] = None
    if (dn > 0) {
      // derived mutual/ranks embed victim edges: the marker drops
      // FIRST (idempotent); the dirs stay as the splice input. ONLY
      // when the forget changes something — a no-op retry (the HTTP
      // path's absorbed cohort, ids absent from the layout) must not
      // force the next consumer into a full re-derivation over
      // unchanged lists. A crashed-heal rerun still invalidates:
      // [[knnHealAt]] self-invalidates whenever it appends.
      knnInvalidateDerived(layout)
      // the derived-splice delta — victims PLUS the survivors whose
      // lists the tombstone/heal will move — records BEFORE the
      // tombstone lands (delta-first ordering): a crash in between
      // over-approximates, never under-records
      val victimsN = ids.distinct.toDF("vec_id")
        .select(col("vec_id").as("neighbor_id"))
      // collected once (bounded by the victims' in-degree): serves
      // the delta write here AND, on a prior-tombstone-free layout,
      // rides into the heal as its affected set — the heal then
      // skips its own edges/cedges re-scan (the same relation)
      val affected = spark.read.parquet(s"$layout/edges")
        .join(broadcast(victimsN), Seq("neighbor_id"), "left_semi")
        .select("vec_id")
        .unionByName(spark.read.parquet(s"$layout/cedges")
          .join(broadcast(victimsN), Seq("neighbor_id"), "left_semi")
          .select("vec_id"))
        .distinct().collect().map(_.getLong(0)).toSeq
      if (priorTombs.isEmpty) affHint = Some(affected)
      // tombstone rows carry the victims' directory-fan-out key (null
      // when the id is absent from the layout) — the pruned
      // compaction's dirty-partition list; partition VALUES are
      // content-derived, so they stay valid across rewrites, unlike
      // file names
      graft.GraftSession.commitAppend(layout)(
        s"$layout/derived_delta" ->
          (ids.distinct ++ affected).distinct.toDF("vec_id").coalesce(1).write,
        knnTombDir(layout).toString -> ids.distinct.toDF("vec_id")
          .join(standing, Seq("vec_id"), "left").coalesce(1).write)
    }
    // heal runs whenever tombstones stand — a rerun after a crashed
    // heal (dn == 0) still repairs (affHint stays None there, so the
    // heal derives the full affected set itself); a fully-healed
    // layout appends nothing (the anti-join idempotence)
    knnHealAt(spark, layout, affHint, Some(n))
    dn
  }

  /** Registered forget-propagation gate for the knn graph: on the
    * shared fixture COPY, the `q_forget` cohort (`vec_id % 97 == 0`)
    * is forgotten through [[knnForget]] and the full graph served
    * from the TOMBSTONED layout — which must equal the oracle's ring
    * top-k over `embeddings` minus the cohort at the SAME plane count
    * (the ring CTE derives planes from the full corpus count, exactly
    * matching the layout's frozen build-time planes). The heal leg is
    * what makes this row pass: without it, every survivor that
    * listed a victim would serve a short list where the oracle
    * promotes the next ring neighbor.
    */
  /** Seed the forget fixture's knn layout by FILE COPY from the main
    * corpus layout — bench economy for the registered gate: the
    * fixture tables are VALUE-IDENTICAL copies of the sf tables
    * ([[graft.GraftSession.forgetFixtureDir]]'s contract), so the
    * main layout's tree is bit-for-bit a legal build output for the
    * fixture; the gate then pays a file copy instead of a second full
    * encode+ring build. The stamp rewrites LAST against the FIXTURE's
    * source (a crash mid-copy reads as stale and falls back to the
    * normal rebuild); other corpora never hit this path — it is
    * keyed to the forget fixture dir.
    */
  private def seedForgetKnnLayout(spark: SparkSession, sfDir: String,
      dir: String): Unit = {
    val dst = knnLayoutPath(dir, knnProbeRadius(spark))
    val stampP = java.nio.file.Paths.get(dst, "_GRAFT_STAMP")
    val want = graft.GraftSession
      .pathStamp(spark, s"$dir/embeddings.parquet").toString
    val fresh =
      try java.nio.file.Files.readString(stampP).trim == want
      catch { case _: Exception => false }
    if (fresh) return // (possibly already mutated by a prior gate run)
    val src = knnLayout(spark, sfDir) // ensure the MAIN layout
    graft.GraftSession.deleteRec(java.nio.file.Paths.get(dst))
    graft.GraftSession.copyRec(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(dst))
    java.nio.file.Files.writeString(stampP, want)
  }

  def forgetKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.GraftSession.forgetFixtureDir(spark, sfDir)
    seedForgetKnnLayout(spark, sfDir, dir)
    val ids = table(spark, dir, "embeddings")
      .where(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    knnForget(spark, dir, ids)
    knnGraphIndexed(spark, dir)
  }

  def forgetKnnSql: String =
    knnGraphSqlOver(KnnProbeRadiusDefault,
      "a.vec_id % 97 <> 0 AND b.vec_id % 97 <> 0")

  private[operators] def knnCompactAt(spark0: SparkSession, layout: String): Unit = {
    // a crashed forget may have tombstoned without healing:
    // compaction is the healer of record (idempotent — a healed
    // layout appends nothing), and it must run BEFORE the physical
    // delete below collapses the partials. The heal hands back the
    // AFFECTED survivor ids — their kb dirs are exactly the ones
    // carrying victim references, so they seed the pruned rewrite.
    // SNAPSHOT the tombstone files BEFORE the heal: the heal's
    // affected set must cover every victim this compaction will
    // retire (a tombstone landing mid-heal would otherwise retire
    // with its referencing survivors' dirs never rewritten); exactly
    // these files are applied and retired; one landing mid-compaction
    // survives to the next (and keeps hiding its rows through the
    // serving anti-joins meanwhile)
    val snap = graft.GraftSession.tombstoneSnapshot(knnTombDir(layout))
    val affected = knnHealAt(spark0, layout, forCompact = true)
    val n = spark0.read.parquet(s"$layout/vecs").count()
    val spark = knnSession(spark0, n)
    if (snap.isEmpty) {
      // pure DEFRAG: full re-pack + semantic top-k collapse — N
      // generations of partials per vector back to one exact top-k
      graft.GraftSession.compactPartitioned(spark0, s"$layout/vecs", "kb")
      graft.GraftSession.compactSnapshot(spark, s"$layout/edges", (df, staged) =>
        knnPartialsOf(df.select(col("vec_id"), col("bucket").as("vbucket"),
            col("neighbor_id"), col("score")))
          .repartition(col("kb"))
          .write.partitionBy("kb").mode("overwrite").parquet(staged))
      graft.GraftSession.compactSnapshot(spark, s"$layout/cedges", (df, staged) =>
        knnCosPartialsOf(df.select(col("vec_id"), col("bucket").as("vbucket"),
            col("neighbor_id"), col("cosine")))
          .repartition(col("kb"))
          .write.partitionBy("kb").mode("overwrite").parquet(staged))
      return
    }
    // PRUNED physical delete — rewrite only the kb dirs that carry a
    // victim row: the victims' own dirs (vec rows + victim-as-source
    // partials; recorded at forget time, absent ids re-resolved
    // against vecs now) plus the affected survivors' dirs (the only
    // places a victim-as-NEIGHBOR row can live: affected is defined
    // as "has a standing partial row pointing at a tombstoned id",
    // and both the append admission and the heal read the corpus
    // tombstone-filtered, so no new victim references appear
    // elsewhere). Delete cost ∝ affected partitions, not corpus; a
    // clean follow-up compact stays the full-defrag verb.
    val tomb = graft.GraftSession.tombstonesFrom(spark, snap)
      .localCheckpoint(true) // people-scale
    val tombIds = tomb.select("vec_id").distinct().localCheckpoint(true)
    val victimIds = tombIds.collect().map(_.getLong(0)).toSeq
    // vecs are partitioned by the BUCKET fold, recorded on the
    // tombstone rows at forget time (ids forgotten while absent carry
    // null and re-resolve against vecs now, in case a later append
    // indexed them)
    val recorded =
      if (tomb.columns.contains("kb"))
        tomb.where(col("kb").isNotNull).select("kb").distinct()
          .collect().map(_.getInt(0)).toSeq
      else Seq.empty[Int]
    // ALL victims re-resolve against the vecs of compaction day (the
    // invIndexCompact rationale: a contract-violating later append of
    // a tombstoned id must not leave servable rows behind a retired
    // tombstone) — one pushed-down people-scale id scan
    val late = graft.GraftSession.filterIdIn(
      spark.read.parquet(s"$layout/vecs"), "vec_id", victimIds) // pushed-down
      .select("kb").distinct().collect().map(_.getInt(0)).toSeq
    val dirtyVecs = (recorded ++ late).distinct.map(b => s"kb=$b").toSet
    if (dirtyVecs.nonEmpty)
      graft.GraftSession.compactSnapshotPruned(spark, s"$layout/vecs",
        dirtyVecs, (df, staged) => df
          .join(broadcast(tombIds), Seq("vec_id"), "left_anti")
          .repartition(col("kb"))
          .write.partitionBy("kb").mode("overwrite").parquet(staged))
    def dropVictims(df: DataFrame): DataFrame =
      df.join(broadcast(tombIds), Seq("vec_id"), "left_anti")
        .join(broadcast(tombIds.select(col("vec_id").as("neighbor_id"))),
          Seq("neighbor_id"), "left_anti")
    // edge partials are partitioned by the ID fold (kbOf(vec_id)), so
    // the dirty set — victims as SOURCE plus the affected survivors
    // that reference them as NEIGHBOR — is pure arithmetic on the two
    // bounded id lists, no scan at all
    val dirtyEdges = (victimIds ++ affected)
      .map(id => s"kb=${(((id % KnnDirBuckets) + KnnDirBuckets) % KnnDirBuckets).toInt}")
      .toSet
    if (dirtyEdges.nonEmpty) {
      graft.GraftSession.compactSnapshotPruned(spark, s"$layout/edges",
        dirtyEdges, (df, staged) =>
          knnPartialsOf(dropVictims(df).select(col("vec_id"),
              col("bucket").as("vbucket"), col("neighbor_id"), col("score")))
            .repartition(col("kb"))
            .write.partitionBy("kb").mode("overwrite").parquet(staged))
      graft.GraftSession.compactSnapshotPruned(spark, s"$layout/cedges",
        dirtyEdges, (df, staged) =>
          knnCosPartialsOf(dropVictims(df).select(col("vec_id"),
              col("bucket").as("vbucket"), col("neighbor_id"), col("cosine")))
            .repartition(col("kb"))
            .write.partitionBy("kb").mode("overwrite").parquet(staged))
    }
    // deletes are physical now; exactly the CONSUMED tombstone files
    // retire, LAST (a crash above leaves them pending — anti-joins of
    // already-absent rows are no-ops and the next compaction clears
    // them)
    graft.GraftSession.retireTombstones(knnTombDir(layout), snap)
    // the heal-skip stamp refers to the pre-retirement set — clear it
    // (a mid-compaction tombstone that survived retirement re-heals
    // in full on the next pass, which is exactly right)
    java.nio.file.Files.deleteIfExists(knnHealedMarker(layout))
  }

  /** The REGISTERED q_knn_graph — serves from the standing layout:
    * one bounded top-k re-aggregation over the edge partials (≤
    * k·generations rows per vector), no candidate generation, no
    * corpus scan of the float vectors. The scan form ([[knnGraph]])
    * stays as the parity twin (spec-pinned equal), exactly the BM25
    * index/scan pairing. First call builds the layout (ensureLayout
    * staleness discipline); steady state reads it.
    */
  def knnGraphIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val layout = knnLayout(spark, sfDir)
    knnGraphAt(spark, layout)
  }

  /** HUBNESS audit of the knn graph — the classic ANN-quality metric:
    * how many vectors list each vector among their top-[[KnnK]]
    * (graph in-degree). A hub (in-degree ≫ k) is a vector the LSH
    * geometry puts "near everything" — hubs inflate mutual-edge
    * density, distort duplicate clustering and soak up PageRank mass,
    * so a curation pass wants the worst offenders listed before
    * trusting the graph's consumers. Reports the 20 highest in-degree
    * vectors (ties broken by id). Serves from the standing layout:
    * one bounded re-aggregation (≤ k·n edge rows) plus a
    * map-side-combining count — detection-output cost, never a
    * corpus rescan.
    */
  def knnHubness(spark: SparkSession, sfDir: String): DataFrame =
    knnGraphIndexed(spark, sfDir)
      .groupBy("neighbor_id")
      .agg(count(lit(1)).as("in_degree"))
      .orderBy(col("in_degree").desc, col("neighbor_id"))
      .limit(20)

  def knnHubnessSql(radius: Int = KnnProbeRadiusDefault): String =
    s"""WITH $knnRingCtes,
       |scored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings a JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id),
       |ranked AS (SELECT vec_id, neighbor_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored WHERE score IS NOT NULL)
       |SELECT neighbor_id, count(*) AS in_degree
       |FROM ranked WHERE rank <= $KnnK
       |GROUP BY neighbor_id
       |ORDER BY in_degree DESC, neighbor_id LIMIT 20""".stripMargin

  /** MARGIN-corrected near-dup scoring — the hubness FIX beside the
    * [[knnHubness]] audit (the ratio margin of Artetxe & Schwenk's
    * bitext mining, applied to near-dup candidates): a pair's raw
    * cosine is discounted by how close each endpoint sits to its
    * whole neighborhood — margin = 2k·cos(x,y) / (Σ top-k cos(x) +
    * Σ top-k cos(y)) — so a HUB's uniformly-high cosines stop
    * producing false "duplicates" while a genuinely isolated pair
    * (top-1 far above its neighborhoods) ranks up. Integer-exact end
    * to end: per-pair cosines quantize to ppm BEFORE any sum (float
    * sums are merge-order-dependent; integer sums commute — the
    * drift-kernel discipline), and the final ratio is one positive
    * integer division, so both engines agree bit for bit. Serves from
    * the standing cosine partials (detection-output cost, ≤ k rows of
    * state per vector); margin is defined only where BOTH endpoints
    * carry a full k-ring and all quantities are positive — an
    * under-populated ring is [[knnOutliers]]'s business, not a margin
    * denominator. Reports the 20 highest-margin directed pairs.
    */
  def knnMargin(spark: SparkSession, sfDir: String): DataFrame = {
    val layout = knnLayout(spark, sfDir)
    knnMarginAt(spark, layout)
  }

  private[operators] def knnMarginAt(spark0: SparkSession,
      layout: String): DataFrame = {
    val n = spark0.read.parquet(s"$layout/vecs").count()
    val spark = knnSession(spark0, n)
    val topk = knnReadPartials(spark, layout, "cedges")
      .groupBy("vec_id")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("cosine"), col("neighbor_id")).as("nbrs"))
      .where(size(col("nbrs")) === KnnK)
      .select(col("vec_id"),
        element_at(col("nbrs"), 1).getField("id").as("neighbor_id"),
        floor(element_at(col("nbrs"), 1).getField("score") * 1000000d)
          .cast("long").as("cos1_ppm"),
        aggregate(col("nbrs"), lit(0L), (acc, nb) =>
          acc + floor(nb.getField("score") * 1000000d).cast("long"))
          .as("sum_ppm"))
      .localCheckpoint(true) // n-bounded
    topk.as("x")
      .join(topk.select(col("vec_id").as("nid"), col("sum_ppm").as("sum_y"))
        .as("y"), col("x.neighbor_id") === col("y.nid"))
      .where(col("cos1_ppm") > 0 && col("sum_ppm") + col("sum_y") > 0)
      .select(col("vec_id"), col("neighbor_id"), col("cos1_ppm"),
        expr(s"(cos1_ppm * ${2 * KnnK} * 1000000) div (sum_ppm + sum_y)")
          .as("margin_ppm"))
      .orderBy(col("margin_ppm").desc, col("vec_id")).limit(20)
  }

  def knnMarginSql(radius: Int = KnnProbeRadiusDefault): String =
    s"""WITH $knnRingCtes,
       |nrm AS MATERIALIZED (SELECT vec_id,
       |    CAST(list_sum(list_transform(list_zip(embedding, embedding),
       |      p -> $QDot)) AS BIGINT) AS nrm
       |  FROM embeddings),
       |cscored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |         ELSE CAST(list_sum(list_transform(
       |             list_zip(a.embedding, b.embedding), p -> $QDot)) AS DOUBLE)
       |           / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
       |    END AS cosine
       |  FROM embeddings a JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id
       |  JOIN nrm na ON na.vec_id = a.vec_id
       |  JOIN nrm nb ON nb.vec_id = b.vec_id),
       |ranked AS (SELECT vec_id, neighbor_id,
       |    CAST(floor(cosine * 1000000) AS BIGINT) AS c_ppm,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM cscored WHERE cosine IS NOT NULL),
       |topk AS (SELECT vec_id, neighbor_id, c_ppm, rank
       |  FROM ranked WHERE rank <= $KnnK),
       |agg AS (SELECT vec_id,
       |    CAST(sum(c_ppm) AS BIGINT) AS sum_ppm,
       |    CAST(max(CASE WHEN rank = 1 THEN neighbor_id END) AS BIGINT)
       |      AS neighbor_id,
       |    CAST(max(CASE WHEN rank = 1 THEN c_ppm END) AS BIGINT) AS cos1_ppm
       |  FROM topk GROUP BY vec_id HAVING count(*) = $KnnK)
       |SELECT x.vec_id, x.neighbor_id, x.cos1_ppm,
       |  CAST((x.cos1_ppm * ${2 * KnnK} * 1000000)
       |    // (x.sum_ppm + y.sum_ppm) AS BIGINT) AS margin_ppm
       |FROM agg x JOIN agg y ON y.vec_id = x.neighbor_id
       |WHERE x.cos1_ppm > 0 AND x.sum_ppm + y.sum_ppm > 0
       |ORDER BY margin_ppm DESC, x.vec_id LIMIT 20""".stripMargin

  /** The serving re-aggregation: edge partials → final ranked top-k
    * rows (shared by the full serve and the pruned lookup).
    */
  private def knnServe(edges: DataFrame): DataFrame =
    edges
      .groupBy("vec_id")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("score").cast("double"), col("neighbor_id")).as("nbrs"))
      .select(col("vec_id"), posexplode(col("nbrs")).as(Seq("pos", "nb")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("nb.id").as("neighbor_id"), col("nb.score").cast("long").as("score"))
      .orderBy("vec_id", "rank")

  private[operators] def knnGraphAt(spark0: SparkSession, layout: String): DataFrame = {
    val n = spark0.read.parquet(s"$layout/vecs").count()
    val spark = knnSession(spark0, n)
    knnServe(knnReadPartials(spark, layout, "edges"))
  }

  /** Fixed query ids for the registered lookup (the [[annBatchLookup]]
    * convention: ids that exist at every SF, shared with the oracle by
    * value).
    */
  private[operators] val KnnLookupIds = Seq(0L, 1L, 2L)

  /** SERVING LOOKUP — "neighbors of these vectors" without touching
    * the rest of the graph: the edges relation is dir-keyed by
    * pmod(vec_id), so a q-id lookup lists ≤ q partition directories
    * (plan-pinned PartitionFilters) and re-aggregates only those
    * vectors' partials — the [[annBatchLookup]] discipline applied to
    * the graph. At 10⁹ vectors a 3-id lookup reads 3/64ths of the
    * edge bytes at worst (one folded dir each), never the corpus.
    */
  def knnLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val layout = knnLayout(spark, sfDir)
    knnLookupAt(spark, layout, KnnLookupIds)
  }

  private[operators] def knnLookupAt(spark0: SparkSession, layout: String,
      ids: Seq[Long]): DataFrame = {
    val spark = spark0.newSession() // bounded groups — no threshold raise needed
    val kbs = ids.map(id => (((id % KnnDirBuckets) + KnnDirBuckets) % KnnDirBuckets).toInt)
    // the kb/vec_id filters push below the tombstone anti-join's
    // probe side, so the PartitionFilters dir-pruning is unchanged
    knnServe(knnReadPartials(spark, layout, "edges")
      .where(col("kb").isin(kbs.distinct: _*) && col("vec_id").isin(ids: _*)))
  }

  /** DuckDB replay: the full scan top-k restricted to the probe ids
    * (restricting the probe side before ranking ≡ filtering the
    * served graph — per-vector top-k is independent across vectors).
    */
  def knnLookupSql(radius: Int = KnnProbeRadiusDefault): String =
    s"""WITH $knnRingCtes,
       |scored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings a JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id IN (${KnnLookupIds.mkString(", ")})),
       |ranked AS (SELECT vec_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored WHERE score IS NOT NULL)
       |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, score
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY vec_id, rank""".stripMargin

  /** The REGISTERED q_knn_outliers — same verdict math as the scan
    * twin [[knnOutliers]], SERVED from the layout's cosine partials:
    * one bounded top-k re-aggregation (the k-th merged cosine IS the
    * k-th ring cosine — top-k of a union = top-k of per-part top-ks),
    * the under-populated-ring sentinel falling out of a merged list
    * shorter than k, and the spine read off the standing `vecs`. No
    * candidate generation, no float-vector scan: the r14 probe
    * measured the ring-rescanning form at 126 s on the 128× fold
    * where the graph served in 1.5 — this closes that gap.
    */
  def knnOutliersIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val layout = knnLayout(spark, sfDir)
    knnOutliersAt(spark, layout)
  }

  private[operators] def knnOutliersAt(spark0: SparkSession, layout: String): DataFrame = {
    val n = spark0.read.parquet(s"$layout/vecs").count()
    val spark = knnSession(spark0, n)
    val kth = knnReadPartials(spark, layout, "cedges")
      .groupBy("vec_id")
      .agg(graft.functions.TopKPairs.topK(KnnK,
        col("cosine"), col("neighbor_id")).as("nbrs"))
      .select(col("vec_id"),
        when(size(col("nbrs")) === KnnK,
          element_at(col("nbrs"), KnnK).getField("score"))
          .otherwise(lit(-2d)).as("knn_cos"))
    knnReadVecs(spark, layout).select("vec_id")
      .join(kth, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("knn_cos"), lit(-2d)).as("knn_cos"))
      .orderBy(col("knn_cos"), col("vec_id"))
      .limit(20)
  }

  // --------------------------------------------- knn duplicate clusters
  /** Cosine floor for a mutual-knn edge to count as a duplicate-
    * cluster edge. On this corpus the mutual-pair cosine distribution
    * tops out ≈0.51 with a 0.9-quantile ≈0.34, so 0.35 keeps the
    * strong tail (true near-neighbor structure) and drops the bulk —
    * a production pipeline tunes this against its own embedding
    * space, as with [[SemDedupTau]].
    */
  private val KnnClusterTau = 0.35

  /** Connected-component duplicate clusters over the knn GRAPH — the
    * SemDeDup-graph/diversity consumer the graph primitive exists
    * for: an edge is a MUTUAL top-[[KnnK]] pair (each inside the
    * other's neighbor list — the standard symmetrization that prunes
    * hub-induced false edges) whose cosine clears [[KnnClusterTau]];
    * components get the min-vec_id label via the SAME machinery as
    * [[DedupQueries.dedupClusters]] (driver union-find under the
    * maxResultSize-derived ceiling, distributed min-label propagation
    * past it). Reads the STANDING layout ([[knnLayout]]): the served
    * top-k relation plus the vecs norms — never a fresh candidate
    * generation. Edge count is bounded by k·n/2 before the floor and
    * by true duplication after it — the dedupClusters pair-graph
    * contract.
    */
  /** The shared EDGE relation of the graph consumers ([[knnClusters]],
    * [[knnCentrality]]): mutual top-k pairs above the cosine floor,
    * (doc_a < doc_b), materialized — detection-output-sized (≤ k·n/2
    * before the floor, bounded by true neighbor structure after it).
    */
  private[operators] def knnMutualEdges(spark: SparkSession, sfDir: String): DataFrame =
    knnMutualEdgesAt(spark, knnLayout(spark, sfDir))

  /** The fresh DERIVATION of the mutual relation from a layout's
    * edges + vecs — the build body of the standing `mutual` dir and
    * the parity twin the spec pins the dir against.
    */
  private[operators] def knnMutualEdgesAt(spark: SparkSession,
      layout: String): DataFrame = {
    // materialized: the mutual check self-joins the served top-k, and
    // an unmaterialized plan would run the serving re-aggregation once
    // per join side (the knnRing discipline; k·n bounded rows)
    val topk = knnGraphAt(spark, layout)
      .select(col("vec_id").as("a"), col("neighbor_id").as("b"), col("score"))
      .localCheckpoint(true)
    val mutual = topk.as("x")
      .join(topk.select(col("b").as("a"), col("a").as("b")).as("y"),
        Seq("a", "b"), "left_semi")
      .where(col("a") < col("b"))
    val nrm = knnReadVecs(spark, layout).select("vec_id", "nrm")
    mutual
      .join(nrm.select(col("vec_id").as("a"), col("nrm").as("na")), Seq("a"))
      .join(nrm.select(col("vec_id").as("b"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cosine",
        when(col("na") === 0 || col("nb") === 0, lit(0d)).otherwise(
          col("score").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))))
      .where(col("cosine") >= KnnClusterTau)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .localCheckpoint(true) // detection output — pair-bounded
  }

  // ---------------------------- derived standing relations (knn_v4)
  /** Drop the derived `mutual`/`ranks` state — marker FIRST (a
    * consumer racing the drop sees "absent", never a torn dir), then
    * the dirs. Called by every edge mutation (build, append) and
    * idempotent, so appends may call it unconditionally.
    */
  private def knnDropDerived(layout: String): Unit = {
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_DERIVED_OK"))
    graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/mutual"))
    graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/ranks"))
    graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/mutual_next"))
    graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/ranks_next"))
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/derived_delta"))
  }

  /** INVALIDATE the derived relations without discarding them — the
    * marker deletes (consumers see "absent" from this instant), the
    * dirs STAY as the splice input for the incremental
    * re-derivation, and the mutating operation records its changed
    * ids under `derived_delta/` BEFORE touching any list (delta-first
    * ordering: a crash after the delta but before the change is a
    * harmless over-approximation; the reverse would let a splice
    * trust lists it doesn't know moved).
    */
  private def knnInvalidateDerived(layout: String): Unit = {
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_DERIVED_OK"))
    ()
  }

  private val KnnMutualSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_a",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("doc_b",
      org.apache.spark.sql.types.LongType)))

  private val KnnRanksSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("r",
      org.apache.spark.sql.types.LongType)))

  /** Ensure the layout's DERIVED standing relations — `mutual` (the
    * symmetrized, cosine-floored edge pairs) and `ranks` (the
    * converged integer PageRank) — exist for the current edge
    * generation, building BOTH from one derivation pass when absent.
    * This is the r14 economy fix: the three graph consumers
    * ([[knnClusters]], [[knnCentrality]], [[knnRepresentatives]])
    * each re-derived these per invocation (serve re-aggregation +
    * self-join + 3 rank rounds — the two slowest bench queries);
    * now the derivation is paid once per edge generation and the
    * consumers read detection-output-sized parquet. Lifecycle: any
    * edge mutation ([[knnAppendAt]], [[knnForgetAt]]) drops the
    * MARKER first ([[knnInvalidateDerived]]) and records its changed
    * ids under `derived_delta/` before touching any list, so this
    * ensure usually SPLICES ([[knnSpliceDerived]] —
    * append-proportional) instead of re-deriving the whole graph;
    * a rebuild ([[buildKnn]]) full-drops everything
    * ([[knnDropDerived]]). Compaction leaves derived state (served
    * rows are compaction-invariant, so derived rows are too); the
    * `_DERIVED_OK` marker writes LAST, so a crashed build or splice
    * reads as absent and re-runs. Maintenance stays one-writer per
    * layout; CONSUMER-triggered derivation additionally rides the
    * [[knnDerivedReady]] O_EXCL claim, because readers are not under
    * the maintainer's writer contract.
    */
  private[graft] def knnEnsureDerived(spark: SparkSession,
      layout: String): Boolean = {
    val ok = java.nio.file.Paths.get(layout, "_DERIVED_OK")
    if (java.nio.file.Files.exists(ok)) return false
    // INCREMENTAL path: a previous derived generation stands and the
    // mutations since recorded their changed ids — splice instead of
    // re-deriving the whole graph. Any missing precondition (first
    // build, a crash that took a dir, a delta-less invalidation)
    // falls back to the full derivation — the splice is an economy,
    // never a correctness dependency.
    val mOk = java.nio.file.Files.exists(
      java.nio.file.Paths.get(layout, "mutual/_SUCCESS"))
    val rOk = java.nio.file.Files.exists(
      java.nio.file.Paths.get(layout, "ranks/_SUCCESS"))
    val delta = graft.GraftSession.tombstonesIn(spark,
      java.nio.file.Paths.get(layout, "derived_delta"), "vec_id")
    val spliced = mOk && rOk && delta.isDefined && {
      // ADAPTIVE: the splice's economy needs the delta to be a small
      // corpus fraction. A ring-spanning mutation (|batch|·(p+1) ≳
      // 2^p buckets — any realistic batch at probe SFs, never a
      // realistic batch at the 10⁹ regime where 2^p ≈ 16M) marks
      // most of the corpus affected, and then the filtered scans
      // touch everything the full derivation touches PLUS the
      // splice's own overhead (measured: SPLICE_PROBE_r15). Past
      // half the corpus, re-deriving is strictly cheaper.
      val dN = delta.get.count()
      val n = spark.read.parquet(s"$layout/vecs").count()
      dN * 2 < n
    }
    if (spliced) {
      knnSpliceDerived(spark, layout)
    } else {
      graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/mutual"))
      graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/ranks"))
      graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/mutual_next"))
      graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/ranks_next"))
      graft.GraftSession.deleteRec(
        java.nio.file.Paths.get(s"$layout/derived_delta"))
      val pairs = knnMutualEdgesAt(spark, layout)
      pairs.write.mode("overwrite").parquet(s"$layout/mutual")
      knnRanksFrom(pairs).write.mode("overwrite").parquet(s"$layout/ranks")
    }
    java.nio.file.Files.writeString(ok, "1")
    spliced
  }

  /** SPLICE the derived relations forward — the append-proportional
    * maintenance the full derivation's economics call for at scale:
    * a full re-derivation re-aggregates ALL n vectors' lists and
    * self-joins k·n rows per invalidation, but only the vectors in
    * the recorded delta (new ∪ affected ∪ forgotten — every id whose
    * served list can have moved since the last valid generation)
    * changed. Pairs with NEITHER endpoint in the delta are unchanged
    * by construction (both lists untouched), so they carry over from
    * the standing `mutual`; every mutual pair with ≥1 endpoint in the
    * delta is re-enumerated from the delta side's fresh lists (one
    * edges scan filtered to ≤|Δ| groups) with the reverse-membership
    * check against the listed partners' lists (a second filtered
    * scan, ≤k·|Δ| groups) — the same cosine-floor arithmetic as the
    * full derivation, tombstone-filtered through the shared reads.
    * `ranks` then recomputes whole from the spliced mutual: PageRank
    * is global, but the mutual relation is detection-output-sized, so
    * the recompute is the cheap leg. Swap is staged (next dirs write
    * fully, then replace): a crash mid-swap leaves either a
    * re-spliceable state (marker absent, delta kept — the splice is
    * idempotent because the delta still covers every moved list) or
    * a missing dir, which the caller's precondition turns into a full
    * rebuild. The delta clears ONLY after both swaps.
    */
  private[operators] def knnSpliceDerived(spark0: SparkSession,
      layout: String): Unit = {
    val n = spark0.read.parquet(s"$layout/vecs").count()
    val spark = knnSession(spark0, n)
    val a = graft.GraftSession.tombstonesIn(spark,
      java.nio.file.Paths.get(layout, "derived_delta"), "vec_id")
      .get.localCheckpoint(true) // re-read under the scoped session
    val edges = knnReadPartials(spark, layout, "edges")
    val topkA = knnServe(
        edges.join(broadcast(a), Seq("vec_id"), "left_semi"))
      .select(col("vec_id").as("a"), col("neighbor_id").as("b"), col("score"))
      .localCheckpoint(true) // ≤ k·|Δ| rows
    val xids = topkA.select(col("b").as("vec_id")).distinct()
      .localCheckpoint(true)
    // the reverse side: the listed partners' own lists (reversed
    // columns so the mutual check is one semi join on (a, b))
    val topkX = knnServe(
        edges.join(broadcast(xids), Seq("vec_id"), "left_semi"))
      .select(col("vec_id").as("b"), col("neighbor_id").as("a"))
    val mutualA = topkA.join(topkX, Seq("a", "b"), "left_semi")
    val nrm = knnReadVecs(spark, layout).select("vec_id", "nrm")
    val fresh = mutualA
      .join(nrm.select(col("vec_id").as("a"), col("nrm").as("na")), Seq("a"))
      .join(nrm.select(col("vec_id").as("b"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cosine",
        when(col("na") === 0 || col("nb") === 0, lit(0d)).otherwise(
          col("score").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))))
      .where(col("cosine") >= KnnClusterTau)
      // a both-in-delta pair enumerates from each side: canonical form
      // + distinct collapses it to the stored one-row shape
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
      .distinct()
    val keepOld = knnMutualRead(spark, layout)
      .join(broadcast(a.select(col("vec_id").as("doc_a"))),
        Seq("doc_a"), "left_anti")
      .join(broadcast(a.select(col("vec_id").as("doc_b"))),
        Seq("doc_b"), "left_anti")
    val mutualNew = keepOld.unionByName(fresh)
      .localCheckpoint(true) // detection-output-sized
    val ranksNew = knnRanksFrom(mutualNew)
    mutualNew.write.mode("overwrite").parquet(s"$layout/mutual_next")
    ranksNew.write.mode("overwrite").parquet(s"$layout/ranks_next")
    for (d <- Seq("mutual", "ranks")) {
      graft.GraftSession.deleteRec(java.nio.file.Paths.get(s"$layout/$d"))
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$layout/${d}_next"),
        java.nio.file.Paths.get(s"$layout/$d"))
    }
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/derived_delta"))
  }

  /** Read a derived relation with its EXPLICIT schema: an
    * all-vectors-isolated corpus derives an EMPTY mutual relation,
    * and schema inference over a zero-row parquet dir throws.
    */
  private[operators] def knnMutualRead(spark: SparkSession,
      layout: String): DataFrame =
    spark.read.schema(KnnMutualSchema).parquet(s"$layout/mutual")

  private[operators] def knnRanksRead(spark: SparkSession,
      layout: String): DataFrame =
    spark.read.schema(KnnRanksSchema).parquet(s"$layout/ranks")

  /** Claim-guarded ensure — the CONSUMER-side concurrency fix for the
    * derive/splice: the maintenance tier is one-writer by contract,
    * but derivation is READER-triggered, so two consumers that both
    * see `_DERIVED_OK` absent would both derive and race the
    * non-atomic `mutual`/`ranks` swap. The derivation now runs under
    * an O_EXCL claim dir (the [[graft.GraftSession.claimStage]]
    * primitive): exactly one consumer derives; returns whether the
    * standing dirs are ready to read. A loser (claim held elsewhere)
    * gets `false` and serves the in-memory parity twin instead of
    * waiting — correct by the spec-pinned twin equality, just not
    * cached. The claim clears in `finally` (a thrown derivation
    * re-runs next time — marker-last already makes that safe); only a
    * hard JVM kill leaves it, which `gcLayouts` reports with the
    * other crashed stages and whose delete-to-retry belongs to the
    * operator.
    */
  private[graft] def knnDerivedReady(spark: SparkSession,
      layout: String): Boolean = {
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(layout, "_DERIVED_OK"))) return true
    val claim = java.nio.file.Paths.get(layout, ".derive_stage")
    try java.nio.file.Files.createDirectory(claim)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => return false
    }
    try { knnEnsureDerived(spark, layout); true }
    finally graft.GraftSession.deleteRec(claim)
  }

  /** The derived relations a consumer reads: (mutual, ranks) from the
    * standing dirs after a claim-guarded ensure, or the fresh
    * in-memory derivation (parity twin, spec-pinned equal) when
    * another consumer holds the derive claim.
    */
  private def knnDerivedFor(spark: SparkSession,
      layout: String): (DataFrame, DataFrame) =
    if (knnDerivedReady(spark, layout))
      (knnMutualRead(spark, layout), knnRanksRead(spark, layout))
    else {
      val pairs = knnMutualEdgesAt(spark, layout)
      (pairs.select("doc_a", "doc_b"), knnRanksFrom(pairs))
    }

  def knnClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val layout = knnLayout(spark, sfDir)
    knnClustersFrom(spark, knnDerivedFor(spark, layout)._1)
  }

  private def knnClustersFrom(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val nEdges = pairs.count()
    val out =
      if (nEdges <= DedupQueries.unionFindMaxEdges(spark))
        DedupQueries.unionFindClusters(pairs)
      else DedupQueries.distributedClusters(pairs)
    out.select(col("doc_id").as("vec_id"), col("cluster_id")).orderBy("vec_id")
  }

  /** The [[knnMutualEdges]] SQL twin — shared prologue of the graph
    * consumers' oracles: ring, scan top-k, mutual symmetrization,
    * cosine floor, ending in `prs` (a < b) and the both-direction
    * `edges` (src, dst).
    */
  private def knnMutualCtes(radius: Int): String =
    s"""$knnRingCtes,
       |nrm AS MATERIALIZED (SELECT vec_id,
       |    CAST(list_sum(list_transform(list_zip(embedding, embedding), p -> $QDot)) AS BIGINT) AS nrm
       |  FROM embeddings),
       |scored AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings a JOIN buckets ba ON ba.vec_id = a.vec_id
       |  JOIN buckets bb ON bit_count(xor(ba.bucket, bb.bucket)) <= $radius
       |  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id),
       |ranked AS (SELECT vec_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored WHERE score IS NOT NULL),
       |topk AS (SELECT vec_id, neighbor_id, score FROM ranked WHERE rank <= $KnnK),
       |mutual AS (SELECT x.vec_id AS a, x.neighbor_id AS b, x.score
       |  FROM topk x JOIN topk y
       |    ON y.vec_id = x.neighbor_id AND y.neighbor_id = x.vec_id
       |  WHERE x.vec_id < x.neighbor_id),
       |prs AS MATERIALIZED (SELECT m.a, m.b
       |  FROM mutual m JOIN nrm na ON na.vec_id = m.a
       |  JOIN nrm nb ON nb.vec_id = m.b
       |  WHERE (CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |         ELSE CAST(m.score AS DOUBLE)
       |           / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) END)
       |    >= $KnnClusterTau),
       |edges AS (SELECT a AS src, b AS dst FROM prs
       |          UNION ALL SELECT b, a FROM prs)""".stripMargin

  /** DuckDB replay: the shared mutual-edge prologue, then transitive
    * closure via the recursive min-label walk
    * ([[DedupQueries.dedupClustersSql]]'s closure shape).
    */
  def knnClustersSql(radius: Int = KnnProbeRadiusDefault): String =
    s"""WITH RECURSIVE ${knnMutualCtes(radius)},
       |walk(id, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id)
       |SELECT id AS vec_id, CAST(min(lab) AS BIGINT) AS cluster_id
       |FROM walk GROUP BY id ORDER BY vec_id""".stripMargin

  // ----------------------------------------------- knn centrality
  private val KnnPrIters = 3
  private val KnnPrTop = 20

  /** HUB SCORING over the knn graph — degree-normalized PageRank on
    * the mutual edges, the "which document is the REPRESENTATIVE of
    * its similarity region" readout that complements
    * [[knnClusters]]'s components (canonical-pick by connectivity
    * instead of source priority) and [[knnOutliers]]'s isolation
    * score. INTEGER-EXACT end to end (the drift-kernel discipline):
    * ranks in ppm, contribution = rank div degree, damping as the
    * exact rational 850/1000 via BIGINT floor division — no float
    * accumulation whose merge order could differ between engines —
    * so the unrolled DuckDB replay agrees bit for bit. [[KnnPrIters]]
    * rounds from a uniform start; nodes are the edge relation's
    * vertices (an isolated vector has no similarity region to
    * represent). Each round is one equi-join + one map-side-combining
    * sum over the detection-output-sized edge relation — at 10⁹
    * vectors that is ≤ k·n bounded rows per round, shuffled on ids,
    * never a corpus rescan. Reports the [[KnnPrTop]] most central.
    */
  /** The converged (vec_id, r) rank relation — the fresh derivation
    * (the standing `ranks` dir's build body and parity twin).
    */
  private[operators] def knnRanksFrom(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var rank = deg.select(col("src").as("vec_id"), lit(1000000L).as("r"))
      .localCheckpoint(true)
    var it = 0
    while (it < KnnPrIters) {
      // every vertex has ≥1 incoming edge (the relation is symmetric),
      // so the update needs no outer join for rank-less nodes
      val next = edges
        .join(deg, "src")
        .join(rank.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
        .select(col("dst").as("vec_id"),
          (lit(150000L) + expr("(850 * s) div 1000")).as("r"))
        .localCheckpoint(true) // plan must not grow with the iteration
      rank.unpersist(false)
      rank = next
      it += 1
    }
    rank
  }

  def knnCentrality(spark: SparkSession, sfDir: String): DataFrame = {
    val layout = knnLayout(spark, sfDir)
    knnDerivedFor(spark, layout)._2
      .select(col("vec_id"), col("r").as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("vec_id"))
      .limit(KnnPrTop)
  }

  /** DuckDB replay: the shared mutual-edge prologue + [[KnnPrIters]]
    * UNROLLED rank rounds (the Lloyd-replay discipline — same BIGINT
    * floor divisions, same damping rational).
    */
  def knnCentralitySql(radius: Int = KnnProbeRadiusDefault): String = {
    val steps = (0 until KnnPrIters).map { i =>
      s"""r${i + 1} AS (SELECT e.dst AS v,
         |    CAST(150000 + (850 * sum(r.r // d.deg)) // 1000 AS BIGINT) AS r
         |  FROM edges e JOIN deg d ON d.src = e.src
         |  JOIN r$i r ON r.v = e.src GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${knnMutualCtes(radius)},
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$steps
       |SELECT v AS vec_id, r AS rank_ppm FROM r$KnnPrIters
       |ORDER BY rank_ppm DESC, vec_id LIMIT $KnnPrTop""".stripMargin
  }

  // ------------------------------------------ knn representatives
  /** CANONICAL PICK BY CONNECTIVITY — the graph-curation pipeline's
    * last stage composed from its parts: per duplicate component
    * ([[knnClusters]]), keep the member with the highest hub score
    * ([[knnCentrality]]'s full ranking, not just its top report),
    * min vec_id on ties. Where [[DedupQueries.canonicalPick]] chooses
    * by source PRIORITY, this chooses by POSITION IN THE SIMILARITY
    * GRAPH — the member best connected to its region is the most
    * representative copy to keep. One broadcast-sized join of two
    * detection-output relations; reports every component with its
    * size, keeper, and the keeper's rank.
    */
  def knnRepresentatives(spark: SparkSession, sfDir: String): DataFrame = {
    // both legs read the DERIVED standing relations — one
    // claim-guarded layout ensure, zero fresh derivations (unless a
    // concurrent consumer holds the claim, when both legs twin)
    val layout = knnLayout(spark, sfDir)
    val (mutual, rank) = knnDerivedFor(spark, layout)
    val clusters = knnClustersFrom(spark, mutual)
    // every clustered vector is an edge vertex (clusters derive from
    // the same edge relation), so the join is total
    clusters.join(rank, "vec_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("r"), (-col("vec_id")).as("nid"))).as("w"))
      .select(col("cluster_id"), col("n_members"),
        (-col("w.nid")).as("keep_vec_id"), col("w.r").as("keep_rank_ppm"))
      .orderBy("cluster_id")
  }

  /** DuckDB replay: the shared prologue + the clusters walk + the
    * unrolled rank rounds + an argmax with the same tie rule (max
    * rank, then min id — expressed as max(r, -vec_id)).
    */
  def knnRepresentativesSql(radius: Int = KnnProbeRadiusDefault): String = {
    val steps = (0 until KnnPrIters).map { i =>
      s"""r${i + 1} AS (SELECT e.dst AS v,
         |    CAST(150000 + (850 * sum(r.r // d.deg)) // 1000 AS BIGINT) AS r
         |  FROM edges e JOIN deg d ON d.src = e.src
         |  JOIN r$i r ON r.v = e.src GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE ${knnMutualCtes(radius)},
       |walk(id, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id),
       |clusters AS (SELECT id AS vec_id, CAST(min(lab) AS BIGINT) AS cluster_id
       |  FROM walk GROUP BY id),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$steps,
       |joined AS (SELECT c.cluster_id, c.vec_id, r.r
       |  FROM clusters c JOIN r$KnnPrIters r ON r.v = c.vec_id),
       |best AS (SELECT cluster_id, vec_id, r,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY r DESC, vec_id) AS rn
       |  FROM joined),
       |tot AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
       |  FROM joined GROUP BY 1)
       |SELECT t.cluster_id, t.n_members, b.vec_id AS keep_vec_id,
       |  b.r AS keep_rank_ppm
       |FROM tot t JOIN best b ON b.cluster_id = t.cluster_id AND b.rn = 1
       |ORDER BY t.cluster_id""".stripMargin
  }

  // ------------------------------------------- random-projection ANN
  private val RpDims = 8

  /** Deterministic ±1 Rademacher projection matrix (Achlioptas 2001 —
    * the database-friendly Johnson–Lindenstrauss construction): sign
    * (j,i) from md5, shared with the oracle by recipe.
    */
  private[operators] def rpSigns: Array[Array[Long]] =
    Array.tabulate(RpDims, 64) { (j, i) =>
      if (md5LongLocal(s"rp:$j,$i") % 2 == 0) 1L else -1L
    }

  /** Johnson–Lindenstrauss random-projection ANN: every 64-dim vector
    * is projected to [[RpDims]] integer coordinates (quantized vector
    * · ±1 sign row — [[graft.functions.QuantDot]], so each coordinate
    * is one codegen'd kernel call), and the top-10 neighbors of the
    * query are ranked by squared L2 distance in the PROJECTED space.
    * JL says the 8-dim distances preserve relative distances within
    * (1±ε); the payoff at 100 TB is the index footprint — 64 bytes per
    * vector instead of 256, so the distance scan touches 4× less data
    * and the projected relation fits memory tiers the raw vectors
    * can't. This is the third compression point on the ANN accuracy
    * axis (exact scan > PQ codes > JL projection), complementing the
    * *partition*-pruning family (LSH buckets, IVF cells): projection
    * shrinks bytes-per-candidate, bucketing shrinks candidates.
    *
    * All-integer math end to end (quantized components × ±1, exact
    * int64 sums and squares — |coord| ≤ 64·10⁶ so squares stay far
    * under 2⁶³), hence bit-exact across engines and, unlike float
    * dots, independent of summation order.
    */
  def annRp(spark: SparkSession, sfDir: String): DataFrame = {
    val q = queryVec(spark, sfDir)
    val qQuant = q.map(x => math.floor(x * 1000000d).toLong)
    val qProj = rpSigns.map(s => s.indices.map(i => qQuant(i) * s(i)).sum)
    // quantDot quantizes BOTH operands, so the ±1 sign row enters as
    // ±10⁶ and the kernel's sum is 10⁶ × the projected coordinate.
    // Every term is an exact multiple of 10⁶ and the sum stays < 2⁵³,
    // so the double divide below is exact and the long coordinate
    // matches the oracle's unscaled Σ floor(10⁶·xᵢ)·sᵢ bit for bit.
    val dist = (0 until RpDims).map { j =>
      val coord = (quantDot(col("embedding"), typedLit(rpSigns(j).toSeq)) /
        lit(1000000d)).cast("long")
      val d = coord - lit(qProj(j))
      d * d
    }.reduce(_ + _)
    table(spark, sfDir, "embeddings")
      .select(col("vec_id"), dist.as("rp_dist"))
      .orderBy(col("rp_dist"), col("vec_id"))
      .limit(10)
  }

  def annRpSql: String =
    s"""WITH planes AS (SELECT j, i,
       |    CASE WHEN CAST('0x' || substr(md5('rp:' || CAST(j AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 14) AS BIGINT) % 2 = 0
       |         THEN 1 ELSE -1 END AS r
       |  FROM range($RpDims) t1(j), range(64) t2(i)),
       |proj AS (SELECT e.vec_id, p.j,
       |    CAST(sum(CAST(floor(CAST(e.embedding[p.i + 1] AS DOUBLE) * 1000000) AS BIGINT) * p.r) AS BIGINT) AS d
       |  FROM embeddings e, planes p GROUP BY 1, 2),
       |qp AS (SELECT j, d FROM proj WHERE vec_id = 0),
       |dist AS (SELECT proj.vec_id,
       |    CAST(sum((proj.d - qp.d) * (proj.d - qp.d)) AS BIGINT) AS rp_dist
       |  FROM proj JOIN qp ON proj.j = qp.j GROUP BY proj.vec_id)
       |SELECT vec_id, rp_dist FROM dist ORDER BY rp_dist, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------- hard-negative mining
  private val HnAnchors = 5
  private val HnK = 5

  /** Hard-negative mining for contrastive embedding training: for each
    * anchor vector, the top-k most-similar vectors carrying a DIFFERENT
    * label (the "hard" negatives — near the anchor in embedding space
    * but semantically distinct; random negatives are too easy to teach
    * a margin).
    *
    * Scale shape: the anchor set is tiny and broadcast, so the corpus
    * is scanned once and never shuffled as vectors — each row scores
    * against all anchors in-place, and only narrow (anchor, vec, score)
    * triples reach the per-anchor top-k. That top-k is a rank window,
    * which Catalyst rewrites to WindowGroupLimit: each map partition
    * keeps k rows per anchor BEFORE the exchange, so the shuffle
    * carries ≤ k·anchors·partitions rows regardless of corpus size.
    * Scores are quantized int64 dots (quantDot) — exact, order-
    * independent, bit-identical to the oracle.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = table(spark, sfDir, "embeddings")
    val anchors = emb.where(col("vec_id") < HnAnchors)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("score").desc, col("vec_id"))
    emb.join(broadcast(anchors), col("label") =!= col("a_label"))
      .select(col("anchor_id"), col("vec_id"),
        quantDot(col("embedding"), col("a_emb")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= HnK)
      .orderBy("anchor_id", "rnk")
  }

  def hardNegativesSql: String =
    s"""WITH a AS (SELECT vec_id AS anchor_id, embedding AS a_emb,
       |    label AS a_label FROM embeddings WHERE vec_id < $HnAnchors),
       |s AS (SELECT a.anchor_id, e.vec_id,
       |    CAST(list_sum(list_transform(list_zip(e.embedding, a.a_emb),
       |      p -> $QDot)) AS BIGINT) AS score
       |  FROM embeddings e, a WHERE e.label <> a.a_label),
       |r AS (SELECT anchor_id, vec_id, score,
       |    row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY score DESC, vec_id) AS rnk
       |  FROM s)
       |SELECT anchor_id, vec_id, score, rnk FROM r
       |WHERE rnk <= $HnK ORDER BY anchor_id, rnk""".stripMargin

  // --------------------------------------- label-centroid similarity
  /** Cross-label centroid similarity matrix: per-label component SUMS
    * of the quantized embeddings (integer-exact — the un-normalized
    * centroid), then pairwise dot products between labels. The
    * corpus-level "which classes live close together" audit that
    * decides stratification and hard-negative pools. Scale shape: the
    * per-(label, dim) sums reduce map-side to a labels×dims relation
    * (bounded, hundreds of rows), and the pairwise join runs on THAT,
    * never on vectors; one posexplode scan is the only
    * corpus-proportional work. Sum-dot magnitudes stay inside int64
    * for |q|≤10⁴, dims ≤ 128 and ≤ ~10⁹ vectors per label.
    */
  def labelCentroidSim(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = table(spark, sfDir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      // cast BEFORE the multiply: float×int would compute in FLOAT and
      // can round across an integer boundary differently than the
      // oracle's CAST(… AS DOUBLE) * 10000
      .agg(sum(floor(col("v").cast("double") * 10000).cast("long")).as("s"))
    val a = comp.select(col("label").as("label_a"), col("pos"), col("s").as("sa"))
    val b = comp.select(col("label").as("label_b"), col("pos"), col("s").as("sb"))
    a.join(b, Seq("pos"))
      .where(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("sa") * col("sb")).as("dot"))
      .orderBy("label_a", "label_b")
  }

  def labelCentroidSimSql: String =
    """WITH q AS (
      |  SELECT label, unnest(list_transform(generate_series(1, len(embedding)),
      |    i -> {'i': i,
      |          'q': CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)})) AS c
      |  FROM embeddings),
      |comp AS (
      |  SELECT label, c.i AS i, CAST(sum(c.q) AS BIGINT) AS s
      |  FROM q GROUP BY 1, 2)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  CAST(sum(a.s * b.s) AS BIGINT) AS dot
      |FROM comp a JOIN comp b ON a.i = b.i AND a.label < b.label
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
