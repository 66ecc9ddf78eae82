package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{SimilarityQueries, TextQueries}

/** Forget-tier scaling probe: measure what a deletion request COSTS
  * and what it does to serve latency as the corpus grows — the two
  * claims the tombstone design makes, answered with wall-clocks
  * instead of plan-reading:
  *
  *   1. Serving with pending tombstones is FLAT vs the clean serve at
  *      every fold: the anti-join broadcasts a people-scale relation,
  *      so its cost rides the serve's own scan, independent of corpus
  *      size.
  *   2. The forget itself — including the knn HEAL — is
  *      corpus-size-independent for a fixed cohort: the affected set
  *      is the victims' graph in-degree, and bucket populations pin
  *      to the corpus-derived target, so |affected| (reported beside
  *      the time) stays ~constant while the corpus grows k-fold.
  *
  * Folds are self-unions of the base sf dir (documents + embeddings;
  * the cohort lives in copy 0 only, so victims are identical across
  * folds), in probe-OWNED dirs — forget MUTATES layouts, so sharing
  * ScalingProbe's fold dirs would poison its artifacts. Each fold
  * stands up the inverted index and the knn layout, then times:
  * clean serve → forget (invindex: tombstones + stats delta; knn:
  * tombstones + heal) → tombstoned serve → compaction (the physical
  * delete) → compacted serve. Absent-victim guards assert the probe
  * measures a real forget, not a no-op.
  *
  * Usage: sbt "runMain graft.tools.ForgetProbe [maxK]"   (maxK ∈
  * {1,4,16,64}; 64 ≈ 320k docs / 128k vectors from sf0.1)
  */
object ForgetProbe {

  private def time(f: => Unit): Double = {
    val s = System.nanoTime()
    f
    (System.nanoTime() - s) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val maxK = args.headOption.map(_.toInt).getOrElse(16)
    val spark = GraftSession.session()
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ks = Seq(1, 4, 16, 64).filter(_ <= maxK)

    // the cohorts: the q_forget convention (% 97) over BASE ids, so
    // the same people-scale request hits every fold
    val docVictims = spark.read.parquet(s"$base/documents.parquet")
      .where(pmod(col("doc_id"), lit(97)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val vecVictims = spark.read.parquet(s"$base/embeddings.parquet")
      .where(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    for (k <- ks) {
      val dir =
        if (k == 1) {
          // fold 1 still needs probe-owned layouts (forget mutates):
          // copy the base tables into a probe dir
          val d = Paths.get(s"/tmp/graft_forgetprobe_1x")
          for (t <- Seq("documents", "embeddings")) {
            val out = d.resolve(s"$t.parquet")
            if (!Files.exists(out.resolve("_SUCCESS")))
              spark.read.parquet(s"$base/$t.parquet")
                .write.mode("overwrite").parquet(out.toString)
          }
          d.toString
        } else {
          val d = Paths.get(s"/tmp/graft_forgetprobe_${k}x")
          for (t <- Seq("documents", "embeddings")) {
            val idCol = if (t == "documents") "doc_id" else "vec_id"
            val out = d.resolve(s"$t.parquet")
            if (!Files.exists(out.resolve("_SUCCESS"))) {
              Files.createDirectories(d)
              val df = spark.read.parquet(s"$base/$t.parquet")
              (0 until k).map { i =>
                df.withColumn(idCol, col(idCol) + lit(i * 10000000L))
              }.reduce(_.unionByName(_))
                .write.mode("overwrite").parquet(out.toString)
            }
          }
          d.toString
        }

      // ---- inverted index
      def bm25Count(): Long = TextQueries.bm25Topk(spark, dir).count()
      bm25Count() // builds the layout; warm
      val invClean = time { bm25Count() }
      val invForget = time { TextQueries.invIndexForget(spark, dir, docVictims) }
      val servedIds = TextQueries.bm25Topk(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      require(!docVictims.exists(servedIds), "bm25 still serves a victim")
      val invTomb = time { bm25Count() }
      // pruned-compaction evidence: how many of the postings' tb dirs
      // the physical delete will rewrite (recorded on the tombstones
      // at forget time) vs how many stand
      val invLayout = s"${GraftSession.fixtureRoot(dir)}/invindex_v2"
      val invDirty = spark.read.parquet(s"$invLayout/tombstones")
        .where(col("tb").isNotNull).select("tb").distinct().count()
      val invDirs = {
        val l = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$invLayout/postings"))
        try l.filter(p => p.getFileName.toString.startsWith("tb=")).count()
        finally l.close()
      }
      val invCompact = time { TextQueries.invIndexCompact(spark, dir) }
      val invAfter = time { bm25Count() }
      rows += s"""{"fold":$k,"layout":"invindex","victims":${docVictims.size},""" +
        s""""dirty_dirs":$invDirty,"total_dirs":$invDirs,""" +
        f""""serve_clean_s":$invClean%.2f,"forget_s":$invForget%.2f,""" +
        f""""serve_tombstoned_s":$invTomb%.2f,"compact_s":$invCompact%.2f,""" +
        f""""serve_compacted_s":$invAfter%.2f}"""

      // ---- knn graph
      val layout = SimilarityQueries.knnLayoutPath(dir)
      def graphCount(): Long = SimilarityQueries.knnGraphIndexed(spark, dir).count()
      graphCount() // builds the layout; warm
      val knnClean = time { graphCount() }
      // the affected set the heal will touch: survivors with a
      // standing partial row pointing at any victim (raw read — the
      // same relation knnHealAt derives)
      val affected = spark.read.parquet(s"$layout/edges")
        .where(col("neighbor_id").isin(vecVictims: _*))
        .select("vec_id").distinct().count()
      val knnForgetT = time { SimilarityQueries.knnForget(spark, dir, vecVictims) }
      val g = SimilarityQueries.knnGraphIndexed(spark, dir)
        .where(col("vec_id").isin(vecVictims: _*) ||
          col("neighbor_id").isin(vecVictims: _*)).count()
      require(g == 0L, "knn graph still serves a victim row")
      val knnTomb = time { graphCount() }
      // pruned-compaction evidence: the edge rewrite touches the ID
      // fold of victims ∪ affected (≤64 dirs); vecs touch the
      // victims' recorded bucket fold
      val affectedIds = spark.read.parquet(s"$layout/edges")
        .where(col("neighbor_id").isin(vecVictims: _*))
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSeq
      val knnDirtyE = (vecVictims ++ affectedIds).map(_ % 64).distinct.size
      val knnDirtyV = spark.read.parquet(s"$layout/tombstones")
        .where(col("kb").isNotNull).select("kb").distinct().count()
      val knnCompact = time { SimilarityQueries.knnCompact(spark, dir) }
      val knnAfter = time { graphCount() }
      rows += s"""{"fold":$k,"layout":"knn","victims":${vecVictims.size},""" +
        s""""affected":$affected,""" +
        s""""dirty_edge_dirs":$knnDirtyE,"dirty_vec_dirs":$knnDirtyV,"total_dirs":64,""" +
        f""""serve_clean_s":$knnClean%.2f,"forget_heal_s":$knnForgetT%.2f,""" +
        f""""serve_tombstoned_s":$knnTomb%.2f,"compact_s":$knnCompact%.2f,""" +
        f""""serve_compacted_s":$knnAfter%.2f}"""

      // the SINGLE-victim leg — the GDPR-shaped common case the
      // pruned compaction exists for: one request, one victim, the
      // physical delete rewrites the victim's own kb dir plus its
      // in-degree's dirs — a bounded fraction of the 64-dir fan-out,
      // where the pre-r16 compaction rewrote the whole layout
      val one = spark.read.parquet(s"$layout/vecs")
        .select("vec_id").orderBy(col("vec_id").desc)
        .head.getLong(0)
      val aff1 = spark.read.parquet(s"$layout/edges")
        .where(col("neighbor_id") === one)
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSeq
      val dirty1 = ((one +: aff1).map(_ % 64).distinct.size)
      val forget1 = time { SimilarityQueries.knnForget(spark, dir, Seq(one)) }
      val compact1 = time { SimilarityQueries.knnCompact(spark, dir) }
      rows += s"""{"fold":$k,"layout":"knn_single","victims":1,""" +
        s""""affected":${aff1.size},"dirty_edge_dirs":$dirty1,"total_dirs":64,""" +
        f""""forget_heal_s":$forget1%.2f,"compact_s":$compact1%.2f}"""
    }

    println(s"""{"probe":"forget","base":"$base","folds":[${ks.mkString(",")}],""" +
      s""""rows":[${rows.mkString(",")}],""" +
      """"caveat":"self-union folds: victims live in copy 0 only, so the """ +
      """cohort is fixed while the corpus grows; affected = victims' """ +
      """in-degree in the edge partials (bucket populations pin to the """ +
      """corpus-derived target, so expect ~flat); serve timings are """ +
      """full-graph counts, so clean serve itself grows with the fold """ +
      """while the tombstoned-minus-clean DELTA is the claim under test"}""")
    spark.stop()
  }
}
