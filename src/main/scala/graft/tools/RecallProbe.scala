package graft.tools

import graft.GraftSession
import graft.operators.SimilarityQueries

/** Scratch diagnostic: recall@10 of annIvfPq vs the exact scan per
  * sf, plus the knn GRAPH's edge recall vs exact all-pairs top-k —
  * the honesty number behind the multi-probe LSH blocking (exact
  * duplicates always share a bucket so planted-dup recall is pinned
  * 1.0 in spec; THIS measures recall on the natural corpus's true
  * neighbors, which the blocking trades against candidate cost).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.session(8)
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { s =>
      val dir = s"/root/testdata/$s"
      val exact = SimilarityQueries.annBruteForce(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pq = SimilarityQueries.annIvfPq(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hit = pq.keySet.intersect(exact.keySet).size
      println(s"RECALL $s $hit/10 pq=${pq.keySet.toSeq.sorted} exact=${exact.keySet.toSeq.sorted}")

      // knn graph edges vs exact all-pairs top-k (O(n²) — fine at
      // these probe SFs, never a production path), at BOTH probe
      // radii with their candidate cost: the recall/cost curve behind
      // the spark.graft.knn.probeRadius conf (table in SCALING.md)
      import org.apache.spark.sql.functions._
      import graft.functions.TextFunctions.quantDot
      val emb = GraftSession.table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).cache()
      val exactTop = emb.as("a").join(emb.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"),
          col("b.vec_id").as("n"),
          quantDot(col("a.embedding"), col("b.embedding")).as("sc"))
        .where(col("sc").isNotNull)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("v")
            .orderBy(col("sc").desc, col("n"))))
        .where(col("rk") <= 5)
        .select("v", "n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (1 to 2).foreach { radius =>
        val graph = SimilarityQueries.knnGraphScan(spark, dir, radius)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        val cand = SimilarityQueries.knnCandidateCount(spark, dir, radius)
        val rec = graph.intersect(exactTop).size.toDouble / exactTop.size
        println(f"KNN_RECALL $s r=$radius ${graph.intersect(exactTop).size}/${exactTop.size} = $rec%.3f candidates=$cand")
      }
      emb.unpersist(false)
    }
    spark.stop()
  }
}
