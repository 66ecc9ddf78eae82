package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._

import graft.{GraftSession, Json}

/** Scaling probe: run the REAL operators (same `queries` entries the
  * driver gates) on k-fold self-unioned copies of the sf0.1 corpus and
  * report wall-clock vs k — the "would this survive a scale-up"
  * question answered with measurements instead of plan-reading. The
  * k-fold corpus is written as a normal `documents.parquet` under a
  * temp sfDir, so every operator runs its production path untouched.
  *
  * Interpretation caveat, printed with the numbers: self-union
  * multiplies every document k-fold, so near-dup PAIR outputs grow
  * ~k² by construction (each original duplicate group gains k²
  * cross-copy pairs) — for the pair family, output size, not plan
  * shape, sets the slope. The narrow/linear family should scale ~k.
  *
  * Usage: sbt "runMain graft.tools.ScalingProbe [maxK]"
  */
object ScalingProbe {

  private val LinearOps = Seq("q_chunk_rag", "q_tfidf_topk", "q_boilerplate",
    "q_pack_sequences", "q_quality_score", "q_dedup_exact",
    "q_corpus_diff", "q_line_dedup", "q_line_dedup_doc", "q_search_topk", "q_bm25_topk",
    "q_phrase_search", "q_rrf_fusion", "q_query_expand",
    "q_proximity_search", "q_search_highlight",
    "q_vocab_coverage", "q_label_centroid_sim", "q_normalize_nfc", "q_script_mix",
    "q_importance_weights", "q_ngram_diversity",
    "q_heavy_hitters", "q_shuffle_shard", "q_mix_sample",
    // event family (events folded on the user axis: k× users, same
    // per-user history — window/session work is per-user, so the
    // expectation is ~k) and the anchor-broadcast ANN op (k× corpus,
    // fixed anchors — one scan, expectation ~k)
    "q_sessionize", "q_window_hourly", "q_asof_join", "q_range_join",
    "q_retention", "q_funnel", "q_moving_sum", "q_gap_fill",
    "q_json_props", "q_pivot_daily", "q_event_anomaly", "q_attribution",
    "q_forget",
    // embeddings fold: the batched lookup's scan prunes to the three
    // query buckets at the listing; self-union multiplies each
    // bucket's population k-fold, so expectation ~k on a tiny base
    "q_hard_negatives", "q_ann_batch",
    // per-doc selection / bounded-relation allocation: expectation ~k
    "q_winnow", "q_curriculum", "q_unimax", "q_decontaminate_pairs",
    // source-keyed diagnostics: the fold multiplies docs, not sources,
    // so per-key fanout stays bounded by the constant source count
    "q_dup_by_source", "q_source_overlap",
    // lineitem fold (new-key rows per copy): the sketch profile's
    // state is fixed per column whatever the cardinality — the whole
    // point — so expectation ~k scan cost; the exact profile beside it
    // shows the count_distinct state growing with the fold
    "q_profile", "q_profile_approx",
    // events fold: k× users multiplies daily partial CARDINALITY, not
    // the calendar — the rollup serve stays calendar-sized
    "q_sketch_rollup", "q_sketch_window",
    // synthetic batches are corpus slices, so the batch side grows ~k;
    // the histogram side stays |langs| (and 5 script / ≤8 length) rows
    // at any fold
    "q_drift_gate", "q_drift_axes", "q_drift_axes3", "q_drift_axes4")
  private val PairOps = Seq("q_dedup_simhash_pairs", "q_dedup_minhash",
    "q_dedup_editdist")

  // q_semdedup's k now DERIVES from the corpus count (r9), so it probes
  // at the full fold range: below the k=8 floor cells still grow with
  // the fold (within-cell pairs ~k²-by-construction, like every
  // self-union pair op), but past the floor k rises with n and the
  // mean cell population pins to the target — the paper's regime
  private val CorpusKPairOps = Seq("q_semdedup",
    // the two-level form: same corpus-derived k_total, but train +
    // assignment cost n·(k_c + k_f) ≈ 2n√k instead of n·k — the probe
    // should show the flat form's super-linear curve flattening
    "q_semdedup_hier",
    // corpus-derived LSH plane count: mean bucket population pins to
    // the target, so candidates ≈ n·(p+1)·target — linear with a
    // log-n probe fanout (self-union caveat applies: 32 identical
    // copies per vector share one bucket and pair quadratically)
    "q_knn_graph", "q_knn_outliers")

  /** Pair generators whose fanout a df cap bounds tightly enough to
    * probe at the full fold range: the winnow family drops any
    * fingerprint carried by > 50 docs BEFORE pairing, so k-folding
    * pushes boilerplate fps over the cap instead of squaring their
    * pair count. Output still grows ~k² for surviving duplicate
    * groups (the construction caveat) — stated with the numbers.
    */
  private val CappedPairOps = Seq("q_winnow_pairs", "q_winnow_align")

  /** Ops probed on the REAL-SHAPED folds too: corpora folded WITHOUT
    * duplicating groups (each copy's content is deterministically
    * perturbed so cross-copy rows never pair), separating the
    * self-union construction's ~k² pair-output growth from the
    * operator's true data-growth slope — only the duplication each
    * query itself plants (and the base corpus's own) survives, so
    * output grows ~k and the wall-clock curve measures the PLAN.
    */
  private val RealShapedOps = Seq("q_winnow_align", "q_semdedup", "q_semdedup_hier",
    "q_knn_graph",
    // the editdist funnel's band term: on the real-shaped fold
    // cross-copy texts never pair (permuted tokens → different
    // simhash bands; a chance band collision dies at the levenshtein
    // threshold), so the curve isolates the banded self-join +
    // within-band quadratic instead of the self-union's constructed
    // k² output — the "does the band width need corpus sizing"
    // question measured, not adjudicated
    "q_dedup_editdist")

  private val PermBase = "abcdefghijklmnopqrstuvwxyz"

  /** Deterministic 26-letter permutation for copy `i` — Fisher–Yates
    * driven by a splitmix64 stream seeded from the copy index, with a
    * loud uniqueness check across every permutation handed out in
    * this run: a repeated permutation would silently reintroduce
    * cross-copy duplicate pairs and bend the "real" curve back to the
    * self-union ~k² shape the block exists to exclude.
    */
  private val seenPerms = scala.collection.mutable.HashMap.empty[String, Int]

  private def permFor(i: Int): String = {
    val a = PermBase.toCharArray
    var x = i.toLong * 0x9E3779B97F4A7C15L
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    var j = a.length - 1
    while (j > 0) {
      val m = math.floorMod(next(), (j + 1).toLong).toInt
      val t = a(j); a(j) = a(m); a(m) = t
      j -= 1
    }
    val p = new String(a)
    require(p != PermBase, s"copy $i drew the identity permutation")
    seenPerms.put(p, i).foreach(prev => require(prev == i,
      s"copies $prev and $i drew the same permutation"))
    p
  }

  def main(args: Array[String]): Unit = {
    val maxK = args.headOption.map(_.toInt).getOrElse(4)
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    // optional 2nd arg: comma-separated query-name filter — probe a
    // newly added operator in minutes instead of re-sweeping the full
    // suite (the suite has grown past a single harness timeout)
    val only = args.lift(1).map(_.split(",").toSet)
    def keep(names: Seq[String]): Seq[String] =
      names.filter(n => only.forall(_.contains(n)))
    val spark = GraftSession.session()
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 8x/16x: the one-decade probe (r12) — a 16x fold of sf0.1 is
    // ~250 MB of parquet, still comfortably /tmp-sized
    val ks = Seq(1, 2, 4, 8, 16).filter(_ <= maxK)

    // cache key carries the base corpus AND completeness: a different
    // base must not reuse old scaled copies, and a crashed write
    // (no _SUCCESS) must rebuild instead of timing a partial corpus.
    // The readable tag is lossy (non-alnum collapses to _), so a hash
    // of the raw path disambiguates bases the tag would conflate.
    val baseTag = base.replaceAll("[^A-Za-z0-9.]", "_") + "_" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(base))
    val dirs: Map[Int, String] = ks.map { k =>
      if (k == 1) k -> base
      else {
        val dir = Paths.get(s"/tmp/graft_scaling_${baseTag}_${k}x")
        // fold strides assume base ids sit below them — at a larger
        // base sf a silent overflow would alias users/vectors ACROSS
        // copies (merging per-user histories) and corrupt the
        // measurement, so fail loudly instead
        def assertStride(tbl: String, idCol: String, stride: Long): Unit = {
          val mx = spark.read.parquet(s"$base/$tbl.parquet")
            .agg(max(col(idCol))).head.getAs[Number](0).longValue
          require(mx < stride,
            s"$tbl.$idCol max $mx >= fold stride $stride — raise the stride")
        }
        val docsOut = dir.resolve("documents.parquet")
        if (!Files.exists(docsOut.resolve("_SUCCESS"))) {
          Files.createDirectories(dir)
          assertStride("documents", "doc_id", 10000000L)
          val docs = spark.read.parquet(s"$base/documents.parquet")
          (0 until k).map { i =>
            docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
          }.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(docsOut.toString)
        }
        // events fold on the USER axis (new ids per copy): k× users with
        // the same per-user history, the realistic growth direction for
        // session/window/funnel work — per-user partitions multiply,
        // per-partition work stays fixed
        val eventsOut = dir.resolve("events.parquet")
        if (!Files.exists(eventsOut.resolve("_SUCCESS"))) {
          assertStride("events", "event_id", 1000000000L)
          assertStride("events", "user_id", 10000000L)
          val ev = spark.read.parquet(s"$base/events.parquet")
          (0 until k).map { i =>
            ev.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
              .withColumn("user_id", col("user_id") + lit(i * 10000000L))
          }.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(eventsOut.toString)
        }
        // lineitem folds on the order axis (new keys per copy): the
        // profile queries see k× rows AND k× distinct values in the
        // key-ish columns — exactly the growth that separates the
        // fixed-state sketch pass from the exact count_distinct
        val liOut = dir.resolve("lineitem.parquet")
        if (!Files.exists(liOut.resolve("_SUCCESS"))) {
          assertStride("lineitem", "l_orderkey", 1000000000L)
          val li = spark.read.parquet(s"$base/lineitem.parquet")
          (0 until k).map { i =>
            li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L))
          }.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(liOut.toString)
        }
        // embeddings fold keeps the anchor set fixed (vec_id 0..4 exist
        // only in copy 0): the corpus under the one-scan ANN ops grows
        // k× while the broadcast side stays constant
        val embOut = dir.resolve("embeddings.parquet")
        if (!Files.exists(embOut.resolve("_SUCCESS"))) {
          assertStride("embeddings", "vec_id", 10000000L)
          val emb = spark.read.parquet(s"$base/embeddings.parquet")
          (0 until k).map { i =>
            emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
          }.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(embOut.toString)
        }
        // warm the on-disk layouts for the fold dir (Bench's warm-up
        // discipline): a layout-backed probe must measure the probe,
        // not the one-time index build
        graft.operators.DedupQueries.warmLayouts(spark, dir.toString)
        graft.operators.TextQueries.warmLayouts(spark, dir.toString)
        graft.operators.SimilarityQueries.warmLayouts(spark, dir.toString)
        graft.operators.CoreQueries.userSketchLayout(spark, dir.toString)
        k -> dir.toString
      }
    }.toMap

    // REAL-SHAPED folds: same row counts as the self-union dirs, but
    // each copy's CONTENT is deterministically perturbed so cross-copy
    // rows never pair — documents through a per-copy KEYED full-
    // alphabet substitution (a distinct 26-letter permutation per copy
    // index: every shingle changes, so winnow fingerprints differ
    // across copies, while word lengths/repetition structure — what
    // the operators actually chew on — stay realistic), embeddings
    // through per-copy Walsh-Hadamard sign flips (negate component j
    // when popcount(i & j) is odd: distinct patterns per copy i ≤ 15,
    // cross-copy cosine ≈ 0, within-copy geometry isometric — a
    // sign-flip is an orthogonal map, so cell populations stay
    // realistic). Copy 0 is the untouched base. (The keyed
    // permutations replace r14's rotating 17-letter alphabet, whose
    // 17 distinct rotations capped the doc-side fold at 16x — the
    // permutation family is distinct far past any fold this probe
    // runs, so the doc-side ladder now climbs with the embedding one.)
    val realDirs: Map[Int, String] = ks.map { k =>
      if (k == 1) k -> base
      else {
        // the embedding perturbation's distinctness still has its
        // 4-bit ceiling here (the above-floor ladder's rot×flip
        // family is the scale path); fail loudly past it
        require(k <= 16,
          s"real-shaped fold supports k <= 16 (sign-flip ceiling), got $k")
        val dir = Paths.get(s"/tmp/graft_scaling_real_${baseTag}_${k}x")
        val docsOut = dir.resolve("documents.parquet")
        if (!Files.exists(docsOut.resolve("_SUCCESS"))) {
          Files.createDirectories(dir)
          val docs = spark.read.parquet(s"$base/documents.parquet")
          (0 until k).map { i =>
            docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
              .withColumn("text",
                if (i == 0) col("text")
                else translate(col("text"), PermBase, permFor(i)))
          }.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(docsOut.toString)
        }
        val embOut = dir.resolve("embeddings.parquet")
        if (!Files.exists(embOut.resolve("_SUCCESS"))) {
          val emb = spark.read.parquet(s"$base/embeddings.parquet")
          (0 until k).map { i =>
            val flipped =
              if (i == 0) col("embedding")
              else transform(col("embedding"), (x, j) =>
                when(bit_count(j.bitwiseAND(lit(i))) % 2 === 1, -x).otherwise(x))
            emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
              .withColumn("embedding", flipped)
          }.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(embOut.toString)
        }
        // only the embedding-model layouts need a warm (winnow builds
        // no standing layout) — and only when an embedding op is
        // actually in this run's filter: a doc-side-only probe (the
        // editdist funnel, say) must not pay a knn/ivfpq build per
        // fold dir it never reads
        // exactly the RealShapedOps that read embedding layouts —
        // q_knn_outliers probes the self-union dirs and the
        // above-floor ladder's own cold dirs, never these
        if (keep(Seq("q_semdedup", "q_semdedup_hier",
            "q_knn_graph")).nonEmpty)
          graft.operators.SimilarityQueries.warmLayouts(spark, dir.toString)
        k -> dir.toString
      }
    }.toMap

    def time(name: String, dir: String): Double = {
      System.gc()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    def probeOver(ds: Map[Int, String])(names: Seq[String],
        kList: Seq[Int]): Map[String, Map[Int, Double]] =
      names.map { n =>
        // untimed warm-up at 1x: the first run of a query absorbs JIT +
        // codegen compilation, which would otherwise inflate the 1x
        // point and fake sublinear scaling
        time(n, ds(1))
        n -> kList.map(k => k -> time(n, ds(k))).toMap
      }.toMap

    def probe(names: Seq[String], kList: Seq[Int]): Map[String, Map[Int, Double]] =
      probeOver(dirs)(names, kList)

    // pair ops capped at 2x: their OUTPUT grows ~k^2 by construction;
    // the df-capped winnow family is probed at the full fold range
    val linear = probe(keep(LinearOps), ks)
    val pairs = probe(keep(PairOps), ks.filter(_ <= 2)) ++
      probe(keep(CappedPairOps), ks) ++
      probe(keep(CorpusKPairOps), ks)
    val real = probeOver(realDirs)(keep(RealShapedOps), ks)

    // ABOVE-FLOOR ladder (runs when maxK >= 32): real-shaped folds at
    // 16/32/64/128x (each point only when maxK allows), where the
    // corpus-derived knn plane count STEPS instead of sitting on the
    // 6-plane floor the <= 16x ladder lives under — the curve measures
    // the derivation's bucket-population pinning, not the floor
    // regime. Embeddings fold through the rot×flip orthogonal family
    // (distinct to 4096 copies); documents fold through the keyed
    // full-alphabet substitutions (distinct far past any fold here),
    // which is what lifted r14's doc-side 16x ceiling — the winnow
    // family now gets the same above-floor evidence.
    val ksAbove = Seq(16, 32, 64, 128).filter(_ <= maxK)
    val above: Map[String, Map[Int, Double]] =
      if (maxK < 32) Map.empty
      else {
        val aboveDirs: Map[Int, String] = ksAbove.map { k =>
          // per-copy isometry = coordinate ROTATION by (i / 64)
          // composed with the Walsh–Hadamard sign flip of (i % 64):
          // the flip patterns alone are distinct only for i < 64 (a
          // 64-dim index has 6 bits), the rotation extends the family
          // to 64·64 distinct orthogonal maps — still isometric, so
          // within-copy geometry (and therefore bucket populations)
          // stays realistic, while cross-copy cosines stay ≈ 0
          require(k <= 4096,
            s"embedding fold supports k <= 4096 (rot×flip family), got $k")
          val dir = Paths.get(s"/tmp/graft_scaling_real_${baseTag}_${k}x_emb")
          val embOut = dir.resolve("embeddings.parquet")
          if (!Files.exists(embOut.resolve("_SUCCESS"))) {
            Files.createDirectories(dir)
            val emb = spark.read.parquet(s"$base/embeddings.parquet")
            (0 until k).map { i =>
              val flip = i % 64
              val rot = i / 64
              val rotated =
                if (rot == 0) col("embedding")
                else concat(slice(col("embedding"), rot + 1, 64 - rot),
                  slice(col("embedding"), 1, rot))
              val flipped =
                if (flip == 0) rotated
                else transform(rotated, (x, j) =>
                  when(bit_count(j.bitwiseAND(lit(flip))) % 2 === 1, -x).otherwise(x))
              emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
                .withColumn("embedding", flipped)
            }.reduce(_.unionByName(_))
              .write.mode("overwrite").parquet(embOut.toString)
          }
          // doc-side fold for the winnow ladder: the keyed
          // substitutions (never a repeated permutation — permFor
          // fails loudly) keep cross-copy shingles disjoint at any k
          val docsOut = dir.resolve("documents.parquet")
          if (!Files.exists(docsOut.resolve("_SUCCESS"))) {
            val docs = spark.read.parquet(s"$base/documents.parquet")
            (0 until k).map { i =>
              docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
                .withColumn("text",
                  if (i == 0) col("text")
                  else translate(col("text"), PermBase, permFor(i)))
            }.reduce(_.unionByName(_))
              .write.mode("overwrite").parquet(docsOut.toString)
          }
          k -> dir.toString
        }.toMap
        // cold start per fold: the fixture layouts (knn layout, cached
        // quantizers) persist across probe reruns, and a warm layout
        // would mislabel the build column as flat
        aboveDirs.values.foreach(d =>
          GraftSession.deleteRec(Paths.get(GraftSession.fixtureRoot(d))))
        // per query: FIRST run = layout build / quantizer train +
        // serve (the tier's heavy op), SECOND run = the standing-layout
        // serve. Both curves matter: build must track ~n·(p+1)·pop,
        // serve must stay ~flat per vector.
        val names = keep(Seq("q_knn_graph", "q_semdedup_hier", "q_knn_outliers"))
        // the doc-side above-floor rows (winnow builds no standing
        // layout, so one timed run per fold is the number — no
        // build/serve split)
        val docNames = keep(Seq("q_winnow_align"))
        // the eval-guard ladder: the reference fold-9 registry grows
        // ~linearly with the corpus while the probe batch stays 30
        // rows, so the SERVE row (second run, evalref layout standing)
        // must stay ~flat — the eval-derived plane count pinning the
        // reference's bucket populations is what's being measured.
        // The audit (q_decontaminate_semantic) scales BOTH sides with
        // the corpus — an expected-linear row, one timed run like the
        // winnow family (no standing layout of its own).
        val guardNames = keep(Seq("q_eval_guard"))
        val auditNames = keep(Seq("q_decontaminate_semantic"))
        names.flatMap { n =>
          val firsts = ksAbove.map(k => k -> time(n, aboveDirs(k))).toMap
          val serves = ksAbove.map(k => k -> time(n, aboveDirs(k))).toMap
          Seq(s"${n}_build" -> firsts, n -> serves)
        }.toMap ++
          docNames.map { n =>
            n -> ksAbove.map(k => k -> time(n, aboveDirs(k))).toMap
          }.toMap ++
          guardNames.flatMap { n =>
            val firsts = ksAbove.map(k => k -> time(n, aboveDirs(k))).toMap
            val serves = ksAbove.map(k => k -> time(n, aboveDirs(k))).toMap
            Seq(s"${n}_build" -> firsts, n -> serves)
          }.toMap ++
          auditNames.map { n =>
            n -> ksAbove.map(k => k -> time(n, aboveDirs(k))).toMap
          }.toMap ++
          // the derived plane count per fold, read back from the built
          // layout's meta — the evidence that p actually stepped;
          // emitted only when the knn rows ran (a filtered probe of
          // other operators has no layout to read)
          (if (names.isEmpty) None
           else Some("knn_planes" -> ksAbove.map { k =>
            val meta = s"${graft.operators.SimilarityQueries.knnLayoutPath(aboveDirs(k))}/meta"
            k -> spark.read.parquet(meta).select("p").head.getInt(0).toDouble
          }.toMap))
      }

    // Locale.ROOT: a comma-decimal default locale would emit 0,52
    def render(m: Map[String, Map[Int, Double]]) =
      ListMap(m.toSeq.sortBy(_._1).map { case (n, t) =>
        n -> ListMap(t.toSeq.sorted.map { case (k, sec) =>
          s"${k}x" -> new java.math.BigDecimal(
            String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec)))
        }: _*)
      }: _*)
    println(Json.write(ListMap("metric" -> "scaling", "sf_base" -> base,
      "caveat" -> "self-union multiplies duplicate groups; pair-family output grows ~k^2 by construction; the 'real' block folds WITHOUT duplicating groups (per-copy content perturbation), isolating the operator's true slope; 'above_floor' is the real-shaped 16/32/64/128x ladder (each point when maxK allows) where the derived knn plane count steps (knn_planes row) - *_build = cold layout build + serve, bare name = standing-layout serve, q_winnow_align = the doc-side row (no standing layout, one timed run); q_eval_guard_build/q_eval_guard = the eval firewall ladder (reference registry grows with the fold, probe batch fixed at 30 rows - serve must stay ~flat) and q_decontaminate_semantic = the audit's expected-linear row; doc folds use keyed full-alphabet substitutions (distinct per copy - r14's 17-rotation 16x ceiling is gone), embedding folds the rot x flip orthogonal family (distinct to 4096x)",
      "linear" -> render(linear), "pairs" -> render(pairs),
      "real" -> render(real)) ++
      (if (above.isEmpty) Nil else Seq("above_floor" -> render(above)))))
    spark.stop()
  }
}
