package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.operators.{CoreQueries, DedupQueries, SimilarityQueries, TextQueries}

/** The one catalog of standing layouts — the append-maintained
  * relations under a corpus's fixture root — and what each supports.
  * Every lifecycle surface loops this list instead of naming layouts:
  * `Ctl index-compact` (the `tidb-lightning-ctl --compact` analog,
  * reference `cmd/tidb-lightning-ctl/main.go:45-97`),
  * [[Governance.applyForget]], [[Governance.pendingForgets]],
  * [[Governance.appendLag]] and the [[Governance.gcLayouts]] catalog.
  * Adding a layout is adding one entry; list order is report order.
  */
object StandingLayouts {

  /** One standing layout.
    *
    * `present` is a direct path probe and never builds. `compact`
    * refreshes a present-but-stale layout first by design (current-
    * and-defragmented is what the operator asked for); callers guard
    * it with `present`, so a missing layout reports "nothing to
    * compact" instead of running a full build. The options are what
    * the layout supports:
    *   - `forget` tombstones the ids and returns the JSON summary —
    *     per-document layouts only; aggregate-statistics layouts hold
    *     count partials, no row to hide;
    *   - `pending` counts tombstones not yet physically deleted;
    *   - `appendLag` reads the last applied maintenance batch id
    *     (−1 = none) — batchId-maintained layouts only.
    * `family` is the `index-compact` argument that selects it (the knn
    * radii share `knn`).
    */
  final case class Layout(
      name: String,
      dir: String,
      present: String => Boolean,
      compact: (SparkSession, String) => Unit,
      forget: Option[(SparkSession, String, Seq[Long]) => String] = None,
      pending: Option[(SparkSession, String) => Long] = None,
      appendLag: Option[String => Long] = None,
      family: Option[String] = None) {
    def verb: String = family.getOrElse(name)
  }

  /** Every standing layout, in report order. Both legal knn radii are
    * first-class layouts, whatever the session conf: a forget must
    * reach each one that stands (one reached only at the ambient
    * radius would leave the other serving the forgotten vectors with
    * no pending marker), and `index-compact knn` must retire the
    * tombstones of each.
    */
  val all: Seq[Layout] = Seq(
    Layout("invindex", TextQueries.InvIndexDir, TextQueries.invIndexPresent,
      (s, d) => TextQueries.invIndexCompact(s, d),
      forget = Some { (s, d, ids) =>
        val (dn, dt) = TextQueries.invIndexForget(s, d, ids)
        s"""{"docs":$dn,"tokens":$dt}"""
      },
      pending = Some(TextQueries.invIndexPendingForgets),
      appendLag = Some(TextQueries.invIndexAppendLag)),
    Layout("simhash", DedupQueries.SimhashDir, DedupQueries.simhashPresent,
      (s, d) => DedupQueries.simhashCompact(s, d),
      forget = Some((s, d, ids) =>
        s"""{"docs":${DedupQueries.simhashForget(s, d, ids)}}"""),
      pending = Some(DedupQueries.simhashPendingForgets),
      appendLag = Some(DedupQueries.simhashAppendLag)),
    Layout("ivfpq", SimilarityQueries.IvfPqDir, SimilarityQueries.ivfPqPresent,
      (s, d) => SimilarityQueries.ivfPqCompact(s, d),
      forget = Some((s, d, ids) =>
        s"""{"vectors":${SimilarityQueries.ivfPqForget(s, d, ids)}}"""),
      pending = Some(SimilarityQueries.ivfPqPendingForgets)),
    Layout("sketch", CoreQueries.UserSketchDir, CoreQueries.userSketchPresent,
      (s, d) => CoreQueries.sketchCompact(s, d),
      appendLag = Some(CoreQueries.sketchAppendLag))
  ) ++ SimilarityQueries.KnnLegalRadii.map { r =>
    Layout(s"knn_r$r", SimilarityQueries.knnDir(r),
      SimilarityQueries.knnPresent(_, r),
      (s, d) => SimilarityQueries.knnCompactAtRadius(s, d, r),
      forget = Some((s, d, ids) =>
        s"""{"vectors":${SimilarityQueries.knnForgetAtRadius(s, d, r, ids)}}"""),
      pending = Some(SimilarityQueries.knnPendingForgetsAtRadius(_, _, r)),
      appendLag = Some(SimilarityQueries.knnAppendLagAtRadius(_, r)),
      family = Some("knn"))
  } ++ Seq(
    "langstats" -> TextQueries.langStats,
    "scriptstats" -> TextQueries.scriptStats,
    "lenstats" -> TextQueries.lenStats,
    "tokstats" -> TextQueries.tokStats
  ).map { case (name, ref) =>
    Layout(name, ref.layoutName, ref.present, (s, d) => ref.compact(s, d))
  } :+
    // the audit ledger fragments one file per deletion request; rows
    // are bit-identical after (defrag, never expiry)
    Layout("forgetlog", Governance.ForgetLogDir, Governance.forgetLogPresent,
      (s, d) => Governance.forgetLogCompact(s, d))

  /** The `index-compact` arguments, `all` last. */
  val compactVerbs: Seq[String] = all.map(_.verb).distinct :+ "all"

  /** Every CURRENT dir name under a fixture root — the layout-GC
    * catalog. Built from the same constants the layout builders use,
    * so a version bump marks its predecessors superseded. The
    * embedding bucket layout and the eval reference are catalog-only:
    * rebuilt whole, never maintained.
    */
  def currentDirNames: Set[String] =
    (all.map(_.dir) ++ Seq(SimilarityQueries.EmbByBucketDir,
      SimilarityQueries.EvalRefDir)).toSet

  /** Compact every present layout `which` selects (a [[compactVerbs]]
    * entry), reporting one line per selected layout; returns the names
    * compacted. Safe under live maintenance appends (snapshot-isolated
    * swap, [[graft.GraftSession.compactSnapshot]]); never run two
    * compactions of one layout concurrently — both would claim the
    * same staging sibling.
    */
  def compact(spark: SparkSession, sfDir: String, which: String,
      report: String => Unit = _ => ()): Seq[String] = {
    require(compactVerbs.contains(which),
      s"unknown layout '$which' (${compactVerbs.mkString("|")})")
    all.filter(l => which == "all" || l.verb == which).flatMap { l =>
      if (l.present(sfDir)) {
        l.compact(spark, sfDir)
        report(s"compacted ${l.name}")
        Some(l.name)
      } else {
        report(s"no standing ${l.name} layout for $sfDir; nothing to compact")
        None
      }
    }
  }
}
