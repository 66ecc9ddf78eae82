package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamingOps

/** The FEDERATED door composition ([[StreamingOps.doorChainFederated]]
  * / `Ctl door-run-fed`): one ingest bus, many corpora — a router
  * splits each arrival batch per `corpus` tag and commits each
  * tenant's slice as ONE atomic file into that tenant's incoming dir,
  * then a full standard chain runs per corpus. What this pins:
  *
  *   - TENANT ISOLATION: corpus B's drifted scrape is quarantined by
  *     B's OWN door while corpus A's slice of the same arrival batch
  *     passes, is admitted, and maintains A's index — one bus, two
  *     independent verdicts;
  *   - the feeder contract holds through the router: each tenant's
  *     slice lands as one file, so a door never judges a fragment;
  *   - UNKNOWN tags land under `unrouted/` with the corpus column
  *     kept as evidence — reported, never dropped or misrouted;
  *   - per-tenant admission memory: a second arrival batch's
  *     near-copy of tenant A's earlier admitted doc is rejected by
  *     A's gate (batchId namespaces and simhash layouts are per
  *     corpus).
  * (Lives in the operators package for warmLayouts visibility.)
  */
class FederatedDoorSpec extends SparkSpec {

  private def corpusify(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Commit `df` as ONE parquet file into `destDir` — the producer
    * side of the feeder contract (one atomic rename per batch).
    */
  private def feedOne(df: org.apache.spark.sql.DataFrame, destDir: String,
      name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fed_feed")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val l = java.nio.file.Files.list(tmp)
      try l.filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_")).findFirst().get()
      finally l.close()
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(destDir, s"$name.parquet"))
    graft.GraftSession.deleteRec(tmp)
  }

  test("duplicate tags AND duplicate corpus dirs refuse loudly") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_fed_d1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_fed_d2").toString
    intercept[IllegalArgumentException] {
      StreamingOps.doorChainFederated(spark,
        Seq("a" -> d1, "a" -> d2), "/tmp/never")
    }
    // two tenants over ONE sfDir would run two full chains against
    // the same standing layouts: independent batchId namespaces into
    // one _LAST_BATCH marker absorb real batches as "replays", and
    // the knn appends violate one-writer-by-semantics
    intercept[IllegalArgumentException] {
      StreamingOps.doorChainFederated(spark,
        Seq("a" -> d1, "b" -> d1), "/tmp/never")
    }
  }

  test("3-tenant bus, a batch touching ONE tenant: the router commits that tenant's slice alone") {
    // the present-tag contract: routing cost follows the tenants a
    // batch TOUCHES, not the registry — at hundreds of registered
    // corpora on one bus, per-registered-tenant probing would be
    // ~T+1 Spark jobs for a batch that feeds one tenant
    import spark.implicits._
    val longSeed = (1 to 120).map(i => s"seed$i").mkString(" ")
    val dirs = Seq("a", "b", "c").map { t =>
      t -> java.nio.file.Files.createTempDirectory(s"graft_fed3_$t").toString
    }
    for ((_, d) <- dirs) {
      corpusify(Seq(1L -> longSeed, 2L -> "spark merge data spark corpus"))
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      DedupQueries.warmLayouts(spark, d)
      TextQueries.warmLayouts(spark, d)
    }
    val fedRoot = java.nio.file.Files
      .createTempDirectory("graft_fed3_root").toString
    val commits = scala.collection.mutable.ArrayBuffer[String]()
    StreamingOps.routeCommitSeam =
      d => commits.synchronized { commits += d; () }
    val qs = StreamingOps.doorChainFederated(spark, dirs, fedRoot)
    try {
      val longNew = (1 to 120).map(i => s"tok$i").mkString(" ")
      val feed = Seq(
        (500L, longNew, "en", "b"),
        (501L, "spark data merge fresh analytics words", "en", "b"))
        .toDF("doc_id", "text", "lang", "corpus")
      feedOne(feed, s"$fedRoot/incoming", "feed0")
      qs.foreach(_.processAllAvailable())
      // exactly ONE commit, to the touched tenant — a and c's slices
      // were never probed, never committed; no unrouted dir stands
      assert(commits.toSeq === Seq(s"$fedRoot/b/incoming"),
        s"router commits: $commits")
      assert(spark.read.parquet(s"$fedRoot/b/admitted")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        === Seq(500L, 501L))
      for (t <- Seq("a", "c"))
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
          s"$fedRoot/$t/incoming/route-0.parquet")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$fedRoot/unrouted")))
    } finally {
      StreamingOps.routeCommitSeam = _ => ()
      qs.foreach(q => if (q.isActive) q.stop())
    }
  }

  test("one bus, two corpora: per-tenant verdicts, unrouted evidence, per-tenant admission memory") {
    import spark.implicits._
    val longSeed = (1 to 120).map(i => s"seed$i").mkString(" ")
    val dirA = java.nio.file.Files.createTempDirectory("graft_fed_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_fed_b").toString
    for (d <- Seq(dirA, dirB)) {
      corpusify(Seq(1L -> longSeed, 2L -> "spark merge data spark corpus"))
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      DedupQueries.warmLayouts(spark, d)
      TextQueries.warmLayouts(spark, d)
    }
    val fedRoot = java.nio.file.Files
      .createTempDirectory("graft_fed_root").toString

    val qs = StreamingOps.doorChainFederated(spark,
      Seq("a" -> dirA, "b" -> dirB), fedRoot)
    def drain(): Unit = qs.foreach(_.processAllAvailable())
    try {
      // arrival batch 0: fresh en docs for A, a wrong-language scrape
      // for B, and one row for a tenant nobody registered
      val longNew = (1 to 120).map(i => s"tok$i").mkString(" ")
      val feed0 = Seq(
        (300L, longNew, "en", "a"),
        (301L, "spark data merge fresh analytics words", "en", "a"),
        (400L, "totally fresh words that would pass the dup gate", "zz", "b"),
        (401L, "more fresh words in the wrong language", "zz", "b"),
        (900L, "row for a tenant nobody registered", "en", "ghost"),
        (901L, "row with no tenant at all", "en", "null-me"))
        .toDF("doc_id", "text", "lang", "corpus")
        // a NULL corpus tag must land in unrouted too (a bare !isin
        // filter is null-valued there and would silently drop it)
        .withColumn("corpus",
          when(col("doc_id") === 901L, lit(null: String))
            .otherwise(col("corpus")))
      feedOne(feed0, s"$fedRoot/incoming", "feed0")
      drain()

      // the router: one file per touched tenant (the feeder contract)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$fedRoot/a/incoming/route-0.parquet")))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$fedRoot/b/incoming/route-0.parquet")))

      // tenant A: its slice PASSED its own door and was admitted
      val aAudit = spark.read.parquet(s"$fedRoot/a/door/audit")
        .select("batch_id", "drifted").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(aAudit === Map(0L -> false), s"A audit: $aAudit")
      assert(spark.read.parquet(s"$fedRoot/a/admitted")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        === Seq(300L, 301L))

      // tenant B: the SAME arrival batch, its own verdict — the zz
      // scrape quarantined whole by B's door, nothing admitted
      val bAudit = spark.read.parquet(s"$fedRoot/b/door/audit")
        .select("batch_id", "drifted").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(bAudit === Map(0L -> true), s"B audit: $bAudit")
      assert(spark.read.parquet(s"$fedRoot/b/door/quarantined")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        === Seq(400L, 401L))
      assert(!graft.GraftSession.hasVisibleData(
        java.nio.file.Paths.get(s"$fedRoot/b/admitted")),
        "B must admit nothing from a quarantined batch")

      // the unregistered tenant: reported under unrouted/ with the
      // corpus column kept — never dropped, never guessed into a or b
      val unrouted = spark.read.parquet(s"$fedRoot/unrouted")
        .select("doc_id", "corpus").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) "<null>" else r.getString(1)))
        .sortBy(_._1).toSeq
      assert(unrouted === Seq(900L -> "ghost", 901L -> "<null>"),
        s"unrouted: $unrouted")

      // …and the same evidence is OPERATOR-VISIBLE without filesystem
      // access: GET /unrouted serves it (tag kept, NULL as JSON null,
      // text bodies omitted)
      val spool = java.nio.file.Files
        .createTempDirectory("graft_fed_spool").toString
      val srv = graft.pipeline.HttpServer.start(spool, 0,
        fedRoot = Some(fedRoot), sparkProvider = () => spark)
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:${srv.getAddress.getPort}/unrouted")).GET()
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() === 200, resp.body())
        assert(resp.body() ===
          """{"n":2,"rows":[{"doc_id":900,"lang":"en","corpus":"ghost"},""" +
            """{"doc_id":901,"lang":"en","corpus":null}]}""",
          resp.body())
      } finally srv.stop(0)

      // arrival batch 1: A gets a near-copy of its OWN earlier
      // admitted doc (reject — per-tenant admission memory) plus a
      // fresh doc; B gets a doc whose body REUSES the content A
      // already admitted (plus the serve-probe terms) — fresh for B,
      // because admission memory is per tenant, and shaped like the
      // seed corpus (digit-bearing tokens) so B's script axis passes
      val feed1 = Seq(
        (310L, longNew, "en", "a"), // copy of A's admitted 300
        (312L, "merge spark entirely novel document body", "en", "a"),
        (410L, longNew + " spark merge data", "en", "b"))
        .toDF("doc_id", "text", "lang", "corpus")
      feedOne(feed1, s"$fedRoot/incoming", "feed1")
      drain()

      val aAdmitted = spark.read.parquet(s"$fedRoot/a/admitted")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(aAdmitted === Seq(300L, 301L, 312L),
        s"A must reject the near-copy of its own admitted doc: $aAdmitted")
      val bAdmitted = spark.read.parquet(s"$fedRoot/b/admitted")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(bAdmitted === Seq(410L), s"B admitted: $bAdmitted")

      // the maintained indexes are per tenant: A's index serves its
      // admitted docs, B's serves only its own — no cross-tenant
      // leakage through the shared bus
      val aServed = TextQueries.bm25Scored(spark, dirA)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(aServed.contains(301L) && !aServed.contains(410L),
        s"A serve: $aServed")
      val bServed = TextQueries.bm25Scored(spark, dirB)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bServed.contains(410L) && !bServed.contains(301L) &&
        !bServed.contains(312L), s"B serve: $bServed")

      // the federation's DELETION verb (`Ctl forget-fed` rides this
      // body): a GDPR request is person-scoped, not tenant-scoped —
      // ONE cohort fans across every tenant, each tenant hides its
      // slice and records its own ledger evidence. The same
      // duplicate-dir hazard as the router refuses loudly.
      intercept[IllegalArgumentException] {
        graft.pipeline.Governance.applyForgetFederated(spark,
          Seq("a" -> dirA, "b" -> dirA), Seq(301L))
      }
      val fanned = graft.pipeline.Governance.applyForgetFederated(spark,
        Seq("a" -> dirA, "b" -> dirB), Seq(301L, 410L)).toMap
      assert(fanned.keySet === Set("a", "b"), s"fanned: $fanned")
      val aServed2 = TextQueries.bm25Scored(spark, dirA)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val bServed2 = TextQueries.bm25Scored(spark, dirB)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(!aServed2.contains(301L) && !bServed2.contains(410L),
        s"both tenants must hide their slice of the cohort: " +
          s"A=$aServed2 B=$bServed2")
      assert(aServed2.contains(312L),
        "the fan-out hides the cohort, not the tenant")
      // per-tenant ledger rows: the evidence lands in each tenant's
      // OWN ledger, where that tenant's audits already look
      for (d <- Seq(dirA, dirB)) {
        val log = graft.pipeline.Governance.forgetLog(spark, d)
        assert(log.where(col("layout") === "invindex").count() >= 1,
          s"missing invindex ledger evidence under $d")
      }
    } finally qs.foreach(q => if (q.isActive) q.stop())
  }
}
