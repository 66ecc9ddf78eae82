package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{DedupQueries, TextQueries}

/** The governance verbs over the HTTP shim — a real localhost
  * deletion-request round trip: `POST /forget` propagates into every
  * standing per-document layout and reports per-layout counts, a
  * client RETRY of the same cohort is absorbed (zero counts — the
  * tier's at-least-once safety surfacing as API idempotence),
  * `GET /forget/pending` shows the tombstones awaiting their physical
  * delete and empties after an index-compact, and malformed bodies
  * 400 instead of 500.
  */
class HttpGovernanceSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def req(base: String, method: String, path: String,
      body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    val r = method match {
      case "GET" => b.GET()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST /forget propagates, retries absorb, pending drains at compact") {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_hg").toString
    graft.GraftSession.table(spark, sf(), "documents")
      .where(col("doc_id") < 300)
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    // stand up the two doc layouts (no embeddings: the vector layouts
    // stay absent, and the verb must simply skip them)
    assert(TextQueries.bm25Topk(spark, corpusDir).count() > 0)
    assert(DedupQueries.dedupSimhashPairs(spark, corpusDir).count() >= 0)

    val spool = java.nio.file.Files.createTempDirectory("graft_hg_spool").toString
    val srv = HttpServer.start(spool, 0, corpusDir = Some(corpusDir),
      sparkProvider = () => spark)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      // malformed bodies are client errors, not 500s
      assert(req(base, "POST", "/forget", """{"nope":1}""")._1 === 400)
      assert(req(base, "POST", "/forget", """{"ids":[]}""")._1 === 400)
      assert(req(base, "POST", "/forget", """{"ids":[1,"x"]}""")._1 === 400)

      val (c1, b1) = req(base, "POST", "/forget", """{"ids":[3, 7]}""")
      assert(c1 === 200, b1)
      assert(b1.contains(""""invindex":{"docs":2,"tokens":""") &&
        b1.contains(""""simhash":{"docs":2}"""), b1)
      assert(!b1.contains("ivfpq") && !b1.contains("knn"),
        s"absent layouts must be skipped, not invented: $b1")
      // served retrieval no longer lists the victims
      val served = TextQueries.bm25Topk(spark, corpusDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(!served.contains(3L) && !served.contains(7L))

      // the review surface shows them pending the physical delete
      val (pc, pb) = req(base, "GET", "/forget/pending")
      assert(pc === 200)
      assert(pb === """{"pending":{"invindex":2,"simhash":2}}""", pb)

      // a client retry of the same cohort is absorbed
      val (c2, b2) = req(base, "POST", "/forget", """{"ids":[3, 7]}""")
      assert(c2 === 200)
      assert(b2.contains(""""invindex":{"docs":0,"tokens":0}""") &&
        b2.contains(""""simhash":{"docs":0}"""), b2)

      // compaction makes the deletes physical; pending drains
      TextQueries.invIndexCompact(spark, corpusDir)
      DedupQueries.simhashCompact(spark, corpusDir)
      val (pc2, pb2) = req(base, "GET", "/forget/pending")
      assert(pc2 === 200)
      assert(pb2 === """{"pending":{"invindex":0,"simhash":0}}""", pb2)

      // the audit LEDGER: both calls logged (newest first), the
      // absorbed retry visible as its zero-count entries — a GDPR
      // workflow's WHO/WHEN evidence, served beside /forget/pending
      val (lc, lb) = req(base, "GET", "/forget/log")
      assert(lc === 200, lb)
      assert(lb.contains(""""applied":{"docs":2""") &&
        lb.contains(""""applied":{"docs":0"""),
        s"ledger must show the applied call AND the absorbed retry: $lb")
      assert(lb.contains(""""layout":"invindex"""") &&
        lb.contains(""""layout":"simhash""""), lb)
      val cohorts = """"cohort":"([^"]+)"""".r
        .findAllMatchIn(lb).map(_.group(1)).toSeq
      assert(cohorts.distinct.size === 1,
        s"one cohort, two calls → one tag across entries: $cohorts")
      assert(cohorts.size === 4, s"2 calls × 2 layouts: $cohorts")

      // the append-lag surface covers EVERY batch-maintained standing
      // layout, not just knn: both doc layouts stand here with no
      // streamed append ever committed → −1 each (standing-but-
      // unmaintained made visible); absent layouts (knn, sketch) are
      // skipped, never invented
      val (gc, gb) = req(base, "GET", "/forget/lag")
      assert(gc === 200, gb)
      assert(gb === """{"append_last_batch":{"invindex":-1,"simhash":-1}}""",
        gb)

      // a maintenance append moves ONLY its own layout's position —
      // the widened relation distinguishes the maintained index from
      // the one still serving the seed corpus
      import spark.implicits._
      val newDocs = Seq((900L, "spark merge data fresh appended doc"))
        .toDF("doc_id", "text")
      assert(TextQueries.invIndexAppendOnce(spark, corpusDir, newDocs, 7L))
      val (gc2, gb2) = req(base, "GET", "/forget/lag")
      assert(gc2 === 200, gb2)
      assert(gb2 === """{"append_last_batch":{"invindex":7,"simhash":-1}}""",
        gb2)
    } finally srv.stop(0)
  }

  test("GET /unrouted serves malformed evidence rows (NULL doc_id) instead of 500ing") {
    // unrouted is exactly where malformed producer rows land — a NULL
    // doc_id must render as JSON null, not crash the evidence page
    import spark.implicits._
    val fedRoot = java.nio.file.Files
      .createTempDirectory("graft_hg_fed").toString
    Seq((Option(5L), Option("en"), Option("ghost")),
        (Option.empty[Long], Option.empty[String], Option.empty[String]))
      .toDF("doc_id", "lang", "corpus")
      .write.mode("overwrite").parquet(s"$fedRoot/unrouted")
    val spool = java.nio.file.Files
      .createTempDirectory("graft_hg_spool2").toString
    val srv = HttpServer.start(spool, 0, fedRoot = Some(fedRoot),
      sparkProvider = () => spark)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      val (c, b) = req(base, "GET", "/unrouted")
      assert(c === 200, b)
      assert(b === """{"n":2,"rows":[""" +
        """{"doc_id":null,"lang":null,"corpus":null},""" +
        """{"doc_id":5,"lang":"en","corpus":"ghost"}]}""", b)
    } finally srv.stop(0)
  }
}
