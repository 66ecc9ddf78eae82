package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.StreamingOps

/** The drift door's operator verbs over the HTTP shim — real localhost
  * round trips against a door a real stream routed: the audit feed,
  * the released-marker listing, and the release verb with its refusal
  * codes (409, not 500 — a refusal is an operator answer). The
  * reference serves every operator verb over HTTP
  * (`lightning/lightning.go:137-144`); this pins that ours does too.
  */
case class HttpDoorDoc(doc_id: Long, text: String, lang: String)

class HttpDoorSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def req(base: String, method: String, path: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    val r = method match {
      case "GET" => b.GET()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(""))
    }
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("door verbs: audit feed, release, refusal codes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_hd").toString
    (1 to 20).map(i => HttpDoorDoc(i.toLong, s"doc $i", "en"))
      .toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val doorDir = java.nio.file.Files.createTempDirectory("graft_hd_door").toString
    val input = MemoryStream[HttpDoorDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), corpusDir, doorDir).start()
    try {
      input.addData((100 to 104).map(i => HttpDoorDoc(i.toLong, "x", "zz")): _*)
      q.processAllAvailable()
    } finally q.stop()

    val spool = java.nio.file.Files.createTempDirectory("graft_hd_spool").toString
    val srv = HttpServer.start(spool, 0, doorDir = Some(doorDir), sparkProvider = () => spark)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      assert(req(base, "GET", "/door/released") === ((200, """{"released":[]}""")))
      val (ac, ab) = req(base, "GET", "/door/audit")
      assert(ac === 200)
      assert(ab.startsWith("[{") && ab.endsWith("}]"), ab)
      assert(ab.contains(""""event":"routed"""") &&
        ab.contains(""""drifted":true"""), ab)
      // the v2 axes map renders as nested JSON, not a toString blob
      assert(ab.contains(""""axes":{"lang":{"""), ab)
      assert(ab.contains(""""l1_ppm":"""), ab)
      // feed paging: since past the last batch → empty; limit=0 → empty
      assert(req(base, "GET", "/door/audit?since=999999") === ((200, "[]")))
      assert(req(base, "GET", "/door/audit?limit=0") === ((200, "[]")))
      assert(req(base, "GET", "/door/audit?since=-1&limit=10")._2 === ab)
      // the quarantined batch awaits inspection: listed with its
      // verdict row (n_docs + axis readings) until released
      val (qc0, qb0) = req(base, "GET", "/door/quarantined")
      assert(qc0 === 200)
      assert(qb0.contains(""""batch_id":0""") && qb0.contains(""""n_docs":5"""), qb0)

      val (rc, rb) = req(base, "POST", "/door/release/0")
      assert(rc === 200 && rb === """{"released":0,"n_docs":5}""")
      assert(req(base, "GET", "/door/released") === ((200, """{"released":[0]}""")))
      // the audit feed now carries the release record beside the verdict
      val after = req(base, "GET", "/door/audit")._2
      assert(after.contains(""""event":"released"""") &&
        after.contains(""""axes":null"""), after)
      // released → no longer listed as awaiting inspection
      assert(req(base, "GET", "/door/quarantined") ===
        ((200, """{"quarantined":[]}""")))

      // refusals are 409s with the operator-facing message
      val (dc, db) = req(base, "POST", "/door/release/0")
      assert(dc === 409 && db.contains("already released"), (dc, db))
      val (mc, mb) = req(base, "POST", "/door/release/7")
      assert(mc === 409 && mb.contains("no quarantined rows"), (mc, mb))
      // non-numeric ids never reach the release path
      assert(req(base, "POST", "/door/release/abc")._1 === 405)
      // an overflowing all-digit id is input error (400), never a 500
      // and never a misleading door-state 409
      val (oc, ob) = req(base, "POST", "/door/release/99999999999999999999")
      assert(oc === 400 && ob.contains("out of range"), (oc, ob))
      // the queue verbs are untouched by the door attachment
      assert(req(base, "GET", "/tasks") ===
        ((200, """{"queue":[],"running":[]}""")))
    } finally srv.stop(0)
  }

  test("a door predating the audit-schema widening still serves its feed") {
    import spark.implicits._
    // an audit dir holding a pre-widening file (batch_id, n_docs,
    // l1_ppm, drifted) beside a current row must serve the union
    // schema with old rows null-filled — an upgrade must not 500 the
    // alarm feed
    val doorDir = java.nio.file.Files.createTempDirectory("graft_hd_legacy").toString
    val audit = s"$doorDir/audit"
    Seq((0L, 5L, 1000000L, true))
      .toDF("batch_id", "n_docs", "l1_ppm", "drifted")
      .coalesce(1).write.mode("append").parquet(audit)
    Seq((1L, "routed", 3L, 0L, false))
      .toDF("batch_id", "event", "n_docs", "lang_l1_ppm", "lang_drifted")
      .coalesce(1).write.mode("append").parquet(audit)
    val spool = java.nio.file.Files.createTempDirectory("graft_hd_spool3").toString
    val srv = HttpServer.start(spool, 0, doorDir = Some(doorDir), sparkProvider = () => spark)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      val (code, body) = req(base, "GET", "/door/audit")
      assert(code === 200, body)
      assert(body.contains(""""l1_ppm":1000000""") &&
        body.contains(""""event":"routed""""), body)
      assert(body.contains(""""event":null"""), body) // legacy row, null-filled
    } finally srv.stop(0)
  }

  test("quarantined listing dedups replayed audit rows (at-least-once contract)") {
    import spark.implicits._
    // the audit feed is at-least-once across the sink-then-marker
    // window: a replayed batch appends a SECOND identical 'routed' row.
    // /door/quarantined is itself an audit consumer, so it must dedup
    // on batch_id — one listing per quarantined batch, not per row
    val doorDir = java.nio.file.Files.createTempDirectory("graft_hd_dup").toString
    val row = Seq((5L, "routed", 3L, true))
      .toDF("batch_id", "event", "n_docs", "drifted")
    row.coalesce(1).write.mode("append").parquet(s"$doorDir/audit")
    row.coalesce(1).write.mode("append").parquet(s"$doorDir/audit")
    val spool = java.nio.file.Files.createTempDirectory("graft_hd_spool4").toString
    val srv = HttpServer.start(spool, 0, doorDir = Some(doorDir), sparkProvider = () => spark)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      val (code, body) = req(base, "GET", "/door/quarantined")
      assert(code === 200)
      assert("\"batch_id\":5".r.findAllIn(body).size === 1, body)

      // released batches must not consume limit slots: quarantine a
      // NEWER batch, release it, and ask for the single most recent
      // awaiting-inspection row — the older unreleased batch 5 must
      // still be listed, not silently vanish behind the released one
      Seq((6L, "routed", 2L, true))
        .toDF("batch_id", "event", "n_docs", "drifted")
        .coalesce(1).write.mode("append").parquet(s"$doorDir/audit")
      val rel = java.nio.file.Paths.get(doorDir, "released")
      java.nio.file.Files.createDirectories(rel)
      java.nio.file.Files.createFile(rel.resolve("6"))
      val limited = req(base, "GET", "/door/quarantined?limit=1")._2
      assert(limited.contains("\"batch_id\":5"), limited)
      assert(!limited.contains("\"batch_id\":6"), limited)
    } finally srv.stop(0)
  }

  test("a fresh door serves empty feeds, not a schema-inference crash") {
    val doorDir = java.nio.file.Files.createTempDirectory("graft_hd_fresh").toString
    val spool = java.nio.file.Files.createTempDirectory("graft_hd_spool2").toString
    val srv = HttpServer.start(spool, 0, doorDir = Some(doorDir), sparkProvider = () => spark)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      assert(req(base, "GET", "/door/audit") === ((200, "[]")))
      assert(req(base, "GET", "/door/released") === ((200, """{"released":[]}""")))
      assert(req(base, "GET", "/door/quarantined") ===
        ((200, """{"quarantined":[]}""")))
    } finally srv.stop(0)
  }

  test("a release against a hand-built door (no audit dir) still records itself") {
    import spark.implicits._
    // a door dir assembled by hand — quarantined rows but no audit dir
    // — must not silently skip the release's audit record: the feed
    // and the marker listing would permanently disagree
    val doorDir = java.nio.file.Files.createTempDirectory("graft_hd_hand").toString
    Seq((7L, "doc", "en", 3L))
      .toDF("doc_id", "text", "lang", "batch_id")
      .coalesce(1).write.mode("append").parquet(s"$doorDir/quarantined")
    val n = StreamingOps.quarantineRelease(spark, doorDir, 3L)
    assert(n === 1L)
    val audit = spark.read.parquet(s"$doorDir/audit").collect()
    assert(audit.length === 1)
    assert(audit(0).getAs[String]("event") === "released")
    assert(audit(0).getAs[Long]("batch_id") === 3L)
  }

  test("guard verbs: review queue with evidence, embeddings omitted; stats") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def fold(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(d.take(2).map(b => f"$b%02x").mkString, 16) % 10
    }
    val emb = graft.GraftSession.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding").collect()
    val leakSrc = emb.find(r => fold(r.getLong(0)) == 9).get
    val okSrc = emb.find(r => fold(r.getLong(0)) != 9).get
    val guardDir = java.nio.file.Files
      .createTempDirectory("graft_hd_guard").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.evalGuardStream(
      input.toDF().toDF("vec_id", "embedding"), sf(), guardDir).start()
    try {
      input.addData((7000001L, leakSrc.getSeq[Float](1)),
        (7000002L, okSrc.getSeq[Float](1)))
      q.processAllAvailable()
    } finally q.stop()

    val spool = java.nio.file.Files.createTempDirectory("graft_hd_spool4").toString
    val srv = HttpServer.start(spool, 0, guardDir = Some(guardDir), sparkProvider = () => spark)
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      val (cc, cb) = req(base, "GET", "/guard/contaminated")
      assert(cc === 200, cb)
      assert(cb.contains(""""vec_id":7000001"""), cb)
      assert(cb.contains(s""""match_vec_id":${leakSrc.getLong(0)}"""), cb)
      assert(cb.contains(""""cosine":"""), cb)
      assert(!cb.contains("embedding"), cb) // evidence, not vectors
      assert(!cb.contains("7000002"), cb)
      // paging contract shared with /door/audit
      assert(req(base, "GET", "/guard/contaminated?since=999999")._2
        === """{"contaminated":[]}""")
      assert(req(base, "GET", "/guard/stats") ===
        ((200, """{"clean":1,"contaminated":1}""")))
      assert(req(base, "GET", "/guard/nope")._1 === 405)
    } finally srv.stop(0)
  }
}
