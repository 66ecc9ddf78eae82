package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class IngestSpec extends SparkSpec {

  private def mkFixture(): String = {
    val root = Files.createTempDirectory("graft_ingest_spec").toString
    def w(name: String, s: String) = Files.writeString(Paths.get(root, name), s)
    w("d.t-schema.sql",
      "CREATE TABLE t (id int NOT NULL, v varchar(10), PRIMARY KEY (id));")
    w("d.t.0001.csv", "1,\"a\"\n2,\"b\"\n")
    w("d.t.0002.csv", "3,\\N\n")
    root
  }

  test("chunk-level resume: a crash mid-file resumes at the chunk, not the file") {
    // reference tests/checkpoint_chunks: kill the import partway through
    // one large strict-format CSV, then resume — verified chunks must
    // not re-import (a re-parse would append duplicates and fail the
    // final whole-table checksum).
    val root = Files.createTempDirectory("graft_chunks").toString
    Files.writeString(Paths.get(root, "d.big-schema.sql"),
      "CREATE TABLE big (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    val body = (1 to 400).map(i => s"""$i,"val_$i"""").mkString("", "\n", "\n")
    Files.writeString(Paths.get(root, "d.big.0001.csv"), body)
    val size = Files.size(Paths.get(root, "d.big.0001.csv"))
    val out = Files.createTempDirectory("graft_chunks_out").toString
    val stateDir = Files.createTempDirectory("graft_chunks_state").toString
    val cfg = Ingest.Config(root, out, stateDir = Some(stateDir),
      strictFormat = true, chunkBytes = 1024L, chunkBatch = 1)
    val nChunks = ((size + 1023) / 1024).toInt
    assert(nChunks >= 3, s"fixture must split into >=3 chunks, got $nChunks")
    // run 1: crash after 2 chunk batches
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, cfg.copy(failpointAfterBatches = Some(2)))
    }
    assert(e.getMessage.contains("failpoint"))
    val afterCrash = Files.readString(Paths.get(stateDir, "state.jsonl"))
    val lastLine = afterCrash.trim.linesIterator.toSeq.last
    assert(lastLine.contains("\"imported\""), lastLine)
    assert(lastLine.contains("@0+1024") && lastLine.contains("@1024+1024"), lastLine)
    assert(!lastLine.contains("@2048+"), "crash must leave later chunks unrecorded")
    // run 2: resume — remaining chunks append, final checksum verifies
    val reports = Ingest.run(spark, cfg)
    assert(reports.length === 1 && reports.head.checksumOk && !reports.head.skipped)
    assert(reports.head.nRows === 400)
    // the resume must be INCREMENTAL: run 1 recorded 2 batches, run 2
    // imports only the remaining nChunks-2 (state lines prove it — a
    // full redo would write nChunks more records, not nChunks-2)
    val allLines = Files.readString(Paths.get(stateDir, "state.jsonl"))
      .trim.linesIterator.size
    assert(allLines === 2 + (nChunks - 2),
      s"expected incremental resume (2 + ${nChunks - 2} state records), got $allLines")
    val back = spark.read.parquet(s"$out/d.big").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(back.length === 400, "duplicates would mean verified chunks re-imported")
    assert(back.map(_._1).sorted.toSeq === (1 to 400))
    assert(back.toMap.apply(37) === "val_37")
    // run 3: fully verified table skips
    assert(Ingest.run(spark, cfg).head.skipped)
  }

  test("narrow auto-inc NULL fills cannot collide with later chunks' explicit ids") {
    // id int AUTO_INCREMENT with a NULL early in the file and a later
    // explicit id just above the early rows' max: per-batch fills
    // would allocate that same id from the first batch's local max
    // (and the accumulated checksum would bless the duplicate — it
    // expects both rows). The narrow-auto-inc gate forces one batch,
    // so the fill allocates above the WHOLE table's explicit max.
    val root = Files.createTempDirectory("graft_autoinc_chunks").toString
    Files.writeString(Paths.get(root, "d.a-schema.sql"),
      "CREATE TABLE a (id int AUTO_INCREMENT, v varchar(24), PRIMARY KEY (id));")
    val early = (1 to 60).map(i => s"""$i,"val_$i"""")
    val late = (61 to 120).map(i => s"""$i,"val_$i"""")
    val body = (early ++ Seq("""\N,"filled"""") ++ late).mkString("", "\n", "\n")
    Files.writeString(Paths.get(root, "d.a.0001.csv"), body)
    val size = Files.size(Paths.get(root, "d.a.0001.csv"))
    assert(size > 3 * 384, "fixture must span >=3 chunk grid cells")
    val out = Files.createTempDirectory("graft_autoinc_out").toString
    val rep = Ingest.run(spark, Ingest.Config(root, out,
      strictFormat = true, chunkBytes = 384L, chunkBatch = 1)).head
    assert(rep.checksumOk && rep.nRows === 121)
    val ids = spark.read.parquet(s"$out/d.a").collect().map(_.getInt(0))
    assert(ids.length === 121)
    assert(ids.distinct.length === 121, "fill collided with an explicit id")
    // the fill landed above the WHOLE table's explicit max (position-
    // based: base 120 + row position), not above batch 1's local max 60
    val filled = spark.read.parquet(s"$out/d.a")
      .where("v = 'filled'").collect().map(_.getInt(0)).toSeq
    assert(filled.length === 1 && filled.head > 120, s"fill got $filled")
  }

  test("duplicate explicit ids on an auto-inc primary key fail the report, not the state") {
    // MySQL rejects the second insert with a duplicate-key error; the
    // read-back checksum alone cannot (it expects every pre-write row,
    // duplicates included), so the verify leg checks id cardinality.
    // The verdict lands as a FAILED report (the checksum-mismatch
    // path), never a throw: a throw would skip the state record, so a
    // resume-append that landed duplicates would keep its stale
    // verified record and re-append the same units on every retry.
    val root = Files.createTempDirectory("graft_autoinc_dup").toString
    Files.writeString(Paths.get(root, "d.dup-schema.sql"),
      "CREATE TABLE dup (id bigint AUTO_INCREMENT, v varchar(10), PRIMARY KEY (id));")
    Files.writeString(Paths.get(root, "d.dup.0001.csv"), "1,\"a\"\n1,\"b\"\n")
    val out = Files.createTempDirectory("graft_autoinc_dup_out").toString
    val stateDir = Files.createTempDirectory("graft_autoinc_dup_state").toString
    val cfg = Ingest.Config(root, out, stateDir = Some(stateDir))
    val rep = Ingest.run(spark, cfg).head
    assert(!rep.checksumOk && rep.nRows === 2)
    assert(Files.readString(Paths.get(stateDir, "state.jsonl")).contains("\"failed\""))
    // a failed record re-imports from scratch: the output must not
    // accumulate another copy per retry
    val rep2 = Ingest.run(spark, cfg).head
    assert(!rep2.checksumOk && rep2.nRows === 2)
    assert(spark.read.parquet(s"$out/d.dup").count() === 2)
  }

  test("UTF-16 CSV under strictFormat fails loudly, never chunks or garbles") {
    // neither CSV path can line-split UTF-16 ('\n' is 0A 00, and
    // Spark's native per-line reader splits on raw 0x0A too — probed:
    // it garbles every row after the first), so the import must say
    // so instead of producing mojibake; the chunk gate independently
    // refuses to byte-split the file.
    val root = Files.createTempDirectory("graft_utf16").toString
    Files.writeString(Paths.get(root, "d.w-schema.sql"),
      "CREATE TABLE w (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    Files.write(Paths.get(root, "d.w.0001.csv"),
      "1,\"héllo\"\n2,\"wörld\"\n".getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
    val out = Files.createTempDirectory("graft_utf16_out").toString
    val e = intercept[Exception] {
      Ingest.run(spark, Ingest.Config(root, out,
        csvDialect = graft.sources.CsvDialect(encoding = "UTF-16LE"),
        strictFormat = true, chunkBytes = 8L, chunkBatch = 1))
    }
    assert(e.getMessage.contains("UTF-16/32"), e.getMessage)
  }

  test("dump files chunk under strictFormat: crash mid-file resumes at the chunk") {
    // the .sql face of the checkpoint_chunks scenario: one large dump
    // file splits into byte-range units, a crash after 2 batches
    // leaves their tokens recorded, and the resume imports only the
    // remaining chunks (append without re-parse, final checksum green)
    val root = Files.createTempDirectory("graft_sqlchunks").toString
    Files.writeString(Paths.get(root, "d.big-schema.sql"),
      "CREATE TABLE big (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    val body = (1 to 400).map(i => s"INSERT INTO big VALUES ($i,'val_$i');")
      .mkString("", "\n", "\n")
    Files.writeString(Paths.get(root, "d.big.0001.sql"), body)
    val size = Files.size(Paths.get(root, "d.big.0001.sql"))
    val out = Files.createTempDirectory("graft_sqlchunks_out").toString
    val stateDir = Files.createTempDirectory("graft_sqlchunks_state").toString
    val cfg = Ingest.Config(root, out, stateDir = Some(stateDir),
      strictFormat = true, chunkBytes = 2048L, chunkBatch = 1)
    val nChunks = ((size + 2047) / 2048).toInt
    assert(nChunks >= 3, s"fixture must split into >=3 chunks, got $nChunks")
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, cfg.copy(failpointAfterBatches = Some(2)))
    }
    assert(e.getMessage.contains("failpoint"))
    val lastLine = Files.readString(Paths.get(stateDir, "state.jsonl"))
      .trim.linesIterator.toSeq.last
    assert(lastLine.contains("@0+2048") && lastLine.contains("@2048+2048"), lastLine)
    assert(!lastLine.contains("@4096+"), "crash must leave later chunks unrecorded")
    val reports = Ingest.run(spark, cfg)
    assert(reports.length === 1 && reports.head.checksumOk && !reports.head.skipped)
    assert(reports.head.nRows === 400)
    val back = spark.read.parquet(s"$out/d.big").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(back.length === 400, "duplicates would mean verified chunks re-imported")
    assert(back.map(_._1).sorted.toSeq === (1 to 400))
    assert(back.toMap.apply(37) === "val_37")
    assert(Ingest.run(spark, cfg).head.skipped)
  }

  test("compressed dumps stay whole-file units beside chunked plain dumps") {
    val root = Files.createTempDirectory("graft_sqlmix").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    val plain = (1 to 120).map(i => s"INSERT INTO t VALUES ($i,'p_$i');")
      .mkString("", "\n", "\n")
    Files.writeString(Paths.get(root, "d.t.0001.sql"), plain)
    val gzBody = (121 to 150).map(i => s"INSERT INTO t VALUES ($i,'z_$i');")
      .mkString("", "\n", "\n")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(Paths.get(root, "d.t.0002.sql.gz")))
    gz.write(gzBody.getBytes("UTF-8")); gz.close()
    val out = Files.createTempDirectory("graft_sqlmix_out").toString
    val stateDir = Files.createTempDirectory("graft_sqlmix_state").toString
    val r = Ingest.run(spark, Ingest.Config(root, out, stateDir = Some(stateDir),
      strictFormat = true, chunkBytes = 1024L, chunkBatch = 8)).head
    assert(r.checksumOk && r.nRows === 150)
    val state = Files.readString(Paths.get(stateDir, "state.jsonl"))
    assert(state.contains("d.t.0001.sql@0+1024"), state)
    assert(state.contains("d.t.0002.sql.gz\"") || state.contains("d.t.0002.sql.gz,"),
      s"gz file must record as a whole-file token: $state")
    assert(!state.contains("d.t.0002.sql.gz@"), state)
    assert(spark.read.parquet(s"$out/d.t").count() === 150)
  }

  test("toggling strictFormat over existing state re-imports, never duplicates") {
    val root = Files.createTempDirectory("graft_scheme").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    val body = (1 to 300).map(i => s"""$i,"v_$i"""").mkString("", "\n", "\n")
    Files.writeString(Paths.get(root, "d.t.0001.csv"), body)
    val out = Files.createTempDirectory("graft_scheme_out").toString
    val stateDir = Files.createTempDirectory("graft_scheme_state").toString
    val cfg = Ingest.Config(root, out, stateDir = Some(stateDir))
    assert(Ingest.run(spark, cfg).head.checksumOk)
    // run 2 flips strictFormat: tokens change scheme (bare → chunked);
    // appending under the old record would double every row and the
    // accumulated checksum would NOT catch it — the guard must force a
    // clean overwrite instead
    val r2 = Ingest.run(spark,
      cfg.copy(strictFormat = true, chunkBytes = 512L, chunkBatch = 2)).head
    assert(r2.checksumOk && !r2.skipped && r2.nRows === 300)
    assert(spark.read.parquet(s"$out/d.t").count() === 300)
    // run 3 (same scheme) skips
    assert(Ingest.run(spark,
      cfg.copy(strictFormat = true, chunkBytes = 512L, chunkBatch = 2)).head.skipped)
  }

  test("maxError counts bad rows across ALL chunk batches, not just the last") {
    val root = Files.createTempDirectory("graft_cumbad").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    // the bad rows sit at the FRONT of the file — early batches only
    val bad = (1 to 3).map(i => s"""xx$i,"v"""")
    val good = (4 to 200).map(i => s"""$i,"v_$i"""")
    Files.writeString(Paths.get(root, "d.t.0001.csv"),
      (bad ++ good).mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("graft_cumbad_out").toString
    val r = Ingest.run(spark, Ingest.Config(root, out,
      strictFormat = true, chunkBytes = 256L, chunkBatch = 1, maxError = 0L)).head
    assert(r.badRows === 3L, s"badRows=${r.badRows}")
    assert(!r.checksumOk, "3 bad rows must fail a maxError=0 import")
  }

  test("a blown error budget aborts between chunk batches, not after the last") {
    val root = Files.createTempDirectory("graft_earlyabort").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    val bad = (1 to 3).map(i => s"""xx$i,"v"""")
    val good = (4 to 200).map(i => s"""$i,"v_$i"""")
    Files.writeString(Paths.get(root, "d.t.0001.csv"),
      (bad ++ good).mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("graft_earlyabort_out").toString
    // bad rows all land in batch 1; the failpoint would throw after
    // batch 2 — reaching it means the import kept going after the
    // budget was provably blown. The early gate must return a failed
    // report BEFORE the failpoint can fire.
    val r = Ingest.run(spark, Ingest.Config(root, out,
      strictFormat = true, chunkBytes = 256L, chunkBatch = 1, maxError = 0L,
      failpointAfterBatches = Some(2))).head
    assert(!r.checksumOk && r.badRows >= 3L,
      s"expected early-aborted failed report, got $r")
  }

  test("utf8mb4 charset spelling takes the native UTF-8 path (CSV + dump)") {
    // the reference's accepted value is `utf8mb4` (reader.go:43) — it
    // must not crash with UnsupportedCharsetException, and multibyte
    // data must round-trip exactly as with utf8
    val root = Files.createTempDirectory("graft_mb4").toString
    val s1 = "émoji✓中文"
    Files.writeString(Paths.get(root, "d.c-schema.sql"),
      "CREATE TABLE c (id int NOT NULL, v varchar(20), PRIMARY KEY (id));")
    Files.write(Paths.get(root, "d.c.0001.csv"),
      s"""1,"$s1"\n""".getBytes("UTF-8"))
    Files.writeString(Paths.get(root, "d.s-schema.sql"),
      "CREATE TABLE s (id int NOT NULL, v varchar(20), PRIMARY KEY (id));")
    Files.write(Paths.get(root, "d.s.0001.sql"),
      s"INSERT INTO s VALUES (1, '$s1');".getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft_mb4_out").toString
    val reports = Ingest.run(spark, Ingest.Config(root, out, charset = "utf8mb4"))
    assert(reports.length === 2 && reports.forall(_.checksumOk))
    for (t <- Seq("c", "s"))
      assert(spark.read.parquet(s"$out/d.$t").collect()(0).getString(1) === s1)
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  test("strictFormat never byte-chunks compressed CSVs (whole-file, codec-decoded)") {
    val root = Files.createTempDirectory("graft_gzchunk").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(10), PRIMARY KEY (id));")
    val rows = (1 to 50).map(i => s"""$i,"g_$i"""").mkString("", "\n", "\n")
    Files.write(Paths.get(root, "d.t.0001.csv.gz"), gzip(rows.getBytes("UTF-8")))
    val out = Files.createTempDirectory("graft_gzchunk_out").toString
    // chunkBytes far below the compressed size: chunking MUST not apply
    // to the gz (raw gzip bytes parsed as CSV would import garbage)
    val r = Ingest.run(spark, Ingest.Config(root, out,
      strictFormat = true, chunkBytes = 64L, chunkBatch = 1)).head
    assert(r.checksumOk && r.nRows === 50)
    val back = spark.read.parquet(s"$out/d.t").orderBy("id").collect()
    assert(back.length === 50 && back(0).getString(1) === "g_1")
  }

  test("compressed dumps decode through a non-UTF-8 charset") {
    val root = Files.createTempDirectory("graft_gzgbk").toString
    Files.writeString(Paths.get(root, "d.g-schema.sql"),
      "CREATE TABLE g (id int NOT NULL, v varchar(20), PRIMARY KEY (id));")
    val s1 = "压缩中文"
    Files.write(Paths.get(root, "d.g.0001.sql.gz"),
      gzip(s"INSERT INTO g VALUES (1, '$s1');".getBytes("GB18030")))
    val out = Files.createTempDirectory("graft_gzgbk_out").toString
    val r = Ingest.run(spark, Ingest.Config(root, out, charset = "gb18030")).head
    assert(r.checksumOk && r.nRows === 1)
    assert(spark.read.parquet(s"$out/d.g").collect()(0).getString(1) === s1)
  }

  test("GB18030 data files decode through the configured charset (CSV + dump)") {
    // reference tests/character_sets: the data-character-set config must
    // reach the DATA files, not just the schema read — a GB18030 CSV or
    // dump read as UTF-8 would mojibake silently.
    val root = Files.createTempDirectory("graft_gbk").toString
    val s1 = "中文测试"
    val s2 = "汉字"
    Files.writeString(Paths.get(root, "d.c-schema.sql"),
      "CREATE TABLE c (id int NOT NULL, v varchar(20), PRIMARY KEY (id));")
    Files.write(Paths.get(root, "d.c.0001.csv"),
      s"""1,"$s1"\n2,"$s2"\n""".getBytes("GB18030"))
    Files.writeString(Paths.get(root, "d.s-schema.sql"),
      "CREATE TABLE s (id int NOT NULL, v varchar(20), PRIMARY KEY (id));")
    Files.write(Paths.get(root, "d.s.0001.sql"),
      s"INSERT INTO s VALUES (1, '$s1'), (2, '$s2');".getBytes("GB18030"))
    val out = Files.createTempDirectory("graft_gbk_out").toString
    val reports = Ingest.run(spark, Ingest.Config(root, out, charset = "gb18030"))
    assert(reports.length === 2 && reports.forall(_.checksumOk))
    for (t <- Seq("c", "s")) {
      val back = spark.read.parquet(s"$out/d.$t").collect()
        .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      assert(back.toSeq === Seq((1, s1), (2, s2)), s"table $t")
    }
    // the same bytes imported as UTF-8 must NOT round-trip (sanity that
    // the fixture actually exercises the decode)
    val out2 = Files.createTempDirectory("graft_gbk_utf8").toString
    Ingest.run(spark, Ingest.Config(root, out2))
    val mojibake = spark.read.parquet(s"$out2/d.c").collect()
      .map(_.getString(1)).toSet
    assert(!mojibake.contains(s1))
  }

  test("no-schema mode adopts the existing target table's schema") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_noschema").toString
    Files.writeString(Paths.get(root, "noschema.t.0001.csv"), "5,\"hi\"\n6,\"yo\"\n")
    val out = Files.createTempDirectory("graft_noschema_out").toString
    // the pre-created downstream table: (x int, v string), zero rows
    spark.range(0).select(col("id").cast("int").as("x"), lit("").as("v"))
      .write.parquet(s"$out/noschema.t")
    val reports = Ingest.run(spark,
      Ingest.Config(root, out, noSchema = true))
    assert(reports.length === 1 && reports.head.nRows === 2 && reports.head.checksumOk)
    val back = spark.read.parquet(s"$out/noschema.t").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(back.toSeq === Seq((5, "hi"), (6, "yo")))
  }

  test("no-schema mode ignores schema files in the dump (target wins)") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_noschema3").toString
    // a stale schema file with a DIFFERENT column set lies in the dump;
    // the reference's --no-schema ignores it entirely
    Files.writeString(Paths.get(root, "noschema.t-schema.sql"),
      "CREATE TABLE t (wrong1 int, wrong2 int, wrong3 int);")
    Files.writeString(Paths.get(root, "noschema.t.0001.csv"), "7,\"ok\"\n")
    val out = Files.createTempDirectory("graft_noschema3_out").toString
    spark.range(0).select(col("id").cast("int").as("x"), lit("").as("v"))
      .write.parquet(s"$out/noschema.t")
    Ingest.run(spark, Ingest.Config(root, out, noSchema = true))
    val back = spark.read.parquet(s"$out/noschema.t")
    assert(back.columns.toSeq === Seq("x", "v"))
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((7, "ok")))
  }

  test("no-schema mode without an existing target fails loudly") {
    val root = Files.createTempDirectory("graft_noschema2").toString
    Files.writeString(Paths.get(root, "noschema.t.0001.csv"), "1\n")
    val out = Files.createTempDirectory("graft_noschema2_out").toString
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, Ingest.Config(root, out, noSchema = true))
    }
    assert(e.getMessage.contains("no-schema mode"))
  }

  test("a 256-column table imports positionally (reference tests/too_many_columns)") {
    val root = Files.createTempDirectory("graft_wide").toString
    val cols = (1 to 256).map(i => f"COL$i%03d")
    Files.writeString(Paths.get(root, "w.t-schema.sql"),
      cols.map(c => s"$c VARCHAR(16)").mkString("CREATE TABLE t (", ", ", ");"))
    Files.writeString(Paths.get(root, "w.t.0001.csv"),
      (1 to 256).map(i => 1000 + i).mkString("", ",", "\n"))
    val out = Files.createTempDirectory("graft_wide_out").toString
    val reports = Ingest.run(spark, Ingest.Config(root, out))
    assert(reports.head.nRows === 1 && reports.head.checksumOk)
    val row = spark.read.parquet(s"$out/w.t").head()
    val schema = spark.read.parquet(s"$out/w.t").schema
    // + _tidb_rowid: 256 varchar columns and no primary key → no
    // integer handle
    assert(schema.fieldNames.toSeq === cols :+ "_tidb_rowid")
    assert(row.getString(schema.fieldIndex("COL001")) === "1001")
    assert(row.getString(schema.fieldIndex("COL100")) === "1100")
    assert(row.getString(schema.fieldIndex("COL256")) === "1256")
  }

  test("mixed SQL+CSV shards with a BINARY column union and import") {
    // regression: hex-sentinel resolution must run AFTER the shard
    // union — resolving the SQL shard alone types its binary column
    // early, and Spark does not coerce string<->binary in a union
    val root = Files.createTempDirectory("graft_mixed_bin").toString
    Files.writeString(Paths.get(root, "m.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, payload varbinary(8), PRIMARY KEY (id));")
    Files.writeString(Paths.get(root, "m.t.0001.sql"),
      "INSERT INTO t VALUES (1, x'DEADBEEF');")
    Files.writeString(Paths.get(root, "m.t.0002.csv"), "2,\"ab\"\n")
    val out = Files.createTempDirectory("graft_mixed_bin_out").toString
    val reports = Ingest.run(spark, Ingest.Config(root, out))
    assert(reports.head.nRows === 2 && reports.head.checksumOk)
    val back = spark.read.parquet(s"$out/m.t").orderBy("id").collect()
    assert(back(0).getAs[Array[Byte]]("payload").toSeq ===
      Seq(0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte))
    assert(back(1).getAs[Array[Byte]]("payload").toSeq ===
      "ab".getBytes("UTF-8").toSeq)
  }

  test("schema-less SQL dump decodes hex datums, no sentinel in output") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_noschema_sql").toString
    Files.writeString(Paths.get(root, "noschema.t.0001.sql"),
      "INSERT INTO t VALUES (8, 0x686579);")
    val out = Files.createTempDirectory("graft_noschema_sql_out").toString
    spark.range(0).select(col("id").cast("int").as("x"), lit("").as("v"))
      .write.parquet(s"$out/noschema.t")
    Ingest.run(spark, Ingest.Config(root, out, noSchema = true))
    val back = spark.read.parquet(s"$out/noschema.t").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((8, "hey")))
  }

  test("strict mode fails the whole import loudly on one bad value") {
    val root = Files.createTempDirectory("graft_strict").toString
    Files.writeString(Paths.get(root, "s.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, n int);")
    Files.writeString(Paths.get(root, "s.t.0001.csv"), "1,10\n2,notanum\n")
    val out = Files.createTempDirectory("graft_strict_out").toString
    val e = intercept[Exception] {
      Ingest.run(spark, Ingest.Config(root, out, strictMode = true))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("strict mode")), e.toString)
    // non-strict mode imports the same dir, nulling the bad value
    val out2 = Files.createTempDirectory("graft_strict_out2").toString
    val reports = Ingest.run(spark, Ingest.Config(root, out2))
    assert(reports.head.nRows === 2 && reports.head.badRows === 1)
  }

  test("ingest restores a CSV table with verified checksum") {
    val src = mkFixture()
    val out = Files.createTempDirectory("graft_ingest_out").toString
    val reports = Ingest.run(spark, Ingest.Config(src, out))
    assert(reports.length === 1)
    val r = reports.head
    assert(r.table === "t" && r.nRows === 3 && r.checksumOk && !r.skipped)
    val back = spark.read.parquet(s"$out/d.t").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) null else x.getString(1))).sortBy(_._1)
    assert(back.toSeq === Seq((1, "a"), (2, "b"), (3, null)))
  }

  test("bz2-compressed CSV ingests end-to-end (S8: Hadoop pure-Java codec)") {
    import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
    val root = Files.createTempDirectory("graft_ingest_bz2").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(10), PRIMARY KEY (id));")
    val bz = new BZip2CompressorOutputStream(
      Files.newOutputStream(Paths.get(root, "d.t.0001.csv.bz2")))
    try bz.write("1,\"a\"\n2,\"b\"\n".getBytes("UTF-8")) finally bz.close()
    val out = Files.createTempDirectory("graft_ingest_bz2_out").toString
    val reports = Ingest.run(spark, Ingest.Config(root, out))
    assert(reports.length === 1 && reports.head.nRows === 2 && reports.head.checksumOk)
    val back = spark.read.parquet(s"$out/d.t").orderBy("id").collect()
      .map(x => (x.getInt(0), x.getString(1)))
    assert(back.toSeq === Seq((1, "a"), (2, "b")))
  }

  test("unsupported codec in the source dir fails discovery, naming the file") {
    val root = Files.createTempDirectory("graft_ingest_zst").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, PRIMARY KEY (id));")
    Files.write(Paths.get(root, "d.t.0001.csv.zst"), Array[Byte](0x28, (0xb5).toByte))
    val out = Files.createTempDirectory("graft_ingest_zst_out").toString
    val e = intercept[IllegalArgumentException] {
      Ingest.run(spark, Ingest.Config(root, out))
    }
    assert(e.getMessage.contains("d.t.0001.csv.zst"), e.getMessage)
  }

  test("concurrent table restore matches the sequential reports") {
    val root = Files.createTempDirectory("graft_ingest_conc").toString
    def w(name: String, s: String) = Files.writeString(Paths.get(root, name), s)
    (1 to 3).foreach { i =>
      w(s"d.t$i-schema.sql",
        s"CREATE TABLE t$i (id int NOT NULL, v varchar(10), PRIMARY KEY (id));")
      w(s"d.t$i.0001.csv", s"$i,\"x\"\n${i + 10},\"y\"\n")
    }
    val outSeq = Files.createTempDirectory("graft_ingest_conc_s").toString
    val outPar = Files.createTempDirectory("graft_ingest_conc_p").toString
    val stateDir = Files.createTempDirectory("graft_ingest_conc_state").toString
    val seqR = Ingest.run(spark, Ingest.Config(root, outSeq))
    val parR = Ingest.run(spark, Ingest.Config(root, outPar,
      stateDir = Some(stateDir), tableConcurrency = 3))
    assert(parR === seqR.map(_.copy()))
    assert(parR.forall(r => r.checksumOk && r.nRows === 2))
    // state recorded for every table from the worker threads
    val state = new JobState(Some(stateDir))
    (1 to 3).foreach(i => assert(state.get(s"d.t$i").exists(_.status == "verified")))
  }

  test("re-run with job state skips verified tables") {
    val src = mkFixture()
    val out = Files.createTempDirectory("graft_ingest_out2").toString
    val state = Files.createTempDirectory("graft_ingest_state").toString
    val first = Ingest.run(spark, Ingest.Config(src, out, stateDir = Some(state)))
    assert(first.forall(r => !r.skipped && r.checksumOk))
    val second = Ingest.run(spark, Ingest.Config(src, out, stateDir = Some(state)))
    assert(second.forall(_.skipped))
    assert(second.head.nRows === first.head.nRows)
  }

  test("job state round-trips records") {
    val r = JobState.Record("db.t", "verified", 42L, -12345L, 9000L,
      Seq("/x/d.t.0001.csv", "/x/d.t.0002.csv"))
    assert(JobState.parse(JobState.render(r)) === Some(r))
    // legacy record without nBytes/files still parses
    assert(JobState.parse(
      """{"key":"db.t","status":"verified","nRows":42,"checksum":-1}""")
      === Some(JobState.Record("db.t", "verified", 42L, -1L)))
  }

  test("a re-run over a source dir whose path holds a comma skips the verified table") {
    val src = Files.createDirectories(
      Files.createTempDirectory("graft_ingest_comma").resolve("dump,2026")).toString
    Files.writeString(Paths.get(src, "db.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(10), PRIMARY KEY (id));")
    Files.writeString(Paths.get(src, "db.t.sql"),
      "INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c');\n")
    val out = Files.createTempDirectory("graft_ingest_comma_out").toString
    val state = Files.createTempDirectory("graft_ingest_comma_state").toString
    val cfg = Ingest.Config(src, out, stateDir = Some(state))
    assert(Ingest.run(spark, cfg).head.nRows === 3)
    val second = Ingest.run(spark, cfg).head
    assert(second.skipped && second.nRows === 3, second)
    assert(spark.read.parquet(s"$out/db.t").count() === 3)
  }

  test("a new shard file after a verified run imports incrementally") {
    val src = mkFixture()
    val out = Files.createTempDirectory("graft_ingest_out3").toString
    val state = Files.createTempDirectory("graft_ingest_state3").toString
    val cfg = Ingest.Config(src, out, stateDir = Some(state))
    val first = Ingest.run(spark, cfg)
    assert(first.head.nRows === 3 && first.head.checksumOk)
    // a new shard lands in the source dir; re-run picks up ONLY it
    Files.writeString(Paths.get(src, "d.t.0003.csv"), "4,\"d\"\n5,\"e\"\n")
    val second = Ingest.run(spark, cfg)
    val r2 = second.head
    assert(!r2.skipped && r2.checksumOk && r2.nRows === 5)
    val back = spark.read.parquet(s"$out/d.t").collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) null else x.getString(1))).sortBy(_._1)
    assert(back.toSeq === Seq((1, "a"), (2, "b"), (3, null), (4, "d"), (5, "e")))
    // third run: nothing new → skip
    val third = Ingest.run(spark, cfg)
    assert(third.head.skipped && third.head.nRows === 5)
  }

  test("strictMode config fails the import on a bad value") {
    val root = Files.createTempDirectory("graft_strict").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, n bigint, PRIMARY KEY (id));")
    Files.writeString(Paths.get(root, "d.t.0001.csv"), "1,10\n2,oops\n")
    val out = Files.createTempDirectory("graft_strict_out").toString
    val e = intercept[Exception] {
      Ingest.run(spark, Ingest.Config(root, out, strictMode = true))
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("strict mode")))
  }

  test("cast errors are counted per table and gated by maxError") {
    val root = Files.createTempDirectory("graft_errsum").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, n bigint, PRIMARY KEY (id));")
    Files.writeString(Paths.get(root, "d.t.0001.csv"), "1,10\n2,oops\n3,30\n4,bad\n")
    val out1 = Files.createTempDirectory("graft_errsum_out1").toString
    val tolerant = Ingest.run(spark, Ingest.Config(root, out1))
    assert(tolerant.head.badRows === 2L)
    assert(tolerant.head.checksumOk) // default maxError tolerates
    val back = spark.read.parquet(s"$out1/d.t").orderBy("id").collect()
    assert(back(1).isNullAt(1) && back(3).isNullAt(1)) // bad values nulled
    // a tight error budget fails the table
    val out2 = Files.createTempDirectory("graft_errsum_out2").toString
    val strict = Ingest.run(spark, Ingest.Config(root, out2, maxError = 1))
    assert(!strict.head.checksumOk && strict.head.badRows === 2L)
  }

  test("a data file with no schema file imports with positional columns") {
    val root = Files.createTempDirectory("graft_noschema").toString
    Files.writeString(Paths.get(root, "d.ns.0001.csv"), "1,\"a\"\n2,\"b\"\n")
    val out = Files.createTempDirectory("graft_noschema_out").toString
    val reports = Ingest.run(spark, Ingest.Config(root, out))
    assert(reports.head.nRows === 2 && reports.head.checksumOk)
    val back = spark.read.parquet(s"$out/d.ns")
    assert(back.columns.toSeq === Seq("_c0", "_c1"))
    assert(back.count() === 2)
  }

  test("a table with a composite string primary key imports and sorts (common handle)") {
    val root = Files.createTempDirectory("graft_ch").toString
    Files.writeString(Paths.get(root, "d.ch-schema.sql"),
      "CREATE TABLE ch (region varchar(10) NOT NULL, name varchar(10) NOT NULL, " +
        "v int, PRIMARY KEY (region, name));")
    Files.writeString(Paths.get(root, "d.ch.0001.csv"),
      "\"west\",\"zed\",1\n\"east\",\"amy\",2\n\"west\",\"amy\",3\n")
    val out = Files.createTempDirectory("graft_ch_out").toString
    val r = Ingest.run(spark, Ingest.Config(root, out)).head
    assert(r.nRows === 3 && r.checksumOk)
    val back = spark.read.parquet(s"$out/d.ch")
      .collect().map(x => (x.getString(0), x.getString(1), x.getInt(2))).sorted
    assert(back.toSeq === Seq(("east", "amy", 2), ("west", "amy", 3), ("west", "zed", 1)))
  }

  test("a legacy verified record without a file list re-imports fully, not append") {
    val src = mkFixture()
    val out = Files.createTempDirectory("graft_legacy_out").toString
    val state = Files.createTempDirectory("graft_legacy_state").toString
    // first run records modern state; rewrite it as a legacy record
    Ingest.run(spark, Ingest.Config(src, out, stateDir = Some(state)))
    Files.writeString(Paths.get(state, "state.jsonl"),
      """{"key":"d.t","status":"verified","nRows":3,"checksum":0}""" + "\n")
    val rerun = Ingest.run(spark, Ingest.Config(src, out, stateDir = Some(state)))
    assert(!rerun.head.skipped && rerun.head.checksumOk)
    // full overwrite, not a duplicate append
    assert(spark.read.parquet(s"$out/d.t").count() === 3)
  }

  test("auto-increment column absent from the source is synthesized, unique, rebased on resume") {
    val root = Files.createTempDirectory("graft_autoinc").toString
    Files.writeString(Paths.get(root, "d.ai-schema.sql"),
      "CREATE TABLE ai (id bigint NOT NULL AUTO_INCREMENT, v varchar(10), PRIMARY KEY (id));")
    // header-carrying CSV without the id column
    Files.writeString(Paths.get(root, "d.ai.0001.csv"), "v\n\"a\"\n\"b\"\n\"c\"\n")
    val out = Files.createTempDirectory("graft_autoinc_out").toString
    val state = Files.createTempDirectory("graft_autoinc_state").toString
    val cfg = Ingest.Config(root, out, stateDir = Some(state),
      csvDialect = graft.sources.CsvDialect(header = true))
    val first = Ingest.run(spark, cfg).head
    assert(first.nRows === 3 && first.checksumOk)
    val ids1 = spark.read.parquet(s"$out/d.ai").collect().map(_.getLong(0))
    assert(ids1.length === 3 && ids1.distinct.length === 3)
    assert(ids1.min >= 1L && first.maxRowId === ids1.max)
    // a new shard appends; its synthesized IDs rebase past the stored max
    Files.writeString(Paths.get(root, "d.ai.0002.csv"), "v\n\"d\"\n\"e\"\n")
    val second = Ingest.run(spark, cfg).head
    assert(!second.skipped && second.checksumOk && second.nRows === 5)
    val ids2 = spark.read.parquet(s"$out/d.ai").collect().map(_.getLong(0))
    assert(ids2.length === 5 && ids2.distinct.length === 5)
    assert(second.maxRowId === ids2.max)
    // every new id sits above the first run's max
    val newOnes = ids2.diff(ids1)
    assert(newOnes.forall(_ > ids1.max))
  }

  test("NULL in a carried auto-increment column allocates without colliding with explicit ids") {
    val root = Files.createTempDirectory("graft_autoinc_null").toString
    Files.writeString(Paths.get(root, "d.an-schema.sql"),
      "CREATE TABLE an (id bigint NOT NULL AUTO_INCREMENT, v varchar(10), PRIMARY KEY (id));")
    // explicit ids 1 and 2 bracket the NULL row: a low-range fill
    // (priorMax=0 → id 1 or 2) would collide with them
    Files.writeString(Paths.get(root, "d.an.0001.csv"), "1,\"a\"\n\\N,\"b\"\n2,\"c\"\n")
    val out = Files.createTempDirectory("graft_autoinc_null_out").toString
    val r = Ingest.run(spark, Ingest.Config(root, out)).head
    assert(r.nRows === 3 && r.checksumOk)
    val rows = spark.read.parquet(s"$out/d.an").collect()
      .map(x => (x.getLong(0), x.getString(1)))
    assert(rows.length === 3 && rows.map(_._1).distinct.length === 3)
    // explicit values kept; the NULL allocated from the high range
    val byV = rows.map { case (id, v) => v -> id }.toMap
    assert(byV("a") === 1L && byV("c") === 2L && byV("b") >= Ingest.NullFillBase)
    assert(r.maxRowId === byV("b")) // rebase point covers the fill
  }

  test("narrow int auto-increment columns fill densely within the type's range") {
    val root = Files.createTempDirectory("graft_autoinc_int").toString
    Files.writeString(Paths.get(root, "d.ni-schema.sql"),
      "CREATE TABLE ni (id int NOT NULL AUTO_INCREMENT, v varchar(10), PRIMARY KEY (id));")
    // explicit ids 7 and 9 plus a NULL: the fill must stay in int range
    // (the bigint high-range scheme would overflow to NULL) and sit
    // above the batch's explicit max
    Files.writeString(Paths.get(root, "d.ni.0001.csv"), "7,\"a\"\n\\N,\"b\"\n9,\"c\"\n")
    val out = Files.createTempDirectory("graft_autoinc_int_out").toString
    val r = Ingest.run(spark, Ingest.Config(root, out)).head
    assert(r.nRows === 3 && r.checksumOk && r.badRows === 0L)
    val rows = spark.read.parquet(s"$out/d.ni").collect()
      .map(x => (x.getInt(0), x.getString(1)))
    assert(rows.map(_._1).distinct.length === 3)
    val byV = rows.map { case (id, v) => v -> id }.toMap
    assert(byV("a") === 7 && byV("c") === 9)
    assert(byV("b") > 9 && byV("b") <= 12) // dense: base=9 + rowid ≤ 3
  }

  test("narrow auto-increment fill past the type ceiling fails with a clear error") {
    val root = Files.createTempDirectory("graft_autoinc_ovf").toString
    Files.writeString(Paths.get(root, "d.nt-schema.sql"),
      "CREATE TABLE nt (id tinyint NOT NULL AUTO_INCREMENT, v varchar(10), PRIMARY KEY (id));")
    // explicit max 126 + 2 NULL fills > tinyint max 127 → must fail
    // loudly, not null out in the cast
    Files.writeString(Paths.get(root, "d.nt.0001.csv"), "126,\"a\"\n\\N,\"b\"\n\\N,\"c\"\n")
    val out = Files.createTempDirectory("graft_autoinc_ovf_out").toString
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, Ingest.Config(root, out))
    }
    assert(e.getMessage.contains("overflows tinyint"), e.getMessage)
    assert(e.getMessage.contains("d.nt.id"), e.getMessage)
  }

  test("a narrow auto-increment column absent from a headered CSV overflows loudly") {
    val root = Files.createTempDirectory("graft_autoinc_absent_ovf").toString
    Files.writeString(Paths.get(root, "d.na-schema.sql"),
      "CREATE TABLE na (id tinyint NOT NULL AUTO_INCREMENT, v int, PRIMARY KEY (id));")
    val cfg = Ingest.Config(root, Files.createTempDirectory("graft_autoinc_absent_out").toString,
      csvDialect = graft.sources.CsvDialect(header = true))
    // 5 rows fit: ids are the prior max (0) + row position
    Files.writeString(Paths.get(root, "d.na.0001.csv"), (1 to 5).mkString("v\n", "\n", "\n"))
    val r = Ingest.run(spark, cfg).head
    assert(r.checksumOk && r.nRows === 5 && r.maxRowId === 5L, r)
    assert(spark.read.parquet(s"${cfg.targetDir}/d.na").collect()
      .map(_.getInt(0)).sorted.toSeq === (1 to 5))
    // 200 rows do not: the same error as a dump's carried NULL fills
    Files.writeString(Paths.get(root, "d.na.0001.csv"), (1 to 200).mkString("v\n", "\n", "\n"))
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, cfg.copy(targetDir =
        Files.createTempDirectory("graft_autoinc_absent_out2").toString))
    }
    assert(e.getMessage.contains("overflows tinyint"), e.getMessage)
    assert(e.getMessage.contains("d.na.id"), e.getMessage)
  }

  test("AUTO_RANDOM column absent from the source synthesizes sharded unique ids") {
    val root = Files.createTempDirectory("graft_autorand").toString
    // TiDB dumps AUTO_RANDOM inside an executable comment
    Files.writeString(Paths.get(root, "d.ar-schema.sql"),
      "CREATE TABLE ar (id bigint NOT NULL /*T![auto_rand] AUTO_RANDOM(5) */, " +
        "v varchar(10), PRIMARY KEY (id));")
    Files.writeString(Paths.get(root, "d.ar.0001.csv"),
      "v\n" + (1 to 40).map(i => s""""v$i"""").mkString("\n") + "\n")
    val out = Files.createTempDirectory("graft_autorand_out").toString
    val state = Files.createTempDirectory("graft_autorand_state").toString
    val cfg = Ingest.Config(root, out, stateDir = Some(state),
      csvDialect = graft.sources.CsvDialect(header = true))
    val r = Ingest.run(spark, cfg).head
    assert(r.nRows === 40 && r.checksumOk)
    val ids = spark.read.parquet(s"$out/d.ar").collect().map(_.getLong(0))
    assert(ids.length === 40 && ids.distinct.length === 40)
    // low 58 bits are the row-ID portion; the report rebases on them
    val mask = (1L << 58) - 1
    assert(r.maxRowId === ids.map(_ & mask).max)
    // resume: a new shard's ids stay unique against the first batch
    Files.writeString(Paths.get(root, "d.ar.0002.csv"), "v\n\"w1\"\n\"w2\"\n")
    val second = Ingest.run(spark, cfg).head
    assert(second.checksumOk && second.nRows === 42)
    val ids2 = spark.read.parquet(s"$out/d.ar").collect().map(_.getLong(0))
    assert(ids2.length === 42 && ids2.distinct.length === 42)
  }

  test("various types round-trip through a dump import (reference tests/various_types)") {
    val root = Files.createTempDirectory("graft_vt").toString
    Files.writeString(Paths.get(root, "d.vt-schema.sql"),
      """CREATE TABLE vt (
        |  id bigint NOT NULL,
        |  dt datetime,
        |  d date,
        |  dec decimal(10,2),
        |  en enum('red','green','blue'),
        |  st set('a','b','c'),
        |  bt bit(8),
        |  tm time,
        |  yr year,
        |  js json,
        |  bl boolean,
        |  PRIMARY KEY (id)
        |);""".stripMargin)
    Files.writeString(Paths.get(root, "d.vt.0001.sql"),
      """INSERT INTO vt (id, dt, d, dec, en, st, bt, tm, yr, js, bl) VALUES
        |(1, '2024-03-01 12:34:56', '2024-03-01', 12345.67, 'red', 'a,c', b'101', '10:20:30', 2024, '{"k": 1}', TRUE),
        |(2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE);""".stripMargin)
    val out = Files.createTempDirectory("graft_vt_out").toString
    val r = Ingest.run(spark, Ingest.Config(root, out)).head
    assert(r.nRows === 2 && r.checksumOk)
    val back = spark.read.parquet(s"$out/d.vt").orderBy("id").collect()
    val r1 = back(0)
    assert(r1.getLong(0) === 1L)
    assert(r1.getTimestamp(1).toInstant.toString === "2024-03-01T12:34:56Z") // UTC session
    assert(r1.getDate(2).toString === "2024-03-01")
    assert(r1.getDecimal(3) === new java.math.BigDecimal("12345.67"))
    assert(r1.getString(4) === "red")
    assert(r1.getString(5) === "a,c")
    assert(r1.getLong(6) === 5L) // b'101'
    assert(r1.getString(7) === "10:20:30")
    assert(r1.getInt(8) === 2024)
    assert(r1.getString(9) === """{"k": 1}""")
    assert(r1.getBoolean(10) === true)
    val r2 = back(1)
    assert(r2.getLong(0) === 2L && !r2.getBoolean(10))
    (1 to 9).foreach(i => assert(r2.isNullAt(i), s"col $i should be null"))
  }

  test("variousTypesDec pins the string-rendered DECIMAL arithmetic the driver probe isolates") {
    import graft.operators.IngestQueries
    val rows = IngestQueries.variousTypesDec(spark, sf()).collect()
    assert(rows.length === 3)
    val r0 = rows(0)
    assert(r0.getAs[String]("dec6_str") === "12.3456")
    assert(r0.getAs[String]("dec6_x3") === "37.0368")
    assert(r0.getAs[String]("dec6_r2") === "12.35") // Spark decimal cast rounds HALF_UP
    assert(r0.getAs[String]("big_str") === "18446744073709551615")
    assert(r0.getAs[String]("big_minus1") === "18446744073709551614")
    assert(r0.getAs[String]("dec6_sum") === "2.3457")
    assert(r0.getAs[String]("big_sum") === "18446744073709551615")
    val r1 = rows(1)
    assert(r1.getAs[String]("dec6_str") === "-9.9999")
    assert(r1.getAs[String]("dec6_r2") === "-10.00")
    assert(r1.getAs[String]("big_str") === "0")
    assert(r1.getAs[String]("big_minus1") === "-1")
    (1 to 5).foreach(i => assert(rows(2).isNullAt(i), s"col $i should be null"))
  }

  test("viewSelect stops at the statement end, not inside string literals") {
    // trailing SET statements (MyDumper view files) must not leak in
    assert(Ingest.viewSelect(
      "CREATE VIEW v AS SELECT a FROM t;\nSET x = 1;")
      === Some("SELECT a FROM t"))
    // a backslash-escaped quote followed by ';' inside a literal must
    // not truncate the SELECT mid-string
    assert(Ingest.viewSelect(
      "CREATE VIEW v AS SELECT 'a\\';b' AS x;\nSET y = 2;")
      === Some("SELECT 'a\\';b' AS x"))
  }

  test("viewSelect handles qualifier clauses and parenthesized bodies") {
    assert(Ingest.viewSelect(
      "CREATE ALGORITHM=UNDEFINED VIEW v AS SELECT a FROM t;")
      === Some("SELECT a FROM t"))
    assert(Ingest.viewSelect("CREATE VIEW v AS (SELECT a FROM t);")
      === Some("SELECT a FROM t"))
    assert(Ingest.viewSelect("CREATE TABLE not_a_view (x int)") === None)
  }

  test("view over an imported table restores and answers queries") {
    val src = mkFixture()
    Files.writeString(Paths.get(src, "d.v1-schema-view.sql"),
      "CREATE ALGORITHM=UNDEFINED VIEW `v1` AS SELECT count(*) AS n FROM t;\n")
    val out = Files.createTempDirectory("graft_ingest_out4").toString
    Ingest.run(spark, Ingest.Config(src, out))
    assert(spark.table("v1").collect()(0).getLong(0) === 3L)
  }
}
