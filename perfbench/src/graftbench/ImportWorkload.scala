package graftbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum, when}

import graft.pipeline.{Analyze, Ingest, IngestAccess}
import graft.schema.MysqlDdl
import graft.sink.SortedParquetSink
import graft.sources.{CharsetReader, DumpSource}
import graft.transform.{GeneratedColumns, RowTransform}
import graft.verify.Checksum

/** `sql_lineitem`: a closed loop of `Ingest.run` over a generated
  * MyDumper directory (one schema file, one INSERT dump) with the
  * default config, one import at a time. Every import passes the
  * correctness gate: each `TableReport` verified with no bad rows, and
  * the read-back row count, key sum and numeric-column sum equal the
  * generator's.
  */
class ImportWorkload(r: Run) {
  private val spark = r.spark
  private val src = r.work.resolve("source")
  private val cfg = Ingest.Config(sourceDir = src.toString,
    targetDir = r.work.resolve("target").toString)

  private var expected: Seq[Fixtures.TableStats] = Nil
  private var srcBytes = 0L

  private def generate(dir: Path, scale: Fixtures.Scale): Seq[Fixtures.TableStats] =
    Fixtures.writeSqlDump(dir, r.seed, scale)

  /** Generates the measured fixtures, then warms up: one import of the
    * same table at the self-test's size compiles the plans' generated
    * code cheaply, then `WarmImports` full-size imports give the JIT
    * the hot loops (the first measured imports still run a few percent
    * slow; the loop's median absorbs them).
    */
  def setup(): Unit = {
    r.generateFixtures(src) { () => expected = generate(src, r.scale); expected }
    srcBytes = r.fixtureBytes
    r.warm {
      val warmSrc = r.work.resolve("warm_source")
      Run.deleteTree(warmSrc)
      val warmExpected = generate(warmSrc, Fixtures.Scales("tiny"))
      importOnce(cfg.copy(sourceDir = warmSrc.toString,
        targetDir = r.work.resolve("warm_target").toString), warmExpected)
      (1 to ImportWorkload.WarmImports).foreach { _ => Run.release(spark); importOnce() }
    }
  }

  /** One gated import; its wall seconds if it passed. */
  private def importOnce(c: Ingest.Config = cfg,
      want: Seq[Fixtures.TableStats] = expected): Option[Double] = r.op("import") {
    val t0 = System.nanoTime()
    val reports = Ingest.run(spark, c)
    val s = (System.nanoTime() - t0) / 1e9
    (s, gate(reports, c.targetDir, want))
  }

  private def gate(reports: Seq[Ingest.TableReport], target: String,
      expected: Seq[Fixtures.TableStats] = expected): Seq[String] = {
    val byName = reports.map(t => t.table -> t).toMap
    val problems = reports.collect {
      case t if !t.checksumOk || t.skipped || t.badRows != 0 =>
        s"${t.table}: checksumOk=${t.checksumOk} skipped=${t.skipped} badRows=${t.badRows}"
    }
    problems ++ expected.flatMap { e =>
      if (!byName.contains(e.table)) Seq(s"${e.table}: no TableReport")
      else readBack(s"$target/${Fixtures.Db}.${e.table}", e)
    }
  }

  private def readBack(path: String, e: Fixtures.TableStats): Option[String] = {
    val row = spark.read.parquet(path).agg(count(lit(1)), sum(col(e.keyCol).cast("long")),
      sum(col(e.numCol).cast("decimal(20,2)"))).head()
    val got = (row.getLong(0), row.getLong(1),
      row.getDecimal(2).movePointRight(2).longValueExact)
    val want = (e.rows, e.keySum, e.numSum)
    if (got == want) None
    else Some(s"${e.table}: read-back (rows, sum(${e.keyCol}), sum(${e.numCol})) = $got, " +
      s"generated $want")
  }

  def measure(): Unit = {
    val times = r.loop(importOnce())
    r.endToEnd(Run.median(times), times, srcBytes)
  }

  // ------------------------------------------------------------- traced

  /** Each iteration: `Ingest.run` with the listener, then the staged
    * import. Self times plus `pipeline.unattributed_s` add up to
    * `pipeline.import_s`.
    */
  def measureTraced(listener: LayerListener): Unit = {
    val sc = spark.sparkContext
    val samples = r.loopSamples {
      r.op("import") {
        val before = listener.snapshot(sc)
        val read0 = Run.localBytesRead()
        val t0 = System.nanoTime()
        val reports = Ingest.run(spark, cfg)
        val s = (System.nanoTime() - t0) / 1e9
        val read = Run.localBytesRead() - read0
        val d = LayerListener.diff(listener.snapshot(sc), before)
        ((s, read, d), gate(reports, cfg.targetDir))
      }.flatMap { case (tRun, read, d) =>
        r.details("import_layers") = d.map { case (k, v) => k -> v.toMap }
        r.details("unattributed_call_sites") = listener.unattributed
        val all = LayerListener.total(d)
        val sink = d.getOrElse("sink", Counters())
        val outBytes = Run.treeBytes(r.work.resolve("target"), "")
        Run.release(spark)
        r.op("staged import")(staged(r.work.resolve("trace_target").toString, listener)).map { st =>
          val self = Seq("discover.s", "schema.s", "sources.parse_s", "transform.rowid_s",
            "transform.cast_s", "sink.write_s", "verify.readback_s", "pipeline.analyze_s")
            .map(st).sum
          st - "staged_s" ++ Map(
            "sources.parse_mib_s" -> srcBytes / Run.MiB / st("sources.parse_s"),
            "sink.jobs" -> sink.jobs.toDouble,
            "sink.shuffle_write_mib" -> sink.shuffleWrite / Run.MiB,
            "sink.spill_mib" -> sink.spill / Run.MiB,
            "sink.out_mib" -> outBytes / Run.MiB,
            "sink.out_bytes_per_src_byte" -> outBytes.toDouble / srcBytes,
            "pipeline.import_s" -> tRun,
            "pipeline.jobs_per_table" -> all.jobs.toDouble / expected.size,
            "pipeline.src_read_amp" -> read.toDouble / srcBytes,
            "pipeline.unattributed_s" -> (tRun - self),
            "spark.tasks" -> all.tasks.toDouble, "spark.executor_run_s" -> all.runMs / 1e3,
            "spark.gc_s" -> all.gcMs / 1e3, "spark.shuffle_write_mib" -> all.shuffleWrite / Run.MiB,
            "spark.spill_mib" -> all.spill / Run.MiB,
            "trace.overhead_s" -> (st("staged_s") - tRun))
        }
      }
    }
    r.perLayer(samples, neverRun = Set("operators"))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Double =
    timed(df.write.format("noop").mode("overwrite").save())._2

  /** `Ingest.run`'s default-config path for SQL dumps, one layer call at
    * a time into `target`. Each stage is materialized on its own (noop
    * writes), so a layer's self time is its cumulative time minus the
    * previous stage's. Work a layer does eagerly while building its
    * output (the row-ID passes) counts into its own and every later
    * cumulative time. Returns per-layer metrics summed over the tables,
    * with the whole staged wall as `staged_s`.
    */
  private def staged(target: String,
      listener: LayerListener): (Map[String, Double], Seq[String]) = {
    val sc = spark.sparkContext
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) += v
    val t0 = System.nanoTime()
    val (tables, discoverS) = timed(Ingest.discover(spark, cfg))
    val (schemas, schemaS) = timed(tables.map(d => d.schemaFile.map(p =>
      MysqlDdl.parse(CharsetReader.readSchemaFile(sc.hadoopConfiguration, p, cfg.charset)))))
    add("discover.s", discoverS)
    add("discover.files", tables.map(d => d.dataFiles.size + d.schemaFile.size).sum)
    add("schema.s", schemaS)
    val problems = tables.zip(schemas).flatMap { case (d, schema) =>
      val ts0 = schema.getOrElse(throw new IllegalStateException(s"${d.table}: no schema file"))
      val rowidNeeded = IngestAccess.rowidRequired(ts0, cfg)
      val ts = if (rowidNeeded) IngestAccess.withRowid(ts0) else ts0
      val rc = Ingest.TidbRowidCol
      val taskTs = Some(new java.sql.Timestamp(System.currentTimeMillis()))
      // sources: read every unit Ingest would (whole dumps, or byte
      // ranges of them), union, resolve dump literals
      val shards0 = IngestAccess.expandUnits(spark, cfg, d).map { u =>
        require(u.kind == graft.discover.FileKind.Sql,
          s"${u.path}: the staged import reads SQL dumps only")
        if (u.isChunk) DumpSource.readRawChunk(spark, u.path, u.start, u.len, ts.colNames)
        else DumpSource.readRaw(spark, Seq(u.path), ts.colNames, cfg.charset)
      }
      val shards = if (!rowidNeeded) shards0 else shards0.map(df =>
        if (df.columns.exists(_.equalsIgnoreCase(rc))) df
        else df.withColumn(rc, lit(null).cast("string")))
      val union = DumpSource.resolveHex(
        RowTransform.applyOmittedDefaults(shards.reduce(_.unionByName(_)), ts, taskTs), ts)
      val rowsObs = Observation()
      val c0 = listener.snapshot(sc)
      val cParse = noop(union.observe(rowsObs, count(lit(1)).as("rows")))
      add("sources.parse_s", cParse)
      val parsedRows = rowsObs.get("rows").asInstanceOf[Long]
      add("sources.rows", parsedRows)
      add("sources.tasks", LayerListener.total(LayerListener.diff(listener.snapshot(sc), c0)).tasks)
      // transform: the row-ID fill — when a shard carries the column, a
      // stats pass finds its explicit max and NULL count, then the
      // numbering checkpoint fills the NULLs — then the cast
      val anyExplicitRowid = rowidNeeded && shards0.exists(_.columns.exists(_.equalsIgnoreCase(rc)))
      val stored0 = Run.storedBytes(spark)
      val (base, prefix, cPrev) =
        if (!rowidNeeded) (union, 0.0, cParse)
        else {
          val (withId, build) = timed {
            val (explicitMax, nNulls) =
              if (!anyExplicitRowid) (0L, 1L)
              else {
                val st = union.agg(max(col(rc).cast("long")), count(when(col(rc).isNull, 1))).head()
                (if (st.isNullAt(0)) 0L else st.getLong(0), st.getLong(1))
              }
            val fill = "_graft_fill_tidb_rowid"
            if (nNulls == 0L) union
            else RowTransform.chunkedRowId(union, fill, explicitMax)
              .withColumn(rc, coalesce(col(rc), col(fill).cast("string"))).drop(fill)
          }
          (withId, build, build + noop(withId))
        }
      add("transform.rowid_block_mib", (Run.storedBytes(spark) - stored0) / Run.MiB)
      add("transform.rowid_s", cPrev - cParse)
      val typed = GeneratedColumns(
        RowTransform.applySchemaWithErrors(base, ts, RowTransform.CastPolicy.NullOut, taskTs),
        ts, cfg.sessionVars)
      val errs = coalesce(sum(col(RowTransform.ErrorsCol)), lit(0L))
      val errObs = Observation()
      val cCast = prefix + noop(typed.observe(errObs, errs.as("errors")))
      add("transform.cast_s", cCast - cPrev)
      add("transform.cast_errors", errObs.get("errors").asInstanceOf[Long])
      // sink: the range-sorted write with the observed checksum
      val dataCols = typed.columns.toSeq.filterNot(_ == RowTransform.ErrorsCol)
      val sortCols = Some(ts.primaryKey).filter(_.nonEmpty).getOrElse(dataCols.take(1))
      val out = s"$target/${d.db}.${d.table}"
      val obs = Observation()
      add("sink.ranges", SortedParquetSink.rangesFor(typed))
      val (_, writeS) = timed(SortedParquetSink.writeObservedMetrics(typed, out, sortCols, obs,
        _ => Seq(Checksum.checksumColOf(dataCols), errs.as("bad_rows")) ++
          (if (rowidNeeded) Seq(coalesce(max(col(rc).cast("long")), lit(0L)).as("max_tidb_rowid"))
          else Nil),
        dropCols = Seq(RowTransform.ErrorsCol)))
      add("sink.write_s", prefix + writeS - cCast)
      add("sink.files", Run.treeFiles(Paths.get(out), ".parquet"))
      val pre = Checksum.fromMetric(obs.get("kv_checksum"))
      // verify: task input metrics miss most parquet bytes, so the
      // read-back volume is the bytes of the parquet files it scans
      val (post, verifyS) = timed(Checksum.tableChecksum(spark.read.parquet(out)).collect()(0))
      add("verify.readback_s", verifyS)
      add("verify.readback_mib", Run.treeBytes(Paths.get(out), ".parquet") / Run.MiB)
      add("pipeline.analyze_s", timed(Analyze.analyze(spark, s"${d.db}.${d.table}", out))._2)
      val want = expected.find(_.table == d.table).map(_.rows)
      if (!want.contains(parsedRows)) Some(s"${d.table}: the staged import parsed $parsedRows rows, " +
        s"generated ${want.getOrElse("none")}")
      else if (post.getLong(0) == pre.checksum && post.getLong(1) == pre.totalKvs) None
      else Some(s"${d.table}: staged read-back checksum differs from the written one")
    }
    m("staged_s") = (System.nanoTime() - t0) / 1e9
    (m.toMap, problems)
  }
}

object ImportWorkload {
  val WarmImports = 2
}
