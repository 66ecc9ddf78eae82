package graft.transform

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RowTransformSpec extends SparkSpec {

  test("zero dates: NULL without an error count non-strict, raise strict") {
    import spark.implicits._
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE z (id int NOT NULL, d date, ts datetime, PRIMARY KEY (id));")
    val df = Seq(
      ("1", "0000-00-00", "0000-00-00 00:00:00"),
      ("2", "2024-05-01", "2024-05-01 10:00:00"),
      ("3", "garbage", "2024-05-01 10:00:00")).toDF("id", "d", "ts")
    val out = RowTransform.applySchemaWithErrors(df, schema)
    val rows = out.orderBy("id").collect()
    // zero dates coerce to NULL and do NOT burn the error budget…
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(0).getLong(3) === 0L)
    // …while genuinely malformed input still counts
    assert(rows(2).isNullAt(1) && rows(2).getLong(3) === 1L)
    assert(!rows(1).isNullAt(1) && rows(1).getLong(3) === 0L)
    // strict mode raises on the zero date, like MySQL NO_ZERO_DATE
    val e = intercept[Exception] {
      RowTransform.applySchema(df.filter($"id" === "1"), schema, strict = true).collect()
    }
    assert(e.getMessage != null)
  }

  test("binary-column hex DEFAULT fills exact bytes (no UTF-8 mangling)") {
    import spark.implicits._
    val t = graft.schema.MysqlDdl.parse(
      "CREATE TABLE bb (id int NOT NULL, raw varbinary(4) DEFAULT x'80ff00aa');")
    val c = t.columns.find(_.name == "raw").get
    val out = Seq(1).toDF("id")
      .select(RowTransform.defaultValue(c).as("raw")).head.getAs[Array[Byte]](0)
    assert(out.toSeq === Seq(0x80.toByte, 0xff.toByte, 0x00.toByte, 0xaa.toByte))
  }

  test("chunkedRowId is dense, unique, and follows range order") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(5, col("k")).sortWithinPartitions("k")
    val withId = RowTransform.chunkedRowId(df, "rid")
    val rows = withId.select("k", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 1000)
    assert(rows.map(_._2).sorted.toSeq === (1L to 1000L))
    // global key order == id order (ranges are ordered, partitions sorted)
    assert(rows.sortBy(_._1).map(_._2).toSeq === (1L to 1000L))
  }

  test("chunkedRowId is stable under a nondeterministic repartition") {
    import spark.implicits._
    // round-robin repartition is order-dependent: re-executing it can
    // shuffle rows into different partitions. The localCheckpoint inside
    // chunkedRowId pins partition contents, so the count pass and the
    // assignment pass (and any later re-read) agree.
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(7)
    val withId = RowTransform.chunkedRowId(df, "rid")
    val first = withId.select("k", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val second = withId.select("k", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(first === second)
    assert(first.values.toSeq.sorted === (1L to 500L))
    // the ids equal a Row-based reference numbering of the same stored
    // partitions: per-partition counts, a cumulative base, then row k
    // of partition p numbered base(p) + k + 1
    def reference(numbered: org.apache.spark.sql.DataFrame, base: Long): Map[Long, Long] = {
      val parts = numbered.rdd.mapPartitionsWithIndex { case (p, it) =>
        Iterator.single(p -> it.map(_.getLong(0)).toVector)
      }.collect().sortBy(_._1).map(_._2)
      val bases = parts.map(_.size.toLong).scanLeft(base)(_ + _)
      parts.zip(bases).flatMap { case (ks, b) =>
        ks.zipWithIndex.map { case (k, i) => k -> (b + i + 1) }
      }.toMap
    }
    val ref = reference(withId, 0L)
    assert(first === ref && reference(withId, 0L) === ref)
    val above = RowTransform.chunkedRowId(df, "rid", 77L)
    val ids77 = above.select("k", "rid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids77 === reference(above, 77L))
    assert(ids77.values.toSeq.sorted === (78L to 577L))
  }

  test("chunkedRowId starts above a non-zero base and skips empty partitions") {
    import spark.implicits._
    // six range partitions, the middle four filtered empty
    val df = spark.range(0, 60, 1, 6).toDF("k").where($"k" < 10 || $"k" >= 50)
    val withId = RowTransform.chunkedRowId(df, "rid", base = 1000L)
    assert(withId.rdd.getNumPartitions === 6)
    assert(withId.schema("rid").dataType === org.apache.spark.sql.types.LongType)
    assert(!withId.schema("rid").nullable)
    val rows = withId.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.map(_._2).toSeq === (1001L to 1020L))
  }

  test("denseIds runs one job, and later actions read its blocks instead of the input") {
    val sc = spark.sparkContext
    val computed = sc.longAccumulator("denseIds input rows")
    val input = spark.createDataFrame(
      sc.parallelize(0 until 1000, 4).map { i => computed.add(1); org.apache.spark.sql.Row(i.toLong) },
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
        "x", org.apache.spark.sql.types.LongType))))
    val group = "dense-ids-one-job"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "denseIds job count")
    try {
      val ids = RowTransform.denseIds(input)
      org.apache.spark.ListenerDrain(sc)
      assert(jobs.get === 1)
      assert(computed.sum === 1000L && ids.counts.sum === 1000L)
      assert(ids.withIds("id", 0L).agg(sum("id"), sum("x")).head.toSeq === Seq(500500L, 499500L))
      assert(computed.sum === 1000L, "a later action recomputed the input")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("denseIds reports explicit max, NULL count and the last NULL's position") {
    import spark.implicits._
    // partitions [5, NULL, 3] [] [NULL, 9, 4]
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Seq("5", null, "3"), Nil, Seq(null, "9", "4")), 3)
        .flatMap(_.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType.fromDDL("s string"))
    val ids = RowTransform.denseIds(src, Some("s"))
    assert(ids.counts === Seq(3L, 0L, 3L))
    assert(ids.explicitMax === 9L && ids.nulls === 2L && ids.lastNull === 4L)
    // the last NULL row is numbered base + lastNull
    val numbered = ids.withIds("rid", 9L).collect()
    assert(numbered.filter(_.isNullAt(0)).map(_.getLong(1)).max === 9L + ids.lastNull)
    val none = RowTransform.denseIds(src.where($"s".isNotNull), Some("s"))
    assert(none.nulls === 0L && none.lastNull === 0L && none.explicitMax === 9L)
  }

  test("autoRandom packs shard bits above the row id") {
    import spark.implicits._
    val df = Seq((1L, 3L), (100L, 31L)).toDF("rid", "shard")
    val out = df.select(RowTransform.autoRandom(col("rid"), col("shard")).as("id"))
      .collect().map(_.getLong(0))
    assert(out(0) === (3L << 58 | 1L))
    assert(out(1) === (31L << 58 | 100L))
  }

  test("strict mode raises on a bad cast; non-strict nulls it") {
    import spark.implicits._
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (a bigint, b double)")
    val bad = Seq(("1", "2.5"), ("2", "oops")).toDF("a", "b")
    // non-strict: bad value coerces to NULL
    val soft = RowTransform.applySchema(bad, schema).orderBy("a").collect()
    assert(soft(0).getDouble(1) === 2.5)
    assert(soft(1).isNullAt(1))
    // strict: the same input fails the job
    val e = intercept[Exception] {
      RowTransform.applySchema(bad, schema, strict = true).collect()
    }
    assert(e.getMessage.contains("strict mode") ||
      Option(e.getCause).exists(_.getMessage.contains("strict mode")))
    // strict over clean input passes untouched; null input stays null
    val clean = Seq(("1", "2.5"), ("2", null)).toDF("a", "b")
    val ok = RowTransform.applySchema(clean, schema, strict = true).orderBy("a").collect()
    assert(ok(0).getDouble(1) === 2.5)
    assert(ok(1).isNullAt(1))
  }

  test("enum and set values validate against their declared domain") {
    import spark.implicits._
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (id int, st enum('YES','NO'), tags set('a','b','c'))")
    val df = Seq(
      ("1", "YES", "a,c"),
      ("2", "MAYBE", "a,x"), // both out of domain
      ("3", null, null)
    ).toDF("id", "st", "tags")
    val out = RowTransform.applySchema(df, schema).orderBy("id").collect()
    assert(out(0).getString(1) === "YES" && out(0).getString(2) === "a,c")
    assert(out(1).isNullAt(1) && out(1).isNullAt(2)) // nulled, non-strict
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
    // strict mode raises on the out-of-domain value
    val bad = Seq(("1", "MAYBE", "a")).toDF("id", "st", "tags")
    intercept[Exception] {
      RowTransform.applySchema(bad, schema, strict = true).collect()
    }
  }

  test("saltedJoin equals the plain join on a skewed key") {
    import spark.implicits._
    // 90% of rows share one key — the hot-key shape salting exists for
    val big = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k${i % 7}", i.toLong))
      .toDF("k", "v")
    val small = Seq(("hot", 10L), ("k1", 20L), ("k2", 30L), ("k3", 40L),
      ("k4", 50L), ("k5", 60L), ("k6", 70L), ("k0", 80L)).toDF("k", "w")
    val plain = big.join(small, "k").select("k", "v", "w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val salted = Skew.saltedJoin(big, small, Seq("k"), salt = 4)
      .select("k", "v", "w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(salted.toSeq === plain.toSeq)
    // the hot key actually spreads across salts
    val salts = big.filter($"k" === "hot")
      .select(Skew.rowSalt(big, 4)).distinct().count()
    assert(salts > 1)
  }

  test("permute fills defaults and drops unknown columns") {
    import spark.implicits._
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (a int NOT NULL, b varchar(5) DEFAULT 'dflt', c int)")
    val file = Seq((7, "x")).toDF("a", "junk")
    val out = RowTransform.applySchema(file, schema).collect()(0)
    assert(out.getInt(0) === 7)
    assert(out.getString(1) === "dflt")
    assert(out.isNullAt(2))
  }

  test("unsigned DECIMAL keeps its full domain; only the sign narrows") {
    import spark.implicits._
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (a decimal(20,0) unsigned, b decimal(20,0) unsigned)")
    // 1e19 sits past int64 but well inside DECIMAL(20,0) UNSIGNED —
    // it must survive every mode; the negative must not
    val df = Seq(("10000000000000000000", "-1")).toDF("a", "b")
    val out = RowTransform.applySchema(df, schema).collect()(0)
    assert(out.getDecimal(0) === new java.math.BigDecimal("10000000000000000000"))
    assert(out.isNullAt(1), "negative into unsigned nulls (NullOut)")
    val lenient = RowTransform.applySchema(df, schema,
      RowTransform.CastPolicy.Lenient).collect()(0)
    assert(lenient.getDecimal(0) ===
      new java.math.BigDecimal("10000000000000000000"))
    assert(lenient.getDecimal(1).longValue === 0L, "lenient clamps to 0")
  }

  test("lenient DECIMAL clamps overflow to the declared edge, not zero") {
    import spark.implicits._
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (p decimal(5,2), q decimal(5,2), r double unsigned)")
    val df = Seq(("99999.999", "-99999.999", "-3.5")).toDF("p", "q", "r")
    val out = RowTransform.applySchema(df, schema,
      RowTransform.CastPolicy.Lenient).collect()(0)
    assert(out.getDecimal(0) === new java.math.BigDecimal("999.99"))
    assert(out.getDecimal(1) === new java.math.BigDecimal("-999.99"))
    assert(out.getDouble(2) === 0.0, "unsigned double floors at 0")
  }

  test("lenient NULL into NOT NULL ENUM fills the FIRST member, not ''") {
    import spark.implicits._
    // MySQL's implicit default for a NOT NULL ENUM is the first
    // enumeration value; '' is the error value for INVALID non-NULL
    // input only. A NOT NULL SET's implicit default stays ''.
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (e enum('lo','mid','hi') NOT NULL, " +
        "s set('x','y') NOT NULL)")
    val df = Seq((null: String, null: String), ("nope", "junk"))
      .toDF("e", "s")
    val out = RowTransform.applySchema(df, schema,
      RowTransform.CastPolicy.Lenient).collect().sortBy(_.getString(0))
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("", ""), ("lo", "")))
  }

  test("TIME normalizes identically in every cast policy") {
    import spark.implicits._
    // MySQL TIME storage normalization is sql-mode-INDEPENDENT:
    // '1:2:3' → '01:02:03', '2 3:4:5' folds days into hours,
    // non-colon shapes keep the lexical contract
    val schema = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (a time, b time, c time)")
    val df = Seq(("1:2:3", "2 3:4:5", "junk")).toDF("a", "b", "c")
    for (p <- Seq(RowTransform.CastPolicy.NullOut,
        RowTransform.CastPolicy.Lenient, RowTransform.CastPolicy.Strict)) {
      val out = RowTransform.applySchema(df, schema, p).collect()(0)
      assert(out.getString(0) === "01:02:03", p)
      assert(out.getString(1) === "51:04:05", p)
      assert(out.getString(2) === "junk", p)
    }
    // lenient NULL into NOT NULL TIME takes MySQL's implicit default
    val nn = graft.schema.MysqlDdl.parse("CREATE TABLE t (a time NOT NULL)")
    val out = RowTransform.applySchema(
      Seq(Tuple1(null: String)).toDF("a"), nn,
      RowTransform.CastPolicy.Lenient).collect()(0)
    assert(out.getString(0) === "00:00:00")
  }

  test("a 63-member SET decodes numeric bitmasks in lenient mode") {
    import spark.implicits._
    val members = (1 to 63).map(i => s"'m$i'").mkString(",")
    val schema = graft.schema.MysqlDdl.parse(
      s"CREATE TABLE t (s set($members))")
    // bit 0 + bit 2 → m1,m3 (1L << 63 would wrap negative — the bound
    // must not reject every valid mask)
    val df = Seq(Tuple1("5")).toDF("s")
    val out = RowTransform.applySchema(df, schema,
      RowTransform.CastPolicy.Lenient).collect()(0)
    assert(out.getString(0) === "m1,m3")
  }
}
