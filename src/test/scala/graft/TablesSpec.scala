package graft

import org.apache.spark.sql.types._

/** Testdata schema canary (judge round-9 ask #3).
  *
  * The round-8/9 regression happened because the driver regenerated
  * `events.parquet` with a different timestamp encoding and nothing in the
  * unit suite read the REAL parquet: 5 oracle queries errored two rounds
  * before anyone noticed. This spec loads every table through [[Tables]]
  * from the actual driver testdata and pins the post-normalization schema
  * each registered query depends on, so the next schema drift fails ONE
  * named unit test immediately instead of a handful of oracle rows later.
  *
  * Types are pinned to what the query code actually requires today:
  *  - `events.ts` must normalize to TimestampType — `cast("long")` (epoch
  *    seconds) at Windows.scala / StatefulSessions.scala is illegal on
  *    TIMESTAMP_NTZ under ANSI (the exact round-8/9 failure).
  *  - date columns (`o_orderdate`, `l_shipdate`) may arrive as Timestamp
  *    or TimestampNTZ — queries only ever compare them to date literals
  *    and `cast("date")`, both legal for either — so the canary accepts
  *    both but rejects anything else (e.g. a move to raw int64 days).
  */
class TablesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def haveTestdata(): Unit =
    assume(new java.io.File(sfDir).isDirectory, "driver testdata not present")

  private def fieldsOf(name: String): Map[String, DataType] = {
    val df = name match {
      case "events" => Tables.events(spark, sfDir)
      case other    => Tables(spark, sfDir, other)
    }
    df.schema.fields.map(f => f.name -> f.dataType).toMap
  }

  private def anyTimestamp(t: DataType): Boolean =
    t == TimestampType || t == TimestampNTZType

  test("events: ts normalizes to TimestampType (epoch-seconds casts stay legal)") {
    haveTestdata()
    val f = fieldsOf("events")
    assert(f("ts") == TimestampType,
      s"Tables.events must yield TimestampType ts, got ${f("ts")} — " +
        "add a normalization branch in Tables.events for the new encoding")
    assert(f("event_id") == LongType && f("user_id") == LongType &&
      f("event_type") == StringType && f("value") == DoubleType &&
      f("props") == StringType, s"events columns drifted: $f")
  }

  test("documents / embeddings: dedup + ANN query surface column types") {
    haveTestdata()
    val d = fieldsOf("documents")
    assert(d("doc_id") == LongType && d("text") == StringType &&
      d("lang") == StringType && d("source") == StringType &&
      d("n_chars") == LongType, s"documents columns drifted: $d")
    val e = fieldsOf("embeddings")
    assert(e("vec_id") == LongType && e("label") == IntegerType,
      s"embeddings columns drifted: $e")
    assert(e("embedding") == ArrayType(FloatType) ||
      e("embedding") == ArrayType(FloatType, containsNull = true),
      s"embedding must be array<float>, got ${e("embedding")}")
  }

  test("TPC-H-ish tables: key / measure / date column types") {
    haveTestdata()
    val li = fieldsOf("lineitem")
    assert(li("l_orderkey") == LongType && li("l_quantity") == DoubleType &&
      li("l_extendedprice") == DoubleType && li("l_discount") == DoubleType &&
      li("l_returnflag") == StringType, s"lineitem columns drifted: $li")
    assert(anyTimestamp(li("l_shipdate")),
      s"l_shipdate must be a timestamp flavor, got ${li("l_shipdate")}")
    val o = fieldsOf("orders")
    assert(o("o_orderkey") == LongType && o("o_custkey") == LongType &&
      o("o_totalprice") == DoubleType, s"orders columns drifted: $o")
    assert(anyTimestamp(o("o_orderdate")),
      s"o_orderdate must be a timestamp flavor, got ${o("o_orderdate")}")
    val c = fieldsOf("customer")
    assert(c("c_custkey") == LongType && c("c_nationkey") == IntegerType &&
      c("c_mktsegment") == StringType, s"customer columns drifted: $c")
    assert(fieldsOf("nation")("n_nationkey") == IntegerType)
    assert(fieldsOf("region")("r_regionkey") == IntegerType)
    assert(fieldsOf("supplier")("s_suppkey") == LongType)
    assert(fieldsOf("part")("p_partkey") == LongType)
  }

  /** Every table's FULL column set, pinned by name — a driver-side
    * regeneration that adds, drops, or renames any column fails here
    * with the table named, before any oracle row does. */
  test("full column inventory of every testdata table") {
    haveTestdata()
    val expected = Map(
      "region" -> Set("r_regionkey", "r_name"),
      "nation" -> Set("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"),
      "supplier" -> Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Set("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"),
      "orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem" -> Set("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> Set("event_id", "ts", "user_id", "event_type", "value",
        "props"),
      "documents" -> Set("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Set("vec_id", "embedding", "label"))
    for ((t, cols) <- expected)
      assert(fieldsOf(t).keySet == cols,
        s"$t columns drifted: got ${fieldsOf(t).keySet.toSeq.sorted}")
  }

  /** Measure/dim types the newest query shapes rely on (q2/q16/q20/q22
    * arithmetic: acctbal cents, partsupp-analog keys, name prefixes). */
  test("subquery-shape column types: acctbal, link keys, part attributes") {
    haveTestdata()
    val s = fieldsOf("supplier")
    assert(s("s_acctbal") == DoubleType && s("s_name") == StringType &&
      s("s_nationkey") == IntegerType, s"supplier columns drifted: $s")
    val c = fieldsOf("customer")
    assert(c("c_acctbal") == DoubleType, s"c_acctbal drifted: $c")
    val p = fieldsOf("part")
    assert(p("p_name") == StringType && p("p_brand") == StringType &&
      p("p_type") == StringType && p("p_size") == IntegerType,
      s"part columns drifted: $p")
    val li = fieldsOf("lineitem")
    assert(li("l_partkey") == LongType && li("l_suppkey") == LongType &&
      li("l_linenumber") == IntegerType, s"lineitem link keys drifted: $li")
    val o = fieldsOf("orders")
    assert(o("o_orderpriority") == StringType &&
      o("o_orderstatus") == StringType, s"orders columns drifted: $o")
  }

  // ---- the per-path schema cache behind Tables.apply ----

  private val allTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  /** Spark jobs started while `body` runs, listener bus drained on both
    * sides. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a cached read returns the schema and rows of a fresh inference, for every table") {
    haveTestdata()
    for (t <- allTables) {
      Tables(spark, sfDir, t)
      val cached = Tables(spark, sfDir, t)
      val fresh = spark.read.parquet(s"$sfDir/$t.parquet")
      assert(cached.schema == fresh.schema, s"$t: cached schema differs")
      assert(sortedRows(cached) == sortedRows(fresh), s"$t: cached read differs")
    }
    val freshEvents = spark.read.parquet(s"$sfDir/events.parquet").schema
    val normalized = StructType(freshEvents.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))
    assert(Tables.events(spark, sfDir).schema == normalized)
  }

  test("a table rewritten at the same path with other columns is read with the new schema") {
    val s = spark; import s.implicits._
    val dir = tempDir()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    Tables(spark, dir, "t")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, 3.0, "x")).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reread = Tables(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "v", "w"))
    assert(reread.collect().toSeq == Seq(org.apache.spark.sql.Row(2L, 3.0, "x")))
  }

  test("changing a parquet conf infers the schema again") {
    // written by parquet-mr, not Spark: Spark keeps its own schema in
    // the footer, and inference prefers that over binaryAsString
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary payload; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/b.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("payload", "abc"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    def payloadType = Tables(spark, dir, "b").schema("payload").dataType
    assert(payloadType == BinaryType)
    assert(payloadType == BinaryType)
    spark.conf.set(key, "true")
    try assert(payloadType == StringType)
    finally spark.conf.unset(key)
    assert(payloadType == BinaryType)
  }

  test("a first read runs one Spark job and a cached read none") {
    val s = spark; import s.implicits._
    val dir = tempDir()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/j.parquet")
    assert(jobsDuring(Tables(spark, dir, "j")) == 1)
    assert(jobsDuring(Tables(spark, dir, "j")) == 0)
  }

  test("building q1_agg, sliding_counts and media_meta runs no Spark job once their tables were read") {
    haveTestdata()
    val names = Seq("q1_agg", "sliding_counts", "media_meta")
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir))
    for (n <- names)
      assert(jobsDuring(SparkEntry.queries(n)(spark, sfDir)) == 0,
        s"building $n ran Spark jobs")
  }
}
