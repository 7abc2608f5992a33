package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types._

/** Schema contract for the driver-generated fixture tables.
  *
  * Round 6 lesson: the driver regenerated `/root/testdata` mid-round
  * (events.ts INT64-nanos -> native timestamp[us]) and the breakage
  * surfaced as 11 scattered query failures instead of one obvious
  * test. This spec pins every table's READ schema — a regeneration
  * that drifts any column now fails here first, naming the column.
  *
  * `events.ts` is special-cased: the raw on-disk type may be any of
  * the generations Tables.normalizeTs accepts (long nanos, native
  * timestamp, NTZ), but the NORMALIZED type exposed to the engine must
  * always be micros TimestampType.
  *
  * The read path is pinned too: the footer schema is inferred once per
  * (session, dir, table), so a repeat read launches no Spark job.
  */
class TablesSpec extends SparkSpec {

  private def fields(name: String): Map[String, DataType] =
    Tables.read(spark, sf0001, name).schema.fields.map(f => f.name -> f.dataType).toMap

  private def assertSchema(table: String, expected: Map[String, DataType]): Unit = {
    val actual = fields(table)
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    assert(missing.isEmpty, s"$table: fixture lost columns $missing")
    assert(extra.isEmpty, s"$table: fixture grew columns $extra")
    for ((col, dt) <- expected)
      assert(actual(col) == dt, s"$table.$col: fixture type drifted to ${actual(col)}, engine expects $dt")
  }

  test("relational tables keep their contracted schemas") {
    assertSchema("region", Map("r_regionkey" -> IntegerType, "r_name" -> StringType))
    assertSchema("nation", Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assertSchema("customer", Map("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType))
    assertSchema("supplier", Map("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assertSchema("part", Map("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType))
    assertSchema("orders", Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType))
    assertSchema("lineitem", Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType))
  }

  test("document / embedding tables keep their contracted schemas") {
    assertSchema("documents", Map("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType))
    assertSchema("embeddings", Map("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
  }

  test("events: raw ts is an accepted generation, normalized ts is micros TimestampType") {
    val raw = fields("events")
    val nonTs = Map("event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
    for ((col, dt) <- nonTs)
      assert(raw(col) == dt, s"events.$col: fixture type drifted to ${raw(col)}")
    assert(Set[DataType](LongType, TimestampType, TimestampNTZType).contains(raw("ts")),
      s"events.ts arrived as ${raw("ts")} — a NEW fixture generation; extend Tables.normalizeTs")
    val normalized = Tables.events(spark, sf0001)
    assert(normalized.schema("ts").dataType == TimestampType,
      s"Tables.events must expose micros TimestampType, got ${normalized.schema("ts").dataType}")
    // value sanity: the fixture generator writes 2024 event times; a
    // wrong-unit conversion (e.g. treating micros as nanos) lands
    // decades away, so one cheap bound catches unit bugs, not just types
    val bounds = normalized.selectExpr("min(ts) as lo", "max(ts) as hi").head()
    val lo = bounds.getTimestamp(0).toInstant
    val hi = bounds.getTimestamp(1).toInstant
    assert(lo.isAfter(java.time.Instant.parse("2015-01-01T00:00:00Z")) &&
      hi.isBefore(java.time.Instant.parse("2035-01-01T00:00:00Z")),
      s"events.ts range [$lo, $hi] outside plausible window — ts unit conversion is wrong")
  }

  test("normalizeTs handles all three generations identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val micros = 1704067200000000L + 123456L // 2024-01-01 00:00:00.123456 UTC
    val asLong = Seq((micros * 1000L)).toDF("ts") // nanos generation
    val asTs = Seq(new java.sql.Timestamp(micros / 1000L)).toDF("ts")
      .withColumn("ts", timestamp_micros(lit(micros))) // native generation
    val asNtz = asTs.withColumn("ts", col("ts").cast(TimestampNTZType)) // NTZ generation
    val expected = Tables.normalizeTs(asTs).head().getTimestamp(0)
    assert(Tables.normalizeTs(asLong).head().getTimestamp(0) == expected)
    assert(Tables.normalizeTs(asNtz).head().getTimestamp(0) == expected)
    assert(Tables.normalizeTs(asLong).schema("ts").dataType == TimestampType)
    assert(Tables.normalizeTs(asNtz).schema("ts").dataType == TimestampType)
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark jobs this thread launches while `body` runs. A marker job
    * closes the window: the listener bus delivers events in order, so
    * once the marker's start arrives every earlier job's has too.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val prop = "graft.spec.jobWindow"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(prop))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == s"$tag.end" => closed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      val out = body
      sc.setLocalProperty(prop, s"$tag.end")
      sc.parallelize(Seq(1), 1).count()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a repeat read of every fixture table launches no job and keeps the footer schema") {
    val first = tables.map(t => t -> Tables.read(spark, sf0001, t).schema).toMap
    for (t <- tables) {
      val (again, jobs) = jobsDuring(Tables.read(spark, sf0001, t).schema)
      assert(jobs == 0, s"$t: a repeat read launched $jobs job(s) (schema inference)")
      assert(again == first(t), s"$t: repeat read schema $again != ${first(t)}")
      assert(again == spark.read.parquet(s"$sf0001/$t.parquet").schema,
        s"$t: read schema differs from the footer's")
    }
  }

  test("two reads of one table are distinct relations: a self-join resolves") {
    val a = Tables.orders(spark, sf0001)
    val b = Tables.orders(spark, sf0001)
    val n = a.join(b, a("o_orderkey") === b("o_orderkey")).count()
    val expected = a.groupBy("o_orderkey").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    assert(n > 0 && n == expected)
  }

  test("invalidate(dir) drops the memoized footer: the next read infers again") {
    Tables.read(spark, sf0001, "region")
    SharedBuilds.invalidate(sf0001)
    val (_, inferred) = jobsDuring(Tables.read(spark, sf0001, "region"))
    assert(inferred == 1, s"expected one inference job after invalidate, got $inferred")
    val (_, again) = jobsDuring(Tables.read(spark, sf0001, "region"))
    assert(again == 0)
  }
}
