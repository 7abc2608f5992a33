package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet star schema
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §A).
  *
  * Design notes for scale (100 TB target):
  *  - A lazy parquet scan lets Catalyst push filters + prune columns
  *    into the parquet reader (`PushedFilters` / `ReadSchema` in the
  *    formatted plan).
  *  - The footer is the schema's only source, and it is read ONCE per
  *    (session, dir, table): [[schema]] memoizes it as the shared build
  *    `table.<name>`, and every [[read]] hands it to the reader. Letting
  *    Spark infer the schema on each read costs one Spark job per read
  *    (parquet schema merging runs as a job even for a single file) —
  *    47 of the 168 jobs in a warm `etl_report` pass. Each read still
  *    builds a fresh relation, so attribute ids stay unique (self-joins
  *    of two reads resolve) and the file listing stays live.
  *  - Contract: after rewriting a table under a dir that a live session
  *    has read, call `SharedBuilds.invalidate(dir)` — the next read
  *    takes the new footer (the same hook that drops the dir's shared
  *    builds). A stopped session's schemas are purged with its builds.
  *  - No data caching here: each named query owns its plan end-to-end
  *    so the driver/bench harness measures a realistic cold path, and
  *    at real scale these tables would not fit in memory anyway.
  */
object Tables {
  private def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The table's footer schema, read once per (session, dir, table). */
  def schema(spark: SparkSession, dir: String, name: String): StructType =
    SharedBuilds.getOrBuild[StructType](s"table.$name", spark, dir) { _ =>
      spark.read.parquet(path(dir, name)).schema
    }

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(path(sfDir, name))

  /** Spread a scan across the cluster when the source's natural split
    * count is below the session's parallelism. The fixture files are
    * single-row-group parquet, so without this a pipeline over them —
    * including each BroadcastExchange build side, which executes with
    * its child's partitioning — runs as ONE task and serializes the
    * CPU-dense kernels (md5 shingling, vector math) onto one core.
    *
    * Two guards keep this from taxing queries that don't need it
    * (round 2 spread EVERY big-table read and regressed eight cheap
    * relational queries up to 13x — the round-robin Exchange cost more
    * than the query):
    *  - POLICY: only the CPU-dense tables (`documents`, `embeddings`,
    *    `events`) are spread. Scan-bound relational tables
    *    (`orders`/`lineitem`) keep their natural file splits; their
    *    per-row work is a few comparisons, so an extra full-table
    *    exchange can only lose.
    *  - SIZE: the split count is estimated from file metadata (total
    *    bytes / files.maxPartitionBytes — the same arithmetic
    *    FilePartition uses), NOT from `df.rdd.getNumPartitions`, which
    *    forces a full physical-planning pass per read. At production
    *    scale the estimate exceeds defaultParallelism and this is a
    *    no-op; the exchange exists only when the table is too small for
    *    the scan to parallelize itself, exactly when it's cheap.
    */
  private def spreadIfSmall(spark: SparkSession, dir: String, name: String, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val file = new org.apache.hadoop.fs.Path(path(dir, name))
    val bytes = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(file).getLength
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estSplits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (estSplits >= target) df else df.repartition(target)
  }

  private def readSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    spreadIfSmall(spark, dir, name, read(spark, dir, name))

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  /** Normalize the `events.ts` column to micros TimestampType whatever
    * physical shape the fixture generator wrote it in. The driver has
    * produced two generations of `events.parquet`:
    *
    *  - INT64 TIMESTAMP(NANOS), which the Spark parquet reader rejects
    *    ([PARQUET_TYPE_ILLEGAL]) unless read as raw longs via
    *    `spark.sql.legacy.parquet.nanosAsLong`; we then floor-divide
    *    ns→µs (matches DuckDB's truncation; double division would lose
    *    precision above 2^53 ns).
    *  - native `timestamp[us]` with isAdjustedToUTC=false, which Spark
    *    reads as TIMESTAMP_NTZ; cast to TimestampType keeps the same
    *    wall-clock under the engine-wide UTC session timezone, so both
    *    generations land on identical values and downstream event-time
    *    code (windows, watermarks, asof) sees one type.
    *
    * Matching on the read schema (footer-driven, no data scan) makes
    * the engine robust to the driver regenerating fixtures mid-round —
    * TablesSpec pins this contract so a third generation fails in one
    * named test rather than in every events consumer.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — fixture schema drifted; " +
          "extend Tables.normalizeTs")
    }
  }

  /** NOTE on the conf: reading the INT64(NANOS) fixture generation
    * requires `spark.sql.legacy.parquet.nanosAsLong=true` AT SESSION
    * BUILD — every entry point in this engine (Bench/Verify/Dev/test
    * base) sets it there. This reader deliberately does NOT set it:
    * mutating session conf inside a read path is a race against
    * concurrent sessions/queries sharing the conf (r7 verdict item 5).
    * An externally-built session missing the flag fails loudly in
    * Spark's own parquet reader ([PARQUET_TYPE_ILLEGAL] names the
    * column) on that generation; [[normalizeTs]] stays the only guard
    * this engine adds.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    spreadIfSmall(spark, dir, "events", normalizeTs(read(spark, dir, "events")))
  def documents(spark: SparkSession, dir: String): DataFrame = readSpread(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = readSpread(spark, dir, "embeddings")
}
