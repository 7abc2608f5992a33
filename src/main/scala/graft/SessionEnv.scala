package graft

import org.apache.spark.sql.SparkSession

/** The one session definition every entry point builds on: Bench,
  * Verify, Dev, ScaleGen, the perfbench harness and the test trait
  * SparkSpec. It fixes what they all share — shuffle partitions = the
  * session's core count, UTC, `nanosAsLong` parquet reads, UI off and
  * the codegen cache bound — so no entry point can run a session the
  * benchmark never runs. Each caller adds only what is its own (app
  * name, AQE dial, extensions, listeners).
  *
  * SPARK_GRAFT_MASTER overrides the default `local[cpus]`; set it to
  * `local-cluster[n,cores,memMB]` to run the same contract under a
  * REAL multi-JVM master — separate executor processes, real
  * exchange/broadcast serialization, worker-side classloading — the
  * failure modes a single-JVM local master cannot express. The graft
  * classes ride to the executors via extraClassPath (Spark's own jars
  * come from SPARK_HOME on the worker side).
  *
  * '''Codegen cache.''' Spark keeps compiled whole-stage and expression
  * classes in one LRU cache per JVM, keyed by generated source (and the
  * compiling thread's class loader) and sized by the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100) of the SQLConf
  * active the first time anything in the JVM is code-generated — hence
  * every entry point must build here, or the first to generate code
  * sizes the cache for all. At 100 the cache cannot hold one pass of a
  * workload: an etl_report pass compiles ~400 classes and a
  * graph_fixpoint pass ~257, so a repeat pass (the reference's refresh:
  * ETL, then the report query again) recompiled almost every class
  * (394 and 185 per warm pass in a traced run, 3.8 s of Janino each).
  *
  * Sizing, measured with a cache that evicts nothing: one pass of the
  * full 171-query catalog at sf0.001 with Verify's parquet writes
  * (`local[4]`) compiles 2543 distinct classes after a warmup of 23; a
  * second pass compiles 471 more (the residual below). The bound,
  * 4096, is the smallest power of two above the catalog's working set
  * plus one pass's residual (3014), so even a session that runs the
  * whole catalog over and over evicts only stale residual classes (the
  * least recently used), never its working set. The retained classes
  * cost memory (heap and metaspace); the peak RSS measured with and
  * without the bound is in CHANGES.md.
  *
  * '''What is still compiled on a warm pass.''' The cache misses
  * whenever the source (or the loader) of a class differs from every
  * earlier execution (`Dev coldaudit` lists the classes per query). At
  * sf0.001 on `local[2]`, per warm pass:
  *  - AQE renumbers codegen stages (most of the residual: 2-26 classes
  *    per pass across the two workloads, varying run to run). A whole-stage class is named after
  *    its `codegenStageId`, which AQE hands out in the order it creates
  *    query stages, and that order follows which sibling shuffle stages
  *    finish first. Queries with several concurrent stages hit it:
  *    q_pagerank_directed most, then q_asof_nearest, q_copurchase,
  *    q_triangles, q_global_rank, q_ks_drift, q_gapfill, q_profile. The
  *    same race sometimes flips q_triangles' broadcast join operands.
  *    Not local to fix: it needs AQE off or serial stages.
  *  - q_ci_lookup, 2 classes every pass (the planning and task copy):
  *    Spark's LIMIT operator names its row counter from a JVM-global
  *    sequence (`_limit_counter_<n>`), so every execution of a
  *    code-generated `limit` is new source. Dropping the limit would
  *    change the query, so it stays.
  *  - q_pagerank, 4-10 classes on the first warm pass only: a few of
  *    its stages generate different code once its shared builds are
  *    filled (same physical plan text; the exact cause is not pinned
  *    down). Later passes compile none.
  *  - Streaming drains (outside etl_report and graph_fixpoint; ~300 of
  *    the catalog's 471): each streaming query runs on a clone of the
  *    session, and every session gets its own executor-side class
  *    loader, so the executor half of a drain's classes (identical
  *    source) is compiled again on every drain.
  * No catalog query inlines a per-execution literal. The one wall-clock
  * default, `current_timestamp()` in `pipeline/Parse.scala`, has no
  * caller that uses it: `Dev ingest` and the tests pass fixed clocks.
  */
object SessionEnv {
  /** `spark.sql.codegen.cache.maxEntries` for every session (sized in
    * the scaladoc above). */
  val CodegenCacheEntries = 4096

  /** SPARK_GRAFT_CPUS, default every core of the box. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** The configured master string (for logging/labels). */
  def master(cpus: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** The code-source directory (or jar) of the graft classes. */
  private def classDir: String =
    // decode via toURI: getPath is percent-encoded, so a checkout
    // path with spaces would yield a classpath executors can't read
    java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).toString

  /** The shared session settings on the configured master. */
  def builder(cpus: String): SparkSession.Builder = builder(cpus, master(cpus))

  /** The shared session settings on `master` with `cpus` shuffle
    * partitions; under local-cluster, `classPath` is the executors'
    * extraClassPath. */
  def builder(cpus: String, master: String,
              classPath: Seq[String] = Seq(classDir)): SparkSession.Builder = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", classPath.mkString(":"))
    else b
  }

  /** Untimed warmup: one small scan+aggregate so session bootstrap,
    * the codegen compiler and JIT warmup are not charged to whichever
    * query happens to execute first; then the document/vector
    * array-kernel codepaths (md5 shingling, minhash transforms,
    * quantized dot products) on a 64-row sample: the generated loops
    * are hot enough that C2 compilation dominates their first
    * execution (~5s measured), and which query pays it is order luck.
    * Sampled input, results discarded, nothing precomputed or cached
    * for the measured queries. Failures are ignored: a broken table
    * surfaces in the queries that read it.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    try {
      Tables.supplier(spark, sfDir).groupBy("s_nationkey").count().count()
    } catch { case _: Throwable => () }
    try {
      import org.apache.spark.sql.functions._
      import graft.functions.{TextFunctions, VectorFunctions}
      // collect(), not count(): under count() the column pruner deletes
      // the deterministic kernel expressions and the warmup would
      // execute nothing
      Tables.documents(spark, sfDir).limit(64)
        .select(col("doc_id"),
          TextFunctions.minhashOrder(
            TextFunctions.md5All(
              array_distinct(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3))), 0)
            .as("m"),
          md5(array_join(TextFunctions.md5All(TextFunctions.tokens(col("text"))), "")).as("d"))
        .collect()
      val qv = Tables.embeddings(spark, sfDir).limit(64)
        .select(VectorFunctions.quantized(col("embedding")).as("qv"))
      qv.alias("a").crossJoin(qv.alias("b"))
        .select(VectorFunctions.qdot(col("a.qv"), col("b.qv")).as("d"))
        .agg(sum(col("d"))).collect()
    } catch { case _: Throwable => () }
  }
}
