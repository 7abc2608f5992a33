package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Structured Streaming expression of the engine's incremental
  * semantics (SURVEY §2.10): the reference's batch pipeline re-runs
  * with a recency watermark + idempotent sink; the streaming-native
  * form is event-time watermarks + windowed/stateful operators +
  * idempotent micro-batch commits via foreachBatch.
  *
  * All transforms take the streaming DataFrame as input and return a
  * streaming DataFrame, so they compose under any sink/trigger. Tests
  * drive them with a memory sink + processAllAvailable (batch parquet
  * as a one-batch stream).
  *
  * Scale: state stores are keyed by (window, type) / user — bounded by
  * key cardinality and pruned by the watermark; no per-record unbounded
  * state.
  */
object StreamingOps {

  /** Raw parquet schema of `events` — `ts`'s on-disk type varies by
    * fixture generation (INT64 nanos vs native timestamp[us]/NTZ; see
    * graft.Tables.normalizeTs), so [[eventStream]] substitutes the type
    * the batch reader actually sees for this directory.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  // One staging dir per source dir per JVM, removed on exit — repeated
  // eventStream calls reuse it instead of leaking a tempdir+symlink each.
  private val stagingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Raw parquet schema of `documents` (TESTDATA.md). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val docStagingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Stage a directory containing one symlinked table file (the
    * FileStreamSource directory contract; no data copy). deleteOnExit
    * runs in REVERSE registration order, so the directory registers
    * BEFORE its child link — the other way round deletes the
    * still-non-empty dir first, fails silently, and leaks a tempdir
    * per JVM exit.
    */

  /** File-source reader with the failure-injection arrival dial:
    * GRAFT_DRAIN_MAX_FILES (env, or graft.drain.maxfiles sysprop)
    * caps files per trigger so the staged multi-file fixture arrives
    * as SEVERAL micro-batches — the shape the driver-kill resume leg
    * needs (a single-batch drain has no between-batch kill window).
    * Unset (the contract default), the source takes all files in one
    * batch as before. NOTE: only batch-split-INVARIANT queries
    * (complete-mode additive aggregations) stay oracle-comparable
    * under a multi-batch split; first-anchor keyed state (the dedup
    * family) picks batch-dependent anchors by design.
    */
  private def streamReader(spark: SparkSession, schema: StructType)
      : org.apache.spark.sql.streaming.DataStreamReader = {
    val r = spark.readStream.schema(schema)
    sys.props.get("graft.drain.maxfiles")
      .orElse(sys.env.get("GRAFT_DRAIN_MAX_FILES"))
      .fold(r)(n => r.option("maxFilesPerTrigger", n))
  }

  private def stageSingleFile(dir: String, fileName: String, prefix: String,
      split: Option[SparkSession] = None): java.nio.file.Path = {
    val target = java.nio.file.Paths.get(dir, fileName).toAbsolutePath
    // Durable-resume dial: a checkpointed stream's offset log records
    // the staged FILE PATHS, so a resume in a fresh JVM must see the
    // IDENTICAL staging dir — a per-JVM tempdir breaks the resume with
    // "Wrong basePath" (measured). Under GRAFT_DRAIN_DURABLE_DIR the
    // staging dir is a stable path beside the checkpoint, REUSED as-is
    // when already populated (a rewrite would mint new random part
    // names the source log doesn't know), and never swept on exit.
    val durableStaged = sys.env.get("GRAFT_DRAIN_DURABLE_DIR").map { dr =>
      java.nio.file.Paths.get(dr,
        s"staged_${prefix}_${Integer.toHexString(dir.hashCode)}")
    }
    durableStaged.foreach { p =>
      val populated = java.nio.file.Files.isDirectory(p) && {
        val l = java.nio.file.Files.list(p)
        try l.anyMatch(_.getFileName.toString.endsWith(".parquet"))
        finally l.close()
      }
      if (populated) return p
      java.nio.file.Files.createDirectories(p)
    }
    val durable = durableStaged.isDefined
    val staged = durableStaged.getOrElse(
      java.nio.file.Files.createTempDirectory(prefix))
    if (!durable) staged.toFile.deleteOnExit()
    // A single-FILE fixture with one row group makes micro-batch 0 a
    // one-task scan — and that task also produces the batch's first
    // shuffle write, so every drain serializes its input on one core
    // whatever the drain width. When a session is supplied and the file
    // is big enough to matter, rewrite it ONCE per JVM into ~256 KiB
    // part files (events at sf0.1: 2 MB -> 8 files -> 8-way batch-0
    // scan; at the sf1 certification scale the effect is 10x). Row
    // ORDER across part files is not the oracle contract: the keyed
    // state ops sort arrivals per key (see the StreamQueries scaladoc)
    // and windowed aggregates are order-free. Production file streams
    // arrive as many files per trigger anyway — one giant file is the
    // harness artifact, not the modeled shape.
    val splitBytes = 256L * 1024
    split match {
      case Some(spark) if !java.nio.file.Files.isDirectory(target) &&
          java.nio.file.Files.size(target) >= 2 * splitBytes =>
        val k = math.min(16L, java.nio.file.Files.size(target) / splitBytes).toInt
        spark.read.parquet(target.toString).repartition(k)
          .write.mode("overwrite").parquet(staged.toString)
        // Spark's local committer leaves _SUCCESS/.crc siblings next to
        // the part files (all hidden to source listings); sweep the
        // whole staged tree on exit instead of per-file deleteOnExit
        if (!durable)
          Runtime.getRuntime.addShutdownHook(new Thread(() =>
            org.apache.commons.io.FileUtils.deleteQuietly(staged.toFile): Unit))
        return staged
      case _ => ()
    }
    // The fixture table may be a single parquet FILE (driver fixtures)
    // or a DIRECTORY of part files (Spark-written, e.g. ScaleGen's sf1
    // tree). FileStreamSource lists files directly under its path and
    // does not descend into nested table directories, so a directory
    // target is FLATTENED: every data file inside is symlinked into
    // the staging dir individually. Without this the sf1 scaling run
    // silently streamed ZERO rows — an empty drain looks identical to
    // a fast one in the bench line.
    def linkInto(name: String, src: java.nio.file.Path): Unit = {
      val link = staged.resolve(name)
      java.nio.file.Files.createSymbolicLink(link, src)
      if (!durable) link.toFile.deleteOnExit()
    }
    if (java.nio.file.Files.isDirectory(target)) {
      val parts = java.nio.file.Files.list(target).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
        .toSeq.sortBy(_.getFileName.toString)
      require(parts.nonEmpty, s"no parquet part files under $target")
      parts.foreach(p => linkInto(p.getFileName.toString, p))
    } else {
      linkInto(fileName, target)
    }
    staged
  }

  /** The `documents` table as a file stream (same staged-symlink-dir
    * mechanics as [[eventStream]]) — the arriving-corpus shape a
    * streaming curation pass consumes.
    */
  def docStream(spark: SparkSession, dir: String): DataFrame = {
    val streamDir = docStagingDirs.computeIfAbsent(dir,
      stageSingleFile(_, "documents.parquet", "docs_stream", Some(spark)))
    streamReader(spark, docSchema).parquet(streamDir.toString)
  }

  /** Raw parquet schema of `embeddings` (TESTDATA.md). */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The `embeddings` table as a file stream (same staged-symlink-dir
    * mechanics as [[docStream]]) — the arriving-vector shape a
    * streaming semantic-dedup pass consumes.
    */
  def vecStream(spark: SparkSession, dir: String): DataFrame = {
    val streamDir = docStagingDirs.computeIfAbsent(dir + "#embeddings",
      _ => stageSingleFile(dir, "embeddings.parquet", "vecs_stream", Some(spark)))
    streamReader(spark, vecSchema).parquet(streamDir.toString)
  }

  /** Streaming scan of the events table, normalized to micros
    * TimestampType via the same fixture-generation-aware conversion as
    * the batch reader (graft.Tables.normalizeTs). The on-disk `ts` type
    * is taken from a footer-only batch schema read (no data scan) —
    * FileStreamSource needs the declared schema to match the file, and
    * hard-coding either generation breaks when the driver regenerates
    * the fixture. Requires `spark.sql.legacy.parquet.nanosAsLong=true`
    * AT SESSION BUILD for the INT64-nanos generation (every session
    * builder in this engine sets it; a session without it fails loudly
    * in Spark's parquet reader — no conf mutation here, a read path
    * must not race concurrent sessions sharing the conf).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    // FileStreamSource streams DIRECTORIES of arriving files (its
    // production contract). The fixture keeps several tables in one
    // dir, so stage a directory containing just the events file
    // (symlink — no data copy).
    val streamDir = stagingDirs.computeIfAbsent(dir,
      stageSingleFile(_, "events.parquet", "events_stream", Some(spark)))
    // the footer schema Tables memoizes per (session, dir): every drain
    // rebuilds its stream DataFrame, and the probe is a footer read
    val diskTsType = graft.Tables.schema(spark, dir, "events")("ts").dataType
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = diskTsType) else f))
    graft.Tables.normalizeTs(
      streamReader(spark, schema).parquet(streamDir.toString))
  }

  private val splitDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The midpoint ingest id splitting the events fixture into two
    * halves: first half = event_id < mid. One scalar min/max aggregate
    * (driver-side by construction — harness setup, not a data path).
    */
  private[graft] def eventsMidId(spark: SparkSession, dir: String): Long = {
    val row = graft.Tables.read(spark, dir, "events")
      .agg(max(col("event_id"))).head()
    (row.getLong(0) + 1L) / 2L
  }

  /** The events table staged as TWO parquet files split at the ingest-
    * id midpoint — the multi-micro-batch form of [[eventStream]]: with
    * `maxFilesPerTrigger=1` the file source takes the first-half file
    * as micro-batch 1 and the second as micro-batch 2 (explicit mtimes
    * pin the order; FileStreamSource processes oldest-first), so
    * watermark advancement, late-row dropping and append-mode window
    * finalization run the REAL cross-batch path instead of the
    * everything-in-one-batch degenerate case. `ts` is written already
    * normalized (micros TimestampType) so the declared schema is fixed
    * regardless of fixture generation. Staged once per JVM per dir.
    */
  def eventStreamTwoBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    val staged = splitDirs.computeIfAbsent(dir, _ => {
      val mid = eventsMidId(spark, dir)
      val out = java.nio.file.Files.createTempDirectory("events_split")
      out.toFile.deleteOnExit()
      val t0 = System.currentTimeMillis() - 120000L
      def writeHalf(cond: org.apache.spark.sql.Column, name: String, mtime: Long): Unit = {
        val tmp = out.resolve(name + "_tmp")
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        var src: java.nio.file.Path = null
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) src = p
        }
        require(src != null, s"no part file written under $tmp")
        val dest = out.resolve(name)
        java.nio.file.Files.move(src, dest)
        dest.toFile.setLastModified(mtime)
        dest.toFile.deleteOnExit()
        // drop the now-partless staging dir (marker files included)
        val rest = java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .iterator()
        while (rest.hasNext) java.nio.file.Files.deleteIfExists(rest.next())
      }
      writeHalf(col("event_id") < mid, "events_a.parquet", t0)
      writeHalf(col("event_id") >= mid, "events_b.parquet", t0 + 60000L)
      out
    })
    spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
  }

  /** Tumbling 15-minute counts with a 1-hour watermark: late events
    * beyond the watermark are dropped, finalized windows emit once
    * (append mode — q_stream_tumbling and q_stream_append both drain
    * it that way, their oracle adding the watermark emission cut to
    * the batch aggregate). The value sum goes through DECIMAL(18,2)
    * exactly like the batch twin (EventQueries.tumbling) so emitted
    * windows are BIT-identical to the batch aggregation's rows.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("win_start"), col("w.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding windows (30-minute window, 10-minute slide): each event
    * lands in three overlapping windows. DECIMAL(18,2) sum like the
    * batch twin so a drained run shares the batch oracle
    * (q_stream_sliding).
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("win_start"), col("w.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows (30-minute gap) per user under a watermark —
    * same output shape as the batch sessionize (count + exact value
    * sum) so a drained run shares the batch oracle (q_stream_session).
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("sess_start"), col("w.end").as("sess_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Streaming exactly-once-effect dedup on the natural key: state for
    * a key is dropped once the watermark passes — the streaming
    * equivalent of the reference's idempotent upsert (db.py:51-67).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream interval join (view→click attribution): inner join
    * of two STREAMING frames on user plus an event-time range —
    * clicks within [view_ts, view_ts + 30 min). Callers supply the
    * shaped inputs: views(user_id, view_id, view_ts) and
    * clicks(c_user, click_id, click_ts), each already watermarked —
    * the watermark + range condition together are what lets Spark
    * bound BOTH join-state buffers (a buffered view is evicted once
    * the click watermark passes view_ts + 30 min, and symmetrically),
    * so state never grows with stream length, only with the interval
    * width. One definition shared by the oracle-checked
    * StreamQueries.streamJoin and StreamingSpec's cross-batch /
    * state-expiry tests.
    */
  def intervalJoinStream(views: DataFrame, clicks: DataFrame): DataFrame =
    views.join(clicks,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") < col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select("user_id", "view_id", "view_ts", "click_id", "click_ts")

  /** Streaming count-min sketch over document tokens: the running
    * (r, b) cell counts of the SAME 4x64 sketch the batch estimator
    * reads (one key definition: TextFunctions.cmsKeys). The point in
    * streaming: state is bounded at d*w = 256 rows FOREVER — a running
    * per-token count table grows with the key domain, the sketch does
    * not, so frequency tracking at ingest survives any corpus size.
    * Update/complete-mode aggregation; estimates read min over a
    * token's 4 cells exactly as in the batch path.
    */
  def cmsCellsStream(docs: DataFrame): DataFrame =
    docs
      // spread tokenize/explode + partial agg off the single-file
      // source task (see dupSpansStream); the post-explode shuffle only
      // carries the 256 partial cells per task
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(explode(graft.functions.TextFunctions.cmsKeys(col("tok"))).as("rb"))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("cell"))

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so state for
    * unmatched rows is evicted once the watermark passes — the
    * streaming form of click attribution.
    */
  def clickAttribution(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    purchases.join(
      clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  case class UserEvent(user_id: Long, cents: Long)
  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)
  case class UserState(n_events: Long, cents: Long)
  case class CdcVersion(event_id: Long, us: Long, user_id: Long,
      event_type: String, value: Double)
  case class CdcLatest(us: Long, event_id: Long, event_type: String, value: Double)
  case class CdcCurrent(user_id: Long, last_op: String, last_value: Double,
      last_us: Long)

  case class DocTokens(source: String, doc_id: Long, n_tok: Long)
  case class BudgetedDoc(source: String, doc_id: Long, n_tok: Long,
      kept: Boolean, used_after: Long)

  /** Streaming per-source token budget — the data-mixing quota: each
    * source may contribute at most `budget` tokens to the output
    * corpus; once a source's running total would exceed it, further
    * docs are emitted with kept = false (audit trail, filter
    * downstream). State per source is ONE counter (bounded by source
    * cardinality, not corpus size). Docs are processed in doc_id order
    * within a batch so replays of the same batch make identical
    * keep/skip decisions — determinism a hash-based sample can't give
    * when the quota is a hard cap. Skipped docs don't consume budget,
    * so a later small doc can still fit (first-fit, the standard
    * mixing-quota behavior).
    */
  def sourceTokenBudget(spark: SparkSession, docs: DataFrame,
      budget: Long): Dataset[BudgetedDoc] = {
    import spark.implicits._
    docs
      .select(col("source"),
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .as[DocTokens]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[DocTokens], state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val out = rows.toArray.sortBy(_.doc_id).map { d =>
            val fits = used + d.n_tok <= budget
            if (fits) used += d.n_tok
            BudgetedDoc(src, d.doc_id, d.n_tok, fits, used)
          }
          state.update(used)
          out.iterator
      }
  }

  case class HashedDoc(content_hash: String, doc_id: Long, source: String)
  case class DedupedDoc(content_hash: String, doc_id: Long, source: String,
      first_seen: Boolean)

  /** Streaming exact dedup at ingest — the streaming form of
    * q_dedup_exact: the FIRST document carrying a given content hash
    * is emitted with first_seen = true, every later arrival (same
    * batch or any later micro-batch) with false — an audit-trail
    * filter like sourceTokenBudget, so downstream keeps
    * `first_seen` and the drop is observable. Within a batch, doc_id
    * order decides "first", so replays make identical choices.
    *
    * State is ONE boolean per distinct content hash — bounded by
    * distinct corpus content, not arrivals, the production
    * dedup-at-ingest shape (state-store-backed; at scale the content
    * hash also makes a natural state-store partition key). Built-in
    * dropDuplicates("hash") holds the same state but silently drops
    * late copies; emitting them flagged keeps the decision auditable
    * and replay-deterministic.
    */
  case class QualDoc(content_hash: String, doc_id: Long, source: String,
      quality_ok: Boolean, contaminated: Boolean)
  case class GatedDoc(content_hash: String, doc_id: Long, source: String,
      quality_ok: Boolean, contaminated: Boolean, first_seen: Boolean,
      keep: Boolean, reason: Option[String])

  /** The streaming ingest gate — the streaming counterpart of
    * [[graft.operators.CurationQueries.curatedCorpus]]'s row-local
    * stages: each arriving document is dispositioned at ingest with
    * exact-dup state (first-writer-wins per content hash, the
    * [[dedupExactStream]] machine) and the batch-checked quality
    * score ([[graft.operators.TextAnalysisQueries.qualityExpr]] — ONE
    * definition, so the gate threshold can't drift between modes),
    * with the first failing stage as the audit reason (exact_dup,
    * then contaminated, then low_quality) — the same precedence order
    * as the batch composition. Decontamination-at-ingest rides the
    * optional `benchBloom` bitset
    * ([[graft.operators.CurationQueries.bloomBits]] — the KiB
    * index-built-at-startup artifact): the probe is a pure ROW-LEVEL
    * expression over the arriving doc's shingles (the SAME
    * [[graft.operators.CurationQueries.bloomProbeSql]] arithmetic the
    * batch pruner uses — no join, no state, so it composes with the
    * stateful exact-dup stage). Bloom one-sided error means
    * `contaminated` is the PROPOSE half: a negative is a certain
    * non-member, a positive goes to the batch exact join — same
    * propose/verify split as near-dup. The remaining corpus-relative
    * stages stay where they belong: near-dup propose is
    * [[dedupNearStream]] (its own band-keyed state — Structured
    * Streaming allows one stateful key domain per query),
    * outlier/split need corpus statistics and run in the batch
    * composition.
    *
    * State is the same ONE boolean per distinct content hash as
    * [[dedupExactStream]]; quality and the Bloom probe are map-only
    * expressions on the arriving row, so the gate adds ZERO state
    * over plain exact dedup.
    */
  def ingestGateStream(spark: SparkSession, docs: DataFrame,
      benchBloom: Option[Seq[Long]] = None): Dataset[GatedDoc] = {
    import spark.implicits._
    import graft.functions.TextFunctions
    val contaminatedCol = benchBloom match {
      case Some(bits) =>
        expr(graft.operators.CurationQueries.bloomProbeSql("__sh", "__bits"))
      case None => lit(false)
    }
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("__sh",
        array_distinct(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)))
      .withColumn("__bits",
        typedLit(benchBloom.getOrElse(Seq.empty[Long])))
      .select(md5(col("text")).as("content_hash"), col("doc_id"), col("source"),
        (graft.operators.TextAnalysisQueries.qualityExpr(col("toks")) >= 0.5)
          .as("quality_ok"),
        contaminatedCol.as("contaminated"))
      .as[QualDoc]
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[QualDoc], state: GroupState[Boolean]) =>
          val seenBefore = state.getOption.getOrElse(false)
          val sorted = rows.toArray.sortBy(_.doc_id)
          state.update(true)
          sorted.iterator.zipWithIndex.map { case (d, i) =>
            val first = !seenBefore && i == 0
            val reason =
              if (!first) Some("exact_dup")
              else if (d.contaminated) Some("contaminated")
              else if (!d.quality_ok) Some("low_quality")
              else None
            GatedDoc(hash, d.doc_id, d.source, d.quality_ok, d.contaminated,
              first, reason.isEmpty, reason)
          }
      }
  }

  case class SpanRow(h: String, doc_id: Long, pos: Int)
  case class SpanHit(doc_id: Long, pos: Int, h: String, is_duplicate: Boolean)

  /** Streaming exact-substring span dedup at ingest — the streaming
    * counterpart of the batch `dupSpansIncremental`: each arriving doc
    * explodes into its W-token span positions (the SAME
    * [[graft.operators.DedupQueries.spanPositions]] scheme as the
    * batch path — one definition), each span hash probes keyed state
    * remembering whether that span text has EVER been seen, and every
    * position emits `is_duplicate` (seen in a prior batch, or at an
    * earlier position — (doc_id, pos) order — within this one). The
    * per-doc interval merge stays a downstream batch step over the
    * emitted positions, exactly as the near-dup streams leave
    * exact-Jaccard verification downstream: region merging needs a
    * per-doc sort, which doesn't belong in per-span keyed state.
    *
    * State is ONE boolean per distinct span text — the substring-level
    * analogue of [[dedupExactStream]]'s per-content bit, partitioned
    * by span hash and bounded by distinct corpus text (W tokens of
    * state key per ~1 token of novel text at the default stride).
    */
  def dupSpansStream(spark: SparkSession, docs: DataFrame): Dataset[SpanHit] = {
    import spark.implicits._
    // The file source delivers a micro-batch in as few partitions as
    // it has files (one, for the staged fixture) — an explicit
    // repartition spreads the span explode + hashing BEFORE the heavy
    // map work, instead of serializing it on the source task
    // (measured 3.1 s -> sub-1 s at sf0.1). The count is pinned to
    // defaultParallelism (cluster width), NOT shuffle.partitions: the
    // oracle harness drains on an 8-partition session to keep
    // state-store machinery cheap, and this exchange must stay as
    // wide as the compute, not as narrow as the state. The keyed
    // state shuffle downstream re-keys by span hash regardless.
    graft.operators.DedupQueries.spanPositions(
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id")))
      .as[SpanRow]
      // Key the state by the md5's two unsigned-long HALVES, not the
      // 32-char hex string: the same 128 bits (no collision semantics
      // change), but the state-store key row is 16 fixed bytes instead
      // of a ~40-byte variable-length string — smaller state map,
      // smaller shuffle key, cheaper key compare at millions of
      // distinct spans. The hex form stays in the emitted row (the
      // oracle's h column).
      .groupByKey(r => (java.lang.Long.parseUnsignedLong(r.h.substring(0, 16), 16),
        java.lang.Long.parseUnsignedLong(r.h.substring(16), 16)))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: (Long, Long), rows: Iterator[SpanRow], state: GroupState[Boolean]) =>
          val seenBefore = state.getOption.getOrElse(false)
          val sorted = rows.toArray.sortBy(r => (r.doc_id, r.pos))
          state.update(true)
          sorted.iterator.zipWithIndex.map { case (r, i) =>
            SpanHit(r.doc_id, r.pos, r.h, seenBefore || i > 0)
          }
      }
  }

  def dedupExactStream(spark: SparkSession, docs: DataFrame): Dataset[DedupedDoc] = {
    import spark.implicits._
    docs
      .select(md5(col("text")).as("content_hash"), col("doc_id"), col("source"))
      .as[HashedDoc]
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[HashedDoc], state: GroupState[Boolean]) =>
          val seenBefore = state.getOption.getOrElse(false)
          val sorted = rows.toArray.sortBy(_.doc_id)
          state.update(true)
          sorted.iterator.zipWithIndex.map { case (d, i) =>
            DedupedDoc(hash, d.doc_id, d.source, !seenBefore && i == 0)
          }
      }
  }

  case class StreamBand(band_pk: String, band_id: Int, doc_id: Long)
  case class NearDupHit(doc_id: Long, band_id: Int, anchor_doc: Long,
      is_candidate: Boolean)

  /** Streaming NEAR-dup detection at ingest — the streaming
    * counterpart of the batch `dedupIncremental`: each arriving doc is
    * shingled, MinHash-signed, and banded with the SAME 9 KM
    * double-hash orders / 3-band scheme as the batch pipeline (one
    * definition — [[graft.operators.DedupQueries.minhashSig]] /
    * `bandKeys` — so a banding retune can't diverge), then each band
    * key probes keyed state holding the FIRST doc that ever produced
    * that key. A later doc sharing any band with an earlier one emits
    * `is_candidate = true` with that anchor — LSH candidate
    * generation, the propose half of the batch propose/verify split;
    * the exact-Jaccard disposal stays a downstream batch join against
    * the corpus store (per-candidate, exactly as in
    * [[graft.operators.DedupQueries.jaccardVerify]]), because the
    * full shingle arrays don't belong in streaming state.
    *
    * State is ONE long per distinct band key (3x distinct signatures)
    * — bounded by distinct corpus content like [[dedupExactStream]]'s,
    * and naturally partitioned by the band key. Within a batch,
    * doc_id order decides the anchor, so replays make identical
    * choices. Shingle-less docs (< 3 tokens) produce NULL band keys
    * and are filtered out — mirroring the batch candidate equi-join
    * dropping NULL keys.
    */
  def dedupNearStream(spark: SparkSession, docs: DataFrame): Dataset[NearDupHit] = {
    import spark.implicits._
    import graft.functions.TextFunctions
    import graft.operators.DedupQueries
    // spread the shingle + 9-order MinHash computation across the
    // session's shuffle partitions — the single-file source would
    // otherwise run it all on one task (see dupSpansStream)
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(
      col("doc_id"),
      array_distinct(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3))
        .as("sh_arr"))
    bandAnchorState(spark,
      DedupQueries.bandKeys(DedupQueries.minhashSig(sh, "doc_id"), "doc_id"))
  }

  /** The shared first-anchor band state: each (band_id, band_key)
    * holds the FIRST id that ever produced it; later ids sharing the
    * key emit `is_candidate = true` with that anchor. One machine for
    * every MinHash-banded streaming ingest path (text shingles in
    * [[dedupNearStream]], payload byte-grams in [[dedupMediaStream]])
    * — the modality only decides how `bands` was built.
    */
  private def bandAnchorState(spark: SparkSession, bands: DataFrame): Dataset[NearDupHit] = {
    import spark.implicits._
    bands
      .filter(col("band_key").isNotNull)
      .select(
        concat_ws(":", col("band_id"), col("band_key")).as("band_pk"),
        col("band_id"), col("doc_id"))
      .as[StreamBand]
      .groupByKey(_.band_pk)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[StreamBand], state: GroupState[Long]) =>
          val sorted = rows.toArray.sortBy(_.doc_id)
          val anchor = state.getOption.getOrElse(sorted.head.doc_id)
          if (state.getOption.isEmpty) state.update(anchor)
          sorted.iterator.map { b =>
            NearDupHit(b.doc_id, b.band_id, anchor, b.doc_id != anchor)
          }
      }
  }

  /** Streaming media near-dup at ingest — the streaming form of the
    * batch `dedupMedia`: each arriving binary payload is byte-grammed
    * and MinHash-banded with the SAME scheme as the batch fuzzy index
    * (one gram + signature definition), and probes the shared
    * first-anchor band state. Completes the modality x mode dedup
    * matrix: every modality (text, embeddings, media) now has batch,
    * incremental, and streaming near-dup. As with the text path, this
    * is the propose half — exact gram-Jaccard disposal stays a batch
    * join against the corpus store.
    */
  def dedupMediaStream(spark: SparkSession, media: DataFrame): Dataset[NearDupHit] = {
    import graft.operators.DedupQueries
    import graft.multimodal.Multimodal
    // spread gram extraction + signing off the single-file source task
    // (see dupSpansStream)
    val g = media
      .repartition(media.sparkSession.sparkContext.defaultParallelism, col("media_id"))
      .select(
      col("media_id").as("doc_id"),
      array_distinct(Multimodal.byteGrams(col("payload"))).as("sh_arr"))
      .filter(size(col("sh_arr")) > 0)
    bandAnchorState(spark,
      DedupQueries.bandKeys(DedupQueries.minhashSig(g, "doc_id"), "doc_id"))
  }

  case class EmbBand(band_pk: String, band_id: Int, vec_id: Long)
  case class EmbNearDupHit(vec_id: Long, band_id: Int, anchor_vec: Long,
      is_candidate: Boolean)

  /** Streaming SEMANTIC near-dup detection at ingest — completes the
    * streaming dedup matrix (exact: [[dedupExactStream]], text
    * near-dup: [[dedupNearStream]], embeddings: here). Each arriving
    * vector is quantized and bucketed with the SAME hyperplane
    * sign-bit bands as the batch `dedupEmbedding`
    * ([[graft.operators.DedupQueries.embBandKeys]] — one definition,
    * so a bits/bands retune can't diverge); each band key probes
    * keyed state holding the FIRST vector that ever produced it. A
    * later vector sharing any band emits `is_candidate = true` with
    * that anchor — the propose half of propose/verify; the exact
    * cosine disposal stays a downstream batch join against the vector
    * store (per-candidate), because full vectors don't belong in
    * streaming state.
    *
    * State is ONE long per distinct band key (EMB_BANDS x distinct
    * sign patterns) — bounded by distinct corpus content, naturally
    * partitioned by band key. Within a batch, vec_id order decides
    * the anchor, so replays make identical choices.
    */
  def dedupEmbeddingStream(spark: SparkSession, vecs: DataFrame): Dataset[EmbNearDupHit] = {
    import spark.implicits._
    import graft.functions.VectorFunctions
    import graft.operators.DedupQueries
    val qv = vecs.select(col("vec_id"), VectorFunctions.quantized(col("embedding")).as("qv"))
    DedupQueries.embBandKeys(qv)
      .select(
        concat_ws(":", col("band_id"), col("band_key")).as("band_pk"),
        col("band_id"), col("vec_id"))
      .as[EmbBand]
      .groupByKey(_.band_pk)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[EmbBand], state: GroupState[Long]) =>
          val sorted = rows.toArray.sortBy(_.vec_id)
          val anchor = state.getOption.getOrElse(sorted.head.vec_id)
          if (state.getOption.isEmpty) state.update(anchor)
          sorted.iterator.map { b =>
            EmbNearDupHit(b.vec_id, b.band_id, anchor, b.vec_id != anchor)
          }
      }
  }

  /** CDC-apply at ingest: keep the latest version per key as keyed
    * state (one row per key forever — the state IS the materialized
    * current table), last writer wins under the total (ts, event_id)
    * order whatever the arrival interleaving, and a key whose latest
    * entry is the tombstone op (`error`) emits nothing while its state
    * remembers the tombstone — a later genuine update re-admits the
    * key. Streaming twin of
    * [[graft.operators.PipelineQueries.cdcMerge]]: a single-batch
    * drain emits exactly the batch collapse, so both share one oracle;
    * cross-batch override/tombstone/re-admit semantics are pinned in
    * StreamingSpec where the SQL oracle can't follow.
    */
  def cdcCurrentState(spark: SparkSession, events: DataFrame): Dataset[CdcCurrent] = {
    import spark.implicits._
    events
      .select(col("event_id"), expr("unix_micros(ts)").as("us"),
        col("user_id"), col("event_type"), col("value"))
      .as[CdcVersion]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[CdcVersion], state: GroupState[CdcLatest]) =>
          var st = state.getOption.orNull
          rows.foreach { r =>
            if (st == null || r.us > st.us ||
                (r.us == st.us && r.event_id > st.event_id))
              st = CdcLatest(r.us, r.event_id, r.event_type, r.value)
          }
          state.update(st)
          if (st.event_type == "error") Iterator.empty
          else Iterator(CdcCurrent(userId, st.event_type, st.value, st.us))
      }
  }

  /** Custom keyed state: running per-user totals via
    * flatMapGroupsWithState — the escape hatch for semantics the
    * built-in aggregations can't express. The running sum accumulates
    * in exact integer CENTS (value quantized through DECIMAL(18,2),
    * the engine-wide money convention): long addition is
    * order-independent, so the emitted double — one division at emit
    * time — is bit-identical whatever the arrival interleaving, which
    * is what lets the drained stream share a hash gate with a batch
    * SQL aggregate (a naive running double sum is summation-order-
    * dependent and unhashable).
    */
  def userRunningTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotal] = {
    import spark.implicits._
    events
      .select(col("user_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          var st = state.getOption.getOrElse(UserState(0L, 0L))
          rows.foreach { e => st = UserState(st.n_events + 1, st.cents + e.cents) }
          state.update(st)
          Iterator(UserTotal(userId, st.n_events, st.cents / 100.0))
      }
  }

  /** Idempotent micro-batch sink: each batch MERGEs into the target via
    * the batch Upsert (K4/T3 in SURVEY — per-page eager commit). The
    * path writes last-writer-wins parquet snapshots per batch.
    *
    * Crash safety: the swap is rename-aside (target -> target_prev),
    * rename-into-place (tmp -> target), delete prev. Every crash window
    * leaves a readable snapshot: before the first rename the old target
    * is intact; between the renames `target_prev` holds it and the read
    * path recovers from it; after the second rename the new target is
    * live and a stale `_prev` is cleared at the top of the next batch.
    * A delete-then-rename swap would instead leave NO snapshot if the
    * process died between the two calls — checkpoint replay would then
    * take the first-batch path and silently discard all merged history.
    *
    * `afterBatch` runs as the LAST statement of the batch function —
    * after the swap completes, before Spark records the batch's
    * commit marker. Its only intended use is failure injection:
    * throwing from it dies in exactly the at-least-once crash window
    * (target written, commit unrecorded), which is how StreamingSpec
    * proves a replayed batch's second MERGE leaves the target
    * content-identical. Production callers leave the default no-op.
    */
  def foreachBatchUpsert(
      stream: DataFrame, pk: Seq[String], targetPath: String,
      afterBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val hconf = spark.sparkContext.hadoopConfiguration
      val targetP = new org.apache.hadoop.fs.Path(targetPath)
      val prevP = new org.apache.hadoop.fs.Path(targetPath + "_prev")
      val fs = targetP.getFileSystem(hconf) // works for file:/, hdfs:/, s3a:/ ...
      // Only a genuinely missing target AND missing prev snapshot means
      // "first batch"; any read failure must propagate — merging against
      // an empty stand-in and overwriting would destroy the sink.
      val target =
        if (fs.exists(targetP)) spark.read.parquet(targetPath)
        else if (fs.exists(prevP)) spark.read.parquet(prevP.toString)
        else batch.limit(0)
      val merged = graft.pipeline.Upsert(target, batch, pk)
      // Staging write fully consumes the target read before any rename.
      val tmpP = new org.apache.hadoop.fs.Path(targetPath + s"_batch$batchId")
      merged.write.mode("overwrite").parquet(tmpP.toString)
      // The stale-aside delete happens ONLY when the target exists (the
      // target is then the authoritative snapshot). When the target is
      // absent, `prev` IS the last surviving snapshot — recovering from
      // a crash mid-swap — and must outlive the rename below: deleting
      // it first would open a window (crash before the rename) with NO
      // readable snapshot, and the next replay would take the
      // first-batch path and silently discard all merged history.
      if (fs.exists(targetP)) {
        fs.delete(prevP, true) // stale aside from a crashed earlier batch
        if (!fs.rename(targetP, prevP))
          throw new java.io.IOException(s"rename $targetP -> $prevP failed")
      }
      if (!fs.rename(tmpP, targetP))
        throw new java.io.IOException(s"rename $tmpP -> $targetP failed")
      fs.delete(prevP, true)
      afterBatch(batchId)
      ()
    }

  /** Micro-batch MERGE into a JDBC target — the reference's actual
    * dataflow (pages eagerly committed into Postgres as they arrive,
    * `wdn_api.py:121-122` -> `db.py:51-67`) expressed as Structured
    * Streaming: each batch runs [[graft.pipeline.JdbcSink.upsert]]'s
    * staging-write + set-based MERGE. The MERGE is atomic on the
    * database and last-writer-wins by PK, so checkpoint replay of a
    * batch is idempotent — at-least-once delivery + this sink =
    * effectively-once, same as the parquet path above.
    *
    * `afterBatch` mirrors [[foreachBatchUpsert]]'s failure-injection
    * hook: it runs after the MERGE committed on the database but
    * before Spark records the batch's commit marker — the
    * at-least-once crash window — so StreamingSpec can prove the
    * re-delivered batch's second MERGE leaves the table
    * content-identical. Production callers leave the default no-op.
    */
  def foreachBatchJdbcUpsert(
      stream: DataFrame, pk: Seq[String], url: String, table: String,
      options: Map[String, String] = Map.empty,
      afterBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.pipeline.JdbcSink.upsert(batch, url, table, pk, options)
      afterBatch(batchId)
      ()
    }
}
