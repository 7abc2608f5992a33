package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Session-scoped registry of shared materializations.
  *
  * Several operator families reuse expensive intermediates — the
  * distinct-shingle arrays (dedup + decontamination), the (doc, term,
  * tf) aggregate (tf-idf / BM25 / diversity), the verified minhash
  * representative pairs (every minhash consumer) — each memoized per
  * (session, sf-dir) so one cached build serves every consumer, the
  * role a materialized staging table plays in a production pipeline.
  * The fixture tables' footer schemas live here too, as kind
  * `table.<name>` ([[Tables.schema]]): a build that caches no frame, so
  * the same invalidate and stopped-session purge cover it.
  *
  * Before round 5 those memos were three private ConcurrentHashMaps in
  * two files, plus per-invocation `.cache()` calls that were never
  * unpersisted — exactly where a stale-cache bug would eventually live.
  * This object is the single home for all of them:
  *
  *  - [[getOrBuild]] memoizes a build per (kind, session, dir,
  *    substrate) and records every DataFrame the build cached (via
  *    [[CacheScope]]).
  *  - [[invalidate]] drops a dir's builds and unpersists their cached
  *    frames — the hook to call when the data under a dir changes.
  *  - Entries keyed by stopped sessions are purged on each access, so
  *    a long-lived JVM cycling sessions (test suites, notebooks) never
  *    accumulates unreachable cached plans.
  *
  * Keys include the session so concurrent sessions never cross-share,
  * the dir so two corpora never cross-read, and the persist substrate
  * so flipping the dial mid-session never serves a frame built under
  * the other one (SharedBuildsSpec pins all three properties).
  */
object SharedBuilds {

  /** Passed to each build function; every frame the build caches must
    * go through [[CacheScope.cached]] so [[invalidate]] can unpersist
    * it later.
    *
    * Two persist modes (see [[persistParquet]] for the dial):
    *
    *  - `cache` (single-JVM default): `df.cache()` — zero-copy reuse
    *    inside one JVM, the right call under `local[N]`.
    *  - `parquet` (multi-process default): the frame is written ONCE to
    *    a scratch parquet directory and every consumer reads the files
    *    back. Under separate executor JVMs, `.cache()` blocks live in
    *    per-executor block managers: each executor re-hydrates remote
    *    partitions over the wire and duplicates them in its own storage
    *    memory (measured r17: q_dedup_recall 4.6× under
    *    local-cluster[2,8] for exactly this reason). A scratch parquet
    *    file is ONE materialization on shared storage that every
    *    executor scans columnar with pushdown/pruning — the
    *    staging-table shape a production pipeline uses on a real
    *    cluster, where [[scratchRoot]] points at the shared FS
    *    (HDFS/S3). Values are identical either way; only the storage
    *    substrate changes.
    */
  final class CacheScope private[SharedBuilds] (
      parquetRoot: Option[String] = None) {
    private[SharedBuilds] val frames = ArrayBuffer[DataFrame]()
    // the scope's scratch root + its fs, resolved at first write so
    // deletion (of the WHOLE scope tree) works after session stop
    private[SharedBuilds] var scratch:
      Option[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem)] = None
    private val seq = new java.util.concurrent.atomic.AtomicInteger()

    def cached(df: DataFrame): DataFrame = cached(df, Seq.empty)

    /** [[cached]] with a PARTITIONING CONTRACT — PARQUET PERSIST MODE
      * ONLY: there the returned frame is hash-partitioned by `keys` at
      * defaultParallelism, so a consumer that self-joins or re-joins
      * the build on the key plans exchange-free (HashPartitioning(keys)
      * satisfies the join's clustered distribution); cache mode
      * deliberately IGNORES the hint (rationale below). PARQUET MODE:
      * the scratch read-back is a
      * plain file scan exposing NO partitioning, so every consumer
      * join re-exchanges both sides (r18: q_dedup_ngram 2.6x its
      * local mint under local-cluster for exactly this; the key
      * repartition replaces the round-robin spread on the write side
      * — same file count, key-clustered files — and is re-established
      * once on the read-back, under the cache so the exchange is paid
      * at fill time, not per consumer). Cache mode IGNORES the hint:
      * in-process the build's own AQE-planned exchanges (runtime
      * coalescing, skew splitting) already place the data, and an A/B
      * this round measured the forced hash(keys)@defaultParallelism
      * layout SLOWER locally (q_dedup_ngram 1.03 -> 1.47 s steady —
      * a fixed-width static exchange loses to AQE on a skewed gram
      * key), so the contract only applies where it removes real
      * cross-process exchanges.
      */
    def cached(df: DataFrame, keys: Seq[String]): DataFrame = parquetRoot match {
      case None =>
        val c = df.cache(); frames += c; c
      case Some(root) =>
        val spark = df.sparkSession
        val path = s"$root/f${seq.incrementAndGet()}"
        // Write one file per cluster core: AQE coalesces small build
        // outputs to 1-2 post-shuffle partitions, and a read-back scan
        // of the resulting small files packs them into ONE split
        // (openCost packing), which starves any consumer whose kernel
        // runs directly on the scan partitions with no exchange to
        // restore parallelism (measured: q_media_recall's bounded-
        // anchor grid 2.2 s -> 12.4 s on the 1-split read-back).
        val p = spark.sparkContext.defaultParallelism
        val spread =
          if (keys.isEmpty) df.repartition(p)
          else df.repartition(p, keys.map(df.col): _*)
        spread.write.mode("overwrite").parquet(path)
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (scratch.isEmpty)
          scratch = Some((new org.apache.hadoop.fs.Path(root), fs))
        // Read back as a UNION of single-file scans: a single multi-
        // file scan re-packs small files into few splits whatever the
        // writer did; one scan per file pins read parallelism to the
        // file count (= write tasks). A real cluster pointing
        // GRAFT_SHARED_SCRATCH at HDFS/S3 gets the same effect from
        // block-sized files; this keeps the harness's small builds
        // wide without mutating session conf in a read path.
        // PLAN-WIDTH GUARD: one leaf per file is right at harness
        // widths (tens of files) but a 1000-core cluster would plan a
        // 1000-leaf union per build — above UnionReadMaxFiles fall
        // back to the plain multi-file scan (block-sized files on a
        // real shared FS split naturally; the open-cost packing this
        // union works around only bites on the harness's tiny files).
        val files = fs.listStatus(hp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
        if (files.isEmpty)
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), df.schema)
        else {
          val back0 =
            if (files.length > UnionReadMaxFiles)
              spark.read.schema(df.schema).parquet(path)
            else files.map(f => spark.read.schema(df.schema).parquet(f))
              .reduce(_.unionAll(_))
          // re-establish the partitioning contract over the scan (the
          // exchange sits UNDER the cache, so it is paid once at fill)
          val back = if (keys.isEmpty) back0
            else back0.repartition(p, keys.map(back0.col): _*)
          // Cache the read-back ON TOP of the files (default): blocks
          // distribute once across executors (process-local re-reads),
          // and a cache miss now recomputes a cheap local file scan
          // instead of the whole build pipeline — measured at
          // local-cluster[2,8] sf0.1: q_dedup_recall 2.47 s -> 1.42 s,
          // q_media_recall 2.31 s -> 1.37 s vs files-only.
          // GRAFT_SHARED_PQ_CACHE=0 disables (files-only), for corpora
          // where the builds outsize executor storage memory.
          if (sys.env.get("GRAFT_SHARED_PQ_CACHE").contains("0")) back
          else { val c = back.cache(); frames += c; c }
        }
    }

    private[SharedBuilds] def deleteScratch(): Unit =
      scratch.foreach { case (p, fs) =>
        try fs.delete(p, true) catch { case _: Throwable => () }
      }
  }

  /** Max scratch files read back as a one-scan-per-file union — see
    * the plan-width guard note at [[CacheScope.cached]]. Sysprop
    * override (`graft.shared.unionmax`) exists so the spec can pin
    * BOTH regimes without writing hundreds of files.
    */
  private[graft] def UnionReadMaxFiles: Int =
    sys.props.get("graft.shared.unionmax").map(_.toInt).getOrElse(256)

  /** A scope whose frames are NOT memoized or lifecycle-managed —
    * for spec-only builds that must bypass the (session, dir) memo
    * (e.g. a forced banding tier over a dir whose production index is
    * also live). Caller owns the frames; tiny test fixtures only.
    * Always cache-mode: spec fixtures are single-JVM by contract.
    */
  def unmanagedScope: CacheScope = new CacheScope(None)

  /** Whether this session's shared builds persist to scratch parquet —
    * exposed for operators that gate a STAGING DECISION on the
    * substrate (r19 verdict item 4 / ADVICE: the containment prefix
    * postings are staged on the parquet substrate, where a staged
    * frame is one shared materialization every executor scans, but
    * derived inline in cache mode, where the staging was measured
    * net-negative locally).
    */
  private[graft] def parquetMode(spark: SparkSession): Boolean =
    persistParquet(spark)

  /** Whether shared builds persist to scratch parquet instead of
    * `.cache()`. Dial order: sysprop `graft.shared.persist` (in-JVM
    * spec override) > env `GRAFT_SHARED_PERSIST` > session conf
    * `spark.graft.sharedPersist` > `auto`. Values: `cache`, `parquet`,
    * `auto`. Auto selects parquet exactly when the master runs
    * executors in separate processes (anything other than in-process
    * `local`/`local[...]`) — the regime where cache blocks duplicate
    * per JVM. NOTE `local-cluster[...]` must NOT match the in-process
    * test: `startsWith("local")` would wrongly claim it.
    */
  private def persistParquet(spark: SparkSession): Boolean = {
    val mode = sys.props.get("graft.shared.persist")
      .orElse(sys.env.get("GRAFT_SHARED_PERSIST"))
      .orElse(spark.conf.getOption("spark.graft.sharedPersist"))
      .getOrElse("auto")
    mode match {
      case "parquet" => true
      case "cache"   => false
      case _ =>
        val m = spark.sparkContext.master
        !(m == "local" || m.startsWith("local["))
    }
  }

  /** Scratch root for parquet-mode builds. MUST be a filesystem every
    * executor can read: on a real cluster set `GRAFT_SHARED_SCRATCH`
    * (or `spark.graft.scratchDir`) to a shared path (HDFS/S3/NFS); the
    * default — java.io.tmpdir scoped by applicationId — is correct for
    * the single-box local-cluster harness, where all executor
    * processes share the local disk.
    */
  private def scratchRoot(spark: SparkSession): String =
    sys.props.get("graft.shared.scratch")
      .orElse(sys.env.get("GRAFT_SHARED_SCRATCH"))
      .orElse(spark.conf.getOption("spark.graft.scratchDir"))
      .getOrElse {
        val root = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft-shared-${spark.sparkContext.applicationId}")
        // harness JVMs (Verify/Bench) exit without invalidate(): sweep
        // the app-scoped default root on shutdown so /tmp never
        // accumulates one scratch tree per run. User-provided scratch
        // paths (the real-cluster shared-FS case) are never swept —
        // their lifecycle belongs to the cluster's scratch policy.
        if (defaultRoots.add(root.getAbsolutePath))
          Runtime.getRuntime.addShutdownHook(new Thread(() =>
            org.apache.commons.io.FileUtils.deleteQuietly(root)))
        root.getAbsolutePath
      }

  private val defaultRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private final case class Key(kind: String, session: SparkSession, dir: String,
      parquet: Boolean)
  private final case class Entry(value: AnyRef, frames: Seq[DataFrame],
      scratch: Option[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem)])

  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** Maximum distinct dirs with live builds. Entries used to live until
    * session stop or an explicit [[invalidate]] — a long-lived session
    * sweeping many dirs (stress sweeps do exactly this) accumulated
    * cached frames without bound. Every access touches its dir; when a
    * new dir pushes the live-dir count over this cap, the least-
    * recently-used dir's builds are invalidated and its frames
    * unpersisted. 4 covers every real working set (the three fixture
    * scale factors plus one stress dir) while bounding storage at
    * O(MaxDirs x builds-per-dir).
    */
  val MaxDirs = 4

  // access-ordered: iteration starts at the least-recently-used dir
  private val dirLru = new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true)

  private def touchDir(dir: String): Unit = {
    val evicted = dirLru.synchronized {
      dirLru.put(dir, java.lang.Boolean.TRUE)
      if (dirLru.size > MaxDirs) {
        val it = dirLru.keySet.iterator
        val eldest = it.next()
        it.remove()
        Some(eldest)
      } else None
    }
    // unpersist outside the lock: eviction touches Spark state
    evicted.foreach(d => remove(_.dir == d))
  }

  /** The memoized value for (kind, session, dir, substrate), building
    * it on first access; the value may be a DataFrame, any tuple of
    * frames or a plain value (a table schema) — callers cast back via
    * the type parameter.
    *
    * The build runs OUTSIDE the map's bin lock — builds here NEST
    * (minhashReps' build reads sharedShingles, semDedup's reads the
    * IVF index), and `computeIfAbsent` re-entered on the same map
    * throws IllegalStateException("Recursive update") whenever the
    * two keys collide into one bin. That made two dedup queries fail
    * intermittently (identity-hash-dependent, so only on some JVMs) —
    * the round-5 flake. The cost of the fix: two threads racing the
    * same cold key may both run the build; putIfAbsent keeps the
    * winner and the loser's entry is dropped (its frames ARE the
    * winner's — CacheManager dedups same-plan caches). Sequential
    * driver/test usage never races, so in practice the build still
    * runs once. A build that re-enters its OWN key would recurse
    * forever — don't.
    */
  def getOrBuild[T <: AnyRef](kind: String, spark: SparkSession, dir: String)(
      build: CacheScope => T): T = {
    purgeStopped()
    touchDir(dir)
    val parquet = persistParquet(spark)
    val key = Key(kind, spark, dir, parquet)
    val existing = memo.get(key)
    if (existing != null) return existing.value.asInstanceOf[T]
    val scope =
      if (!parquet) new CacheScope(None)
      else {
        // unique per scope so two threads racing one cold key never
        // write the same files; slug keeps paths readable in listings
        val slug = kind.replaceAll("[^A-Za-z0-9._-]", "_")
        new CacheScope(Some(
          s"${scratchRoot(spark)}/$slug-${java.util.UUID.randomUUID()}"))
      }
    val t0 = System.nanoTime()
    val entry =
      try Entry(build(scope), scope.frames.toSeq, scope.scratch)
      catch { case e: Throwable =>
        // a build that throws after some scope.cached() calls must not
        // strand persisted frames/files with no invalidate() handle
        scope.frames.foreach(_.unpersist())
        scope.deleteScratch()
        throw e
      }
    // one stderr line per actual build: cold-cost attribution (which
    // query paid for which shared materialization) is invisible in
    // per-query wall times alone
    System.err.println(
      f"[shared-build] $kind%-24s ${(System.nanoTime() - t0) / 1e9}%6.2fs " +
        s"dir=$dir${if (parquet) " persist=parquet" else ""}")
    val prev = memo.putIfAbsent(key, entry)
    if (prev != null) {
      // Lost a cold-key race. When both builds are plan-deterministic
      // (the contract here), their plans are sameResult and Spark's
      // CacheManager deduplicated them into ONE cache entry —
      // unpersisting "ours" would uncache the winner's frames too,
      // silently degrading every consumer to recompute. GUARD the
      // contract rather than trusting it: a loser frame whose plan
      // matches NO winner frame is a nondeterministic stray that would
      // otherwise stay persisted with no invalidate() handle —
      // unpersist exactly those.
      scope.frames.foreach { f =>
        val shared = prev.frames.exists(
          _.queryExecution.analyzed.sameResult(f.queryExecution.analyzed))
        if (!shared) f.unpersist()
      }
      // parquet-mode loser files are scope-unique (UUID path), never
      // shared with the winner — delete unconditionally
      scope.deleteScratch()
      prev.value.asInstanceOf[T]
    } else entry.value.asInstanceOf[T]
  }

  /** Drop every build keyed by `dir` (all kinds, all sessions) and
    * unpersist its cached frames. Call when the data under `dir`
    * changes; the next access rebuilds from the new data.
    */
  def invalidate(dir: String): Unit = {
    dirLru.synchronized { dirLru.remove(dir) }
    remove(_.dir == dir)
  }

  /** Drop and unpersist everything (test teardown). */
  def invalidateAll(): Unit = {
    dirLru.synchronized { dirLru.clear() }
    remove(_ => true)
  }

  private def remove(p: Key => Boolean): Unit = {
    val it = memo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) {
        if (!e.getKey.session.sparkContext.isStopped)
          e.getValue.frames.foreach(_.unpersist())
        // scratch files outlive the session — always delete (fs handle
        // was captured at write time, no session needed)
        e.getValue.scratch.foreach { case (path, fs) =>
          try fs.delete(path, true) catch { case _: Throwable => () }
        }
        it.remove()
      }
    }
  }

  private def purgeStopped(): Unit =
    remove(k => k.session.sparkContext.isStopped)
}
