package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The shared-materialization registry: memoization, dir isolation
  * (a new dir never cross-reads another dir's build), and the
  * invalidate(dir) unpersist hook.
  */
class SharedBuildsSpec extends SparkSpec {

  private def frame(tag: String): DataFrame = {
    import spark.implicits._
    Seq((1L, tag)).toDF("id", "tag")
  }

  test("getOrBuild runs the build once per (kind, dir) and memoizes the value") {
    var builds = 0
    def get(dir: String): DataFrame =
      SharedBuilds.getOrBuild[DataFrame]("spec.memo", spark, dir) { scope =>
        builds += 1
        scope.cached(frame(dir))
      }
    try {
      val a1 = get("/spec/dirA")
      val a2 = get("/spec/dirA")
      assert(builds == 1)
      assert(a1 eq a2) // the memoized value itself, not a rebuild
    } finally SharedBuilds.invalidate("/spec/dirA")
  }

  test("a build may nest getOrBuild calls for other kinds (the production shape)") {
    // minhashReps -> sharedShingles, semDedup -> ivfIndex: builds
    // nest. computeIfAbsent re-entered on one ConcurrentHashMap
    // throws "Recursive update" when the keys share a bin — this
    // nesting must never go through the map's bin lock. Exercised
    // across MANY kinds so at least some key pairs collide.
    try {
      for (i <- 0 until 64) {
        val outer = SharedBuilds.getOrBuild[DataFrame](s"spec.nest.outer$i", spark, "/spec/nest") {
          scope =>
            val inner = SharedBuilds.getOrBuild[DataFrame](s"spec.nest.inner$i", spark, "/spec/nest") {
              s2 => s2.cached(frame(s"inner$i"))
            }
            scope.cached(inner.select(col("id")))
        }
        assert(outer.columns.toSeq == Seq("id"))
      }
    } finally SharedBuilds.invalidate("/spec/nest")
  }

  test("a new dir never cross-reads another dir's build") {
    try {
      def get(dir: String): DataFrame =
        SharedBuilds.getOrBuild[DataFrame]("spec.isolation", spark, dir) { scope =>
          scope.cached(frame(dir))
        }
      val a = get("/spec/dirA")
      val b = get("/spec/dirB")
      assert(a ne b)
      // each build sees ITS dir's data — the stale-cache bug this
      // registry exists to prevent
      assert(a.select("tag").head().getString(0) == "/spec/dirA")
      assert(b.select("tag").head().getString(0) == "/spec/dirB")
    } finally {
      SharedBuilds.invalidate("/spec/dirA")
      SharedBuilds.invalidate("/spec/dirB")
    }
  }

  test("invalidate(dir) unpersists that dir's frames and leaves other dirs cached") {
    try {
      def get(dir: String): DataFrame =
        SharedBuilds.getOrBuild[DataFrame]("spec.invalidate", spark, dir) { scope =>
          scope.cached(frame(dir))
        }
      val a = get("/spec/dirA")
      val b = get("/spec/dirB")
      a.count(); b.count() // materialize both caches
      assert(a.storageLevel != StorageLevel.NONE)
      assert(b.storageLevel != StorageLevel.NONE)

      SharedBuilds.invalidate("/spec/dirA")
      assert(a.storageLevel == StorageLevel.NONE) // unpersisted
      assert(b.storageLevel != StorageLevel.NONE) // untouched

      // next access rebuilds dirA from scratch
      val a2 = get("/spec/dirA")
      assert(a2 ne a)
    } finally {
      SharedBuilds.invalidate("/spec/dirA")
      SharedBuilds.invalidate("/spec/dirB")
    }
  }

  test("invalidate covers every frame a multi-frame build registers") {
    try {
      val (x, y) = SharedBuilds.getOrBuild[(DataFrame, DataFrame)](
          "spec.multi", spark, "/spec/dirM") { scope =>
        val x = scope.cached(frame("x"))
        (x, scope.cached(x.select(col("id"), upper(col("tag")).as("tag"))))
      }
      x.count(); y.count()
      assert(x.storageLevel != StorageLevel.NONE)
      assert(y.storageLevel != StorageLevel.NONE)
      SharedBuilds.invalidate("/spec/dirM")
      assert(x.storageLevel == StorageLevel.NONE)
      assert(y.storageLevel == StorageLevel.NONE)
    } finally SharedBuilds.invalidate("/spec/dirM")
  }

  test("the registry caps live dirs: the LRU dir is evicted and unpersisted") {
    // start from a clean LRU so this test owns the full window
    SharedBuilds.invalidateAll()
    var builds = 0
    def get(i: Int): DataFrame =
      SharedBuilds.getOrBuild[DataFrame]("spec.lru", spark, s"/spec/lru$i") { scope =>
        builds += 1
        scope.cached(frame(s"lru$i"))
      }
    try {
      val frames = (0 to SharedBuilds.MaxDirs).map { i =>
        val f = get(i); f.count(); f
      }
      // dir 0 (least recently used) was evicted when dir MaxDirs came
      // in; every younger dir is still cached
      assert(frames.head.storageLevel == StorageLevel.NONE)
      assert(frames.tail.forall(_.storageLevel != StorageLevel.NONE))
      // re-access rebuilds dir 0 (and in turn evicts dir 1)
      val before = builds
      get(0)
      assert(builds == before + 1)
      assert(frames(1).storageLevel == StorageLevel.NONE)
      // touching a dir protects it: dir 2 is now LRU, but a re-access
      // moves it to the front so inserting a fresh dir evicts dir 3
      get(2)
      get(SharedBuilds.MaxDirs + 1)
      assert(frames(2).storageLevel != StorageLevel.NONE)
      assert(frames(3).storageLevel == StorageLevel.NONE)
    } finally SharedBuilds.invalidateAll()
  }

  test("parquet persist mode: one scratch materialization, same values, clean invalidate") {
    // the multi-process substrate (auto-selected under any non-local[*]
    // master): builds write scratch parquet once and every consumer
    // reads the files — no per-executor-JVM cache duplication
    val scratch = java.nio.file.Files.createTempDirectory("spec-shared-scratch")
    System.setProperty("graft.shared.persist", "parquet")
    System.setProperty("graft.shared.scratch", scratch.toString)
    try {
      var builds = 0
      def get(): DataFrame =
        SharedBuilds.getOrBuild[DataFrame]("spec.pq", spark, "/spec/pq") { scope =>
          builds += 1
          scope.cached(frame("pq"))
        }
      val a = get()
      a.count()
      // substrate is scratch files; the read-back is ALSO cached (the
      // cache-miss recompute path is then a local file scan, not the
      // build pipeline)
      assert(a.storageLevel != StorageLevel.NONE)
      assert(a.queryExecution.analyzed.toString.contains("parquet"))
      assert(a.select("tag").head().getString(0) == "/spec/pq".takeRight(0) + "pq")
      assert(get() eq a) // memoized, one build
      assert(builds == 1)
      // exactly one scratch build dir with parquet files under it
      val dirs = scratch.toFile.listFiles()
      assert(dirs != null && dirs.length == 1 && dirs.head.getName.startsWith("spec.pq-"))
      assert(new java.io.File(dirs.head, "f1").listFiles()
        .exists(_.getName.endsWith(".parquet")))
      SharedBuilds.invalidate("/spec/pq")
      assert(a.storageLevel == StorageLevel.NONE) // cache dropped...
      assert(scratch.toFile.listFiles().isEmpty) // ...and files deleted
      // rebuild after invalidate reads fresh data
      val b = get()
      assert(builds == 2 && (b ne a))
    } finally {
      System.clearProperty("graft.shared.persist")
      System.clearProperty("graft.shared.scratch")
      SharedBuilds.invalidate("/spec/pq")
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    }
  }

  test("flipping the persist dial mid-session builds under the new substrate") {
    // no invalidate() between the flips: the substrate is part of the
    // memo key, so a frame built under one dial setting is never served
    // under the other
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def scansFiles(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case l: LogicalRelation => l }.nonEmpty
    val scratch = java.nio.file.Files.createTempDirectory("spec-shared-scratch5")
    var builds = 0
    def get(): DataFrame =
      SharedBuilds.getOrBuild[DataFrame]("spec.flip", spark, "/spec/flip") { scope =>
        builds += 1
        scope.cached(frame("flip"))
      }
    System.setProperty("graft.shared.persist", "cache")
    System.setProperty("graft.shared.scratch", scratch.toString)
    try {
      val c = get()
      c.count()
      assert(builds == 1 && !scansFiles(c))
      System.setProperty("graft.shared.persist", "parquet")
      val p = get()
      assert(builds == 2 && (p ne c), "the cache-mode frame was served under parquet")
      assert(scansFiles(p))
      assert(scratch.toFile.listFiles().exists(_.getName.startsWith("spec.flip-")))
      assert(p.select("tag").head().getString(0) == "flip")
      // and back: the cache-mode build is served again, never the parquet one
      System.setProperty("graft.shared.persist", "cache")
      assert(get() eq c)
      assert(builds == 2)
    } finally {
      System.clearProperty("graft.shared.persist")
      System.clearProperty("graft.shared.scratch")
      SharedBuilds.invalidate("/spec/flip")
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    }
  }

  test("parquet persist mode: nested multi-frame builds round-trip exact values") {
    // the production shape (minhashReps reads sharedShingles) under the
    // scratch substrate: eager write-then-read must preserve values and
    // schemas through the nest, including array columns
    val scratch = java.nio.file.Files.createTempDirectory("spec-shared-scratch2")
    System.setProperty("graft.shared.persist", "parquet")
    System.setProperty("graft.shared.scratch", scratch.toString)
    try {
      import spark.implicits._
      val (x, y) = SharedBuilds.getOrBuild[(DataFrame, DataFrame)](
          "spec.pqnest.outer", spark, "/spec/pqnest") { scope =>
        val inner = SharedBuilds.getOrBuild[DataFrame](
            "spec.pqnest.inner", spark, "/spec/pqnest") { s2 =>
          s2.cached(Seq((1L, Seq("a", "b")), (2L, Seq("c"))).toDF("id", "arr"))
        }
        val x = scope.cached(inner.select(col("id"), size(col("arr")).as("n")))
        (x, scope.cached(x.groupBy().agg(sum(col("n")).as("total"))))
      }
      assert(x.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
        == Seq((1L, 2), (2L, 1)))
      assert(y.head().getLong(0) == 3L)
    } finally {
      System.clearProperty("graft.shared.persist")
      System.clearProperty("graft.shared.scratch")
      SharedBuilds.invalidate("/spec/pqnest")
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    }
  }

  test("parquet persist mode: the partitioning contract makes a key self-join exchange-free") {
    // cached(df, keys) re-establishes hash(keys) over the scratch
    // read-back (under the cache), so a consumer that self-joins on
    // the key plans NO new exchange — the r18 cluster residual
    // (q_dedup_ngram's PPJoin re-adding exchanges on the round-robin
    // read-back) pinned as a plan property.
    val scratch = java.nio.file.Files.createTempDirectory("spec-shared-scratch3")
    System.setProperty("graft.shared.persist", "parquet")
    System.setProperty("graft.shared.scratch", scratch.toString)
    try {
      import spark.implicits._
      val keyed = SharedBuilds.getOrBuild[DataFrame](
          "spec.pqkeys", spark, "/spec/pqkeys") { scope =>
        scope.cached(
          (1 to 100).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v"),
          Seq("k"))
      }
      keyed.count() // fill the cache (the contract exchange is paid here)
      val joined = keyed.alias("a")
        .join(keyed.alias("b"), col("a.k") === col("b.k"))
        .groupBy(col("a.k")).agg(count(lit(1)).as("n"))
      assert(joined.collect().map(_.getLong(1)).sum ==
        (1 to 100).groupBy(_ % 7).values.map(g => g.size.toLong * g.size).sum)
      // the self-join itself added no shuffle: the only exchange in the
      // final plan is the aggregate's (and none when the groupBy key
      // matches the contract key, as here). TYPED node collection, not
      // string matching (r19 ADVICE: ShuffleExchangeExec.nodeName is
      // "Exchange", so a plan string never contains "ShuffleExchange"
      // and the old assertion could not fail). The contract exchange
      // itself lives under the InMemoryRelation's fill plan, which is
      // not a child of the scan node, so this collect only sees
      // exchanges the CONSUMER plan added. AQE hides executed
      // exchanges inside leaf ShuffleQueryStageExec wrappers — match
      // those too.
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exec = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val exchanges = exec.collect {
        case s: ShuffleQueryStageExec => s
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"contract self-join re-added ${exchanges.size} exchange(s):\n$exec")
    } finally {
      System.clearProperty("graft.shared.persist")
      System.clearProperty("graft.shared.scratch")
      SharedBuilds.invalidate("/spec/pqkeys")
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    }
  }

  test("parquet read-back: union-of-files below the width guard, plain scan above") {
    // verdict r18 item 4: one-leaf-per-file is right at harness widths
    // but must not produce a 1000-leaf union on a 1000-core cluster.
    val scratch = java.nio.file.Files.createTempDirectory("spec-shared-scratch4")
    System.setProperty("graft.shared.persist", "parquet")
    System.setProperty("graft.shared.scratch", scratch.toString)
    import spark.implicits._
    def build(kind: String, dir: String): DataFrame =
      SharedBuilds.getOrBuild[DataFrame](kind, spark, dir) { scope =>
        scope.cached((1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "tag"))
      }
    try {
      // below the guard: one scan per file, unioned
      val wide = build("spec.pqwide", "/spec/pqwide")
      assert(wide.queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.nonEmpty,
        "expected the one-scan-per-file union below the width guard")
      assert(wide.count() == 50)
      // above the guard (forced via the sysprop): plain multi-file scan
      System.setProperty("graft.shared.unionmax", "1")
      val narrow = build("spec.pqnarrow", "/spec/pqnarrow")
      assert(narrow.queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.isEmpty,
        "expected a plain multi-file scan above the width guard")
      assert(narrow.count() == 50)
      assert(narrow.orderBy("id").select("tag").head().getString(0) == "r1")
    } finally {
      System.clearProperty("graft.shared.unionmax")
      System.clearProperty("graft.shared.persist")
      System.clearProperty("graft.shared.scratch")
      SharedBuilds.invalidate("/spec/pqwide")
      SharedBuilds.invalidate("/spec/pqnarrow")
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    }
  }

  test("production shared builds flow through the registry and invalidate cleanly") {
    // sanity: the dedup/text shared builds are registered under real
    // kinds and invalidate() unpersists them (catches a future memo
    // added outside the registry going stale)
    val sh = graft.operators.DedupQueries.sharedShingles(spark, sf0001)
    sh.count()
    assert(sh.storageLevel != StorageLevel.NONE)
    SharedBuilds.invalidate(sf0001)
    assert(sh.storageLevel == StorageLevel.NONE)
    // rebuild works after invalidation
    val again = graft.operators.DedupQueries.sharedShingles(spark, sf0001)
    assert(again.count() == sh.count())
    SharedBuilds.invalidate(sf0001)
  }
}
