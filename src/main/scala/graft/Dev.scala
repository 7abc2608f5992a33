package graft

/** Dev utility main (not part of the driver contract).
  *
  * Usage (via scripts/run.sh graft.Dev ...):
  *   schema <table> <sfDir>      — print the Spark-side schema
  *   show <query> <sfDir> [n]    — run a SparkEntry query, show n rows
  *   explain <query> <sfDir>     — formatted physical plan of a query
  *   explainAll <sfDir>          — formatted plans for every query
  */
object Dev {
  def main(args: Array[String]): Unit = {
    // The session of Bench (SessionEnv, SPARK_GRAFT_CPUS/_MASTER/_AQE
    // with Bench's defaults), so a Dev profile runs what the bench runs.
    val builder = SessionEnv.builder(SessionEnv.cpus)
      .appName("graft-dev")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    // `ext` drives the SparkSessionExtensions install path
    val spark =
      (if (args.headOption.contains("ext"))
        builder.withExtensions(new graft.plans.GraftExtensions) else builder)
        .getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("GRAFT_LOG", "ERROR"))
    try args.toList match {
      case "schema" :: table :: dir :: Nil =>
        val df = table match {
          case "events" => Tables.events(spark, dir)
          case t        => Tables.read(spark, dir, t)
        }
        df.printSchema()
        df.show(5, truncate = false)
      case "show" :: q :: dir :: rest =>
        val n = rest.headOption.map(_.toInt).getOrElse(20)
        SparkEntry.queries(q)(spark, dir).show(n, truncate = false)
      case "explain" :: q :: dir :: Nil =>
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      case "time" :: dir :: rest =>
        val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toList.sorted
        // GRAFT_GC_BETWEEN=1: force a full GC (and let it settle)
        // before each measured execution — separates "each run leaves
        // collectable garbage the next run's young GCs choke on" from
        // "live memory actually grows" when a query degrades across
        // repeats. Prints heap-in-use after the GC for the same reason.
        val gcBetween = sys.env.get("GRAFT_GC_BETWEEN").contains("1")
        def settle(label: String): Unit = if (gcBetween) {
          System.gc(); Thread.sleep(500)
          val rt = Runtime.getRuntime
          println(f"  [heap after gc @$label: ${(rt.totalMemory - rt.freeMemory) / (1 << 20)}%d MiB]")
        }
        val times = names.map { name =>
          val fn = SparkEntry.queries(name)
          settle(s"$name cold")
          val c0 = System.nanoTime()
          fn(spark, dir).count() // cold: plan compile + codegen + JIT
          val cold = (System.nanoTime() - c0) / 1e9
          settle(s"$name steady")
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (name, cold, (System.nanoTime() - t0) / 1e9)
        }
        times.sortBy(-_._3).foreach { case (n, c, t) =>
          println(f"$t%8.2fs steady $c%8.2fs cold  $n") }
        println(f"total: steady ${times.map(_._3).sum}%.1fs cold ${times.map(_._2).sum}%.1fs")
      case "coldaudit" :: dir :: Nil =>
        // Verdict item 6: attribute the cold-vs-steady gap. Runs every
        // query (bench order) ONCE cold, measuring wall time plus the
        // Janino activity it triggered (CodegenMetrics histogram:
        // count = generated classes compiled; total ms estimated as
        // count x end-of-run reservoir mean — Codahale exposes no
        // exact sum). A second full pass gives the steady floor.
        // SharedBuilds' [shared-build] stderr lines interleave with
        // the per-query output, attributing each lazy materialization
        // to the query whose first action paid for it.
        import org.apache.spark.metrics.source.CodegenMetrics
        val hist = CodegenMetrics.METRIC_COMPILATION_TIME
        // Bench's warmup, so session bootstrap + kernel C2 compilation
        // is not charged to the alphabetically-first query
        SessionEnv.warmup(spark, dir)
        val names = SparkEntry.queries.keys.toList.sorted
        val coldRows = names.map { name =>
          val classes0 = hist.getCount
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // emitted DURING the pass (stderr, like [shared-build]) so
          // the build lines interleave under the query that paid them
          System.err.println(f"[cold] $name%-28s $wall%6.2fs classes=${hist.getCount - classes0}")
          (name, wall, hist.getCount - classes0)
        }
        // the steady pass also counts the classes it compiles AGAIN:
        // with the codegen cache sized (SessionEnv) only generated
        // source that changes per execution misses
        val steady = names.map { name =>
          val classes0 = hist.getCount
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          name -> ((System.nanoTime() - t0) / 1e9, hist.getCount - classes0)
        }.toMap
        val meanMs = hist.getSnapshot.getMean
        println(f"%n[coldaudit] ${names.size} queries, codegen mean compile ${meanMs}%.1f ms/class")
        println(f"[coldaudit] ${"query"}%-28s ${"cold"}%8s ${"steady"}%8s ${"delta"}%8s classes  est.compile  recompiled")
        coldRows.sortBy { case (n, w, _) => steady(n)._1 - w }.foreach { case (n, w, k) =>
          val (sw, sk) = steady(n)
          println(f"[coldaudit] $n%-28s $w%7.2fs $sw%7.2fs ${w - sw}%7.2fs  $k%6d  ${k * meanMs / 1000}%6.2fs  $sk%6d")
        }
        val totCold = coldRows.map(_._2).sum
        val totSteady = steady.values.map(_._1).sum
        val totClasses = coldRows.map(_._3).sum
        println(f"[coldaudit] TOTAL cold $totCold%.1fs steady $totSteady%.1fs delta ${totCold - totSteady}%.1fs; " +
          f"$totClasses classes compiled ~ ${totClasses * meanMs / 1000}%.1fs janino, " +
          f"${steady.values.map(_._2).sum} compiled again in the steady pass")
      case "jobprof" :: dir :: qs =>
        // Per-JOB wall-time attribution inside one query's steady
        // execution: run the query once cold (fills + codegen), then
        // once steady with a job listener printing each job's wall
        // time, stage count and task count. The r20 loop-query work
        // needs to know whether a 4 s steady is 14 x 300 ms jobs
        // (driver/planning floor) or 2 big stages (real compute).
        import org.apache.spark.scheduler._
        import scala.collection.concurrent.TrieMap
        val names = if (qs.nonEmpty) qs else List("q_pagerank_eps")
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          fn(spark, dir).count() // cold: fills + codegen, unprofiled
          val t0j = TrieMap[Int, (Long, String)]()
          val done = TrieMap[Int, (Double, Int, Int)]()
          val stages = TrieMap[Int, Int]()
          val listener = new SparkListener {
            override def onJobStart(e: SparkListenerJobStart): Unit = {
              t0j(e.jobId) = (System.nanoTime(),
                Option(e.properties).map(_.getProperty("spark.job.description"))
                  .flatMap(Option(_)).getOrElse(""))
              stages(e.jobId) = e.stageInfos.size
            }
            override def onJobEnd(e: SparkListenerJobEnd): Unit =
              t0j.get(e.jobId).foreach { case (t0, _) =>
                done(e.jobId) = ((System.nanoTime() - t0) / 1e9, stages.getOrElse(e.jobId, 0), 0)
              }
          }
          spark.sparkContext.addSparkListener(listener)
          val tq = System.nanoTime()
          fn(spark, dir).count()
          val wall = (System.nanoTime() - tq) / 1e9
          Thread.sleep(500) // listener bus drain
          spark.sparkContext.removeSparkListener(listener)
          println(f"%n[jobprof] $name steady $wall%.2f s, ${done.size} jobs " +
            f"(sum ${done.values.map(_._1).sum}%.2f s):")
          done.toSeq.sortBy(_._1).foreach { case (id, (secs, nstages, _)) =>
            println(f"[jobprof]   job $id%4d $secs%6.3f s  $nstages%2d stages  ${t0j(id)._2.take(80)}")
          }
        }
      case "buildprof" :: dir :: Nil =>
        // Stage-by-stage timing of the shared minhash/shingle build
        // that the alphabetically-first dedup consumer pays in the
        // bench — data for targeted optimization (each stage timed
        // from a cold session, cumulative costs included). Every
        // stage IS the production helper (sharedShingles /
        // duplicateClasses / repShingles / minhashSig / bandKeys /
        // bandCandidates / jaccardVerify), so a banding or seed
        // retune automatically changes what this profiles.
        import graft.operators.DedupQueries
        def t(label: String)(thunk: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = thunk
          println(f"[buildprof] ${(System.nanoTime() - t0) / 1e9}%6.2fs  $label (rows=$n)")
        }
        val docs = Tables.documents(spark, dir)
        t("documents scan")(docs.count())
        val sh = DedupQueries.sharedShingles(spark, dir)
        t("shingle build + cache")(sh.count())
        val groups = DedupQueries.duplicateClasses(spark, dir).cache()
        t("duplicate-class groupBy")(groups.count())
        val shArr = DedupQueries.repShingles(spark, dir, groups)
        val sig = DedupQueries.minhashSig(shArr, "doc_id").cache()
        t("signatures (1 md5, 9 window mins) + cache")(sig.count())
        val cand = DedupQueries.bandCandidates(
          DedupQueries.bandKeys(sig, "doc_id"), "doc_id")
        t("band self-join + distinct")(cand.count())
        t("exact verify")(DedupQueries.jaccardVerify(cand, shArr, 4, 5).count())
      case "cosbench" :: dir :: Nil =>
        // fused codegen expression vs composable zip_with/aggregate path
        import org.apache.spark.sql.functions._
        val emb = Tables.embeddings(spark, dir).cache()
        emb.count()
        def timeIt(label: String, c: org.apache.spark.sql.Column): Unit = {
          val df = emb.alias("a").crossJoin(emb.alias("b")).select(sum(c).as("s"))
          df.count() // warm
          val t0 = System.nanoTime()
          df.count()
          println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        timeIt("composable (zip_with+aggregate)",
          graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")))
        timeIt("fused codegen (CosineSimilarity)",
          graft.functions.CosineSimilarity.cosine_fast(col("a.embedding"), col("b.embedding")))
      case "saltbench" :: rest =>
        // Skew-join stress: a deliberately hot key (50% of the probe
        // side) joined against a non-broadcastable dim, timed three
        // ways — unsalted (one straggler reducer owns half the
        // table), salted (32-way (key, salt) spread), and AQE's
        // skew-join split — at `mult` x the sf0.1 probe row count.
        // Numbers land in NOTES_r{N}; SaltingSpec pins the plan shape.
        import graft.pipeline.Salting
        import org.apache.spark.sql.functions._
        val mult = rest.headOption.map(_.toInt).getOrElse(30)
        val n = 600000L * mult
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = spark.range(n).select(
          when(pmod(col("id"), lit(2L)) === 0, lit(0L))
            .otherwise(pmod(xxhash64(col("id")), lit(100000L))).as("k"),
          col("id").as("v"))
        val build = spark.range(100000L).select(
          col("id").as("k"), concat(lit("dim"), col("id")).as("name"))
        def timed(label: String)(thunk: => Long): Unit = {
          val t0 = System.nanoTime()
          val rows = thunk
          println(f"[saltbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs  $label (rows=$rows, mult=$mult)")
        }
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        timed("unsalted shuffle join, AQE off")(probe.join(build, Seq("k")).count())
        timed("salted join (32 buckets), AQE off")(
          Salting.saltedJoin(probe, build, "k", buckets = 32, tiebreak = "v").count())
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        timed("unsalted join, AQE skew-split on")(probe.join(build, Seq("k")).count())
        timed("salted join, AQE on")(
          Salting.saltedJoin(probe, build, "k", buckets = 32, tiebreak = "v").count())
      case "salt" :: Nil =>
        // skew demo: hot key joined via salted (key, salt) equi-join
        import graft.pipeline.Salting
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val probe = ((1 to 9000).map(i => (1L, i)) ++
          (1 to 1000).map(i => (i.toLong + 1, i))).toDF("k", "v")
        val build = (1L to 1001L).map(k => (k, s"dim$k")).toDF("k", "name")
        val plain = probe.join(build, Seq("k"))
        val salted = Salting.saltedJoin(probe, build, "k", buckets = 8, tiebreak = "v")
        val equal = salted.except(plain).count() == 0 && plain.except(salted).count() == 0
        println(s"[salt] plain=${plain.count()} salted=${salted.count()} equal=$equal")
        probe.filter(col("k") === 1)
          .select(Salting.salt(col("v"), 8).as("salt_bucket"))
          .groupBy("salt_bucket").count().orderBy("salt_bucket").show()
      case "ingest" :: Nil =>
        // End-to-end pipeline slice with a fake transport: paginated
        // fetch -> JSON:API parse -> last-writer-wins upsert (the
        // reference's per-brand stage dataflow, etl.py:34-57).
        import graft.sources.PaginatedSource
        import graft.pipeline.{Parse, Upsert}
        import org.apache.spark.sql.functions._
        val fakeApi: Int => (Seq[String], Long) = page => {
          val recs = ((page - 1) * 3 until page * 3).map(i =>
            s"""{"data": [{"id": "$i", "attributes": {"name": "Retailer$i",
               |"website": "r$i.example"}}],
               |"meta": {"page": {"total_count": 8, "current_page": $page}}}""".stripMargin)
          (recs.take(math.max(0, math.min(3, 8 - (page - 1) * 3))), 8L)
        }
        val raw = PaginatedSource.fetchPages(spark, fakeApi, pageSize = 3,
          onPage = recs => println(s"[ingest] page committed: ${recs.size} records"))
        val parsed = Parse.parseRetailers(raw, "payload",
          lit(java.sql.Timestamp.valueOf("2024-06-01 12:00:00")))
        val existing = parsed.filter(col("id") < 4)
          .withColumn("name", concat(lit("OLD_"), col("name")))
        val merged = Upsert(existing, parsed, Seq("id"))
        println(s"[ingest] merged rows: ${merged.count()}")
        merged.orderBy("id").show(truncate = false)
      case "ext" :: dir :: Nil =>
        // cosine_sim resolves through the injected function registry
        Tables.embeddings(spark, dir).limit(10).createOrReplaceTempView("emb")
        spark.sql(
          """SELECT a.vec_id, b.vec_id AS other,
            |       round(cosine_sim(a.embedding, b.embedding), 4) AS cs
            |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
            |ORDER BY cs DESC LIMIT 5""".stripMargin).show(truncate = false)
      case "profminhash" :: dir :: Nil =>
        // stage-level timing of the minhash pipeline
        import org.apache.spark.sql.functions._
        import graft.functions.TextFunctions
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
            if (ms > 200)
              println(f"    [stage ${i.stageId}%3d] ${ms / 1e3}%5.2fs wall, " +
                f"${i.taskMetrics.executorRunTime / 1e3}%5.2fs cpu-sum, ${i.numTasks} tasks: ${i.name.take(60)}")
          }
        })
        def t(label: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = f
          println(f"${(System.nanoTime() - t0) / 1e9}%6.2fs  $label (n=$n)")
        }
        val docs = Tables.documents(spark, dir)
        t("scan docs")(docs.count())
        val shArr = docs.select(col("doc_id"),
          array_distinct(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)).as("sh_arr"))
        t("shingle arrays (no cache)")(shArr.count())
        val cached = shArr.cache()
        t("cache build")(cached.count())
        t("cache reread")(cached.count())
        import graft.operators.DedupQueries
        val sig = DedupQueries.minhashSig(cached, "doc_id")
        t("signatures (1x md5, 9 window mins)")(sig.count())
        val cand = DedupQueries.bandCandidates(
          DedupQueries.bandKeys(sig, "doc_id"), "doc_id")
        t("cand: plan only")({ cand.queryExecution.executedPlan; 0L })
        t("bands + candidate join")(cand.count())
        // the SAME production verify (a retune can't diverge this profiler)
        t("verify join")(DedupQueries.jaccardVerify(
          cand, cached.select(col("doc_id"), col("sh_arr")), 4, 5).count())
        cached.unpersist()
      case "stress" :: dir :: rest =>
        // Scale-stress driver: stack the fixture corpus N times (ids
        // offset so every copy is distinct) into a temp sf-dir, then
        // run the heavy dedup/ANN queries against it. Duplicated docs
        // make every original a 10-way near-dup clique, so candidate
        // volumes grow ~N^2 within cliques — a deliberate worst case
        // for the LSH/prefix pipelines.
        import org.apache.spark.sql.functions._
        // a non-numeric first arg is a query name, not a multiplier
        val times = rest.headOption.flatMap(_.toIntOption).getOrElse(10)
        val out = java.nio.file.Files.createTempDirectory("graft_stress").toString
        def stack(name: String, idCol: String): Unit = {
          val src = Tables.read(spark, dir, name)
          (0 until times).map(i => src.withColumn(idCol, col(idCol) + lit(i * 10000000L)))
            .reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$out/$name.parquet")
        }
        stack("documents", "doc_id")
        stack("embeddings", "vec_id")
        println(s"[stress] ${times}x corpus at $out")
        try {
          // extra args after the multiplier select specific queries;
          // default is the heavy dedup/ANN/curation set
          val qArgs = if (rest.headOption.exists(_.toIntOption.isDefined)) rest.drop(1) else rest
          val names = if (qArgs.nonEmpty) qArgs else
            Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_clusters", "q_dedup_ngram",
              "q_dedup_embedding", "q_dedup_edit", "q_dedup_keep", "q_cluster_stats",
              "q_dedup_incremental", "q_knn_ivf", "q_knn_recall", "q_fingerprint",
              "q_minhash_by_lang", "q_decontaminate", "q_bm25", "q_chunk",
              "q_sample_hash", "q_outlier", "q_quality_gate", "q_pack",
              "q_semdedup", "q_split", "q_quota", "q_ngram_novelty",
              "q_semdedup_incremental", "q_knn_sq", "q_dedup_media",
              "q_dedup_media_incremental",
              "q_dedup_containment", "q_boilerplate", "q_collocations",
              "q_heavy_hitters", "q_global_rank", "q_weighted_sample",
              "q_bloom_prune", "q_ks_drift", "q_mad_outlier",
              "q_vocab_growth", "q_overlap_matrix", "q_emb_stats",
              "q_dedup_recall", "q_curated_corpus", "q_emb_recall",
              "q_media_recall", "q_curated_incremental",
              "q_dup_spans", "q_quality_classifier", "q_dup_spans_incremental",
              "q_hybrid_rank", "q_dup_spans_clean", "q_target_select")
          names.foreach { name =>
              val t0 = System.nanoTime()
              val n = SparkEntry.queries(name)(spark, out).count()
              println(f"[stress] ${(System.nanoTime() - t0) / 1e9}%7.2fs  $name (rows=$n)")
            }
        } finally {
          // the stacked corpus is sizeable; never leave it in /tmp
          import scala.reflect.io.Directory
          new Directory(new java.io.File(out)).deleteRecursively()
          ()
        }
      case "mediaprof" :: dir :: Nil =>
        // stage timing of the media fuzzy-dedup pipeline
        import org.apache.spark.sql.functions._
        def t(label: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = f
          println(f"${(System.nanoTime() - t0) / 1e9}%6.2fs  $label (n=$n)")
        }
        val media = graft.multimodal.Multimodal.mediaTable(spark, dir)
        t("media table scan")(media.count())
        val g = media.select(col("media_id").as("doc_id"),
          array_distinct(graft.multimodal.Multimodal.byteGrams(col("payload"))).as("sh_arr"))
          .filter(size(col("sh_arr")) > 0)
        t("gram build (no cache)")(g.count())
        val gc = g.cache()
        t("gram cache build")(gc.count())
        t("gram cache reread")(gc.count())
        import graft.operators.DedupQueries
        val sig = DedupQueries.minhashSig(gc, "doc_id").cache()
        t("signatures")(sig.count())
        val cand = DedupQueries.bandCandidates(DedupQueries.bandKeys(sig, "doc_id"), "doc_id")
        t("band join")(cand.count())
        t("verify")(DedupQueries.jaccardVerify(cand, gc, 7, 10).count())
        t("full query (memoized)")(SparkEntry.queries("q_dedup_media")(spark, dir).count())
        t("full query again")(SparkEntry.queries("q_dedup_media")(spark, dir).count())
        gc.unpersist(); sig.unpersist()
      case "ivfprof" :: dir :: rest =>
        // Per-sublist profile of the subsplit IVF assignment at an
        // optionally stacked corpus ("ivfprof <dir> 100" = 100x): the
        // evidence that semDedup's in-list all-pairs stays bounded as
        // the corpus grows (sublist sizes pinned near SEM_CAP).
        import org.apache.spark.sql.functions._
        val times = rest.headOption.flatMap(_.toIntOption).getOrElse(1)
        val (prof, cleanup) = if (times <= 1)
          (graft.operators.SimilarityQueries.ivfProfile(spark, dir), () => ())
        else {
          val out = java.nio.file.Files.createTempDirectory("graft_ivfprof").toString
          val src = Tables.read(spark, dir, "embeddings")
          (0 until times).map(i => src.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
            .reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
          (graft.operators.SimilarityQueries.ivfProfile(spark, out), () => {
            import scala.reflect.io.Directory
            new Directory(new java.io.File(out)).deleteRecursively(); ()
          })
        }
        try {
          prof.agg(
            count(lit(1)).as("n_sublists"),
            sum(col("n_members")).as("n_vectors"),
            max(col("n_members")).as("max_sublist"),
            max(col("n_members") * (col("n_members") - 1) / 2).as("max_pairs_per_sublist"),
            sum(col("n_members") * (col("n_members") - 1) / 2).as("total_pairs"))
            .show(truncate = false)
        } finally cleanup()
      case "explainAll" :: dir :: Nil =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          println(s"\n========== $name ==========")
          fn(spark, dir).explain("formatted")
        }
      // Final (post-AQE) plans: execute the query once, then explain —
      // AdaptiveSparkPlan re-explains as isFinalPlan=true with the
      // runtime join strategy / coalesced exchanges, which is what the
      // static explainAll output cannot show.
      case "explainExec" :: dir :: names =>
        val sel = if (names.nonEmpty) names
          else SparkEntry.queries.keys.toList.sorted
        sel.foreach { name =>
          val df = SparkEntry.queries(name)(spark, dir)
          df.count()
          println(s"\n========== $name ==========")
          df.explain("formatted")
        }
      case "spanscale" :: dir :: rest =>
        // Scale experiment for the span-granularity drain
        // (q_stream_dup_spans): this was the round-13 experiment that
        // isolated the memory sink's driver-side O(output) term from
        // the pipeline's own scaling (alpha 1.14 memory-sink vs 0.83
        // here), which motivated flipping the large-output gate
        // drains to the parquet sink (StreamQueries.drain
        // parquetSink). Kept as the standalone production-shape
        // driver: file source -> repartition -> keyed span state ->
        // per-position emissions -> foreachBatch parquet, fully
        // distributed, nothing collected.
        import graft.streaming.StreamingOps
        val runs = rest.headOption.map(_.toInt).getOrElse(2)
        val out = java.nio.file.Files.createTempDirectory("spanscale").toString
        val provider = sys.props.get("graft.state.provider")
          .orElse(sys.env.get("GRAFT_STATE_PROVIDER")).getOrElse("default")
        for (i <- 1 to runs) {
          val s = spark.newSession()
          s.conf.set("spark.sql.shuffle.partitions", "32")
          // same corpus-scale state dial as StreamQueries.drainSession
          if (provider == "rocksdb")
            s.conf.set("spark.sql.streaming.stateStore.providerClass",
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          val t0 = System.nanoTime()
          val q = StreamingOps.dupSpansStream(s, StreamingOps.docStream(s, dir)).toDF()
            .writeStream.outputMode("update")
            // append, not overwrite: Trigger.AvailableNow may split
            // the input into several micro-batches, and an overwrite
            // per batch would leave only the LAST batch's rows in the
            // reported count — under-reporting the pipeline's output
            // (r13 ADVICE). Append accumulates every batch's
            // emissions, the memory-sink-equivalent semantics.
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.write.mode("append").parquet(s"$out/run$i"); ()
            }
            .option("checkpointLocation", s"$out/ckpt$i")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          if (!q.awaitTermination(600000)) { q.stop(); sys.error("spanscale timed out") }
          val secs = (System.nanoTime() - t0) / 1e9
          val rows = spark.read.parquet(s"$out/run$i").count()
          println(f"[spanscale] run$i: $secs%.2f s, $rows rows " +
            s"(distributed parquet sink, state provider $provider)")
        }
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        return
      case "resumebench" :: dir :: Nil =>
        // Cost of the driver-crash resume dial: pagerankConverged
        // with and without a resume dir (per-round vector commit =
        // one parquet write of O(nodes) rows + a rename). Steady =
        // second run in the same JVM.
        import graft.operators.GraphQueries
        val eps = 6000000000L
        for (label <- Seq("cold", "steady")) {
          val t0 = System.nanoTime()
          val (r0, i0) = GraphQueries.pagerankConverged(spark, dir, eps)
          r0.count()
          val base = (System.nanoTime() - t0) / 1e9
          val rd = java.nio.file.Files.createTempDirectory("resumebench").toString
          val t1 = System.nanoTime()
          val (r1, i1) = GraphQueries.pagerankConverged(spark, dir, eps,
            resumeDir = Some(rd))
          r1.count()
          val committed = (System.nanoTime() - t1) / 1e9
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rd))
          println(f"[resumebench] $label%6s: plain $base%6.2f s ($i0 rounds)  " +
            f"with per-round commit $committed%6.2f s ($i1 rounds)")
        }
        return
      case "stream" :: op :: dir :: Nil =>
        import graft.streaming.StreamingOps
        val events = StreamingOps.eventStream(spark, dir)
        if (op == "upsertsink") {
          // drive the foreachBatch merge sink end-to-end and prove the
          // staging snapshots are cleaned up
          val sinkDir = java.nio.file.Files.createTempDirectory("dev_sink").toString
          val target = sinkDir + "/t"
          val q = StreamingOps.foreachBatchUpsert(
            events.select("user_id", "event_type", "ts"),
            Seq("user_id", "event_type"), target)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", sinkDir + "/ckpt")
            .start()
          val finished = q.awaitTermination(120000)
          if (!finished) { q.stop(); sys.error("upsertsink did not finish in 120s") }
          val merged = spark.read.parquet(target)
          val leftovers = new java.io.File(sinkDir).listFiles()
            .map(_.getName).filter(_.startsWith("t_batch"))
          println(s"[upsertsink] merged rows: ${merged.count()}, leftover staging dirs: ${leftovers.length}")
          return
        }
        val df = op match {
          case "windows"  => StreamingOps.windowedCounts(events)
          case "sliding"  => StreamingOps.slidingCounts(events)
          case "attrib"   => StreamingOps.clickAttribution(events)
          case "sessions" => StreamingOps.sessionCounts(events)
          case "dedup"    => StreamingOps.dedupWithinWatermark(events)
          case "totals"   => StreamingOps.userRunningTotals(spark, events).toDF()
          case "neardup"  =>
            StreamingOps.dedupNearStream(spark, StreamingOps.docStream(spark, dir)).toDF()
        }
        val mode = op match {
          case "dedup" | "attrib" => "append"
          case "totals" | "neardup" => "update"
          case _                  => "complete"
        }
        val q = df.writeStream.outputMode(mode).format("memory").queryName("dev_stream").start()
        q.processAllAvailable()
        q.stop()
        val out = spark.table("dev_stream")
        println(s"rows: ${out.count()}")
        out.show(10, truncate = false)
      case "funnelstress" :: rest =>
        // Power-user skew stress for the funnel (r7 verdict item 2):
        // ONE user with `powerEvents` events (default 1M) among
        // `normalUsers` ordinary 3-event users. Runs the shipped
        // join-shaped chain and the pre-r8 collect_list shape
        // head-to-head, reporting wall time and the max per-task peak
        // execution memory — the number that OOMs a real executor when
        // a bot user's whole history lands in one aggregation buffer.
        import org.apache.spark.sql.functions._
        val powerEvents = rest.headOption.flatMap(_.toLongOption).getOrElse(1000000L)
        val normalUsers = rest.drop(1).headOption.flatMap(_.toLongOption).getOrElse(300000L)
        val power = spark.range(powerEvents).select(
          lit(0L).as("user_id"),
          expr("timestamp_seconds(1700000000 + id % 864000)").as("ts"),
          expr("element_at(array('view','click','purchase'), cast(id % 3 as int) + 1)")
            .as("event_type"))
        val normal = spark.range(1, normalUsers + 1)
          .select(col("id").as("user_id"),
            explode(expr("array(0, 1, 2)")).as("k"))
          .select(col("user_id"),
            expr("timestamp_seconds(1700000000 + user_id % 86400 + k * 600)").as("ts"),
            expr("element_at(array('view','click','purchase'), cast(k as int) + 1)")
              .as("event_type"))
        val ev = power.unionByName(normal)
        @volatile var peak = 0L
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null && m.peakExecutionMemory > peak) peak = m.peakExecutionMemory
          }
        }
        def arm(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
          peak = 0L
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          val n = df.count()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(1000) // let the async listener bus drain
          spark.sparkContext.removeSparkListener(listener)
          println(f"[funnelstress] $label%-12s ${dt}%7.2fs rows=$n peakTaskMem=${peak / 1048576.0}%8.1f MiB")
        }
        println(s"[funnelstress] 1 power user x $powerEvents events + $normalUsers x 3")
        arm("join-chain") { graft.operators.EventQueries.funnelOf(ev) }
        arm("collect_list") {
          ev.groupBy(col("user_id"))
            .agg(collect_list(struct(col("ts"), col("event_type").as("et"))).as("evs"))
            .withColumn("t1",
              expr("array_min(transform(filter(evs, e -> e.et = 'view'), e -> e.ts))"))
            .filter(col("t1").isNotNull)
            .withColumn("t2",
              expr("array_min(transform(filter(evs, e -> e.et = 'click' AND e.ts > t1), e -> e.ts))"))
            .withColumn("t3",
              expr("array_min(transform(filter(evs, e -> e.et = 'purchase' AND e.ts > t2), e -> e.ts))"))
            .select(col("user_id"), col("t1"), col("t2"), col("t3"))
        }
      case "sweepstress" :: rest =>
        // ONE hot (type, day) with N events — the skew case the
        // two-phase hour-bucketed sweep exists for: the naive day-wide
        // window funnels all 2N edges through one task's sort, the
        // two-phase form bounds tasks at hour granularity. Both
        // compute identical results (AnalyticsSpec differential).
        import org.apache.spark.sql.functions._
        val n = rest.headOption.flatMap(_.toLongOption).getOrElse(2000000L)
        val ev = spark.range(n).select(
          lit("hot").as("event_type"),
          expr("timestamp_seconds(1704067200 + (id * 2654435761) % 86400)").as("ts"))
        @volatile var peak = 0L
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null && m.peakExecutionMemory > peak) peak = m.peakExecutionMemory
          }
        }
        def armS(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
          peak = 0L
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          val rows = df.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(1000)
          spark.sparkContext.removeSparkListener(listener)
          val p = rows.head
          println(f"[sweepstress] $label%-10s ${dt}%7.2fs peak=${p.getAs[Long]("peak")} " +
            f"peakTaskMem=${peak / 1048576.0}%8.1f MiB")
        }
        println(s"[sweepstress] one hot (type, day), $n events")
        armS("two-phase") { graft.operators.EventQueries.concurrencyOf(ev) }
        armS("one-window") {
          import org.apache.spark.sql.expressions.Window
          val edges = ev
            .select(col("event_type"),
              expr("unix_timestamp(ts) DIV 86400").as("day"),
              expr("unix_timestamp(ts)").as("t0"))
            .select(col("event_type"), col("day"),
              explode(array(
                struct(col("t0").as("t"), lit(1).as("delta")),
                struct((col("t0") + 1800L).as("t"), lit(-1).as("delta")))).as("e"))
            .select(col("event_type"), col("day"), col("e.t"), col("e.delta"))
          val w = Window.partitionBy(col("event_type"), col("day"))
            .orderBy(col("t"), col("delta"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          edges.withColumn("open", sum(col("delta")).over(w))
            .groupBy(col("event_type"), col("day"))
            .agg(max(col("open")).as("peak"), expr("count(1) DIV 2").as("n_events"))
        }
      case "examples" :: dir :: Nil =>
        // End-to-end library tour, one example per operator family —
        // the public API a new user calls, not the oracle harness.
        import org.apache.spark.sql.functions._
        import spark.implicits._
        println("== as-of join: each purchase -> the user's latest click at-or-before it ==")
        val purchases = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 9.99))
          .toDF("user_id", "ts", "amount")
        val clicks = Seq(
          (1L, java.sql.Timestamp.valueOf("2024-01-01 09:40:00"), 101L),
          (1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 102L))
          .toDF("user_id", "click_ts", "click_id")
        graft.operators.AsOfJoin(purchases, clicks, key = "user_id",
          leftTime = "ts", rightTime = "click_ts", payload = Seq("click_id"),
          tiebreak = Some("click_id")).show(truncate = false)
        println("== dedup: exact content groups + MinHash-LSH near-dup pairs (fixture corpus) ==")
        graft.operators.DedupQueries.dedupExact(spark, dir).show(5, truncate = false)
        graft.operators.DedupQueries.dedupMinhash(spark, dir).show(5, truncate = false)
        println("== curation: the composite quality gate with per-stage audit reasons ==")
        graft.operators.CurationQueries.qualityGate(spark, dir).show(5, truncate = false)
        println("== similarity: brute-force cosine top-k over the embeddings table ==")
        graft.operators.SimilarityQueries.knnBrute(spark, dir).show(5, truncate = false)
        println("== streaming: exact dedup at ingest (file stream -> keyed state -> sink) ==")
        val deduped = graft.streaming.StreamingOps.dedupExactStream(spark,
          graft.streaming.StreamingOps.docStream(spark, dir)).toDF()
        val q = deduped.writeStream.outputMode("update").format("memory")
          .queryName("examples_dedup").start()
        q.processAllAvailable(); q.stop()
        spark.table("examples_dedup").show(5, truncate = false)
        println("== stream-stream join: views matched to clicks within 30 min, both sides streaming ==")
        graft.streaming.StreamQueries.queries("q_stream_join")(spark, dir)
          .show(5, truncate = false)
        println("== analytics: event-rate spikes vs trailing-24h mean; unigram-surprisal quality ==")
        graft.operators.EventQueries.spikes(spark, dir)
          .filter(col("is_spike")).show(5, truncate = false)
        graft.operators.TextAnalysisQueries.surprisal(spark, dir).show(5, truncate = false)
        println("== training prep: contrastive (anchor, positive, negative) triplets ==")
        graft.operators.DedupQueries.triplets(spark, dir).show(5, truncate = false)
        println("[examples] done — asof, dedup, curation, similarity, streaming, " +
          "stream-join, analytics, triplets")
      case other =>
        System.err.println(s"unknown args: $other")
        sys.exit(2)
    } finally spark.stop()
  }
}
