package graft

object Bench {
  /** One query's measurements: cold, steady (min of the samples) and
    * the anomaly guard's extra samples. `err` is the cold or steady
    * error that voids the steady figure. */
  final case class Result(name: String, cold: Double, coldErr: Option[String],
                          steady: Double, err: Option[String], anomalous: Boolean,
                          extra: Int, extraErrs: Seq[String])

  /** The queries SPARK_GRAFT_ONLY (`only`, a comma-separated name list)
    * selects; `None` selects every query. A value that names no query
    * (empty or blank) or names a query that does not exist is an error,
    * never an empty or silently shrunken run. */
  def select[A](all: Map[String, A], only: Option[String]): Either[String, Map[String, A]] =
    only.fold[Either[String, Map[String, A]]](Right(all)) { spec =>
      val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(all.contains)
      if (names.isEmpty) Left(s"SPARK_GRAFT_ONLY='$spec' names no query")
      else if (unknown.nonEmpty)
        Left(s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
      else Right(all.filter { case (k, _) => names(k) })
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run to a named subset —
    // used by the sf1 scaling certification to iterate on the
    // expensive families without paying the full sweep. Checked before
    // the session starts: a typo must not bench zero queries with rc 0.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = select(SparkEntry.queries, only) match {
      case Right(qs) => qs
      case Left(msg) => System.err.println(s"[bench] $msg"); sys.exit(2)
    }
    // Default to every core (the driver contract is local[32] on a
    // 32-cpu box); SPARK_GRAFT_CPUS overrides for local experiments.
    val cpus = SessionEnv.cpus
    // SPARK_GRAFT_MASTER dials the same bench onto a multi-JVM
    // local-cluster master (real exchange serialization, executor-side
    // broadcast hydration) — a perf PROFILE, not the committed-baseline
    // configuration, which stays local[32] per the driver contract.
    val spark = SessionEnv.builder(cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SessionEnv.warmup(spark, sfDir)
    // Per-query timing plus explicit failure tracking: a query that
    // throws is recorded with its error and counted in "failed", so a
    // broken query can never masquerade as a fast one in the JSON line.
    // Sorted by name: Map iteration order reshuffles whenever a query
    // is added, which moves first-touch costs (shared materializations,
    // table first-scan) onto different queries and makes per-query
    // numbers incomparable across rounds (r4's gate flagged an
    // untouched query for exactly this). A fixed order keeps every
    // round's cost attribution stable.
    // Each query runs THREE times: the first (cold) execution carries
    // whatever one-time cost lands on it — table first-scan, shared
    // materializations the dedup/text families reuse — and the
    // recorded steady number is the MIN of two further executions.
    // Keeping both stops shared-build attribution (one consumer pays
    // ~3s the whole family amortizes) from masquerading as a per-query
    // regression across rounds: the gate compares steady, the cold
    // total stays comparable with pre-r5 artifacts. Min-of-2 (round
    // 5's lesson): a single steady execution on a loaded box recorded
    // q_dedup_ngram at 8.74s steady vs 0.90s idle — steady > cold is
    // physically impossible for a memoized-build query, so one noisy
    // sample must never BE the committed artifact; the min of two
    // samples is the plan-cost estimator (box noise only ever adds).
    // /proc/stat cpu jiffies: (steal, total). The delta across the run
    // measures how much CPU the HYPERVISOR withheld — the direct
    // signature of the noisy-neighbor windows this round measured
    // (identical binaries: 67-221s cold across ten runs). loadavg only
    // shows what THIS box scheduled; steal_pct shows what it was
    // denied, so a skewed run is self-identifying in the artifact.
    def cpuJiffies(): Option[(Long, Long)] = try {
      val cols = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (cols.length > 7) cols(7) else 0L, cols.sum))
    } catch { case _: Throwable => None }
    val jiffies0 = cpuJiffies()
    // SPARK_GRAFT_STEADY_RUNS sets the per-query steady sample count
    // (min-of-N). Default raised 2 -> 3 in round 7: every round-7
    // window was contended (five full runs, min composite still +29%
    // on CPU-dense kernels vs round 6's quiet window) and one extra
    // sample per query costs ~40 s wall while cutting single-burst
    // contamination of the committed artifact roughly in half (a
    // burst must now hit all three samples to survive the min).
    val steadyRuns = sys.env.getOrElse("SPARK_GRAFT_STEADY_RUNS", "3").toInt.max(1)
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val (cold, coldErr) = once()
      val (steady0, steadyErr) = if (coldErr.isDefined) (cold, coldErr) else {
        val samples = Iterator.continually(once()).take(steadyRuns).toSeq
        samples.collectFirst { case (s, Some(e)) => (s, Some(e)) }
          .getOrElse((samples.map(_._1).min, None))
      }
      // ANOMALY GUARD (r20): steady > cold is physically impossible
      // for these queries — the cold execution does strictly more work
      // (codegen compile, JIT, shared-build fills) over the same plan —
      // so a min-of-N steady above its own cold means every steady
      // sample was contaminated by a box-noise burst (r19's artifact
      // recorded q_dedup_ngram 12.69 s steady vs 3.88 s cold; min-of-3
      // cannot shed a burst that covers all three samples). While the
      // gate below holds, take up to two EXTRA steady samples (a
      // successful one joins the min); if it still holds after them the
      // query is stamped into the artifact's "steady_gt_cold" list so a
      // contaminated run self-identifies. The artifact also records how
      // many extra samples each query took ("extra_samples") and the
      // errors of any that failed ("extra_errors"): an extra sample
      // that throws leaves the earlier steady min standing, but its
      // error is never dropped. Quiet runs take zero extra samples.
      // The gate is additive: a steady counts as above its cold only
      // when it exceeds 1.10 x cold + 50 ms. The 50 ms term keeps
      // scheduler jitter on the sub-second catalog tail (a 0.16 s
      // steady over a 0.15 s cold) out of the list; the 10 % term
      // scales with the query. The r19 blowup class (12.69 vs 3.88)
      // clears the gate by a factor of three.
      def gtCold(s: Double): Boolean = s > cold * 1.10 + 0.05
      var steady = steady0
      val extraErrs = scala.collection.mutable.ArrayBuffer[String]()
      var extra = 0
      while (steadyErr.isEmpty && coldErr.isEmpty && gtCold(steady) && extra < 2) {
        val (s, e) = once()
        e.fold { steady = math.min(steady, s) }(extraErrs += _)
        extra += 1
      }
      val anomalous = steadyErr.isEmpty && coldErr.isEmpty && gtCold(steady)
      Result(name, cold, coldErr, steady, coldErr.orElse(steadyErr), anomalous, extra, extraErrs.toSeq)
    }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def jobj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    // cold entries null only on a COLD failure: a steady-only failure
    // must not discard the valid cold measurement (the cold total
    // includes it, so nulling it would make map and total inconsistent)
    val qs = jobj(results.map(r => r.name -> r.coldErr.fold(r.cold.toString)(_ => "null")))
    val st = jobj(results.map(r => r.name -> r.err.fold(r.steady.toString)(_ => "null")))
    val errs = jobj(results.flatMap(r => r.err.map(e => r.name -> jstr(e.take(200)))))
    val anomalies = results.filter(_.anomalous).map(r => jstr(r.name)).mkString("[", ",", "]")
    val extraSamples = jobj(results.map(r => r.name -> r.extra.toString))
    val extraErrors = jobj(results.collect { case r if r.extraErrs.nonEmpty =>
      r.name -> r.extraErrs.map(e => jstr(e.take(200))).mkString("[", ",", "]") })
    val failed = results.count(_.err.isDefined)
    // totals cover SUCCESSFUL measurements only, matching the maps
    // (a failed attempt's elapsed time is time-to-failure garbage)
    val total = results.filter(_.coldErr.isEmpty).map(_.cold).sum
    val steadyTotal = results.filter(_.err.isEmpty).map(_.steady).sum
    // stamp the box's 1/5/15-min load averages so a load-skewed run is
    // self-identifying in the committed artifact (round 5's official
    // steady numbers carried ~11s of box noise nobody could see)
    val loadavg = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+").take(3).mkString(" ")
    } catch { case _: Throwable => "unavailable" }
    val stealPct = (jiffies0, cpuJiffies()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        f"${100.0 * (s1 - s0) / (t1 - t0)}%.2f"
      case _ => "-1"
    }
    // the master is stamped into the artifact so a multi-JVM profile
    // run can never masquerade as a contract local[32] sample
    val masterStr = SessionEnv.master(cpus)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"steady":$st,"steady_total":$steadyTotal,"steady_runs":$steadyRuns,"steady_gt_cold":$anomalies,"extra_samples":$extraSamples,"extra_errors":$extraErrors,"loadavg":${jstr(loadavg)},"steal_pct":$stealPct,"failed":$failed,"errors":$errs,"master":${jstr(masterStr)},"sf":"$sfDir"}"""
    println(line)
    // Also persist the line to a file: round 4's official artifact was
    // a truncated stdout tail and the regression gate had nothing to
    // parse. A file can't be lost to tail-capture truncation.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    // ...and APPEND to a committed history file: target/bench.json is
    // last-run-wins (round 6 lost the round-5 baseline to exactly that
    // — a dev run overwrote it before the gate compared), so every run
    // also lands in an append-only log that overwrites can't destroy.
    // SPARK_GRAFT_HIST redirects the append-only log: off-sf runs
    // (sf1 scaling certification) and subset runs must not land in the
    // committed sf0.1 history the regression gate min-composites over.
    // ... and subset or non-default-master runs (multi-JVM profiles)
    // must not land in the committed sf0.1 local[32] history the
    // regression gate min-composites over.
    // ANY off-contract master diverts — not just local-cluster: a
    // local[8] dev run (via SPARK_GRAFT_MASTER or SPARK_GRAFT_CPUS)
    // must not land in the committed history the regression gate
    // min-composites over. Contract shape = in-process local at full
    // box width, with no master override in the environment.
    val contractMaster = sys.env.get("SPARK_GRAFT_MASTER").isEmpty &&
      masterStr == s"local[${Runtime.getRuntime.availableProcessors}]"
    val hist = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_HIST",
      if (only.isDefined) "target/bench_subset.jsonl"
      else if (masterStr.startsWith("local-cluster")) "target/bench_cluster.jsonl"
      else if (!contractMaster) "target/bench_offmaster.jsonl"
      else "bench_history.jsonl"))
    java.nio.file.Files.write(hist, (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
    // A failing query must fail the PROCESS, not just a JSON field:
    // automation gating on the exit code (round 6's BENCH artifact
    // recorded rc:0 around 11 broken queries) would otherwise pass a
    // broken build. The artifacts above are written first, so the
    // failure diagnosis is never lost to the early exit.
    if (failed > 0) sys.exit(1)
  }
}
