package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, SessionEnv, Tables}
import graft.functions.{TextFunctions, VectorFunctions}

/** One benchmark run in one JVM: build the session, warm up, run the
  * workload's queries in a closed loop (one client, one driver thread)
  * for a cold pass plus warm passes until the time budget is spent,
  * then execute every query once more into parquet for the oracle
  * check. Everything it measures is written to `<out>/result.json`;
  * run.py turns that into metrics.
  *
  * Args: mode workload seed seconds trace(0|1) dataDir outDir spawnEpochMs.
  * Mode `run` is the benchmark run; mode `order` only prints the query
  * order of the first passes, one line each, without starting Spark.
  */
object Harness {
  type Builder = (SparkSession, String) => DataFrame

  /** Workloads are module lists, so a query added to a module joins its
    * workload without touching the benchmark.
    */
  val workloads: Map[String, Seq[QueryModule]] = Map(
    "etl_report" -> Seq(graft.operators.RelationalQueries,
      graft.operators.PipelineQueries, graft.operators.OperatorCatalog,
      graft.operators.AsOfQueries),
    "corpus_curation" -> Seq(graft.operators.DedupQueries,
      graft.operators.SimilarityQueries, graft.operators.TextAnalysisQueries,
      graft.multimodal.MultimodalQueries),
    "stream_drain" -> Seq(graft.streaming.StreamQueries),
    "graph_fixpoint" -> Seq(graft.operators.GraphQueries))

  /** The order of pass `pass`: a permutation drawn from the seed, so a
    * result can be re-checked on an order nobody tuned for.
    */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names.sorted)

  final case class Sample(name: String, wall: Double, build: Double,
                          action: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, seedS, secondsS, traceS, dataDir, outDir, spawnMsS) = args
    if (!Set("run", "order")(mode)) {
      System.err.println(s"unknown mode '$mode'"); sys.exit(2)
    }
    val modules = workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'"); sys.exit(2)
    })
    val queries: Map[String, Builder] = modules.flatMap(_.queries).toMap
    val oracles: Map[String, String] = modules.flatMap(_.oracles).toMap
    if (queries.isEmpty) {
      System.err.println(s"workload '$workload' resolves to zero queries"); sys.exit(2)
    }
    val seed = seedS.toLong
    if (mode == "order") {
      (0 until 3).foreach(p => println(order(queries.keys.toSeq, seed, p).mkString(" ")))
      return
    }
    val budgetNs = (secondsS.toDouble * 1e9).toLong
    val traced = traceS == "1"
    val spawnMs = spawnMsS.toLong
    Files.createDirectories(Paths.get(outDir))

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val t0 = System.nanoTime()
    // The session settings of graft.Bench / graft.Verify; the listener
    // class is a static conf so sessions made by newSession() (the
    // streaming drains) load it too.
    val b = SessionEnv.builder(cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
    if (traced) {
      b.config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
      CompileTime.install()
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    val kernels = warmup(spark, dataDir)
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - spawnMs) / 1e3

    val names = queries.keys.toSeq.sorted
    val listener = new EventListener
    // Tracing is switched only while the listener bus is empty, so every
    // event of a traced pass is recorded and none of an untraced one.
    def tracing(on: Boolean): Unit = if (traced) {
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      if (on != Trace.recording) {
        if (on) spark.sparkContext.addSparkListener(listener)
        else spark.sparkContext.removeSparkListener(listener)
        Trace.recording = on
      }
    }
    def exec(name: String, passId: Long): (Sample, Option[DataFrame]) = {
      val qs = System.nanoTime()
      var bs, be = qs
      var df: DataFrame = null
      val err = try {
        df = queries(name)(spark, dataDir)
        bs = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        be = System.nanoTime()
        None
      } catch {
        case e: Throwable =>
          be = System.nanoTime(); if (bs == qs) bs = be
          Some(message(e))
      }
      if (Trace.recording) {
        val q = Trace.span(passId, "query", name, qs, be)
        Trace.span(q, "build", name, qs, bs)
        Trace.span(q, "action", name, bs, be)
      }
      (Sample(name, (be - qs) / 1e9, (bs - qs) / 1e9, (be - bs) / 1e9, err),
        if (err.isEmpty) Some(df) else None)
    }

    // Pass 0 is cold. Warm passes follow while the next one, taken to
    // last as long as the one before, ends within the budget counted
    // from the start of pass 0; there is at least one. A traced run
    // alternates traced (even) and untraced (odd) passes and ends on an
    // untraced one, so untraced passes bracket the traced warm ones and
    // the tracing overhead, measured in one JVM, is not a warming trend.
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    var last: Seq[(String, DataFrame)] = Nil
    phase(outDir, "passes")
    val passCpus = cpusAllowed()
    val start = System.nanoTime()
    var lastPassNs = 0L
    var p = 0
    while (p < (if (traced) 4 else 2) ||
           System.nanoTime() - start + lastPassNs <= budgetNs ||
           (traced && p % 2 == 1)) {
      val on = traced && p % 2 == 0
      tracing(on)
      val ord = order(names, seed, p)
      val passId = if (on) Trace.newId() else 0L
      if (on) Trace.beginPass()
      val ps = System.nanoTime()
      val done = ord.map(n => exec(n, passId))
      val pe = System.nanoTime()
      if (on) {
        Trace.endPass(p, spark)
        Trace.spanWithId(passId, 0L, "pass", s"pass$p", ps, pe)
      }
      lastPassNs = pe - ps
      passes += Pass(p, on, (pe - ps) / 1e9, ord, done.map(_._1))
      last = done.flatMap { case (s, df) => df.map(s.name -> _) }
      p += 1
    }
    tracing(false)
    phase(outDir, "verify")

    // The full results of the last pass, written for the DuckDB oracle
    // compare in the layout scripts/check.py reads. Writing the frames
    // the builders returned re-runs only their actions, not the builds
    // (a drain or a fixpoint loop runs once per pass, not twice). The
    // writes are not measured, so they run side by side, two per core of
    // the box (run.py passes that count; the JVM is told of fewer): a
    // write waits on job scheduling and file commits as much as it computes.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.props.get("perfbench.verifyThreads").fold(cpus.toInt)(_.toInt))
    val verify = try {
      last.sortBy(_._1).map { case (name, df) =>
        pool.submit(new java.util.concurrent.Callable[Sample] {
          def call(): Sample = {
            val s = System.nanoTime()
            val err = try {
              df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$name"); None
            } catch { case e: Throwable => Some(message(e)) }
            val w = (System.nanoTime() - s) / 1e9
            Sample(name, w, 0.0, w, err)
          }
        })
      }.map(_.get())
    } finally pool.shutdown()
    val t3 = System.nanoTime()
    val peakRssMb = peakRss()

    val json = new StringBuilder
    def kv(k: String, v: String): Unit = json.append(Json.str(k)).append(':').append(v).append(',')
    json.append('{')
    kv("workload", Json.str(workload))
    kv("cores", cpus)
    kv("setup_s", Json.num(setupS))
    kv("session_s", Json.num((t1 - t0) / 1e9))
    kv("warmup_s", Json.num((t2 - t1) / 1e9))
    kv("kernels", Json.obj(kernels.map { case (k, v) => k -> Json.num(v) }))
    kv("peak_rss_mb", Json.num(peakRssMb))
    kv("pass_cpus", Json.str(passCpus))
    kv("passes", Json.arr(passes.toSeq.map { x =>
      Json.obj(Seq("traced" -> x.traced.toString, "wall_s" -> Json.num(x.wall),
        "order" -> Json.arr(x.order.map(Json.str)), "samples" -> Json.arr(x.samples.map(sampleJson))))
    }))
    kv("verify", Json.arr(verify.map(sampleJson)))
    kv("oracles", Json.obj(names.flatMap(n => oracles.get(n).map(n -> Json.str(_)))))
    if (traced) {
      Trace.finish(t0, t3)
      val tp = passes.toSeq.filter(_.traced).map(x => x.index -> x.wall)
      kv("layers", Json.obj(Trace.layers(tp, cpus.toInt).toSeq
        .sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
      Trace.writeSpans(s"$outDir/spans.jsonl")
    }
    json.setLength(json.length - 1)
    json.append('}')
    Files.write(Paths.get(s"$outDir/result.json"), json.toString.getBytes(UTF_8))
    spark.stop()
  }

  final case class Pass(index: Int, traced: Boolean, wall: Double, order: Seq[String],
                        samples: Seq[Sample])

  /** Tells run.py that the run enters `name` and waits until run.py has
    * acknowledged it: run.py moves the JVM's threads onto the measured
    * processors for the passes and back onto all of them for the
    * verify writes.
    */
  private def phase(outDir: String, name: String): Unit = {
    Files.write(Paths.get(outDir, s"phase-$name"), Array.emptyByteArray)
    val ack = Paths.get(outDir, s"phase-$name.ack")
    val deadline = System.nanoTime() + 30000000000L
    while (!Files.exists(ack)) {
      if (System.nanoTime() > deadline) {
        System.err.println(s"run.py did not acknowledge phase $name"); sys.exit(3)
      }
      Thread.sleep(2)
    }
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  private def sampleJson(s: Sample): String = Json.obj(Seq(
    "name" -> Json.str(s.name), "wall_s" -> Json.num(s.wall),
    "build_s" -> Json.num(s.build), "action_s" -> Json.num(s.action),
    "error" -> s.error.fold("null")(Json.str)))

  /** The warmup, part of setup_s and of no pass: session bootstrap,
    * codegen and the JIT of the text/vector kernels, so their first-use
    * cost does not land on whichever query a seed puts first. The kernel expressions
    * run over the full documents and embeddings tables through the noop
    * sink (count() would let the optimizer prune them away); their
    * times are the functions.* layer metrics.
    */
  private def warmup(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    def timed(f: => Unit): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9 }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    noop(Tables.supplier(spark, dir).groupBy("s_nationkey").count())
    val docs = Tables.documents(spark, dir)
    val minhash = () => noop(docs.select(col("doc_id"),
      TextFunctions.minhashOrder(TextFunctions.md5All(array_distinct(
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3))), 0).as("m"),
      md5(array_join(TextFunctions.md5All(TextFunctions.tokens(col("text"))), "")).as("d")))
    val qv = Tables.embeddings(spark, dir)
      .select(VectorFunctions.quantized(col("embedding")).as("qv"))
    val qdot = () => noop(qv.select(VectorFunctions.qdot(col("qv"), col("qv")).as("d")))
    minhash(); qdot()
    Seq("shingle_minhash_s" -> timed(minhash()), "qdot_s" -> timed(qdot()))
  }

  /** The processors this thread may run on (Cpus_allowed_list). */
  private def cpusAllowed(): String = try {
    val status = new String(Files.readAllBytes(Paths.get("/proc/thread-self/status")), UTF_8)
    status.linesIterator.find(_.startsWith("Cpus_allowed_list:"))
      .map(_.split("\\s+")(1)).getOrElse("?")
  } catch { case _: Throwable => "?" }

  private def peakRss(): Double = try {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  } catch { case _: Throwable => -1.0 }
}

/** Minimal JSON writing; values are numbers, strings, arrays, objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
