package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicates an existing fixture
  * directory (TESTDATA.md star schema) by an integer factor into a
  * scratch directory, preserving the statistical shape each operator
  * family is sensitive to. Used for the sf1 scaling certification
  * (NOTES_r9): all committed perf evidence otherwise stops at sf0.1,
  * and "would this survive 10× the data" should be measured, not
  * argued.
  *
  * Replication is COPY-STRIDED: every copy `c` of a row gets its keys
  * offset by `c * stride(table)` where the stride is `max(key)+1` of
  * the source, so
  *  - PK uniqueness and FK integrity hold per copy by construction
  *    (orders→customer, lineitem→{orders,part,supplier} all offset by
  *    the same strides);
  *  - dimension tables (region/nation) stay fixed, like a real
  *    scale-up;
  *  - per-key cardinalities (orders per customer, events per user)
  *    are preserved exactly — the generator scales the NUMBER of
  *    entities, not the skew profile, which is what a bigger tenant
  *    actually looks like.
  *
  * Two columns need more than arithmetic, because naive duplication
  * would plant a cross-copy artifact that changes the WORKLOAD, not
  * just the size:
  *  - `documents.text`: copied verbatim, every doc would acquire
  *    factor−1 exact duplicates and the dedup families would measure
  *    a pathological corpus (every cluster ×factor). Instead copy c
  *    applies a copy-keyed substitution permutation of [a-z] — a bijection on
  *    strings, so the INTRA-copy duplicate/near-duplicate structure
  *    (exact groups, shingle Jaccard, edit distances, lengths, token
  *    boundaries) is preserved isomorphically, while cross-copy token
  *    overlap collapses to accidental collisions. Dup *rate* is
  *    invariant; corpus size ×factor.
  *  - `embeddings.embedding`: copied verbatim, ANN/near-dup would see
  *    factor-sized planted clusters. Copy c multiplies the vector by
  *    a copy-specific ±1 sign mask — an orthogonal transform, so all
  *    intra-copy inner products (and hence cosines, norms, knn
  *    structure) are preserved EXACTLY (±1 multiplication is exact in
  *    IEEE float), while cross-copy cosines decorrelate.
  *
  * Everything is a pure function of (source row, copy index): same
  * input + factor ⇒ byte-identical logical output. The writer refuses
  * to target the read-only fixture tree.
  */
object ScaleGen {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"

  /** max(key)+1 of the source table — the per-copy key offset. */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast("long"))).head().getLong(0) + 1L

  /** Cross-join-free fan-out: one scan, `factor` output rows per input
    * row, each tagged with its copy index `c`.
    */
  private def withCopies(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("c", explode(lit((0 until factor).toArray)))

  private def offset(c: Column, k: Column, s: Long): Column =
    (k.cast("long") + c.cast("long") * lit(s)).as("off")

  /** Per-copy branch over a copy-indexed expression: copy 0 is the
    * identity (source rows survive verbatim), copies 1..f−1 get
    * `build(i)`. Chained `when` keeps it a single scan + projection.
    */
  private def byCopy(c: Column, factor: Int, id: Column)(build: Int => Column): Column =
    (1 until factor).foldLeft(when(c === 0, id)) { (acc, i) =>
      acc.when(c === i, build(i))
    }

  /** Copy-keyed substitution permutation of [a-z]: the 26 letters
    * ordered by md5("c:letter") — deterministic, and a full
    * permutation (26! keys) rather than the caesar rotation (26 keys)
    * this replaces. Rotations wrap: at factor > 26, copies c and c+26
    * carried IDENTICAL text, planting cross-copy exact-dup cliques
    * that superlinearly densified the duplicate structure (the r15
    * sf1→sf10 leg measured 320× pair growth at ×10 data from exactly
    * this artifact — see SCALING.md round-15 addendum). Any bijection
    * on the alphabet preserves the intra-copy structure isomorphically
    * (string equality, shingle identity, token boundaries, lengths,
    * edit distances), so the generator's contract — dup RATE invariant,
    * corpus size ×factor — now holds at any factor. Distinct copies
    * collide only if two keyed orderings coincide (~factor²/26!).
    */
  private[graft] def permFor(c: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(ch: Char): String = {
      md.reset()
      md.digest(s"$c:$ch".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    Lower.toSeq.sortBy(h).mkString
  }

  private def permText(text: Column, c: Int): Column =
    if (c == 0) text else translate(text, Lower, permFor(c))

  /** Copy-c sign mask for dimension d: a fixed ±1 pattern per copy,
    * identity for copy 0. Keyed by the FULL copy index via md5 parity
    * (the same keying scheme as [[permFor]]) — the earlier Knuth-hash
    * form folded only `c % 26` into the hash input, so at factor > 26
    * copies c and c+26 carried identical masks (and mask(26) even
    * reproduced the identity), planting cross-copy exact-duplicate
    * embedding cliques: the same wraparound artifact class the text
    * substitution fix removed for `documents.text`. Distinct copies
    * now collide only at ~factor²/2^dim probability. The "sgn:" salt
    * keeps the generator's hash domain DISJOINT from the LSH
    * hyperplane domain (DedupQueries.embPlaneRow hashes md5("k:p")
    * over the same small-int grid): generator/LSH independence is
    * structural — different md5 inputs — not an accident of which bit
    * of a shared digest each side reads.
    */
  private[graft] def signMask(c: Int, dim: Int): Array[Float] =
    if (c == 0) Array.fill(dim)(1f)
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until dim).map { d =>
        md.reset()
        val h = md.digest(s"sgn:$c:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) -1f else 1f
      }.toArray
    }

  /** All scaled tables as lazy DataFrames keyed by name. */
  def scaled(spark: SparkSession, srcDir: String, factor: Int): Map[String, DataFrame] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cust = Tables.read(spark, srcDir, "customer")
    val supp = Tables.read(spark, srcDir, "supplier")
    val part = Tables.read(spark, srcDir, "part")
    val ord = Tables.read(spark, srcDir, "orders")
    val li = Tables.read(spark, srcDir, "lineitem")
    val ev = Tables.read(spark, srcDir, "events")
    val doc = Tables.read(spark, srcDir, "documents")
    val emb = Tables.read(spark, srcDir, "embeddings")

    val cK = stride(cust, "c_custkey")
    val sK = stride(supp, "s_suppkey")
    val pK = stride(part, "p_partkey")
    val oK = stride(ord, "o_orderkey")
    val eK = stride(ev, "event_id")
    val uK = stride(ev, "user_id")
    val dK = stride(doc, "doc_id")
    val vK = stride(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)

    def keyed(df: DataFrame, offsets: Map[String, Long]): DataFrame = {
      val out = withCopies(df, factor)
      df.columns.foldLeft(out) { (acc, name) =>
        offsets.get(name).fold(acc)(s =>
          acc.withColumn(name, offset(col("c"), col(name), s)))
      }.select(df.columns.map(col): _*)
    }

    val docs = {
      val out = withCopies(doc, factor)
      out
        .withColumn("doc_id", offset(col("c"), col("doc_id"), dK))
        .withColumn("text",
          byCopy(col("c"), factor, col("text"))(i => permText(col("text"), i)))
        .select(doc.columns.map(col): _*)
    }

    val embs = {
      val out = withCopies(emb, factor)
      out
        .withColumn("vec_id", offset(col("c"), col("vec_id"), vK))
        .withColumn("embedding",
          byCopy(col("c"), factor, col("embedding")) { i =>
            zip_with(col("embedding"), lit(signMask(i, dim)), (x, m) => x * m)
          })
        .select(emb.columns.map(col): _*)
    }

    Map(
      "region" -> Tables.read(spark, srcDir, "region"),
      "nation" -> Tables.read(spark, srcDir, "nation"),
      "customer" -> keyed(cust, Map("c_custkey" -> cK)),
      "supplier" -> keyed(supp, Map("s_suppkey" -> sK)),
      "part" -> keyed(part, Map("p_partkey" -> pK)),
      "orders" -> keyed(ord, Map("o_orderkey" -> oK, "o_custkey" -> cK)),
      "lineitem" -> keyed(li,
        Map("l_orderkey" -> oK, "l_partkey" -> pK, "l_suppkey" -> sK)),
      // timestamps are kept: the time span stays fixed while event
      // density ×factor — exactly the load profile that stresses
      // event-time state (windows, watermarks, as-of) at scale
      "events" -> keyed(ev, Map("event_id" -> eK, "user_id" -> uK)),
      "documents" -> docs,
      "embeddings" -> embs
    )
  }

  /** Output file counts: enough files that sf1 scans parallelize from
    * their natural splits (the sf0.1 fixtures are single-row-group,
    * see Tables.spreadIfSmall) without producing a spray of tiny
    * files. Scaled loosely with the table's row weight.
    */
  private def partsFor(name: String, factor: Int): Int = name match {
    case "lineitem" => 2 * factor
    case "orders" | "events" => factor
    case "customer" | "part" | "documents" | "embeddings" => math.max(2, factor / 2)
    case _ => 1
  }

  def write(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    require(!outDir.startsWith("/root/testdata"),
      s"refusing to write into the read-only fixture tree: $outDir")
    scaled(spark, srcDir, factor).foreach { case (name, df) =>
      df.repartition(partsFor(name, factor))
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("scratch/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // always in-process: the generator writes local files
    val cpus = SessionEnv.cpus
    val spark = SessionEnv.builder(cpus, s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, src, out, factor)
    scaled(spark, src, factor).keys.toSeq.sorted.foreach { name =>
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      println(s"$name: $n rows")
    }
    spark.stop()
  }
}
