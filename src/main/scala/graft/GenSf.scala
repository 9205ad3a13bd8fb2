package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: derives an sfN× corpus from an
  * existing testdata dir by unioning N key-offset copies — the scale
  * rehearsal harness behind the sf1 slope table in BASELINE.md.
  *
  * Faithful scaling means constant DENSITIES, not just 10× rows:
  *  - Foreign keys offset consistently per copy (custkey/orderkey/
  *    partkey/suppkey/user/doc/vec), so join fan-outs and group
  *    cardinalities scale the way a real bigger corpus does (10× the
  *    customers, same orders-per-customer).
  *  - Document texts get a copy-salt token inserted every 2 words
  *    (k > 0): every 3-word shingle crosses a salt, so NO cross-copy
  *    near-dup pairs appear — dup density stays the corpus' own,
  *    instead of every doc gaining 9 artificial twins (which would
  *    quadratically inflate the dedup workloads — the recrawl stress
  *    covers that regime separately). Within-copy dup structure is
  *    preserved verbatim. Salt tokens are [a-z0-9] so the tokenizer
  *    keeps them; language stopwords survive untouched.
  *  - Embedding vectors get a per-copy component PERMUTATION: norms
  *    (and all within-copy geometry) are exactly preserved while
  *    cross-copy cosine collapses to noise — same reasoning as the
  *    text salt, for the vector near-dup family.
  *  - `region`/`nation` stay fixed-cardinality (they are at any SF).
  *  - Timestamps are kept: the day/type domains are resolution-bound,
  *    so a bigger corpus means more rows per (day, type) — exactly
  *    the partial-aggregate shape the operators claim to scale on.
  *
  * Usage: runMain graft.GenSf <srcDir> <outDir> <copies>
  */
object GenSf {

  def main(args: Array[String]): Unit = {
    args match {
      // clustered-embedding mode: `runMain graft.GenSf clustered <outDir> <n>`.
      // A legacy SOURCE DIR literally named `clustered` still selects
      // scale-up mode: the mode word only wins when no such dir exists.
      case Array("clustered", out, nS)
          if !java.nio.file.Files.isDirectory(java.nio.file.Paths.get("clustered")) =>
        val spark = GraftSession.local(GraftSession.cpus)
        try clusteredEmbeddings(spark, out, nS.toLong) finally spark.stop()
      // planted-near-dup mode: `runMain graft.GenSf neardup <outDir> <n>`
      case Array("neardup", out, nS)
          if !java.nio.file.Files.isDirectory(java.nio.file.Paths.get("neardup")) =>
        val spark = GraftSession.local(GraftSession.cpus)
        try nearDupEmbeddings(spark, out, nS.toLong) finally spark.stop()
      case Array(src, out, copiesS) =>
        val spark = GraftSession.local(GraftSession.cpus)
        try generate(spark, src, out, copiesS.toInt) finally spark.stop()
      case _ =>
        System.err.println(
          "usage: graft.GenSf <srcDir> <outDir> <copies>\n" +
            "       graft.GenSf clustered <outDir> <nVectors>")
        sys.exit(2)
    }
  }

  // ---------------------------------------------- clustered embeddings

  /** Planted-cluster geometry: [[ClusterCount]] Gaussian blobs of
    * width [[ClusterSigma]] per component. Centers are the qvec
    * family starting at seed 10 — the FIRST FIVE centers are exactly
    * the gated ANN query vectors ([[graft.operators.Ann.querySet]]),
    * so every gated query sits inside a planted cluster: the regime
    * ANN indexes exist for (real embedding corpora are clustered and
    * real queries land near dense regions — the hash-uniform gate
    * corpus is the structureless worst case, kept as the conservative
    * lower bound). */
  val ClusterCount = 32
  // the qvec center family's min pairwise L2 separation is 0.25; the
  // generator guard demands separation > 20·sigma, so blob width must
  // stay under 0.0125 for 32 planted clusters to be disjoint
  val ClusterSigma = 0.01

  def clusterCenters(count: Int = ClusterCount): Seq[Seq[Double]] =
    (0 until count).map(j => graft.operators.VectorSearch.qvec(10 + j))

  /** Race-safe shared cache of the planted-cluster corpus (used by
    * both graft.Recall and AnnRecallSpec): an existing COMPLETE cache
    * (`embeddings.parquet/_SUCCESS`) is served as-is — the generator
    * is deterministic, so one copy fits all; otherwise the corpus is
    * generated into a UNIQUE scratch dir and atomically PUBLISHED via
    * rename. Two concurrent runs must never SaveMode.Overwrite the
    * same live dir (a reader mid-scan would see files vanish): first
    * publisher wins, losers delete their scratch copy and serve the
    * winner's. Returns the cache dir. */
  def ensureClusteredEmbeddings(spark: SparkSession, n: Long): String =
    ensurePublished(spark, s"graft-clustered-$n")(
      scratch => clusteredEmbeddings(spark, scratch, n))

  private def ensurePublished(spark: SparkSession, cacheName: String)(
      gen: String => Unit): String = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    val base = Paths.get(sys.props("java.io.tmpdir"), cacheName)
    def complete(p: Path): Boolean =
      Files.exists(p.resolve("embeddings.parquet").resolve("_SUCCESS"))
    def deleteTree(p: Path): Unit = if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
    if (!complete(base)) {
      val scratch = Paths.get(sys.props("java.io.tmpdir"),
        s".$cacheName-build-${ProcessHandle.current.pid}-" +
          java.util.UUID.randomUUID)
      gen(scratch.toString)
      // a stale INCOMPLETE cache (a crashed writer from the pre-rename
      // era) blocks the rename forever — clear it best-effort first
      if (Files.exists(base) && !complete(base))
        try deleteTree(base) catch { case _: java.io.IOException => }
      try Files.move(scratch, base, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException =>
          // another run published first (or the stale dir resisted
          // deletion) — serve the existing copy if complete, else fail
          deleteTree(scratch)
          require(complete(base),
            s"ensurePublished: publish race left $base incomplete")
      }
    }
    base.toString
  }

  /** Write a clustered embedding corpus (same schema as the testdata
    * embeddings table: vec_id BIGINT, embedding ARRAY<FLOAT>, label
    * INT = planted cluster id) of `n` vectors into
    * `outDir/embeddings.parquet`. Deterministic INDEPENDENT of
    * partitioning: each row's noise comes from a vec_id-seeded PRNG,
    * so any executor layout produces byte-identical vectors. */
  def clusteredEmbeddings(spark: SparkSession, outDir: String, n: Long,
      clusters: Int = ClusterCount, sigma: Double = ClusterSigma): Unit = {
    import spark.implicits._
    val centers = clusterCenters(clusters)
    // the planted structure only exists if blobs are far apart
    // relative to their width — guard the generator's own contract
    val minSep = (for {
      i <- centers.indices; j <- (i + 1) until clusters
    } yield math.sqrt(centers(i).zip(centers(j))
      .map { case (a, b) => (a - b) * (a - b) }.sum)).min
    require(minSep > 20 * sigma,
      f"clusteredEmbeddings: min center separation $minSep%.3f under " +
        f"20·sigma=${20 * sigma}%.3f — blobs would overlap")
    val bc = spark.sparkContext.broadcast(centers.map(_.toArray).toArray)
    spark.range(n).map { id =>
      val cid = (id % clusters).toInt
      val c = bc.value(cid)
      val r = new scala.util.Random(id * 2654435761L + 987654321L)
      (id, c.map(x => (x + sigma * r.nextGaussian()).toFloat).toSeq, cid)
    }.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
  }

  // ---------------------------------------------- near-dup embeddings

  /** Write a QUASI-UNIFORM embedding corpus with planted near-dup
    * pairs (testdata embeddings schema; dim matches the gate corpus).
    * Rows id < n/2 are fresh id-seeded Gaussians; row id ≥ n/2 is a
    * jittered copy of row (id − n/2) — exactly n/2 planted pairs, each
    * base copied once. Deterministic per row (vec_id-seeded PRNGs), so
    * any partitioning produces byte-identical vectors.
    *
    * This is the dedup-family STRESS corpus: uniform geometry spreads
    * hyperplane/k-means buckets evenly (the clustered generator's
    * tight blobs would concentrate whole blobs into single buckets —
    * the regime ANN recall measures, not the one dedup capacity
    * does), while the planted copies give the operators real pairs to
    * find at any n. */
  def nearDupEmbeddings(spark: SparkSession, outDir: String, n: Long,
      dim: Int = 64, jitter: Double = 0.02): Unit = {
    import spark.implicits._
    val half = n / 2
    spark.range(n).map { id =>
      def vecOf(i: Long): Array[Double] = {
        val r = new scala.util.Random(i * 6364136223846793005L + 1442695040888963407L)
        Array.fill(dim)(r.nextGaussian())
      }
      val v =
        if (id < half) vecOf(id)
        else {
          val r = new scala.util.Random(id * 2862933555777941757L + 3037000493L)
          vecOf(id - half).map(x => x + jitter * r.nextGaussian())
        }
      (id, v.map(_.toFloat).toSeq, if (id < half) 0 else 1)
    }.toDF("vec_id", "embedding", "label")
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
  }

  /** Race-safe shared cache of the near-dup stress corpus — the
    * [[ensureClusteredEmbeddings]] publish contract verbatim. */
  def ensureNearDupEmbeddings(spark: SparkSession, n: Long): String =
    ensurePublished(spark, s"graft-neardup-$n")(
      scratch => nearDupEmbeddings(spark, scratch, n))

  def generate(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.repartition(files).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$t.parquet")

    def scaled(base: DataFrame)(perCopy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(k => perCopy(base, k)).reduce(_ unionByName _)

    // fixed dims: cardinality does not grow with SF
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    val nCust = read("customer").count()
    val nOrd = read("orders").count()
    val nPart = read("part").count()
    val nSupp = read("supplier").count()
    val nEvt = read("events").count()
    val nUser = read("events").agg(max(col("user_id"))).head.getLong(0) + 1
    val nDoc = read("documents").agg(max(col("doc_id"))).head.getLong(0) + 1
    val nVec = read("embeddings").agg(max(col("vec_id"))).head.getLong(0) + 1

    write(scaled(read("customer")) { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * nCust))
    }, "customer", 2 * copies / 5 + 1)

    write(scaled(read("supplier")) { (df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(k * nSupp))
    }, "supplier", 1)

    write(scaled(read("part")) { (df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(k * nPart))
    }, "part", 2 * copies / 5 + 1)

    write(scaled(read("orders")) { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * nCust))
    }, "orders", copies / 2 + 1)

    write(scaled(read("lineitem")) { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * nPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * nSupp))
    }, "lineitem", copies)

    write(scaled(read("events")) { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * nEvt))
        .withColumn("user_id", col("user_id") + lit(k * nUser))
        // +k ms: identical-copy rows would otherwise tie EXACTLY on
        // every ms-floored time domain — 10-deep duplicate (start,end)
        // intervals measurably destabilize DuckDB's parallel running-
        // max window, and real scaled corpora have no such multiset
        .withColumn("ts", timestamp_micros(
          unix_micros(col("ts")) + lit(k * 1000L)))
    }, "events", copies / 2 + 1)

    write(scaled(read("documents")) { (df, k) =>
      val moved = df.withColumn("doc_id", col("doc_id") + lit(k * nDoc))
      if (k == 0) moved
      else {
        // salt token every 2 words (every 3-word shingle crosses one)
        // PLUS a leading salt: texts too short for the insertion regex
        // must still differ per copy, or the same text lands in all 10
        // copies carrying divergent metadata tuples
        val salted = concat(lit(s"zq$k "), regexp_replace(col("text"),
          "([a-z0-9]+ [a-z0-9]+) ", s"$$1 zq$k "))
        moved.withColumn("text", salted)
          .withColumn("n_chars", length(col("text")))
      }
    }, "documents", copies / 2 + 1)

    val perms: Map[Int, Seq[Int]] = (0 until copies).map { k =>
      val r = new scala.util.Random(k)
      k -> (if (k == 0) (0 until 64): Seq[Int] else r.shuffle((0 until 64).toList))
    }.toMap
    write(scaled(read("embeddings")) { (df, k) =>
      // permutation alone preserves within-copy geometry EXACTLY, so
      // every near-dup pair would exist 10× with bit-identical scores
      // — a tie multiset no real corpus has (it breaks score-sorted
      // row alignment in the oracle compare). A small additive jitter
      // on one component (≫ float ulp, ≪ the near-dup band) makes
      // each copy's scores distinct while keeping its dup structure.
      val permuted = array(perms(k).map(p =>
        col("embedding").getItem(p)): _*)
      val jittered = concat(
        array((element_at(permuted, 1) + lit(k * 1e-3f))
          .cast("float")),
        slice(permuted, 2, 63))
      df.withColumn("vec_id", col("vec_id") + lit(k * nVec))
        .withColumn("embedding", if (k == 0) col("embedding") else jittered)
    }, "embeddings", copies / 2 + 1)
  }
}
