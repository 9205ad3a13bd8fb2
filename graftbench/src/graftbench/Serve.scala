package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryStats, Tables}
import graft.functions.{concepts, vectors}
import graft.operators.{Ann, InvertedIndex, VectorSearch}
import graft.sources.{LocalIndex, Tombstones}

/** The read types of the serve mix. Each mirrors one `SearchCli` command:
  * the same public functions, called with the same arguments. */
object ReadType {
  val KnnExact = "knn_exact"       // search --text
  val KnnFiltered = "knn_filtered" // search --text --filter
  val CrossModal = "cross_modal"   // search --image-vec
  val Concept = "concept"          // concept_math
  val IvfI8 = "ivf_i8"             // search --text --nprobe
  val Bm25 = "bm25"                // search --tokens
  val Phrase = "phrase"            // search --phrase
  val all = Seq(KnnExact, KnnFiltered, CrossModal, Concept, IvfI8, Bm25, Phrase)
  val exact = Set(KnnExact, KnnFiltered, CrossModal, Concept)
}

/** One generated request. `vec`/`expectTop` carry read-your-append checks. */
final case class Req(kind: String, typ: String, k: Int = 10,
    text: String = "", filter: Int = -1, id: Long = -1L,
    terms: Seq[String] = Nil, vec: Seq[Double] = Nil, expectTop: Long = -1L)

/** The answer of one read, as the user would see it. */
final case class Answer(ids: Seq[Long], scores: Seq[Double], counts: Seq[Long],
    rowsRead: Long)

/** Metadata filters of the `knn_filtered` reads: the SQL a user passes to
  * `--filter`, and the same predicate over the in-memory reference rows. */
object Filters {
  val sql = Seq("label IN (1, 3)", "lang = 'en'",
    "label < 5 AND lang <> 'zh'", "source IN ('src1', 'src2', 'src3')")
  def keep(i: Int, r: RefRow): Boolean = i match {
    case 0 => r.label == 1 || r.label == 3
    case 1 => r.lang == "en"
    case 2 => r.label < 5 && r.lang != "zh"
    case 3 => Set("src1", "src2", "src3")(r.source)
  }
}

/** A row of the combined serving table, held in memory as the brute-force
  * reference for exact reads and for IVF recall. */
final case class RefRow(id: Long, label: Long, lang: String, source: String,
    image: Array[Double], text: Array[Double], tokens: Array[String])

final class ServeLayer(spark: SparkSession, tr: Tracer, val dir: String) {
  private val embedder = new VectorSearch.StubBatchEmbedder()

  /** Every layout the serve mix reads: its kind, its LocalIndex cache
    * directory, and the ensure call that builds or refreshes it. */
  private val layouts: Seq[(String, String, () => String)] = Seq(
    ("combined", LocalIndex.path("combined", dir, ""),
      () => VectorSearch.ensureCombined(spark, dir)),
    ("ivf-index", Ann.ivfIndexPath(dir), () => Ann.ensureIvfIndex(spark, dir)),
    ("ivf-i8-index", LocalIndex.path("ivf-i8-index", dir, "_k" + Ann.NumCentroids),
      () => Ann.ensureIvfIndexI8(spark, dir)),
    ("token-index", InvertedIndex.indexPath(dir), () => InvertedIndex.ensureIndex(spark, dir)),
    ("token-pos-index", InvertedIndex.posIndexPath(dir),
      () => InvertedIndex.ensurePosIndex(spark, dir)))

  val layoutDirs: Seq[(String, String)] = layouts.map { case (k, d, _) => k -> d }

  private def ensureFn(kind: String): () => String =
    layouts.collectFirst { case (`kind`, _, f) => f }.get

  /** Cold builds of every served layout, one span per layout kind. Each
    * layout must be absent before its build, carry a `_GRAFT_SRC` marker
    * written during it, and not be rebuilt by a later kind's build: so
    * every set-up builds each layout exactly once, and none is inherited. */
  def buildAll(): Seq[(String, Double)] = {
    vectors.register(spark)
    val built = layouts.map { case (kind, d, ensure) =>
      val m = new java.io.File(d, "_GRAFT_SRC")
      require(!m.exists(), s"layout $kind exists before its cold build: $d")
      // whole seconds: file times may be kept at that resolution
      val t0ms = System.currentTimeMillis() / 1000 * 1000
      val t0 = System.nanoTime()
      tr.span(s"LocalIndex.build.$kind")(ensure())
      val s = (System.nanoTime() - t0) / 1e9
      require(m.exists() && m.lastModified() >= t0ms, s"layout $kind was not built: $d")
      (kind, s, m, m.lastModified())
    }
    built.foreach { case (kind, _, m, mtime) =>
      require(m.lastModified() == mtime, s"layout $kind was built more than once")
    }
    built.map { case (kind, s, _, _) => kind -> s }
  }

  // ------------------------------------------------ LocalIndex outcomes

  /** How an ensure call left a layout: served as it was, appended to, or
    * rebuilt. Read from outside through the layout's `_GRAFT_SRC` marker
    * and its data-file set. */
  val outcomes = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def files(d: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(x => x.getName.startsWith("_") || x.getName.startsWith("."))
        .flatMap(walk)
      else Seq(f)
    walk(new java.io.File(d)).map(_.getPath).toSet
  }

  private def marker(d: String): Long =
    new java.io.File(d, "_GRAFT_SRC").lastModified()

  def observed[A](d: String)(f: => A): A = {
    if (!tr.enabled) return f
    val (m0, f0) = (marker(d), files(d))
    val r = f
    val outcome =
      if (marker(d) == m0) "hit"
      else if (f0.nonEmpty && f0.subsetOf(files(d))) "append"
      else "rebuild"
    outcomes(outcome) += 1
    r
  }

  private def dirOf(kind: String) = layoutDirs.toMap.apply(kind)

  private def ensure(kinds: String*): Unit = tr.span("LocalIndex.ensure") {
    kinds.foreach(k => observed(dirOf(k))(ensureFn(k)()))
  }

  // ------------------------------------------------------------ reads

  private def embedOne(text: String): Seq[Double] = tr.span("VectorSearch.embed") {
    embedder.embed(Array(text)).head.map(_.toDouble).toSeq
  }

  private val conceptEnv: PartialFunction[String, Seq[Double]] = {
    case name if VectorSearch.conceptEnv.contains(name) => VectorSearch.conceptEnv(name)
    case phrase => embedOne(phrase)
  }

  private def collect(typ: String, df: DataFrame): (Array[Row], Long) = {
    val rows = tr.span(s"exec.$typ")(df.collect())
    val stats = QueryStats.of(df)
    (rows, stats.rowsRead)
  }

  /** Serve one read. `live` selects the delete-aware ANN serve. */
  def read(r: Req, live: Boolean): Answer = r.typ match {
    case t if ReadType.exact(t) => exactRead(r)
    case ReadType.IvfI8 => ivfRead(r, live)
    case ReadType.Bm25 => bm25Read(r)
    case ReadType.Phrase => phraseRead(r)
  }

  private def exactRead(r: Req): Answer = {
    if (tr.enabled) ensure("combined")
    val hits = tr.span(s"plan.${r.typ}") {
      val combined = spark.read.parquet(VectorSearch.ensureCombined(spark, dir))
      val (qv, target) = r.typ match {
        case ReadType.CrossModal =>
          val v = combined.filter(col("doc_id") === r.id)
            .select(col("image_embedding").cast("array<double>"))
            .head().getSeq[Double](0)
          (v, "text_embedding")
        case ReadType.Concept => (concepts.parse(r.text, conceptEnv), "image_embedding")
        case _ => (embedOne(r.text), "image_embedding")
      }
      val base = if (r.filter >= 0) combined.filter(expr(Filters.sql(r.filter))) else combined
      base.withColumn("score", vectors.l2Distance(
          col(target).cast("array<double>"), typedlit(qv)))
        .select(col("doc_id").cast("long").as("doc_id"), col("caption"),
          col("lang"), col("source"), col("label").cast("long").as("label"),
          col("score"))
        .orderBy(col("score"), col("doc_id"))
        .limit(r.k)
    }
    val (rows, read) = collect(r.typ, hits)
    Answer(rows.map(_.getLong(0)).toSeq, rows.map(_.getDouble(5)).toSeq, Nil, read)
  }

  private def ivfRead(r: Req, live: Boolean): Answer = {
    if (tr.enabled) {
      ensure("ivf-i8-index", "ivf-index", "combined")
      tr.span("Ann.codebook")(Ann.codebookFor(spark, dir))
      tr.span("Tables.loadLayout")(Tables.loadLayout(spark, dirOf("ivf-i8-index")))
    }
    val qv = if (r.vec.nonEmpty) r.vec else embedOne(r.text)
    val cells = math.min(math.max(Ann.NProbe, 1), Ann.NumCentroids)
    val hits = tr.span("plan.ivf_i8")(
      Ann.quantizedIvfKnn(spark, dir, r.k, cells, Seq(0 -> qv), live = live))
    val (scored, read) = collect("ivf_i8", hits)
    val ids = scored.map(_.getLong(1)).toSeq
    // the presentation-metadata point read SearchCli makes for the k hits
    val meta = tr.span("fetch.ivf_i8") {
      if (ids.isEmpty) 0
      else spark.read.parquet(VectorSearch.ensureCombined(spark, dir))
        .filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id").cast("long"), col("caption"), col("lang"),
          col("source"), col("label").cast("long"))
        .collect().length
    }
    require(meta == ids.size,
      s"ANN index returned ${ids.size} ids but only $meta resolve in the combined table")
    Answer(ids, scored.map(_.getDouble(2)).toSeq, Nil, read)
  }

  private def bm25Read(r: Req): Answer = {
    if (tr.enabled) {
      ensure("token-index")
      tr.span("Tables.loadLayout")(Tables.loadLayout(spark, dirOf("token-index")))
      tr.span("InvertedIndex.stats")(InvertedIndex.statsFor(spark, dir, r.terms))
    }
    val hits = tr.span("plan.bm25") {
      val ranked = InvertedIndex.bm25Indexed(spark, dir, r.terms)
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .join(broadcast(ranked), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_terms"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(r.k)
    }
    val (rows, read) = collect("bm25", hits)
    Answer(rows.map(_.getLong(0)).toSeq, rows.map(_.getDouble(5)).toSeq,
      rows.map(_.getLong(4)).toSeq, read)
  }

  private def phraseRead(r: Req): Answer = {
    if (tr.enabled) ensure("token-pos-index")
    val hits = tr.span("plan.phrase") {
      val idx = spark.read.parquet(InvertedIndex.ensurePosIndex(spark, dir))
      val matches = InvertedIndex.phraseSearch(idx, r.terms)
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .join(broadcast(matches), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_matches"))
        .orderBy(col("n_matches").desc, col("doc_id"))
        .limit(r.k)
    }
    val (rows, read) = collect("phrase", hits)
    Answer(rows.map(_.getLong(0)).toSeq, Nil, rows.map(_.getLong(4)).toSeq, read)
  }

  // ----------------------------------------------------------- writes

  /** Register a delete against every served layout that has a live serve
    * or a compaction: the float and int8 IVF copies (what
    * `Ann.tombstoneVecsAll` does, minus the IVF-PQ copy this benchmark
    * does not serve) and both posting layouts. */
  def delete(ids: Seq[Long]): Unit = {
    tr.span("Tombstones.write")(Ann.tombstoneVecs(spark, dir, ids))
    tr.span("Tombstones.write")(
      Tombstones.write(spark, Ann.ensureIvfIndexI8(spark, dir), "vec_id", ids))
    tr.span("Tombstones.write")(
      InvertedIndex.tombstoneDocs(spark, InvertedIndex.ensureIndex(spark, dir), ids))
    tr.span("Tombstones.write")(
      InvertedIndex.tombstoneDocs(spark, InvertedIndex.ensurePosIndex(spark, dir), ids))
  }

  /** Fold registered deletes into every layout that carries them. */
  def compact(): Unit = {
    tr.span("Tombstones.compact")(Ann.compactVecTombstones(spark, dir))
    tr.span("Tombstones.compact")(Tombstones.compact(spark,
      Ann.ensureIvfIndexI8(spark, dir), "vec_id", "cid"))
    tr.span("Tombstones.compact")(
      InvertedIndex.compactTombstones(spark, InvertedIndex.ensureIndex(spark, dir)))
    tr.span("Tombstones.compact")(
      InvertedIndex.compactTombstones(spark, InvertedIndex.ensurePosIndex(spark, dir)))
  }

  private lazy val docSchema = spark.read.parquet(s"$dir/documents.parquet").schema
  private lazy val vecSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema

  /** Land a shard of fresh-id rows as new part files of the corpus tables,
    * then run every serving layout's ensure; the append is acknowledged
    * when the last one returns. */
  def append(docs: Seq[Row], vecs: Seq[Row]): Unit = {
    tr.span("append.write") {
      spark.createDataFrame(java.util.Arrays.asList(docs: _*), docSchema)
        .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
      spark.createDataFrame(java.util.Arrays.asList(vecs: _*), vecSchema)
        .coalesce(1).write.mode("append").parquet(s"$dir/embeddings.parquet")
    }
    layouts.foreach { case (kind, d, ensure) =>
      tr.span(s"LocalIndex.append.$kind")(observed(d)(ensure()))
    }
  }

  /** Rows of the combined table with doc_id > `after`, as reference rows. */
  def referenceRows(after: Long): Seq[RefRow] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") > after).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.read.parquet(VectorSearch.ensureCombined(spark, dir))
      .filter(col("doc_id") > after)
      .select(col("doc_id").cast("long"), col("label").cast("long"), col("lang"),
        col("source"), col("image_embedding").cast("array<double>"),
        col("text_embedding").cast("array<double>"))
      .collect().toSeq.map(r => RefRow(r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getSeq[Double](4).toArray, r.getSeq[Double](5).toArray,
        Reference.tokens(docs(r.getLong(0)))))
  }
}

/** Brute-force answers over the in-memory reference rows. */
object Reference {
  private val tok = "[a-z0-9]+".r
  def tokens(text: String): Array[String] = tok.findAllIn(text.toLowerCase).toArray

  def l2(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Top-k (distance, id) over `rows`, ordered by distance then id. */
  def topK(rows: Iterable[RefRow], k: Int, vec: RefRow => Array[Double],
      q: Seq[Double]): Seq[(Double, Long)] =
    rows.iterator.map(r => (l2(vec(r), q), r.id)).toSeq.sorted.take(k)

  /** Phrase occurrences per document: start positions p of the first term
    * with term i at p + i for every i. */
  def phraseCounts(rows: Iterable[RefRow], terms: Seq[String]): Seq[(Long, Long)] =
    rows.iterator.flatMap { r =>
      val t = r.tokens
      val n = (0 to t.length - terms.size).count(p =>
        terms.indices.forall(i => t(p + i) == terms(i)))
      if (n > 0) Some(r.id -> n.toLong) else None
    }.toSeq
}
