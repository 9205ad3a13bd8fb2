package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.functions.concepts
import graft.operators.VectorSearch

/** The seeded request stream of the serve workloads.
  *
  * Requests come in blocks with a fixed composition, shuffled inside the
  * block, so every run of a workload sees the same mix whatever its seed
  * and length. Query texts, needles, phrases and concept expressions are
  * drawn Zipf-like from pools built from the corpus vocabulary, so about
  * half of them repeat and the program's per-needle caches are exercised
  * both as hits and as misses. `k` is 10, and 100 for one read in twenty.
  */
final class Workload(workload: String, seed: Long, corpus: Corpus) {
  import ReadType._
  private val rng = new java.util.Random(seed)
  private val pick = new java.util.Random(seed ^ 0x5DEECE66DL)
  private val vocab = corpus.vocab.toIndexedSeq
  private val ids = corpus.rows.keys.toIndexedSeq

  private def words(n: Int): Seq[String] =
    Iterator.continually(vocab(rng.nextInt(vocab.size))).distinct.take(n).toSeq

  private val PoolSize = 256
  private val zipfCdf: Array[Double] = {
    val w = (1 to PoolSize).map(i => 1.0 / math.pow(i, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipf[A](pool: IndexedSeq[A]): A = {
    val u = rng.nextDouble()
    val i = zipfCdf.indexWhere(_ >= u)
    pool(if (i < 0) PoolSize - 1 else i)
  }

  private val texts = IndexedSeq.fill(PoolSize)(words(3).mkString(" "))
  private val needles = IndexedSeq.fill(PoolSize)(words(2 + rng.nextInt(2)))
  private val exprs = IndexedSeq.fill(PoolSize) {
    val w = words(3)
    s"'${w(0)} ${w(1)}' + 0.5 * '${w(2)}' - q0"
  }
  private val phrases = {
    val rows = corpus.rows.values.toIndexedSeq
    IndexedSeq.fill(PoolSize) {
      val t = Iterator.continually(rows(rng.nextInt(rows.size)).tokens)
        .find(_.length >= 4).get
      val n = 2 + rng.nextInt(2)
      t.slice(rng.nextInt(t.length - n + 1), t.length).take(n).toSeq
    }
  }

  private def k: Int = if (rng.nextInt(20) == 0) 100 else 10

  def read(t: String): Req = t match {
    case KnnExact => Req("read", t, k, text = zipf(texts))
    case KnnFiltered => Req("read", t, k, text = zipf(texts),
      filter = rng.nextInt(Filters.sql.size))
    case CrossModal => Req("read", t, k, id = ids(rng.nextInt(ids.size)))
    case Concept => Req("read", t, k, text = zipf(exprs))
    case IvfI8 => Req("read", t, k, text = zipf(texts))
    case Bm25 => Req("read", t, k, terms = zipf(needles))
    case Phrase => Req("read", t, k, terms = zipf(phrases))
  }

  /** One block of requests. A serve_mutate block reads each type once,
    * deletes twice, appends a shard, and ends with a compaction that folds
    * its deletes. That read:write:compaction ratio is an assumption of
    * this benchmark, not a measured traffic mix (README.md); the gated
    * metrics keep reads and writes apart so they do not depend on it. */
  def block(): Seq[Req] = {
    val shuffle = scala.util.Random.javaRandomToRandom(rng)
    if (workload == "serve")
      shuffle.shuffle(Workload.ReadMix.flatMap { case (t, n) => Seq.fill(n)(t) }).map(read)
    else {
      val reads = ReadType.all.map(read)
      val writes = Seq(Req("delete", "delete"), Req("delete", "delete"),
        Req("append", "append"))
      shuffle.shuffle(reads ++ writes) :+ Req("compact", "compact")
    }
  }

  // ------------------------------------------------------- mutations

  /** Ids deleted and acknowledged; ids whose delete was also folded by a
    * compaction. */
  val deleted = mutable.Set.empty[Long]
  val compactedDeleted = mutable.Set.empty[Long]
  private var pendingDelete = Seq.empty[Long]
  private val recent = mutable.Queue.empty[Long]

  def observe(answer: Seq[Long]): Unit = {
    answer.take(3).foreach(recent.enqueue(_))
    while (recent.size > 30) recent.dequeue()
  }

  /** Two ids drawn from recent answers (users delete what they saw). */
  def deleteIds(): Seq[Long] = {
    val pool = recent.distinct.filterNot(deleted).toIndexedSeq
    val src = if (pool.size >= 2) pool else ids.filterNot(deleted)
    pendingDelete = Iterator.continually(src(pick.nextInt(src.size))).distinct.take(2).toSeq
    pendingDelete
  }

  def acknowledgeDeletes(): Unit = deleted ++= pendingDelete
  def compacted(): Unit = compactedDeleted ++= deleted

  /** Rows per shard: about 1% of the corpus. */
  private val shardRows = math.max(1, ids.size / 100)
  private var nextId = corpus.maxId + 1
  private var lastShard = Seq.empty[Long]
  private var lastVecs = Seq.empty[Seq[Double]]

  /** A shard of fresh-id documents and vectors. Every document carries a
    * token unique to it, so its visibility through BM25 can be checked. */
  def shard(): (Seq[Row], Seq[Row]) = {
    val langs = Seq("en", "de", "es", "fr", "zh")
    val newIds = (0 until shardRows).map(_ + nextId)
    nextId += shardRows
    val docs = newIds.map { id =>
      val text = (Seq.fill(10 + pick.nextInt(30))(vocab(pick.nextInt(vocab.size))) :+
        Workload.freshToken(id)).mkString(" ")
      Row(id, text, langs(pick.nextInt(5)), s"src${id % 20}", text.length.toLong)
    }
    val vecs = newIds.map { id =>
      val v = Array.fill(VectorSearch.Dim)(pick.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(id, v.map(x => (x / n).toFloat).toSeq, pick.nextInt(10))
    }
    lastShard = newIds
    lastVecs = vecs.map(_.getSeq[Float](1).map(_.toDouble))
    (docs, vecs)
  }

  /** After an acknowledged append, the next read of each checked type
    * targets the new rows: cross-modal by a new id, IVF with a new vector
    * as the query (its own row must rank first), BM25 by a new doc's
    * unique token (it must be found). A new row deleted in between is
    * expected to be gone instead. */
  private val pendingCheck = mutable.Map.empty[String, Req]

  def appended(): Unit = {
    val n = lastShard.size
    pendingCheck(CrossModal) = Req("read", CrossModal, id = lastShard(0))
    pendingCheck(IvfI8) = Req("read", IvfI8, vec = lastVecs(1 % n), expectTop = lastShard(1 % n))
    pendingCheck(Bm25) = Req("read", Bm25, terms = Seq(Workload.freshToken(lastShard(2 % n))),
      expectTop = lastShard(2 % n))
  }

  def withPendingCheck(r: Req): Req = pendingCheck.remove(r.typ).getOrElse(r)

  /** The query vector of a read, recomputed for the brute-force check. */
  def queryVector(r: Req): Seq[Double] = r.typ match {
    case _ if r.vec.nonEmpty => r.vec
    case CrossModal => corpus.rows(r.id).image.toSeq
    case Concept => concepts.parse(r.text, {
      case name if VectorSearch.conceptEnv.contains(name) => VectorSearch.conceptEnv(name)
      case phrase => Workload.embed(phrase)
    }: PartialFunction[String, Seq[Double]])
    case _ => Workload.embed(r.text)
  }
}

object Workload {
  /** Reads per 20 of the serve mix: knn 20%, filtered knn 10%, cross-modal
    * 10%, concept 5%, IVF 30% (the IVF-PQ share served by the int8 tier,
    * see the benchmark's README), BM25 15%, phrase 10%. */
  val ReadMix: Seq[(String, Int)] = {
    import ReadType._
    Seq(KnnExact -> 4, KnnFiltered -> 2, CrossModal -> 2, Concept -> 1, IvfI8 -> 6,
      Bm25 -> 3, Phrase -> 2)
  }

  private val embedder = new VectorSearch.StubBatchEmbedder()
  def embed(text: String): Seq[Double] =
    embedder.embed(Array(text)).head.map(_.toDouble).toSeq
  def freshToken(id: Long): String = s"zq$id"
}

/** Checks every answer as it arrives. A failure is (reason, gap): `gap`
  * names a known, documented gap of the program, or is null when the
  * answer is simply wrong. */
final class Checker(corpus: Corpus) {
  import ReadType._
  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def check(r: Req, a: Answer, gen: Workload): Option[(String, String)] = {
    val deleted = a.ids.filter(gen.deleted)
    def wrong(s: String) = Some((s"${r.typ}: $s", null))
    r.typ match {
      case t if exact(t) =>
        val qv = gen.queryVector(r)
        val target: RefRow => Array[Double] = if (t == CrossModal) _.text else _.image
        val rows = corpus.rows.values.filter(x => r.filter < 0 || Filters.keep(r.filter, x))
        val want = Reference.topK(rows, r.k, target, qv)
        if (a.ids.size != want.size) wrong(s"${a.ids.size} hits, brute force has ${want.size}")
        else if (!a.scores.zip(want).forall { case (g, (w, _)) => close(g, w) })
          wrong(s"scores ${a.scores.take(3)} differ from brute force ${want.take(3).map(_._1)}")
        else if (!a.ids.zip(a.scores).forall { case (id, s) =>
            corpus.rows.get(id).exists(x => close(Reference.l2(target(x), qv), s)) })
          wrong("an answered id's distance differs from its reported score")
        else if (deleted.nonEmpty)
          Some((s"$t served deleted ids ${deleted.mkString(",")}", "combined_no_delete"))
        else None
      case IvfI8 =>
        val qv = gen.queryVector(r)
        if (deleted.nonEmpty) wrong(s"live ANN read served deleted ids ${deleted.mkString(",")}")
        else if (r.expectTop >= 0 && !gen.deleted(r.expectTop) &&
            !a.ids.headOption.contains(r.expectTop))
          wrong(s"appended vector ${r.expectTop} not ranked first (got ${a.ids.take(3)})")
        else if (!a.ids.zip(a.scores).forall { case (id, s) =>
            corpus.rows.get(id).exists(x => close(Reference.l2(x.image, qv), s)) })
          wrong("an answered id's distance differs from its reported score")
        else None
      case Bm25 =>
        if (r.expectTop >= 0 && !gen.compactedDeleted(r.expectTop) &&
            !a.ids.contains(r.expectTop))
          wrong(s"appended doc ${r.expectTop} not found by its unique token")
        else if (deleted.nonEmpty)
          Some((s"bm25 served deleted ids ${deleted.mkString(",")}", "posting_no_live_read"))
        else None
      case Phrase =>
        val rows = corpus.rows.values.filterNot(x => gen.compactedDeleted(x.id))
        val want = Reference.phraseCounts(rows, r.terms)
          .sortBy { case (id, n) => (-n, id) }.take(r.k)
        if (a.ids != want.map(_._1) || a.counts != want.map(_._2))
          wrong(s"'${r.terms.mkString(" ")}' got ${a.ids.zip(a.counts).take(3)}, brute force ${want.take(3)}")
        else if (deleted.nonEmpty)
          Some((s"phrase served deleted ids ${deleted.mkString(",")}", "posting_no_live_read"))
        else None
    }
  }

  /** recall@k of an IVF read against the exact answer over live rows. */
  def recall(r: Req, a: Answer, gen: Workload): Double = {
    val live = corpus.rows.values.filterNot(x => gen.deleted(x.id))
    val want = Reference.topK(live, r.k, _.image, gen.queryVector(r)).map(_._2).toSet
    if (want.isEmpty) 1.0 else a.ids.count(want).toDouble / want.size
  }
}
