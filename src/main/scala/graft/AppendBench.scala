package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, InvertedIndex, Replacing, Rollup}

/** Append-rehearsal bench for the incremental index family — the
  * evidence behind every `ensureIncremental` scale claim: that a +10%
  * corpus append touches index bytes ∝ the SHARD, not the corpus, and
  * leaves every previously-written index file byte-identical.
  *
  * For each family (t8 token index, a2 LSH index, a3 IVF index, c9
  * rollup parts, c10 replacing parts, d8 shingle-posting table):
  *   1. copy the corpus table into a scratch dir, full-build the
  *      index (T_build), checksum every index file;
  *   2. land a +10% shard (fresh ids) as a new source part file,
  *      re-ensure (T_append); assert every pre-append index file is
  *      BYTE-IDENTICAL (md5) and measure the appended bytes;
  *   3. wipe the index and full-rebuild on the grown corpus
  *      (T_rebuild) — the cost the append path avoids.
  *
  * Prints one JSON line per family:
  * `{"family":…,"build_s":…,"append_s":…,"rebuild_s":…,
  *   "index_bytes":…,"appended_bytes":…,"old_files_unchanged":true}`
  * Frozen into BASELINE.md at sf1 (appended-bytes ∝ shard evidence).
  *
  * Usage: `runMain graft.AppendBench [sfDir] [scratchDir]`
  */
object AppendBench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def md5(p: Path): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
  }

  /** file → (size, md5) snapshot of every data file under a dir. */
  private def snapshot(dir: String): Map[String, (Long, String)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val out = scala.collection.mutable.Map[String, (Long, String)]()
    Files.walk(root).forEach { p =>
      if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_")
          && !p.getFileName.toString.startsWith(".")) {
        out(root.relativize(p).toString) = (Files.size(p), md5(p))
      }
    }
    out.toMap
  }

  private def copyTable(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    Files.createDirectories(d.getParent)
    if (Files.isDirectory(s)) {
      Files.walk(s).forEach { p =>
        val t = d.resolve(s.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    } else {
      // single-file corpora (the hand-written small SFs) become a
      // directory-of-parts so a shard can land beside the base file —
      // the same layout GenSf corpora already have
      Files.createDirectories(d)
      Files.copy(s, d.resolve("part-00000-base.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.delete(p); () })
  }

  /** +10% shard with FRESH ids written as one more part file inside
    * the (directory-shaped) source table — the grow-only ingest
    * pattern every append contract covers. Written from the RAW read
    * so the shard part's schema matches the base files exactly. */
  private def landShard(s: SparkSession, tableDir: String,
      idCol: String): Unit = {
    val base = s.read.parquet(tableDir)
    val maxId = base.agg(max(col(idCol))).head.getLong(0)
    val shard = base.filter(pmod(col(idCol), lit(10L)) === 0L)
      .withColumn(idCol, col(idCol) + lit(maxId + 1L))
    val tmp = tableDir + ".shard.tmp"
    shard.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part,
      Paths.get(tableDir, s"part-shard-${System.nanoTime()}.parquet"))
    rmTree(tmp)
  }

  final case class Fam(name: String, table: String, idCol: String,
      ensure: (SparkSession, String) => String,
      wipe: (SparkSession, String) => Unit)

  def families(): Seq[Fam] = Seq(
    Fam("t8_token_index", "documents", "doc_id",
      (s, d) => { val p = InvertedIndex.ensureIndex(s, d); p },
      (s, d) => rmTree(InvertedIndex.indexPath(d))),
    Fam("a2_lsh_index", "embeddings", "vec_id",
      (s, d) => Ann.ensureLshIndex(s, d),
      (s, d) => rmTree(Ann.lshIndexPath(d))),
    Fam("a3_ivf_index", "embeddings", "vec_id",
      (s, d) => Ann.ensureIvfIndex(s, d),
      (s, d) => rmTree(Ann.ivfIndexPath(d))),
    // the quantized serving copies share a3's cell layout and the
    // fixed-while-grow-only codebook lifecycle — their append paths
    // must ALSO land shard-pro-rata bytes with old files untouched
    Fam("vq3_i8_index", "embeddings", "vec_id",
      (s, d) => Ann.ensureIvfIndexI8(s, d),
      (s, d) => rmTree(graft.sources.LocalIndex.path(
        "ivf-i8-index", d, "_k" + Ann.NumCentroids))),
    Fam("vq4_pq_index", "embeddings", "vec_id",
      (s, d) => Ann.ensureIvfPqIndex(s, d),
      (s, d) => rmTree(graft.sources.LocalIndex.path(
        "ivf-pq-index", d, "_k" + Ann.NumCentroids + "m" + Ann.PqSubspaces))),
    // the d10 sem-index shares the IVF cell layout but under its own
    // (larger-k, read-granularity) codebook — its append contract is
    // the same grow-only fixed-codebook shape and must hold here too
    Fam("d10_sem_index", "embeddings", "vec_id",
      (s, d) => Dedup.ensureSemIndex(s, d),
      (s, d) => {
        val parent = new java.io.File(
          sys.props("java.io.tmpdir"), "graft-sem-index")
        val prefix = d.replaceAll("[^A-Za-z0-9._-]", "_") +
          f"_${d.hashCode & 0xffffffffL}%08x"
        Option(parent.listFiles()).getOrElse(Array[java.io.File]())
          .filter(_.getName.startsWith(prefix))
          .foreach(f => rmTree(f.getPath))
      }),
    Fam("c9_rollup_parts", "events", "event_id",
      (s, d) => Rollup.ensureRollup(s, d),
      (s, d) => rmTree(graft.sources.LocalIndex.path("rollup", d, ""))),
    Fam("c10_replacing_parts", "events", "event_id",
      (s, d) => Replacing.ensureReplacing(s, d),
      (s, d) => rmTree(graft.sources.LocalIndex.path("replacing", d, ""))),
    Fam("d8_posting_table", "documents", "doc_id",
      (s, d) => tableLocation(s, Dedup.ensurePostingIndex(s, d)),
      (s, d) => {
        // drop every graft_postings table of this corpus dir
        s.catalog.listTables().collect()
          .map(_.name).filter(_.startsWith("graft_postings_"))
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      }))

  private def tableLocation(s: SparkSession, table: String): String =
    s.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.getPath

  final case class Result(family: String, buildS: Double, appendS: Double,
      rebuildS: Double, indexBytes: Long, appendedBytes: Long,
      oldUnchanged: Boolean)

  def runFamily(s: SparkSession, sfDir: String, scratch: String,
      fam: Fam): Result = {
    val work = s"$scratch/${fam.name}"
    rmTree(work)
    copyTable(s"$sfDir/${fam.table}.parquet", s"$work/${fam.table}.parquet")
    fam.wipe(s, work) // stale scratch indexes from a prior run

    val (idxPath, buildS) = time(fam.ensure(s, work))
    val before = snapshot(idxPath)

    landShard(s, s"$work/${fam.table}.parquet", fam.idCol)

    val (_, appendS) = time(fam.ensure(s, work))
    val after = snapshot(idxPath)
    val oldUnchanged = before.forall { case (f, sig) => after.get(f) == Some(sig) }
    val appendedBytes = after.filterNot { case (f, _) => before.contains(f) }
      .values.map(_._1).sum

    fam.wipe(s, work)
    val (_, rebuildS) = time(fam.ensure(s, work))

    Result(fam.name, buildS, appendS, rebuildS,
      before.values.map(_._1).sum, appendedBytes, oldUnchanged)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata_sf1")
    val scratch = args.drop(1).headOption.getOrElse("/tmp/graft-appendbench")
    val spark = GraftSession.local(GraftSession.cpus)
    val results =
      try families().map { fam =>
        val r = runFamily(spark, sfDir, scratch, fam)
        println(f"""{"family":"${r.family}","build_s":${r.buildS}%.3f,""" +
          f""""append_s":${r.appendS}%.3f,"rebuild_s":${r.rebuildS}%.3f,""" +
          f""""index_bytes":${r.indexBytes},"appended_bytes":${r.appendedBytes},""" +
          s""""old_files_unchanged":${r.oldUnchanged}}""")
        r
      } finally spark.stop()
    // the rehearsal FAILS (nonzero exit) when an append path rewrote
    // pre-append index files — a passing run is evidence, a printed
    // false must never be silently re-frozen into BASELINE.md
    val broken = results.filterNot(_.oldUnchanged).map(_.family)
    require(broken.isEmpty,
      s"append rehearsal: old index files were REWRITTEN by: " +
        broken.mkString(", "))
  }
}
