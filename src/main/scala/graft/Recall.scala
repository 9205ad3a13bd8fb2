package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Ann, RpTree}

/** Recall@k measurement for the ANN tier — the number an ANN user
  * actually buys (the reference's Annoy experiment,
  * `results_ridgeback_annoy_100m.png`, is exactly a recall/latency
  * trade). The driver gates pin determinism and plan shape; this main
  * measures, per probe setting, how much of the EXACT top-k each
  * approximate variant recovers:
  *
  *   - a2 (hyperplane LSH): probes 1..NumPlanes+1 (own bucket + the
  *     Hamming-1 multi-probe ring), vs exact cosine (a1).
  *   - a3 (IVF): nprobe 1..NumCentroids, vs exact L2 — which IS
  *     ivfKnn at nprobe = NumCentroids (every cell probed), so the
  *     sweep's top row doubles as a self-check at recall 1.0.
  *   - a4 (RP-tree): maxFlips 0..6 spill probes, vs exact cosine.
  *   - vq3 (IVF × int8): nprobe sweep vs exact FLOAT L2 — its recall
  *     folds in quantization rank error, the honest serving number.
  *
  * Usage: `runMain graft.Recall [target ...]` — each target is a
  * testdata dir OR `clustered:<n>` (generate an n-vector
  * planted-cluster corpus via [[GenSf.clusteredEmbeddings]] in a temp
  * dir — the regime ANN exists for — and measure that). Prints one
  * JSON line per (target, variant, setting): recall@10 averaged over
  * the gated query set, plus the per-query minimum (a tail query
  * hiding under a good mean is what a recall floor must catch).
  * `SPARK_GRAFT_RECALL_OUT=<file>` additionally writes the full
  * record as one JSON array — the per-round `recall_rN.json`
  * artifact, so recall drift is caught mechanically like wall-clock
  * drift (BENCH_rN.json), not by re-reading frozen prose. Frozen into
  * BASELINE.md; the floor contract is pinned per-SF in AnnRecallSpec.
  */
object Recall {

  /** top-k id sets per query of an ANN result frame
    * (query_id, vec_id, score), plus the batch's wall seconds —
    * median of 3 collects (the measurement floor BASELINE.md's
    * single-run lesson set), so each recall row carries the latency
    * half of the recall↔cost trade the probe knob buys. */
  private def topSets(mk: => DataFrame): (Map[Int, Set[Long]], Double) = {
    val timed = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val rows = mk.collect()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val (wall, rows) = timed.sortBy(_._1).apply(1)
    (rows.map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap, wall)
  }

  /** Mean and min per-query recall of `got` against `exact`. */
  def recallOf(got: Map[Int, Set[Long]],
      exact: Map[Int, Set[Long]]): (Double, Double) = {
    val per = exact.toSeq.map { case (q, ex) =>
      val g = got.getOrElse(q, Set.empty)
      ex.intersect(g).size.toDouble / ex.size
    }
    (per.sum / per.size, per.min)
  }

  final case class Row(variant: String, setting: Int,
      mean: Double, min: Double, wallS: Double)

  def measure(s: SparkSession, d: String): Seq[Row] = {
    implicit val sp: SparkSession = s
    graft.functions.vectors.register(s)
    val embs = Tables.embeddings(s, d)
    val (exactCos, exactCosWall) = topSets(Ann.a1Query(s, d))
    val cb = Ann.codebookFor(s, d)
    val (exactL2, exactL2Wall) =
      topSets(Ann.ivfKnn(embs, cb, Ann.K, Ann.NumCentroids))

    val exact = Seq(Row("exact_cosine_a1", 0, 1.0, 1.0, exactCosWall),
      Row("exact_l2_fullprobe", 0, 1.0, 1.0, exactL2Wall))
    val a2 = (1 to Ann.NumPlanes + 1).map { p =>
      val (got, w) = topSets(Ann.lshKnn(embs, Ann.K, p))
      val (m, mn) = recallOf(got, exactCos)
      Row("a2_lsh", p, m, mn, w)
    }
    val a3 = (Seq(1, 2, 4, 8, Ann.NumCentroids) :+ Ann.NProbe)
      .distinct.sorted.map { np =>
      val (got, w) = topSets(Ann.ivfKnn(embs, cb, Ann.K, np))
      val (m, mn) = recallOf(got, exactL2)
      Row("a3_ivf", np, m, mn, w)
    }
    val a4 = (0 to 6).map { f =>
      val (got, w) = topSets(RpTree.a4Query(s, d, Ann.K, f))
      val (m, mn) = recallOf(got, exactCos)
      Row("a4_rptree", f, m, mn, w)
    }
    val vq3 = (Seq(1, 2, 4, Ann.NumCentroids) :+ Ann.NProbe)
      .distinct.sorted.map { np =>
      val (got, w) = topSets(Ann.quantizedIvfKnn(s, d, Ann.K, np))
      val (m, mn) = recallOf(got, exactL2)
      Row("vq3_ivf_i8", np, m, mn, w)
    }
    val vq4 = (Seq(1, 2, 4, Ann.NumCentroids) :+ Ann.NProbe)
      .distinct.sorted.map { np =>
      val (got, w) = topSets(Ann.ivfPqKnn(s, d, Ann.K, np))
      val (m, mn) = recallOf(got, exactL2)
      Row("vq4_ivfpq", np, m, mn, w)
    }
    exact ++ a2 ++ a3 ++ a4 ++ vq3 ++ vq4
  }

  /** Resolve a CLI target to (label, dir) — `clustered:<n>` resolves
    * to the planted-cluster corpus's shared cache dir, generated
    * race-safely (unique scratch + atomic rename; see
    * [[GenSf.ensureClusteredEmbeddings]]) so a recall run concurrent
    * with AnnRecallSpec cannot corrupt the live dir, while repeated
    * runs still reuse one copy instead of accreting multi-GB parquet
    * in /tmp. */
  private def resolve(s: SparkSession, target: String): (String, String) =
    if (target.startsWith("clustered:")) {
      val n = target.stripPrefix("clustered:").toLong
      (s"clustered-$n", GenSf.ensureClusteredEmbeddings(s, n))
    } else (target, target)

  private def line(label: String, r: Row): String =
    f"""{"variant":"${r.variant}","setting":${r.setting},""" +
      f""""recall10":${r.mean}%.4f,"min_recall10":${r.min}%.4f,""" +
      f""""wall_s":${r.wallS}%.4f,"sf":"$label"}"""

  def main(args: Array[String]): Unit = {
    val targets =
      if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    try {
      val lines = targets.flatMap { t =>
        val (label, dir) = resolve(spark, t)
        measure(spark, dir).map { r =>
          val l = line(label, r)
          println(l)
          l
        }
      }
      sys.env.get("SPARK_GRAFT_RECALL_OUT").foreach { out =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
          lines.mkString("[\n", ",\n", "\n]\n"))
      }
    } finally spark.stop()
  }
}
