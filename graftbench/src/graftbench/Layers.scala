package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, named `<module>.<metric>` after the
  * graft module whose calls the spans wrap. Times are span self times
  * (medians over the traced operations); counts are taken at the same
  * boundaries. A layer a workload never calls is absent here and reported
  * as 0 by run.py. */
object Layers {
  val Kinds = Seq("combined", "ivf-index", "ivf-i8-index", "token-index", "token-pos-index")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def perLayer(tr: Tracer, l: ExecListener, ops: Seq[Main.Op],
      layer: ServeLayer, buildS: Seq[Seq[(String, Double)]], sessionS: Seq[Double],
      streamPhases: Seq[(String, Double, Double)],
      rec: scala.collection.Map[String, Any]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val self = tr.selfNs
    val jobs = l.jobsBySpan("timed")
    def named(n: String) = tr.spans.filter(_.name == n).toSeq
    def selfMs(n: String) = named(n).map(s => self(s.id) / 1e6)
    def jobsOf(n: String) = named(n).map(s => jobs.getOrElse(s.id, 0).toDouble)
    val traced = ops.filter(_.traced)

    out("GraftSession.start_s") = median(sessionS)
    Kinds.foreach(k => out(s"LocalIndex.build_s.$k") =
      median(buildS.flatMap(_.toMap.get(k))))
    out("VectorSearch.embed_ms") = median(selfMs("VectorSearch.embed"))
    out("LocalIndex.ensure_ms") = median(selfMs("LocalIndex.ensure"))
    if (layer != null) {
      val o = layer.outcomes
      val all = o.values.sum
      out("LocalIndex.hit_ratio") = if (all == 0) 0.0 else o("hit").toDouble / all
      out("LocalIndex.appends") = o("append")
      out("LocalIndex.rebuilds") = o("rebuild")
    }
    Kinds.foreach(k => out(s"LocalIndex.append_s.$k") =
      median(named(s"LocalIndex.append.$k").map(s => (s.endNs - s.startNs) / 1e9)))
    out("Tables.loadLayout_ms") = median(selfMs("Tables.loadLayout"))
    out("Tables.schema_jobs") = mean(jobsOf("Tables.loadLayout"))
    out("Ann.codebook_ms") = median(selfMs("Ann.codebook"))
    out("Ann.codebook_trains") = jobsOf("Ann.codebook").count(_ > 0)
    out("InvertedIndex.stats_ms") = median(selfMs("InvertedIndex.stats"))
    out("InvertedIndex.stats_misses") = jobsOf("InvertedIndex.stats").count(_ > 0)
    out("Tombstones.write_ms") = median(selfMs("Tombstones.write"))
    out("Tombstones.compact_ms") = median(selfMs("Tombstones.compact"))
    out("Tombstones.compactions") = ops.count(_.kind == "compact")
    val vectors = rec.get("vectors").map(_.toString.toDouble).getOrElse(0.0)
    out("Tombstones.dead_frac") =
      if (vectors == 0) 0.0 else rec.get("deleted").map(_.toString.toDouble).getOrElse(0.0) / vectors

    ReadType.all.foreach { t =>
      out(s"plan.${t}_ms") = median(selfMs(s"plan.$t"))
      out(s"exec.${t}_ms") = median(selfMs(s"exec.$t"))
      out(s"exec.${t}_jobs") = mean(jobsOf(s"exec.$t"))
      val reads = traced.filter(op => op.kind == "read" && op.typ == t && op.fail.forall(_._2 != null))
      out(s"scan.${t}_rows") = median(reads.map(_.rowsRead.toDouble))
      out(s"scan.${t}_rows_per_result") =
        median(reads.map(op => op.rowsRead.toDouble / math.max(op.results, 1)))
    }
    out("fetch.ivf_i8_ms") = median(selfMs("fetch.ivf_i8"))

    // Spark execution under every traced operation, per operation
    val t = l.byPhase.getOrElse("timed", new l.Totals)
    val n = math.max(traced.size, 1).toDouble
    out("exec.jobs") = jobs.values.sum / n
    out("exec.stages") = t.stages / n
    out("exec.tasks") = t.tasks / n
    out("exec.task_run_ms") = t.runMs / n
    out("exec.task_cpu_ms") = t.cpuNs / 1e6 / n
    out("exec.task_wait_ms") = t.waitMs / n
    out("exec.gc_ms") = t.gcMs / n
    out("exec.shuffle_write_bytes") = t.shWrite / n
    out("exec.shuffle_read_bytes") = t.shRead / n
    out("exec.spill_bytes") = t.spill / n

    (Main.Analytics ++ Main.Curate).foreach { q =>
      out(s"$q.s") = median(ops.filter(_.typ == q).map(_.ms / 1000))
      out(s"$q.jobs") = mean(jobsOf(s"query.$q"))
    }
    Seq("s3", "s10").foreach { g =>
      out(s"EventStream.$g.startup_s") = median(streamPhases.filter(_._1 == g).map(_._2))
      out(s"EventStream.$g.maintain_s") = median(streamPhases.filter(_._1 == g).map(_._3))
    }
    rec.get("layout").foreach { case m: Map[String, Any] @unchecked =>
      val bytes = m("bytes").asInstanceOf[Map[String, Long]]
      Kinds.foreach(k => out(s"layout.bytes.$k") = bytes.getOrElse(k, 0L).toDouble)
      out("layout.part_files") = m("part_files").toString.toDouble
    }
    rec.get("recall_at_10").foreach { case r: scala.collection.Seq[Double] @unchecked =>
      out("Ann.recall_at_10") = mean(r.toSeq) }

    // tracing overhead: median latency of traced minus untraced operations
    // of the same type, weighted by how often each type ran
    val diffs = ops.groupBy(_.typ).toSeq.flatMap { case (_, xs) =>
      val (a, b) = xs.partition(_.traced)
      if (a.isEmpty || b.isEmpty) None
      else Some((median(a.map(_.ms)) - median(b.map(_.ms)), xs.size.toDouble))
    }
    out("trace.overhead_ms") =
      if (diffs.isEmpty) 0.0 else diffs.map { case (d, w) => d * w }.sum / diffs.map(_._2).sum
    out.toMap
  }
}
