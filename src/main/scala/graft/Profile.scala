package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}

import graft.streaming.EventStream

/** What one registered query did, layer by layer — the engine-side
  * form of the reference's per-search execution stats (`search.py:35`
  * returns `read_rows`/`query_time` with every result), for the whole
  * inventory.
  *
  * @param buildS  seconds constructing the frame: eager ensure/index
  *                pre-work and, for a streaming gate, its whole bounded
  *                stream (split out as `startupS` + `maintainS`)
  * @param planS   seconds forcing `executedPlan` (analysis, optimizer,
  *                physical planning — driver, single-threaded)
  * @param execS   seconds executing that plan via `toRdd` (no re-plan;
  *                close to, not identical to, Bench's noop sink)
  * @param jobs    Spark jobs of the instrumented pass, attributed by its
  *                job tag; `stages` … `spillBytes` sum over their
  *                completed stages
  * @param scan    file-scan rows/files/bytes of that pass
  * @param exchanges / reusedExchanges  in the final (AQE) plan
  * @param heavyFilters scan-stage filter conditions holding expensive
  *                expressions (see [[Profile.HeavyFilter]])
  * @param startupS / maintainS  a streaming gate's phases
  *                ([[EventStream.lastPhases]]), −1 for other queries
  * @param finalPlan formatted final plan; AQE's explain also prints the
  *                initial plan inside it
  */
final case class Profile(query: String, buildS: Double, planS: Double,
    execS: Double, jobs: Int, stages: Int, tasks: Long, taskRunMs: Long,
    taskCpuMs: Long, gcMs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, scan: QueryStats,
    exchanges: Int, reusedExchanges: Int, heavyFilters: Seq[String],
    startupS: Double, maintainS: Double, finalPlan: String) {
  def line: String =
    ("[profile] %s build=%.3f plan=%.3f exec=%.3f jobs=%d stages=%d " +
      "tasks=%d task_run_ms=%d task_cpu_ms=%d gc_ms=%d shuffle_read=%d " +
      "shuffle_write=%d spill=%d rows=%d files=%d bytes=%d scans=%d " +
      "exchanges=%d reused=%d startup=%.3f maintain=%.3f heavy=%d")
      .formatLocal(java.util.Locale.ROOT, query, buildS, planS, execS,
        jobs, stages, tasks, taskRunMs, taskCpuMs, gcMs, shuffleReadBytes,
        shuffleWriteBytes, spillBytes, scan.rowsRead, scan.filesRead,
        scan.bytesRead, scan.scans, exchanges, reusedExchanges, startupS,
        maintainS, heavyFilters.size)
}

/** `runMain graft.Profile [outDir]` — profiles every query
  * [[SparkEntry.selected]] names (SPARK_GRAFT_BENCH_ONLY) on
  * SPARK_GRAFT_SF_DIR: one `[profile]` line per query, one
  * `HEAVY scan-stage filter` line per flagged filter, and with `outDir`
  * one `<query>.txt` final plan per query. Per query: one warm-up pass,
  * then [[Bench.Runs]] passes whose build/plan/exec medians are
  * reported; the last pass is the instrumented one. Builder-side tool,
  * no JSON contract. */
object Profile {

  /** Expressions too expensive for a scan-stage filter. Predicate
    * pushdown substituting a derived column's whole defining expression
    * into the scan filter was the dominant profiled pathology this
    * engine tunes against (see GraftSession, Dedup's spread/materialize
    * placement); hash-based sampling predicates are expected hits. */
  val HeavyFilter: Seq[String] =
    Seq("md5(", "transform(", "aggregate(", "array_min(", "zip_with(",
      "concat_ws(", "minhash", "simhash", "shingle")

  /** Conditions of the plan's scan-stage filters — no shuffle below
    * them, so they run fused with the scan, before any exchange could
    * spread their work — that hold a [[HeavyFilter]] expression. */
  def heavyFilters(plan: SparkPlan): Seq[String] =
    QueryStats.planNodes(plan).collect {
      case f: FilterExec if HeavyFilter.exists(f.condition.toString.contains) &&
          !QueryStats.planNodes(f.child).exists(_.isInstanceOf[ShuffleExchangeLike]) =>
        f.condition.toString.take(300)
    }

  /** Counters of the jobs carrying one tag, read on the listener bus.
    * [[drain]] returns once every tagged job has ended and the bus has
    * been quiet for a few polls — no fixed sleep, no shared buffers. */
  private final class TagListener(tag: String) extends SparkListener {
    private var events = 0L
    private val open = mutable.Set[Int]()
    private val ourStages = mutable.Set[Int]()
    var jobs, stages = 0
    var tasks, runMs, cpuNs, gcMs, shRead, shWrite, spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      if (tags.split(",").contains(tag)) {
        jobs += 1
        open += e.jobId
        ourStages ++= e.stageIds
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      open -= e.jobId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        events += 1
        val si = e.stageInfo
        if (ourStages.contains(si.stageId)) {
          val m = si.taskMetrics
          stages += 1
          tasks += si.numTasks
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          shRead += m.shuffleReadMetrics.totalBytesRead
          shWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

    def drain(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      var last = -1L
      var quiet = 0
      while (quiet < 3 && System.nanoTime() < deadline) {
        Thread.sleep(25)
        val (n, busy) = synchronized((events, open.nonEmpty))
        if (n == last && !busy) quiet += 1 else { quiet = 0; last = n }
      }
    }
  }

  private final case class Pass(buildS: Double, planS: Double,
      stats: QueryStats, df: DataFrame)

  private def pass(spark: SparkSession, sfDir: String, name: String): Pass = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan // analyze + optimize + plan
    val t2 = System.nanoTime()
    Pass((t1 - t0) / 1e9, (t2 - t1) / 1e9, QueryStats.run(df), df)
  }

  /** Profile one registered query: a warm-up pass, then [[Bench.Runs]]
    * passes, the last of them instrumented. */
  def of(spark: SparkSession, sfDir: String, name: String): Profile = {
    val sc = spark.sparkContext
    pass(spark, sfDir, name) // warm-up
    val plain = Seq.fill(Bench.Runs - 1)(pass(spark, sfDir, name))
    val gate = name.takeWhile(_ != '_')
    EventStream.lastPhases.remove(gate)
    // a job TAG, not a job group: a streaming gate's micro-batches run
    // under the stream's own job group but inherit the caller's tags
    val tag = s"graft-profile-$name-${System.nanoTime()}"
    val l = new TagListener(tag)
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    val last =
      try pass(spark, sfDir, name)
      finally { sc.removeJobTag(tag); l.drain(); sc.removeSparkListener(l) }
    val ps = plain :+ last
    def med(f: Pass => Double): Double = ps.map(f).sorted.apply(ps.size / 2)
    val plan = last.df.queryExecution.executedPlan
    val nodes = QueryStats.planNodes(plan)
    val (startup, maintain) =
      Option(EventStream.lastPhases.get(gate)).getOrElse((-1.0, -1.0))
    Profile(name, med(_.buildS), med(_.planS), med(_.stats.wallSec),
      l.jobs, l.stages, l.tasks, l.runMs, l.cpuNs / 1000000, l.gcMs,
      l.shRead, l.shWrite, l.spill, last.stats,
      nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]), heavyFilters(plan),
      startup, maintain,
      last.df.queryExecution.explainString(FormattedMode))
  }

  /** Profile `names` in order, printing each query's lines as it
    * finishes (a failure prints a FAIL line and moves on) and writing
    * its final plan to `outDir/<query>.txt` when given. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Option[String]): Seq[Profile] = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.flatMap { n =>
      try {
        val p = of(spark, sfDir, n)
        println(p.line)
        p.heavyFilters.foreach(c =>
          println(s"[profile] $n: HEAVY scan-stage filter: $c"))
        outDir.foreach(d => Files.writeString(Paths.get(d, s"$n.txt"), p.finalPlan))
        Some(p)
      } catch { case e: Throwable =>
        println(s"[profile] FAIL $n: ${e.getClass.getSimpleName} ${e.getMessage}")
        None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sfDir, SparkEntry.selected, args.headOption)
    finally spark.stop()
  }
}
