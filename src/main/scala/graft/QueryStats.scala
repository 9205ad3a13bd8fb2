package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-query execution stats — the engine-side equivalent of the
  * reference's per-search surface (`search.py:35` returns `read_rows`
  * and `query_time` with every result set): execute the plan, then
  * read the scan-level SQL metrics back off the executed plan. On a
  * pruned plan (partition-filtered index probe, pushed-down predicate)
  * `rowsRead` is the post-pruning count — the number that proves the
  * scan skipped data, which is what you watch at 100 TB.
  *
  * @param wallSec   end-to-end execution wall time
  * @param rowsRead  rows emitted by all file scans (post pushdown)
  * @param filesRead parquet split-files actually opened
  * @param bytesRead bytes of those files
  * @param scans     number of distinct file-scan nodes in the plan
  */
final case class QueryStats(wallSec: Double, rowsRead: Long,
                            filesRead: Long, bytesRead: Long,
                            scans: Int) {
  def pretty: String =
    "wall=%.3fs rowsRead=%d files=%d bytes=%d scans=%d"
      .formatLocal(java.util.Locale.ROOT,
        wallSec, rowsRead, filesRead, bytesRead, scans)
}

object QueryStats {

  /** Execute `df` (full pipeline, nothing collected to the driver) and
    * return its stats. Executes the frame's OWN QueryExecution —
    * a sink write (`.write.format("noop")`) would re-plan under a new
    * QueryExecution and leave this frame's metrics untouched. Build a
    * FRESH frame per call: SQL metrics accumulate across
    * re-executions of the same plan instance. */
  def run(df: DataFrame): QueryStats = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.foreach(_ => ())
    of(df, (System.nanoTime() - t0) / 1e9)
  }

  /** Scan metrics of an already-executed frame. */
  def of(df: DataFrame, wallSec: Double = 0.0): QueryStats = {
    val leaves = planNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }.distinct
    def sum(metric: String): Long =
      leaves.map(_.metrics.get(metric).map(_.value).getOrElse(0L)).sum
    QueryStats(wallSec, sum("numOutputRows"), sum("numFiles"),
      sum("filesSize"), leaves.size)
  }

  /** Every operator of a physical plan, each instance once, reaching
    * through AQE wrappers (the current — after execution, the final —
    * plan), query stages, reused exchanges and subqueries. A plain
    * `collect` stops at `AdaptiveSparkPlanExec` and at every stage;
    * this is the one walk the scan stats, [[Profile]]'s exchange
    * counts and its scan-filter audit share. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = Seq.newBuilder[SparkPlan]
    def walk(n: SparkPlan): Unit = if (seen.add(n)) {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    walk(p)
    out.result()
  }
}
