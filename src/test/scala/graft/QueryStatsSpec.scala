package graft

import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Ann

class QueryStatsSpec extends SparkSpec {

  test("QueryStats reports wall time and scan rows/files for a plain scan") {
    val stats = QueryStats.run(
      Tables.embeddings(spark, SparkSpec.TinySf).select(col("vec_id")))
    stats.wallSec should be > 0.0
    stats.scans shouldBe 1
    stats.filesRead should be >= 1L
    stats.bytesRead should be > 0L
    stats.rowsRead shouldBe Tables.embeddings(spark, SparkSpec.TinySf).count()
  }

  test("QueryStats shows partition pruning: indexed probe reads fewer rows than the corpus") {
    val total = Tables.embeddings(spark, SparkSpec.TinySf).count()
    val stats = QueryStats.run(Ann.indexedLshKnn(spark, SparkSpec.TinySf))
    // the probe set prunes bucket directories at planning time, so the
    // scan-level read count — the search.py read_rows analog — must be
    // strictly below the corpus size
    stats.rowsRead should be > 0L
    stats.rowsRead should be < total
  }

  test("QueryStats reaches scans under AQE wrappers and joins") {
    val docs = Tables.documents(spark, SparkSpec.TinySf)
    val embs = Tables.embeddings(spark, SparkSpec.TinySf)
    val joined = docs.join(embs, col("doc_id") === col("vec_id"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val stats = QueryStats.run(joined)
    stats.scans shouldBe 2
    stats.rowsRead shouldBe docs.count() + embs.count()
  }

  test("planNodes reaches a filter inside the executed AQE plan") {
    val agg = Tables.lineitem(spark, SparkSpec.TinySf)
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    agg.queryExecution.toRdd.foreach(_ => ())
    val plan = agg.queryExecution.executedPlan
    plan shouldBe an[AdaptiveSparkPlanExec]
    // a plain collect stops at the AQE wrapper; the shared walker does not
    plan.collect { case f: FilterExec => f } shouldBe empty
    QueryStats.planNodes(plan).collect { case f: FilterExec => f } should not be empty
  }
}
