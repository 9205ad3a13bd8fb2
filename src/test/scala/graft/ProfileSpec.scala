package graft

import java.nio.file.{Files, Paths}

class ProfileSpec extends SparkSpec {

  private val names = Seq("q2_filter_project", "d2_ngram_jaccard")
  private lazy val outDir = Files.createTempDirectory("graft-profile").toString
  private lazy val profiles =
    Profile.run(spark, SparkSpec.TinySf, names, Some(outDir))
      .map(p => p.query -> p).toMap

  test("Profile writes one final AQE plan per query") {
    profiles.keySet shouldBe names.toSet
    names.foreach { n =>
      val plan = Files.readString(Paths.get(outDir, s"$n.txt"))
      withClue(n)(plan should include("isFinalPlan=true"))
    }
    new java.io.File(outDir).list().length shouldBe names.size
  }

  test("Profile splits wall time and attributes the pass's jobs") {
    profiles.values.foreach { p =>
      withClue(p.query) {
        p.buildS should be >= 0.0
        p.planS should be >= 0.0
        p.execS should be >= 0.0
        p.jobs should be >= 1
        p.stages should be >= 1
        // not a streaming gate: no stream phases
        p.startupS shouldBe -1.0
      }
    }
  }

  test("Profile reads q2's scan stats; its pushed filter is not heavy") {
    val q2 = profiles("q2_filter_project")
    q2.scan.rowsRead should be > 0L
    q2.scan.scans shouldBe 1
    q2.heavyFilters shouldBe empty
  }

  test("the heavy-filter audit flags a hash predicate fused with the scan under AQE") {
    import org.apache.spark.sql.functions._
    val df = Tables.documents(spark, SparkSpec.TinySf)
      .filter(md5(col("text")).startsWith("a"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    df.queryExecution.toRdd.foreach(_ => ())
    val flagged = Profile.heavyFilters(df.queryExecution.executedPlan)
    flagged should have size 1
    flagged.head should include("md5(")
  }
}
