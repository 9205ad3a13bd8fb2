package graft

import graft.operators.{Dedup, SemCells}

/** Capacity-cliff stress run for the dedup family (r19): drives
  * d5/d9/d10 on generated corpora PAST the round-18 single-level
  * cliffs — corpora where the r18 occupancy guards failed loudly by
  * design — and records that the two-level assignment
  * ([[graft.operators.SemCells]]) and the n-scaled d5 plane count run
  * them instead.
  *
  * Old cliffs: d5 at 2^8·500 = 128,000 vectors (fixed 8 planes);
  * d9/d10 at 4096·500 = 2,048,000 vectors (SemMaxK-saturated flat
  * codebook). Defaults sit past both: 150k for d5, 2.2M for d9/d10.
  *
  * Usage: runMain graft.SemStress [d5N] [bigN]
  * Writes one JSON line (and SEMSTRESS.json or $SPARK_GRAFT_STRESS_OUT)
  * with per-operator walls, result rows, and the assignment evidence
  * (planes, k_total, assigner levels). Corpora cache in the tmpdir
  * ([[GenSf.ensureNearDupEmbeddings]]) so reruns pay only the queries.
  */
object SemStress {
  def main(args: Array[String]): Unit = {
    val d5n = args.headOption.map(_.toLong).getOrElse(150000L)
    val bigN = args.drop(1).headOption.map(_.toLong).getOrElse(2200000L)
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "SEMSTRESS.json")
    val spark = GraftSession.local(GraftSession.cpus)
    graft.functions.vectors.register(spark)
    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime; val r = f
      (math.rint((System.nanoTime - t0) / 1e7) / 100.0, r)
    }
    try {
      // ---- d5 past the fixed-plane cliff
      require(d5n > (1L << 8) * Dedup.MaxNearDupBucket,
        s"d5 stress n=$d5n is not past the old 8-plane cliff")
      val d5dir = GenSf.ensureNearDupEmbeddings(spark, d5n)
      val d5planes = Dedup.nearDupPlanesFor(d5n)
      val (d5w, d5rows) = timed(Dedup.d5Query(spark, d5dir).count())

      // ---- d9/d10 past the SemMaxK flat-codebook cliff
      require(bigN > Dedup.SemMaxK.toLong * Dedup.MaxNearDupBucket,
        s"sem stress n=$bigN is not past the old SemMaxK cliff")
      val bigDir = GenSf.ensureNearDupEmbeddings(spark, bigN)
      val (d9w, d9rows) = timed(Dedup.d9Query(spark, bigDir).count())
      val d9asg = Dedup.semAssignerFor(spark, bigDir)
      val (d10w, d10rows) = timed(Dedup.d10Query(spark, bigDir).count())
      val d10asg = Dedup.semIndexAssignerFor(spark, bigDir)
      def levels(a: SemCells.Assigner): String = a match {
        case _: SemCells.Flat => "flat"
        case t: SemCells.TwoLevel =>
          s"two-level ${t.coarse.size}x${t.fine.valuesIterator.map(_.size).max}"
      }
      val json =
        s"""{"metric":"sem_stress","unit":"sec","d5":{"n":$d5n,""" +
          s""""planes":$d5planes,"wall":$d5w,"rows":$d5rows},""" +
          s""""d9":{"n":$bigN,"k_total":${d9asg.k},""" +
          s""""assigner":"${levels(d9asg)}","wall":$d9w,"rows":$d9rows},""" +
          s""""d10":{"n":$bigN,"k_total":${d10asg.k},""" +
          s""""assigner":"${levels(d10asg)}","wall":$d10w,"rows":$d10rows}}"""
      println(json)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    } finally spark.stop()
  }
}
