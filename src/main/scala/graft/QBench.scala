package graft

/** Dev tool: time ONE declared query in isolation (3 runs, same conf
  * as [[Bench]]) — `runMain graft.QBench q24_ngram_jaccard_pairs
  * [sfDir]`. Bench's full sweep hides which change moved a single
  * query; this doesn't. */
object QBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus,
      // SPARK_GRAFT_AQE=false isolates AQE's per-query-stage job cost
      // for a single query (Bench always runs with AQE on)
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    def once(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Bench's state discipline, per run: leaked checkpoint blocks from
    // run N otherwise raise memory pressure under run N+1 and the
    // isolated numbers stop matching the sweep's (observed: q89
    // flapping 6-12 s here vs a stable sweep row).
    def drop(): Unit = Sessions.dropBlocks(spark, gcPauseMs = 500)
    // untimed warm-up excluded from the printed list: the first run
    // reads 3–15x steady state (JIT + page-cache fill — observed q15
    // 6.27 then 0.40–0.66), and anyone quoting run #1 gets a phantom
    val warm = { val r = once(); drop(); r }
    val runs = Seq.fill(5) { val r = once(); drop(); r }
    println(f"[qbench] $name ${runs.map(r => f"$r%.2f").mkString(" ")} " +
      f"min=${runs.min}%.2f (warm-up $warm%.2f excluded)")
    spark.stop()
  }
}
