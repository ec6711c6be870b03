package graft

/** Dev tool: write each named query's `explain("formatted")` output to
  * `<outdir>/<query>_<suffix>.txt` — the plans/rNN before/after evidence
  * the optimization rounds commit (round-17 verdict #8: after-plan dumps
  * must be committed, not just cited). Usage:
  *
  *   runMain graft.PlanDump <outdir> <suffix> <query> [query ...]
  *
  * Same session as Bench ([[Measure.session]]: local[$SPARK_GRAFT_CPUS],
  * default 32, shuffle partitions = cpus, AQE on), so the dumped plan is
  * the planned shape the bench executes (AQE's runtime re-optimization is
  * not visible in a pre-execution dump; Exchange counts and join
  * strategies are).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outdir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Measure.session(Measure.cpus(32))
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = SparkEntry.benchQueries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan)
      println(s"[plandump] $n -> ${outDir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
