package graft

/** Plan inspector: print the formatted physical plan and wall time of one
  * named query. `runMain graft.Explain <queryName> [sfDir]`.
  *
  * Batch mode (r16 optimization round): dump the formatted plan + cold/warm
  * noop-sink wall times for MANY queries into per-query files — the
  * `plans/r16/<query>_{before,after}.txt` evidence the optimization rounds
  * commit. `runMain graft.Explain --dump <outDir> <suffix> <sfDir> <q...>`
  * writes `<outDir>/<query>_<suffix>.txt` for each query.
  */
object Explain {
  /** Formatted physical plan as a string (what df.explain("formatted")
    * prints), via the classic Dataset's queryExecution. */
  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "--dump") {
      if (args.length < 4) {
        System.err.println(
          "usage: Explain --dump <outDir> <suffix> <sfDir> <query...>")
        sys.exit(2)
      }
      val Array(_, outDir, suffix, sfDir) = args.take(4)
      val names = args.drop(4)
      val spark = Harness.session(Harness.cores)
      val all = SparkEntry.queries ++ SparkEntry.benchOnly
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      names.foreach { name =>
        val plan = formatted(all(name)(spark, sfDir))
        def pass(): Double = Harness.timedPass(spark)(all(name)(spark, sfDir))
        val cold = pass()
        val warm = pass()
        val hdr = f"-- $name @ $sfDir cold=$cold%.2fs warm=$warm%.2fs" +
          s" cpus=${Harness.cores}\n"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), hdr + plan)
        println(f"[explain] $name cold=$cold%.2fs warm=$warm%.2fs")
      }
      spark.stop()
      return
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Harness.session(Harness.cores)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val cold = Harness.timedPass(spark)(df)
    println(f"[explain] $name cold run: $cold%.2f s")
    val warm = Harness.timedPass(spark)(SparkEntry.queries(name)(spark, sfDir))
    println(f"[explain] $name warm run: $warm%.2f s")
    spark.stop()
  }
}
