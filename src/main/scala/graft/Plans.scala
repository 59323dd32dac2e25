package graft

/** Dev plan-dump main (not shipped API): runs each named gate under the
  * EXACT bench session config and writes the final DataFrame's
  * `.explain("formatted")` to <outDir>/<gate>_<suffix>.txt — the
  * committed before/after evidence for optimization rounds.
  *
  * Usage: runMain graft.Plans <gate[,gate...]> <suffix> [outDir] [sfDir]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val suffix = args(1)
    val outDir = if (args.length > 2) args(2) else "/root/repo/plans/r17"
    val sfDir = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
