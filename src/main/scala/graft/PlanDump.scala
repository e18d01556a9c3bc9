package graft

/** Dump `.explain("formatted")` for named registry queries into
  * per-query files — the round-12 optimization evidence
  * (`plans/r12/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * Diagnostics only; never part of the driver contract.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.harness("plandump").getOrCreate()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
