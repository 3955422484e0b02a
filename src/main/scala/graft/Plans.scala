package graft

/** Plan-capture main for the optimization rounds: writes
  * `.explain("formatted")` of selected catalog queries to files, so plan
  * claims in OPTIMIZATION_rNN.md are checkable without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <suffix> key1,key2,...
  * Writes <outDir>/<key>_<suffix>.txt per key. Keys are exact catalog
  * names; `frame:<tag>` keys are not supported — pass the forcing query
  * instead.
  * Planning only (no job runs), so this is safe to run beside other work.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Plans <sfDir> <outDir> <suffix> <keys,csv>")
    val Array(sfDir, outDir, suffix, keysCsv) = args
    val keys = keysCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val (spark, _) = LocalSession(defaultCores = 32, logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      SparkEntry.queries.get(k) match {
        case None => System.err.println(s"[plans] no such key: $k")
        case Some(q) =>
          try {
            val df = q(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${k}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            System.err.println(s"[plans] wrote ${k}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $k failed: $e")
          }
      }
    }
    spark.stop()
  }
}
