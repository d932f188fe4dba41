package graft

import java.nio.file.{Files, Paths}

/**
 * Optimization-round tooling: dump `.explain("formatted")` for named
 * queries to files (the judge's plan evidence — plans/r17/<q>_before.txt
 * / _after.txt). Not part of the driver contract; never touches query
 * results.
 *
 * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [prefixes]
 *   suffix    appended to each file name (e.g. "before"/"after")
 *   prefixes  comma-separated query-name prefixes (default: all)
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val nameFilter: String => Boolean = args.drop(3).headOption match {
      case Some(p) => name => p.split(",").exists(name.startsWith)
      case None    => _ => true
    }
    val spark = SparkEntry.localSession(defaultCpus = "32")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
