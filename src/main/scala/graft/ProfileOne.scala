package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Optimization-round tooling: run ONE query end-to-end through the noop
 * sink and print per-job and per-stage wall times (guide §1/§7 — find
 * where the time goes before changing anything). Not part of the driver
 * contract; never touches query results.
 *
 * Usage: runMain graft.ProfileOne <sfDir> <queryName> [reps]
 */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    // extra confs for A/B experiments: "k=v;k=v"
    val extra = sys.env.get("SPARK_GRAFT_PROF_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = SparkEntry.localSession(defaultCpus = "32", extra)
    @volatile var jobStart = Map.empty[Int, (Long, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart += js.jobId -> (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse(""))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.get(je.jobId).foreach { case (t0, desc) =>
          println(f"[job ${je.jobId}%4d] ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        if (ms >= 200) {
          val m = si.taskMetrics
          println(f"    [stage ${si.stageId}%4d] ${ms / 1e3}%7.3f s tasks=${si.numTasks} ${si.name.take(60)}")
          println(s"      in=${m.inputMetrics.recordsRead} sr=${m.shuffleReadMetrics.recordsRead} " +
            s"sw=${m.shuffleWriteMetrics.recordsWritten} out=${m.outputMetrics.recordsWritten} " +
            s"cpu=${m.executorCpuTime / 1000000} ms")
          println("      rdd: " + si.rddInfos.map(r =>
            s"${r.id}:${r.name}${r.scope.map("/" + _.name).getOrElse("")}")
            .mkString(" <- ").take(400))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = SparkEntry.queries(name)
    for (r <- 1 to reps) {
      println(s"=== rep $r ===")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"=== rep $r total ${(System.nanoTime() - t0) / 1e9}%7.3f s ===")
      Thread.sleep(300)
    }
    spark.stop()
  }
}
