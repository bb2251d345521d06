package graft.tools

/** Ad-hoc plan/perf probe: runs named queries N times and prints timings.
  * Usage: runMain graft.tools.Probe <sfDir> <n> <q>...
  *   SPARK_GRAFT_CPUS  local cores (default 4, as Bench)
  *   PROBE_CONF        "key=value;key=value" runtime SQL confs set on top
  *                     of the factory session (rule exclusions, codegen knobs)
  *   PROBE_STAGES      per-rep GC / spill / peak task memory, and the six
  *                     heaviest stages of the last rep
  *   PROBE_EXPLAIN     the formatted plan of each query */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args.drop(2)
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    sys.env.get("PROBE_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val stageStats = sys.env.contains("PROBE_STAGES")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    // per-rep telemetry for the r15 32-core cold-window investigation:
    // GC, spill and peak task memory accumulated across a rep's stages
    val gcMs = new java.util.concurrent.atomic.AtomicLong()
    val spillB = new java.util.concurrent.atomic.AtomicLong()
    val peakMem = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.add((si.stageId, si.taskMetrics.executorRunTime,
          si.numTasks.toLong, si.name.take(120)))
        gcMs.addAndGet(si.taskMetrics.jvmGCTime)
        spillB.addAndGet(si.taskMetrics.memoryBytesSpilled)
        peakMem.updateAndGet(v => math.max(v, si.taskMetrics.peakExecutionMemory))
      }
    })

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to n).foreach { i =>
        stages.clear(); gcMs.set(0); spillB.set(0); peakMem.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (!stageStats) println(f"[probe] $name run$i $dt%.2f s")
        else {
          Thread.sleep(300) // listener bus drain so the rep's totals are complete
          println(f"[probe] $name run$i $dt%.2f s gc=${gcMs.get}ms " +
            f"spill=${spillB.get / (1024 * 1024)}MB peakTaskMem=${peakMem.get / (1024 * 1024)}MB")
          if (i == n) stages.toArray(Array.empty[(Int, Long, Long, String)])
            .sortBy(-_._2).take(6).foreach { case (id, rt, nt, nm) =>
              println(f"[stage] id=$id run=${rt}ms tasks=$nt $nm")
            }
        }
      }
      if (sys.env.contains("PROBE_EXPLAIN")) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
