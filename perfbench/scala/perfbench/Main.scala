package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Harness entry point: `perfbench.Main <config.json>`.
  *
  * perfbench/run.py writes the config (workload, generated inputs, seed,
  * time budget, trace flag, output directory) and reads back the raw
  * measurements this JVM writes to `<out>/jvm.json`; every statistic is
  * computed on the Python side. The engine is used as a library: the
  * session comes from `GraftSession.local`, queries from
  * `SparkEntry.queries`, and the streaming path from the public
  * `graft.streaming` / `graft.sources` entry points. */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new java.io.File(args(0)))
    val out = cfg.get("out").asText
    val result = cfg.get("workload").asText match {
      case "stream_ingest" => StreamRun.run(cfg)
      case _ => BatchRun.run(cfg)
    }
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      new java.io.File(s"$out/jvm.json"), result ++ Map(
        "vmhwm_kb" -> vmHwmKb,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory))
    // non-daemon engine threads must not keep the JVM alive
    System.exit(0)
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  /** CPU time of this JVM, all threads, in ns. */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of this JVM's JIT compiler threads, in ns (from
    * /proc/self/task; the threads are fixed for the JVM's life, see
    * `-UseDynamicNumberOfCompilerThreads` in perfbench/bench/common.py). */
  def jitCpuNs: Long = {
    def read(p: String) = java.nio.file.Files.readString(java.nio.file.Path.of(p))
    new java.io.File("/proc/self/task").listFiles().iterator.map { t =>
      try {
        val comm = read(s"$t/comm")
        if (!comm.startsWith("C1 CompilerThre") &&
            !comm.startsWith("C2 CompilerThre")) 0L
        else {
          val stat = read(s"$t/stat")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          // utime and stime, fields 14 and 15, in clock ticks of 10 ms
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // a thread that ended
    }.sum
  }

  /** Peak resident set of this JVM in KiB (VmHWM), -1 if unreadable. */
  def vmHwmKb: Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  } catch { case _: Exception => -1L }

  /** The session through the engine's own factory, plus the run's conf. */
  def session(nproc: Int, extra: Map[String, String]): SparkSession = {
    val s = graft.core.GraftSession.local(nproc)
    extra.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Explicitly set conf entries, without the per-launch volatile ones
    * (ids, start times, bound hosts and ports, scratch paths). */
  def effectiveConf(s: SparkSession): Map[String, String] = {
    val volatile = Set("spark.app.id", "spark.app.startTime",
      "spark.app.submitTime", "spark.executor.id", "spark.sql.warehouse.dir",
      "spark.app.initial.jar.urls", "spark.repl.class.uri")
    s.conf.getAll.filter { case (k, _) =>
      !volatile(k) && !k.endsWith(".host") && !k.endsWith(".port") }
  }

  def err(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(4)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- ")
      .take(2000)
}
