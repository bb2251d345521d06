package perfbench

import com.fasterxml.jackson.databind.JsonNode

import scala.jdk.CollectionConverters._

/** Closed-loop batch workload: one client, one query at a time.
  *
  * Set-up ends after an untimed warm-up: a pass on nproc threads that
  * writes every query's result as parquet under `<out>/results/<query>`
  * for the oracle compare, then one sequential pass in the timed form
  * (the first passes pay JIT and codegen, so they must not be timed). The
  * timed loop then runs the seed-shuffled passes, each query written to
  * the `noop` sink, in whole passes, for about the time budget. */
object BatchRun {
  def run(cfg: JsonNode): Map[String, Any] = {
    val out = cfg.get("out").asText
    val corpus = cfg.get("corpus").asText
    val nproc = cfg.get("nproc").asInt
    val budgetNs = (cfg.get("seconds").asDouble * 1e9).toLong
    val spans = new Spans(cfg.get("trace").asBoolean)
    val warmOrder = Main.strings(cfg.get("warm_order"))
    val passes = cfg.get("passes").elements.asScala.map(Main.strings).toSeq
    val all = graft.SparkEntry.queries

    val t0 = System.nanoTime()
    val spark = Main.session(nproc, Map.empty)
    val sc = spark.sparkContext
    val tSession = System.nanoTime()
    val trace = if (spans.enabled) {
      val t = new SparkTrace(spans); t.register(spark); Some(t)
    } else None

    // the warm-up runs on nproc client threads: it only has to compile
    // and JIT every query's path and dump its result, and the first
    // queries in a fresh JVM pay mostly single-threaded compilation
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    val warm = warmOrder.map { name =>
      pool.submit(() => {
        val s0 = System.nanoTime()
        sc.setJobGroup(s"w|$name", name)
        val err = try {
          all(name)(spark, corpus).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/results/$name")
          None
        } catch { case e: Throwable => Some(Main.err(e)) }
        Map("name" -> name, "s" -> (System.nanoTime() - s0) / 1e9,
          "error" -> err)
      })
    }.map(_.get)
    pool.shutdown()
    // then one untimed pass in the timed form: the first sequential pass
    // still runs a fifth slower than the next while the JIT catches up
    val warm2 = warmOrder.map { name =>
      sc.setJobGroup(s"w2|$name", name)
      val err = try {
        all(name)(spark, corpus).write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(Main.err(e)) }
      Map("name" -> name, "error" -> err)
    }
    spark.catalog.clearCache()
    val ready = System.nanoTime()
    spans.add(0, "setup", "core", t0, ready)

    val deadline = ready + budgetNs
    val timed = Vector.newBuilder[Map[String, Any]]
    val passRecs = Vector.newBuilder[Map[String, Any]]
    var p = 0
    // whole passes only, so every pass times the same queries; a pass
    // starts while the budget is not used up
    while (p < passes.size && System.nanoTime() < deadline) {
      val ps = System.nanoTime()
      val order = passes(p)
      var i = 0
      while (i < order.size) {
        val name = order(i)
        val qs = System.nanoTime()
        val cpu0 = Main.processCpuNs
        val jit0 = Main.jitCpuNs
        val qSpan = spans.reserve()
        val bSpan = spans.reserve()
        sc.setJobGroup(s"t|$p|$name|build", name)
        sc.setLocalProperty("perfbench.span", bSpan.toString)
        var built = qs
        val err = try {
          val df = all(name)(spark, corpus)
          built = System.nanoTime()
          spans.close(bSpan, qSpan, "build", "queries.build", qs, built)
          val eSpan = spans.reserve()
          sc.setJobGroup(s"t|$p|$name|exec", name)
          sc.setLocalProperty("perfbench.span", eSpan.toString)
          df.write.format("noop").mode("overwrite").save()
          spans.close(eSpan, qSpan, "exec", "queries.exec", built,
            System.nanoTime())
          None
        } catch { case e: Throwable => Some(Main.err(e)) }
        val qe = System.nanoTime()
        spans.close(qSpan, 0, s"query $name", "queries", qs, qe)
        spark.catalog.clearCache()
        timed += Map("pass" -> p, "name" -> name, "start_ns" -> qs,
          "built_ns" -> built, "end_ns" -> qe, "error" -> err,
          "cpu_ns" -> (Main.processCpuNs - cpu0),
          "jit_ns" -> (Main.jitCpuNs - jit0))
        i += 1
      }
      passRecs += Map("pass" -> p, "start_ns" -> ps,
        "end_ns" -> System.nanoTime())
      p += 1
    }
    val end = System.nanoTime()
    sc.clearJobGroup()
    // listener events are delivered asynchronously; let the bus drain
    if (trace.isDefined) Thread.sleep(1500)
    val conf = Main.effectiveConf(spark)
    spark.stop()
    Map("t0_ns" -> t0, "session_s" -> (tSession - t0) / 1e9,
      "warmup_s" -> (ready - tSession) / 1e9, "ready_ns" -> ready,
      "end_ns" -> end, "warm" -> warm, "warm2" -> warm2, "timed" -> timed.result(),
      "passes" -> passRecs.result(), "conf" -> conf,
      "oracle" -> warmOrder.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "trace" -> trace.map(_.dump()), "spans" -> spans.all.map(_.toMap))
  }
}
