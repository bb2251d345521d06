package graft.tools

import java.nio.file.{Files, Paths}


/** Final-AQE plan corpus for the COMPLETE query inventory (VERDICT r10
  * item 5): PLANS.md covers the headline tail with annotated initial
  * plans; this dumps the post-execution adaptive plan of every
  * SparkEntry query so any round-over-round drift (a new exchange, a
  * lost pushed filter, a broadcast that became a shuffle) is a reviewable
  * DIFF instead of a re-derivation.
  *
  * Each query EXECUTES through the noop sink first — only then does
  * `AdaptiveSparkPlan` report `isFinalPlan=true` with the runtime-chosen
  * strategies, which is the plan that actually ran (the r10 DPP lesson:
  * pre-execution plans can carry expressions that silently degrade).
  *
  * Run-varying tokens are scrubbed so reruns diff clean:
  * expression/plan ids (#123, plan_id=456), temp staging dirs, and result
  * ids. Usage: runMain graft.tools.PlansFull [sfDir] → PLANS_full.md.
  */
object PlansFull {
  private[tools] def scrub(plan: String): String = plan
    .replaceAll("#\\d+", "#X")
    .replaceAll("plan_id=\\d+", "plan_id=X")
    .replaceAll("\\bid=#?\\d+", "id=X")
    .replaceAll("result=\\[[^\\]]*\\]", "result=[X]")
    // JVM object identities on typed-aggregator instances, and RDD
    // lineage numbers on checkpointed inputs
    .replaceAll("@[0-9a-f]{6,}", "@X")
    .replaceAll("RDD\\[\\d+\\]", "RDD[X]")
    // uuid() draws a random seed per plan; q61 may additionally jitter
    // in its distinct-Expand branch ORDER (seed-keyed) — the one known
    // cosmetic residual a reviewer should ignore when diffing
    .replaceAll("uuid\\(Some\\(-?\\d+\\)\\)", "uuid(Some(X))")
    // temp staging roots (IVF indexes, signature stores, spools) get a
    // fresh random dir per run
    .replaceAll("/tmp/[-\\w.]+", "TMPDIR")
    .replaceAll("target/[-\\w./]*tmp[-\\w./]*", "TMPDIR")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // capture every localCheckpoint site's PRE-pin subplan (graft.Pins) so
    // pinned plans stay scan-count-auditable: the main dump reads
    // `Scan ExistingRDD` at a pin, which otherwise hides the pinned
    // subtree's parquet scans from a reviewer (VERDICT r15 item 7)
    System.setProperty("graft.capturePinPlans", "true")
    val spark = graft.core.GraftSession.local(16)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS_full — final AQE plans, complete inventory ")
    sb.append("(generated by graft.tools.PlansFull)\n\n")
    sb.append(s"Corpus: `$sfDir`. Every query executed through the noop sink; the\n")
    sb.append("dumped tree is the FINAL adaptive plan (isFinalPlan=true) — the one\n")
    sb.append("that ran, runtime strategy choices included. Expression ids and temp\n")
    sb.append("paths are scrubbed so two rounds' dumps diff cleanly.\n")

    var failed = List.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n${scrub(plan)}```\n")
        val pins = graft.Pins.drain()
        if (pins.nonEmpty) {
          // a `Scan ExistingRDD` above is one of these checkpointed
          // subtrees — their scans/exchanges count toward the query's
          // real I/O. Loop sites (matvec/Lloyd/CC rounds) emit one
          // entry per iteration; post-first-cut iterations read the
          // previous pin, so their subplans are scan-free by design.
          sb.append(s"\n### $name — pinned (localCheckpoint) subtrees\n")
          pins.foreach { p =>
            sb.append(s"\n**pin: ${p.label}** (pre-checkpoint plan; " +
              "executes as its own job at plan-construction time)\n")
            sb.append(s"\n```\n${scrub(p.plan)}```\n")
          }
        }
      } catch { case e: Exception =>
        failed ::= name
        graft.Pins.drain()
        sb.append(s"\n## $name\n\nFAILED: ${e.getMessage}\n")
      }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get("PLANS_full.md"), sb.toString)
    println(s"[plans-full] wrote PLANS_full.md " +
      s"(${graft.SparkEntry.queries.size} queries, failed=${failed.reverse})")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
