package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** The paper's ingest path, driven from outside by perfbench/bench/gen.py:
  * HTTP POST → `HttpIngest` spool → `Sources.jsonEventStream`, read by two
  * subscribed queries:
  *  - `dedup`: `StatefulOps.dedupWithinWatermark` on `event_id`, whose
  *    foreachBatch callback stamps the emission time of every event;
  *  - `upsert`: `Sinks.upsertParquet`, keep-latest per `user_id` into a
  *    parquet store, an AvailableNow query, run in set-up and again
  *    after the timed phases.
  *
  * Protocol on stdout/stdin with run.py: `PORT <port>` once the server
  * listens; run.py posts the warm-up events; `READY <ns>` once they were
  * emitted and upserted (the end of set-up); run.py runs the generator and
  * then writes `DONE <n>`, the number of unique events acked; the JVM
  * waits until all are emitted, upserts the rest and writes its file. */
object StreamRun {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("phase", StringType),
    StructField("gen_ns", LongType)))
  val storeCols: Seq[String] =
    Seq("event_id", "ts", "user_id", "event_type", "value")

  final case class Emitted(batch: Long, emitNs: Long, ids: Array[Long],
      genNs: Array[Long], phases: Array[String])

  def run(cfg: JsonNode): Map[String, Any] = {
    val out = cfg.get("out").asText
    val nproc = cfg.get("nproc").asInt
    val spans = new Spans(cfg.get("trace").asBoolean)
    val warmEvents = cfg.get("warm_events").asLong
    val watermark = cfg.get("watermark").asText
    val spool = s"$out/spool"
    val store = s"$out/store"

    val t0 = System.nanoTime()
    val spark = Main.session(nproc, Map(
      // the production provider StatefulOps names; disk-backed state
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val tSession = System.nanoTime()
    val trace = if (spans.enabled) {
      val t = new SparkTrace(spans); t.register(spark); Some(t)
    } else None
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    if (spans.enabled) spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        progress.add(Map("seen_ns" -> System.nanoTime(),
          "name" -> Option(p.name).getOrElse(""), "run_id" -> p.runId.toString,
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap,
          "state" -> st.map(s => Map("rows_total" -> s.numRowsTotal,
            "rows_updated" -> s.numRowsUpdated, "commit_ms" -> s.commitTimeMs,
            "memory_bytes" -> s.memoryUsedBytes))))
      }
    })

    val server = graft.streaming.HttpIngest.start(spool, 0)
    val src = graft.sources.Sources.jsonEventStream(spark, spool, schema)

    val emitted = new ConcurrentLinkedQueue[Emitted]()
    val emittedRows = new AtomicLong(0)
    val registry = new graft.streaming.TopicRegistry
    val dedup = graft.streaming.StatefulOps.dedupWithinWatermark(
      src, watermark, Seq("event_id"))
    val dq = registry.subscribe("perfbench", "dedup", dedup, s"$out/ckpt") {
      (df: DataFrame, batch: Long) =>
        val rows = df.select("event_id", "gen_ns", "phase").collect()
        val now = System.nanoTime()
        if (rows.nonEmpty) {
          emitted.add(Emitted(batch, now, rows.map(_.getLong(0)),
            rows.map(_.getLong(1)), rows.map(_.getString(2))))
          emittedRows.addAndGet(rows.length)
        }
    }

    // upsert runs twice: in set-up, over the warm-up events, and after the
    // timed phases, over everything they posted. Run beside dedup, each
    // 5-7 s run slowed whichever micro-batches it overlapped, so dedup's
    // figures depended on where the runs landed.
    val upsertRuns = Vector.newBuilder[Map[String, Any]]
    def upsertOnce(): Long = {
      val s = System.nanoTime()
      val q = graft.streaming.Sinks.upsertParquet(
        src.select(storeCols.map(col): _*), store, s"$out/ckpt-upsert",
        Seq("user_id"), "ts")
      q.awaitTermination()
      val rows = q.recentProgress.map(_.numInputRows).sum
      upsertRuns += Map("start_ns" -> s, "end_ns" -> System.nanoTime(),
        "rows" -> rows, "run_id" -> q.runId.toString)
      rows
    }

    println(s"PORT ${server.port}")
    Console.flush()
    awaitCount(emittedRows, warmEvents, 120)
    upsertOnce()
    val ready = System.nanoTime()
    val cpuReady = Main.processCpuNs
    val jitReady = Main.jitCpuNs
    spans.add(0, "setup", "core", t0, ready)
    println(s"READY $ready")
    Console.flush()

    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val done = Iterator.continually(in.readLine()).takeWhile(_ != null)
      .find(_.startsWith("DONE ")).map(_.stripPrefix("DONE ").trim.toLong)
      .getOrElse(0L)
    // the CPU window covers the whole fixed low + high load: it ends once
    // dedup has emitted every acked event, before the final upsert
    val drained = awaitCount(emittedRows, warmEvents + done, 60)
    val cpuDone = Main.processCpuNs
    val jitDone = Main.jitCpuNs
    upsertOnce()
    val end = System.nanoTime()
    val dedupRunId = dq.runId.toString
    registry.stopAll()
    server.stop()
    if (trace.isDefined) Thread.sleep(1500)
    val conf = Main.effectiveConf(spark)
    spark.stop()
    Map("t0_ns" -> t0, "session_s" -> (tSession - t0) / 1e9,
      "warmup_s" -> (ready - tSession) / 1e9, "ready_ns" -> ready,
      "end_ns" -> end, "drained" -> drained, "dedup_run_id" -> dedupRunId,
      "emitted" -> emitted.asScala.toSeq.sortBy(_.batch).map(e => Map(
        "batch" -> e.batch, "emit_ns" -> e.emitNs, "ids" -> e.ids,
        "gen_ns" -> e.genNs, "phases" -> e.phases)),
      "upsert_runs" -> upsertRuns.result(), "store" -> store,
      "loaded_cpu_s" -> (cpuDone - cpuReady) / 1e9,
      "loaded_jit_s" -> (jitDone - jitReady) / 1e9,
      "spool" -> spool, "progress" -> progress.asScala.toSeq,
      "conf" -> conf, "trace" -> trace.map(_.dump()),
      "spans" -> spans.all.map(_.toMap))
  }

  /** Wait until `c` reaches `n` or `timeoutS` passes; true if reached. */
  private def awaitCount(c: AtomicLong, n: Long, timeoutS: Int): Boolean = {
    val until = System.nanoTime() + timeoutS * 1000000000L
    while (c.get < n && System.nanoTime() < until) Thread.sleep(5)
    c.get >= n
  }
}
