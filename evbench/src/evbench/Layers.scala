package evbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.DerbySink

/** The per-layer metric set of a traced run, and the layer probes every
  * traced run makes whatever its workload.
  */
object Layers {
  private val opFields = Seq("build_s" -> "s", "plan_s" -> "s", "exec_s" -> "s",
    "build_jobs" -> "count", "task_cpu_s" -> "s", "shuffle_mb" -> "MB")

  /** Every per-layer metric, in report order. A layer the workload does
    * not exercise (operators on a stream, streaming on batch_llm) reports 0.
    */
  val All: Seq[(String, String)] =
    Seq("sources.parse_s" -> "s", "sources.lines" -> "count",
      "sources.corrupt_lines" -> "count", "sources.keyless_lines" -> "count",
      "aql.lower_ms" -> "ms", "aql.selected_ratio" -> "ratio") ++
      Streams.Phases.flatMap { k =>
        val n = Streams.phaseName(k)
        Seq(s"stream.${n}_ms" -> "ms", s"stream.${n}_ms_p50" -> "ms")
      } ++
      Seq("stream.batches" -> "count", "stream.rows_per_batch" -> "count",
        "stream.phase_gap_pct" -> "%", "stream.replay_events_per_s" -> "1/s",
        "stream.local1_events_per_s" -> "1/s",
        "sink.merge_insert_rows_per_s" -> "1/s", "sink.merge_update_rows_per_s" -> "1/s",
        "sink.merge_task_s" -> "s", "sink.dedup_shuffle_mb" -> "MB",
        "sink.rows_landed" -> "count", "sink.db_mb" -> "MB",
        "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_cpu_s" -> "s",
        "exec.task_run_s" -> "s", "exec.gc_s" -> "s", "exec.shuffle_read_mb" -> "MB",
        "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB") ++
      BatchLlm.Queries.flatMap(q => opFields.map { case (f, u) => s"op.${BatchLlm.short(q)}.$f" -> u }) ++
      Seq("op.reconcile_gap_pct" -> "%", "cache.persisted_mb_peak" -> "MB",
        "cache.rdds_after_release" -> "count", "trace.overhead_pct" -> "%",
        "trace.spans" -> "count")

  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val byName = ms.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    All.map { case (n, u) => byName.getOrElse(n, Metric(n, 0, u)) }
  }

  /** Rows the direct sink probe MERGEs, first as inserts then as updates. */
  val ProbeRows = 50000

  /** Execution totals of the workload's jobs (tags satisfying
    * `workload`), then the probes: `DerbySink` called directly on a fixed
    * DataFrame, and the single-threaded local[1] drain of a backfill-shaped
    * backlog. The latter restarts the session, so it runs last.
    */
  def common(spark: SparkSession, a: Args, c: Checks, tr: Tracer, rec: Recorder,
             workload: String => Boolean, overheadPct: Double): Seq[Metric] = {
    val exec = rec.stages((tag, _, _) => workload(tag))
    val execMetrics = Seq(
      Metric("exec.jobs", rec.jobs(workload).toDouble, "count"),
      Metric("exec.tasks", exec.tasks.toDouble, "count"),
      Metric("exec.task_cpu_s", exec.cpuNs / 1e9, "s"),
      Metric("exec.task_run_s", exec.runMs / 1000.0, "s"),
      Metric("exec.gc_s", exec.gcMs / 1000.0, "s"),
      Metric("exec.shuffle_read_mb", Util.mb(exec.shuffleReadB), "MB"),
      Metric("exec.shuffle_write_mb", Util.mb(exec.shuffleWriteB), "MB"),
      Metric("exec.spill_mb", Util.mb(exec.spillB), "MB"))

    val probeUrl = Streams.url(s"${a.work}/probedb")
    val rows = spark.range(0, ProbeRows, 1, a.cores).select(
      col("id").as("event_id"), (col("id") * 1000).as("ts_us"), (col("id") % 997).as("user_id"),
      lit("probe").as("event_type"), (col("id") % 100).cast("double").as("value"))
    DerbySink.ensureTable(probeUrl)
    val (_, insS) = tr.span("sink.insert")(DerbySink.upsertBatchAs(rows, probeUrl, DerbySink.TABLE, "event_id"))
    val updated = rows.withColumn("value", col("value") + 1)
    val (_, updS) = tr.span("sink.update")(DerbySink.upsertBatchAs(updated, probeUrl, DerbySink.TABLE, "event_id"))
    val (pn, ph) = Util.digest(Streams.landed(spark, probeUrl))
    val (wn, wh) = Util.digest(updated)
    c.check("sink.probe", pn == wn && ph == wh, s"probe table ($pn, $ph) != ($wn, $wh)")

    val spans = tr.count
    spark.stop()
    val single = Main.session(1, a.work)
    single.sparkContext.setLogLevel("WARN")
    val l1 = Streams.drain(single, s"${a.work}/local1", Streams.AllAql,
      Streams.url(s"${a.work}/l1db"), s"${a.work}/l1ck")
    Streams.checkLanded(single, c, "local1.landed", Streams.parsed(single, s"${a.work}/local1"),
      Streams.AllAql, Streams.url(s"${a.work}/l1db"))
    val l1Lines = Util.readManifest(s"${a.work}/local1.json")("lines")

    execMetrics ++ Seq(
      Metric("sink.merge_insert_rows_per_s", ProbeRows / insS, "1/s"),
      Metric("sink.merge_update_rows_per_s", ProbeRows / updS, "1/s"),
      Metric("stream.local1_events_per_s", l1Lines / l1.wallS, "1/s"),
      Metric("trace.overhead_pct", overheadPct, "%"),
      Metric("trace.spans", spans.toDouble, "count"))
  }
}
