package evbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.aql.Aql
import graft.operators.Filters
import graft.sources.EventJson
import graft.streaming.{AqlPipeline, DerbySink, EventStream}

/** One drain of a staged backlog through `AqlPipeline.attachJson`. */
final case class Drain(wallS: Double, cpuS: Double, progress: Seq[StreamingQueryProgress]) {
  /** Progress of the triggers that ran a batch (idle polls excluded). */
  def batches: Seq[StreamingQueryProgress] = progress.filter(_.durationMs.containsKey("addBatch"))
  def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def commitMs: Seq[Double] = batches.map(phase(_, "triggerExecution"))
}

/** The stream workload: a closed-loop drain of a generated JSON backlog
  * into a fresh embedded Derby database, one file per trigger.
  */
object Streams {
  val Workload = "stream_backfill"
  val AllAql = "FROM allEvents"
  /** Warm-up drains in set-up, each into its own scratch database. */
  val WarmDrains = 3
  /** The micro-batch phases `StreamingQueryProgress.durationMs` reports
    * besides `triggerExecution`, which spans them all.
    */
  val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  /** `latestOffset` → `latest_offset`, as the metric names spell it. */
  def phaseName(k: String): String = k.replaceAll("([A-Z])", "_$1").toLowerCase
  /** Largest share of the summed trigger time the six phases may leave
    * unexplained (time a trigger spends between phases).
    */
  val PhaseGapTolPct = 10.0

  def url(dir: String): String = s"jdbc:derby:$dir;create=true"

  def drain(spark: SparkSession, input: String, aql: String, dbUrl: String, ckpt: String): Drain = {
    val t0 = System.nanoTime()
    val c0 = Util.cpuS
    val q = AqlPipeline.attachJson(spark, input, aql, dbUrl, ckpt).start()
    val (wall, cpu) =
      try { q.processAllAvailable(); (Util.secsSince(t0), Util.cpuS - c0) }
      finally q.stop()
    Drain(wall, cpu, q.recentProgress.toSeq)
  }

  /** The input as `EventJson` parses it, held for the checks. */
  def parsed(spark: SparkSession, input: String): DataFrame =
    EventJson.read(spark, input).persist()

  /** The well-formed, keyed input rows the AQL selects. */
  def selected(parsed: DataFrame, aql: String): DataFrame = {
    val keyed = EventJson.wellFormed(parsed).filter(col("event_id").isNotNull)
    Filters.withTags(EventStream.withEventTime(keyed)).filter(Aql.predicate(aql))
  }

  /** The batch AQL twin of what the stream must land: the selection in
    * the sink's envelope, one row per key.
    */
  def twin(parsed: DataFrame, aql: String): DataFrame =
    selected(parsed, aql)
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"), col("value"))
      .dropDuplicates("event_id")

  def landed(spark: SparkSession, dbUrl: String): DataFrame = {
    val df = spark.read.jdbc(dbUrl, DerbySink.TABLE, new java.util.Properties)
    df.toDF(df.columns.map(_.toLowerCase).toSeq: _*)
  }

  /** Landed table vs twin: digest equality, and on a mismatch a row-level
    * diff whose missing, extra and wrong rows each count as one failed
    * operation. Returns the landed table's digest.
    */
  def checkLanded(spark: SparkSession, c: Checks, label: String, parsed: DataFrame,
                  aql: String, dbUrl: String): (Long, String) = {
    val want = twin(parsed, aql).persist()
    val got = landed(spark, dbUrl).persist()
    try {
      val (wn, wh) = Util.digest(want)
      val (gn, gh) = Util.digest(got)
      val equal = wn == gn && wh == gh
      c.check(s"$label.digest", equal, s"landed ($gn, $gh) != twin ($wn, $wh)")
      val bad = if (equal) 0L else {
        val same = want.columns.map(k => col(s"w.$k") <=> col(s"g.$k")).reduce(_ && _)
        want.as("w").join(got.as("g"), col("w.event_id") === col("g.event_id"), "full_outer")
          .filter(!same).count()
      }
      c.count(s"$label.rows", math.max(wn, gn), bad)
      (gn, gh)
    } finally { want.unpersist(); got.unpersist() }
  }

  /** Lines, corrupt lines, keyless lines and distinct keys of the input. */
  def lanes(parsed: DataFrame): (Long, Long, Long, Long) = {
    val corrupt = col(EventJson.Corrupt).isNotNull
    val r = parsed.agg(count(lit(1)), count(when(corrupt, 1)),
      count(when(!corrupt && col("event_id").isNull, 1)),
      count_distinct(when(!corrupt, col("event_id")))).first()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val sc = spark.sparkContext
    val aql = AllAql
    val input = s"${a.work}/input"
    val manifest = Util.readManifest(s"${a.work}/input.json")
    val c = new Checks

    // set-up: untimed drains of a short backlog of the same shape, each
    // into a fresh scratch database and checkpoint. set-up time is all of
    // it, the first (cold) drain included
    val reps = (1 to WarmDrains).map { i =>
      val t0 = System.nanoTime()
      drain(spark, s"${a.work}/warm", aql, url(s"${a.work}/warmdb$i"), s"${a.work}/warmck$i")
      Util.deleteTree(new File(s"${a.work}/warmdb$i"))
      Util.secsSince(t0)
    }
    val db = s"${a.work}/db"
    val setupS = a.prepS + sessionS + reps.sum

    val timed = drain(spark, input, aql, url(db), s"${a.work}/ckpt")

    // output checks
    val tChecks = System.nanoTime()
    val input0 = parsed(spark, input)
    val landedDigest = checkLanded(spark, c, "landed", input0, aql, url(db))
    val landedRows = landedDigest._1
    // recovery after checkpoint loss: replaying a prefix of the backlog
    // from a fresh checkpoint takes the MERGE's update branch for every
    // row and must leave the table as it was
    val replay = drain(spark, s"${a.work}/replay", aql, url(db), s"${a.work}/replayck")
    val replayed = Util.digest(landed(spark, url(db)))
    c.check("replay.unchanged", replayed == landedDigest, s"table $landedDigest became $replayed")
    val (lines, corrupt, keyless, keys) = lanes(input0)
    c.check("sources.lines", lines == manifest("lines"), s"$lines != ${manifest("lines")}")
    c.check("sources.corrupt_lines", corrupt == manifest("corrupt"), s"$corrupt != ${manifest("corrupt")}")
    c.check("sources.keyless_lines", keyless == manifest("keyless"), s"$keyless != ${manifest("keyless")}")
    val dbMb = Util.mb(Util.dirBytes(new File(db)))
    c.notes += f"timing: session $sessionS%.1f, prep ${a.prepS}%.1f, reps ${reps.map(r => f"$r%.1f").mkString("/")}, timed ${timed.wallS}%.1f, checks ${Util.secsSince(tChecks)}%.1f"
    c.notes += f"${a.workload}: ${lines} lines, ${timed.batches.size} batches, $landedRows rows landed, db ${dbMb}%.1f MB"

    if (!a.trace) {
      Outcome(c.attempted, c.failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", timed.wallS, "s"),
        Metric("cpu_s", timed.cpuS, "s"),
        Metric("events_per_s", manifest("lines") / timed.wallS, "1/s"),
        Metric("commit_ms_p50", Util.median(timed.commitMs), "ms")), c.notes.toSeq)
    } else {
      // the traced pass: the same drain again with the recorder on the
      // bus and spans tagging its jobs, into a fresh database and checkpoint
      val rec = new Recorder
      sc.addSparkListener(rec)
      val tr = new Tracer(true, sc, s"${a.workload}-${a.seed}")
      val tdb = s"${a.work}/tdb"
      val (traced, _) = tr.span("stream")(drain(spark, input, aql, url(tdb), s"${a.work}/tckpt"))
      Recorder.drain(sc, rec)
      checkLanded(spark, c, "traced.landed", input0, aql, url(tdb))
      input0.unpersist()
      // the parse on its own: a fresh read of every line, nothing cached
      val (_, parseS) = tr.span("sources.parse")(lanes(EventJson.read(spark, input)))
      val lowerMs = Util.median((1 to 25).map { _ =>
        val t0 = System.nanoTime(); Aql.predicate(aql); Util.secsSince(t0) * 1000
      })
      // the sink's foreachPartition is the stream's only action, so its
      // stages are all the stream's stages: the map stages end in the
      // in-batch dedup shuffle, the result stages run the MERGE
      val sinkDedup = rec.stages((tag, _, t) => tag == "stream" && t.shuffleWriteB > 0)
      val sinkMerge = rec.stages((tag, _, t) => tag == "stream" && t.shuffleWriteB == 0)
      val bs = traced.batches
      val trig = bs.map(traced.phase(_, "triggerExecution")).sum
      val phaseSum = bs.map(p => Phases.map(traced.phase(p, _)).sum).sum
      val gapPct = if (trig > 0) 100.0 * (trig - phaseSum) / trig else 0.0
      c.check("reconcile.stream_phases", math.abs(gapPct) <= PhaseGapTolPct,
        f"phases leave $gapPct%.1f%% of trigger time unexplained (tolerance $PhaseGapTolPct%%)")
      val phaseMetrics = Phases.flatMap { k =>
        val xs = bs.map(traced.phase(_, k))
        Seq(Metric(s"stream.${phaseName(k)}_ms", xs.sum, "ms"),
          Metric(s"stream.${phaseName(k)}_ms_p50", Util.median(xs), "ms"))
      }
      val streamLayer = Seq(
        Metric("sources.parse_s", parseS, "s"),
        Metric("sources.lines", lines.toDouble, "count"),
        Metric("sources.corrupt_lines", corrupt.toDouble, "count"),
        Metric("sources.keyless_lines", keyless.toDouble, "count"),
        Metric("aql.lower_ms", lowerMs, "ms"),
        Metric("aql.selected_ratio", landedRows.toDouble / math.max(1L, keys), "ratio")) ++
        phaseMetrics ++ Seq(
        Metric("stream.batches", bs.size.toDouble, "count"),
        Metric("stream.rows_per_batch", Util.median(bs.map(_.numInputRows.toDouble)), "count"),
        Metric("stream.phase_gap_pct", gapPct, "%"),
        Metric("stream.replay_events_per_s", manifest("lines_per_file") / replay.wallS, "1/s"),
        Metric("sink.merge_task_s", sinkMerge.runMs / 1000.0, "s"),
        Metric("sink.dedup_shuffle_mb", Util.mb(sinkDedup.shuffleWriteB), "MB"),
        Metric("sink.rows_landed", landedRows.toDouble, "count"),
        Metric("sink.db_mb", dbMb, "MB"))
      // tracing overhead: the traced drain against the mean of the untraced
      // drains made just before and just after it, so JVM warm-up between
      // them does not count as overhead
      sc.removeSparkListener(rec)
      val after = drain(spark, input, aql, url(s"${a.work}/adb"), s"${a.work}/ackpt")
      val untraced = (timed.wallS + after.wallS) / 2
      val overheadPct = 100.0 * (traced.wallS - untraced) / untraced
      val common = Layers.common(spark, a, c, tr, rec, _ == "stream", overheadPct)
      tr.write(java.nio.file.Paths.get(a.out, s"spans-${a.workload}-${a.seed}.jsonl"))
      Outcome(c.attempted, c.failed,
        Layers.complete(streamLayer ++ common), c.notes.toSeq)
    }
  }
}
