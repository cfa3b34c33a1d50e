package evbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Observation, SparkSession}

import graft.SparkEntry
import graft.operators.LlmOps

/** The LLM batch family at sf0.1: each query built through the driver
  * contract (`SparkEntry.queries`) and written through the `noop` sink,
  * which computes every output column (`.count()` would let the optimizer
  * prune them). An observation on the written plan yields the row count
  * and content digest that the checks compare with the pins.
  */
object BatchLlm {
  val Queries = Seq("q7A_dedup_minhash", "q7N_dedup_jaccard", "q7R_dedup_components",
    "q7W_dedup_spans", "q7X_pipeline_funnel", "q7Y_pipeline_schedule", "q7C_ann_simhash",
    "q7H_dedup_embed", "q7G_ann_ivf", "q7S_ann_ivfpq", "q76_sim_cosine_topk",
    "q77_sim_threshold")
  def short(q: String): String = q.takeWhile(_ != '_')
  /** Largest share of a query's wall its build, plan and exec spans may
    * leave unexplained, and the same for a pass against its queries.
    */
  val QueryGapTolPct = 2.0
  val PassGapTolPct = 5.0
  /** Untimed passes of the list in set-up. */
  val WarmPasses = 2

  final case class QueryRun(q: String, buildS: Double, planS: Double, execS: Double,
                            wallS: Double, rows: Long, hash: String, error: Option[String],
                            storedMb: Double)
  final case class Pass(wallS: Double, cpuS: Double, queries: Seq[QueryRun], rddsAfterRelease: Int)

  def runQuery(spark: SparkSession, dir: String, q: String, tr: Tracer): QueryRun = {
    val t0 = System.nanoTime()
    try {
      val (df, b) = tr.span(s"op:$q:build", q)(SparkEntry.queries(q)(spark, dir))
      val obs = new Observation()
      // planning covers attaching the digest observation to the plan
      val (out, p) = tr.span(s"op:$q:plan", q) {
        val cols = Util.digestColumns(df)
        val o = df.observe(obs, cols.head, cols.tail: _*)
        o.queryExecution.executedPlan
        o
      }
      val (_, e) = tr.span(s"op:$q:exec", q)(out.write.format("noop").mode("overwrite").save())
      val wall = Util.secsSince(t0)
      val m = obs.get
      val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      QueryRun(q, b, p, e, wall, m("rows").asInstanceOf[Long],
        Option(m("hash")).map(h => new java.math.BigDecimal(h.toString).toPlainString).getOrElse("0"),
        None, Util.mb(stored))
    } catch {
      case e: Exception =>
        QueryRun(q, 0, 0, 0, Util.secsSince(t0), -1, "", Some(e.toString), 0)
    }
  }

  /** One pass of the list: release, every query in order, release, then
    * count the persisted RDDs the release left behind.
    */
  def runPass(spark: SparkSession, dir: String, tr: Tracer): Pass = {
    val t0 = System.nanoTime()
    val c0 = Util.cpuS
    LlmOps.release(spark)
    val qs = Queries.map(q => tr.span(q, "batch_llm")(runQuery(spark, dir, q, tr))._1)
    LlmOps.release(spark)
    val wall = Util.secsSince(t0)
    val cpu = Util.cpuS - c0
    Pass(wall, cpu, qs, spark.sparkContext.getPersistentRDDs.size)
  }

  /** Pinned (rows, hash) per query: `{"q": {"rows": n, "hash": "h", ...}, ...}`. */
  def readPins(path: String): Map[String, (Long, String)] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    "\"(q[0-9A-Za-z_]+)\":\\s*\\{([^}]*)\\}".r.findAllMatchIn(txt).map { m =>
      val hash = "\"hash\":\\s*\"(-?\\d+)\"".r.findFirstMatchIn(m.group(2)).map(_.group(1))
      val rows = "\"rows\":\\s*(\\d+)".r.findFirstMatchIn(m.group(2)).map(_.group(1).toLong)
      m.group(1) -> (rows.getOrElse(-1L), hash.getOrElse(""))
    }.toMap
  }

  def check(c: Checks, p: Pass, pins: Map[String, (Long, String)]): Unit = {
    p.queries.foreach { r =>
      val want = pins.get(r.q)
      c.check(s"${r.q}.result", r.error.isEmpty && want.contains((r.rows, r.hash)),
        r.error.getOrElse(s"(${r.rows}, ${r.hash}) != pinned ${want.getOrElse("none")}"))
    }
    c.check("cache.rdds_after_release", p.rddsAfterRelease == 0,
      s"${p.rddsAfterRelease} persisted RDDs survive LlmOps.release")
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val sc = spark.sparkContext
    val dir = s"${a.data}/sf0.1"
    val pins = readPins(a.pins)
    val c = new Checks
    val off = new Tracer(false, sc, "")
    // set-up: untimed passes of the list at sf0.1. After one pass the next
    // is still ~20 % slower than later ones (JIT), so there are two. set-up
    // time is all of it, the first (cold) pass included
    val warm = (1 to WarmPasses).map(_ => runPass(spark, dir, off).wallS)
    val setupS = a.prepS + sessionS + warm.sum
    // events_per_s here is nominal: each query is credited with every row
    // of the two sf0.1 tables (7,000), whichever it reads, so it is
    // 84,000 / wall_s, wall_s rescaled
    val records = Seq("documents", "embeddings").map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum

    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer(runPass(spark, dir, off))
    while (Util.secsSince(t0) < a.seconds) passes += runPass(spark, dir, off)
    passes.foreach(check(c, _, pins))
    val wall = Util.median(passes.map(_.wallS).toSeq)
    c.notes += f"timing: session $sessionS%.1f, warm-up ${warm.map(w => f"$w%.1f").mkString("/")}, passes ${passes.map(p => f"${p.wallS}%.1f").mkString("/")}"
    c.notes += f"batch_llm: ${passes.size} pass(es), median ${wall}%.2f s; " +
      passes.head.queries.map(r => f"${short(r.q)} ${r.wallS}%.2f").mkString(", ")

    if (!a.trace) {
      Outcome(c.attempted, c.failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", wall, "s"),
        Metric("cpu_s", Util.median(passes.map(_.cpuS).toSeq), "s"),
        Metric("events_per_s", Queries.size * records / wall, "1/s"),
        Metric("commit_ms_p50", Util.median(passes.flatMap(_.queries.map(_.wallS * 1000)).toSeq), "ms")),
        c.notes.toSeq)
    } else {
      val rec = new Recorder
      sc.addSparkListener(rec)
      val tr = new Tracer(true, sc, s"batch_llm-${a.seed}")
      val traced = runPass(spark, dir, tr)
      Recorder.drain(sc, rec)
      check(c, traced, pins)
      val gaps = traced.queries.map { r =>
        100.0 * math.abs(r.wallS - (r.buildS + r.planS + r.execS)) / r.wallS
      }
      c.check("reconcile.op_spans", gaps.max <= QueryGapTolPct,
        f"build+plan+exec leave ${gaps.max}%.2f%% of a query's wall unexplained")
      val passGap = 100.0 * math.abs(traced.wallS - traced.queries.map(_.wallS).sum) / traced.wallS
      c.check("reconcile.pass", passGap <= PassGapTolPct,
        f"queries leave $passGap%.2f%% of the pass wall unexplained")
      val ops = traced.queries.flatMap { r =>
        val t = rec.stages((tag, _, _) => tag.startsWith(s"op:${r.q}:"))
        val k = s"op.${short(r.q)}"
        Seq(Metric(s"$k.build_s", r.buildS, "s"), Metric(s"$k.plan_s", r.planS, "s"),
          Metric(s"$k.exec_s", r.execS, "s"),
          Metric(s"$k.build_jobs", rec.jobs(_ == s"op:${r.q}:build").toDouble, "count"),
          Metric(s"$k.task_cpu_s", t.cpuNs / 1e9, "s"),
          Metric(s"$k.shuffle_mb", Util.mb(t.shuffleWriteB), "MB"))
      }
      val layer = ops ++ Seq(
        Metric("op.reconcile_gap_pct", gaps.max, "%"),
        Metric("cache.persisted_mb_peak", traced.queries.map(_.storedMb).max, "MB"),
        Metric("cache.rdds_after_release", traced.rddsAfterRelease.toDouble, "count"))
      // tracing overhead: against the mean of the untraced passes just
      // before and just after the traced one (see Streams)
      sc.removeSparkListener(rec)
      val after = runPass(spark, dir, off)
      check(c, after, pins)
      val untraced = (passes.last.wallS + after.wallS) / 2
      val overheadPct = 100.0 * (traced.wallS - untraced) / untraced
      val common = Layers.common(spark, a, c, tr, rec, _.startsWith("op:"), overheadPct)
      tr.write(Paths.get(a.out, s"spans-batch_llm-${a.seed}.jsonl"))
      Outcome(c.attempted, c.failed, Layers.complete(layer ++ common), c.notes.toSeq)
    }
  }

  /** Writes the pins for this commit and, for the queries that have an
    * oracle, their results and oracle SQL laid out as `graft.Verify` writes
    * them, for `tools/check.py`.
    */
  def pin(spark: SparkSession, a: Args): Unit = {
    val dir = s"${a.data}/sf0.1"
    val p = runPass(spark, dir, new Tracer(false, spark.sparkContext, ""))
    p.queries.foreach(r => r.error.foreach(e => throw new IllegalStateException(s"${r.q}: $e")))
    val body = p.queries.map(r => s"""  ${Json.str(r.q)}: {"hash": "${r.hash}", "rows": ${r.rows}}""")
    Files.createDirectories(Paths.get(a.out))
    Files.write(Paths.get(a.out, "pins.json"),
      body.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    val oracle = Queries.filter(SparkEntry.oracleSql.contains)
    oracle.foreach { q =>
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"${a.out}/$q")
    }
    Files.write(Paths.get(a.out, "oracle_sql.json"),
      oracle.map(q => s"  ${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
        .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
  }
}
