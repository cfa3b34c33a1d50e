package evbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric totals of a set of stages. */
final class StageTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L

  def +=(o: StageTotals): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
  }
}

/** Reads Spark's public listener bus. Every job carries the span tag that
  * was set as a local property on the submitting thread (threads the job
  * forks, like a stream's micro-batch thread or a broadcast, inherit it),
  * and every task is attributed to the tag of the job that first
  * submitted its stage.
  */
final class Recorder extends SparkListener {
  private val jobTag = mutable.Map.empty[Int, String]
  private val stageTag = mutable.Map.empty[Int, String]
  private val stageName = mutable.Map.empty[Int, String]
  private val perStage = mutable.Map.empty[Int, StageTotals]
  private var sentinelsSeen = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Key))).getOrElse("")
    jobTag(e.jobId) = tag
    e.stageInfos.foreach { si =>
      if (!stageTag.contains(si.stageId)) {
        stageTag(si.stageId) = tag
        stageName(si.stageId) = si.name
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobTag.get(e.jobId).contains(Recorder.Sentinel)) sentinelsSeen += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val t = perStage.getOrElseUpdate(e.stageId, new StageTotals)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def sentinels: Long = synchronized(sentinelsSeen)

  /** Jobs whose tag satisfies `p`. */
  def jobs(p: String => Boolean): Int = synchronized(jobTag.values.count(p))

  /** Task totals over the stages whose (tag, stage name, own totals)
    * satisfy `p`.
    */
  def stages(p: (String, String, StageTotals) => Boolean): StageTotals = synchronized {
    val out = new StageTotals
    perStage.foreach { case (id, t) =>
      if (p(stageTag.getOrElse(id, ""), stageName.getOrElse(id, ""), t)) out += t
    }
    out
  }
}

object Recorder {
  val Key = "evbench.span"
  val Sentinel = "evbench.sentinel"

  /** Blocks until the bus has delivered every event posted before this
    * call: a one-task sentinel job runs after them, and the bus delivers
    * in order, so once its end arrives everything before it has too.
    */
  def drain(sc: SparkContext, rec: Recorder): Unit = {
    val before = rec.sentinels
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, prev)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (rec.sentinels <= before && System.nanoTime() < deadline) Thread.sleep(2)
    if (rec.sentinels <= before) throw new IllegalStateException("listener bus did not drain")
  }
}

final case class Span(name: String, start: Long, end: Long, parent: String, run: String)

/** Spans `{name, start, end, parent, run}` held in memory and written at
  * the end of the run. When tracing is off, `span` only times its body:
  * no record is kept and no job tag is set.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext, run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Runs `body` under span `name`; returns its result and wall seconds. */
  def span[T](name: String, parent: String = "")(body: => T): (T, Double) = {
    val prev = if (enabled) sc.getLocalProperty(Recorder.Key) else null
    if (enabled) sc.setLocalProperty(Recorder.Key, name)
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (enabled) {
        sc.setLocalProperty(Recorder.Key, prev)
        spans += Span(name, t0, t1, parent, run)
      }
    }
  }

  def count: Int = spans.size

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},""" +
        s""""parent":${Json.str(s.parent)},"run":${Json.str(s.run)}}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
