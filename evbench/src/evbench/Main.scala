package evbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What one run reports: check tallies, metrics, and notes for humans. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
                         notes: Seq[String]) {
  def resultLine: String = {
    val ms = metrics.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}"""
  }
}

/** Tally of output checks: each check is one attempted operation, and a
  * failed one also records why.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"FAIL $name $detail" }
  }

  /** `n` operations of which `bad` failed (e.g. landed rows). */
  def count(name: String, n: Long, bad: Long): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) notes += s"FAIL $name: $bad of $n"
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, data: String, pins: String, out: String,
                      prepS: Double, cores: Int, mode: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", get("work"), get("data"), get("pins"), get("out"),
      m.getOrElse("prep-s", "0").toDouble, m.getOrElse("cores", "4").toInt,
      m.getOrElse("mode", "run"))
  }
}

object Util {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time, all threads, in seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median of `xs` (0 for an empty sequence). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  /** Row-order-insensitive content digest: (rows, Σ xxhash64 of the row).
    * Floating values are rounded to 6 decimals first, so a result whose
    * last bits depend on summation order hashes the same on every run.
    */
  def digestColumns(df: DataFrame): Seq[Column] = {
    def stable(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _ => c
    }
    val h = xxhash64(df.schema.fields.map(f => stable(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    Seq(count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("hash"))
  }

  def digest(df: DataFrame): (Long, String) = {
    val cols = digestColumns(df)
    val r = df.agg(cols.head, cols.tail: _*).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def readManifest(path: String): Map[String, Long] = {
    val txt = new String(java.nio.file.Files.readAllBytes(new File(path).toPath), "UTF-8")
    "\"([a-z_]+)\":\\s*(\\d+)".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

object Main {
  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("evbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // every micro-batch's progress report stays readable after the drain
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a.cores, a.work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Util.secsSince(t0)
    val code =
      try {
        val out =
          if (a.mode == "pin") { BatchLlm.pin(spark, a); None }
          else if (a.workload == "batch_llm") Some(BatchLlm.run(spark, a, sessionS))
          else if (a.workload == Streams.Workload) Some(Streams.run(spark, a, sessionS))
          else throw new IllegalArgumentException(s"unknown workload ${a.workload}")
        out.foreach { o =>
          o.notes.foreach(n => println(s"EVBENCH_NOTE $n"))
          println(s"EVBENCH_RESULT ${o.resultLine}")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    System.out.flush()
    System.exit(code)
  }
}
