package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, from_json, inline, length, trim}
import org.apache.spark.sql.types._

/** JSON-lines event source — the reference's native wire format (SURVEY.md
  * §1: the event stream is JSON envelopes; the parquet fixtures model the
  * landed form). Batch and streaming twins share one explicit schema.
  *
  * Scale posture: the schema is DECLARED, never inferred — schema
  * inference is a full extra pass over the data before the real read,
  * which at 100 TB doubles ingest cost and (worse) samples its way to a
  * wrong schema on rare fields. Malformed lines don't fail the job and
  * aren't silently dropped either: PERMISSIVE mode parks the raw line in
  * [[Corrupt]] (`_corrupt_record`), so a bad producer shows up as rows
  * you can count, inspect, and route (same philosophy as q04's ETL
  * routing), while the good 99.999% keeps flowing.
  */
object EventJson {

  val Corrupt = "_corrupt_record"

  /** The event envelope as JSON: same fields as the staged parquet
    * ([[graft.streaming.EventStream.schema]]) plus the corrupt-line lane.
    * `ts` is epoch-ns (a JSON number — nanosecond timestamps don't
    * round-trip as JSON timestamp strings).
    */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField(Corrupt, StringType)))

  private val parseOpts =
    Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt)

  /** text scan → `from_json` parse. Deliberately NOT `spark.read.json`:
    * the raw JSON relation forbids plans that reference only the corrupt
    * column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) and
    * re-parses under a pruned schema, which changes whether a truncated
    * record keeps its prefix fields — with an explicit parse step the
    * corrupt lane is an ordinary column with one stable meaning.
    *
    * The parse sits behind a Generate (`inline` of a one-element array)
    * so each line is parsed exactly once: Catalyst never pushes a filter
    * on generated columns below the generator. Through a plain
    * `from_json(..) as r` alias every pushed conjunct would inline its
    * own copy of the parse (PlanSpec pins the single `from_json`).
    */
  private def parsed(lines: DataFrame): DataFrame =
    lines
      .filter(length(trim(col("value"))) > 0)
      .select(inline(array(from_json(col("value"), schema, parseOpts))))

  /** Batch read of a JSONL directory/file. One pass, no inference scan. */
  def read(spark: SparkSession, path: String): DataFrame =
    parsed(spark.read.text(path))

  /** Streaming twin of [[read]] — same schema, same corrupt-record lane,
    * file-tailing micro-batches like [[graft.streaming.EventStream.read]].
    */
  def readStream(spark: SparkSession, path: String): DataFrame =
    parsed(spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(path))

  /** Well-formed rows only (parse succeeded), corrupt lane dropped. */
  def wellFormed(df: DataFrame): DataFrame =
    df.filter(col(Corrupt).isNull).drop(Corrupt)

  /** The rejects: raw lines that failed to parse, for routing/alerting. */
  def rejects(df: DataFrame): DataFrame =
    df.filter(col(Corrupt).isNotNull).select(col(Corrupt))
}
