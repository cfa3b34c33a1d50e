package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase._
import graft.sources.EventJson

/** The JSON event source must round-trip the fixture exactly (batch and
  * streaming), and malformed lines must land in the corrupt lane without
  * failing the read or polluting the parsed rows.
  */
class JsonSourceSpec extends AnyFunSuite {

  /** Fixture events re-serialized as JSONL + two malformed lines. */
  private lazy val jsonDir: String = {
    val dir = tmpDir("graft-json-events")
    graft.sources.Tables.events(spark, sf0001)
      .coalesce(2).write.mode("append").json(dir)
    // two producer bugs: truncated JSON and a type-violating envelope
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bad-lines.json"),
      "{\"event_id\": 1, \"ts\": \ntotal garbage\n".getBytes("UTF-8"))
    dir
  }

  test("batch JSONL read round-trips the fixture exactly") {
    val want = graft.sources.Tables.events(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val got = EventJson.wellFormed(EventJson.read(spark, jsonDir))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("malformed lines land in the corrupt lane, not in the rows and not as a crash") {
    val df = EventJson.read(spark, jsonDir)
    val rejects = EventJson.rejects(df).collect().map(_.getString(0))
    assert(rejects.length == 2, rejects.mkString("; "))
    assert(rejects.exists(_.contains("total garbage")))
    assert(rejects.exists(_.contains("\"event_id\": 1")))
    // and the well-formed side lost nothing
    val n = graft.sources.Tables.events(spark, sf0001).count()
    assert(EventJson.wellFormed(df).count() == n)
  }

  test("streaming JSONL read equals the batch read") {
    val q = EventJson.readStream(spark, jsonDir)
      .writeStream.format("memory").queryName("jsonl").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("jsonl")
    assert(bag(streamed) == bag(EventJson.read(spark, jsonDir)))
    assert(EventJson.rejects(streamed).count() == 2)
    assert(bag(EventJson.wellFormed(streamed)) ==
      bag(graft.sources.Tables.events(spark, sf0001)))
  }

  /** Producer bugs beyond the fixture's two, one per line. */
  private lazy val hostileDir: String = {
    val dir = tmpDir("graft-json-hostile")
    Files.write(Paths.get(dir, "hostile.json"), Seq(
      // truncated envelopes: mid-token, and just after a complete field
      """{"event_id": 7, "ts": 1000, "user_id": 3, "event_type": "purch""",
      """{"event_id": 8, "ts": 1500,""",
      "total garbage",
      // keyless: valid JSON, no event_id
      """{"ts": 2000, "user_id": 4, "event_type": "signup", "value": 1.5, "props": "{}"}""",
      // type-violating value
      """{"event_id": 9, "ts": 3000, "user_id": 5, "event_type": "purchase", "value": "lots", "props": "{}"}""",
      "   ",
      """{"event_id": 10, "ts": 4000, "user_id": 6, "event_type": "purchase", "value": 75.0, "props": "{}"}"""
    ).mkString("\n").getBytes("UTF-8"))
    dir
  }

  /** The alias spelling EventJson.read replaced, `from_json(..) as r` then
    * `r.*`: the parity reference for the parsed rows.
    */
  private def aliasRead(path: String): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), EventJson.schema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> EventJson.Corrupt)).as("r"))
      .select(col("r.*"))

  /** Rows as a multiset. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)

  test("EventJson.read gives exactly the alias spelling's rows, corrupt " +
    "lane included, on the fixture and on hostile lines") {
    for (dir <- Seq(jsonDir, hostileDir))
      assert(bag(EventJson.read(spark, dir)) == bag(aliasRead(dir)), dir)
    val hostile = EventJson.read(spark, hostileDir)
      .collect().map(r => r.getAs[String](EventJson.Corrupt) -> r).toSeq
    // the whitespace-only line is skipped; every other line is one row
    assert(hostile.size == 6, hostile.mkString("\n"))
    val rejected = hostile.collect { case (c, r) if c != null => r }
    assert(rejected.size == 4, hostile.mkString("\n"))
    // a type violation keeps the envelope's other fields; a syntax error
    // (truncation, garbage) keeps only the raw line
    assert(rejected.exists(r => !r.isNullAt(0) && r.getLong(0) == 9L &&
      r.getLong(1) == 3000L && r.isNullAt(4)), hostile.mkString("\n"))
    assert(rejected.count(r => (0 until 6).forall(r.isNullAt)) == 3,
      hostile.mkString("\n"))
    val clean = hostile.collect { case (null, r) => r }
    assert(clean.map(r => Option(r.getAs[java.lang.Long]("event_id")))
      .toSet == Set(None, Some(10L)), hostile.mkString("\n"))
  }
}
