package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StatefulOps

/** The older corpus layout stores `events.ts` as `int64
  * TIMESTAMP(NANOS,false)`, which Spark's parquet reader rejects unless
  * the session reads it as Long. The factory session does; these tests
  * read such a file with nothing set at the read site and expect `ts`
  * back as TimestampType, floored to µs.
  */
class NanosEventsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (event_id, ts in epoch ns, user_id); events 1 and 2 share a user and ts
  private val rows = Seq(
    (1L, 1700000000123456789L, 7L),
    (2L, 1700000000123456789L, 7L),
    (3L, 1700000003000000999L, 8L))

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_nanos_events")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(d.resolve("events.parquet").toString))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ns, user) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ns)
        .append("user_id", user).append("event_type", "click")
        .append("value", 1.5))
    } finally w.close()
    d.toString
  }

  private val expectedMicros = rows.map { case (id, ns, _) => id -> ns / 1000 }.toSet

  test("Tables.events reads a NANOS ts as TimestampType, floored to µs") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().toSet == expectedMicros)
  }

  test("a streaming operator reads a NANOS ts as TimestampType") {
    val out = StatefulOps.streamingDedup(spark, s"$dir/events.parquet",
      Seq("user_id"), queryName = "graft_test_nanos_dedup")
    assert(out.schema("ts").dataType == TimestampType)
    // events 1 and 2 collapse on (user_id, ts)
    assert(out.select(col("user_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().toSet ==
      Set(7L -> 1700000000123456L, 8L -> 1700000003000000L))
  }
}
