package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Regression guard for the events-fixture timestamp physical type.
  *
  * The driver's fixture generator has shipped the `ts` column both as
  * TIMESTAMP(NANOS) (which Spark reads as long under
  * `spark.sql.legacy.parquet.nanosAsLong`) and as timestamp[us] (native
  * TimestampType). Round 7 broke because the streaming file source
  * normalized only the first shape. Both [[Tables.events]] and
  * [[Streaming.fileEventSource]] now share [[Tables.normalizeEventTs]];
  * this spec drives BOTH entry points over BOTH fixture shapes so the
  * drift can never silently recur.
  */
class EventTsFixtureSpec extends SparkTestBase {
  import spark.implicits._

  // 2024-01-01T00:00:00Z .. +3 events, microsecond-precision instants
  private val baseUs = 1704067200000000L

  private def rows = Seq(
    (1L, baseUs, 7L, "click", 1.5),
    (2L, baseUs + 90L * 1000000L, 7L, "view", 2.0),
    (3L, baseUs + 3600L * 1000000L, 8L, "click", 0.5))

  /** Write a single-file events.parquet under its own sf-style dir. */
  private def writeFixture(name: String, micros: Boolean): String = {
    val dir = Files.createTempDirectory(s"graft-evfix-$name")
    val df =
      if (micros)
        rows.toDF("event_id", "us", "user_id", "event_type", "value")
          .withColumn("ts", timestamp_micros(col("us")))
          .select("event_id", "ts", "user_id", "event_type", "value")
      else
        // nanos-as-long is exactly what the legacy reader produces for a
        // TIMESTAMP(NANOS) file; a plain long column named ts exercises the
        // same post-read branch
        rows.toDF("event_id", "us", "user_id", "event_type", "value")
          .withColumn("ts", col("us") * 1000L)
          .select("event_id", "ts", "user_id", "event_type", "value")
    val stage = Files.createTempDirectory(s"graft-evfix-stage-$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    scala.util.Using.resource(Files.list(stage)) { listing =>
      val part = listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  private def assertNormalized(df: DataFrame): Unit = {
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().toMap
    assert(got == rows.map(r => r._1 -> r._2).toMap)
  }

  // The synthetic nanos-as-long fixture above exercises the POST-read
  // LongType branch; the driver-generated testdata carries a genuine
  // TIMESTAMP(NANOS) physical type, so driving both entry points over it
  // covers the `spark.sql.legacy.parquet.nanosAsLong` READER config
  // end-to-end too (Spark cannot write nanos parquet itself).
  test("real TIMESTAMP(NANOS) testdata normalizes through both entry points") {
    val dir = "/root/testdata/sf0.001"
    val batch = Tables.events(spark, dir)
    assert(batch.schema("ts").dataType == TimestampType)
    val streamed = Streaming.fileEventSource(spark, dir)
    assert(streamed.schema("ts").dataType == TimestampType)
    val batchUs = batch.select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().toMap
    val streamUs = Streaming.drainToBatch(streamed, "evfix_real")
      .select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().toMap
    assert(batchUs.nonEmpty)
    assert(streamUs == batchUs)
  }

  test("staging cache: unchanged fixture reuses the staged copy; a regenerated fixture restages") {
    val dir = writeFixture("cache", micros = true)
    val first = Streaming.drainToBatch(
      Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3), "evfix_c1")
      .filter(col("event_type") =!= "__sentinel")
      .select("event_id").as[Long].collect().toSet
    assert(first == Set(1L, 2L, 3L))
    // unchanged fixture: the staged copy (including its sentinel) is
    // reused — the marker matches, so a second source build must not
    // restage (observed via the sentinel file's mtime staying put)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "#s3").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val staged = Paths.get(System.getProperty("java.io.tmpdir"), s"graft-events-$key")
    val sentinelMtime = Files.getLastModifiedTime(staged.resolve("zz-sentinel.parquet"))
    Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3)
    assert(Files.getLastModifiedTime(
      staged.resolve("zz-sentinel.parquet")) == sentinelMtime)
    // regenerate the fixture with DIFFERENT rows at the same path (new
    // size/mtime): the next drain must see the new data, never the cache
    val stage2 = Files.createTempDirectory("graft-evfix-stage-cache2")
    Seq((10L, baseUs, 9L, "click", 1.0), (11L, baseUs + 1000000L, 9L, "view", 2.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(stage2.toString)
    scala.util.Using.resource(Files.list(stage2)) { listing =>
      val part = listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, Paths.get(dir, "events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val second = Streaming.drainToBatch(
      Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3), "evfix_c2")
      .filter(col("event_type") =!= "__sentinel")
      .select("event_id").as[Long].collect().toSet
    assert(second == Set(10L, 11L), s"stale staged fixture served: $second")
  }

  test("staged schema is keyed by the staging marker, not a later fixture") {
    val dir = writeFixture("marker", micros = true)
    val s = Sessions.scoped(spark, Tables.NanosAsLong)
    val (staged, marker) =
      Streaming.stageFixture(s, dir, "#s0", Seq("events.parquet"))
    // the fixture is regenerated between staging and schema inference:
    // new size and mtime, and a wider schema
    val stage2 = Files.createTempDirectory("graft-evfix-stage-marker2")
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("extra", lit("x"))
      .select("event_id", "ts", "user_id", "event_type", "value", "extra")
      .coalesce(1).write.mode("overwrite").parquet(stage2.toString)
    scala.util.Using.resource(Files.list(stage2)) { listing =>
      val part = listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, Paths.get(dir, "events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // the staged copy's schema, cached under the marker of the staged bytes
    assert(!Streaming.stagedSchema(s, staged, marker).fieldNames
      .contains("extra"))
    // so the next build restages and infers the regenerated fixture's
    // schema instead of hitting the old copy's
    assert(Streaming.fileEventSource(spark, dir).schema.fieldNames
      .contains("extra"))
  }

  for ((label, micros) <- Seq(("timestamp[us]", true), ("nanos-as-long", false))) {
    test(s"Tables.events normalizes a $label fixture") {
      assertNormalized(Tables.events(spark, writeFixture(s"b$micros", micros)))
    }

    test(s"fileEventSource normalizes a $label fixture") {
      val streamed = Streaming.fileEventSource(spark, writeFixture(s"s$micros", micros))
      assert(streamed.schema("ts").dataType == TimestampType)
      assertNormalized(
        Streaming.drainToBatch(streamed, s"evfix_$micros"))
    }
  }
}
