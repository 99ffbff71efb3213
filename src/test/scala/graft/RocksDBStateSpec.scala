package graft

import graft.streaming.Streaming
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The stateful drains under the RocksDB state-store provider — the
  * 100 TB deployment shape ([[Streaming.RocksDBProvider]]): the default
  * HDFS-backed store holds every state row on executor heap, RocksDB
  * scales state with local disk. These tests prove (a) each stateful
  * operator class produces IDENTICAL results under both providers, and
  * (b) the RocksDB provider actually engaged (its checkpoint artifacts
  * — `.changelog`/`.zip` uploads — exist where the HDFS store writes
  * `.delta` files), so the derived session cannot silently no-op.
  */
class RocksDBStateSpec extends SparkTestBase {
  /** The caller's session derived with [[Streaming.RocksDBConf]]. */
  private def rocksSession: SparkSession =
    Sessions.scoped(spark, Streaming.RocksDBConf: _*)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-rocksdb").toString

  private def stateFiles(cp: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(cp, "state")
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else java.nio.file.Files.walk(root).iterator().asScala
      .map(_.getFileName.toString).toSeq
  }

  private def assertRocksArtifacts(cp: String): Unit = {
    val files = stateFiles(cp)
    assert(files.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"no RocksDB changelog/snapshot artifacts under $cp/state: $files")
    assert(!files.exists(_.endsWith(".delta")),
      s"HDFS-backed .delta files under $cp/state — provider did not engage")
  }

  test("merging session_window drain: RocksDB == default provider, " +
      "changelog artifacts present") {
    val dir = tmp()
    def drain(s: SparkSession, sub: String) =
      Streaming.drainToFile(
        Streaming.sessionWindowRollup(
          Streaming.fileEventSource(s, sf, sentinelHorizonHours = 3)),
        s"$dir/$sub/out", s"$dir/$sub/cp", spark)
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"), col("n_events"),
          col("total_value"))
        .orderBy("user_id", "start_us")
        .collect().toSeq
    val default = drain(spark, "hdfs")
    val rocks = drain(rocksSession, "rocks")
    assert(rocks.nonEmpty)
    assert(rocks == default)
    assertRocksArtifacts(s"$dir/rocks/cp")
  }

  test("flatMapGroupsWithState drain: RocksDB == default provider") {
    import spark.implicits._
    val dir = tmp()
    def drain(s: SparkSession, sub: String) = {
      val src = Streaming.fileEventSource(s, sf, sentinelHorizonHours = 3)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Streaming.Event]
      Streaming.drainToFile(Streaming.statefulSessionize(src).toDF(),
        s"$dir/$sub/out", s"$dir/$sub/cp", spark)
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .orderBy("user_id", "start_us")
        .collect().toSeq
    }
    val default = drain(spark, "hdfs")
    val rocks = drain(rocksSession, "rocks")
    assert(rocks.nonEmpty)
    assert(rocks == default)
    assertRocksArtifacts(s"$dir/rocks/cp")
  }

  test("streaming dedup drain: RocksDB == default provider") {
    val dir = tmp()
    def drain(s: SparkSession, sub: String) =
      Streaming.drainToFile(
        Streaming.dedupWithinWatermark(
          Streaming.fileEventSourceDuplicated(s, sf), Seq("event_id")),
        s"$dir/$sub/out", s"$dir/$sub/cp", spark)
        .orderBy("event_id")
        .collect().toSeq
    val default = drain(spark, "hdfs")
    val rocks = drain(rocksSession, "rocks")
    assert(rocks.nonEmpty)
    assert(rocks == default)
    assertRocksArtifacts(s"$dir/rocks/cp")
  }

  test("transformWithState sessionizer == flatMapGroupsWithState " +
      "sessionizer (q89's API parity claim)") {
    import spark.implicits._
    val dir = tmp()
    def src(s: SparkSession) =
      Streaming.fileEventSource(s, sf, sentinelHorizonHours = 3)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Streaming.Event]
    val viaFmgws = Streaming.drainToFile(
        Streaming.statefulSessionize(src(spark)).toDF(),
        s"$dir/fmgws/out", s"$dir/fmgws/cp", spark)
      .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
      .orderBy("user_id", "start_us").collect().toSeq
    val viaTws = Streaming.drainToFile(
        Streaming.twsSessionize(src(rocksSession)).toDF(),
        s"$dir/tws/out", s"$dir/tws/cp", spark)
      .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
      .orderBy("user_id", "start_us").collect().toSeq
    assert(viaTws.nonEmpty)
    assert(viaTws == viaFmgws)
    assertRocksArtifacts(s"$dir/tws/cp")
  }

  test("the RocksDB provider lives on a derived session, never the caller's") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getAll
    assert(rocksSession.conf.get(key) == Streaming.RocksDBProvider)
    assert(spark.conf.getAll == before)
    assert(!spark.conf.getOption(key).contains(Streaming.RocksDBProvider))
  }
}
