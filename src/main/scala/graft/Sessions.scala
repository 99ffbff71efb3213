package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge

/** Where session settings live.
  *
  * Invariant: graft never writes a setting on a caller's session. A query
  * family that needs its own tuning (the drains' partition count, the
  * RocksDB state store, raised bloom caps, the events reader's
  * `nanosAsLong`) builds its frames from a DERIVED session, [[scoped]]:
  * a clone of the caller taken with the extra keys set, after which
  * nothing sets conf on it. Another query planning in the caller's
  * session meanwhile sees the caller's own settings. This is the model
  * Structured Streaming already uses for each stream, which runs in its
  * own clone of the session that started it.
  *
  * A frame carries its session: it plans and executes under that
  * session's conf. A derived session shares the caller's SparkContext,
  * CacheManager and catalog, so frames of the two join, and a persisted
  * plan is found from either.
  */
object Sessions {
  // Derived sessions per (caller, sorted keys), valid while the caller's
  // conf is unchanged. Memoizing keeps the per-session caches (blob
  // staging, PersistRegistry) warm across calls. Release is a no-op:
  // stopping a derived session would stop the shared SparkContext.
  private val derived = new graft.ops.SessionLru[SparkSession](32,
    _ => (), releaseOnRaceLoss = false)

  /** A derived session of `spark` with `kv` set (a later pair wins over
    * an earlier one with the same key). It copies the caller's runtime
    * conf, temp views, functions and query execution listeners, and
    * mirrors the caller's streaming query listeners as of this call, so a
    * stream started from it still reports to them.
    */
  def scoped(spark: SparkSession, kv: (String, String)*): SparkSession = {
    val conf = kv.toMap.toSeq.sorted
    val s = derived.getOrBuild(spark, conf.mkString("scoped:", ";", ""),
        spark.conf.getAll.toSeq.sorted.mkString("\u0000")) {
      val clone = SessionBridge.cloneSession(spark)
      conf.foreach { case (k, v) => clone.conf.set(k, v) }
      clone
    }
    s.synchronized {
      val want = spark.streams.listListeners().toSet
      val have = s.streams.listListeners().toSet
      (have -- want).foreach(s.streams.removeListener)
      (want -- have).foreach(s.streams.addListener)
    }
    s
  }

  /** The local session of graft's mains: `local[SPARK_GRAFT_CPUS]`
    * (default `defaultCpus`) with one shuffle partition per core, UTC,
    * no UI, WARN logging, plus `extra`. `maxPartitionBytes`, when given,
    * is the default split size, overridden by SPARK_GRAFT_MAX_PART_BYTES:
    * the testdata tables are single parquet files well under the 128m
    * default, which would serialize each scan on one core. A real cluster
    * keeps the default. `spark.sql.shuffle.partitions` records the cores.
    */
  def local(defaultCpus: Int, maxPartitionBytes: Option[String] = None,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val split = maxPartitionBytes.map(d =>
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", d))
    val spark = (Seq("spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false") ++ split ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
