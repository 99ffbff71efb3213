package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.ingest.Ingest
import graft.merge.Merge
import graft.sources.KafkaLog
import graft.tools.PipelineMain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark run of one workload in one JVM: a cold pass, then warm
  * passes until `--seconds` have passed (at least `--min-warm`), all from
  * one caller thread (a closed loop of sequential calls). Writes a JSON
  * result file; perfbench/run.py checks the outputs and prints metrics.
  *
  * Usage: Harness --workload <pipeline_daily|query_mix>
  *   --data <generated inputs> --work <scratch dir> --seconds <s>
  *   --trace <0|1> --seed <n> --cores <n> --min-warm <n>
  *   --ops <comma-separated SparkEntry query names; empty for the pipeline>
  *   --result <file>
  */
object Harness {
  final case class Opts(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, cores: Int, minWarm: Int,
      ops: Seq[String], result: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Opts(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("cores").toInt,
      m("min-warm").toInt, m("ops").split(',').toSeq.filter(_.nonEmpty), m("result"))
  }

  /** The session each workload's real caller builds: PipelineMain.main's
    * conf for the daily DAG run, Bench's for the query sweep. */
  private def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    val s = if (o.workload == "pipeline_daily") b.appName("graft-pipeline")
      else b.appName("graft-bench")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.sql.files.maxPartitionBytes", "16m")
    s.getOrCreate()
  }

  /** Bench's host-speed calibration: a fixed single-thread xorshift loop,
    * timed once after one untimed run. */
  private def calibS(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var s = 0L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1
      }
      if (s == 42L) print("")
      (System.nanoTime() - t0) / 1e9
    }
    once(); once()
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, or zeros where
    * the kernel does not report them. */
  private def cpuJiffies(): (Long, Long) = scala.util.Try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
      .linesIterator.next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }.getOrElse((0L, 0L))

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Heap in use right after a full collection: the heap pools'
    * collection usage, read after an explicit GC between passes. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A workload: named operations, one timed call each per pass. */
  trait Workload {
    def tracer: Option[Tracer]
    protected def sp[A](name: String)(body: => A): A =
      tracer.map(_.span(name)(body)).getOrElse(body)
    def ops(pass: Int): Seq[String]
    def maxPasses: Int = Int.MaxValue
    def prepare(pass: Int): Unit = ()
    def call(op: String, pass: Int): Unit
    /** Traced passes only: direct calls into single layers. */
    def probes(pass: Int): Unit = ()
    /** After the timed region: where run.py finds the outputs it checks. */
    def dumpOutputs(): Map[String, Any]
  }

  final class BatchQueries(spark: SparkSession, o: Opts, val names: Seq[String],
      val tracer: Option[Tracer]) extends Workload {
    private val last = mutable.Map.empty[String, DataFrame]
    /** The cold pass calls in the listed order, so every run's first call
      * (which also pays the session's one-time warm-up) is the same
      * operation; warm passes call in a seeded random order. */
    def ops(pass: Int): Seq[String] =
      if (pass == 0) names else new scala.util.Random(o.seed * 1000 + pass).shuffle(names)
    def call(op: String, pass: Int): Unit = {
      val df = SparkEntry.queries(op)(spark, o.data)
      noop(df)
      last(op) = df
    }
    def dumpOutputs(): Map[String, Any] = {
      val failed = mutable.Map.empty[String, String]
      names.foreach { q =>
        last.get(q).foreach { df =>
          try df.write.mode("overwrite").parquet(s"${o.work}/out/$q")
          catch { case NonFatal(e) => failed(q) = msg(e) }
        }
      }
      Map("out_dir" -> s"${o.work}/out", "dump_errors" -> failed.toMap,
        "oracle_sql" -> names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    }
  }

  final class PipelineDaily(spark: SparkSession, o: Opts,
      val tracer: Option[Tracer]) extends Workload {
    private val logRoot = s"${o.work}/log"
    private val season = s"${o.work}/season/shots-2025.tgz"
    private val ongoing = s"${o.work}/ongoing"
    private val csvName = "shots-2025.csv"
    private val segs: Seq[Path] = Files.list(Paths.get(o.data, "segments")).iterator()
      .asScala.toSeq.sortBy(_.getFileName.toString)
    private val opts = Map("servers" -> logRoot, "topic" -> "shots",
      "out" -> ongoing, "checkpoint" -> s"${o.work}/ckpt", "format" -> KafkaLog.Format,
      "season" -> season, "delta" -> ongoing, "csv-name" -> csvName,
      "tmp" -> s"${o.work}/publish-tmp")
    KafkaLog.createTopic(logRoot, "shots", 1)
    Files.createDirectories(Paths.get(season).getParent)
    Files.copy(Paths.get(o.data, "shots-2025.tgz"), Paths.get(season),
      StandardCopyOption.REPLACE_EXISTING)
    var daysRun = 0
    /** Traced passes: records read, rows degraded, merge rows in and out. */
    val counts = mutable.Map.empty[Int, Map[String, Double]]

    def ops(pass: Int): Seq[String] = Seq("daily_run")
    override def maxPasses: Int = segs.size

    /** The scraper's produce for day `pass + 1`: the day's segment lands in
      * the topic under its base offset, as KafkaLog.produce names it. */
    override def prepare(pass: Int): Unit = {
      val seg = segs(pass)
      val base = seg.getFileName.toString.split('.')(1)
      Files.copy(seg, Paths.get(logRoot, "shots", "p0", s"$base.seg"))
    }

    def call(op: String, pass: Int): Unit = {
      sp("pipeline.ingest")(PipelineMain.ingest(spark, opts))
      sp("pipeline.merge_publish")(PipelineMain.mergePublish(spark, opts))
      daysRun = pass + 1
    }

    override def probes(pass: Int): Unit = {
      val dayRoot = s"${o.data}/daytopics"
      val topic = f"day${pass + 1}%03d"
      def src() = Ingest.kafkaBatchSource(spark, dayRoot, topic, format = KafkaLog.Format)
      sp("sources.scan")(noop(src()))
      sp("ingest.parse")(noop(Ingest.transform(src())))
      sp("merge.season_read")(noop(Merge.readSeasonTgz(spark, season)))
      val merged = () => Merge.mergeDeterministic(
        Merge.readSeasonTgz(spark, season), Merge.readCsv(spark, ongoing))
      sp("merge.upsert")(noop(merged()))
      sp("merge.publish")(Merge.publishTgz(
        merged().orderBy(Merge.dedupKeys.map(col): _*),
        s"${o.work}/probe-tmp", s"${o.work}/probe/shots-2025.tgz", csvName))
      sp("probe.counts") {
        val (df, obs) = Ingest.observedTransform(src())
        counts(pass) = Map(
          "records" -> src().count().toDouble,
          "rows_degraded" -> { noop(df); val g = obs.get
            (g.getOrElse("rows_malformed_json", 0L).asInstanceOf[Long] +
              g.getOrElse("rows_unparseable_play", 0L).asInstanceOf[Long]).toDouble },
          "rows_in" -> (Merge.readSeasonTgz(spark, season).count() +
            Merge.readCsv(spark, ongoing).count()).toDouble,
          "rows_out" -> merged().count().toDouble)
      }
    }
    def dumpOutputs(): Map[String, Any] =
      Map("published" -> season, "days_run" -> daysRun)
  }

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replace('\n', ' ').take(300)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    // The session's first job pays Spark's own one-time start-up (scheduler,
    // code generation, shuffle); it runs here, in set-up, so that the cold
    // figures hold graft's first-call costs and not the engine's.
    spark.range(0, 100000, 1, o.cores).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v").collect()
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val w: Workload = o.workload match {
      case "pipeline_daily" => new PipelineDaily(spark, o, tracer)
      case "query_mix" => new BatchQueries(spark, o, o.ops, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val calls = mutable.ArrayBuffer.empty[Call]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var attempted = 0L
    var heapMax = 0.0
    val firstCallMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (steal0, total0) = cpuJiffies()
    var warmStart = 0L
    var pass = 0
    def warmElapsed = (System.nanoTime() - warmStart) / 1e9
    // a traced run alternates traced (even) and untraced (odd) passes and
    // needs at least one warm pass of each kind
    val minWarm = if (o.trace) math.max(o.minWarm, 2) else o.minWarm
    // the cold pass, then warm passes until --seconds (at least minWarm)
    while (pass < w.maxPasses && (pass <= minWarm || warmElapsed < o.seconds)) {
      if (pass == 1) warmStart = System.nanoTime()
      val traced = tracer.isDefined && pass % 2 == 0
      tracer.foreach { t => t.drain(); t.active = traced; t.pass = pass }
      w.prepare(pass)
      val b0 = graft.ops.SessionLru.buildsSoFar
      val c0 = cpuS
      var wall = 0.0
      w.ops(pass).foreach { op =>
        attempted += 1
        val s = System.nanoTime()
        try {
          tracer.fold(w.call(op, pass))(_.span(op)(w.call(op, pass)))
          val d = (System.nanoTime() - s) / 1e9
          wall += d
          calls += Call(op, pass, d, traced)
        } catch { case NonFatal(e) => failures += ((s"$op (pass $pass)", msg(e))) }
      }
      passes += Pass(pass, wall, cpuS - c0, traced,
        graft.ops.SessionLru.buildsSoFar - b0)
      if (traced && pass > 0) try w.probes(pass)
        catch { case NonFatal(e) => failures += ((s"layer probes (pass $pass)", msg(e))) }
      heapMax = math.max(heapMax, heapAfterGcMb())
      pass += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    // share of the machine's CPU time the hypervisor gave to other guests
    // while this run was timed: flags a noisy host window
    val stealFrac = {
      val (s1, t1) = cpuJiffies()
      if (t1 > total0) (s1 - steal0).toDouble / (t1 - total0) else 0.0
    }
    tracer.foreach { t => t.drain(); t.active = false }
    val outputs = w.dumpOutputs()
    val calib = calibS()

    val warm = calls.filter(c => c.pass > 0 && !c.traced)
    val warmPasses = passes.filter(p => p.pass > 0 && !p.traced)
    val endToEnd = Map(
      "cold_s" -> calls.filter(_.pass == 0).map(_.wallS).sum,
      "warm_s" -> warm.groupBy(_.op).values.map(cs => median(cs.map(_.wallS).toSeq)).sum,
      "cpu_s" -> median(warmPasses.map(_.cpuS).toSeq),
      "heap_after_gc_mb" -> heapMax)
    val layers = tracer.map(t => Layers(t, w, passes.toSeq, calib, stealFrac))
      .getOrElse(Map.empty)
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "first_call_ms" -> firstCallMs, "timed_s" -> timedS,
      "passes" -> passes.size, "attempted" -> attempted,
      "failures" -> failures.map { case (k, v) => Map("op" -> k, "error" -> v) },
      "end_to_end" -> endToEnd, "per_layer" -> layers, "host_calib_s" -> calib,
      "host_steal_frac" -> stealFrac,
      "calls" -> calls.map(c => Map("op" -> c.op, "pass" -> c.pass,
        "wall_s" -> c.wallS, "traced" -> c.traced)),
      "outputs" -> outputs,
      "unattributed" -> tracer.map(t => Map(
        "stages" -> t.unattributedStages.get, "progress" -> t.unattributedProgress.get,
        "plans" -> t.unattributedPlans.get)).getOrElse(Map.empty))
    Files.writeString(Paths.get(o.result), Json(result))
    tracer.foreach(t => Files.writeString(Paths.get(o.result + ".spans.json"),
      Json(t.spansJson)))
    spark.stop()
  }
}

final case class Call(op: String, pass: Int, wallS: Double, traced: Boolean)
final case class Pass(pass: Int, wallS: Double, cpuS: Double, traced: Boolean,
    cacheBuilds: Long)
