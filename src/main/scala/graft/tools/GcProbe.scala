package graft.tools

import scala.jdk.CollectionConverters._

/** GC-attribution probe for heap-sensitive query timing (r13 verdict
  * item 3: q32's 100× cost ranged 18.2–69.5 s when run after q36 in one
  * JVM, vs a 24.9–43.2 s fresh-JVM band — is that executor-heap
  * contention, or a residual plan-shape problem?).
  *
  * Runs the named queries IN ORDER in one JVM, timing each noop-sink
  * materialization together with the JVM's accumulated GC time inside
  * that window — if a slow run's extra seconds show up as GC seconds,
  * the variance is heap contention (a cluster sizes around it), not a
  * shape defect. Sweep heap via SPARK_DRIVER_MEM across invocations:
  *
  *   SPARK_DRIVER_MEM=8g SPARK_GRAFT_SF_DIR=/tmp/sfbig100 \
  *     sbt "runMain graft.tools.GcProbe q32 q32 q32"
  *   ... vs "q36 q32 q32 q32", at 8g and 16g.
  */
object GcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(32, maxPartitionBytes = Some("16m"))
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Process CPU (all threads) separates the two slow-run causes: a
    // slow run that burned the SAME cpu-seconds as a fast one was
    // starved of cycles (host/hypervisor contention — ambient); one that
    // burned MORE did extra work (a real shape/spill problem).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapMb = Runtime.getRuntime.maxMemory() / (1L << 20)
    println(s"""{"probe":"gc","heap_mb":$heapMb,"cpus":$cpus,"sf":"$sfDir"}""")
    args.foreach { a =>
      val full = graft.SparkEntry.queries.keys.toSeq.sorted
        .find(_.startsWith(a))
        .getOrElse(sys.error(s"no query matches '$a'"))
      val g0 = gcMs
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(full)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val cpuSec = (osBean.getProcessCpuTime - c0) / 1e9
      println(f"""{"q":"$full","sec":$sec%.2f,"cpu_sec":$cpuSec%.1f,""" +
        f""""gc_sec":${(gcMs - g0) / 1000.0}%.2f}""")
    }
    spark.stop()
  }
}
