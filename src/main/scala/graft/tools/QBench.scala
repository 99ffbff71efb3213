package graft.tools

/** Single-query bench harness for iterating on one query's plan without
  * paying the full 94-query sweep: `runMain graft.tools.QBench q21 q26`
  * times each named query with the same session conf, warm-run, and
  * min-of-2 discipline as [[graft.Bench]], printing per-iteration wall
  * AND process-cpu seconds so a warm-vs-steady gap (cache build cost)
  * and a drift-vs-regression cpu signal are both visible. Timed action
  * is the same noop-sink write as Bench (count() lets Catalyst prune
  * derived columns and under-measures materialization).
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(32, maxPartitionBytes = Some("16m"))
    val all = graft.SparkEntry.queries
    val names = args.toSeq.flatMap { a =>
      val hits = all.keys.filter(_.startsWith(a)).toSeq.sorted
      if (hits.isEmpty) { println(s"no query matches '$a'"); Nil } else hits
    }
    val osBean = scala.util.Try(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]).toOption
    def cpuNanos: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
    names.foreach { n =>
      val times = (1 to 3).map { _ =>
        val c0 = cpuNanos
        val t0 = System.nanoTime()
        all(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, (cpuNanos - c0) / 1e9)
      }
      val best = times.tail.minBy(_._1)
      // cpu printed only when the MX bean resolved — a failed cast would
      // otherwise read as a phantom cpu=0.00 measurement
      val cpuStr = if (osBean.isDefined) f"cpu=${best._2}%.2f" else "cpu=n/a"
      println(f"$n%-28s warm=${times.head._1}%.3f t1=${times(1)._1}%.3f " +
        f"t2=${times(2)._1}%.3f min=${best._1}%.3f " + cpuStr)
    }
    spark.stop()
  }
}
