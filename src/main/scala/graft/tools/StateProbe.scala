package graft.tools

import scala.collection.mutable

/** Per-trigger STATE-STORE attribution for the stateful drain queries
  * (r18 verdict item 4: "verify q85's watermark/interval condition
  * prunes both sides' state to the minimum the join contract needs" —
  * and the same question for every other stateful drain). Runs the
  * DECLARED query functions unmodified and records, per trigger, the
  * engine's own `StreamingQueryProgress.stateOperators` numbers
  * (rows total/updated/removed, memory, commit time) plus the
  * durationMs split — so claims about state size are measured from the
  * real path, never estimated.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *          sbt "runMain graft.tools.StateProbe q85 q89 q80"
  * Prints one JSON line per (query, trigger) with state metrics and a
  * per-query wall/cpu line.
  */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(32, maxPartitionBytes = Some("16m"))
    val all = graft.SparkEntry.queries
    val names = args.toSeq.flatMap { a =>
      val hits = all.keys.filter(_.startsWith(a)).toSeq.sorted
      if (hits.isEmpty) { println(s"no query matches '$a'"); Nil } else hits
    }
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // one JSON line per trigger, buffered under a lock (listener bus is
    // async); flushed after each query's quiescence wait
    val lines = mutable.ArrayBuffer.empty[String]
    var current = "none"
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        lines.synchronized {
          val p = e.progress
          val dur = {
            val b = mutable.ArrayBuffer.empty[String]
            p.durationMs.forEach((k, v) => b += s""""$k":$v""")
            b.sorted.mkString("{", ",", "}")
          }
          val ops = p.stateOperators.zipWithIndex.map { case (o, i) =>
            s"""{"op":"${o.operatorName}","i":$i,""" +
              s""""rows_total":${o.numRowsTotal},""" +
              s""""rows_updated":${o.numRowsUpdated},""" +
              s""""rows_removed":${o.numRowsRemoved},""" +
              s""""mem_bytes":${o.memoryUsedBytes},""" +
              s""""commit_ms":${o.commitTimeMs}}"""
          }.mkString("[", ",", "]")
          lines += s"""{"probe":"state","q":"$current","batch":${p.batchId},""" +
            s""""rows_in":${p.numInputRows},"durationMs":$dur,""" +
            s""""stateOperators":$ops}"""
        }
    }
    spark.streams.addListener(listener)
    names.foreach { n =>
      lines.synchronized { current = n; lines.clear() }
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      all(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      // poll for listener quiescence (DrainProbe rule: the bus is async)
      locally {
        def snap(): Int = lines.synchronized(lines.size)
        var prev = snap(); var settled = 0; var waited = 0
        while (settled < 2 && waited < 20) {
          Thread.sleep(100); waited += 1
          val cur = snap()
          if (cur == prev) settled += 1 else { settled = 0; prev = cur }
        }
      }
      lines.synchronized { lines.foreach(println) }
      println(f"""{"probe":"state_total","q":"$n","wall":$wall%.2f,"cpu":$cpu%.2f}""")
    }
    spark.streams.removeListener(listener)
    System.out.flush()
    spark.stop()
  }
}
