package graft.perfbench

import graft.perfbench.Harness.{median, BatchQueries, PipelineDaily, Workload}

/** Per-layer metrics of a traced run, from its spans. A warm figure is the
  * median over the traced warm passes; a cold figure is the first pass.
  * Layers a workload does not call are left out (run.py reports them as 0).
  */
object Layers {
  def apply(t: Tracer, w: Workload, passes: Seq[Pass], calib: Double,
      stealFrac: Double): Map[String, Double] = {
    val spans = t.spans.synchronized(t.spans.toList)
    val warmPasses = passes.filter(p => p.pass > 0 && p.traced).map(_.pass).toSet
    def warm(name: String) = spans.filter(s => s.name == name && warmPasses(s.pass))
    def med(name: String)(f: Span => Double): Double = median(warm(name).map(f))
    def cold(name: String): Double =
      spans.find(s => s.name == name && s.pass == 0).map(_.wallS).getOrElse(0.0)

    val opNames = spans.filter(_.parent.isEmpty).map(_.name).toSet -- Probes
    val perPass = warmPasses.toSeq.map { p =>
      val st = new EngineStats
      spans.filter(s => s.parent.isEmpty && s.pass == p && opNames(s.name))
        .foreach(s => st.add(t.inclusive(s)))
      st
    }
    def engine(f: EngineStats => Double) = median(perPass.map(f))
    val traced = passes.filter(p => p.pass > 0 && p.traced).map(_.wallS)
    val untraced = passes.filter(p => p.pass > 0 && !p.traced).map(_.wallS)
    val common = Map(
      "engine.task_cpu_s" -> engine(_.taskCpuNs / 1e9),
      "engine.gc_s" -> engine(_.gcMs / 1e3),
      "engine.input_bytes" -> engine(_.inputBytes.toDouble),
      "engine.shuffle_write_bytes" -> engine(_.shuffleWriteBytes.toDouble),
      "engine.spill_bytes" -> engine(_.spillBytes.toDouble),
      "engine.stages" -> engine(_.stages.toDouble),
      "engine.tasks" -> engine(_.tasks.toDouble),
      "streaming.triggers" -> engine(_.triggers.toDouble),
      "bench.trace_overhead_frac" -> (median(traced) - median(untraced)) / median(untraced),
      "host.calib_s" -> calib,
      "host.steal_frac" -> stealFrac)

    val specific: Map[String, Double] = w match {
      case p: PipelineDaily =>
        def count(k: String) = median(p.counts.collect {
          case (pass, m) if warmPasses(pass) => m(k) }.toSeq)
        val parse = warmPasses.toSeq.flatMap { pass =>
          for {
            a <- spans.find(s => s.name == "ingest.parse" && s.pass == pass)
            b <- spans.find(s => s.name == "sources.scan" && s.pass == pass)
          } yield a.wallS - b.wallS
        }
        Map(
          "sources.scan_s" -> med("sources.scan")(_.wallS),
          "sources.records" -> count("records"),
          "ingest.parse_s" -> median(parse),
          "ingest.drain_s" -> med("pipeline.ingest")(_.wallS),
          "ingest.commit_ms" -> med("pipeline.ingest")(t.inclusive(_).commitMs.toDouble),
          "ingest.rows_degraded" -> count("rows_degraded"),
          "merge.season_read_s" -> med("merge.season_read")(_.wallS),
          "merge.upsert_s" -> med("merge.upsert")(_.wallS),
          "merge.publish_s" -> med("merge.publish")(_.wallS),
          "merge.rows_in" -> count("rows_in"),
          "merge.rows_out" -> count("rows_out"))
      case q: BatchQueries =>
        val perOp = q.names.flatMap { n =>
          def incl(f: EngineStats => Double) = med(n)(s => f(t.inclusive(s)))
          Seq(s"query.$n.cold_s" -> cold(n), s"query.$n.warm_s" -> med(n)(_.wallS),
            s"query.$n.planning_s" -> incl(_.planningMs / 1e3),
            s"query.$n.input_bytes" -> incl(_.inputBytes.toDouble),
            s"query.$n.stages" -> incl(_.stages.toDouble))
        }
        perOp.toMap ++ Map(
          "ops.cache_builds_cold" -> passes.filter(_.pass == 0).map(_.cacheBuilds).sum.toDouble,
          "ops.cache_builds_warm" -> passes.filter(_.pass > 0).map(_.cacheBuilds).sum.toDouble)
    }
    common ++ specific
  }

  /** Top-level spans that are direct layer calls, not workload operations. */
  val Probes: Set[String] = Set("sources.scan", "ingest.parse", "merge.season_read",
    "merge.upsert", "merge.publish", "probe.counts")
}
