package graft

import graft.ops.SessionLru
import graft.queries.{MultimodalOps, PipelineOps, StreamingQueries}
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Tuning lives on derived sessions ([[Sessions.scoped]]), never on the
  * caller's: no query family writes its caller's conf, and a query
  * planning in the caller while a drain runs sees the caller's settings.
  */
class SessionsSpec extends SparkTestBase {
  private val partsKey = "spark.sql.shuffle.partitions"
  private val aqeKey = "spark.sql.adaptive.enabled"

  test("scoped: a memoized clone with the keys set; the caller is untouched") {
    val caller = spark.newSession()
    val before = caller.conf.getAll
    val a = Sessions.scoped(caller, partsKey -> "8", aqeKey -> "false")
    assert(a ne caller)
    assert(a.conf.get(partsKey) == "8" && a.conf.get(aqeKey) == "false")
    assert(caller.conf.getAll == before)
    // same keys in any order: the same derived session, no new build
    val b0 = SessionLru.buildsSoFar
    assert(Sessions.scoped(caller, aqeKey -> "false", partsKey -> "8") eq a)
    assert(SessionLru.buildsSoFar == b0)
    // a change to the caller's conf derives afresh, carrying the change
    caller.conf.set("spark.sql.ansi.enabled", "false")
    val c = Sessions.scoped(caller, partsKey -> "8", aqeKey -> "false")
    assert(c ne a)
    assert(c.conf.get("spark.sql.ansi.enabled") == "false")
  }

  test("a rebound persisted frame still reads its cache, and joins the caller's") {
    val df = spark.range(1000).selectExpr("id % 10 AS k", "id").persist()
    try {
      df.count()
      val rebound = SessionBridge.rebind(df,
        Sessions.scoped(spark, partsKey -> "8"))
      assert(rebound.queryExecution.withCachedData.collect {
        case m: InMemoryRelation => m }.nonEmpty)
      val keys = spark.range(5).withColumnRenamed("id", "k")
      assert(keys.join(rebound, "k").count() == 500)
      assert(rebound.join(keys, "k").count() == 500)
    } finally df.unpersist()
  }

  test("the former conf mutators leave the caller's conf unchanged") {
    val caller = spark.newSession()
    val mutators: Seq[(String, SparkSession => Any)] = Seq(
      "Tables.events" -> (s => Tables.events(s, sf).collect()),
      "fileEventSource" -> (s => Streaming.fileEventSource(s, sf)),
      "q79" -> (s => StreamingQueries.streamedHourlyRollup(s, sf).collect()),
      "q89" -> (s => StreamingQueries.streamedTwsSessions(s, sf).collect()),
      "q88" -> (s => PipelineOps.bloomDecontaminate(s, sf).collect()),
      "q91" -> (s => MultimodalOps.quarantineLoop(s, sf).collect()))
    mutators.foreach { case (name, run) =>
      val before = caller.conf.getAll.toSet
      run(caller)
      val after = caller.conf.getAll.toSet
      assert(((after diff before) ++ (before diff after)).isEmpty,
        s"$name wrote the caller's conf")
    }
  }

  test("a batch query planned in the caller during a q79 drain sees its conf") {
    val caller = spark.newSession()
    val want = (caller.conf.get(partsKey), caller.conf.get(aqeKey))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    // onQueryStarted runs synchronously on the stream's thread before its
    // first batch, so everything recorded here happens during the drain
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        seen.add(scala.util.Try {
          val plan = caller.range(100).groupBy(col("id") % 7).count()
            .queryExecution.executedPlan
          val (physical, adaptive) = plan match {
            case a: AdaptiveSparkPlanExec => (a.executedPlan, true)
            case p => (p, false)
          }
          val parts = physical.collect {
            case x: ShuffleExchangeExec => x.outputPartitioning.numPartitions
          }
          (caller.conf.get(partsKey), caller.conf.get(aqeKey), parts,
            adaptive)
        }.fold(identity, identity))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    caller.streams.addListener(listener)
    try StreamingQueries.streamedHourlyRollup(caller, sf).collect()
    finally caller.streams.removeListener(listener)
    assert(!seen.isEmpty, "the listener never ran during the drain")
    seen.forEach { s =>
      assert(s == ((want._1, want._2, Seq(want._1.toInt), want._2.toBoolean)))
    }
  }

  test("warm q79 and q91 calls make no SessionLru builds") {
    val warm: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q79" -> StreamingQueries.streamedHourlyRollup,
      "q91" -> MultimodalOps.quarantineLoop)
    warm.foreach { case (name, q) =>
      q(spark, sf).collect()
      val b0 = SessionLru.buildsSoFar
      q(spark, sf).collect()
      assert(SessionLru.buildsSoFar == b0, s"warm $name rebuilt a cache")
    }
  }
}
