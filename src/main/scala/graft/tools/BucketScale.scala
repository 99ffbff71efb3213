package graft.tools

import org.apache.spark.sql.functions._

/** MergeTable scaling matrix over production-ish bucket counts (r16
  * verdict item 1): every 100× datapoint so far ran nBuckets=16 while
  * the design doc promises 4096 at 100 TB (`MergeTable.scala` header).
  * This drill measures per-merge cost across nBuckets × touch-fraction
  * so the sizing rule is stated from data, not extrapolation:
  *
  *  - table: lineitem at the given SF dir (100× replica = 60M rows,
  *    ~1.1 GB parquet), keyed (l_orderkey, l_linenumber) — unique per
  *    row, so delta-wins never shrinks the table;
  *  - for each nBuckets: initial bucketed write, then merges of
  *    ~equal-sized deltas under two touch patterns — SKEWED (keys
  *    confined to ~5% of buckets) and UNIFORM (all buckets), the two
  *    ends the verdict names;
  *  - per merge: wall, process-CPU seconds, the merge probe's own
  *    phase split (affected / stage_write / swap), touched-bucket
  *    count, and the touched dirs' on-disk bytes before the merge —
  *    the O(delta + touched-bucket bytes) claim is checked against
  *    exactly those bytes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sfbig100 \
  *          sbt "runMain graft.tools.BucketScale [nB ...]"
  * Prints one JSON line per (nBuckets, pattern, batch) plus an init
  * line per nBuckets; the BENCH_100X_r17 table is transcribed from it.
  */
object BucketScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfbig100")
    val bucketCounts =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(16, 256, 1024)
    val spark = graft.Sessions.local(32, maxPartitionBytes = Some("64m"))
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def timedCpu[A](body: => A): (A, Double, Double) = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9,
        (osBean.getProcessCpuTime - c0) / 1e9)
    }
    import graft.merge.MergeTable
    val keys = Seq("l_orderkey", "l_linenumber")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val nRows = li.count()
    val base = java.nio.file.Files
      .createTempDirectory("graft-bucketscale-").toString

    def dirBytes(path: String, buckets: Seq[Int]): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      buckets.map { b =>
        val d = new org.apache.hadoop.fs.Path(p, s"${MergeTable.BucketCol}=$b")
        if (fs.exists(d)) fs.getContentSummary(d).getLength else 0L
      }.sum
    }

    bucketCounts.foreach { nB =>
      val path = s"$base/li-$nB"
      val (_, initWall, initCpu) = timedCpu {
        MergeTable.write(li, path, keys, nB)
      }
      println(f"""{"probe":"bucket_scale","nB":$nB,"phase":"init",""" +
        f""""wall":$initWall%.2f,"cpu":$initCpu%.2f,"rows":$nRows}""")
      Seq("skew5" -> math.max(1, nB / 20), "uniform" -> nB).foreach {
        case (pattern, nTouch) =>
          val subset = (0 until nTouch).toSet
          // ~50k-row delta confined to the subset's buckets: sample rate
          // scales inversely with the touched fraction so both patterns
          // merge comparable row counts
          val inSubset = li.filter(MergeTable.bucketColumn(keys, nB)
            .isin(subset.toSeq.map(Integer.valueOf): _*))
          (1 to 2).foreach { batch =>
            // modulus = 1200 * nTouch/nB: the subset holds nTouch/nB of
            // the table's 60M rows, so this keeps the delta near 50k
            // rows for BOTH patterns — like-for-like merge comparisons
            val delta = inSubset.filter(
              pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
                lit(batch)), lit(math.max(1L, 1200L * nTouch / nB))) === 0)
              .withColumn("l_returnflag", concat(col("l_returnflag"), lit(s"#$batch")))
            val deltaRows = delta.count()
            val touched = MergeTable.bucketIds(delta, keys, nB).toSeq.sorted
            val preBytes = dirBytes(path, touched)
            val phases = scala.collection.mutable.Map[String, Double]()
              .withDefaultValue(0.0)
            val (_, wall, cpu) = timedCpu {
              MergeTable.merge(delta, path, keys, nB, _ => (),
                probe = (ph, ns) => phases(ph) += ns / 1e9,
                knownAffected = Some(touched))
            }
            val ph = phases.toSeq.sortBy(-_._2)
              .map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
            println(f"""{"probe":"bucket_scale","nB":$nB,""" +
              f""""pattern":"$pattern","batch":$batch,""" +
              f""""delta_rows":$deltaRows,"touched":${touched.size},""" +
              f""""touched_mb":${preBytes / 1e6}%.1f,""" +
              f""""wall":$wall%.2f,"cpu":$cpu%.2f,"phases":{$ph}}""")
          }
      }
      // constant-isolation datapoint: a near-empty delta (one key) —
      // everything but one bucket's rewrite is per-merge constant
      val one = li.limit(1)
        .withColumn("l_returnflag", concat(col("l_returnflag"), lit("#tiny")))
      val oneTouched = MergeTable.bucketIds(one, keys, nB).toSeq
      val (_, tinyWall, tinyCpu) = timedCpu {
        MergeTable.merge(one, path, keys, nB, _ => (),
          knownAffected = Some(oneTouched))
      }
      println(f"""{"probe":"bucket_scale","nB":$nB,"phase":"tiny_delta",""" +
        f""""wall":$tinyWall%.2f,"cpu":$tinyCpu%.2f,""" +
        f""""touched":${oneTouched.size}}""")
      // clean up this table before the next config (disk headroom)
      scala.util.Try(org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path)))
    }
    scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base)))
    spark.stop()
  }
}
