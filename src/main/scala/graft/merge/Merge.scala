package graft.merge

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's merge/publish job (scripts/spark_merge_dfs.py), i.e. the
  * upsert that keeps the season dataset current:
  * season ∪_byName delta → one row per (game_id, time_remaining, quarter).
  *
  * Scale notes: every upsert is one exchange of the tagged union, chosen
  * by the caller's output. [[mergeDeterministic]] lets the winner window
  * hash-cluster on the keys; [[MergeTable]] hashes on its bucket column,
  * which the window's keys clustering rides; the `.tgz` publish
  * ([[mergeForPublish]]) gathers into one partition. The `.tgz`
  * single-artifact packaging (S3/S5) round-trips bytes through the driver
  * exactly like the reference and writes one file from one task; it
  * exists for artifact parity and is the SMALL-artifact path. The scale
  * path is [[publishPartitioned]]: executors write partitioned csv.gz /
  * parquet directly, no driver bottleneck, no coalesce(1).
  */
object Merge {
  /** Dedup keys of the season table (reference spark_merge_dfs.py:83). */
  val dedupKeys: Seq[String] = Seq("game_id", "time_remaining", "quarter")

  /** S2: headered, string-typed CSV directory scan
    * (spark_merge_dfs.py:73-80 — header=true, no inferSchema). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** D1/U1 with reference semantics: align by name (missing columns →
    * null), keep an arbitrary row per key (spark_merge_dfs.py:82-83).
    */
  def merge(season: DataFrame, delta: DataFrame): DataFrame =
    season.unionByName(delta, allowMissingColumns = true)
      .dropDuplicates(dedupKeys)

  /** Deterministic upsert upgrade: newest source wins, reproducible under
    * retries and shuffle-order changes. `__src` 0 (delta) beats 1
    * (season); duplicate keys WITHIN a source are tie-broken by the
    * remaining columns lexicographically, so the winner never depends on
    * shuffle order.
    */
  def mergeDeterministic(season: DataFrame, delta: DataFrame,
      keys: Seq[String] = dedupKeys): DataFrame =
    deterministicWinner(Some(season), delta, keys, Clustering.Keys)

  /** The `.tgz` publish frame: [[mergeDeterministic]]'s winners over
    * (season?, delta) on [[dedupKeys]], sorted by the keys, in ONE
    * partition. Without a season (day-0 bootstrap) the delta alone goes
    * through the same winner, so duplicate keys within it resolve by the
    * same tie-break and the artifact stays byte-reproducible.
    *
    * Plan invariant: one exchange, into a single partition. The artifact
    * is one file written by one task, so nothing is lost by gathering
    * before the window instead of after it; and the window's sort
    * (keys, `__src`, remaining columns) already orders the rows by the
    * keys, so the publish sort is satisfied in place — no range
    * exchange, no sampling job, no second sort. CSV parsing of both
    * inputs stays parallel on the map side of the exchange.
    */
  def mergeForPublish(season: Option[DataFrame], delta: DataFrame): DataFrame =
    deterministicWinner(season, delta, dedupKeys, Clustering.Single)
      .orderBy(dedupKeys.map(col): _*)

  /** How the tagged union is clustered for the winner window. Each choice
    * is exactly one exchange: [[Clustering.Keys]] is the window's own;
    * the others satisfy the window's keys clustering, so it adds none. */
  private[merge] sealed trait Clustering
  private[merge] object Clustering {
    /** Let the window hash-cluster on the keys. */
    case object Keys extends Clustering
    /** Hash on leading columns that are each a PURE FUNCTION of the keys
      * (e.g. [[MergeTable]]'s `__bucket`); the window partitions by
      * (cols ++ keys), which that hashing already satisfies. */
    final case class Leading(cols: Seq[String]) extends Clustering
    /** Gather into one partition (the single-file publish). */
    case object Single extends Clustering
  }

  /** The winner selection shared by every upsert. A [[Clustering.Leading]]
    * choice lets the winner selection ride the same single shuffle that
    * clusters the output for the caller's partitioned write. Winner
    * semantics do not depend on the clustering: grouping by
    * (f(keys), keys) is grouping by keys.
    */
  private[merge] def deterministicWinner(season: Option[DataFrame],
      delta: DataFrame, keys: Seq[String], clustering: Clustering): DataFrame = {
    val deltaTagged = delta.withColumn("__src", lit(0))
    val tagged0 = season.fold(deltaTagged)(_.withColumn("__src", lit(1))
      .unionByName(deltaTagged, allowMissingColumns = true))
    val (tagged, extraPartitionCols) = clustering match {
      case Clustering.Keys => (tagged0, Nil)
      case Clustering.Leading(cols) => (tagged0.repartition(cols.map(col): _*), cols)
      case Clustering.Single => (tagged0.repartition(1), Nil)
    }
    // tie-break only on orderable columns — a map-typed payload column
    // would fail Window.orderBy analysis (maps are unorderable); frames
    // whose non-key columns are all unorderable degrade to __src-only
    // ordering (arbitrary within-source winner, as the reference had)
    val orderable = tagged.schema.fields
      .filterNot(f =>
        (keys ++ extraPartitionCols :+ "__src").contains(f.name))
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(_.name).sorted
    val w = Window.partitionBy((extraPartitionCols ++ keys).map(col): _*)
      .orderBy(col("__src") +: orderable.map(col): _*)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** S3: season dataset from a single `.tgz` holding one headered CSV
    * (spark_merge_dfs.py:53-71): driver-side gunzip+untar, then CSV
    * parsing on executors. */
  def readSeasonTgz(spark: SparkSession, tgzPath: String): DataFrame =
    spark.read.option("header", "true").csv(seasonLines(spark, tgzPath))

  /** The season CSV's lines, parallelized into Spark as the reference
    * does. The one `.csv` member is untarred on the driver (skipping macOS
    * `._*` members) and decoded as UTF-8 with replacement, same as the
    * reference's `decode('utf-8', errors='replace')`. The lines enter as
    * an RDD, never as a driver-side local relation: a local relation of a
    * season's lines costs about a second to build and plan before any job
    * runs, several times the untar itself.
    */
  private[graft] def seasonLines(spark: SparkSession,
      tgzPath: String): Dataset[String] = {
    val p = new Path(tgzPath)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val in = new TarArchiveInputStream(
      new GZIPInputStream(new BufferedInputStream(fs.open(p))))
    try {
      val lines = Iterator.continually(in.getNextEntry)
        .takeWhile(_ != null)
        .collectFirst {
          case e: TarArchiveEntry if e.isFile &&
              !new Path(e.getName).getName.startsWith("._") &&
              e.getName.endsWith(".csv") =>
            val codec = scala.io.Codec(StandardCharsets.UTF_8)
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
            scala.io.Source.fromInputStream(in)(codec).getLines().toVector
        }
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no .csv member in $tgzPath"))
      import spark.implicits._
      spark.createDataset(spark.sparkContext.parallelize(lines))
    } finally in.close()
  }

  /** S5 small-artifact path: single CSV inside a `.tgz`
    * (spark_merge_dfs.py:86-128), written as one file by one task.
    * coalesce(1) narrows without a shuffle (on [[mergeForPublish]]'s
    * frame, already one partition, it is a no-op); the repack runs on the
    * driver over the one part file.
    */
  def publishTgz(df: DataFrame, tmpDir: String, tgzPath: String,
      csvName: String): Unit = {
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmpDir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmp = new Path(tmpDir)
    val fs = FileSystem.get(tmp.toUri, conf)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
      .getOrElse(throw new java.io.FileNotFoundException(s"no part file in $tmpDir"))
    val outP = new Path(tgzPath)
    val outFs = FileSystem.get(outP.toUri, conf)
    val tar = new TarArchiveOutputStream(
      new GZIPOutputStream(new BufferedOutputStream(outFs.create(outP, true))))
    try {
      val len = fs.getFileStatus(part).getLen
      val entry = new TarArchiveEntry(csvName)
      entry.setSize(len)
      // reproducible artifact: a fresh TarArchiveEntry stamps wall-clock
      // mtime, making two runs over identical data publish different
      // bytes. Epoch-0 mtime (gzip already writes MTIME=0) means same
      // content -> same artifact — what lets a restarted pipeline prove
      // it converged to the uninterrupted run's output.
      entry.setModTime(0L)
      tar.putArchiveEntry(entry)
      val in = fs.open(part)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, tar, 65536, false)
      finally in.close()
      tar.closeArchiveEntry()
    } finally tar.close()
    fs.delete(tmp, true)
  }

  /** S5 scale path: partitioned columnar publish — executors write in
    * parallel, nothing flows through the driver. This is what replaces the
    * single-tgz artifact at 100 TB.
    */
  def publishPartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }
}
