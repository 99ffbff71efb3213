package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict to these query names (local iteration;
    // the driver always passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    val spark = Sessions.local(4)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = JsonEscape(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
