package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = Session.only() // SPARK_GRAFT_ONLY: dump a subset
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.forall(_(kv._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${graft.obs.Failure.describe(e)}")
      }
      // free persisted intermediates between queries (see Bench)
      spark.catalog.clearCache()
    }
    def q(s: String): String = graft.util.Jsons.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
