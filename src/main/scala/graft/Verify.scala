package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: query-name filter (local iteration)
    val only = args.lift(2).map(SparkEntry.selectQueries)
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // a query that throws before its write must leave no result behind:
      // a previous run's parquet would otherwise be compared as this one's
      val out = s"$outDir/$name"
      GraftSession.deleteRecursively(new java.io.File(out))
      try fn(spark, sfDir).coalesce(1).write.parquet(out)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonText.str(k)}: ${JsonText.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
