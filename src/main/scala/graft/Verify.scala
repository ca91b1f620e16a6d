package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Driver-run correctness dump: each registry query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is listed with its message in `outDir/ERRORS` and the run exits
  * non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional tail
    // restricts the dump to named queries (local iteration; the driver
    // always passes exactly two args and dumps everything)
    val Array(sfDir, outDir) = args.take(2)
    val selected = Registry.select(args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = selected.flatMap { q =>
      val err =
        try {
          q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${q.name}")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
          Some(s"${q.name}: ${e.getClass.getName}: ${e.getMessage}")
        }
      // drop interior caches (simhashPairs, connectedComponents) so 61
      // queries in one JVM don't accumulate storage pressure
      spark.catalog.clearCache()
      err
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql))
    // Single source of truth for the suite size — docs cite THIS line
    // (grep COUNTS) instead of hand-maintaining numbers that drift.
    val counts = s"COUNTS queries=${SparkEntry.queries.size} " +
      s"oracles=${SparkEntry.oracleSql.size}"
    println(counts)
    Files.writeString(Paths.get(s"$outDir/COUNTS"), counts + "\n")
    spark.stop()
    val errorsFile = Paths.get(s"$outDir/ERRORS")
    if (errors.nonEmpty) {
      Files.writeString(errorsFile, errors.mkString("", "\n", "\n"))
      System.err.println(s"[verify] ${errors.size} queries failed; see $errorsFile")
      sys.exit(1)
    }
    Files.deleteIfExists(errorsFile)
  }
}
