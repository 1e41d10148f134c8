package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // Dev convenience: an optional comma-separated filter runs a subset
    // (the driver always invokes the 2-arg full sweep).
    val only: Option[Set[String]] =
      if (args.length == 3) Some(args(2).split(",").toSet) else None
    val spark = LocalSession.builder(LocalSession.cpus(32))
      // Marks the session as oracle-gated: queries whose oracle text
      // interpolates a compile-time default (pipe_dp_card's DP seed)
      // refuse to run with a conflicting runtime conf instead of
      // silently diverging from the oracle.
      .config("spark.graft.oracle.gate", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A stale result from a previous run must not green-light a query
        // that no longer runs — remove it.
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
          }
          rm(dir)
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonOut.q(k)}: ${JsonOut.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
