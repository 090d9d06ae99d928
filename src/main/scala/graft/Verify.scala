package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset for fast local
    // iteration (the driver always calls with 2 args = full set)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the session the oracle verifies is the one the bench measures and
    // the facade ships, so correctness covers the plans the perf numbers
    // come from
    val spark = graft.api.EngineSession.local(cpus).spark
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    writeOracleJson(outDir)
    spark.stop()
    // oracle-artifact lint on every Verify output (not by hand): the two
    // DuckDB representation hazards (HUGEINT output columns, -0.0 values)
    // that have produced value-equal hash mismatches. Best-effort — a
    // missing python/duckdb skips silently (the driver box has both; the
    // spec suite runs the same lint as a hard gate) — but a DETECTED
    // violation fails the run loudly: it would fail the driver compare
    // anyway, and here the message says WHY.
    lintOracles(sfDir, outDir).foreach { rc =>
      if (rc != 0) {
        System.err.println(s"[verify] oracle_lint found violations (rc=$rc)")
        sys.exit(rc)
      }
    }
  }

  /** Dump SparkEntry.oracleSql as `<outDir>/oracle_sql.json` — the file
    * the driver's DuckDB compare and the oracle lint both read. Exposed
    * (not inlined in main) so OracleLintSpec lints the same dump the
    * driver consumes.
    */
  def writeOracleJson(outDir: String): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))

  /** Some(exitCode) if the lint ran, None if the environment lacks it
    * (no python3/duckdb, or the script not found from this working dir).
    */
  private def lintOracles(sfDir: String, outDir: String): Option[Int] =
    try {
      // resolve the script from (1) an explicit env override, then (2)
      // `tools/oracle_lint.py` under the cwd or any ancestor (so running
      // from a subdirectory of any checkout still finds the repo's tools/)
      // — never a machine-specific absolute path
      val ancestors = Iterator.iterate(
          Paths.get("").toAbsolutePath.toFile)(_.getParentFile)
        .takeWhile(_ != null)
        .map(d => new java.io.File(d, "tools/oracle_lint.py"))
      val script = (sys.env.get("GRAFT_ORACLE_LINT").map(new java.io.File(_))
          .iterator ++ ancestors)
        .find(_.isFile).map(_.getPath)
        .getOrElse(return None)
      val probe = new ProcessBuilder("python3", "-c", "import duckdb")
        .redirectErrorStream(true).start()
      if (probe.waitFor() != 0) return None
      val p = new ProcessBuilder("python3", script, sfDir, outDir)
        .inheritIO().start()
      Some(p.waitFor())
    } catch { case _: Exception => None }
}
