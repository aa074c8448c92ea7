package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameSubstring ...] — optional filters run a
    // subset (dev loop); the driver always calls with exactly two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus)
    new java.io.File(outDir).mkdirs()
    try graft.queries.CheckQueries.materializeFixtures(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] fixture setup failed: ${e.getMessage}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Compare-environment stamp (VERDICT r13 #4): the r13 q_influence
    // split (builder-green, driver-red) was only diagnosable by
    // re-deriving the rounding math — record the engine side of the
    // compare environment in the artifact dir and on stderr so a
    // builder/driver disagreement names its suspects. (The DuckDB /
    // Python versions are the driver's side; the verify skill's
    // compare script prints them.)
    val env = Map(
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "oracle_rounding_exposed" ->
        graft.queries.OracleRounding.exposed.toSeq.sorted.mkString(","))
    val envJson = env.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/compare_env.json"), envJson)
    System.err.println(s"[verify] env: $envJson")
    spark.stop()
  }
}
