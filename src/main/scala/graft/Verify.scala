package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL (or an exotic sfDir path in
    * Bench's metric line) would otherwise make the driver's json.load
    * fail and silently zero the round's artifact. Shared by Verify and
    * Bench — the one JSON emitter, not two divergent ones. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names (builder-side
    // iteration on a subset; the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, subset) => (s, o, Some(subset.split(',').toSet))
      case _ => sys.error("usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
    }
    val spark = LocalSession.build("graft-verify-")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // stale-output guard (review finding): when a query THROWS in a
      // reused outDir, the previous run's parquet must not survive to be
      // PASS-compared by check.py against the oracle — a regression would
      // read as green. Clear the target before every attempt.
      graft.sources.DeltaInterop.deleteRecursively(Paths.get(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
