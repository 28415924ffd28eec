package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_status.json with one `{ok, error, sec}` entry per gate run. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query,query,...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional comma-separated subset for fast single-query iteration;
    // oracle_sql.json is always written in full so a partial dump never
    // masquerades as a full correctness run (check.py flags the missing
    // result dirs instead of silently passing)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = Session.build(appName = "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val status = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      val t0 = System.nanoTime()
      val error = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(e.toString)
      }
      name -> (error, (System.nanoTime() - t0) / 1e9)
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
    val statusJson = status.sortBy(_._1).map { case (name, (error, sec)) =>
      val secs = "%.3f".formatLocal(java.util.Locale.ROOT, sec)
      val err = error.fold("null")(q)
      s"""${q(name)}: {"ok": ${error.isEmpty}, "error": $err, "sec": $secs}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statusJson)
    spark.stop()
  }
}
