package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare, plus status.json: per query,
  * `ok` or the error with its message, and its seconds. stdout ends with
  * the ok/failed count. A failed query does not change the exit code;
  * its parquet dir is missing and status.json names it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (dev loop; the driver
    // always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val status = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
      (name, err, (System.nanoTime() - t0) / 1e9)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/status.json"), statusJson(status))
    spark.stop()
    val failed = status.count(_._2.isDefined)
    println(s"[verify] ok=${status.size - failed} failed=$failed")
  }

  /** status.json: `{"<query>": {"status": "ok"|"failed", ["error": "<class:
    * message>",] "seconds": <s>}, ...}` from (name, error if it failed,
    * seconds).
    */
  def statusJson(status: Seq[(String, Option[String], Double)]): String =
    status.map { case (name, err, secs) =>
      val state = err.fold(q("ok"))(m => s"${q("failed")}, ${q("error")}: ${q(m)}")
      s"${q(name)}: {${q("status")}: $state, ${q("seconds")}: ${"%.3f".formatLocal(java.util.Locale.ROOT, secs)}}"
    }.mkString("{", ",\n", "}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in oracle SQL or an error message would otherwise make
  // the JSON reader (tools/check_oracle.py) fail and zero the check.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
