package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Runs under the Bench session profile: the dumped plans are the
  * benchmarked ones. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // dev loop: SPARK_GRAFT_VERIFY_ONLY=q111_hot_split_join dumps just
    // those queries (the driver sets nothing and gets the full surface)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each query's result to `$outDir/<name>` as parquet. A query
    * that throws is recorded as {query, exception, message} in
    * `$outDir/failures.json` (an empty list when all pass) and the loop
    * goes on; one summary line goes to stderr. Returns the failed names. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val failures = queries.toSeq.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // r10 tripwire: fail the dump loudly on driver-unsafe output
        // types (decimal128/binary) instead of shipping a silent hash
        // mismatch — the r9 q168/q170 failure class.
        OutputPortability.check(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    }
    val record = failures.map { case (name, e) => failureRecord(name, e) }
      .mkString("[", ",\n", "]")
    Files.writeString(Paths.get(s"$outDir/failures.json"), record)
    val names = failures.map(_._1)
    System.err.println(s"[verify] dumped ${queries.size - names.size}/${queries.size}, " +
      s"failed ${names.size}" + (if (names.isEmpty) "" else names.mkString(": ", ", ", "")))
    names
  }

  /** One `{"query", "exception", "message"}` record — the element shape
    * of `failures.json`, also Bench's stderr line for a failed line. */
  def failureRecord(name: String, e: Throwable): String =
    s"{${q("query")}: ${q(name)}, ${q("exception")}: ${q(e.getClass.getName)}, " +
      s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
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
