package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      // see Bench.scala: without these, long single-session runs degrade
      // linearly (status-store retention + idle-heap ContextCleaner)
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration escape hatch: comma-separated subset of entry names.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // r5 postmortem: a crashed entry left NO trace in the artifacts — the
    // driver file just lacked the key and "all passing" stood unchallenged
    // while 11/112 entries threw. Failures now land in errors.json AND a
    // final registry-vs-dumped diff line that cannot be missed.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      dumpEntry(spark, name, fn, sfDir, outDir).foreach { msg =>
        failed(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
      }
      System.gc() // drive the weak-ref ContextCleaner between queries
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
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // registry ↔ dumped-dir reconciliation: name every registered entry
    // with no parquet on disk (crashed, filtered, or never attempted)
    val dumped = Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    val missing = SparkEntry.queries.keySet -- dumped
    println(s"[verify] ${selected.size - failed.size}/${SparkEntry.queries.size} dumped, " +
      s"${failed.size} failed" +
      (if (failed.nonEmpty) s": ${failed.keys.mkString(", ")}" else "") +
      (if (missing.nonEmpty) s"; MISSING from $outDir: ${missing.toSeq.sorted.mkString(", ")}"
       else "; registry fully dumped"))
    spark.stop()
  }

  /** Writes one entry's result to `<outDir>/<name>` as parquet, under the
    * job group `graft-verify-<name>`; the failure message, if it threw. */
  def dumpEntry(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, outDir: String): Option[String] =
    SparkEntry.inEntryGroup(spark, "verify", name) {
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
}
