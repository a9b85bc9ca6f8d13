package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each query of the `SparkEntry.registry`
  * → parquet, plus oracle_sql.json (the registry's oracle SQL), for the
  * driver's DuckDB compare. Queries that throw are listed in failed.json
  * (name → message) after everything else is written, and the run exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter (driver leaves it unset): restricts both the
    // dumped results and oracle_sql.json so tools/check.py checks a subset
    val only = SparkEntry.only(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.keys.toSeq.filter(n => only.forall(_.contains(n))))
    val oracles = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(oracles))
    val failedPath = Paths.get(s"$outDir/failed.json")
    Files.deleteIfExists(failedPath)
    if (failed.nonEmpty) Files.writeString(failedPath, jsonObject(failed))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Writes each named query's result to `$outDir/<name>` in `names`
    * order; returns the queries that threw, name → message, in that order. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[(String, String)] = {
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    names.flatMap { name =>
      val failure =
        try {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      // free per-query caches/checkpoints (lm_score_cached count tables,
      // cluster-family localCheckpoints) — the round-3 storage-pressure
      // variance class, same sweep Bench performs
      val rdds = spark.sparkContext.getPersistentRDDs
      (rdds.keySet -- baseline).foreach(id => rdds(id).unpersist(blocking = false))
      failure
    }
  }

  private def jsonObject(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

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
