package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Mains.session()
    // SPARK_GRAFT_ONLY is a dev-only subset; unset, the gate runs the
    // full inventory
    val names = SparkEntry.queries.keys.filter(Mains.keep).toSeq
    dump(spark, sfDir, outDir, names, names)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in hand-written oracle SQL would otherwise make the
    * checker's json.load fail and silently zero the correctness count.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes each of `names` (run on `dataDir`) to `outDir/<name>` as
    * one-file parquet, and the oracle SQL of `oracleNames` to
    * `outDir/oracle_sql.json`. A failing entry is logged and skipped.
    *
    * `attempted.json` lists `names` and is written BEFORE the entry
    * loop: the checker distinguishes "not in this run's subset" (skip)
    * from "attempted but wrote no output" (a crashed entry — FAIL)
    * without depending on its own environment still carrying the subset
    * variable, and a hard JVM death mid-loop (OOM/kill) still leaves the
    * list, so the crashed entries score as FAIL instead of every
    * non-subset entry being mis-flagged from a fresh shell.
    */
  def dump(spark: SparkSession, dataDir: String, outDir: String,
           names: Seq[String], oracleNames: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      names.sorted.map(q).mkString("[", ",", "]"))
    for (name <- names) {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dataDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => oracleNames.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
