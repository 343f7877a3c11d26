package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * the engine-store aux files and oracle_sql.json, for the DuckDB
  * compare (tools/check_oracle.py).
  * Usage: runMain graft.Verify <sfDir> <outDir> [query ...] — named
  * queries restrict the dump (and oracle_sql.json) to those entries.
  */
object Verify {

  /** Writes one query's result parquet — or, if the query throws, a
    * one-row SENTINEL parquet (single `__verify_err` string column)
    * at the same path. In r10 a throwing query simply vanished from
    * the correctness artifact (96 → 91 rows) and the file still
    * looked all-green; the sentinel guarantees every registered query
    * produces a result dir, so a regression surfaces as a loud
    * schema/hash mismatch against its oracle instead of silently
    * shrinking the denominator. Returns true iff the query succeeded.
    */
  private[graft] def writeQueryResult(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, outDir: String): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try {
        val msg = s"__VERIFY_ERR__ ${e.getClass.getName}: " +
          Option(e.getMessage).getOrElse("").take(500)
        import spark.implicits._
        Seq(msg).toDF("__verify_err").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
      }
      false
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    def selected(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      writeQueryResult(spark, name, fn, sfDir, outDir)
    }
    // Engine-store dumps consumed by the vz_* oracles (single parquet
    // FILES — the driver's result walk only descends into dirs).
    try Queries.dumpOracleAux(spark, sfDir, outDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] oracle aux dump failed: ${e.getMessage}")
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
    // __AUX__ → the absolute out dir, so the engine-path oracles can
    // read_parquet the dumped stores from wherever the driver put them.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__AUX__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
