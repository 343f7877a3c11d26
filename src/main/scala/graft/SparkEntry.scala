package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the SURVEY §2 operator inventory (scans, joins, aggs,
  * windows, top-k, scalar fns, streaming batch-equivalents, dedup/
  * ANN/multimodal/text-analysis additions); `oracleSql` carries the
  * DuckDB mirror for every SQL-expressible entry. Non-SQL entries
  * (LSH banding, stemmed FTS, engine end-to-end paths) get the
  * weaker rows-only check and are asserted in ScalaTest instead.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the engine's hybrid RRF search over
    * the documents corpus (embed → fuse semantic+lexical → top-k).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.vzHybridSearch(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  def oracleSql: Map[String, String] = Oracles.sql

  /** The local session the mains (Verify, Bench) run on:
    * `local[cpus]` with one shuffle partition per core, UTC, no UI,
    * and nanosecond parquet timestamps read as longs (the testdata has
    * shipped events.ts both as TIMESTAMP(NANOS) and as µs; see
    * Queries.eventTsUs).
    */
  private[graft] def localSession(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}
