package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory lives in graft.queries.* (one QDef per operator
  * from SURVEY.md §2); this object just flattens it into the maps the
  * driver consumes.
  */
object SparkEntry {

  /** The session every harness main (Bench, Verify, Profile, Plans)
    * runs the gates in: `local[$SPARK_GRAFT_CPUS]` (default 4). */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry TIMESTAMP(NANOS), which reads as a long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.timeType.enabled", "true") // g30 uses TIME(p)
      .config("spark.sql.adaptive.enabled", "true")
      // bytes-first AQE coalescing (r17): Spark's own docs recommend
      // parallelismFirst=false in production so post-shuffle partitions
      // respect advisoryPartitionSizeInBytes instead of being split to
      // chase idle cores — fewer, right-sized reduce tasks at EVERY
      // scale (measured −25% on p06 here, neutral-to-positive
      // elsewhere; not a local[32]-specific tune)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // aggressive cleaner cadence: benched queries create broadcasts/
      // shuffles that otherwise only clean up on rare full GCs and
      // skew later measurements with memory pressure
      .config("spark.cleaner.periodicGC.interval", "30s")
      // multi-commit gates are job storms; the async status-store queue
      // overflows under them (ElementTrackingStore errors in r6) and its
      // backlog steals cycles from the measured queries
      .config("spark.appStatusStore.asyncTracking.enable", "false")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "30000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Full inventory, grouped by area. */
  lazy val all: Vector[QDef] =
    Relational.defs ++ MergeSemantics.defs ++ Pipeline.defs ++ Storage.defs ++
      Streams.defs ++ Media.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
