package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.table.GraftTable

/** What every workload shares: the session, the seed, the tracer and
  * the tally of attempted and failed operations. */
final class Ctx(
    val spark: SparkSession, val seed: Long, val cores: Int,
    val tracer: Tracer, val workDir: String) {
  val gen = new Gen(seed)
  val inputs = new Gen.InputHash
  var attempted = 0L
  var failed = 0L
  /** First few failures, kept for the report. */
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run one operation; it fails if it throws or returns false. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case e: Exception => note(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
    if (!ok) { failed += 1; note(s"$what returned a wrong result") }
    ok
  }

  private def note(msg: String): Unit =
    if (failures.size < 20) failures += msg.take(400)

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  /** Materialize a generated frame so its generation is not timed as
    * engine work. */
  def prepare(df: DataFrame): DataFrame = span("bench", "prepare")(df.localCheckpoint(eager = true))

  def rnd(salt: Long): java.util.Random = new java.util.Random(seed * 1000003L + salt)
}

/** A seeded closed-loop workload with one client thread. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark

  /** Build a fresh instance of the workload's state under `dir`; only
    * the call's own work is timed (inputs are generated beforehand in
    * [[prepareInputs]]). */
  def setup(dir: String): Unit

  /** Generate the set-up inputs (untimed, once per run). */
  def prepareInputs(): Unit = ()

  /** Untimed operations after set-up, so code paths the set-up does not
    * reach are compiled before the loop is timed. */
  def warmup(): Unit = ()

  /** The timed closed loop; returns when `deadline` (nanoTime) passes. */
  def run(deadline: Long): Unit

  /** Checks against the generator's ground truth after the loop. */
  def verify(): Unit

  /** The primary operation's latency samples in ms (`op_ms_p50`). */
  def opSamples: Seq[Double]

  /** User rows (or documents) the workload completed per second. */
  def rowsPerSecond: Double

  /** Workload-specific results (tails, ratios), informational. */
  def detail: Map[String, Any]

  /** Per-layer values of a traced run, keyed by metric name. */
  def layers: Map[String, Double]
}

object Workload {
  /** Sizes of the live data files of a table's latest snapshot. */
  def liveFiles(t: GraftTable): Seq[graft.core.Meta.ManifestEntry] =
    t.sm.latestSnapshot().map(t.sm.liveEntries).getOrElse(Nil)

  /** Sorted runs of the fullest bucket: level-0 files plus populated
    * higher levels, as the compaction trigger counts them. */
  def sortedRunsMax(es: Seq[graft.core.Meta.ManifestEntry]): Int =
    es.groupBy(e => (e.partition, e.bucket)).values.map { g =>
      g.count(_.file.level == 0) + g.filter(_.file.level > 0).map(_.file.level).distinct.size
    }.maxOption.getOrElse(0)

  private val MetaDirs = Set("snapshot", "manifest", "schema", "index", "consumer", "tag", "branch")

  /** Data files on disk under a table directory (name → bytes), found by
    * listing it, metadata directories excluded. */
  def dataFilesOnDisk(root: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return Map.empty
    val s = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).filter { p =>
        val rel = base.relativize(p)
        val top = rel.getName(0).toString
        val name = p.getFileName.toString
        !MetaDirs.contains(top) && !name.startsWith(".") &&
          (name.endsWith(".parquet") || name.endsWith(".orc") || name.endsWith(".avro"))
      }.map(p => base.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
    } finally s.close()
  }
}
