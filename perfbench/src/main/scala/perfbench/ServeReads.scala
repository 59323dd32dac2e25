package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.table.GraftTable

/** Read-only serving over a primary-key table left with several
  * uncompacted sorted runs per bucket. Its data files hold more rows
  * than the table's lookup cache admits, so every point lookup decodes
  * files. The loop repeats a fixed cycle: point lookups on skewed keys,
  * one range query through the `graft` SQL catalog, one through
  * `GraftTable.scan(filter)`, and full scans projecting 4 of the 21
  * columns. */
final class ServeReads(c: Ctx) extends Workload(c) {
  import ServeReads._

  private var inputs: Seq[DataFrame] = Nil
  private val versions = Array.fill(Keys)(0)
  private var t: GraftTable = _
  private var expectedScan = (0L, 0L)

  private val lookupMs = ArrayBuffer.empty[Double]
  private val lookupReadBytes = ArrayBuffer.empty[Long]
  private val rangeMs = ArrayBuffer.empty[Double]
  private val scanMs = ArrayBuffer.empty[Double]
  private val planned = ArrayBuffer.empty[(Int, Int)] // (files planned, files live)
  private val sqlBytesPlanned = ArrayBuffer.empty[Long]

  override def prepareInputs(): Unit = {
    val all = Array.range(0, Keys)
    c.inputs.add(all)
    val bulk = c.gen.rows(Gen.kvFrame(spark, all, Array.fill(Keys)(0), "_op",
      Array.fill(Keys)("+I")))
    // upsert rounds, the last one carrying the deletes: one sorted run
    // per round on top of the bulk load
    val dels = Gen.sample(c.rnd(UpsertRounds + 1), 0, Keys, DeleteRows)
    c.inputs.add(dels)
    val delSet = dels.toSet
    val rounds = (1 to UpsertRounds).map { r =>
      val up = Gen.skewedKeys(c.rnd(r), Keys, RoundRows, HotShare)
      c.inputs.add(up)
      val ks = if (r < UpsertRounds) up else up.filterNot(delSet) ++ dels
      val kinds = ks.map(k => if (r == UpsertRounds && delSet(k)) "-D" else "+U")
      ks.zip(kinds).foreach { case (k, kind) => versions(k) = if (kind == "-D") -1 else r }
      c.gen.rows(Gen.kvFrame(spark, ks, Array.fill(ks.length)(r), "_op", kinds))
    }
    inputs = (bulk +: rounds).map(_.localCheckpoint(eager = true))
    // expected result of the projected full scan, computed on the driver
    var n = 0L
    var h = 0L
    versions.indices.foreach { k =>
      if (versions(k) >= 0) {
        n += 1
        h += c.gen.rowDigest(k, ProjCols.drop(1).map(f => c.gen.value(f.drop(1).toInt, k, versions(k))))
      }
    }
    expectedScan = (n, h)
  }

  private var warehouse: String = _

  def setup(dir: String): Unit = {
    // laid out as a catalog warehouse: the table is `db.serve` under `dir`
    warehouse = dir
    t = GraftTable.create(spark, s"$dir/db/serve", inputs.head.schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> c.cores.toString, "rowkind.field" -> "_op",
        "lookup.cache-max-file-rows" -> LookupCacheRows.toString))
    inputs.foreach(t.write(_))
  }

  private def expectedRow(k: Int): Option[IndexedSeq[String]] =
    if (versions(k) < 0) None else Some(c.gen.row(k, versions(k)))

  private def rowOk(r: Row): Boolean = expectedRow(r.getInt(0)).contains(Gen.fields(r))

  private def rangeOk(rows: Array[Row], lo: Int, hi: Int): Boolean =
    rows.map(_.getInt(0)).sorted.toSeq ==
      (lo to hi).filter(versions(_) >= 0) && rows.forall(rowOk)

  private def lookup(k: Int): Unit = {
    val r0 = Proc.rchar
    val t0 = System.nanoTime()
    c.tracer.op("lookup") {
      c.attempt(s"lookup $k") {
        val got = c.span("table", "lookup")(t.localLookup(Map("k" -> k)))
        got.size == expectedRow(k).size && got.forall(rowOk)
      }
    }
    lookupMs += (System.nanoTime() - t0) / 1e6
    lookupReadBytes += Proc.rchar - r0
  }

  private def sqlRange(lo: Int, hi: Int): Unit = {
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    val t0 = System.nanoTime()
    c.tracer.op("range_sql") {
      c.attempt(s"sql range $lo..$hi") {
        val df = spark.sql(s"SELECT * FROM graft.db.serve WHERE k BETWEEN $lo AND $hi")
        plan = c.span("sources", "sql_plan")(df.queryExecution.executedPlan)
        val rows = c.span("sources", "sql_exec")(df.collect())
        rangeOk(rows, lo, hi)
      }
    }
    rangeMs += (System.nanoTime() - t0) / 1e6
    if (c.tracer.on && plan != null) sqlBytesPlanned += bytesPlanned(plan, lo, hi)
  }

  private def apiRange(lo: Int, hi: Int): Unit = {
    var files = -1
    val t0 = System.nanoTime()
    c.tracer.op("range_scan") {
      c.attempt(s"scan range $lo..$hi") {
        val df = c.span("core", "plan")(t.scan(col("k").between(lo, hi)))
        val rows = c.span("table", "range_read")(df.collect())
        if (c.tracer.on) files = df.inputFiles.length
        rangeOk(rows, lo, hi)
      }
    }
    rangeMs += (System.nanoTime() - t0) / 1e6
    if (files >= 0) planned += ((files, Workload.liveFiles(t).size))
  }

  private def fullScan(): Unit = {
    val t0 = System.nanoTime()
    c.tracer.op("full_scan") {
      c.attempt("projected full scan") {
        c.span("table", "read")(
          c.gen.digest(t.read.select(ProjCols.map(col): _*), ProjCols)) == expectedScan
      }
    }
    scanMs += (System.nanoTime() - t0) / 1e6
  }

  /** `bytesPlanned` of the graft scan in the executed plan when the
    * native scan serves the query. Otherwise (the V1 path, which plans
    * through `GraftTable.scan(filter)`) the bytes of the files that call
    * keeps for the same predicate; measured after the operation. */
  private def bytesPlanned(plan: org.apache.spark.sql.execution.SparkPlan, lo: Int, hi: Int): Long =
    plan.collect { case p if p.metrics.contains("bytesPlanned") => p.metrics("bytesPlanned").value }
      .headOption.getOrElse(t.scan(col("k").between(lo, hi)).inputFiles.map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum)

  /** Untimed operations of each kind (samples are dropped). */
  override def warmup(): Unit = {
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    (0 until WarmupCycles).foreach { i =>
      (0 until LookupsPerCycle).foreach(k => lookup(i * LookupsPerCycle + k))
      sqlRange(0, RangeKeys - 1); apiRange(0, RangeKeys - 1); fullScan()
    }
    Seq(lookupMs, lookupReadBytes, rangeMs, scanMs, planned, sqlBytesPlanned).foreach(_.clear())
  }

  def run(deadline: Long): Unit = {
    var cycle = 0
    while (System.nanoTime() < deadline) {
      cycle += 1
      val rnd = c.rnd(1000 + cycle)
      val ks = Gen.skewedKeys(rnd, Keys, LookupsPerCycle, HotShare)
      val lo = Array(rnd.nextInt(Keys - RangeKeys), rnd.nextInt(Keys - RangeKeys))
      c.inputs.add(ks); c.inputs.add(lo)
      // the deadline is checked before every operation, not per cycle
      def due = System.nanoTime() < deadline
      ks.foreach(k => if (due) lookup(k))
      if (due) sqlRange(lo(0), lo(0) + RangeKeys - 1)
      if (due) apiRange(lo(1), lo(1) + RangeKeys - 1)
      (0 until FullScansPerCycle).foreach(_ => if (due) fullScan())
    }
  }

  def verify(): Unit = ()

  def opSamples: Seq[Double] = lookupMs.toSeq

  def rowsPerSecond: Double = expectedScan._1 / (Stats.median(scanMs.toSeq) / 1000)

  def detail: Map[String, Any] = {
    val es = Workload.liveFiles(t)
    Stats.latency("lookup_ms", lookupMs.toSeq) ++ Stats.latency("scan_ms", rangeMs.toSeq) ++
      Stats.latency("fullscan_ms", scanMs.toSeq) ++ Map(
        "fullscan_rows_per_s" -> rowsPerSecond,
        "live_rows" -> expectedScan._1,
        "files_live" -> es.size,
        "sorted_runs_max" -> Workload.sortedRunsMax(es),
        "max_file_rows" -> es.map(_.file.rowCount).max,
        "lookup_cache_max_file_rows" -> LookupCacheRows)
  }

  def layers: Map[String, Double] = {
    val es = Workload.liveFiles(t)
    val lk = c.tracer.stats("table", "lookup")
    val rd = c.tracer.stats("table", "read")
    val pl = c.tracer.stats("core", "plan")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "core.files_live" -> es.size.toDouble,
      "table.sorted_runs_max" -> Workload.sortedRunsMax(es).toDouble,
      "core.plan_ms" -> pl.ms,
      "core.files_planned" -> mean(planned.map(_._1.toDouble).toSeq),
      "core.prune_ratio" -> mean(planned.map(p => p._1.toDouble / p._2).toSeq),
      "sources.sql_plan_ms" -> c.tracer.stats("sources", "sql_plan").ms,
      "sources.sql_exec_ms" -> c.tracer.stats("sources", "sql_exec").ms,
      "sources.bytes_planned" -> mean(sqlBytesPlanned.map(_.toDouble).toSeq),
      "table.read_ms" -> rd.ms,
      "table.read_records_in" -> rd.recordsRead,
      "table.merge_fanin" -> rd.recordsRead / expectedScan._1,
      "table.lookup_ms" -> lk.ms,
      "table.lookup_jobs" -> lk.jobs,
      "table.lookup_read_mb" -> mean(lookupReadBytes.map(_ / 1048576.0).toSeq))
  }
}

object ServeReads {
  val Keys = 30000
  val UpsertRounds = 2
  val RoundRows = 6000
  val DeleteRows = 600
  val HotShare = 0.8
  /** Below the bulk files' row counts, so lookups bypass the cache. */
  val LookupCacheRows = 4096
  val LookupsPerCycle = 16
  val FullScansPerCycle = 2
  val WarmupCycles = 2
  /** About 0.1% of the keys. */
  val RangeKeys = Keys / 1000
  val ProjCols: Seq[String] = Seq("k", "f1", "f2", "f3")
}
