package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

import graft.streaming.GraftStreaming
import graft.table.GraftTable

/** Small CDC micro-batches on a primary-key table with
  * `changelog-producer=lookup`, the exactly-once foreachBatch path:
  * `applyChanges(batch, commitIdentifier = epoch)`, then a
  * `GraftStreaming.processChangelog` consumer drains the new snapshot,
  * then a `localLookup` reads back a key the batch just wrote. The
  * table fits the lookup cache. The consumer replays the changelog
  * into its own copy of the table, which is checked at the end. */
final class CdcStream(c: Ctx) extends Workload(c) {
  import CdcStream._

  private var bulk: DataFrame = _
  private var t: GraftTable = _
  private var checkpoint: String = _
  private val versions = Array.fill(Keys)(0)
  /** The consumer's replayed copy: key → field values. */
  private val replica = mutable.HashMap.empty[Int, IndexedSeq[String]]

  private val freshnessMs = ArrayBuffer.empty[Double]
  private val applyMs = ArrayBuffer.empty[Double]
  private val cycleMs = ArrayBuffer.empty[Double]
  private val lookupReadBytes = ArrayBuffer.empty[Long]
  private var rowsIn = 0L
  private var changelogRows = 0L
  private var filesBefore = Map.empty[String, Long]
  private var filesAfter = Map.empty[String, Long]

  override def prepareInputs(): Unit = {
    val ks = Array.range(0, Keys)
    c.inputs.add(ks)
    bulk = c.gen.rows(Gen.kvFrame(spark, ks, Array.fill(Keys)(0))).localCheckpoint(eager = true)
  }

  private def replay(rows: Array[Row]): Unit = rows.foreach { r =>
    val k = r.getAs[Int]("k")
    r.getAs[String]("_row_kind") match {
      case "+I" | "+U" => replica(k) = Gen.FieldCols.map(r.getAs[String])
      case "-D" => replica.remove(k)
      case _ => // -U: the matching +U carries the new image
    }
  }

  private def drain(): Array[Row] = {
    val got = ArrayBuffer.empty[Row]
    GraftStreaming.processChangelog(t, checkpoint, (df, _) => got ++= df.collect())
    got.toArray
  }

  def setup(dir: String): Unit = {
    t = GraftTable.create(spark, s"$dir/cdc", bulk.schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> c.cores.toString, "changelog-producer" -> "lookup"))
    checkpoint = s"$dir/consumer"
    epoch = 0
    t.write(bulk)
    // the consumer starts from the first snapshot, so its replica holds
    // the bulk load before the loop
    replica.clear()
    replay(drain())
  }

  /** One micro-batch: apply, drain, read back, then check the
    * consumer's changelog. Samples are kept only when `record`. */
  private def cycle(epoch: Int, record: Boolean): Unit = {
    val ks = Gen.skewedKeys(c.rnd(epoch), Keys, BatchRows, HotShare)
    c.inputs.add(ks)
    val nDel = math.round(BatchRows * DeleteShare).toInt
    val kinds = Array.tabulate(ks.length)(j => if (j < nDel) "-D" else "+U")
    val df = c.prepare(c.gen.rows(
      Gen.kvFrame(spark, ks, Array.fill(ks.length)(epoch), "_row_kind", kinds)))
    val readBack = ks(nDel + c.rnd(-epoch).nextInt(ks.length - nDel))
    val t0 = System.nanoTime()
    var changes = Array.empty[Row]
    var applyT = 0.0
    var freshT = 0.0
    c.tracer.op("cycle") {
      val applied = c.attempt(s"apply epoch $epoch") {
        c.span("table", "apply")(t.applyChanges(df, commitIdentifier = epoch.toLong))
        true
      }
      if (applied) ks.indices.foreach(j => versions(ks(j)) = if (j < nDel) -1 else epoch)
      applyT = (System.nanoTime() - t0) / 1e6
      c.attempt(s"drain epoch $epoch") {
        changes = c.span("streaming", "drain")(drain())
        true
      }
      freshT = (System.nanoTime() - t0) / 1e6
      val r0 = Proc.rchar
      c.attempt(s"read-your-write epoch $epoch") {
        val got = c.span("table", "lookup")(t.localLookup(Map("k" -> readBack)))
        got.map(Gen.fields) == Seq(c.gen.row(readBack, epoch))
      }
      if (record) lookupReadBytes += Proc.rchar - r0
    }
    if (record) {
      applyMs += applyT
      freshnessMs += freshT
      cycleMs += (System.nanoTime() - t0) / 1e6
      rowsIn += ks.length
      changelogRows += changes.length
    }
    replay(changes)
    c.attempt(s"changelog of epoch $epoch") {
      ks.indices.forall { j =>
        if (j < nDel) !replica.contains(ks(j))
        else replica.get(ks(j)).contains(c.gen.row(ks(j), epoch))
      }
    }
    df.unpersist()
  }

  private var epoch = 0

  /** Untimed batches: after a cold start the per-batch time keeps
    * falling for several batches while the JIT compiles the commit
    * path's driver-side code. */
  override def warmup(): Unit = (1 to WarmupBatches).foreach { _ =>
    epoch += 1; cycle(epoch, record = false)
  }

  def run(deadline: Long): Unit = {
    filesBefore = Workload.dataFilesOnDisk(t.path)
    while (System.nanoTime() < deadline) { epoch += 1; cycle(epoch, record = true) }
    filesAfter = Workload.dataFilesOnDisk(t.path)
  }

  private var tableDigest = (0L, 0L)

  def verify(): Unit = {
    val live = versions.indices.filter(versions(_) >= 0).toArray
    val expected = (live.length.toLong,
      live.map(k => c.gen.rowDigest(k, c.gen.row(k, versions(k)))).sum)
    c.attempt("replayed changelog equals the expected state") {
      (replica.size.toLong, replica.map { case (k, v) => c.gen.rowDigest(k, v) }.sum) == expected
    }
    c.attempt("table equals the expected state") {
      tableDigest = c.gen.digest(t.read, Gen.AllCols)
      tableDigest == expected
    }
  }

  def opSamples: Seq[Double] = freshnessMs.toSeq

  def rowsPerSecond: Double = rowsIn / (cycleMs.sum / 1000)

  def detail: Map[String, Any] = {
    val es = Workload.liveFiles(t)
    Stats.latency("freshness_ms", freshnessMs.toSeq) ++ Stats.latency("commit_ms", applyMs.toSeq) ++
      Map(
        "upsert_rows_per_s" -> rowsPerSecond,
        "batches" -> freshnessMs.size,
        "write_amp" -> (filesAfter -- filesBefore.keys).values.sum.toDouble /
          (rowsIn * Gen.RowBytes),
        "space_amp" -> es.map(_.file.fileSize).sum.toDouble / (tableDigest._1 * Gen.RowBytes),
        "files_live" -> es.size)
  }

  def layers: Map[String, Double] = {
    val es = Workload.liveFiles(t)
    val lk = c.tracer.stats("table", "lookup")
    writeLayers(c.tracer.stats("table", "apply")) ++ Map(
      "core.files_live" -> es.size.toDouble,
      "table.sorted_runs_max" -> Workload.sortedRunsMax(es).toDouble,
      "table.lookup_ms" -> lk.ms,
      "table.lookup_jobs" -> lk.jobs,
      "table.lookup_read_mb" -> lookupReadBytes.sum / 1048576.0 / math.max(1, lookupReadBytes.size),
      "streaming.drain_ms" -> c.tracer.stats("streaming", "drain").ms,
      "streaming.changelog_rows_ratio" -> changelogRows.toDouble / math.max(1L, rowsIn))
  }
}

object CdcStream {
  def writeLayers(w: CallStats): Map[String, Double] = Map(
    "table.write_ms" -> w.ms,
    "table.write_jobs" -> w.jobs,
    "table.write_tasks" -> w.tasks,
    "table.write_shuffle_mb" -> w.shuffleMb,
    "table.write_gap_ms" -> w.gapMs,
    "table.commit_tail_ms" -> w.tailMs)

  val Keys = 5000
  val BatchRows = 500
  val HotShare = 0.8
  val DeleteShare = 0.05
  val WarmupBatches = 5
}
