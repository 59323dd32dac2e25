package graft.streaming

import graft.core.Meta.TableSchema
import graft.table.{Changes, GraftTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming integration for graft tables.
  *
  * Write path — Structured Streaming sink: `df.writeStream.foreachBatch(
  * GraftStreaming.sink(table))`. Exactly-once comes from committing each
  * micro-batch with its epoch id as the snapshot's commitIdentifier: a
  * replayed epoch after restart finds the identifier already committed
  * and becomes a no-op (the reference ties Flink checkpoint commits to
  * commitIdentifier the same way — FileStoreCommitImpl.java:277-290,
  * epoch = micro-batch in the Spark world).
  *
  * Read path — snapshot-incremental changelog consumption with a
  * checkpointed offset (offset = snapshot id, exactly the reference's
  * own Spark micro-batch design: paimon-spark
  * .../sources/PaimonMicroBatchStream.scala:33-37). COMPACT snapshots
  * carry no logical change and are skipped.
  */
object GraftStreaming {

  /** foreachBatch sink function with exactly-once epoch commits.
    *
    * @param watermarkColumn event-time column; when set, each commit
    *        persists `max(eventTime) - delayMs` as the snapshot
    *        watermark (reference: Snapshot.FIELD_WATERMARK)
    * @param appId stable identity of THIS streaming query, scoping
    *        epoch dedup (reference: Snapshot.commitUser; same shape as
    *        Delta's txnAppId). Epoch counters restart at 0 per
    *        checkpoint, so when SEVERAL queries write one table each
    *        MUST pass a distinct appId — under the shared default, one
    *        query's epoch N would dedup against another's and drop the
    *        batch. A restarted query keeps dedup by passing the same
    *        appId (or by keeping the default).
    */
  def sink(
      table: GraftTable,
      watermarkColumn: Option[String] = None,
      watermarkDelayMs: Long = 0L,
      appId: Option[String] = None): (DataFrame, Long) => Unit = {
    table.setCommitUser(appId.getOrElse("stream-default"))
    (batch, epochId) => {
      // PIN the batch when a watermark is computed: the agg and the
      // write would otherwise each re-execute the source, and with a
      // non-deterministic source the persisted watermark could exceed
      // max(eventTime) of the rows actually written — prematurely
      // completing a bounded downstream drain
      val pinned = watermarkColumn.map(_ => batch.persist()).getOrElse(batch)
      try {
        val wm = watermarkColumn.flatMap { c =>
          val r = pinned.agg(max(epochLong(pinned, c))).head()
          if (r.isNullAt(0)) None else Some(r.getLong(0) - watermarkDelayMs)
        }
        table.writeWatermarked(pinned, commitIdentifier = epochId, watermark = wm)
      } finally if (watermarkColumn.isDefined) { pinned.unpersist(); () }
    }
  }

  /** Event-time column as BIGINT, adaptive to the column's physical
    * type: TIMESTAMP/TIMESTAMP_NTZ become epoch micros (session tz is
    * pinned UTC so the NTZ cast is value-preserving); integral columns
    * pass through unchanged. ANSI mode forbids CAST(timestamp AS
    * BIGINT), so the old unconditional cast broke the moment the events
    * source started surfacing TIMESTAMP_NTZ. */
  private def epochLong(batch: DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    batch.schema(c).dataType match {
      case TimestampType => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case _ => col(c).cast("long")
    }
  }

  /** Checkpoint path for a REGISTERED consumer: offsets live under the
    * table's consumer/ dir, where snapshot expiration sees them and
    * keeps every snapshot past the slowest consumer (reference:
    * ConsumerManager + consumer-id option). Use with
    * [[processChangelog]]/[[startChangelog]]. */
  def consumerCheckpoint(table: GraftTable, consumerId: String): String =
    s"${table.path}/consumer/consumer-$consumerId"

  /** Drain all unprocessed snapshots through `process`, one call per
    * snapshot delta, advancing a durable offset. Safe to call on any
    * cadence (a scheduler trigger, a loop, a test).
    *
    * @param process (changelogRows, snapshotId) — changelog rows carry
    *        `_row_kind` (+I/-U/+U/-D)
    * @return ids processed this call
    */
  def processChangelog(
      table: GraftTable,
      checkpointPath: String,
      process: (DataFrame, Long) => Unit): Seq[Long] =
    drain(table, checkpointPath, None, process)._1

  /** Bounded-stream variant (reference: scan.bounded.watermark /
    * BoundedChecker): drain snapshots UP TO the first whose persisted
    * watermark exceeds the bound, then STOP — the offset is not
    * advanced past the bound, so the out-of-bound snapshot is neither
    * consumed nor lost (a later unbounded drain picks it up). Retained
    * changelogs of expired snapshots carry no watermark and pass.
    *
    * @return (snapshot ids processed this call, reachedBound) —
    *         reachedBound=true means the stream is complete */
  def processChangelogBounded(
      table: GraftTable,
      checkpointPath: String,
      boundedWatermark: Long,
      process: (DataFrame, Long) => Unit): (Seq[Long], Boolean) =
    drain(table, checkpointPath, Some(boundedWatermark), process)

  /** The one drain: resolves the schema and the steps of (offset,
    * latest] once, then processes each change event and advances the
    * offset past every id, stopping before the first snapshot whose
    * watermark exceeds `bound`. */
  private def drain(
      table: GraftTable,
      checkpointPath: String,
      bound: Option[Long],
      process: (DataFrame, Long) => Unit): (Seq[Long], Boolean) = {
    val from = readOffset(checkpointPath).getOrElse(-1L)
    val to = table.sm.latestSnapshotId.getOrElse {
      touchOffset(checkpointPath); return (Seq.empty, false)
    }
    val sch = table.schema
    val steps = new Changes(table.sm, sch, sch.options.get).steps(from, to)
    if (steps.isEmpty) touchOffset(checkpointPath)
    val processed = scala.collection.mutable.ArrayBuffer.empty[Long]
    steps.foreach { step =>
      if (bound.exists(b => step.watermark.exists(_ > b))) return (processed.toSeq, true)
      if (step.event) changelogBatch(table, sch, step).foreach(process(_, step.id))
      writeOffset(checkpointPath, step.id) // advance after each snapshot
      processed += step.id
    }
    (processed.toSeq, false)
  }

  /** What one change event contributes to a drain. An OVERWRITE on a
    * primary-key table yields EXACT changes through
    * [[GraftTable.overwriteChanges]] — -D for the merged removed files,
    * +I for the added (reference: DataTableStreamScan
    * .handleOverwriteSnapshot → readChanges); append tables diff it like
    * any step, deletion vectors included. None on full-compaction
    * tables: the next full compaction's exact diff carries an
    * overwrite's net effect, so emitting it here would double-emit. */
  private def changelogBatch(
      table: GraftTable, sch: TableSchema, step: Changes.Step): Option[DataFrame] =
    if (!step.overwrite || sch.primaryKeys.isEmpty) Some(table.changeRows(Seq(step), sch))
    else if (sch.changelogProducer == "full-compaction") None
    else Some(table.overwriteChanges(step.snapshot.get, step.delta, sch))

  /** Startup modes for changelog consumption (reference: CoreOptions
    * scan modes — latest-full / latest / from-snapshot /
    * from-timestamp, paimon-api CoreOptions.java:3394-3480). Applied
    * only when the checkpoint has no offset yet. */
  sealed trait StartupMode
  /** emit the current table content as one initial batch, then increments. */
  case object LatestFull extends StartupMode
  /** only snapshots committed after subscription. */
  case object Latest extends StartupMode
  /** every snapshot starting at `id` (inclusive). */
  final case class FromSnapshot(id: Long) extends StartupMode
  /** every snapshot committed at or after `epochMillis`. */
  final case class FromTimestamp(epochMillis: Long) extends StartupMode
  /** emit the state at the latest COMPACT snapshot as the initial
    * batch, then increments (reference: StartupMode COMPACTED_FULL);
    * degrades to [[LatestFull]] when no compaction has run yet. */
  case object CompactedFull extends StartupMode

  /** Initialize the offset per `mode` (first call only), then drain
    * like [[processChangelog]]. LatestFull emits the full current
    * content as a synthetic first batch with `_row_kind = +I`.
    * `ignoreProgress` re-initializes from `mode` even when a stored
    * offset exists — the reference's `consumer.ignore-progress`: the
    * restarted job positions by its startup mode, then keeps
    * committing progress under the same consumer id. */
  def startChangelog(
      table: GraftTable,
      checkpointPath: String,
      mode: StartupMode,
      process: (DataFrame, Long) => Unit,
      ignoreProgress: Boolean = false): Seq[Long] = {
    // the table-option spelling applies ONCE per consumer (marker next
    // to the offset): per-CALL re-positioning would re-emit the whole
    // table on every drain (LatestFull) or skip snapshots committed
    // between drains (Latest) — a restarted job that wants to
    // re-position passes ignoreProgress=true explicitly, like the
    // reference's per-job scan option
    val marker = Paths.get(checkpointPath + ".repositioned")
    val optApplies =
      table.schema.options.get("consumer.ignore-progress").contains("true") &&
        !Files.exists(marker)
    if (ignoreProgress || optApplies || readOffset(checkpointPath).isEmpty) {
      if (optApplies) {
        if (marker.getParent != null) Files.createDirectories(marker.getParent)
        Files.write(marker, Array.emptyByteArray)
      }
      val latest = table.sm.latestSnapshotId
      mode match {
        case Latest =>
          // an EMPTY table still records the subscription point: a
          // missing offset would make the next call re-initialize to
          // the then-current latest, skipping everything committed
          // after this subscription
          writeOffset(checkpointPath, latest.getOrElse(-1L))
        case LatestFull =>
          latest.foreach { id =>
            process(table.read.withColumn("_row_kind",
              org.apache.spark.sql.functions.lit("+I")), id)
            writeOffset(checkpointPath, id)
          }
          // empty table: still record the subscription point
          if (latest.isEmpty) writeOffset(checkpointPath, -1L)
        case FromSnapshot(id) =>
          writeOffset(checkpointPath, id - 1)
        case FromTimestamp(ts) =>
          val before = table.sm.snapshotIdAtTime(ts, inclusive = false)
          writeOffset(checkpointPath, before.getOrElse(-1L))
        case CompactedFull =>
          table.sm.latestCompactSnapshot().map(_.id).orElse(latest) match {
            case Some(id) =>
              process(table.versionAsOf(id).withColumn("_row_kind",
                org.apache.spark.sql.functions.lit("+I")), id)
              writeOffset(checkpointPath, id)
            case None => writeOffset(checkpointPath, -1L)
          }
      }
    }
    processChangelog(table, checkpointPath, process)
  }

  /** What one [[lookupJoin]] call resolved — exposed so tests (and
    * operators) can see the plan class without parsing Spark plans.
    * `mode` is `partial` (bucket-pruned dim slice) or `full`
    * (whole-table resolve, snapshot-cached across epochs). */
  final case class LookupStats(
      mode: String, cacheHit: Boolean,
      entriesScanned: Int, entriesTotal: Int, broadcastSide: Boolean)
  @volatile private[graft] var lastLookupStats: Option[LookupStats] = None

  /** (dim path → (snapshot id, persisted full read)) for full mode:
    * while the dim table's snapshot is unchanged between micro-batches
    * the previous epoch's resolved content is reused from the block
    * cache instead of re-scanned — the reference's refresh-interval
    * semantics (FileStoreLookupFunction.java:79 refreshes only on
    * change). A new snapshot unpersists and re-resolves. */
  private val fullDimCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, DataFrame)]

  /** Recent pinned micro-batches per (dim table, calling stream) in
    * partial mode. Keyed by dimCacheKey PLUS the calling thread
    * (structured streaming runs every epoch of one query on its
    * dedicated stream execution thread) PLUS a per-call sequence: one
    * epoch may issue SEVERAL lookupJoin calls against one dim and
    * consume the unioned result afterwards — keying per (dim, thread)
    * alone would evict call 1's pin at call 2, before its join ran,
    * recreating the exact recompute hazard the pin prevents. A thread
    * keeps its last [[PinsPerThread]] pins per dim (older ones are
    * consumed by then); dead threads' pins sweep on each call. */
  private val partialBatchCache =
    scala.collection.concurrent.TrieMap.empty[String, (Thread, DataFrame)]
  private val pinSeq = new java.util.concurrent.atomic.AtomicLong()
  private val PinsPerThread = 8

  /** Cache key for a dim table: path + branch. A branch table shares
    * its path with main and their snapshot ids can coincide while
    * holding different content, so path alone is ambiguous. */
  private def dimCacheKey(dim: GraftTable): String = dim.sm.branch match {
    case Some(b) => s"${dim.path}#branch=$b"
    case None    => dim.path
  }

  /** Drop a dim table's cached full read (tests / explicit refresh). */
  private[graft] def invalidateLookupCache(dim: GraftTable): Unit =
    fullDimCache.remove(dimCacheKey(dim)).foreach(_._2.unpersist())

  /** Stream-static lookup join: enrich a (micro-)batch against the
    * CURRENT snapshot of a graft dimension table, re-resolved at every
    * call — the Spark shape of the reference's refreshing lookup join
    * (paimon-flink .../lookup/FileStoreLookupFunction.java:79). Call
    * inside foreachBatch so each epoch sees the dim table's latest
    * committed snapshot.
    *
    * Plan selection (reference: full-cache FullCacheLookupTable vs
    * PrimaryKeyPartialLookupTable.java:60, which resolves only the
    * probed keys):
    *  - PARTIAL, when `keys` covers the dim table's primary key: the
    *    epoch's key set is hashed to its buckets (one tiny job
    *    collecting bucket IDS, never rows) and only those buckets'
    *    files join — a 10^9-row dim table costs the epoch
    *    O(probed buckets), not a full scan or broadcast.
    *  - FULL otherwise: the whole dim table joins, persisted and
    *    REUSED across epochs while its snapshot id is unchanged.
    * Either side is broadcast only while its estimated SIZE — manifest
    * file bytes of the entries actually joined, not a row count — stays
    * under `maxBroadcastBytes`; past that the join falls back to a
    * shuffle join instead of dying (or OOMing the driver) at the
    * broadcast. Bytes, not rows: 4M wide rows can blow the broadcast
    * limit while 40M narrow rows are fine, and the manifests already
    * carry exact per-file sizes. The default 64 MB of on-disk parquet
    * decompresses to a few hundred MB of hashed relation — safely
    * inside executor/driver budgets at 1000-executor scale. */
  def lookupJoin(
      batch: DataFrame,
      dim: GraftTable,
      keys: Seq[String],
      joinType: String = "left_outer",
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val dimSch = dim.schema
    val pk = dimSch.primaryKeys
    // one dim snapshot per call: the bucket slice, its patches and the
    // full-dim cache key all read it
    val snap = dim.sm.latestSnapshot()
    val liveNow = snap.toSeq.flatMap(dim.sm.liveEntries)
    if (pk.nonEmpty && pk.forall(keys.contains)) {
      // partial: resolve only the buckets the epoch's keys hash into.
      // The batch is persisted for the epoch — the bucket collect and
      // the join otherwise each recompute it from its source (double
      // source read, and with a non-deterministic source the bucket
      // set could be derived from different rows than those joined,
      // silently losing matches). The pinned handle is evicted when the
      // SAME stream's next epoch arrives (see partialBatchCache).
      val pinned = batch.persist()
      val self = Thread.currentThread()
      val prefix = s"${dimCacheKey(dim)}#caller=${self.getId}#"
      partialBatchCache.put(prefix + pinSeq.incrementAndGet(), (self, pinned))
      // trim this (dim, thread)'s history past PinsPerThread — only
      // pins older than the window unpersist, so sibling calls in the
      // SAME epoch keep their batches alive until consumed
      val mine = partialBatchCache.keys.toSeq.filter(_.startsWith(prefix))
        .sortBy(_.substring(prefix.length).toLong)
      mine.dropRight(PinsPerThread).foreach(k =>
        partialBatchCache.remove(k)
          .filter(_._2 ne pinned).foreach(_._2.unpersist()))
      partialBatchCache.filterInPlace { case (_, (t, df)) =>
        t.isAlive || { df.unpersist(); false } }
      val entries = dim.entriesForKeys(
        pinned.select(pk.map(org.apache.spark.sql.functions.col): _*), dimSch, snap)
      val slice = dim.mergedFromEntries(entries, dimSch, snap)
      val estBytes = entries.map(_.file.fileSize).sum
      val bc = estBytes <= maxBroadcastBytes
      lastLookupStats = Some(LookupStats("partial", cacheHit = false,
        entries.size, liveNow.size, bc))
      pinned.join(if (bc) broadcast(slice) else slice, keys, joinType)
    } else {
      // full: whole-dim resolve, snapshot-cached across epochs
      val cacheKey = dimCacheKey(dim)
      val snapId = snap.map(_.id).getOrElse(-1L)
      val (dimDf, hit) = fullDimCache.get(cacheKey) match {
        case Some((id, df)) if id == snapId => (df, true)
        case _ =>
          val df = dim.readAt(dimSch, snap).persist()
          // unpersist whatever this put DISPLACED — the stale snapshot
          // or a racing stream's duplicate — never the df returned: an
          // eager pre-put unpersist would leak the race loser's blocks
          fullDimCache.put(cacheKey, (snapId, df))
            .filter(_._2 ne df).foreach(_._2.unpersist())
          (df, false)
      }
      val estBytes = liveNow.map(_.file.fileSize).sum
      val bc = estBytes <= maxBroadcastBytes
      lastLookupStats = Some(LookupStats("full", cacheHit = hit,
        liveNow.size, liveNow.size, bc))
      batch.join(if (bc) broadcast(dimDf) else dimDf, keys, joinType)
    }
  }

  /** Liveness heartbeat: a CAUGHT-UP consumer writes no offsets, but
    * consumer.expiration-time judges staleness by the offset file's
    * mtime — refresh it on every drain so an idle table's live
    * consumers never look abandoned. */
  private def touchOffset(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      try Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: Exception => () }
  }

  private def readOffset(path: String): Option[Long] =
    if (Files.exists(Paths.get(path)))
      Some(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8).trim.toLong)
    else None

  /** Mirror a DSv2 stream's committed progress into the table's
    * consumer file (reference: the `consumer-id` read option —
    * ConsumerManager progress that snapshot expiration respects).
    * Exposed for GraftMicroBatchStream; Spark's checkpoint remains the
    * replay source of truth, the consumer file is the retention pin +
    * resume hint. */
  def commitConsumerOffset(table: GraftTable, consumerId: String,
      snapshotId: Long): Unit =
    writeOffset(consumerCheckpoint(table, consumerId), snapshotId)

  /** Stored consumer progress, unless `consumer.ignore-progress`. */
  def consumerOffset(table: GraftTable, consumerId: String): Option[Long] =
    if (table.schema.options.get("consumer.ignore-progress").contains("true"))
      None
    else readOffset(consumerCheckpoint(table, consumerId))

  private def writeOffset(path: String, id: Long): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
