package graft.table

import graft.core._
import graft.core.Meta._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** A graft table: ACID, snapshot-versioned Parquet table with
  * append-only and primary-key (merge-on-read) modes — the Spark-native
  * rebuild of the reference's FileStoreTable
  * (paimon-core .../table/AppendOnlyFileStoreTable.java:53,
  * PrimaryKeyFileStoreTable.java:53).
  *
  * Distribution model: executors write bucketed/partitioned Parquet via
  * ordinary DataFrame writes; the driver turns the produced files into
  * manifest entries (footer-stats only, no data reads) and commits a
  * snapshot with a CAS — the same two-phase shape as the reference's
  * TableWrite/prepareCommit/TableCommit
  * (paimon-spark .../commands/PaimonSparkWriter.scala:108).
  */
/** Row-liveness predicate against per-file deletion-vector sidecars.
  * Only (basename → sidecar path) strings are shipped in the closure;
  * each executor lazily reads and caches just the bitmaps of the files
  * its own tasks actually scan — no bitmap bytes pass through the
  * driver (reference shape: DataSplit.deletionFiles +
  * ApplyDeletionVectorReader applied inside the split reader). */
private[table] class DvRowFilter(
    io: FileIO, tablePath: String, dvPaths: Map[String, String])
    extends ((String, Long) => Boolean) with Serializable {
  @transient private lazy val cache =
    scala.collection.concurrent.TrieMap.empty[String, org.roaringbitmap.RoaringBitmap]
  def apply(file: String, idx: Long): Boolean = {
    val name = file.substring(file.lastIndexOf('/') + 1)
    dvPaths.get(name).forall { rel =>
      val bm = cache.getOrElseUpdate(name,
        DeletionVectors.deserialize(io.readBytes(s"$tablePath/$rel")))
      !bm.contains(idx.toInt)
    }
  }
}

/** Selects exactly the rows a deletion-vector commit newly deleted:
  * position ∈ new DV and ∉ old DV (old absent → ∉ nothing). Drives the
  * -D side of incremental/changelog reads. Same executor-side lazy
  * sidecar loading as [[DvRowFilter]]. */
private[table] class DvDiffFilter(
    io: FileIO, tablePath: String,
    spec: Map[String, (Option[String], String)])
    extends ((String, Long) => Boolean) with Serializable {
  @transient private lazy val cache =
    scala.collection.concurrent.TrieMap.empty[String, (Option[org.roaringbitmap.RoaringBitmap], org.roaringbitmap.RoaringBitmap)]
  def apply(file: String, idx: Long): Boolean = {
    val name = file.substring(file.lastIndexOf('/') + 1)
    spec.get(name).exists { case (oldRel, newRel) =>
      val (o, n) = cache.getOrElseUpdate(name, (
        oldRel.map(r => DeletionVectors.deserialize(io.readBytes(s"$tablePath/$r"))),
        DeletionVectors.deserialize(io.readBytes(s"$tablePath/$newRel"))))
      n.contains(idx.toInt) && !o.exists(_.contains(idx.toInt))
    }
  }
}

final class GraftTable private (
    val spark: SparkSession,
    val path: String,
    val sm: SnapshotManager) {

  /** The current schema version: a LIST of the schema directory. Each
    * public operation resolves it once and passes it down. */
  def schema: TableSchema = sm.latestSchema().get
  def isPrimaryKeyTable: Boolean = schema.primaryKeys.nonEmpty

  /** Row tracking: every row gets a stable `_ROW_ID` (append tables
    * only — merge-on-read has no stable physical position). */
  def rowTracking: Boolean = GraftTable.tracksRows(schema)

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  // per-commit hook, driven by the options of the schema version the
  // commit carries. The Iceberg metadata export (reference: the
  // commit-callback shape of IcebergCommitCallback.java:102) is
  // best-effort by contract: SnapshotManager logs-and-continues if the
  // export fails, so the graft commit itself never depends on the
  // compat layer.
  sm.onCommit { committedId =>
    val sch = sm.schema(sm.snapshot(committedId).schemaId)
    val opts = sch.options
    if (opts.get(GraftTable.IcebergEnabled).contains("true"))
      graft.sources.IcebergCompat.sync(this)
    // periodic auto tags ride the same per-commit hook (reference:
    // TagAutoManager invoked from the table commit path). createTag is
    // a metadata write, not a commit — no re-entrancy.
    if (opts.get(GraftTable.TagAutoMode).exists(_ != "none"))
      tagAutoCreate()
    // retention-stamped tags expire on the same cadence (reference:
    // TagAutoManager.run → TagTimeExpire). Gated on the options that
    // can produce retained tags, so plain tables pay no tag listing.
    if (opts.contains("tag.default-time-retained") ||
        opts.get(GraftTable.TagAutoMode).exists(_ != "none"))
      expireTimedOutTags()
    // automatic snapshot expiration — strictly OPT-IN via the
    // retention options (reference expires on every commit by default;
    // here the unset-options default keeps full history, so time
    // travel on un-configured tables never silently loses snapshots).
    // `snapshot.expire.execution-mode=async` (reference: CoreOptions
    // SNAPSHOT_EXPIRE_EXECUTION_MODE) moves the expiry walk off the
    // commit's critical path onto a shared daemon thread — at high
    // commit rates a deep retention walk otherwise taxes every commit.
    // One pending run per table: commits landing while a run is queued
    // coalesce into it (expiry is idempotent over the latest state).
    if (opts.get("snapshot.expire.execution-mode").contains("async"))
      GraftTable.queueAsyncExpire(path, () => { autoExpireSnapshots(sch); () })
    else autoExpireSnapshots(sch)
    // automatic partition expiry rides the commit hook when
    // partition.expiration-time is set (the interval throttle inside
    // also stops the expiry's own DELETE commits from recursing)
    if (opts.contains("partition.expiration-time"))
      autoExpirePartitions(sch)
    // idle-partition done markers ride the same hook when configured
    // (each new commit re-evaluates which partitions went quiet)
    if (opts.contains("partition.idle-time-to-done"))
      markIdlePartitionsDone()
    // stale-consumer expiry (reference: CoreOptions
    // CONSUMER_EXPIRATION_TIME → ConsumerManager.expire at commit):
    // a consumer that stopped committing progress must eventually stop
    // pinning snapshots, or retention can never reclaim them
    if (opts.contains("consumer.expiration-time"))
      expireStaleConsumers(sch)
    // Hive Metastore partition sync (reference: the metastore client
    // callbacks behind `metastore.partitioned-table`) — the HMS
    // coordinates were stamped into the options by GraftHmsCatalog.
    // DELTA-ONLY: registers just this commit's touched partitions via
    // a bounded seen-cache (usually zero metastore calls); drops ride
    // the partition-expire paths and CALL sys.sync_hms_partitions.
    if (opts.get("metastore.partitioned-table").contains("true"))
      graft.sources.HmsBridge.syncCommitDelta(this, committedId)
    // `full-compaction.delta-commits`: once N delta commits pile on
    // top of the last full compaction, trigger one (reference:
    // CoreOptions FULL_COMPACTION_DELTA_COMMITS — constantly triggered
    // after delta commits). Guarded against re-entrancy: the compact's
    // own COMPACT commit re-enters this hook and must not recurse.
    opts.get("full-compaction.delta-commits")
      .map(_.toInt).filter(_ > 0).foreach { n =>
        val snap = sm.snapshot(committedId)
        if (!writeOnly(sch) && snap.commitKind != Meta.KindCompact &&
            !inAutoFullCompact.get()) {
          // bounded walk: reads at most n snapshot files, newest-first
          val since = sm.snapshotIds.filter(_ <= committedId)
            .sorted.reverseIterator.map(sm.snapshot)
            .takeWhile(_.commitKind != Meta.KindCompact).take(n).size
          if (since >= n) {
            inAutoFullCompact.set(true)
            try compact() finally inAutoFullCompact.set(false)
          }
        }
      }
    // `commit.callbacks`: user classes notified per committed snapshot
    // (reference: CoreOptions COMMIT_CALLBACKS + CommitCallback, with
    // `commit.callback.<class>.param` as the optional ctor string).
    // Failures log — the snapshot is already durable.
    opts.get("commit.callbacks").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .foreach { cls =>
        try {
          val c = Class.forName(cls)
          val param = opts.get(s"commit.callback.$cls.param")
          val cb = param.map(pv =>
              scala.util.Try(c.getConstructor(classOf[String]).newInstance(pv)))
            .getOrElse(scala.util.Try(c.getConstructor().newInstance()))
            .orElse(scala.util.Try(
              c.getConstructor(classOf[GraftTable]).newInstance(this)))
            .get.asInstanceOf[GraftCommitCallback]
          cb.call(this, committedId)
        } catch {
          case e: Exception =>
            org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
              s"commit callback $cls failed for snapshot $committedId: $e")
        }
      }
  }

  /** re-entrancy latch for full-compaction.delta-commits (the COMPACT
    * commit fires the same onCommit hook) */
  private val inAutoFullCompact =
    new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  /** Per-commit snapshot retention (reference: CoreOptions
    * snapshot.num-retained.max / snapshot.num-retained.min /
    * snapshot.time-retained, applied by FileStoreCommit's expire):
    * drop snapshots beyond the count cap or outside the time window,
    * but always keep at least the min (default 10) — tag/branch/
    * consumer protection comes from [[SnapshotManager.expireSnapshots]]
    * itself. No-op unless a retention option is set. */
  private[graft] def autoExpireSnapshots(sch: TableSchema): Seq[Long] = {
    val opts = sch.options
    val maxN = opts.get("snapshot.num-retained.max").map(_.toInt)
    val timeMs = opts.get("snapshot.time-retained")
      .map(GraftTable.parseDurationMillis)
    if (maxN.isEmpty && timeMs.isEmpty) return Seq.empty
    val minN = opts.get("snapshot.num-retained.min").map(_.toInt).getOrElse(10)
    val ids = sm.snapshotIds
    if (ids.isEmpty) return Seq.empty
    val now = System.currentTimeMillis()
    // how many of the newest snapshots the time window keeps
    val freshCount = timeMs match {
      case Some(t) => ids.count(id => sm.snapshot(id).timeMillis >= now - t)
      case None => ids.size
    }
    val maxAllowed = maxN.getOrElse(Int.MaxValue)
    val effMin = math.min(minN, maxAllowed) // max is the hard cap
    val retain = math.max(1,
      math.max(math.min(freshCount, maxAllowed), math.min(effMin, ids.size)))
    if (retain >= ids.size) Seq.empty else sm.expireSnapshots(retain, opts)
  }
  // ================= write =================

  /** Columns carrying `fields.<name>.default-value`: null slots in an
    * incoming batch are replaced by the default literal CAST to the
    * column type at WRITE time (reference: DataField.defaultValue +
    * casting/DefaultValueRow wrapped around TableWriteImpl — the
    * substitution happens on the write path, so stored data is always
    * complete and reads pay nothing). Internal DML rewrites pass
    * through untouched: their values come from stored rows.
    *
    * Null is MEANINGFUL to the partial-update engine ("keep the
    * existing value") and the aggregation engine ("no contribution"),
    * so defaults are never substituted there — rewriting a null to the
    * default would clobber stored values / skew aggregates (the
    * reference likewise refuses default values for these engines). */
  private def applyColumnDefaults(df: DataFrame, sch: TableSchema): DataFrame = {
    if (sch.mergeEngine == "partial-update" || sch.mergeEngine == "aggregation")
      return df
    val defaults = sch.toStruct.fields.flatMap { f =>
      sch.options.get(s"fields.${f.name}.default-value").map(f -> _)
    }
    defaults.foldLeft(df) { case (d, (f, v)) =>
      if (!d.columns.contains(f.name)) d
      else d.withColumn(f.name, coalesce(col(f.name), lit(v).cast(f.dataType)))
    }
  }

  /** CHAR(n)/VARCHAR(n) write semantics (reference: paimon-api
    * CharType/VarCharType; SURVEY §1.2): both REJECT over-length values
    * with a clear error (a codegen'd raise_error branch per constrained
    * column — distributed, no validation pass); CHAR additionally
    * right-pads to exactly n, so stored values carry Hive/SQL CHAR
    * padding and comparisons behave consistently on read. */
  private def enforceCharVarchar(df: DataFrame, sch: TableSchema): DataFrame =
    sch.charVarcharFields.foldLeft(df) { case (d, (name, kind, n)) =>
      if (!d.columns.contains(name)) d
      else {
        val c = col(name)
        val checked = when(length(c) > n, raise_error(concat(
          lit(s"value for $kind($n) column '$name' exceeds length $n: '"),
          c, lit("'")))).otherwise(c)
        d.withColumn(name,
          if (kind == "CHAR") when(c.isNull, c).otherwise(rpad(checked, n, " "))
          else checked)
      }
    }

  /** Pin the writer identity scoping commitIdentifier dedup — a
    * streaming sink passes its STABLE app id so epoch replay after a
    * restart dedups, and a second query's epoch counter cannot collide
    * with this one's (see [[SnapshotManager.setCommitUser]]). */
  def setCommitUser(user: String): Unit = sm.setCommitUser(user)

  /** Append (or upsert, for PK tables) a batch. Returns the WRITE's
    * snapshot id (a `commit.force-compact` follow-up compaction gets
    * its own snapshot — reference: CoreOptions COMMIT_FORCE_COMPACT). */
  def write(df: DataFrame, commitIdentifier: Long = -1L): Long = {
    // CHAR/VARCHAR enforcement happens on the shared commit paths
    // (writeKinded / appendCommit), covering DML and CDC too
    val sch = schema
    val in = applyColumnDefaults(df, sch)
    val id =
      if (sch.primaryKeys.nonEmpty) upsert(in, sch, commitIdentifier)
      else appendCommit(in, sch, overwrite = false, commitIdentifier)
    // `write-only` (reference: CoreOptions WRITE_ONLY): this writer
    // skips every write-coupled compaction — a dedicated compact job
    // owns maintenance. force-compact and the delta-commits trigger
    // both defer to it.
    if (sch.options.get("commit.force-compact").contains("true") &&
        !writeOnly(sch)) compact()
    // `partition.end-input-to-done` (reference: CoreOptions
    // PARTITION_END_INPUT_TO_DONE — Flink fires it at batch end-input;
    // here a library batch write IS one input): the partitions this
    // commit touched get their done markers + configured actions.
    if (sch.options.get("partition.end-input-to-done").contains("true") &&
        sch.partitionKeys.nonEmpty) {
      val parts = sm.snapshot(id).deltaManifest
        .map(sm.readManifest).getOrElse(Seq.empty)
        .map(_.partition).distinct
      parts.foreach { p =>
        graft.sources.MarkDoneActions.fire(this,
          sch.partitionKeys.map(k => s"$k=${p.getOrElse(k, "")}")
            .mkString("/"))
      }
    }
    id
  }

  /** `write-only`: suppress all write-triggered compaction on this
    * table handle (commit.force-compact, full-compaction.delta-commits);
    * CALL sys.compact and explicit compact() still work. */
  private def writeOnly(sch: TableSchema): Boolean =
    sch.options.get("write-only").contains("true")

  /** Write carrying an event-time watermark persisted on the snapshot
    * (reference: Snapshot.FIELD_WATERMARK). Used by the streaming sink. */
  def writeWatermarked(
      df: DataFrame, commitIdentifier: Long, watermark: Option[Long]): Long = {
    pendingWatermark = watermark
    try write(df, commitIdentifier)
    finally pendingWatermark = None
  }

  /** watermark attached to the next commit (set only by
    * writeWatermarked; single-writer per table instance). */
  @volatile private var pendingWatermark: Option[Long] = None

  /** INSERT OVERWRITE: dynamic partition overwrite when the table is
    * partitioned (only partitions present in `df` are replaced),
    * full-table overwrite otherwise. One OVERWRITE snapshot. PK tables
    * route through the kinded write path so the replacement files carry
    * seq/kind/bucket metadata and stay readable.
    * (reference: PaimonDynamicPartitionOverwriteCommand) */
  def overwrite(df: DataFrame, commitIdentifier: Long = -1L): Long = {
    val sch = schema
    val in = applyColumnDefaults(df, sch)
    if (sch.primaryKeys.nonEmpty) {
      val withKind =
        if (in.columns.contains(KindCol)) in
        else in.withColumn(KindCol, lit(KindInsert).cast("byte"))
      writeKinded(withKind, commitIdentifier, overwrite = true, sch)
    } else appendCommit(in, sch, overwrite = true, commitIdentifier)
  }

  private def upsert(df: DataFrame, sch: TableSchema, commitIdentifier: Long): Long = {
    // rowkind.field (reference: CoreOptions.ROWKIND_FIELD): a data
    // column carries each record's change kind as +I/-U/+U/-D — the
    // standard shape of CDC feeds landed as DataFrames. The column
    // stays part of the row; only the kind routing consumes it.
    val kinded = sch.options.get("rowkind.field") match {
      case Some(f) if df.columns.contains(f) =>
        df.withColumn(KindCol,
          when(col(f) === "+I", KindInsert)
            .when(col(f) === "-U", KindUpdateBefore)
            .when(col(f) === "+U", KindUpdateAfter)
            .when(col(f) === "-D", KindDelete)
            .otherwise(KindInsert).cast("byte"))
      case _ =>
        if (df.columns.contains(KindCol)) df
        else df.withColumn(KindCol, lit(KindInsert).cast("byte"))
    }
    // ignore-delete (reference: CoreOptions.IGNORE_DELETE): drop
    // incoming retractions instead of applying them — the standard
    // guard for CDC feeds whose deletes must not reach the table
    // `ignore-update-before` additionally drops ONLY the -U half of
    // update pairs (reference: utils/RowKindFilter.java — -D still
    // applies); useful when the upstream always pairs -U/+U on the
    // same key so the +U alone carries the state
    val withKind =
      if (sch.options.get("ignore-delete").contains("true"))
        kinded.filter(col(KindCol) =!= KindDelete &&
          col(KindCol) =!= KindUpdateBefore)
      else if (sch.options.get("ignore-update-before").contains("true"))
        kinded.filter(col(KindCol) =!= KindUpdateBefore)
      else kinded
    writeKinded(withKind, commitIdentifier, sch = sch)
  }

  /** Internal PK write accepting explicit row kinds (used by DML).
    * `overwrite = true` replaces the written partitions (all live files
    * for unpartitioned tables) in the same snapshot. */
  private[graft] def writeKinded(
      df: DataFrame, commitIdentifier: Long = -1L,
      overwrite: Boolean = false, sch: TableSchema = schema): Long = {
    require(sch.primaryKeys.nonEmpty, "kinded writes require a primary-key table")
    // length semantics enforced HERE, on the shared kinded commit path,
    // so CDC applyChanges and MERGE INTO store the same padded CHAR
    // values as write()/overwrite() — unpadded variants of a CHAR
    // primary key would otherwise never merge with padded ones
    val in = enforceCharVarchar(df, sch)
    // pre-merge duplicate keys within the batch with the table's merge
    // engine — the reference's in-memory write-buffer merge. Arrival
    // order must be materialized as a column (non-deterministic
    // expressions can't appear inside an aggregate).
    val withArrival = in.withColumn(BucketWriter.ArrivalCol, monotonically_increasing_id())
    // the state this commit builds on: its sequence base, the bucket
    // assignment and the changelog diff all read this one snapshot
    val snap = sm.latestSnapshot()
    val base = nextSeq(snap)
    val deletesFor: Seq[ManifestEntry] => Seq[ManifestEntry] = added => {
      if (!overwrite) Seq.empty
      else {
        val live = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
        val newParts = added.map(_.partition).toSet
        val victims =
          if (sch.partitionKeys.isEmpty) live
          else live.filter(e => newParts.contains(e.partition))
        victims.map(_.copy(kind = "DELETE"))
      }
    }
    // lookup pays the exact-pair diff per commit; full-compaction defers
    // it to compact() (cheap writes, coarser changelog granularity —
    // reference: CoreOptions.ChangelogProducer semantics)
    val withChangelog = !overwrite && sch.changelogProducer == "lookup"
    lazy val live = visibleEntries(snap.toSeq.flatMap(sm.liveEntries), sch)
    if (bucketLocal(sch) && sch.fileFormatFor(0) == "parquet" &&
        (!withChangelog || bucketLocal(sch, live)))
      return writeBuckets(withArrival, sch, if (withChangelog) Some(live) else None,
        base, if (overwrite) KindOverwrite else KindAppend, commitIdentifier, deletesFor)
    // postpone mode skips the pre-merge: its groupBy would shuffle,
    // and zero-shuffle staging is the mode's whole point — duplicate
    // keys stay in the staged files and the arrival index folded into
    // each row's sequence keeps the DEFERRED compaction merge
    // deterministic (reference: PostponeBucketWriter merges only
    // within its local buffer; per-record sequences order the rest)
    val preMerged =
      if (sch.isPostponeBucket) withArrival
      else MergeEngine.preMergeBatch(withArrival, sch, BucketWriter.ArrivalCol)
    // fixed buckets route by Buckets.route, one task (one file per
    // commit) per bucket; HASH_DYNAMIC (bucket = -1) goes through the
    // index-preserving assigner, which counts the batch, so pin it for
    // the duration of the write and release it after the commit
    var pinned: Seq[DataFrame] = Seq.empty
    var dynUpdate: Option[Seq[String] => Seq[String]] = None
    var globalUpdate: Option[Seq[String] => Seq[String]] = None
    var seqMax = base
    val out =
      if (sch.isDynamicBucket) {
        val batch = preMerged.withColumn(SeqCol, lit(base)).persist()
        val a = assignDynamicBuckets(batch, sch, snap)
        pinned = batch +: a.pinned
        dynUpdate = Some(a.indexUpdate)
        a.out
      } else if (isCrossPartition(sch)) {
        val batch = preMerged.persist()
        val a = crossPartitionAssign(batch, sch, base, snap)
        pinned = batch +: a.pinned
        globalUpdate = Some(a.indexUpdate)
        seqMax = base + 1 // retractions at base, data rows at base+1
        a.out
      } else if (sch.isPostponeBucket) {
        // postpone mode: NO bucket hash, NO repartition — the batch is
        // written exactly as partitioned, so a 1000-executor ingest
        // pays zero shuffle; the hash shuffle happens once, inside the
        // dedicated compaction that assigns real buckets (reference:
        // postpone/PostponeBucketWriter.java:55). Per-row sequence =
        // base + arrival keeps intra-batch duplicates ordered; the
        // recorded seq range is widened below so the next commit's
        // base stays strictly above every staged row.
        seqMax = base + postponeSeqSpan(preMerged)
        preMerged
          .withColumn(SeqCol, lit(base) + col(BucketWriter.ArrivalCol))
          .drop(BucketWriter.ArrivalCol)
          .withColumn("__bucket", lit(GraftTable.PostponeBucket))
      } else Buckets.route(preMerged.withColumn(SeqCol, lit(base)),
        sch, sch.bucketKeys, sch.numBuckets)
    if (withChangelog) out.persist()
    try {
      val changelog = if (withChangelog) buildChangelog(sch, out, live) else None
      commitFilesFn(out, sch, sch.partitionKeys :+ "__bucket",
        if (overwrite) KindOverwrite else KindAppend, base, commitIdentifier,
        deletesFor, changelogManifest = changelog, dynIndexUpdate = dynUpdate,
        globalIndexUpdate = globalUpdate, seqMax = seqMax)
    } finally {
      if (withChangelog) out.unpersist()
      pinned.foreach(_.unpersist())
    }
  }

  /** A primary-key commit inside the [[bucketLocal]] gate whose level-0
    * files are parquet: one exchange by bucket, then one job whose
    * per-bucket tasks pre-merge, build the lookup changelog against
    * `live` (present for `changelog-producer=lookup`), write both files
    * and read their footers ([[BucketWriter]]); the driver adopts the
    * staged files and commits. */
  private def writeBuckets(
      withArrival: DataFrame, sch: TableSchema, live: Option[Seq[ManifestEntry]],
      base: Long, kind: String, commitIdentifier: Long,
      deletesFor: Seq[ManifestEntry] => Seq[ManifestEntry]): Long = {
    val read = bucketRead(sch)
    // every table column in its declared type (omitted ones NULL), as
    // the files' schema expects
    val aligned = withArrival.select((read.struct.fields.map { f =>
      if (withArrival.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } :+ col(KindCol) :+ col(BucketWriter.ArrivalCol)).toIndexedSeq: _*)
    val routed = Buckets.route(aligned.withColumn(SeqCol, lit(base)),
      sch, sch.bucketKeys, sch.numBuckets)
    val lookup = live.map { entries =>
      bucketLocalChangelogs.incrementAndGet()
      val files = entries.map { e =>
        val f = graft.sources.GraftScanUtil.partitionedFile(path, e, read.partSchema)
        (f.partitionValues.toSeq(read.partSchema).toVector: Seq[Any], e.bucket) -> f
      }.groupMap(_._1)(_._2)
      // decode batches sized to the largest file, not Spark's 4096 rows:
      // a level-0 file of a small commit holds a few hundred
      val rows = entries.map(_.file.rowCount).maxOption.getOrElse(1L)
      val batch = math.min(spark.sessionState.conf.parquetVectorizedReaderBatchSize,
        java.lang.Long.highestOneBit(math.max(rows - 1L, 1L)) * 2L).toInt
      val factory = taskFactoryCache.getOrElseUpdate((sch.id, batch),
        graft.sources.GraftScanUtil.readerFactory(spark, read.readData, read.readData,
          read.partSchema, Array.empty, batchSize = Some(batch)))
      val changes = new LookupChangelog(sch, read, factory, files)
      (changes, parquetOutput(changelogWriteOptions(sch), changes.schema))
    }
    val staging = s"$path/staging/${UUID.randomUUID()}"
    val clStaging = s"$path/staging/${UUID.randomUUID()}"
    // an empty batch stages nothing but still commits
    Files.createDirectories(Paths.get(staging))
    try {
      val staged = BucketWriter.write(routed, sch, read,
        parquetOutput(dataWriteOptions(sch, 0), nullable(read.readData)), lookup,
        staging, clStaging, base, spark.sessionState.conf.sessionLocalTimeZone)
      stagedHook.foreach(_(staging, clStaging))
      val (cl, data) = staged.partition(_.changelog)
      val changelog = lookup.flatMap(_ => adoptChangelog(clStaging,
        cl.map(s => s.rel -> s.meta).toMap, sch))
      commitStagedDir(staging, sch, kind, base, commitIdentifier, deletesFor,
        changelogManifest = changelog, stagedMetas = data.map(s => s.rel -> s.meta).toMap)
    } finally {
      deleteRecursive(Paths.get(staging))
      deleteRecursive(Paths.get(clStaging))
    }
  }

  /** Called with the data and changelog staging directories of a
    * [[writeBuckets]] job before its commit adopts them: a fault
    * injection point (a second completed attempt of a task). */
  @volatile private[graft] var stagedHook: Option[(String, String) => Unit] = None

  /** `schema` with every field nullable, as DataFrameWriter writes files. */
  private def nullable(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** Spark's parquet writer for files of `schema`, prepared as
    * DataFrameWriter prepares it with `options` (micros timestamps). */
  private def parquetOutput(
      options: Map[String, String], schema: StructType): BucketWriter.Output =
    withMicrosTimestamps {
      val job = org.apache.hadoop.mapreduce.Job.getInstance(
        spark.sessionState.newHadoopConfWithOptions(options))
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[org.apache.spark.sql.catalyst.InternalRow])
      val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
        .prepareWrite(spark, job, options, schema)
      BucketWriter.Output(factory,
        new org.apache.spark.util.SerializableConfiguration(job.getConfiguration), schema)
    }

  /** Writer options of a data file at `level`: `file.compression`
    * (or its `file.compression.per.level` entry) and `file.block-size`. */
  private def dataWriteOptions(sch: TableSchema, level: Int): Map[String, String] = {
    // honor file.compression / file.compression.per.level (reference:
    // CoreOptions FILE_COMPRESSION + FILE_COMPRESSION_PER_LEVEL,
    // "level:codec" pairs — e.g. cheap lz4 level-0, zstd compacted);
    // absent = Spark's codec default
    val perLevelCodec = sch.options.get("file.compression.per.level")
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty).flatMap { kv =>
        val i = kv.indexOf(':')
        if (i <= 0) None
        else scala.util.Try(
          kv.substring(0, i).trim.toInt -> kv.substring(i + 1).trim).toOption
      }.toMap.get(level))
    // file.block-size → parquet row-group / orc stripe size
    // (reference: CoreOptions FILE_BLOCK_SIZE)
    perLevelCodec.orElse(sch.options.get("file.compression"))
      .map("compression" -> _).toMap ++
      sch.options.get("file.block-size").map(GraftTable.parseBytes).toSeq.flatMap(b =>
        Seq("parquet.block.size" -> b.toString, "orc.stripe.size" -> b.toString))
  }

  /** Writer options of a changelog file: `changelog-file.compression`. */
  private def changelogWriteOptions(sch: TableSchema): Map[String, String] =
    sch.options.get("changelog-file.compression").map("compression" -> _).toMap

  /** Upper bound on `monotonically_increasing_id` values for a frame —
    * (partitions + 1) << 33 — computed from the plan, no job. Bounds
    * the postpone write's per-row sequence span. */
  private def postponeSeqSpan(df: DataFrame): Long =
    (df.rdd.getNumPartitions.toLong + 1L) << 33

  private def struct_ord(cols: Column*): Column =
    org.apache.spark.sql.functions.struct(cols: _*)

  /** Outcome of dynamic-bucket assignment: the routed batch, the
    * snapshot's index-file-list transform to commit with, and cached
    * frames the caller unpersists after the commit. */
  private[graft] case class DynAssignment(
      out: DataFrame,
      indexUpdate: Seq[String] => Seq[String],
      pinned: Seq[DataFrame])

  private def dynIndexStruct(sch: TableSchema): StructType = StructType(
    sch.primaryKeys.map(k => sch.toStruct(k)) :+
      StructField("__bucket", IntegerType, nullable = false))

  /** The (pk → bucket) index rows of the sidecar `files` (none: empty). */
  private def readDynIndex(files: Seq[String], sch: TableSchema): DataFrame =
    if (files.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dynIndexStruct(sch))
    else spark.read.schema(dynIndexStruct(sch)).parquet(files.map(f => s"$path/$f"): _*)
      .select(dynIndexStruct(sch).fieldNames.map(col).toIndexedSeq: _*)

  /** The persisted (pk → bucket) index of a dynamic-bucket table, if
    * sidecars exist. */
  private def dynIndexDf(sch: TableSchema, snap: Snapshot): Option[DataFrame] =
    snap.dynIndex.filter(_.nonEmpty).map(readDynIndex(_, sch))

  /** The index pruned to the sidecars that can hold `keyValues`'s entry
    * — the point-lookup path: the key's `__p`/`__r` scope tokens are
    * computed on the driver by [[Buckets.bucketOf]] (the same hash as
    * the Catalyst expressions that laid the files down), so a lookup in
    * a billion-key table opens O(deltas + one range) of index state. */
  private def dynIndexDfFor(sch: TableSchema, snap: Snapshot,
      keyValues: Map[String, Any]): Option[DataFrame] = {
    snap.dynIndex.filter(_.nonEmpty).map { files =>
      // tokens use the modulus the sidecars were written with (their
      // directory pin); unpinnable layouts read everything
      val toks = pinnedDynRanges(files, sch).flatMap { ranges =>
        Buckets.bucketOf(sch, sch.primaryKeys, keyValues, ranges).map { r =>
          val p =
            if (dynPartitionScoped(sch))
              Buckets.bucketOf(sch, sch.partitionKeys, keyValues, GraftTable.DynPartScopes)
            else None
          Set((p, r))
        }
      }
      readDynIndex(toks.fold(files)(pruneDynIndexFiles(files, _)), sch)
    }
  }

  /** Dynamic bucket assignment (bucket = -1): a key KEEPS the bucket
    * of its first write, new keys hash into a range grown so the
    * average fill stays at `dynamic-bucket.target-row-num`.
    *
    * The (pk → bucket) mapping is a PERSISTED index: parquet sidecars
    * under index-dyn/ listed on each snapshot, appended with just the
    * batch's NEW keys per commit and rewritten past a file-count
    * threshold — assignment joins the batch against an index that is
    * O(distinct keys), never re-scanning the table (reference:
    * HashBucketAssigner.java:37 — its RocksDB state persisted as
    * columnar sidecars; a 10 MB upsert into a 100 TB table reads the
    * index, not the table). Entries are unique per key by construction
    * (only unseen keys are appended), so loading is a plain union with
    * no dedup shuffle. Tables written before the index existed
    * bootstrap it once from the table's own (pk, bucket) projection. */
  private def assignDynamicBuckets(
      batch: DataFrame, sch: TableSchema, snap: Option[Snapshot]): DynAssignment = {
    val pk = sch.primaryKeys
    val live = snap.toSeq.flatMap(sm.liveEntries)
    val liveRows = live.map(_.file.rowCount).sum
    val maxBucket = live.map(_.bucket).maxOption.getOrElse(-1)
    val batchRows = batch.count() // caller has persisted the batch
    // dynamic-bucket.initial-buckets seeds the range for a fresh table
    // (avoids the 1-bucket cold start on a known-large load);
    // .max-buckets caps growth — past it buckets overfill instead of
    // multiplying (reference: CoreOptions DYNAMIC_BUCKET_INITIAL_BUCKETS
    // / DYNAMIC_BUCKET_MAX_BUCKETS, -1 = unbounded).
    val initial = sch.options.get("dynamic-bucket.initial-buckets")
      .map(_.toInt).getOrElse(1)
    val maxBuckets = sch.options.get("dynamic-bucket.max-buckets")
      .map(_.toInt).filter(_ > 0)
    val grown = math.max(maxBucket + 1,
      math.ceil((liveRows + batchRows).toDouble /
        sch.dynamicBucketTargetRows).toInt).max(initial).max(1)
    val nTotal = maxBuckets.fold(grown)(m => math.min(grown, math.max(m, maxBucket + 1)))
    val freshBucket = Buckets.column(sch, pk, nTotal)
    val pkCols = pk.map(col).toIndexedSeq
    // partition/range scoping pays a partitionBy shuffle per rewrite and
    // a token job per probe — worth it exactly when the index is big
    // enough that reading ALL of it per commit is the bottleneck. Small
    // indexes keep the flat layout (reading them whole is cheaper than
    // the scoping machinery).
    val scopeRewrites = liveRows + batchRows >=
      sch.options.getOrElse("dynamic-bucket.index.scope-threshold", "1000000").toLong
    if (live.isEmpty) {
      // empty table: every key is new; the first index write is the
      // batch's own assignment, laid down partition/range-scoped so
      // later commits can prune their probes against it
      val out = Buckets.route(batch.withColumn("__bucket", freshBucket), nTotal).persist()
      val files = writeDynIndexFiles(
        out.select((pkCols :+ col("__bucket")).toIndexedSeq: _*),
        scoped = scopeRewrites, sch)
      return DynAssignment(out, keepUnseen(Set.empty, files), Seq(out))
    }
    val prevFiles = snap.flatMap(_.dynIndex).getOrElse(Seq.empty)
    val compactTrigger = sch.options
      .getOrElse("dynamic-bucket.index.compact-trigger", "32").toInt
    // full rewrite when bootstrapping (no sidecars yet) or the DELTA
    // list has fragmented past the trigger. Only flat delta files
    // count: a scoped rewrite legitimately emits one file per
    // (partition, range) directory — counting those would force a full
    // rewrite on EVERY commit of any scoped table with more than
    // `trigger` scope combinations, reintroducing the O(total keys)
    // per-commit IO this layout exists to kill.
    val needFull = prevFiles.isEmpty ||
      prevFiles.count(!_.contains("__r=")) >= compactTrigger
    // the per-commit probe reads ONLY the sidecars that can hold the
    // batch's keys: the batch's (partition-hash, key-range) token set —
    // O(partitions × ranges) values, map-side-combined — prunes the
    // scoped bulk of the index, so a small ingest into a huge table
    // reads O(batch's ranges) of index state, not O(total keys). Full
    // rewrites read everything by definition (amortized 1/trigger).
    // Tokens are computed with the RANGES THE SIDECARS WERE WRITTEN
    // WITH (pinned in their directory names) — an option change only
    // takes effect at the next full rewrite; a pin mismatch would
    // silently prune away an existing key's entry and assign it a
    // second bucket.
    val pinnedR = pinnedDynRanges(prevFiles, sch)
    val probeFiles =
      if (needFull || prevFiles.isEmpty ||
        !prevFiles.exists(_.contains("__r=")) || pinnedR.isEmpty)
        prevFiles // nothing scoped, or unpinnable legacy layout
      else {
        val scopeCols = dynScopeCols(sch, pinnedR.get)
        val toks = batch
          .select(scopeCols.map(c => c._2.as(c._1)).toIndexedSeq: _*)
          .distinct().collect().map { r =>
            if (scopeCols.size == 2) (Some(r.getInt(0)), r.getInt(1))
            else (None: Option[Int], r.getInt(0))
          }.toSet
        pruneDynIndexFiles(prevFiles, toks)
      }
    lastDynProbeFiles = probeFiles
    val idx0 =
      if (prevFiles.nonEmpty) // every batch key may be new → zero matching sidecars
        readDynIndex(probeFiles, sch).withColumnRenamed("__bucket", "__existing_bucket")
      else readRaw(live) // one-time bootstrap for pre-index tables
        .select((pkCols :+ col("__bucket").as("__existing_bucket")).toIndexedSeq: _*)
        .groupBy(pkCols: _*)
        .agg(max(col("__existing_bucket")).as("__existing_bucket"))
    val idx = if (needFull) idx0.persist() else idx0
    val joined = batch.join(idx, pk, "left")
      .withColumn("__bucket", coalesce(col("__existing_bucket"), freshBucket))
      .persist()
    val newKeys = joined.filter(col("__existing_bucket").isNull)
      .select((pkCols :+ col("__bucket")).toIndexedSeq: _*)
    val out = Buckets.route(joined.drop("__existing_bucket"), nTotal)
    if (needFull) {
      val full = idx
        .select((pkCols :+ col("__existing_bucket").as("__bucket")).toIndexedSeq: _*)
        .unionByName(newKeys)
      val files = writeDynIndexFiles(full, scoped = scopeRewrites, sch)
      DynAssignment(out, keepUnseen(prevFiles.toSet, files), Seq(joined, idx))
    } else {
      val files = writeDynIndexFiles(newKeys, scoped = false, sch)
      DynAssignment(out, prev => prev ++ files, Seq(joined))
    }
  }

  /** Snapshot-index fold update that is safe under concurrent writers:
    * the CAS retry applies this against the TRUE latest sidecar list,
    * so a fold must keep any sidecar some other commit appended between
    * our read (`seen`) and our commit — replacing the list wholesale
    * would drop that writer's rows while its data files stay flagged
    * as indexed, a silent wrong-prune. Kept concurrent sidecars cannot
    * duplicate folded rows (they were not fold inputs), and each index
    * reader tolerates overlap anyway (GSI hits are sets; dyn/global
    * collapse per key). */
  private[graft] def keepUnseen(
      seen: Set[String], folded: Seq[String]): Seq[String] => Seq[String] =
    latest => folded ++ latest.filterNot(seen.contains)

  // ================= global cross-partition index =================

  /** PK tables partitioned OUTSIDE the primary key: a key can MOVE
    * partitions between writes, so partition pruning is unsafe without
    * extra bookkeeping. */
  private def isCrossPartition(sch: TableSchema): Boolean =
    sch.primaryKeys.nonEmpty && sch.partitionKeys.nonEmpty &&
      !sch.partitionKeys.forall(sch.primaryKeys.contains) &&
      !sch.isDynamicBucket && !sch.isPostponeBucket

  /** Index rows: pk..., partition cols..., __gseq (the row's sequence
    * value — the user sequence field, or the commit seq), __cseq (the
    * commit that wrote the entry; tiebreak for equal __gseq). */
  private def globalIndexStruct(sch: TableSchema): StructType = {
    val base = sch.toStruct
    def f(n: String) = base.fields(base.fieldIndex(n))
    val ord = sch.sequenceFields match {
      case Seq() => StructField("__gseq", LongType, nullable = false)
      case Seq(s) => StructField("__gseq", f(s).dataType, nullable = true)
      // multi-field sequence: the index entry's __gseq is a struct of
      // the fields in order — parquet stores it, and struct ordering
      // in collapseIndex's max_by is exactly the lexicographic compare
      case many => StructField("__gseq", StructType(many.map(f)), nullable = true)
    }
    StructType((sch.primaryKeys ++ sch.partitionKeys).map(f) :+ ord :+
      StructField("__cseq", LongType, nullable = false) :+
      // entry write time, for cross-partition-upsert.index-ttl; old
      // sidecars read as null = never expires
      StructField("__ts", LongType, nullable = true))
  }

  /** `cross-partition-upsert.index-ttl` (reference: CoreOptions
    * CROSS_PARTITION_UPSERT_INDEX_TTL — "avoid maintaining too many
    * indexes... but may cause data duplication"): entries older than
    * the TTL drop out of the routing view and are physically removed
    * at each full index fold, so the index stays bounded on
    * time-partitioned tables whose old keys never update again.
    * Null-stamped (pre-TTL) entries never expire. */
  private def indexTtlFilter(idx: DataFrame, sch: TableSchema,
      now: Long): DataFrame =
    sch.options.get("cross-partition-upsert.index-ttl")
      .map(Meta.parseDurationMillis) match {
      case Some(ttl) =>
        // `now` is captured at the START of the assignment pass, before
        // the batch entries were stamped — entries written within the
        // same pass can therefore never age out of their own fold
        val cutoff = now - ttl
        idx.filter(col("__ts").isNull || col("__ts") >= cutoff)
      case None => idx
    }

  /** The persisted key → (partition, seq) index, latest entry per key,
    * if sidecars exist (test/diagnostic surface). */
  private[graft] def globalIndexDf: Option[DataFrame] = {
    val sch = schema
    sm.latestSnapshot().flatMap(_.globalIndex).filter(_.nonEmpty).map { files =>
      collapseIndex(spark.read.schema(globalIndexStruct(sch))
        .parquet(files.map(f => s"$path/$f"): _*), sch)
    }
  }

  private def collapseIndex(idx: DataFrame, sch: TableSchema): DataFrame = {
    val pkCols = sch.primaryKeys.map(col).toIndexedSeq
    val payload = sch.partitionKeys :+ "__gseq" :+ "__cseq" :+ "__ts"
    idx.groupBy(pkCols: _*).agg(
      max_by(struct_ord(payload.map(col).toIndexedSeq: _*),
        struct_ord(col("__gseq"), col("__cseq"))).as("__e"))
      .select((pkCols ++ payload.map(c => col(s"__e.$c").as(c))).toIndexedSeq: _*)
  }

  /** Cross-partition upsert via a persisted global index (reference:
    * paimon-core .../crosspartition/GlobalIndexAssigner.java:79 +
    * IndexBootstrap.java, its RocksDB key→partition state persisted
    * here as columnar sidecars under index-global/):
    *
    *  - the batch joins the index (O(distinct keys), never the table);
    *    keys whose stored partition differs get a -D retraction row in
    *    the OLD partition, so every partition's local merge is
    *    self-contained and partition predicates stay PRUNE-SAFE;
    *  - retractions carry the new row's sequence value and hidden seq
    *    `base`; data rows carry `base + 1`, so the new +I beats its own
    *    retraction in a global merge and the retraction beats the old
    *    row in the old partition's local merge;
    *  - index entries for the batch's keys are appended as one sidecar
    *    per commit and folded past a file-count trigger.
    *
    * Assumes per-key non-decreasing sequence values (the CDC case);
    * deduplicate merge engine only. */
  private def crossPartitionAssign(batch: DataFrame, sch: TableSchema, base: Long,
      snap: Option[Snapshot]): DynAssignment = {
    require(sch.mergeEngine == "deduplicate",
      "cross-partition upsert requires merge-engine=deduplicate")
    val pk = sch.primaryKeys
    val parts = sch.partitionKeys
    val pkCols = pk.map(col).toIndexedSeq
    // single clock read for the pass: index stamps and the TTL cutoff
    // must be mutually consistent (see indexTtlFilter)
    val passNow = System.currentTimeMillis()
    val prevFiles = snap.flatMap(_.globalIndex).getOrElse(Seq.empty)
    val live = snap.map(sm.liveEntries).getOrElse(Seq.empty)
    val trigger = sch.options.getOrElse("global-index.compact-trigger", "32").toInt
    val batchGseq: Column = sch.sequenceFields match {
      case Seq() => lit(base)
      case Seq(s) => col(s)
      case many => org.apache.spark.sql.functions.struct(many.map(col): _*)
    }
    val batchIdx = batch.select((pkCols ++ parts.map(col) :+
      batchGseq.as("__gseq") :+ lit(base).as("__cseq") :+
      lit(passNow).as("__ts")): _*)

    val idxAll: Option[DataFrame] =
      if (prevFiles.nonEmpty)
        Some(spark.read.schema(globalIndexStruct(sch))
          .parquet(prevFiles.map(f => s"$path/$f"): _*))
      else if (live.isEmpty) None
      else {
        // one-time bootstrap for tables written before the index
        // existed (reference: IndexBootstrap) — NOTE: historical
        // cross-partition moves before this point have no retractions;
        // pruning only turns on from this commit's snapshot forward
        val raw = readRaw(live)
        val bootGseq = sch.sequenceFields match {
          case Seq() => col(SeqCol)
          case Seq(s) => col(s)
          case many => org.apache.spark.sql.functions.struct(many.map(col): _*)
        }
        Some(raw.select((pkCols ++ parts.map(col) :+
          bootGseq.as("__gseq") :+ col(SeqCol).as("__cseq") :+
          lit(passNow).as("__ts")): _*))
      }
    // routing-join broadcast gate: bytes of the files the index side
    // actually reads — persisted index sidecars, or the live data
    // files when bootstrapping (Spark's estimate through collapseIndex
    // aggregation is unusable). Same manifest-bytes policy as the
    // lookup join and MERGE INTO.
    val idxBytes: Long =
      if (prevFiles.nonEmpty)
        prevFiles.map(f => scala.util.Try(Files.size(Paths.get(s"$path/$f")))
          .getOrElse(Long.MaxValue / 1024)).sum
      else live.map(_.file.fileSize).sum
    val latest = idxAll.map(idx => sizeGatedBuildSide(sch,
      indexTtlFilter(collapseIndex(idx, sch), sch, passNow)
        .select((pkCols ++ parts.map(c => col(c).as(s"__old_$c")) :+
          lit(true).as("__old_exists")).toIndexedSeq: _*),
      idxBytes, "cross-partition-routing"))

    val dataOut = batch.withColumn(SeqCol, lit(base + 1))
    val (unioned, joinPinned) = latest match {
      case None => (dataOut, Seq.empty[DataFrame])
      case Some(old) =>
        val joined = batch.join(old, pk, "left").persist()
        val movedPred = col("__old_exists").isNotNull &&
          parts.map(c => !(col(c) <=> col(s"__old_$c"))).reduce(_ || _)
        val tableFields = sch.toStruct.fields.toSeq
        val retractSel: Seq[Column] = tableFields.map { f =>
          if (pk.contains(f.name)) col(f.name)
          else if (parts.contains(f.name)) col(s"__old_${f.name}").as(f.name)
          else if (sch.sequenceFields.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } :+ lit(KindDelete).cast("byte").as(KindCol) :+ lit(base).as(SeqCol)
        val retractions = joined.filter(movedPred).select(retractSel: _*)
        (dataOut.unionByName(retractions), Seq(joined))
    }
    val out = Buckets.route(unioned, sch, sch.bucketKeys, sch.numBuckets)

    val needFull = prevFiles.isEmpty || prevFiles.size >= trigger
    if (needFull) {
      val full = idxAll match {
        case None => batchIdx
        // TTL-expired entries are physically dropped at the fold
        case Some(idx) => indexTtlFilter(
          collapseIndex(idx.unionByName(batchIdx), sch), sch, passNow)
      }
      val files = writeGlobalIndexFiles(full, parts = 4)
      DynAssignment(out, keepUnseen(prevFiles.toSet, files), joinPinned)
    } else {
      val files = writeGlobalIndexFiles(batchIdx, parts = 1)
      DynAssignment(out, prev => prev ++ files, joinPinned)
    }
  }

  private def writeGlobalIndexFiles(df: DataFrame, parts: Int): Seq[String] = {
    val dir = s"index-global/${UUID.randomUUID()}"
    df.coalesce(parts).write.parquet(s"$path/$dir")
    graft.core.FsUtil.walkAll(Paths.get(s"$path/$dir")).iterator
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => s"$dir/${p.getFileName}")
      .toSeq
  }

  // ================= global secondary (value → file) index =================

  /** Columns covered by the global secondary index (option
    * `secondary-index.columns`). One bounded index read resolves an
    * equality / IN / IS NULL predicate to the exact data-file set — at
    * millions of files the per-file bloom/bitmap sidecars cost O(files)
    * probe IO per query even when distributed, while this is a single
    * value-keyed lookup (reference role: the global table indexes of
    * the reference's index layer, vs its per-file file-index sidecars).
    */
  private def secIndexCols(sch: TableSchema): Seq[String] =
    sch.options.get(GraftTable.SecIndexColumns)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
      .filter(c => sch.fields.exists(_.name == c) && !sch.partitionKeys.contains(c))

  /** sidecar schema: (cid = stable FIELD ID — rename-safe, unlike the
    * column name —, v = value cast to string, f = data-file basename) */
  private val secIndexSchema = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("f", StringType, nullable = false)))

  /** Index the new ADD entries' values and return (entries with
    * `secIndexed` set, the snapshot's sidecar-list update). One Spark
    * job over just the new files per commit; past the file-count
    * trigger the whole index folds into a few range-sorted files
    * (sorted by (cid, v): parquet row-group stats then give the folded
    * index btree-like point/range locality), dropping dead files'
    * rows. `liveAfter` is only forced on a fold. */
  private def buildSecondaryIndex(
      sch: TableSchema,
      added: Seq[ManifestEntry],
      liveAfter: => Set[String],
      forceFold: Boolean = false): (Seq[ManifestEntry],
        Option[Seq[String] => Seq[String]], Option[Option[Seq[Int]] => Seq[Int]]) = {
    val cols = secIndexCols(sch)
    if (cols.isEmpty) return (added, None, None)
    val indexable = added.filter(e => e.kind == "ADD" &&
      (e.file.fileName.endsWith(".parquet") || e.file.fileName.endsWith(".orc")))
    if (indexable.isEmpty) return (added, None, None)
    val prevFiles = sm.latestSnapshot().flatMap(_.secIndex).getOrElse(Seq.empty)
    val trigger = sch.options
      .getOrElse("secondary-index.compact-trigger", "32").toInt
    val newRows = secIndexRows(sch, indexable, cols)
    val update: Seq[String] => Seq[String] =
      if (!forceFold && prevFiles.nonEmpty && prevFiles.size < trigger) {
        val files = writeSecIndexFiles(newRows, parts = 1)
        prev => prev ++ files
      } else {
        import spark.implicits._
        // forceFold (full rebuild): newRows already covers every live
        // file, prior sidecars would only duplicate rows
        val prevRows =
          if (prevFiles.isEmpty || forceFold) None
          else Some(spark.read.schema(secIndexSchema)
            .parquet(prevFiles.map(f => s"$path/$f"): _*))
        val liveDf = liveAfter.toSeq.toDF("f")
        val all = prevRows.map(_.unionAll(newRows)).getOrElse(newRows)
          .join(liveDf, Seq("f"), "left_semi")
          .select("cid", "v", "f")
        val files = writeSecIndexFiles(all, parts = 4)
        keepUnseen(prevFiles.toSet, files)
      }
    val indexableNames = indexable.map(_.file.fileName).toSet
    val marked = added.map { e =>
      if (indexableNames.contains(e.file.fileName))
        e.copy(file = e.file.copy(secIndexed = true))
      else e
    }
    // Covered-column bookkeeping: only the new files get rows for the
    // CURRENT option columns, so a column added to the option mid-life
    // is covered only after a full rebuild (forceFold over all live
    // files) or at first enablement (no prior secIndexed files exist).
    // Otherwise the prior covered set intersects with the option —
    // probing an uncovered column would wrongly prune old files.
    val cidsNow = cols.map(c => sch.fields.find(_.name == c).get.id)
    val cidsUpdate: Option[Seq[Int]] => Seq[Int] =
      if (forceFold || prevFiles.isEmpty) _ => cidsNow
      else prev => prev.map(_.toSet.intersect(cidsNow.toSet).toSeq.sorted)
        .getOrElse(cidsNow) // legacy snapshots: prior behavior
    (marked, Some(update), Some(cidsUpdate))
  }

  /** (cid, v, f) rows for the given files, grouped by (schema version,
    * format) so historic files are read under their own schema and
    * mapped to stable field ids. A column a file predates (schema
    * evolution reads it as all-null) yields one (cid, NULL, f) row so
    * IS NULL probes still hit the file. */
  private def secIndexRows(
      sch: TableSchema, entries: Seq[ManifestEntry], cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val colIds = cols.map(c => c -> sch.fields.find(_.name == c).get.id)
    def fmtOf(name: String) = name.substring(name.lastIndexOf('.') + 1)
    val groups = entries.groupBy(e => (e.file.schemaId, fmtOf(e.file.fileName)))
      .toSeq.sortBy(_._1).map { case ((sid, fmt), es) =>
        val fileSch = sm.schema(sid)
        val byId = fileSch.fields.map(f => f.id -> f).toMap
        val (present, absent) = colIds.partition { case (_, id) => byId.contains(id) }
        val paths = es.map(e => s"$path/${e.file.fileName}")
        val nullRows =
          if (absent.isEmpty) None
          else Some(es.map(e => basename(e.file.fileName)).toDF("f")
            .crossJoin(absent.map { case (_, id) => id }.toDF("cid"))
            .select(col("cid"), lit(null).cast("string").as("v"), col("f")))
        val valueRows =
          if (present.isEmpty) None
          else {
            val fields = present.map { case (_, id) =>
              val fd = byId(id)
              StructField(fd.name, sparkTypeOf(fd.dataType), fd.nullable)
            }
            val df = spark.read.format(fmt).schema(StructType(fields)).load(paths: _*)
              .withColumn("__f", expr("element_at(split(_metadata.file_path, '/'), -1)"))
            Some(present.map { case (_, id) =>
              val fd = byId(id)
              // numeric values canonicalize through DOUBLE so the
              // stored strings survive widenColumn (int "5" vs double
              // "5.0" would otherwise wrongly prune after a widen);
              // double rounding can only ADD hits, never lose a match
              // + 0.0 folds IEEE -0.0 into 0.0 (Spark compares them
              // equal, so their canonical strings must agree too).
              // Timestamps go through epoch SECONDS: a string
              // rendering would bake in the writing session's
              // timezone and wrong-prune for a reader in another —
              // second-level collisions only add candidate files.
              val vc = sparkTypeOf(fd.dataType) match {
                case _: org.apache.spark.sql.types.NumericType =>
                  (col(fd.name).cast("double") + lit(0.0)).cast("string")
                // NTZ is excluded twice over: its rendered string is
                // already timezone-free, and Spark forbids NTZ→BIGINT
                case TimestampType =>
                  col(fd.name).cast("long").cast("string")
                case _ => col(fd.name).cast("string")
              }
              df.select(lit(id).as("cid"), vc.as("v"), col("__f").as("f"))
            }.reduce(_ unionAll _))
          }
        (valueRows.toSeq ++ nullRows.toSeq).reduce(_ unionAll _)
      }
    groups.reduce(_ unionAll _).distinct()
  }

  private def writeSecIndexFiles(df: DataFrame, parts: Int): Seq[String] = {
    val dir = s"index-sec/${UUID.randomUUID()}"
    df.repartitionByRange(parts, col("cid"), col("v"))
      .sortWithinPartitions("cid", "v")
      .write.parquet(s"$path/$dir")
    graft.core.FsUtil.walkAll(Paths.get(s"$path/$dir")).iterator
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => s"$dir/${p.getFileName}")
      .toSeq
  }

  /** memoized per (sidecar set, probe set): repeated point queries on
    * the same snapshot cost one index job total. Keyed on the SORTED
    * sidecar list so snapshots listing the same files in a different
    * order (e.g. across a fold) share the entry. */
  private val secHitCache = scala.collection.concurrent.TrieMap
    .empty[(Seq[String], Seq[GraftTable.SecProbe]), Seq[Set[String]]]

  /** Shrink `entries` using the global secondary index: for each
    * equality / IN / null-safe-equality / IS NULL conjunct on an
    * indexed column, ONE bounded index read yields the hit-file set;
    * a file marked `secIndexed` survives only if every such conjunct
    * hits it. Files written before the index was enabled (or in a
    * non-indexable format) are never pruned here. Fails open. */
  private def secIndexPrune(
      snap: Snapshot,
      sch: TableSchema,
      entries: Seq[ManifestEntry],
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Seq[ManifestEntry] = {
    import org.apache.spark.sql.catalyst.expressions._
    val files = snap.secIndex.getOrElse(Seq.empty)
    if (files.isEmpty || entries.isEmpty || !entries.exists(_.file.secIndexed))
      return entries
    // only probe columns the index FULLY covers (snapshot-recorded):
    // a column added to the option after files were indexed has no
    // rows for those files — probing it would wrongly prune them.
    // Legacy snapshots (no record) keep the current-option behavior.
    val covered: Int => Boolean = snap.secIndexCids match {
      case Some(cids) => cids.toSet
      case None => _ => true
    }
    val idOf: Map[String, Int] =
      secIndexCols(sch).map(c => c -> sch.fields.find(_.name == c).get.id)
        .filter { case (_, id) => covered(id) }.toMap
    if (idOf.isEmpty) return entries
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def str(l: Literal): Option[String] = {
      // same canonicalization as the build side: numeric → double →
      // string, timestamps → epoch seconds (timezone-free),
      // everything else → string
      val c = l.dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          Cast(Add(Cast(l, DoubleType, tz), Literal(0.0d)), StringType, tz)
        case TimestampType =>
          Cast(Cast(l, LongType, tz), StringType, tz)
        case _ => Cast(l, StringType, tz)
      }
      Option(c.eval(null)).map(_.toString)
    }
    import GraftTable.{SecEq, SecFn, SecNull, SecPrefix, SecProbe, SecRange, SecStrRange}
    // numeric range probes ride the canonical double encoding, bounds
    // widened one ulp to absorb the rounding of >2^53 integrals —
    // over-inclusive, never lossy. STRING columns store the raw value,
    // so lexicographic interval probes are exact (Spark string
    // comparison is UTF8 binary order on both the filter and the
    // driver-side row match).
    def numCol(a: AttributeReference): Boolean =
      idOf.contains(a.name) &&
        a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    def dbl(l: Literal): Option[Double] =
      Option(Cast(l, DoubleType, tz).eval(null)).map(_.asInstanceOf[Double])
    def rangeOf(a: AttributeReference, l: Literal, lower: Boolean,
        inclusive: Boolean): Seq[SecProbe] =
      if (numCol(a)) dbl(l).toSeq.map { d =>
        if (lower) SecRange(idOf(a.name), Math.nextDown(d), Double.PositiveInfinity)
        else SecRange(idOf(a.name), Double.NegativeInfinity, Math.nextUp(d))
      }
      else if (idOf.contains(a.name) && a.dataType == StringType &&
        l.dataType == StringType && l.value != null) {
        val s = l.value.toString
        Seq(if (lower) SecStrRange(idOf(a.name), Some(s), inclusive, None, true)
        else SecStrRange(idOf(a.name), None, true, Some(s), inclusive))
      }
      else if (idOf.contains(a.name) && a.dataType == TimestampType &&
        l.dataType == TimestampType) {
        // stored canonical is epoch SECONDS (truncated); T >= t implies
        // floor(T) >= floor(t) and T <= t implies floor(T) <= floor(t),
        // so flooring the literal bound is over-inclusive, never lossy.
        // Widened a FULL second each way: past 2^53 micros the
        // timestamp→double cast itself loses tens of microseconds, so
        // a one-ulp margin could still mis-floor — one whole second
        // cannot (the cast error is always far below 1s).
        dbl(l).toSeq.map { secs =>
          val f = Math.floor(secs)
          if (lower) SecRange(idOf(a.name), f - 1.0, Double.PositiveInfinity)
          else SecRange(idOf(a.name), Double.NegativeInfinity, f + 1.0)
        }
      }
      else Seq.empty
    import GraftTable.SecOr
    def probeOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[SecProbe] = e match {
      // a disjunction probes as the UNION of its branch hit-sets —
      // sound iff EVERY branch is probe-able (one opaque branch means
      // rows could hide in un-probed files -> the whole Or fails open)
      case Or(l, r) =>
        (probeOf(l), probeOf(r)) match {
          case (Some(SecEq(c1, v1)), Some(SecEq(c2, v2))) if c1 == c2 =>
            Some(SecEq(c1, (v1 ++ v2).distinct))
          case (Some(lp), Some(rp)) =>
            def flat(p: SecProbe): Seq[SecProbe] = p match {
              case SecOr(ps) => ps
              case other => Seq(other)
            }
            Some(SecOr(flat(lp) ++ flat(rp)))
          case _ => None
        }
      case EqualTo(a: AttributeReference, l: Literal) if idOf.contains(a.name) =>
        str(l).map(s => SecEq(idOf(a.name), Seq(s)))
      case EqualTo(l: Literal, a: AttributeReference) if idOf.contains(a.name) =>
        str(l).map(s => SecEq(idOf(a.name), Seq(s)))
      case EqualNullSafe(a: AttributeReference, l: Literal) if idOf.contains(a.name) =>
        Some(str(l) match {
          case Some(s) => SecEq(idOf(a.name), Seq(s))
          case None => SecNull(idOf(a.name)) // <=> NULL ≡ IS NULL
        })
      case EqualNullSafe(l: Literal, a: AttributeReference) if idOf.contains(a.name) =>
        Some(str(l) match {
          case Some(s) => SecEq(idOf(a.name), Seq(s))
          case None => SecNull(idOf(a.name))
        })
      case In(a: AttributeReference, list)
          if idOf.contains(a.name) && list.nonEmpty &&
            list.forall(_.isInstanceOf[Literal]) =>
        // NULL list elements never equal anything — drop them; an
        // all-NULL list legitimately hits no file
        Some(SecEq(idOf(a.name),
          list.flatMap(l => str(l.asInstanceOf[Literal]))))
      case IsNull(a: AttributeReference) if idOf.contains(a.name) =>
        Some(SecNull(idOf(a.name)))
      // numeric ranges ride the canonical double encoding: the folded
      // index is (cid, v)-sorted, so parquet row-group stats give the
      // probe btree-like locality
      case GreaterThan(a: AttributeReference, l: Literal) => rangeOf(a, l, lower = true, inclusive = false).headOption
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => rangeOf(a, l, lower = true, inclusive = true).headOption
      case LessThan(a: AttributeReference, l: Literal) => rangeOf(a, l, lower = false, inclusive = false).headOption
      case LessThanOrEqual(a: AttributeReference, l: Literal) => rangeOf(a, l, lower = false, inclusive = true).headOption
      case GreaterThan(l: Literal, a: AttributeReference) => rangeOf(a, l, lower = false, inclusive = false).headOption
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => rangeOf(a, l, lower = false, inclusive = true).headOption
      case LessThan(l: Literal, a: AttributeReference) => rangeOf(a, l, lower = true, inclusive = false).headOption
      case LessThanOrEqual(l: Literal, a: AttributeReference) => rangeOf(a, l, lower = true, inclusive = true).headOption
      // case-transform equalities on indexed STRING columns: apply the
      // transform to the stored value side
      case EqualTo(Upper(a: AttributeReference), l: Literal)
          if idOf.contains(a.name) && a.dataType == StringType =>
        Option(l.value).map(v => SecFn(idOf(a.name), "upper", v.toString))
      case EqualTo(l: Literal, Upper(a: AttributeReference))
          if idOf.contains(a.name) && a.dataType == StringType =>
        Option(l.value).map(v => SecFn(idOf(a.name), "upper", v.toString))
      case EqualTo(Lower(a: AttributeReference), l: Literal)
          if idOf.contains(a.name) && a.dataType == StringType =>
        Option(l.value).map(v => SecFn(idOf(a.name), "lower", v.toString))
      case EqualTo(l: Literal, Lower(a: AttributeReference))
          if idOf.contains(a.name) && a.dataType == StringType =>
        Option(l.value).map(v => SecFn(idOf(a.name), "lower", v.toString))
      // prefix predicates on indexed STRING columns: the index stores
      // exact values, so LIKE 'abc%' / startsWith refute exactly
      // (strings skip the canonical numeric encoding — stored as-is)
      case StartsWith(a: AttributeReference, l: Literal)
          if idOf.contains(a.name) && a.dataType == StringType =>
        Option(l.value).map(v => SecPrefix(idOf(a.name), v.toString))
      case Like(a: AttributeReference, l: Literal, _)
          if idOf.contains(a.name) && a.dataType == StringType =>
        Option(l.value).map(_.toString).collect {
          case p if p.nonEmpty && p.endsWith("%") &&
              !p.dropRight(1).exists(c => c == '%' || c == '_' || c == '\\') =>
            SecPrefix(idOf(a.name), p.dropRight(1))
        }
      case _ => None
    }
    val probes: Seq[SecProbe] = splitConjuncts(cond).flatMap(probeOf)
    // range conjuncts on one column intersect into a single probe
    // BEFORE evaluation (same as BsiIndex): `c >= 10 AND c <= 40`
    // must find a value inside [10, 40] — probing the bounds
    // independently would accept any file with one value on each side
    val (rawRanges, rest0) = probes.partition(_.isInstanceOf[SecRange])
    val (rawStrRanges, pointProbes) = rest0.partition(_.isInstanceOf[SecStrRange])
    val mergedRanges = rawRanges.collect { case r: SecRange => r }
      .groupBy(_.cid).toSeq.sortBy(_._1)
      .map { case (cid, rs) => SecRange(cid, rs.map(_.lo).max, rs.map(_.hi).min) }
    // string intervals intersect under UTF8 binary order (Spark's
    // string comparison); equal bounds compose inclusivity strictly
    def utf8Cmp(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val mergedStrRanges = rawStrRanges.collect { case r: SecStrRange => r }
      .groupBy(_.cid).toSeq.sortBy(_._1)
      .map { case (cid, rs) =>
        val lo = rs.flatMap(r => r.lo.map(_ -> r.loInc))
          .sortWith((a, b) => { val c = utf8Cmp(a._1, b._1)
            c > 0 || (c == 0 && !a._2 && b._2) }).headOption
        val hi = rs.flatMap(r => r.hi.map(_ -> r.hiInc))
          .sortWith((a, b) => { val c = utf8Cmp(a._1, b._1)
            c < 0 || (c == 0 && !a._2 && b._2) }).headOption
        SecStrRange(cid, lo.map(_._1), lo.forall(_._2),
          hi.map(_._1), hi.forall(_._2))
      }
    val allProbes = pointProbes ++ mergedRanges ++ mergedStrRanges
    if (allProbes.isEmpty) return entries
    try {
      val hits = secHitCache.getOrElseUpdate((files.sorted, allProbes), {
        if (secHitCache.size > 256) secHitCache.clear()
        val idx = spark.read.schema(secIndexSchema)
          .parquet(files.map(f => s"$path/$f"): _*)
        def pred(p: SecProbe): Column = p match {
          case GraftTable.SecOr(ps) => ps.map(pred).reduce(_ || _)
          case SecEq(cid, vs) => col("cid") === cid && col("v").isin(vs: _*)
          case SecNull(cid) => col("cid") === cid && col("v").isNull
          case SecFn(cid, fn, value) =>
            val t = fn match {
              case "upper" => upper(col("v"))
              case "lower" => lower(col("v"))
            }
            col("cid") === cid && col("v").isNotNull && t === value
          case SecPrefix(cid, p) =>
            col("cid") === cid && col("v").isNotNull && col("v").startsWith(p)
          case SecRange(cid, lo, hi) =>
            // Spark double semantics order NaN above everything: a
            // stored "NaN" must hit lower-bounded probes (c > lit is
            // true for NaN) and miss upper-bounded ones
            val vd = col("v").cast("double")
            val inRange =
              if (hi.isPosInfinity) vd >= lo || vd.isNaN
              else vd >= lo && vd <= hi
            col("cid") === cid && col("v").isNotNull && inRange
          case SecStrRange(cid, lo, loInc, hi, hiInc) =>
            // raw stored strings: Spark's >=/<= is UTF8 binary order
            val bounds = Seq(
              lo.map(s => if (loInc) col("v") >= s else col("v") > s),
              hi.map(s => if (hiInc) col("v") <= s else col("v") < s)
            ).flatten
            bounds.foldLeft(col("cid") === cid && col("v").isNotNull)(_ && _)
        }
        // ONE job answers every probe: only hit rows come back. The
        // collect is CAPPED — a hot value at millions of files could
        // otherwise OOM the driver; past the cap the index fails open
        // (scan-everything correctness, stats/sidecars still prune)
        val cap = sch.options
          .getOrElse("secondary-index.max-probe-hits", "100000").toInt
        val rows = idx.filter(allProbes.map(pred).reduce(_ || _))
          .select("cid", "v", "f").distinct().limit(cap + 1).collect()
        if (rows.length > cap) {
          org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
            s"secondary-index probe exceeded $cap hit rows; failing open " +
              "(raise secondary-index.max-probe-hits or rely on file stats)")
          // memoized fail-open: an empty probe list keeps every
          // candidate (forall over nothing) without re-running the job
          Seq.empty
        } else {
        def rowMatches(p: SecProbe, r: org.apache.spark.sql.Row): Boolean = p match {
          case GraftTable.SecOr(ps) => ps.exists(rowMatches(_, r))
          case leaf => r.getInt(0) == leaf.cid && (leaf match {
            case SecEq(_, vs) => !r.isNullAt(1) && vs.contains(r.getString(1))
            case SecNull(_) => r.isNullAt(1)
            case SecFn(_, fn, value) =>
              // mirror Spark's Upper/Lower (UTF8String case mapping)
              !r.isNullAt(1) && {
                val u = org.apache.spark.unsafe.types.UTF8String
                  .fromString(r.getString(1))
                (if (fn == "upper") u.toUpperCase else u.toLowerCase)
                  .toString == value
              }
            case SecPrefix(_, p0) =>
              !r.isNullAt(1) && r.getString(1).startsWith(p0)
            case SecRange(_, lo, hi) =>
              !r.isNullAt(1) && {
                val d = try r.getString(1).toDouble catch { case _: Exception => Double.NaN }
                // mirror Spark's NaN-largest ordering
                if (d.isNaN) hi.isPosInfinity
                else d >= lo && d <= hi
              }
            case SecStrRange(_, lo, loInc, hi, hiInc) =>
              !r.isNullAt(1) && {
                val u = org.apache.spark.unsafe.types.UTF8String
                  .fromString(r.getString(1))
                def cmp(s: String) = u.binaryCompare(
                  org.apache.spark.unsafe.types.UTF8String.fromString(s))
                lo.forall(s => if (loInc) cmp(s) >= 0 else cmp(s) > 0) &&
                  hi.forall(s => if (hiInc) cmp(s) <= 0 else cmp(s) < 0)
              }
            case _: GraftTable.SecOr => false // unreachable (flattened)
          })
        }
        allProbes.map { p =>
          rows.iterator.filter(rowMatches(p, _)).map(_.getString(2)).toSet
        }
        }
      })
      entries.filter(e => !e.file.secIndexed ||
        hits.forall(_.contains(basename(e.file.fileName))))
    } catch { case ex: Exception =>
      org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
        s"secondary-index probe failed (keeping all candidates): $ex")
      entries
    }
  }

  /** Write a (pk..., __bucket) frame as index sidecars; returns
    * table-relative paths.
    *
    * Two layouts:
    *  - `scoped = false` (per-commit deltas): ONE flat file. Deltas are
    *    O(batch's new keys), so reading every delta since the last
    *    rewrite is cheap by construction, and one file per commit keeps
    *    small-ingest overhead minimal.
    *  - `scoped = true` (full rewrites / bootstrap / first write of
    *    tables past `dynamic-bucket.index.scope-threshold` rows): the
    *    bulk of the index, laid out `__p=<partition-hash>/__r=<key-
    *    range>/` via partitionBy so the assigner and point lookups can
    *    PRUNE the probe to the batch's partitions and key hash-ranges
    *    instead of reading O(total keys ever written) per commit
    *    (reference: HashBucketAssigner.java:37 keeps assigner state per
    *    partition; IndexBootstrap loads only written partitions). The
    *    scope columns are directory structure only — readers use the
    *    explicit (pk, __bucket) schema, so legacy flat files and scoped
    *    files mix freely in one read. */
  private def writeDynIndexFiles(
      df: DataFrame, scoped: Boolean, sch: TableSchema): Seq[String] = {
    // scoped dirs pin the range modulus they were laid down with
    // (r<N>-<uuid>): probes MUST token-match with the writer's modulus,
    // so a later option change only takes effect at the next rewrite
    val dir =
      if (scoped) s"index-dyn/r${dynIndexRanges(sch)}-${UUID.randomUUID()}"
      else s"index-dyn/${UUID.randomUUID()}"
    if (!scoped) df.coalesce(1).write.parquet(s"$path/$dir")
    else {
      val scopeCols = dynScopeCols(sch, dynIndexRanges(sch))
      val withScope = scopeCols.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }
      withScope
        .repartition(scopeCols.map(c => col(c._1)).toIndexedSeq: _*)
        .write.partitionBy(scopeCols.map(_._1): _*)
        .parquet(s"$path/$dir")
    }
    val base = Paths.get(path)
    graft.core.FsUtil.walkAll(Paths.get(s"$path/$dir")).iterator
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => base.relativize(p).toString.replace('\\', '/'))
      .toSeq
  }

  /** Scope columns of the dynamic-bucket index layout, in partitionBy
    * order: `__p` (a 16-bit hash of the table-partition values — only
    * when the partition keys are contained in the primary key, so a key
    * can never change partitions and its index entry is always findable
    * under the batch row's partition) and `__r` (the key's hash-range,
    * `dynamic-bucket.index.ranges` buckets, default 8). Both are small
    * ints so the directory tokens are stable and [[Buckets.bucketOf]]
    * can mirror them on the driver. */
  private def dynScopeCols(sch: TableSchema, ranges: Int): Seq[(String, Column)] = {
    val r = "__r" -> Buckets.column(sch, sch.primaryKeys, ranges)
    if (dynPartitionScoped(sch))
      Seq("__p" -> Buckets.column(sch, sch.partitionKeys, GraftTable.DynPartScopes), r)
    else Seq(r)
  }

  private def dynIndexRanges(sch: TableSchema): Int =
    sch.options.getOrElse("dynamic-bucket.index.ranges", "8").toInt

  private val DynRangesPin = """index-dyn/r(\d+)-""".r

  /** The range modulus the EXISTING scoped sidecars were written with
    * (their `r<N>-` directory pin) — probe tokens must use it, not the
    * current option value. Some(option default) when nothing scoped
    * exists; None when scoped files carry no/conflicting pins (legacy
    * or mid-transition layout → pruning must be skipped). */
  private def pinnedDynRanges(files: Seq[String], sch: TableSchema): Option[Int] = {
    val scoped = files.filter(_.contains("__r="))
    if (scoped.isEmpty) Some(dynIndexRanges(sch))
    else {
      val pins = scoped.map(f =>
        DynRangesPin.findFirstMatchIn(f).map(_.group(1).toInt)).distinct
      pins match {
        case Seq(Some(n)) => Some(n)
        case _ => None
      }
    }
  }

  /** Diagnostic: the sidecar files the last dynamic-bucket assignment
    * actually probed (what the pruning let through). Volatile: test
    * observability only, read from other threads than the writer. */
  @volatile private[graft] var lastDynProbeFiles: Seq[String] = Seq.empty

  /** Partition scoping is only sound when a primary key is pinned to
    * one partition (partition keys ⊆ primary keys); otherwise a key
    * re-written under a new partition would miss its old entry and be
    * assigned a second bucket. */
  private def dynPartitionScoped(sch: TableSchema): Boolean =
    sch.partitionKeys.nonEmpty &&
      sch.partitionKeys.forall(sch.primaryKeys.contains)

  /** Keep only the sidecar files that can hold entries for the given
    * scope tokens: a file whose path carries `__p=`/`__r=` tokens is
    * skipped unless its (p, r) pair is in the batch's set; flat legacy/
    * delta files (no tokens) are always read. Over-reads are safe,
    * under-reads are not — unparseable tokens keep the file. */
  private[graft] def pruneDynIndexFiles(
      files: Seq[String], tokens: Set[(Option[Int], Int)]): Seq[String] = {
    def seg(f: String, key: String): Option[Int] =
      f.split('/').collectFirst {
        case s if s.startsWith(key + "=") =>
          try Some(s.substring(key.length + 1).toInt)
          catch { case _: NumberFormatException => None }
      }.flatten
    files.filter { f =>
      seg(f, "__r") match {
        case None => true // flat delta / legacy file
        case Some(r) =>
          val p = seg(f, "__p")
          tokens.exists { case (tp, tr) =>
            tr == r && (tp.isEmpty || p.isEmpty || tp == p) }
      }
    }
  }

  /** Write-time clustering for append tables (reference:
    * CoreOptions.CLUSTERING_COLUMNS/CLUSTERING_STRATEGY, applied by
    * PaimonSparkWriter via TableSorter): when `clustering.columns` is
    * set, every batch write range-clusters the incoming rows by the
    * chosen curve before the files are laid down, so per-file min/max
    * stats are selective on the cluster columns from the FIRST write —
    * no sort-compact needed for scan pruning to work. Strategy `auto`
    * follows the reference's rule: 1 column → plain order, <5 →
    * zorder, otherwise hilbert. PK tables are excluded (their layout
    * is the LSM bucket structure), matching the reference. */
  private def clusterForWrite(df: DataFrame, sch: TableSchema): DataFrame = {
    val cols = sch.options.get("clustering.columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    cols match {
      case Some(cs) if sch.primaryKeys.isEmpty =>
        val missing = cs.filterNot(df.columns.contains)
        require(missing.isEmpty, s"clustering.columns not in schema: $missing")
        val strategy = sch.options.getOrElse("clustering.strategy", "auto") match {
          case "auto" =>
            if (cs.size == 1) "order" else if (cs.size < 5) "zorder" else "hilbert"
          case s => s
        }
        // keep the batch's own parallelism: an N-partition batch lands
        // as ~N clustered files (file sizing is the writer's concern)
        val n = math.max(1, df.rdd.getNumPartitions)
        strategy match {
          case "order"   => graft.operators.ZOrder.clusterByOrder(df, cs, n)
          case "zorder"  => graft.operators.ZOrder.cluster(df, cs, n)
          case "hilbert" => graft.operators.ZOrder.clusterByHilbert(df, cs, n)
          case other => throw new IllegalArgumentException(
            s"unknown clustering.strategy: $other")
        }
      case _ => df
    }
  }

  private def appendCommit(
      df: DataFrame, sch: TableSchema, overwrite: Boolean, commitIdentifier: Long): Long = {
    val base = nextSeq(sm.latestSnapshot())
    // length semantics live on the shared commit path (not only the
    // write()/overwrite() entry points) so every producer — DML,
    // streaming sink, procedures — stores consistent CHAR padding
    val pre = enforceCharVarchar(df, sch)
      .select(sch.toStruct.fieldNames.map(col).toIndexedSeq: _*)
    // bucketed append (bucket-key on a keyless table): rows route to
    // fixed buckets by the declared key hash, one task per bucket —
    // equality predicates on the bucket key then prune to one bucket's
    // files, and identically-bucketed append tables join shuffle-free
    // through the bucketed scan (reference: BucketMode HASH_FIXED
    // without a primary key). clustering.columns then sorts WITHIN
    // each bucket (the global range-cluster would undo the routing).
    val (routed, partitionBy) = routeAppendBuckets(pre, sch)
    val out =
      if (!sch.isBucketedAppend) clusterForWrite(pre, sch)
      else sch.options.get("clustering.columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty) match {
        case Some(cs) => routed.sortWithinPartitions(cs.map(col): _*)
        case None => routed
      }
    // partitions live before an overwrite commit — captured inside the
    // deletes closure (which runs under the commit) so the post-commit
    // HMS drop mirror diffs the exact set the overwrite replaced
    var beforeParts: Set[Map[String, String]] = Set.empty
    val deletes: Seq[ManifestEntry] => Seq[ManifestEntry] = added => {
      if (!overwrite) Seq.empty
      else {
        val live = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
        beforeParts = live.map(_.partition).toSet
        val newParts = added.map(_.partition).toSet
        // dynamic-partition-overwrite=false (reference: CoreOptions
        // DYNAMIC_PARTITION_OVERWRITE, default true): INSERT OVERWRITE
        // replaces the WHOLE table, not just the partitions present in
        // the incoming batch — Hive's classic static overwrite.
        val dynamic =
          !sch.options.get("dynamic-partition-overwrite").contains("false")
        val victims =
          if (sch.partitionKeys.isEmpty || !dynamic) live
          else live.filter(e => newParts.contains(e.partition))
        victims.map(_.copy(kind = "DELETE"))
      }
    }
    val id = commitFilesFn(out, sch, partitionBy,
      if (overwrite) KindOverwrite else KindAppend, base, commitIdentifier, deletes)
    // a STATIC overwrite (or an empty overwrite batch) removes every
    // partition absent from the batch — those disappearances must
    // mirror to HMS like the expire/drop-partition paths do, or
    // Hive-side tooling keeps seeing dead partitions until a manual
    // sys.sync_hms_partitions (dynamic overwrite only ever REPLACES
    // partitions present in the batch, so this diff is empty there)
    if (overwrite && sch.partitionKeys.nonEmpty) {
      val nowParts = sm.latestSnapshot()
        .map(sm.liveEntries(_).map(_.partition).toSet).getOrElse(Set.empty)
      mirrorHmsDrops(sch, (beforeParts -- nowParts).toSeq)
    }
    id
  }

  private def commitFiles(
      out: DataFrame, sch: TableSchema, partitionBy: Seq[String],
      kind: String, seqBase: Long, commitIdentifier: Long,
      deletes: Seq[ManifestEntry], level: Int = 0,
      changelogManifest: Option[String] = None,
      maxRecordsPerFile: Option[Long] = None): Long =
    commitFilesFn(out, sch, partitionBy, kind, seqBase, commitIdentifier,
      _ => deletes, level, changelogManifest,
      maxRecordsPerFile = maxRecordsPerFile)

  /** Shared two-phase write: stage parquet → move into table dir →
    * commit ADDs (+ computed DELETEs). `level` > 0 marks fully-merged
    * compaction output (enables the manifests-only COUNT fast path). */
  private def commitFilesFn(
      out: DataFrame, sch: TableSchema, partitionBy: Seq[String],
      kind: String, seqBase: Long, commitIdentifier: Long,
      deletesFor: Seq[ManifestEntry] => Seq[ManifestEntry],
      level: Int = 0,
      changelogManifest: Option[String] = None,
      dynIndexUpdate: Option[Seq[String] => Seq[String]] = None,
      globalIndexUpdate: Option[Seq[String] => Seq[String]] = None,
      seqMax: Long = -1L,
      /** roll output files at ~`target-file-size` (rows derived from a
        * bytes/row estimate by the caller); None = Spark's default
        * task-per-file layout */
      maxRecordsPerFile: Option[Long] = None): Long = {
    val staging = s"$path/staging/${UUID.randomUUID()}"
    // blob columns go out-of-line as part of the same write job
    val blobCols = graft.sources.BlobStorage.blobColumns(sch.options)
    val outB =
      if (blobCols.isEmpty) out
      else graft.sources.BlobStorage.externalize(out, blobCols, s"$path/blob",
        sch.options.getOrElse(graft.sources.BlobStorage.OptionInlineThreshold,
          graft.sources.BlobStorage.DefaultInlineThreshold.toString).toInt)
    // per-level format choice (reference: FILE_FORMAT_PER_LEVEL):
    // level-0 ingest can stay row-oriented while compaction (level>0
    // commits) rewrites columnar — manifests carry the format in the
    // file name, so readers mix formats within one table freely
    val fmt = sch.fileFormatFor(level)
    if (fmt == "avro")
      graft.sources.AvroStorage.writeStaged(outB, partitionBy, staging)
    else if (fmt == "lance")
      graft.sources.LanceStorage.writeStaged(outB, partitionBy, staging)
    else withMicrosTimestamps {
      val writer = outB.write.mode("overwrite").options(dataWriteOptions(sch, level))
        .options(maxRecordsPerFile.map(n => "maxRecordsPerFile" -> n.toString).toMap)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .format(fmt).save(staging)
    }
    commitStagedDir(staging, sch, kind, seqBase, commitIdentifier,
      deletesFor, level, changelogManifest, dynIndexUpdate,
      globalIndexUpdate, seqMax)
  }

  /** One file per task of `files`: staged files named
    * `part-<task>-<attempt>.<ext>` (renamed from a hidden temporary name
    * only when their attempt completed — AvroStorage/LanceStorage
    * .writeStaged, [[BucketWriter]]) keep the latest completed attempt
    * of each task and directory, as speculation or a retry can complete
    * two (their content is the same row set either way). Files of
    * Spark's own committer, which resolves attempts itself, pass. */
  private def adoptAttempts(files: Seq[java.nio.file.Path]): Seq[java.nio.file.Path] = {
    val AttemptRe = """part-(\d+)-(\d+)\.(avro|lance|parquet)""".r
    files.groupBy { p =>
      p.getFileName.toString match {
        case AttemptRe(pid, _, ext) => (p.getParent.toString, s"$pid.$ext")
        case other => (p.getParent.toString, other)
      }
    }.values.map(_.maxBy { p =>
      // numeric attempt compare — lexicographic would rank attempt 9
      // above 10, adopting an arbitrary rather than the latest attempt
      p.getFileName.toString match {
        case AttemptRe(_, attempt, _) => attempt.toLong
        case _ => Long.MinValue
      }
    }).toSeq
  }

  /** Table files must store timestamps as annotated micros (INT96 has
    * no usable footer stats and no logical annotation). Parquet has no
    * per-writer option for this, so set the session conf for the write
    * and restore the user's previous value after. */
  private[graft] def withMicrosTimestamps[T](f: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = try Some(spark.conf.get(key)) catch { case _: Exception => None }
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Second phase of a write: adopt already-staged parquet (partition
    * directory layout) into the table and commit. Also used by the
    * DSv2 row-level (COPY_ON_WRITE) write path, whose executors stage
    * files through Spark's own parquet writer factory. */
  private[graft] def commitStagedDir(
      staging: String, sch: TableSchema,
      kind: String, seqBase: Long, commitIdentifier: Long,
      deletesFor: Seq[ManifestEntry] => Seq[ManifestEntry],
      level: Int = 0,
      changelogManifest: Option[String] = None,
      dynIndexUpdate: Option[Seq[String] => Seq[String]] = None,
      globalIndexUpdate: Option[Seq[String] => Seq[String]] = None,
      /** highest per-row _graft_seq in this commit when it exceeds
        * seqBase (cross-partition commits write retractions at seqBase
        * and data rows at seqBase+1); -1 = same as seqBase. */
      seqMax: Long = -1L,
      /** footer metadata the writing tasks read, by path relative to
        * `staging`; other adopted files have their footers read here */
      stagedMetas: Map[String, DataFileMeta] = Map.empty): Long = {
    val sMax = if (seqMax < 0) seqBase else seqMax
    val stagingPath = Paths.get(staging)
    val dataFiles = adoptAttempts(graft.core.FsUtil.walkAll(stagingPath).iterator
      .filter(p => (p.toString.endsWith(".parquet") || p.toString.endsWith(".orc")
        || p.toString.endsWith(".avro") || p.toString.endsWith(".lance"))
        && Files.isRegularFile(p))
      .toSeq)
    // phase 1 (driver, metadata-only): adopt staged files into the
    // table directory
    val moved = dataFiles.map { p =>
      val rel = stagingPath.relativize(p).toString
      val ext = rel.substring(rel.lastIndexOf('.') + 1)
      val dirs = rel.split('/').dropRight(1)
      val partition = dirs.filterNot(_.startsWith("__bucket="))
        .map { d => val Array(k, v) = d.split("=", 2); k -> v }.toMap
      val bucket = dirs.find(_.startsWith("__bucket="))
        .map(_.stripPrefix("__bucket=").toInt).getOrElse(0)
      // `data-file.prefix` (reference: CoreOptions DATA_FILE_PREFIX):
      // operators grep/lifecycle-rule on file-name prefixes; uuid keeps
      // names collision-free either way
      val prefix = sch.options.getOrElse("data-file.prefix", "")
      val targetRel = (dirs :+ s"$prefix${UUID.randomUUID()}.$ext").mkString("/")
      val targetAbs = s"${sm.dataDir}/$targetRel"
      sm.io.rename(p.toString, targetAbs)
      (partition, bucket, targetAbs, s"data/$targetRel", stagedMetas.get(rel))
    }
    deleteRecursive(stagingPath)
    // phase 2: footer stats (format-matched reader). Driver-serial IO
    // is fine for a handful of files but O(files) sequential reads on
    // a big backfill, so larger commits fan the footer reads out as
    // one Spark job (the reference computes stats in the writers and
    // ships them in CommitMessages — PaimonSparkWriter.scala:108-195).
    val schId = sch.id
    // metadata.stats-mode / fields.<f>.stats-mode (+ per-level default
    // and keep-first-n): bound what the manifest stores per column
    // (plain string map — executor-safe); every file in one staged
    // commit shares `level`
    val colModes = graft.core.StatsModes.columnModes(sch, level)
    def withModes(m: DataFileMeta): DataFileMeta =
      if (colModes.isEmpty) m
      else m.copy(stats = graft.core.StatsModes.apply(m.stats, colModes))
    def statsOf(conf: org.apache.hadoop.conf.Configuration,
        abs: String, rel: String, lvl: Int, sb: Long, sx: Long): DataFileMeta =
      withModes(
        if (abs.endsWith(".orc")) OrcStats.read(conf, abs, rel, lvl, sb, sx)
        else if (abs.endsWith(".avro"))
          graft.sources.AvroStorage.stats(abs, rel, lvl, sb, sx)
        else if (abs.endsWith(".lance"))
          graft.sources.LanceStorage.stats(abs, rel, lvl, sb, sx)
        else ParquetStats.read(conf, abs, rel, lvl, sb, sx))
    val unknown = moved.filter(_._5.isEmpty)
    val read: Map[String, DataFileMeta] =
      if (unknown.size <= 16)
        unknown.map { case (_, _, abs, rel, _) =>
          abs -> statsOf(hadoopConf, abs, rel, level, seqBase, sMax)
        }.toMap
      else {
        val conf = new SerializableHadoopConf(hadoopConf)
        val (lvl, sb, sx) = (level, seqBase, sMax)
        spark.sparkContext
          .parallelize(unknown.map { case (_, _, abs, rel, _) => (abs, rel) },
            math.min(unknown.size, 32))
          .map { case (abs, rel) => abs -> statsOf(conf.value, abs, rel, lvl, sb, sx) }
          .collect().toMap
      }
    val metas = moved.map { case (_, _, abs, rel, known) =>
      known.map(m => withModes(m.copy(fileName = rel, level = level,
        minSeq = seqBase, maxSeq = sMax))).getOrElse(read(abs)).copy(schemaId = schId)
    }
    val added = moved.zip(metas).map { case ((partition, bucket, _, _, _), meta) =>
      ManifestEntry("ADD", partition, bucket, meta)
    }
    val indexed = buildFileIndexes(sch, added)
    val deletes = deletesFor(indexed)
    // snapshot.ignore-empty-commit: an all-empty batch (zero rows, no
    // deletes, no changelog) creates no snapshot — streaming sinks
    // with empty epochs stop minting history (reference: CoreOptions
    // SNAPSHOT_IGNORE_EMPTY_COMMIT). The already-moved 0-row part
    // files are removed inline, not left as orphans.
    if (deletes.isEmpty &&
        // changelog-producer=lookup writes an (empty) changelog
        // manifest even for an idle epoch — zero ENTRIES is still an
        // empty commit
        changelogManifest.forall(m => sm.readManifest(m).isEmpty) &&
        indexed.forall(_.file.rowCount == 0L) &&
        sch.options.get("snapshot.ignore-empty-commit").contains("true")) {
      indexed.foreach { e =>
        e.file.indexFiles.foreach(_.values.foreach(f => sm.io.delete(s"$path/$f")))
        sm.io.delete(s"$path/${e.file.fileName}")
      }
      changelogManifest.foreach(m => sm.io.delete(s"${sm.tablePath}/manifest/$m"))
      return sm.latestSnapshotId.getOrElse(-1L)
    }
    val deletedNames = deletes.map(_.file.fileName).toSet
    val (secMarked, secUpdate, secCids) = buildSecondaryIndex(sch, indexed, {
      val live = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
        .map(_.file.fileName).toSet
      ((live -- deletedNames) ++ indexed.map(_.file.fileName)).map(basename)
    })
    sm.commit(secMarked ++ deletes, kind, sch.id, commitIdentifier,
      watermark = pendingWatermark,
      conflictCheck = latest =>
        deletedNames.isEmpty ||
          deletedNames.subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet),
      changelogManifest = changelogManifest,
      dynIndexUpdate = dynIndexUpdate,
      globalIndexUpdate = globalIndexUpdate,
      secIndexUpdate = secUpdate,
      secCidsUpdate = secCids,
      assignRowIds = GraftTable.tracksRows(sch))
  }

  /** Build per-file index sidecars (bloom + bitmap) for the configured
    * columns in ONE distributed job: group fresh rows by
    * `_metadata.file_path`, fold each indexed column into its filter /
    * position bitmaps with map-side partial merge, write sidecars from
    * the executors, return only paths. See core.BloomIndex /
    * core.BitmapIndex. */
  private def buildFileIndexes(
      sch: TableSchema, added: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    def colsOf(option: String): Seq[String] = sch.options.get(option)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
      .filter(c => sch.fields.exists(_.name == c) && !sch.partitionKeys.contains(c))
    val bloomCols = colsOf(BloomIndex.OptionColumns)
    val bitmapCols = colsOf(BitmapIndex.OptionColumns).filterNot(bloomCols.contains)
    // BSI applies to integral columns only (the slice mapping is the
    // sign-flipped 64-bit value)
    val bsiCols = colsOf(BsiIndex.OptionColumns)
      .filterNot(c => bloomCols.contains(c) || bitmapCols.contains(c))
      .filter { c =>
        sparkTypeOf(sch.fields.find(_.name == c).get.dataType) match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }
    val rangeCols = colsOf(RangeIndex.OptionColumns)
      .filterNot(c => bloomCols.contains(c) || bitmapCols.contains(c) ||
        bsiCols.contains(c))
      .filter(c => RangeIndex.supports(
        sparkTypeOf(sch.fields.find(_.name == c).get.dataType)))
    // index sidecars need _metadata.row_index — parquet files only
    val indexable = added.filter(_.file.fileName.endsWith(".parquet"))
    if ((bloomCols.isEmpty && bitmapCols.isEmpty && bsiCols.isEmpty &&
      rangeCols.isEmpty) || indexable.isEmpty) return added
    val items = sch.options.get(BloomIndex.OptionItems)
      .map(_.toLong).getOrElse(BloomIndex.DefaultItems)
    val bloomUdaf = udaf(new BloomIndex.BloomAgg(items))
    val bitmapUdaf = udaf(new BitmapIndex.BitmapAgg)
    val bsiUdaf = udaf(new BsiIndex.BsiAgg)
    val rangeUdaf = udaf(new RangeIndex.RangeAgg)
    // order-preserving canonical encoding per declared type (build
    // side of RangeIndex.canonical; UDFs are fine here — this is the
    // once-per-commit index build, not a query path)
    val canonLongUdf = udf((v: java.lang.Long) =>
      if (v == null) null else RangeIndex.canonLong(v.longValue()))
    val canonDoubleUdf = udf((v: java.lang.Double) =>
      if (v == null) null else RangeIndex.canonIeee(v.doubleValue()))
    // decimals travel as their exact string rendering; the declared
    // scale rides along as a literal
    val canonDecimalUdf = udf((s: String, sc: Int) =>
      if (s == null) null
      else RangeIndex.canonBigDecimal(new java.math.BigDecimal(s), sc).orNull)
    def rangeCanon(c: String): Column =
      sparkTypeOf(sch.fields.find(_.name == c).get.dataType) match {
        case StringType => col(c)
        case ByteType | ShortType | IntegerType | LongType =>
          canonLongUdf(col(c).cast("long"))
        case DateType => canonLongUdf(unix_date(col(c)).cast("long"))
        case TimestampType => canonLongUdf(unix_micros(col(c)))
        case FloatType | DoubleType => canonDoubleUdf(col(c).cast("double"))
        case d: DecimalType =>
          canonDecimalUdf(col(c).cast("string"), lit(d.scale))
        case other => throw new IllegalStateException(s"unsupported $other")
      }
    val paths = indexable.map(e => s"$path/${e.file.fileName}")
    val aggs =
      bloomCols.map(c => bloomUdaf(col(c).cast("string")).as(s"x_$c")) ++
        bitmapCols.map(c =>
          bitmapUdaf(col(c).cast("string"), col("__ri")).as(s"x_$c")) ++
        bsiCols.map(c => bsiUdaf(col(c).cast("long"), col("__ri")).as(s"x_$c")) ++
        rangeCols.map(c => rangeUdaf(rangeCanon(c), col("__ri")).as(s"x_$c"))
    val kinds = bloomCols.map(_ -> "bloom") ++ bitmapCols.map(_ -> "bitmap") ++
      bsiCols.map(_ -> "bsi") ++ rangeCols.map(_ -> "range")
    val io = sm.io
    val tableRoot = path
    import spark.implicits._
    val written: Array[(String, String, String)] = spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("__f") +:
        col("_metadata.row_index").as("__ri") +:
        (bloomCols ++ bitmapCols ++ bsiCols ++ rangeCols)
          .distinct.map(col).toIndexedSeq: _*)
      .groupBy("__f")
      .agg(aggs.head, aggs.tail: _*)
      .flatMap { r =>
        val f = r.getString(0)
        kinds.zipWithIndex.flatMap { case ((c, kind), i) =>
          val bytes = r.getAs[Array[Byte]](i + 1)
          // empty payload = aborted (cardinality overflow) — no sidecar
          if (bytes == null || bytes.isEmpty) None
          else {
            val rel = s"index/${java.util.UUID.randomUUID()}.$c.$kind"
            io.writeBytes(s"$tableRoot/$rel", bytes)
            Some((f, c, rel))
          }
        }
      }
      .collect()
    val byName: Map[String, Map[String, String]] =
      written.groupBy(w => basename(w._1)).map { case (f, ws) =>
        f -> ws.map(w => w._2 -> w._3).toMap
      }
    added.map { e =>
      byName.get(basename(e.file.fileName)) match {
        case None => e
        case Some(sidecars) =>
          e.copy(file = e.file.copy(indexFiles = Some(sidecars)))
      }
    }
  }

  /** lazily loaded + cached index sidecars, keyed by sidecar path */
  private val sidecarCaches = new PruneEval.SidecarCaches

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      graft.core.FsUtil.walkAll(p).reverse.foreach(Files.deleteIfExists(_))
    }

  /** The sequence number above every row live in `snap`. */
  private def nextSeq(snap: Option[Snapshot]): Long =
    snap.map(s => sm.liveEntries(s).map(_.file.maxSeq).foldLeft(-1L)(math.max) + 1)
      .getOrElse(0L)

  // ================= read =================

  /** Fallback-branch planning (reference: `scan.fallback-branch` /
    * FallbackReadFileStoreTable — the dual-write migration aid): when
    * set on a PARTITIONED table, partitions absent from the current
    * branch are served from the fallback branch's head. Current-branch
    * partitions always win; fallback entries whose schema version the
    * current branch cannot resolve are skipped (never a read error).
    * Data files are shared across branches, so the extra entries read
    * through the same table path. */
  private def withFallbackEntries(
      sch: TableSchema, snap: Option[Snapshot], entries: Seq[ManifestEntry],
      filter: Option[Column] = None): Seq[ManifestEntry] = {
    val fb = sch.options.get("scan.fallback-branch")
      .filter(_ => sch.partitionKeys.nonEmpty)
      .filter(branches.contains)
    fb match {
      case None => entries
      case Some(b) =>
        val bt = branchTable(b)
        // "absent on the current branch" is judged against the UNPRUNED
        // live entry set: a partition whose files were all stats-pruned
        // by the caller's filter still EXISTS on the current branch and
        // must not be served (stale) from the fallback branch.
        val mainParts = snap.toSeq.flatMap(sm.liveEntries).map(_.partition).toSet
        val branchSnap = bt.sm.latestSnapshot()
        val branchLive = branchSnap.map { s =>
          // the caller's filter prunes the fallback side too — same
          // partition/stats skipping the current branch already got
          filter.map(f => bt.pruneEntries(s, f)).getOrElse(bt.sm.liveEntries(s))
        }.getOrElse(Seq.empty)
        val extra = branchLive
          .filter(e => !mainParts.contains(e.partition))
          .filter(e => scala.util.Try(sm.schema(e.file.schemaId)).isSuccess)
        entries ++ extra
    }
  }

  /** Chain composition applies only on the MAIN table handle: branch
    * handles must serve their own data (the snapshot/delta branches ARE
    * the chain's inputs), and SQL reads route here via [[scan]]. */
  private[graft] def isChainMain(sch: TableSchema): Boolean =
    sm.branch.isEmpty &&
      sch.options.get("chain-table.enabled").contains("true")

  /** Latest-snapshot merged read. */
  def read: DataFrame = readAt(schema, sm.latestSnapshot())

  /** [[read]] of the current state `snap` (None: no snapshot yet, where
    * a fallback branch may still serve data). */
  private[graft] def readAt(sch: TableSchema, snap: Option[Snapshot]): DataFrame =
    if (isChainMain(sch)) chainReadPlanned(sch, None)
    else if (snap.isEmpty && !sch.options.contains("scan.fallback-branch")) emptyDf(sch)
    else mergedFromEntries(
      withFallbackEntries(sch, snap, snap.toSeq.flatMap(sm.liveEntries)), sch, snap)

  /** Chain-table batch read (reference: ChainGroupReadTable.java:63 +
    * ChainTableUtils — the lambda-architecture composition of a
    * SNAPSHOT branch holding periodic full-state partitions and a
    * DELTA branch holding continuous increments):
    *
    *  - a partition present on the snapshot branch serves as-is;
    *  - a delta-branch partition `p` absent there RECONSTRUCTS as the
    *    latest snapshot partition `p0 < p` (typed partition order, not
    *    directory strings) merged with every delta partition in
    *    `(p0, p]` — all rows re-labeled to `p`, exactly as the
    *    reference's ChainSplit serves base files under the requested
    *    partition. With no earlier snapshot, every delta `<= p` chains.
    *
    * The MAIN branch's own data is not consulted — the reference
    * composes the two branches directly. Merge ordering is the table's
    * own (sequence.field when set — recommended: cross-branch
    * `_graft_seq` counters are only comparable when the snapshot job
    * preserves them).
    *
    * Scale shape — O(1) in delta-only partitions: each branch is read
    * ONCE, rows replicate to their chain groups through a broadcast
    * join against a driver-built (source partition → target partition)
    * mapping (tiny: one row per chain edge), partition columns relabel
    * to the target, and a SINGLE MergeEngine.merge resolves every
    * group in one shuffle — the groups are disjoint by the partition
    * columns inside the primary key, so one groupBy(pk) computes
    * exactly what per-group merges would. A chain with hundreds of
    * un-snapshotted partitions (a stalled snapshot job) stays two scan
    * legs + one exchange instead of compiling a union of N merge
    * subtrees. Undecodable (debris/null) partitions keep their own
    * self-serving legs — rare by construction, and their rows join the
    * same single merge. */
  def chainRead: DataFrame = chainReadPlanned(schema, None)

  /** The conjuncts of `cond` that reference ONLY partition columns,
    * re-parsed from their SQL form so they resolve against any frame
    * carrying the partition columns. None when no conjunct qualifies
    * (or a conjunct's SQL round-trip fails — fail open, never prune
    * on a guess). */
  private def partitionConjuncts(sch: TableSchema, cond: Column): Option[Column] = {
    val partCols = sch.partitionKeys.toSet
    if (partCols.isEmpty) return None
    val analyzed = emptyDf(sch).filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(return None)
    val picked = splitConjuncts(analyzed).filter { e =>
      val refs = e.references.map(_.name).toSet
      refs.nonEmpty && refs.subsetOf(partCols)
    }
    if (picked.isEmpty) return None
    scala.util.Try(picked.map(e => expr(e.sql)).reduce(_ && _)).toOption
  }

  /** Chain read restricted to the targets matching `partFilter` —
    * partition pruning must happen HERE, at edge-building time, not on
    * the composed output: the relabeling join hides the source
    * partition columns from Catalyst, so a post-compose filter would
    * still scan every branch file. One day out of a thousand then
    * opens that day's chain (base + span) only. */
  private def chainReadPlanned(sch: TableSchema, partFilter: Option[Column]): DataFrame = {
    require(sch.primaryKeys.nonEmpty, "chain tables are primary-key tables")
    require(sch.partitionKeys.nonEmpty, "chain tables are partitioned")
    // the reference merges per (partition, bucket) split; this merge is
    // global, so the partition columns must be part of the key — with
    // a disjoint key, rows of DIFFERENT partitions would collapse
    require(sch.partitionKeys.forall(sch.primaryKeys.contains),
      "chain tables need partition keys contained in the primary key")
    val sb = sch.options.getOrElse("scan.fallback-snapshot-branch",
      throw new IllegalArgumentException(
        "chain-table.enabled needs scan.fallback-snapshot-branch"))
    val dbr = sch.options.getOrElse("scan.fallback-delta-branch",
      throw new IllegalArgumentException(
        "chain-table.enabled needs scan.fallback-delta-branch"))
    require(branches.contains(sb), s"no branch $sb")
    require(branches.contains(dbr), s"no branch $dbr")
    val snapT = branchTable(sb)
    val deltaT = branchTable(dbr)
    val pk = sch.partitionKeys
    val types = pk.map(k => sparkTypeOf(sch.fields.find(_.name == k).get.dataType))
    val ords = types.map(t =>
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(t))
    val decodeCache =
      scala.collection.mutable.HashMap.empty[Map[String, String], Option[Seq[Any]]]
    def decode(p: Map[String, String]): Option[Seq[Any]] =
      decodeCache.getOrElseUpdate(p, {
        val vs = pk.zip(types).map { case (k, dt) =>
          try graft.sources.GraftScanUtil.partitionValue(p.getOrElse(k, null), dt)
          catch { case _: Exception => null }
        }
        if (vs.contains(null)) None else Some(vs)
      })
    implicit val cmp: Ordering[Seq[Any]] = (a: Seq[Any], b: Seq[Any]) =>
      a.lazyZip(b).lazyZip(ords).map { (x, y, o) =>
        o.asInstanceOf[Ordering[Any]].compare(x, y)
      }.find(_ != 0).getOrElse(0)
    val snapEntries = snapT.sm.latestSnapshot()
      .map(snapT.sm.liveEntries).getOrElse(Seq.empty)
    val deltaEntries = deltaT.sm.latestSnapshot()
      .map(deltaT.sm.liveEntries).getOrElse(Seq.empty)
    val complete = snapEntries.map(_.partition).toSet
    val snapSorted = complete.toSeq.flatMap(p => decode(p).map(p -> _)).sortBy(_._2)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def displayRaw(p: Map[String, String], k: String): Option[String] =
      p.get(k).map(ExternalCatalogUtils.unescapePathName)
        .filterNot(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
    def relabel(df: DataFrame, p: Map[String, String]): DataFrame =
      pk.zip(types).foldLeft(df) { case (d, (k, dt)) =>
        d.withColumn(k, displayRaw(p, k)
          .map(lit(_).cast(dt)).getOrElse(lit(null).cast(dt)))
      }
    // chain edges per branch: (source partition, target partition).
    // snapshot side: every snapshot partition serves AS-IS (b → b) and
    // additionally as the base of each delta-only group it anchors
    // (b → p); delta side: d → p for every delta in (base(p), p].
    val snapPairs = scala.collection.mutable.ArrayBuffer.empty[
      (Map[String, String], Map[String, String])]
    val deltaPairs = scala.collection.mutable.ArrayBuffer.empty[
      (Map[String, String], Map[String, String])]
    val deltaParts = deltaEntries.map(_.partition).distinct.filterNot(complete)
    val (decTargets0, debrisTargets0) = deltaParts.partition(p => decode(p).isDefined)
    // partition pruning over TARGETS: only matching chain groups build
    // edges, so their bases/spans are the only sources scanned
    val keep: Map[String, String] => Boolean = partFilter match {
      case None => _ => true
      case Some(c) =>
        val partFields = sch.toStruct.fields.filter(f => pk.contains(f.name))
        val matching = partitionMapsMatching(sch,
          (complete.toSeq ++ deltaParts).distinct, c)
        p => matching.contains(
          partFields.map(f => f.name -> p.getOrElse(f.name, null)).toMap)
    }
    complete.toSeq.filter(keep).foreach(b => snapPairs += ((b, b)))
    val decTargets = decTargets0.filter(keep)
    val debrisTargets = debrisTargets0.filter(keep)
    // hoisted + sorted once: the per-target span (base(p), p] is then a
    // binary-search slice, so edge building is O(E + (D+T)·log D)
    // rather than the old O(T × deltaEntries) rescan per target
    val deltaSorted: IndexedSeq[(Map[String, String], Seq[Any])] =
      deltaEntries.map(_.partition).distinct
        .flatMap(d => decode(d).map(v => (d, v))).toIndexedSeq
        .sortBy(_._2)
    // first index whose version is STRICTLY greater than v
    def upperBound(v: Seq[Any]): Int = {
      var lo = 0; var hi = deltaSorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp.compare(deltaSorted(mid)._2, v) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    val snapSortedV = snapSorted.toIndexedSeq
    // last snapshot partition whose version is STRICTLY below v
    def baseBefore(v: Seq[Any]): Option[Map[String, String]] = {
      var lo = 0; var hi = snapSortedV.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp.compare(snapSortedV(mid)._2, v) < 0) lo = mid + 1 else hi = mid
      }
      if (lo == 0) None else Some(snapSortedV(lo - 1)._1)
    }
    decTargets.foreach { p =>
      val pv = decode(p).get
      val base = baseBefore(pv)
      base.foreach(b => snapPairs += ((b, p)))
      val baseV = base.flatMap(decode)
      val from = baseV.map(upperBound).getOrElse(0)
      val to = upperBound(pv)
      var i = from
      while (i < to) { deltaPairs += ((deltaSorted(i)._1, p)); i += 1 }
    }
    // broadcast-join replication: one scan per branch; each row fans
    // out to its targets and its partition columns take the target's
    // (typed) values — the same lit-cast the per-group relabel used
    val srcCols = pk.map(k => s"__chain_src_$k")
    val tgtCols = pk.map(k => s"__chain_tgt_$k")
    def applyEdges(
        raw: => DataFrame, // by-name: never build a scan for zero edges
        pairs: Seq[(Map[String, String], Map[String, String])]): Option[DataFrame] = {
      if (pairs.isEmpty) return None
      val r = raw
      val mapSchema = StructType(
        (srcCols ++ tgtCols).map(StructField(_, StringType, nullable = true)))
      val rows = pairs.map { case (s, t) =>
        org.apache.spark.sql.Row.fromSeq(
          pk.map(k => displayRaw(s, k).orNull) ++
            pk.map(k => displayRaw(t, k).orNull))
      }
      val m = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), mapSchema)
      val cond = pk.zip(types).zipWithIndex.map { case ((k, dt), i) =>
        r(k) <=> col(srcCols(i)).cast(dt)
      }.reduce(_ && _)
      val joined = r.join(broadcast(m), cond, "inner")
      val relabeled = pk.zip(types).zipWithIndex.foldLeft(joined) {
        case (d, ((k, dt), i)) => d.withColumn(k, col(tgtCols(i)).cast(dt))
      }
      Some(relabeled.drop((srcCols ++ tgtCols): _*))
    }
    val snapSrcParts = snapPairs.map(_._1).toSet
    val deltaSrcParts = deltaPairs.map(_._1).toSet
    // the branches share this table's schema directory
    val snapLeg = applyEdges(
      snapT.readRaw(snapT.visibleEntries(
        snapEntries.filter(e => snapSrcParts(e.partition)), sch), sch),
      snapPairs.toSeq)
    val deltaLeg = applyEdges(
      deltaT.readRaw(deltaT.visibleEntries(
        deltaEntries.filter(e => deltaSrcParts(e.partition)), sch), sch),
      deltaPairs.toSeq)
    // undecodable (null/debris) partitions serve themselves only —
    // they cannot join a typed mapping, so they keep dedicated legs
    // feeding the same single merge
    val debrisLegs = debrisTargets.map { p =>
      relabel(deltaT.readRaw(deltaT.visibleEntries(
        deltaEntries.filter(_.partition == p), sch), sch), p)
    }
    (snapLeg.toSeq ++ deltaLeg.toSeq ++ debrisLegs)
      .reduceOption(_ unionByName _)
      .map(MergeEngine.merge(_, sch))
      .getOrElse(emptyDf(sch))
  }

  /** Blob columns WITHOUT payload fetch: the physical descriptor
    * structs (inline, file, length, hash) — metadata-only queries over
    * media tables never touch a payload byte. */
  def readBlobDescriptors: DataFrame = {
    val sch = schema
    val cols = graft.sources.BlobStorage.blobColumns(sch.options)
    require(cols.nonEmpty, "table has no blob.columns")
    val entries = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
    val phys = graft.sources.BlobStorage.physicalSchema(sch.toStruct, cols)
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], phys)
    spark.read.option("basePath", sm.dataDir).schema(
      if (sch.primaryKeys.nonEmpty)
        StructType(phys.fields
          :+ StructField(SeqCol, LongType, nullable = false)
          :+ StructField(KindCol, ByteType, nullable = false)
          :+ StructField("__bucket", IntegerType, nullable = true))
      else phys)
      .parquet(entries.map(e => s"$path/${e.file.fileName}"): _*)
      .select(phys.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Pruned scan: partition + file-stats skipping happen driver-side
    * against the manifest before any file is opened; the filter is also
    * re-applied in the plan so parquet row-group pushdown still kicks
    * in. */
  def scan(filter: Column): DataFrame = scan(filter, schema, sm.latestSnapshot())

  /** [[scan]] of the current state `snap` under the schema version
    * `sch` the caller resolved. */
  private[graft] def scan(
      filter: Column, sch: TableSchema, snap: Option[Snapshot]): DataFrame = {
    // SQL reads of a chain table (the PK V1 path routes through scan)
    // must see the composed chain, not the (typically empty) main
    // branch; partition pruning applies post-composition via Catalyst
    if (isChainMain(sch))
      return chainReadPlanned(sch, partitionConjuncts(sch, filter)).filter(filter)
    mergedFromEntries(planEntries(filter, sch, snap), sch, snap).filter(filter)
  }

  def readSnapshot(id: Option[Long]): DataFrame = readPinned(id.map(sm.snapshot))

  /** The merged state of `snap` (time travel), under its own column
    * patches. */
  private def readPinned(snap: Option[Snapshot]): DataFrame = {
    val sch = schema
    snap.fold(emptyDf(sch))(s => mergedFromEntries(sm.liveEntries(s), sch, snap))
  }

  /** Pruned manifest entries of the latest snapshot, as [[scan]] plans
    * them. */
  private[graft] def planEntries(filter: Column): Seq[ManifestEntry] =
    planEntries(filter, schema, sm.latestSnapshot())

  /** Pruned manifest entries of `snap` for an external planner (the
    * DSv2 scan): same partition/stats/bloom skipping as [[scan]].
    * Fallback-branch partitions only augment a current-state plan;
    * time travel (`pinned`) stays exactly the branch's own history. */
  private[graft] def planEntries(
      filter: Column, sch: TableSchema, snap: Option[Snapshot],
      pinned: Boolean = false): Seq[ManifestEntry] = {
    val planned = snap.map(pruneEntries(_, filter, sch)).getOrElse(Seq.empty)
    bucketNarrow(sch,
      if (pinned) planned else withFallbackEntries(sch, snap, planned, Some(filter)),
      filter)
  }

  /** Drop files of other buckets when the filter pins every bucket key
    * by equality — a point query on a fixed-bucket table (PK or
    * bucketed-append) opens one bucket's files instead of the table.
    * Staged/unassigned buckets (< 0) always survive: their rows are
    * not hash-addressed yet. Files written under a DIFFERENT bucket
    * layout (bucket count or bucket-key changed since — a rescale
    * whose compact hasn't landed, a fallback branch forked before a
    * rescale) also survive: the current hash says nothing about where
    * THEIR rows live, and pruning them would lose rows, not time. */
  private def bucketNarrow(
      sch: TableSchema, entries: Seq[ManifestEntry], filter: Column): Seq[ManifestEntry] =
    pkEqualityBucket(filter, sch).fold(entries)(b => entries.filter(mayHoldBucket(sch, Set(b))))

  /** Whether `e` can hold rows of the buckets in `bs`: files of those
    * buckets, staged/unassigned buckets (< 0), and files written under
    * a different bucket layout (see [[bucketLayoutDiffers]]). */
  private def mayHoldBucket(sch: TableSchema, bs: Int => Boolean)(e: ManifestEntry): Boolean =
    bs(e.bucket) || e.bucket < 0 || bucketLayoutDiffers(sch, e)

  /** True when `e` was written under a DIFFERENT bucket layout than
    * the current schema's (bucket count or bucket-key changed, e.g. a
    * rescale whose compact hasn't landed, or a fallback-branch file) —
    * the current hash says nothing about where its rows live, so every
    * bucket-narrowing consumer must keep it. Unresolvable write
    * schemas count as different (fail open). */
  private def bucketLayoutDiffers(sch: TableSchema, e: ManifestEntry): Boolean =
    e.file.schemaId != sch.id && scala.util.Try {
      val ws = sm.schema(e.file.schemaId)
      ws.effectiveBuckets != sch.effectiveBuckets ||
        ws.bucketKeys != sch.bucketKeys
    }.getOrElse(true)

  // ================= scan-level pushdowns =================

  /** COUNT(*) answered purely from manifest statistics — zero data
    * files opened (reference: scan-level aggregate pushdown,
    * paimon-spark .../aggregate/AggregatePushDownUtils.scala:36-106,
    * guarded by mergedRowCountAvailable for PK tables). PK tables
    * without a guaranteed merged count fall back to a real scan. */
  def countRows(): Long = {
    val sch = schema
    val snap = sm.latestSnapshot()
    countRowsFast(sch, snap).getOrElse(readAt(sch, snap).count())
  }

  /** countRows when answerable from manifests alone — zero jobs. None
    * → an actual merge scan is required (non-compacted PK table); the
    * SQL pushdown must then decline rather than run a full scan at
    * planning time. */
  def countRowsFast(): Option[Long] = countRowsFast(schema, sm.latestSnapshot())

  private[graft] def countRowsFast(sch: TableSchema, snap: Option[Snapshot]): Option[Long] = {
    val entries = visibleEntries(snap.toSeq.flatMap(sm.liveEntries), sch)
    if (sch.primaryKeys.isEmpty)
      Some(entries.map(e => e.file.rowCount - e.file.dvCardinality.getOrElse(0L)).sum)
    else if (entries.forall(_.file.level > 0) &&
      entries.groupBy(e => (e.partition, e.bucket)).forall(_._2.size <= 1))
      // fully compacted: one file per bucket, already merged, no deletes
      Some(entries.map(_.file.rowCount).sum)
    else None
  }

  /** MIN/MAX of a column from manifest stats when every live file has
    * usable stats; None → caller must scan (reference: MinEvaluator /
    * MaxEvaluator). Append tables only — PK merge could drop rows. */
  def statsMinMax(column: String): Option[(String, String)] =
    statsMinMax(column, schema, sm.latestSnapshot())

  private[graft] def statsMinMax(
      column: String, sch: TableSchema, snap: Option[Snapshot]): Option[(String, String)] = {
    if (sch.primaryKeys.nonEmpty) return None
    val entries = snap.toSeq.flatMap(sm.liveEntries)
    if (entries.isEmpty) return None
    // a deleted position could hold the extreme value; and a truncated
    // stat (metadata.stats-mode) is a BOUND, not a value — both make
    // the manifests unusable as exact answers
    if (entries.exists(_.file.dvFile.isDefined)) return None
    // the mode that truncated a file's stats is the WRITE schema's, not
    // today's: flipping truncate(N) back to full without a manifest
    // rewrite must still decline — a truncated max (e.g. an incremented
    // 8-char prefix) is a bound, never a value. Field identity follows
    // ids across renames; missing write schemas / unmatched fields
    // decline conservatively.
    val curField = sch.fields.find(_.name == column).getOrElse(return None)
    // keyed by (write schema, level): per-level stats modes make the
    // same schema full at one level and truncated at another
    val modeCache =
      scala.collection.mutable.HashMap.empty[(Long, Int), Option[String]]
    val writtenNonFull = entries.exists { e =>
      modeCache.getOrElseUpdate((e.file.schemaId, e.file.level), {
        scala.util.Try {
          val ws = sm.schema(e.file.schemaId)
          ws.fields.find(_.id == curField.id).map(wf =>
            graft.core.StatsModes.columnModes(ws, e.file.level)
              .getOrElse(wf.name, "full"))
        }.toOption.flatten
      }).forall(_ != "full")
    }
    if (writtenNonFull) return None
    val stats = entries.flatMap(fileMetaInCurrentNames(_, sch).stats.get(column))
    if (stats.size != entries.size || stats.exists(_.min.isEmpty)) return None
    val field = sch.toStruct.fields.find(_.name == column).getOrElse(return None)
    def cmp(a: String, b: String): Int = field.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => java.lang.Long.compare(a.toLong, b.toLong)
      case FloatType | DoubleType => java.lang.Double.compare(a.toDouble, b.toDouble)
      // UTF8 binary order = Spark's string MIN/MAX semantics (Java
      // compareTo disagrees on supplementary characters)
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      case _ => a.compareTo(b)
    }
    Some((stats.map(_.min.get).minBy(identity[String])(Ordering.fromLessThan(cmp(_, _) < 0)),
      stats.map(_.max.get).maxBy(identity[String])(Ordering.fromLessThan(cmp(_, _) < 0))))
  }

  /** LIMIT pushdown: open only enough files to cover `n` rows
    * (reference: DataTableBatchScan.applyPushDownLimit — counts
    * rawConvertible splits until the limit is reached). Append-only. */
  def readLimit(n: Long): DataFrame = {
    val sch = schema
    val snap = sm.latestSnapshot()
    if (sch.primaryKeys.nonEmpty) return readAt(sch, snap).limit(n.toInt)
    val entries = snap.toSeq.flatMap(sm.liveEntries)
    var acc = 0L
    val taken = entries.takeWhile { e =>
      val need = acc < n
      acc += e.file.rowCount - e.file.dvCardinality.getOrElse(0L)
      need
    }
    mergedFromEntries(taken, sch, snap).limit(n.toInt)
  }

  /** Entries that can contribute to `ORDER BY column [DESC] LIMIT k`:
    * only files whose [min,max] range reaches the k-th best file
    * boundary survive (reference: TopNDataSplitEvaluator.java:42-71).
    * Conservative bail-outs (return everything): PK tables (merge can
    * change rows), missing stats, nulls present (null ordering could
    * put them in the top k), non-numeric-orderable types, deletion
    * vectors (rowCount overcounts live rows, the boundary could cut a
    * contributing file). */
  def topNEntries(
      entries: Seq[ManifestEntry], column: String, k: Int,
      descending: Boolean): Seq[ManifestEntry] =
    topNEntries(entries, column, k, descending, schema)

  private[graft] def topNEntries(
      entries: Seq[ManifestEntry], column: String, k: Int,
      descending: Boolean, sch: TableSchema): Seq[ManifestEntry] = {
    if (sch.primaryKeys.nonEmpty || entries.isEmpty) return entries
    if (entries.exists(_.file.dvFile.isDefined)) return entries
    val field = sch.toStruct.fields.find(_.name == column)
    val ranges = entries.map(e =>
      e -> fileMetaInCurrentNames(e, sch).stats.get(column))
    if (field.isEmpty || ranges.exists(r =>
      // != 0: a NEGATIVE count means nulls unknown — only a proven
      // zero may treat the column as null-free
      r._2.isEmpty || r._2.get.min.isEmpty || r._2.get.nullCount != 0)) entries
    else {
      // stat-string comparator per declared type; strings compare in
      // UTF8 binary order (Spark's own string ordering — Java
      // compareTo would disagree on supplementary characters and could
      // wrong-prune). Parquet's conservative stat truncation (min
      // rounded down, max up) only widens ranges, so pruning on these
      // bounds stays over-inclusive.
      val cmpFn: (String, String) => Int = field.get.dataType match {
        case FloatType | DoubleType =>
          (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType =>
          (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
        case StringType =>
          (a, b) => org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))
        case _ => null
      }
      if (cmpFn == null) entries
      else {
        val ord: Ordering[String] = (a, b) => cmpFn(a, b)
        val usable = ranges.map { case (e, st) =>
          (e, st.get.min.get, st.get.max.get, e.file.rowCount)
        }
        // worst boundary of the best files covering k rows
        val ordered = if (descending) usable.sortBy(_._3)(ord.reverse)
          else usable.sortBy(_._2)(ord)
        var acc = 0L
        val threshold = ordered.find { u => acc += u._4; acc >= k }
        threshold match {
          case None => entries
          case Some(t) =>
            val bound = if (descending) t._2 else t._3
            usable.filter(u =>
              if (descending) cmpFn(u._3, bound) >= 0
              else cmpFn(u._2, bound) <= 0).map(_._1)
        }
      }
    }
  }

  /** Top-N pushdown: `ORDER BY column [DESC] LIMIT k` keeps only files
    * whose [min,max] range can contribute to the global top-k (see
    * [[topNEntries]]); final ordering still happens in the plan. */
  def readTopN(column: String, k: Int, descending: Boolean = true): DataFrame = {
    val sch = schema
    val snap = sm.latestSnapshot()
    val entries = snap.map(sm.liveEntries).getOrElse(Seq.empty)
    // a column patch can move any value outside the stored stats range,
    // so stats-based candidate selection must not drop files — the
    // overlay + final sort stay correct on the full entry set
    val sorted =
      if (colPatchesOf(sch, snap).contains(column)) entries
      else topNEntries(entries, column, k, descending, sch)
    val sortCol = if (descending) col(column).desc else col(column).asc
    mergedFromEntries(sorted, sch, snap).orderBy(sortCol).limit(k)
  }

  /** Primary-key point lookup with bucket pruning: only the one
    * hash-bucket (and stats-matching files in it) is read (reference:
    * LocalTableQuery.java:64 — the KV-service semantics, served by a
    * pruned scan). */
  def lookup(keyValues: Map[String, Any]): DataFrame =
    lookup(keyValues, schema, sm.latestSnapshot())

  private def lookup(
      keyValues: Map[String, Any], sch: TableSchema, snap0: Option[Snapshot]): DataFrame = {
    require(sch.primaryKeys.nonEmpty, "lookup requires a primary-key table")
    require(sch.primaryKeys.toSet == keyValues.keySet, "must bind every primary key")
    // before any planning, so a key value of the wrong type fails here
    val bucket = directPkBucket(sch, keyValues)
    val filterCond = sch.primaryKeys
      .map(k => col(k) === lit(keyValues(k))).reduce(_ && _)
    val snap = snap0.getOrElse(return emptyDf(sch))
    val pruned = pruneEntries(snap, filterCond, sch)
    // fixed buckets: the key's bucket is hash-derived, prune to it;
    // dynamic buckets: membership lives in the persisted index (a key
    // absent there was never written → empty result, zero data files)
    val entries =
      if (sch.isDynamicBucket) dynIndexDfFor(sch, snap, keyValues) match {
        case Some(idx) =>
          idx.filter(filterCond).select("__bucket").collect().headOption match {
            case Some(r) => pruned.filter(_.bucket == r.getInt(0))
            case None => Seq.empty
          }
        case None => pruned // pre-index table: stats pruning only
      }
      else bucket.fold(pruned)(b => pruned.filter(mayHoldBucket(sch, Set(b))))
    val raw = readRaw(entries, sch)
    MergeEngine.merge(raw, sch).filter(filterCond)
  }

  /** cached reader factories per schema version (building one costs a
    * broadcast; lookups reuse it): full rows, and the probe projection
    * of key, sequence and meta columns, both opened on the driver; and
    * full rows for the lookup changelog's tasks per decode batch size,
    * never opened on the driver (a factory that has read a file holds
    * its reader's state and no longer serializes) */
  private val localFactoryCache = scala.collection.concurrent.TrieMap
    .empty[Long, org.apache.spark.sql.connector.read.PartitionReaderFactory]
  private val localProbeFactoryCache = scala.collection.concurrent.TrieMap
    .empty[Long, org.apache.spark.sql.connector.read.PartitionReaderFactory]
  private val taskFactoryCache = scala.collection.concurrent.TrieMap
    .empty[(Long, Int), org.apache.spark.sql.connector.read.PartitionReaderFactory]
  /** [[BucketRead]] per schema version: building one parses every
    * column type, which a point lookup must not pay per call */
  private val bucketReads = scala.collection.concurrent.TrieMap.empty[Long, BucketRead]
  private def bucketRead(sch: TableSchema): BucketRead =
    bucketReads.getOrElseUpdate(sch.id, new BucketRead(sch))

  /** Per-file decoded key→best-row maps for the local lookup fast
    * path — the reference's lookup CACHE (FileStoreLookupTable /
    * CoreOptions `lookup.cache`), re-expressed per immutable data
    * file: the first probe of a file decodes it once into a hash map,
    * every later lookup touching the file costs a hash get instead of
    * a file scan (~58 ms → µs for hot buckets under the KV service).
    * Files never change after commit, so entries never invalidate;
    * bounds: at most `lookup.cache-max-files` maps (LRU), and only
    * files with ≤ `lookup.cache-max-file-rows` rows are cached. A
    * bigger file is probed on its key and sequence columns instead and
    * decodes in full only the one row that wins (see [[localLookup]]). */
  @volatile private var lookupCacheMaxFiles: Int = 32
  private[graft] val lookupCacheHits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val lookupCacheMisses = new java.util.concurrent.atomic.AtomicLong
  /** Key-column scans of files over the cache limit, and full-row
    * fetches of a winning row from such a file. */
  private[graft] val lookupProbeScans = new java.util.concurrent.atomic.AtomicLong
  private[graft] val lookupRowFetches = new java.util.concurrent.atomic.AtomicLong
  /** Commits whose lookup changelog was built inside the write's
    * per-bucket tasks (the rest ran the distributed state diff). */
  private[graft] val bucketLocalChangelogs = new java.util.concurrent.atomic.AtomicLong
  private val lookupMapCache = new java.util.LinkedHashMap[
      String, Map[Seq[Any], (org.apache.spark.sql.catalyst.InternalRow, Long, Any, Byte)]](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Map[Seq[Any],
          (org.apache.spark.sql.catalyst.InternalRow, Long, Any, Byte)]]): Boolean =
      size > lookupCacheMaxFiles
  }

  /** The key's fixed-bucket id computed on the driver by
    * [[Buckets.bucketOf]], with no Spark job and no Catalyst analysis
    * (the analysis in [[pkEqualityBucket]] / [[pruneEntries]] costs
    * ~10-50 ms, which dominated KV-service lookup latency). None for
    * dynamic buckets or null keys; throws on a key value that is not
    * of its column's type. */
  private def directPkBucket(
      sch: TableSchema, keyValues: Map[String, Any]): Option[Int] =
    if (sch.isDynamicBucket) None
    else Buckets.bucketOf(sch, sch.bucketKeys, keyValues, sch.effectiveBuckets)

  /** Can one bucket's files, read on their own, give a key's merged
    * version? The gate of the bucket-local readers, the point lookup
    * ([[localLookup]]), merge-on-read and the bucket writer's lookup
    * changelog ([[writeBuckets]]):
    * a deduplicate primary-key table in fixed buckets (not dynamic,
    * postpone or cross-partition) without blob columns, deletion
    * vectors or BINARY key columns (their values match by content,
    * which the readers' hashed keys do not), and `entries` all parquet
    * files of `sch` (so of its bucket layout too). Anything else takes
    * the distributed path. */
  private def bucketLocal(
      sch: TableSchema, entries: Seq[ManifestEntry] = Seq.empty): Boolean =
    sch.primaryKeys.nonEmpty && !sch.isDynamicBucket && !sch.isPostponeBucket &&
      !isCrossPartition(sch) && sch.mergeEngine == "deduplicate" &&
      graft.sources.BlobStorage.blobColumns(sch.options).isEmpty &&
      !sch.options.get(DeletionVectors.OptionEnabled).contains("true") &&
      !bucketRead(sch).struct.fields.exists(f =>
        f.dataType == BinaryType && sch.primaryKeys.contains(f.name)) &&
      entries.forall(e => e.file.schemaId == sch.id &&
        e.file.fileName.endsWith(".parquet") && e.file.dvFile.isEmpty)

  /** The fixed bucket a fully-bound primary key hashes to — the
    * routing basis for bucket-sharded serving (reference:
    * paimon-service spreads bucket ownership across service nodes).
    * None for dynamic-bucket tables (assignment lives in the index,
    * not the hash) and null key components. */
  def pkBucketFor(keyValues: Map[String, Any]): Option[Int] =
    directPkBucket(schema, keyValues)

  /** Driver-LOCAL point lookup: reads the key's bucket files on the
    * driver thread through the same vectorized reader — NO Spark job,
    * millisecond latency instead of a scheduled stage (reference:
    * LocalTableQuery.java:64 + paimon-service KV lookups; this is the
    * per-bucket local reader serving the lookup-join role).
    *
    * Each file of the bucket answers on its own: one within
    * `lookup.cache-max-file-rows` from its cached decoded map, a bigger
    * one (after a stats/index check) by a probe that reads only the
    * key, sequence and meta columns and records where the key's best
    * version sits. When the overall winner came from a probe, only that
    * row is decoded in full — fetched from its file by position and
    * re-checked against what the probe saw.
    *
    * Fast path: tables and files inside the [[bucketLocal]] gate;
    * anything else falls back to the distributed [[lookup]]. Merge
    * semantics mirror MergeEngine's (sequence.field, _graft_seq)
    * ordering ([[VersionOrder]]). */
  def localLookup(keyValues: Map[String, Any]): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{
      And, AttributeReference, EqualTo, Expression, Literal}
    // one schema for the whole call: a concurrent ALTER must not mix
    // versions between the guards, the pruning and the row layout
    val sch = schema
    val latest = sm.latestSnapshot()
    if (!bucketLocal(sch)) return lookup(keyValues, sch, latest).collect().toSeq
    require(sch.primaryKeys.toSet == keyValues.keySet, "must bind every primary key")
    val snap = latest.getOrElse(return Seq.empty)
    val bucket = directPkBucket(sch, keyValues)
    // old-layout files (mid-rescale) survive the narrowing so the
    // schema-mismatch fallback below can see them and route the
    // lookup through the distributed path
    val visible = visibleEntries(sm.liveEntries(snap), sch)
    val bucketEntries = bucket.fold(visible)(b => visible.filter(mayHoldBucket(sch, Set(b))))
    if (bucketEntries.isEmpty) return Seq.empty
    if (!bucketLocal(sch, bucketEntries)) return lookup(keyValues, sch, latest).collect().toSeq
    lookupCacheMaxFiles = sch.options.getOrElse("lookup.cache-max-files", "32").toInt
    val maxRows = sch.options.getOrElse("lookup.cache-max-file-rows", "65536").toLong
    val read = bucketRead(sch)
    val st = read.struct
    import read.{partSchema, readData, probeData}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val keyInternal = sch.primaryKeys.map { k =>
      Buckets.coerce(k, keyValues(k), st(k).dataType)
    }.toArray
    // files over the cache limit: a stats/index check on the key may
    // skip their probes. The key conjunction is built directly — a
    // Catalyst analysis of it costs ~10 ms and never prunes more.
    val big = bucketEntries.filter(_.file.rowCount > maxRows)
    val probed: Set[String] =
      if (big.isEmpty) Set.empty
      else {
        val keyCond = sch.primaryKeys.zip(keyInternal).collect {
          case (k, v) if v != null =>
            val dt = st(k).dataType
            EqualTo(AttributeReference(k, dt)(), Literal(v, dt)): Expression
        }.reduceOption(And)
        pruneAnalyzed(snap, sch, big, keyCond).map(_.file.fileName).toSet
      }
    val candidates = bucketEntries.filter(e =>
      e.file.rowCount <= maxRows || probed(e.file.fileName))
    if (candidates.isEmpty) return Seq.empty
    val full = read.readerLayout(readData)
    val factory = localFactoryCache.getOrElseUpdate(sch.id,
      graft.sources.GraftScanUtil.readerFactory(
        spark, readData, readData, partSchema, Array.empty))
    import read.order.betterThan
    def openReader(
        f: org.apache.spark.sql.connector.read.PartitionReaderFactory, e: ManifestEntry) =
      f.createReader(org.apache.spark.sql.execution.datasources.FilePartition(0,
        Array(graft.sources.GraftScanUtil.partitionedFile(path, e, partSchema))))
    def scanFile(f: org.apache.spark.sql.connector.read.PartitionReaderFactory,
        e: ManifestEntry)(onRow: InternalRow => Unit): Unit = {
      val reader = openReader(f, e)
      try { while (reader.next()) onRow(reader.get()) } finally reader.close()
    }
    // the best version so far: its decoded row when a cached map gave
    // it, else the probed file and row position it sits at
    var found = false
    var best: InternalRow = null
    var bestFile: ManifestEntry = null
    var bestPos = -1L
    var bestSeq = Long.MinValue
    var bestSf: Any = null
    var bestKind: Byte = 0
    def offer(row: InternalRow, e: ManifestEntry, pos: Long,
        s: Long, sf: Any, kind: Byte): Unit =
      if (betterThan(sf, s, bestSf, bestSeq, found)) {
        found = true; best = row; bestFile = e; bestPos = pos
        bestSeq = s; bestSf = sf; bestKind = kind
      }
    lazy val probe = read.readerLayout(probeData)
    lazy val probeFactory = localProbeFactoryCache.getOrElseUpdate(sch.id,
      graft.sources.GraftScanUtil.readerFactory(
        spark, readData, probeData, partSchema, Array.empty))
    val probeKey: Seq[Any] = keyInternal.toSeq
    candidates.foreach { e =>
      if (e.file.rowCount <= maxRows) {
        // decode the file ONCE into a key→best map (immutable files,
        // LRU-bounded), then answer by hash
        val mapKey = s"${sch.id}/${e.file.fileName}"
        val fileMap = this.synchronized(Option(lookupMapCache.get(mapKey))) match {
          case Some(m) => lookupCacheHits.incrementAndGet(); m
          case None =>
            lookupCacheMisses.incrementAndGet()
            val m = scala.collection.mutable.HashMap.empty[
              Seq[Any], (InternalRow, Long, Any, Byte)]
            scanFile(factory, e) { r0 =>
              // copy FIRST: vectorized rows alias batch memory
              val row = r0.copy()
              val k = full.keyOf(row)
              val s = row.getLong(full.seqOrd)
              val sf = full.sfOf(row)
              val keep = m.get(k) match {
                case Some((_, bs, bsf, _)) => betterThan(sf, s, bsf, bs, hasBest = true)
                case None => true
              }
              if (keep) m(k) = (row, s, sf, row.getByte(full.kindOrd))
            }
            val imm = m.toMap
            this.synchronized(lookupMapCache.put(mapKey, imm))
            imm
        }
        fileMap.get(probeKey).foreach { case (row, s, sf, kind) =>
          offer(row, e, -1L, s, sf, kind)
        }
      } else {
        lookupProbeScans.incrementAndGet()
        var pos = 0L
        scanFile(probeFactory, e) { r =>
          if (probe.matches(r, keyInternal)) {
            // copy: sequence-field values may alias batch memory
            val row = r.copy()
            offer(null, e, pos, row.getLong(probe.seqOrd), probe.sfOf(row),
              row.getByte(probe.kindOrd))
          }
          pos += 1
        }
      }
    }
    if (!found || bestKind == KindDelete || bestKind == KindUpdateBefore)
      return Seq.empty
    val winner =
      if (best != null) best
      else {
        // the probe and this reader see the same file with no filters,
        // so row positions agree; next() steps past rows without
        // converting them, and only the target row is copied out
        lookupRowFetches.incrementAndGet()
        val reader = openReader(factory, bestFile)
        val row = try {
          var i = -1L
          while (i < bestPos && reader.next()) i += 1
          if (i == bestPos) reader.get().copy() else null
        } finally reader.close()
        if (row == null || !full.matches(row, keyInternal) || row.getLong(full.seqOrd) != bestSeq ||
            full.sfOf(row) != bestSf || row.getByte(full.kindOrd) != bestKind)
          throw new IllegalStateException(
            s"point lookup: row $bestPos of ${bestFile.file.fileName} does not hold " +
              s"the version its key probe found (key ${probeKey.mkString(",")}, " +
              s"_graft_seq $bestSeq)")
        row
      }
    val conv = CatalystTypeConverters.createToScalaConverter(full.out)
    val out = conv(winner).asInstanceOf[org.apache.spark.sql.Row]
    val byName = full.out.fieldNames.zipWithIndex.toMap
    Seq(org.apache.spark.sql.Row.fromSeq(
      st.fieldNames.toSeq.map(n => out.get(byName(n)))))
  }

  /** Time travel: VERSION AS OF. */
  def versionAsOf(snapshotId: Long): DataFrame = readSnapshot(Some(snapshotId))

  /** Time travel: TIMESTAMP AS OF (latest snapshot committed <= ts). */
  def timestampAsOf(epochMillis: Long): DataFrame = {
    val id = sm.snapshotIdAtTime(epochMillis)
    readSnapshot(id)
  }

  /** Time travel: tag. Reads through the tag's own snapshot copy, so
    * it survives expiration of the original snapshot. */
  def readTag(name: String): DataFrame =
    // the TAG's own patch registry applies — overlaying today's
    // patches would break tag immutability
    readPinned(sm.tagSnapshot(name))

  /** Delete consumer files whose progress has not moved within
    * `consumer.expiration-time` (file mtime is the progress clock —
    * every offset write refreshes it). Returns the expired ids. */
  private[graft] def expireStaleConsumers(
      sch: TableSchema, now: Long = System.currentTimeMillis()): Seq[String] = {
    val ttl = sch.options.get("consumer.expiration-time")
      .map(GraftTable.parseDurationMillis).getOrElse(return Seq.empty)
    val dir = Paths.get(s"$path/consumer")
    if (!Files.isDirectory(dir)) return Seq.empty
    // stream closed via try-with-use: Files.list leaks a directory fd
    // otherwise, and this runs on EVERY commit
    val listing = Files.list(dir)
    val stale = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("consumer-"))
        .filterNot(_.getFileName.toString.endsWith(".tmp"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < now - ttl)
        .toSeq
    } finally listing.close()
    stale.map { p =>
      Files.deleteIfExists(p)
      p.getFileName.toString.stripPrefix("consumer-")
    }
  }

  /** Default retention for NEW tags (reference: CoreOptions
    * `tag.default-time-retained` — applies to both auto-created and
    * manually created tags). */
  private def tagDefaultRetainedMs(opts: Map[String, String]): Option[Long] =
    opts.get("tag.default-time-retained").map(Meta.parseDurationMillis)

  def createTag(name: String, timeRetainedMs: Option[Long] = None): Unit = {
    val opts = schema.options
    sm.createTag(name, sm.latestSnapshotId.getOrElse(
      throw new IllegalStateException("empty table cannot be tagged")),
      timeRetainedMs.orElse(tagDefaultRetainedMs(opts)))
    notifyTag(name, created = true, opts)
  }

  /** Re-point an existing (or new) tag at `snapshotId`, latest when
    * absent (reference: ReplaceTagProcedure). */
  def replaceTag(name: String, snapshotId: Option[Long] = None): Unit = {
    val opts = schema.options
    sm.createTag(name, snapshotId.orElse(sm.latestSnapshotId).getOrElse(
      throw new IllegalStateException("empty table cannot be tagged")),
      tagDefaultRetainedMs(opts))
    notifyTag(name, created = true, opts)
  }

  def deleteTag(name: String): Unit = {
    sm.deleteTag(name)
    notifyTag(name, created = false)
  }

  /** Expire tags whose retention window lapsed (reference:
    * tag/TagTimeExpire.java, run from TagAutoManager on commit).
    * Tags without a stamped create-time/retention never expire.
    * Disabled entirely by `tag.time-expire-enabled=false`. */
  def expireTimedOutTags(): Seq[String] = {
    val opts = schema.options
    if (opts.get("tag.time-expire-enabled").contains("false"))
      return Seq.empty
    val now = System.currentTimeMillis()
    val victims = sm.tags.keys.toSeq.filter { name =>
      sm.tagSnapshot(name).exists(t =>
        t.tagCreateTime.isDefined && t.tagTimeRetained.isDefined &&
          now > t.tagCreateTime.get + t.tagTimeRetained.get)
    }
    victims.foreach { n => sm.deleteTag(n); notifyTag(n, created = false, opts) }
    victims
  }

  /** Tag lifecycle mirror: `metastore.tag-to-partition` surfaces tags
    * of an UNPARTITIONED HMS-registered table as partitions of a
    * synthetic key (reference: AddPartitionTagCallback). Mirror
    * failures log, never fail the tag operation — same posture as the
    * commit-coupled partition sync. */
  private[graft] def notifyTag(name: String, created: Boolean,
      opts: Map[String, String] = schema.options): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger("graft.GraftTable")
    if (opts.contains("metastore.tag-to-partition"))
      try graft.sources.HmsBridge.mirrorTagPartition(this, name, created)
      catch {
        case e: Exception =>
          log.warn(s"tag-to-partition mirror failed for tag $name: $e")
      }
    // `tag.create-success-file`: companion `<name>_SUCCESS` JSON under
    // tag-success-file/ with creation + modification times — external
    // schedulers poll it to learn a tag landed (reference:
    // tag/SuccessFileTagCallback.java). Deletion removes it.
    if (opts.get("tag.create-success-file").contains("true")) try {
      val dir = Paths.get(s"$path/tag-success-file")
      val f = dir.resolve(s"${name}_SUCCESS")
      if (created) {
        Files.createDirectories(dir)
        val now = System.currentTimeMillis()
        val createMs =
          if (Files.exists(f))
            try Json.mapper.readTree(Files.readString(f))
              .get("creationTime").asLong(now)
            catch { case _: Exception => now }
          else now
        Files.writeString(f,
          s"""{"creationTime":$createMs,"modificationTime":$now}""")
      } else Files.deleteIfExists(f)
    } catch {
      case e: Exception => log.warn(s"tag success file for $name failed: $e")
    }
    // `tag.callbacks`: user classes notified of tag lifecycle
    // (reference: CoreOptions TAG_CALLBACKS + TagCallback). Classes
    // implement GraftTagCallback with a no-arg or (GraftTable) ctor;
    // failures log, never fail the tag operation.
    opts.get("tag.callbacks").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .foreach { cls =>
        try {
          val c = Class.forName(cls)
          val cb = (scala.util.Try(c.getConstructor(classOf[GraftTable])
              .newInstance(this))
            .orElse(scala.util.Try(c.getConstructor().newInstance())))
            .get.asInstanceOf[GraftTagCallback]
          if (created) cb.notifyCreation(this, name)
          else cb.notifyDeletion(this, name)
        } catch {
          case e: Exception => log.warn(s"tag callback $cls failed: $e")
        }
      }
  }

  /** Automatic periodic tags (reference: tag/TagAutoCreation.java +
    * TagAutoManager + TriggerTagAutomaticCreationProcedure).
    *
    * Options: `tag.automatic-creation` = none|process-time|watermark
    * (the snapshot time source), `tag.creation-period` = daily|hourly,
    * `tag.creation-delay` (millis the period must age before its tag
    * fires), `tag.num-retained-max` (oldest auto tags beyond the cap
    * are dropped).
    *
    * Walks snapshots in order; a snapshot whose extracted time has
    * passed the next untagged period boundary (+delay) gets a tag named
    * after the period it COMPLETES — the one before the period the
    * snapshot's time falls in (UTC: `yyyy-MM-dd` daily, `yyyy-MM-dd-HH`
    * hourly), mirroring the reference's normalizeToPreviousTag
    * (truncate, then subtract one period): the daily tag `D` pins the
    * first snapshot whose time crosses into day D+1, i.e. the snapshot
    * that holds all of day D's data. The cursor state is the auto tags
    * themselves — the latest auto tag determines the next boundary, so
    * any writer can trigger the walk and they converge without a state
    * file. Driver-side metadata-only; O(snapshots since last auto tag).
    * Returns the tags created this run. */
  def tagAutoCreate(): Seq[String] = {
    val opts = schema.options
    val mode = opts.getOrElse(GraftTable.TagAutoMode, "none")
    if (mode == "none") return Seq.empty
    if (mode == "batch") return tagBatchCreate(opts)
    require(mode == "process-time" || mode == "watermark",
      s"${GraftTable.TagAutoMode} must be process-time|watermark|batch, got $mode")
    // period length: daily | hourly | two-hours, or an arbitrary
    // `tag.creation-period-duration` (reference: TagCreationPeriod +
    // PeriodDurationTagPeriodHandler — duration periods name their
    // tags in the hourly format of their period START)
    val periodDurationMs =
      opts.get("tag.creation-period-duration").map(Meta.parseDurationMillis)
    val periodMs = periodDurationMs.getOrElse(
      opts.getOrElse("tag.creation-period", "daily") match {
        case "daily" => 86400000L
        case "hourly" => 3600000L
        case "two-hours" => 7200000L
        case other => throw new IllegalArgumentException(
          s"tag.creation-period must be daily|hourly|two-hours, got $other")
      })
    val delayMs = opts.get("tag.creation-delay").map(_.toLong).getOrElse(0L)
    val retainMax = opts.get("tag.num-retained-max").map(_.toInt)
    // `tag.period-formatter` (reference: CoreOptions.TagPeriodFormatter;
    // hourly-style names keep this engine's dash separator — a space in
    // a tag FILE name survives no shell pipeline)
    val daily = periodMs == 86400000L && periodDurationMs.isEmpty
    val (pattern, regex) =
      opts.getOrElse("tag.period-formatter", "with_dashes") match {
        case "with_dashes" =>
          if (daily) ("yyyy-MM-dd", "\\d{4}-\\d{2}-\\d{2}")
          else ("yyyy-MM-dd-HH", "\\d{4}-\\d{2}-\\d{2}-\\d{2}")
        case "without_dashes" =>
          if (daily) ("yyyyMMdd", "\\d{8}")
          else ("yyyyMMdd-HH", "\\d{8}-\\d{2}")
        case "without_dashes_and_spaces" =>
          if (daily) ("yyyyMMdd", "\\d{8}") else ("yyyyMMddHH", "\\d{10}")
        case other => throw new IllegalArgumentException(
          "tag.period-formatter must be with_dashes|without_dashes|" +
            s"without_dashes_and_spaces, got $other")
      }
    def tagName(periodStart: Long): String = {
      val fmt = new java.text.SimpleDateFormat(pattern)
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      fmt.format(new java.util.Date(periodStart))
    }
    def parseTag(name: String): Option[Long] = {
      if (!name.matches(regex)) None
      else {
        val fmt = new java.text.SimpleDateFormat(pattern)
        fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
        scala.util.Try(fmt.parse(name).getTime).toOption
      }
    }
    val tagsNow = sm.tags
    val existingAuto = tagsNow.keys.flatMap(n => parseTag(n).map(n -> _)).toSeq
    // next boundary: a tag named P was created by a snapshot whose
    // (time - delay) fell in period P+1, so the next tag (named P+1)
    // fires when a snapshot crosses into P+2
    var nextBoundary: Option[Long] =
      existingAuto.map(_._2).maxOption.map(_ + 2 * periodMs)
    // resume the walk AFTER the latest auto tag's snapshot: with the
    // per-commit hook enabled this keeps each trigger O(new snapshots),
    // not O(all history) — the reference keeps the same cursor as
    // TagAutoCreation.nextSnapshot
    val resumeAfter: Long = existingAuto.sortBy(_._2).lastOption
      .flatMap { case (name, _) => sm.tagSnapshot(name).map(_.id) }
      .getOrElse(-1L)
    val created = scala.collection.mutable.ArrayBuffer.empty[String]
    // membership tracked locally: re-listing the tag dir per snapshot
    // would make a long catch-up walk O(snapshots × tags) file IO
    val known = scala.collection.mutable.Set[String](tagsNow.keys.toSeq: _*)
    sm.snapshotIds.filter(_ > resumeAfter).foreach { id =>
      val snap = sm.snapshot(id)
      val timeOpt: Option[Long] = mode match {
        case "watermark" => snap.watermark
        case _ => Some(snap.timeMillis)
      }
    // `tag.automatic-completion`: never skip a period — when a snapshot
    // jumps several periods past the last auto tag, name THIS tag for
    // the first missing period instead of the latest completed one;
    // subsequent snapshots (or the same catch-up walk) fill the rest
    // one period at a time (reference: TagAutoCreation.tryToCreateTags
    // `if (automaticCompletion && nextTag != null) thisTag = nextTag`)
    val completion = opts.get("tag.automatic-completion").contains("true")
    timeOpt.foreach { time =>
        if (nextBoundary.forall(nb => time - delayMs >= nb)) {
          // normalizeToPreviousTag: the tag is named for the period the
          // snapshot COMPLETED, one before the period (time - delay)
          // falls in (reference: TagPeriodHandler.normalizeToPreviousTag)
          val periodStart = {
            val td = time - delayMs
            td - Math.floorMod(td, periodMs)
          }
          val name =
            if (completion && nextBoundary.isDefined)
              tagName(nextBoundary.get - periodMs)
            else tagName(periodStart - periodMs)
          if (known.add(name)) {
            sm.createTag(name, snap.id, tagDefaultRetainedMs(opts))
            notifyTag(name, created = true, opts)
            created += name
          }
          nextBoundary =
            if (completion && nextBoundary.isDefined)
              Some(nextBoundary.get + periodMs)
            else Some(periodStart + periodMs)
        }
      }
    }
    retainMax.foreach { max =>
      val auto = sm.tags.keys.toSeq
        .flatMap(n => parseTag(n).map(n -> _)).sortBy(_._2)
      auto.dropRight(max).foreach { case (n, _) =>
        sm.deleteTag(n); notifyTag(n, created = false, opts) }
    }
    created.toSeq
  }

  /** Batch-mode auto tag (`tag.automatic-creation=batch`; reference:
    * tag/TagBatchCreation.java, driven by Flink's
    * BatchWriteGeneratorTagOperator at job finish — here each batch
    * commit refreshes it): one tag named `tag.batch.customized-name`,
    * or `batch-write-yyyy-MM-dd` of the latest snapshot's time,
    * REPLACED on every run so it always marks the newest batch write.
    * `tag.num-retained-max` then trims the oldest tags beyond the cap
    * (the reference trims across all tags in batch mode). */
  private def tagBatchCreate(opts: Map[String, String]): Seq[String] = {
    val snapId = sm.latestSnapshotId.getOrElse(return Seq.empty)
    val name = opts.get("tag.batch.customized-name").getOrElse {
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      "batch-write-" + fmt.format(new java.util.Date(
        sm.snapshot(snapId).timeMillis))
    }
    val replaced = sm.tags.contains(name)
    if (replaced) { sm.deleteTag(name); notifyTag(name, created = false, opts) }
    sm.createTag(name, snapId, tagDefaultRetainedMs(opts))
    notifyTag(name, created = true, opts)
    opts.get("tag.num-retained-max").map(_.toInt).foreach { max =>
      val bySnap = sm.tags.toSeq.sortBy(_._2)
      bySnap.dropRight(max).foreach { case (n, _) =>
        sm.deleteTag(n); notifyTag(n, created = false, opts) }
    }
    if (replaced) Seq.empty else Seq(name)
  }

  /** Raw rows of a snapshot including hidden seq/kind columns.
    *
    * Schema evolution: files written under an earlier schema version
    * are read with the schema AS WRITTEN, then projected to the
    * current schema by stable field id — renamed columns map across,
    * dropped columns are projected away, widened columns cast up,
    * added columns fill with null (reference: SchemaEvolutionUtil +
    * CastExecutors field-id matching). */
  private[graft] def readRaw(
      entries: Seq[ManifestEntry], cur: TableSchema = schema,
      captureMeta: Boolean = false): DataFrame = {
    if (entries.isEmpty) return emptyRawDf(cur)
    def fmtOf(name: String) = name.substring(name.lastIndexOf('.') + 1)
    // captureMeta: tag each row with its file path and physical row
    // index (`__file`, `__idx`) BEFORE any evolution projection —
    // `_metadata` only resolves directly on the file-source relation
    def tagged(df: DataFrame): DataFrame =
      if (!captureMeta) df
      else df.withColumn("__file", expr("_metadata.file_path"))
        .withColumn("__idx", expr("_metadata.row_index"))
    val metaCols =
      if (captureMeta) Seq(col("__file"), col("__idx")) else Seq.empty
    // rows of files written under `old`, projected to `cur` by field id
    def evolved(df: DataFrame, old: TableSchema): DataFrame = {
      val byId = old.fields.map(f => f.id -> f).toMap
      val projected = cur.fields.map { f =>
        val t = sparkTypeOf(f.dataType)
        byId.get(f.id) match {
          case Some(o) =>
            evolveColumn(col(o.name), sparkTypeOf(o.dataType), t).as(f.name)
          case None => lit(null).cast(t).as(f.name)
        }
      }
      val hidden =
        if (cur.primaryKeys.nonEmpty) Seq(col(SeqCol), col(KindCol), col("__bucket"))
        else Seq.empty
      df.select((projected ++ hidden ++ metaCols).toIndexedSeq: _*)
    }
    // group by (schema version, storage format): a table whose
    // file.format option changed mid-life mixes parquet and orc files
    val parts = entries.groupBy(e => (e.file.schemaId, fmtOf(e.file.fileName)))
      .toSeq.sortBy(_._1).map {
      case ((sid, fmt), es) =>
        val paths = es.map(e => s"$path/${e.file.fileName}")
        val fileSch = sm.schema(sid)
        // avro/lance: custom record readers (no spark-avro module; lance
        // is the engine's own random-access columnar format);
        // partition/bucket columns are stored in the records, so no
        // directory-derived columns are needed
        val df =
          if (fmt == "avro" || fmt == "lance") {
            require(!captureMeta,
              s"row positions need parquet/orc _metadata; $fmt files cannot serve them")
            if (fmt == "lance")
              graft.sources.LanceStorage.read(spark, paths, rawSchemaOf(fileSch))
            else graft.sources.AvroStorage.read(spark, paths, rawSchemaOf(fileSch))
          } else graft.sources.BlobStorage.inflate(
            tagged(spark.read.option("basePath", sm.dataDir).format(fmt)
              .schema(rawSchemaOf(fileSch)).load(paths: _*)),
            graft.sources.BlobStorage.blobColumns(fileSch.options), s"$path/blob")
        if (sid == cur.id) df else evolved(df, fileSch)
    }
    parts.reduce(_ unionAll _)
  }

  /** Project a value written under `from` to the current type `to`,
    * recursing through structs (and arrays/maps of structs): nested
    * fields align BY NAME — a nested field absent in the file reads as
    * null (nested ADD), an extra file field is projected away (nested
    * DROP), leaves cast. Nested fields carry no stable ids (only
    * top-level fields do), which is why nested RENAME is rejected at
    * the DDL layer: by-name alignment would silently null old data.
    * (reference: SchemaEvolutionUtil nested-field mapping.) */
  private def evolveColumn(src: Column, from: DataType, to: DataType): Column =
    GraftTable.evolveColumn(src, from, to)

  /** File stats/index keys remapped from the file's written schema to
    * current column names via field ids, so pruning evaluates current-
    * name predicates against old files correctly. */
  private def fileMetaInCurrentNames(
      e: ManifestEntry, cur: TableSchema): graft.core.Meta.DataFileMeta =
    PruneEval.remap(e, cur, sm.schema)

  /** Drop postpone-staged files (bucket = -2) from a read's entry set:
    * such data is invisible to EVERY query surface until a compaction
    * assigns real buckets (reference: postpone-mode visibility —
    * PostponeUtils.getKnownNumBuckets reads only real buckets).
    * Metadata views ($files, $buckets) intentionally bypass this. */
  private[graft] def visibleEntries(
      entries: Seq[ManifestEntry], sch: TableSchema): Seq[ManifestEntry] =
    if (!sch.isPostponeBucket) entries
    else entries.filter(_.bucket != GraftTable.PostponeBucket)

  /** The rows of `entries`, planned from `snap`: merged on primary-key
    * tables, with `snap`'s column-patch registry applied on append
    * tables — time travel reads the patches as of ITS snapshot, and a
    * current read the patches of the snapshot its files came from. */
  private[graft] def mergedFromEntries(
      entries: Seq[ManifestEntry], sch: TableSchema, snap: Option[Snapshot]): DataFrame =
    if (sch.primaryKeys.nonEmpty) {
      // inside the bucket-local gate a bucket's runs merge in one task
      // (no shuffle); elsewhere across readRaw's shuffle
      val visible = visibleEntries(entries, sch)
      MergeEngine.merge(
        if (visible.nonEmpty && bucketLocal(sch, visible))
          graft.sources.BucketRuns.read(this, sch, visible)
        else readRaw(visible, sch), sch)
    } else {
      val patches = colPatchesOf(sch, snap)
      if (patches.isEmpty) readAppendData(entries, sch)
      else applyColumnPatches(rowIdReadFor(entries, sch), patches, sch)
        .select(sch.toStruct.fieldNames.map(col).toIndexedSeq: _*)
    }

  // ================= data evolution (column patches) =================

  /** column → patch files visible at `snap`; columns dropped since a
    * patch was written fall out of the map (their patches are inert).
    * The DSv2 native scan cannot merge patches and falls back. */
  private[graft] def colPatchesOf(
      sch: TableSchema, snap: Option[Snapshot]): Map[String, Seq[String]] =
    snap.flatMap(_.colPatches).getOrElse(Map.empty)
      .filter { case (c, _) => sch.fields.exists(_.name == c) }

  /** Backfill (or correct) ONE column for existing rows WITHOUT
    * rewriting any data file — the Spark shape of the reference's data
    * evolution (CoreOptions DATA_EVOLUTION_ENABLED +
    * DataEvolutionSplitRead, which zips column files into row files at
    * read): `values` carries (`_ROW_ID`, `<name>`) and becomes a patch
    * parquet set registered on the snapshot; reads overlay the latest
    * patch per row id over the stored value (a patched NULL sticks —
    * it is an overlay, not a coalesce). A 100 TB corpus gains an
    * embeddings/score column at the cost of the patch rows alone.
    *
    * Row-tracking append tables only: `_ROW_ID` is the stable join
    * identity (and such tables forbid the rewrites that would reassign
    * it). At most one value per row id per call. The column is added
    * to the schema if absent. */
  def patchColumn(name: String, values: DataFrame): Long = {
    val sch0 = schema
    require(GraftTable.tracksRows(sch0),
      s"column patches need row tracking (set ${GraftTable.RowTrackingEnabled})")
    require(!name.contains('.'),
      "patches apply to TOP-LEVEL columns only (a dotted name would be " +
        "ambiguous with nested paths)")
    val rid = GraftTable.RowIdCol
    require(values.columns.contains(rid), s"values must carry $rid")
    require(values.columns.contains(name), s"values must carry the new $name values")
    // duplicate row ids within one call would share a patch generation
    // and tie-break arbitrarily at read — reject them up front (one
    // map-side-combined aggregate over the patch rows, not the table)
    val dup = values.agg(
      count(lit(1)).as("n"), count_distinct(col(rid)).as("d")).head
    require(dup.getLong(0) == dup.getLong(1),
      s"patchColumn: ${dup.getLong(0) - dup.getLong(1)} duplicate $rid " +
        "value(s) in one call — reduce to one value per row id first")
    // adding the column is a schema change of its own; the commit
    // carries the version that has it
    val sch =
      if (sch0.fields.exists(_.name == name)) sch0
      else { addColumn(name, values.schema(name).dataType); schema }
    val fieldType = sparkTypeOf(
      sch.fields.find(_.name == name).get.dataType)
    // a patched CHAR(n)/VARCHAR(n) column must store the same
    // padded/length-checked form as every other commit path — otherwise
    // the overlay and the stored values compare unequal at read
    val enforced = enforceCharVarchar(
      values.withColumn(name, col(name).cast(fieldType)), sch)
    val files = writePatchFiles(enforced
      .select(col(rid).cast("long").as("_row_id"),
        col(name).as("value")))
    sm.commit(Seq.empty, KindAppend, sch.id,
      colPatchUpdate = Some(m => m.updated(name, m.getOrElse(name, Seq.empty) ++ files)))
  }

  /** Fold every patch generation of `name` into ONE (the registry
    * otherwise grows a generation per [[patchColumn]] call and reads
    * pay a union + max_by over all of them): resolve the
    * latest-per-row-id state, rewrite it as a single patch set,
    * replace the column's registry entry. Orphaned generations are
    * swept by remove_orphan_files once no retained snapshot pins them.
    * Returns the new snapshot id, or None when ≤1 generation. */
  def compactColumnPatches(name: String): Option[Long] = {
    val sch = schema
    val files = colPatchesOf(sch, sm.latestSnapshot()).getOrElse(name, Seq.empty)
    val foldedDirs = files.map(patchDirOf).distinct.toSet
    if (foldedDirs.size <= 1) return None
    val fieldType = sparkTypeOf(sch.fields.find(_.name == name).get.dataType)
    val folded = readPatchGenerations(files, fieldType)
      .groupBy("__patch_rid")
      .agg(max_by(col("__pv"), col("__pg")).as("value"))
      .withColumnRenamed("__patch_rid", "_row_id")
    val newFiles = writePatchFiles(folded.select(col("_row_id"), col("value")))
    // CAS-safe fold: keep any generation a CONCURRENT patchColumn
    // appended after our read — replacing the list wholesale would
    // silently drop that writer's committed values
    Some(sm.commit(Seq.empty, KindCompact, sch.id,
      colPatchUpdate = Some(m => m.updated(name,
        newFiles ++ m.getOrElse(name, Seq.empty)
          .filterNot(f => foldedDirs.contains(patchDirOf(f)))))))
  }

  /** patch file → its generation directory ("patch/<uuid>"). */
  private def patchDirOf(f: String): String = f.substring(0, f.lastIndexOf('/'))

  /** Write one patch generation: (_row_id, value[, …]) range-sorted by
    * row id so probes and joins stay merge-friendly. Returns the
    * table-relative file list to register. */
  private def writePatchFiles(df: DataFrame): Seq[String] = {
    val dir = s"patch/${UUID.randomUUID()}"
    df.repartitionByRange(
        spark.sessionState.conf.numShufflePartitions.min(32).max(1),
        col("_row_id"))
      .sortWithinPartitions("_row_id")
      .write.parquet(s"$path/$dir")
    graft.core.FsUtil.walkAll(Paths.get(s"$path/$dir")).iterator
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => s"$dir/${p.getFileName}").toSeq
  }

  /** All generations of a column's patch files as
    * (__patch_rid, __pv, __pg): generation = the order of the patch
    * DIRECTORIES in the registry list (append-ordered by the commit
    * CAS). Generations may carry different stored types (a widen
    * between patches), so each is cast up independently. The row-id
    * column is renamed away from "_row_id" — Spark resolves
    * case-insensitively, so it would collide with _ROW_ID downstream. */
  private def readPatchGenerations(
      files: Seq[String], fieldType: DataType): DataFrame = {
    val gens = files.map(patchDirOf).distinct.zipWithIndex.toMap
    files.groupBy(patchDirOf).toSeq.map { case (d, fs) =>
      spark.read.parquet(fs.map(f => s"$path/$f"): _*)
        .select(col("_row_id").as("__patch_rid"),
          col("value").cast(fieldType).as("__pv"),
          lit(gens(d)).as("__pg"))
    }.reduce(_ unionAll _)
  }

  /** Pruned row-id read with the patch overlay applied (the DSv2
    * `_ROW_ID` scan's entry point). */
  private[graft] def rowIdReadPatched(
      entries: Seq[ManifestEntry], snap: Option[Snapshot], sch: TableSchema): DataFrame =
    applyColumnPatches(rowIdReadFor(entries, sch), colPatchesOf(sch, snap), sch)

  /** Overlay the registered patches onto a row-id-carrying DataFrame.
    * Patch generation = the order of the patch DIRECTORIES in the
    * registry list (append-ordered by the commit CAS), so later
    * patches win per row id with no per-file sequence stored. Output
    * keeps the input's columns. */
  private def applyColumnPatches(base: DataFrame,
      patches: Map[String, Seq[String]], sch: TableSchema): DataFrame = {
    val rid = GraftTable.RowIdCol
    patches.toSeq.sortBy(_._1).foldLeft(base) { case (df, (c, files)) =>
      val fieldType = sparkTypeOf(sch.fields.find(_.name == c).get.dataType)
      val latest = readPatchGenerations(files, fieldType)
        .groupBy("__patch_rid")
        .agg(max_by(col("__pv"), col("__pg")).as("__patch"),
          lit(true).as("__patched"))
      df.join(latest, df(rid) === latest("__patch_rid"), "left")
        .withColumn(c,
          when(col("__patched"), col("__patch")).otherwise(col(c)))
        .drop("__patch_rid", "__patch", "__patched")
    }
  }

  /** Append-table read with deletion vectors applied: files carrying a
    * DV sidecar are filtered by (file basename, row_index) liveness,
    * each task loading only the sidecars of the files it scans; plain
    * files stream straight through. */
  private def readAppendData(entries: Seq[ManifestEntry], sch: TableSchema): DataFrame = {
    val dataCols = sch.toStruct.fieldNames.map(col).toIndexedSeq
    val (dved, plain) = entries.partition(_.file.dvFile.isDefined)
    val base = readRaw(plain, sch).select(dataCols: _*)
    if (dved.isEmpty) return base
    val dvPaths = dved.map(e =>
      basename(e.file.fileName) -> e.file.dvFile.get).toMap
    val rowLive = udf(new DvRowFilter(sm.io, path, dvPaths))
    val filtered = readRaw(dved, sch)
      .withColumn("__file", expr("_metadata.file_path"))
      .withColumn("__idx", expr("_metadata.row_index"))
      .filter(rowLive(col("__file"), col("__idx")))
      .select(dataCols: _*)
    base.unionAll(filtered)
  }

  private def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  // ================= row tracking (_ROW_ID) =================

  /** Append-table read with the `_ROW_ID` metadata column appended: a
    * row's id is its file's firstRowId + physical position. Deletion
    * vectors drop rows without shifting positions, so ids are stable
    * across deletes; ids of deleted rows are retired, never reused
    * (reference: paimon row tracking — SpecialFields._ROW_ID,
    * DataFileMeta.firstRowId). */
  def readWithRowIds(snapshotId: Option[Long] = None): DataFrame = {
    val sch = schema
    require(GraftTable.tracksRows(sch),
      s"set ${GraftTable.RowTrackingEnabled}=true at table creation")
    val snap = snapshotId.map(sm.snapshot).orElse(sm.latestSnapshot())
    applyColumnPatches(
      rowIdReadFor(snap.map(sm.liveEntries).getOrElse(Seq.empty), sch),
      colPatchesOf(sch, snap), sch)
  }

  /** Rows whose `_ROW_ID` lies in [lo, hi): files are pruned by their
    * [firstRowId, firstRowId + rowCount) extent before any is opened —
    * a bounded slice of a huge table costs one file-extent scan of the
    * manifest plus only the overlapping files (reference: the
    * row-range reads of ReadBuilder / FileStoreScan.withRowRanges). */
  def readRowRange(lo: Long, hi: Long): DataFrame = {
    val sch = schema
    require(GraftTable.tracksRows(sch),
      s"set ${GraftTable.RowTrackingEnabled}=true at table creation")
    val c = col(GraftTable.RowIdCol)
    val snap = sm.latestSnapshot()
    applyColumnPatches(
      rowIdReadFor(inRowRange(snap.toSeq.flatMap(sm.liveEntries), lo, hi), sch)
        .filter(c >= lo && c < hi),
      colPatchesOf(sch, snap), sch)
  }

  /** The file-pruning readRowRange applies: entries whose row-id extent
    * intersects [lo, hi). */
  private[graft] def rowRangeEntries(lo: Long, hi: Long): Seq[ManifestEntry] =
    inRowRange(sm.latestSnapshot().toSeq.flatMap(sm.liveEntries), lo, hi)

  /** The `entries` whose row-id extent intersects [lo, hi). */
  private[graft] def inRowRange(
      entries: Seq[ManifestEntry], lo: Long, hi: Long): Seq[ManifestEntry] =
    entries.filter(e => e.file.firstRowId.exists(f => f < hi && f + e.file.rowCount > lo))

  /** Read `entries` with `_ROW_ID` = per-file base + physical row
    * index. The per-file bases ride a broadcast join on the file name —
    * O(files) metadata, no data shuffle. */
  private[graft] def rowIdReadFor(entries: Seq[ManifestEntry], sch: TableSchema): DataFrame = {
    val outCols = (sch.toStruct.fieldNames.toIndexedSeq :+ GraftTable.RowIdCol).map(col)
    if (entries.isEmpty)
      return emptyDf(sch).withColumn(GraftTable.RowIdCol, lit(0L)).select(outCols: _*)
    val bases = spark.createDataFrame(entries.map { e =>
      val first = e.file.firstRowId.getOrElse(throw new IllegalStateException(
        s"${e.file.fileName} has no firstRowId — written without row tracking?"))
      org.apache.spark.sql.Row(basename(e.file.fileName), first)
    }.asJava, StructType(Seq(
      org.apache.spark.sql.types.StructField("__fname", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__base", LongType, nullable = false))))
    def withIds(es: Seq[ManifestEntry]): DataFrame =
      readRaw(es, sch, captureMeta = true)
        .withColumn("__fname", expr("element_at(split(__file, '/'), -1)"))
        .join(broadcast(bases), "__fname")
        .withColumn(GraftTable.RowIdCol, col("__base") + col("__idx"))
    val (dved, plain) = entries.partition(_.file.dvFile.isDefined)
    val parts = Seq(
      if (plain.isEmpty) None else Some(withIds(plain).select(outCols: _*)),
      if (dved.isEmpty) None else {
        val dvPaths = dved.map(e =>
          basename(e.file.fileName) -> e.file.dvFile.get).toMap
        val rowLive = udf(new DvRowFilter(sm.io, path, dvPaths))
        Some(withIds(dved).filter(rowLive(col("__file"), col("__idx")))
          .select(outCols: _*))
      }).flatten
    parts.reduce(_ unionAll _)
  }


  /** Zero-job positional point reads over a lance append table — the
    * training-batch fetch (reference: paimon-lance jni/LanceReader.java
    * `take`, the format's reason to exist). The position space is the
    * snapshot's live files in manifest order (stable for a given
    * snapshot id); locating a position costs a prefix-sum over file
    * rowCounts (metadata only), and each file serves its hits through
    * LanceStorage.take — O(touched chunks) block IO, no Spark job, no
    * scan. k positions over an N-row table never read more than the k
    * touched (column, chunk) blocks. */
  def takeByPosition(positions: Seq[Long], snapshotId: Option[Long] = None)
      : Seq[org.apache.spark.sql.Row] = {
    val sch = schema
    require(sch.fileFormat == "lance" && sch.primaryKeys.isEmpty,
      "positional take requires an append table with file.format=lance")
    if (positions.isEmpty) return Seq.empty
    val entries = snapshotId.map(sm.snapshot).orElse(sm.latestSnapshot())
      .map(sm.liveEntries).getOrElse(Seq.empty)
    require(entries.forall(e => e.file.fileName.endsWith(".lance") &&
      e.file.dvFile.isEmpty && e.file.schemaId == sch.id),
      "positional take needs uniform lance files on the current schema")
    val exts = entries.scanLeft(0L)((a, e) => a + e.file.rowCount).toArray
    val total = exts.last
    positions.foreach(p =>
      require(p >= 0 && p < total, s"position $p out of [0, $total)"))
    val struct0 = sch.toStruct
    val byFile = positions.distinct.groupBy { p =>
      java.util.Arrays.binarySearch(exts, p) match {
        case x if x >= 0 => x
        case x => -x - 2
      }
    }
    val fetched: Map[Long, org.apache.spark.sql.Row] =
      byFile.flatMap { case (i, ps) =>
        val f = new java.io.File(s"$path/${entries(i).file.fileName}")
        val (rows, _) =
          graft.sources.LanceStorage.take(f, struct0, ps.map(_ - exts(i)))
        ps.zip(rows).map { case (p, r) => p -> r }
      }
    positions.map(fetched)
  }

  /** Changelog view with a `_row_kind` label column (reference:
    * AuditLogTable — table/system/AuditLogTable.java:88). */
  def auditLog: DataFrame = {
    val sch = schema
    require(sch.primaryKeys.nonEmpty, "audit log requires a primary-key table")
    val entries =
      visibleEntries(sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty), sch)
    // reference AuditLogTable: rowkind + data fields only — the
    // internal sequence column is not part of the relation
    readRaw(entries, sch)
      .withColumn("_row_kind", MergeEngine.kindLabel(col(KindCol)))
      .drop(KindCol, SeqCol, "__bucket")
  }

  /** Incremental read ending at an AUTO tag, starting from the auto
    * tag that precedes it (reference: PaimonTableValuedFunctions
    * .scala:43-49 `paimon_incremental_to_auto_tag` +
    * IncrementalDiffStartingScanner.toEndAutoTag): the end tag must
    * match the table's auto-tag period format; a missing end tag or no
    * earlier auto tag yields an EMPTY result (the reference's
    * EmptyResultStartingScanner), never an error. Auto-tag names
    * (`yyyy-MM-dd` daily / `yyyy-MM-dd-HH` hourly, UTC) sort
    * lexicographically in chronological order, so "latest earlier tag"
    * is a plain string max. */
  def incrementalToAutoTag(endTag: String): DataFrame = {
    val sch = schema
    val daily =
      sch.options.getOrElse("tag.creation-period", "daily") == "daily"
    val pat =
      if (daily) "\\d{4}-\\d{2}-\\d{2}" else "\\d{4}-\\d{2}-\\d{2}-\\d{2}"
    require(endTag.matches(pat),
      s"tag '$endTag' is not an auto-created tag (expected $pat)")
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(sch.toStruct.fields :+
        StructField("_row_kind", org.apache.spark.sql.types.StringType)))
    val tags = sm.tags
    if (!tags.contains(endTag)) return empty
    val prev = tags.keys.filter(n => n.matches(pat) && n < endTag)
      .maxOption.getOrElse(return empty)
    (for {
      from <- sm.tagSnapshot(prev).map(_.id)
      to <- sm.tagSnapshot(endTag).map(_.id)
    } yield incrementalRead(from, to, sch)).getOrElse(empty)
  }

  /** Rows changed between two snapshots (exclusive, inclusive] — the
    * incremental-query TVF (reference:
    * PaimonTableValuedFunctions.paimon_incremental_query). COMPACT
    * snapshots carry no logical change and are skipped. A DELETE+ADD
    * pair of the SAME file inside one commit is a metadata-only rewrite
    * (deletion-vector growth): the re-ADD carries no new rows and is
    * not re-emitted; instead the newly-deleted positions surface as -D.
    * Append-table files dropped outright (partition drop / full-file
    * delete) emit their surviving rows as -D. PK-table deletes arrive
    * as -D kinded rows in the delta files themselves. */
  def incrementalRead(fromExclusive: Long, toInclusive: Long): DataFrame =
    incrementalRead(fromExclusive, toInclusive, schema)

  private def incrementalRead(
      fromExclusive: Long, toInclusive: Long, sch: TableSchema): DataFrame =
    changeRows(new Changes(sm, sch, Changes.NoOptions).steps(fromExclusive, toInclusive), sch)

  /** The changelog rows (`_row_kind` last) of change steps. Steps with
    * a persisted changelog serve its exact pairs; the others derive
    * rows from their delta files. changelog-producer=full-compaction:
    * changes surface ONLY at full compactions, which persist the exact
    * accumulated pairs, so only changelogs are served and append deltas
    * (which the compaction pairs already summarize) are ignored
    * (reference: CHANGELOG incremental scan mode over that producer). */
  private[graft] def changeRows(steps: Seq[Changes.Step], sch: TableSchema): DataFrame = {
    val pkTable = sch.primaryKeys.nonEmpty
    val names = sch.toStruct.fieldNames
    val outCols = (names :+ "_row_kind").map(col).toIndexedSeq
    val changelogs = steps.flatMap(_.changelog)
    val clRows = readChangelogFiles(changelogs.flatMap(sm.readManifest), sch).select(outCols: _*)
    if (pkTable && sch.changelogProducer == "full-compaction") return clRows
    val derived = steps.filter(_.changelog.isEmpty)
    val plusRows = Some(derived.flatMap(_.adds)).filter(_.nonEmpty).map(readRaw(_, sch)
      .withColumn("_row_kind",
        if (pkTable) MergeEngine.kindLabel(col(KindCol)) else lit("+I"))
      .select(outCols: _*))
    // append tables: -D rows for deleted entries (PK-table deletes are
    // -D kinded rows in the delta files themselves). A file re-ADDed
    // with a grown deletion vector emits only its newly-deleted
    // positions; a file dropped outright emits its surviving rows
    val (grown, dropped) =
      (if (pkTable) Nil else derived.flatMap(_.deletes)).partition(_._2.isDefined)
    def minusOf(entries: Seq[ManifestEntry],
        keep: org.apache.spark.sql.expressions.UserDefinedFunction) =
      readRaw(entries, sch)
        .withColumn("__file", expr("_metadata.file_path"))
        .withColumn("__idx", expr("_metadata.row_index"))
        .filter(keep(col("__file"), col("__idx")))
        .select(names.map(col).toIndexedSeq: _*)
        .withColumn("_row_kind", lit("-D"))
    val minusGrown =
      if (grown.isEmpty) None
      else Some(minusOf(grown.map(_._1), udf(new DvDiffFilter(sm.io, path,
        grown.map { case (e, dv) => basename(e.file.fileName) -> (e.file.dvFile, dv.get) }.toMap))))
    val minusDropped =
      if (dropped.isEmpty) None
      else Some(minusOf(dropped.map(_._1), udf(new DvRowFilter(sm.io, path,
        dropped.flatMap { case (e, _) => e.file.dvFile.map(basename(e.file.fileName) -> _) }.toMap))))
    val parts = plusRows.toSeq ++ (if (changelogs.isEmpty) None else Some(clRows)) ++
      minusGrown ++ minusDropped
    parts.reduceOption(_ unionAll _).getOrElse(clRows)
  }

  /** Exact row-level changes of an OVERWRITE snapshot on a primary-key
    * table: the merged visible content of the files the overwrite
    * REMOVED surfaces as `-D`, the merged content of the files it
    * ADDED as `+I` (reference: FollowUpScanner.getOverwriteChangesPlan
    * → SnapshotReader.readChanges, what streaming consumers see when
    * `streaming-read-overwrite` is on). Append tables derive overwrite
    * changes inside [[incrementalRead]] (with exact DV diffs), so this
    * covers the PK side only — where reading just the ADDed files
    * would silently lose retractions for every key the overwrite
    * dropped. */
  def overwriteChanges(snapshotId: Long): DataFrame = {
    val sch = schema
    require(sch.primaryKeys.nonEmpty, "overwriteChanges requires a primary-key " +
      "table; append tables derive overwrite changes via incrementalRead")
    val sn = sm.snapshot(snapshotId)
    require(sn.commitKind == KindOverwrite,
      s"snapshot $snapshotId is ${sn.commitKind}, not OVERWRITE")
    overwriteChanges(sn, sn.deltaManifest.map(sm.readManifest).getOrElse(Seq.empty), sch)
  }

  /** [[overwriteChanges]] of the OVERWRITE snapshot `sn` whose delta
    * entries are `delta`. */
  private[graft] def overwriteChanges(
      sn: Snapshot, delta: Seq[ManifestEntry], sch: TableSchema): DataFrame = {
    def merged(entries: Seq[ManifestEntry]): DataFrame =
      if (entries.isEmpty) emptyDf(sch) else mergedFromEntries(entries, sch, Some(sn))
    val outCols = (sch.toStruct.fieldNames :+ "_row_kind").map(col).toIndexedSeq
    merged(delta.filter(_.kind == "DELETE"))
      .withColumn("_row_kind", lit("-D")).select(outCols: _*)
      .unionAll(merged(delta.filter(_.kind == "ADD"))
        .withColumn("_row_kind", lit("+I")).select(outCols: _*))
  }

  /** Binlog view: per key and snapshot, the -U/+U pair packed into ONE
    * row — non-key columns become arrays holding [before, after] for
    * updates, [value] for inserts/deletes (reference:
    * table/system/BinlogTable.java:55). */
  def binlog(fromExclusive: Long, toInclusive: Long): DataFrame = {
    val sch = schema
    val pk = sch.primaryKeys
    require(pk.nonEmpty, "binlog requires a primary-key table")
    val base = sch.toStruct
    val valueCols = base.fieldNames.filterNot(pk.contains)
    // one block per live snapshot that is not a compaction
    val perSnapshot = new Changes(sm, sch, Changes.NoOptions).steps(fromExclusive, toInclusive)
      .filter(s => s.snapshot.isDefined && !s.compaction).map { step =>
      val chg = changeRows(Seq(step), sch)
      val packed = struct_ord(valueCols.map(col).toIndexedSeq: _*)
      val isBefore = col("_row_kind").isin("-U", "-D")
      val isAfter = col("_row_kind").isin("+U", "+I")
      val agged = chg.groupBy(pk.map(col).toIndexedSeq: _*)
        .agg(
          max_by(packed, when(isBefore, 1)).as("__before"),
          max_by(packed, when(isAfter, 1)).as("__after"))
      val hasB = col("__before").isNotNull
      val hasA = col("__after").isNotNull
      val rowkind = when(hasB && hasA, "+U").when(hasA, "+I").otherwise("-D")
      val arrays = valueCols.map { c =>
        when(hasB && hasA, array(col(s"__before.$c"), col(s"__after.$c")))
          .when(hasA, array(col(s"__after.$c")))
          .otherwise(array(col(s"__before.$c"))).as(c)
      }
      agged.select((lit(step.id).as("snapshot_id") +: rowkind.as("rowkind") +:
        pk.map(col) ++: arrays).toIndexedSeq: _*)
    }
    perSnapshot.reduceOption(_ unionAll _).getOrElse {
      val fields = StructField("snapshot_id", LongType, nullable = false) +:
        StructField("rowkind", org.apache.spark.sql.types.StringType, nullable = false) +:
        base.fields.filter(f => pk.contains(f.name)) ++:
        valueCols.map(c => StructField(c,
          ArrayType(base.fields(base.fieldIndex(c)).dataType), nullable = true))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields))
    }
  }

  /** `$binlog` over the full history. */
  def systemBinlog: DataFrame =
    binlog(-1L, sm.latestSnapshotId.getOrElse(-1L))

  private def rawSchemaOf(sch: TableSchema): StructType = {
    // blob columns store a descriptor struct in the data files
    val base = graft.sources.BlobStorage.physicalSchema(
      sch.toStruct, graft.sources.BlobStorage.blobColumns(sch.options))
    if (sch.primaryKeys.nonEmpty)
      StructType(base.fields
        :+ StructField(SeqCol, LongType, nullable = false)
        :+ StructField(KindCol, ByteType, nullable = false)
        :+ StructField("__bucket", IntegerType, nullable = true))
    else base
  }

  private def emptyDf(sch: TableSchema): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch.toStruct)

  private def emptyRawDf(sch: TableSchema): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rawSchemaOf(sch))

  /** Manifest-level pruning: partition values + file stats vs the
    * filter expression.
    *
    * For primary-key tables only predicates over primary-key /
    * partition columns may skip files: a value-column predicate could
    * prune the file holding a key's latest version while keeping an
    * older one, making the merge resolve to superseded data. Value
    * predicates are applied post-merge by the caller (the reference
    * restricts PK-table skipping to key/partition predicates for the
    * same reason). */
  private[graft] def pruneEntries(
      snap: Snapshot, filter: Column, sch: TableSchema = schema): Seq[ManifestEntry] = {
    // resolve the Column against the table schema to get a Catalyst
    // expression with typed attributes/literals. Constant-fold the
    // analyzed condition first: literal-side expressions like
    // make_time(12,0,0) or date arithmetic analyze to non-foldable
    // RuntimeReplaceables, which StatsFilter's `r.foldable` guards
    // would otherwise pass over (no pruning). Folding on a one-row
    // wrapper plan turns them into plain Literals.
    val analyzed = emptyDf(sch).filter(filter).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.map(c => invertStringTransforms(foldConstants(c)))
    pruneAnalyzed(snap, sch, visibleEntries(sm.liveEntries(snap), sch), analyzed)
  }

  /** The rules half of [[pruneEntries]]: the `entries` an analyzed
    * condition over `sch`'s columns may match (None keeps them all). */
  private def pruneAnalyzed(
      snap: Snapshot, sch: TableSchema, entries: Seq[ManifestEntry],
      analyzedCond0: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[ManifestEntry] = {
    // file stats/indexes describe the STORED values; a column-patch
    // overlay can change any value, so conjuncts touching a patched
    // column must not prune (they still filter post-overlay rows). A
    // patch of a dropped column is inert: no conjunct can name it.
    val patchedCols = snap.colPatches.getOrElse(Map.empty).keySet
    val analyzedCond =
      if (patchedCols.isEmpty) analyzedCond0
      else analyzedCond0.flatMap { c =>
        val kept = splitConjuncts(c).filter(
          _.references.toSeq.map(_.name).forall(r => !patchedCols.contains(r)))
        kept.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
      }
    val cond = analyzedCond.flatMap { c =>
      if (sch.primaryKeys.isEmpty) Some(c)
      else {
        // partition columns are prune-safe when they are part of the
        // primary key — or when the global cross-partition index is
        // active: its write path retracts moved keys with a -D in the
        // old partition, so every partition's local merge is
        // self-contained (reference: GlobalIndexAssigner). Without
        // either, a key can MOVE partitions between versions and
        // pruning would resolve the merge to a stale row, so partition
        // predicates must wait until after the merge.
        val partSafe =
          if (sch.partitionKeys.forall(sch.primaryKeys.contains) ||
              snap.globalIndex.isDefined) sch.partitionKeys
          else Seq.empty
        val safe = (sch.primaryKeys ++ partSafe).toSet
        splitConjuncts(c)
          .filter(_.references.toSeq.map(_.name).toSet.subsetOf(safe))
          .reduceOption(org.apache.spark.sql.catalyst.expressions.And.apply)
      }
    }
    // global secondary index first: one bounded lookup can collapse
    // the candidate set before any per-file stats/sidecar evaluation
    val candidates = cond match {
      case Some(c) => secIndexPrune(snap, sch, entries, c)
      case None => entries
    }
    cond match {
      case None => candidates
      case Some(c) if candidates.size >= distributedPruneThreshold(sch) =>
        pruneDistributed(candidates, c, sch)
      case Some(c) =>
        // fail-open on evaluator errors (a broken index sidecar must
        // never lose rows), but LOUDLY: log the first failure per
        // pruning pass so a degraded index doesn't silently turn into
        // full scans
        var loggedFailure = false
        candidates.filter { e =>
          try PruneEval.keep(c, e, sch, sm.schema, path, sm.io, sidecarCaches)
          catch { case ex: Exception =>
            if (!loggedFailure) {
              loggedFailure = true
              org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
                s"pruning evaluator failed on ${e.file.fileName} " +
                  s"(falling back to scan-everything for such files): $ex")
            }
            true
          }
        }
    }
  }

  /** Above this live-file count, manifest pruning runs as a Spark job
    * instead of a driver loop: per-file index-sidecar probes become
    * distributed IO, and the driver never touches a sidecar. At 100 TB
    * (millions of files) a sequential driver loop with per-file sidecar
    * round-trips is THE planning bottleneck (reference: parallel
    * manifest-entry scan in SnapshotReaderImpl.java:85). */
  private def distributedPruneThreshold(sch: TableSchema): Int =
    sch.options.getOrElse("manifest.distributed-prune.file-count", "2048").toInt

  private def pruneDistributed(
      entries: Seq[ManifestEntry],
      c: org.apache.spark.sql.catalyst.expressions.Expression,
      sch: TableSchema): Seq[ManifestEntry] = {
    // pre-resolve the (few) historic schemas on the driver so executors
    // never read schema files
    val byId = entries.map(_.file.schemaId).distinct
      .filterNot(_ == sch.id).map(id => id -> sm.schema(id)).toMap
    val tp = path
    try {
      val slices = math.min(spark.sparkContext.defaultParallelism,
        math.max(1, entries.size / 512))
      spark.sparkContext.parallelize(entries, slices)
        .mapPartitions { it =>
          val io = new graft.core.LocalFileIO
          it.filter { e =>
            try PruneEval.keep(c, e, sch, id => byId.getOrElse(id, sch),
              tp, io, PruneEval.jvmCaches)
            catch { case _: Exception => true } // fail-open, same policy
          }
        }
        .collect().toSeq // partition order == input order: plan stays stable
    } catch { case ex: Exception =>
      org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
        s"distributed pruning failed (${ex.getMessage}); keeping all candidates")
      entries
    }
  }

  /** Replace RuntimeReplaceables and fold literal-only subtrees so
    * StatsFilter sees plain Literals on the comparand side. */
  private def foldConstants(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, ReplaceExpressions}
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    try {
      val wrapped = Project(Seq(Alias(e, "c")()), OneRowRelation())
      ConstantFolding(ReplaceExpressions(wrapped)) match {
        case Project(Seq(a: Alias), _) => a.child
        case _ => e
      }
    } catch { case _: Exception => e }
  }

  private def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Rewrite invertible string-transform equalities into plain column
    * predicates FOR PRUNING (the plan keeps the original filter, so an
    * implied — not equivalent — predicate is sound):
    * `concat(p, c, s) = 'PXS'` with literal prefix/suffix becomes
    * `c = 'X'` when they match the literal, and `false` (prune
    * everything) when they cannot — after which stats, bloom/bitmap
    * sidecars and the secondary index all prune on the plain equality
    * (reference: paimon predicate ConcatTransform.java:30; upper/lower
    * are not invertible and go through the secondary index instead —
    * UpperTransform.java:32). */
  private def invertStringTransforms(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{BooleanType, StringType}
    def inv(cc: Concat, l: Literal): Option[Expression] = {
      if (l.value == null || l.dataType != StringType) return None
      val parts = cc.children
      if (parts.count(_.isInstanceOf[AttributeReference]) != 1) return None
      if (!parts.forall(p => p.isInstanceOf[AttributeReference] ||
        (p.isInstanceOf[Literal] && p.dataType == StringType))) return None
      val attrIdx = parts.indexWhere(_.isInstanceOf[AttributeReference])
      val attr = parts(attrIdx).asInstanceOf[AttributeReference]
      if (attr.dataType != StringType) return None
      val lits = parts.zipWithIndex.collect { case (p: Literal, i) => (i, p.value) }
      // a null literal part makes concat null -> the predicate is
      // never true -> everything prunes
      if (lits.exists(_._2 == null))
        return Some(Literal.create(false, BooleanType))
      val prefix = lits.filter(_._1 < attrIdx).map(_._2.toString).mkString
      val suffix = lits.filter(_._1 > attrIdx).map(_._2.toString).mkString
      val s = l.value.toString
      if (s.length < prefix.length + suffix.length ||
        !s.startsWith(prefix) || !s.endsWith(suffix))
        Some(Literal.create(false, BooleanType))
      else Some(EqualTo(attr, Literal.create(
        s.substring(prefix.length, s.length - suffix.length), StringType)))
    }
    // concat_ws differs from concat in two ways that matter for
    // soundness: a NULL part is SKIPPED (with its separator), so the
    // attr-is-null row still produces the literals-only string; and a
    // null separator nulls the whole result (reference:
    // ConcatWsTransform.java:32)
    def invWs(cw: ConcatWs, l: Literal): Option[Expression] = {
      if (l.value == null || l.dataType != StringType) return None
      cw.children.head match {
        case Literal(null, _) => Some(Literal.create(false, BooleanType))
        case Literal(sepV, StringType) =>
          val sep = sepV.toString
          // null literal parts are skipped by concat_ws semantics:
          // drop them before decomposing
          val parts = cw.children.tail.filter {
            case Literal(null, _) => false
            case _ => true
          }
          if (parts.count(_.isInstanceOf[AttributeReference]) != 1) return None
          if (!parts.forall(p => p.isInstanceOf[AttributeReference] ||
            (p.isInstanceOf[Literal] && p.dataType == StringType))) return None
          val attrIdx = parts.indexWhere(_.isInstanceOf[AttributeReference])
          val attr = parts(attrIdx).asInstanceOf[AttributeReference]
          if (attr.dataType != StringType) return None
          val before = parts.take(attrIdx).map(_.asInstanceOf[Literal].value.toString)
          val after = parts.drop(attrIdx + 1).map(_.asInstanceOf[Literal].value.toString)
          val s = l.value.toString
          val prefix = if (before.isEmpty) "" else before.mkString(sep) + sep
          val suffix = if (after.isEmpty) "" else sep + after.mkString(sep)
          val decomposed =
            if (s.length >= prefix.length + suffix.length &&
              s.startsWith(prefix) && s.endsWith(suffix))
              Some(s.substring(prefix.length, s.length - suffix.length))
            else None
          if (s == (before ++ after).mkString(sep)) {
            // the attr-is-null row also produces this string
            Some(decomposed.fold[Expression](IsNull(attr))(x =>
              Or(IsNull(attr), EqualTo(attr, Literal.create(x, StringType)))))
          } else Some(decomposed.fold[Expression](
            Literal.create(false, BooleanType))(x =>
            EqualTo(attr, Literal.create(x, StringType))))
        case _ => None
      }
    }
    // substring-from-1 equality: substring(c,1,k) = lit implies
    // startsWith(c, lit) when |lit| == k (the usual case), c = lit
    // exactly when |lit| < k (c must have ended early), and is
    // unsatisfiable when |lit| > k
    def invSub(sub: Substring, l: Literal): Option[Expression] = {
      if (l.value == null || l.dataType != StringType) return None
      (sub.str, sub.pos, sub.len) match {
        case (a: AttributeReference, Literal(1, IntegerType), len: Literal)
            if a.dataType == StringType && len.value != null =>
          val k = len.value.asInstanceOf[Int]
          val s = l.value.toString
          if (k < 0) None
          else if (s.length > k) Some(Literal.create(false, BooleanType))
          else if (s.length == k) Some(StartsWith(a, Literal.create(s, StringType)))
          else Some(EqualTo(a, Literal.create(s, StringType)))
        case _ => None
      }
    }
    // recursing into BOTH And and Or is sound for pruning: each leaf
    // rewrites to an IMPLIED predicate, and monotone combinations
    // (and/or — never not) of implied predicates are implied
    def rewrite(c: Expression): Expression = c match {
      case And(a, b) => And(rewrite(a), rewrite(b))
      case Or(a, b) => Or(rewrite(a), rewrite(b))
      case eq @ EqualTo(cc: Concat, l: Literal) => inv(cc, l).getOrElse(eq)
      case eq @ EqualTo(l: Literal, cc: Concat) => inv(cc, l).getOrElse(eq)
      case eq @ EqualTo(cw: ConcatWs, l: Literal) => invWs(cw, l).getOrElse(eq)
      case eq @ EqualTo(l: Literal, cw: ConcatWs) => invWs(cw, l).getOrElse(eq)
      case eq @ EqualTo(sub: Substring, l: Literal) => invSub(sub, l).getOrElse(eq)
      case eq @ EqualTo(l: Literal, sub: Substring) => invSub(sub, l).getOrElse(eq)
      case other => other
    }
    rewrite(e)
  }

  // ================= maintenance =================

  /** Full compaction: per-(partition, bucket) merge of all live files
    * into level-1 files; deletes are physically dropped. One COMPACT
    * snapshot replacing the inputs (reference:
    * MergeTreeCompactManager + CompactProcedure). */
  def compact(): Option[Long] = compactEntries(schema, sm.latestSnapshot(), _ => true)

  /** Partition-scoped compaction: rewrite only partitions matching the
    * predicate — the reference's `CALL sys.compact(..., where => ...)`
    * (CompactProcedure.java `where` clause). The predicate may only
    * reference partition columns; matching is a driver-side evaluation
    * over the distinct partition values, so planning is O(partitions)
    * regardless of table size. */
  def compactWhere(cond: Column): Option[Long] = {
    val sch = schema
    val snap = sm.latestSnapshot().getOrElse(return None)
    // partitionsMatching evaluates cond over ONLY the partition
    // columns, so a predicate touching a data column fails analysis
    val selected =
      try partitionsMatching(sch, sm.liveEntries(snap), cond)
        .map(_.file.fileName).toSet
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"compact where-predicate may only use partition columns " +
            s"${sch.partitionKeys.mkString(",")}: ${e.getMessage}")
      }
    if (selected.isEmpty) None
    else compactEntries(sch, Some(snap), e => selected.contains(e.file.fileName))
  }

  /** Incremental compaction: rewrite only the (partition, bucket)
    * groups whose live file count exceeds `trigger` — bounded write
    * amplification instead of a full rewrite (reference:
    * UniversalCompaction's num-sorted-run trigger,
    * CoreOptions num-sorted-run.compaction-trigger). No-op when every
    * group is under the trigger. */
  def compactIfNeeded(trigger: Int = 5): Option[Long] = {
    val sch = schema
    val snap = sm.latestSnapshot().getOrElse(return None)
    // compaction.min.file-num (reference: CoreOptions
    // COMPACTION_MIN_FILE_NUM) overrides the caller's count trigger;
    // compaction.max-size-amplification-percent (universal compaction)
    // additionally fires when un-merged bytes dwarf the merged state —
    // a bucket fed by few HUGE level-0 runs compacts on size, not
    // count: read amplification is bytes re-merged per read, and a
    // count trigger alone would let 4 × 1 GB runs sit forever.
    val minFiles = sch.options.get("compaction.min.file-num")
      .map(_.toInt).getOrElse(trigger)
    val ampPct = sch.options
      .getOrElse("compaction.max-size-amplification-percent", "200").toLong
    // num-sorted-run.compaction-trigger (reference: CoreOptions
    // NUM_SORTED_RUNS_COMPACTION_TRIGGER): a sorted run is one level-0
    // file or one populated level>0 — the merge-read fan-in. Opt-in
    // here (the reference defaults to 5 because its reads always merge
    // every run; this engine's count trigger already bounds fan-in).
    val sortedRunTrigger =
      sch.options.get("num-sorted-run.compaction-trigger").map(_.toInt)
    // compaction.total-size-threshold (reference: universal compaction's
    // small-bucket full merge — "if the total size ... is less than this
    // threshold, full compaction will be triggered directly"): tiny
    // fragmented buckets merge whole without waiting for count triggers
    val totalSizeBelow = sch.options
      .get("compaction.total-size-threshold").map(Meta.parseBytes)
    // compaction.delete-ratio-threshold (reference default 0.2 in its
    // DV mode): when deletion vectors hide this fraction of a bucket's
    // rows, rewriting reclaims the space and drops the DV overhead
    val deleteRatio = sch.options
      .get("compaction.delete-ratio-threshold").map(_.toDouble)
    val hot = sm.liveEntries(snap)
      .groupBy(e => (e.partition, e.bucket))
      .filter { case (_, es) =>
        es.size > minFiles || sortedRunTrigger.exists { t =>
          val runs = es.count(_.file.level == 0) +
            es.filter(_.file.level > 0).map(_.file.level).distinct.size
          runs >= t
        } || totalSizeBelow.exists(th =>
          es.size > 1 && es.map(_.file.fileSize).sum < th
        ) || deleteRatio.exists { r =>
          val rows = es.map(_.file.rowCount).sum
          rows > 0 &&
            es.map(_.file.dvCardinality.getOrElse(0L)).sum.toDouble / rows > r
        } || {
          val l0 = es.filter(_.file.level == 0).map(_.file.fileSize).sum
          val merged = es.filter(_.file.level > 0).map(_.file.fileSize).sum
          merged > 0 && l0 * 100 > merged * ampPct
        }
      }
      .values.flatten.map(_.file.fileName).toSet
    if (hot.isEmpty) None
    // postpone tables: partial compaction of just the staged files
    // would create a second level-1 generation and break the
    // full-compaction changelog's before-state; visibility assignment
    // is always a FULL compact
    else if (sch.isPostponeBucket) compactEntries(sch, Some(snap), _ => true)
    else compactEntries(sch, Some(snap), e => hot.contains(e.file.fileName))
  }

  /** Record-level TTL (reference: RecordLevelExpire +
    * `record-level.expire-time`/`.time-field` — "expiration happens in
    * compaction, there is no strong guarantee to expire records in
    * time"): the keep-condition rows must satisfy to survive a
    * compaction rewrite. NULL time fields are kept (cannot be proven
    * expired). Time field types: INT/BIGINT epoch seconds (epoch
    * millis with `record-level.time-field-unit=millis`), TIMESTAMP. */
  private def recordExpireKeep(sch: TableSchema): Option[Column] =
    for {
      dur <- sch.options.get("record-level.expire-time")
      tf <- sch.options.get("record-level.time-field")
    } yield {
      val field = sch.toStruct.fields.find(_.name == tf).getOrElse(
        throw new IllegalArgumentException(s"record-level.time-field $tf is not a column"))
      val cutoffMs = System.currentTimeMillis() - GraftTable.parseDurationMillis(dur)
      val c = col(tf)
      field.dataType match {
        case TimestampType | TimestampNTZType =>
          c.isNull || unix_micros(c.cast(TimestampType)) >= cutoffMs * 1000L
        case _ if sch.options.get("record-level.time-field-unit").contains("millis") =>
          c.isNull || c.cast("long") >= cutoffMs
        case _ => c.isNull || c.cast("long") >= cutoffMs / 1000L
      }
    }

  private def compactEntries(sch: TableSchema, snap0: Option[Snapshot],
      select: ManifestEntry => Boolean): Option[Long] = {
    // compaction rewrites files, which would re-position rows and break
    // the firstRowId + position identity (the reference likewise
    // restricts compaction on row-tracking tables)
    require(!GraftTable.tracksRows(sch),
      "row-tracking tables cannot be compacted: rewriting files would reassign _ROW_ID")
    val snap = snap0.getOrElse(return None)
    val old = sm.liveEntries(snap).filter(select)
    if (old.isEmpty) return None
    val pkTable = sch.primaryKeys.nonEmpty
    val cols = sch.toStruct.fieldNames.map(col).toIndexedSeq
    val base = nextSeq(Some(snap))
    val merged =
      if (pkTable) {
        val m0 = MergeEngine.mergeKeepMeta(readRaw(old, sch), sch)
          // -U winners are retractions too (see MergeEngine.merge) —
          // rewriting one as +I would make the phantom row permanent
          .filter(col(KindCol) =!= KindDelete &&
            col(KindCol) =!= KindUpdateBefore)
        // record-level TTL drops expired rows from the rewrite; with
        // changelog-producer=full-compaction the state diff below then
        // emits their -D rows, so incremental readers see the expiry
        val m = recordExpireKeep(sch).map(m0.filter).getOrElse(m0)
          .withColumn(KindCol, lit(KindInsert).cast("byte"))
        if (sch.isDynamicBucket) {
          // a key's bucket is index-assigned, not hash-derived: carry
          // it through the rewrite (merge engines that drop __bucket
          // get it re-joined from the raw rows)
          val pk = sch.primaryKeys
          if (m.columns.contains("__bucket")) m
          else {
            val bucketOf = readRaw(old, sch)
              .groupBy(pk.map(col).toIndexedSeq: _*)
              .agg(max(col("__bucket")).as("__bucket"))
            m.join(bucketOf, pk, "left")
          }
        } else m.withColumn("__bucket",
          // postpone tables: compaction is WHERE bucket assignment
          // happens — the staged bucket=-2 rows hash into
          // postpone.default-bucket-num real buckets here (postpone
          // forbids bucket-key, so bucketKeys = pk there; rescale of a
          // bucket-key table re-routes by the SAME columns the writer
          // used)
          Buckets.column(sch, sch.bucketKeys, sch.effectiveBuckets))
      } else readAppendData(old, sch) // applies deletion vectors before rewrite
    val partitionBy =
      if (pkTable) sch.partitionKeys :+ "__bucket" else sch.partitionKeys
    // changelog-producer=full-compaction: the compaction itself emits
    // the exact -U/+U/+I/-D rows accumulated since the PREVIOUS full
    // compaction — before = merged state of the level-1 inputs (last
    // compaction's output), after = the new merged state. Incremental
    // readers then serve these rows with zero derivation (reference:
    // FullChangelogMergeTreeCompactRewriter +
    // FullChangelogMergeFunctionWrapper — top-level record vs merge
    // result).
    val producer = sch.changelogProducer
    val changelog =
      if (!pkTable || producer != "full-compaction") None
      else {
        merged.persist()
        val compacted = old.filter(_.file.level >= 1)
        // level-1 files ARE the previous compaction's merged state:
        // one generation per (partition, bucket), keys unique within
        // it, deletes physically dropped — so the before-state is a
        // raw projection, no second full-table merge shuffle
        val before = readRaw(compacted, sch).select(cols: _*)
        persistChangelog(stateDiff(before, merged.select(cols: _*), sch), sch)
      }
    // `target-file-size` (reference: CoreOptions TARGET_FILE_SIZE):
    // compaction output rolls at ~the target — rows per file derived
    // from the INPUTS' observed bytes/row, so the bound tracks the real
    // data shape without a pre-pass. Level-0 ingest keeps Spark's
    // task-per-file layout (one small commit = one file either way).
    val rollAt = sch.options.get("target-file-size").map(Meta.parseBytes)
      .map { t =>
        val bytes = old.map(_.file.fileSize).sum
        val rows = math.max(1L, old.map(_.file.rowCount).sum)
        math.max(1L, t / math.max(1L, bytes / rows))
      }
    // Co-locate each (partition, bucket) in one task before the staged
    // write (r17, guide §6): `merged` otherwise keeps its upstream
    // partitioning and partitionBy fans every task out across every
    // bucket directory — up to tasks×buckets near-empty files per
    // compaction (observed 32×8 at gate scale), which every later read
    // pays as split count. Hash repartition on the partitionBy columns
    // (no explicit N → AQE coalesces; deterministic under retry) yields
    // one file per (partition, bucket) with rollAt still bounding size.
    val routed =
      if (pkTable && partitionBy.nonEmpty)
        merged.repartition(partitionBy.map(col).toIndexedSeq: _*)
      else merged
    try Some(commitFiles(routed, sch, partitionBy, KindCompact, base,
      commitIdentifier = -1L, deletes = old.map(_.copy(kind = "DELETE")),
      level = 1, changelogManifest = changelog, maxRecordsPerFile = rollAt))
    finally if (changelog.isDefined) merged.unpersist()
  }

  def expireSnapshots(retain: Int): Seq[Long] = sm.expireSnapshots(retain)

  /** Purge the table back to empty while keeping its definition:
    * drop branches, tags and consumers, truncate all data in one
    * metadata-only OVERWRITE commit, expire every prior snapshot
    * (physically deleting the now-unreferenced data/manifest files) and
    * remove persisted changelogs. The schema, options and indexes
    * config survive; the next write starts from the empty snapshot
    * (reference: FileStoreTable.purgeFiles + PurgeFilesProcedure).
    * Driver-side metadata work only — no Spark job. */
  def purgeFiles(): Long = {
    val truncated = sm.latestSnapshot() match {
      case Some(snap) =>
        val victims = sm.liveEntries(snap)
        if (victims.isEmpty) snap.id
        else sm.commit(victims.map(_.copy(kind = "DELETE")), KindOverwrite,
          schema.id,
          conflictCheck = latest => victims.map(_.file.fileName).toSet
            .subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet))
      case None => -1L
    }
    // clear branches/tags/consumers AFTER the truncation commit: the
    // per-commit hook (tag auto-creation) runs inside that commit and
    // would otherwise re-tag the just-cleared history, making the
    // expire below keep every "purged" file alive via taggedRefs
    branches.foreach(deleteBranch)
    sm.tags.keys.foreach(deleteTag)
    sm.io.list(sm.consumerDir)
      .filter(_.split('/').last.startsWith("consumer-"))
      .foreach(sm.io.delete)
    sm.expireSnapshots(retain = 1)
    val clDir = java.nio.file.Paths.get(s"$path/changelog")
    if (java.nio.file.Files.exists(clDir)) deleteRecursive(clDir)
    truncated
  }

  /** Clone the table's latest consistent state into a fresh table at
    * `targetPath` (reference: CopyFilesProcedure — a snapshot-consistent
    * file-level copy, not a re-write). Metadata (all schema versions,
    * the referenced manifests, the snapshot renumbered to 1, snapshot
    * index sidecars) is copied driver-side — O(metadata) work; data
    * files (incl. DV sidecars, per-file index sidecars and out-of-line
    * blobs) are copied by a distributed Spark job, so the copy scales
    * with executors, not driver bandwidth. Tags/branches/consumers and
    * history do NOT transfer (the clone starts a fresh lineage), and
    * text/vector index directories are skipped — their snapshot stamps
    * would be stale; rebuild them via CALL sys.rebuild_*. */
  def cloneTo(targetPath: String): GraftTable = {
    val snap = sm.latestSnapshot().getOrElse(
      throw new IllegalStateException("cannot clone an empty table"))
    require(!GraftTable.exists(targetPath), s"$targetPath is already a table")
    val entries = sm.liveEntries(snap)
    val tgt = java.nio.file.Paths.get(targetPath)

    def copyRel(rel: String): Unit = {
      val to = tgt.resolve(rel)
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$path/$rel"), to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    // metadata: every schema version + the manifests the snapshot sees
    graft.core.FsUtil.listAll(java.nio.file.Paths.get(s"$path/schema"))
      .foreach(p => copyRel(s"schema/${p.getFileName}"))
    ((sm.readManifestList(snap.manifestList) :+ snap.manifestList) ++
      snap.deltaManifest).distinct.foreach(m => copyRel(s"manifest/$m"))
    snap.indexSidecars.foreach(copyRel)

    // data: executors do the IO (a 100 TB clone is not a driver loop)
    val dataFiles = (entries.map(_.file.fileName) ++
      entries.flatMap(_.file.dvFile) ++
      entries.flatMap(_.file.indexFiles.map(_.values.toSeq).getOrElse(Nil)))
      .distinct
    val srcRoot = path
    spark.sparkContext
      .parallelize(dataFiles, math.max(1, math.min(dataFiles.size, 64)))
      .foreach { rel =>
        val to = java.nio.file.Paths.get(s"$targetPath/$rel")
        java.nio.file.Files.createDirectories(to.getParent)
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$srcRoot/$rel"), to,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    // out-of-line blobs are content-addressed from column values: copy
    // the directory wholesale (computing the live set needs a scan)
    val blobDir = java.nio.file.Paths.get(s"$path/blob")
    if (java.nio.file.Files.isDirectory(blobDir))
      graft.core.FsUtil.listAll(blobDir)
        .foreach(p => copyRel(s"blob/${p.getFileName}"))

    // the snapshot itself, renumbered onto a fresh single-entry history
    val cloneSnap = snap.copy(id = 1L, commitIdentifier = -1L,
      baseSnapshotId = None, changelogManifest = None)
    val tsm = new graft.core.SnapshotManager(targetPath)
    tsm.io.writeString(s"$targetPath/snapshot/snapshot-1.json",
      graft.core.Json.write(cloneSnap))
    tsm.io.writeString(s"$targetPath/snapshot/LATEST", "1")
    GraftTable.load(spark, targetPath)
  }

  /** Repair: drop manifest entries whose data file has been deleted
    * outside the engine — scans would otherwise fail on the missing
    * file forever. One metadata-only commit; returns the number of
    * entries dropped (reference: RemoveUnexistingFilesProcedure). */
  def removeUnexistingFiles(): Int = {
    val snap = sm.latestSnapshot().getOrElse(return 0)
    val gone = sm.liveEntries(snap)
      .filterNot(e => sm.io.exists(s"$path/${e.file.fileName}"))
    if (gone.isEmpty) return 0
    val names = gone.map(_.file.fileName).toSet
    sm.commit(gone.map(_.copy(kind = "DELETE")), KindOverwrite, schema.id,
      conflictCheck = latest =>
        names.subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet))
    gone.size
  }

  /** Drop partitions whose value in `column` sorts strictly below
    * `olderThan` (typed comparison) — time-partition retention as one
    * metadata-only OVERWRITE commit; no data file is opened
    * (reference: PartitionExpire.java driven by the expire_partitions
    * procedure). Returns the dropped partition values. */
  def expirePartitions(column: String, olderThan: String): Seq[Map[String, String]] = {
    val sch = schema
    require(sch.partitionKeys.contains(column),
      s"$column is not a partition column")
    val snap = sm.latestSnapshot().getOrElse(return Seq.empty)
    val field = sch.toStruct(column)
    val cond = col(column) < lit(olderThan).cast(field.dataType)
    val victims = partitionsMatching(sch, sm.liveEntries(snap), cond)
    if (victims.isEmpty) return Seq.empty
    sm.commit(victims.map(_.copy(kind = "DELETE")), KindOverwrite, sch.id,
      conflictCheck = latest => victims.map(_.file.fileName).toSet
        .subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet))
    val dropped = victims.map(_.partition).distinct
    mirrorHmsDrops(sch, dropped)
    dropped
  }

  /** Mirror fully-dropped partitions into HMS when commit-coupled sync
    * is on — the DROP counterpart of the per-commit delta add (the
    * delta path never lists or drops; expiry and explicit partition
    * drops are where partitions actually disappear). Log-and-continue:
    * metastore unavailability must not fail the table operation. */
  private def mirrorHmsDrops(sch: TableSchema, parts: Seq[Map[String, String]]): Unit =
    if (parts.nonEmpty &&
      sch.options.get("metastore.partitioned-table").contains("true"))
      try graft.sources.HmsBridge.dropHmsPartitions(this, parts)
      catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
          s"HMS partition drop mirror failed: ${e.getMessage}")
      }

  /** Time-based partition expiration with the reference's two
    * strategies (partition/PartitionExpireStrategy):
    *  - `values-time` (default): the partition VALUES parse as a time
    *    via `timestampFormatter` — multi-column layouts compose
    *    through `timestampPattern` (e.g. `"$year-$month"`, reference:
    *    PartitionTimeExtractor) — and partitions older than
    *    now − expiration expire;
    *  - `update-time`: a partition expires when NO write has touched
    *    it within the window; last-touch derives from the snapshot
    *    history (delta-manifest ADDs × snapshot commit time), so it is
    *    O(snapshots) driver metadata. Partitions whose adds predate
    *    the retained history count as untouched.
    * Unparseable partition values are SKIPPED (never silently
    * expired). One metadata-only OVERWRITE commit drops everything
    * expired; returns the expired partition specs. */
  def expirePartitionsByTime(
      expirationMillis: Long,
      strategy: String = "values-time",
      timestampFormatter: String = "yyyy-MM-dd",
      timestampPattern: Option[String] = None,
      now: Long = System.currentTimeMillis(),
      /** bound one pass to the N OLDEST expired partitions (reference:
        * partition.expiration-max-num — a deep backlog drains across
        * passes instead of one huge commit); None = all */
      maxNum: Option[Int] = None,
      /** partitions per DELETE commit within the pass (reference:
        * partition.expiration-batch-size) */
      batchSize: Int = Int.MaxValue): Seq[Map[String, String]] = {
    require(strategy == "values-time" || strategy == "update-time",
      s"strategy must be values-time|update-time, got $strategy")
    val sch = schema
    require(sch.partitionKeys.nonEmpty, "table is not partitioned")
    val snap = sm.latestSnapshot().getOrElse(return Seq.empty)
    val live = sm.liveEntries(snap)
    val cutoff = now - expirationMillis
    // (partition, age-time) so maxNum can take the OLDEST first
    val expiredAged: Seq[(Map[String, String], Long)] = strategy match {
      case "values-time" =>
        val fmt = new java.text.SimpleDateFormat(timestampFormatter)
        fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
        fmt.setLenient(false)
        def timeOf(p: Map[String, String]): Option[Long] = {
          val s = timestampPattern match {
            case Some(pat) => sch.partitionKeys.foldLeft(pat)((acc, k) =>
              acc.replace("$" + k, p.getOrElse(k, "")))
            case None => p.getOrElse(sch.partitionKeys.head, "")
          }
          scala.util.Try(fmt.parse(s).getTime).toOption
        }
        live.map(_.partition).distinct
          .flatMap(p => timeOf(p).filter(_ < cutoff).map(p -> _))
      case _ =>
        // A live partition with no ADD in RETAINED history was last
        // touched at or before the earliest retained snapshot — the
        // shared helper bounds it there, never 0: after snapshot
        // expiration trims history, 0 would expire an hour-old
        // partition.
        val (lastUpdate, horizon) = partitionLastUpdateTimes(now)
        live.map(_.partition).distinct
          .map(p => p -> lastUpdate.getOrElse(p, horizon))
          .filter(_._2 < cutoff)
    }
    val chosen = maxNum match {
      case Some(n) => expiredAged.sortBy(_._2).take(n).map(_._1)
      case None => expiredAged.map(_._1)
    }
    if (chosen.isEmpty) return Seq.empty
    chosen.grouped(math.max(1, batchSize)).foreach { group =>
      val inGroup = group.toSet
      val victims = live.filter(e => inGroup.contains(e.partition))
      sm.commit(victims.map(_.copy(kind = "DELETE")), KindOverwrite, sch.id,
        conflictCheck = latest => victims.map(_.file.fileName).toSet
          .subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet))
    }
    mirrorHmsDrops(sch, chosen)
    chosen
  }

  /** Commit-coupled automatic partition expiry (reference:
    * operation/PartitionExpire — enabled by `partition.expiration-time`,
    * throttled by `partition.expiration-check-interval` (default 1h),
    * bounded to `partition.expiration-max-num` oldest partitions per
    * pass (default 100), committed in `partition.expiration-batch-size`
    * groups (default 1000) so one pass over a deep backlog never builds
    * a single giant OVERWRITE). Strategy/formatter/pattern ride the
    * same options as the procedure. */
  private[graft] def autoExpirePartitions(sch: TableSchema): Seq[Map[String, String]] = {
    val opts = sch.options
    val ttl = opts.get("partition.expiration-time")
      .map(Meta.parseDurationMillis).getOrElse(return Seq.empty)
    if (sch.partitionKeys.isEmpty) return Seq.empty
    // re-entrancy latch: the pass's own DELETE commits re-fire the
    // hook; without it a 0ms check-interval would drain the whole
    // backlog recursively, defeating the per-pass max-num bound
    if (inAutoPartitionExpire.get()) return Seq.empty
    val now = System.currentTimeMillis()
    val interval = opts.get("partition.expiration-check-interval")
      .map(Meta.parseDurationMillis).getOrElse(3600000L)
    if (now - lastPartitionExpireCheck < interval) return Seq.empty
    lastPartitionExpireCheck = now
    val strategy =
      opts.getOrElse("partition.expiration-strategy", "values-time")
    val fmt = opts.getOrElse("partition.timestamp-formatter", "yyyy-MM-dd")
    val pattern = opts.get("partition.timestamp-pattern")
    val maxNum = opts.get("partition.expiration-max-num").map(_.toInt)
      .getOrElse(100)
    val batch = opts.get("partition.expiration-batch-size").map(_.toInt)
      .getOrElse(1000)
    inAutoPartitionExpire.set(true)
    try expirePartitionsByTime(ttl, strategy, fmt, pattern, now,
      maxNum = Some(maxNum), batchSize = batch)
    finally inAutoPartitionExpire.set(false)
  }

  private val inAutoPartitionExpire =
    new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  /** throttle cursor for [[autoExpirePartitions]] (reference keeps the
    * same in-memory lastCheck inside PartitionExpire) */
  @volatile private var lastPartitionExpireCheck: Long = 0L

  /** Mark partitions IDLE past `partition.idle-time-to-done` with a
    * `_SUCCESS` file (reference: CoreOptions PARTITION_IDLE_TIME_TO_DONE
    * + PartitionMarkDone / SuccessFileMarkDoneAction — "no new data
    * for this duration → signal downstream the partition is ready").
    * Last-touch derives from retained snapshot history exactly like
    * [[expirePartitionsByTime]]'s update-time strategy (history-trimmed
    * partitions bound at the earliest retained snapshot — never marked
    * early by a 0 default). Already-marked partitions are skipped.
    * Returns the partitions marked by THIS call. */
  /** partition → last-touch time from RETAINED snapshot history (ADDs
    * × commit time), plus the horizon bound for history-trimmed
    * partitions. Shared by [[expirePartitionsByTime]]'s update-time
    * strategy and [[markIdlePartitionsDone]]. Incrementally CACHED per
    * table instance: a call re-reads only the delta manifests of
    * snapshots newer than the previous call — per-commit hooks stay
    * O(new commits), not O(history). Expiration shrinking the
    * retained set invalidates the cache (ids below the cached floor). */
  private var lastUpdateCache: Option[(Long, Long, Map[Map[String, String], Long])] = None
  private def partitionLastUpdateTimes(
      now: Long): (Map[Map[String, String], Long], Long) = synchronized {
    val ids = sm.snapshotIds
    if (ids.isEmpty) return (Map.empty, now)
    val (fromId, base) = lastUpdateCache match {
      case Some((lo, hi, m)) if ids.headOption.contains(lo) && hi <= ids.last =>
        (hi + 1, m)
      case _ => (ids.head, Map.empty[Map[String, String], Long])
    }
    val acc = scala.collection.mutable.Map.empty[Map[String, String], Long] ++ base
    ids.filter(_ >= fromId).map(sm.snapshot).foreach { s =>
      s.deltaManifest.toSeq.flatMap(sm.readManifest)
        .filter(_.kind == "ADD").map(_.partition).distinct
        .foreach(p => acc(p) = math.max(acc.getOrElse(p, 0L), s.timeMillis))
    }
    val result = acc.toMap
    lastUpdateCache = Some((ids.head, ids.last, result))
    (result, sm.snapshot(ids.head).timeMillis)
  }

  def markIdlePartitionsDone(
      now: Long = System.currentTimeMillis()): Seq[Map[String, String]] = {
    val sch = schema
    val idleMs = sch.options.get("partition.idle-time-to-done")
      .map(GraftTable.parseDurationMillis).getOrElse(return Seq.empty)
    if (sch.partitionKeys.isEmpty) return Seq.empty
    val snap = sm.latestSnapshot().getOrElse(return Seq.empty)
    val (lastUpdate, horizon) = partitionLastUpdateTimes(now)
    val cutoff = now - idleMs
    def markerOf(p: Map[String, String]) = Paths.get(s"$path/data/" +
      sch.partitionKeys.map(k => s"$k=${p.getOrElse(k, "")}").mkString("/"))
      .normalize().resolve("_SUCCESS")
    val (idle, active) = sm.liveEntries(snap).map(_.partition).distinct
      .partition(p => lastUpdate.getOrElse(p, horizon) < cutoff)
    // a partition that became ACTIVE again sheds its stale marker —
    // downstream must not consume a partition new data is landing in
    // (it re-marks once idle again)
    active.foreach(p => Files.deleteIfExists(markerOf(p)))
    idle.flatMap { p =>
      val marker = markerOf(p)
      if (Files.exists(marker)) None
      else {
        Files.createDirectories(marker.getParent)
        Files.write(marker, Array.empty[Byte])
        // the configured non-file actions (done-partition / mark-event /
        // http-report / custom) fire the same downstream signal
        graft.sources.MarkDoneActions.fireNonFile(this,
          sch.partitionKeys.map(k => s"$k=${p.getOrElse(k, "")}").mkString("/"))
        Some(p)
      }
    }
  }

  // ================= vector index =================

  /** Build the table-attached HNSW vector index for (`idCol`,
    * `vecCol`) over the current snapshot (reference: paimon-faiss
    * persisted global vector indexes created by
    * CreateGlobalIndexProcedure.java — here the pure-JVM sharded
    * graphs of [[graft.operators.Similarity]]): sharded graph
    * parquet under `index-hnsw/<vecCol>/` plus a state json stamped
    * with the snapshot id. [[vectorSearch]] probes the sidecar only
    * while the stamp matches the latest snapshot — any later commit
    * invalidates it and search falls back to an in-memory sharded
    * build over the CURRENT data (ANN semantics preserved, never a
    * stale result). */
  def rebuildVectorIndex(
      idCol: String, vecCol: String,
      shards: Int = 4, m: Int = 8, efConstruction: Int = 64): Unit = {
    val sch = schema
    require(Seq(idCol, vecCol).forall(c => sch.fields.exists(_.name == c)),
      s"no such columns: $idCol / $vecCol")
    val snap = sm.latestSnapshot().getOrElse(
      throw new IllegalStateException("empty table"))
    val dir = s"index-hnsw/$vecCol"
    // buildHnswIndex may RAISE the shard count to keep per-shard blobs
    // bounded; the state records the effective count. Count comes from
    // manifest stats (zero jobs; the pre-merge total over-estimates a
    // non-compacted PK table, which only errs toward MORE shards) and
    // dim from a limit-1 probe, so the merged read is scanned exactly
    // once — by the build itself.
    val cnt = countRowsFast(sch, Some(snap)).getOrElse(snap.totalRecordCount)
    val rows = readAt(sch, Some(snap))
    val dim = rows.select(size(col(vecCol)).as("d"))
      .filter(col("d").isNotNull).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    val effShards = graft.operators.Similarity.buildHnswIndex(
      rows.select(col(idCol), col(vecCol)), s"$path/$dir",
      idCol, vecCol, shards, m, efConstruction,
      knownCount = Some(cnt), knownDim = Some(dim))
    sm.io.writeString(s"$path/$dir/state.json", Json.write(
      GraftTable.VectorIndexState(idCol, vecCol, snap.id, effShards, m, efConstruction)))
  }

  /** ANN top-k by cosine over `vecCol`: the persisted index when it
    * is fresh (state snapshot == latest), an in-memory sharded build
    * over current data otherwise. Output: (query_id, neighbor_id,
    * cosine, rank). */
  def vectorSearch(
      idCol: String, vecCol: String, queries: DataFrame,
      kNeighbors: Int = 5, efSearch: Int = 128): DataFrame = {
    val dir = s"index-hnsw/$vecCol"
    val stPath = s"$path/$dir/state.json"
    val st =
      try {
        if (sm.io.exists(stPath))
          Some(Json.read(sm.io.readString(stPath),
            classOf[GraftTable.VectorIndexState]))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    val snap = sm.latestSnapshot()
    st.filter(s => snap.exists(_.id == s.snapshotId) &&
        s.idCol == idCol && s.vecCol == vecCol) match {
      case Some(_) =>
        graft.operators.Similarity.hnswIndexTopK(
          spark, s"$path/$dir", queries, idCol, vecCol, kNeighbors, efSearch)
      case None => // stale or absent: never serve old vectors
        val p = st.getOrElse(
          GraftTable.VectorIndexState(idCol, vecCol, -1L, 4, 8, 64))
        graft.operators.Similarity.hnswTopK(
          readAt(schema, snap).select(col(idCol), col(vecCol)), queries, idCol, vecCol,
          kNeighbors, p.shards, p.m, p.efConstruction, efSearch)
    }
  }

  // ================= full-text index =================

  /** Rebuild the global full-text inverted index for `column` over the
    * current snapshot (reference capability: paimon-lucene /
    * paimon-core globalindex text search — rebuilt Spark-first as a
    * token→file posting table instead of a native Lucene directory).
    *
    * One distributed pass tokenizes the column ([A-Za-z0-9]+ runs),
    * dedups (file, token) pairs map-side via per-file explode +
    * distinct, and writes postings range-partitioned and sorted by
    * token under `index-text/<column>/postings-<snapshot>/` — parquet
    * row-group stats then serve a token probe like a btree page
    * lookup. A state json records the covered files; files committed
    * AFTER the rebuild are simply not covered and [[searchText]]
    * scans them unconditionally (fail-open), so results never depend
    * on index freshness. Scale: the index is O(distinct tokens ×
    * files) rows, built in one shuffle; the probe reads only the
    * row-groups whose [min,max] token range covers the word. */
  def rebuildTextIndex(column: String): Unit = {
    val sch = schema
    require(sch.fields.exists(_.name == column), s"no such column: $column")
    val snap = sm.latestSnapshot().getOrElse(
      throw new IllegalStateException("empty table"))
    val entries = visibleEntries(sm.liveEntries(snap), sch).filter(e =>
      e.file.fileName.endsWith(".parquet") || e.file.fileName.endsWith(".orc"))
    val dir = s"index-text/$column"
    val postingsRel = s"$dir/postings-${snap.id}"
    if (entries.nonEmpty)
      readRaw(entries, sch, captureMeta = true)
        .select(substring_index(col("__file"), "/", -1).as("f"),
          explode(array_distinct(split(
            coalesce(col(column).cast("string"), lit("")),
            GraftTable.TextTokenSplit))).as("token"))
        .filter(length(col("token")) > 0)
        .distinct()
        .repartitionByRange(4, col("token"))
        .sortWithinPartitions("token", "f")
        .write.mode("overwrite").parquet(s"$path/$postingsRel")
    // supersede any previous generation (state first, then sweep)
    val prevDirs = sm.io.list(s"$path/$dir")
      .map(_.split('/').last).filter(_.startsWith("postings-"))
      .filterNot(_ == s"postings-${snap.id}")
    sm.io.writeString(s"$path/$dir/state.json", Json.write(
      GraftTable.TextIndexState(column, snap.id,
        entries.map(e => basename(e.file.fileName)),
        if (entries.isEmpty) Seq.empty else Seq(postingsRel))))
    prevDirs.foreach(d => deleteRecursive(Paths.get(s"$path/$dir/$d")))
  }

  /** Incrementally extend the text index to cover files committed
    * since the last (re)build: tokenize ONLY the uncovered live files,
    * write their postings as an ADDITIONAL generation directory, and
    * publish the union coverage — cost is O(new files), never a
    * corpus re-scan (the growth path a 100 TB corpus needs; the
    * reference maintains its global indexes incrementally the same
    * way). Probes read all listed postings dirs in one scan, so
    * pruning semantics are unchanged. Files removed since the build
    * (compaction victims) are dropped from the coverage set — they no
    * longer appear among live entries, so stale coverage is inert,
    * but trimming keeps state O(live files). A full
    * [[rebuildTextIndex]] later folds the generations back to one. */
  def updateTextIndex(column: String): Unit = {
    val stPath = s"$path/index-text/$column/state.json"
    val st =
      try {
        if (sm.io.exists(stPath))
          Some(Json.read(sm.io.readString(stPath),
            classOf[GraftTable.TextIndexState]))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    st match {
      case None => rebuildTextIndex(column) // nothing to extend
      case Some(s0) =>
        val snap = sm.latestSnapshot().getOrElse(return)
        val sch = schema
        val entries = visibleEntries(sm.liveEntries(snap), sch).filter(e =>
          e.file.fileName.endsWith(".parquet") || e.file.fileName.endsWith(".orc"))
        val liveNames = entries.map(e => basename(e.file.fileName))
        val coveredSet = s0.covered.toSet
        val fresh = entries.filterNot(e => coveredSet.contains(basename(e.file.fileName)))
        val keptCovered = liveNames.filter(coveredSet.contains)
        if (fresh.isEmpty) {
          sm.io.writeString(stPath, Json.write(s0.copy(
            snapshotId = snap.id, covered = keptCovered)))
          return
        }
        val incRel = s"index-text/$column/postings-${snap.id}-${s0.postings.size}"
        readRaw(fresh, sch, captureMeta = true)
          .select(substring_index(col("__file"), "/", -1).as("f"),
            explode(array_distinct(split(
              coalesce(col(column).cast("string"), lit("")),
              GraftTable.TextTokenSplit))).as("token"))
          .filter(length(col("token")) > 0)
          .distinct()
          .repartitionByRange(4, col("token"))
          .sortWithinPartitions("token", "f")
          .write.mode("overwrite").parquet(s"$path/$incRel")
        sm.io.writeString(stPath, Json.write(GraftTable.TextIndexState(
          column, snap.id,
          keptCovered ++ fresh.map(e => basename(e.file.fileName)),
          s0.postings :+ incRel)))
    }
  }

  /** Candidate entries for a whole-token text match: files the index
    * proves token-free are pruned; uncovered files (committed after
    * the rebuild, or no index at all) always stay candidates. On PK
    * tables pruning widens to merge-unit ((partition, bucket))
    * granularity — dropping one level file from an LSM merge would
    * resurrect older versions. Fail-open on any index read problem. */
  private[graft] def textCandidates(
      column: String, word: String, prefixMatch: Boolean = false): Seq[ManifestEntry] =
    textPrune(schema, sm.latestSnapshot(), column)(tokenHits(word, prefixMatch))

  /** Candidates for an AND of whole tokens (see [[allTokenHits]]). */
  private[graft] def textCandidatesAll(column: String, words: Seq[String]): Seq[ManifestEntry] =
    textPrune(schema, sm.latestSnapshot(), column)(allTokenHits(words))

  /** Candidates for an OR of whole tokens (see [[anyTokenHits]]). */
  private[graft] def textCandidatesAny(column: String, words: Seq[String]): Seq[ManifestEntry] =
    textPrune(schema, sm.latestSnapshot(), column)(anyTokenHits(words))

  /** Files (`f`) whose postings hold `word`, or a token starting with
    * it under `prefixMatch`. */
  private def tokenHits(word: String, prefixMatch: Boolean)(postings: DataFrame): DataFrame =
    postings
      .filter(if (prefixMatch) col("token").startsWith(word) else col("token") === word)
      .select("f").distinct()

  /** Files holding EVERY word: one postings scan, a file survives only
    * if it holds every word (groupBy f + distinct-token count) —
    * tighter than intersecting per-word probes, same single bounded
    * job. */
  private def allTokenHits(words: Seq[String])(postings: DataFrame): DataFrame = {
    val distinctWords = words.distinct
    postings
      .filter(col("token").isin(distinctWords: _*))
      .groupBy("f").agg(countDistinct(col("token")).as("n"))
      .filter(col("n") === distinctWords.size)
      .select("f")
  }

  /** Files holding at least one word: the union of the per-token
    * posting sets, still one scan (isin + distinct f). */
  private def anyTokenHits(words: Seq[String])(postings: DataFrame): DataFrame =
    postings.filter(col("token").isin(words.distinct: _*)).select("f").distinct()

  /** Collect a probe's matching-file set, CAPPED like the global
    * secondary index's probes (`secondary-index.max-probe-hits`
    * pattern): a stopword-class token over 10^6 files would otherwise
    * materialize the whole file list on the driver. Past
    * `text-index.max-probe-hits` (default 100k) the probe FAILS OPEN —
    * None keeps every covered candidate, so results never change,
    * only the pruning benefit is forfeited. */
  private def cappedFileHits(sch: TableSchema, files: DataFrame): Option[Set[String]] = {
    val cap = sch.options
      .getOrElse("text-index.max-probe-hits", "100000").toInt
    val rows = files.limit(cap + 1).collect()
    if (rows.length > cap) {
      org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
        s"text-index probe exceeded $cap matching files; failing open " +
          "(raise text-index.max-probe-hits or accept the full scan)")
      None
    } else Some(rows.map(_.getString(0)).toSet)
  }

  /** Shared text-index pruning scaffold over `snap`'s files: `hitsOf`
    * maps the postings DataFrame to the matching file basenames (`f`),
    * collected under the probe cap (over the cap → every covered file
    * stays). */
  private def textPrune(sch: TableSchema, snap0: Option[Snapshot], column: String)(
      hitsOf: DataFrame => DataFrame): Seq[ManifestEntry] = {
    val snap = snap0.getOrElse(return Seq.empty)
    val entries = visibleEntries(sm.liveEntries(snap), sch)
    // a column patch can rewrite text the write-time postings never
    // saw — the index is stale for patched columns, so fail OPEN
    if (colPatchesOf(sch, snap0).contains(column)) return entries
    val stPath = s"$path/index-text/$column/state.json"
    val st =
      try {
        if (sm.io.exists(stPath))
          Some(Json.read(sm.io.readString(stPath),
            classOf[GraftTable.TextIndexState]))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    st match {
      case Some(s0) =>
        val covered = s0.covered.toSet
        val hits: Set[String] =
          try {
            if (s0.postings.isEmpty) Set.empty
            else cappedFileHits(sch,
              hitsOf(spark.read.parquet(s0.postings.map(p => s"$path/$p"): _*)))
              .getOrElse(covered) // over-cap probe: keep all covered
          } catch { case scala.util.control.NonFatal(_) => covered }
        val keep = entries.filter { e =>
          val b = basename(e.file.fileName)
          !covered.contains(b) || hits.contains(b)
        }
        if (sch.primaryKeys.nonEmpty) {
          val units = keep.map(e => (e.partition, e.bucket)).toSet
          entries.filter(e => units.contains((e.partition, e.bucket)))
        } else keep
      case None => entries
    }
  }

  /** Rows of the files a text probe keeps, filtered by `cond` and
    * projected to the table's columns: the index only PRUNES files,
    * `cond` decides membership. */
  private def textMatches(column: String, hitsOf: DataFrame => DataFrame)(
      cond: Column): DataFrame = {
    val sch = schema
    val snap = sm.latestSnapshot()
    mergedFromEntries(textPrune(sch, snap, column)(hitsOf), sch, snap).filter(cond)
      .select(sch.toStruct.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** A valid search token for the ASCII tokenizer ([[GraftTable
    * .TextTokenSplit]]). Must match the TOKENIZER's charset exactly:
    * `Character.isLetterOrDigit` accepts Unicode letters ('é'), which
    * the tokenizer splits on — such a "token" can never appear in the
    * postings, so index pruning would silently drop files the row
    * filter matches. Rejecting it up front keeps results
    * index-independent. */
  private def isSearchToken(w: String): Boolean =
    w.nonEmpty && w.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9'))

  /** Rows whose `column` contains `word` as a whole token. The index
    * only PRUNES files; the row filter decides membership, so the
    * result is identical with or without an index — just cheaper. */
  def searchText(column: String, word: String): DataFrame = {
    require(isSearchToken(word),
      "searchText matches a single whole token: [A-Za-z0-9]+")
    textMatches(column, tokenHits(word, prefixMatch = false))(array_contains(split(
      coalesce(col(column).cast("string"), lit("")), GraftTable.TextTokenSplit), word))
  }

  /** Rows whose `column` contains EVERY word in `words` as a whole
    * token (Lucene boolean-AND counterpart). Pruning needs one
    * postings job regardless of word count. */
  def searchTextAll(column: String, words: Seq[String]): DataFrame = {
    require(words.nonEmpty && words.forall(isSearchToken),
      "searchTextAll takes whole tokens: [A-Za-z0-9]+")
    val tokens = split(
      coalesce(col(column).cast("string"), lit("")), GraftTable.TextTokenSplit)
    textMatches(column, allTokenHits(words))(
      words.distinct.map(w => array_contains(tokens, w)).reduce(_ && _))
  }

  /** Rows whose `column` contains AT LEAST ONE of `words` as a whole
    * token (Lucene boolean-OR counterpart). The candidate set is the
    * union of the per-token posting sets — one postings scan, and the
    * fail-open policy composes (an over-cap union keeps all covered
    * files). */
  def searchTextAny(column: String, words: Seq[String]): DataFrame = {
    require(words.nonEmpty && words.forall(isSearchToken),
      "searchTextAny takes whole tokens: [A-Za-z0-9]+")
    val tokens = split(
      coalesce(col(column).cast("string"), lit("")), GraftTable.TextTokenSplit)
    textMatches(column, anyTokenHits(words))(
      words.distinct.map(w => array_contains(tokens, w)).reduce(_ || _))
  }

  /** Rows whose `column` contains `words` as CONSECUTIVE whole tokens
    * (Lucene phrase-query counterpart). Pruning is the AND candidate
    * set — a file lacking any word cannot hold the phrase — and the
    * row filter verifies adjacency with an anchored regex
    * (`(^|sep)w1 sep+ w2 ... (sep|$)` where sep = non-alphanumeric),
    * the positional-verify step of a positions-free inverted index. */
  def searchTextPhrase(column: String, words: Seq[String]): DataFrame = {
    require(words.nonEmpty && words.forall(isSearchToken),
      "searchTextPhrase takes whole tokens: [A-Za-z0-9]+")
    val pattern = words.mkString(
      "(^|[^A-Za-z0-9])", "[^A-Za-z0-9]+", "([^A-Za-z0-9]|$)")
    textMatches(column, allTokenHits(words))(
      coalesce(col(column).cast("string"), lit("")).rlike(pattern))
  }

  /** Rows whose `column` contains a token starting with `prefix`
    * (Lucene prefix-query counterpart). The postings are sorted by
    * token, so the index probe is a `startsWith` range scan served by
    * parquet row-group stats; pruning semantics (fail-open, PK
    * merge units) match [[searchText]]. */
  def searchTextPrefix(column: String, prefix: String): DataFrame = {
    require(isSearchToken(prefix),
      "searchTextPrefix takes a token prefix: [A-Za-z0-9]+")
    textMatches(column, tokenHits(prefix, prefixMatch = true))(exists(split(
      coalesce(col(column).cast("string"), lit("")),
      GraftTable.TextTokenSplit), t => t.startsWith(prefix)))
  }

  /** Delete files under the table directory that no snapshot of any
    * branch references and that are older than `graceMillis` — debris
    * from writers that crashed between staging and commit (reference:
    * OrphanFilesClean.java / remove_orphan_files procedure). The grace
    * period protects files of in-flight commits. Returns deleted
    * paths. */
  def removeOrphanFiles(graceMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val referenced: Set[String] = {
      val sms = (None +: sm.branches.map(Option(_)))
        .map(b => new SnapshotManager(path, b, sm.io))
      // tags are full snapshot copies that outlive expiration of the
      // snapshot they were taken from — their files are referenced
      // even when no live snapshot lists them (reference:
      // OrphanFilesClean includes tagged snapshots)
      sms.flatMap(s => (s.snapshotIds.map(s.snapshot) ++ s.tagSnapshots).flatMap { sn =>
        (s.readManifestList(sn.manifestList) ++ sn.deltaManifest ++
          sn.changelogManifest).distinct.flatMap(s.readManifest)
          .flatMap(e => Seq(e.file.fileName) ++ e.file.dvFile ++
            e.file.indexFiles.map(_.values).getOrElse(Seq.empty)) ++
          sn.indexSidecars
      }).toSet ++
        // changelogs retained past their snapshot's expiration are
        // referenced by the retained registry, not by any snapshot
        sms.flatMap(s => s.retainedChangelogs.flatMap(r =>
          s.readManifest(r.manifest).map(_.file.fileName))).toSet
    }
    // blob files are content-addressed and shared across data files —
    // the referenced set comes from a distributed scan of the
    // descriptor columns of every referenced parquet file (one job; a
    // driver loop over payload metadata would not survive scale)
    val sch = schema
    val blobCols = graft.sources.BlobStorage.blobColumns(sch.options)
    val blobRefs: Set[String] =
      if (blobCols.isEmpty) Set.empty
      else {
        // manifests also reference files expiration already removed
        // (DELETE-superseded entries) — scan only what exists
        val dataFiles = referenced.filter(f =>
          f.startsWith("data/") && f.endsWith(".parquet") &&
            sm.io.exists(s"$path/$f")).toSeq
        if (dataFiles.isEmpty) Set.empty
        else {
          val phys = graft.sources.BlobStorage.physicalSchema(sch.toStruct, blobCols)
          val descs = spark.read
            .schema(StructType(blobCols.map(c => phys.fields(phys.fieldIndex(c)))))
            .parquet(dataFiles.map(f => s"$path/$f"): _*)
          blobCols.map(c => descs.select(col(s"$c.file")).filter(col(s"$c.file").isNotNull))
            .reduce(_ unionAll _).distinct()
            .collect().map(r => s"blob/${r.getString(0)}").toSet
        }
      }
    val cutoff = System.currentTimeMillis() - graceMillis
    val roots = Seq(s"$path/data", s"$path/index", s"$path/staging",
      s"$path/changelog", s"$path/index-dyn", s"$path/index-global",
      s"$path/index-sec", s"$path/blob", s"$path/patch")
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    roots.foreach { root =>
      val rp = Paths.get(root)
      if (Files.isDirectory(rp)) {
        graft.core.FsUtil.walkAll(rp).iterator
          .filter(Files.isRegularFile(_))
          .foreach { p =>
            val rel = Paths.get(path).relativize(p).toString
            // underscore-prefixed basenames are METADATA MARKERS, not
            // data: the partition-done `_SUCCESS` files written by
            // markIdlePartitionsDone / mark_partition_done are
            // referenced by no manifest by design — sweeping them would
            // silently un-mark 'done' partitions that downstream
            // schedulers poll (Hadoop convention: `_`-prefixed files
            // are invisible to readers)
            val marker = p.getFileName.toString.startsWith("_")
            if (!marker && !referenced.contains(rel) && !blobRefs.contains(rel) &&
              Files.getLastModifiedTime(p).toMillis < cutoff) {
              Files.deleteIfExists(p)
              deleted += rel
            }
          }
      }
    }
    // staging debris: ObjectStoreFileIO.tryCreateAtomic stages
    // `<key>.cput.<uuid>` and LocalFileIO stages `<path>.tmp.<uuid>`
    // next to the target — listings filter them out, but a crash
    // between write/createLink and the finally's delete leaves them
    // behind permanently — sweep both families past the grace period
    Seq(s"$path/snapshot", s"$path/schema").map(Paths.get(_))
      .filter(Files.isDirectory(_)).foreach { rp =>
        graft.core.FsUtil.walkAll(rp).iterator
          .filter(p => Files.isRegularFile(p) &&
            (p.getFileName.toString.contains(".cput.") ||
              p.getFileName.toString.contains(".tmp.")) &&
            Files.getLastModifiedTime(p).toMillis < cutoff)
          .foreach { p =>
            Files.deleteIfExists(p)
            deleted += Paths.get(path).relativize(p).toString
          }
      }
    // manifest orphans: delta manifests written by CAS losers before
    // their retry, manifest lists superseded mid-crash, and crashed
    // writeString `.tmp.` staging — referenced by nothing once the
    // race resolves, and (unlike data files) never covered by the
    // data-root walk above. The referenced set must span every
    // branch's snapshots AND tags AND the retained-changelog registry.
    val liveManifests: Set[String] = {
      val sms = (None +: sm.branches.map(Option(_)))
        .map(b => new SnapshotManager(path, b, sm.io))
      sms.flatMap(s => (s.snapshotIds.map(s.snapshot) ++ s.tagSnapshots)
        .flatMap(sn => (s.readManifestList(sn.manifestList) :+ sn.manifestList) ++
          sn.deltaManifest ++ sn.changelogManifest)).toSet ++
        sms.flatMap(s => s.retainedChangelogs.map(_.manifest)).toSet
    }
    val mdir = Paths.get(s"$path/manifest")
    if (Files.isDirectory(mdir)) {
      graft.core.FsUtil.walkAll(mdir).iterator
        .filter(p => Files.isRegularFile(p) &&
          !liveManifests.contains(p.getFileName.toString) &&
          Files.getLastModifiedTime(p).toMillis < cutoff)
        .foreach { p =>
          Files.deleteIfExists(p)
          deleted += Paths.get(path).relativize(p).toString
        }
    }
    deleted.toSeq
  }

  /** Roll back to an earlier snapshot, discarding later commits
    * (reference: rollback/rollback_to_timestamp procedures). */
  def rollback(snapshotId: Long): Seq[Long] = sm.rollbackTo(snapshotId)

  /** Roll back to the latest snapshot committed at or before
    * `epochMillis` (reference: RollbackToTimestampProcedure). */
  def rollbackToTimestamp(epochMillis: Long): Seq[Long] = {
    val id = sm.snapshotIds.map(sm.snapshot)
      .filter(_.timeMillis <= epochMillis).map(_.id).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot committed at or before $epochMillis"))
    sm.rollbackTo(id)
  }

  /** Roll back to the latest snapshot whose persisted watermark is at
    * or below `watermark` (reference: RollbackToWatermarkProcedure). */
  def rollbackToWatermark(watermark: Long): Seq[Long] = {
    val id = sm.snapshotIds.map(sm.snapshot)
      .filter(_.watermark.exists(_ <= watermark)).map(_.id).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot with watermark <= $watermark"))
    sm.rollbackTo(id)
  }

  // ================= branches =================

  /** Fork a branch (default: at the latest snapshot) and return a
    * handle writing/reading that branch (reference: create_branch). An
    * EMPTY table forks an empty, schema-only branch — the reference's
    * create_branch without a tag; chain-table setups branch before any
    * main-branch data exists. */
  def createBranch(name: String, fromSnapshot: Option[Long] = None): GraftTable = {
    fromSnapshot.orElse(sm.latestSnapshotId) match {
      case Some(id) => sm.createBranch(name, id)
      case None => sm.createEmptyBranch(name)
    }
    branchTable(name)
  }

  /** Handle on an existing branch. */
  def branchTable(name: String): GraftTable =
    new GraftTable(spark, path, new SnapshotManager(path, Some(name), sm.io))

  def deleteBranch(name: String): Unit = sm.deleteBranch(name)

  /** Replace main's history after the fork point with the branch's
    * (reference: fast_forward). */
  def fastForward(name: String): Unit = sm.fastForward(name)

  def branches: Seq[String] = sm.branches

  /** Re-bucket a fixed-bucket PK table: bump the schema with the new
    * bucket count and rewrite everything once through compaction (the
    * rewrite hashes keys with the NEW count; reference:
    * RescaleProcedure). All data moves exactly once; subsequent writes
    * and lookups use the new bucketing. */
  def rescale(newBuckets: Int): Option[Long] = {
    val sch = schema
    require(sch.primaryKeys.nonEmpty, "rescale applies to primary-key tables")
    require(!sch.isDynamicBucket, "dynamic-bucket tables size themselves")
    require(newBuckets > 0, "bucket count must be positive")
    if (sch.numBuckets == newBuckets) return None
    val rescaled = sch.copy(id = sch.id + 1,
      options = sch.options.updated("bucket", newBuckets.toString))
    sm.writeSchema(rescaled)
    compactEntries(rescaled, sm.latestSnapshot(), _ => true)
  }

  /** Rebuild every live file's index sidecars per the CURRENT index
    * options — one metadata commit re-adding the same data files with
    * fresh indexFiles (reference: RewriteFileIndexProcedure). Run
    * after changing `file-index.*` options to index existing data. */
  def rewriteFileIndex(): Option[Long] = {
    val snap = sm.latestSnapshot().getOrElse(return None)
    val entries = sm.liveEntries(snap)
    if (entries.isEmpty) return None
    val sch = schema
    val stripped = entries.map(e =>
      e.copy(kind = "ADD", file = e.file.copy(indexFiles = None, secIndexed = false)))
    val rebuilt = buildFileIndexes(sch, stripped)
    // full secondary-index rebuild: onboards files written before the
    // option was set (their secIndexed flag was false until now)
    val names = entries.map(_.file.fileName).toSet
    val (secMarked, secUpdate, secCids) = buildSecondaryIndex(sch, rebuilt,
      names.map(basename), forceFold = true)
    Some(sm.commit(entries.map(_.copy(kind = "DELETE")) ++ secMarked,
      KindOverwrite, sch.id,
      conflictCheck = latest =>
        names.subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet),
      secIndexUpdate = secUpdate,
      secCidsUpdate = secCids))
  }

  /** Set (or remove, with null) a table option — a new schema version;
    * existing data is untouched (pair with [[rewriteFileIndex]] for
    * index options, [[rescale]] for bucket count). */
  def setOption(key: String, value: String): Unit = {
    val sch = schema
    require(key != "bucket" || sch.primaryKeys.isEmpty,
      "use rescale() to change the bucket count of a PK table")
    require(key != "file.format" || value == null ||
      (Set("parquet", "orc").contains(value) && (value == "parquet" || !dvEnabled(sch))),
      "file.format must be parquet or orc; deletion vectors require parquet")
    require(key != DeletionVectors.OptionEnabled || value != "true" ||
      sch.fileFormat == "parquet",
      "deletion vectors require file.format=parquet (row_index metadata)")
    // toggling later would leave files with and without assigned ids
    require(key != GraftTable.RowTrackingEnabled,
      "row tracking is fixed at table creation")
    sm.writeSchema(sch.copy(id = sch.id + 1,
      options = if (value == null) sch.options - key
        else sch.options.updated(key, value)))
  }

  /** Sort-compact an append table: rewrite all live files clustered by
    * `zorder` (bit-interleaved) or `order` (lexicographic) so per-file
    * min/max stats become selective on the cluster columns (reference:
    * CompactProcedure order_strategy + SparkZOrderUDF → re-expressed
    * with codegen'd bit expressions + repartitionByRange).
    */
  def sortCompact(
      strategy: String, cols: Seq[String], targetFiles: Int = 0): Option[Long] = {
    val sch = schema
    require(sch.primaryKeys.isEmpty, "sort-compact applies to append tables")
    require(!GraftTable.tracksRows(sch),
      "sort-compact reorders rows and would reassign _ROW_ID on a row-tracking table")
    val snap = sm.latestSnapshot().getOrElse(return None)
    val old = sm.liveEntries(snap)
    if (old.isEmpty) return None
    val n = if (targetFiles > 0) targetFiles else math.max(old.size / 2, 1)
    val data = readAppendData(old, sch)
    // bucketed-append: the bucket routing is correctness-bearing (it
    // backs equality pruning), so the sort clusters WITHIN each bucket
    // instead of range-repartitioning globally
    val (clustered, partitionBy) =
      if (sch.isBucketedAppend) {
        val (routed, pb) = routeAppendBuckets(data, sch)
        (routed.sortWithinPartitions(cols.map(col).toIndexedSeq: _*), pb)
      } else (strategy match {
        case "zorder" => graft.operators.ZOrder.cluster(data, cols, n)
        case "hilbert" => graft.operators.ZOrder.clusterByHilbert(data, cols, n)
        case "order" => graft.operators.ZOrder.clusterByOrder(data, cols, n)
        case other => throw new IllegalArgumentException(s"unknown order strategy: $other")
      }, sch.partitionKeys)
    Some(commitFiles(clustered, sch, partitionBy, KindCompact,
      nextSeq(Some(snap)), commitIdentifier = -1L, deletes = old.map(_.copy(kind = "DELETE")),
      level = 1))
  }

  // ================= schema evolution =================

  /** Add a nullable column (new schema version; old files read as
    * null — reference: SchemaManager + SchemaChange.addColumn).
    *
    * A dotted `name` ("s.x", "a.b.c") adds a NESTED field inside an
    * existing struct column (reference: SchemaChange nested field
    * arrays). The top-level field keeps its id — old files align
    * nested fields by name through [[evolveColumn]] and read the new
    * field as null. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
      nullable: Boolean = true): Unit =
    addColumnAt(name.split('.').toSeq, dataType, nullable)

  /** Explicit-path form: a ONE-element path is a top-level column even
    * when its name contains dots (DSv2 TableChange field arrays
    * distinguish literal dots from nesting; the dotted-string
    * convenience above cannot and always treats '.' as nesting). */
  private[graft] def addColumnAt(
      path: Seq[String], dataType: org.apache.spark.sql.types.DataType,
      nullable: Boolean): Unit = {
    require(nullable, "added columns must be nullable (old files have no values)")
    val sch = schema
    if (path.size > 1) { nestedChange(sch, path, addLeaf = Some(dataType)); return }
    val name = path.head
    require(!sch.fields.exists(_.name == name), s"column $name already exists")
    val nextFieldId = sch.fields.map(_.id).max + 1
    sm.writeSchema(sch.copy(
      id = sch.id + 1,
      fields = sch.fields :+ Meta.FieldDef(nextFieldId, name, dataType.sql, nullable)))
  }

  /** Shared nested add/drop: navigate `parts` (top, a, b), rebuild the
    * top-level field's struct type with the leaf added (`addLeaf` set)
    * or removed (None), bump the schema. The top-level field id never
    * changes. */
  private def nestedChange(
      sch: TableSchema, parts: Seq[String],
      addLeaf: Option[org.apache.spark.sql.types.DataType]): Unit = {
    val path = parts.mkString(".")
    val topName = parts.head
    // bucket routing hashes key columns in their DECLARED type and
    // partition values are baked into directory paths — reshaping a
    // struct key would silently re-route keys away from their data
    // (same guard as top-level drop/rename/widen)
    require(!sch.primaryKeys.contains(topName) && !sch.partitionKeys.contains(topName),
      "cannot alter nested fields of primary-key or partition columns")
    val top = sch.fields.find(_.name == topName)
      .getOrElse(throw new IllegalArgumentException(s"no column $topName"))
    def rebuild(dt: DataType, rest: Seq[String]): DataType = dt match {
      case st: StructType =>
        val fname = rest.head
        if (rest.size == 1) addLeaf match {
          case Some(leaf) =>
            require(!st.fieldNames.contains(fname),
              s"nested field $path already exists")
            StructType(st.fields :+ StructField(fname, leaf, nullable = true))
          case None =>
            require(st.fieldNames.contains(fname), s"no nested field $path")
            require(st.fields.length > 1,
              s"cannot drop the last nested field of ${parts.init.mkString(".")}")
            StructType(st.fields.filterNot(_.name == fname))
        } else {
          val inner = st.fields.find(_.name == fname).getOrElse(
            throw new IllegalArgumentException(s"no nested field " +
              s"${(parts.take(parts.size - rest.size + 1)).mkString(".")}"))
          StructType(st.fields.map(f =>
            if (f.name == fname) f.copy(dataType = rebuild(f.dataType, rest.tail))
            else f))
        }
      case other => throw new IllegalArgumentException(
        s"${parts.take(parts.size - rest.size).mkString(".")} is ${other.sql}, " +
          "not a struct — nested changes need a struct path")
    }
    val newType = rebuild(sparkTypeOf(top.dataType), parts.tail)
    sm.writeSchema(sch.copy(
      id = sch.id + 1,
      fields = sch.fields.map(f =>
        if (f.name == topName) f.copy(dataType = newType.sql) else f)))
  }

  /** Rename a column. The field id is stable, so files written under
    * the old name keep reading through the new one (reference:
    * SchemaChange.renameColumn + field-id matching). Partition /
    * primary-key columns are immutable — their names are baked into
    * directory layout and bucket hashing. */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(!oldName.contains('.'),
      "nested fields have no stable ids — a nested rename would silently " +
        "null old files' data (drop + add instead, accepting the reset)")
    renameColumnImpl(oldName, newName)
  }

  /** Explicit-path form (see [[addColumnAt]]): 1-element paths rename
    * a top-level column even if its name holds literal dots; longer
    * paths are nested renames, rejected for the id-stability reason
    * above. */
  private[graft] def renameColumnAt(path: Seq[String], newName: String): Unit = {
    require(path.size == 1,
      "nested fields have no stable ids — a nested rename would silently " +
        "null old files' data (drop + add instead, accepting the reset)")
    renameColumnImpl(path.head, newName)
  }

  private def renameColumnImpl(oldName: String, newName: String): Unit = {
    val sch = schema
    require(sch.fields.exists(_.name == oldName), s"no column $oldName")
    require(!sch.fields.exists(_.name == newName), s"column $newName already exists")
    require(!sch.partitionKeys.contains(oldName) && !sch.primaryKeys.contains(oldName),
      "cannot rename partition or primary-key columns")
    // column-list options (index configs) track the rename: secondary-
    // index rows are keyed by stable field id, so updating the option
    // string keeps the index pruning under the new name; per-file
    // sidecars keyed by the old name just fail open on old files.
    val colListOptions = Set(GraftTable.SecIndexColumns,
      BloomIndex.OptionColumns, BitmapIndex.OptionColumns,
      BsiIndex.OptionColumns, RangeIndex.OptionColumns)
    val newOptions = sch.options.map { case (k, v) =>
      val k2 = if (k.startsWith(s"fields.$oldName."))
        k.replaceFirst(s"fields.$oldName.", s"fields.$newName.") else k
      val v2 = if (colListOptions.contains(k))
        v.split(",").map(_.trim).filter(_.nonEmpty)
          .map(c => if (c == oldName) newName else c).mkString(",")
      else v
      k2 -> v2
    }
    sm.writeSchema(sch.copy(
      id = sch.id + 1,
      fields = sch.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f),
      options = newOptions))
  }

  /** Drop a column (reference: SchemaChange.dropColumn). Old files keep
    * the physical column; reads project it away. A dotted `name` drops
    * a NESTED field inside a struct column (by-name alignment, see
    * [[addColumn]]). */
  def dropColumn(name: String): Unit = dropColumnAt(name.split('.').toSeq)

  /** Explicit-path form of [[dropColumn]] (see [[addColumnAt]]). */
  private[graft] def dropColumnAt(path: Seq[String]): Unit = {
    val sch = schema
    if (path.size > 1) { nestedChange(sch, path, addLeaf = None); return }
    val name = path.head
    require(sch.fields.exists(_.name == name), s"no column $name")
    require(!sch.partitionKeys.contains(name) && !sch.primaryKeys.contains(name),
      "cannot drop partition or primary-key columns")
    require(sch.fields.size > 1, "cannot drop the last column")
    sm.writeSchema(sch.copy(
      id = sch.id + 1,
      fields = sch.fields.filterNot(_.name == name),
      options = sch.options.filterNot(_._1.startsWith(s"fields.$name."))))
  }

  /** Widen a column's type; only information-preserving widenings are
    * allowed (reference: SchemaChange.updateColumnType guarded by
    * CastExecutors compatibility). Old files cast up on read. */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Unit = {
    require(!name.contains('.'),
      "nested type widening is not supported (per-file nested casts)")
    widenColumnImpl(name, to)
  }

  /** Explicit-path form (see [[addColumnAt]]). */
  private[graft] def widenColumnAt(
      path: Seq[String], to: org.apache.spark.sql.types.DataType): Unit = {
    require(path.size == 1,
      "nested type widening is not supported (per-file nested casts)")
    widenColumnImpl(path.head, to)
  }

  private def widenColumnImpl(
      name: String, to: org.apache.spark.sql.types.DataType): Unit = {
    val sch = schema
    // bucket routing hashes key columns in their DECLARED type and
    // partition values are baked into directory paths — widening either
    // would silently re-route keys away from their existing data
    require(!sch.primaryKeys.contains(name) && !sch.partitionKeys.contains(name),
      "cannot widen primary-key or partition columns")
    val f = sch.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    val from = sparkTypeOf(f.dataType)
    require(canWiden(from, to), s"cannot widen ${from.sql} to ${to.sql}")
    // existing bloom/bitmap/range sidecars canonicalized values in the
    // OLD type ("5" vs a probe's "5.0"); probing them post-widen would
    // wrong-prune, so the column leaves those option lists (PruneEval
    // consults only listed columns) — re-add + rewrite_file_index to
    // re-index. BSI stays: integral widenings keep the same slice
    // values and non-integral probe literals already fail open.
    val staleIndexOptions = Seq(BloomIndex.OptionColumns,
      BitmapIndex.OptionColumns, RangeIndex.OptionColumns)
    val newOptions = sch.options.map { case (k, v) =>
      if (staleIndexOptions.contains(k))
        k -> v.split(",").map(_.trim).filter(c => c.nonEmpty && c != name)
          .mkString(",")
      else k -> v
    }.filter { case (k, v) => !(staleIndexOptions.contains(k) && v.isEmpty) }
    sm.writeSchema(sch.copy(
      id = sch.id + 1,
      fields = sch.fields.map(x =>
        if (x.name == name) x.copy(dataType = to.sql) else x),
      options = newOptions))
  }

  /** ALTER COLUMN c SET/DROP NOT NULL (reference: SchemaManager
    * assertNullabilityChange + `alter-column-null-to-not-null.disabled`
    * — tightening nullable → NOT NULL is REJECTED unless the option is
    * explicitly 'false', because existing files may hold nulls the
    * metadata would then lie about; relaxing is always safe). */
  private[graft] def setColumnNullabilityAt(
      path: Seq[String], nullable: Boolean): Unit = {
    require(path.size == 1, "nested nullability changes are not supported")
    val name = path.head
    val sch = schema
    val f = sch.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    if (f.nullable == nullable) return
    if (!nullable && !sch.options
        .get("alter-column-null-to-not-null.disabled").contains("false"))
      throw new UnsupportedOperationException(
        s"Cannot update column $name from nullable to not null. Set " +
          "'alter-column-null-to-not-null.disabled'='false' to allow it " +
          "(existing files are not re-validated).")
    sm.writeSchema(sch.copy(
      id = sch.id + 1,
      fields = sch.fields.map(x =>
        if (x.name == name) x.copy(nullable = nullable) else x)))
  }

  private[graft] def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => false // no-op is a caller bug
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | FloatType | DoubleType) => true
    case (LongType, DoubleType) => true
    case (FloatType, DoubleType) => true
    case (d1: DecimalType, d2: DecimalType) =>
      d2.scale >= d1.scale && d2.precision - d2.scale >= d1.precision - d1.scale
    case (DateType, TimestampNTZType) => true
    case _ => false
  }

  // ================= row-level DML =================

  /** DELETE FROM t WHERE cond.
    * PK table → commit -D rows for matching keys; append table →
    * rewrite only the files that contain matches (reference:
    * DeleteFromPaimonTableCommand.scala:35). */
  def delete(cond: Column): Long = {
    val sch = schema
    val latest = sm.latestSnapshot()
    lazy val snap = latest.getOrElse(throw new IllegalStateException("empty table"))
    if (sch.primaryKeys.nonEmpty) {
      val victims = prunedPkRows(cond, sch, latest)
        .withColumn(KindCol, lit(KindDelete).cast("byte"))
      writeKinded(victims, sch = sch)
    } else if (metadataOnlyDeletableBy(sch, cond)) {
      // whole-partition drop: no data file is opened (reference:
      // OptimizeMetadataOnlyDeleteFromPaimonTable.scala:52)
      val victims = partitionsMatching(sch, sm.liveEntries(snap), cond)
      if (victims.isEmpty) snap.id
      else {
        val id = sm.commit(victims.map(_.copy(kind = "DELETE")), KindOverwrite, sch.id,
          conflictCheck = latest => victims.map(_.file.fileName).toSet
            .subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet))
        mirrorHmsDrops(sch, victims.map(_.partition).distinct)
        id
      }
    } else if (dvEnabled(sch)) {
      // mark positions instead of rewriting files (reference:
      // SparkDeletionVector write path)
      val touched = pruneEntries(snap, cond, sch)
      if (touched.isEmpty) return snap.id
      val entries = dvEntriesFor(touched, cond, sch)
      if (entries.isEmpty) return snap.id
      val deletedNames = entries.filter(_.kind == "DELETE").map(_.file.fileName).toSet
      sm.commit(entries, KindOverwrite, sch.id,
        conflictCheck = latest =>
          deletedNames.subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet))
    } else rewriteFiles(sch, snap, cond, df => df.filter(!coalesce(cond, lit(false))))
  }

  /** UPDATE t SET assignments WHERE cond (reference:
    * UpdatePaimonTableCommand.scala:37). */
  def update(assignments: Map[String, Column], cond: Column): Long = {
    val sch = schema
    val latest = sm.latestSnapshot()
    lazy val snap = latest.getOrElse(throw new IllegalStateException("empty table"))
    if (sch.primaryKeys.nonEmpty) {
      val updated = applyAssignments(prunedPkRows(cond, sch, latest), assignments, lit(true))
        .withColumn(KindCol, lit(KindUpdateAfter).cast("byte"))
      writeKinded(updated, sch = sch)
    } else if (dvEnabled(sch)) {
      // DV update = mark old positions deleted + append updated rows,
      // one atomic commit
      val touched = pruneEntries(snap, cond, sch)
      if (touched.isEmpty) return snap.id
      val updatedRows = applyAssignments(
        readAppendData(touched, sch).filter(cond), assignments, lit(true))
      val (routed, partitionBy) = routeAppendBuckets(updatedRows, sch)
      commitFilesFn(routed, sch, partitionBy, KindOverwrite,
        nextSeq(latest), commitIdentifier = -1L, _ => dvEntriesFor(touched, cond, sch))
    } else rewriteFiles(sch, snap, cond,
      df => applyAssignments(df, assignments, coalesce(cond, lit(false))))
  }

  /** Victim rows for PK-table DML: manifest-pruned on the condition's
    * key/partition conjuncts and — when the condition pins every
    * primary key by equality — restricted to the key's hash bucket, so
    * a single-key DELETE/UPDATE merges one bucket's files instead of
    * the whole table (reference intent: MergeIntoPaimonTable
    * .findTouchedFiles applied to plain DML). */
  private[graft] def prunedPkRows(cond: Column): DataFrame =
    prunedPkRows(cond, schema, sm.latestSnapshot())

  private def prunedPkRows(cond: Column, sch: TableSchema, snap: Option[Snapshot]): DataFrame =
    // planEntries already bucket-narrows (with the layout guard for
    // files written under an older bucket count/key set)
    mergedFromEntries(planEntries(cond, sch, snap), sch, snap).filter(cond)

  /** Bucket id implied by equality conjuncts on every bucket key
    * (fixed-bucket tables), by [[Buckets.bucketOf]]. A value that does
    * not cast to its key's type narrows nothing. */
  private[graft] def pkEqualityBucket(
      cond: Column, sch: TableSchema = schema): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    if (sch.isDynamicBucket) return None
    // hashing zero columns would "prune" to bucket hash(seed)=42%n —
    // only tables with a real distribution key participate
    val bk = sch.bucketKeys
    if (bk.isEmpty || (sch.primaryKeys.isEmpty && !sch.isBucketedAppend))
      return None
    val analyzed = emptyDf(sch).filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(return None)
    val eq = splitConjuncts(analyzed).collect {
      case EqualTo(a: AttributeReference, l: Literal) => a.name -> l
      case EqualTo(l: Literal, a: AttributeReference) => a.name -> l
    }.toMap
    // equality on the BUCKET KEYS alone suffices — with bucket-key ⊂
    // primary key this prunes queries that bind only the distribution
    // columns, which the full-pk requirement used to miss
    if (!bk.forall(eq.contains)) return None
    try Buckets.bucketOf(sch, bk, eq, sch.effectiveBuckets)
    catch { case _: IllegalArgumentException => None }
  }

  /** A DELETE whose predicate only touches partition columns can be
    * answered by dropping manifest entries — every row of a file shares
    * its partition values, so files match all-or-nothing. */
  private def metadataOnlyDeletableBy(sch: TableSchema, cond: Column): Boolean = {
    val partCols = sch.partitionKeys.toSet
    if (partCols.isEmpty) return false
    val analyzed = emptyDf(sch).filter(cond).queryExecution.analyzed
    val refs = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSet
    }
    refs.exists(r => r.nonEmpty && r.subsetOf(partCols))
  }

  /** Entries whose (constant) partition values satisfy `cond`,
    * evaluated exactly via a local partition-values DataFrame that
    * carries the raw directory strings through the filter. */
  private def partitionsMatching(sch: TableSchema,
      entries: Seq[ManifestEntry], cond: Column): Seq[ManifestEntry] = {
    val partFields = sch.toStruct.fields.filter(f => sch.partitionKeys.contains(f.name))
    val matching = partitionMapsMatching(sch, entries.map(_.partition).distinct, cond)
    entries.filter(e => matching.contains(
      partFields.map(f => f.name -> e.partition.getOrElse(f.name, null)).toMap))
  }

  /** The subset of `parts` (raw partition-value maps) whose decoded
    * values satisfy `cond`, evaluated exactly via a local DataFrame
    * carrying both the raw strings and their typed casts. Returned
    * maps are normalized to the partition fields (missing keys →
    * null), so callers must normalize before membership checks. */
  private def partitionMapsMatching(sch: TableSchema,
      parts: Seq[Map[String, String]], cond: Column): Set[Map[String, String]] = {
    val partFields = sch.toStruct.fields.filter(f => sch.partitionKeys.contains(f.name))
    if (parts.isEmpty) return Set.empty
    import scala.jdk.CollectionConverters._
    val rows = parts.map(p => org.apache.spark.sql.Row.fromSeq(
      partFields.map(f => p.getOrElse(f.name, null)).toSeq))
    val rawSchema = StructType(partFields.map(f =>
      StructField(s"__raw_${f.name}", StringType, nullable = true)))
    spark.createDataFrame(rows.asJava, rawSchema)
      .select(partFields.map(f => col(s"__raw_${f.name}")).toIndexedSeq ++
        partFields.map(f => col(s"__raw_${f.name}").cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      .filter(cond)
      .select(partFields.map(f => col(s"__raw_${f.name}")).toIndexedSeq: _*)
      .collect()
      .map(r => partFields.zipWithIndex.map { case (f, i) =>
        f.name -> r.getString(i) }.toMap)
      .toSet
  }

  /** Drop whole partitions in one metadata-only OVERWRITE commit (SQL
    * `ALTER TABLE ... DROP PARTITION` / `TRUNCATE ... PARTITION`
    * through SupportsAtomicPartitionManagement; reference:
    * PaimonPartitionManagement → commit.truncatePartitions). Each map
    * holds stringified values for a subset of the partition keys;
    * entries matching ANY of the specs are dropped. No data file is
    * opened. */
  def dropPartitions(parts: Seq[Map[String, String]]): Boolean = {
    val snap = sm.latestSnapshot().getOrElse(return false)
    val victims = sm.liveEntries(snap).filter(e =>
      parts.exists(p => p.forall { case (k, v) =>
        e.partition.get(k).contains(v) }))
    if (victims.isEmpty) return false
    val sch = schema
    sm.commit(victims.map(_.copy(kind = "DELETE")), KindOverwrite, sch.id,
      conflictCheck = latest => victims.map(_.file.fileName).toSet
        .subsetOf(sm.liveEntries(latest).map(_.file.fileName).toSet))
    mirrorHmsDrops(sch, victims.map(_.partition).distinct)
    true
  }

  /** Distinct live partitions (stringified values, write-side form). */
  def livePartitions(): Seq[Map[String, String]] =
    sm.latestSnapshot().map(s =>
      sm.liveEntries(s).map(_.partition).distinct).getOrElse(Seq.empty)

  /** Full changelog between two snapshots: -U/+U pairs for changed
    * keys, +I for new keys, -D for removed ones — derived lazily from
    * the two states (the full-compaction changelog producer's output,
    * computed on demand; reference:
    * FullChangelogMergeTreeCompactRewriter).
    *
    * Scale path: only keys appearing in the (from, to] delta files can
    * have changed, so both states are restricted to the touched
    * buckets and semi-joined on the touched keys before merging —
    * unchanged data never shuffles (vs. diffing two full snapshots,
    * which is three full-table shuffles). */
  def changelogBetween(fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    val sch = schema
    val pk = sch.primaryKeys
    require(pk.nonEmpty, "changelog requires a primary-key table")
    val touched = new Changes(sm, sch, Changes.NoOptions).touchedFiles(fromSnapshot, toSnapshot)
    val touchedKeys = readRaw(touched, sch)
      .select(pk.map(col).toIndexedSeq: _*).distinct()
    val buckets = touched.map(_.bucket).toSet
    // postpone tables: compaction moves rows out of the postpone
    // bucket, so a state spans every bucket
    def state(id: Long): DataFrame = {
      val entries = visibleEntries(sm.liveEntries(sm.snapshot(id)), sch)
        .filter(e => sch.isPostponeBucket || buckets.contains(e.bucket))
      MergeEngine.merge(
        readRaw(entries, sch).join(touchedKeys, pk, "left_semi"), sch)
    }
    stateDiff(state(fromSnapshot), state(toSnapshot), sch)
  }

  /** -U/+U/+I/-D rows between two merged states (full outer join on
    * primary key, change detection on the whole row — value-identical
    * re-writes never emit a pair, the diff formulation gives the
    * reference's `changelog-producer.row-deduplicate` for free).
    * `changelog-producer.row-deduplicate-ignore-fields` additionally
    * excludes listed columns from the comparison, so a row differing
    * only in e.g. an updated_at timestamp emits nothing (reference:
    * CHANGELOG_PRODUCER_ROW_DEDUPLICATE_IGNORE_FIELDS). */
  private def stateDiff(before0: DataFrame, after: DataFrame, sch: TableSchema): DataFrame = {
    val pk = sch.primaryKeys
    val cols = sch.toStruct.fieldNames
    val cmp = LookupChangelog.comparedColumns(sch)
    val before = before0.select(cols.map(c => col(c).as(s"__b_$c")).toIndexedSeq: _*)
    val joined = after.join(before,
      pk.map(k => col(k) === col(s"__b_$k")).reduce(_ && _), "full_outer")
    val inAfter = col(pk.head).isNotNull
    val inBefore = col(s"__b_${pk.head}").isNotNull
    val changed = !(struct_ord(cmp.map(col).toIndexedSeq: _*) <=>
      struct_ord(cmp.map(c => col(s"__b_$c")).toIndexedSeq: _*))
    // ONE pass over the joined rows (r17): each row emits its 0/1/2
    // changelog records as an exploded array — the old 4-way
    // unionAll(filter(joined)…) evaluated the full-outer join four
    // times (4× the plan mass, 4× the row passes even with exchange
    // reuse). A non-matching row emits NULL and explode drops it.
    def afterStruct(kind: String) = struct_ord(
      (cols.map(col) :+ lit(kind).as("_row_kind")).toIndexedSeq: _*)
    def beforeStruct(kind: String) = struct_ord(
      (cols.map(c => col(s"__b_$c").as(c)) :+ lit(kind).as("_row_kind")).toIndexedSeq: _*)
    val emitted =
      when(inAfter && !inBefore, array(afterStruct("+I")))
        .when(!inAfter && inBefore, array(beforeStruct("-D")))
        .when(inAfter && inBefore && changed,
          array(beforeStruct("-U"), afterStruct("+U")))
    joined.select(explode(emitted).as("__cl")).select(col("__cl.*"))
  }

  /** Persisted per-commit changelog (changelog-producer = lookup):
    * before committing a PK batch, find the pre-image of each of the
    * batch's keys and write the exact -U/+U/+I/-D rows as changelog
    * files; incremental readers then serve them directly instead of
    * re-deriving (reference: LookupChangelogMergeFunctionWrapper /
    * LookupMergeTreeCompactRewriter — the lookup cost is paid once at
    * write time).
    *
    * Tables inside the [[bucketLocal]] gate build it in the bucket
    * writer's tasks instead ([[writeBuckets]]). Here the pre-image
    * state of the batch's keys (bucket-pruned + semi-joined, never a
    * full scan) of the `live` files is diffed against the post-merge
    * state. */
  private def buildChangelog(
      sch: TableSchema, out: DataFrame, live: Seq[ManifestEntry]): Option[String] = {
    val pk = sch.primaryKeys
    val batchKeys = out.select(pk.map(col).toIndexedSeq: _*).distinct()
    val buckets = out.select("__bucket").distinct().collect().map(_.getInt(0)).toSet
    val rawOld = readRaw(live.filter(e => buckets.contains(e.bucket)), sch)
      .join(batchKeys, pk, "left_semi")
    // every merge engine here is ASSOCIATIVE (deduplicate/first-row =
    // ordered pick, partial-update = per-field ordered pick,
    // aggregation = combinable states), so the post-state folds the
    // batch onto the ALREADY-MERGED before-state instead of re-merging
    // all raw versions — one full merge of the touched buckets per
    // commit, not two (reference pays this inside compaction's
    // existing merge: LookupChangelogMergeFunctionWrapper). Both states
    // keep their winners' sequences and kinds: a retraction that wins
    // over a batch row leaves the key absent after the commit too.
    val before = MergeEngine.mergeKeepMeta(rawOld, sch).persist()
    def present(state: DataFrame): DataFrame =
      state.filter(col(KindCol) =!= KindDelete && col(KindCol) =!= KindUpdateBefore)
        .select(sch.toStruct.fieldNames.map(col).toIndexedSeq: _*)
    try {
      val after = MergeEngine.mergeKeepMeta(
        before.unionByName(out, allowMissingColumns = true), sch)
      persistChangelog(stateDiff(present(before), present(after), sch), sch)
    } finally before.unpersist()
  }

  /** Write -U/+U/+I/-D rows as changelog files + their manifest.
    * `changelog-file.compression` / `.prefix` / `.stats-mode`
    * (reference: CoreOptions CHANGELOG_FILE_COMPRESSION /
    * CHANGELOG_FILE_PREFIX / CHANGELOG_FILE_STATS_MODE) shape the
    * persisted files independently of the data-file knobs — changelog
    * volume can dwarf data volume on update-heavy tables, so a lighter
    * codec / no stats is a real lever there. */
  private def persistChangelog(
      diff: DataFrame, sch: TableSchema): Option[String] = {
    val clDir = s"changelog/${UUID.randomUUID()}"
    // Right-size the changelog files (r17, guide §6): the raw diff
    // inherits its plan's partitioning (commonly the scan split count),
    // spraying dozens of near-empty parquet files per commit whose
    // footers the stats loop below then reads one by one. A hash
    // repartition on the primary key with NO explicit partition count
    // is deterministic (safe under task retry, unlike round-robin) and
    // AQE-coalesces to the advisory partition size — one file at gate
    // scale, 64 MB-sized files at real scale.
    val sized = diff.repartition(sch.primaryKeys.map(col).toIndexedSeq: _*)
    withMicrosTimestamps {
      sized.write.options(changelogWriteOptions(sch)).parquet(s"$path/$clDir")
    }
    val files = graft.core.FsUtil.walkAll(Paths.get(s"$path/$clDir")).iterator
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq
    changelogManifest(sch, clDir, files.map(_ -> None))
  }

  /** Move the changelog files a [[writeBuckets]] job staged in
    * `clStaging` (one attempt per task) into a changelog directory and
    * write their manifest from the tasks' `metas` (by staged name). */
  private def adoptChangelog(
      clStaging: String, metas: Map[String, DataFileMeta], sch: TableSchema): Option[String] = {
    val clDir = s"changelog/${UUID.randomUUID()}"
    val dir = Paths.get(clStaging)
    val staged = if (!Files.isDirectory(dir)) Seq.empty else adoptAttempts(
      graft.core.FsUtil.walkAll(dir).filter(p =>
        p.toString.endsWith(".parquet") && Files.isRegularFile(p)))
    changelogManifest(sch, clDir, staged.map { p =>
      val name = p.getFileName.toString
      val target = Paths.get(s"$path/$clDir/$name")
      sm.io.rename(p.toString, target.toString)
      target -> metas.get(name)
    })
  }

  /** The manifest of the changelog `files` in `clDir`, each with its
    * metadata when known (its footer is read otherwise).
    * `changelog-file.prefix` renames them and `changelog-file.stats-mode`
    * bounds their stats. */
  private def changelogManifest(sch: TableSchema, clDir: String,
      files0: Seq[(java.nio.file.Path, Option[DataFileMeta])]): Option[String] = {
    // prefix renames keep the uuid (collision-free) behind the
    // operator-visible marker, like data-file.prefix does
    val files = sch.options.get("changelog-file.prefix") match {
      case Some(prefix) => files0.map { case (p, m) =>
        val renamed = p.resolveSibling(prefix + p.getFileName.toString)
        sm.io.rename(p.toString, renamed.toString)
        renamed -> m
      }
      case None => files0
    }
    val clMode = sch.options.getOrElse("changelog-file.stats-mode", "full")
    val clModes = {
      val m = graft.core.StatsModes.uniformModes(sch, clMode)
      // the changelog's extra string column follows the same mode
      if (m.isEmpty) m else m + ("_row_kind" -> clMode.trim)
    }
    val entries = files.map { case (p, known) =>
      val rel = s"$clDir/${p.getFileName}"
      val m = known.getOrElse(ParquetStats.read(hadoopConf, p.toString, rel, level = 0,
        minSeq = 0L, maxSeq = 0L)).copy(fileName = rel, minSeq = 0L, maxSeq = 0L,
        schemaId = sch.id)
      if (clModes.isEmpty) ManifestEntry("ADD", Map.empty, 0, m)
      else ManifestEntry("ADD", Map.empty, 0,
        m.copy(stats = graft.core.StatsModes.apply(m.stats, clModes)))
    }
    // a no-change commit still records an EMPTY changelog manifest:
    // readers must see "exact changelog: nothing" rather than fall
    // back to re-deriving from delta files
    if (entries.forall(_.file.rowCount == 0)) {
      deleteRecursive(Paths.get(s"$path/$clDir"))
      Some(sm.writeManifest(Seq.empty, sch.options))
    } else Some(sm.writeManifest(entries.filter(_.file.rowCount > 0), sch.options))
  }

  /** Rows of persisted changelog files (`_row_kind` last). */
  private def readChangelogFiles(entries: Seq[ManifestEntry], sch: TableSchema): DataFrame = {
    val clSchema = StructType(sch.toStruct.fields :+
      StructField("_row_kind", org.apache.spark.sql.types.StringType, nullable = false))
    if (entries.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], clSchema)
    else
      spark.read.schema(clSchema)
        .parquet(entries.map(e => s"$path/${e.file.fileName}"): _*)
  }

  private def dvEnabled(sch: TableSchema): Boolean =
    sch.options.get(DeletionVectors.OptionEnabled).contains("true")

  /** DELETE+re-ADD entry pairs attaching (merged) deletion vectors for
    * every touched file; fully-deleted files are just dropped.
    *
    * The per-file bitmaps are merged with any existing sidecar and
    * written back INSIDE the aggregation job — only (file, sidecar
    * path, cardinality) tuples reach the driver, never bitmap bytes,
    * so a DELETE touching 100k files doesn't funnel 100k bitmaps
    * through one process (same executor-side-sidecar shape as
    * buildFileIndexes). */
  private def dvEntriesFor(
      touched: Seq[ManifestEntry], cond: Column, sch: TableSchema): Seq[ManifestEntry] = {
    val agg = udaf(new DeletionVectors.BitmapAgg)
    val fileMeta: Map[String, (Long, Option[String])] =
      touched.map(e => basename(e.file.fileName) ->
        (e.file.rowCount, e.file.dvFile)).toMap
    val io = sm.io
    val tableRoot = path
    import spark.implicits._
    val written: Array[(String, Option[String], Long)] = readRaw(touched, sch)
      .filter(cond)
      .select(expr("_metadata.file_path").as("__f"),
        expr("_metadata.row_index").as("__i"))
      .groupBy("__f").agg(agg(col("__i")).as("bm"))
      .as[(String, Array[Byte])]
      .map { case (f, fresh) =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        val (rowCount, oldRel) = fileMeta(name)
        val merged = oldRel match {
          case Some(o) => DeletionVectors.union(
            io.readBytes(s"$tableRoot/$o"), fresh)
          case None => fresh
        }
        val card = DeletionVectors.cardinality(merged)
        if (card >= rowCount) (name, None: Option[String], card)
        else {
          val rel = s"index/${java.util.UUID.randomUUID()}.dv"
          io.writeBytes(s"$tableRoot/$rel", merged)
          (name, Some(rel), card)
        }
      }
      .collect()
    val byName = written.map(w => w._1 -> (w._2, w._3)).toMap
    touched.flatMap { e =>
      byName.get(basename(e.file.fileName)) match {
        case None => Seq.empty // pruned file had no actual matches
        case Some((None, _)) => Seq(e.copy(kind = "DELETE")) // fully deleted
        case Some((Some(rel), card)) =>
          Seq(e.copy(kind = "DELETE"), e.copy(kind = "ADD",
            file = e.file.copy(dvFile = Some(rel), dvCardinality = Some(card))))
      }
    }
  }

  private def applyAssignments(
      df: DataFrame, assignments: Map[String, Column], when_ : Column): DataFrame =
    df.select(df.columns.map { c =>
      assignments.get(c)
        .map(v => when(when_, v).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }.toIndexedSeq: _*)

  /** Replace `replaced` files with the parquet already staged at
    * `staging` in one OVERWRITE snapshot — the commit half of the SQL
    * row-level (COPY_ON_WRITE) write. */
  private[graft] def replaceFiles(staging: String, replaced: Seq[ManifestEntry]): Long = {
    val sch = schema
    val stagedNonEmpty = graft.core.FsUtil.walkAll(Paths.get(staging))
      .exists(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
    if (sch.isBucketedAppend && stagedNonEmpty) {
      // Spark's ReplaceData writer factory lays staged files out by
      // partition dirs only — adopting them directly would strand the
      // rewritten rows in bucket-0 entries that bucket-equality
      // pruning skips. Re-route through the same helper every other
      // append commit uses; the extra rewrite touches only the
      // replaced files' rows.
      val df = spark.read.option("basePath", staging)
        .schema(sch.toStruct).parquet(staging)
      val (routed, partitionBy) = routeAppendBuckets(df, sch)
      val id = commitFiles(routed, sch, partitionBy, KindOverwrite,
        nextSeq(sm.latestSnapshot()), commitIdentifier = -1L,
        deletes = replaced.map(_.copy(kind = "DELETE")))
      try { // staged files were copied, not adopted — sweep them
        graft.core.FsUtil.walkAll(Paths.get(staging)).sortBy(-_.getNameCount)
          .foreach(p => Files.deleteIfExists(p))
        Files.deleteIfExists(Paths.get(staging))
      } catch { case _: Exception => () }
      id
    } else commitStagedDir(staging, sch, KindOverwrite, nextSeq(sm.latestSnapshot()),
      commitIdentifier = -1L, _ => replaced.map(_.copy(kind = "DELETE")))
  }

  /** Route an append frame back to its fixed buckets when the table
    * is bucketed-append — EVERY append commit path must do this, or a
    * rewrite would strand rows in bucket-0 files that bucket-equality
    * pruning then skips (wrong answers, not just a slow plan). */
  private def routeAppendBuckets(
      df: DataFrame, sch: TableSchema): (DataFrame, Seq[String]) =
    if (!sch.isBucketedAppend) (df, sch.partitionKeys)
    else (Buckets.route(df, sch, sch.bucketKeys, sch.numBuckets),
      sch.partitionKeys :+ "__bucket")

  /** Copy-on-write rewrite of the files that contain rows matching
    * `touchCond`; untouched files are carried over unchanged. */
  private def rewriteFiles(sch: TableSchema, snap: => Snapshot, touchCond: Column,
      transform: DataFrame => DataFrame): Long = {
    require(!GraftTable.tracksRows(sch), "copy-on-write rewrite would reassign _ROW_ID; " +
      s"enable ${DeletionVectors.OptionEnabled} for row-level changes on row-tracking tables")
    val touched = pruneEntries(snap, touchCond, sch)
    if (touched.isEmpty) return snap.id
    val rewritten = transform(readRaw(touched, sch)
      .select(sch.toStruct.fieldNames.map(col).toIndexedSeq: _*))
    val (routed, partitionBy) = routeAppendBuckets(rewritten, sch)
    commitFiles(routed, sch, partitionBy, KindOverwrite,
      nextSeq(Some(snap)), commitIdentifier = -1L,
      deletes = touched.map(_.copy(kind = "DELETE")))
  }

  /** CDC ingestion: apply one change batch carrying a row-kind label
    * column (`+I`/`-U`/`+U`/`-D`, or lenient `I`/`U`/`D` /
    * `INSERT`/`UPDATE_AFTER`/`UPDATE_BEFORE`/`DELETE`) to this
    * primary-key table, evolving the table schema FIRST when the batch
    * introduces new columns or wider types — the batch shape drives
    * AddColumn / widening exactly like the reference's CDC schema
    * evolution (reference: paimon-flink-cdc RichCdcRecord +
    * UpdatedDataFieldsProcessFunctionBase.applySchemaChange,
    * re-expressed as a batch DataFrame apply; streams drive it per
    * epoch through foreachBatch with `commitIdentifier` for
    * exactly-once replay).
    *
    * Kind semantics: `-D` retracts the key; `+I`/`+U` upsert the full
    * row (the LSM merge collapses to the latest image); `-U`
    * before-images carry no new state and are dropped. Columns the
    * batch omits upsert as NULL — CDC sources ship full after-images,
    * partial patches belong to merge-engine=partial-update. */
  def applyChanges(
      changes: DataFrame, kindCol: String = "_row_kind",
      commitIdentifier: Long = -1L): Long = {
    val sch0 = schema
    require(sch0.primaryKeys.nonEmpty, "CDC apply requires a primary-key table")
    require(changes.columns.contains(kindCol),
      s"change batch must carry the '$kindCol' row-kind column")
    // an empty micro-batch (or all-tombstone compacted topic) infers
    // no payload columns at all — a no-op, not a schema violation
    if (!changes.columns.exists(_ != kindCol))
      return sm.latestSnapshotId.getOrElse(-1L)
    val incoming = changes.drop(kindCol).schema
    sch0.primaryKeys.foreach(k => require(incoming.fieldNames.contains(k),
      s"change batch must carry primary-key column $k"))
    // 1. schema evolution from the batch's shape: new columns are
    // added, widenable types widen; anything else casts to the
    // declared type below (the reference likewise ignores
    // non-convertible changes)
    var evolved = false
    incoming.fields.foreach { f =>
      sch0.fields.find(_.name == f.name) match {
        case None => addColumn(f.name, f.dataType); evolved = true
        case Some(cur0) =>
          val cur = sparkTypeOf(cur0.dataType)
          if (cur != f.dataType && canWiden(cur, f.dataType) &&
            !sch0.primaryKeys.contains(f.name) &&
            !sch0.partitionKeys.contains(f.name)) {
            widenColumn(f.name, f.dataType); evolved = true
          }
      }
    }
    // the write commits the version the evolution ended on
    val sch = if (evolved) schema else sch0
    // 2. kind mapping; before-images drop out
    val k = upper(trim(col(kindCol)))
    val del = k.isin("-D", "D", "DELETE")
    val before = k.isin("-U", "UPDATE_BEFORE")
    // 3. project to the evolved schema (omitted columns → NULL)
    val cols = sch.toStruct.fields.map { f =>
      if (incoming.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq
    val kinded = changes.filter(!before)
      .withColumn(KindCol,
        when(del, lit(KindDelete)).otherwise(lit(KindUpdateAfter)).cast("byte"))
      .select(cols :+ col(KindCol): _*)
    writeKinded(kinded, commitIdentifier, sch = sch)
  }

  /** MERGE INTO on primary keys (reference:
    * MergeIntoPaimonTable.scala:45). `source` must carry the table's
    * schema. Clause semantics:
    *  - matched + `whenMatchedDelete` cond      → -D
    *  - matched otherwise (update w/ source row, or assignment map
    *    evaluated over source columns)          → +U
    *  - not matched (target miss)               → +I if insert enabled
    */
  def mergeInto(
      source: DataFrame,
      whenMatchedUpdate: Option[Map[String, Column]] = None,
      whenMatchedDelete: Option[Column] = None,
      whenNotMatchedInsert: Boolean = true): Long = {
    val sch = schema
    val pk = sch.primaryKeys
    require(pk.nonEmpty, "MERGE INTO requires a primary-key table")
    val cols = sch.toStruct.fieldNames
    // the source is consumed twice (bucket-set collect + the join) —
    // pin it so an expensive source query computes once
    val src = source.select(cols.map(col).toIndexedSeq: _*).persist()
    try mergeIntoPinned(src, sch, sm.latestSnapshot(), pk, cols,
      whenMatchedUpdate, whenMatchedDelete, whenNotMatchedInsert)
    finally src.unpersist()
  }

  /** Manifest-bytes broadcast gate shared by the MERGE INTO target
    * slice and the cross-partition routing join — the SAME policy the
    * streaming lookup join applies (GraftStreaming.lookupJoin): bytes
    * from the manifests' exact per-file sizes, never a row count or
    * Spark's post-transform estimate (which degrades through merge
    * aggregations and can let AQE broadcast a slice that decompresses
    * to several× its on-disk bytes). Under the threshold the side
    * broadcasts; over it the join is PINNED to sort-merge — safe for
    * two arbitrarily large sides, unlike a shuffle-hash build.
    * Threshold: `join.broadcast-max-bytes` (default 64 MB, mirroring
    * lookupJoin's default). */
  private def sizeGatedBuildSide(
      sch: TableSchema, df: DataFrame, estBytes: Long, site: String): DataFrame = {
    val maxBytes = sch.options.get("join.broadcast-max-bytes")
      .map(GraftTable.parseBytes).getOrElse(64L << 20)
    val bc = estBytes <= maxBytes
    if (GraftTable.joinGateDecisions.size() > 64)
      GraftTable.joinGateDecisions.clear()
    GraftTable.joinGateDecisions.add((site, estBytes, bc))
    if (bc) broadcast(df) else df.hint("merge")
  }

  /** Live entries that can hold rows whose primary-key values appear
    * in `src` — bucket pruning shared by MERGE INTO and the streaming
    * partial lookup join (reference intent:
    * MergeIntoPaimonTable.findTouchedFiles /
    * PrimaryKeyPartialLookupTable.java:60): only buckets the source's
    * keys hash into (fixed buckets) or are index-assigned to (dynamic
    * buckets) can contain matches, so a reader joins just those files
    * (plus any [[mayHoldBucket]] keeps, e.g. mid-rescale files). The
    * one job this runs collects BUCKET IDS (bounded by the bucket
    * count), never rows. */
  private[graft] def entriesForKeys(
      src: DataFrame, sch: TableSchema, snap: Option[Snapshot]): Seq[ManifestEntry] = {
    val pk = sch.primaryKeys
    require(pk.nonEmpty, "key-pruned reads require a primary-key table")
    val liveNow = snap.toSeq.flatMap(sm.liveEntries)
    // dynamic buckets: a key's bucket is index-assigned, not hash-
    // derivable — but the persisted index answers which buckets hold
    // source keys (source keys absent from it can't match any target;
    // a pre-index table reads everything). Fixed buckets: the hash of
    // the source's key columns, cast to the table's key types.
    val bucketIds =
      if (!sch.isDynamicBucket)
        Some(src.select(Buckets.column(sch, sch.bucketKeys, sch.effectiveBuckets)))
      else snap.flatMap(dynIndexDf(sch, _)).map(idx =>
        src.select(pk.map(col).toIndexedSeq: _*).join(idx, pk).select("__bucket"))
    bucketIds.fold(liveNow) { ids =>
      liveNow.filter(mayHoldBucket(sch, ids.distinct().collect().map(_.getInt(0)).toSet))
    }
  }

  private def mergeIntoPinned(
      src: DataFrame, sch: TableSchema, snap: Option[Snapshot], pk: Seq[String],
      cols: Array[String],
      whenMatchedUpdate: Option[Map[String, Column]],
      whenMatchedDelete: Option[Column],
      whenNotMatchedInsert: Boolean): Long = {
    // Bucket-pruned target: a 1%-of-buckets merge pays ~1% of the
    // scan, not 100%. Unmatched target rows are never rewritten, so
    // skipping their files is safe.
    val touched = entriesForKeys(src, sch, snap)
    // manifest-bytes broadcast gate, same policy as the streaming
    // lookup join: Spark's own estimate of the merged slice degrades
    // through the merge aggregation, so decide from the EXACT file
    // sizes the manifests carry — broadcast a small touched slice,
    // pin sort-merge for a wide one (a mis-broadcast decompresses to
    // several× the on-disk bytes and OOMs at scale)
    val tgt = sizeGatedBuildSide(sch,
      mergedFromEntries(touched, sch, snap)
        .select(cols.map(c => col(c).as(s"__t_$c")).toIndexedSeq: _*),
      touched.map(_.file.fileSize).sum, "merge-into")
    val joined = src.join(tgt,
      pk.map(k => col(k) === col(s"__t_$k")).reduce(_ && _), "left_outer")
    val matched = col(s"__t_${pk.head}").isNotNull
    val deleteCond = whenMatchedDelete.getOrElse(lit(false))
    // assignments apply to MATCHED rows only — not-matched source rows
    // become +I inserts with their raw source values
    val updated = whenMatchedUpdate match {
      case Some(m) => applyAssignments(joined, m, matched)
      case None => joined
    }
    val kind =
      when(matched && deleteCond, lit(KindDelete))
        .when(matched, lit(KindUpdateAfter))
        .otherwise(lit(if (whenNotMatchedInsert) KindInsert else KindDelete))
    val actions = updated
      .withColumn(KindCol, kind.cast("byte"))
      .filter(matched || lit(whenNotMatchedInsert))
      .select((cols.map(col) :+ col(KindCol)).toIndexedSeq: _*)
    writeKinded(actions, sch = sch)
  }

  // ================= statistics (ANALYZE) =================

  /** ANALYZE TABLE: per-column count/nulls/NDV/min/max/avg-length
    * persisted next to the current snapshot (reference:
    * PaimonAnalyzeTableColumnCommand + StatsFileHandler). */
  def analyze(): Unit = {
    val snapId = sm.latestSnapshotId.getOrElse(
      throw new IllegalStateException("empty table"))
    val df = read
    val fields = df.schema.fields.toSeq
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val strMinMax = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType =>
          Seq(lit(null).cast("string").as(s"min_${f.name}"),
            lit(null).cast("string").as(s"max_${f.name}"))
        case _ =>
          Seq(min(c).cast("string").as(s"min_${f.name}"),
            max(c).cast("string").as(s"max_${f.name}"))
      }
      // avgLen: variable-width types measure real lengths; fixed-width
      // types report their storage size as a constant (Spark's own
      // ANALYZE convention) — the old form cast EVERY value of EVERY
      // column to string just to take its rendered length, which
      // dominated the stats scan (r17)
      val lenExpr = f.dataType match {
        case StringType | BinaryType | _: ArrayType | _: MapType | _: StructType =>
          avg(length(c.cast("string")))
        case dt => when(count(c) > 0, lit(dt.defaultSize.toDouble))
          .otherwise(lit(null).cast("double"))
      }
      Seq(count(c).as(s"cnt_${f.name}"),
        approx_count_distinct(c).as(s"ndv_${f.name}"),
        lenExpr.as(s"len_${f.name}")) ++ strMinMax
    }
    val row = df.agg(count(lit(1)).as("__rows"), aggs: _*).head()
    val rowCount = row.getAs[Long]("__rows")
    val cols = fields.map { f =>
      f.name -> Meta.ColAnalyzed(
        count = row.getAs[Long](s"cnt_${f.name}"),
        nullCount = rowCount - row.getAs[Long](s"cnt_${f.name}"),
        ndv = row.getAs[Long](s"ndv_${f.name}"),
        min = Option(row.getAs[String](s"min_${f.name}")),
        max = Option(row.getAs[String](s"max_${f.name}")),
        avgLen = Option(row.getAs[Any](s"len_${f.name}"))
          .map(_.asInstanceOf[Double]))
    }.toMap
    sm.io.writeString(s"$path/stats/stats-$snapId.json",
      Json.write(Meta.TableStats(snapId, rowCount, cols)))
  }

  /** Latest ANALYZE result, if any. */
  def statistics: Option[Meta.TableStats] = {
    val ids = sm.io.list(s"$path/stats").map(_.split('/').last)
      .collect { case s if s.startsWith("stats-") && s.endsWith(".json") =>
        s.stripPrefix("stats-").stripSuffix(".json").toLong }
    ids.sorted.lastOption.map(id =>
      Json.read(sm.io.readString(s"$path/stats/stats-$id.json"),
        classOf[Meta.TableStats]))
  }

  /** `$statistics` system table. */
  def systemStatistics: DataFrame = {
    import spark.implicits._
    statistics.toSeq.flatMap { st =>
      st.cols.toSeq.map { case (name, c) =>
        (st.snapshotId, st.rowCount, name, c.count, c.nullCount, c.ndv,
          c.min.orNull, c.max.orNull)
      }
    }.toDF("snapshot_id", "row_count", "column", "count", "null_count",
      "ndv", "min", "max")
  }

  // ================= system tables =================

  /** `$snapshots` (reference: table/system/SnapshotsTable.java:78). */
  def systemSnapshots: DataFrame = {
    import spark.implicits._
    sm.snapshotIds.map(sm.snapshot).map(s =>
      (s.id, s.schemaId, s.commitKind, s.commitIdentifier,
        s.commitUser.orNull, s.timeMillis,
        s.totalRecordCount, s.deltaRecordCount))
      .toDF("snapshot_id", "schema_id", "commit_kind", "commit_identifier",
        "commit_user", "commit_time", "total_record_count", "delta_record_count")
  }

  /** `$files` incl. per-column stats maps (reference:
    * table/system/FilesTable.java:89 — null_value_counts /
    * min_value_stats / max_value_stats columns). */
  def systemFiles: DataFrame = {
    import spark.implicits._
    val entries = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
    entries.map { e =>
      (e.file.fileName, e.partition.map { case (k, v) => s"$k=$v" }.mkString("/"),
        e.bucket, e.file.rowCount, e.file.fileSize, e.file.level,
        e.file.stats.map { case (c, s) => c -> s.nullCount },
        e.file.stats.collect { case (c, s) if s.min.isDefined => c -> s.min.get },
        e.file.stats.collect { case (c, s) if s.max.isDefined => c -> s.max.get })
    }.toDF("file_name", "partition", "bucket", "row_count", "file_size", "level",
      "null_value_counts", "min_value_stats", "max_value_stats")
  }

  /** `$tags`. */
  def systemTags: DataFrame = {
    import spark.implicits._
    sm.tags.toSeq.map { case (n, id) => (n, id) }.toDF("tag_name", "snapshot_id")
  }

  /** `$manifests`: manifests of the latest snapshot (reference:
    * table/system/ManifestsTable.java). */
  def systemManifests: DataFrame = {
    import spark.implicits._
    sm.latestSnapshot().toSeq.flatMap { s =>
      sm.readManifestList(s.manifestList).map { m =>
        val entries = sm.readManifest(m)
        (m, entries.count(_.kind == "ADD"), entries.count(_.kind == "DELETE"))
      }
    }.toDF("manifest_name", "num_added_files", "num_deleted_files")
  }

  /** `$partitions`: live per-partition row/file/size rollup (reference:
    * table/system/PartitionsTable.java). */
  def systemPartitions: DataFrame = {
    import spark.implicits._
    val entries = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
    val keys = schema.partitionKeys
    entries.groupBy(_.partition).map { case (p, es) =>
      // path built in DECLARED key order (the map's own iteration
      // order scrambles past 4 keys — markers are written key-ordered)
      val dir = keys.map(k => s"$k=${p.getOrElse(k, "")}").mkString("/")
      // `done` surfaces the mark_partition_done / idle-time-to-done
      // success marker so downstream schedulers can poll via SQL
      val done = keys.nonEmpty &&
        Files.exists(Paths.get(s"$path/data/$dir/_SUCCESS"))
      (dir,
        es.map(e => e.file.rowCount - e.file.dvCardinality.getOrElse(0L)).sum,
        es.size.toLong, es.map(_.file.fileSize).sum, done)
    }.toSeq.toDF("partition", "record_count", "file_count", "total_size", "done")
  }

  /** `$schemas`: every schema version (reference:
    * table/system/SchemasTable.java). */
  def systemSchemas: DataFrame = {
    import spark.implicits._
    val ids = sm.io.list(s"$path/schema").map(_.split('/').last)
      .collect { case s if s.startsWith("schema-") && s.endsWith(".json") =>
        s.stripPrefix("schema-").stripSuffix(".json").toLong }.sorted
    ids.map(sm.schema).map(s =>
      (s.id, s.fields.map(f => s"${f.id}:${f.name}:${f.dataType}").mkString(","),
        s.partitionKeys.mkString(","), s.primaryKeys.mkString(",")))
      .toDF("schema_id", "fields", "partition_keys", "primary_keys")
  }

  /** `$options`: table options (reference: table/system/OptionsTable). */
  def systemOptions: DataFrame = {
    import spark.implicits._
    schema.options.toSeq.toDF("key", "value")
  }

  /** `$branches`. */
  def systemBranches: DataFrame = {
    import spark.implicits._
    sm.branches.map { b =>
      val bsm = new SnapshotManager(path, Some(b), sm.io)
      (b, bsm.latestSnapshotId.getOrElse(-1L))
    }.toDF("branch_name", "latest_snapshot")
  }

  /** `$buckets`: live per-(partition, bucket) rollup (reference:
    * table/system/BucketsTable.java). */
  def systemBuckets: DataFrame = {
    import spark.implicits._
    val entries = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
    entries.groupBy(e => (e.partition, e.bucket)).map { case ((p, b), es) =>
      (p.map { case (k, v) => s"$k=$v" }.mkString("/"), b,
        es.map(e => e.file.rowCount - e.file.dvCardinality.getOrElse(0L)).sum,
        es.size.toLong, es.map(_.file.fileSize).sum)
    }.toSeq.toDF("partition", "bucket", "record_count", "file_count", "total_size")
  }

  /** `$consumers`: durable stream-reader progress (reference:
    * table/system/ConsumersTable.java). */
  def systemConsumers: DataFrame = {
    import spark.implicits._
    val dir = s"$path/consumer"
    sm.io.list(dir).map(_.split('/').last)
      .collect { case c if c.startsWith("consumer-") =>
        (c.stripPrefix("consumer-"),
          sm.io.readString(s"$dir/$c").trim.toLong)
      }.toDF("consumer_id", "next_snapshot")
  }

  /** `$indexes`: every index structure the latest snapshot pins —
    * snapshot-level sidecars (dynamic-bucket, cross-partition global,
    * global secondary) and per-file bloom/bitmap/bsi sidecars
    * (reference role: table/system/TableIndexesTable). */
  /** `$ro` (read-optimized): the latest snapshot restricted to
    * compacted files (level ≥ 1) — query-speed-over-freshness for PK
    * tables: level-1 generations are fully merged by compaction, so
    * readers skip recent level-0 deltas AND their merge cost. Append
    * tables have no merge debt; `$ro` equals the normal read
    * (reference: table/system/ReadOptimizedTable.java — "read the
    * files of the highest level only"). */
  def systemReadOptimized: DataFrame = {
    val sch = schema
    if (sch.primaryKeys.isEmpty) return read
    val snap = sm.latestSnapshot()
    mergedFromEntries(snap.toSeq.flatMap(sm.liveEntries).filter(_.file.level >= 1), sch, snap)
  }

  /** `$aggregation_fields`: each field's aggregate function under the
    * aggregation merge engine, plus its sequence-group membership
    * (reference: table/system/AggregationFieldsTable.java). */
  def systemAggregationFields: DataFrame = {
    import spark.implicits._
    val sch = schema
    val pk = sch.primaryKeys.toSet
    val seqGroups: Map[String, String] = sch.options.toSeq.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
        val seqs = k.stripPrefix("fields.").stripSuffix(".sequence-group")
        v.split(",").map(_.trim).map(_ -> seqs)
    }.flatten.toMap
    sch.fields.map { f =>
      val fn =
        if (pk.contains(f.name)) "primary-key"
        else sch.options.getOrElse(s"fields.${f.name}.aggregate-function",
          if (sch.options.get("merge-engine").contains("aggregation"))
            "last_non_null_value" else "none")
      (f.name, f.dataType, fn, seqGroups.getOrElse(f.name, ""))
    }.toDF("field_name", "field_type", "function", "sequence_group")
  }

  /** `$row_tracking`: the merged rows with their stable `_ROW_ID` and
    * commit sequence surfaced (reference: RowTrackingTable — row
    * lineage as a queryable view). */
  def systemRowTracking: DataFrame = readWithRowIds()

  /** `$compact_buckets`: per (partition, bucket) file pressure against
    * the num-sorted-run trigger — which buckets the next
    * compactIfNeeded would rewrite (reference:
    * table/system/CompactBucketsTable.java). */
  def systemCompactBuckets(trigger: Int = 5): DataFrame = {
    import spark.implicits._
    val entries = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
    entries.groupBy(e => (e.partition, e.bucket)).map { case ((p, b), es) =>
      (p.map { case (k, v) => s"$k=$v" }.mkString("/"), b,
        es.size.toLong, es.size > trigger)
    }.toSeq.toDF("partition", "bucket", "file_count", "compaction_needed")
  }

  /** `t$file_monitor` (reference: table/system/FileMonitorTable.java:82
    * — the per-snapshot file-change feed compact coordinators consume):
    * one row per (snapshot, partition, bucket) with the files the
    * commit removed (before) and added (data). Readable names instead
    * of the reference's serialized row blobs — Spark consumers join on
    * them directly. */
  def systemFileMonitor: DataFrame = {
    import spark.implicits._
    val rows = sm.snapshotIds.map(sm.snapshot).flatMap { sn =>
      sn.deltaManifest.toSeq.flatMap(sm.readManifest)
        .groupBy(e => (e.partition, e.bucket))
        .map { case ((p, b), es) =>
          (sn.id, p.map { case (k, v) => s"$k=$v" }.mkString("/"), b,
            es.filter(_.kind == "DELETE").map(_.file.fileName),
            es.filter(_.kind == "ADD").map(_.file.fileName))
        }
    }
    rows.toDF("snapshot_id", "partition", "bucket", "before_files", "data_files")
  }

  def systemIndexes: DataFrame = {
    import spark.implicits._
    val snap = sm.latestSnapshot()
    def sized(kind: String, files: Seq[String]) = files.map { f =>
      val sz = try Files.size(Paths.get(s"$path/$f")) catch { case _: Exception => -1L }
      (kind, f, sz)
    }
    val snapLevel = snap.toSeq.flatMap { s =>
      sized("dynamic-bucket", s.dynIndex.getOrElse(Seq.empty)) ++
        sized("global-cross-partition", s.globalIndex.getOrElse(Seq.empty)) ++
        sized("global-secondary", s.secIndex.getOrElse(Seq.empty))
    }
    val perFile = snap.map(sm.liveEntries).getOrElse(Seq.empty)
      .flatMap(e => e.file.indexFiles.getOrElse(Map.empty).map { case (c, p) =>
        val kind = p.substring(p.lastIndexOf('.') + 1) // bloom | bitmap | bsi
        sized(s"file-$kind($c)", Seq(p)).head
      })
    // table-attached (snapshot-stamped) indexes: full-text postings and
    // HNSW vector graphs live under the table dir with a state json
    val attached = Seq("index-text" -> "full-text", "index-hnsw" -> "vector-hnsw")
      .flatMap { case (root, kind) =>
        sm.io.list(s"$path/$root").map(_.split('/').last).flatMap { colDir =>
          graft.core.FsUtil.walkAll(Paths.get(s"$path/$root/$colDir")).iterator
            .filter(Files.isRegularFile(_))
            .map(p => sized(s"$kind($colDir)",
              Seq(Paths.get(path).relativize(p).toString)).head)
            .toSeq
        }
      }
    (snapLevel ++ perFile ++ attached).toDF("index_type", "path", "file_size")
  }
}

object GraftTable {

  /** Tokenization of the full-text index and [[GraftTable.searchText]]:
    * maximal [A-Za-z0-9]+ runs (split on everything else). */
  val TextTokenSplit = "[^A-Za-z0-9]+"

  /** `snapshot.expire.execution-mode=async`: one shared daemon thread
    * runs expiry walks off the commit path (reference: the ASYNC mode's
    * dedicated expire executor in FileStoreCommit). Single-threaded on
    * purpose — expiry is IO-bound cleanup; parallel walks over one
    * table would race their own file deletes. */
  private[table] val asyncExpireExecutor =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-async-expire")
      t.setDaemon(true)
      t
    })
  private val asyncExpirePending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val asyncExpireTickets =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()

  /** Queue one async expiry walk for `path`, coalescing with any walk
    * already queued — but never LOSING a commit's expiry: each request
    * takes a ticket, the walk loops until the ticket counter is
    * drained, and a ticket that slips in exactly as the walk exits
    * re-queues a fresh walk (the check-then-act gap between the drain
    * test and the pending-set removal). */
  private[table] def queueAsyncExpire(path: String, walk: () => Unit): Unit = {
    val tickets = asyncExpireTickets.computeIfAbsent(path,
      _ => new java.util.concurrent.atomic.AtomicLong())
    tickets.incrementAndGet()
    def run(): Unit = {
      var served = -1L
      try {
        var cur = tickets.get()
        while (cur != served) {
          served = cur
          try walk() catch { case _: Exception => () } // next pass retries
          cur = tickets.get()
        }
      } finally {
        asyncExpirePending.remove(path)
        // a ticket may have landed between the drain test and the
        // removal above — it would be silently dropped otherwise
        if (tickets.get() != served && asyncExpirePending.add(path))
          asyncExpireExecutor.execute(() => run())
      }
    }
    if (asyncExpirePending.add(path))
      asyncExpireExecutor.execute(() => run())
  }

  /** Modulus of the dynamic-bucket index's `__p` partition-hash scope
    * token (the number of partition directory groups sidecars spread
    * over). Fixed, not configurable: the token is baked into persisted
    * paths, and 64k groups is plenty for pruning while keeping
    * collisions harmless (a collision only over-reads). */
  val DynPartScopes = 65536

  /** Project a value of type `from` to type `to`, recursing through
    * structs (and arrays/maps of structs): nested fields align BY
    * NAME — a `to` field absent in `from` becomes null (nested ADD),
    * an extra `from` field is projected away (nested DROP / nested
    * column pruning), leaves cast. Nested fields carry no stable ids
    * (only top-level fields do), which is why nested RENAME is
    * rejected at the DDL layer: by-name alignment would silently null
    * old data. (reference: SchemaEvolutionUtil nested-field mapping.) */
  private[graft] def evolveColumn(src: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if f == t => src
      case (f: StructType, t: StructType) =>
        val old = f.fields.map(x => x.name -> x).toMap
        val parts = t.fields.toIndexedSeq.map { nf =>
          old.get(nf.name) match {
            case Some(of) =>
              evolveColumn(src.getField(nf.name), of.dataType, nf.dataType).as(nf.name)
            case None => lit(null).cast(nf.dataType).as(nf.name)
          }
        }
        // a NULL struct must stay NULL, not become a struct of nulls
        when(src.isNull, lit(null).cast(t))
          .otherwise(org.apache.spark.sql.functions.struct(parts: _*))
      case (ArrayType(fe, _), ArrayType(te, _)) =>
        transform(src, e => evolveColumn(e, fe, te)).cast(to)
      case (MapType(_, fv, _), MapType(_, tv, _)) =>
        transform_values(src, (_, v) => evolveColumn(v, fv, tv)).cast(to)
      case (_, t) => src.cast(t)
    }

  /** `"7 d"` / `"12h"` / `"30 m"` / `"45s"` / `"500 ms"` → millis
    * (the duration shape the reference's duration options accept). */
  def parseDurationMillis(s: String): Long = Meta.parseDurationMillis(s)

  /** `"128mb"` / `"1 gb"` / `"64 kb"` / `"1048576"` → bytes (the
    * MemorySize shape the reference's size options accept). */
  def parseBytes(s: String): Long = Meta.parseBytes(s)

  /** Persisted state of one column's full-text index
    * (`index-text/<column>/state.json`). */
  case class TextIndexState(
      column: String, snapshotId: Long,
      covered: Seq[String], postings: Seq[String])

  /** Persisted state of one column's HNSW vector index
    * (`index-hnsw/<vecCol>/state.json`); `snapshotId` stamps the
    * snapshot the graphs were built from. */
  case class VectorIndexState(
      idCol: String, vecCol: String, snapshotId: Long,
      shards: Int, m: Int, efConstruction: Int)

  /** Bucket id of postpone-staged files (`bucket = -2` tables): written
    * without a shuffle, invisible to reads until compaction assigns
    * real buckets (reference: postpone/PostponeBucketWriter.java:55). */
  val PostponeBucket = -2

  /** Option: comma-separated columns covered by the global secondary
    * (value → data-file) index. */
  val SecIndexColumns = "secondary-index.columns"

  /** Option: assign every row a stable, monotone `_ROW_ID` (append
    * tables only; fixed at table creation). Files record their first
    * row id; a row's id is firstRowId + physical position, so deletion
    * vectors never shift it (reference: paimon row tracking —
    * SpecialFields._ROW_ID, Snapshot.nextRowId,
    * DataFileMeta.firstRowId). */
  val RowTrackingEnabled = "row-tracking.enabled"
  private[graft] def tracksRows(sch: TableSchema): Boolean =
    sch.primaryKeys.isEmpty && sch.options.get(RowTrackingEnabled).contains("true")

  /** Option: export Iceberg-compatible metadata after every commit
    * (reference: metadata.iceberg.storage — IcebergOptions.java:43). */
  val IcebergEnabled = "metadata.iceberg.enabled"

  /** Option: automatic periodic tag creation mode
    * (none|process-time|watermark — reference: CoreOptions
    * TAG_AUTOMATIC_CREATION). */
  val TagAutoMode = "tag.automatic-creation"

  /** The row-id metadata column exposed to readers and SQL. */
  val RowIdCol = "_ROW_ID"

  /** One secondary-index lookup: equality/IN over canonical value
    * strings, IS NULL, or a numeric range over the canonical double
    * encoding (bounds pre-widened one ulp by the caller). */
  private[table] sealed trait SecProbe { def cid: Int }
  private[table] case class SecEq(cid: Int, vals: Seq[String]) extends SecProbe
  private[table] case class SecNull(cid: Int) extends SecProbe
  private[table] case class SecRange(cid: Int, lo: Double, hi: Double) extends SecProbe
  /** lexicographic interval on a STRING column (raw stored values;
    * UTF8 binary order, per-bound inclusivity) */
  private[table] case class SecStrRange(cid: Int, lo: Option[String],
    loInc: Boolean, hi: Option[String], hiInc: Boolean) extends SecProbe
  /** `upper(c) = v` / `lower(c) = v`: not invertible, but the index
    * stores exact values, so the transform is applied to the stored
    * side (reference: predicate/UpperTransform.java:32). */
  private[table] case class SecFn(cid: Int, fn: String, value: String) extends SecProbe
  /** `c LIKE 'p%'` / startsWith on an indexed string column. */
  private[table] case class SecPrefix(cid: Int, prefix: String) extends SecProbe
  /** Disjunction of probes (possibly across columns): a file survives
    * if ANY branch hits it — the hit-set is the union. */
  private[table] case class SecOr(ps: Seq[SecProbe]) extends SecProbe {
    def cid: Int = ps.head.cid
  }

  /** Create a new table directory (fails if one exists). */
  def create(
      spark: SparkSession,
      path: String,
      schema: StructType,
      partitionKeys: Seq[String] = Seq.empty,
      primaryKeys: Seq[String] = Seq.empty,
      options: Map[String, String] = Map.empty): GraftTable = {
    val sm = new SnapshotManager(path)
    require(sm.latestSchema().isEmpty, s"table already exists at $path")
    require(primaryKeys.intersect(partitionKeys).isEmpty ||
      partitionKeys.forall(primaryKeys.contains),
      "partition keys must be disjoint from or contained in primary keys")
    val ts = TableSchema.fromStruct(0L, schema, partitionKeys, primaryKeys, options)
    // every format the table can ever write with — the base format
    // plus any per-level overrides — validates up front
    val allFormats = ts.fileFormat +: ts.fileFormatPerLevel.values.toSeq
    allFormats.foreach(f => require(
      Set("parquet", "orc", "avro", "lance").contains(f),
      s"unsupported file format: $f"))
    require(!allFormats.contains("avro") || graft.sources.AvroStorage.supports(schema),
      "avro format supports scalar column types only")
    require(!allFormats.contains("lance") || graft.sources.LanceStorage.supports(schema),
      "lance format supports scalar, string/binary/decimal and " +
        "scalar/string array columns only")
    require(ts.fileFormatPerLevel.keys.forall(_ >= 0),
      "file.format.per.level levels must be >= 0")
    val blobCols = graft.sources.BlobStorage.blobColumns(options)
    require(blobCols.forall(c => schema.fields.exists(f =>
      f.name == c && f.dataType == org.apache.spark.sql.types.BinaryType)),
      "blob.columns must name BINARY columns")
    require(blobCols.isEmpty ||
      allFormats.forall(f => f != "avro" && f != "lance"),
      "blob.columns requires a struct-capable columnar format (parquet/orc)")
    require(allFormats.forall(_ == "parquet") ||
      !options.get(DeletionVectors.OptionEnabled).contains("true"),
      "deletion vectors require parquet files at every level (row_index metadata)")
    if (options.get(RowTrackingEnabled).contains("true")) {
      require(primaryKeys.isEmpty,
        "row tracking applies to append tables only (merge-on-read has no stable position)")
      require(allFormats.forall(_ == "parquet"),
        "row tracking requires parquet files at every level (row_index metadata)")
    }
    if (ts.isPostponeBucket) {
      require(primaryKeys.nonEmpty,
        "bucket=-2 (postpone) applies to primary-key tables")
      require(ts.postponeBucketNum > 0,
        "postpone.default-bucket-num must be positive")
    }
    // upsert-key (reference: CoreOptions.UPSERT_KEY +
    // SchemaValidation.java:101-108): INSERT INTO rewrites to MERGE on
    // this key — append tables only, columns must exist
    options.get("upsert-key").foreach { uk =>
      require(primaryKeys.isEmpty,
        s"cannot define 'upsert-key' ($uk) with 'primary-key' ($primaryKeys)")
      val cols = uk.split(",").map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty && cols.forall(c => schema.fields.exists(_.name == c)),
        s"upsert-key columns must exist in the schema: $uk")
    }
    // bucket-key (reference: CoreOptions.BUCKET_KEY +
    // SchemaValidation's "Primary key constraint should include all
    // bucket keys"): explicit distribution columns. PK tables hash a
    // SUBSET of the key; append tables become bucketed-append. Fixed
    // buckets only — dynamic (-1) assigns via the index and postpone
    // (-2) defers assignment to compaction, both keyed by the pk.
    options.get("bucket-key").foreach { bk =>
      val cols = bk.split(",").map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty && cols.forall(c => schema.fields.exists(_.name == c)),
        s"bucket-key columns must exist in the schema: $bk")
      require(primaryKeys.isEmpty || cols.forall(primaryKeys.contains),
        s"primary key (${primaryKeys.mkString(",")}) must include all " +
          s"bucket keys ($bk)")
      require(ts.numBuckets > 0,
        s"bucket-key requires fixed buckets (bucket > 0), got ${ts.numBuckets}")
    }
    // parsed inside the commit-coupled expire path — validate up front
    // so a typo'd value ('10s') fails HERE, not on every later commit
    // (the runtime parse additionally degrades to unlimited with a WARN)
    options.get("snapshot.expire.limit").foreach { v =>
      require(scala.util.Try(v.trim.toInt).toOption.exists(_ > 0),
        s"snapshot.expire.limit must be a positive integer, got '$v'")
    }
    // tag-to-partition needs the synthetic key to BE the partitioning —
    // a partitioned table would silently never mirror its tags
    options.get("metastore.tag-to-partition").foreach { f =>
      require(partitionKeys.isEmpty,
        s"metastore.tag-to-partition ($f) applies to UNPARTITIONED tables " +
          s"only (table partitions: ${partitionKeys.mkString(",")})")
    }
    if (ts.fileFormat == "lance") warnLanceInterop(path)
    sm.writeSchema(ts)
    new GraftTable(spark, path, sm)
  }

  /** Test-visible record of manifest-bytes broadcast-gate decisions:
    * (site, estimated bytes, broadcast chosen). Bounded; cleared past
    * 64 entries. */
  private[graft] val joinGateDecisions =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Boolean)]()

  /** Paths already warned about lance interop (one WARN per table per
    * JVM; test-visible so the spec can assert the warning fires). */
  private[graft] val lanceInteropWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `file.format=lance` here is a JVM re-expression of the Lance
    * CAPABILITY (random-access columnar blocks — GRLANCE1,
    * LanceStorage.scala), NOT byte-compatible Lance v2: external
    * lancedb/pylance tooling cannot read these files (the reference
    * wraps the native library via JNI, which a pure-JVM build cannot
    * link). A user picking `lance` for ECOSYSTEM interop must hear
    * that up front, not discover silently incompatible files later —
    * the Arrow export path (ArrowInterchange) is the interop route. */
  private def warnLanceInterop(path: String): Unit =
    if (lanceInteropWarned.add(path))
      org.slf4j.LoggerFactory.getLogger("graft.GraftTable").warn(
        s"table $path uses file.format=lance: graft's GRLANCE1 layout " +
          "delivers Lance-style random access INSIDE this engine but is " +
          "NOT readable by lancedb/pylance tooling; for cross-ecosystem " +
          "interop export via ArrowInterchange (see README 'Lance interop')")

  def load(spark: SparkSession, path: String): GraftTable = load(spark, path, new LocalFileIO)

  /** Load with a caller-supplied FileIO (instrumented IO in tests,
    * alternative stores). */
  def load(spark: SparkSession, path: String, io: FileIO): GraftTable = {
    val sm = new SnapshotManager(path, io = io)
    require(sm.latestSchema().isDefined, s"no graft table at $path")
    new GraftTable(spark, path, sm)
  }

  /** Adopt an existing (possibly Hive-partitioned) parquet directory
    * as a graft table WITHOUT rewriting data: infer the schema, copy
    * files into the table layout and commit one snapshot from their
    * footers (reference: MigrateTableProcedure / FileMetaUtils —
    * metadata-only onboarding). */
  def migrate(
      spark: SparkSession,
      sourceDir: String,
      path: String,
      options: Map[String, String] = Map.empty): GraftTable = {
    val srcRoot = Paths.get(sourceDir)
    val files = graft.core.FsUtil.walkAll(srcRoot).iterator
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq
    require(files.nonEmpty, s"no parquet files under $sourceDir")
    // partition keys from the directory layout (k=v components)
    val partDirs = files.map(f =>
      srcRoot.relativize(f).iterator().asScala.toSeq.dropRight(1)
        .map(_.toString).filter(_.contains("=")).map(_.split("=", 2)(0)))
    val partitionKeys = partDirs.head
    require(partDirs.forall(_ == partitionKeys),
      "inconsistent partition directory layout")
    val full = spark.read.parquet(sourceDir).schema
    val t = create(spark, path, full, partitionKeys = partitionKeys,
      primaryKeys = Seq.empty, options = options)
    // stage copies in the source's partition layout, then adopt them
    // through the normal two-phase commit (footer stats, index build)
    val staging = s"$path/staging/migrate-${UUID.randomUUID()}"
    files.foreach { f =>
      val dst = Paths.get(staging).resolve(srcRoot.relativize(f))
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst)
    }
    t.commitStagedDir(staging, t.schema, KindAppend,
      seqBase = 0L, commitIdentifier = -1L, _ => Seq.empty)
    t
  }

  def exists(path: String): Boolean =
    new SnapshotManager(path).latestSchema().isDefined

  /** Adopt a HUDI copy-on-write table as a graft table WITHOUT
    * rewriting data: walk the commit timeline under `.hoodie/`,
    * select the LATEST completed base file per file group (Hudi base
    * name shape `<fileId>_<writeToken>_<instantTime>.parquet`), and
    * adopt those files through the normal staged two-phase commit
    * (reference: paimon-hudi/HudiHiveCloneExtractor.java:121-124
    * requires COPY_ON_WRITE; HudiFileIndex.java:163-170 takes
    * getLatestBaseFiles() over the completed-instants timeline view).
    *
    * v1 scope mirrors the reference's rejections: MERGE_ON_READ (or
    * any `.log.` delta present) is rejected — compact the Hudi table
    * first; `replacecommit` instants (clustering / insert-overwrite)
    * are rejected rather than risking resurrecting replaced file
    * groups. Base files of INFLIGHT instants (no completed `.commit`)
    * are skipped, so a crashed Hudi writer cannot leak half-committed
    * data into the migrated table. Hive-style `k=v` partition dirs
    * become partition keys; Hudi's `_hoodie_*` meta columns ride
    * along unchanged (reuse means no rewrite to strip them). */
  def migrateHudi(
      spark: SparkSession,
      hudiDir: String,
      path: String,
      options: Map[String, String] = Map.empty): GraftTable = {
    val root = Paths.get(hudiDir)
    val hoodie = root.resolve(".hoodie")
    require(Files.isDirectory(hoodie),
      s"no .hoodie timeline under $hudiDir — not a Hudi table")
    val props = new java.util.Properties()
    val pf = hoodie.resolve("hoodie.properties")
    if (Files.exists(pf)) {
      val in = Files.newInputStream(pf)
      try props.load(in) finally in.close()
    }
    val ttype = props.getProperty("hoodie.table.type", "COPY_ON_WRITE")
    require(ttype == "COPY_ON_WRITE",
      s"migrateHudi supports COPY_ON_WRITE tables, got $ttype " +
        "(compact MERGE_ON_READ log files into base files first)")
    // completed instants; pre-1.0 names <instant>.commit, 1.0+ adds a
    // completion time: <instant>_<completion>.commit
    val timelineNames = graft.core.FsUtil.walkAll(hoodie).iterator
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    require(!timelineNames.exists(_.endsWith(".replacecommit")),
      "migrateHudi: replacecommit instants (clustering/insert-overwrite) " +
        "are not supported — replaced file groups cannot be told apart")
    val CommitRe = """^(\d+)(?:_\d+)?\.commit$""".r
    val completed: Set[String] = timelineNames.collect {
      case CommitRe(instant) => instant
    }.toSet
    require(completed.nonEmpty, s"no completed commits in $hudiDir")
    val allFiles = graft.core.FsUtil.walkAll(root).iterator
      .filter(p => Files.isRegularFile(p) && !p.startsWith(hoodie))
      .toSeq
    // Hudi log deltas are DOT-prefixed (.<fileId>_<instant>.log.<v>_…)
    // — detect them before the hidden-file filter would hide them
    require(!allFiles.exists(_.getFileName.toString.contains(".log.")),
      "migrateHudi: MERGE_ON_READ log deltas present — compact first")
    val allData = allFiles.filterNot(_.getFileName.toString.startsWith("."))
    // latest completed base file per (partition dir, file group)
    val BaseRe = """^(.+)_([0-9\-]+)_(\d+)\.parquet$""".r
    val selected = allData.flatMap { p =>
      p.getFileName.toString match {
        case BaseRe(fileId, _, instant) if completed.contains(instant) =>
          Some(((p.getParent, fileId), (instant, p)))
        case _ => None
      }
    }.groupBy(_._1).values.map(_.maxBy(_._2._1)._2._2).toSeq
    require(selected.nonEmpty, s"no committed base files under $hudiDir")
    // Hive-style partition layout, like migrate()
    val partDirs = selected.map(f =>
      root.relativize(f).iterator().asScala.toSeq.dropRight(1)
        .map(_.toString).filter(_.contains("=")).map(_.split("=", 2)(0)))
    val partitionKeys = partDirs.head
    require(partDirs.forall(_ == partitionKeys),
      "inconsistent partition directory layout")
    // schema from the SELECTED files only (older file-group versions
    // must not contribute); basePath re-infers the partition columns
    val full = spark.read.option("basePath", hudiDir)
      .option("mergeSchema", "true")
      .parquet(selected.map(_.toString): _*).schema
    val t = create(spark, path, full, partitionKeys = partitionKeys,
      primaryKeys = Seq.empty, options = options)
    val staging = s"$path/staging/migrate-hudi-${UUID.randomUUID()}"
    selected.foreach { f =>
      val dst = Paths.get(staging).resolve(root.relativize(f))
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst)
    }
    t.commitStagedDir(staging, t.schema, KindAppend,
      seqBase = 0L, commitIdentifier = -1L, _ => Seq.empty)
    t
  }

  /** Adopt an ICEBERG table (Hadoop layout: metadata/version-hint.text
    * → v*.metadata.json → Avro manifest list/manifests) as a graft
    * table, reading its metadata with the same generic walker the
    * Iceberg export verifies against (reference: iceberg/migrate/
    * IcebergMigrator.java — which REJECTS tables holding delete files;
    * here v2 position deletes convert into native DV sidecars instead,
    * so a merge-on-read Iceberg table migrates without a rewrite).
    *
    * v1 scope: parquet data files; the table migrates UNPARTITIONED —
    * Iceberg stores identity-partition source columns in the data
    * files, so content is complete and partition-like pruning can be
    * restored via `clustering.columns` + sort-compact. Files are
    * copied (the origin table stays intact). */
  def migrateIceberg(
      spark: SparkSession,
      icebergDir: String,
      path: String,
      options: Map[String, String] = Map.empty): GraftTable = {
    val (dataFiles, deletes) = graft.sources.IcebergCompat.externalState(icebergDir)
    require(dataFiles.nonEmpty, s"no live data files in iceberg table $icebergDir")
    require(dataFiles.forall(_.endsWith(".parquet")),
      "migrateIceberg supports parquet data files")
    // mergeSchema: a schema-evolved Iceberg table mixes files written
    // under different schemas — a single sampled footer would silently
    // DROP later-added columns. Merging unions them (older files read
    // the added columns as null). Columns RENAMED in Iceberg keep
    // their old physical name per-file and migrate as separate
    // half-null columns — an accepted, documented limit (name-based
    // resolution; Iceberg field ids are not mapped here).
    val full = spark.read.option("mergeSchema", "true").parquet(dataFiles: _*).schema
    val t = create(spark, path, full, options = options)
    val conf = spark.sessionState.newHadoopConf()
    // positions deleted per SOURCE file (absolute path, normalized)
    def norm(p: String) = p.replaceFirst("^file:/+", "/")
    val delBySrc: Map[String, Seq[Long]] =
      deletes.groupBy(d => norm(d._1)).view.mapValues(_.map(_._2)).toMap
    val entries = dataFiles.flatMap { src =>
      val rel = s"data/${UUID.randomUUID()}.parquet"
      val abs = s"$path/$rel"
      // stats read from the SOURCE first: a fully-deleted file is
      // skipped without ever being copied
      val meta = ParquetStats.read(conf, norm(src), rel, 0, 0L, 0L)
      val dels = delBySrc.get(norm(src))
      if (dels.exists(_.distinct.size >= meta.rowCount)) None
      else {
        Files.createDirectories(Paths.get(abs).getParent)
        Files.copy(Paths.get(norm(src)), Paths.get(abs))
        dels match {
          case None => Some(Meta.ManifestEntry("ADD", Map.empty, 0, meta))
          case Some(pos) =>
            val bm = new org.roaringbitmap.RoaringBitmap()
            pos.foreach { p =>
              // the DV sidecar is a 32-bit roaring bitmap; a >2^31 row
              // position would silently truncate
              require(p >= 0 && p <= Int.MaxValue,
                s"position delete $p exceeds the 32-bit DV range")
              bm.add(p.toInt)
            }
            val dvRel = s"index/${UUID.randomUUID()}.dv"
            t.sm.io.writeBytes(s"$path/$dvRel", DeletionVectors.serialize(bm))
            Some(Meta.ManifestEntry("ADD", Map.empty, 0, meta.copy(
              dvFile = Some(dvRel),
              dvCardinality = Some(bm.getLongCardinality))))
        }
      }
    }
    t.sm.commit(entries, Meta.KindAppend, t.schema.id)
    t
  }
}
