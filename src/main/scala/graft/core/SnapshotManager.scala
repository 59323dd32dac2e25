package graft.core

import graft.core.Meta._
import java.util.UUID

/** Snapshot/manifest/schema bookkeeping + the commit protocol for one
  * table directory.
  *
  * Commit = write data files (done by executors beforehand) → write a
  * delta manifest + new manifest list (driver) → CAS-create
  * `snapshot/snapshot-<latest+1>.json`; on CAS failure re-read latest,
  * re-check conflicts, retry. Mirrors the reference's
  * FileStoreCommitImpl.tryCommit loop (paimon-core
  * .../operation/FileStoreCommitImpl.java:687) with the snapshot file
  * as the single point of serialization.
  */
final class SnapshotManager(
    val tablePath: String,
    val branch: Option[String] = None,
    val io: FileIO = new LocalFileIO) {

  /** Invoked (best-effort) after every successful commit with the new
    * snapshot id. Registered by the table layer for commit-coupled
    * metadata exports (reference: CommitCallback —
    * IcebergCommitCallback). Registration replaces the previous hook;
    * the commit path catches NonFatal failures only — an Error still
    * propagates. */
  @volatile private var afterCommit: Long => Unit = _ => ()

  def onCommit(hook: Long => Unit): Unit = afterCommit = hook

  /** CAS retry budget of the current schema when commit() is called
    * without an explicit maxRetries (reference: CoreOptions
    * COMMIT_MAX_RETRIES, default 20). */
  def commitMaxRetries: Int = maxRetriesOf(latestOptions)

  private def maxRetriesOf(opts: Map[String, String]): Int =
    opts.get("commit.max-retries").map(_.toInt).getOrElse(20)

  /** Branches keep an independent snapshot chain under
    * branch/<name>/snapshot, sharing schema/manifest/data with main
    * (reference: paimon branch management). */
  private def snapshotDir = branch match {
    case Some(b) => s"$tablePath/branch/$b/snapshot"
    case None => s"$tablePath/snapshot"
  }
  private def manifestDir = s"$tablePath/manifest"
  private def schemaDir = s"$tablePath/schema"
  def dataDir = s"$tablePath/data"

  def branches: Seq[String] =
    io.list(s"$tablePath/branch").map(_.split('/').last).sorted

  private def siblingManagers: Seq[SnapshotManager] = {
    val all: Seq[Option[String]] = None +: branches.map(Option(_))
    all.filterNot(_ == branch).map(b => new SnapshotManager(tablePath, b, io))
  }

  /** Files and manifests referenced by ANY snapshot of any OTHER
    * branch — never garbage-collectable from this branch. */
  private def referencedElsewhere(): (Set[String], Set[String]) = {
    val sms = siblingManagers
    val manifests = sms.flatMap(s => s.snapshotIds.map(s.snapshot).flatMap(sn =>
      (s.readManifestList(sn.manifestList) :+ sn.manifestList) ++
        sn.deltaManifest ++ sn.changelogManifest)).toSet
    val files = sms.flatMap(s => s.snapshotIds.map(s.snapshot).flatMap(sn =>
      s.readManifestList(sn.manifestList).flatMap(s.readManifest)
        .map(_.file.fileName) ++
        // changelog FILES too — protecting only the changelog manifest
        // while this branch's expiration deletes the files it lists
        // would break the sibling's changelog/incremental reads
        sn.changelogManifest.toSeq.flatMap(s.readManifest).map(_.file.fileName) ++
        sn.indexSidecars)).toSet
    (files, manifests)
  }

  // ---- schema ---------------------------------------------------------

  /** Schema versions are write-once: of two handles that change the
    * table from the same version, the second fails instead of silently
    * replacing the first one's change. A create whose response was
    * lost reads back as this very content and counts as written. */
  def writeSchema(schema: TableSchema): Unit = {
    val path = s"$schemaDir/schema-${schema.id}.json"
    val json = Json.write(schema)
    if (!io.tryCreateAtomic(path, json) && io.readString(path) != json)
      throw new IllegalStateException(s"schema-${schema.id}.json already exists: a " +
        "concurrent schema change won; reload the table and retry")
  }

  def latestSchema(): Option[TableSchema] = {
    val ids = io.list(schemaDir)
      .map(_.split('/').last)
      .collect { case s if s.startsWith("schema-") && s.endsWith(".json") =>
        s.stripPrefix("schema-").stripSuffix(".json").toLong
      }
    // LIST may lag behind writes on an object store (list-after-write
    // lag); schema ids are sequential, so extend past the listing with
    // point reads — same discipline as latestSnapshotId
    var id = ids.maxOption.getOrElse(-1L)
    while (io.exists(s"$schemaDir/schema-${id + 1}.json")) id += 1
    if (id < 0) None else Some(schema(id))
  }

  private def latestOptions: Map[String, String] =
    latestSchema().fold(Map.empty[String, String])(_.options)

  /** Parsed schema versions by id — write-once files, like manifests,
    * so each is read and parsed once per manager. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[Long, TableSchema]()

  def schema(id: Long): TableSchema = schemas.computeIfAbsent(id, i =>
    Json.read(io.readString(s"$schemaDir/schema-$i.json"), classOf[TableSchema]))

  // ---- snapshots ------------------------------------------------------

  private def snapshotPath(id: Long) = s"$snapshotDir/snapshot-$id.json"

  def snapshot(id: Long): Snapshot =
    if (io.exists(snapshotPath(id)))
      Json.read(io.readString(snapshotPath(id)), classOf[Snapshot])
    else
      // a TAG's materialized snapshot copy outlives expiration of the
      // original — time travel to a tagged id (VERSION AS OF / read
      // options) keeps working after the snapshot file is gone
      tagSnapshots.find(_.id == id).getOrElse(
        Json.read(io.readString(snapshotPath(id)), classOf[Snapshot]))

  /** [[snapshot]] when the id still resolves (live file or tag copy);
    * None for expired history. */
  def snapshotIfExists(id: Long): Option[Snapshot] =
    if (io.exists(snapshotPath(id)))
      Some(Json.read(io.readString(snapshotPath(id)), classOf[Snapshot]))
    else tagSnapshots.find(_.id == id)

  def snapshotIds: Seq[Long] = {
    val listed = io.list(snapshotDir)
      .map(_.split('/').last)
      .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
        s.stripPrefix("snapshot-").stripSuffix(".json").toLong
      }
    // ids are dense at the tail (expiration trims only the FRONT), so
    // a stale LIST can only hide the newest ids: extend forward with
    // point reads from max(listing, LATEST hint), collecting hits in
    // the same walk. Keeps the streaming commitIdentifier dedup and
    // time travel exact under list lag.
    val hinted =
      try io.readString(s"$snapshotDir/LATEST").trim.toLong
      catch { case _: Exception => -1L }
    val listedMax = listed.maxOption.getOrElse(-1L)
    val extra = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = listedMax + 1
    var id = math.max(listedMax, hinted)
    while (i <= id || io.exists(snapshotPath(i))) {
      // between listedMax and the hint, existence still needs checking
      // (the hint itself may lag or lead); past the hint, the probe IS
      // the loop condition
      if (i <= id) { if (io.exists(snapshotPath(i))) extra += i }
      else { extra += i; id = i }
      i += 1
    }
    (listed ++ extra).sorted
  }

  def latestSnapshotId: Option[Long] = {
    // LATEST is a hint, not the source of truth (it may lag): start
    // there, then scan forward.
    val hinted =
      try io.readString(s"$snapshotDir/LATEST").trim.toLong
      catch { case _: Exception => -1L }
    var id = math.max(hinted, -1L)
    while (io.exists(snapshotPath(id + 1))) id += 1
    if (id >= 0 && io.exists(snapshotPath(id))) Some(id)
    else snapshotIds.lastOption
  }

  def latestSnapshot(): Option[Snapshot] = latestSnapshotId.map(snapshot)

  /** The latest COMPACT snapshot: the compaction-settled state that
    * compacted-full reads and streams start from, and whose level>=1
    * output an Iceberg export of a PK table exposes. */
  def latestCompactSnapshot(): Option[Snapshot] =
    snapshotIds.reverseIterator.map(snapshot).find(_.commitKind == Meta.KindCompact)

  /** Latest snapshot committed at or before `epochMillis`
    * (strictly before with `inclusive = false`) — the single
    * timestamp→snapshot resolution shared by TIMESTAMP AS OF, the
    * scan.timestamp-millis read option and the streaming
    * from-timestamp startup modes. */
  def snapshotIdAtTime(epochMillis: Long, inclusive: Boolean = true): Option[Long] =
    snapshotIds.map(snapshot)
      .filter(s =>
        if (inclusive) s.timeMillis <= epochMillis else s.timeMillis < epochMillis)
      .map(_.id).sorted.lastOption

  // ---- manifests ------------------------------------------------------

  /** Manifests are immutable once written — cache decoded entries
    * (bounded: with manifest compaction the live set is O(1) files). */
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[ManifestEntry]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[ManifestEntry]]): Boolean = size > 64
      })

  /** Manifest byte sizes, cached forever (immutable files): backends
    * whose FileIO.size falls back to a full read would otherwise
    * re-read every manifest on every commit when
    * `manifest.full-compaction-threshold-size` is set. */
  private val manifestSizeCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean = size > 4096
      })
  private def manifestSize(name: String): Long = {
    val cached = manifestSizeCache.get(name)
    if (cached != null) return cached.longValue
    // a FAILED stat answers 0 for this call but is NOT cached — caching
    // it would permanently undercount the manifest byte total after one
    // transient IO error (full manifest compaction would never trigger)
    try {
      val s = io.size(s"$manifestDir/$name")
      manifestSizeCache.put(name, s)
      s
    } catch { case _: Exception => 0L }
  }

  /** Write `entries0` as one manifest encoded per the schema options
    * `opts`. `manifest.format` is parquet (columnar, compressed, cheap
    * to decode and distributable — the scale path) or json (debuggable
    * with plain tools); readers switch on the file extension, so both
    * formats coexist within one table across the option flipping. */
  def writeManifest(entries0: Seq[ManifestEntry], opts: Map[String, String]): String = {
    // `manifest.delete-file-drop-stats` (reference: the same key):
    // DELETE entries are matched by file name only — their stats are
    // dead weight; opt-in for old-reader compatibility like the
    // reference (readers here tolerate empty stats regardless)
    val entries =
      if (opts.get("manifest.delete-file-drop-stats").contains("true"))
        entries0.map(e =>
          if (e.kind == "DELETE" && e.file.stats.nonEmpty)
            e.copy(file = e.file.copy(stats = Map.empty))
          else e)
      else entries0
    if (opts.get("manifest.format").contains("json")) {
      val name = s"manifest-${UUID.randomUUID()}.json"
      io.writeString(s"$manifestDir/$name", Json.write(Manifest(entries)))
      name
    } else {
      val name = s"manifest-${UUID.randomUUID()}.parquet"
      io.writeBytes(s"$manifestDir/$name", ManifestIO.encode(entries,
        opts.getOrElse("manifest.compression", "snappy")))
      name
    }
  }

  /** Write a (typically folded) entry set as MULTIPLE manifests bounded
    * by `manifest.target-file-size` (reference: MANIFEST_TARGET_FILE_SIZE
    * — one giant manifest serializes planning IO; chunks read in
    * parallel). Unset → one file. Chunk count comes from a trial
    * encode, so the bound tracks the real encoded size. */
  private def writeManifestChunked(
      entries: Seq[ManifestEntry], opts: Map[String, String]): Seq[String] = {
    val target = opts.get("manifest.target-file-size")
      .map(Meta.parseBytes)
    target match {
      case None => Seq(writeManifest(entries, opts))
      case Some(t) if entries.isEmpty => Seq(writeManifest(entries, opts))
      case Some(t) if opts.get("manifest.format").contains("json") =>
        // chunking is parquet-only; skip the (parquet) trial encode
        Seq(writeManifest(entries, opts))
      case Some(t) =>
        val codec = opts.getOrElse("manifest.compression", "snappy")
        val whole = ManifestIO.encode(entries, codec)
        if (whole.length <= t)
          Seq(writeManifest(entries, opts))
        else {
          val chunks = math.min(entries.size,
            math.ceil(whole.length.toDouble / t).toInt)
          val per = math.ceil(entries.size.toDouble / chunks).toInt
          entries.grouped(per).map(writeManifest(_, opts)).toSeq
        }
    }
  }

  def readManifest(name: String): Seq[ManifestEntry] = {
    val cached = manifestCache.get(name)
    if (cached != null) return cached
    val entries =
      if (name.endsWith(".parquet"))
        ManifestIO.decode(io.readBytes(s"$manifestDir/$name"))
      else
        Json.read(io.readString(s"$manifestDir/$name"), classOf[Manifest]).entries
    manifestCache.put(name, entries)
    entries
  }

  def writeManifestList(manifests: Seq[String]): String = {
    val name = s"list-${UUID.randomUUID()}.json"
    io.writeString(s"$manifestDir/$name", Json.write(ManifestList(manifests)))
    name
  }

  def readManifestList(name: String): Seq[String] =
    Json.read(io.readString(s"$manifestDir/$name"), classOf[ManifestList]).manifests

  /** All live data-file entries visible in a snapshot, folded across
    * the snapshot's manifests IN ORDER: a later ADD of a fileName
    * resurrects/replaces it (deletion-vector commits delete + re-add
    * the same file with new sidecar metadata). */
  def liveEntries(s: Snapshot): Seq[ManifestEntry] =
    foldEntries(readManifestList(s.manifestList))

  private def foldEntries(manifests: Seq[String]): Seq[ManifestEntry] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, ManifestEntry]
    manifests.flatMap(readManifest).foreach { e =>
      if (e.kind == "ADD") live(e.file.fileName) = e
      else live.remove(e.file.fileName)
    }
    live.values.toSeq
  }

  /** Explicitly fold the latest snapshot's manifest list into ONE
    * rebased manifest, without touching data — a metadata-only commit
    * (reference: CompactManifestProcedure). No-op when already folded.
    * The new snapshot carries no delta manifest: incremental readers
    * and streams see an empty batch, not re-delivered rows. */
  def compactManifests(): Option[Long] = {
    val latest = latestSnapshot().getOrElse(return None)
    val manifests = readManifestList(latest.manifestList)
    if (manifests.size <= 1) return None
    val opts = latestOptions
    val listName = writeManifestList(writeManifestChunked(foldEntries(manifests), opts))
    val snap = latest.copy(
      id = latest.id + 1,
      commitKind = "COMPACT",
      commitIdentifier = -1L,
      commitUser = Some(effectiveCommitUser(opts)),
      timeMillis = System.currentTimeMillis(),
      manifestList = listName,
      deltaManifest = None,
      changelogManifest = None,
      deltaRecordCount = 0L,
      baseSnapshotId = Some(latest.id))
    if (io.tryCreateAtomic(snapshotPath(snap.id), Json.write(snap))) {
      io.writeString(s"$snapshotDir/LATEST", snap.id.toString)
      // this IS a successful commit: the post-commit hook (iceberg
      // export, auto-tags/expiration, HMS sync) must see it like any
      // other, or commit-coupled metadata lags until the next regular
      // commit — which may never come on a read-mostly table
      try afterCommit(snap.id)
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"post-commit hook failed for snapshot ${snap.id}: ${e.getMessage}")
      }
      Some(snap.id)
    } else None // lost the CAS to a concurrent writer: caller may retry
  }

  /** Writer identity stamped on every snapshot this manager commits
    * (reference: Snapshot.commitUser — one UUID per writer instance;
    * `commit.user-prefix` prepends a deployment-chosen label so
    * operators can attribute commits in $snapshots), taken from the
    * options of the schema a commit carries. */
  private val instanceUser = java.util.UUID.randomUUID().toString

  /** Pinned writer identity for commitIdentifier DEDUP scoping
    * (reference: FileStoreCommitImpl filters committed snapshots by
    * commitUser before comparing identifiers). A streaming query pins
    * its STABLE app id here so (a) a restart — new manager, same app —
    * still dedups its replayed epochs, and (b) two queries' epoch
    * counters (both starting at 0) cannot swallow each other's
    * commits. Unset, commits stamp the per-instance UUID. */
  @volatile private var commitUserOverride: Option[String] = None
  def setCommitUser(user: String): Unit = { commitUserOverride = Some(user) }
  private def effectiveCommitUser(opts: Map[String, String]): String =
    commitUserOverride.getOrElse(
      opts.get("commit.user-prefix").fold(instanceUser)(p => s"$p-$instanceUser"))

  // ---- commit ---------------------------------------------------------

  /** Commit a set of manifest entries as the next snapshot.
    *
    * @param entries     delta entries (ADDs and DELETEs) of this commit
    * @param commitKind  APPEND / COMPACT / OVERWRITE
    * @param commitIdentifier idempotence key: if a snapshot with this
    *        identifier already exists the commit is silently skipped
    *        (exactly-once for streaming epoch replay)
    * @param conflictCheck given the latest snapshot reached after a CAS
    *        race, return true if this commit may still proceed
    * @return the committed (or pre-existing) snapshot id
    */
  def commit(
      entries: Seq[ManifestEntry],
      commitKind: String,
      schemaId: Long,
      commitIdentifier: Long = -1L,
      watermark: Option[Long] = None,
      conflictCheck: Snapshot => Boolean = _ => true,
      /** -1 = use [[commitMaxRetries]] (set from commit.max-retries). */
      maxRetries: Int = -1,
      changelogManifest: Option[String] = None,
      /** transform of the latest snapshot's dynamic-bucket index file
        * list (applied at CAS time so retries see the true latest);
        * None carries the list forward unchanged. */
      dynIndexUpdate: Option[Seq[String] => Seq[String]] = None,
      /** same, for the global cross-partition index file list. */
      globalIndexUpdate: Option[Seq[String] => Seq[String]] = None,
      /** same, for the global secondary (value → file) index list. */
      secIndexUpdate: Option[Seq[String] => Seq[String]] = None,
      /** transform of the covered-column-id set of the secondary index
        * (applied at CAS time, like the file-list updates). */
      secCidsUpdate: Option[Option[Seq[Int]] => Seq[Int]] = None,
      /** transform of the column→patch-file registry (data evolution);
        * None carries it forward unchanged. */
      colPatchUpdate: Option[Map[String, Seq[String]] => Map[String, Seq[String]]] = None,
      /** row-tracking tables: give fresh ADD files (firstRowId absent)
        * consecutive row-id ranges starting at the latest snapshot's
        * nextRowId. Resolved inside the CAS loop, so concurrent
        * committers get disjoint ranges (the loser re-assigns from the
        * winner's nextRowId on retry). */
      assignRowIds: Boolean = false): Long = {
    // without row tracking the delta manifest is attempt-invariant and
    // written once; with it the entries depend on the CAS base, so the
    // manifest is (re)written inside the loop when the base moves
    // (manifests orphaned by lost races are swept by remove_orphan_files).
    // Every option the commit honours comes from the schema version it
    // commits — resolved ONCE, not per lost race.
    val opts = schema(schemaId).options
    val user = effectiveCommitUser(opts)
    var manifestName: String = if (assignRowIds) null else writeManifest(entries, opts)
    var manifestBase: Long = -1L
    val deltaRows = entries.iterator
      .map(e => if (e.kind == "ADD") e.file.rowCount else -e.file.rowCount)
      .sum
    val effRetries = if (maxRetries > 0) maxRetries else maxRetriesOf(opts)
    val retryMinWait = opts.get("commit.min-retry-wait")
      .map(Meta.parseDurationMillis).getOrElse(10L)
    val retryMaxWait = opts.get("commit.max-retry-wait")
      .map(Meta.parseDurationMillis).getOrElse(10000L)
    // `commit.timeout` (reference: CoreOptions COMMIT_TIMEOUT): total
    // wall-clock budget across retries — whichever of the count cap and
    // the time budget trips first ends the loop. Unset = count only.
    val timeoutAt = opts.get("commit.timeout")
      .map(Meta.parseDurationMillis)
      .map(System.currentTimeMillis() + _)
    var attempt = 0
    while (attempt < effRetries &&
        timeoutAt.forall(System.currentTimeMillis() < _)) {
      val latest = latestSnapshot()
      val rowIdBase: Long = latest.flatMap(_.nextRowId).getOrElse(0L)
      var rowIdNext: Long = rowIdBase
      if (assignRowIds && manifestBase != rowIdBase) {
        val fresh = entries
          .filter(e => e.kind == "ADD" && e.file.firstRowId.isEmpty)
          .sortBy(_.file.fileName)
        val assigned = fresh.map { e =>
          val id = rowIdNext; rowIdNext += e.file.rowCount
          e.file.fileName -> id
        }.toMap
        manifestName = writeManifest(entries.map { e =>
          if (e.kind == "ADD" && e.file.firstRowId.isEmpty)
            e.copy(file = e.file.copy(firstRowId = Some(assigned(e.file.fileName))))
          else e
        }, opts)
        manifestBase = rowIdBase
      } else if (assignRowIds) {
        rowIdNext = rowIdBase + entries.iterator
          .filter(e => e.kind == "ADD" && e.file.firstRowId.isEmpty)
          .map(_.file.rowCount).sum
      }
      // idempotent replay: an epoch THIS writer already committed is a
      // no-op. Scoped by commitUser (reference: FileStoreCommitImpl
      // filters by user before comparing identifiers) — two streaming
      // queries' epoch counters both start at 0, and an
      // identifier-only match would silently swallow the second
      // query's micro-batches. Scanned NEWEST-first with early stop:
      // one writer's identifiers are monotone increasing, so the first
      // same-user snapshot at or below the incoming identifier decides
      // — O(other-writers' tail), never O(history) point reads.
      if (commitIdentifier >= 0) {
        val it = snapshotIds.sorted.reverseIterator.map(snapshot)
          .filter(_.commitUser.contains(user))
          .dropWhile(_.commitIdentifier > commitIdentifier)
        if (it.hasNext) {
          val s = it.next()
          if (s.commitIdentifier == commitIdentifier) return s.id
        }
      }
      latest.foreach { l =>
        if (!conflictCheck(l)) {
          throw new IllegalStateException(
            s"commit conflict against snapshot ${l.id} ($commitKind)")
        }
      }
      val nextId = latest.map(_.id + 1).getOrElse(0L)
      // commit.strict-mode.last-safe-snapshot (reference:
      // operation/commit/StrictModeChecker.check): the split-brain
      // guard for restarted jobs — abort when ANOTHER writer committed
      // a COMPACT/OVERWRITE after the configured safe point, or an
      // APPEND into real buckets while THIS commit is an OVERWRITE
      // (the overwrite would silently drop that append's rows). -1
      // checks the whole history. Opt-in, so a malformed value fails
      // LOUDLY: silently disabling a safety interlock is worse than a
      // refused commit.
      opts.get("commit.strict-mode.last-safe-snapshot")
        .map(_.trim.toLong).foreach { safe =>
          ((safe + 1) until nextId).foreach { id =>
            snapshotIfExists(id)
              .filterNot(_.commitUser.contains(user)).foreach { s =>
                def abort(what: String): Nothing = throw new IllegalStateException(
                  s"strict mode: giving up committing snapshot $nextId — found " +
                    s"$what snapshot ${s.id} by user " +
                    s"${s.commitUser.getOrElse("?")} after last-safe-snapshot $safe")
                if (s.commitKind == "COMPACT" || s.commitKind == "OVERWRITE")
                  abort(s.commitKind)
                if (s.commitKind == "APPEND" && commitKind == "OVERWRITE" &&
                  s.deltaManifest.exists(m => readManifest(m)
                    .exists(e => e.kind == "ADD" && e.bucket >= 0)))
                  abort("a real-bucket APPEND")
              }
          }
        }
      val baseManifests = latest.map(s => readManifestList(s.manifestList))
        .getOrElse(Seq.empty)
      // Manifest compaction: past the threshold (always on COMPACT,
      // which rewrites everything anyway) fold the whole list into one
      // rebased manifest of the live entries, so planning reads O(1)
      // manifests and expiration can reclaim the old ones. The delta
      // manifest is referenced from the snapshot either way.
      val fullList = baseManifests :+ manifestName
      // fold on count (merge-min-count), on COMPACT, or on total bytes
      // (`manifest.full-compaction-threshold-size` — a FEW huge
      // manifests hurt planning as much as many small ones; sizes come
      // from a stat, never a read)
      val bytesThreshold = opts
        .get("manifest.full-compaction-threshold-size")
        .map(Meta.parseBytes)
      def overBytes = bytesThreshold.exists { th =>
        fullList.iterator.map(manifestSize).sum > th
      }
      // manifest.merge-min-count (reference: ManifestFileMerger.merge —
      // without it planning metadata grows O(all commits ever) and
      // expiration can never reclaim it)
      val mergeMinCount = opts.get("manifest.merge-min-count").map(_.toInt).getOrElse(30)
      val manifests =
        if (fullList.size < mergeMinCount && commitKind != "COMPACT" && !overBytes)
          fullList
        else writeManifestChunked(foldEntries(fullList), opts)
      val listName = writeManifestList(manifests)
      val snap = Snapshot(
        id = nextId,
        schemaId = schemaId,
        commitKind = commitKind,
        commitIdentifier = commitIdentifier,
        commitUser = Some(user),
        timeMillis = System.currentTimeMillis(),
        manifestList = listName,
        deltaManifest = Some(manifestName),
        changelogManifest = changelogManifest,
        totalRecordCount = latest.map(_.totalRecordCount).getOrElse(0L) + deltaRows,
        deltaRecordCount = deltaRows,
        watermark = watermark,
        baseSnapshotId = latest.map(_.id),
        dynIndex = dynIndexUpdate match {
          case Some(f) =>
            val next = f(latest.flatMap(_.dynIndex).getOrElse(Seq.empty))
            if (next.isEmpty) None else Some(next)
          case None => latest.flatMap(_.dynIndex)
        },
        globalIndex = globalIndexUpdate match {
          case Some(f) =>
            val next = f(latest.flatMap(_.globalIndex).getOrElse(Seq.empty))
            if (next.isEmpty) None else Some(next)
          case None => latest.flatMap(_.globalIndex)
        },
        secIndex = secIndexUpdate match {
          case Some(f) =>
            val next = f(latest.flatMap(_.secIndex).getOrElse(Seq.empty))
            if (next.isEmpty) None else Some(next)
          case None => latest.flatMap(_.secIndex)
        },
        secIndexCids = secCidsUpdate match {
          case Some(f) =>
            val next = f(latest.flatMap(_.secIndexCids))
            if (next.isEmpty) None else Some(next)
          case None => latest.flatMap(_.secIndexCids)
        },
        // carried forward on every commit (deletes retire ids, never
        // reuse them); advanced only when this commit assigns fresh ones
        nextRowId = if (assignRowIds) Some(rowIdNext)
          else latest.flatMap(_.nextRowId),
        colPatches = colPatchUpdate match {
          case Some(f) =>
            val next = f(latest.flatMap(_.colPatches).getOrElse(Map.empty))
            if (next.isEmpty) None else Some(next)
          case None => latest.flatMap(_.colPatches)
        })
      // post-commit epilogue: LATEST hint + best-effort hook (e.g.
      // Iceberg metadata sync) — a callback failure must never fail
      // the committed snapshot
      def finish(id: Long): Long = {
        io.writeString(s"$snapshotDir/LATEST", id.toString)
        try afterCommit(id)
        catch { case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger("graft.SnapshotManager")
            .warn(s"post-commit hook failed for snapshot $id: ${e.getMessage}")
        }
        id
      }
      if (io.tryCreateAtomic(snapshotPath(nextId), Json.write(snap)))
        return finish(nextId)
      // CAS reported failure — but on an object store the conditional
      // PUT may have LANDED with the response lost (client timeout
      // after the server applied it). The delta-manifest name is a
      // per-attempt UUID, so if the snapshot at nextId references OUR
      // manifest, this commit succeeded: return it instead of
      // re-committing the same data at nextId+1 (reference:
      // FileStoreCommitImpl's commitUser/identifier recheck after a
      // failed rename).
      if (io.exists(snapshotPath(nextId)) &&
          snapshot(nextId).deltaManifest.contains(manifestName))
        return finish(nextId)
      attempt += 1 // CAS lost: another writer took nextId — retry
      // jittered exponential backoff between CAS attempts (reference:
      // CoreOptions COMMIT_MIN_RETRY_WAIT=10ms / COMMIT_MAX_RETRY_WAIT
      // =10s): N spin-retrying writers otherwise thunder-herd the
      // snapshot dir and can exhaust the budget under load. No sleep
      // after the FINAL attempt (it would only delay the failure),
      // and the total wait never exceeds the configured maximum.
      if (attempt < effRetries) {
        val base = math.min(retryMaxWait,
          retryMinWait * (1L << math.min(attempt, 10)))
        Thread.sleep(math.min(retryMaxWait, retryMinWait.max(1L) +
          java.util.concurrent.ThreadLocalRandom.current().nextLong(base.max(2L))))
      }
    }
    throw new IllegalStateException(
      if (timeoutAt.exists(System.currentTimeMillis() >= _))
        s"commit timed out (commit.timeout) after $attempt attempts"
      else s"commit failed after $effRetries retries")
  }

  private def retainedDir = branch match {
    case Some(b) => s"$tablePath/branch/$b/changelog-retained"
    case None => s"$tablePath/changelog-retained"
  }

  /** Retained changelogs, ascending by snapshot id. */
  def retainedChangelogs: Seq[Meta.RetainedChangelog] =
    io.list(retainedDir).map(_.split('/').last)
      .collect { case n if n.startsWith("retained-") && n.endsWith(".json") =>
        Json.read(io.readString(s"$retainedDir/$n"), classOf[Meta.RetainedChangelog])
      }.sortBy(_.snapshotId)

  /** Whether the schema options enable the decoupled changelog
    * lifetime; (maxCount, maxAgeMillis). */
  private def changelogRetention(opts: Map[String, String]): (Option[Int], Option[Long]) =
    (opts.get("changelog.num-retained.max").map(_.toInt),
      opts.get("changelog.time-retained").map(Meta.parseDurationMillis))

  /** Drop retained changelogs past the caps; delete their manifests
    * and files (exact-changelog files are referenced by nothing
    * else once the snapshot itself is gone). */
  private def trimRetainedChangelogs(opts: Map[String, String]): Unit = {
    val (maxN, maxAge) = changelogRetention(opts)
    val all = retainedChangelogs
    val cutoff = maxAge.map(System.currentTimeMillis() - _)
    val overCount = maxN.map(n => math.max(0, all.size - n)).getOrElse(0)
    // `changelog.num-retained.min` (reference: CoreOptions
    // CHANGELOG_NUM_RETAINED_MIN): the time cutoff never trims below
    // this floor — a lagging reader keeps at least min changelogs even
    // when they aged out
    val minKeep = opts.get("changelog.num-retained.min").map(_.toInt).getOrElse(0)
    val drop = all.zipWithIndex.filter { case (r, i) =>
      i < overCount ||
        (cutoff.exists(r.timeMillis < _) && i < all.size - minKeep)
    }.map(_._1)
    drop.foreach { r =>
      try {
        readManifest(r.manifest).map(_.file.fileName).distinct
          .foreach(f => io.delete(s"$tablePath/$f"))
        io.delete(s"$manifestDir/${r.manifest}")
      } catch { case scala.util.control.NonFatal(_) => () }
      io.delete(s"$retainedDir/retained-${r.snapshotId}.json")
    }
  }

  /** Drop snapshots older than the `retain` most recent ones and any
    * data/manifest files no surviving snapshot references, under the
    * table options `opts` (default: the current schema's).
    * (reference: ExpireSnapshotsImpl.java:49) */
  def expireSnapshots(retain: Int, opts: Map[String, String] = latestOptions): Seq[Long] = {
    val ids = snapshotIds
    if (ids.size <= retain) return Seq.empty
    // registered consumers still need snapshots after their offset
    val consumerGuard = minConsumerOffset
    val (drop, keep) = {
      val (d0, k0) = ids.splitAt(ids.size - retain)
      val (d1, k1) = consumerGuard match {
        case Some(off) =>
          val (d, guarded) = d0.partition(_ <= off)
          (d, guarded ++ k0)
        case None => (d0, k0)
      }
      // snapshot.expire.limit (reference: CoreOptions SNAPSHOT_EXPIRE_LIMIT):
      // bound one expire pass — a long-idle table with a deep backlog
      // otherwise walks its whole history in a single commit-coupled
      // call (oldest drop first, the rest expire on later passes)
      // tolerant parse: this runs commit-coupled, so a malformed value
      // (e.g. '10s') must degrade to unlimited with a WARN — throwing
      // here would wedge every subsequent write to the table. CREATE
      // also validates the option up front (GraftTable.create).
      opts.get("snapshot.expire.limit")
        .flatMap { v =>
          val parsed = scala.util.Try(v.trim.toInt).toOption
          if (parsed.isEmpty)
            org.slf4j.LoggerFactory.getLogger("graft.SnapshotManager").warn(
              s"ignoring malformed snapshot.expire.limit '$v' (not an " +
                "integer): expiring without a per-pass bound")
          parsed
        }.filter(_ > 0) match {
        case Some(lim) if d1.size > lim =>
          val (d, deferred) = d1.splitAt(lim)
          (d, deferred ++ k1)
        case _ => (d1, k1)
      }
    }
    if (drop.isEmpty) return Seq.empty
    val keptSnaps = keep.map(snapshot)
    val (elseFiles, elseManifests) = referencedElsewhere()
    val (tagFiles, tagManifests) = taggedRefs()
    val liveFiles = keptSnaps.flatMap(s => liveEntries(s).map(_.file.fileName)).toSet ++
      keptSnaps.flatMap(s => s.changelogManifest.toSeq.flatMap(readManifest))
        .map(_.file.fileName).toSet ++
      keptSnaps.flatMap(_.indexSidecars).toSet ++
      elseFiles ++ tagFiles
    val liveManifests = keptSnaps.flatMap(s =>
      (readManifestList(s.manifestList) :+ s.manifestList) ++ s.deltaManifest ++ s.changelogManifest)
      .toSet ++ elseManifests ++ tagManifests
    // plan all deletions BEFORE removing anything: dropped snapshots
    // share manifests, so deleting while iterating would break the
    // later reads (manifest merging makes sharing the common case)
    val dropped = drop.map(snapshot)
    // decoupled changelog lifetime: expired snapshots' EXACT changelog
    // pairs outlive them when changelog retention is configured —
    // record them, protect their manifests/files from this sweep, then
    // trim by the changelog's own caps
    val (clMaxN, clMaxAge) = changelogRetention(opts)
    val clRetainOn = clMaxN.isDefined || clMaxAge.isDefined
    val clProtect: (Set[String], Set[String]) =
      if (!clRetainOn) (Set.empty, Set.empty)
      else {
        val fresh = dropped.filter(_.changelogManifest.isDefined)
        fresh.foreach { s =>
          io.writeString(s"$retainedDir/retained-${s.id}.json",
            Json.write(Meta.RetainedChangelog(
              s.id, s.changelogManifest.get, s.timeMillis, s.commitKind)))
        }
        // only the JUST-dropped snapshots' changelogs can appear in
        // this sweep's deletion lists — protecting the whole retained
        // history would cost O(retained) manifest reads per commit
        // under auto-expiration
        (fresh.flatMap(s => readManifest(s.changelogManifest.get)
          .map(_.file.fileName)).toSet,
          fresh.flatMap(_.changelogManifest).toSet)
      }
    val dropManifests = dropped.flatMap(s =>
      (readManifestList(s.manifestList) :+ s.manifestList) ++ s.deltaManifest ++ s.changelogManifest)
      .distinct
    val dropFiles = (dropped.flatMap(s =>
      readManifestList(s.manifestList).flatMap(readManifest) ++
        s.changelogManifest.toSeq.flatMap(readManifest))
      .map(_.file.fileName) ++
      dropped.flatMap(_.indexSidecars)).distinct
    val deletedFiles = dropFiles
      .filterNot(f => liveFiles.contains(f) || clProtect._1.contains(f))
    // deletion order is the crash-consistency contract: snapshot FILES
    // go first, then manifests, then data. A crash at any point leaves
    // every still-visible snapshot fully readable (the leftovers are
    // unreferenced orphans for remove_orphan_files); the reverse order
    // had a window where a visible snapshot referenced deleted files —
    // a torn table until the expire completed
    drop.foreach(id => io.delete(snapshotPath(id)))
    deletedFiles.foreach(f => io.delete(s"$tablePath/$f"))
    dropManifests.filterNot(m => liveManifests.contains(m) || clProtect._2.contains(m))
      .foreach(m => io.delete(s"$manifestDir/$m"))
    if (clRetainOn) trimRetainedChangelogs(opts)
    // `snapshot.clean-empty-directories`: partition directories whose
    // last data file this expire removed get swept (reference:
    // CoreOptions SNAPSHOT_CLEAN_EMPTY_DIRECTORIES — off by default;
    // object stores have no real dirs, and a racing writer may be
    // staging into one, so the sweep only removes ACTUALLY-empty dirs
    // and ignores failures). Only the parent dirs of just-deleted
    // files are examined — never a full table walk.
    if (opts.get("snapshot.clean-empty-directories").contains("true")) {
      deletedFiles.flatMap { f =>
        val i = f.lastIndexOf('/')
        if (i <= 0) None else Some(f.substring(0, i))
      }.distinct.sortBy(-_.length).foreach { dir =>
        try {
          val p = java.nio.file.Paths.get(s"$tablePath/$dir")
          if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.list(p)
            val empty = try !s.iterator().hasNext finally s.close()
            if (empty) java.nio.file.Files.deleteIfExists(p)
          }
        } catch { case _: Exception => /* racing writer owns it now */ }
      }
    }
    drop
  }

  /** Roll the table back to `target`: delete later snapshots and any
    * files/manifests only they reference (reference:
    * RollbackProcedure / rollback_to). */
  def rollbackTo(target: Long): Seq[Long] = {
    val (keepIds, dropIds) = snapshotIds.partition(_ <= target)
    require(keepIds.contains(target), s"snapshot $target does not exist")
    if (dropIds.isEmpty) return Seq.empty
    val kept = keepIds.map(snapshot)
    val (elseFiles, elseManifests) = referencedElsewhere()
    val (tagFiles, tagManifests) = taggedRefs()
    val keptManifests = kept.flatMap(s =>
      (readManifestList(s.manifestList) :+ s.manifestList) ++ s.deltaManifest ++ s.changelogManifest)
      .toSet ++ elseManifests ++ tagManifests
    val keptFiles = kept.flatMap(s =>
      readManifestList(s.manifestList).flatMap(readManifest)).map(_.file.fileName).toSet ++
      kept.flatMap(s => s.changelogManifest.toSeq.flatMap(readManifest))
        .map(_.file.fileName).toSet ++
      kept.flatMap(_.indexSidecars).toSet ++
      elseFiles ++ tagFiles
    // plan all deletions before removing anything: dropped snapshots
    // share manifests, so deleting while iterating would break reads
    val dropped = dropIds.map(snapshot)
    val dropManifests = dropped.flatMap(s =>
      (readManifestList(s.manifestList) :+ s.manifestList) ++ s.deltaManifest ++ s.changelogManifest)
      .distinct
    // changelog FILES of rolled-back snapshots delete WITH their
    // manifest — once the manifest is gone nothing can enumerate them,
    // so skipping them here would orphan them permanently
    val dropFiles = (dropped.flatMap(s =>
      readManifestList(s.manifestList).flatMap(readManifest) ++
        s.changelogManifest.toSeq.flatMap(readManifest))
      .map(_.file.fileName) ++
      dropped.flatMap(_.indexSidecars)).distinct
    // same crash-consistency ordering as expireSnapshots: hint first
    // (a lagging LATEST is tolerated everywhere, a leading one only
    // shortens the probe walk), then snapshot files newest-first so a
    // crash never leaves a visible snapshot whose files are gone —
    // leftovers are orphans for remove_orphan_files
    io.writeString(s"$snapshotDir/LATEST", target.toString)
    dropIds.sorted.reverse.foreach(id => io.delete(snapshotPath(id)))
    dropFiles.filterNot(keptFiles.contains)
      .foreach(f => io.delete(s"$tablePath/$f"))
    dropManifests.filterNot(keptManifests.contains)
      .foreach(m => io.delete(s"$manifestDir/$m"))
    dropIds
  }

  // ---- branches -------------------------------------------------------

  /** Fork a branch at `fromSnapshot`: the branch starts with a copy of
    * that snapshot file and evolves independently. */
  def createBranch(name: String, fromSnapshot: Long): Unit = {
    require(branch.isEmpty, "branches fork from main")
    require(!branches.contains(name), s"branch $name already exists")
    val content = io.readString(snapshotPath(fromSnapshot))
    io.writeString(s"$tablePath/branch/$name/snapshot/snapshot-$fromSnapshot.json", content)
    io.writeString(s"$tablePath/branch/$name/snapshot/LATEST", fromSnapshot.toString)
  }

  /** An EMPTY branch — schema shared with main, no snapshots yet (the
    * reference's plain create_branch without a tag): the marker makes
    * the branch listable before its first commit. */
  def createEmptyBranch(name: String): Unit = {
    require(branch.isEmpty, "branches fork from main")
    require(!branches.contains(name), s"branch $name already exists")
    io.writeString(s"$tablePath/branch/$name/snapshot/.branch", "")
  }

  def deleteBranch(name: String): Unit = {
    val dir = java.nio.file.Paths.get(s"$tablePath/branch/$name")
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      graft.core.FsUtil.walkAll(dir).reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Fast-forward main to a branch: main's snapshots after the fork
    * point are replaced by the branch's (reference: fast_forward
    * procedure). */
  def fastForward(name: String): Unit = {
    require(branch.isEmpty, "fast-forward applies to main")
    val bsm = new SnapshotManager(tablePath, Some(name), io)
    val bids = bsm.snapshotIds
    require(bids.nonEmpty, s"branch $name has no snapshots")
    val fork = bids.head
    // drop main's divergent tail (files still referenced by the branch
    // are protected by referencedElsewhere)
    if (snapshotIds.exists(_ > fork)) rollbackTo(fork)
    bids.filter(_ > fork).foreach { id =>
      io.writeString(snapshotPath(id), io.readString(
        s"$tablePath/branch/$name/snapshot/snapshot-$id.json"))
    }
    io.writeString(s"$snapshotDir/LATEST", math.max(fork, bids.last).toString)
  }

  // ---- tags (named snapshot refs; reference: paimon tag management) ---

  private def tagDir = s"$tablePath/tag"

  /** A tag is a full COPY of the snapshot file (reference: paimon tags
    * are materialized snapshots): it stays readable after the original
    * snapshot expires, and expiration protects the files it
    * references. `timeRetainedMs` stamps the copy with its creation
    * time and retention window (reference: tag/Tag.java —
    * tagCreateTime/tagTimeRetained) so TagTimeExpire-style cleanup can
    * evict it; None leaves the tag permanent. */
  def createTag(name: String, snapshotId: Long,
      timeRetainedMs: Option[Long] = None): Unit = {
    val base = io.readString(snapshotPath(snapshotId))
    val content = timeRetainedMs match {
      case None => base
      case Some(ms) =>
        Json.write(Json.read(base, classOf[Snapshot]).copy(
          tagCreateTime = Some(System.currentTimeMillis()),
          tagTimeRetained = Some(ms)))
    }
    io.writeString(s"$tagDir/tag-$name", content)
  }

  def tagSnapshot(name: String): Option[Snapshot] =
    if (!io.exists(s"$tagDir/tag-$name")) None
    else {
      val content = io.readString(s"$tagDir/tag-$name").trim
      if (content.startsWith("{")) Some(Json.read(content, classOf[Snapshot]))
      else Some(snapshot(content.toLong)) // legacy id-only tag file
    }

  def tagSnapshotId(name: String): Option[Long] = tagSnapshot(name).map(_.id)

  def deleteTag(name: String): Unit = io.delete(s"$tagDir/tag-$name")

  /** Rename a tag, keeping its materialized snapshot copy (reference:
    * RenameTagProcedure). */
  def renameTag(from: String, to: String): Unit = {
    require(io.exists(s"$tagDir/tag-$from"), s"no tag $from")
    require(!io.exists(s"$tagDir/tag-$to"), s"tag $to already exists")
    io.writeString(s"$tagDir/tag-$to", io.readString(s"$tagDir/tag-$from"))
    io.delete(s"$tagDir/tag-$from")
  }

  def tags: Map[String, Long] =
    io.list(tagDir).map(_.split('/').last)
      .collect { case t if t.startsWith("tag-") => t.stripPrefix("tag-") }
      .flatMap(n => tagSnapshotId(n).map(n -> _)).toMap

  /** All tag snapshots (materialized copies; the tag dir is shared
    * across branches). */
  def tagSnapshots: Seq[Snapshot] =
    io.list(tagDir).map(_.split('/').last)
      .collect { case t if t.startsWith("tag-") => t.stripPrefix("tag-") }
      .flatMap(tagSnapshot)

  /** Files + manifests referenced by tags — never garbage-collectable. */
  private def taggedRefs(): (Set[String], Set[String]) = {
    val snaps = tagSnapshots
    val manifests = snaps.flatMap(s =>
      (readManifestList(s.manifestList) :+ s.manifestList) ++ s.deltaManifest ++ s.changelogManifest).toSet
    val files = snaps.flatMap(s =>
      readManifestList(s.manifestList).flatMap(readManifest)
        .map(_.file.fileName) ++
        // changelog FILES too — a tag must keep its exact -U/+U
        // history readable, not just the manifest that lists it
        s.changelogManifest.toSeq.flatMap(readManifest).map(_.file.fileName) ++
        s.indexSidecars).toSet
    (files, manifests)
  }

  // ---- consumers (durable reader progress; reference: ConsumerManager)

  def consumerDir = s"$tablePath/consumer"

  /** Smallest last-processed snapshot id over registered consumers:
    * snapshots after it are still needed and must not expire
    * (reference: ConsumerManager.minNextSnapshot guarding
    * SnapshotDeletion). */
  def minConsumerOffset: Option[Long] =
    io.list(consumerDir).map(_.split('/').last)
      .collect { case c if c.startsWith("consumer-") =>
        scala.util.Try(io.readString(s"$consumerDir/$c").trim.toLong).toOption
      }.flatten.minOption
}
