package graft.table

import graft.core.Meta.{KindCompact, KindOverwrite, ManifestEntry, Snapshot, TableSchema}
import graft.core.SnapshotManager

/** Which snapshots of a range (from, to] are change events, decided in
  * one place for every changelog reader: the streaming drains, the
  * micro-batch stream, `incrementalRead`, `binlog` and
  * `changelogBetween` (reference: the follow-up scanner of
  * StreamDataTableScan). The readers render rows from the steps.
  *
  *  - An expired id still counts while its exact changelog is retained
  *    (`changelog.num-retained` / `changelog.time-retained`).
  *  - A COMPACT snapshot is a rewrite: a change event only when it
  *    carries a changelog (`changelog-producer=full-compaction`).
  *  - An OVERWRITE is a change event unless `opt` sets
  *    `streaming-read-overwrite` (or, on append tables,
  *    `streaming-read-append-overwrite`) to `false`.
  *
  * @param opt the reader's option lookup; batch readers pass
  *        [[Changes.NoOptions]] */
private[graft] final class Changes(
    sm: SnapshotManager, sch: TableSchema, opt: String => Option[String]) {

  private val skipOverwrites =
    opt("streaming-read-overwrite").contains("false") ||
      (sch.primaryKeys.isEmpty && opt("streaming-read-append-overwrite").contains("false"))

  /** One step per live or retained id in (from, to], ascending: one
    * LIST of `snapshot/`, one read of each live snapshot, and a LIST of
    * the retained changelogs only when the range reaches below the
    * oldest live id (only expired ids have them). */
  def steps(fromExclusive: Long, toInclusive: Long): Seq[Changes.Step] = {
    val all = sm.snapshotIds
    val live = all.filter(i => i > fromExclusive && i <= toInclusive)
    val retained =
      if (all.headOption.exists(_ <= fromExclusive + 1)) Nil
      else sm.retainedChangelogs.filter(r => r.snapshotId > fromExclusive &&
        r.snapshotId <= toInclusive && !live.contains(r.snapshotId))
    val expired = retained.map(r => new Changes.Step(r.snapshotId, None, Some(r.manifest),
      event = true, overwrite = false, compaction = r.commitKind == KindCompact, () => Nil))
    val current = live.map { id =>
      val sn = sm.snapshot(id)
      val compaction = sn.commitKind == KindCompact
      val overwrite = sn.commitKind == KindOverwrite
      val event =
        if (compaction) sn.changelogManifest.isDefined else !(overwrite && skipOverwrites)
      new Changes.Step(id, Some(sn), sn.changelogManifest.filter(_ => event), event,
        overwrite, compaction, () => sn.deltaManifest.map(sm.readManifest).getOrElse(Nil))
    }
    (expired ++ current).sortBy(_.id)
  }

  /** The delta entries of (from, to], each file once: the files whose
    * keys may differ between the states at `from` and `to`. Compactions
    * count only on a postpone-bucket table, whose rows become visible
    * at compaction. */
  def touchedFiles(fromExclusive: Long, toInclusive: Long): Seq[ManifestEntry] =
    steps(fromExclusive, toInclusive)
      .filter(s => sch.isPostponeBucket || !s.compaction)
      .flatMap(_.delta).groupBy(_.file.fileName).map(_._2.head).toSeq
}

private[graft] object Changes {
  /** The option lookup of batch readers: every OVERWRITE is a change. */
  val NoOptions: String => Option[String] = _ => None

  /** One live or retained id of a range.
    *
    * @param snapshot None for an expired id, served by its retained changelog
    * @param changelog the exact changelog manifest of a change event
    * @param event false for a COMPACT without a changelog and for an
    *        OVERWRITE the reader's options skip */
  final class Step(
      val id: Long,
      val snapshot: Option[Snapshot],
      val changelog: Option[String],
      val event: Boolean,
      val overwrite: Boolean,
      val compaction: Boolean,
      readDelta: () => Seq[ManifestEntry]) {

    def watermark: Option[Long] = snapshot.flatMap(_.watermark)

    /** Every entry of the snapshot's delta manifest, read on first use. */
    lazy val delta: Seq[ManifestEntry] = readDelta()

    private def changesRows = event && !compaction

    /** The ADD entries that bring rows. A file re-ADDed with a grown
      * deletion vector (DELETE + ADD of one file in one commit) brings
      * none. */
    lazy val adds: Seq[ManifestEntry] =
      if (!changesRows) Nil
      else {
        val deleted = delta.filter(_.kind == "DELETE").map(_.file.fileName).toSet
        delta.filter(e => e.kind == "ADD" && !deleted.contains(e.file.fileName))
      }

    /** The DELETE entries, each with the deletion vector this step
      * re-ADDs its file with: Some(dv) removes only the positions the
      * vector newly deletes, None drops the whole file. */
    lazy val deletes: Seq[(ManifestEntry, Option[String])] =
      if (!changesRows) Nil
      else {
        val readdedDv = delta.collect {
          case e if e.kind == "ADD" && e.file.dvFile.isDefined => e.file.fileName -> e.file.dvFile.get
        }.toMap
        delta.filter(_.kind == "DELETE").map(e => e -> readdedDv.get(e.file.fileName))
      }
  }
}
