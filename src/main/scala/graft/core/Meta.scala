package graft.core

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.spark.sql.types.{DataType, StructType}

/** Metadata model of the graft table format.
  *
  * Layout (modeled on the reference's snapshot → manifest-list →
  * manifest → data-file chain, paimon-api .../Snapshot.java:43-69 and
  * paimon-core .../manifest/ManifestEntry.java:42, re-expressed as
  * plain JSON for a Spark-library implementation):
  *
  * {{{
  * table/
  *   schema/schema-<id>.json
  *   snapshot/snapshot-<id>.json     // atomic-rename committed
  *   snapshot/LATEST                 // hint (content: latest id)
  *   manifest/manifest-<uuid>.json   // entries added/deleted by a commit
  *   manifest/list-<uuid>.json       // all manifests visible in a snapshot
  *   data/<partitionPath>/bucket-<n>/<uuid>.parquet
  * }}}
  */
object Meta {

  /** Versioned table schema. Field ids are stable across evolution
    * (model: paimon DataField / SchemaManager). */
  case class FieldDef(id: Int, name: String, dataType: String, nullable: Boolean)

  case class TableSchema(
      id: Long,
      fields: Seq[FieldDef],
      partitionKeys: Seq[String],
      primaryKeys: Seq[String],
      options: Map[String, String]) {

    /** Runtime struct. Graft-level type DDLs that have no Spark
      * runtime form (MULTISET, CHAR/VARCHAR) are preserved as field
      * METADATA so `fromStruct(toStruct)` round-trips losslessly — a
      * copy-table flow must not silently demote a MULTISET to a plain
      * map or drop a length constraint. */
    def toStruct: StructType = StructType(fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      val up = f.dataType.trim.toUpperCase
      if (up.startsWith("MULTISET<")) mb.putBoolean(Meta.MultisetMeta, true)
      up match {
        case Meta.CharVarcharRe(_, _) => mb.putString(Meta.LengthTypeMeta, up)
        case _ => ()
      }
      org.apache.spark.sql.types.StructField(
        f.name, Meta.sparkTypeOf(f.dataType), f.nullable, mb.build())
    }.toArray)

    /** Length-constrained string fields: (name, CHAR|VARCHAR, n).
      * Stored as their declared DDL; runtime frames use StringType and
      * the write path enforces/pads (reference: paimon-api
      * CharType.java / VarCharType.java; the reference likewise stores
      * plain strings and checks on write). */
    def charVarcharFields: Seq[(String, String, Int)] = fields.flatMap { f =>
      f.dataType.trim.toUpperCase match {
        case Meta.CharVarcharRe(kind, n) => Some((f.name, kind, n.toInt))
        case _ => None
      }
    }

    /** data-file storage format: parquet (default) or orc (reference:
      * CoreOptions.FILE_FORMAT; paimon-format Orc/ParquetFileFormat). */
    def fileFormat: String = options.getOrElse("file.format", "parquet")

    /** `file.format.per.level` (reference: CoreOptions
      * FILE_FORMAT_PER_LEVEL, "level:format" pairs): LSM levels may
      * store different formats — typically row-oriented (avro) level-0
      * for cheap ingest, columnar (parquet/orc) compacted levels for
      * scan speed. Levels absent from the map use [[fileFormat]]. */
    def fileFormatPerLevel: Map[Int, String] =
      options.get("file.format.per.level")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf(':')
          require(i > 0, s"file.format.per.level entries are level:format, got '$kv'")
          kv.substring(0, i).trim.toInt -> kv.substring(i + 1).trim
        }.toMap)
        .getOrElse(Map.empty)

    /** Storage format for files written AT `level`. */
    def fileFormatFor(level: Int): String =
      fileFormatPerLevel.getOrElse(level, fileFormat)
    def numBuckets: Int = options.getOrElse("bucket", "4").toInt
    /** bucket = -1: dynamic assignment — keys keep their first bucket,
      * new keys fill buckets up to the target row count (reference:
      * BucketMode.HASH_DYNAMIC + HashBucketAssigner). */
    def isDynamicBucket: Boolean = numBuckets == -1
    def dynamicBucketTargetRows: Long =
      options.getOrElse("dynamic-bucket.target-row-num", "2000000").toLong
    /** bucket = -2: postpone mode — writes land in an unassigned
      * staging bucket with ZERO shuffle and stay invisible to every
      * read until a compaction hash-assigns real buckets (reference:
      * BucketMode postpone mode, postpone/PostponeBucketWriter.java:55,
      * table/PostponeUtils.java:34). */
    def isPostponeBucket: Boolean = numBuckets == -2
    /** Bucket count compaction uses when assigning postpone data to
      * real buckets (reference: CoreOptions postpone.default-bucket-num). */
    def postponeBucketNum: Int =
      options.getOrElse("postpone.default-bucket-num", "4").toInt
    /** Bucket count for hash routing and bucket pruning of ASSIGNED
      * data: the compaction-assigned count for postpone tables, the
      * declared count otherwise. */
    def effectiveBuckets: Int =
      if (isPostponeBucket) postponeBucketNum else numBuckets
    /** Postpone tables surface changes only when compaction makes them
      * visible, so their changelog producer is forced to
      * full-compaction (the compact job persists the exact diffs). */
    def changelogProducer: String =
      if (isPostponeBucket) "full-compaction"
      else options.getOrElse("changelog-producer", "input")
    def mergeEngine: String = options.getOrElse("merge-engine", "deduplicate")
    /** `sequence.field` columns, comma-separated, compared in ORDER —
      * lexicographically, later fields breaking ties of earlier ones
      * (reference: CoreOptions.java:882 SEQUENCE_FIELD accepts a list;
      * SequenceGenerator compares the fields in sequence). Most tables
      * use a single field; multi-field covers CDC sources ordered by
      * e.g. (commit_ts, log_position). */
    def sequenceFields: Seq[String] = options.get("sequence.field")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

    /** Bucket distribution columns (reference: CoreOptions.BUCKET_KEY):
      * explicit `bucket-key` (comma-separated, hashed in THIS order),
      * defaulting to the primary key. PK tables require bucket-key ⊆
      * primary key (create-time validated); append tables may set it
      * to become bucketed-append. Every bucket consumer — writer
      * routing, equality pruning, point lookup, compaction rewrite,
      * storage-partitioned join reporting, shard routing — derives
      * from THIS list so the hash can never drift between sites. */
    def bucketKeys: Seq[String] = options.get("bucket-key")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(primaryKeys)

    /** Append table explicitly distributed by `bucket-key` into fixed
      * buckets (reference: bucketed append tables — BucketMode
      * HASH_FIXED without a primary key). Unbucketed append tables
      * (no bucket-key) write bucket 0 and never bucket-prune. */
    def isBucketedAppend: Boolean =
      primaryKeys.isEmpty && options.contains("bucket-key") && numBuckets > 0
  }

  /** `CHAR(n)` / `VARCHAR(n)` field DDL. */
  private[core] val CharVarcharRe = """^(CHAR|VARCHAR)\s*\(\s*(\d+)\s*\)$""".r

  /** Spark runtime type of a stored field DDL. Two graft-level type
    * DDLs have no direct Spark runtime type and map per SURVEY §1.2:
    *  - `MULTISET<T>` → `MAP<T, INT>` (element → multiplicity; the
    *    Flink-style mapping — reference: paimon-api MultisetType.java);
    *  - `CHAR(n)` / `VARCHAR(n)` → `STRING` (length is a write-time
    *    constraint, not a runtime type — Spark itself stores char/
    *    varchar columns as StringType).
    */
  def sparkTypeOf(ddl: String): DataType = {
    val s = ddl.trim
    val up = s.toUpperCase
    if (up.startsWith("MULTISET<") && up.endsWith(">"))
      org.apache.spark.sql.types.MapType(
        sparkTypeOf(s.substring("MULTISET<".length, s.length - 1)),
        org.apache.spark.sql.types.IntegerType, valueContainsNull = false)
    else up match {
      case CharVarcharRe(_, _) => org.apache.spark.sql.types.StringType
      case _ => DataType.fromDDL(s)
    }
  }

  /** StructField metadata key marking a `MAP<T, INT>` field as a
    * MULTISET at the table-format level. */
  val MultisetMeta = "graft.multiset"

  /** StructField metadata key carrying a CHAR(n)/VARCHAR(n) DDL on a
    * StringType runtime field. */
  val LengthTypeMeta = "graft.length-type"

  object TableSchema {
    def fromStruct(
        id: Long,
        struct: StructType,
        partitionKeys: Seq[String],
        primaryKeys: Seq[String],
        options: Map[String, String]): TableSchema =
      TableSchema(id,
        struct.fields.zipWithIndex.map { case (f, i) =>
          val ddl = f.dataType match {
            case m: org.apache.spark.sql.types.MapType
                if f.metadata.contains(MultisetMeta) &&
                  m.valueType == org.apache.spark.sql.types.IntegerType =>
              s"MULTISET<${m.keyType.sql}>"
            case org.apache.spark.sql.types.StringType
                if f.metadata.contains(LengthTypeMeta) =>
              f.metadata.getString(LengthTypeMeta)
            case dt => dt.sql
          }
          FieldDef(i, f.name, ddl, f.nullable)
        }.toSeq,
        partitionKeys, primaryKeys, options)
  }

  /** Per-column file statistics (stringified min/max, typed via the
    * schema on evaluation). Drives data skipping. */
  case class ColStats(min: Option[String], max: Option[String], nullCount: Long)

  /** One data file: the manifest's unit of add/delete. */
  case class DataFileMeta(
      fileName: String, // relative to table root
      fileSize: Long,
      rowCount: Long,
      minSeq: Long,
      maxSeq: Long,
      level: Int,
      stats: Map[String, ColStats],
      /** column → bloom-index sidecar path (relative to table root) */
      indexFiles: Option[Map[String, String]] = None,
      /** deletion-vector sidecar path + its cardinality */
      dvFile: Option[String] = None,
      // contentAs: Jackson erasure would otherwise box Option[Long] as Integer
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      dvCardinality: Option[Long] = None,
      /** schema version the file was written under — old files are read
        * through the current schema by field-id mapping (reference:
        * SchemaEvolutionUtil / SimpleStatsEvolutions). */
      schemaId: Long = 0L,
      /** true iff this file's values are covered by the global
        * secondary index (index-sec/ sidecars) — files written before
        * the index was enabled stay false and are never pruned by it. */
      secIndexed: Boolean = false,
      /** row-tracking tables: the row id of this file's first row; row
        * id = firstRowId + position-in-file. Assigned once at commit
        * from the snapshot's nextRowId counter and preserved verbatim
        * through re-adds (DV marks, index rewrites). None on tables
        * without row tracking (reference: paimon-core
        * io/DataFileMeta.java:107 firstRowId + SpecialFields._ROW_ID). */
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      firstRowId: Option[Long] = None,
      /** wall-clock time the physical file was written (reference:
        * io/DataFileMeta creationTime). Drives the IMPRECISE
        * `scan.file-creation-time-millis` filter — compaction rewrites
        * reset it (documented reference behavior), DV/index re-adds
        * copy the meta and keep it. None on pre-field files: such
        * files are always kept. */
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      creationTime: Option[Long] = None)

  /** Manifest entry: ADD or DELETE of one data file in one
    * (partition, bucket). Partition values are stringified. */
  case class ManifestEntry(
      kind: String, // "ADD" | "DELETE"
      partition: Map[String, String],
      bucket: Int,
      file: DataFileMeta)

  case class Manifest(entries: Seq[ManifestEntry])

  /** Manifest list: the set of manifest files a snapshot sees. */
  case class ManifestList(manifests: Seq[String])

  /** Commit kinds (reference: Snapshot.CommitKind). */
  val KindAppend = "APPEND"
  val KindCompact = "COMPACT"
  val KindOverwrite = "OVERWRITE"

  case class Snapshot(
      id: Long,
      schemaId: Long,
      commitKind: String,
      /** idempotence key for streaming epochs (reference:
        * FileStoreCommitImpl.commitIdentifier). */
      commitIdentifier: Long,
      /** writer identity stamped on the commit (reference:
        * Snapshot.commitUser — a per-writer UUID, prepended with
        * `commit.user-prefix` when set); None on pre-field snapshots. */
      commitUser: Option[String] = None,
      timeMillis: Long,
      manifestList: String,
      /** the one manifest added by this commit (drives incremental reads) */
      deltaManifest: Option[String],
      /** manifest of persisted changelog files carrying exact -U/+U
        * pairs for this commit (changelog-producer=lookup; reference:
        * Snapshot.changelogManifestList). Absent → changelog derived
        * from delta files. */
      changelogManifest: Option[String] = None,
      totalRecordCount: Long,
      deltaRecordCount: Long,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      watermark: Option[Long],
      /** tag name → snapshot id map lives outside; snapshots are pure. */
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      baseSnapshotId: Option[Long],
      /** dynamic-bucket (pk → bucket) index sidecar parquet files
        * (table-relative, under index-dyn/) visible in this snapshot.
        * Appended with each commit's NEW keys, compacted past a file
        * threshold — the persisted form of the reference's
        * HashBucketAssigner state (paimon-core .../index/
        * HashBucketAssigner.java:37), so assignment never re-scans the
        * table. Absent on non-dynamic tables and pre-index snapshots. */
      dynIndex: Option[Seq[String]] = None,
      /** global cross-partition index sidecar parquet files
        * (table-relative, under index-global/) for PK tables
        * partitioned OUTSIDE the primary key: key → (partition, seq),
        * so writes retract moved keys from their old partition and
        * partition predicates stay prune-safe (reference: paimon-core
        * .../crosspartition/GlobalIndexAssigner.java:79,
        * IndexBootstrap.java). */
      globalIndex: Option[Seq[String]] = None,
      /** global secondary (value → data-file) index sidecar parquet
        * files (table-relative, under index-sec/) for the columns in
        * `secondary-index.columns`: one bounded index read resolves an
        * equality/IN predicate to the exact file set, instead of
        * probing per-file sidecars O(files) times (reference role: the
        * global btree/bitmap indexes of paimon's table-index layer). */
      secIndex: Option[Seq[String]] = None,
      /** field ids the secondary index FULLY covers: every secIndexed
        * file has index rows for these columns. A column added to
        * `secondary-index.columns` mid-life is NOT covered (old files
        * lack its rows) until rewrite_file_index rebuilds — probing it
        * anyway would wrongly prune those files. Intersected with the
        * option on each commit; set to the full option set on a full
        * rebuild. None (legacy) = the current option columns. */
      secIndexCids: Option[Seq[Int]] = None,
      /** row-tracking tables: the next unassigned row id — new files
        * committed on top of this snapshot take firstRowId from here.
        * Monotone, never reused (deleted rows retire their ids).
        * None on tables without row tracking (reference: paimon-api
        * Snapshot.java nextRowId). */
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      nextRowId: Option[Long] = None,
      /** data evolution (reference: DATA_EVOLUTION_ENABLED +
        * DataEvolutionSplitRead — column files merged into row files
        * at read): column → patch parquet files (table-relative,
        * under patch/), each holding (_row_id, value) for a backfill
        * of that column. LIST ORDER is the patch generation — later
        * files win per row id — so no per-file sequence is stored.
        * Row-tracking append tables only (stable _ROW_ID identity). */
      colPatches: Option[Map[String, Seq[String]]] = None,
      /** set ONLY on tag files (a tag is a snapshot copy; reference:
        * tag/Tag.java extends Snapshot with tagCreateTime +
        * tagTimeRetained): wall-clock creation time of the tag and its
        * retention window. None on real snapshots and legacy tags —
        * such tags never time-expire. */
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      tagCreateTime: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      tagTimeRetained: Option[Long] = None) {
    /** every index sidecar this snapshot pins (GC/expiration guard) */
    def indexSidecars: Seq[String] =
      dynIndex.getOrElse(Seq.empty) ++ globalIndex.getOrElse(Seq.empty) ++
        secIndex.getOrElse(Seq.empty) ++
        colPatches.map(_.values.flatten.toSeq).getOrElse(Seq.empty)
  }

  /** ANALYZE output: per-column table statistics (reference:
    * paimon-core .../stats/Statistics.java). */
  case class ColAnalyzed(
      count: Long, nullCount: Long, ndv: Long,
      min: Option[String], max: Option[String],
      @JsonDeserialize(contentAs = classOf[java.lang.Double])
      avgLen: Option[Double])

  case class TableStats(
      snapshotId: Long, rowCount: Long, cols: Map[String, ColAnalyzed])

  /** `"7 d"` / `"12h"` / `"30 m"` / `"45s"` / `"500 ms"` → millis
    * (the duration shape the reference's duration options accept). */
  def parseDurationMillis(s: String): Long = {
    val m = "(?i)^\\s*(\\d+)\\s*(ms|s|m|h|d)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse duration '$s' (want <n> ms|s|m|h|d)"))
    val n = m.group(1).toLong
    m.group(2).toLowerCase match {
      case "ms" => n
      case "s" => n * 1000L
      case "m" => n * 60000L
      case "h" => n * 3600000L
      case "d" => n * 86400000L
    }
  }

  /** `"128mb"` / `"4 kb"` / `"1g"` / plain bytes → bytes (the memory
    * shape the reference's MemorySize options accept). */
  def parseBytes(s: String): Long = {
    val m = "(?i)^\\s*(\\d+)\\s*(b|kb|k|mb|m|gb|g|tb|t)?\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse size '$s' (want <n> [b|kb|mb|gb|tb])"))
    val n = m.group(1).toLong
    Option(m.group(2)).map(_.toLowerCase).getOrElse("b") match {
      case "b" => n
      case "kb" | "k" => n << 10
      case "mb" | "m" => n << 20
      case "gb" | "g" => n << 30
      case "tb" | "t" => n << 40
    }
  }

  /** One expired snapshot's persisted changelog kept beyond the
    * snapshot's own lifetime (reference: the Changelog long-lived
    * chain under `changelog.num-retained.max` / `changelog
    * .time-retained` — a lagging streaming reader still gets EXACT
    * pairs for snapshots expiration already removed). */
  case class RetainedChangelog(
      snapshotId: Long, manifest: String, timeMillis: Long,
      /** the expired snapshot's commitKind — consumers must keep
        * skipping COMPACT changelogs exactly as they did while the
        * snapshot was live ("" on records written before the field). */
      commitKind: String = "")

  /** Hidden columns on primary-key table data files. */
  val SeqCol = "_graft_seq"
  val KindCol = "_graft_kind"
  /** A read-only column of merge-on-read relations: the row's bucket
    * id (graft.sources.BucketRuns). Never stored in a file. */
  val BucketCol = "_graft_bucket"
  /** RowKind byte values (reference: paimon RowKind.java:29-56). */
  val KindInsert: Byte = 0 // +I
  val KindUpdateBefore: Byte = 1 // -U
  val KindUpdateAfter: Byte = 2 // +U
  val KindDelete: Byte = 3 // -D
}
