package graft.sources

import graft.core.{DeletionVectors, Json}
import graft.core.Meta.{ColStats, FieldDef, ManifestEntry, Snapshot, TableSchema}
import graft.table.GraftTable
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.types._
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Iceberg-compatible metadata export: after [[sync]], the table can be
  * read by any engine that understands the Apache Iceberg table format
  * (format-version 2) pointed at `<table>/metadata/` — without that
  * engine knowing anything about graft's own snapshot/manifest layout.
  *
  * What gets exposed (mirrors the reference's contract —
  * paimon-core .../iceberg/IcebergCommitCallback.java:102, field ids
  * and Avro layouts per IcebergManifestEntry.java:119,
  * IcebergDataFileMeta.java:293, IcebergManifestFileMeta.java:172 and
  * the public Iceberg spec):
  *  - append tables: every live data file; deletion-vectored files are
  *    exported together with v2 POSITION-DELETE files (one Avro file
  *    of (file_path, pos) rows per DV sidecar — the reference writes
  *    the same shape, IcebergCommitCallback.java:455-473
  *    createForDeleteFile), listed in a content=deletes manifest, so
  *    external readers see the post-delete state without compaction;
  *  - primary-key tables: only fully-compacted (level >= 1) files —
  *    one merged, tombstone-free generation per bucket, so a
  *    merge-unaware external reader still sees correct rows (the
  *    reference exposes maxLevel files for exactly this reason,
  *    IcebergCommitCallback.java:734-741). When post-compaction
  *    level-0 commits exist, the exported snapshot id/timestamp are
  *    those of the COMPACT generation actually exposed — not the
  *    latest graft snapshot — and the staleness is recorded in the
  *    table properties (`graft.stale-behind-snapshot-id`), so an
  *    external reader is never told a stale state is current.
  *
  * Data files are the SAME parquet/orc files graft reads — zero data
  * copying. Graft's hidden columns (_graft_seq/_graft_kind) are simply
  * absent from the exported Iceberg schema, and the
  * `schema.name-mapping.default` property maps column names to field
  * ids for files written without embedded ids, so spec-compliant
  * readers project only the logical columns. Columns with no Iceberg
  * type mapping (e.g. VARIANT) are skipped with a WARN instead of
  * failing the whole export.
  *
  * Sync is INCREMENTAL across calls (state in
  * `metadata/graft-sync-state.json`): when the exposed file set is
  * unchanged the previous manifest Avro is reused byte-for-byte, when
  * it changed unchanged files keep status=EXISTING with their original
  * snapshot id / sequence number and only new files are ADDED, and
  * every sync deletes the metadata files the previous sync wrote that
  * are no longer referenced — the metadata dir holds at most the
  * current generation plus the shared hint/state files, mirroring the
  * reference's expiration of old Iceberg metadata. Each sync is
  * O(changed files) driver-side metadata (O(live) only when the set
  * changed), no Spark job, no shuffle — the same cost class as a graft
  * commit itself.
  */
object IcebergCompat {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.IcebergCompat")

  // ---------- sync state (incremental reuse + cleanup) ----------

  /** First-export bookkeeping for one exposed file: the snapshot id and
    * sequence number stamped when the file first appeared in a sync —
    * re-emitted verbatim on later syncs (status=EXISTING). */
  case class SyncedFile(snapshotId: Long, seq: Long)

  /** Per-partition-field bound summary of one manifest (spec ids
    * 509-511), cached so a reused manifest keeps its summary without
    * re-reading the Avro. */
  case class PartBound(containsNull: Boolean, min: Option[String], max: Option[String])

  case class ManifestRef(
      name: String, content: Int,
      added: Int, existing: Int,
      addedRows: Long, existingRows: Long,
      minSeq: Long, parts: Seq[PartBound])

  case class SyncState(
      version: Long,
      data: Option[ManifestRef],
      deletes: Option[ManifestRef],
      /** exposed data files (by table-relative name) */
      files: Map[String, SyncedFile],
      /** DV sidecar rel path → first-export info (delete-file identity
        * IS the sidecar path: DV growth writes a new sidecar) */
      dvs: Map[String, SyncedFile],
      /** data fileName → its DV sidecar rel path at last sync */
      dvOf: Map[String, String],
      /** metadata-dir file NAMES owned by the last sync (cleanup set) */
      written: Seq[String])

  /** Per-table-path serialization of sync: the per-commit hook can
    * fire from concurrent writers, and an interleaved cleanup could
    * delete a manifest a concurrent sync just decided to reuse.
    * In-JVM locking covers the local[n] and per-executor cases; the
    * cross-process story is the same single-writer assumption the
    * reference's commit callback makes. */
  private val syncLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Write the Iceberg metadata tree for the table's latest snapshot.
    * @return path of the metadata json, None for an empty table */
  def sync(t: GraftTable): Option[String] =
    syncLocks.getOrElseUpdate(t.path, new Object).synchronized { syncLocked(t) }

  private def syncLocked(t: GraftTable): Option[String] = {
    val latest = t.sm.latestSnapshot().getOrElse(return None)
    val sch = t.schema
    val all = t.sm.liveEntries(latest)
    val isPk = sch.primaryKeys.nonEmpty
    val exposed = if (!isPk) all else all.filter(_.file.level >= 1)
    // PK staleness: with post-compaction level-0 commits, the exposed
    // level>=1 state is the one the last COMPACT snapshot produced —
    // stamp the export with THAT generation, not the latest snapshot
    val exposedSnap: Snapshot =
      if (isPk && all.exists(_.file.level == 0))
        t.sm.latestCompactSnapshot().getOrElse(latest)
      else latest
    val metaDir = new File(s"${t.path}/metadata")
    metaDir.mkdirs()
    val stateFile = new File(metaDir, "graft-sync-state.json")
    val prev: Option[SyncState] =
      if (stateFile.exists())
        try Some(Json.read(new String(Files.readAllBytes(stateFile.toPath),
          StandardCharsets.UTF_8), classOf[SyncState]))
        catch { case e: Exception =>
          log.warn(s"unreadable sync state, full re-export: ${e.getMessage}"); None }
      else None
    val version = latest.id
    val genSnapId = exposedSnap.id
    val genSeq = exposedSnap.id
    val mappable = mappableFields(sch)
    val commitUuid = UUID.randomUUID().toString

    // ---- per-file export info (EXISTING files keep first-sync ids)
    val prevFiles = prev.map(_.files).getOrElse(Map.empty[String, SyncedFile])
    val fileInfo: Map[String, SyncedFile] = exposed.map { e =>
      val n = e.file.fileName
      n -> prevFiles.getOrElse(n, SyncedFile(genSnapId, genSeq))
    }.toMap

    // ---- data manifest: reuse byte-for-byte when the set is unchanged
    val dataRef: ManifestRef =
      prev.flatMap(_.data).filter(_ => prevFiles.keySet == fileInfo.keySet)
        .filter(r => new File(metaDir, r.name).exists())
        .getOrElse {
          val rows = exposed.map { e =>
            val info = fileInfo(e.file.fileName)
            EntryRow(
              status = if (prevFiles.contains(e.file.fileName)) 0 else 1,
              snapshotId = info.snapshotId, seq = info.seq, content = 0,
              path = s"file://${new File(s"${t.path}/${e.file.fileName}").getAbsolutePath}",
              format = fileFormat(e.file.fileName),
              partition = e.partition, rowCount = e.file.rowCount,
              fileSize = e.file.fileSize, stats = e.file.stats)
          }
          writeManifestFile(new File(metaDir, s"graft-$commitUuid-m0.avro"),
            sch, mappable, rows, "data")
        }

    // ---- position-delete files + content=deletes manifest
    val dvOf: Map[String, String] =
      exposed.flatMap(e => e.file.dvFile.map(e.file.fileName -> _)).toMap
    val prevDvs = prev.map(_.dvs).getOrElse(Map.empty[String, SyncedFile])
    val dvInfo: Map[String, SyncedFile] = dvOf.values.map { sidecar =>
      sidecar -> prevDvs.getOrElse(sidecar, SyncedFile(genSnapId, genSeq))
    }.toMap
    // deterministic delete-file name per sidecar → reuse is a file stat
    def deleteAvroName(sidecar: String): String =
      "delete-" + basename(sidecar).stripSuffix(".dv") + ".avro"
    val deleteRows: Seq[EntryRow] = exposed
      .filter(e => e.file.dvFile.isDefined)
      .sortBy(_.file.fileName)
      .map { e =>
        val sidecar = e.file.dvFile.get
        val avroFile = new File(metaDir, deleteAvroName(sidecar))
        val dataAbs = s"file://${new File(s"${t.path}/${e.file.fileName}").getAbsolutePath}"
        val nPos =
          if (avroFile.exists()) e.file.dvCardinality.getOrElse(
            DeletionVectors.cardinality(t.sm.io.readBytes(s"${t.path}/$sidecar")))
          else writePositionDeletes(avroFile, dataAbs,
            t.sm.io.readBytes(s"${t.path}/$sidecar"))
        val info = dvInfo(sidecar)
        EntryRow(
          status = if (prevDvs.contains(sidecar)) 0 else 1,
          snapshotId = info.snapshotId, seq = info.seq, content = 1,
          path = s"file://${avroFile.getAbsolutePath}", format = "AVRO",
          partition = e.partition, rowCount = nPos,
          fileSize = avroFile.length(), stats = Map.empty)
      }
    val deleteRef: Option[ManifestRef] =
      if (deleteRows.isEmpty) None
      else Some(prev.flatMap(_.deletes).filter(_ => prev.exists(_.dvOf == dvOf))
        .filter(r => new File(metaDir, r.name).exists())
        .getOrElse(writeManifestFile(
          new File(metaDir, s"graft-$commitUuid-m1.avro"),
          sch, mappable, deleteRows, "deletes")))

    // ---- manifest list + metadata json + hint
    val listName = s"snap-$genSnapId-$commitUuid.avro"
    writeManifestList(new File(metaDir, listName), metaDir,
      Seq(dataRef) ++ deleteRef, genSnapId, genSeq, sch)
    val mdName = s"v$version.metadata.json"
    val metadataJson = tableMetadata(t, sch, mappable, exposedSnap, latest,
      s"file://${new File(metaDir, listName).getAbsolutePath}")
    val mdFile = new File(metaDir, mdName)
    atomicWrite(mdFile, metadataJson)
    atomicWrite(new File(metaDir, "version-hint.text"), version.toString)

    // ---- cleanup: drop the previous sync's files we no longer reference
    val newWritten: Seq[String] =
      (Seq(mdName, listName, dataRef.name) ++ deleteRef.map(_.name) ++
        dvOf.values.map(deleteAvroName)).distinct
    prev.foreach(_.written.filterNot(newWritten.toSet).foreach { n =>
      val f = new File(metaDir, n)
      if (f.exists() && !f.delete())
        log.warn(s"could not delete superseded iceberg metadata file $n")
    })
    atomicWrite(stateFile, Json.write(
      SyncState(version, Some(dataRef), deleteRef, fileInfo, dvInfo, dvOf, newWritten)))
    Some(mdFile.getAbsolutePath)
  }

  // ---------- external-reader walk (generic avro/json only) ----------

  /** Resolve the current state the exported metadata exposes by walking
    * version-hint → metadata json → manifest list → manifests with
    * GENERIC readers (avro lib + json text), exactly like an external
    * Iceberg reader — deliberately independent of graft's own
    * snapshot/manifest classes.
    * @return (data file paths, position deletes as (data file path, pos)) */
  def externalState(tablePath: String): (Seq[String], Seq[(String, Long)]) = {
    val metaDir = s"$tablePath/metadata"
    val version = new String(Files.readAllBytes(
      Paths.get(s"$metaDir/version-hint.text")), StandardCharsets.UTF_8).trim
    val md = new String(Files.readAllBytes(
      Paths.get(s"$metaDir/v$version.metadata.json")), StandardCharsets.UTF_8)
    val listPath = """"manifest-list":"file://([^"]+)"""".r
      .findFirstMatchIn(md).getOrElse(
        throw new IllegalStateException("metadata json has no manifest-list")).group(1)
    def readAvro(p: String): Seq[GenericRecord] = {
      val r = new org.apache.avro.file.DataFileReader(
        new File(p),
        new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try {
        val buf = Vector.newBuilder[GenericRecord]
        while (r.hasNext) buf += r.next()
        buf.result()
      } finally r.close()
    }
    val manifests = readAvro(listPath)
    def livePaths(m: GenericRecord): Seq[String] =
      readAvro(m.get("manifest_path").toString.stripPrefix("file://"))
        .filter(_.get("status").asInstanceOf[Int] != 2) // skip DELETED
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString)
    val dataFiles = manifests
      .filter(_.get("content").asInstanceOf[Int] == 0)
      .flatMap(livePaths).map(_.stripPrefix("file://"))
    val deletes = manifests
      .filter(_.get("content").asInstanceOf[Int] == 1)
      .flatMap(livePaths)
      .flatMap(p => readAvro(p.stripPrefix("file://")).map(r =>
        (r.get("file_path").toString.stripPrefix("file://"),
          r.get("pos").asInstanceOf[Long])))
    (dataFiles, deletes)
  }

  /** Data file paths only (no position deletes exported). Kept for
    * callers that know the table carries no DVs. */
  def externalDataFiles(tablePath: String): Seq[String] = externalState(tablePath)._1

  /** Full external read: scan the exposed data files and subtract the
    * position deletes — what a spec-compliant engine computes. Uses
    * only the generic walk + a vanilla parquet scan (the anti-join on
    * (file, pos) is the standard Iceberg delete-apply shape; the
    * delete set broadcasts — it is bounded by DV cardinality, not by
    * table size). */
  def externalRead(spark: org.apache.spark.sql.SparkSession, tablePath: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (dataFiles, deletes) = externalState(tablePath)
    if (dataFiles.isEmpty)
      return spark.emptyDataFrame
    // graft mixes parquet and orc data files mid-life; group per format
    val base = dataFiles.groupBy(f => fileFormat(f).toLowerCase)
      .map { case (fmt, fs) => spark.read.format(fmt).load(fs: _*) }
      .reduce(_ unionByName _)
    if (deletes.isEmpty) base
    else {
      import spark.implicits._
      val cols = base.columns
      // normalize file URIs from both sides (file:/, file://, file:///)
      def norm(c: org.apache.spark.sql.Column) =
        regexp_replace(c, "^file:/+", "/")
      val del = broadcast(deletes.toDF("__dpath", "__dpos")
        .withColumn("__dpath", norm(col("__dpath"))))
      base
        .withColumn("__fpath", norm(expr("_metadata.file_path")))
        .withColumn("__fpos", expr("_metadata.row_index"))
        .join(del, col("__fpath") === col("__dpath") &&
          col("__fpos") === col("__dpos"), "left_anti")
        .select(cols.map(col).toIndexedSeq: _*)
    }
  }

  // ---------- manifest (manifest_entry records) ----------

  /** One manifest entry to write: data (content=0) or position-delete
    * (content=1) file plus its export status/ids. */
  private case class EntryRow(
      status: Int, snapshotId: Long, seq: Long, content: Int,
      path: String, format: String,
      partition: Map[String, String], rowCount: Long, fileSize: Long,
      stats: Map[String, ColStats])

  private def writeManifestFile(
      out: File, sch: TableSchema, mappable: Seq[FieldDef],
      rows: Seq[EntryRow], contentMeta: String): ManifestRef = {
    val partFields = partitionFields(sch)
    val schema = new org.apache.avro.Schema.Parser().parse(manifestEntrySchema(partFields))
    val dataFileSchema = schema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    def mapSchema(field: String) = // non-null branch of the optional map
      dataFileSchema.getField(field).schema().getTypes.get(1)
    val (vcS, nvcS, lbS, ubS) = (mapSchema("value_counts"),
      mapSchema("null_value_counts"), mapSchema("lower_bounds"), mapSchema("upper_bounds"))
    val colDdl = mappable.map(f => f.name -> (f.id + 1, f.dataType)).toMap
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.setMeta("schema", schemaJson(sch, mappable))
    w.setMeta("partition-spec", partitionSpecFieldsJson(sch))
    w.setMeta("partition-spec-id", "0")
    w.setMeta("format-version", "2")
    w.setMeta("content", contentMeta)
    w.create(schema, out)
    def kv(s: org.apache.avro.Schema, k: Int, v: AnyRef): GenericRecord = {
      val r = new GenericData.Record(s.getElementType)
      r.put("key", Integer.valueOf(k)); r.put("value", v); r
    }
    try rows.foreach { e =>
      val part = new GenericData.Record(partSchema)
      partFields.foreach { case (name, ddl) =>
        part.put(name, e.partition.get(name).map(partitionValue(ddl, _)).orNull)
      }
      val df = new GenericData.Record(dataFileSchema)
      df.put("content", e.content)
      df.put("file_path", e.path)
      df.put("file_format", e.format)
      df.put("partition", part)
      df.put("record_count", java.lang.Long.valueOf(e.rowCount))
      df.put("file_size_in_bytes", java.lang.Long.valueOf(e.fileSize))
      // column stats → Iceberg data-skipping maps. Bounds use the
      // spec's single-value binary serialization (Appendix D);
      // columns whose stat strings don't round-trip are omitted —
      // omission is always safe for a reader.
      val stats = e.stats.toSeq.flatMap { case (name, cs) =>
        colDdl.get(name).map { case (cid, ddl) => (cid, ddl, cs) }
      }.sortBy(_._1)
      if (stats.nonEmpty) {
        df.put("value_counts", stats.map { case (cid, _, _) =>
          kv(vcS, cid, java.lang.Long.valueOf(e.rowCount)) }.asJava)
        // negative = unknown: iceberg metadata omits the entry rather
        // than exporting a nonsense count
        df.put("null_value_counts", stats.collect {
          case (cid, _, cs) if cs.nullCount >= 0 =>
            kv(nvcS, cid, java.lang.Long.valueOf(cs.nullCount)) }.asJava)
        def boundsOf(pick: ColStats => Option[String], s: org.apache.avro.Schema) = {
          val bs = stats.flatMap { case (cid, ddl, cs) =>
            pick(cs).flatMap(v => singleValueBytes(ddl, v)).map(kv(s, cid, _))
          }
          if (bs.isEmpty) null else bs.asJava
        }
        df.put("lower_bounds", boundsOf(_.min, lbS))
        df.put("upper_bounds", boundsOf(_.max, ubS))
      }
      val rec = new GenericData.Record(schema)
      rec.put("status", e.status)
      rec.put("snapshot_id", java.lang.Long.valueOf(e.snapshotId))
      rec.put("sequence_number", java.lang.Long.valueOf(e.seq))
      rec.put("file_sequence_number", java.lang.Long.valueOf(e.seq))
      rec.put("data_file", df)
      w.append(rec)
    } finally w.close()
    val (added, existing) = rows.partition(_.status == 1)
    ManifestRef(out.getName, if (contentMeta == "data") 0 else 1,
      added.size, existing.size,
      added.map(_.rowCount).sum, existing.map(_.rowCount).sum,
      if (rows.isEmpty) 0L else rows.map(_.seq).min,
      partitionSummary(sch, rows))
  }

  /** Per-partition-field bounds over one manifest's entries (spec
    * manifest_file.partitions, ids 508-511) — lets an external reader
    * prune whole manifests by partition predicate. */
  private def partitionSummary(sch: TableSchema, rows: Seq[EntryRow]): Seq[PartBound] =
    partitionFields(sch).map { case (name, ddl) =>
      val vals = rows.map(_.partition.get(name))
      val present = vals.flatten
      val cmp = partitionOrdering(ddl)
      PartBound(
        containsNull = vals.exists(_.isEmpty),
        min = if (present.isEmpty) None else Some(present.min(cmp)),
        max = if (present.isEmpty) None else Some(present.max(cmp)))
    }

  /** Ordering of graft's stringified partition values under the
    * column's declared type. */
  private def partitionOrdering(ddl: String): Ordering[String] =
    graft.core.Meta.sparkTypeOf(ddl) match {
      case LongType | IntegerType | ShortType | ByteType => Ordering.by(_.toLong)
      case DoubleType | FloatType => Ordering.by(_.toDouble)
      case BooleanType => Ordering.by(_.toBoolean)
      case DateType => Ordering.by(dateDays)
      case _ => Ordering.String // UTF8-ordered strings
    }

  /** Iceberg single-value serialization (spec Appendix D) of a graft
    * stringified stat; None for values that don't round-trip
    * losslessly. */
  private def singleValueBytes(ddl: String, v: String): Option[java.nio.ByteBuffer] = {
    def le(n: Int)(fill: java.nio.ByteBuffer => Unit): java.nio.ByteBuffer = {
      val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fill(b); b.flip(); b
    }
    try graft.core.Meta.sparkTypeOf(ddl) match {
      case LongType => Some(le(8)(_.putLong(v.toLong)))
      case IntegerType | ShortType | ByteType => Some(le(4)(_.putInt(v.toInt)))
      case DoubleType => Some(le(8)(_.putDouble(v.toDouble)))
      case FloatType => Some(le(4)(_.putFloat(v.toFloat)))
      case BooleanType => Some(le(1)(_.put(if (v.toBoolean) 1.toByte else 0.toByte)))
      case StringType => Some(java.nio.ByteBuffer.wrap(v.getBytes(StandardCharsets.UTF_8)))
      case DateType => Some(le(4)(_.putInt(dateDays(v))))
      // timestamps: stat strings carry the parquet INT64 value — epoch
      // micros as Spark writes them; Iceberg timestamp(tz) = micros LE
      case TimestampType | TimestampNTZType => Some(le(8)(_.putLong(v.toLong)))
      // decimal: minimal two's-complement big-endian unscaled value
      case d: DecimalType =>
        val unscaled = new java.math.BigDecimal(v)
          .setScale(d.scale).unscaledValue().toByteArray
        Some(java.nio.ByteBuffer.wrap(unscaled))
      case t if isTimeType(t) =>
        // graft TIME stats are nanos-of-day; Iceberg time is micros —
        // emit only when exact (whole micros), omission is always safe
        val nanos = v.toLong
        if (nanos % 1000L == 0L) Some(le(8)(_.putLong(nanos / 1000L))) else None
      case _ => None
    } catch { case _: Exception => None }
  }

  /** graft stringified date: ISO (partition values) or epoch-day int
    * (parquet footer stats) — accept both. */
  private def dateDays(v: String): Int =
    v.toIntOption.getOrElse(java.time.LocalDate.parse(v).toEpochDay.toInt)

  private def isTimeType(dt: DataType): Boolean =
    dt.getClass.getSimpleName.startsWith("TimeType")

  /** manifest_entry Avro schema with the spec's reserved field ids
    * (status 0, snapshot_id 1, data_file 2 / content 134, file_path
    * 100, ... — Iceberg spec "Manifests"). */
  private def manifestEntrySchema(partFields: Seq[(String, String)]): String = {
    val partCols = partFields.zipWithIndex.map { case ((name, ddl), i) =>
      s"""{"name":${q(name)},"type":["null",${avroType(ddl)}],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    s"""{"type":"record","name":"manifest_entry","fields":[
       |{"name":"status","type":"int","field-id":0},
       |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
       |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
       |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
       |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
       |{"name":"content","type":"int","field-id":134},
       |{"name":"file_path","type":"string","field-id":100},
       |{"name":"file_format","type":"string","field-id":101},
       |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partCols]}},
       |{"name":"record_count","type":"long","field-id":103},
       |{"name":"file_size_in_bytes","type":"long","field-id":104},
       |${statMap("value_counts", 109, 119, 120, "long")},
       |${statMap("null_value_counts", 110, 121, 122, "long")},
       |${statMap("lower_bounds", 125, 126, 127, "bytes")},
       |${statMap("upper_bounds", 128, 129, 130, "bytes")}
       |]}}]}""".stripMargin.replace("\n", "")
  }

  /** Optional Iceberg map field in its avro form: an array of
    * key/value records tagged logicalType=map (spec ids: the maps are
    * 109/110/125/128 with per-entry key/value ids). */
  private def statMap(name: String, fid: Int, kid: Int, vid: Int, vtype: String): String =
    s"""{"name":"$name","field-id":$fid,"default":null,"type":["null",
       |{"type":"array","logicalType":"map","items":{"type":"record","name":"k${kid}_v$vid","fields":[
       |{"name":"key","type":"int","field-id":$kid},
       |{"name":"value","type":"$vtype","field-id":$vid}]}}]}""".stripMargin.replace("\n", "")

  // ---------- position-delete files ----------

  /** Iceberg v2 position-delete rows (spec reserved ids 2147483546 /
    * 2147483545), written as Avro so a generic reader consumes them
    * without a parquet dependency. Rows are (file_path, pos) sorted by
    * position — the RoaringBitmap iterates ascending. */
  private val posDeleteSchema: String =
    """{"type":"record","name":"pos_delete","fields":[
      |{"name":"file_path","type":"string","field-id":2147483546},
      |{"name":"pos","type":"long","field-id":2147483545}]}"""
      .stripMargin.replace("\n", "")

  /** @return number of delete rows written */
  private def writePositionDeletes(
      out: File, dataFileAbs: String, bitmapBytes: Array[Byte]): Long = {
    val schema = new org.apache.avro.Schema.Parser().parse(posDeleteSchema)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.setMeta("format-version", "2")
    w.setMeta("content", "position-deletes")
    w.create(schema, out)
    try {
      val it = DeletionVectors.deserialize(bitmapBytes).getIntIterator
      var n = 0L
      while (it.hasNext) {
        val rec = new GenericData.Record(schema)
        rec.put("file_path", dataFileAbs)
        rec.put("pos", java.lang.Long.valueOf(it.next().toLong))
        w.append(rec)
        n += 1
      }
      n
    } finally w.close()
  }

  // ---------- manifest list (manifest_file records) ----------

  private def writeManifestList(
      out: File, metaDir: File, manifests: Seq[ManifestRef],
      snapshotId: Long, seq: Long, sch: TableSchema): Unit = {
    val schema = new org.apache.avro.Schema.Parser().parse(manifestFileSchema)
    val summarySchema = schema.getField("partitions").schema()
      .getTypes.get(1) // non-null branch: array of r508
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.setMeta("format-version", "2")
    w.setMeta("snapshot-id", snapshotId.toString)
    w.setMeta("sequence-number", seq.toString)
    w.create(schema, out)
    val partDdls = partitionFields(sch).map(_._2)
    try manifests.foreach { m =>
      val f = new File(metaDir, m.name)
      val rec = new GenericData.Record(schema)
      rec.put("manifest_path", s"file://${f.getAbsolutePath}")
      rec.put("manifest_length", java.lang.Long.valueOf(f.length()))
      rec.put("partition_spec_id", 0)
      rec.put("content", m.content)
      rec.put("sequence_number", java.lang.Long.valueOf(seq))
      rec.put("min_sequence_number", java.lang.Long.valueOf(m.minSeq))
      rec.put("added_snapshot_id", java.lang.Long.valueOf(snapshotId))
      rec.put("added_files_count", Integer.valueOf(m.added))
      rec.put("existing_files_count", Integer.valueOf(m.existing))
      rec.put("deleted_files_count", Integer.valueOf(0))
      rec.put("added_rows_count", java.lang.Long.valueOf(m.addedRows))
      rec.put("existing_rows_count", java.lang.Long.valueOf(m.existingRows))
      rec.put("deleted_rows_count", java.lang.Long.valueOf(0L))
      if (m.parts.isEmpty) rec.put("partitions", null)
      else rec.put("partitions", m.parts.zip(partDdls).map { case (p, ddl) =>
        val r = new GenericData.Record(summarySchema.getElementType)
        r.put("contains_null", java.lang.Boolean.valueOf(p.containsNull))
        r.put("contains_nan", java.lang.Boolean.valueOf(false))
        r.put("lower_bound", p.min.flatMap(singleValueBytes(ddl, _)).orNull)
        r.put("upper_bound", p.max.flatMap(singleValueBytes(ddl, _)).orNull)
        r
      }.asJava)
      w.append(rec)
    } finally w.close()
  }

  /** manifest_file Avro schema (spec ids 500-517; names per the
    * current spec, not the pre-1.4 *_data_files_count aliases). */
  private val manifestFileSchema: String =
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","field-id":507,"type":["null",{"type":"array","element-id":508,
      |"items":{"type":"record","name":"r508","fields":[
      |{"name":"contains_null","type":"boolean","field-id":509},
      |{"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |{"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |{"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |]}}],"default":null}]}""".stripMargin.replace("\n", "")

  // ---------- table metadata json ----------

  private def tableMetadata(
      t: GraftTable, sch: TableSchema, mappable: Seq[FieldDef],
      exposedSnap: Snapshot, latest: Snapshot, manifestListPath: String): String = {
    val tableUuid = UUID.nameUUIDFromBytes(
      new File(t.path).getAbsolutePath.getBytes(StandardCharsets.UTF_8))
    val specFields = partitionSpecFieldsJson(sch)
    val lastPartitionId = 999 + sch.partitionKeys.size
    val nameMapping = mappable.map(f =>
      s"""{"field-id":${f.id + 1},"names":[${q(f.name)}]}""").mkString("[", ",", "]")
    // PK staleness marker: the exported snapshot may lag the latest
    // graft snapshot (level-0 upserts after the last compaction are
    // not exposed) — record the lag instead of mislabeling the state
    val staleProps =
      if (exposedSnap.id != latest.id)
        s""","graft.exposed-snapshot-id":"${exposedSnap.id}"""" +
          s""","graft.stale-behind-snapshot-id":"${latest.id}""""
      else ""
    val (schemaStr, _) = schemaJsonWithLastId(sch, mappable)
    s"""{
       |"format-version":2,
       |"table-uuid":"$tableUuid",
       |"location":"file://${new File(t.path).getAbsolutePath}",
       |"last-sequence-number":${latest.id},
       |"last-updated-ms":${exposedSnap.timeMillis},
       |"last-column-id":${schemaJsonWithLastId(sch, mappable)._2},
       |"current-schema-id":${sch.id},
       |"schemas":[$schemaStr],
       |"default-spec-id":0,
       |"partition-specs":[{"spec-id":0,"fields":$specFields}],
       |"last-partition-id":$lastPartitionId,
       |"default-sort-order-id":0,
       |"sort-orders":[{"order-id":0,"fields":[]}],
       |"properties":{"schema.name-mapping.default":${q(nameMapping)}$staleProps},
       |"current-snapshot-id":${exposedSnap.id},
       |"snapshots":[{"sequence-number":${exposedSnap.id},"snapshot-id":${exposedSnap.id},
       |"timestamp-ms":${exposedSnap.timeMillis},"summary":{"operation":"append"},
       |"manifest-list":${q(manifestListPath)},"schema-id":${sch.id}}],
       |"snapshot-log":[{"timestamp-ms":${exposedSnap.timeMillis},"snapshot-id":${exposedSnap.id}}],
       |"metadata-log":[]
       |}""".stripMargin
  }

  /** Columns exportable to Iceberg: those whose type has a v2 mapping.
    * Unmappable columns (e.g. VARIANT) are skipped with a WARN — the
    * rest of the table still exports (partition keys must map). */
  private[sources] def mappableFields(sch: TableSchema): Seq[FieldDef] =
    sch.fields.filter { f =>
      val ok =
        try { typeJson(graft.core.Meta.sparkTypeOf(f.dataType), () => 0); true }
        catch { case _: IllegalArgumentException => false }
      if (!ok) {
        require(!sch.partitionKeys.contains(f.name),
          s"partition column ${f.name} has no Iceberg type mapping")
        log.warn(s"column ${f.name} (${f.dataType}) has no Iceberg v2 " +
          "type mapping - omitted from the exported schema")
      }
      ok
    }

  /** Iceberg schema json over the mappable fields. Field ids are graft
    * field ids + 1 (Iceberg convention starts at 1); nested
    * element/key/value ids are assigned deterministically after the
    * last top-level id. Returns (json, last allocated column id). */
  private[sources] def schemaJsonWithLastId(
      sch: TableSchema, mappable: Seq[FieldDef]): (String, Int) = {
    var next = sch.fields.map(_.id + 1).max
    def alloc(): Int = { next += 1; next }
    val fields = mappable.map { f =>
      s"""{"id":${f.id + 1},"name":${q(f.name)},"required":${!f.nullable},""" +
        s""""type":${typeJson(graft.core.Meta.sparkTypeOf(f.dataType), () => alloc())}}"""
    }.mkString(",")
    (s"""{"type":"struct","schema-id":${sch.id},"fields":[$fields]}""", next)
  }

  private[sources] def schemaJson(sch: TableSchema, mappable: Seq[FieldDef]): String =
    schemaJsonWithLastId(sch, mappable)._1

  private def typeJson(dt: DataType, alloc: () => Int): String = dt match {
    case BooleanType => "\"boolean\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case StringType => "\"string\""
    case BinaryType => "\"binary\""
    case DateType => "\"date\""
    case TimestampType => "\"timestamptz\""
    case TimestampNTZType => "\"timestamp\""
    case t if isTimeType(t) => "\"time\""
    case d: DecimalType => s""""decimal(${d.precision}, ${d.scale})""""
    case a: ArrayType =>
      val id = alloc()
      s"""{"type":"list","element-id":$id,"element":${typeJson(a.elementType, alloc)},""" +
        s""""element-required":${!a.containsNull}}"""
    case m: MapType =>
      val (ki, vi) = (alloc(), alloc())
      s"""{"type":"map","key-id":$ki,"key":${typeJson(m.keyType, alloc)},""" +
        s""""value-id":$vi,"value":${typeJson(m.valueType, alloc)},""" +
        s""""value-required":${!m.valueContainsNull}}"""
    case s: StructType =>
      val fields = s.fields.map { f =>
        val id = alloc()
        s"""{"id":$id,"name":${q(f.name)},"required":${!f.nullable},""" +
          s""""type":${typeJson(f.dataType, alloc)}}"""
      }.mkString(",")
      s"""{"type":"struct","fields":[$fields]}"""
    case other =>
      throw new IllegalArgumentException(s"no Iceberg mapping for type $other")
  }

  // ---------- partition handling ----------

  private def partitionFields(sch: TableSchema): Seq[(String, String)] =
    sch.partitionKeys.map(k => k -> sch.fields.find(_.name == k).get.dataType)

  private def partitionSpecFieldsJson(sch: TableSchema): String =
    partitionFields(sch).zipWithIndex.map { case ((name, _), i) =>
      val srcId = sch.fields.find(_.name == name).get.id + 1
      s"""{"name":${q(name)},"transform":"identity","source-id":$srcId,"field-id":${1000 + i}}"""
    }.mkString("[", ",", "]")

  /** Avro type for an identity partition column. */
  private def avroType(ddl: String): String = graft.core.Meta.sparkTypeOf(ddl) match {
    case LongType => "\"long\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case StringType => "\"string\""
    case DoubleType => "\"double\""
    case FloatType => "\"float\""
    case BooleanType => "\"boolean\""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg partition type $other")
  }

  /** Typed Avro value from graft's stringified partition value. */
  private def partitionValue(ddl: String, v: String): AnyRef = graft.core.Meta.sparkTypeOf(ddl) match {
    case LongType => java.lang.Long.valueOf(v)
    case IntegerType | ShortType | ByteType => Integer.valueOf(v)
    case StringType => v
    case DoubleType => java.lang.Double.valueOf(v)
    case FloatType => java.lang.Float.valueOf(v)
    case BooleanType => java.lang.Boolean.valueOf(v)
    case DateType => Integer.valueOf(dateDays(v))
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg partition type $other")
  }

  private def fileFormat(name: String): String =
    if (name.endsWith(".orc")) "ORC"
    else if (name.endsWith(".avro")) "AVRO"
    else "PARQUET"

  // ---------- small helpers ----------

  private def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // metadata mutations go through the FileIO seam (atomic tmp+rename
  // semantics live behind the abstraction, one place to port)
  private val metaIo: graft.core.FileIO = new graft.core.LocalFileIO

  private def atomicWrite(f: File, content: String): Unit =
    metaIo.writeString(f.getPath, content)
}
