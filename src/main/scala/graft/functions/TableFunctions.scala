package graft.functions

import graft.table.GraftTable
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spark-registered helper functions of the reference
  * (paimon-spark .../catalog/functions/PaimonFunctions.scala:44-52):
  * `bucket`, `max_pt`. */
object TableFunctions {

  /** Bucket id a row would be written to, usable for bucket-aligned
    * repartitioning and joins. The hash is defined once, in
    * [[graft.table.Buckets]]; pass the key columns in the table's
    * declared order and declared types. */
  def bucket(numBuckets: Int, keyCols: Column*): Column =
    graft.table.Buckets.column(keyCols, numBuckets)

  /** Latest non-empty partition value of a partition column
    * (reference: max_pt — answered from manifests, no data read). */
  def maxPt(table: GraftTable, partitionColumn: String): Option[String] = {
    require(table.schema.partitionKeys.contains(partitionColumn),
      s"$partitionColumn is not a partition key")
    maxPt(table.sm, partitionColumn)
  }

  /** Metadata-only variant: needs no SparkSession, usable inside
    * executor-evaluated catalog functions.
    *
    * Values compare in the partition column's DECLARED type order, not
    * directory-string order (the reference sorts by type —
    * ReplacePaimonFunctions.scala:75 via InternalRowUtils.compare — so
    * INT partitions 9 and 10 answer 10, where lexicographic says "9").
    * Each raw directory value decodes exactly like the scan path (Hive
    * unescape, null sentinel, typed parse via Cast); the null partition
    * never wins, and the returned string is the UNESCAPED display value.
    * If any value fails to decode for the declared type the whole call
    * falls back to lexicographic raw order (never throws on debris). */
  def maxPt(sm: graft.core.SnapshotManager, partitionColumn: String): Option[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val dt = sm.latestSchema()
      .flatMap(_.fields.find(_.name == partitionColumn))
      .map(f => graft.core.Meta.sparkTypeOf(f.dataType))
      .getOrElse(org.apache.spark.sql.types.StringType)
    val entries = sm.latestSnapshot().map(sm.liveEntries).getOrElse(Seq.empty)
    val raws = entries
      .filter(e => e.file.rowCount - e.file.dvCardinality.getOrElse(0L) > 0)
      .flatMap(_.partition.get(partitionColumn))
      .distinct
    val decoded = raws.map { raw =>
      val v = try graft.sources.GraftScanUtil.partitionValue(raw, dt)
        catch { case _: Exception => null }
      raw -> v // null = null partition OR undecodable
    }
    val typed = decoded.collect { case (raw, v) if v != null => (raw, v) }
    val sentinel = ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    val undecodable = decoded.exists { case (raw, v) =>
      v == null &&
        ExternalCatalogUtils.unescapePathName(raw) != sentinel
    }
    // mixed debris: legacy raw order — UNESCAPED like the typed path,
    // so callers see one encoding regardless of which path answered
    if (undecodable)
      raws.maxOption.map(ExternalCatalogUtils.unescapePathName)
    else if (typed.isEmpty) None // only the null partition holds rows
    else {
      val ord = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(dt)
      Some(ExternalCatalogUtils.unescapePathName(
        typed.maxBy(_._2)(ord.asInstanceOf[Ordering[Any]])._1))
    }
  }

  // --- MULTISET<T> (reference: paimon-api MultisetType.java; stored
  // as MAP<T, INT> per SURVEY §1.2's Flink-style mapping) -------------

  /** Build a MULTISET (element → multiplicity map) from an array
    * column. Pure expressions (aggregate over the distinct elements) —
    * codegen-friendly, no UDF. Null elements are not representable as
    * map keys and are dropped, matching SQL MULTISET semantics for
    * collections built from nullable input. */
  def multiset(arr: Column): Column = {
    val clean = filter(arr, _.isNotNull)
    map_from_arrays(
      array_distinct(clean),
      transform(array_distinct(clean),
        x => size(filter(clean, y => y === x))))
  }

  /** Total multiplicity of a MULTISET (its cardinality as a bag). */
  def multisetCardinality(ms: Column): Column =
    coalesce(aggregate(map_values(ms), lit(0), (acc, v) => acc + v), lit(0))

  /** Bag union of two MULTISETs: per-element multiplicities add. */
  def multisetUnion(a: Column, b: Column): Column =
    map_zip_with(a, b, (_, x, y) => coalesce(x, lit(0)) + coalesce(y, lit(0)))
}
