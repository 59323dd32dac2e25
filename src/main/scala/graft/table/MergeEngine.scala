package graft.table

import graft.core.Meta
import graft.core.Meta.TableSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merge reduction for primary-key tables.
  *
  * The reference merges sorted LSM runs record-by-record with a
  * pluggable MergeFunction (paimon-core .../mergetree/compact/
  * MergeFunction.java + DeduplicateMergeFunction / FirstRowMergeFunction /
  * PartialUpdateMergeFunction / AggregateMergeFunction). In Spark the
  * same semantics are a groupBy(primary key) with ordered aggregates,
  * and the plan stays inside whole-stage codegen:
  *  - reads of tables inside the bucket-local gate (deduplicate, fixed
  *    buckets, parquet files on the current schema, no deletion
  *    vectors) group a bucket's runs in one task
  *    ([[graft.sources.BucketRuns]]), so the aggregate needs no
  *    shuffle — SortAggregate → Sort → scan, the reference's
  *    per-bucket merge;
  *  - every other read (other merge engines, dynamic/postpone/
  *    cross-partition buckets, deletion vectors, older-schema or
  *    non-parquet files), compaction and the write path keep a single
  *    shuffle: partial aggregation gives the map-side combine and the
  *    sort-based shuffle replaces the k-way merge.
  *
  * Two call sites, mirroring the reference's two merge points:
  *  - [[preMergeBatch]]: inside the write path, reducing duplicate keys
  *    of one batch before files are flushed (the reference's in-memory
  *    write buffer / SortBufferWriteBuffer merge);
  *  - [[mergeKeepMeta]]/[[merge]]: at read/compaction, combining the
  *    per-commit *states*. For most functions state-combine equals the
  *    base function; the exceptions (count → sum of counts, collect →
  *    concat of arrays, ...) use their combiner form here.
  *
  * Ordering key: (sequence.field, _graft_seq) — the user sequence
  * determines recency, commit order breaks ties (CoreOptions
  * sequence.field semantics).
  */
object MergeEngine {

  /** Full merge: one surviving row per key, retractions dropped,
    * hidden columns removed. A key whose WINNING record is -U (an
    * unpaired UPDATE_BEFORE — e.g. a CDC primary-key change whose +U
    * landed under another key, routed in via rowkind.field) is as
    * dead as a -D winner: both kinds are retractions. */
  def merge(raw: DataFrame, schema: TableSchema): DataFrame =
    (if (schema.mergeEngine == "deduplicate") pickEach(raw, schema)
     else mergeKeepMeta(raw, schema))
      .filter(col(Meta.KindCol) =!= Meta.KindDelete &&
        col(Meta.KindCol) =!= Meta.KindUpdateBefore)
      .select(schema.toStruct.fieldNames.map(col).toIndexedSeq: _*)

  /** deduplicate at read: one `max_by(column, order)` per column over
    * the (sequence.field, _graft_seq) order, so Catalyst prunes
    * the picks a query does not use, and with them the scan's columns.
    *
    * The picks cannot mix two rows of a key. `_graft_seq` is per
    * commit, not per row, but the write path's pre-merge leaves one
    * row per key per commit, so (key, order) is unique unless two
    * commits raced to one sequence number. Even then every pick of a
    * key folds the key's rows in the same order — the picks share one
    * aggregate buffer per key, merged whole — and `max_by` keeps the
    * first of equal orders, so all picks take the same row.
    *
    * A relation carrying [[Meta.BucketCol]] ([[graft.sources.BucketRuns]])
    * is grouped by it too: its scan reports its grouping on that
    * column, and the bucket is a function of the key, so no group of
    * the key is split. */
  private def pickEach(raw: DataFrame, schema: TableSchema): DataFrame = {
    // with no sequence field the order is `_graft_seq` alone, as a bare
    // long: a one-field struct is built, compared and buffered by every
    // pick, which made full reads slower than the whole-row pick
    val ord =
      if (schema.sequenceFields.isEmpty) col(Meta.SeqCol)
      else ordering(schema, arrivalTiebreak = None)
    val keys = schema.primaryKeys ++ raw.columns.filter(_ == Meta.BucketCol)
    val picks = raw.columns.filterNot(keys.contains).map(c => max_by(col(c), ord).as(c))
    raw.groupBy(keys.map(col): _*).agg(picks.head, picks.tail.toIndexedSeq: _*)
  }

  /** Merge retaining _graft_seq/_graft_kind (used by compaction, which
    * must preserve sequence info in rewritten files). */
  def mergeKeepMeta(raw: DataFrame, schema: TableSchema): DataFrame =
    mergeInternal(raw, schema, ordering(schema, arrivalTiebreak = None), combine = true)

  /** Within-batch reduction on the write path. `arrivalCol` breaks ties
    * among duplicate keys in arrival order. Input must carry KindCol;
    * output carries one row per key with KindCol preserved. */
  def preMergeBatch(df: DataFrame, schema: TableSchema, arrivalCol: String): DataFrame =
    mergeInternal(df, schema,
      ordering(schema, arrivalTiebreak = Some(col(arrivalCol))), combine = false,
      arrivalTiebreak = Some(col(arrivalCol)))
      .drop(arrivalCol)

  private def ordering(schema: TableSchema, arrivalTiebreak: Option[Column]): Column = {
    val tie = tiebreak(arrivalTiebreak)
    val fields = schema.sequenceFields
    if (fields.isEmpty) return struct(tie)
    // sequence.field.sort-order=descending (reference: CoreOptions
    // SEQUENCE_FIELD_SORT_ORDER): the SMALLEST sequence value wins.
    // The inversion must hold on the WHOLE domain: arithmetic
    // negation maps Long.MinValue to itself (overflow), so integral
    // fields invert via bitwise NOT (~x = -x-1, a strict
    // order-reversing bijection with no overflow — agrees with
    // localLookup's component flip everywhere); fractional negation is
    // overflow-free. Restricted to numeric sequence fields. With
    // MULTIPLE sequence fields the comparison is lexicographic
    // (struct ordering); descending inverts every component, which
    // reverses the lexicographic order (nulls stay smallest in both
    // directions, matching struct max semantics).
    val desc = schema.options
      .get("sequence.field.sort-order").contains("descending")
    val seqCols: Seq[Column] = fields.flatMap { f =>
      if (!desc) Seq(col(f))
      else schema.toStruct.fields.find(_.name == f).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.ByteType
                  | org.apache.spark.sql.types.ShortType
                  | org.apache.spark.sql.types.IntegerType
                  | org.apache.spark.sql.types.LongType) =>
          Seq(bitwise_not(col(f)))
        case Some(org.apache.spark.sql.types.FloatType
                  | org.apache.spark.sql.types.DoubleType) =>
          // negation is NOT order-reversing at NaN (0 - NaN = NaN,
          // and Spark sorts NaN above every value): a leading
          // isnan flag makes NaN — the MAXIMUM of the original
          // order — the MINIMUM of the descending one
          Seq(when(isnan(col(f)), lit(0)).otherwise(lit(1)),
            lit(0) - col(f))
        case Some(_: org.apache.spark.sql.types.NumericType) =>
          Seq(lit(0) - col(f)) // Decimal: no NaN, negation reverses
        case other => throw new IllegalArgumentException(
          "sequence.field.sort-order=descending needs a numeric " +
            s"sequence field, got $other")
      }
    }
    struct((seqCols :+ tie): _*)
  }

  private def tiebreak(arrivalTiebreak: Option[Column]): Column =
    arrivalTiebreak.getOrElse(col(Meta.SeqCol))

  /** Merge retaining _graft_seq/_graft_kind (used by compaction, which
    * must preserve sequence info in rewritten files). */
  private def mergeInternal(
      raw: DataFrame, schema: TableSchema, ord: Column, combine: Boolean,
      arrivalTiebreak: Option[Column] = None): DataFrame = {
    require(schema.primaryKeys.nonEmpty, "merge requires a primary-key table")
    schema.mergeEngine match {
      case "deduplicate" => pickByOrd(raw, schema, ord, latest = true)
      case "first-row" =>
        // first-row ignores retractions (reference FirstRowMergeFunction
        // accepts only inserts)
        pickByOrd(raw.filter(col(Meta.KindCol) === Meta.KindInsert),
          schema, ord, latest = false)
      case "partial-update" =>
        partialUpdate(raw, schema, ord, tiebreak(arrivalTiebreak))
      case "aggregation" => aggregation(raw, schema, ord, combine)
      case other => throw new IllegalArgumentException(s"unknown merge-engine: $other")
    }
  }

  /** deduplicate (compaction, write path) / first-row: whole-row pick
    * by ordering key. */
  private def pickByOrd(
      raw: DataFrame, schema: TableSchema, ord: Column, latest: Boolean): DataFrame = {
    val pkCols = schema.primaryKeys.map(col)
    val payload = raw.columns.filterNot(schema.primaryKeys.contains)
    val packed = struct(payload.map(col).toIndexedSeq: _*)
    val pick = if (latest) max_by(packed, ord) else min_by(packed, ord)
    raw.groupBy(pkCols: _*)
      .agg(pick.as("__row"))
      .select((schema.primaryKeys.map(col) ++ payload.map(c => col(s"__row.$c"))).toIndexedSeq: _*)
  }

  /** partial-update: per-field last non-null by ordering key; deletes
    * are ignored (reference default requires non-retracting input;
    * 'partial-update.ignore-delete' semantics).
    *
    * With sequence groups (`fields.<s1>[,<s2>...].sequence-group =
    * <c1>[,<c2>...]`): each group updates ATOMICALLY when the incoming
    * record's group-sequence is non-null and >= the current one —
    * including null member values — and a retract (-U/-D) winning a
    * group nulls the group's members (reference:
    * PartialUpdateMergeFunction.updateWithSequenceGroup /
    * retractWithSequenceGroup). In Spark each group is one
    * max_by(struct(kind, fields...), group-ord) — the sequential
    * fold's fixpoint is the highest-group-sequence record, so one
    * ordered pick per group replaces the reference's per-record loop. */
  private def partialUpdate(
      raw: DataFrame, schema: TableSchema, ord: Column, tie: Column): DataFrame = {
    val pk = schema.primaryKeys
    val valueCols = schema.toStruct.fieldNames.filterNot(pk.contains)
    val groups = sequenceGroups(schema)
    if (groups.isEmpty) {
      if (schema.options.get("partial-update.remove-record-on-delete").contains("true")) {
        // reference: PARTIAL_UPDATE_REMOVE_RECORD_ON_DELETE — a -D
        // RESETS the row, so the fold only sees records newer than
        // the key's last delete; a key with no survivors emits a -D
        // tombstone (dropped at read, physically at full compaction —
        // vanishing silently would let older files resurrect the key)
        val isDel = col(Meta.KindCol) === Meta.KindDelete
        // only -D RESETS the row; -U still never contributes values
        // (the reference's retract path accepts only DELETE here)
        val isRetractK = isDel || col(Meta.KindCol) === Meta.KindUpdateBefore
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pk.map(col).toIndexedSeq: _*)
        val tagged = raw
          .withColumn("__last_del", max(when(isDel, ord)).over(w))
          .withColumn("__alive",
            !isRetractK && (col("__last_del").isNull || ord > col("__last_del")))
        val seqAgg =
          if (raw.columns.contains(Meta.SeqCol)) max(col(Meta.SeqCol)) else lit(0L)
        val aggs = valueCols.map { c =>
          // the sequence FIELD folds over ALL records (incl. the -D):
          // a tombstone emitted with a nulled sequence would sort
          // below the rows it is meant to kill in later cross-file
          // merges and resurrect them
          if (schema.sequenceFields.contains(c)) max_by(col(c), ord).as(c)
          else max_by(col(c), when(col("__alive") && col(c).isNotNull, ord)).as(c)
        } ++ Seq(seqAgg.as(Meta.SeqCol),
          when(max(when(col("__alive"), 1).otherwise(0)) === 1, Meta.KindInsert)
            .otherwise(Meta.KindDelete).cast("byte").as(Meta.KindCol))
        return tagged.groupBy(pk.map(col).toIndexedSeq: _*)
          .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
      }
      // BOTH retraction kinds are ignored (reference ignore-delete
      // drops rowKind.isRetract, i.e. -D AND -U): an unpaired -U
      // feeding the last-non-null fold would resurrect the key with
      // its retracted values stamped +I
      val in = raw.filter(col(Meta.KindCol) =!= Meta.KindDelete &&
        col(Meta.KindCol) =!= Meta.KindUpdateBefore)
      val aggs = valueCols.map { c =>
        max_by(col(c), when(col(c).isNotNull, ord)).as(c)
      } ++ metaAggs(in)
      return in.groupBy(pk.map(col).toIndexedSeq: _*)
        .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    }
    // reference preconditions (PartialUpdateMergeFunction.Factory):
    // remove-record-on-delete conflicts with sequence groups,
    // remove-record-on-sequence-group conflicts with ignore-delete
    require(!schema.options.get("partial-update.remove-record-on-delete").contains("true"),
      "partial-update.remove-record-on-delete and sequence groups have " +
        "conflicting behavior; use partial-update.remove-record-on-sequence-group")
    val rmOnSeqGroup = schema.options
      .get("partial-update.remove-record-on-sequence-group")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    if (rmOnSeqGroup.nonEmpty) {
      require(!schema.options.get("ignore-delete").contains("true"),
        "ignore-delete and partial-update.remove-record-on-sequence-group " +
          "have conflicting behavior so should not be enabled at the same time")
      rmOnSeqGroup.foreach(f => require(groups.exists(_._1.contains(f)),
        s"field '$f' in partial-update.remove-record-on-sequence-group " +
          "must be a sequence field of some sequence group"))
    }
    val isRetract =
      col(Meta.KindCol) === Meta.KindDelete || col(Meta.KindCol) === Meta.KindUpdateBefore
    val memberOf = groups.flatMap { case (seqs, members) =>
      (members ++ seqs).map(_ -> (seqs, members))
    }.toMap
    val groupAggs = groups.map { case (seqs, members) =>
      // records whose group-sequence fields are all null skip the group
      val nonEmpty = seqs.map(col(_).isNotNull).reduce(_ || _)
      val gOrd = when(nonEmpty, struct((seqs.map(col) :+ tie).toIndexedSeq: _*))
      val packed = struct((col(Meta.KindCol).as("__kind") +:
        (seqs ++ members).map(c => col(c).as(c))).toIndexedSeq: _*)
      (seqs, members) -> max_by(packed, gOrd).as(groupAlias(seqs))
    }.toMap
    // ungrouped fields: classic last non-null over non-retract records
    val ungrouped = valueCols.filterNot(memberOf.contains)
    val ungroupedAggs = ungrouped.map { c =>
      max_by(col(c), when(!isRetract && col(c).isNotNull, ord)).as(c)
    }
    // a key whose records are all retracts has never been inserted
    val hasInsert = max(when(!isRetract, 1).otherwise(0)).as("__has_insert")
    val seqAgg =
      if (raw.columns.contains(Meta.SeqCol)) max(col(Meta.SeqCol)) else lit(0L)
    val aggs = groupAggs.values.toSeq ++ ungroupedAggs ++
      Seq(seqAgg.as(Meta.SeqCol), hasInsert)
    val agged = raw.groupBy(pk.map(col).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    // unpack groups: a retract winning the group nulls its members
    val outCols = valueCols.map { c =>
      memberOf.get(c) match {
        case None => col(c)
        case Some((seqs, members)) =>
          val g = col(groupAlias(seqs))
          if (seqs.contains(c)) g.getField(c).as(c)
          else when(g.getField("__kind") === Meta.KindDelete ||
              g.getField("__kind") === Meta.KindUpdateBefore,
            lit(null)).otherwise(g.getField(c)).cast(
              schema.toStruct(c).dataType).as(c)
      }
    }
    // partial-update.remove-record-on-sequence-group: a -D that WINS
    // one of the configured groups deletes the whole row (reference:
    // retractWithSequenceGroup's sequenceGroupPartialDelete — pinned by
    // PartialUpdateMergeFunctionTest.testSequenceGroupPartialDelete).
    // -U retractions never trigger it, and a null group sequence skips
    // the group (so it cannot win). This winner-based form matches
    // every reference-pinned case; it diverges only when a LOSING
    // record arrives after the winning delete — the reference's
    // sequential fold then resurrects a partially-stale row, which we
    // deliberately do not reproduce (the group's authority stands).
    val partialDeleted = groups
      .filter(_._1.exists(rmOnSeqGroup.contains))
      .map { case (seqs, _) =>
        col(groupAlias(seqs)).getField("__kind") === Meta.KindDelete }
      .reduceOption(_ || _).getOrElse(lit(false))
    val kindOut = when(partialDeleted, Meta.KindDelete)
      .when(col("__has_insert") === 1, Meta.KindInsert)
      .otherwise(Meta.KindDelete).cast("byte").as(Meta.KindCol)
    agged.select((pk.map(col) ++ outCols ++
      Seq(col(Meta.SeqCol), kindOut)).toIndexedSeq: _*)
  }

  private def groupAlias(seqs: Seq[String]): String = s"__grp_${seqs.mkString("_")}"

  /** Parse `fields.<s1>[,<s2>...].sequence-group = <members>` options
    * (reference: PartialUpdateMergeFunction.SEQUENCE_GROUP). */
  private[table] def sequenceGroups(schema: TableSchema): Seq[(Seq[String], Seq[String])] =
    schema.options.toSeq.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
        val seqs = k.stripPrefix("fields.").stripSuffix(".sequence-group")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val members = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        (seqs, members)
    }.sortBy(_._1.mkString(","))

  /** aggregation engine: per-field aggregate chosen by
    * `fields.<name>.aggregate-function` (default last_non_null_value).
    * Function set mirrors paimon-core .../aggregate/factory/.
    * `combine = true` merges already-aggregated per-commit states.
    *
    * Retraction (-U/-D): sum and count SUBTRACT the retracted
    * contribution (reference: FieldSumAgg.retract / FieldCountAgg);
    * every other function ignores retract rows (the implicit
    * ignore-retract wrapper). The key itself always survives — agg
    * state retracts toward neutral, it doesn't disappear. */
  private def aggregation(
      raw: DataFrame, schema: TableSchema, ord: Column, combine: Boolean): DataFrame = {
    graft.functions.SketchAggregates.register(raw.sparkSession)
    val pk = schema.primaryKeys
    val valueCols = schema.toStruct.fieldNames.filterNot(pk.contains)
    val isRetract =
      col(Meta.KindCol) === Meta.KindDelete || col(Meta.KindCol) === Meta.KindUpdateBefore
    val retractable = Set("sum", "count")
    // per-field function, falling back to the table-wide default
    // (reference: CoreOptions fields.default-aggregate-function) and
    // then to last_non_null_value. The sequence field never takes the
    // default — summing the ordering column would corrupt it.
    def fnOf(c: String) = schema.options.getOrElse(
      s"fields.$c.aggregate-function",
      if (schema.sequenceFields.contains(c)) "last_non_null_value"
      else schema.options.getOrElse("fields.default-aggregate-function",
        "last_non_null_value"))
    // aggregation.remove-record-on-delete (reference:
    // AGGREGATION_REMOVE_RECORD_ON_DELETE): a -D RESETS the key's
    // accumulated state — only records newer than the last delete
    // contribute; a key with no survivors emits a -D tombstone with
    // the max sequence (same resurrection guard as the partial-update
    // variant). -U retractions still apply among the survivors.
    val removeOnDelete =
      schema.options.get("aggregation.remove-record-on-delete").contains("true")
    val (raw1, aliveOpt) =
      if (!removeOnDelete) (raw, None)
      else {
        val isDel = col(Meta.KindCol) === Meta.KindDelete
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pk.map(col).toIndexedSeq: _*)
        val tagged = raw
          .withColumn("__last_del", max(when(isDel, ord)).over(w))
          .withColumn("__agg_alive",
            !isDel && (col("__last_del").isNull || ord > col("__last_del")))
        // dead rows contribute NOTHING: null every value column
        val cols = raw.columns.map { c =>
          if (valueCols.contains(c) && !schema.sequenceFields.contains(c))
            when(col("__agg_alive"), col(c)).as(c)
          else col(c)
        }.toIndexedSeq :+ col("__agg_alive")
        (tagged.select(cols: _*), Some(col("__agg_alive")))
      }
    // null out retract rows for the non-retractable functions so they
    // see exactly what the old delete-filtering showed them
    val masked = raw1.select(raw1.columns.map { c =>
      if (valueCols.contains(c) && !retractable(fnOf(c)))
        when(!isRetract, col(c)).as(c)
      else col(c)
    }.toIndexedSeq: _*)
    val maskedOrd = when(!isRetract, ord)
    val aggs = valueCols.map { c =>
      val e = fnOf(c) match {
        case "sum" => sum(when(isRetract, -col(c)).otherwise(col(c)))
        case "count" =>
          if (combine) sum(when(isRetract, -col(c)).otherwise(col(c)))
          else sum(when(col(c).isNotNull,
            when(isRetract, lit(-1L)).otherwise(lit(1L))).otherwise(lit(0L)))
        case fn => fieldAgg(fn, c, maskedOrd, combine, raw.schema(c).dataType, schema)
      }
      e.cast(raw.schema(c).dataType).as(c) // keep the declared field type
    } ++ (aliveOpt match {
      case None => metaAggs(masked)
      case Some(alive) =>
        val seqAgg =
          if (masked.columns.contains(Meta.SeqCol)) max(col(Meta.SeqCol))
          else lit(0L)
        Seq(seqAgg.as(Meta.SeqCol),
          when(max(when(alive, 1).otherwise(0)) === 1, Meta.KindInsert)
            .otherwise(Meta.KindDelete).cast("byte").as(Meta.KindCol))
    })
    masked.groupBy(pk.map(col).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** One field aggregate. For `combine`, the input rows are per-commit
    * aggregate states, so non-self-combining functions switch to their
    * combiner (count → sum, collect → array concat, ...). */
  private def fieldAgg(
      fn: String, c: String, ord: Column, combine: Boolean,
      dataType: org.apache.spark.sql.types.DataType,
      schema: TableSchema): Column = {
    val typeSql = dataType.sql
    fn match {
      case "sum" => sum(col(c))
      case "product" =>
        expr(s"aggregate(collect_list($c), cast(1.0 as double), (a, x) -> a * x)")
      case "min" => min(col(c))
      case "max" => max(col(c))
      case "count" => if (combine) sum(col(c)) else count(col(c))
      case "last_value" => max_by(col(c), ord)
      case "last_non_null_value" => max_by(col(c), when(col(c).isNotNull, ord))
      case "first_value" => min_by(col(c), ord)
      case "first_non_null_value" | "first_not_null_value" => // legacy alias
        min_by(col(c), when(col(c).isNotNull, ord))
      case "listagg" =>
        // concatenate in ordering-key order (stable across engines)
        array_join(transform(
          array_sort(collect_list(struct(ord.as("o"), col(c).as("v")))),
          x => x.getField("v")), ",")
      case "bool_and" => expr(s"bool_and($c)")
      case "bool_or" => expr(s"bool_or($c)")
      case "collect" =>
        // the declared column is ARRAY<T> and every written row carries
        // an ARRAY<T> (often single-element): both the write-buffer base
        // aggregation and the cross-commit combine union the arrays
        // (reference: FieldCollectAgg — collect concatenates array
        // inputs). Without the base-form flatten, array-valued writes
        // produced ARRAY<ARRAY<T>> and failed the schema cast.
        array_sort(flatten(collect_list(col(c))))
      case "merge_map" =>
        // later maps win per key, folded in ordering-key order. The
        // sort rides map_entries: Spark cannot ORDER a struct holding
        // a MAP, so the collected element is struct(o, entries) —
        // orderable, and o leads the lexicographic struct comparison.
        val sorted = array_sort(collect_list(
          struct(ord.as("o"), map_entries(col(c)).as("e"))))
        val maps = transform(sorted, x => map_from_entries(x.getField("e")))
        aggregate(maps, lit(null).cast(typeSql),
          (a, m) => when(m.isNull, a).otherwise(when(a.isNull, m).otherwise(
            map_concat(
              map_filter(a, (k, _) => !array_contains(map_keys(m), k)), m))))
      case "primary-key" => first(col(c))
      // sketch states: stored value IS the serialized sketch; base and
      // combine are both unions (fully mergeable). Native
      // TypedImperativeAggregates (functions.SketchAggregates) keep
      // the live sketch in the buffer — no per-row reserialization.
      case "theta_sketch" => expr(s"graft_theta_union($c)")
      case "hll_sketch" => expr(s"hll_union_agg($c)")
      case "rbm32" => expr(s"graft_rbm32_union($c)")
      case "rbm64" => expr(s"graft_rbm64_union($c)")
      case "nested_update" => nestedUpdate(c, ord, dataType, schema, partial = false)
      case "nested_partial_update" => nestedUpdate(c, ord, dataType, schema, partial = true)
      case other => throw new IllegalArgumentException(s"unknown aggregate-function: $other")
    }
  }

  /** nested_update / nested_partial_update: the field is ARRAY<STRUCT>
    * representing a nested table keyed by `fields.<f>.nested-key`.
    * Arrays concatenate in ordering-key order; with a nested key, the
    * LAST row per key wins (nested_update) or rows merge per-field
    * last-non-null (nested_partial_update). Without a key, rows just
    * append. (reference: FieldNestedUpdateAgg.java:46 /
    * FieldNestedPartialUpdateAgg.java.) Higher-order expressions, no
    * extra shuffle; nested tables are assumed small per key (the
    * reference bounds them with a count limit for the same reason). */
  private def nestedUpdate(
      c: String, ord: Column,
      dataType: org.apache.spark.sql.types.DataType,
      schema: TableSchema, partial: Boolean): Column = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val at = dataType match {
      case a: ArrayType => a
      case other => throw new IllegalArgumentException(
        s"nested_update requires ARRAY<STRUCT>, got ${other.sql}")
    }
    val st = at.elementType.asInstanceOf[StructType]
    val keys = schema.options.get(s"fields.$c.nested-key")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // arrays of all versions, flattened in ordering-key order
    val ordered = transform(
      array_sort(collect_list(struct(ord.as("o"), col(c).as("a")))),
      x => x.getField("a"))
    val emptyArr = array().cast(at)
    val total = filter(
      flatten(transform(ordered, a => coalesce(a, emptyArr))),
      r => r.isNotNull)
    if (keys.isEmpty) return total
    def sameKey(x: Column, y: Column): Column =
      keys.map(k => x.getField(k) <=> y.getField(k)).reduce(_ && _)
    // keep only the LAST occurrence of each nested key
    val lastPerKey = filter(total, (x, i) =>
      !exists(slice(total, i + 2, size(total)), y => sameKey(x, y)))
    if (!partial) lastPerKey
    else
      // per surviving key: field-wise fold over all rows of that key,
      // later non-null values winning
      transform(lastPerKey, x =>
        struct(st.fields.toSeq.map { f =>
          aggregate(
            filter(total, y => sameKey(x, y)),
            lit(null).cast(f.dataType),
            (acc, y) => coalesce(y.getField(f.name), acc)).as(f.name)
        }: _*))
  }

  /** Meta columns for reduced rows: max seq, insert kind. */
  private def metaAggs(in: DataFrame): Seq[Column] = {
    val seqAgg =
      if (in.columns.contains(Meta.SeqCol)) max(col(Meta.SeqCol))
      else lit(0L)
    Seq(seqAgg.as(Meta.SeqCol),
      lit(Meta.KindInsert).cast("byte").as(Meta.KindCol))
  }

  /** Byte kind → changelog label, for $audit_log-style outputs. */
  def kindLabel(kind: Column): Column =
    when(kind === Meta.KindInsert, "+I")
      .when(kind === Meta.KindUpdateBefore, "-U")
      .when(kind === Meta.KindUpdateAfter, "+U")
      .otherwise("-D")
}
