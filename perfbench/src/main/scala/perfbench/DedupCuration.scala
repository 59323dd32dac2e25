package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup}
import graft.table.GraftTable

/** Training-data curation on a generated corpus stored in a graft table:
  * MinHash near-duplicate pairs, connected-component dedup, appending
  * the survivors to a graft table, then an incremental batch deduped
  * against a band index of the corpus. Planted duplicates are copies
  * that differ only in letter case (MinHash shingles 3-token windows of
  * the lower-cased text), so every one must be found; one hot cluster
  * of such copies is larger than the operators' bucket cap, so the
  * hot-bucket guard fires. */
final class DedupCuration(c: Ctx) extends Workload(c) {
  import DedupCuration._

  private var corpusIn: DataFrame = _
  private var incrementIn: DataFrame = _
  private var corpus: GraftTable = _
  private var survivors: GraftTable = _
  private var dir: String = _
  private var planted = Set.empty[Long]
  private var plantedInc = Set.empty[(Long, Long)]
  private var docs = 0L
  private var incDocs = 0L

  private val passMs = ArrayBuffer.empty[Double]
  private val survivorCounts = ArrayBuffer.empty[Long]
  private val verifiedPairs = ArrayBuffer.empty[Long]
  private val skewDrops = ArrayBuffer.empty[Long]
  private val collapsed = ArrayBuffer.empty[Long]

  private def words(rnd: java.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(s"w${rnd.nextInt(Vocab)}")

  override def prepareInputs(): Unit = {
    val session = spark
    import session.implicits._
    val rnd = c.rnd(7)
    val base = (0 until BaseDocs).map(i => (i.toLong, words(rnd, Tokens).mkString(" ")))
    // every PlantEvery-th document gets a copy with the same token set
    val copies = base.filter(_._1 % PlantEvery == 0).map { case (id, text) =>
      (id + PlantOffset, text.toUpperCase)
    }
    planted = copies.map(_._1 - PlantOffset).toSet
    val hotWords = words(rnd, Tokens)
    val hot = (0 until HotDocs).map { i =>
      (HotBase + i, hotWords.zipWithIndex.map { case (w, j) =>
        if ((i >> (j % 10)) % 2 == 1) w.toUpperCase else w }.mkString(" "))
    }
    val fresh = (0 until IncrementDocs).map(i =>
      (IncrementBase + i, words(rnd, Tokens).mkString(" ")))
    val incCopies = base.filter(_._1 % IncPlantEvery == 1).map { case (id, text) =>
      (id + IncPlantOffset, text.capitalize)
    }
    plantedInc = incCopies.map(x => (x._1 - IncPlantOffset, x._1)).toSet
    val all = base ++ copies ++ hot
    all.foreach(d => c.inputs.add(d._2))
    (fresh ++ incCopies).foreach(d => c.inputs.add(d._2))
    docs = all.size
    incDocs = fresh.size + incCopies.size
    corpusIn = all.toDF("doc_id", "text").localCheckpoint(eager = true)
    incrementIn = (fresh ++ incCopies).toDF("doc_id", "text").localCheckpoint(eager = true)
  }

  /** The corpus lands in an append table the pipeline reads from. */
  def setup(d: String): Unit = {
    dir = d
    corpus = GraftTable.create(spark, s"$d/corpus", corpusIn.schema)
    corpus.write(corpusIn)
    survivors = GraftTable.create(spark, s"$d/survivors", corpusIn.schema)
  }

  private def checkPass(pairs: DataFrame, kept: DataFrame, inc: DataFrame): Unit = {
    c.attempt("planted duplicates found") {
      pairs.filter(col("id_b") === col("id_a") + PlantOffset).select("id_a")
        .collect().map(_.getLong(0)).toSet == planted
    }
    c.attempt("no planted copy survives") {
      kept.filter(col("doc_id") >= PlantOffset && col("doc_id") < HotBase).isEmpty
    }
    c.attempt("increment duplicates found through the index") {
      val found = inc.filter(col("id_b") >= IncPlantOffset).select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      plantedInc.subsetOf(found)
    }
  }

  /** One untimed pass over a small corpus holding an over-cap hot
    * cluster, so every operator path is compiled before timing. */
  override def warmup(): Unit = {
    val in = corpusIn.filter(col("doc_id") < WarmupDocs || col("doc_id") >= HotBase)
    val pairs = Dedup.minhashDedupPairs(in, "doc_id", "text", Threshold, K, Bands)
      .localCheckpoint(eager = true)
    Components.dedupByPairs(in, "doc_id", pairs).localCheckpoint(eager = true)
    val idx = Dedup.createBandIndex(spark, s"$dir/bandidx-warmup")
    Dedup.appendToBandIndex(idx, in, "doc_id", "text", K, Bands)
    Dedup.dedupIncrementPairs(idx, in, incrementIn, "doc_id", "text", Threshold, K, Bands).count()
  }

  def run(deadline: Long): Unit = {
    var pass = 0
    while (System.nanoTime() < deadline) {
      pass += 1
      Dedup.skewDropsReset()
      var pairs: DataFrame = null
      var kept: DataFrame = null
      var inc: DataFrame = null
      val t0 = System.nanoTime()
      c.tracer.op("pass") {
        c.attempt(s"pass $pass") {
          val in = c.span("table", "read")(corpus.read)
          pairs = c.span("operators", "pairs")(
            Dedup.minhashDedupPairs(in, "doc_id", "text", Threshold, K, Bands)
              .localCheckpoint(eager = true))
          kept = c.span("operators", "components")(
            Components.dedupByPairs(in, "doc_id", pairs).localCheckpoint(eager = true))
          c.span("table", "append")(survivors.write(kept))
          val idx = c.span("table", "create")(Dedup.createBandIndex(spark, s"$dir/bandidx-$pass"))
          c.span("operators", "band_append")(
            Dedup.appendToBandIndex(idx, in, "doc_id", "text", K, Bands))
          inc = c.span("operators", "increment")(
            Dedup.dedupIncrementPairs(idx, in, incrementIn, "doc_id", "text", Threshold, K, Bands)
              .localCheckpoint(eager = true))
          true
        }
      }
      passMs += (System.nanoTime() - t0) / 1e6
      if (pairs != null && kept != null && inc != null) {
        skewDrops += Dedup.skewDrops.values.map(_._1).sum
        collapsed += Dedup.collapseStats.values.map(_._1).sum
        verifiedPairs += pairs.count()
        survivorCounts += kept.count()
        checkPass(pairs, kept, inc)
      }
    }
  }

  private var candidatePairs = 0L

  def verify(): Unit =
    if (c.tracer.on) candidatePairs =
      Dedup.minhashCandidates(corpus.read, "doc_id", "text", K, Bands).count()

  def opSamples: Seq[Double] = passMs.toSeq

  def rowsPerSecond: Double = (docs + incDocs) * passMs.size / (passMs.sum / 1000)

  def detail: Map[String, Any] = Map(
    "dedup_docs_per_s" -> rowsPerSecond,
    "passes" -> passMs.size,
    "pass_ms" -> passMs.toSeq,
    "corpus_docs" -> docs,
    "planted_pairs" -> planted.size,
    "survivors" -> survivorCounts.toSeq.distinct,
    "verified_pairs" -> verifiedPairs.toSeq.distinct,
    "skew_drops" -> skewDrops.toSeq.distinct,
    "collapsed_rows" -> collapsed.toSeq.distinct)

  def layers: Map[String, Double] = {
    val ops = Seq("pairs", "components", "band_append", "increment")
      .map(n => n -> c.tracer.stats("operators", n)).toMap
    Map(
      "operators.pairs_ms" -> ops("pairs").ms,
      "operators.components_ms" -> ops("components").ms,
      "operators.band_append_ms" -> ops("band_append").ms,
      "operators.increment_ms" -> ops("increment").ms,
      "operators.shuffle_mb" -> ops.values.map(_.shuffleMb).sum,
      "operators.candidate_pairs" -> candidatePairs.toDouble,
      "operators.verified_pairs" -> verifiedPairs.headOption.getOrElse(0L).toDouble,
      "operators.skew_drops" -> skewDrops.headOption.getOrElse(0L).toDouble,
      "operators.collapsed_rows" -> collapsed.headOption.getOrElse(0L).toDouble,
      "core.files_live" -> Workload.liveFiles(survivors).size.toDouble,
      "table.write_ms" -> c.tracer.stats("table", "append").ms,
      "table.read_ms" -> c.tracer.stats("table", "read").ms)
  }
}

object DedupCuration {
  /** MinHash size and bands; planted copies share every band, so recall
    * does not depend on them. */
  val K = 16
  val Bands = 4
  val Threshold = 0.7
  val BaseDocs = 2000
  val WarmupDocs = 200
  val Tokens = 61
  val Vocab = 5000
  val PlantEvery = 10
  val PlantOffset = 1000000L
  val HotDocs = 1050
  val HotBase = 2000000L
  val IncrementDocs = 200
  val IncrementBase = 3000000L
  val IncPlantEvery = 20
  val IncPlantOffset = 4000000L
}
