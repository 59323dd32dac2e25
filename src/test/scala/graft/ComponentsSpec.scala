package graft

import graft.operators.Components
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components cluster resolution vs a local union-find
  * oracle, including the pointer-jumping worst case (long chains). */
class ComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // fully compress, then label every member with the component min
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def sparkComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs match a local union-find oracle") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 120
      val nEdges = 30 + trial * 40
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val expected = unionFind(n, edges)
      val got = sparkComponents(edges)
      // spark only labels nodes that appear in edges
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert(got.keySet == touched)
      got.foreach { case (id, comp) =>
        assert(comp == expected(id), s"trial $trial node $id")
      }
    }
  }

  test("a 200-node chain converges within the pointer-jumping bound") {
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = sparkComponents(edges)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("an earlier round re-evaluated during a later one does not count toward its convergence") {
    import spark.implicits._
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def run(replay: Boolean): (Map[Long, Long], Int) = {
      var rounds = 0
      var previous: Option[org.apache.spark.sql.DataFrame] = None
      // materialize each round, first re-running the previous round's
      // un-cut plan (its probe fires again) when `replay` is set
      val cut = (df: org.apache.spark.sql.DataFrame) => {
        if (replay) previous.foreach(_.collect())
        previous = Some(df)
        rounds += 1
        df.localCheckpoint(eager = true)
      }
      val got = Components.connectedComponents(edges, "id_a", "id_b", 25, cut)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (got, rounds)
    }
    val (plain, plainRounds) = run(replay = false)
    val (replayed, replayedRounds) = run(replay = true)
    assert(plain.size == 41 && plain.values.forall(_ == 0L))
    assert(replayed == plain)
    // a shared accumulator reset per round counts the replayed round's
    // moves in the next one and runs an extra round
    assert(replayedRounds == plainRounds, s"$replayedRounds vs $plainRounds")
  }

  test("minhash pairs -> components collapses transitive near-dup chains") {
    import spark.implicits._
    import graft.operators.Dedup
    // A~B and B~C clear the jaccard threshold; A~C does not — only
    // cluster resolution (not the pair stage) can collapse all three
    val base = (1 to 40).map(i => s"w$i")
    val a = base.mkString(" ")
    val b = (base.take(34) ++ (1 to 6).map(i => s"x$i")).mkString(" ")
    val c = (base.take(28) ++ (1 to 6).map(i => s"x$i") ++
      (1 to 6).map(i => s"y$i")).mkString(" ")
    val docs = Seq((0L, a), (1L, b), (2L, c), (3L, "totally different text"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
      threshold = 0.6, k = 64, bands = 16)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (1L, 2L)), s"pair stage gave $got")
    val kept = Components.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id", "component", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kept == Set((0L, 0L, 2L), (3L, 3L, 0L)))
  }

  test("dedupByPairs keeps one canonical row per cluster and all singletons") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // {0,1,2} and {5,6} clusters; 3,4,7,8,9 singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Components.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id", "component", "n_dropped")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 0L, 2L), (5L, 5L, 1L),
      (3L, 3L, 0L), (4L, 4L, 0L), (7L, 7L, 0L), (8L, 8L, 0L), (9L, 9L, 0L)))
  }

  test("dedupByPairs survives when the cluster's min id is absent from df") {
    import spark.implicits._
    // pairs reference id 10 (the cluster min) but df holds only 20/30 —
    // keying the survivor on the GLOBAL min would drop the whole cluster
    val pairs = Seq((10L, 20L), (20L, 30L)).toDF("id_a", "id_b")
    val docs = Seq((20L, "b"), (30L, "c"), (40L, "solo")).toDF("id", "v")
    val out = Components.dedupByPairs(docs, "id", pairs)
      .select("id", "n_dropped")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((20L, 1L), (40L, 0L)),
      s"min PRESENT member must survive, got $out")
  }
}
