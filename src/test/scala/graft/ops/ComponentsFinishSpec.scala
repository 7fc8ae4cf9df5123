package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The r20 contract-and-finish fast path of [[Dedup.componentsFromPairs]]
  * must be invisible in the results: on every graph shape (long chains —
  * the shape that triggers it — cliques, mixed, singletons, self-loops)
  * the labels must equal BOTH the pure distributed loop's
  * (`spark.graft.cc.finishEdgeCap = 0`) and an in-core brute-force
  * reference's per-component minimum.
  */
class ComponentsFinishSpec extends AnyFunSuite with SparkSpec {

  /** In-core reference: per-component minimum id via BFS. */
  private def reference(
      edges: Seq[(Long, Long)], universe: Seq[Long]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
      .withDefaultValue(Nil)
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj(a); adj(b) = a :: adj(b)
    }
    val label = scala.collection.mutable.Map[Long, Long]()
    universe.foreach { n =>
      if (!label.contains(n)) {
        val seen = scala.collection.mutable.Set(n)
        var frontier = List(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).filterNot(seen)
          frontier.foreach(seen.add)
        }
        val m = seen.min
        seen.foreach(label(_) = m)
      }
    }
    label.toMap
  }

  private def run(
      edges: Seq[(Long, Long)], universe: Seq[Long],
      finishCap: Long): Map[Long, Long] = {
    spark.conf.set(Dedup.FinishEdgeCapKey, finishCap.toString)
    try {
      import spark.implicits._
      val pairs = edges.toDF("a_id", "b_id")
      val uni = universe.toDF("doc_id")
      Dedup.componentsFromPairs(pairs, uni, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally spark.conf.unset(Dedup.FinishEdgeCapKey)
  }

  private def check(edges: Seq[(Long, Long)], universe: Seq[Long]): Unit = {
    val ref = reference(edges, universe)
    val withFinish = run(edges, universe, finishCap = Dedup.FinishEdgeCapDefault)
    val pure = run(edges, universe, finishCap = 0L)
    assert(withFinish === ref, "finish path diverged from reference")
    assert(pure === ref, "distributed path diverged from reference")
  }

  test("long chain (the finish trigger shape) matches the pure loop") {
    // A 300-node path: diameter 299, far past the 3-round probe point —
    // guaranteed to exercise the contract-and-finish.
    val n = 300L
    val edges = (1L until n).map(i => (i + 1, i))
    check(edges, (1L to n) ++ Seq(900L, 901L)) // plus singletons
  }

  test("cliques converge before the probe and never pay the finish") {
    val cliques = (0L until 5L).flatMap { c =>
      val ids = (0L until 6L).map(c * 100 + 10 + _)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    check(cliques, cliques.flatMap(e => Seq(e._1, e._2)).distinct)
  }

  test("random mixed graph (chains + cliques + self-loops) matches") {
    val rng = new scala.util.Random(42)
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    // chains of random length
    var next = 1000L
    (1 to 5).foreach { _ =>
      val len = 5 + rng.nextInt(60)
      (0 until len).foreach(i => edges += ((next + i, next + i + 1)))
      next += len + 10
    }
    // random edges across a small id space (creates merged components)
    (1 to 80).foreach { _ =>
      edges += ((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    check(edges.toSeq, nodes.toSeq ++ Seq(99999L))
  }
}
