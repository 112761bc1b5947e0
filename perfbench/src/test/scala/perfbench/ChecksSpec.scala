package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every output check accepts a correct result and rejects a corrupted one. */
class ChecksSpec extends AnyFunSuite {
  import Checks._

  private val good = Seq(
    Hit(1, 10, 0.9, "p"), Hit(2, 11, 0.8, "p"), Hit(3, 12, 0.8, "p"),
    Hit(4, 13, 0.5, "p"), Hit(5, 14, 0.1, "p"))

  test("search accepts k ranked rows with non-increasing scores and one prompt") {
    assert(search(good, 5).isEmpty)
    assert(search(good.reverse, 5).isEmpty) // row order does not matter, ranks do
  }

  test("search rejects missing ranks, rising scores and bad prompts") {
    assert(search(good.take(4), 5).nonEmpty)
    assert(search(good.updated(4, Hit(6, 14, 0.1, "p")), 5).nonEmpty)
    assert(search(good.updated(4, Hit(5, 14, 0.95, "p")), 5).nonEmpty)
    assert(search(good.updated(0, Hit(1, 10, 0.9, "")), 5).nonEmpty)
    assert(search(good.updated(0, Hit(1, 10, 0.9, "other")), 5).nonEmpty)
  }

  test("read-your-writes needs the planted doc among the hits") {
    assert(readYourWrites(good, 12).isEmpty)
    assert(readYourWrites(good, 99).nonEmpty)
  }

  test("sameIds rejects a missing, an extra or a repeated id") {
    assert(sameIds(Seq(3L, 1L, 2L), Seq(1L, 2L, 3L), "x").isEmpty)
    assert(sameIds(Seq(1L, 2L), Seq(1L, 2L, 3L), "x").nonEmpty)
    assert(sameIds(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L), "x").nonEmpty)
    assert(sameIds(Seq(1L, 2L, 2L), Seq(1L, 2L, 3L), "x").nonEmpty)
  }

  test("batchPairs rejects unordered pairs and pairs outside the batch") {
    assert(batchPairs(Seq((1L, 7L), (7L, 8L)), Set(7L, 8L)).isEmpty)
    assert(batchPairs(Seq((8L, 7L)), Set(7L, 8L)).nonEmpty)
    assert(batchPairs(Seq((1L, 2L)), Set(7L, 8L)).nonEmpty)
  }

  test("cellRanks needs ranks 1..nAssign for every vector") {
    val rows = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 1L))
    assert(cellRanks(rows, Seq(1L, 2L), 2).isEmpty)
    assert(cellRanks(rows.drop(1), Seq(1L, 2L), 2).nonEmpty)
    assert(cellRanks(rows, Seq(1L, 2L, 3L), 2).nonEmpty)
  }

  test("recall@k against the exact answer drops when the IVF answer is corrupted") {
    val exact = Map(1L -> Seq(5L, 6L), 2L -> Seq(7L, 8L))
    assert(recallAtK(exact, exact, 2) == 1.0)
    val corrupted = Map(1L -> Seq(5L, 9L), 2L -> Seq(9L, 9L))
    assert(recallAtK(corrupted, exact, 2) == 0.25)
    assert(atLeast(recallAtK(corrupted, exact, 2), 0.8, "recall").nonEmpty)
  }

  test("planted pair recall counts pairs sharing a cluster label") {
    val truth = Seq((1L, 2L), (1L, 3L), (4L, 5L))
    val label = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L)
    assert(clusterRecall(label, truth) == 1.0)
    assert(clusterRecall(label.updated(5L, 5L), truth) == 2.0 / 3)
    assert(clusterRecall(label - 3L, truth) == 2.0 / 3)
    assert(pairRecall(Set((1L, 2L), (1L, 3L)), truth) == 2.0 / 3)
    assert(pairRecall(Set((2L, 1L)), Seq((2L, 1L))) == 0.0) // found pairs are (min, max)
  }

  test("atLeast fails on a low or undefined value") {
    assert(atLeast(0.9, 0.8, "r").isEmpty)
    assert(atLeast(0.7, 0.8, "r").nonEmpty)
    assert(atLeast(Double.NaN, 0.8, "r").nonEmpty)
  }
}
