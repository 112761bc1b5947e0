package perfbench

/** Output checks on collected results. Each returns the problems it
  * found; an empty list means the output is correct. An operation with
  * any problem counts as failed, whatever its time. */
object Checks {
  /** One proposalFlow row, as the checks need it. */
  final case class Hit(rank: Long, docId: Long, score: Double, prompt: String)

  /** k rows ranked 1..k, scores non-increasing with rank, one
    * non-empty prompt shared by every row. */
  def search(hits: Seq[Hit], k: Int): Seq[String] = {
    val byRank = hits.sortBy(_.rank)
    Seq(
      Option.when(byRank.map(_.rank) != (1L to k.toLong))(
        s"ranks ${byRank.map(_.rank).mkString(",")} are not 1..$k"),
      Option.when(byRank.sliding(2).exists(p => p.size == 2 && p(1).score > p(0).score))(
        "scores increase with rank"),
      Option.when(hits.exists(h => h.prompt == null || h.prompt.isEmpty))("empty prompt"),
      Option.when(hits.map(_.prompt).distinct.size > 1)("rows disagree on the prompt"),
    ).flatten
  }

  /** The document planted by the preceding upsert is among the hits. */
  def readYourWrites(hits: Seq[Hit], planted: Long): Seq[String] =
    Option.when(!hits.exists(_.docId == planted))(
      s"planted doc $planted not retrieved right after its upsert").toSeq

  /** Exactly `expected` ids came through, each once. */
  def sameIds(got: Seq[Long], expected: Seq[Long], what: String): Seq[String] =
    Option.when(got.sorted != expected.sorted)(
      s"$what: got ${got.size} ids, expected ${expected.size} " +
        s"(missing ${expected.diff(got).take(5).mkString(",")}, " +
        s"unexpected ${got.diff(expected).take(5).mkString(",")})").toSeq

  /** Candidate pairs are ordered (a < b) and each touches the batch. */
  def batchPairs(pairs: Seq[(Long, Long)], batch: Set[Long]): Seq[String] =
    pairs.collectFirst {
      case (a, b) if a >= b => s"pair ($a, $b) is not ordered"
      case (a, b) if !batch(a) && !batch(b) => s"pair ($a, $b) touches no batch document"
    }.toSeq

  /** Every id gets `nAssign` rows ranked 1..nAssign. */
  def cellRanks(rows: Seq[(Long, Long)], ids: Seq[Long], nAssign: Int): Seq[String] = {
    val got = rows.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).sorted }
    ids.collectFirst {
      case id if !got.get(id).contains(1L to nAssign.toLong) =>
        s"vector $id has cell ranks ${got.getOrElse(id, Nil).mkString(",")}, expected 1..$nAssign"
    }.toSeq
  }

  /** Share of `truth` pairs found: by id pair, or by equal label. */
  def pairRecall(found: Set[(Long, Long)], truth: Seq[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0
    else truth.count { case (a, b) => found((a min b, a max b)) }.toDouble / truth.size

  def clusterRecall(label: Map[Long, Long], truth: Seq[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0
    else truth.count { case (a, b) => label.get(a).exists(label.get(b).contains) }.toDouble /
      truth.size

  /** Mean over queries of |ivf top-k ∩ exact top-k| / k. */
  def recallAtK(ivf: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]], k: Int): Double =
    exact.toSeq.map { case (q, ids) =>
      ivf.getOrElse(q, Nil).take(k).toSet.intersect(ids.take(k).toSet).size.toDouble / k
    }.sum / exact.size

  /** A recall below `floor` is a failed check, not just a low number. */
  def atLeast(value: Double, floor: Double, what: String): Seq[String] =
    Option.when(!(value >= floor))(f"$what $value%.4f below $floor%.2f").toSeq
}
