package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Every workload input is a pure function of
  * the seed: documents and vectors shaped like the engine's sf0.1 test
  * corpus, planted near-duplicate families with their ground-truth pair
  * list, rag_serve query strings and upsert batches.
  *
  * sf0.1 shape (measured once from its parquet and fixed here, so the
  * benchmark needs no external data): 30-word vocabulary drawn
  * uniformly, 10 to 100 space-separated tokens per document, languages
  * en 41 % and zh/es/fr/de about 15 % each, sources `src0`..`src19`,
  * 64-dimensional unit vectors in 10 labelled clusters. */
object Gen {
  val Vocab: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  val MinTokens = 10
  val MaxTokens = 100
  val Dim = 64
  val Labels = 10
  private val Langs = Vector("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)
  /** One rag_serve upsert batch. `resent` are unchanged copies of corpus
    * documents (the incremental anti-join must drop them); `modified`
    * are light edits of corpus documents under new ids, with `origins`
    * the id each was edited from; `fresh` are new documents; `planted`
    * holds the batch's read-your-writes token and nothing else. */
  final case class Batch(id: Int, resent: Seq[Doc], modified: Seq[Doc], origins: Seq[Long],
                         fresh: Seq[Doc], planted: Doc, token: String, vectors: Seq[Vec]) {
    def docs: Seq[Doc] = resent ++ modified ++ fresh :+ planted
    def added: Seq[Doc] = modified ++ fresh :+ planted
  }
  /** Amplified corpus with planted near-duplicate families: `pairs`
    * are (family seed id, member id), every member at 3-shingle
    * Jaccard >= [[PlantedJaccard]] to its seed. */
  final case class Corpus(docs: Vector[Doc], vectors: Vector[Vec], pairs: Vector[(Long, Long)])

  val PlantedJaccard = 0.7

  /** An independent generator per (seed, stream); java.util.Random
    * scrambles the pair so nearby seeds share no subsequence. */
  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(new java.util.Random(seed ^ (stream << 40)).nextLong())

  private def text(r: SplittableRandom): String =
    Seq.fill(r.nextInt(MinTokens, MaxTokens + 1))(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  private def doc(id: Long, text: String, r: SplittableRandom): Doc = {
    var pick = r.nextInt(100)
    val lang = Langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
    Doc(id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  private def docs(r: SplittableRandom, n: Int, idStart: Long): Vector[Doc] =
    Vector.tabulate(n)(i => doc(idStart + i, text(r), r))

  /** `n` sf0.1-shaped documents with ids 0 until n. */
  def baseDocs(seed: Long, n: Int): Vector[Doc] = docs(rng(seed, 1), n, 0)

  /** 3-token shingles under DedupOps.wordShingles' token contract:
    * split on single spaces, first 512 tokens, trimmed, blanks dropped. */
  def shingles(text: String): Set[String] = {
    val toks = text.split(" ", -1).take(512).map(_.trim).filter(_.nonEmpty)
    toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    val union = (sa | sb).size
    if (union == 0) 1.0 else (sa & sb).size.toDouble / union
  }

  /** A light edit of `text`: up to `swaps` tokens replaced by random
    * vocabulary words, retried with fewer swaps until the edit differs
    * from the original and keeps 3-shingle Jaccard >= `minJaccard`. */
  private def edit(text: String, swaps: Int, minJaccard: Double, r: SplittableRandom): String = {
    val toks = text.split(" ")
    Iterator.from(0).map { attempt =>
      val t = toks.clone()
      (0 until math.max(1, swaps - attempt / 4)).foreach { _ =>
        t(r.nextInt(t.length)) = Vocab(r.nextInt(Vocab.size))
      }
      t.mkString(" ")
    }.find(e => e != text && jaccard(e, text) >= minJaccard).get
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** `n` unit vectors: noise around 10 seeded cluster centres. */
  def baseVectors(seed: Long, n: Int): Vector[Vec] = {
    val r = rng(seed, 2)
    val centres = Vector.fill(Labels)(Array.fill(Dim)(r.nextGaussian()))
    Vector.tabulate(n) { i =>
      val l = r.nextInt(Labels)
      Vec(i, unit(centres(l).map(_ + 1.5 * r.nextGaussian())), l)
    }
  }

  /** Seeded noise around `base` vectors, with new ids from `idStart`. */
  private def jitter(base: Vector[Vec], n: Int, idStart: Long, r: SplittableRandom): Vector[Vec] =
    Vector.tabulate(n) { i =>
      val b = base(r.nextInt(base.size))
      Vec(idStart + i, unit(b.embedding.map(_ + 0.02 * r.nextGaussian())), b.label)
    }

  /** The amplified corpus: `nDocs` documents of which about 2 % are
    * planted family members (1 to 4 per family, one in ten an exact
    * copy), and `nVecs` vectors jittered around 2,000 base vectors. */
  def corpus(seed: Long, nDocs: Int, nVecs: Int): Corpus = {
    val r = rng(seed, 3)
    val out = Vector.newBuilder[Doc]
    val pairs = Vector.newBuilder[(Long, Long)]
    var id = 0L
    while (id < nDocs) {
      val seedDoc = doc(id, text(r), r)
      out += seedDoc
      id += 1
      if (r.nextInt(100) < 2) {
        (1 to r.nextInt(1, 5)).takeWhile(_ => id < nDocs).foreach { _ =>
          val t = if (r.nextInt(10) == 0) seedDoc.text
            else edit(seedDoc.text, 1 + seedDoc.text.count(_ == ' ') / 25, PlantedJaccard, r)
          out += doc(id, t, r)
          pairs += seedDoc.doc_id -> id
          id += 1
        }
      }
    }
    Corpus(out.result(), jitter(baseVectors(seed, 2000), nVecs, 0L, r), pairs.result())
  }

  /** Seeded vector queries (ids from 10^9, outside every corpus). */
  def vectorQueries(seed: Long, base: Vector[Vec], n: Int): Vector[Vec] =
    jitter(base, n, 1000000000L, rng(seed, 4))

  /** Seeded 3-word query strings from the vocabulary. */
  def queries(seed: Long, n: Int): Vector[String] = {
    val r = rng(seed, 5)
    Vector.fill(n)(Seq.fill(3)(Vocab(r.nextInt(Vocab.size))).mkString(" "))
  }

  /** Read-your-writes tokens: one per batch, each hashing to an
    * embedding dimension no vocabulary word uses, cycling through those
    * dimensions. The planted document (that token alone) then scores
    * cosine 1.0 against its token query, and only plants of other
    * batches on the same dimension can tie with it. */
  private def plantTokens(seed: Long, n: Int): Vector[String] = {
    def dimOf(t: String) = (graft.functions.PortableHash.hash24Jvm(t) % Dim).toInt
    val used = Vocab.map(dimOf).toSet
    val free = (0 until Dim).filterNot(used)
    Vector.tabulate(n) { i =>
      Iterator.from(0).map(j => s"ryw${seed}b${i}v$j")
        .find(t => dimOf(t) == free(i % free.size)).get
    }
  }

  /** `n` upsert batches against a base corpus. Modified documents carry
    * a one-token edit at Jaccard >= [[PlantedJaccard]]; each batch has
    * as many new vectors as modified documents. */
  def batches(seed: Long, base: Vector[Doc], baseVecs: Vector[Vec], n: Int, resent: Int,
              modified: Int, fresh: Int): Vector[Batch] = {
    val r = rng(seed, 6)
    var nextDoc = base.size.toLong
    var nextVec = baseVecs.size.toLong
    val tokens = plantTokens(seed, n)
    Vector.tabulate(n) { b =>
      def pick() = base(r.nextInt(base.size))
      val resentDocs = Seq.fill(resent)(pick())
      val origins = Seq.fill(modified)(pick())
      val edited = origins.map { o =>
        nextDoc += 1
        doc(nextDoc - 1, edit(o.text, 1, PlantedJaccard, r), r)
      }
      val freshDocs = docs(r, fresh, nextDoc)
      nextDoc += fresh
      val planted = doc(nextDoc, Seq.fill(4)(tokens(b)).mkString(" "), r)
      nextDoc += 1
      val vecs = jitter(baseVecs, modified, nextVec, r)
      nextVec += modified
      Batch(b, resentDocs, edited, origins.map(_.doc_id), freshDocs, planted, tokens(b), vecs)
    }
  }
}
