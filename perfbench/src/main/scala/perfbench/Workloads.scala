package perfbench

import graft.ops._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a workload's closed loop: what kind it was, how
  * many input documents it covered, and its output check (run after
  * the operation is timed). */
final case class Op(kind: String, docs: Long, check: () => Seq[String])

/** A workload owns its inputs and state under `dir`. Its inputs are a
  * function of `seed` alone, and the engine reads them only through
  * `Tables.documents` / `Tables.embeddings`. */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long) {
  /** Ops per cycle: a run always ends on a cycle boundary, so every run
    * measures the same mix of op kinds. */
  def cycle: Int = 1
  /** Generates the inputs and builds the base state. */
  def setup(): Unit
  def op(i: Int, tr: Tracer): Op
  /** The workload's recall over the operations run so far. */
  def recall: Double
  /** Figures printed in the run's summary but not gated. */
  def figures: Seq[(String, Double, String)] = Nil
  /** Per-layer values that only a traced run measures (0 where the
    * workload verifies no LSH candidates). */
  def traced: Seq[(String, Double, String)] = Seq(("DedupOps.verified_per_candidate", 0.0, "ratio"))

  protected def save(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(s"$dir/$path")
  protected def read(path: String): DataFrame = spark.read.parquet(s"$dir/$path")

  /** Writes generated rows as `$path/documents.parquet` or
    * `$path/embeddings.parquet` in `slices` files. */
  protected def writeDocs(docs: Seq[Gen.Doc], path: String, slices: Int = 1): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(docs, slices))
      .write.parquet(s"$dir/$path/documents.parquet")
  protected def writeVecs(vecs: Seq[Gen.Vec], path: String, slices: Int = 1): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, slices))
      .write.parquet(s"$dir/$path/embeddings.parquet")

  protected def hits(rows: Seq[Row]): Seq[Checks.Hit] = rows.map(r => Checks.Hit(
    r.getAs[Long]("hit_rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
    r.getAs[String]("prompt")))

  protected def ids(df: DataFrame, c: String = "doc_id"): Seq[Long] =
    df.select(col(c)).collect().map(_.getLong(0)).toSeq
}

object Workloads {
  val Names = Seq("rag_serve", "paper_pipeline")
  /** Corpus size of paper_pipeline: sf0.1's 5,000 docs and 2,000
    * vectors, regenerated with planted families. A run is budgeted at
    * about 45 s, and one cold pass at twice this size already took 23 s
    * (without curation) on 4 cores. */
  val AmpDocs = 5000
  val AmpVecs = 2000

  def apply(name: String, spark: SparkSession, dir: String, seed: Long): Workload = name match {
    case "rag_serve" => new RagServe(spark, dir, seed)
    case "paper_pipeline" => new PaperPipeline(spark, dir, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }
}

/** Reads with writes mixed in, on an sf0.1-sized corpus (5,000 docs,
  * 2,000 vectors). One closed-loop client repeats a cycle of two ops:
  * an upsert, then a search that must retrieve the document it planted.
  * Queries and batches come from the seed; the fixed 1:1 mix keeps the
  * share of writes equal in every run. */
final class RagServe(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  private val K = 5
  private val BaseDocs = 5000
  private var batches = Vector.empty[Gen.Batch]
  private var queries = Vector.empty[String]
  private var nAssign = 0
  private var corpusDocs = 0L
  private var nextBatch = 0
  private var plant: Option[(String, Long)] = None
  private val recalls = scala.collection.mutable.ArrayBuffer[Double]()

  override def cycle: Int = 2

  def setup(): Unit = {
    val base = Gen.baseDocs(seed, BaseDocs)
    val baseVecs = Gen.baseVectors(seed, 2000)
    // 96 + 1 + 1 added docs per batch: 5 batches grow the corpus by 9.8 %;
    // once they are used up, the upsert slot of a cycle is a search
    batches = Gen.batches(seed, base, baseVecs, 5, resent = 4, modified = 96, fresh = 1)
    queries = Gen.queries(seed, 256)
    corpusDocs = BaseDocs
    import spark.implicits._
    spark.createDataFrame(base).withColumn("batch", lit(0))
      .write.partitionBy("batch").parquet(s"$dir/corpus/documents.parquet")
    writeVecs(baseVecs, "base")
    batches.flatMap(b => b.docs.map(d => (b.id, d))).map { case (b, d) =>
      (b, d.doc_id, d.text, d.lang, d.source, d.n_chars)
    }.toDF("batch", "doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/upserts/documents.parquet")
    batches.flatMap(b => b.vectors.map(v => (b.id, v.vec_id, v.embedding, v.label)))
      .toDF("batch", "vec_id", "embedding", "label")
      .write.parquet(s"$dir/upserts/embeddings.parquet")

    val docs = Tables.documents(spark, s"$dir/corpus")
    val emb = Tables.embeddings(spark, s"$dir/base")
    save(CorpusOps.contentHash(docs), "state/hashes")
    val (cells, cent) = VectorOps.sqrtCellsWithK(emb, 2)
    save(cent, "state/codebook")
    nAssign = VectorOps.probePolicy(cells)._2
    save(VectorOps.cellRanks(emb, read("state/codebook"), "vec_id")
      .filter(col("cell_rank") <= nAssign), "state/ivf")
    save(SearchOps.bm25Index(docs), "state/bm25")
    save(DedupOps.lshBuckets(DedupOps.minhashSignatures(docs)), "state/lsh")
  }

  def op(i: Int, tr: Tracer): Op = plant match {
    case Some((token, id)) =>
      plant = None
      // one vocabulary word beside the token keeps >= k matching docs;
      // the planted doc still outscores every doc made of vocabulary
      search(s"$token ${queries(i % queries.size).split(' ').head}", Some(id), tr)
    case None if i % cycle == 0 && nextBatch < batches.size =>
      val b = batches(nextBatch)
      nextBatch += 1
      plant = Some(b.token -> b.planted.doc_id)
      upsert(b, tr)
    case None => search(queries(i % queries.size), None, tr) // batches used up
  }

  def recall: Double = if (recalls.isEmpty) 1.0 else recalls.sum / recalls.size

  private def search(q: String, planted: Option[Long], tr: Tracer): Op = {
    val docs = Tables.documents(spark, s"$dir/corpus")
    val flow = tr.build("SearchOps", "proposalFlow") { SearchOps.proposalFlow(docs, q, K) }
    val rows = tr.exec("SearchOps", "proposalFlow") { flow.collect().toSeq }
    Op("search", corpusDocs, () => {
      val h = hits(rows)
      Checks.search(h, K) ++ planted.toSeq.flatMap(Checks.readYourWrites(h, _))
    })
  }

  /** Each step's output is persisted, and read back by the steps and
    * batches after it, as an incremental index update would. */
  private def upsert(b: Gen.Batch, tr: Tracer): Op = {
    val tag = b.id + 1
    val incoming = Tables.documents(spark, s"$dir/upserts")
      .filter(col("batch") === b.id).drop("batch")
    val hashes = read("state/hashes")
    val changed = tr.build("CorpusOps", "incrementalAntiJoin") {
      CorpusOps.incrementalAntiJoin(incoming, hashes)
    }
    tr.exec("CorpusOps", "incrementalAntiJoin") {
      changed.drop("content_hash").withColumn("batch", lit(tag)).write.mode("append")
        .partitionBy("batch").parquet(s"$dir/corpus/documents.parquet")
    }
    val added = Tables.documents(spark, s"$dir/corpus")
      .filter(col("batch") === tag).drop("batch")
    val paras = tr.build("CorpusOps", "ingestPipeline") {
      CorpusOps.ingestPipeline(incoming, hashes)
    }
    tr.exec("CorpusOps", "ingestPipeline") { save(paras, "state/paragraphs", "append") }
    val newHashes = tr.build("CorpusOps", "contentHash") { CorpusOps.contentHash(added) }
    tr.exec("CorpusOps", "contentHash") { save(newHashes, "state/hashes", "append") }

    val vecs = Tables.embeddings(spark, s"$dir/upserts")
      .filter(col("batch") === b.id).drop("batch")
    val ranks = tr.build("VectorOps", "cellRanks") {
      VectorOps.cellRanks(vecs, read("state/codebook"), "vec_id")
    }
    tr.exec("VectorOps", "cellRanks") {
      save(ranks.filter(col("cell_rank") <= nAssign), "state/ivf", "append")
    }
    val postings = tr.build("SearchOps", "bm25Index") { SearchOps.bm25Index(added) }
    tr.exec("SearchOps", "bm25Index") { save(postings, "state/bm25", "append") }
    val lsh = read("state/lsh")
    val cand = tr.build("DedupOps", "incrementalCandidatesFromIndex") {
      DedupOps.incrementalCandidatesFromIndex(lsh, added)
    }
    tr.exec("DedupOps", "incrementalCandidatesFromIndex") {
      save(cand, s"state/candidates/batch=${b.id}")
    }
    val buckets = tr.build("DedupOps", "lshBuckets") {
      DedupOps.lshBuckets(DedupOps.minhashSignatures(added))
    }
    tr.exec("DedupOps", "lshBuckets") { save(buckets, "state/lsh", "append") }
    corpusDocs += b.added.size

    Op("upsert", b.docs.size, () => {
      val addedIds = b.added.map(_.doc_id)
      val (lo, hi) = (addedIds.min, addedIds.max)
      val inBatch = col("doc_id").between(lo, hi)
      val vecIds = b.vectors.map(_.vec_id)
      val pairs = read(s"state/candidates/batch=${b.id}").select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      recalls += Checks.pairRecall(pairs.toSet, b.origins.zip(b.modified.map(_.doc_id)))
      val paraIds = ids(read("state/paragraphs").filter(inBatch)).distinct
      Checks.sameIds(ids(added), addedIds, "incrementalAntiJoin") ++
        Checks.sameIds(ids(read("state/hashes").filter(inBatch)), addedIds, "contentHash") ++
        Option.when(!(b.fresh :+ b.planted).map(_.doc_id).forall(paraIds.contains) ||
          !paraIds.forall(addedIds.contains))("ingestPipeline paragraphs miss batch docs") ++
        Checks.cellRanks(read("state/ivf").filter(col("vec_id").isin(vecIds: _*))
          .select("vec_id", "cell_rank").collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq,
          vecIds, nAssign) ++
        Checks.sameIds(ids(read("state/bm25").filter(inBatch && col("tok") === "")),
          addedIds, "bm25Index") ++
        Checks.batchPairs(pairs, addedIds.toSet)
    })
  }
}

/** The paper's flow as one batch over a corpus with planted
  * near-duplicate families, each step's output persisted: near-dup
  * curation (dedupClusters; one doc per cluster goes on) → filter +
  * chunk → embed → keywords → IVF build → a fixed query batch (vector
  * queries through the IVF index, a text query through proposalFlow).
  * One op is one pass. */
final class PaperPipeline(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  private val K = 10
  private val TextK = 5
  private var textQuery = ""
  private var pairs = Vector.empty[(Long, Long)]
  private var exactPairs = Vector.empty[(Long, Long)]
  private val recalls, planted, useful = scala.collection.mutable.ArrayBuffer[Double]()

  def setup(): Unit = {
    val c = Gen.corpus(seed, Workloads.AmpDocs, Workloads.AmpVecs)
    writeDocs(c.docs, "amp", 8)
    writeVecs(c.vectors, "amp", 8)
    writeVecs(Gen.vectorQueries(seed, Gen.baseVectors(seed, 2000), 50), "queries")
    textQuery = Gen.queries(seed, 1).head
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    pairs = c.pairs
    exactPairs = c.pairs.filter { case (a, b) => text(a) == text(b) }
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def recall: Double = mean(recalls.toSeq)

  override def figures: Seq[(String, Double, String)] =
    Seq(("planted_dup_recall", mean(planted.toSeq), "ratio"))

  override def traced: Seq[(String, Double, String)] =
    Seq(("DedupOps.verified_per_candidate", mean(useful.toSeq), "ratio"))

  private def topK(rows: Seq[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id"))
    }

  def op(i: Int, tr: Tracer): Op = {
    val docs = Tables.documents(spark, s"$dir/amp")
    val clusters = tr.build("DedupOps", "dedupClusters") { DedupOps.dedupClusters(docs) }
    tr.exec("DedupOps", "dedupClusters") { save(clusters, "pass/clusters") }
    val curated = docs.join(read("pass/clusters").filter(col("doc_id") =!= col("component_id")),
      Seq("doc_id"), "left_anti")
    val kept = tr.build("CorpusOps", "filterSources") { CorpusOps.filterSources(curated) }
    val paras = tr.build("CorpusOps", "chunkParagraphs") { CorpusOps.chunkParagraphs(kept) }
    tr.exec("CorpusOps", "chunkParagraphs") { save(paras, "pass/paragraphs") }
    // paragraphs keyed like CorpusOps.ingestPipeline: doc_id * 1000 + para_idx
    val units = read("pass/paragraphs")
      .select((col("doc_id") * 1000 + col("para_idx")).as("doc_id"), col("para").as("text"))
    val sparse = tr.build("EmbedOps", "embedSparse") { EmbedOps.embedSparse(units) }
    tr.exec("EmbedOps", "embedSparse") { save(sparse, "pass/sparse") }
    val kw = tr.build("KeywordOps", "keywordTopN") { KeywordOps.keywordTopN(units) }
    tr.exec("KeywordOps", "keywordTopN") { save(kw, "pass/keywords") }

    val emb = Tables.embeddings(spark, s"$dir/amp")
    val (cells, cent) = tr.build("VectorOps", "sqrtCellsWithK") {
      VectorOps.sqrtCellsWithK(emb, 2)
    }
    tr.exec("VectorOps", "sqrtCellsWithK") { save(cent, "pass/codebook") }
    val (nProbe, nAssign) = VectorOps.probePolicy(cells)
    val ranks = tr.build("VectorOps", "cellRanks") {
      VectorOps.cellRanks(emb, read("pass/codebook"), "vec_id")
    }
    tr.exec("VectorOps", "cellRanks") {
      save(ranks.filter(col("cell_rank") <= nAssign).select("vec_id", "c_label"), "pass/ivf")
    }
    val top = tr.build("VectorOps", "ivfTopKFromIndex") {
      VectorOps.ivfTopKFromIndex(emb, Tables.embeddings(spark, s"$dir/queries"),
        read("pass/ivf"), read("pass/codebook"), nProbe, K)
    }
    val ivf = tr.exec("VectorOps", "ivfTopKFromIndex") { top.collect().toSeq }
    val flow = tr.build("SearchOps", "proposalFlow") {
      SearchOps.proposalFlow(curated, textQuery, TextK)
    }
    val answer = tr.exec("SearchOps", "proposalFlow") { flow.collect().toSeq }

    Op("pass", Workloads.AmpDocs, () => {
      // LSH useful / attempted: counted only when traced, inside this
      // check span, so its jobs stay out of the engine counters
      if (tr.on) useful += DedupOps.nearDupVerified(docs).count().toDouble /
        math.max(1L, DedupOps.minhashCandidates(docs).count())
      // IVF scored against the exact answer for the same queries
      val exact = VectorOps.annTopK(emb, Tables.embeddings(spark, s"$dir/queries"), K)
        .collect().toSeq
      val r = Checks.recallAtK(topK(ivf), topK(exact), K)
      recalls += r
      val label = read("pass/clusters").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id")).toMap
      planted += Checks.clusterRecall(label, pairs)
      Checks.atLeast(r, 0.8, "ivf recall@10") ++
        Checks.atLeast(Checks.clusterRecall(label, exactPairs), 1.0, "exact-copy cluster recall") ++
        Checks.atLeast(planted.last, 0.7, "planted pair cluster recall") ++
        Option.when(label.exists { case (d, c) => c > d })("a cluster label exceeds its doc id") ++
        Checks.search(hits(answer), TextK)
    })
  }
}
