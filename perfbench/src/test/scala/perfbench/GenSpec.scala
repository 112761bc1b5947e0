package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  /** Generates every input of every workload under a fresh directory. */
  private def generate(seed: Long): Path = {
    val dir = Files.createTempDirectory("perfbench-gen")
    Workloads.Names.foreach { n =>
      val w = Workloads(n, spark, dir.resolve(n).toString, seed)
      w.setup()
    }
    dir
  }

  /** Every generated input file (not the base state built from them),
    * keyed by its path with the writer's random file id removed. */
  private def inputs(dir: Path): Map[String, Seq[Byte]] = {
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    files.map(dir.relativize(_).toString)
      .filter(p => Seq("/amp/", "/queries/", "/upserts/", "/base/", "/corpus/")
        .exists(p.contains))
      .filter(_.endsWith(".parquet"))
      .map(p => p.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "") -> Files.readAllBytes(dir.resolve(p)).toSeq)
      .toMap
  }

  test("one seed gives identical input files; another seed gives different ones") {
    val a = inputs(generate(7))
    val b = inputs(generate(7))
    val c = inputs(generate(8))
    assert(a.size >= 10, a.keys.toSeq.sorted.mkString(", "))
    assert(a.keySet == b.keySet)
    a.foreach { case (p, bytes) => assert(b(p) == bytes, s"$p differs between two runs") }
    assert(a.exists { case (p, bytes) => c.get(p).exists(_ != bytes) })
  }

  test("every planted family member meets the stated 3-shingle Jaccard") {
    val corpus = Gen.corpus(3, 20000, 10)
    val text = corpus.docs.map(d => d.doc_id -> d.text).toMap
    assert(corpus.pairs.size > 200)
    corpus.pairs.foreach { case (s, m) =>
      assert(Gen.jaccard(text(s), text(m)) >= Gen.PlantedJaccard, s"member $m of $s")
    }
    assert(corpus.pairs.exists { case (s, m) => text(s) == text(m) }) // exact copies too
    assert(corpus.pairs.exists { case (s, m) => text(s) != text(m) })
  }

  test("upsert batches: edits meet the Jaccard, plants are unique and alone") {
    val base = Gen.baseDocs(5, 5000)
    val byId = base.map(d => d.doc_id -> d.text).toMap
    val batches = Gen.batches(5, base, Gen.baseVectors(5, 2000), 5, 4, 96, 1)
    batches.foreach { b =>
      b.origins.zip(b.modified).foreach { case (o, m) =>
        assert(m.text != byId(o))
        assert(Gen.jaccard(byId(o), m.text) >= Gen.PlantedJaccard)
      }
      assert(b.planted.text.split(" ").toSet == Set(b.token))
      assert(!Gen.Vocab.contains(b.token))
    }
    assert(batches.map(_.token).distinct.size == batches.size)
    assert(batches.flatMap(_.added).map(_.doc_id).distinct.size == batches.map(_.added.size).sum)
  }

  test("the shingle contract matches DedupOps.wordShingles") {
    val docs = Seq(Gen.Doc(1, "a  b c d ", "en", "s", 9), Gen.Doc(2, "x y", "en", "s", 3))
    val engine = graft.ops.DedupOps.wordShingles(spark.createDataFrame(docs))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("shingle")).toSet
    val mine = docs.flatMap(d => Gen.shingles(d.text).map(d.doc_id -> _)).toSet
    assert(mine == engine)
  }
}
