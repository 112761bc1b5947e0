package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics; the last stdout line is
  * one JSON object. Usage:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * trace 0: three set-ups (each a fresh Spark session, warm-up, input
  * generation and base-state build; `setup_s` is their median), then
  * the workload's closed loop for `seconds`, timed with tracing off.
  *
  * trace 1: one set-up, then four loops of a quarter of the time each:
  * a warm-up, untraced, traced, untraced. The traced loop gives the
  * per-layer metrics. `bench.trace_overhead_frac` compares it with the
  * mean of the untraced loops on either side, so the JVM's continued
  * warming cancels out. */
object Main {
  final case class Result(kind: String, seconds: Double, docs: Long, problems: Seq[String],
                          leftover: Int)

  private val cores = Runtime.getRuntime.availableProcessors

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    require(Workloads.Names.contains(name), s"unknown workload $name")

    val metrics =
      if (!traced) {
        val setups = (1 to 3).map(_ => setup(name, seed, work))
        val (spark, w, _) = setups.last
        val rs = loop(w, new Tracer(spark, on = false), seconds)
        val ok = rs.filter(_.problems.isEmpty)
        report(name, seed, rs, w)
        Seq(
          ("setup_s", median(setups.map(_._3)), "s"),
          ("op_p50_s", median(ok.map(_.seconds)), "s"),
          ("docs_per_s", ok.map(_.docs).sum / ok.map(_.seconds).sum, "docs/s"),
          ("recall", w.recall, "ratio")) -> rs
      } else {
        val (spark, w, _) = setup(name, seed, work)
        def plain() = loop(w, new Tracer(spark, on = false), seconds / 4)
        val before = { plain(); plain() }
        val tr = new Tracer(spark, on = true)
        val rs = loop(w, tr, seconds / 4)
        tr.stop()
        val after = plain()
        tr.write(work.resolve(s"trace-$name-$seed.jsonl"))
        report(name, seed, rs, w)
        val n = Seq(before.size, rs.size, after.size).min
        def total(xs: Seq[Result]) = xs.take(n).map(_.seconds).sum
        val overhead = total(rs) / ((total(before) + total(after)) / 2) - 1
        tr.metrics(cores, Seq(
          ("storage.persisted_rdds_left", rs.map(_.leftover).sum.toDouble / rs.size, "count/op"),
          ("bench.trace_overhead_frac", overhead, "ratio")) ++ w.traced) -> rs
      }
    val (ms, rs) = metrics
    SparkSession.getActiveSession.foreach(_.stop())
    // no op succeeded: there is no time to report, and no result at all
    // is safer than a number that could read as fast
    ms.find { case (_, v, _) => v.isNaN || v.isInfinite }.foreach { case (k, v, _) =>
      System.err.println(s"[perfbench] $k is $v: every op failed")
      sys.exit(1)
    }
    val failed = rs.count(_.problems.nonEmpty)
    val body = ms.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${rs.size}, """ +
      s""""failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Highest of p50/p75/p90/p95/p99 with at least ten samples above it. */
  private def tail(xs: Seq[Double]): Option[(String, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size - math.ceil(s.size * p / 100.0) >= 10)
      .map(p => s"p$p" -> s(math.ceil(s.size * p / 100.0).toInt - 1))
  }

  /** A fresh session, warm-up, inputs and base state; returns its time. */
  private def setup(name: String, seed: Long, work: Path): (SparkSession, Workload, Double) = {
    val t0 = System.nanoTime()
    SparkSession.getActiveSession.foreach { s =>
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val data = work.resolve("data")
    deleteTree(data)
    val spark = session(work)
    // JIT, codegen and parquet paths warm before the first timed op
    spark.range(1000000).selectExpr("sum(id)").collect()
    val w = Workloads(name, spark, data.toString, seed)
    val t1 = System.nanoTime()
    w.setup()
    System.err.println(f"[perfbench] setup ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(session and warm-up ${(t1 - t0) / 1e9}%.3f s)")
    (spark, w, (System.nanoTime() - t0) / 1e9)
  }

  /** The engine's own session settings (as graft.Bench builds them). */
  private def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** The closed loop: one op at a time until `seconds` have passed and
    * a cycle is complete (at least one). After each op its check runs, then leftover
    * persisted RDDs are counted and unpersisted, as graft.Bench does
    * between queries. */
  private def loop(w: Workload, tr: Tracer, seconds: Double): Seq[Result] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Result]
    var i = 0
    while (i % w.cycle != 0 || i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = System.nanoTime()
      val op = try Right(tr.op(s"op$i")(w.op(i, tr))) catch { case e: Exception => Left(e) }
      val secs = (System.nanoTime() - s) / 1e9
      val problems = op match {
        case Right(o) =>
          try tr.check(o.kind)(o.check()) catch { case e: Exception => Seq(s"check threw $e") }
        case Left(e) => Seq(s"op threw $e")
      }
      problems.foreach(p => System.err.println(s"[perfbench] op $i failed: $p"))
      System.err.println(f"[perfbench] op $i ${op.fold(_ => "error", _.kind)} $secs%.3f s")
      val sc = w.spark.sparkContext
      val leftover = sc.getPersistentRDDs.size
      tr.cleanup { sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false)) }
      out += Result(op.fold(_ => "error", _.kind), secs, op.fold(_ => 0L, _.docs), problems,
        leftover)
      i += 1
    }
    out.result()
  }

  /** Human-readable per-kind figures, including the tails, on stdout. */
  private def report(name: String, seed: Long, rs: Seq[Result], w: Workload): Unit = {
    val failed = rs.count(_.problems.nonEmpty)
    val figures = (("failed_ops_frac", failed.toDouble / rs.size, "ratio") +: w.figures :+
      ("peak_rss_mb", peakRssMb(), "MB")).map { case (k, v, u) => f"$k $v%.4f $u" }
    println(s"[perfbench] $name seed $seed: ${rs.size} ops, $failed failed, " +
      figures.mkString(", "))
    rs.filter(_.problems.isEmpty).groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val t = xs.map(_.seconds)
      val tl = tail(t).fold("no tail: fewer than 11 samples")(p => f"${p._1} ${p._2}%.4f s")
      println(f"[perfbench]   ${k}_p50_s ${median(t)}%.4f s, $tl (n=${t.size})")
    }
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
    try all.forEach(f => Files.delete(f)) finally all.close()
  }
}
