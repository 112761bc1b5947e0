package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval on the benchmark's client thread. `kind` is
  * `op` (one workload operation, the root of its spans), `build` (time
  * inside a public engine call, including the eager jobs it runs),
  * `exec` (the benchmark's action that materializes that call's
  * result), or the benchmark's own `check` and `cleanup`. */
final case class Span(id: Int, op: Int, parent: Int, kind: String, module: String,
                      name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs, stages, tasks, runMs, gcMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
}

/** Records spans around each call into the engine and, through a
  * SparkListener and a QueryExecutionListener, the Spark work each span
  * caused. Jobs are tied to the span open when they were submitted via
  * a local property; stages and tasks follow their job.
  * Everything stays in memory until [[write]]. When `on` is false no
  * listener is installed and a span only runs its body. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var opId = -1
  private val counters = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, Double]()
  private val jobEnd = mutable.Map[Int, Double]()
  /** (phase, start ms, duration ms) of each executed plan's Catalyst phases. */
  private val phases = mutable.ArrayBuffer[(String, Double, Double)]()

  private def counter(span: Int) = counters.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toInt).getOrElse(-1)
      jobStart(e.jobId) = e.time.toDouble
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
      counter(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnd(e.jobId) = e.time.toDouble
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        counter(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = counter(stageSpan.getOrElse(e.stageId, -1))
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.durationMs.toDouble))
      }
    }
  }

  if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def span[T](kind: String, module: String, name: String)(body: => T): T =
    if (!on) body
    else {
      if (kind == "op") opId += 1
      val id = spans.size
      spans += null
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans(id) = Span(id, opId, parent, kind, module, name, t0, nowMs)
        open = open.tail
        sc.setLocalProperty(Tracer.Key, open.headOption.map(_.toString).orNull)
      }
    }

  def op[T](name: String)(body: => T): T = span("op", "bench", name)(body)
  def build[T](module: String, call: String)(body: => T): T = span("build", module, call)(body)
  def exec[T](module: String, call: String)(body: => T): T = span("exec", module, call)(body)
  def check[T](name: String)(body: => T): T = span("check", "bench", name)(body)
  def cleanup[T](body: => T): T = span("cleanup", "bench", "unpersist")(body)

  /** Waits for every listener event, then detaches the listeners. */
  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Milliseconds of [lo, hi) during which no Spark job was running. */
  private def idleMs(lo: Double, hi: Double): Double = {
    val busy = jobStart.toSeq.map { case (j, s) => (s max lo, jobEnd.getOrElse(j, hi) min hi) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var reach = lo
    busy.foreach { case (s, e) =>
      if (e > reach) { covered += e - (s max reach); reach = e }
    }
    (hi - lo) - covered
  }

  private def sum(ss: Iterable[Span]): Counters = {
    val t = new Counters
    ss.flatMap(s => counters.get(s.id)).foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks; t.runMs += c.runMs
      t.gcMs += c.gcMs; t.cpuNs += c.cpuNs; t.shuffleRead += c.shuffleRead
      t.shuffleWrite += c.shuffleWrite; t.spill += c.spill
    }
    t
  }

  private def all: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Per-layer metrics, each a per-operation mean (unit `…/op`) or a
    * ratio. `extra` holds the values measured outside the spans. */
  def metrics(cores: Int, extra: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val ss = all
    val nOps = math.max(1, ss.count(_.kind == "op")).toDouble
    def per(x: Double) = x / nOps
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val engine = ss.filter(s => s.kind == "build" || s.kind == "exec")
    val modules = Tracer.Modules.flatMap { m =>
      val mine = engine.filter(_.module == m)
      val (b, e) = mine.partition(_.kind == "build")
      val c = sum(mine)
      val wallMs = mine.map(_.ms).sum
      Seq(
        (s"$m.calls", per(b.size), "count/op"),
        (s"$m.build_s", per(b.map(_.ms).sum / 1e3), "s/op"),
        (s"$m.build_jobs", per(sum(b).jobs.toDouble), "count/op"),
        (s"$m.exec_s", per(e.map(_.ms).sum / 1e3), "s/op"),
        (s"$m.exec_jobs", per(sum(e).jobs.toDouble), "count/op"),
        (s"$m.tasks", per(c.tasks.toDouble), "count/op"),
        (s"$m.executor_run_s", per(c.runMs / 1e3), "s/op"),
        (s"$m.shuffle_write_bytes", per(c.shuffleWrite.toDouble), "B/op"),
        (s"$m.utilization", ratio(c.runMs.toDouble, wallMs * cores), "ratio"),
        (s"$m.driver_gap_s", per(mine.map(s => idleMs(s.startMs, s.endMs)).sum / 1e3), "s/op"))
    }
    // Catalyst phases of plans executed inside engine spans, by start time
    val inEngine = phases.filter { case (_, t, _) =>
      engine.exists(s => t >= s.startMs - 1 && t <= s.endMs + 1)
    }
    def phase(p: String) = per(inEngine.filter(_._1 == p).map(_._3).sum / 1e3)
    val c = sum(engine)
    val engineWallMs = engine.map(_.ms).sum
    val opWallMs = ss.filter(_.kind == "op").map(_.ms).sum
    val coveredMs = ss.filter(s => s.parent >= 0 && spans(s.parent).kind == "op").map(_.ms).sum
    modules ++ Seq(
      ("catalyst.analysis_s", phase("analysis"), "s/op"),
      ("catalyst.optimization_s", phase("optimization"), "s/op"),
      ("catalyst.planning_s", phase("planning"), "s/op"),
      ("scheduler.jobs", per(c.jobs.toDouble), "count/op"),
      ("scheduler.stages", per(c.stages.toDouble), "count/op"),
      ("scheduler.tasks", per(c.tasks.toDouble), "count/op"),
      ("scheduler.tasks_per_job", ratio(c.tasks.toDouble, c.jobs.toDouble), "ratio"),
      ("executor.run_s", per(c.runMs / 1e3), "s/op"),
      ("executor.cpu_s", per(c.cpuNs / 1e9), "s/op"),
      ("executor.gc_s", per(c.gcMs / 1e3), "s/op"),
      ("executor.shuffle_read_bytes", per(c.shuffleRead.toDouble), "B/op"),
      ("executor.shuffle_write_bytes", per(c.shuffleWrite.toDouble), "B/op"),
      ("executor.spill_bytes", per(c.spill.toDouble), "B/op"),
      ("executor.utilization", ratio(c.runMs.toDouble, engineWallMs * cores), "ratio"),
      ("storage.unpersist_s", per(ss.filter(_.kind == "cleanup").map(_.ms).sum / 1e3), "s/op"),
      ("bench.check_s", per(ss.filter(_.kind == "check").map(_.ms).sum / 1e3), "s/op"),
      // op wall time that no child span covers: the benchmark's own glue
      ("bench.uncovered_frac", ratio(opWallMs - coveredMs, opWallMs), "ratio"),
    ) ++ extra
  }

  /** Writes every span, with the Spark work attributed to it, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      f"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"kind":"${s.kind}",""" +
        f""""module":"${s.module}","name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""executor_run_ms":${c.runMs},"shuffle_write_bytes":${c.shuffleWrite},""" +
        f""""driver_gap_ms":${idleMs(s.startMs, s.endMs)}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "perfbench.span"
  val Modules = Seq("CorpusOps", "EmbedOps", "KeywordOps", "SearchOps", "VectorOps", "DedupOps")
}
