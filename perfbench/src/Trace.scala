package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans and per-layer counters of one traced run.
  *
  * Spans come from the benchmark's own code (run, setup, fixture, pass, op,
  * construct, exec); Spark jobs become child spans of the construct or exec
  * span that was open when they started, found through local properties the
  * benchmark sets on the driver thread (they are inherited by the threads a
  * query function starts). Every span carries the run's id; spans are
  * written out once, when the run ends, with their self time (duration
  * minus the part covered by child spans).
  *
  * When tracing is off nothing is recorded and no listener or appender is
  * attached.
  */
final class Trace(clock: Clock, enabled: Boolean, runId: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val warns = mutable.Map.empty[(String, String, Int), Int]
  private val dummy = Span(-1, None, "", "", 0.0)
  private var listening: Option[SparkSession] = None
  private var appender: Option[WarnAppender] = None

  /** Op that is running now; warnings logged meanwhile are charged to it. */
  @volatile var currentOp = ""
  /** Pass that is running now (check passes included). */
  @volatile var currentPass = -1
  /** Indices of the timed passes, in order. */
  val passes = mutable.ArrayBuffer.empty[Int]
  /** Hadoop local-filesystem bytes written during each timed pass. */
  val passBytesWritten = mutable.Map.empty[Int, Long]

  def open(kind: String, name: String, parent: Option[Span],
      startMs: Double = clock.nowMs()): Span =
    if (!enabled) dummy
    else synchronized {
      val s = Span(spans.size, parent.map(_.id), kind, name, startMs)
      spans += s
      s
    }

  def close(s: Span): Unit = if (enabled && s.id >= 0) s.endMs = clock.nowMs()

  /** Tag the Spark jobs the driver thread starts from now on. */
  def tag(spark: SparkSession, group: String, phase: String, span: Span): Unit =
    if (enabled) {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group, interruptOnCancel = false)
      sc.setLocalProperty(PhaseKey, phase)
      sc.setLocalProperty(SpanKey, span.id.toString)
    }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new Listener)
    listening = Some(spark)
    val app = new WarnAppender(this)
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    appender = Some(app)
  }

  private[perfbench] def warn(message: String): Unit = {
    val kind =
      if (message.contains("Broadcasting large task binary")) "large_task_binary"
      else if (message.contains("No Partition Defined for Window operation")) "single_partition_window"
      else ""
    if (kind.nonEmpty) synchronized {
      val k = (currentOp, kind, currentPass)
      warns(k) = warns.getOrElse(k, 0) + 1
    }
  }

  private def warnCount(op: String, kind: String, pass: Int): Int =
    synchronized(warns.getOrElse((op, kind, pass), 0))

  /** Wait for the listener bus, then detach the appender. */
  def drain(): Unit = {
    listening.foreach(s => org.apache.spark.PerfbenchBus.drain(s.sparkContext))
    appender.foreach { a =>
      val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.removeAppender(a.getName)
      ctx.updateLoggers()
    }
    appender = None
  }

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val group = prop("spark.jobGroup.id")
      val rec = JobRec(e.jobId, group, prop(PhaseKey),
        scala.util.Try(prop(SpanKey).toInt).getOrElse(-1), e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val id = e.stageInfo.stageId
      stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageJob.get(id).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val info = e.taskInfo
        stageSubmitMs.get(e.stageId).foreach(s => j.waitMs += math.max(0L, info.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def passOf(group: String): Option[(String, Int)] = group.split(":") match {
    case Array("op", name, pass) => scala.util.Try(name -> pass.toInt).toOption
    case _ => None
  }

  /** Per-layer metrics: for each timed pass a value, then the median over
    * passes. `opTimes` are the timed ops; `modules` maps op to module. */
  def layerMetrics(opTimes: Seq[Runner.OpTime], modules: Map[String, String],
      ingestRows: Option[Int => Long], ingestBytes: Option[Int => Long])
      : Seq[(String, Double)] = {
    drain()
    val byPass = passes.toSeq
    val jobsByPass: Map[Int, Seq[(String, JobRec)]] = synchronized {
      jobs.values.toSeq.flatMap(j => passOf(j.group).map { case (n, p) => (p, (n, j)) })
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2) }
    }
    val opSpans: Map[(String, Int), Span] = synchronized {
      spans.filter(_.kind == "op").flatMap { s =>
        s.parent.map(spans(_)).collect { case ps if ps.kind == "pass" =>
          (s.name, ps.name.stripPrefix("pass").toInt) -> s }
      }.toMap
    }
    def med(f: Int => Double): Double = Stats.median(byPass.map(f))
    def js(p: Int): Seq[(String, JobRec)] = jobsByPass.getOrElse(p, Nil)
    def sumJ(p: Int)(f: JobRec => Double): Double = js(p).map(x => f(x._2)).sum
    def opsIn(p: Int) = opTimes.filter(_.pass == p)
    val mb = 1e6

    val outside = (p: Int) => opsIn(p).map { o =>
      val covered = opSpans.get((o.name, p)).map { s =>
        unionMs(js(p).collect { case (n, j) if n == o.name =>
          (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)) })
      }.getOrElse(0.0)
      math.max(0.0, o.wallS - covered / 1e3)
    }.sum

    val out = mutable.LinkedHashMap.empty[String, Double]
    out("construct.s") = med(p => opsIn(p).map(_.constructS).sum)
    out("construct.jobs") = med(p => js(p).count(_._2.phase == "construct").toDouble)
    out("exec.s") = med(p => opsIn(p).map(_.execS).sum)
    out("driver.outside_jobs_s") = med(outside)
    out("spark.jobs") = med(p => js(p).size.toDouble)
    out("spark.stages") = med(p => sumJ(p)(_.stages.toDouble))
    out("spark.tasks") = med(p => sumJ(p)(_.tasks.toDouble))
    out("spark.task_wait_s") = med(p => sumJ(p)(_.waitMs / 1e3))
    out("spark.task_s") = med(p => sumJ(p)(_.taskMs / 1e3))
    out("spark.task_cpu_s") = med(p => sumJ(p)(_.cpuNs / 1e9))
    out("spark.gc_s") = med(p => sumJ(p)(_.gcMs / 1e3))
    out("spark.shuffle_read_mb") = med(p => sumJ(p)(_.shuffleRead / mb))
    out("spark.shuffle_write_mb") = med(p => sumJ(p)(_.shuffleWrite / mb))
    out("spark.spill_mb") = med(p => sumJ(p)(_.spill / mb))
    out("spark.input_mb") = med(p => sumJ(p)(_.input / mb))
    out("spark.output_mb") = med(p => sumJ(p)(_.output / mb))
    def stepS(p: Int, step: String) = opsIn(p).filter(_.name == step).map(_.wallS).sum
    out("etl.ingest_s") = med(stepS(_, "etl_land_month"))
    out("etl.rows_per_s") = ingestRows.fold(0.0)(rows => med { p =>
      val s = stepS(p, "etl_land_month"); if (s > 0) rows(p) / s else 0.0 })
    out("qc.check_s") = med(stepS(_, "qc_checks"))
    out("qc.jobs") = med(p => js(p).count(_._1 == "qc_checks").toDouble)
    out("write_amp") = ingestBytes.fold(0.0)(in => med { p =>
      val b = in(p); if (b > 0) passBytesWritten.getOrElse(p, 0L).toDouble / b else 0.0 })
    WarnKinds.foreach { k =>
      out(s"spark.warn.$k") = med(p => opsIn(p).map(o => warnCount(o.name, k, p).toDouble).sum)
    }
    modules.values.toSeq.distinct.sorted.foreach { m =>
      val mine = (p: Int) => opsIn(p).filter(o => modules.get(o.name).contains(m))
      out(s"$m.construct_s") = med(p => mine(p).map(_.constructS).sum)
      out(s"$m.exec_s") = med(p => mine(p).map(_.execS).sum)
      out(s"$m.jobs") = med(p => js(p).count(x => modules.get(x._1).contains(m)).toDouble)
    }
    out.toSeq
  }

  /** Spans as JSON lines, jobs included as children, with self time. */
  def writeSpans(path: Path): Unit = synchronized {
    drain()
    val all = spans.toSeq ++ jobs.values.toSeq.sortBy(_.id).map { j =>
      val s = Span(spans.size + j.id, if (j.spanId >= 0) Some(j.spanId) else None,
        "job", s"job${j.id}", j.startMs.toDouble)
      s.endMs = j.endMs.toDouble
      s.attrs ++= Seq("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
        "task_s" -> j.taskMs / 1e3, "task_cpu_s" -> j.cpuNs / 1e9,
        "shuffle_read_mb" -> j.shuffleRead / 1e6, "shuffle_write_mb" -> j.shuffleWrite / 1e6)
      s.group = j.group
      s
    }
    // op spans carry the warnings charged to them
    all.filter(_.kind == "op").foreach { s =>
      s.parent.map(spans(_)).filter(_.kind == "pass").foreach { ps =>
        val pass = ps.name.stripPrefix("pass").toInt
        WarnKinds.foreach { k =>
          val n = warnCount(s.name, k, pass)
          if (n > 0) s.attrs(s"warn.$k") = n.toDouble
        }
      }
    }
    val children = all.groupBy(_.parent)
    val lines = all.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      val dur = s.endMs - s.startMs
      val self = dur - unionMs(kids)
      Json.obj(Seq(
        "trace_id" -> Json.str(runId), "span_id" -> Json.num(s.id),
        "parent_id" -> s.parent.map(i => Json.num(i)).getOrElse("null"),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "dur_ms" -> Json.num(dur), "self_ms" -> Json.num(self)) ++
        (if (s.group.nonEmpty) Seq("job_group" -> Json.str(s.group)) else Nil) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
  val WarnKinds = Seq("large_task_binary", "single_partition_window")

  final case class Span(id: Int, parent: Option[Int], kind: String, name: String,
      startMs: Double) {
    var endMs: Double = startMs
    var group: String = ""
    val attrs: mutable.Map[String, Double] = mutable.Map.empty
  }

  final case class JobRec(id: Int, group: String, phase: String, spanId: Int, startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks = 0
    var waitMs, taskMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output = 0L
  }

  /** Length of the union of [start, end] intervals (empty ones ignored). */
  def unionMs(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS, curE = Double.NaN
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Counts the two Spark warnings the benchmark attributes to ops. */
final class WarnAppender(trace: Trace)
    extends AbstractAppender("perfbench-warn-counter", null, null, true, Property.EMPTY_ARRAY) {
  override def append(e: LogEvent): Unit = trace.warn(e.getMessage.getFormattedMessage)
}
