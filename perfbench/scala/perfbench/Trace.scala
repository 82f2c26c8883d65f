package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One completed stage, as the listener saw it. `group` is the job group of
  * the job that first submitted the stage (a span id in the warm harness);
  * `details` is the long call site that reaches program code: the stage's
  * own, or else that of the SQL execution that ran it (adaptive execution
  * submits stages from a pool thread whose stack holds no program frame). */
final case class StageFact(stageId: Int, jobId: Int, group: String, details: String,
                           submitMs: Long, endMs: Long, shuffleWriteBytes: Long,
                           spillBytes: Long, taskMs: Vector[Long])

/** Benchmark-owned listener: keeps stage facts in memory, nothing else.
  * Installed with `sc.addSparkListener` by the warm harness, or through the
  * `spark.extraListeners` system property for an unmodified CLI process, in
  * which case it writes its facts to `-Dperfbench.trace.out` when the
  * application ends. */
class SpanListener extends SparkListener {
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val execOfJob = mutable.Map.empty[Int, Long]
  private val execDetails = mutable.Map.empty[Long, String]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[StageFact]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    groupOfJob(e.jobId) = g.getOrElse("")
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execOfJob(e.jobId) = x.toLong)
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execDetails(x.executionId) = x.details
      execRoot(x.executionId) = x.rootExecutionId.getOrElse(x.executionId)
    }
    case _ =>
  }

  private def programDetails(stageDetails: String, job: Int): String = {
    val exec = execOfJob.get(job)
    val candidates = Seq(Option(stageDetails), exec.flatMap(execDetails.get),
      exec.flatMap(execRoot.get).flatMap(execDetails.get)).flatten
    candidates.find(_.linesIterator.exists(_.trim.startsWith("graft.")))
      .getOrElse(Option(stageDetails).getOrElse(""))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val job = jobOfStage.getOrElse(si.stageId, -1)
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    done += StageFact(si.stageId, job, groupOfJob.getOrElse(job, ""), programDetails(si.details, job),
      si.submissionTime.getOrElse(end), end,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      taskMs.remove((si.stageId, si.attemptNumber())).map(_.toVector).getOrElse(Vector.empty))
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Option(System.getProperty("perfbench.trace.out")).foreach { path =>
      val lines = stages().map { s =>
        Json.obj("stage" -> s.stageId, "job" -> s.jobId, "submit_ms" -> s.submitMs,
          "end_ms" -> s.endMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "spill_bytes" -> s.spillBytes, "task_ms" -> s.taskMs,
          "layer" -> CliLayers.attribute(s.details),
          "call_site" -> Option(s.details).getOrElse("").linesIterator.take(12).mkString(" | "))
      }
      Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

  def stages(): Vector[StageFact] = synchronized(done.toVector)
}

/** Records when the session became ready in an unmodified CLI process:
  * installed through `spark.extraListeners`, it writes the epoch millisecond
  * of the application start (the end of `SparkContext` set-up) to
  * `-Dperfbench.ready.out`. It handles no other event. */
class ReadyListener extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    Option(System.getProperty("perfbench.ready.out")).foreach { path =>
      Files.write(Paths.get(path), e.time.toString.getBytes(StandardCharsets.UTF_8))
    }
}

/** Attribution of CLI stages to layers by the first `graft.*` frame of the
  * stage's call site that belongs to a named layer; shared helpers such as
  * `graft.core.Ranking` are looked through, so their stages count for the
  * layer that called them. */
object CliLayers {
  val layers: Seq[(String, String)] = Seq(
    "graft.sources.EdgeTableSource" -> "sources.EdgeTableSource",
    "graft.ingest.Dictionary" -> "ingest.Dictionary",
    "graft.graph.ConnectedComponents" -> "graph.ConnectedComponents",
    "graft.cluster.Shaping" -> "cluster.Shaping",
    "graft.sources.AssignmentsSink" -> "sources.AssignmentsSink")

  def attribute(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim).flatMap { frame =>
      layers.collectFirst { case (cls, name) if frame.startsWith(cls + "$") || frame.startsWith(cls + ".") => name }
    }.nextOption().getOrElse("Main")
}

/** One span: a benchmark-side call into a layer, run under its own job group
  * so the listener's stages can be assigned to it afterwards. `parent` is
  * the timed job the call belongs to; `run` identifies the process. */
final case class Span(id: String, name: String, parent: String, run: String,
                      startMs: Long, endMs: Long, wallS: Double,
                      pinnedMb: Double, extra: Map[String, Double])

/** In-memory span recorder; spans are reduced to counters only when the
  * benchmark ends. A disabled recorder runs the body with no job group. */
final class Spans(sc: SparkContext, val enabled: Boolean, run: String = "") {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var seq = 0
  /** The job that the next spans belong to. */
  var job: String = ""

  private def storageBytes(): Map[Int, Long] =
    sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap

  /** Times `body`, which must force its own work. `extra` adds span-specific
    * counters computed from the body's result and wall seconds. */
  def apply[T](name: String)(body: => T)
              (extra: (T, Double) => Map[String, Double] = (_: T, _: Double) => Map.empty[String, Double])
      : (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    seq += 1
    val id = s"span-$seq"
    val before = storageBytes()
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val pinned = storageBytes().iterator.collect {
      case (rdd, bytes) if !before.contains(rdd) => bytes
    }.sum / 1048576.0
    recorded += Span(id, name, job, run, startMs, endMs, wall, pinned, extra(r, wall))
    (r, wall)
  }

  def spans: Vector[Span] = recorded.toVector
}

/** Span counters from the listener's stage facts (see perfbench/README.md). */
object Counters {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Worst stage skew: max / median task run time over stages with at
    * least two tasks (1 when no stage qualifies). */
  def skew(stages: Seq[StageFact]): Double =
    stages.filter(_.taskMs.size >= 2).map { s =>
      s.taskMs.max.toDouble / math.max(median(s.taskMs.map(_.toDouble)), 1.0)
    }.maxOption.getOrElse(1.0)

  /** The common counters of a span whose stages are `st`, over `[startMs,
    * endMs]` and `wallS` seconds, on `cores` task slots. */
  def common(st: Seq[StageFact], startMs: Long, endMs: Long, wallS: Double,
             cores: Int): Map[String, Double] = {
    val inSpan = st.map(s => (math.max(s.submitMs, startMs), math.min(s.endMs, endMs)))
    val stageS = covered(inSpan.filter { case (a, b) => b > a }) / 1000.0
    Map(
      "s" -> wallS,
      "jobs" -> st.map(_.jobId).distinct.size.toDouble,
      "shuffle_mb" -> st.map(_.shuffleWriteBytes).sum / 1048576.0,
      "spill_mb" -> st.map(_.spillBytes).sum / 1048576.0,
      "skew" -> skew(st),
      "driver_s" -> math.max(wallS - stageS, 0.0),
      "busy_frac" -> (if (wallS > 0) st.flatMap(_.taskMs).sum / 1000.0 / (wallS * cores) else 0.0))
  }

  /** Per span name: the median over runs of every counter. */
  def reduce(spans: Seq[Span], stages: Seq[StageFact], cores: Int): Map[String, Double] = {
    val byGroup = stages.groupBy(_.group)
    spans.groupBy(_.name).toSeq.flatMap { case (name, ss) =>
      val perRun = ss.map { sp =>
        common(byGroup.getOrElse(sp.id, Nil), sp.startMs, sp.endMs, sp.wallS, cores) ++
          Map("pinned_mb" -> sp.pinnedMb) ++ sp.extra
      }
      perRun.flatMap(_.keys).distinct.map(k => s"$name.$k" -> median(perRun.flatMap(_.get(k))))
    }.toMap
  }
}

/** JSON through the Jackson build in the Spark jars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(kv.toMap)

  /** A flat JSON object, every value as its string form. */
  def readFlat(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Object]])
      .asScala.map { case (k, v) => k -> String.valueOf(v) }.toMap
  }
}
