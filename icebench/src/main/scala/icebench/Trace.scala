package icebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a request (one op), a layer call inside it, or a
  * Spark job inside a layer call. `parent` is the enclosing span's name.
  */
final case class Span(
    level: String, name: String, parent: String, request: String,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

final case class JobRec(
    id: Int, request: String, layer: String, startMs: Long, stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

final case class StageRec(
    tasks: Int, shuffleBytes: Long, spillBytes: Long, gcMs: Long)

/** Records every job and completed stage of the session. Jobs are tagged
  * with the job group (the op's request id) and the layer property set by
  * [[Tracer.layer]], both read from the job's local properties.
  */
final class JobLog extends SparkListener {
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stagesById = mutable.Map.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobsById(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop(Tracer.LayerKey), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val rec = if (m == null) StageRec(i.numTasks, 0L, 0L, 0L)
      else StageRec(i.numTasks,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
    // a retried stage attempt adds its tasks to the first attempt's
    val prev = stagesById.get(i.stageId)
    stagesById(i.stageId) = prev.fold(rec)(p => StageRec(p.tasks + rec.tasks,
      p.shuffleBytes + rec.shuffleBytes, p.spillBytes + rec.spillBytes,
      p.gcMs + rec.gcMs))
  }

  def jobs: Seq[JobRec] = synchronized(jobsById.values.toList)

  /** Stages of `js` that ran (skipped, reused stages never complete). */
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stagesById.get)
  }
}

/** Spans around requests and layer calls. Disabled, every method is a plain
  * call of its body. Enabled, the job listener is attached for the length
  * of each request only, and the bus is drained before the request ends,
  * so untraced ops in between run with no listener at all.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val log: Option[JobLog] = if (enabled) Some(new JobLog) else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var requestId = ""
  private var requestName = ""

  private def nowMs: Double = System.nanoTime() / 1e6
  private def wallMs: Double = System.currentTimeMillis().toDouble

  def request[A](name: String, id: String)(body: => A): A =
    if (!enabled) body
    else {
      log.foreach(sc.addSparkListener)
      sc.setJobGroup(id, name)
      requestId = id; requestName = name
      val (w0, t0) = (wallMs, nowMs)
      try body
      finally {
        spans += Span("request", name, "", id, w0, w0 + nowMs - t0)
        sc.clearJobGroup()
        requestId = ""; requestName = ""
        org.apache.spark.IcebenchBridge.drainListenerBus(sc)
        log.foreach(sc.removeSparkListener)
      }
    }

  def layer[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      sc.setLocalProperty(Tracer.LayerKey, name)
      val (w0, t0) = (wallMs, nowMs)
      try body
      finally {
        spans += Span("layer", name, requestName, requestId, w0, w0 + nowMs - t0)
        sc.setLocalProperty(Tracer.LayerKey, null)
      }
    }

  def allSpans: Seq[Span] = spans.toList

  def layerSpans(name: String): Seq[Span] =
    spans.filter(s => s.level == "layer" && s.name == name).toList

  def jobs(request: String, layer: String = null): Seq[JobRec] =
    log.fold(Seq.empty[JobRec])(_.jobs.filter(j =>
      j.request == request && (layer == null || j.layer == layer)))

  def stages(js: Seq[JobRec]): Seq[StageRec] =
    log.fold(Seq.empty[StageRec])(_.stagesOf(js))

  /** Job spans, third level under their layer (or request) span. */
  def jobSpans: Seq[Span] = log.fold(Seq.empty[Span])(_.jobs.collect {
    case j if j.request.nonEmpty && j.endMs >= 0 =>
      Span("job", s"job-${j.id}", if (j.layer.nonEmpty) j.layer else "request",
        j.request, j.startMs.toDouble, j.endMs.toDouble)
  })

  /** Seconds per span name not covered by its child spans (self time):
    * a request's self time is its wall time outside every layer call.
    */
  def selfSeconds: Map[String, Double] = {
    val layers = spans.filter(_.level == "layer")
    val byRequest = layers.groupBy(_.request)
    val reqSelf = spans.filter(_.level == "request").map { r =>
      r.name -> (r.seconds - byRequest.getOrElse(r.request, Nil).map(_.seconds).sum)
    }
    (reqSelf.map { case (n, s) => s"request:$n" -> s } ++
      layers.map(l => s"layer:${l.name}" -> l.seconds))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }
}

object Tracer {
  val LayerKey = "icebench.layer"
}
