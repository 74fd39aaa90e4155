package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call: `parent` is the index of the enclosing span, -1 at the root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call order and are written out
  * once, after the traced run. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def span[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  def byName(name: String): Span = done.find(_.name == name).getOrElse(
    throw new NoSuchElementException(s"no span '$name'"))

  def json: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",", "]")
}

object Tracer {

  /** A span's self time: its duration minus the part of its interval that
    * its direct children cover (overlapping children are counted once). */
  def selfSeconds(spans: Seq[Span], id: Int): Double = {
    val s = spans.find(_.id == id).get
    val kids = spans.filter(_.parent == id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Task metrics of the stages run under one layer tag. */
final class LayerStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  /** max/median task run time of the layer's heaviest stage */
  var heaviestStageMs = -1L
  var taskSkew = 0.0
}

/** Bench-owned listener. Groups stages by the `graftbench.layer` local
  * property that the bench sets around each call, and tracks the bytes of
  * RDD blocks (persisted and locally checkpointed tables) that Spark holds
  * in storage memory, with their running peak. */
final class BenchListener extends SparkListener {
  private val layers = mutable.Map.empty[String, LayerStats]
  private val stageLayer = mutable.Map.empty[(Int, Int), String]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val blockMem = mutable.Map.empty[(Int, Int), Long]
  private var memNow = 0L
  private var memPeak = 0L

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(BenchListener.LayerKey))).getOrElse("")

  private def stats(layer: String): LayerStats = layers.getOrElseUpdate(layer, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    stats(layerOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageLayer((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = layerOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    val s = stats(stageLayer.remove(key).getOrElse(""))
    val m = info.taskMetrics
    s.stages += 1
    s.tasks += info.numTasks
    s.runMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    val times = taskMs.remove(key).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
    if (m.executorRunTime > s.heaviestStageMs && times.nonEmpty) {
      s.heaviestStageMs = m.executorRunTime
      s.taskSkew = times.last / math.max(1.0, Main.median(times.map(_.toDouble).toSeq))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val key = (b.rddId, b.splitIndex)
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      memNow += mem - blockMem.getOrElse(key, 0L)
      if (mem > 0) blockMem(key) = mem else blockMem.remove(key)
      memPeak = math.max(memPeak, memNow)
    }
  }

  /** Unpersisting drops an RDD's blocks without a block update per block. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blockMem.keys.filter(_._1 == e.rddId).toSeq.foreach(k => memNow -= blockMem.remove(k).get)
  }

  /** Forget all task metrics and restart the storage peak from what is held now. */
  def reset(): Unit = synchronized {
    layers.clear()
    memPeak = memNow
  }

  def peakStorageBytes: Long = synchronized(memPeak)

  def layer(name: String): LayerStats = synchronized(stats(name))

  def total: LayerStats = synchronized {
    val t = new LayerStats
    layers.values.foreach { s =>
      t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks
      t.runMs += s.runMs; t.cpuNs += s.cpuNs; t.shuffleWriteBytes += s.shuffleWriteBytes
    }
    t
  }
}

object BenchListener {
  final val LayerKey = "graftbench.layer"
}
