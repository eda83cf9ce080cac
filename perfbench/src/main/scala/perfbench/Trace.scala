package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Spark-side counters attributed to one span. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var taskMs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; taskMs += o.taskMs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** One call into a module, opened by the benchmark around that call. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, var endNs: Long = 0L) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the listeners that attribute Spark work to
  * spans. Jobs carry the opening span's id as a local property, so every
  * job, stage and task lands on the innermost span that submitted it.
  * SQL actions and block writes carry no such property; they are read per
  * op, after a drain, by differencing running totals (one client thread,
  * so nothing else runs in between).
  *
  * Disabled (the untraced, measured mode) it is a pass-through that
  * registers nothing.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var enabled = false

  private val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  @volatile var unattributedJobs = 0L
  @volatile var sqlActions = 0L
  @volatile var catalystMs = 0L
  @volatile var rddBlocks = 0L
  @volatile var rddBlockBytes = 0L

  private def countsOf(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      span match {
        case Some(s) =>
          countsOf(s.toInt).jobs += 1
          e.stageIds.foreach(st => stageSpan(st) = s.toInt)
        case None => unattributedJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(countsOf(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = countsOf(s)
        c.tasks += 1
        if (!e.taskInfo.successful) c.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
        rddBlocks += 1
        rddBlockBytes += b.memSize + b.diskSize
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      sqlActions += 1
      catalystMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      sqlActions += 1
  }

  def isEnabled: Boolean = enabled

  def enable(): Unit = if (!enabled) {
    drain()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  /** Delivers every event posted so far to the listeners. */
  def drain(): Unit = BenchBusShim.drain(sc)

  def eventsDropped: Long = BenchBusShim.eventsDropped(sc)

  /** Runs `body` inside a span named `name` ("layer" or "layer.step"). */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.nanoTime())
      spans += s
      stack ::= s
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Span duration minus the time its direct children cover (children of
    * one span run one after another on the client thread).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Counters of every span accepted by `keep`, summed (after a drain). */
  def counts(keep: Span => Boolean): Counts = synchronized {
    val total = new Counts
    spans.iterator.filter(keep).foreach(s => bySpan.get(s.id).foreach(total += _))
    total
  }
}
