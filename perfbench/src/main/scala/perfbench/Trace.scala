package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-listener counters summed over the tasks of one span's jobs. */
final class Counters {
  var jobs, tasks, cpuNs, waitMs = 0L
  var inputBytes, outputBytes, shuffleWriteBytes, spillBytes = 0L

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "cpu_s" -> cpuNs / 1e9,
    "task_wait_s" -> waitMs / 1e3,
    "input_mb" -> inputBytes / 1e6, "output_mb" -> outputBytes / 1e6,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spill_mb" -> spillBytes / 1e6)
}

/** Spans around each call into a layer, with the listener counters of
  * the jobs each span launched. A span's id travels to its jobs as a
  * thread-local Spark property, so two client threads sharing the
  * session are attributed apart. Counters are per span ("self"); the
  * report rolls children up into their parents.
  *
  * SQL executions are recorded too, with the output path of a write and
  * whether the plan scans `customer.parquet` (only the data-quality
  * gate does), so time inside an engine call that opens no span of its
  * own -- Pipeline.run's per-relation writes and its DQ gate -- can
  * still be attributed.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val SpanProp = "perfbench.span"

  private case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, var end: Long = -1L)
  private case class Exec(start: Long, var end: Long, write: String,
      readsCustomer: Boolean, var span: Int = -1)

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  // A write's plan node names its output path as the command's first
  // argument: "Execute InsertIntoHadoopFsRelationCommand file:/.../name, ...".
  private val WritePath = "InsertIntoHadoopFsRelationCommand\\s+([^,\\s]+),".r

  private def writeTarget(plan: SparkPlanInfo): Option[String] =
    WritePath.findFirstMatchIn(plan.simpleString)
      .map(_.group(1).stripSuffix("/").split('/').last)
      .orElse(plan.children.view.flatMap(writeTarget).headOption)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
        .foreach { sp =>
          e.stageIds.foreach(stageSpan.put(_, sp))
          counters.computeIfAbsent(sp, _ => new Counters).jobs += 1
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach { ex =>
              val x = execs.get(ex.toLong)
              if (x != null && x.span < 0) x.span = sp
            }
        }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (!stageSpan.containsKey(e.stageId)) return
      val c = counters.computeIfAbsent(stageSpan.get(e.stageId),
        _ => new Counters)
      c.tasks += 1
      val submitted = stageSubmitted.getOrDefault(e.stageId,
        e.taskInfo.launchTime)
      c.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.time, -1L,
          writeTarget(s.sparkPlanInfo).orNull,
          s.physicalPlanDescription.contains("customer.parquet")))
      case x: SparkListenerSQLExecutionEnd =>
        Option(execs.get(x.executionId)).foreach(_.end = x.time)
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name` belonging to op `op`. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val parent = stack.get.headOption.getOrElse(-1)
    val s = spans.synchronized {
      val s = Span(spans.size, name, parent, op, System.nanoTime())
      spans += s
      s
    }
    stack.set(s.id :: stack.get)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanProp,
        stack.get.headOption.map(_.toString).orNull)
    }
  }

  /** Every span and SQL execution so far, once the listener bus is idle. */
  def report(): Map[String, Any] = {
    org.apache.spark.perfbench.Bridge.drainListenerBus(sc)
    val wallT0 = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000
    val spanRows = spans.synchronized(spans.toList).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self" -> Option(counters.get(s.id)).getOrElse(new Counters).toJson)
    }
    val execRows = execs.asScala.toSeq.sortBy(_._1).collect {
      case (id, x) if x.span >= 0 && x.end >= 0 =>
        Map("id" -> id, "span" -> x.span,
          "start_s" -> (x.start - wallT0) / 1e3,
          "end_s" -> (x.end - wallT0) / 1e3,
          "write" -> x.write, "reads_customer" -> x.readsCustomer)
    }
    Map("spans" -> spanRows, "executions" -> execRows)
  }

  def stop(): Unit = sc.removeSparkListener(listener)
}

/** Peak bytes in Spark's storage pool (cached and persisted blocks,
  * checkpointed RDDs and broadcast values), sampled every 10 ms until
  * stop(). The pool's size is read under the memory manager's lock, which
  * tasks take to reserve memory, so sampling faster would slow them.
  */
final class StoragePeak {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val thread = new Thread(() => {
    while (running) {
      val used = org.apache.spark.perfbench.Bridge.storageMemoryUsed
      if (used > peak) peak = used
      Thread.sleep(10)
    }
  }, "perfbench-storage-peak")
  thread.setDaemon(true)
  thread.start()

  def stop(): Double = {
    running = false
    thread.join()
    peak / 1e6
  }
}
