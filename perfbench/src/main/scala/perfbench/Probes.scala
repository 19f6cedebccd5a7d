package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One finished Spark job with the stage metrics summed over its stages;
  * `batchId` is the streaming micro-batch that ran it, -1 outside one.
  */
final case class JobRec(id: Int, startMs: Double, endMs: Double,
    span: Long, executionId: Long, batchId: Long, shuffleWriteBytes: Long)

/** One finished SQL execution: its id, duration, planning phases, and what
  * its plan wrote, scanned, shuffled and observed.
  */
final case class QeRec(executionId: Long, durMs: Double, phases: Map[String, (Double, Double)],
    write: Option[WriteRec], scans: Seq[ScanRec],
    exchanges: Seq[(Set[String], Long)], observed: Map[String, Row])

final case class WriteRec(path: String, files: Long, bytes: Long, rows: Long) {
  def table: String = path.substring(path.lastIndexOf('/') + 1)
}
final case class ScanRec(table: String, files: Long, bytes: Long, partitions: Long)

/** The benchmark's Spark probes: one listener for jobs and stages, one for
  * SQL executions, whose end event carries the execution's id with its
  * query execution (plans, writes, scans and observed metrics). Benchmark
  * code tags the jobs it causes with the id of its enclosing span through
  * the `perfbench.span` local property.
  *
  * With `traced = false` only the observed metrics of finished executions
  * are kept (the output checks need them); jobs and stages go unheard.
  */
final class Probes(spark: SparkSession, traced: Boolean) {
  private val jobsBuf = mutable.ArrayBuffer.empty[JobRec]
  private val qesBuf = mutable.ArrayBuffer.empty[QeRec]
  private val execStart = mutable.Map.empty[Long, Double]
  private val execsBuf = mutable.ArrayBuffer.empty[(Long, Double, Double)]
  private val openJobs = mutable.Map.empty[Int, (Double, Long, Long, Long, Seq[Int])]
  private val stageAgg = mutable.Map.empty[Int, Long]

  private object Walk extends AdaptiveSparkPlanHelper

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      openJobs(e.jobId) = (e.time.toDouble,
        prop("perfbench.span").map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        e.stageIds)
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val m = e.stageInfo.taskMetrics
        if (m != null) stageAgg(e.stageInfo.stageId) = m.shuffleWriteMetrics.bytesWritten
        ()
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      openJobs.remove(e.jobId).foreach { case (t0, span, exec, batch, stages) =>
        jobsBuf += JobRec(e.jobId, t0, e.time.toDouble, span, exec, batch,
          stages.flatMap(stageAgg.get).sum)
      }
      ()
    }
  }

  private val sqlListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execStart(s.executionId) = s.time.toDouble; ()
      }
      case s: SparkListenerSQLExecutionEnd =>
        lock.synchronized {
          execStart.remove(s.executionId).foreach(t0 =>
            execsBuf += ((s.executionId, t0, s.time.toDouble)))
        }
        org.apache.spark.sql.perfbench.ExecutionEnd.succeeded(s).foreach {
          case (qe, durationNs) => record(s.executionId, qe, durationNs)
        }
      case _ =>
    }
  }

  private val lock = new Object

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private def record(executionId: Long, qe: QueryExecution, durationNs: Long): Unit = {
    val observed = try qe.observedMetrics catch { case _: Exception => Map.empty[String, Row] }
    val plan = qe.executedPlan
    val write = plan match {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          Some(WriteRec(i.outputPath.toUri.getPath, w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L),
            w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L),
            w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)))
        case _ => None
      }
      case _ => None
    }
    if (!traced) {
      if (observed.nonEmpty) lock.synchronized {
        qesBuf += QeRec(executionId, durationNs / 1e6, Map.empty, write,
          Nil, Nil, observed)
      }
      return
    }
    // file scans of the plan and of the cached plans it reads, named by
    // their table directory
    def tableOf(p: org.apache.hadoop.fs.Path): String =
      if (p.getName.contains("=") && p.getParent != null) tableOf(p.getParent) else p.getName
    def scansOf(p: SparkPlan): Seq[ScanRec] = Walk.collect(p) {
      case s: FileSourceScanExec => Seq(ScanRec(
        s.relation.location.rootPaths.headOption.map(tableOf).getOrElse("?"),
        metric(s, "numFiles"), metric(s, "filesSize"), metric(s, "numPartitions")))
      case m: InMemoryTableScanExec => scansOf(m.relation.cachedPlan)
    }.flatten
    val scans = scansOf(plan)
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
    }
    // exchanges of the plan and of the cached plans it reads, keyed by the
    // columns they hash on
    def exchangesOf(p: SparkPlan): Seq[(Set[String], Long)] =
      Walk.collect(p) {
        case e: ShuffleExchangeExec => Seq(e.outputPartitioning match {
          case h: HashPartitioning =>
            (h.expressions.flatMap(_.references.map(_.name)).toSet, metric(e, "dataSize"))
          case _ => (Set.empty[String], metric(e, "dataSize"))
        })
        case m: InMemoryTableScanExec => exchangesOf(m.relation.cachedPlan)
      }.flatten
    lock.synchronized {
      qesBuf += QeRec(executionId, durationNs / 1e6, phases, write, scans,
        exchangesOf(plan), observed)
    }
    ()
  }

  spark.sparkContext.addSparkListener(sqlListener)
  if (traced) spark.sparkContext.addSparkListener(sparkListener)

  /** Waits until the asynchronous listener bus has delivered every event
    * posted so far.
    */
  def drain(): Unit = {
    org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sqlListener)
    if (traced) spark.sparkContext.removeSparkListener(sparkListener)
  }

  def jobs: Seq[JobRec] = lock.synchronized(jobsBuf.toList)
  def qes: Seq[QeRec] = lock.synchronized(qesBuf.toList)
  /** Finished SQL executions: id, start and end (epoch ms). */
  def executions: Seq[(Long, Double, Double)] = lock.synchronized(execsBuf.toList)

  /** Sums the named observer's fields over the executions that wrote the
    * table at `path`. Each fan-out writes a table once, so every batch
    * counts once however many later writes read the same cached batch.
    */
  def observedFor(path: String, name: String): Map[String, Long] =
    qes.filter(_.write.exists(_.path == path)).flatMap(_.observed.get(name)).flatMap { r =>
      r.schema.fieldNames.toSeq.zipWithIndex.map { case (f, i) =>
        f -> (if (r.isNullAt(i)) 0L else r.getLong(i))
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Shuffle bytes of the exchanges hashing on column `column`, over the
    * executions that wrote the table at `path`.
    */
  def exchangeBytes(path: String, column: String): Long =
    qes.filter(_.write.exists(_.path == path)).flatMap(_.exchanges)
      .filter(_._1.contains(column)).map(_._2).sum
}

/** The heap in use just after each collection the JVM makes while it
  * listens, summed over the heap pools (from GC notifications: nothing is
  * forced), and after one full collection when it stops.
  */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val samples = mutable.ArrayBuffer.empty[Double]
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.this.synchronized { samples += used / 1048576.0; () }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stops listening; returns the samples in MiB, in order, the closing
    * full collection last.
    */
  def stop(): Seq[Double] = {
    emitters.foreach(_.removeNotificationListener(listener))
    val last = Meters.heapAfterGcMb()
    synchronized((samples :+ last).toList)
  }
}

/** Process, JVM and host meters. */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuMs(): Double = os.getProcessCpuTime / 1e6

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap retained after a full collection, in MiB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Busy CPU time of the whole host so far, in ms, from `/proc/stat`
    * (user + nice + system + irq + softirq + steal); None off Linux.
    */
  def hostBusyMs(): Option[Double] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
      Some(busy * 1000.0 / 100.0) // USER_HZ is 100 on Linux
    } finally src.close()
  } catch { case _: Exception => None }

  /** Bench's machine-drift calibration: a fixed synthetic shuffle and
    * aggregation whose shape never changes. Returns seconds.
    */
  def calibrationSec(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, 32)
      .select(xxhash64(col("id")).as("h"))
      .groupBy(pmod(col("h"), lit(4096)).as("k"))
      .agg(count(lit(1)).as("n"), sum(pmod(col("h"), lit(1000000L))).as("s"))
      .queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }
}
