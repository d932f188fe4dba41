package sinkbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.BatchSink

/** Wall-clock span of one `BatchSink.write` call. */
final case class SinkSpan(batchId: Long, startMs: Long, endMs: Long, nanos: Long)

/** Wraps the sink under test and records when each batch write ended.
  * `foreachBatch` runs on the driver, so the spans land in a driver-side
  * registry keyed by the sink's name. */
final class TimedSink(name: String, inner: BatchSink) extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    inner.write(batch, batchId)
    TimedSink.record(name, SinkSpan(batchId, startMs, System.currentTimeMillis(), System.nanoTime() - t0))
  }
}

object TimedSink {
  private val spans = new ConcurrentHashMap[String, java.util.List[SinkSpan]]()
  def record(name: String, s: SinkSpan): Unit =
    spans.computeIfAbsent(name, _ => java.util.Collections.synchronizedList(new java.util.ArrayList[SinkSpan]())).add(s)
  def of(name: String): Seq[SinkSpan] =
    Option(spans.get(name)).map(l => l.synchronized(l.asScala.toList)).getOrElse(Nil)
}

/** Totals of the Spark jobs started under one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Counts jobs and task metrics per job group (`spark.jobGroup.id`); a
  * streaming query runs its jobs under its run id as group. */
final class JobGroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map.empty[String, GroupStats]

  private def group(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    synchronized(group(g).jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    synchronized {
      val s = group(g)
      s.tasks += 1
      if (m != null) {
        s.executorCpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Sum over the groups whose id satisfies `p`. */
  def sum(p: String => Boolean): GroupStats = synchronized {
    val t = new GroupStats
    groups.foreach { case (g, s) if p(g) =>
      t.jobs += s.jobs; t.tasks += s.tasks; t.executorCpuNs += s.executorCpuNs
      t.shuffleBytes += s.shuffleBytes; t.spillBytes += s.spillBytes
    case _ => }
    t
  }
}

/** Keeps every streaming progress report. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  def progress: Seq[StreamingQueryProgress] = synchronized(buf.toList)
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = synchronized(buf += event.progress)
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

/**
 * A JDBC driver for `jdbc:sinkbench:<url>` that hands out the connections
 * of `jdbc:<url>` and counts what the sink does with them: connections
 * opened, and DDL statements run through `Statement.executeUpdate` that
 * failed. Prepared statements pass through unwrapped, so row binding costs
 * nothing extra.
 */
object CountingJdbc {
  val Prefix = "jdbc:sinkbench:"
  val connections = new AtomicLong()
  val ddlFailed = new AtomicLong()

  private object Drv extends Driver {
    override def connect(url: String, info: Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val c = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
        connections.incrementAndGet()
        proxy(classOf[Connection], c) { (m, args) =>
          val r = m.invoke(c, args: _*)
          if (m.getName == "createStatement") countDdl(r.asInstanceOf[Statement]) else r
        }
      }
    override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger = java.util.logging.Logger.getGlobal
  }

  private def countDdl(s: Statement): Statement =
    proxy(classOf[Statement], s) { (m, args) =>
      val isDdl = m.getName == "executeUpdate" && args.nonEmpty &&
        String.valueOf(args(0)).trim.toUpperCase.startsWith("CREATE")
      try m.invoke(s, args: _*)
      catch { case e: InvocationTargetException if isDdl => ddlFailed.incrementAndGet(); throw e }
    }

  private def proxy[T](iface: Class[T], target: AnyRef)(f: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface), new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
        try f(m, Option(args).getOrElse(Array.empty))
        catch { case e: InvocationTargetException => throw e.getCause }
    }).asInstanceOf[T]

  lazy val register: Unit = DriverManager.registerDriver(Drv)
}
