package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Module layers of the profiler, named after the packages and objects a
  * Spark job can be triggered from. A job belongs to the layer of the
  * innermost `graft.` frame of its call stack that maps to one; frames of
  * other graft objects (the `SparkEntry` lanes, `Profiler`) are skipped
  * outward. */
object Layers {
  val Runner = "runner"
  val Catalog = "catalog"
  val Scan = "scan"
  val Freq = "freq"
  val Sinks = "sinks"
  val Quantiles = "quantiles"
  val Operators = "operators"
  val Spark = "spark"

  val all: Seq[String] = Seq(Runner, Catalog, Scan, Freq, Sinks, Quantiles, Operators, Spark)

  /** `graft.profiler.ScanMetrics$.compute(ScanMetrics.scala:300)` →
    * `Some("scan")`. */
  def ofFrame(frame: String): Option[String] = {
    val cls = frame.trim.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
    val top = cls.takeWhile(_ != '$')
    if (!top.startsWith("graft.")) None
    else if (top.startsWith("graft.operators.")) Some(Operators)
    else top match {
      case "graft.profiler.Runner" => Some(Runner)
      case "graft.profiler.ParquetDirCatalog" | "graft.profiler.SparkSessionCatalog" |
          "graft.profiler.TableCatalog" => Some(Catalog)
      case "graft.profiler.ScanMetrics" => Some(Scan)
      case "graft.profiler.FreqMetrics" => Some(Freq)
      case "graft.profiler.Sinks" => Some(Sinks)
      case "graft.profiler.ExactQuantiles" | "graft.profiler.RobustStats" => Some(Quantiles)
      case _ => None
    }
  }

  /** Layer of the innermost mapped `graft.` frame of a Spark long call
    * site (innermost frame first, one frame per line). */
  def ofCallSite(details: String): Option[String] =
    if (details == null) None
    else details.linesIterator.flatMap(ofFrame).nextOption()
}

/** One finished Spark job with its task counters summed over its stages. */
final case class JobRecord(
    id: Int,
    layer: String,
    scope: String,
    startMs: Long,
    endMs: Long,
    tasks: Long,
    cpuMs: Double,
    gcMs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    maxTaskMs: Long) {
  def ms: Long = endMs - startMs
}

/** A timed interval recorded by the benchmark around a call into a layer. */
final case class Span(name: String, detail: String, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** Collects every job of the session, attributed to a layer, plus the
  * benchmark's own spans. Everything stays in memory until [[Harness]]
  * writes it out at the end of the run.
  *
  * Attribution: the innermost mapped `graft.` frame of the job's stage
  * call site; for jobs started off the caller's thread (broadcast builds,
  * subqueries) whose stage call site shows no graft frame, the call site
  * of the SQL execution the job runs for; failing both, the `scope`
  * local property the benchmark sets around the call (see
  * [[Trace.ScopeLayer]]); otherwise `spark`. */
final class Trace extends SparkListener {
  import Trace._

  private final class Acc {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var maxTask = 0L
  }

  private final case class Open(
      id: Int, layer: String, scope: String, startMs: Long, acc: Acc)

  private val sqlCallSites = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, Acc]()
  private val open = new ConcurrentHashMap[Int, Open]()
  private val done = mutable.ArrayBuffer.empty[JobRecord]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      sqlCallSites.put(e.executionId, e.details)
      ()
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val fromStages = e.stageInfos.iterator.flatMap(s => Layers.ofCallSite(s.details)).nextOption()
    val fromSql = prop("spark.sql.execution.id")
      .flatMap(id => Option(sqlCallSites.get(id.toLong)))
      .flatMap(Layers.ofCallSite)
    val layer = fromStages.orElse(fromSql).orElse(prop(ScopeLayer)).getOrElse(Layers.Spark)
    val acc = new Acc
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, acc))
    open.put(e.jobId, Open(e.jobId, layer, prop(ScopeKey).getOrElse(""), e.time, acc))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageJob.get(e.stageId)
    if (acc != null && e.taskInfo != null) acc.synchronized {
      acc.tasks += 1
      acc.maxTask = math.max(acc.maxTask, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o != null) {
      val a = o.acc
      val rec = a.synchronized {
        JobRecord(o.id, o.layer, o.scope, o.startMs, e.time, a.tasks, a.cpuNs / 1e6,
          a.gcMs, a.shuffleWrite, a.spill, a.maxTask)
      }
      done.synchronized { done += rec }
      ()
    }
  }

  /** Time `body` as a span (benchmark-side, around a call into a layer). */
  def span[T](name: String, detail: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val s = Span(name, detail, t0, System.currentTimeMillis())
      spanBuf.synchronized { spanBuf += s }
      ()
    }
  }

  def jobs: Seq[JobRecord] = done.synchronized(done.toList).sortBy(_.id)
  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList).sortBy(_.startMs)
}

object Trace {
  /** Local properties the benchmark sets around a call; they ride along
    * with every job the calling thread (or a broadcast thread it spawns)
    * submits. */
  val ScopeKey = "perfbench.scope"
  val ScopeLayer = "perfbench.layer"

  /** Wall time inside `[from, to]` covered by at least one job. */
  def covered(jobs: Seq[JobRecord], from: Long, to: Long): Long = {
    val ivs = jobs.iterator
      .map(j => (math.max(j.startMs, from), math.min(j.endMs, to)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** [[graft.profiler.TableCatalog]] decorator, measuring the catalog layer
  * from outside the program: the first `load` of each table is stamped
  * (the start of that table's profile in `Runner.run`), and with a trace
  * every call into the catalog is recorded as a span. */
final class TimedCatalog(inner: graft.profiler.TableCatalog, trace: Option[Trace])
    extends graft.profiler.TableCatalog {
  val loadStartMs = new ConcurrentHashMap[String, Long]()

  private def timed[T](name: String, detail: String)(body: => T): T =
    trace.fold(body)(_.span(name, detail)(body))

  override def name: String = inner.name
  override def listTables: Seq[String] = timed("catalog.list", "")(inner.listTables)
  override def load(table: String): org.apache.spark.sql.DataFrame = {
    loadStartMs.putIfAbsent(table, System.currentTimeMillis())
    timed("catalog.load", table)(inner.load(table))
  }
}
