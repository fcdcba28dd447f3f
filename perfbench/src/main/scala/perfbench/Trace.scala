package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.catalog.{CommitConflictException, HadoopCatalog}
import graft.table.IceTable

/** One timed interval at a layer boundary. `op` ties every span of one
  * benchmark operation together; `parent` is the span that caused it
  * (0 for an operation's root span). Times are epoch nanoseconds. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Long)

/** Spans and counters recorded around the benchmark's calls into the
  * library. Disabled, every method is a cheap no-op, so the untraced run
  * measures the library alone. Spans stay in memory until [[dump]]. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  private val counters = new ConcurrentHashMap[String, java.lang.Double]
  @volatile var currentOp: Long = 0L
  @volatile var recording = false
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs
  def nextId(): Long = ids.incrementAndGet()

  def add(name: String, v: Double): Unit =
    if (enabled && recording) counters.merge(name, v, (a, b) => a + b)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Times `body` as a child of the innermost open span on this thread.
    * The span's layer (the name's first segment) is published as a Spark
    * local property, so jobs the call submits can be attributed to it. */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    val sc = SparkSession.active.sparkContext
    val prevLayer = sc.getLocalProperty(Tracer.LayerProp)
    sc.setLocalProperty(Tracer.LayerProp, name.takeWhile(_ != '.'))
    stack.set((id, name) :: outer)
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      stack.set(outer)
      sc.setLocalProperty(Tracer.LayerProp, prevLayer)
      spans.add(Span(id, name, t0, t1, parent, currentOp))
    }
  }

  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

object Tracer {
  val LayerProp = "perfbench.layer"
  val OpProp = "perfbench.op"
  val OpKindProp = "perfbench.op_kind"
  /** The library's modules, the layers the per-layer metrics are named by. */
  val Modules: Seq[String] =
    Seq("core", "meta", "catalog", "table", "spark", "streaming", "ops", "functions")
}

/** Attributes every Spark stage to a library module: the module of the
  * first `graft.` frame in the stage's call site, or, when the call site
  * holds none (a job the benchmark's own action or a Spark helper thread
  * submitted), the layer of the benchmark span that was open when the
  * job started. Also keeps each job's interval and operation, so a
  * driver's self time can be computed as operation time outside jobs. */
final class ModuleListener(tr: Tracer) extends SparkListener {
  private val stageModule = new ConcurrentHashMap[Int, String]
  private val stageOpKind = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, String)]
  /** (op, startMs, endMs) of every finished job. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long, Long)]

  private def moduleOf(details: String, fallback: String): String = {
    val frame = Option(details).toSeq.flatMap(_.split("\n"))
      .map(_.trim).find(l => l.startsWith("graft.") && !l.startsWith("graft.tools."))
    val fromFrame = frame.map(_.stripPrefix("graft.").takeWhile(_ != '.'))
      .filter(Tracer.Modules.contains)
    fromFrame.orElse(Option(fallback).filter(Tracer.Modules.contains)).getOrElse("other")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).orNull
    val op = Option(prop(Tracer.OpProp)).map(_.toLong).getOrElse(0L)
    val kind = Option(prop(Tracer.OpKindProp)).getOrElse("")
    val layer = prop(Tracer.LayerProp)
    val stages = e.stageInfos
    val module = stages.sortBy(-_.stageId).headOption
      .map(s => moduleOf(s.details, layer)).getOrElse(moduleOf(null, layer))
    stages.foreach { s =>
      stageModule.put(s.stageId, moduleOf(s.details, layer))
      stageOpKind.put(s.stageId, kind)
    }
    jobStart.put(e.jobId, (e.time, op, module))
    tr.add(s"$module.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, op, module) =>
      jobIntervals.add((op, t0, e.time))
      tr.record(Span(tr.nextId(), s"$module.spark_job", t0 * 1000000L,
        e.time * 1000000L, 0L, op))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val module = Option(stageModule.remove(s.stageId)).getOrElse("other")
    val kind = Option(stageOpKind.remove(s.stageId)).getOrElse("")
    val m = s.taskMetrics
    tr.add(s"$module.tasks", s.numTasks)
    if (m != null) {
      tr.add(s"$module.exec_s", m.executorRunTime / 1000.0)
      tr.add(s"$module.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      if (kind.nonEmpty) tr.add(s"records_read.$kind", m.inputMetrics.recordsRead.toDouble)
    }
  }
}

/** A [[HadoopCatalog]] that times table commits and loads (every
  * `IceTable.refresh()` is a load) and counts commit conflicts and the
  * size of each committed metadata file. */
final class TimedCatalog(wh: String, spark: SparkSession, tr: Tracer)
    extends HadoopCatalog(wh, spark) {

  override def commit(name: String, expectedVersion: Int,
      meta: graft.meta.TableMetadata): Int = tr.span("catalog.commit") {
    val t0 = System.nanoTime()
    try {
      val v = super.commit(name, expectedVersion, meta)
      tr.add("catalog.commits", 1)
      val f = new java.io.File(s"$wh/${name.replace('.', '/')}/metadata/v$v.metadata.json")
      tr.add("catalog.metadata_json_bytes", f.length().toDouble)
      v
    } catch {
      case e: CommitConflictException => tr.add("catalog.commit_conflicts", 1); throw e
    } finally tr.add("catalog.commit_s", (System.nanoTime() - t0) / 1e9)
  }

  override def loadTable(name: String): IceTable = tr.span("catalog.load") {
    val t0 = System.nanoTime()
    try super.loadTable(name)
    finally {
      tr.add("catalog.loads", 1)
      tr.add("catalog.load_s", (System.nanoTime() - t0) / 1e9)
    }
  }
}

/** Files under a directory tree with their sizes — the storage view the
  * traced run diffs between operations. */
object Storage {
  def list(root: String): Map[String, Long] = {
    val out = mutable.Map[String, Long]()
    def walk(f: java.io.File): Unit =
      Option(f.listFiles()).foreach(_.foreach { c =>
        if (c.isDirectory) walk(c) else out(c.getPath) = c.length()
      })
    walk(new java.io.File(root))
    out.toMap
  }

  def bytes(root: String): Long = list(root).valuesIterator.sum
}
