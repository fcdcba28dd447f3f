package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, HadoopCatalog}
import graft.meta.{ManifestIO, MetadataCache}

/** Process-level gauges read around the measured region. */
object Proc {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcSeconds: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  /** Bytes this process passed to write(2) (`/proc/self/io` wchar): data
    * files, metadata, staging, shuffle and spill alike. */
  def writeBytes: Long = {
    val f = new java.io.File("/proc/self/io")
    if (!f.exists()) return 0L
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("wchar:") => l.stripPrefix("wchar:").trim.toLong
    }.getOrElse(0L)
    finally src.close()
  }
  def load1: Double = {
    val f = new java.io.File("/proc/loadavg")
    if (!f.exists()) return -1.0
    val src = scala.io.Source.fromFile(f)
    try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
  }

  /** Heap in use after a full collection: the live set. Called at the end
    * of the measured region, when caches and tables are at their largest. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Largest heap in use right after a collection, over the collections
    * seen since [[resetHeapPeak]] — the driver's live heap at its peak. */
  @volatile private var peakAfterGc = 0L
  @volatile private var lastAfterGc = 0L
  def resetHeapPeak(): Unit = peakAfterGc = lastAfterGc
  def heapPeakMb: Double = math.max(peakAfterGc, lastAfterGc) / (1024.0 * 1024.0)
  locally {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val l = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools.contains(k) => u.getUsed }.sum
          lastAfterGc = used
          if (used > peakAfterGc) peakAfterGc = used
        }
    }
    gcBeans.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }
}

/** Latency samples of one operation kind. */
final class Samples {
  val values = mutable.ArrayBuffer[Double]()
  def +=(v: Double): Unit = values += v
  def n: Int = values.size
  def sum: Double = values.sum
  def quantile(q: Double): Double = {
    val s = values.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = s(pos.floor.toInt)
      val hi = s(pos.ceil.toInt)
      lo + (hi - lo) * (pos - pos.floor)
    }
  }
  def p50: Double = quantile(0.5)
  /** The highest of the usual percentiles with at least ten samples
    * above it, as (percentile, value); None under 20 samples. */
  def tail: Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
      .find(p => n * (1 - p / 100) >= 10.0).map(p => (p, quantile(p / 100)))
}

/** Everything a workload needs: the session, a catalog, the recorder that
  * times operations, the correctness tally and the traced-run hooks. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    val listener: Option[ModuleListener]) {
  val samples = mutable.LinkedHashMap[String, Samples]()
  val opIntervals = mutable.ArrayBuffer[(Long, Long, Long)]() // (op, startMs, endMs)
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer[String]()
  /** User rows the measured operations changed (generator's count). */
  var rowsChanged = 0L
  var measuring = false
  private var opSeq = 0L

  def trace: Boolean = tracer.enabled
  private var storageRoots: Seq[String] = Nil
  private var listing: Map[String, Long] = Map.empty

  /** Traced run: list these directories after every operation and count
    * the bytes of files that appeared, by kind. */
  def watchStorage(roots: Seq[String]): Unit = {
    storageRoots = roots
    listing = roots.flatMap(Storage.list).toMap
  }

  private def storageDiff(kind: String): Unit = if (storageRoots.nonEmpty) {
    val now = storageRoots.flatMap(Storage.list).toMap
    val added = now.filter { case (p, _) => !listing.contains(p) }
    val data = added.collect { case (p, n) if p.contains("/data/") => n }.sum.toDouble
    val manifests = added.collect {
      case (p, n) if p.contains("/metadata/") && p.endsWith(".avro") => n
    }.sum.toDouble
    tracer.add("table.data_bytes_written", data)
    tracer.add("meta.manifest_bytes_written", manifests)
    if (kind == "maintenance") tracer.add("table.maintenance_bytes_rewritten", data + manifests)
    listing = now
  }
  val warehouse: String = s"${opts.work}/warehouse"

  def catalog(): Catalog =
    if (trace) new TimedCatalog(warehouse, spark, tracer)
    else new HadoopCatalog(warehouse, spark)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Set-up phases and their seconds, reported with the run. */
  val phases = mutable.LinkedHashMap[String, Double]()
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** A correctness check. `counted` checks are attempts of their own (the
    * end-of-run state); the others re-check an operation already counted. */
  def check(name: String, counted: Boolean = true)(ok: => Boolean, detail: => String): Unit = {
    if (counted) attempted += 1
    val pass = try ok catch { case e: Throwable => log(s"$name threw: $e"); false }
    if (!pass) { failed += 1; problems += s"$name: $detail"; log(s"CHECK FAILED $name: $detail") }
  }

  /** Runs one operation: times it (measured region only), counts it as
    * attempted, and counts it failed if it throws or `verify` reports a
    * wrong result. `verify` runs outside the timed interval. */
  def op[A](kind: String, layer: String)(body: => A)(verify: A => Option[String]): Option[A] = {
    opSeq += 1
    val id = opSeq
    if (trace) {
      val sc = spark.sparkContext
      tracer.currentOp = id
      sc.setLocalProperty(Tracer.OpProp, id.toString)
      sc.setLocalProperty(Tracer.OpKindProp, kind)
    }
    val before = if (trace && measuring) Some(MetaCounters.read()) else None
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"$layer.$kind")(body)) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    if (trace) {
      spark.sparkContext.setLocalProperty(Tracer.OpKindProp, null)
      before.foreach(b => MetaCounters.read().minus(b).addTo(tracer, kind))
      if (measuring) storageDiff(kind)
    }
    if (measuring) attempted += 1
    val out = res match {
      case Left(e) =>
        if (measuring) failed += 1
        problems += s"$kind failed: $e"
        log(s"OP FAILED $kind: $e")
        if (!measuring) throw e
        None
      case Right(v) =>
        val bad = try verify(v) catch { case e: Throwable => Some(s"verify threw $e") }
        bad match {
          case Some(msg) =>
            if (measuring) failed += 1
            problems += s"$kind: $msg"
            log(s"WRONG RESULT $kind: $msg")
            if (!measuring) throw new IllegalStateException(s"$kind: $msg")
          case None =>
            if (measuring) {
              samples.getOrElseUpdate(kind, new Samples) += dt
              opIntervals += ((id, ms0, ms1))
            }
        }
        Some(v)
    }
    out
  }

  def samplesOf(kinds: String*): Samples = {
    val s = new Samples
    kinds.flatMap(samples.get).foreach(_.values.foreach(s += _))
    s
  }

  // ---- result fingerprints ----

  /** A 31-bit hash of a row's columns; summed, it fingerprints a row set
    * independently of order, and cannot overflow a long. */
  def rowHash(cols: Seq[String]): Column =
    shiftrightunsigned(xxhash64(cols.map(col): _*), 33)

  /** (row count, checksum) of a DataFrame, in one Spark job. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(cols)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** The library's process-wide metadata counters. */
final case class MetaCounters(opens: Long, hits: Long, parses: Long, metaHits: Long) {
  def minus(o: MetaCounters): MetaCounters =
    MetaCounters(opens - o.opens, hits - o.hits, parses - o.parses, metaHits - o.metaHits)
  def addTo(tr: Tracer, kind: String): Unit = {
    tr.add("meta.manifest_opens", opens.toDouble)
    tr.add("meta.manifest_cache_hits", hits.toDouble)
    tr.add("meta.metadata_parses", parses.toDouble)
    tr.add("meta.metadata_cache_hits", metaHits.toDouble)
    tr.add(s"manifests_touched.$kind", (opens + hits).toDouble)
  }
}

object MetaCounters {
  def read(): MetaCounters = MetaCounters(ManifestIO.manifestOpens.get,
    ManifestIO.manifestCacheHits.get, MetadataCache.parses.get, MetadataCache.hits.get)
}
