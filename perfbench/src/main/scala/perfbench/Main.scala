package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String)

/** One benchmark run in a fresh JVM: set up the workload, run whole
  * rounds of its operation mix until `--seconds` have passed, check the
  * results, and write every metric to `--out` as JSON.
  *
  * {{{
  *   perfbench.Main --workload scan_mix --seed 1 --seconds 10 --trace 0 \
  *     --work <scratch dir> --out <result.json>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(o.trace)
    val listener = if (o.trace) Some(new ModuleListener(tracer)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val c = new Ctx(spark, o, tracer, listener)
    val wl: Workload = o.workload match {
      case "scan_mix" => new ScanMix(c)
      case "dml_churn" => new DmlChurn(c)
      case "cdc_mv" => new CdcMv(c)
      case "plan_scale" => new PlanScale(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val load0 = Proc.load1
    val ok = try {
      wl.setup()
      true
    } catch { case e: Throwable =>
      c.log(s"SETUP FAILED: $e"); e.printStackTrace(); false
    }
    if (!ok) { spark.stop(); sys.exit(3) }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // ---- measured region ----
    System.gc()
    Proc.resetHeapPeak()
    val gc0 = Proc.gcSeconds; val cpu0 = Proc.cpuSeconds; val io0 = Proc.writeBytes
    c.measuring = true
    tracer.recording = true
    if (o.trace) c.watchStorage(wl.locations)
    val t0 = System.nanoTime()
    var rounds = 0
    // whole rounds only, so every run measures the same mix
    while ((System.nanoTime() - t0) / 1e9 < o.seconds) { wl.round(rounds); rounds += 1 }
    val wallS = (System.nanoTime() - t0) / 1e9
    c.measuring = false
    val gcS = Proc.gcSeconds - gc0; val cpuS = Proc.cpuSeconds - cpu0
    val writeBytes = Proc.writeBytes - io0
    val heapMb = Proc.heapPeakMb
    val liveMb = Proc.liveHeapMb()
    listener.foreach(_ => org.apache.spark.ListenerBusDrain(spark.sparkContext))
    tracer.recording = false
    val storedBytes = wl.locations.map(Storage.bytes).sum
    val layer = if (o.trace) Layers.compute(c, wl, gcS) else Nil
    wl.verify()
    val load1 = Proc.load1

    // ---- report ----
    val e2e = mutable.LinkedHashMap[String, (Double, String, Map[String, Double])]()
    def put(n: String, v: Double, unit: String, extra: Map[String, Double] = Map.empty): Unit =
      e2e(n) = (v, unit, extra)
    val all = c.samplesOf(c.samples.keys.toSeq: _*)
    put("setup_s", setupS, "s", Map("session_s" -> sessionS))
    put("ops_per_s", all.n / math.max(all.sum, 1e-9), "1/s", Map("n" -> all.n.toDouble))
    put("error_rate", c.failed.toDouble / math.max(c.attempted, 1), "ratio",
      Map("attempted" -> c.attempted.toDouble, "failed" -> c.failed.toDouble))
    put("heap_peak_mb", heapMb, "MB")
    put("heap_live_mb", liveMb, "MB")
    def timing(prefix: String, s: Samples, withTail: Boolean): Unit = if (s.n > 0) {
      put(s"${prefix}_p50_s", s.p50, "s", Map("n" -> s.n.toDouble))
      if (withTail) s.tail.foreach { case (p, v) =>
        put(s"${prefix}_tail_s", v, "s", Map("n" -> s.n.toDouble, "percentile" -> p))
      }
    }
    val kinds = c.samples.keys.toSeq
    timing("scan", c.samplesOf(kinds.filter(k => k.startsWith("api_") || k.startsWith("dsv2_")
      || k == "read_back"): _*), withTail = true)
    timing("plan", c.samplesOf(kinds.filter(_.endsWith("_plan")): _*), withTail = true)
    Seq("append", "delete", "upsert").foreach(k => timing(k, c.samplesOf(k), withTail = false))
    val dml = c.samplesOf("append", "delete", "upsert", "maintenance")
    dml.tail.foreach { case (p, v) =>
      put("commit_tail_s", v, "s", Map("n" -> dml.n.toDouble, "percentile" -> p))
    }
    timing("cdc_poll", c.samplesOf("cdc_poll"), withTail = false)
    timing("refresh", c.samplesOf("refresh"), withTail = false)
    if (c.rowsChanged > 0)
      put("write_bytes_per_row", writeBytes.toDouble / c.rowsChanged, "B",
        Map("rows_changed" -> c.rowsChanged.toDouble))
    if (wl.liveRows > 0)
      put("stored_bytes_per_row", storedBytes.toDouble / wl.liveRows, "B",
        Map("live_rows" -> wl.liveRows.toDouble))

    val kindStats = c.samples.map { case (k, s) =>
      s""""$k":{"n":${s.n},"p50_s":${s.p50},"sum_s":${s.sum}}"""
    }.mkString(",")
    val json = new StringBuilder
    json ++= s"""{"workload":"${o.workload}","seed":${o.seed},"trace":${if (o.trace) 1 else 0},"""
    json ++= s""""correct":${c.failed == 0},"attempted":${c.attempted},"failed":${c.failed},"""
    json ++= s""""rounds":$rounds,"measured_s":$wallS,"""
    json ++= s""""stamps":{"load1_before":$load0,"load1_after":$load1,"cpu_s":$cpuS,"gc_s":$gcS,"""
    json ++= s""""cores":$cores,"write_bytes":$writeBytes,"setup_phases":{""" +
      c.phases.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}},"
    json ++= "\"e2e\":{" + e2e.map { case (n, (v, u, x)) =>
      s""""$n":{"value":$v,"unit":"$u"""" + x.map { case (k, xv) => s""","$k":$xv""" }.mkString + "}"
    }.mkString(",") + "},"
    json ++= "\"per_layer\":{" + layer.map { case (n, v) => s""""$n":$v""" }.mkString(",") + "},"
    json ++= s""""kinds":{$kindStats},"""
    json ++= "\"problems\":[" + c.problems.take(20).map(p =>
      "\"" + p.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ") + "\"").mkString(",") + "]}"
    java.nio.file.Files.write(java.nio.file.Paths.get(o.out), json.toString.getBytes("UTF-8"))
    if (o.trace) tracer.dump(o.out.stripSuffix(".json") + ".spans.jsonl")
    spark.stop()
    sys.exit(if (c.failed == 0) 0 else 1)
  }
}
