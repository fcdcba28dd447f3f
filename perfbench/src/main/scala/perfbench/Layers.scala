package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the tracer's counters, the
  * stage-to-module listener and the operation samples. Totals are
  * divided by the measured operations (`/op` units) so runs that finish
  * different numbers of operations compare; ratios carry their base in
  * the name. A metric whose layer the workload never reaches reads 0. */
object Layers {
  def compute(c: Ctx, wl: Workload, gcS: Double): Seq[(String, Double)] = {
    val tr = c.tracer
    val ops = math.max(1, c.samples.valuesIterator.map(_.n).sum).toDouble
    def per(name: String): Double = tr.counter(name) / ops
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def median(kinds: Seq[String]): Double = c.samplesOf(kinds: _*).p50
    val m = mutable.LinkedHashMap[String, Double]()

    m("catalog.commit_s") = per("catalog.commit_s")
    m("catalog.commits") = per("catalog.commits")
    m("catalog.commit_conflicts") = per("catalog.commit_conflicts")
    m("catalog.load_s") = per("catalog.load_s")
    m("catalog.loads") = per("catalog.loads")
    m("catalog.metadata_json_bytes") =
      ratio(tr.counter("catalog.metadata_json_bytes"), tr.counter("catalog.commits"))

    val opens = tr.counter("meta.manifest_opens")
    val hits = tr.counter("meta.manifest_cache_hits")
    m("meta.manifest_opens") = opens / ops
    m("meta.manifest_cache_hit_ratio") = ratio(hits, hits + opens)
    val scanKinds = c.samples.keys.filter(k => k.startsWith("api_") || k.startsWith("dsv2_") ||
      k.endsWith("_plan")).filterNot(_.endsWith("full_agg")).toSeq
    m("meta.manifests_opened_ratio") = ratio(scanKinds.map(k => tr.counter(s"manifests_touched.$k")).sum,
      tr.counter("meta.manifests_listed"))
    val parses = tr.counter("meta.metadata_parses")
    m("meta.metadata_parses") = parses / ops
    m("meta.metadata_cache_hit_ratio") =
      ratio(tr.counter("meta.metadata_cache_hits"), tr.counter("meta.metadata_cache_hits") + parses)
    m("meta.manifest_bytes_written") = per("meta.manifest_bytes_written")

    val plans = tr.counter("table.plans")
    val planKinds = c.samples.keys.filter(_.endsWith("_plan")).toSeq
    m("table.plan_s") =
      if (planKinds.nonEmpty) ratio(c.samplesOf(planKinds: _*).sum, plans)
      else ratio(tr.counter("table.plan_s"), plans)
    m("table.tasks_planned") = ratio(tr.counter("table.tasks_planned"), plans)
    m("table.files_skipped_ratio") = if (plans == 0) 0.0
      else 1.0 - ratio(tr.counter("table.tasks_planned"), tr.counter("table.files_considered"))
    m("table.rows_examined_per_row_returned") =
      ratio(tr.counter("table.rows_examined"), tr.counter("table.rows_returned"))
    val (dataLive, deleteLive) = wl.liveFiles()
    m("table.data_files_live") = dataLive.toDouble
    m("table.delete_files_live") = deleteLive.toDouble
    m("table.data_bytes_written") = per("table.data_bytes_written")
    m("table.maintenance_s") = c.samplesOf("maintenance").sum / ops
    m("table.maintenance_bytes_rewritten") = per("table.maintenance_bytes_rewritten")
    val paired = Seq("point", "day_scan", "range_scan", "full_agg")
    m("table.api_scan_s") = median(paired.map("api_" + _))
    m("spark.dsv2_scan_s") = median(paired.map("dsv2_" + _))

    val polls = c.samplesOf("cdc_poll").n
    val changes = tr.counter("streaming.changelog_rows")
    m("streaming.changelog_rows") = ratio(changes, polls)
    m("streaming.rows_read_per_change") = ratio(tr.counter("records_read.cdc_poll"), changes)
    m("streaming.mv_groups_changed") =
      ratio(tr.counter("streaming.mv_groups_changed"), c.samplesOf("refresh").n)

    for (mod <- Tracer.Modules :+ "other"; what <- Seq("exec_s", "jobs", "tasks", "shuffle_bytes"))
      m(s"$mod.$what") = per(s"$mod.$what")

    // driver self time: operation wall time outside every Spark job the
    // operation started
    val jobs = c.listener.toSeq.flatMap(_.jobIntervals.asScala).groupBy(_._1)
    val self = c.opIntervals.map { case (op, s, e) =>
      val spans = jobs.getOrElse(op, Nil).map { case (_, a, b) => (math.max(a, s), math.min(b, e)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = s
      spans.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      (e - s - covered) / 1000.0
    }
    m("driver.self_s") = self.sum / ops
    m("jvm.gc_s") = gcS / ops
    m.toSeq
  }
}
