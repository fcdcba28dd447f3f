package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{DayTransform, Schema}
import graft.meta.{ManifestIO, PartitionSpec}
import graft.table.IceTable

/** The operations every workload runs in a closed loop, one round at a
  * time: a round is a fixed mix, so every run measures the same mix. */
trait Workload {
  def setup(): Unit
  def round(r: Int): Unit
  /** End-of-run correctness checks. */
  def verify(): Unit
  /** The workload's tables, for storage and live-file accounting. */
  def tables: Seq[IceTable]
  /** Rows the tables hold at the end (for stored bytes per row). */
  def liveRows: Long
  def locations: Seq[String] = tables.map(_.location)
  /** (data files, delete files) live at the current snapshots. */
  def liveFiles(): (Long, Long) = tables.map { t =>
    val tasks = t.refresh().scan.planFiles()
    (tasks.size.toLong, tasks.flatMap(_.deletes.map(_.filePath)).distinct.size.toLong)
  }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
}

/** A scan_mix query: library filter, the same predicate in Spark SQL,
  * projected columns, and an optional time-travel target (append index). */
private final case class Q(shape: String, filter: String, sql: String,
    proj: Seq[String], travelTo: Option[Int] = None) {
  def oracleSql: String = travelTo.fold(sql)(j => s"($sql) AND b <= $j")
}

/** Read-only mix on a v2 table partitioned by day(ts): point lookups by id,
  * one-day and multi-day range scans with projection, a full GROUP BY and
  * a time-travel scan, each through the library's scan API and the same
  * filter through `spark.read.format("graft")`. Every result is
  * fingerprinted and checked against plain Spark over a parquet copy of
  * the generated rows. */
final class ScanMix(c: Ctx) extends Workload {
  private val seed = c.opts.seed
  private val Days = 16
  private val Appends = 10
  private val RowsPerAppend = 3000
  private val Slices = 6
  private val Name = "scan_mix"
  private val oraclePath = s"${c.opts.work}/oracle_parquet"
  private var t: IceTable = _
  private val snaps = mutable.ArrayBuffer[Long]()
  private var qn = 0L

  private val AggCols = Seq("k", "n", "sv")
  private val results = mutable.ArrayBuffer[(Q, String, (Long, Long))]()
  private val planStats = mutable.Map[Long, (Int, Int)]() // snapshot -> (live files, manifests)

  def tables: Seq[IceTable] = Seq(t)
  def liveRows: Long = Appends.toLong * RowsPerAppend

  private def rows(b: Int) =
    (0 until RowsPerAppend).map(i => Event.gen(seed, b.toLong * RowsPerAppend + i, b, Days).row)

  def setup(): Unit = {
    val cat = c.catalog()
    val schema = Schema.fromSpark(Event.SparkSchema)
    t = cat.createTable(Name, schema, PartitionSpec.build(schema, 0, ("ts", DayTransform, "ts_day")),
      Map("format-version" -> "2"))
    c.phase("appends")((0 until Appends).foreach { b =>
      t.append(c.spark.createDataFrame(c.spark.sparkContext.parallelize(rows(b), Slices),
        Event.SparkSchema))
      snaps += t.metadata.currentSnapshotId.get
    })
    c.phase("parquet_copy")(c.spark.createDataFrame(c.spark.sparkContext.parallelize(
      (0 until Appends).flatMap(rows), Slices), Event.SparkSchema)
      .write.parquet(oraclePath))
    c.phase("warm_up")(round(-1))
  }

  private def next(n: Long): Long = { qn += 1; Gen.below(seed, 10, qn, n) }

  private def pointQ(): Q = {
    val id = next(liveRows)
    Q("point", s"id = $id", s"id = $id", Event.Cols)
  }
  private def rangeQ(shape: String, width: Int, extra: Boolean, travel: Option[Int]): Q = {
    val d = next(Days - width + 1)
    val (f, s) = Event.dayFilter(d, d + width)
    if (extra) Q(shape, s"$f and k < 8", s"$s AND k < 8", Seq("id", "k", "v"), travel)
    else Q(shape, f, s, Seq("id", "v"), travel)
  }

  private def apiScan(q: Q): DataFrame = {
    val base = t.scan(q.filter).select(q.proj: _*)
    q.travelTo.fold(base)(j => base.useSnapshot(snaps(j))).toDF
  }
  private def dsv2(travel: Option[Int]): DataFrame = {
    val r = c.spark.read.format("graft").option("warehouse", c.warehouse).option("table", Name)
    travel.fold(r)(j => r.option("snapshot-id", snaps(j).toString)).load()
  }
  private def agg(df: DataFrame): DataFrame =
    df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))

  private def scan(path: String, q: Q): Unit = {
    val layer = if (path == "api") "table" else "spark"
    c.op(s"${path}_${q.shape}", layer) {
      q.shape match {
        case "full_agg" =>
          c.fingerprint(agg(if (path == "api") t.scan.toDF else dsv2(None)), AggCols)
        case _ if path == "api" => c.fingerprint(apiScan(q), q.proj)
        case _ => c.fingerprint(dsv2(q.travelTo).where(q.sql).select(q.proj.map(col): _*), q.proj)
      }
    } { fp => results += ((q, path, fp)); None }
      .foreach(fp => if (c.trace && c.measuring && q.shape != "full_agg") tracePlan(q, fp._1))
  }

  /** Traced run only: plan the same scan on its own, outside the timed
    * operation, for the planning share and the pruning ratios. */
  private def tracePlan(q: Q, rowsReturned: Long): Unit = {
    val tr = c.tracer
    val snap = q.travelTo.map(snaps).getOrElse(t.metadata.currentSnapshotId.get)
    val (live, manifests) = planStats.getOrElseUpdate(snap, {
      val s = t.metadata.snapshotById(snap).get
      (t.scan.useSnapshot(snap).planFiles().size, ManifestIO.readManifestList(s.manifestList).size)
    })
    val t0 = System.nanoTime()
    val tasks = t.scan(q.filter).useSnapshot(snap).planFiles()
    tr.add("table.plan_s", (System.nanoTime() - t0) / 1e9)
    tr.add("table.plans", 1)
    tr.add("table.tasks_planned", tasks.size)
    tr.add("table.files_considered", live)
    tr.add("table.rows_examined", tasks.map(_.file.recordCount).sum.toDouble)
    tr.add("table.rows_returned", rowsReturned.toDouble)
    tr.add("meta.manifests_listed", manifests)
  }

  def round(r: Int): Unit = {
    val p = pointQ()
    scan("api", p); scan("dsv2", p)
    val d = rangeQ("day_scan", 1, extra = false, None)
    scan("api", d); scan("dsv2", d)
    val m = rangeQ("range_scan", 4, extra = true, None)
    scan("api", m); scan("dsv2", m)
    val tt = rangeQ("time_travel", 2, extra = false, Some(1 + next(Appends - 2).toInt))
    scan("api", tt)
    val a = Q("full_agg", "", "", AggCols)
    scan("api", a); scan("dsv2", a)
  }

  def verify(): Unit = {
    val pq = c.spark.read.parquet(oraclePath)
    val qs = results.map(_._1).filter(_.shape != "full_agg").distinct.toSeq
    val aggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val pred = expr(q.oracleSql)
      Seq(count(when(pred, lit(1))).as(s"n$i"),
        coalesce(sum(when(pred, c.rowHash(q.proj))), lit(0L)).as(s"h$i"))
    }
    val row = pq.agg(aggs.head, aggs.tail: _*).head()
    val want = qs.zipWithIndex.map { case (q, i) => q -> ((row.getLong(2 * i), row.getLong(2 * i + 1))) }.toMap
    val wantAgg = c.fingerprint(agg(pq), AggCols)
    results.foreach { case (q, path, got) =>
      val exp = if (q.shape == "full_agg") wantAgg else want(q)
      c.check(s"$path ${q.shape} [${q.filter}${q.travelTo.fold("")(j => s" @append $j")}]",
        counted = false)(
        got == exp, s"got (rows, checksum) $got, parquet copy gives $exp")
    }
  }
}
