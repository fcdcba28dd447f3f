package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{IdentityTransform, Schema}
import graft.meta.PartitionSpec
import graft.ops.IncrementalAgg.AggView
import graft.streaming.{MaterializedAgg, TableChanges}
import graft.table.IceTable

/** A change-data cycle on a v3 merge-on-read table with row lineage:
  * append, deletion-vector delete and upsert, then a lineage CDC poll from
  * the last cursor and an incremental refresh of an aggregate view. The
  * poll's per-type change counts must equal the generator's; at the end
  * the table must match the driver-side model and the view must match a
  * from-scratch GROUP BY of the source. */
final class CdcMv(c: Ctx) extends Workload {
  private val seed = c.opts.seed
  private val Groups = 24
  private val InitRows = 2000
  private val AppendRows = 100
  private val DeleteWidth = 15
  private val UpsertUpdates = 30
  private val UpsertInserts = 10
  private val View = AggView(keys = Seq("g"), sums = Seq("v"), maxs = Seq("v"))
  private val Cols = Seq("id", "g", "v")
  private val SparkSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("g", IntegerType), StructField("v", LongType)))
  private var src: IceTable = _
  private var mv: IceTable = _
  private var cursor: Option[Long] = None
  private val model = mutable.LongMap[(Int, Long)]()
  private var nextId = 0L
  private var qn = 0L

  def tables: Seq[IceTable] = Seq(src, mv)
  def liveRows: Long = model.size.toLong

  private def next(n: Long): Long = { qn += 1; Gen.below(seed, 30, qn, n) }
  private def gen(id: Long): (Long, Int, Long) =
    (id, Gen.below(seed, 31, id, Groups).toInt, Gen.below(seed, 32, id, 1000000L))
  private def df(rows: Seq[(Long, Int, Long)]): DataFrame =
    c.spark.createDataFrame(c.spark.sparkContext.parallelize(
      rows.map { case (i, g, v) => Row(i, g, v) }, 1), SparkSchema)
  private def fresh(n: Int): Seq[(Long, Int, Long)] =
    (0 until n).map { _ => val id = nextId; nextId += 1; gen(id) }

  def setup(): Unit = {
    val cat = c.catalog()
    val mor = Map("format-version" -> "3", "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read", "write.merge.mode" -> "merge-on-read")
    src = cat.createTable("cdc_src", Schema.fromSpark(SparkSchema), properties = mor)
    val init = fresh(InitRows)
    c.phase("initial_append")(src.append(df(init)))
    init.foreach { case (i, g, v) => model(i) = (g, v) }
    val mvSchema = MaterializedAgg.schemaFor(View, src)
    mv = cat.createTable("cdc_mv", mvSchema,
      PartitionSpec.build(mvSchema, 0, ("g", IdentityTransform, "g")),
      Map("format-version" -> "2"))
    cursor = c.phase("bootstrap")(MaterializedAgg.bootstrap(src, mv, View))
    c.phase("warm_up")(round(-1))
  }

  def round(r: Int): Unit = {
    val before = model.keys.toArray.sorted
    // append
    val added = fresh(AppendRows)
    c.op("append", "table")(src.append(df(added)))(_ => None)
      .foreach { _ => added.foreach { case (i, g, v) => model(i) = (g, v) }; c.rowsChanged += added.size }
    // deletion-vector delete of a key window that existed at the cursor
    val lo = before(next(before.length).toInt)
    val gone = before.filter(i => i >= lo && i < lo + DeleteWidth && model.contains(i))
    c.op("delete", "table")(src.deleteAsDeletionVector(s"id >= $lo and id < ${lo + DeleteWidth}"))(_ => None)
      .foreach { _ => gone.foreach(model.remove); c.rowsChanged += gone.length }
    // upsert: changed values for keys that existed at the cursor, plus new keys
    val kept = before.filter(model.contains)
    val upd = (0 until UpsertUpdates).map(_ => kept(next(kept.length).toInt)).distinct
      .map { i => val (g, v) = model(i); (i, g, v + 1 + next(1000)) }
    val ins = fresh(UpsertInserts)
    c.op("upsert", "table")(src.upsert(df(upd ++ ins), Seq("id"))) { case (u, n) =>
      if (u == upd.size && n == ins.size) None
      else Some(s"upsert reported ($u updated, $n inserted), expected (${upd.size}, ${ins.size})")
    }.foreach { _ => (upd ++ ins).foreach { case (i, g, v) => model(i) = (g, v) }; c.rowsChanged += upd.size + ins.size }
    // poll the net change since the cursor
    val want = Map("insert" -> (added.size + ins.size).toLong,
      "delete" -> gone.length.toLong, "update" -> upd.size.toLong).filter(_._2 > 0)
    c.op("cdc_poll", "streaming") {
      val (feed, nextCursor) = TableChanges.pollLineageCdc(src, cursor)
      (feed.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap, nextCursor)
    } { case (got, _) =>
      if (got == want) None else Some(s"change counts $got, generator made $want")
    }.foreach { case (got, nc) =>
      cursor = nc
      c.tracer.add("streaming.changelog_rows", got.values.sum.toDouble)
    }
    c.op("refresh", "streaming")(MaterializedAgg.refreshOnce(src, mv))(_ => None)
      .foreach { case (changed, retired) =>
        c.tracer.add("streaming.mv_groups_changed", (changed + retired).toDouble)
      }
  }

  def verify(): Unit = {
    val got = c.fingerprint(src.refresh().scan.toDF, Cols)
    val want = c.fingerprint(df(model.toSeq.map { case (i, (g, v)) => (i, g, v) }), Cols)
    c.check("cdc_mv final source table matches the model")(got == want,
      s"table (rows, checksum) $got, model $want")
    val aggCols = Seq("g", "cnt", "s_v", "nn_v", "mx_v")
    def rows(df: DataFrame): Set[Seq[Long]] =
      df.select(aggCols.map(col(_).cast("long")): _*).collect().map(r => aggCols.indices.map(r.getLong)).toSet
    val scratch = rows(src.scan.toDF.groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("s_v"),
      count("v").as("nn_v"), max("v").as("mx_v")))
    val view = rows(mv.refresh().scan.toDF)
    c.check("cdc_mv view matches a from-scratch GROUP BY of the source")(view == scratch,
      s"view rows not in GROUP BY ${(view -- scratch).take(3)}; GROUP BY rows not in view ${(scratch -- view).take(3)}")
  }
}
