package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{BucketTransform, DayTransform, Schema}
import graft.meta.PartitionSpec
import graft.table.IceTable

/** Small appends, predicate deletes and key upserts on a copy-on-write v2
  * table partitioned by day(ts) and bucket(8, id), with a read-back scan
  * and a maintenance pass (compaction, snapshot expiry, manifest rewrite)
  * in every round, so metadata size and write amplification level off.
  * A driver-side model applies the same operations; the table must match
  * it after every read-back and at the end. */
final class DmlChurn(c: Ctx) extends Workload {
  private val seed = c.opts.seed
  private val Days = 4
  private val InitRows = 3000
  private val AppendRows = 150
  private val DeleteWidth = 40
  private val UpsertUpdates = 30
  private val UpsertInserts = 15
  private val Name = "dml_churn"
  private var t: IceTable = _
  private val model = mutable.LongMap[Event]()
  private var nextId = 0L
  private var qn = 0L

  def tables: Seq[IceTable] = Seq(t)
  def liveRows: Long = model.size.toLong

  private def next(n: Long): Long = { qn += 1; Gen.below(seed, 20, qn, n) }
  private def df(rows: Seq[Event]): DataFrame =
    c.spark.createDataFrame(c.spark.sparkContext.parallelize(rows.map(_.row), 2), Event.SparkSchema)
  private def fresh(n: Int, b: Int, day: Option[Long] = None): Seq[Event] =
    (0 until n).map { _ =>
      val id = nextId; nextId += 1
      day.fold(Event.gen(seed, id, b, Days))(d => Event.gen(seed, id, b, d))
    }
  private def liveInDay(d: Long): Array[Event] =
    model.valuesIterator.filter(_.day == d).toArray.sortBy(_.id)

  def setup(): Unit = {
    val schema = Schema.fromSpark(Event.SparkSchema)
    t = c.catalog().createTable(Name, schema, PartitionSpec.build(schema, 0,
      ("ts", DayTransform, "ts_day"), ("id", BucketTransform(8), "id_bucket")),
      Map("format-version" -> "2"))
    val init = fresh(InitRows, 0)
    c.phase("initial_append")(t.append(df(init)))
    init.foreach(e => model(e.id) = e)
    c.phase("warm_up")(round(-1))
  }

  private def append(r: Int): Unit = {
    val rows = fresh(AppendRows, r + 1000)
    c.op("append", "table")(t.append(df(rows)))(_ => None)
      .foreach { _ => rows.foreach(e => model(e.id) = e); c.rowsChanged += rows.size }
  }

  private def delete(): Unit = {
    val d = next(Days)
    val live = liveInDay(d)
    val lo = live(next(live.length).toInt).id
    val hi = lo + DeleteWidth
    val (f, _) = Event.dayFilter(d, d + 1)
    val gone = live.filter(e => e.id >= lo && e.id < hi).map(_.id)
    c.op("delete", "table")(t.delete(s"$f and id >= $lo and id < $hi"))(_ => None)
      .foreach { _ => gone.foreach(model.remove); c.rowsChanged += gone.length }
  }

  private def upsert(r: Int): Unit = {
    val d = next(Days)
    val live = liveInDay(d)
    val picked = (0 until UpsertUpdates).map(_ => live(next(live.length).toInt)).distinct
    val updates = picked.map(e => e.copy(v = e.v + 1 + next(1000), b = r + 2000))
    val rows = updates ++ fresh(UpsertInserts, r + 2000, Some(d))
    c.op("upsert", "table")(t.upsert(df(rows), Seq("id"))) { case (upd, ins) =>
      if (upd == updates.size && ins == UpsertInserts) None
      else Some(s"upsert reported ($upd updated, $ins inserted), " +
        s"model expects (${updates.size}, $UpsertInserts)")
    }.foreach { _ => rows.foreach(e => model(e.id) = e); c.rowsChanged += rows.size }
  }

  private def readBack(): Unit = {
    val d = next(Days)
    val (f, _) = Event.dayFilter(d, d + 1)
    val want = liveInDay(d)
    val exp = (want.length.toLong, want.map(_.v).sum)
    c.op("read_back", "table") {
      val r = t.scan(f).select("id", "v").toDF.agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }(got => if (got == exp) None else Some(s"day $d: got (rows, sum v) $got, model $exp"))
  }

  private def maintain(): Unit =
    c.op("maintenance", "table") {
      t.rewriteDataFiles()
      t.expireSnapshots(System.currentTimeMillis(), retainLast = 2)
      t.rewriteManifests()
    }(_ => None)

  def round(r: Int): Unit = {
    append(r); delete(); readBack(); upsert(r); maintain()
  }

  def verify(): Unit = {
    val got = c.fingerprint(t.refresh().scan.toDF, Event.Cols)
    val want = c.fingerprint(df(model.values.toSeq), Event.Cols)
    c.check("dml_churn final table matches the model")(got == want,
      s"table (rows, checksum) $got, model $want")
  }
}
