package perfbench

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded, stateless value generation: every value is a hash of
  * (seed, salt, index), so the same seed always yields the same rows and
  * the same operation sequence. */
object Gen {
  def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def hash(seed: Long, salt: Long, i: Long): Long =
    mix(seed * 0x9e3779b97f4a7c15L + salt * 0xc2b2ae3d27d4eb4fL + i)
  /** Uniform in [0, n). */
  def below(seed: Long, salt: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(hash(seed, salt, i), n)

  val Day0: Long = LocalDate.of(2024, 1, 1).toEpochDay
  val MsPerDay = 86400000L
  def dayString(day: Long): String = LocalDate.ofEpochDay(Day0 + day).toString
}

/** The row shape of the scan and DML workloads: a key, an event time,
  * a small-cardinality group, a value, a payload and the batch that
  * wrote the row. */
final case class Event(id: Long, tsMs: Long, k: Int, v: Long, s: String, b: Int) {
  def day: Long = tsMs / Gen.MsPerDay - Gen.Day0
  def row: Row = Row(id, new Timestamp(tsMs), k, v, s, b)
}

object Event {
  val Cols: Seq[String] = Seq("id", "ts", "k", "v", "s", "b")
  val SparkSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("k", IntegerType),
    StructField("v", LongType),
    StructField("s", StringType),
    StructField("b", IntegerType)))

  /** Event `id` of batch `b` on a day drawn from [0, days). */
  def gen(seed: Long, id: Long, b: Int, days: Int): Event = {
    val day = Gen.below(seed, 1, id, days)
    gen(seed, id, b, day)
  }

  def gen(seed: Long, id: Long, b: Int, day: Long): Event = {
    val h = Gen.hash(seed, 2, id)
    Event(id, (Gen.Day0 + day) * Gen.MsPerDay + java.lang.Math.floorMod(h, Gen.MsPerDay),
      java.lang.Math.floorMod(h >>> 27, 16L).toInt,
      java.lang.Math.floorMod(Gen.hash(seed, 3, id), 1000000L),
      f"p${java.lang.Math.floorMod(h >>> 11, 100000L)}%05d-${id % 97}%02d", b)
  }

  /** Predicate on one day, in the library's filter DSL and in Spark SQL. */
  def dayFilter(d0: Long, d1: Long): (String, String) = {
    val a = Gen.dayString(d0); val z = Gen.dayString(d1)
    (s"ts >= '${a}T00:00:00' and ts < '${z}T00:00:00'",
      s"ts >= TIMESTAMP '$a 00:00:00' AND ts < TIMESTAMP '$z 00:00:00'")
  }
}
