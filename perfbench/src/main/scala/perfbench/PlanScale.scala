package perfbench

import graft.core._
import graft.meta._
import graft.table.IceTable

/** Planning only, over a metadata-only table written through the public
  * manifest and catalog calls: 240 manifests of 2,500 file entries each
  * (25 days x 100 files), about 2.3 times the default manifest cache.
  * The loop plans seeded date-range plus id-stats filters of three
  * widths; the widest crosses the distributed-planning threshold. Every
  * plan's task count must equal the count the synthetic layout implies. */
final class PlanScale(c: Ctx) extends Workload {
  private val seed = c.opts.seed
  private val Manifests = 240
  private val DaysPerManifest = 25
  private val FilesPerDay = 100
  private val IdsPerFile = 1000L
  private val Days = Manifests * DaysPerManifest
  private var t: IceTable = _
  private var qn = 0L

  def tables: Seq[IceTable] = Seq(t)
  override def liveFiles(): (Long, Long) = (Days.toLong * FilesPerDay, 0L)
  def liveRows: Long = Days.toLong * FilesPerDay * IdsPerFile

  private def next(n: Long): Long = { qn += 1; Gen.below(seed, 40, qn, n) }

  def setup(): Unit = {
    val schema = Schema(Seq(
      NestedField(1, "id", ILong, required = true),
      NestedField(2, "d", IDate, required = true)), 0)
    val spec = PartitionSpec.build(schema, 0, ("d", IdentityTransform, "d"))
    val cat = c.catalog()
    val t0 = cat.createTable("plan_scale", schema, spec)
    val metaDir = s"${t0.metadata.location}/metadata"
    val day0 = Gen.Day0.toInt
    // the file layout is a pure function of the seed: each day's files
    // are shuffled across the id space by a seeded offset
    val manifests = c.phase("write_manifests")((0 until Manifests).map { m =>
      val d0 = day0 + m * DaysPerManifest
      val entries = for {
        day <- d0 until d0 + DaysPerManifest
        f <- 0 until FilesPerDay
      } yield {
        val lo = f * IdsPerFile
        ManifestEntry(status = 1, snapshotId = 1L, dataSequenceNumber = 1L, fileSequenceNumber = 1L,
          dataFile = DataFile(content = 0,
            filePath = s"${t0.metadata.location}/data/d=$day/f-$f-${Gen.hash(seed, 41, day * 1000L + f)}.parquet",
            fileFormat = "PARQUET", partition = Seq(day),
            recordCount = IdsPerFile, fileSizeInBytes = 1000000L,
            lowerBounds = Map(1 -> lo), upperBounds = Map(1 -> (lo + IdsPerFile - 1))))
      }
      val path = s"$metaDir/m-$m.avro"
      val len = ManifestIO.writeManifest(path, entries, spec, schema)
      ManifestFile(path, len, spec.specId, content = 0,
        sequenceNumber = 1L, minSequenceNumber = 1L, addedSnapshotId = 1L,
        addedFilesCount = entries.size, existingFilesCount = 0, deletedFilesCount = 0,
        addedRowsCount = entries.size * IdsPerFile, existingRowsCount = 0L, deletedRowsCount = 0L,
        partitions = Seq(FieldSummary(containsNull = false, Some(false),
          Some(Conversions.toBytes(IDate, d0)),
          Some(Conversions.toBytes(IDate, d0 + DaysPerManifest - 1)))))
    })
    val listPath = s"$metaDir/snap-1.avro"
    ManifestIO.writeManifestList(listPath, manifests)
    val now = System.currentTimeMillis()
    cat.commit("plan_scale", t0.version, t0.metadata.copy(
      lastSequenceNumber = 1L, lastUpdatedMs = now, currentSnapshotId = Some(1L),
      snapshots = Seq(Snapshot(1L, None, 1L, now, listPath, Map("operation" -> "append"),
        t0.metadata.currentSchemaId)),
      refs = Map("main" -> SnapshotRef(1L, "branch"))))
    t = cat.loadTable("plan_scale")
    c.phase("warm_up")(round(-1))
  }

  /** Plans a date range of `days` days and an id window, and checks the
    * task count: every file of a matching day whose id range meets the
    * window. */
  private def plan(kind: String, minDays: Int, maxDays: Int): Unit = {
    val days = minDays + next(maxDays - minDays + 1).toInt
    val d0 = next(Days - days + 1)
    val idLo = next(FilesPerDay * IdsPerFile)
    val idHi = idLo + 500 + next(20000)
    val filesHit = (idLo / IdsPerFile to math.min(FilesPerDay - 1, (idHi - 1) / IdsPerFile)).size
    val want = days.toLong * filesHit
    val filter = s"d >= '${Gen.dayString(d0)}' and d <= '${Gen.dayString(d0 + days - 1)}' " +
      s"and id >= $idLo and id < $idHi"
    c.op(kind, "table")(t.scan(filter).planFiles().size) { n =>
      if (n == want) None else Some(s"[$filter] planned $n tasks, layout gives $want")
    }.foreach { n =>
      c.tracer.add("table.plans", 1)
      c.tracer.add("table.tasks_planned", n)
      c.tracer.add("table.files_considered", Days.toLong * FilesPerDay)
      c.tracer.add("meta.manifests_listed", Manifests)
    }
  }

  def round(r: Int): Unit = {
    (0 until 4).foreach(_ => plan("narrow_plan", 1, 20))
    (0 until 2).foreach(_ => plan("medium_plan", 200, 300))
    plan("wide_plan", 2000, 2200)
  }

  def verify(): Unit = ()
}
