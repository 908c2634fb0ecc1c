package graft.jobs

import graft.SparkSpec
import graft.table.{IcebergLite, SyntheticPages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** North-rule job mechanics: unit-granular checkpointed resume
  * (kill-and-rerun yields an identical table), manifest lineage,
  * size-bucketed processing.
  */
class ExtractJobSpec extends AnyFunSuite with SparkSpec {

  private val nPages = 240L
  private val cfg = ExtractJobConfig(nUnits = 6, partitionsPerUnit = 4)

  private def unitPages(u: Int): DataFrame = {
    import spark.implicits._
    val perUnit = nPages / cfg.nUnits
    spark.range(u * perUnit, (u + 1) * perUnit, 1, 2)
      .mapPartitions(_.map(id => SyntheticPages.pageFor(42L, id))).toDF()
  }

  private def tableDigest(t: IcebergLite): Seq[(String, String)] =
    t.read(spark)
      .select(col("url"), concat_ws("§", col("strategy_used"),
        col("succeeded"), col("partial"), sha2(coalesce(col("extracted_text"), lit("")), 256)).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

  test("kill-and-rerun resume produces an identical committed table") {
    val cleanDir = Files.createTempDirectory("graft-clean").toString
    val resumeDir = Files.createTempDirectory("graft-resume").toString
    val clean = new IcebergLite(cleanDir)
    val resumed = new IcebergLite(resumeDir)

    // uninterrupted run
    val ranClean = ExtractJob.runUnits(spark, unitPages, clean, cfg)
    assert(ranClean == (0 until cfg.nUnits))

    // killed after 2 units, then rerun
    intercept[RuntimeException] {
      ExtractJob.runUnits(spark, unitPages, resumed, cfg, failAfterUnits = 2)
    }
    assert(resumed.committedUnits(spark) == Seq(0, 1))
    val ranResume = ExtractJob.runUnits(spark, unitPages, resumed, cfg)
    assert(ranResume == (2 until cfg.nUnits)) // committed units skipped

    assert(tableDigest(clean) == tableDigest(resumed))
    clean.drop(spark); resumed.drop(spark)
  }

  test("manifest carries per-unit lineage and strategy histogram") {
    val dir = Files.createTempDirectory("graft-manifest").toString
    val t = new IcebergLite(dir)
    ExtractJob.runUnits(spark, unitPages, t, cfg)
    val m = t.manifest(spark)
    assert(m.count() == cfg.nUnits)
    val cols = m.columns.toSet
    assert(cols.contains("rows") && cols.contains("bytes") && cols.contains("unit"))
    assert(cols.exists(_.startsWith("strategy_")))
    val totalRows = m.agg(sum(col("rows").cast("long"))).collect()(0).getLong(0)
    assert(totalRows == nPages)
    // output rows carry task-partition lineage
    assert(t.read(spark).columns.contains("task_partition"))
    t.drop(spark)
  }

  test("oversized pages flow through the big bucket and extract correctly") {
    import spark.implicits._
    // find an oversized-family id in the first 500
    val bigId = (0L until 500L).find(id =>
      SyntheticPages.familyOf(42L, id) == "oversized").get
    val df = spark.range(bigId, bigId + 1).mapPartitions(
      _.map(id => SyntheticPages.pageFor(42L, id))).toDF()
    val out = ExtractJob.processUnit(df, cfg.copy(bigHtmlBytes = 100 * 1024))
    val row = out.select("strategy_used", "succeeded").collect()(0)
    assert(row.getBoolean(1))
  }

  test("re-publish is atomic: versioned manifest, unit never uncommitted") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-republish").toString
    val t = new IcebergLite(dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    t.commitUnit(df, 0, Map("rows" -> "2"))
    assert(t.isCommitted(spark, 0))
    val firstRows = t.manifest(spark).select("rows").collect()(0).getString(0)
    assert(firstRows == "2")
    // re-publish with new metrics: new version appears before old is
    // retired, so the unit is committed throughout; reader sees latest
    t.writeData(df.union(Seq((3L, "c")).toDF("id", "v")), 0)
    t.publish(spark, 0, Map("rows" -> "3"))
    assert(t.isCommitted(spark, 0))
    assert(t.committedUnits(spark) == Seq(0)) // one unit, not one per version
    assert(t.manifest(spark).count() == 1)    // latest version only
    assert(t.manifest(spark).select("rows").collect()(0).getString(0) == "3")
    assert(t.read(spark).count() == 3)
    t.drop(spark)
  }

  test("snapshots: time travel reads past table states; expiry bounds storage") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap").toString
    val t = new IcebergLite(dir)
    t.commitUnit(Seq((1L, "a")).toDF("id", "v"), 0)                  // snap 1
    t.commitUnit(Seq((2L, "b")).toDF("id", "v"), 1)                  // snap 2
    t.commitUnit(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), 0)      // snap 3: unit 0 v2
    assert(t.snapshots(spark) == Seq(1, 2, 3))
    // live view: latest of each unit
    assert(t.read(spark).count() == 3)
    // time travel: snap 1 had only unit 0 v1
    assert(t.readAt(spark, 1).select("v").collect().map(_.getString(0)).toSeq == Seq("a"))
    // snap 2: unit 0 v1 + unit 1 v1
    assert(t.readAt(spark, 2).count() == 2)
    assert(t.readAt(spark, 2).where(col("unit") === 0)
      .select("v").collect().map(_.getString(0)).toSeq == Seq("a"))
    // snap 3 == live
    assert(t.readAt(spark, 3).count() == 3)
    // expire all but the newest: unit 0 v1's data (referenced only by
    // snaps 1-2) is deleted; the live state still reads
    t.expireSnapshots(spark, keepLast = 1)
    assert(t.snapshots(spark) == Seq(3))
    assert(!Files.exists(java.nio.file.Paths.get(t.dataPath(0, 1))),
      "expired data version must be deleted")
    assert(t.read(spark).count() == 3)
    assert(t.readAt(spark, 3).count() == 3)
    intercept[IllegalArgumentException](t.readAt(spark, 1))
    t.drop(spark)
  }

  test("legacy unversioned manifests read as committed (version 0) and retire on republish") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-legacy").toString
    val t = new IcebergLite(dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // simulate a pre-upgrade table: data + a legacy `unit-0.json` manifest
    t.writeData(df, 0)
    val legacy = new java.io.File(s"$dir/manifest")
    legacy.mkdirs()
    Files.writeString(legacy.toPath.resolve("unit-0.json"),
      """{"unit": "0", "rows": "2"}""")
    assert(t.isCommitted(spark, 0), "legacy manifest must read as committed")
    assert(t.committedUnits(spark) == Seq(0))
    assert(t.read(spark).count() == 2)
    assert(t.manifest(spark).select("rows").collect()(0).getString(0) == "2")
    // republish writes v1 and retires the legacy file
    t.publish(spark, 0, Map("rows" -> "2"))
    assert(t.isCommitted(spark, 0))
    assert(!Files.exists(legacy.toPath.resolve("unit-0.json")),
      "legacy manifest not retired after republish")
    assert(t.manifest(spark).count() == 1)
    t.drop(spark)
  }

  test("legacy version-0 data migrates to v-0: expiry keeps live versions, staged rows stay invisible") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-legacy-v0").toString
    val t = new IcebergLite(dir)
    def manifest(u: Int): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$dir/manifest").resolve(s"unit-$u.json"),
        s"""{"unit": "$u"}""")
    // pre-upgrade table: loose parquet files directly in data/unit=<u>
    new java.io.File(s"$dir/manifest").mkdirs()
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/data/unit=0")
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/unit=1")
    manifest(0); manifest(1)
    assert(t.read(spark).count() == 2)
    // staging over a legacy unit must not leak into committed reads
    t.writeData(Seq((3L, "c")).toDF("id", "v"), 0)
    assert(t.read(spark).count() == 2, "staged v-1 rows leaked into a version-0 read")
    t.publish(spark, 0)                                   // snap1 = {0:1, 1:0}
    t.commitUnit(Seq((4L, "d")).toDF("id", "v"), 1)       // snap2 = {0:1, 1:1}
    t.commitUnit(Seq((5L, "e"), (6L, "f")).toDF("id", "v"), 1) // snap3 = {0:1, 1:2}
    // expiring snap1 drops (1, 0) — the legacy version — and must NOT
    // take unit 1's live versioned dirs down with it
    t.expireSnapshots(spark, keepLast = 2)
    assert(t.snapshots(spark) == Seq(2, 3))
    assert(t.read(spark).select("v").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("c", "e", "f"), "live versions destroyed by legacy-version expiry")
    assert(t.readAt(spark, 2).count() == 2)
    t.drop(spark)

    // read-only pre-upgrade state (built by the PRE-fix writer): loose
    // legacy files BESIDE a committed v-1, snapshot 1 referencing
    // version 0 — time travel must see only the legacy rows
    val dir2 = Files.createTempDirectory("graft-legacy-ro").toString
    val t2 = new IcebergLite(dir2)
    Seq((1L, "old")).toDF("id", "v").write.parquet(s"$dir2/data/unit=0")
    Seq((2L, "new"), (3L, "new")).toDF("id", "v")
      .write.parquet(s"$dir2/data/unit=0/v-1")
    new java.io.File(s"$dir2/manifest").mkdirs()
    new java.io.File(s"$dir2/snapshot").mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$dir2/manifest/unit-0-v1.json"),
      """{"unit": "0", "version": "1"}""")
    Files.writeString(java.nio.file.Paths.get(s"$dir2/snapshot/snap-1.json"),
      """{"0": 0}""")
    Files.writeString(java.nio.file.Paths.get(s"$dir2/snapshot/snap-2.json"),
      """{"0": 1}""")
    assert(t2.readAt(spark, 1).select("v").collect().map(_.getString(0)).toSeq ==
      Seq("old"), "version-0 time travel must not mix in v-1 files")
    assert(t2.readAt(spark, 2).count() == 2)
    t2.drop(spark)
  }

  test("host-grouped mode with salting spreads the hot host") {
    import spark.implicits._
    // skew family: all rows on host-0.example
    val skewIds = (0L until 2000L).filter(id =>
      SyntheticPages.familyOf(42L, id) == "skew").take(60)
    val df = spark.createDataset(skewIds).mapPartitions(
      _.map(id => SyntheticPages.pageFor(42L, id))).toDF()
    val out = ExtractJob.processUnit(df,
      cfg.copy(groupByHost = true, hostBudget = 10, saltBuckets = 4))
    val parts = out.select("task_partition").distinct().count()
    assert(parts > 1, s"hot host not spread: $parts partition(s)")
  }
}
