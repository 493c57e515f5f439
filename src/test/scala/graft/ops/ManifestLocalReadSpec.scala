package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity of the driver-LOCAL manifest entry decode (parquet-mr Group
  * reads, zero Spark jobs) against the distributed chokepoint: both
  * venues must materialize identical snapshots at every version of a
  * table whose manifest exercises chains (linked appends), removes
  * (upsert), stats, blooms and constraints. The venue is chosen by the
  * planning budget key — Long.MaxValue pins driver-local, -1 forces
  * distributed. */
class ManifestLocalReadSpec extends SparkSpec {
  import spark.implicits._

  private val key = graft.plans.ManifestScan.DistributedMinBytesKey
  private def conf = spark.sparkContext.hadoopConfiguration

  private def withBudget[A](v: Long)(f: => A): A = {
    val old = conf.get(key)
    conf.setLong(key, v)
    try f finally { if (old == null) conf.unset(key) else conf.set(key, old) }
  }

  test("local decode == distributed collect at every version") {
    val dir = Files.createTempDirectory("graft-localread").toString + "/tbl"
    val base = spark.range(0, 300).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 5).cast("string").as("p"))
    Manifest.create(spark, dir, base, "p",
      statsCols = Seq("v"), bloomCols = Seq("k"))
    Manifest.append(spark, dir, spark.range(300, 400).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 5).cast("string").as("p")), "p")
    Manifest.upsert(spark, dir, spark.range(0, 50).select($"id".as("k"),
      ($"id" * 7.0).as("v"), ($"id" % 5).cast("string").as("p")),
      Seq("k"), "p")
    Manifest.addConstraint(spark, dir, "v_nonneg", "v >= 0")
    Manifest.append(spark, dir, spark.range(400, 450).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 5).cast("string").as("p")), "p")
    val versions = Manifest.versions(spark, dir)
    assert(versions.size >= 4)
    versions.foreach { v =>
      val local = withBudget(Long.MaxValue)(
        Manifest.loadSnapshot(spark, dir, Some(v)))
      val dist = withBudget(-1L)(
        Manifest.loadSnapshot(spark, dir, Some(v)))
      assert(local.entries.sortBy(_.path) == dist.entries.sortBy(_.path),
        s"entry mismatch at v$v")
      assert(local.ddl == dist.ddl && local.statsCols == dist.statsCols &&
        local.bloomCols == dist.bloomCols &&
        local.constraints == dist.constraints &&
        local.dvDirs == dist.dvDirs && local.colMap == dist.colMap)
    }
    // and the two venues answer reads identically
    val a = withBudget(Long.MaxValue)(
      Manifest.read(spark, dir).orderBy($"k").collect().toSeq)
    val b = withBudget(-1L)(
      Manifest.read(spark, dir).orderBy($"k").collect().toSeq)
    assert(a == b)
  }

  test("column-mapped (renamed) tables decode identically") {
    val dir = Files.createTempDirectory("graft-localread2").toString + "/tbl"
    val base = spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 3).cast("string").as("p"))
    Manifest.create(spark, dir, base, "p")
    Manifest.renameColumn(spark, dir, "v", "price")
    Manifest.append(spark, dir, spark.range(100, 120).select($"id".as("k"),
      ($"id" * 2.0).as("price"), ($"id" % 3).cast("string").as("p")), "p")
    val local = withBudget(Long.MaxValue)(Manifest.loadSnapshot(spark, dir))
    val dist = withBudget(-1L)(Manifest.loadSnapshot(spark, dir))
    assert(local.entries.sortBy(_.path) == dist.entries.sortBy(_.path))
    assert(local.colMap == dist.colMap)
  }

  test("liveEntries subtracts extra removes identically in both venues") {
    val dir = Files.createTempDirectory("graft-localread3").toString + "/tbl"
    // one file per write, each append in its own partition value, so
    // the upsert rewrites only the p=9 file and leaves a chain remove
    def rows(lo: Long, hi: Long, p: String) = spark.range(lo, hi)
      .select($"id".as("k"), ($"id" * 2.0).as("v"), lit(p).as("p"))
    Manifest.create(spark, dir, rows(0, 100, "0"), "p", statsCols = Seq("v"))
    Seq("7", "8", "9").zipWithIndex.foreach { case (p, i) =>
      Manifest.append(spark, dir, rows(100 + i * 50, 150 + i * 50, p), "p") }
    Manifest.upsert(spark, dir, rows(200, 210, "9"), Seq("k"), "p")
    val meta = Manifest.snapshotMeta(spark, dir)
    assert(meta.removedPaths.nonEmpty,
      "the table must carry chain removes for the subtraction to compose")
    val all = Manifest.liveEntries(spark, meta)
    val extra = all.map(_.path).sorted.take(2)
    val local = withBudget(Long.MaxValue)(
      Manifest.liveEntries(spark, meta, extra))
    val dist = withBudget(-1L)(Manifest.liveEntries(spark, meta, extra))
    assert(local.sortBy(_.path) == dist.sortBy(_.path))
    assert(local.map(_.path).toSet == all.map(_.path).toSet -- extra &&
      all.size >= 4 && local.size == all.size - 2 &&
      local.forall(_.path.nonEmpty))
  }

  test("without the sentinel sidecar, loadSnapshot config == parquet sentinel row") {
    val src = Files.createTempDirectory("graft-localread4").toString + "/tbl"
    val base = spark.range(0, 100).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 3).cast("string").as("p"))
    Manifest.create(spark, src, base, "p",
      statsCols = Seq("v", "k"), bloomCols = Seq("k"))
    Manifest.addConstraint(spark, src, "v_nonneg", "v >= 0")
    Manifest.append(spark, src, spark.range(100, 120).select($"id".as("k"),
      ($"id" * 2.0).as("v"), ($"id" % 3).cast("string").as("p")), "p")
    // a copy at a fresh root: no header memo holds it yet, and deleting
    // its sidecars sends snapshotMeta to the parquet sentinel row
    val dir = Files.createTempDirectory("graft-localread5").toString + "/tbl"
    val fs = new Path(src).getFileSystem(conf)
    FileUtil.copy(fs, new Path(src), fs, new Path(dir), false, conf)
    val manifests = fs.listStatus(new Path(dir, "_manifests")).map(_.getPath)
    manifests.foreach(m => fs.delete(new Path(m, "_graft_sentinel"), false))
    assert(!manifests.exists(m => fs.exists(new Path(m, "_graft_sentinel"))))
    val snap = Manifest.loadSnapshot(spark, dir)
    val root = new Path(Manifest.snapshotMeta(spark, dir).manifestDirs.head)
    val row = spark.read.parquet(root.toString)
      .filter($"path" === "" && $"schema_ddl" =!= "")
      .as[ManifestEntry].collect().toSeq match { case Seq(r) => r }
    assert((snap.ddl, snap.statsCols, snap.bloomCols, snap.dvDirs,
      snap.constraints, snap.colMap) == (row.schema_ddl, row.stat_cols,
      row.bloom_cols, row.dv_dirs, row.constraints, row.values))
    assert(snap.constraints.nonEmpty && snap.bloomCols == Seq("k"))
    // and the copy reads as the original does
    val orig = Manifest.loadSnapshot(spark, src)
    assert(snap.copy(entries = Nil) == orig.copy(entries = Nil) &&
      snap.entries.sortBy(_.path) == orig.entries.sortBy(_.path))
  }
}
