package graft.ops

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.SparkSpec

/** Parity of the one-pass write stats (collected during the batch write
  * through the WriteJobStatsTracker hook) against a read-back ORACLE: a
  * plain DataFrame aggregation over the staged part files, grouped by
  * `input_file_name`. Every manifest field must match the oracle field
  * for field — partition value sets (sorted, capped, overflow flag),
  * null flags, row counts, min/max renderings (incl. the zone-free
  * epoch-micros TIMESTAMP form) and bloom bitsets — and a CHECK abort
  * must report the oracle's violation count. */
class ManifestWriteStatsSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String) =
    Files.createTempDirectory(s"graft-wstats-$tag").toString + "/tbl"

  /** A frame that exercises every stats feature: >64 distinct partition
    * values (overflow), a null partition value (has_null), null stat
    * values, a timestamp stat column (one second per id from
    * 2017-07-14T02:40:00Z), and a non-ASCII value (binary UTF8 sort order
    * vs Java string order). */
  private def messy = spark.range(0, 500)
    .select(
      $"id".as("k"),
      when($"id" % 97 === 0, lit(null)).otherwise($"id" * 1.5).as("v"),
      when($"id" % 89 === 0, lit(null))
        .otherwise(($"id" + 1500000000L).cast("timestamp")).as("ts"),
      when($"id" % 101 === 0, lit(null))
        .when($"id" % 7 === 0, concat(lit("pé-"), $"id" % 80))
        .otherwise(concat(lit("p-"), $"id" % 80)).as("p"))

  /** One staged part file as the oracle sees it. */
  private case class Oracle(values: Seq[String], hasNull: Boolean,
                            rows: Long, mins: Seq[String],
                            maxs: Seq[String], bloom: Map[String, Seq[Long]],
                            violations: Seq[Long])

  /** The read-back oracle over the part files of one batch dir, keyed
    * by part file name. Min/max render as strings, TIMESTAMPs as epoch
    * micros; bloom bits are the k seeded positions of every non-null
    * value; a CHECK row violates when its expression is FALSE
    * (null/UNKNOWN passes). */
  private def oracle(batchDir: String, schema: StructType, pCol: String,
                     statsCols: Seq[String], bloomCols: Seq[String],
                     checks: Seq[String]): Map[String, Oracle] = {
    def render(agg: Column, c: String) = schema(c).dataType match {
      case TimestampType => unix_micros(agg).cast("string")
      case _ => agg.cast("string")
    }
    def strs(cs: Seq[Column]) =
      if (cs.isEmpty) typedLit(Seq.empty[String]) else array(cs: _*)
    val bloomAggs = for (c <- bloomCols; i <- 0 until Manifest.BloomHashes)
      yield collect_set(when(col(c).isNotNull, pmod(xxhash64(lit(i), col(c)),
        lit(Manifest.BloomBits.toLong))))
    val aggs = Seq(
      slice(sort_array(collect_set(col(pCol).cast("string"))), 1,
        Manifest.ValuesCap + 1),
      max(col(pCol).isNull.cast("int")),
      count(lit(1)),
      strs(statsCols.map(c => render(min(col(c)), c))),
      strs(statsCols.map(c => render(max(col(c)), c)))) ++ bloomAggs ++
      checks.map(sql =>
        sum(when(!coalesce(expr(sql), lit(true)), 1L).otherwise(0L)))
    spark.read.schema(schema).parquet(batchDir)
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val bloom = bloomCols.zipWithIndex.map { case (c, ci) =>
          val bits = new java.util.BitSet(Manifest.BloomBits)
          (0 until Manifest.BloomHashes).foreach(i =>
            r.getSeq[Long](6 + ci * Manifest.BloomHashes + i)
              .foreach(p => bits.set(p.toInt)))
          c -> bits.toLongArray.toSeq.padTo(Manifest.BloomBits / 64, 0L)
        }.toMap
        val vFrom = 6 + bloomCols.size * Manifest.BloomHashes
        new Path(r.getString(0)).getName -> Oracle(r.getSeq[String](1),
          r.getInt(2) == 1, r.getLong(3), r.getSeq[String](4),
          r.getSeq[String](5), bloom, checks.indices.map(i => r.getLong(vFrom + i)))
      }.toMap
  }

  private def only[A](xs: Seq[A]): A = { assert(xs.size == 1, xs); xs.head }

  /** The table's `data/b-*` batch dirs. */
  private def batchDirs(dir: String): Seq[String] =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir, "data")).toSeq
      .map(_.getPath.toString).filter(p => new Path(p).getName.startsWith("b-"))

  test("inline write stats == legacy read-back stats, field for field") {
    val dir = newDir("oracle")
    val (statsCols, bloomCols) = (Seq("v", "ts", "k"), Seq("k"))
    Manifest.create(spark, dir, messy, "p", statsCols = statsCols,
      bloomCols = bloomCols)
    val batch = only(batchDirs(dir))
    val want = oracle(batch, messy.schema, "p", statsCols, bloomCols, Nil)
    val got = Manifest.entriesDataset(spark, Manifest.snapshotMeta(spark, dir))
      .collect().toSeq.map(e => new Path(e.path).getName -> e).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    want.foreach { case (file, o) =>
      val e = got(file)
      val fromOracle = (o.values.take(Manifest.ValuesCap), o.hasNull,
        o.values.length > Manifest.ValuesCap, o.rows, o.mins, o.maxs)
      val fromManifest = (e.values, e.has_null, e.overflow, e.rows,
        e.stat_mins, e.stat_maxs)
      assert(fromManifest == fromOracle, s"entry mismatch for $file")
    }
    // the messy frame reaches every stats feature
    assert(want.values.exists(_.hasNull) &&
      want.values.exists(_.values.length > Manifest.ValuesCap))
    // the bloom sidecar carries the oracle's bitset per part file
    val bloomGot = spark.read.parquet(new Path(batch, "_bloom").toString)
      .collect().map(r => (new Path(r.getString(0)).getName, r.getString(1)) ->
        r.getSeq[Long](2)).toMap
    val bloomWant = for ((file, o) <- want; (c, bits) <- o.bloom)
      yield (file, c) -> bits
    assert(bloomGot == bloomWant)
  }

  test("stats-pruned scans return exactly the source rows") {
    val dir = newDir("prune")
    Manifest.create(spark, dir, messy, "p", statsCols = Seq("ts", "v"))
    // ids 200..399, null ts/v rows excluded
    def cond = $"ts" >= Timestamp.from(java.time.Instant.ofEpochSecond(
      1500000200L)) && $"v" < 600.0
    val got = graft.plans.ManifestScan.scan(spark, dir, Some("p"))
      .filter(cond).orderBy($"k").collect().toSeq
    assert(got.nonEmpty && got == messy.filter(cond).orderBy($"k").collect().toSeq)
  }

  test("constraint aborts report the oracle's violation count") {
    val dir = newDir("viol")
    Manifest.create(spark, dir, messy.filter($"v" > 0), "p")
    Manifest.addConstraint(spark, dir, "v_pos", "v > 0")
    val e = intercept[Manifest.ConstraintViolationException] {
      Manifest.append(spark, dir,
        Seq((9001L, -1.0, Timestamp.valueOf("2020-01-01 00:00:00"), "p-1"),
          (9002L, 2.0, Timestamp.valueOf("2020-01-01 00:00:00"), "p-1"))
          .toDF("k", "v", "ts", "p"), "p")
    }
    assert(e.name == "v_pos" && e.rows == 1)
    assert(Manifest.versions(spark, dir).size == 2) // create + constraint

    // over the messy frame: the abort names the first violated CHECK
    // with the oracle's total
    val dir2 = newDir("viol-messy")
    val checks = Seq("k_lt" -> "k < 450", "v_gt" -> "v > 10")
    Manifest.create(spark, dir2,
      messy.filter($"k" < 450 && ($"v".isNull || $"v" > 10)), "p")
    checks.foreach { case (n, sql) => Manifest.addConstraint(spark, dir2, n, sql) }
    val committed = batchDirs(dir2)
    val e2 = intercept[Manifest.ConstraintViolationException] {
      Manifest.append(spark, dir2, messy, "p")
    }
    // the aborted write's staged files stay behind as orphans
    val staged = only(batchDirs(dir2).diff(committed))
    val perFile = oracle(staged, messy.schema, "p", Nil, Nil, checks.map(_._2))
    val totals = checks.indices.map(i => perFile.values.map(_.violations(i)).sum)
    // ids 450..499 break k_lt; ids 1..6 (v = 1.5..9.0) break v_gt, and
    // id 0's null v passes
    assert(totals == Seq(50L, 6L))
    assert(e2.name == "k_lt" && e2.rows == totals.head)
    assert(Manifest.versions(spark, dir2).size == 3) // create + 2 constraints
  }
}
