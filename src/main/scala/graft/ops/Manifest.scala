package graft.ops

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot-isolated parquet tables via a manifest protocol — the
  * table-format answer to the commit-phase crash window that
  * [[Merge.mergeInto]] / [[Layout.compact]] document: dynamic partition
  * overwrite DELETES target directories before renaming replacements,
  * so a crash inside commitJob can lose a partition. Here nothing is
  * ever deleted or renamed in place:
  *
  *  - DATA FILES are immutable. Every write job lands under a fresh
  *    `data/<uuid>/` prefix; an upsert/delete/compact REWRITES affected
  *    rows into new files and leaves the old files on disk.
  *  - A MANIFEST (itself a small parquet relation under
  *    `_manifests/m-<uuid>/`) lists the live files of one snapshot,
  *    with per-file stats for pruning. The table schema and the stats
  *    configuration are recorded ONCE, on a schema SENTINEL entry —
  *    not repeated per file — so manifest size stays one slim row per
  *    live file (~8×10⁵ rows for a 100 TB table at 128 MB files).
  *  - COMMIT is ONE atomic primitive: exclusive creation of a version
  *    pointer file `_versions/v<n>` naming the manifest. Two writers
  *    racing to the same version cannot both win — the loser gets a
  *    conflict ([[isConflict]]; optimistic concurrency, retry via
  *    [[withConflictRetry]]), and a crash ANYWHERE before the pointer
  *    create leaves the previous snapshot fully intact (orphaned
  *    staging files are garbage, not damage — [[vacuumOrphans]]
  *    reclaims them). Like Delta's per-filesystem LogStores, the
  *    primitive is scheme-aware: on `file:` the pointer is a hard-link
  *    publish (content fully written in a temp file, then atomically
  *    linked into place with O(1) fail-if-exists — no reader can ever
  *    observe a half-written pointer, and two simultaneous linkers
  *    cannot both succeed); on HDFS-like stores it is
  *    `FileSystem.create(path, overwrite = false)`, atomic there by
  *    contract.
  *  - READERS resolve max(`_versions/`) once and then read a frozen
  *    file list: no torn reads during concurrent writes, and any older
  *    version stays readable until vacuumed ([[readVersion]] — time
  *    travel).
  *
  * Partitioning WITHOUT Hive directories: the partition column stays a
  * normal data column (no information is moved into paths, so none of
  * the escaping/null-sentinel machinery applies). Writes cluster rows
  * by the partition column (`repartition(partitionCol)`), and the
  * manifest records each file's distinct partition-value set (string
  * rendering, capped at [[ValuesCap]] with an overflow flag — an
  * overflowed file is simply always a rewrite candidate). Pruning is
  * EQUALITY on that set — type-agnostic, no ordering semantics, no
  * false negatives by construction; the same file-skipping contract as
  * Delta/Iceberg data-file stats.
  *
  * Beyond partition equality, the manifest records per-file MIN/MAX for
  * a configurable set of stat columns (`statsCols` at [[create]] time):
  * [[readRange]] skips files whose recorded range cannot intersect a
  * predicate's bounds — the file-skipping contract for NON-partition
  * predicates (a date-ranged KPI read over a category-partitioned table
  * reads only the files whose date range overlaps). Values are stored
  * as Spark string renderings and compared TYPE-AWARE on the driver
  * (numerics parsed, dates/strings/timestamps lexicographic — ISO
  * renderings are order-preserving); a type with no safe ordering is
  * simply never pruned on. A file whose stat column is entirely null
  * records null min/max and is skipped by any range predicate (range
  * comparisons never match null rows).
  */
/** One live data file of a snapshot (top-level so its Spark `Encoder`
  * whole-stage-codegens — nested-in-object case classes fall back to
  * interpreted projections). `values` is the file's distinct
  * partition-value set as strings (null partition value tracked by
  * `has_null`); `overflow` = the set was capped, never prune this file.
  *
  * `schema_ddl`, `stat_cols`, and `bloom_cols` are populated ONLY on
  * the schema sentinel (`path = ""`): the table schema and the
  * stats/bloom column configuration live once per manifest, not once
  * per file. `stat_mins`/`stat_maxs` on file entries align
  * positionally with the sentinel's `stat_cols`; a null slot means the
  * column is all-null in that file. Bloom BITSETS never live in the
  * manifest at all — they are per-batch side relations (see
  * [[Manifest.readPoint]]) so the manifest stays one slim row per
  * file. */
case class ManifestEntry(path: String, values: Seq[String],
                         has_null: Boolean, overflow: Boolean,
                         rows: Long, bytes: Long, schema_ddl: String,
                         stat_cols: Seq[String],
                         stat_mins: Seq[String], stat_maxs: Seq[String],
                         bloom_cols: Seq[String],
                         dv_dirs: Seq[String] = Nil,
                         constraints: Seq[String] = Nil)

/** One deleted row position of a `_dv/` deletion-vector relation:
  * `path` is the data file (manifest-relative), `pos` its parquet row
  * index (`_metadata.row_index`). Top-level for Encoder codegen. */
case class DvEntry(path: String, pos: Long)

/** The conditional-clause MERGE INTO algebra ([[Manifest.mergeClauses]]
  * — SQL's `WHEN MATCHED [AND c] THEN UPDATE SET …/DELETE`,
  * `WHEN NOT MATCHED [AND c] THEN INSERT …`,
  * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET …/DELETE`).
  * Conditions and value expressions are ANSI SQL over the two row
  * sides, referenced through the merge call's target/source aliases
  * (default `t` / `s`); column names are the table's VISIBLE (logical)
  * names. Within each group, clauses apply FIRST-MATCH-WINS in
  * declaration order; a row no clause matches is untouched. */
object MergeClause {
  sealed trait Action
  /** visible column → SQL expression. Empty set list = `UPDATE SET *`:
    * every visible column takes the source's same-named value. */
  case class Update(set: Seq[(String, String)]) extends Action
  case object Delete extends Action
  case class Matched(action: Action, cond: Option[String] = None)
  /** visible column → SQL over the source side; omitted columns
    * insert NULL. Empty values list = `INSERT *`. */
  case class NotMatched(values: Seq[(String, String)],
                        cond: Option[String] = None)
  case class NotMatchedBySource(action: Action, cond: Option[String] = None)
}

/** One commit of [[Manifest.history]] — Delta's DESCRIBE HISTORY shape:
  * version, monotone commit time (in-commit `ts:` line, mtime fallback),
  * the operation that produced it (`op:` line; "" on pre-provenance
  * pointers), the exactly-once txn marker if one rode the commit, and
  * whether the commit was a multi-table participant. Top-level for
  * Encoder codegen. */
case class HistoryRow(version: Long, timestamp: java.sql.Timestamp,
                      operation: String,
                      txn_app_id: Option[String],
                      txn_batch_id: Option[Long],
                      multi_table: Boolean)

/** One table's contribution to a [[Manifest.commitAll]] multi-table
  * commit: append `df` at `dir` (creating the table if absent), or
  * replace the whole snapshot when `overwrite`.
  *
  * `statsCols` / `bloomCols` / `constraints` mirror [[Manifest.create]]
  * and apply ONLY when this write creates the table — a table born
  * inside a multi-table commit is a first-class table, with the same
  * stats pruning, bloom point lookups, and CHECK enforcement a
  * standalone `create` would configure. Against an EXISTING table the
  * snapshot's own configuration governs and these must be left empty
  * (a mid-stream reconfiguration would silently fork the table's
  * pruning contract, so it is rejected loudly). */
case class StagedWrite(dir: String, df: DataFrame, partitionCol: String,
                       overwrite: Boolean = false,
                       statsCols: Seq[String] = Nil,
                       bloomCols: Seq[String] = Nil,
                       constraints: Seq[String] = Nil)

/** One per-file bloom filter row of a batch's `_bloom/` side relation
  * (top-level for the same Encoder-codegen reason as ManifestEntry).
  * `bits` is the filter as packed 64-bit words, little-endian within
  * each word. */
case class BloomEntry(path: String, column: String, bits: Seq[Long])

object Manifest {

  /** Max distinct partition values recorded per file; beyond it the
    * file is marked overflow and never pruned out. */
  val ValuesCap: Int = 64

  /** Bloom filter geometry: m bits per file per column, k seeded
    * hashes. 32 Ki bits = 4 KiB/file/col — ~1% false positives at
    * ~3.3k distinct values per file, saturated-but-sound (no false
    * negatives, just no skipping) far beyond that. */
  val BloomBits: Int = 1 << 15
  val BloomHashes: Int = 4

  private val ManifestsDir = "_manifests"
  /** Per-commit delta sidecar file INSIDE its manifest's directory —
    * leading underscore keeps it invisible to the parquet read of the
    * manifest relation, and vacuum reclaims it with the manifest. */
  private val DeltaFile = "_graft_delta"
  /** Base pointer of a LINKED manifest (see [[linkManifest]]): a
    * one-line file inside the manifest dir naming the parent manifest
    * whose entries this one extends. Leading underscore keeps it
    * invisible to the parquet read; readers resolve the chain with
    * [[manifestChain]]. Unlike the delta sidecar this is NOT an
    * accelerator — a linked manifest without its base is an incomplete
    * entry set, so a corrupt base fails LOUDLY, never falls back. */
  private val BaseFile = "_graft_base"
  private val VersionsDir = "_versions"
  private val DataDir = "data"
  private val BloomDir = "_bloom"
  private val DvDir = "_dv"

  /** Linked-append chain cap: an append onto a chain already this deep
    * COMPACTS (distributed full-manifest rewrite) instead of linking,
    * bounding the per-listing directory fan-out and the vacuum
    * closure. Conf-tunable for tests. */
  val AppendMaxChainKey = "graft.manifest.append.maxChain"
  private val AppendMaxChainDefault = 64L
  /** Cumulative-remove bound for a linked commit: the chain's base
    * file carries every path removed along it (read once per
    * listing), so once the set stops being small — a steady partition
    * overwriter drops a few files per commit, so this covers hundreds
    * of commits — re-rooting (compaction) is cheaper than dragging
    * it. */
  private val LinkedRemovesCap = 65536
  /** Target parquet bytes per manifest part when COMPACTING — sizes
    * the distributed rewrite's file count so a 10⁷-entry manifest
    * compacts in parallel instead of through one writer task. */
  private val ManifestTargetBytes = 64L << 20

  /** Bit position of `c` under seed `i` — computed with Spark
    * expressions on BOTH the write path (over file rows) and the probe
    * path (over a one-row frame), so writer and reader can never
    * disagree on the hash. */
  private def bloomPosition(c: org.apache.spark.sql.Column, i: Int) =
    pmod(xxhash64(lit(i), c), lit(BloomBits.toLong))

  /** Is bit `pos` set in the packed-long `bits` array? `pos` may be a
    * literal (single-value probes) or a column (batch probes) — the ONE
    * encoding of the bloom membership test, shared by every prober so a
    * layout change cannot desynchronize them. */
  private def bloomBitTest(bits: org.apache.spark.sql.Column,
                           pos: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val p = pos.cast("int")
    val word = element_at(bits, floor(p / 64).cast("int") + lit(1))
    call_function("shiftright", word, p % 64) % 2 =!= 0
  }

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val root = new Path(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  // -------- version pointers --------

  private def versionPath(root: Path, v: Long): Path =
    new Path(new Path(root, VersionsDir), f"v$v%08d")

  /** Pointer line marking a MULTI-TABLE commit participant: the
    * pointer is visible iff the named parent marker file exists — the
    * all-or-nothing gate of [[commitAll]]. */
  private val MtxnPrefix = "mtxn:"

  /** Pointer line carrying the IN-COMMIT timestamp (epoch millis,
    * writer's clock at publish). `timestampAsOf` resolution prefers it
    * over the pointer file's modification time because object-store
    * copies, healing re-publishes, and backup/restore all rewrite
    * mtimes — the committed content is the only time record that
    * survives the file's own lifecycle (Delta's in-commit-timestamps
    * rationale). Legacy pointers without the line fall back to mtime;
    * monotonicity is restored at READ by [[versionTimes]]'s running
    * max, so the write path pays no extra round trip. */
  private val TsPrefix = "ts:"

  /** Pointer line naming the OPERATION that produced the commit
    * (CREATE, APPEND, UPSERT, RENAME_COLUMN, ...) — pure provenance
    * for [[history]], Delta's DESCRIBE HISTORY shape. Absent on
    * pre-provenance pointers (history shows ""). */
  private val OpPrefix = "op:"

  /** Is a pointer with these lines a COMMITTED version? A pointer with
    * no `mtxn:` line is plainly committed; one carrying the line is
    * committed only once its parent marker exists (a crashed
    * [[commitAll]] leaves pending pointers that must read as absent
    * forever). Marker existence is one `exists` probe, paid only for
    * multi-commit pointers.
    *
    * The marker is resolved via ITS OWN filesystem: [[commitAll]]
    * permits a `txnDir` on a different scheme/authority than a
    * participating table, and probing such a marker with the TABLE's fs
    * throws "Wrong FS" deterministically. An earlier form swallowed
    * every probe exception as "pending", which made cross-fs commits
    * invisible forever AND let [[healDeadPending]] delete their
    * committed pointers after the grace window — silent loss of
    * committed data. Now only a malformed marker URI reads as pending
    * (it can never name an existing file); every other probe failure —
    * auth, transient store error — PROPAGATES, because "cannot verify"
    * must never silently become "not committed". */
  private def pointerVisible(fs: FileSystem, lines: Seq[String]): Boolean =
    // an EMPTY pointer is a commit in flight: on stores whose create
    // is not atomic-visibility (hdfs-create, check-then-put stand-ins)
    // a reader can observe the pointer file after creation but before
    // its content lands. It carries no manifest name yet, so it is not
    // committed — readers must skip it (versions()) or retry
    // (rebaseTarget), never dereference lines.head. Observed as a
    // racing-append "head of empty list" crash before this guard.
    if (lines.isEmpty) false
    else lines.drop(1).find(_.startsWith(MtxnPrefix)) match {
      case Some(l) =>
        val raw = l.stripPrefix(MtxnPrefix).trim
        val uri =
          try new java.net.URI(raw)
          catch { case _: java.net.URISyntaxException => return false }
        val p = new Path(uri)
        val mfs = if (uri.getScheme == null) fs else p.getFileSystem(fs.getConf)
        mfs.exists(p) // exists() maps plain absence to false itself
      case None => true
    }

  /** Pointers whose visibility has been POSITIVELY verified, by
    * qualified URI. Sound to cache: visibility is MONOTONE —
    * a plain pointer is visible from birth, and a multi-commit
    * pointer's parent marker, once present, is only vacuumable
    * ([[vacuumTxnMarkers]]) after every pointer naming it is itself
    * gone (and a deleted pointer never appears in the listing again).
    * Pending (invisible) verdicts are NOT cached — the marker may land
    * a moment later. This keeps steady-state [[versions]] at one LIST
    * plus content reads for NEW pointers only, instead of a GET per
    * retained version per call — the difference between O(1) and
    * O(retention) round-trips per operation on an object store.
    *
    * Two guards on the `(uri, mtime, len)` key:
    *  - verdicts for pointers younger than [[VisibleFreshMillis]] are
    *    NOT cached. Pointer names are near-constant-length `m-<uuid>`
    *    strings, so `len` barely discriminates, and on stores with
    *    second-granularity mtimes a drop-and-recreate within the same
    *    tick could collide a NEW pending pointer with a cached positive
    *    verdict. Past the margin the collision is impossible: a
    *    recreate happening after the margin necessarily stamps a later
    *    mtime than the cached key's.
    *  - the cache is a PER-TABLE LRU ([[VisibleCachePerTable]], far
    *    above any vacuum retention), so one hot table crossing its
    *    bound evicts only its own eldest entries — never a global
    *    clear that would stampede every other table back into
    *    O(retention) pointer re-verification. */
  private[ops] var VisibleCachePerTable = 4096
  /** Outer bound too: a long-lived driver touching many distinct table
    * dirs (a catalog sweep, per-tenant tables) must not retain a dead
    * table's cache map forever — least-recently-USED tables evict
    * whole. Eviction only costs the evicted table a re-verification
    * walk on its next touch; 512 concurrently-hot tables per driver is
    * far above any real working set. */
  private[ops] var VisibleCacheTables = 512
  private val VisibleFreshMillis = 5000L
  private val visibleCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[
        String, java.util.Map[String, java.lang.Boolean]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[
              String, java.util.Map[String, java.lang.Boolean]]): Boolean =
          size() > VisibleCacheTables
      })
  private def tableVisibleCache(table: String)
      : java.util.Map[String, java.lang.Boolean] =
    visibleCache.computeIfAbsent(table, _ =>
      java.util.Collections.synchronizedMap(
        new java.util.LinkedHashMap[String, java.lang.Boolean](
          64, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
            size() > VisibleCachePerTable
        }))
  private[ops] def visibleTableCount: Int = visibleCache.size()
  private[ops] def clearVisibleCacheForTest(): Unit = visibleCache.clear()
  private[ops] def visibleCacheSize(spark: SparkSession, dir: String): Int = {
    val (_, root) = fsOf(spark, dir)
    Option(visibleCache.get(new Path(root, VersionsDir).toUri.toString))
      .map(_.size()).getOrElse(0)
  }

  /** All committed versions, ascending (empty = no table). Pending
    * multi-commit pointers (parent marker absent) are filtered out —
    * to every reader and every subsequent writer they do not exist. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, dir)
    val vd = new Path(root, VersionsDir)
    if (!fs.exists(vd)) Seq.empty
    else {
      val cache = tableVisibleCache(vd.toUri.toString)
      fs.listStatus(vd)
        .filter(_.getPath.getName.matches("v\\d{8}"))
        .sortBy(_.getPath.getName).toSeq
        .filter { st =>
          // keyed on (uri, mtime, len); only pointers past the
          // freshness margin are cached — see visibleCache's contract
          val key = st.getPath.toUri.toString +
            s"@${st.getModificationTime}:${st.getLen}"
          cache.containsKey(key) || {
            val v = st.getPath.getName.drop(1).toLong
            val ok =
              try pointerVisible(fs, readPointerLines(fs, root, v))
              catch { // racing vacuum deleted the pointer mid-walk
                case _: java.io.FileNotFoundException => false
              }
            if (ok && System.currentTimeMillis() - st.getModificationTime >
              VisibleFreshMillis)
              cache.put(key, java.lang.Boolean.TRUE)
            ok
          }
        }
        .map(_.getPath.getName.drop(1).toLong)
    }
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).lastOption

  /** Committed versions paired with their commit times — the pointer's
    * IN-COMMIT `ts:` line when present (see [[TsPrefix]]: store copies
    * and healing rewrite mtimes, committed content survives), the
    * pointer file's modification time for legacy/corrupt lines — then
    * MONOTONICALLY adjusted: a clock-skewed or retried pointer can
    * carry a time below its predecessor's, and a non-monotone series
    * would make `timestampAsOf` resolution ambiguous; the running max
    * restores a total order without moving any version (Delta's
    * commit-timestamp discipline). Ascending by version; O(retained
    * versions) pointer reads, no entry read. */
  /** One pointer's raw commit time: its in-commit `ts:` line, the file
    * mtime for legacy/corrupt lines. Shared by [[versionTimes]] and
    * [[history]] so the two can never disagree about a commit's time. */
  private def rawCommitTime(fs: FileSystem, root: Path, v: Long,
                            tagged: Seq[String]): Long =
    tagged.find(_.startsWith(TsPrefix))
      .flatMap(_.stripPrefix(TsPrefix).trim.toLongOption)
      .getOrElse(fs.getFileStatus(versionPath(root, v)).getModificationTime)

  private[graft] def versionTimes(spark: SparkSession,
                                  dir: String): Seq[(Long, Long)] = {
    val (fs, root) = fsOf(spark, dir)
    var floor = Long.MinValue
    versions(spark, dir).map { v =>
      floor = math.max(floor,
        rawCommitTime(fs, root, v, readPointerLines(fs, root, v).drop(1)))
      (v, floor)
    }
  }

  /** Pointer file content: line 1 = manifest name; then optional TAGGED
    * lines in any order — `txn:<appId>:<batchId>` (the idempotence
    * marker for exactly-once writers, see [[appendIfAbsent]]),
    * `mtxn:<markerUri>` (multi-table commit gate, see [[commitAll]]),
    * `ts:<epochMillis>` (in-commit timestamp, see [[TsPrefix]]).
    * Consumers prefix-match their tag and MUST tolerate unknown lines
    * (forward compatibility — an old reader meets new tags first). */
  private def readPointerLines(fs: FileSystem, root: Path, v: Long): Seq[String] = {
    val in = fs.open(versionPath(root, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def readPointer(fs: FileSystem, root: Path, v: Long): String =
    readPointerLines(fs, root, v).head.trim

  /** The atomic commit: exclusive-create `_versions/v<n>` pointing at
    * `manifestName`. Throws a [[isConflict]]-classified exception if `v`
    * is already claimed (lost race — re-read the table and retry the
    * whole operation, e.g. via [[withConflictRetry]]).
    *
    * The primitive itself is pluggable PER SCHEME ([[LogStore]],
    * Delta's LogStore shape): `file:` publishes via temp-write +
    * atomic hard link, HDFS-class stores via
    * `create(path, overwrite = false)` (atomic there by contract), and
    * S3-class stores — where that call is check-then-put and two
    * racers silently lose a commit — configure a conditional-put store
    * (`graft.logstore.<scheme>` in the Hadoop conf; see
    * [[ConditionalPutLogStore]]). */
  private def commit(fs: FileSystem, root: Path, v: Long,
                     manifestName: String,
                     txn: Option[(String, Long)] = None,
                     op: String = ""): Unit = {
    fs.mkdirs(new Path(root, VersionsDir))
    val target = versionPath(root, v)
    val content = manifestName + txn.map { case (app, b) =>
      require(!app.contains(':') && !app.contains('\n'),
        s"txn appId must not contain ':' or newline: $app")
      s"\ntxn:$app:$b"
    }.getOrElse("") + s"\n$TsPrefix${System.currentTimeMillis()}" +
      (if (op.isEmpty) "" else s"\n$OpPrefix$op")
    putPointer(fs, target, content.getBytes(StandardCharsets.UTF_8))
  }

  /** Exclusive pointer create with DEAD-PENDING healing: a conflict
    * against a pointer that is still INVISIBLE (its [[commitAll]]
    * parent marker never appeared) and older than the pending-grace
    * window (`graft.manifest.pendingGraceMillis`, default 10 min) is a
    * crashed multi-commit's leftover occupying the version slot — it
    * can never become visible (its writer is gone and its marker name
    * was never published anywhere else), so it is deleted and the
    * create retried once. Without this, one crashed multi-commit would
    * wedge every later writer in an eternal conflict loop. A FRESH
    * pending pointer (in-flight commitAll) conflicts normally — the
    * grace window is the same liveness assumption vacuum's
    * `staleMillis` makes. (Conditional-put stores that arbitrate at a
    * store-level reserve need the matching store-side release; the
    * grace semantics are this layer's contract.) */
  private def putPointer(fs: FileSystem, target: Path,
                         bytes: Array[Byte]): Unit =
    try LogStore.forFs(fs).putIfAbsent(fs, target, bytes)
    catch {
      case t: Throwable if isConflict(t) =>
        if (healDeadPending(fs, target) || waitOutPending(fs, target))
          LogStore.forFs(fs).putIfAbsent(fs, target, bytes)
        else throw t
    }

  /** Session conf first (the FileSystem CACHE may hold a conf copy
    * snapshotted before the caller set the key), then the FS conf. */
  private def confOf(fs: FileSystem) =
    org.apache.spark.sql.SparkSession.getDefaultSession
      .map(_.sparkContext.hadoopConfiguration).getOrElse(fs.getConf)

  private def pendingGrace(fs: FileSystem): Long = confOf(fs)
    .getLong("graft.manifest.pendingGraceMillis", 10 * 60 * 1000L)

  private def healDeadPending(fs: FileSystem, target: Path): Boolean =
    try {
      val grace = pendingGrace(fs)
      val st = fs.getFileStatus(target)
      val in = fs.open(target)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      if (!pointerVisible(fs, lines) &&
        st.getModificationTime < System.currentTimeMillis() - grace) {
        val store = LogStore.forFs(fs)
        store.claimInfo(fs, target).map(_._1) match {
          case Some(deadToken) =>
            // claim-arbitrated store: the CLAIM gates every publish, so
            // the heal is ONLY the token-conditional claim release — no
            // pointer-file delete at all. A paused healer resuming here
            // after another healer freed the slot and a new writer
            // re-claimed it simply no-ops (token mismatch) and can
            // never remove the live writer's pointer; the stale
            // pending file is overwritten by the next reserve winner's
            // publish (ConditionalPutLogStore.putIfAbsent creates with
            // overwrite=true behind its reserve gate). Heal succeeded
            // only if OUR release freed the dead claim.
            store.releaseIf(fs, target, deadToken)
          case None =>
            // filesystem-arbitrated store: the pointer file IS the
            // claim, and a file delete cannot be made conditional on
            // content — re-stat immediately before the delete and
            // abort on ANY change (a re-published pointer stamps a
            // later mtime). The stat→delete gap remains a BOUNDED
            // RESIDUAL RACE on plain-FS arbiters: two healers pausing
            // exactly there can free a just-re-claimed slot; its
            // consequence is a lost re-commit that the re-committer's
            // own conflict retry re-drives. Claim-arbitrated stores
            // (above) do not have the window.
            val st2 = fs.getFileStatus(target)
            if (st2.getModificationTime != st.getModificationTime ||
              st2.getLen != st.getLen) return false
            fs.delete(target, false)
            store.release(fs, target)
            true
        }
      } else false
    } catch {
      case _: java.io.FileNotFoundException =>
        healWedgedClaim(fs, target)
    }

  /** The conflict came from a store-side claim with NO pointer file —
    * a writer that died between its reserve and its publish (or whose
    * publish response was lost after the store recorded the claim).
    * Such a slot can never complete on its own: grace-window healing
    * needs a pointer file to read, and the dead writer will never
    * create one. Past the same pending-grace window the claim is
    * released — conditionally on its identity token, so a writer that
    * is merely slow (claim re-acquired between our read and our
    * release) is never stomped. A store that cannot date its claims
    * reports age 0 and the slot waits for an operator (`release` by
    * hand), which beats silently freeing a live writer's claim. */
  private def healWedgedClaim(fs: FileSystem, target: Path): Boolean = {
    val store = LogStore.forFs(fs)
    store.claimInfo(fs, target) match {
      case Some((token, age)) if age > pendingGrace(fs) =>
        // re-probe: the claim may have published its pointer between
        // the caller's FileNotFound and our claimInfo read — a file
        // that exists now means the slot is NOT wedged. Healed only if
        // OUR conditional release freed the claim (false = another
        // healer got there first, or a livelier writer re-acquired).
        if (fs.exists(target)) false
        else store.releaseIf(fs, target, token)
      case _ => false
    }
  }

  /** A conflict against a PENDING pointer (an in-flight [[commitAll]]
    * holding the slot) should not surface instantly: the pending
    * pointer is invisible, so `latestVersion` cannot advance and a
    * plain [[withConflictRetry]] loop would burn all its attempts
    * against the SAME slot in milliseconds even though no competing
    * commit ever became visible. Poll the pointer up to
    * `graft.manifest.pendingWaitMillis` (default 10 s):
    *  - it becomes VISIBLE (marker landed) → return false; the caller
    *    surfaces the conflict and the retry re-reads the advanced
    *    table — the normal lost-race path;
    *  - it VANISHES (the commitAll rolled back or was healed) → return
    *    true; the slot is genuinely free, retry the create;
    *  - still pending at the deadline → false; surface the conflict
    *    (the grace-window healing in [[healDeadPending]] owns the
    *    crashed-writer case).
    * A conflict against an already-visible pointer pays ONE content
    * read and zero sleep. */
  private def waitOutPending(fs: FileSystem, target: Path): Boolean = {
    val wait = confOf(fs).getLong("graft.manifest.pendingWaitMillis", 10000L)
    val deadline = System.currentTimeMillis() + wait
    var first = true
    while (first || System.currentTimeMillis() < deadline) {
      try {
        val in = fs.open(target)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        if (pointerVisible(fs, lines)) return false
      } catch { case _: java.io.FileNotFoundException => return true }
      first = false
      if (System.currentTimeMillis() < deadline) Thread.sleep(100)
    }
    false
  }

  /** True iff `t` is the lost-commit-race signature of [[commit]] —
    * the caller's cue to re-read the table and retry. */
  def isConflict(t: Throwable): Boolean = t match {
    case _: java.nio.file.FileAlreadyExistsException => true
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case e: java.io.IOException =>
      val m = Option(e.getMessage).getOrElse("")
      m.contains("already exists") || m.contains("File exists")
    case _ => false
  }

  /** Latest batch id committed for `appId`, scanning version pointers
    * newest-first (each is a one-line read; version count is bounded by
    * vacuum retention, and the newest matching marker wins so the scan
    * short-circuits). The reader half of the exactly-once contract:
    * a writer that tags commits with `(appId, batchId)` asks this
    * before re-applying a batch — Delta's `txnAppId`/`txnVersion`
    * idempotent-writes shape. */
  def lastTxn(spark: SparkSession, dir: String, appId: String): Option[Long] = {
    val (fs, root) = fsOf(spark, dir)
    val prefix = s"txn:$appId:"
    versions(spark, dir).reverseIterator.flatMap { v =>
      readPointerLines(fs, root, v).drop(1)
        .find(_.startsWith(prefix)).map(_.stripPrefix(prefix).trim.toLong)
    }.nextOption()
  }

  /** Run `op` (a whole read-merge-commit cycle), retrying up to
    * `attempts` times on a lost optimistic-concurrency race. Each retry
    * re-reads the latest snapshot, so the loser of a race folds its
    * change on top of the winner's commit. The first retry is
    * immediate (the common case — the winner's commit is already
    * visible to the re-read); later ones back off briefly so N
    * contending writers do not re-collide in lockstep. Conflicts whose
    * blocking pointer is merely PENDING are waited out upstream
    * ([[waitOutPending]]), so by the time a conflict reaches here a
    * competing commit is normally visible. */
  def withConflictRetry[T](attempts: Int = 5)(op: => T): T = {
    var i = 0
    while (true) {
      try return op
      catch { case t: Throwable if isConflict(t) && i < attempts - 1 =>
        if (i > 0) Thread.sleep(math.min(25L << (i - 1), 200L))
        i += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  // -------- manifest relations --------

  private type Entry = ManifestEntry

  /** One committed snapshot: live file entries, table schema, the
    * stats/bloom column configuration, and the live deletion-vector
    * dirs (all carried by the sentinel). `name` is the manifest's
    * content-addressed directory name (`m-<uuid>`) — the identity the
    * per-commit delta sidecars chain on (see [[writeManifest]]). */
  private[graft] case class Snapshot(entries: Seq[Entry], ddl: String,
                                     statsCols: Seq[String],
                                     bloomCols: Seq[String],
                                     dvDirs: Seq[String],
                                     constraints: Seq[String],
                                     name: String = "",
                                     colMap: Seq[String] = Nil)

  /** The committed snapshot of `dir` at version `v` (or latest) — the
    * planner-integration entry point ([[graft.plans.ManifestFileIndex]]
    * builds its file listing and pruning state from it): the memoized
    * header ([[snapshotMeta]]: pointer, chain, size, configuration)
    * plus the live entries ([[liveEntries]]). */
  private[graft] def loadSnapshot(spark: SparkSession, dir: String,
                                  v: Option[Long] = None): Snapshot = {
    val meta = snapshotMeta(spark, dir, v)
    Snapshot(liveEntries(spark, meta), meta.ddl, meta.statsCols,
      meta.bloomCols, meta.dvDirs, meta.constraints,
      new Path(meta.manifestDirs.last).getName, meta.colMap)
  }

  /** Every manifest leads with a schema SENTINEL entry (`path = ""`, no
    * file) carrying the table schema and stats configuration ONCE: a
    * snapshot whose rows were all deleted still knows its schema, and
    * file entries stay slim. This is the TABLE-BIRTH commit shape
    * ([[create]], [[commitAll]]'s new-table branch): no parent exists,
    * so no delta sidecar — every later commit stages through
    * [[linkManifest]]/[[compactManifest]]/[[freshManifest]], which own
    * their sidecar economics. */
  /** Sentinel JSON sidecar inside a manifest dir: the sentinel row
    * (schema/stats/bloom/constraints/DV/colmap configuration) written
    * once, at staging time, next to the parquet part that carries it —
    * so [[snapshotMeta]] resolves a snapshot HEADER with zero Spark
    * jobs (the parquet sentinel row used to cost a whole `head` job
    * per resolution). Pure cache of the authoritative parquet row:
    * absence (older manifests) or a parse failure falls back to the
    * Spark read. Underscore-prefixed, so the manifest relation's
    * parquet listing never sees it (like [[BaseFile]]); immutable
    * after the commit pointer lands, like everything in the dir. */
  private val SentinelFile = "_graft_sentinel"

  private def writeSentinelFile(fs: FileSystem, dirPath: Path,
                                sentinel: Entry): Unit =
    try {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val out = fs.create(new Path(dirPath, SentinelFile), true)
      try out.write(org.json4s.jackson.Serialization.write(sentinel)
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"[graft] sentinel sidecar skipped: $t")
    }

  private def readSentinelFile(fs: FileSystem,
                               dirPath: Path): Option[Entry] =
    try {
      val p = new Path(dirPath, SentinelFile)
      if (!fs.exists(p)) None
      else {
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        Some(org.json4s.jackson.Serialization.read[ManifestEntry](txt))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Write a DRIVER-RESIDENT entry list as one parquet part file in
    * `dir`, without a Spark job: every manifest commit used to pay a
    * full `toDF().coalesce(1).write.parquet` job submit (~100 ms of
    * scheduler overhead for a few KB of rows) — at a multi-commit
    * lifecycle that overhead IS the commit cost. Goes through the same
    * encoder + `ParquetWriteSupport` pipeline as the executor path
    * ([[GraftParquetBridge]]), so the physical parquet schema stays
    * identical to executor-written manifest parts (linked-chain
    * eligibility reads exactly that schema). Distributed staging for
    * BIG entry relations stays on [[writeManifestDist]]. */
  private def writeEntriesLocal(spark: SparkSession, dir: Path,
                                entries: Seq[Entry]): Unit = {
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.Encoders.product[ManifestEntry]
        .asInstanceOf[org.apache.spark.sql.catalyst.encoders
          .AgnosticEncoder[ManifestEntry]])
    val ser = enc.createSerializer()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val file = new Path(dir, s"part-00000-${UUID.randomUUID()}.parquet")
    org.apache.spark.sql.GraftParquetBridge.writeLocalParquet(
      spark, enc.schema, entries.iterator.map(ser(_)), file.toString)
  }

  private def writeManifest(spark: SparkSession, root: Path,
                            entries: Seq[Entry], ddl: String,
                            statsCols: Seq[String],
                            bloomCols: Seq[String],
                            dvDirs: Seq[String],
                            constraints: Seq[String]): String = {
    val name = s"m-${UUID.randomUUID()}"
    val dir = new Path(new Path(root, ManifestsDir), name).toString
    // the sentinel's (otherwise meaningless) `values` slot carries the
    // COLUMN MAP ("logical=physical" per entry, see [[renameColumn]]):
    // zero format change — every existing manifest reads as the empty
    // (identity) map, and every Entry-shaped consumer (checkpoints,
    // delta sidecars, chain state) carries it verbatim. A newborn
    // table's map is the identity (empty).
    val sentinel = ManifestEntry("", Seq.empty,
      has_null = false,
      overflow = false, rows = 0L, bytes = 0L, schema_ddl = ddl,
      stat_cols = statsCols, stat_mins = Seq.empty, stat_maxs = Seq.empty,
      bloom_cols = bloomCols, dv_dirs = dvDirs, constraints = constraints)
    val slim = entries.map(e =>
      if (e.schema_ddl.isEmpty && e.stat_cols.isEmpty &&
        e.bloom_cols.isEmpty && e.dv_dirs.isEmpty && e.constraints.isEmpty) e
      else e.copy(schema_ddl = "", stat_cols = Seq.empty,
        bloom_cols = Seq.empty, dv_dirs = Seq.empty, constraints = Seq.empty))
    writeEntriesLocal(spark, new Path(dir), sentinel +: slim)
    writeSentinelFile(root.getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(dir), sentinel)
    name
  }

  /** Serialize one [[ManifestDelta]] as manifest `name`'s sidecar —
    * the single place the on-disk delta format is written
    * ([[readDelta]] is its inverse). */
  private[graft] def writeDeltaFile(spark: SparkSession, root: Path,
                                    name: String,
                                    delta: ManifestDelta): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // inside the manifest dir, leading underscore: invisible to the
    // parquet read of the manifest relation, vacuumed with it
    val p = new Path(new Path(new Path(root, ManifestsDir), name),
      DeltaFile)
    val out = fs.create(p, true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8))
      var n = 0
      def line(s: String): Unit = { w.write(s); w.write('\n'); n += 1 }
      line(s"parent:${delta.parent}")
      delta.removePaths.foreach(r => line(s"remove:$r"))
      delta.adds.foreach(a =>
        line(s"add:${org.json4s.jackson.Serialization.write(a)}"))
      // trailer makes a torn write detectable: no valid trailer, no
      // replay (the reader falls back to the exact scan)
      w.write(s"end:$n\n"); w.flush()
    } finally out.close()
  }

  /** One parsed delta sidecar: parent manifest name, full entries
    * added (changed entries shadow the parent's by path), paths
    * removed. */
  private[graft] case class ManifestDelta(parent: String,
                                          adds: Seq[ManifestEntry],
                                          removePaths: Seq[String])

  /** The delta sidecar for manifest `name`, or None when absent or
    * torn (missing/mismatched `end:` trailer, unparseable line). */
  private[graft] def readDelta(fs: FileSystem, root: Path,
                               name: String): Option[ManifestDelta] = {
    val p = new Path(new Path(new Path(root, ManifestsDir), name), DeltaFile)
    if (!fs.exists(p)) return None
    try {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      if (lines.isEmpty || !lines.head.startsWith("parent:")) return None
      val last = lines.last
      if (!last.startsWith("end:") ||
        last.drop(4).toLong != lines.size - 1) return None
      val body = lines.tail.dropRight(1)
      val adds = Seq.newBuilder[ManifestEntry]
      val removes = Seq.newBuilder[String]
      body.foreach {
        case l if l.startsWith("add:") =>
          adds += org.json4s.jackson.Serialization
            .read[ManifestEntry](l.drop(4))
        case l if l.startsWith("remove:") => removes += l.drop(7)
        case _ => return None
      }
      Some(ManifestDelta(lines.head.drop(7), adds.result(), removes.result()))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Net entry-level correction that turns the checkpoint at `ckV`'s
    * entry set into version `v`'s: drop `dropFromCk` paths from the
    * checkpoint's entries, then union `adds`. */
  private[graft] case class TailReplay(dropFromCk: Set[String],
                                       adds: Seq[ManifestEntry])

  /** Assemble the (ckV, v] delta chain into one net [[TailReplay]], or
    * None when any link is missing, torn, or does not chain (its
    * recorded parent is not the previous version's manifest) — the
    * caller then falls back to the exact distributed scan of `v`'s own
    * manifest. Cost is O(changes in the tail): one pointer read + one
    * small sidecar read per version, all driver-side, no Spark job. */
  /** Longest (ckV, v] chain the replay will assemble — 4 checkpoint
    * intervals. Past it (auto-checkpointing off or its min-bytes gate
    * holding the table in driver-venue territory anyway), the net
    * correction could grow unbounded; the exact scan is the safer
    * venue there. */
  private val TailReplayMaxVersions = 64L

  private[graft] def tailReplay(spark: SparkSession, dir: String,
                                ckV: Long, v: Long): Option[TailReplay] =
    try {
      if (v - ckV > TailReplayMaxVersions) return None
      val (fs, root) = fsOf(spark, dir)
      val names = (ckV to v).map(i => readPointerLines(fs, root, i).head.trim)
      val adds = scala.collection.mutable.LinkedHashMap[String, Entry]()
      val removed = scala.collection.mutable.Set[String]()
      var i = 1
      while (i < names.size) {
        val d = readDelta(fs, root, names(i)).getOrElse(return None)
        if (d.parent != names(i - 1)) return None
        d.removePaths.foreach { p => adds.remove(p); removed += p }
        d.adds.foreach { e => adds(e.path) = e }
        i += 1
      }
      Some(TailReplay(removed.toSet ++ adds.keySet, adds.values.toSeq))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Bytes of the data files ADDED by commit `v`, read from its delta
    * sidecar — the per-commit size that byte-based admission control
    * paces on ([[graft.io.ManifestStream]]'s `maxBytesPerTrigger`).
    * None when the sidecar is absent or torn — exactly the
    * oversized-change-set commits the sidecar economics rule skips, so
    * the caller treats those as trigger-filling on their own. One
    * pointer read + one small text read, driver-side, no Spark job. */
  private[graft] def commitAddedBytes(spark: SparkSession, dir: String,
                                      v: Long): Option[Long] =
    commitAddedBytesCacheable(spark, dir, v)._1

  /** [[commitAddedBytes]] plus whether the answer may be MEMOIZED: a
    * parsed sidecar or a deterministically ABSENT one (the file does
    * not exist — permanent once the commit's pointer exists) cache
    * fine; a sidecar that EXISTS but failed to read may be a transient
    * store error ([[readDelta]] fail-softs every NonFatal into None),
    * and caching its trigger-filling sentinel would mis-pace the
    * stream forever instead of self-healing on the next poll. */
  private[graft] def commitAddedBytesCacheable(spark: SparkSession,
                                               dir: String, v: Long)
      : (Option[Long], Boolean) = {
    val (fs, root) = fsOf(spark, dir)
    val name = readPointerLines(fs, root, v).head.trim
    val side = new Path(new Path(new Path(root, ManifestsDir), name),
      DeltaFile)
    if (!fs.exists(side)) (None, true)
    else readDelta(fs, root, name) match {
      case Some(d) => (Some(d.adds.map(_.bytes).sum), true)
      case None => (None, false) // exists but unreadable: re-read later
    }
  }

  /** Driver-LOCAL manifest entry read: parquet-mr Group decoding of
    * the chain's part files, zero Spark jobs — the metadata twin of
    * the driver-resident planning venue. A distributed read of a
    * few-KB manifest costs a whole Spark job (several under AQE) per
    * snapshot resolution, and one lifecycle resolves snapshots dozens
    * of times. Gated by the SAME budget as planning venue choice
    * ([[graft.plans.ManifestScan.DistributedMinBytesKey]]); at or above
    * it [[liveEntries]] takes the distributed chokepoint. Decoding mirrors
    * [[paddedManifest]]'s forward-compat contract exactly: a column
    * missing from an old manifest's physical schema pads with its
    * neutral default ("" / 0 / false / empty list); chain removes are
    * subtracted here as there. Parity is spec-pinned
    * (ManifestLocalReadSpec: local == distributed, field for field). */
  private def localReadBudget(spark: SparkSession): Long =
    spark.sparkContext.hadoopConfiguration.getLong(
      graft.plans.ManifestScan.DistributedMinBytesKey,
      graft.plans.ManifestScan.DistributedMinBytesDefault)

  private def decodeEntry(g: org.apache.parquet.example.data.Group): Entry = {
    val t = g.getType
    def has(n: String) = t.containsField(n)
    def set(n: String) = has(n) && g.getFieldRepetitionCount(n) > 0
    def str(n: String): String =
      if (!has(n)) "" // column predates the field: neutral default
      else if (g.getFieldRepetitionCount(n) == 0) null
      else g.getBinary(n, 0).toStringUsingUTF8
    def lng(n: String): Long = if (set(n)) g.getLong(n, 0) else 0L
    def bool(n: String): Boolean = if (set(n)) g.getBoolean(n, 0) else false
    def strs(n: String): Seq[String] =
      if (!has(n) || g.getFieldRepetitionCount(n) == 0) Seq.empty
      else {
        val lst = g.getGroup(n, 0)
        // decode ALL the parquet list encodings Spark can write, so a
        // session running spark.sql.parquet.writeLegacyFormat=true
        // cannot brick later snapshot loads: standard 3-level
        // (repeated group list { optional element }), legacy 3-level
        // (repeated group bag { optional array }) — structurally the
        // same walk — and legacy 2-level (repeated primitive array)
        if (lst.getType.getType(0).isPrimitive)
          (0 until lst.getFieldRepetitionCount(0)).map(i =>
            lst.getBinary(0, i).toStringUsingUTF8)
        else
          (0 until lst.getFieldRepetitionCount(0)).map { i =>
            val el = lst.getGroup(0, i)
            if (el.getFieldRepetitionCount(0) == 0) null
            else el.getBinary(0, 0).toStringUsingUTF8
          }
      }
    ManifestEntry(str("path"), strs("values"), bool("has_null"),
      bool("overflow"), lng("rows"), lng("bytes"), str("schema_ddl"),
      strs("stat_cols"), strs("stat_mins"), strs("stat_maxs"),
      strs("bloom_cols"), strs("dv_dirs"), strs("constraints"))
  }

  private def readEntriesLocalParquet(conf:
      org.apache.hadoop.conf.Configuration, manifestDirs: Seq[String],
      removedPaths: Seq[String]): Seq[Entry] = {
    val removed = removedPaths.toSet
    // MUST build an O(1)-indexed Seq: ManifestFileIndex's prune loop
    // walks entries by index, and a List here turns every pruned
    // listing O(n²) (776 s measured at 10⁵ entries)
    val out = Vector.newBuilder[Entry]
    manifestDirs.foreach { d =>
      // per-dir FS resolution: a clone's chain can span FILESYSTEMS
      // (source dirs on the source's scheme), exactly as the
      // distributed reader resolves each path
      val fs = new Path(d).getFileSystem(conf)
      fs.listStatus(new Path(d))
        .filter(st => st.isFile && st.getLen > 0 &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .foreach { st =>
          val reader = org.apache.parquet.hadoop.ParquetReader
            .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
              st.getPath)
            .withConf(conf).build()
          try {
            var g = reader.read()
            while (g != null) {
              val e = decodeEntry(g)
              if (removed.isEmpty || !removed.contains(e.path)) out += e
              g = reader.read()
            }
          } finally reader.close()
        }
    }
    out.result()
  }

  /** FORWARD-COMPATIBLE manifest relation: a manifest written before a
    * [[ManifestEntry]] field existed simply lacks that column, so it is
    * backfilled with the field's neutral default (empty list / "" / 0 /
    * false) instead of failing `.as[Entry]` resolution — old tables and
    * their time-travel versions stay readable across library upgrades,
    * the same contract a table FORMAT owes its files. */
  private def paddedManifest(spark: SparkSession,
                             manifestDirs: Seq[String],
                             removedPaths: Seq[String]): DataFrame = {
    // chains are schema-uniform by the linked-append eligibility gate,
    // so ONE driver-side footer read covers every dir — no inference job
    val raw = org.apache.spark.sql.GraftParquetBridge
      .localInferSchema(spark, manifestDirs.head)
      .map(sc => spark.read.schema(sc).parquet(manifestDirs: _*))
      .getOrElse(spark.read.parquet(manifestDirs: _*))
    val want = org.apache.spark.sql.Encoders.product[ManifestEntry].schema
    val padded = want.fields.foldLeft(raw) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, (f.dataType match {
        case ArrayType(StringType, _) => array()
        case StringType => lit("")
        case LongType => lit(0L)
        case BooleanType => lit(false)
        case dt => lit(null)
      }).cast(f.dataType))
    }.select(want.fieldNames.map(col).toIndexedSeq: _*)
    // chain-removed entries are subtracted HERE, the single chokepoint
    // every reader venue goes through; past the In-literal planning
    // threshold the subtraction becomes a broadcast anti-join
    if (removedPaths.isEmpty) padded
    else if (removedPaths.size <= Merge.InListThreshold)
      padded.filter(!col("path").isin(removedPaths: _*))
    else {
      import spark.implicits._
      padded.join(
        broadcast(removedPaths.toDF("__graft_rm")),
        padded("path") === col("__graft_rm"), "left_anti")
    }
  }

  /** Everything a reader needs to materialize a manifest's full entry
    * set from ONE small read: the ancestor chain (base-first, `name`
    * last — length 1 and no removes for a full manifest), the
    * CUMULATIVE set of entry paths removed along it, and the deletion-
    * vector dirs attached along it (effective DV set = the root
    * sentinel's ++ these — a MoR delete must not pay a sentinel
    * rewrite). The relation is union(parts of every chain dir) minus
    * `removedPaths` — sound as a flat subtraction because batch paths
    * are UUID'd and never reused, so a removed path cannot be re-added
    * by a later link. */
  /** `colMap` is the chain-attached COLUMN MAP override: a metadata-only
    * rename/drop/undrop rides the chain as cumulative `colmap:` lines
    * (O(1) at any entry count, like a DV attach) instead of paying the
    * distributed re-root; empty = no override, the base sentinel's map
    * governs (sound because a mapped table's map is never empty — the
    * last column cannot drop — so "no lines" is unambiguous). */
  private[graft] case class ChainState(names: Seq[String],
                                       removedPaths: Seq[String],
                                       dvDirs: Seq[String],
                                       colMap: Seq[String] = Nil)

  /** Parse `name`'s [[BaseFile]]. The format is cumulative (each link
    * rewrites the full state), so resolution is one read at any depth
    * — an object-store listing must not pay a sequential O(depth)
    * pointer walk. The `end:<count>` trailer makes a torn write
    * detectable, and ANY malformation fails LOUDLY: unlike the delta
    * sidecar there is no sound fallback — the linked dir alone is an
    * incomplete entry set, and a lost remove line would RESURRECT
    * overwritten rows. Every link was schema-guarded at write time
    * ([[linkedAppendEligible]]), so all dirs in a chain share one
    * physical parquet schema and read as a single relation. */
  private[graft] def chainState(fs: FileSystem, root: Path,
                                name: String): ChainState = {
    val p = new Path(new Path(new Path(root, ManifestsDir), name), BaseFile)
    if (!fs.exists(p)) return ChainState(Seq(name), Nil, Nil)
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList
    finally in.close()
    def corrupt(why: String) = throw new IllegalArgumentException(
      s"corrupt $BaseFile in manifest $name ($why)")
    val last = lines.lastOption.getOrElse(corrupt("empty"))
    if (!last.startsWith("end:") ||
      !last.drop(4).toLongOption.contains(lines.size - 1L))
      corrupt("missing or mismatched end trailer — torn write?")
    val bases = Seq.newBuilder[String]
    val removes = Seq.newBuilder[String]
    val dvs = Seq.newBuilder[String]
    val cmap = Seq.newBuilder[String]
    lines.dropRight(1).foreach {
      case l if l.startsWith("base:") =>
        val n = l.drop(5)
        if (!n.matches("m-[0-9a-f]{8}-[0-9a-f-]{27}")) corrupt(s"bad base '$n'")
        bases += n
      case l if l.startsWith("remove:") => removes += l.drop(7)
      case l if l.startsWith("dv:") => dvs += l.drop(3)
      case l if l.startsWith("colmap:") => cmap += l.drop(7)
      case l => corrupt(s"unrecognized line '${l.take(40)}'")
    }
    val names = bases.result()
    if (names.isEmpty) corrupt("no base names")
    ChainState(names :+ name, removes.result(), dvs.result(), cmap.result())
  }

  /** The manifest-name chain (base first, `name` last) — see
    * [[chainState]]. */
  private[graft] def manifestChain(fs: FileSystem, root: Path,
                                   name: String): Seq[String] =
    chainState(fs, root, name).names

  private def chainDirs(fs: FileSystem, root: Path,
                        name: String): Seq[String] =
    manifestChain(fs, root, name)
      .map(n => new Path(new Path(root, ManifestsDir), n).toString)

  /** Lightweight snapshot HEADER: the sentinel's configuration plus
    * the manifest chain's locations and on-disk size — everything
    * planning needs to decide HOW to plan, without collecting a single
    * file entry. One pointer read, one LIST + base-probe per chain
    * link, one filter-pushdown read of the sentinel row; cost is
    * O(manifest files), never O(entries) driver heap.
    * `manifestDirs` is base-first; the last element is the committed
    * tip ([[Snapshot.name]]'s dir). */
  /** `dvDirs` is the EFFECTIVE set (root sentinel's ++ those attached
    * along the chain); `chainDvDirs` is the chain-attached subset — a
    * linked writer re-emits it cumulatively into the next base file. */
  /** `chainColMap` is the chain-attached column-map override (empty =
    * none) — a linked writer re-emits it cumulatively into the next
    * base file, exactly like `chainDvDirs`; `colMap` is the EFFECTIVE
    * map (chain override when present, else the sentinel's). */
  private[graft] case class SnapshotMeta(ddl: String, statsCols: Seq[String],
                                         bloomCols: Seq[String],
                                         dvDirs: Seq[String],
                                         constraints: Seq[String],
                                         manifestDirs: Seq[String],
                                         removedPaths: Seq[String],
                                         chainDvDirs: Seq[String],
                                         manifestBytes: Long,
                                         version: Long,
                                         colMap: Seq[String] = Nil,
                                         chainColMap: Seq[String] = Nil)

  /** On-disk size of the committed manifest chain itself (NOT the
    * data) — the cheap proxy [[graft.plans.ManifestScan.scan]] uses to
    * choose its planning venue. One pointer read + one LIST per chain
    * link; no Spark job. */
  private[graft] def manifestBytes(spark: SparkSession, dir: String,
                                   v: Option[Long] = None): Long = {
    val (fs, root) = fsOf(spark, dir)
    val ver = v.orElse(latestVersion(spark, dir))
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    chainDirs(fs, root, readPointer(fs, root, ver))
      .map(d => fs.listStatus(new Path(d)).filter(_.isFile)
        .map(_.getLen).sum).sum
  }

  /** Bounded per-JVM memo of [[snapshotMeta]]'s manifest-derived parts,
    * keyed by (root, MANIFEST NAME). Sound because a committed manifest
    * dir `m-<uuid>` is immutable (names are never reused; links only
    * ever ADD new dirs with new names), so the header derived from it —
    * sentinel config, chain state, on-disk bytes — is a pure function
    * of the name. A lifecycle (create → refresh → upsert → … ) resolves
    * the SAME snapshot header several times per op (planner, change
    * feed from/to, commit gate); each repeat used to re-pay the chain
    * reads plus a whole Spark `head` job for the sentinel row. The
    * pointer read itself (version → name) stays uncached — it is the
    * mutable step. Delta caches its Snapshot the same way. */
  private val snapshotMetaCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, SnapshotMeta](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, SnapshotMeta]): Boolean =
          size() > 64
      })

  /** Chain-ROOT sentinels by manifest dir, memoized on the same
    * immutability argument: a linked commit keeps its parent's root, so
    * the header of a NEW tip re-reads only its pointer, base file and
    * listing — never the root's sentinel again. */
  private val rootSentinelCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Entry]): Boolean = size() > 64
      })

  private[graft] def snapshotMeta(spark: SparkSession, dir: String,
                                  v: Option[Long] = None): SnapshotMeta = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    val ver = v.orElse(latestVersion(spark, dir))
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val lines = readPointerLines(fs, root, ver)
    // a pending multi-commit pointer is not a committed version: time
    // travel to it would read a snapshot that never happened
    require(pointerVisible(fs, lines),
      s"version $ver at $root is a pending multi-table commit, not committed")
    val name = lines.head.trim
    val key = s"$root#$name"
    val cached = snapshotMetaCache.get(key)
    if (cached != null) return cached.copy(version = ver)
    val st = chainState(fs, root, name)
    val dirs = st.names
      .map(n => new Path(new Path(root, ManifestsDir), n).toString)
    val bytes = dirs.map(d => fs.listStatus(new Path(d))
      .filter(_.isFile).map(_.getLen).sum).sum
    // sentinel from the chain ROOT's JSON sidecar (zero Spark jobs);
    // older manifests without one fall back to the parquet row
    val sentinel = Option(rootSentinelCache.get(dirs.head)).getOrElse {
      val s = readSentinelFile(fs, new Path(dirs.head))
        .getOrElse(paddedManifest(spark, dirs, Nil)
          .filter(col("path") === "" && col("schema_ddl") =!= "")
          .as[Entry].take(1).headOption
          .getOrElse(throw new IllegalStateException(
            s"manifest ${st.names.head} has no schema sentinel")))
      rootSentinelCache.put(dirs.head, s)
      s
    }
    val meta = SnapshotMeta(sentinel.schema_ddl, sentinel.stat_cols,
      sentinel.bloom_cols, sentinel.dv_dirs ++ st.dvDirs,
      sentinel.constraints, dirs, st.removedPaths, st.dvDirs, bytes, ver,
      colMap = if (st.colMap.nonEmpty) st.colMap else sentinel.values,
      chainColMap = st.colMap)
    snapshotMetaCache.put(key, meta)
    meta
  }

  /** The snapshot's file entries as a DISTRIBUTED dataset (sentinel
    * excluded) — the planning input for
    * [[graft.plans.DistributedManifestFileIndex]], which prunes on
    * executors and collects only the surviving paths instead of
    * materializing O(entries) [[ManifestEntry]] objects on the
    * driver. */
  private[graft] def entriesDataset(spark: SparkSession,
                                    meta: SnapshotMeta,
                                    extraRemoves: Seq[String] = Nil)
      : org.apache.spark.sql.Dataset[ManifestEntry] = {
    import spark.implicits._
    paddedManifest(spark, meta.manifestDirs,
      meta.removedPaths ++ extraRemoves)
      .filter(col("path") =!= "").as[ManifestEntry]
  }

  /** The snapshot's live file entries on the driver (sentinel dropped,
    * the chain's removes and `extraRemoves` subtracted) — the ONE venue
    * rule for driver-side entry reads: below [[localReadBudget]] the
    * chain decodes driver-local with zero Spark jobs
    * ([[readEntriesLocalParquet]]); at or past it the distributed
    * chokepoint collects ([[entriesDataset]]). */
  private[graft] def liveEntries(spark: SparkSession, meta: SnapshotMeta,
                                 extraRemoves: Seq[String] = Nil)
      : Seq[Entry] =
    if (meta.manifestBytes < localReadBudget(spark))
      readEntriesLocalParquet(spark.sparkContext.hadoopConfiguration,
        meta.manifestDirs, meta.removedPaths ++ extraRemoves)
        .filter(_.path.nonEmpty)
    else entriesDataset(spark, meta, extraRemoves).collect().toSeq

  /** Write-amplification ledger for one snapshot transition:
    * `carried*` counts files present in BOTH versions (carried by
    * reference — zero write cost), `added*` the files the newer
    * version physically wrote, `removed*` the files it dropped.
    * [[writeAmplification]] is the fraction of the newer snapshot's
    * bytes this transition wrote: ~0 for a pure append or a
    * partition-pruned overwrite of a small slice, 1.0 for a full
    * rewrite. The counter [[overwritePartitionsSliced]]'s O(live +
    * batch dates) claim is priced and spec-asserted with
    * (tools/Scd2Scale; StreamingSpec). */
  case class VersionDelta(carriedFiles: Long, carriedBytes: Long,
                          addedFiles: Long, addedBytes: Long,
                          removedFiles: Long, removedBytes: Long) {
    def writeAmplification: Double =
      if (carriedBytes + addedBytes == 0L) 0.0
      else addedBytes.toDouble / (carriedBytes + addedBytes)
  }

  /** The [[VersionDelta]] between two committed versions of `dir` —
    * a METADATA diagnostic over the two manifests (driver-side, same
    * budget as [[loadSnapshot]]; never touches data files). */
  def versionDelta(spark: SparkSession, dir: String,
                   vFrom: Long, vTo: Long): VersionDelta = {
    val before = loadSnapshot(spark, dir, Some(vFrom)).entries
    val after = loadSnapshot(spark, dir, Some(vTo)).entries
    val beforePaths = before.map(_.path).toSet
    val afterPaths = after.map(_.path).toSet
    val (carried, added) = after.partition(e => beforePaths.contains(e.path))
    val removed = before.filterNot(e => afterPaths.contains(e.path))
    VersionDelta(carried.size, carried.map(_.bytes).sum,
      added.size, added.map(_.bytes).sum,
      removed.size, removed.map(_.bytes).sum)
  }

  // -------- planning checkpoints --------

  private val CheckpointsDir = "_checkpoints"

  /** Commits between automatic planning checkpoints (≤0 disables). */
  val CheckpointIntervalKey = "graft.manifest.checkpoint.intervalCommits"
  val CheckpointIntervalDefault = 16L

  /** Manifests below this on-disk size skip AUTO-checkpointing: the
    * driver venue plans them in milliseconds and a checkpoint would be
    * a Spark job per interval for nothing. (Explicit [[checkpoint]]
    * calls ignore the gate.) */
  val CheckpointMinBytesKey = "graft.manifest.checkpoint.minBytes"
  val CheckpointMinBytesDefault: Long = 64L << 20

  // flattened planning-bound columns ("__g_" prefix keeps them disjoint
  // from ManifestEntry's own fields forever)
  private[graft] val CkPmin = "__g_pmin"
  private[graft] val CkPmax = "__g_pmax"
  private[graft] val CkStatsOk = "__g_stats_ok"
  private[graft] def ckSmin(i: Int) = s"__g_smin_$i"
  private[graft] def ckSmax(i: Int) = s"__g_smax_$i"
  private[graft] def ckSnull(i: Int) = s"__g_snull_$i"
  // leading underscore: invisible to Spark's parquet listing
  private val CkMetaFile = "_graft_ck_partition"
  /** Completion marker, created STRICTLY AFTER the directory publish:
    * on a copy-per-object store (S3A-class) a directory "rename" is
    * non-atomic, so a bare `exists(dir)` probe could see a PARTIAL
    * checkpoint and silently under-list — a wrong answer. Readers
    * ([[checkpointFor]]) require this marker; a markerless directory
    * is invisible (torn or in-flight) and is reclaimed by age-gated GC
    * at the next checkpoint write. */
  private val CkDoneFile = "_graft_ck_complete"
  /** Age before a markerless checkpoint dir / dotted temp dir is
    * presumed a crashed writer's residue and GC'd — the same liveness
    * assumption as the commit arbiter's pending grace. */
  private val CkResidueGraceMillis = 3600L * 1000

  /** Fire the auto-checkpoint on a daemon thread instead of inside the
    * committing caller. The checkpoint is a pure planning accelerator
    * whose failure is already swallowed, so detaching it removes the
    * one-in-`intervalCommits` latency spike (seconds at 10⁶ entries,
    * ~30 s at 10⁷ — measured in BASELINE.md) from the commit path; the
    * marker protocol makes a crashed/overlapping writer invisible. */
  val CheckpointAsyncKey = "graft.manifest.checkpoint.async"

  private def checkpointPath(root: Path, v: Long): Path =
    new Path(new Path(root, CheckpointsDir), f"c-v$v%08d")

  /** Native parquet type a stored stat rendering of `dt` flattens to,
    * order-preservingly — `None` = not flattenable (exact closures
    * still prune it, just without footer help). TimestampType stats are
    * zone-free epoch-micros strings → LONG. */
  private def ckFlattenType(dt: DataType): Option[DataType] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | StringType | BooleanType => Some(dt)
    case d: DecimalType => Some(d)
    case TimestampType => Some(LongType)
    case _ => None
  }

  /** Partition-value flattening additionally EXCLUDES TimestampType:
    * recorded values are writer-session renderings there (the same
    * reason [[graft.plans.ManifestPruning]] refuses value pruning). */
  private def ckPartFlattenType(dt: DataType): Option[DataType] = dt match {
    case TimestampType => None
    case other => ckFlattenType(other)
  }

  /** Write the PLANNING CHECKPOINT for the table's latest version: the
    * manifest's entries re-laid as a footer-prunable columnar snapshot
    * under `_checkpoints/c-v<version>`, the same move as Delta planning
    * over its checkpoint parquet. Each entry carries, alongside its
    * verbatim [[ManifestEntry]] fields, NATIVE-typed bound columns —
    * partition-value min/max and per-stats-column min/max — and the
    * rows are range-laid by the dominant pruning dimension, so a
    * listing's predicate pushes into the parquet scan and touches only
    * matching row groups BEFORE any entry deserializes. This is what
    * cuts the distributed venue's per-listing cost from a full typed
    * scan of O(entries) to a pushed-down read of O(matching):
    * [[graft.plans.DistributedManifestFileIndex]] runs its coarse
    * predicate over these columns, then re-runs the EXACT compiled
    * closures over the survivors, so the kept set is byte-identical to
    * both other venues (spec-pinned).
    *
    * Publish: write to a dotted temp dir, one rename, then the
    * [[CkDoneFile]] completion marker STRICTLY AFTER — readers require
    * the marker, so even on a copy-per-object store (where rename is
    * not atomic and a bare exists-probe could see a partial directory)
    * a reader either sees a complete checkpoint or falls back to the
    * live manifest, never a torn one. Content is deterministic for a
    * version, so a lost publish race simply discards its temp; a
    * markerless directory is never overwritten in place (its writer
    * may still be mid-copy) — age-gated GC reclaims it. Retention
    * keeps the two newest COMPLETE checkpoints; listings of older
    * (time-travel) versions fall back to their manifests (or the
    * delta-chain replay), exact as ever. */
  def checkpoint(spark: SparkSession, dir: String,
                 partitionCol: Option[String] = None): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val meta = snapshotMeta(spark, dir)
    // Name resolution, PHYSICAL-FIRST: internal post-translation
    // callers (the hot path: every interval commit) pass the physical
    // name, which must never be re-translated — under a rename SWAP a
    // logical name can equal a DIFFERENT column's physical name, and
    // logical-first resolution would then flatten bounds for the wrong
    // column. A name matching no physical column is tried as logical
    // (the public checkpoint() caller); still unknown degrades to a
    // bound-less checkpoint below, never an error.
    val physNames = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
      .fieldNames
    val pColCk = partitionCol.map { c =>
      if (meta.colMap.isEmpty || physNames.exists(_.equalsIgnoreCase(c))) c
      else colPairs(meta.colMap).collectFirst {
        case (l, p) if l.equalsIgnoreCase(c) => p
      }.getOrElse(c)
    }
    val target = checkpointPath(root, meta.version)
    // deterministic content: first COMPLETE writer won; a markerless
    // target is in-flight or torn — do not overwrite a path another
    // writer may still be publishing to (deleting under a mid-copy
    // rename could leave marker + partial data = a wrong answer);
    // age-gated GC below reclaims abandoned ones
    if (fs.exists(target)) return
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val pFlat = pColCk
      .flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c)))
      .flatMap(f => ckPartFlattenType(f.dataType).map(_ => f.dataType))
    var df = entriesDataset(spark, meta).toDF()
    pFlat.foreach { dt =>
      val castVals = transform(col("values"), x => x.cast(dt))
      // a rendered value that fails the cast back makes the whole bound
      // UNKNOWN (null pmin/pmax): the coarse predicates keep such files
      // rather than prune on a partial min
      val unknown = exists(castVals, x => x.isNull) ||
        size(col("values")) === 0
      df = df
        .withColumn(CkPmin,
          when(unknown, lit(null).cast(dt)).otherwise(array_min(castVals)))
        .withColumn(CkPmax,
          when(unknown, lit(null).cast(dt)).otherwise(array_max(castVals)))
    }
    val nStats = meta.statsCols.length
    df = df.withColumn(CkStatsOk,
      size(col("stat_mins")) === nStats && size(col("stat_maxs")) === nStats)
    meta.statsCols.zipWithIndex.foreach { case (c, i) =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .flatMap(ckFlattenType).foreach { t =>
          val mn = element_at(col("stat_mins"), i + 1)
          val mx = element_at(col("stat_maxs"), i + 1)
          df = df
            // raw null slot = all-null column (droppable for value
            // predicates) — distinct from a failed cast (unknown: keep)
            .withColumn(ckSnull(i),
              col(CkStatsOk) && (mn.isNull || mx.isNull))
            .withColumn(ckSmin(i), when(col(CkStatsOk), mn.cast(t)))
            .withColumn(ckSmax(i), when(col(CkStatsOk), mx.cast(t)))
        }
    }
    // linear layout by the dominant pruning dimension: the FIRST
    // flattened stats column (statsCols exist precisely because queries
    // range-filter them), else the partition bound — tight per-file and
    // per-row-group footer ranges on that dimension
    val sortCol =
      if (df.columns.contains(ckSmin(0))) col(ckSmin(0))
      else if (pFlat.isDefined) col(CkPmin)
      else col("path")
    val nFiles = math.max(1L,
      math.min(256L, meta.manifestBytes / (16L << 20) + 1)).toInt
    val tmp = new Path(new Path(root, CheckpointsDir),
      s".tmp-${UUID.randomUUID()}")
    df.repartitionByRange(nFiles, sortCol)
      .sortWithinPartitions(sortCol)
      .write.parquet(tmp.toString)
    // record which column the partition bounds describe — a reader
    // planning a different partitionCol uses stats-only coarse pruning
    val metaOut = fs.create(new Path(tmp, CkMetaFile), true)
    try metaOut.write(pColCk.filter(_ => pFlat.isDefined)
      .getOrElse("").getBytes(StandardCharsets.UTF_8))
    finally metaOut.close()
    // publish: guard the rename (Hadoop rename onto an EXISTING dir
    // moves src INSIDE it and returns true — the lost racer's temp
    // would nest as garbage), then the completion marker strictly
    // after. A crash anywhere before the marker leaves an invisible
    // directory, reclaimed below on a later write.
    if (fs.exists(target)) fs.delete(tmp, true) // lost publish race
    else if (!fs.rename(tmp, target)) fs.delete(tmp, true)
    else {
      val nested = new Path(target, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true) // raced rename-into
      else fs.create(new Path(target, CkDoneFile), true).close()
    }
    val ckRoot = new Path(root, CheckpointsDir)
    val sts = fs.listStatus(ckRoot)
    val isCk = (n: String) => n.matches("c-v\\d{8}")
    val complete = sts.filter(st => isCk(st.getPath.getName) &&
      fs.exists(new Path(st.getPath, CkDoneFile)))
    complete.sortBy(_.getPath.getName).dropRight(2)
      .foreach(st => fs.delete(st.getPath, true))
    // crashed writers' residue: dotted temps and markerless (torn)
    // checkpoint dirs, past the liveness grace
    val cutoff = System.currentTimeMillis() - CkResidueGraceMillis
    val completeNames = complete.map(_.getPath.getName).toSet
    sts.filter { st =>
      val n = st.getPath.getName
      (n.startsWith(".tmp-") || (isCk(n) && !completeNames.contains(n))) &&
        st.getModificationTime < cutoff
    }.foreach(st => fs.delete(st.getPath, true))
  }

  /** A completed checkpoint's location + the partition column its
    * bounds describe. */
  private[graft] case class CheckpointInfo(dir: String,
                                           partCol: Option[String])

  /** The completed planning checkpoint for exactly version `v`, if one
    * exists — one probe of the COMPLETION MARKER (not the directory:
    * on a copy-per-object store a visible directory is not necessarily
    * a whole one; the marker is written strictly after the publish and
    * is the only thing that makes a checkpoint readable). */
  private[graft] def checkpointFor(spark: SparkSession, dir: String,
                                   v: Long): Option[CheckpointInfo] = {
    val (fs, root) = fsOf(spark, dir)
    val p = checkpointPath(root, v)
    if (!fs.exists(new Path(p, CkDoneFile))) None
    else {
      val mf = new Path(p, CkMetaFile)
      val pc =
        if (!fs.exists(mf)) None
        else {
          val in = fs.open(mf)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          Some(s.trim).filter(_.nonEmpty)
        }
      Some(CheckpointInfo(p.toString, pc))
    }
  }

  /** The newest COMPLETE checkpoint at a version ≤ `v`, with its
    * version — the base a between-checkpoints listing plans from
    * before replaying the (ckV, v] delta tail ([[tailReplay]]). One
    * directory LIST + one marker probe per candidate, newest first. */
  private[graft] def checkpointAtOrBefore(spark: SparkSession, dir: String,
                                          v: Long)
      : Option[(CheckpointInfo, Long)] = {
    val (fs, root) = fsOf(spark, dir)
    val ckRoot = new Path(root, CheckpointsDir)
    if (!fs.exists(ckRoot)) return None
    fs.listStatus(ckRoot).iterator
      .map(_.getPath.getName)
      .filter(_.matches("c-v\\d{8}"))
      .map(_.drop(3).toLong)
      .filter(_ <= v)
      .toSeq.sorted.reverseIterator
      .flatMap(cv => checkpointFor(spark, dir, cv).map(_ -> cv))
      .nextOption()
  }

  /** Auto-checkpoint hook, called by the mutating ops after their
    * commit: every [[CheckpointIntervalKey]]-th version of a manifest
    * past [[CheckpointMinBytesKey]] gets a checkpoint. Failures are
    * swallowed loudly (stderr) — the commit already landed and a
    * checkpoint is a pure planning accelerator; the next interval
    * commit retries. */
  private def maybeCheckpoint(spark: SparkSession, dir: String,
                              partitionCol: String): Unit =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val interval =
        conf.getLong(CheckpointIntervalKey, CheckpointIntervalDefault)
      if (interval <= 0) return
      val (fs, root) = fsOf(spark, dir)
      val v = latestVersion(spark, dir).getOrElse(return)
      if (v % interval != 0) return
      if (fs.exists(checkpointPath(root, v))) return
      if (manifestBytes(spark, dir, Some(v)) <
        conf.getLong(CheckpointMinBytesKey, CheckpointMinBytesDefault)) return
      if (conf.getBoolean(CheckpointAsyncKey, false)) {
        // detached: the commit already landed and the checkpoint is a
        // pure accelerator — don't make the interval commit pay its
        // multi-second write (BASELINE.md prices it). A crash mid-write
        // leaves only an invisible (markerless/dotted) dir.
        val t = new Thread(() =>
          try checkpoint(spark, dir, Some(partitionCol))
          catch {
            case scala.util.control.NonFatal(e) => System.err.println(
              s"[graft] async planning checkpoint for $dir skipped: $e")
          }, s"graft-checkpoint-$v")
        t.setDaemon(true)
        t.start()
      } else checkpoint(spark, dir, Some(partitionCol))
    } catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(
          s"[graft] planning checkpoint for $dir skipped: $t")
    }

  // -------- batch write + stats --------

  /** `name: <boolean sql>` → (name, sql). */
  private def parseConstraint(c: String): (String, String) = {
    val i = c.indexOf(": ")
    require(i > 0, s"malformed constraint '$c' (want 'name: <boolean sql>')")
    (c.take(i), c.drop(i + 2))
  }

  final case class ConstraintViolationException(name: String, sql: String,
                                                rows: Long)
    extends RuntimeException(
      s"CHECK constraint '$name' ($sql) violated by $rows staged row(s); " +
        "nothing was committed (staged files are orphans — vacuumOrphans " +
        "reclaims them)")

  /** Write `df` as a fresh immutable batch and return its entries.
    * Rows are clustered by the partition column so per-file value sets
    * stay tight (one shuffle — the price of pruning on every later
    * rewrite); stats — partition-value sets, row counts, min/max per
    * stat column, bloom bits and CHECK-violation counts — are collected
    * by a write-job stats tracker in the same pass that writes the
    * files, never from path names or a read-back.
    *
    * `numFiles` (compaction's bin-packing knob) additionally spreads
    * rows WITHIN a partition value by a content-derived salt: plain
    * hash clustering alone can never split one large partition value
    * across the requested file count (every row hashes to the same
    * task), which is exactly the case compaction sizes for. The salt is
    * derived from row content (`xxhash64`), not `rand()` or partition
    * ids, so a retried write task reproduces its exact file content. */
  private def writeBatch(spark: SparkSession, root: Path, df: DataFrame,
                         partitionCol: String, statsCols: Seq[String],
                         constraints: Seq[String],
                         numFiles: Option[Int] = None,
                         bloomCols: Seq[String] = Nil,
                         clusterKey: Option[org.apache.spark.sql.Column] = None)
      : Seq[Entry] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDir = new Path(new Path(root, DataDir), s"b-${UUID.randomUUID()}")
    val clustered = (clusterKey, numFiles) match {
      // range clustering: files carry DISJOINT cluster-key ranges (plus
      // a sort inside each for parquet row-group stats), trading away
      // partition-value locality — see [[cluster]] / [[clusterZ]]
      case (Some(k), Some(n)) =>
        df.repartitionByRange(n, k).sortWithinPartitions(k)
      case (Some(k), None) =>
        df.repartitionByRange(k).sortWithinPartitions(k)
      case (None, Some(n)) => df.repartition(n, col(partitionCol),
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(n.toLong)))
      case (None, None) => df.repartition(col(partitionCol))
    }
    // ---- ONE-PASS write + stats: the per-file stats are collected
    // DURING the write through a WriteJobStatsTracker (the Delta-log
    // mechanism) instead of a second full read of every byte just
    // written. The probe expressions are built through the ordinary
    // Column API against a dummy frame, so the analyzer resolves casts /
    // session timezone / eval mode exactly as a DataFrame aggregation
    // over the written files would, then bind to row ordinals; min/max
    // accumulate on raw values under the same interpreted ordering the
    // Min/Max aggregates use and render through the same Cast
    // (ManifestWriteStatsSpec recomputes every field with that
    // aggregation and asserts equality).
    val parsed = constraints.map(parseConstraint)
    val tracker = new org.apache.spark.sql.GraftWriteBridge
      .GraftBatchStatsTracker(
        boundProbeExprs(spark, df.schema, partitionCol, statsCols,
          bloomCols, parsed),
        statsCols.map(c => df.schema(c).dataType),
        bloomCols.size, BloomHashes, BloomBits, parsed.size, ValuesCap)
    org.apache.spark.sql.GraftWriteBridge.writeParquet(
      spark, clustered, batchDir.toString, Seq(tracker))
    // one LIST of the batch dir serves both the empty-write guard and
    // every entry's byte size (a per-entry getFileStatus is O(files)
    // driver RPCs). An all-empty batch (a merge that nets to nothing,
    // an empty update set) lands zero part files — the guard here makes
    // writeBatch TOTAL on empty inputs, so callers stage nothing
    // instead of pre-probing emptiness with an extra execution of
    // their (often shuffle-heavy) merge plan.
    val partLen: Map[String, Long] = fs.listStatus(batchDir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> st.getLen).toMap
    if (partLen.isEmpty) { fs.delete(batchDir, true); return Seq.empty }
    entriesFromTracker(spark, fs, batchDir, tracker.results, df,
      partitionCol, statsCols, bloomCols, parsed, partLen,
      nullableDdl(df.schema))
  }

  /** Probe expressions for the one-pass write stats, in the layout
    * [[org.apache.spark.sql.GraftWriteBridge.GraftBatchStatsTracker]]
    * expects: partition value cast to string, raw stat columns,
    * nullable bloom bit positions, constraint-violation indicators —
    * analyzer-resolved over a dummy frame (the casts/timezone/eval
    * mode a DataFrame aggregation over the batch would get), bound to
    * schema ordinals. */
  private def boundProbeExprs(spark: SparkSession, schema: StructType,
                              partitionCol: String, statsCols: Seq[String],
                              bloomCols: Seq[String],
                              parsed: Seq[(String, String)])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
    val probeCols: Seq[org.apache.spark.sql.Column] =
      Seq(col(partitionCol).cast("string")) ++
        statsCols.map(col) ++
        bloomCols.flatMap(c => (0 until BloomHashes).map(i =>
          when(col(c).isNotNull, bloomPosition(col(c), i)))) ++
        parsed.map { case (_, sql) =>
          when(!coalesce(expr(sql), lit(true)), 1L).otherwise(0L) }
    val dummy = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val project = dummy.select(probeCols: _*).queryExecution.analyzed
      .collectFirst {
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project => pr
      }.getOrElse(throw new IllegalStateException(
        "probe plan did not analyze to a Project"))
    // bind by exprId, not name: the child's output attributes are in
    // schema field order, and the analyzer already resolved each
    // reference — a lower-cased name map would collapse two columns
    // differing only in case under spark.sql.caseSensitive=true and
    // bind the probe to the wrong ordinal
    val ordOf = project.child.output.map(_.exprId).zipWithIndex.toMap
    project.projectList.map(_.transform {
      case a: AttributeReference =>
        BoundReference(ordOf.getOrElse(a.exprId,
          throw new IllegalStateException(
            s"probe attribute ${a.name}#${a.exprId.id} not in child output")),
          a.dataType, a.nullable)
    })
  }

  /** Render one raw min/max value as the manifest stores it: TIMESTAMP
    * as its zone-free epoch-micros string (`unix_micros(...)
    * .cast("string")`), everything else through the session-configured
    * `Cast` to string. Micros, not the session-timezone rendering: a
    * reader session with a different spark.sql.session.timeZone would
    * otherwise compare its literals against another zone's wall-clock
    * strings and prune files that contain matching rows; the probe side
    * converts its literals the same way. */
  private def renderStatValue(v: Any, dt: DataType, tz: String): String =
    if (v == null) null
    else dt match {
      case TimestampType => v.toString // raw Catalyst value IS micros
      case _ =>
        val out = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt),
          StringType, Option(tz)).eval(null)
        if (out == null) null else out.toString
    }

  /** Assemble [[ManifestEntry]]s (+ the bloom sidecar, + the
    * constraint gate) from the one-pass tracker results. A violation
    * throws BEFORE any manifest/pointer exists: the staged batch is
    * orphan garbage, the table is untouched. */
  private def entriesFromTracker(spark: SparkSession, fs: FileSystem,
                                 batchDir: Path,
                                 fileStats: Seq[org.apache.spark.sql
                                   .GraftWriteBridge.FileStat],
                                 df: DataFrame, partitionCol: String,
                                 statsCols: Seq[String],
                                 bloomCols: Seq[String],
                                 parsed: Seq[(String, String)],
                                 partLen: Map[String, Long],
                                 ddl: String): Seq[Entry] = {
    if (fileStats.isEmpty) { fs.delete(batchDir, true); return Seq.empty }
    parsed.zipWithIndex.foreach { case ((name, sql), i) =>
      val viol = fileStats.map(_.violations(i)).sum
      if (viol > 0) throw ConstraintViolationException(name, sql, viol)
    }
    val statTypes = statsCols.map(c => df.schema(c).dataType)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    def relOf(name: String) = s"$DataDir/${batchDir.getName}/$name"
    if (bloomCols.nonEmpty) {
      val bloomRows = fileStats.flatMap { st =>
        bloomCols.zipWithIndex.map { case (c, ci) =>
          BloomEntry(relOf(st.name), c,
            st.bloomWords(ci).toSeq.padTo(BloomBits / 64, 0L))
        }
      }
      val bEnc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        org.apache.spark.sql.Encoders.product[BloomEntry]
          .asInstanceOf[org.apache.spark.sql.catalyst.encoders
            .AgnosticEncoder[BloomEntry]])
      val bSer = bEnc.createSerializer()
      val bDir = new Path(batchDir, BloomDir)
      fs.mkdirs(bDir)
      org.apache.spark.sql.GraftParquetBridge.writeLocalParquet(
        spark, bEnc.schema,
        bloomRows.iterator.map(bSer(_)),
        new Path(bDir, s"part-00000-${UUID.randomUUID()}.parquet").toString)
    }
    fileStats.map { st =>
      ManifestEntry(relOf(st.name),
        values = st.values.take(ValuesCap).map(_.toString),
        has_null = st.hasNull,
        overflow = st.valuesOverflow,
        rows = st.rows,
        bytes = partLen(st.name),
        schema_ddl = ddl, // stripped to the sentinel by writeManifest
        stat_cols = Seq.empty,
        stat_mins = statsCols.indices
          .map(i => renderStatValue(st.statMins(i), statTypes(i), tz)),
        stat_maxs = statsCols.indices
          .map(i => renderStatValue(st.statMaxs(i), statTypes(i), tz)),
        bloom_cols = Seq.empty)
    }
  }

  private def readEntries(spark: SparkSession, root: Path,
                          entries: Seq[Entry], ddl: String): DataFrame = {
    val schema = DataType.fromDDL(ddl).asInstanceOf[StructType]
    if (entries.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val ext = extRoots(spark, root)
      val hive = extHive(spark, root)
      // a Hive-converted table's adopted paths are `…/col=value/file`:
      // recursiveFileLookup turns OFF Spark's own partition inference
      // over the explicit file list, so path shape can never conflict
      // between adopted and local files — [[hiveInjected]] owns the
      // column instead
      val reader = spark.read.schema(schema)
      val base = (if (hive.isDefined)
        reader.option("recursiveFileLookup", "true") else reader)
        .parquet(entries.map(e => resolveData(root, ext, e.path).toString): _*)
      if (hive.isDefined) hiveInjected(spark, root, base) else base
    }
  }

  // -------- shallow clones (external data roots) --------

  /** The `_ext` sidecar of a SHALLOW CLONE: one line per batch dir
    * whose data files live under ANOTHER table's root
    * (`b-<uuid>=<qualified root uri>`). Written ONCE, before the
    * clone's v1 pointer, and immutable from then on — later writes land
    * local batch dirs (absent from the map), and rewrites only ever
    * RETIRE external references, so a stale-read hazard cannot exist.
    * Absent file = empty map = the ordinary single-root table, which
    * takes exactly the pre-clone code paths. */
  private val ExtFile = "_ext"

  /** Per-JVM memo of [[extRoots]]: `_ext` is written before a clone's
    * v1 pointer and frozen from then on (a clone destination must not
    * already exist), so the parsed map — and its absence — is safe to
    * cache for the life of the JVM; without it every [[readEntries]]
    * and bloom probe pays a filesystem existence check that is a HEAD
    * round-trip on object stores. Local [[shallowClone]]s update their
    * entry. The one staleness window is ANOTHER driver deleting a table
    * and re-creating a clone at the same path: the stale entry then
    * fails LOUDLY (unresolvable data paths), never silently, and a
    * driver restart clears it. */
  private val extCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  /** batch-dir → external-root map of `root`'s table (empty for
    * ordinary tables). One small read, memoized per JVM; no Spark
    * job. Reserved non-batch keys ([[HiveExtKey]]) are stripped here,
    * so every consumer sees exactly the batch map. */
  private[graft] def extRoots(spark: SparkSession,
                              root: Path): Map[String, String] =
    extFull(spark, root) - HiveExtKey

  /** The FULL cached `_ext` map, reserved keys included. */
  private def extFull(spark: SparkSession,
                      root: Path): Map[String, String] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(root).toString
    val hit = extCache.get(key)
    if (hit != null) return hit
    val out = extRootsUncached(spark, fs, root)
    extCache.put(key, out)
    out
  }

  private def extRootsUncached(spark: SparkSession,
                               fs: FileSystem,
                               root: Path): Map[String, String] = {
    val f = new Path(root, ExtFile)
    if (!fs.exists(f)) Map.empty
    else {
      val in = fs.open(f)
      val bytes =
        try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } finally in.close()
      new String(bytes, StandardCharsets.UTF_8).split('\n')
        .map(_.trim).filter(_.nonEmpty)
        .map { line =>
          val i = line.indexOf('=')
          require(i > 0, s"malformed $ExtFile line at $root: $line")
          line.substring(0, i) -> line.substring(i + 1)
        }.toMap
    }
  }

  /** `_ext` value prefix marking a RAW external dir (a converted
    * plain-parquet directory, see [[convert]]): the batch's files live
    * DIRECTLY under the mapped dir — resolution appends only the tail
    * AFTER the batch segment, not the whole `data/b-…/…` tail a
    * clone's source-root layout carries. */
  private[graft] val RawExtPrefix = "raw:"

  /** Reserved `_ext` key carrying a CONVERTED Hive layout's partition
    * spec (see [[convert]]): value is
    * `hive:<url-enc adopted root path>:<url-enc col>/<url-enc col>…`.
    * Not a batch-dir mapping — [[extRoots]] strips it, so every
    * batch-map consumer (resolution, clone pinning, rel-path
    * derivation) is oblivious; only [[extHive]] reads it. */
  private val HiveExtKey = "__hive__"
  private val HiveValPrefix = "hive:"

  /** A converted Hive layout's read-time partition spec: the adopted
    * root (scheme-free path) every raw batch dir lives under, and the
    * partition columns IN DIRECTORY ORDER (physical names). */
  private[graft] case class HiveSpec(rootPath: String, cols: Seq[String])

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def urlDec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def renderHiveSpec(spec: HiveSpec): String =
    HiveValPrefix + urlEnc(spec.rootPath) + ":" +
      spec.cols.map(urlEnc).mkString("/")

  /** The table's converted-Hive spec, if any — one cached `_ext` read,
    * no Spark job ([[extRoots]]' cache). */
  private[graft] def extHive(spark: SparkSession, root: Path)
      : Option[HiveSpec] =
    extFull(spark, root).get(HiveExtKey).map { v =>
      require(v.startsWith(HiveValPrefix),
        s"malformed $HiveExtKey line at $root: $v")
      val body = v.stripPrefix(HiveValPrefix)
      val i = body.indexOf(':')
      require(i > 0, s"malformed $HiveExtKey line at $root: $v")
      HiveSpec(urlDec(body.substring(0, i)),
        body.substring(i + 1).split('/').toSeq.map(urlDec))
    }

  /** `_metadata.file_path` is a URI STRING — percent-encoded (an
    * on-disk '%' reads as "%25", a Hive-escaped '=' — "%3D" on disk —
    * as "%253D"). This strips scheme/authority and applies ONE URI
    * percent-decode ('+' protected: URI paths never encode space as
    * '+', so a literal '+' must survive), yielding the raw on-disk
    * path — the SAME rendering as `Path.toUri.getPath`, which is what
    * the `_ext` map, manifest entry tails, and [[extHive]]'s root all
    * carry. Every consumer comparing `_metadata.file_path` against
    * those MUST go through this. An undecodable remainder (never
    * produced by a real URI) is kept verbatim. */
  private def rawPathCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val stripped = regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:", "")
    coalesce(call_function("try_url_decode",
      regexp_replace(stripped, "\\+", "%2B")), stripped)
  }

  /** Read-time injection of a converted Hive layout's partition
    * columns ([[convert]]): adopted files carry those columns in
    * DIRECTORY NAMES, not in the parquet footers, so a bare file read
    * yields null — this projection fills each such column from the
    * file's own path (`coalesce(in-file, parsed-from-path)`), which is
    * also exactly right for LOCAL batches written after the convert:
    * their files carry the column in-data (every write flows through a
    * scan that already materialized it), the parse never matches a
    * local `data/b-…` path, and coalesce short-circuits on the in-file
    * value. Value decoding mirrors Hive/Spark dir escaping: `%xx`
    * unescaping ('+' preserved; an undecodable raw value is kept
    * verbatim — it IS the value), `__HIVE_DEFAULT_PARTITION__` → null,
    * then a cast to the column's declared type in the session time
    * zone (the same resolution Spark's own partition discovery
    * applies). Tables without a Hive spec — the overwhelming steady
    * state — return `df` untouched: zero plan change on the hot
    * path. */
  private[graft] def hiveInjected(spark: SparkSession, root: Path,
                                  df: DataFrame): DataFrame =
    extHive(spark, root) match {
      case None => df
      case Some(HiveSpec(hroot, cols)) =>
        val schema = df.schema
        val pathOnly = rawPathCol(col("_metadata.file_path"))
        val rel = when(pathOnly.startsWith(hroot + "/"),
          substring(pathOnly, hroot.length + 2, Int.MaxValue))
        val segs = split(rel, "/")
        cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
          if (!schema.fieldNames.contains(c)) acc
          else {
            val seg = element_at(segs, i + 1)
            val prefix = c + "="
            val raw = when(seg.startsWith(prefix),
              substring(seg, lit(prefix.length + 1), lit(Int.MaxValue)))
            val decoded = coalesce(
              call_function("try_url_decode",
                regexp_replace(raw, "\\+", "%2B")), raw)
            val v = when(decoded === "__HIVE_DEFAULT_PARTITION__",
              lit(null)).otherwise(decoded).cast(schema(c).dataType)
            acc.withColumn(c, coalesce(col(c), v))
          }
        }
    }

  /** Resolve a manifest-relative data path (`data/b-<uuid>/<file>`)
    * against its owning root: the clone map's root for external batch
    * dirs (whole tail appended — the source IS a manifest table with
    * the same layout), a converted `raw:` dir for adopted plain
    * parquet (file name only), the table's own root otherwise.
    * External roots are stored fully qualified, so cross-filesystem
    * clones resolve to their own scheme. */
  private[graft] def resolveData(root: Path, ext: Map[String, String],
                                 tail: String): Path =
    if (ext.isEmpty) new Path(root, tail)
    else {
      val parts = tail.split('/')
      if (parts.length > 1 && ext.contains(parts(1))) {
        val r = ext(parts(1))
        if (r.startsWith(RawExtPrefix))
          new Path(r.stripPrefix(RawExtPrefix),
            parts.drop(2).mkString("/"))
        else new Path(r, tail)
      } else new Path(root, tail)
    }

  /** SHALLOW CLONE of `srcDir`'s snapshot (version `v`, default
    * latest) at `dstDir` — METADATA-ONLY, Delta's `CLONE ... SHALLOW`:
    * no data file is copied or moved; the clone's v1 manifest lists the
    * source's files by reference through the `_ext` batch-dir map, and
    * only its (kilobyte-scale) deletion-vector relations copy. The
    * clone is a fully independent table from its first commit: writes
    * land under ITS root, keyed rewrites and OPTIMIZE retire external
    * references file by file (a full rewrite leaves it self-contained),
    * and its history starts fresh at v1 (time travel into source
    * history belongs to the source). Stats/bloom/constraint/column-map
    * configuration carries verbatim, so pruning and DV masking work
    * unchanged — deletion vectors key on the root-independent
    * `data/b-<uuid>/<file>` tail, which is why external files mask
    * exactly like local ones.
    *
    * The one operational caveat (same as Delta's): the source does NOT
    * know it is referenced — a `vacuumOrphans` on the SOURCE can
    * reclaim files a clone still lists. Clone for dev/test forks and
    * experiments; coordinate retention for anything long-lived.
    * Returns the number of source batch dirs referenced. */
  def shallowClone(spark: SparkSession, srcDir: String, dstDir: String,
                   version: Option[Long] = None): Long = {
    import spark.implicits._
    val (fsS, srcRoot) = fsOf(spark, srcDir)
    val v = version.orElse(latestVersion(spark, srcDir))
      .getOrElse(throw new IllegalArgumentException(s"no table at $srcDir"))
    val meta = snapshotMeta(spark, srcDir, Some(v))
    val (fsD, dstRoot) = fsOf(spark, dstDir)
    require(latestVersion(spark, dstDir).isEmpty,
      s"a table already exists at $dstDir")
    // every live batch dir resolves to ITS owner: the source's own
    // dirs to the source root, dirs the source itself borrowed (a
    // clone of a clone) to THEIR original roots — references never
    // chain through intermediaries, so a deleted intermediate clone
    // cannot strand a descendant
    val batches = localDistinctStrings(entriesDataset(spark, meta).toDF()
      .select(split(col("path"), "/").getItem(1))).flatten
    val srcExt = extRoots(spark, srcRoot)
    val qualifiedSrc = fsS.makeQualified(srcRoot).toString
    val mine = batches.map(b => b -> srcExt.getOrElse(b, qualifiedSrc)).toMap
    // a converted-Hive source's partition spec rides along: the clone
    // references the same raw dirs, and without the spec its reads
    // would silently null the directory-derived columns. `mine` stays
    // the pure batch map (the pin loops below iterate its values as
    // roots); only the STAGED file carries the extra line.
    val mineStaged = mine ++
      extHive(spark, srcRoot).map(hs => HiveExtKey -> renderHiveSpec(hs))
    // RETENTION PINS on every owning source root, BEFORE any further
    // source read: from here a source `vacuumOrphans` that would drop
    // the anchored version REFUSES ([[RetentionPinnedException]])
    // instead of silently reclaiming files this clone references —
    // the checked-contract upgrade of the old "coordinate retention"
    // caveat (`force = true` still overrides, and then the clone's
    // next read of a reclaimed file fails loudly, never silently).
    // The immediate source anchors at the cloned version `v` (whose
    // manifest lists every referenced file). A clone OF a clone
    // borrows the intermediate's own pin version on the ORIGINAL root
    // (the same files-live guarantee), falling back to the original's
    // latest for pre-pin-era intermediates. A crashed clone's pins
    // release in the catch below; [[releaseCloneSourcePins]] releases
    // once the clone is self-contained or about to be dropped.
    val dstQ = fsD.makeQualified(dstRoot).toString
    val pinName = clonePinName(dstQ)
    val srcPinName = clonePinName(qualifiedSrc)
    // `raw:` roots (converted plain-parquet dirs) hold no manifest to
    // pin — their retention is the owner's, the documented
    // coordinate-retention caveat
    mine.values.toSet[String]
      .filterNot(_.startsWith(RawExtPrefix)).foreach { r =>
      val rootPins = pins(spark, r)
      val anchor =
        if (r == qualifiedSrc) v
        else rootPins.getOrElse(srcPinName,
          latestVersion(spark, r).getOrElse(0L))
      // NEVER RAISE an existing same-name anchor: two racing clones to
      // the same dst share this pin name, and the loser may have read a
      // LATER source version — overwriting the winner's lower anchor
      // would let a source vacuum reclaim files the committed winner
      // still lists. min() keeps the conservative anchor; the extra
      // retention a dead loser leaves is released at drop
      // ([[releaseCloneSourcePins]] force) or by retiring the pin.
      val effective = rootPins.get(pinName).fold(anchor)(math.min(_, anchor))
      if (!rootPins.get(pinName).contains(effective))
        try pin(spark, r, pinName, effective)
        catch {
          case e: java.io.IOException =>
            // read-only source mount/bucket: fall back to the
            // documented coordinate-retention caveat instead of
            // failing the clone — the reference stays UNPINNED and a
            // source vacuum can reclaim files this clone lists (the
            // clone's next read then fails loudly, never silently)
            System.err.println(s"[graft] clone of $srcDir: source root " +
              s"$r refused the retention-pin write (${e.getMessage}); " +
              "proceeding UNPINNED — coordinate source vacuum retention " +
              "manually for this clone")
        }
    }
    // only the attempt that can PROVE no clone has committed at dst may
    // GC the shared-name pins: once any racer's v1 commit lands, these
    // pins belong to the committed clone, and a losing attempt (or a
    // post-commit hiccup in the winner's own heal step) must leave them
    def unpinAll(): Unit =
      if (latestVersion(spark, dstDir).isEmpty)
        mine.values.toSet[String]
          .filterNot(_.startsWith(RawExtPrefix)).foreach(r =>
            try unpin(spark, r, pinName) catch { case _: Exception => () })
    try {
    // the DV relations are per-table mutable state (maintenance folds
    // them); the clone takes its own copy — kilobytes. When a
    // crashed/racing attempt already landed a dir with MATCHING content
    // (file count + bytes: vector dirs are immutable content keyed by
    // name), skip it entirely — the delete+recopy of identical bytes
    // would otherwise open a window where a concurrent reader of an
    // already-COMMITTED winner sees a partially-copied vector and
    // silently resurrects deleted rows. Only a genuinely partial copy
    // (a crash mid-copy) is deleted and retried, and then no committed
    // reader can exist (the commit below postdates every DV copy).
    meta.dvDirs.foreach { d =>
      val from = new Path(new Path(srcRoot, DvDir), d)
      val to = new Path(new Path(dstRoot, DvDir), d)
      val same = fsD.exists(to) && {
        val a = fsS.getContentSummary(from)
        val b = fsD.getContentSummary(to)
        a.getFileCount == b.getFileCount && a.getLength == b.getLength
      }
      if (!same) {
        // a half-copied dir must not nest the retry's copy inside
        // itself (FileUtil.copy into an existing dir nests)
        fsD.delete(to, true)
        require(org.apache.hadoop.fs.FileUtil.copy(fsS, from, fsD, to,
          false, spark.sparkContext.hadoopConfiguration),
          s"could not copy deletion vector $d into $dstDir")
      }
    }
    // MERGE with anything a racing or crashed clone already staged at
    // dst (the union is monotone: a dead mapping matches no live entry
    // and is inert; same-source clones stage identical mappings, a
    // DIFFERENT source conflicts loudly) — then publish and VERIFY
    // around the commit. The ordering hazard this guards: a loser that
    // read `_ext` before the winner wrote it would stage a map MISSING
    // the winner's entries, and an unguarded overwrite after the
    // winner's v1 commit would leave committed data paths unresolvable
    // with no re-clone possible. Three fences close it: (1) the merge
    // reads UNCACHED immediately before the write (the stale-read
    // window shrinks from the whole DV-copy span to microseconds);
    // (2) a pointer re-check immediately before the write fails loudly
    // once any clone has committed — from then on no loser can touch
    // the file; (3) the winner re-verifies its mappings AFTER its
    // commit and repairs by re-merging, so even a write that slipped
    // between (2) and the commit is healed before the winner returns.
    def stageExt(): Map[String, String] = {
      val existing = extRootsUncached(spark, fsD, dstRoot)
      existing.foreach { case (b, r) =>
        require(!mineStaged.contains(b) || mineStaged(b) == r,
          s"conflicting clone staging at $dstDir: batch dir $b maps to " +
            s"both $r and ${mineStaged(b)} — two clones from different sources?")
      }
      val merged = existing ++ mineStaged
      val extOut = merged.toSeq.sortBy(_._1)
        .map { case (b, r) => s"$b=$r" }
      // tmp + atomic-overwrite rename (the pin-publish discipline): a
      // reader never observes a truncated half-written map
      val tmp = new Path(dstRoot, s".$ExtFile-${UUID.randomUUID()}.tmp")
      val out = fsD.create(tmp, true)
      try out.write((extOut.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val target = new Path(dstRoot, ExtFile)
      try org.apache.hadoop.fs.FileContext
        .getFileContext(fsD.getUri, fsD.getConf)
        .rename(fsD.makeQualified(tmp), fsD.makeQualified(target),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fsD.delete(target, false)
          require(fsD.rename(tmp, target),
            s"could not publish $ExtFile at $dstDir")
      }
      merged
    }
    require(latestVersion(spark, dstDir).isEmpty,
      s"a concurrent clone committed at $dstDir while this one staged")
    val merged = stageExt()
    // `_ext` lands BEFORE the pointer: a committed clone can never be
    // read without its map (a crash in between leaves garbage a
    // re-clone overwrites, never a half-table). Distributed re-root
    // staging, exactly a compaction's (the source manifest chain reads
    // fine from here — its dirs are absolute); no delta sidecar: its
    // parent link would name a source manifest this root does not
    // retain.
    val name = compactManifest(spark, dstRoot, meta, meta.ddl, Nil,
      writeSidecar = false)
    commit(fsD, dstRoot, 1L, name, op = "CLONE")
    // post-commit verification (fence 3): if a loser's stale overwrite
    // slipped in, re-merge OUR mappings back over whatever is there
    // now — the loser's own commit can never succeed (v1 is taken), so
    // after this repair the committed map is final
    val committed = extRootsUncached(spark, fsD, dstRoot)
    val healed =
      if (mineStaged.forall { case (b, r) => committed.get(b).contains(r) })
        committed
      else stageExt()
    // cache only AFTER the successful commit: a loser caching its
    // pre-commit map would shadow the winner's committed one for the
    // rest of this JVM's life
    extCache.put(dstQ, healed)
    batches.length.toLong
    } catch {
      case t: Throwable => unpinAll(); throw t
    }
  }

  /** Deterministic name of the retention pin a clone at `dstQualified`
    * holds on each of its source roots. */
  private def clonePinName(dstQualified: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(dstQualified.getBytes(StandardCharsets.UTF_8))
    "clone-" + d.take(8).map(b => f"$b%02x").mkString
  }

  /** Release the retention pins the clone at `dir` holds on source
    * roots it NO LONGER references: once a full rewrite (OPTIMIZE /
    * cluster / whole-table update) has retired every external batch
    * dir of a root, that source's vacuum is unblocked. With
    * `force = true` every pin releases regardless of remaining
    * references — the pre-DROP step for deleting a clone (a forced
    * release while references remain re-opens the reclamation window
    * the pin closed, exactly as intended for a drop). Returns the
    * number of roots released. No-op on ordinary tables. */
  def releaseCloneSourcePins(spark: SparkSession, dir: String,
                             force: Boolean = false): Long = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    val ext = extRoots(spark, root)
    if (ext.isEmpty) return 0L
    val stillNeeded: Set[String] =
      if (force) Set.empty
      else {
        val meta = snapshotMeta(spark, dir)
        val liveBatches = localDistinctStrings(
          entriesDataset(spark, meta).toDF()
            .select(split(col("path"), "/").getItem(1))).flatten.toSet
        liveBatches.intersect(ext.keySet).map(ext)
      }
    val name = clonePinName(fs.makeQualified(root).toString)
    val releasable = (ext.values.toSet -- stillNeeded)
      .filterNot(_.startsWith(RawExtPrefix)) // raw dirs were never pinned
    releasable.foreach(r => unpin(spark, r, name))
    releasable.size.toLong
  }

  /** CONVERT-IN-PLACE: adopt an EXISTING plain-parquet directory as a
    * manifest table without rewriting, copying, or moving a byte —
    * Delta's `CONVERT TO DELTA`, expressed through the clone
    * machinery's external-batch map. One synthetic batch dir per LEAF
    * directory maps to it with the [[RawExtPrefix]] form (entry tails
    * are single file names, which [[resolveData]] and the rel-path
    * derivation reverse exactly); per-file partition-value sets, row
    * counts, byte sizes, and optional column stats come from ONE
    * distributed read-back pass — the same pass every ordinary write
    * performs — with sizes from `_metadata` (no per-file driver RPC);
    * the v1 commit lists the files by reference.
    *
    * From then on the table is fully live: appends land local batches,
    * keyed/predicate rewrites and OPTIMIZE retire converted references
    * file by file (a full rewrite leaves it self-contained),
    * merge-on-read DVs mask converted files exactly like local ones,
    * clustering/SQL/streaming all work. The adopted files are NEVER
    * deleted by this table's vacuum (they live outside its root);
    * deleting the source dir breaks the table — the same
    * external-reference caveat a shallow clone carries, without the
    * retention pin (a plain dir has no manifest to pin).
    *
    * HIVE-PARTITIONED layouts (`…/col=value/…` — the single most
    * common plain-parquet lake shape) convert too: Spark's own
    * partition discovery supplies the directory-derived columns to the
    * stats pass, the adopted schema records them, and every read
    * re-derives the value from the file's own path
    * ([[hiveInjected]] — Delta's `CONVERT TO DELTA
    * PARTITIONED BY` parity, still zero-rewrite). `%xx`-escaped
    * values and `__HIVE_DEFAULT_PARTITION__` nulls resolve exactly as
    * Spark discovery resolves them. Layouts that MIX plain and
    * `col=value` directory levels, or carry different key sequences at
    * different leaves, refuse loudly. A plain FILE whose name contains
    * `=` is just a file.
    *
    * Refusals: a source on a different filesystem than the table root
    * (file identity here is path-based); table root and source nested
    * either way; a leaf dir carrying a `_bloom` collision. All files
    * must share one schema (the read uses Spark's stock parquet schema
    * resolution).
    *
    * SCALE: the per-file stats pass is one distributed aggregation and
    * STAYS distributed — the manifest is staged as
    * `sentinel ∪ entries-DataFrame` exactly like a compaction, so
    * driver heap is O(leaf dirs) (the `_ext` map is one line per dir
    * regardless), never O(adopted files). Returns the number of files
    * adopted. */
  def convert(spark: SparkSession, dir: String, parquetDir: String,
              partitionCol: String,
              statsCols: Seq[String] = Nil): Long = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    require(latestVersion(spark, dir).isEmpty,
      s"a table already exists at $dir")
    val (fsP, pRootRaw) = fsOf(spark, parquetDir)
    require(fsP.getUri == fs.getUri,
      s"convert source $parquetDir must live on the table root's " +
        s"filesystem (${fs.getUri}) — adopted file identity is " +
        "path-based")
    require(fsP.exists(pRootRaw), s"no such directory $parquetDir")
    val pPathOnly = fsP.makeQualified(pRootRaw).toUri.getPath
      .stripSuffix("/")
    val rootPathOnly = fs.makeQualified(root).toUri.getPath
      .stripSuffix("/")
    // nesting either way is refused: a table root inside the adopted
    // dir would sit local `data/b-…` batches where the Hive-value
    // parse could misfire, and an adopted dir inside the table root
    // would sit foreign files where vacuum hunts orphans
    require(pPathOnly != rootPathOnly &&
      !(pPathOnly + "/").startsWith(rootPathOnly + "/") &&
      !(rootPathOnly + "/").startsWith(pPathOnly + "/"),
      s"table root $dir and convert source $parquetDir must not nest")
    val df = org.apache.spark.sql.GraftParquetBridge
      .localInferSchema(spark, parquetDir)
      .map(sc => spark.read.schema(sc).parquet(parquetDir))
      .getOrElse(spark.read.parquet(parquetDir))
    (partitionCol +: statsCols).foreach(c =>
      require(df.columns.contains(c),
        s"column $c not in the converted schema " +
          df.columns.mkString(",")))
    def statRender(agg: org.apache.spark.sql.Column, c: String) =
      df.schema(c).dataType match {
        case TimestampType => unix_micros(agg).cast("string")
        case _ => agg.cast("string")
      }
    val statAggs =
      if (statsCols.isEmpty)
        Seq(typedLit(Seq.empty[String]).as("stat_mins"),
          typedLit(Seq.empty[String]).as("stat_maxs"))
      else Seq(
        array(statsCols.map(c => statRender(min(col(c)), c)): _*)
          .as("stat_mins"),
        array(statsCols.map(c => statRender(max(col(c)), c)): _*)
          .as("stat_maxs"))
    val aggList = Seq(
      slice(sort_array(collect_set(col(partitionCol).cast("string"))),
        1, ValuesCap + 1).as("values_full"),
      max(col(partitionCol).isNull.cast("int")).as("has_null"),
      count(lit(1)).as("rows"),
      first(col("_metadata.file_size")).as("bytes")) ++ statAggs
    // ONE distributed read-back pass — the same pass every ordinary
    // write performs — kept distributed end to end
    val stats = df
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggList.head, aggList.tail: _*)
      .withColumn("p", rawPathCol(col("file")))
      .withColumn("parent", regexp_extract(col("p"), "^(.*)/[^/]+$", 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dirs = localDistinctStrings(stats.select(col("parent")))
        .flatten.sorted.toSeq
      require(dirs.nonEmpty, s"no parquet rows under $parquetDir")
      dirs.foreach(d => require(d == pPathOnly ||
        d.startsWith(pPathOnly + "/"),
        s"unexpected file dir $d outside $pPathOnly"))
      // Hive detection reads DIRECTORY segments only (a file name with
      // '=' is just a file); mixed or ragged layouts refuse
      val rels = dirs.map(_.stripPrefix(pPathOnly).stripPrefix("/"))
      val hiveSpec: Option[HiveSpec] =
        if (!rels.exists(_.split('/').exists(_.contains("=")))) None
        else {
          val keySeqs: Seq[Seq[String]] = rels.map { r =>
            require(r.nonEmpty,
              s"$parquetDir mixes files at the root with " +
                "`col=value` directories — a Hive layout must be " +
                "uniform; rewrite through Manifest.create")
            r.split('/').toSeq.map { s =>
              val i = s.indexOf('=')
              require(i > 0,
                s"$parquetDir mixes plain and `col=value` directory " +
                  s"levels ($r): a Hive layout must be uniformly " +
                  "`col=value` at every level; rewrite through " +
                  "Manifest.create")
              hiveUnescape(s.substring(0, i))
            }
          }
          val keys = keySeqs.head
          require(keySeqs.forall(_ == keys),
            s"$parquetDir is Hive-partitioned at mixed depths or with " +
              s"mixed keys (${keySeqs.distinct.take(3).map(_.mkString("/"))
                .mkString(" vs ")}): every leaf directory must carry " +
              "the same `col=value` levels")
          require(keys.distinct.size == keys.size,
            s"duplicate Hive partition column in $parquetDir: " +
              keys.mkString("/"))
          keys.foreach(k => require(df.columns.contains(k),
            s"Hive partition column $k (from directory names) missing " +
              s"from the discovered schema ${df.columns.mkString(",")}"))
          Some(HiveSpec(pPathOnly, keys))
        }
      val batchOf = dirs.map(d => d -> s"b-${UUID.randomUUID()}").toMap
      dirs.foreach(d => require(!fsP.exists(new Path(d, BloomDir)),
        s"$d contains a $BloomDir entry — refusing to adopt a " +
          "directory that collides with manifest side metadata"))
      val mapped: Map[String, String] = dirs.map { d =>
        val q = fsP.makeQualified(new Path(d)).toString
        batchOf(d) -> s"$RawExtPrefix$q"
      }.toMap ++ hiveSpec.map(hs => HiveExtKey -> renderHiveSpec(hs))
      // `_ext` lands BEFORE the pointer (the clone ordering): a
      // committed convert can never be read without its map
      require(latestVersion(spark, dir).isEmpty,
        s"a table appeared at $dir while converting")
      fs.mkdirs(root)
      val target = new Path(root, ExtFile)
      // EXCLUSIVE publish: an `_ext` already here (with no committed
      // table) is a crashed or in-flight convert/clone — refuse
      // loudly rather than overwrite a racer's just-committed map;
      // the loser of a true race fails on this check, the rename, or
      // the pointer's exclusive create, and the post-commit heal
      // below repairs any overwrite that still slips the window
      require(!fs.exists(target),
        s"$ExtFile already exists at $dir with no committed table — " +
          "a crashed or concurrent convert/clone staged it; remove " +
          "it or convert into a fresh root")
      val tmp = new Path(root, s".$ExtFile-${UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write((mapped.toSeq.sortBy(_._1)
        .map { case (b, r) => s"$b=$r" }.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      require(fs.rename(tmp, target),
        s"could not publish $ExtFile at $dir (concurrent convert?)")
      // entry staging is DISTRIBUTED: the per-file stats frame maps
      // straight to slim manifest rows; only the O(dirs) batch map
      // rides the plan (one literal map — the `_ext` file is the same
      // size, so dirs are bounded by design, files are not)
      val batchMap = typedLit(batchOf)
      val entriesDf = stats.select(
        concat(lit(s"$DataDir/"),
          coalesce(element_at(batchMap, col("parent")),
            raise_error(concat(
              lit(s"file appeared under $parquetDir while converting: "),
              col("p"))).cast("string")),
          lit("/"), regexp_extract(col("p"), "([^/]+)$", 1)).as("path"),
        slice(col("values_full"), 1, ValuesCap).as("values"),
        (col("has_null") === 1).as("has_null"),
        (size(col("values_full")) > ValuesCap).as("overflow"),
        col("rows"), col("bytes"),
        lit("").as("schema_ddl"),
        typedLit(Seq.empty[String]).as("stat_cols"),
        col("stat_mins"), col("stat_maxs"),
        typedLit(Seq.empty[String]).as("bloom_cols"),
        typedLit(Seq.empty[String]).as("dv_dirs"),
        typedLit(Seq.empty[String]).as("constraints"))
      val nEntries = stats.count()
      val name = writeManifestDist(spark, root, entriesDf,
        nullableDdl(df.schema), statsCols, nEntries)
      commit(fs, root, 1L, name, op = "CONVERT")
      // post-commit heal (the clone fence): if a racing convert's map
      // overwrote ours between publish and commit, rewrite ours — the
      // racer can no longer commit (v1 is taken), so after this the
      // committed map is final
      if (extRootsUncached(spark, fs, root) != mapped) {
        val tmp2 = new Path(root, s".$ExtFile-${UUID.randomUUID()}.tmp")
        val out2 = fs.create(tmp2, true)
        try out2.write((mapped.toSeq.sortBy(_._1)
          .map { case (b, r) => s"$b=$r" }.mkString("\n") + "\n")
          .getBytes(StandardCharsets.UTF_8))
        finally out2.close()
        fs.delete(target, false)
        require(fs.rename(tmp2, target),
          s"could not heal $ExtFile at $dir after commit")
      }
      // cache only after the successful commit, like a clone
      extCache.put(fs.makeQualified(root).toString, mapped)
      nEntries
    } finally stats.unpersist()
  }

  /** Driver-side inverse of Hive/Spark dir-name escaping (`%xx`; '+'
    * is literal): used for partition-column NAMES parsed from
    * `col=value` segments. An undecodable name is kept verbatim. */
  private def hiveUnescape(s: String): String =
    try urlDec(s.replace("+", "%2B"))
    catch { case _: IllegalArgumentException => s }

  /** [[writeManifest]]'s DISTRIBUTED twin for table-birth commits whose
    * entry set is already a DataFrame ([[convert]] adopting 10⁷
    * files): sentinel ∪ entries straight to parquet, sized like a
    * compaction — the per-file list never visits the driver. */
  private[graft] def writeManifestDist(spark: SparkSession, root: Path,
                                       entriesDf: DataFrame, ddl: String,
                                       statsCols: Seq[String],
                                       nEntries: Long): String = {
    import spark.implicits._
    val name = s"m-${UUID.randomUUID()}"
    val dir = new Path(new Path(root, ManifestsDir), name).toString
    val sentinel = ManifestEntry("", Seq.empty,
      has_null = false, overflow = false, rows = 0L, bytes = 0L,
      schema_ddl = ddl, stat_cols = statsCols,
      stat_mins = Seq.empty, stat_maxs = Seq.empty,
      bloom_cols = Seq.empty, dv_dirs = Seq.empty,
      constraints = Seq.empty)
    // ~120 B per slim entry on disk — the compaction sizing yardstick
    val nFiles = math.max(1L, nEntries * 120L / ManifestTargetBytes).toInt
    Seq(sentinel).toDF().unionByName(entriesDf)
      .coalesce(nFiles).write.parquet(dir)
    writeSentinelFile(root.getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(dir), sentinel)
    name
  }

  /** Top-level nullable rendering (nullability is not a parquet
    * round-trip invariant, so the table schema is recorded nullable). */
  private def nullableDdl(s: StructType): String =
    StructType(s.fields.map(_.copy(nullable = true))).toDDL

  // -------- deletion vectors (merge-on-read) --------

  /** Manifest-relative path of the file a row came from, derived from
    * `_metadata.file_path`. Anchored on the batch-dir pattern
    * (`/data/b-<uuid>/<file>` at END of path) rather than any split on
    * `/data/`: a table ROOT whose own path ends in `/data` produces
    * overlapping `/data/data/` occurrences that a left-to-right split
    * mis-segments (yielding `data/data/b-...`, which matches no
    * manifest entry — DV masking would silently skip and deleted rows
    * resurrect). The UUID'd batch dir cannot occur anywhere but the
    * table's own data dir, so the rightmost match is always exact.
    *
    * CONVERTED ([[convert]]) raw batches break that anchor: their
    * physical paths are the ADOPTED dir's own layout, with no
    * `data/b-…` segment anywhere — so when the table's `_ext` map
    * carries `raw:` entries, each gets a when-branch matching files
    * DIRECTLY under its dir (scheme/authority stripped on both sides:
    * [[convert]] requires source and table share one filesystem, so
    * the path alone is a sound identity) and deriving
    * `data/<batch>/<file name>`. Tables without raw entries — the
    * overwhelming steady state — keep the single-regex fast path. */
  private def relPathCol(spark: SparkSession,
                         root: Path): org.apache.spark.sql.Column = {
    val base = concat(lit(s"$DataDir/"),
      regexp_extract(col("_metadata.file_path"),
        s"/$DataDir/(b-[0-9a-f-]{36}/[^/]+)$$", 1))
    val raws = extRoots(spark, root).toSeq
      .filter(_._2.startsWith(RawExtPrefix)).sortBy(_._1)
    if (raws.isEmpty) base
    else {
      // scheme/authority off AND percent-DECODED ([[rawPathCol]]): the
      // `raw:` dirs below came through Path.toUri.getPath, so an
      // adopted dir or file with a '%'/'='-bearing name (every escaped
      // Hive value) would otherwise miss its prefix match and
      // resurrect DV-deleted rows
      val pathOnly = rawPathCol(col("_metadata.file_path"))
      raws.foldLeft(base) { case (acc, (b, r)) =>
        val d = new Path(r.stripPrefix(RawExtPrefix)).toUri.getPath
          .stripSuffix("/")
        val fileName = regexp_extract(pathOnly, "([^/]+)$", 1)
        // DIRECTLY under d: the remainder after "d/" is one segment
        val direct = pathOnly.startsWith(d + "/") &&
          length(pathOnly) === lit(d.length + 1) + length(fileName)
        when(direct, concat(lit(s"$DataDir/$b/"), fileName))
          .otherwise(acc)
      }
    }
  }

  /** Driver-LOCAL deletion-vector decode when the sidecar dirs sit
    * under the SAME budget that gates every other driver-resident
    * metadata venue ([[localReadBudget]]) — the round-17 batch-4 move
    * applied to DV sidecars: a MoR lifecycle resolved its (usually
    * few-KB) vectors through distributed scans several times per op
    * (touched-path discovery, the mask relation of every read). Zero
    * Spark jobs under the budget; `None` past it (or on any unexpected
    * physical shape), sending the caller to the distributed read
    * unchanged. Parity is spec-pinned (DvLocalReadSpec). */
  /** Bounded per-JVM memo of DECODED DV sidecars, keyed by (root, dv
    * dir name). Sound for the same reason as [[snapshotMetaCache]]: a
    * committed `d-<uuid>` dir is immutable ([[writeDv]] stages a fresh
    * UUID dir per commit, never appends to one), so its decoded rows
    * are a pure function of the name. A MoR lifecycle resolves the same
    * vectors several times per op (touched-path discovery + the mask
    * relation of every read); without the memo each resolution re-paid
    * serial driver parquet decode — measured ~0.25 s per man_upsert_mor
    * at sf0.1. Evicts LRU past 64 dirs or 2²⁰ total cached rows (~150 MB
    * worst-case heap); oversized vectors simply never enter. */
  private val dvDecodeCache =
    new java.util.LinkedHashMap[String, (Long, Vector[DvEntry])](32, 0.75f, true)
  private var dvDecodeCachedRows = 0L
  private val DvCacheMaxRows = 1L << 20

  private def dvCacheGet(key: String): Option[(Long, Vector[DvEntry])] =
    dvDecodeCache.synchronized(Option(dvDecodeCache.get(key)))

  private def dvCachePut(key: String, bytes: Long,
                         v: Vector[DvEntry]): Unit =
    dvDecodeCache.synchronized {
      if (v.size > DvCacheMaxRows || dvDecodeCache.containsKey(key)) return
      dvDecodeCache.put(key, (bytes, v))
      dvDecodeCachedRows += v.size
      val it = dvDecodeCache.entrySet().iterator()
      while ((dvDecodeCache.size > 64 ||
        dvDecodeCachedRows > DvCacheMaxRows) && it.hasNext) {
        val e = it.next()
        dvDecodeCachedRows -= e.getValue._2.size
        it.remove()
      }
    }

  /** One DV dir's on-disk bytes + decoded rows, memoized; None when the
    * physical shape is unexpected (caller falls back to distributed). */
  private def dvDecodeDir(fs: FileSystem,
                          conf: org.apache.hadoop.conf.Configuration,
                          root: Path, d: String)
      : Option[(Long, Vector[DvEntry])] = {
    val key = s"$root#$d"
    dvCacheGet(key).orElse {
      val files = fs.listStatus(new Path(new Path(root, DvDir), d))
        .filter(st => st.isFile && st.getLen > 0 &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
      val bytes = files.iterator.map(_.getLen).sum
      val out = Vector.newBuilder[DvEntry]
      var ok = true
      files.foreach { st =>
        if (ok) {
          val reader = org.apache.parquet.hadoop.ParquetReader
            .builder(
              new org.apache.parquet.hadoop.example.GroupReadSupport(),
              st.getPath)
            .withConf(conf).build()
          try {
            var g = reader.read()
            while (g != null && ok) {
              // both fields are written non-null (from readWithPos's
              // metadata columns); any other shape → distributed
              if (g.getFieldRepetitionCount("path") == 0 ||
                  g.getFieldRepetitionCount("pos") == 0) ok = false
              else out += DvEntry(
                g.getBinary("path", 0).toStringUsingUTF8,
                g.getLong("pos", 0))
              g = reader.read()
            }
          } finally reader.close()
        }
      }
      if (!ok) None
      else {
        val v = (bytes, out.result())
        dvCachePut(key, v._1, v._2)
        Some(v)
      }
    }
  }

  /** The DV local venue's OWN byte gate, much tighter than the manifest
    * planning budget: the driver decode is a serial parquet-mr Group
    * walk (~5-10 µs/row) while the distributed read it replaces is one
    * ~40-80 ms job — break-even sits near 10⁴ rows ≈ 64 KB on disk.
    * Below it (the trickle-delete / CDC vector shape) local is a pure
    * win; above it (bulk-update vectors) the distributed scan's
    * vectorized reader + parallelism is faster at any scale. Measured:
    * a 128 MB-budget gate regressed man_upsert_mor 2.83→3.08 s at sf0.1
    * (its 80-220 KB vectors decode ~0.2 s serial). */
  private val DvLocalMaxBytes = 64L << 10

  private def dvLocalEntries(spark: SparkSession, root: Path,
                             dvDirs: Seq[String]): Option[Seq[DvEntry]] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val budget = math.min(localReadBudget(spark), DvLocalMaxBytes)
      if (budget < 0L) None // pinned distributed
      else {
        val fs = root.getFileSystem(conf)
        val decoded = dvDirs.map(d => dvDecodeDir(fs, conf, root, d))
        if (decoded.exists(_.isEmpty) ||
            decoded.iterator.flatten.map(_._1).sum >= budget) None
        else Some(decoded.iterator.flatten.flatMap(_._2).toVector)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The union of the snapshot's deletion-vector relations (empty
    * DataFrame of (path, pos) when the snapshot has none). Under the
    * local budget this is a LocalRelation (known size, zero scan jobs,
    * broadcast-eligible for the mask anti-join); past it, the
    * distributed parquet read. */
  private def dvRelation(spark: SparkSession, root: Path,
                         dvDirs: Seq[String]): DataFrame = {
    import spark.implicits._
    if (dvDirs.isEmpty) spark.emptyDataset[DvEntry].toDF()
    else dvLocalEntries(spark, root, dvDirs) match {
      case Some(rows) => spark.createDataset(rows).toDF()
      case None => spark.read
        .schema(org.apache.spark.sql.Encoders.product[DvEntry].schema)
        .parquet(dvDirs.map(d =>
          new Path(new Path(root, DvDir), d).toString): _*)
    }
  }

  /** Data files (by manifest-relative path) that any DV row references
    * — bounded by the live file count, same order as the manifest
    * itself, so the driver collect is safe at 100 TB. */
  private def dvTouchedPaths(spark: SparkSession, root: Path,
                             dvDirs: Seq[String]): Set[String] =
    if (dvDirs.isEmpty) Set.empty
    else dvLocalEntries(spark, root, dvDirs) match {
      case Some(rows) => rows.iterator.map(_.path).toSet
      case None =>
        localDistinctStrings(spark.read
          .schema(org.apache.spark.sql.Encoders.product[DvEntry].schema)
          .parquet(dvDirs.map(d =>
            new Path(new Path(root, DvDir), d).toString): _*)
          .select(col("path"))).flatten.toSet
    }

  /** ONE-JOB distinct of `df`'s single STRING column: per-partition
    * local distinct folded on the driver — no exchange, and none of
    * the one-job-per-AQE-stage overhead the `distinct().collect()`
    * shape pays (2-3 Spark jobs for a metadata-sized result; guide
    * §2.4's "remove shuffles outright" applied to the protocol's own
    * internal aggregations). Set-equal to `df.distinct().collect()`;
    * nulls surface as None. The scan itself is unchanged — this only
    * moves the fold of a tiny result from a shuffle to the driver. */
  private def localDistinctStrings(df: DataFrame): Array[Option[String]] = {
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val s = new java.util.HashSet[String]()
      var sawNull = false
      while (it.hasNext) {
        val r = it.next()
        if (r.isNullAt(0)) sawNull = true
        else s.add(r.getUTF8String(0).toString)
      }
      Iterator.single((s.toArray(new Array[String](0)), sawNull))
    }.collect()
    val set = new java.util.LinkedHashSet[String]()
    var sawNull = false
    parts.foreach { case (vs, n) => vs.foreach(set.add); sawNull |= n }
    val vals: Array[Option[String]] =
      set.toArray(new Array[String](0)).map(Option(_))
    if (sawNull) vals :+ (None: Option[String]) else vals
  }

  /** One-job CAPPED distinct of `df`'s single column (any type whose
    * catalyst form has value equality): each task stops scanning once
    * `cap + 1` distinct values (a null counts as one) are in hand, so
    * over-cap inputs cost one bounded partial scan instead of a full
    * shuffle. Returns (owned catalyst values, sawNull, overflowed);
    * when `overflowed` is false the value set is COMPLETE — exactly
    * the contract `distinct().limit(cap + 1).collect()` gave its
    * callers (they only test overflow/null and consume the full set
    * under the cap, so which cap+1 values an over-cap input yields is
    * immaterial). */
  private def localDistinctCapped(df: DataFrame, cap: Int)
      : (Array[Any], Boolean, Boolean) = {
    val dt = df.schema.fields(0).dataType
    val lim = cap + 1
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val s = new java.util.HashSet[Any]()
      var sawNull = false
      while (it.hasNext && s.size + (if (sawNull) 1 else 0) < lim) {
        val r = it.next()
        if (r.isNullAt(0)) sawNull = true
        else s.add(org.apache.spark.sql.catalyst.InternalRow.copyValue(
          r.get(0, dt)))
      }
      Iterator.single((s.toArray(), sawNull))
    }.collect()
    val set = new java.util.LinkedHashSet[Any]()
    var sawNull = false
    parts.foreach { case (vs, n) => vs.foreach(set.add); sawNull |= n }
    val over = set.size + (if (sawNull) 1 else 0) > cap
    (set.toArray(), sawNull, over)
  }

  /** `entries`' rows with their file-position identity attached
    * (`__rel`, `__pos`) — the join key of the DV world. */
  private def readWithPos(spark: SparkSession, root: Path,
                          entries: Seq[Entry], ddl: String): DataFrame =
    if (entries.isEmpty)
      // synthesized empty relation has no `_metadata` to project
      readEntries(spark, root, entries, ddl)
        .withColumn("__rel", lit(null).cast(StringType))
        .withColumn("__pos", lit(null).cast(LongType))
    else
      readEntries(spark, root, entries, ddl)
        .withColumn("__rel", relPathCol(spark, root))
        .withColumn("__pos", col("_metadata.row_index"))

  /** Anti-join the DV mask. `dv` may reference files outside `df` —
    * those rows are inert (match nothing). */
  private def maskRows(df: DataFrame, dv: DataFrame): DataFrame =
    df.join(dv.select(col("path").as("__rel"), col("pos").as("__pos")),
      Seq("__rel", "__pos"), "left_anti")

  /** DV mask over an arbitrary file-sourced DataFrame of this table —
    * the hook [[graft.plans.ManifestScan]] layers on top of its pruned
    * relation (a single relation can't split touched/untouched files,
    * so the anti-join spans the scan; [[materialize]] restores the
    * join-free path). */
  private[graft] def maskedByDv(spark: SparkSession, dir: String,
                                df: DataFrame,
                                dvDirs: Seq[String]): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    maskRows(df.withColumn("__rel", relPathCol(spark, root))
        .withColumn("__pos", col("_metadata.row_index")),
      dvRelation(spark, root, dvDirs))
      .drop("__rel", "__pos")
  }

  /** The MoR read: files untouched by any DV read PLAIN (no metadata
    * columns, no join — the hot path stays the hot path); files with DV
    * rows read with position identity, anti-join the mask, drop the
    * helpers. With no DVs this IS `readEntries`. */
  private def readEntriesMasked(spark: SparkSession, root: Path,
                                entries: Seq[Entry], ddl: String,
                                dvDirs: Seq[String]): DataFrame = {
    val touched = dvTouchedPaths(spark, root, dvDirs)
      .intersect(entries.map(_.path).toSet)
    if (touched.isEmpty) readEntries(spark, root, entries, ddl)
    else {
      val (masked, plain) = entries.partition(e => touched.contains(e.path))
      val dv = dvRelation(spark, root, dvDirs)
      val maskedRows = maskRows(readWithPos(spark, root, masked, ddl), dv)
        .drop("__rel", "__pos")
      if (plain.isEmpty) maskedRows
      else readEntries(spark, root, plain, ddl).unionByName(maskedRows)
    }
  }

  // -------- range pruning on file stats --------

  /** Driver-side ordering over the recorded string renderings, by the
    * column's actual type. Numerics parse (string compare of "10" vs
    * "9" would invert); dates / strings / timestamps compare
    * lexicographically (their uniform renderings are order-preserving).
    * `None` = no safe ordering for this type — never prune on it. */
  private[graft] def renderedOrdering(dt: DataType): Option[(String, String) => Int] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((a, b) => java.lang.Long.compare(a.toLong, b.toLong))
      case FloatType | DoubleType =>
        Some((a, b) => java.lang.Double.compare(a.toDouble, b.toDouble))
      case _: DecimalType =>
        Some((a, b) => BigDecimal(a).compare(BigDecimal(b)))
      case DateType | StringType | TimestampNTZType =>
        Some((a, b) => a.compareTo(b))
      // TimestampType stats are epoch-micros strings (zone-free)
      case TimestampType =>
        Some((a, b) => java.lang.Long.compare(a.toLong, b.toLong))
      case BooleanType =>
        Some((a, b) => java.lang.Boolean.compare(a.toBoolean, b.toBoolean))
      case _ => None
    }

  /** A user-supplied bound/value string in the STORED rendering for
    * `dt`: timestamps parse in the CALLER's session timezone (that is
    * what the caller means) and convert to zone-free epoch micros;
    * every other type is already stored in its plain rendering. `None`
    * = unparseable — fail open, never prune. */
  private def renderedBound(s: String, dt: DataType): Option[String] =
    dt match {
      case TimestampType =>
        val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
        Option(org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(s),
            StringType), TimestampType, Some(tz)).eval(null))
          .map(_.toString) // micros Long
      case _ => Some(s)
    }

  /** File entries that can hold a row with `lo <= column <= hi` (either
    * bound optional). A file with no recorded stats for the column is
    * always a candidate; a file whose column is all-null (null min/max)
    * never is — range predicates match no null row. */
  private def rangeCandidates(spark: SparkSession, meta: SnapshotMeta,
                              dt: DataType, column: String,
                              rawLo: Option[String],
                              rawHi: Option[String]): Seq[Entry] = {
    val idx = meta.statsCols.indexOf(column)
    val cmpOpt = renderedOrdering(dt)
    // a bound that does not parse in the stored rendering cannot prune
    val lo = rawLo.flatMap(renderedBound(_, dt))
    val hi = rawHi.flatMap(renderedBound(_, dt))
    val ds = entriesDataset(spark, meta)
    if (idx < 0 || cmpOpt.isEmpty || (lo.isEmpty && hi.isEmpty))
      return ds.collect().toSeq // unprunable: the read opens every file
    val cmp = cmpOpt.get
    // the EXACT closure, run where the entries live (a typed filter on
    // executors) — only surviving candidates reach the driver
    ds.filter { e =>
      if (e.stat_mins.length <= idx || e.stat_maxs.length <= idx) true
      else (Option(e.stat_mins(idx)), Option(e.stat_maxs(idx))) match {
        case (Some(mn), Some(mx)) =>
          // a stored stat that does not parse in the CURRENT rendering
          // (e.g. a timestamp manifest written before stats moved to
          // epoch-micros holds wall-clock strings) cannot order — fail
          // open, keep the file: old tables stay readable, never
          // wrongly pruned
          try lo.forall(l => cmp(mx, l) >= 0) && hi.forall(h => cmp(mn, h) <= 0)
          catch { case _: NumberFormatException => true }
        case _ => false // all-null column in this file
      }
    }.collect().toSeq
  }

  /** Which files a `lo <= column <= hi` read would open (paths) —
    * exposed for spec assertions that range pruning actually skips
    * files. */
  private[ops] def rangeCandidatePaths(spark: SparkSession, dir: String,
                                       column: String, lo: Option[String],
                                       hi: Option[String]): Seq[String] = {
    val meta = snapshotMeta(spark, dir)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    rangeCandidates(spark, meta, schema(column).dataType, column, lo, hi)
      .map(_.path)
  }

  /** Range read with file skipping: only files whose recorded min/max
    * can intersect `[lo, hi]` (string renderings of the column's type;
    * either bound optional) are opened, then the exact row predicate is
    * applied on top — same answer as `read(...).filter(...)`, fewer
    * files read. The 100 TB shape for the reference's date-ranged KPI
    * scans (`/root/reference/Task_2/task_2.py:107,126`) when the table
    * is partitioned by some other column. */
  def readRange(spark: SparkSession, dir: String, column: String,
                lo: Option[String], hi: Option[String]): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val meta = snapshotMeta(spark, dir)
    val pCol = physName(meta.colMap, column)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val dt = schema(pCol).dataType
    val cands = rangeCandidates(spark, meta, dt, pCol, lo, hi)
    val df = readEntriesMasked(spark, root, cands, meta.ddl, meta.dvDirs)
    val bounds = lo.map(l => col(pCol) >= lit(l).cast(dt)).toSeq ++
      hi.map(h => col(pCol) <= lit(h).cast(dt))
    toLogical(bounds.foldLeft(df)(_.filter(_)), meta.colMap)
  }

  // -------- bloom point-lookup pruning --------

  /** Candidate entries for `column = value`, pruned by min/max stats
    * (equality = a degenerate range) and then by the per-file bloom
    * filters when the column is bloom-configured. Bloom rows live in
    * per-batch `_bloom/` side relations (written once with the batch,
    * never copied by later commits — the manifest itself stays slim);
    * the membership test runs DISTRIBUTED over those relations and only
    * surviving file paths come back to the driver. A file with no bloom
    * row for the column (written before the column existed, via
    * [[evolve]]) is always a candidate; a file whose column is all-null
    * has an empty filter and is skipped — equality never matches null. */
  private def pointCandidates(spark: SparkSession, root: Path,
                              meta: SnapshotMeta, dt: DataType,
                              column: String,
                              value: String): Seq[Entry] = {
    val rangeCands = rangeCandidates(spark, meta, dt, column,
      Some(value), Some(value))
    if (!meta.bloomCols.contains(column) || rangeCands.isEmpty)
      return rangeCands
    // probe positions via the same Spark expressions the writer used
    val probeRow = spark.range(1).select(
      (0 until BloomHashes).map(i =>
        bloomPosition(lit(value).cast(dt), i)): _*).head()
    val positions = (0 until BloomHashes).map(probeRow.getLong)
    // one bloom relation per batch dir holding candidate files
    val extR = extRoots(spark, root)
    val bloomPaths = rangeCands.map(_.path.split('/')(1)).distinct
      .map(b => resolveData(root, extR, s"$DataDir/$b/$BloomDir"))
      .filter(bp => bp.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(bp))
      .map(_.toString)
    if (bloomPaths.isEmpty) return rangeCands
    val verdicts = spark.read
      .schema(org.apache.spark.sql.Encoders.product[BloomEntry].schema)
      .parquet(bloomPaths: _*)
      .where(col("column") === column)
      .select(col("path"),
        positions.map(p => bloomBitTest(col("bits"), lit(p)))
          .reduce(_ && _).as("pass"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    rangeCands.filter(e => verdicts.getOrElse(e.path, true))
  }

  /** Probe-side cap for [[bloomBatchCandidates]]: above this many
    * distinct keys the probe set is no longer "small broadcast" and the
    * batch is churning enough that the candidate scan is inevitable. */
  private val BloomProbeCap = 10000L

  /** Shrink `cands` to the files whose bloom filter for `keyCol` can
    * contain ANY of `batch`'s keys — the BATCH form of
    * [[pointCandidates]]'s single-value probe, used by keyed
    * deletes/upserts so a small batch against a wide partition touches
    * only the files that can hold its keys. Files with no bloom row for
    * the column (pre-[[evolve]] writes) always stay candidates; no
    * false negatives, so dropping a file is always sound. The test is a
    * broadcast-nested-loop of (files × keys) bit probes — cheap scalar
    * work bounded by `|cands| × BloomProbeCap`, no data movement. */
  private def bloomBatchCandidates(spark: SparkSession, root: Path,
                                   ddl: String, bloomCols: Seq[String],
                                   cands: Seq[Entry], batch: DataFrame,
                                   keyCol: String): Seq[Entry] = {
    if (!bloomCols.contains(keyCol) || cands.isEmpty) return cands
    val extR = extRoots(spark, root)
    val bloomPaths = cands.map(_.path.split('/')(1)).distinct
      .map(b => resolveData(root, extR, s"$DataDir/$b/$BloomDir"))
      .filter(bp => bp.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(bp))
      .map(_.toString)
    if (bloomPaths.isEmpty) return cands
    // ONE bounded pass over the batch: the capped distinct key set
    // comes to the driver (≤ cap+1 values, one job, no exchange), and
    // both gate checks read it locally — over-cap batches and
    // null-carrying batches (a null key never bloom-probes but `<=>`
    // can match it) fail open to `cands`
    val (keyVals, keyNull, keyOver) =
      localDistinctCapped(batch.select(col(keyCol)), BloomProbeCap.toInt)
    if (keyOver || keyNull) return cands
    // probe with the TABLE's column type: the writer hashed the stored
    // column, so a differently-typed batch key (Int vs the table's
    // Long) must be cast before hashing or every probe misses — a
    // bloom false NEGATIVE, i.e. silently skipped deletes
    val dt = DataType.fromDDL(ddl).asInstanceOf[StructType]
      .apply(keyCol).dataType
    // LocalRelation, not parallelize: the probe side is driver-resident
    // metadata — the broadcast builds straight from these rows with
    // zero scan jobs
    val probes = org.apache.spark.sql.GraftPlanApi.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
            StructType(Seq(batch.schema(keyCol).copy(name = keyCol)))),
          keyVals.toIndexedSeq.map(v =>
            org.apache.spark.sql.catalyst.InternalRow(v))))
      .select((0 until BloomHashes).map(i =>
        bloomPosition(col(keyCol).cast(dt), i).cast("int").as(s"p$i")): _*)
    val bloom = spark.read
      .schema(org.apache.spark.sql.Encoders.product[BloomEntry].schema)
      .parquet(bloomPaths: _*)
      .where(col("column") === keyCol)
    val covered =
      localDistinctStrings(bloom.select(col("path"))).flatten.toSet
    val pass = (0 until BloomHashes).map(i =>
      bloomBitTest(col("bits"), col(s"p$i"))).reduce(_ && _)
    val hit = localDistinctStrings(bloom.join(broadcast(probes), pass,
      "inner").select(col("path"))).flatten.toSet
    cands.filter(e => hit.contains(e.path) || !covered.contains(e.path))
  }

  /** Which files a `column = value` read would open — exposed for spec
    * assertions that bloom pruning actually skips files. */
  private[ops] def pointCandidatePaths(spark: SparkSession, dir: String,
                                       column: String,
                                       value: String): Seq[String] = {
    val (_, root) = fsOf(spark, dir)
    val meta = snapshotMeta(spark, dir)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    pointCandidates(spark, root, meta, schema(column).dataType, column,
      value).map(_.path)
  }

  /** Point read with bloom file skipping: only files that can contain
    * `column = value` — by partition-value set, min/max range, AND the
    * per-file bloom filter — are opened, then the exact predicate
    * applies on top. Same answer as `read(...).filter(col === value)`,
    * fewer files read: the needle-in-a-100 TB-haystack shape (fetch one
    * order by key from a table partitioned by something else) that
    * min/max stats alone can't serve when keys are unclustered. */
  def readPoint(spark: SparkSession, dir: String, column: String,
                value: String): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val meta = snapshotMeta(spark, dir)
    val pCol = physName(meta.colMap, column)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val dt = schema(pCol).dataType
    val cands = pointCandidates(spark, root, meta, dt, pCol, value)
    toLogical(readEntriesMasked(spark, root, cands, meta.ddl, meta.dvDirs)
      .filter(col(pCol) === lit(value).cast(dt)), meta.colMap)
  }

  // -------- column mapping (logical <-> physical names) --------
  //
  // RENAME/DROP COLUMN at 100 TB must be METADATA-ONLY: rewriting every
  // parquet file to change a header string is the one cost a lake
  // cannot pay. The discipline (Delta's column-mapping shape, re-cut
  // for this format): the PHYSICAL schema — `schema_ddl`, what the
  // files actually contain — is IMMUTABLE under rename and drop; a
  // sentinel-carried map ("logical=physical" per visible column, in
  // display order) translates at the PUBLIC API boundary, and
  // everything beneath it (stats, blooms, constraints, partition value
  // sets, DVs, checkpoints, linked chains, all three planning venues)
  // speaks physical names and is untouched. An EMPTY map is the
  // identity (every pre-mapping table), so unmapped tables pay zero.
  // A DROPPED column's physical slot stays in the files and is
  // null-filled by later writes, keeping the physical schema constant
  // forever; re-adding the same logical name via [[evolve]] binds a
  // FRESH physical slot. Time travel reads each version with ITS OWN
  // map (a restore likewise restores the names of the restored
  // version) — the rename history is part of the history.

  private def colPairs(raw: Seq[String]): Seq[(String, String)] =
    raw.map { s =>
      val i = s.indexOf('=')
      require(i > 0 && i < s.length - 1, s"corrupt column-mapping entry '$s'")
      (s.take(i), s.drop(i + 1))
    }

  /** The effective logical→physical pairs: identity over the physical
    * schema when the table was never renamed/dropped. */
  private def effectivePairs(ddl: String,
                             raw: Seq[String]): Seq[(String, String)] =
    if (raw.nonEmpty) colPairs(raw)
    else DataType.fromDDL(ddl).asInstanceOf[StructType]
      .fieldNames.toIndexedSeq.map(n => (n, n))

  /** Physical name of logical column `c`; loud when `c` is not a
    * visible column of the mapped table. */
  private def physName(raw: Seq[String], c: String): String =
    if (raw.isEmpty) c
    else colPairs(raw).collectFirst {
      case (l, p) if l.equalsIgnoreCase(c) => p
    }.getOrElse(throw new IllegalArgumentException(
      s"column $c does not exist on this table (visible columns: " +
        colPairs(raw).map(_._1).mkString(", ") + ")"))

  /** Physical rows → the table's LOGICAL face: one projection renaming
    * each mapped physical column, dropping unmapped (dropped) ones,
    * keeping `extras` (feed markers like `change`) verbatim. Identity
    * when the map is empty — the pre-mapping fast path stays
    * projection-free. */
  private[graft] def toLogical(df: DataFrame, raw: Seq[String],
                               extras: Seq[String] = Nil): DataFrame =
    if (raw.isEmpty) df
    else df.select(colPairs(raw).map { case (l, p) => col(p).as(l) } ++
      extras.map(col): _*)

  /** Full-row logical batch → the EXACT physical schema: mapped columns
    * rename, dropped physical slots null-fill (the physical schema is
    * immutable — see the section note), column order = physical order,
    * so every downstream `nullableDdl(df.schema) == ddl` conformance
    * check holds verbatim. Extra logical columns refuse loudly (a
    * mapped table widens through [[evolve]], which binds the physical
    * slot first). */
  private def toPhysicalFull(df: DataFrame, raw: Seq[String],
                             ddl: String): DataFrame =
    if (raw.isEmpty) df
    else {
      val pairs = colPairs(raw)
      val stray = df.columns.filterNot(c =>
        pairs.exists(_._1.equalsIgnoreCase(c)))
      require(stray.isEmpty,
        s"batch columns ${stray.mkString(", ")} do not exist on this " +
          s"table (visible: ${pairs.map(_._1).mkString(", ")}); to add " +
          "columns to a renamed/dropped table, evolve() first")
      val phys = DataType.fromDDL(ddl).asInstanceOf[StructType]
      df.select(phys.fields.toIndexedSeq.map { f =>
        pairs.find(_._2 == f.name) match {
          case Some((l, _)) => col(l).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name) // dropped slot
        }
      }: _*)
    }

  /** Key/partial batch (delete keys, MoR probes) → physical names:
    * renames exactly the columns present, refusing unknown ones except
    * `passThrough` markers (caller-owned, kept verbatim). */
  private def renameToPhysical(df: DataFrame, raw: Seq[String],
                               passThrough: Seq[String] = Nil): DataFrame =
    if (raw.isEmpty) df
    else {
      val pairs = colPairs(raw)
      val through = passThrough.map(_.toLowerCase).toSet
      df.select(df.columns.toIndexedSeq.map { c =>
        if (through.contains(c.toLowerCase)) col(c)
        else pairs.collectFirst {
          case (l, p) if l.equalsIgnoreCase(c) => col(c).as(p)
        }.getOrElse(throw new IllegalArgumentException(
          s"column $c does not exist on this table (visible: " +
            pairs.map(_._1).mkString(", ") + ")"))
      }: _*)
    }

  /** LENIENT logical→physical resolution: a logical name maps, any
    * other string passes through unchanged. For pure layout/pruning
    * hints ([[graft.plans.ManifestFileIndex]]'s partitionCol), where an
    * unknown name already degrades to "no value-set pruning", never to
    * a wrong answer. */
  private[graft] def resolvePhysical(raw: Seq[String], c: String): String =
    if (raw.isEmpty) c
    else colPairs(raw).collectFirst {
      case (l, p) if l.equalsIgnoreCase(c) => p
    }.getOrElse(c)

  /** The LOGICAL face of a physical schema under the map. */
  private[graft] def logicalStruct(physical: StructType,
                                   raw: Seq[String]): StructType =
    if (raw.isEmpty) physical
    else StructType(colPairs(raw).map { case (l, p) =>
      physical.fields.find(_.name.equalsIgnoreCase(p))
        .getOrElse(throw new IllegalStateException(
          s"column map names physical column $p absent from $physical"))
        .copy(name = l)
    })

  /** Constraint SQL arrives over LOGICAL names; stored constraints
    * validate PHYSICAL staged rows inside [[writeBatch]], so attribute
    * references rewrite through the map at ADD time (parse → transform
    * unresolved attributes → re-render). */
  private def sqlToPhysical(spark: SparkSession, sql: String,
                            raw: Seq[String]): String =
    if (raw.isEmpty) sql
    else {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      val pairs = colPairs(raw)
      spark.sessionState.sqlParser.parseExpression(sql).transformUp {
        case a: UnresolvedAttribute if a.nameParts.length == 1 =>
          pairs.collectFirst {
            case (l, p) if l.equalsIgnoreCase(a.nameParts.head) =>
              UnresolvedAttribute(Seq(p))
          }.getOrElse(throw new IllegalArgumentException(
            s"constraint references column ${a.nameParts.head}, which " +
              s"does not exist (visible: ${pairs.map(_._1).mkString(", ")})"))
      }.sql
    }

  /** RENAME COLUMN — a sentinel-only commit, METADATA-ONLY at any
    * table size: no data file, stat, bloom, DV, or checkpoint is
    * touched; reads at older versions keep the old name (the map
    * travels with the snapshot). */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String): Unit = {
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"bad column name '$to' (need [A-Za-z_][A-Za-z0-9_]*)")
    val (fs, root) = fsOf(spark, dir)
    withConflictRetry() {
      val v = latestVersion(spark, dir)
        .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
      val meta = snapshotMeta(spark, dir, Some(v))
      val pairs = effectivePairs(meta.ddl, meta.colMap)
      require(pairs.exists(_._1.equalsIgnoreCase(from)),
        s"no column $from (visible: ${pairs.map(_._1).mkString(", ")})")
      require(!pairs.exists(_._1.equalsIgnoreCase(to)),
        s"column $to already exists")
      val out = pairs.map { case (l, p) =>
        if (l.equalsIgnoreCase(from)) (to, p) else (l, p)
      }
      commit(fs, root, v + 1,
        commitColMap(spark, fs, root, meta,
          out.map { case (l, p) => s"$l=$p" }),
        op = "RENAME_COLUMN")
    }
  }

  /** Stage a COLUMN-MAP commit: an O(1) chain link carrying the new
    * map as `colmap:` lines when the chain has headroom (the metadata-
    * only promise of rename/drop/undrop held at ANY entry count —
    * nothing entry-sized stages), else the distributed re-root that
    * resets the chain anyway (which absorbs the map into the fresh
    * sentinel). */
  private def commitColMap(spark: SparkSession, fs: FileSystem, root: Path,
                           meta: SnapshotMeta,
                           mapOut: Seq[String]): String =
    if (linkedAppendEligible(spark, fs, meta))
      linkManifest(spark, fs, root, meta, Nil, colMapOut = Some(mapOut))
    else compactManifest(spark, root, meta, meta.ddl, Nil,
      colMapOut = Some(mapOut))

  /** DROP COLUMN — the same sentinel-only, metadata-only commit: the
    * physical slot stays in the files (and null-fills in later writes,
    * keeping the physical schema constant), it just stops being
    * visible. Refused while a CHECK constraint references the column
    * (Delta's rule — the constraint would silently start evaluating
    * over nulls). Time travel before the drop still shows it.
    *
    * CAUTION: the format does not record which column partitions the
    * table, so dropping the PARTITION column cannot be refused here —
    * it leaves the table readable but unwritable (every write names the
    * partition column, which no longer resolves) until [[undropColumn]]
    * re-binds the slot or [[restore]] rewinds past the drop. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    withConflictRetry() {
      val v = latestVersion(spark, dir)
        .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
      val meta = snapshotMeta(spark, dir, Some(v))
      val pairs = effectivePairs(meta.ddl, meta.colMap)
      val hit = pairs.find(_._1.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"no column $name (visible: ${pairs.map(_._1).mkString(", ")})"))
      require(pairs.size > 1, s"cannot drop the only column $name")
      // a constraint blocks the drop only when its PARSED attribute set
      // references the physical slot — raw substring matching would
      // spuriously block any short name occurring inside a constraint
      // name or literal
      meta.constraints.foreach { c =>
        val (_, sql) = parseConstraint(c)
        val refs = spark.sessionState.sqlParser.parseExpression(sql)
          .collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.length == 1 => a.nameParts.head
          }
        require(!refs.exists(_.equalsIgnoreCase(hit._2)),
          s"cannot drop $name: constraint '$c' references it — drop the " +
            "constraint first")
      }
      val out = pairs.filterNot(_._1.equalsIgnoreCase(name))
      commit(fs, root, v + 1,
        commitColMap(spark, fs, root, meta,
          out.map { case (l, p) => s"$l=$p" }),
        op = "DROP_COLUMN")
    }
  }

  /** Replay the SOURCE table's retained RENAME/DROP COLUMN history
    * onto `dir` as the target's OWN metadata-only colmap commits — the
    * provenance-driven half of CDC schema replication
    * ([[applyChangesIfAbsent]]'s `schemaFrom`). A rename/drop commit
    * produces NO change-feed rows, so the data stream alone can never
    * see it; the source's `op:` pointer provenance can. For each
    * retained source version tagged RENAME_COLUMN / DROP_COLUMN, the
    * logical faces of `v-1` and `v` diff by PHYSICAL slot (same slot,
    * new logical name = rename; slot gone = drop) and the change
    * applies to the target BY LOGICAL NAME (the two tables' physical
    * names are independent).
    *
    * IDEMPOTENT by construction, so any replay cadence is safe: a
    * rename whose old name is already gone and new name present
    * skips; a drop of an absent column skips; a rename whose old AND
    * new names are both visible on the target refuses loudly (the
    * target grew a conflicting column — converging would clobber it).
    *
    * WATERMARKED: the target records the newest source version it has
    * already replayed (`_schema_replay/<source-hash>`, published after
    * the scan like a pin), so a steady-state call costs O(NEW source
    * versions) pointer reads — a streaming replica of a long-history
    * source no longer re-walks the full retained list every batch.
    * The mark publishes AFTER the (idempotent) ops apply, so a crash
    * in between re-scans and re-skips — never misses an op.
    *
    * `upToV` bounds the replay at the CALLER'S batch horizon: a
    * replication batch whose rows render as-of version `toV` must not
    * replay a rename committed AFTER `toV` (the rows still carry the
    * old name — the schema-evolution fold would re-add it as a fresh
    * column, and the next batch's replay would then hit the
    * both-names-visible refusal, wedging the stream). Ops past `upToV`
    * stay unreplayed AND unwatermarked, and face replay once their
    * rows do. Returns ops applied. */
  def replaySchemaOps(spark: SparkSession, dir: String,
                      sourceDir: String,
                      upToV: Option[Long] = None): Long = {
    val (fsS, srcRoot) = fsOf(spark, sourceDir)
    val (fsT, tgtRoot) = fsOf(spark, dir)
    val markPath = new Path(new Path(tgtRoot, SchemaReplayDir),
      replayMarkName(fsS.makeQualified(srcRoot).toString))
    val watermark: Long =
      if (!fsT.exists(markPath)) 0L
      else {
        val in = fsT.open(markPath)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim
        finally in.close()
        s.toLongOption.getOrElse(0L)
      }
    val retained = versions(spark, sourceDir)
    val window = retained.filter(v =>
      v > watermark && upToV.forall(v <= _))
    var applied = 0L
    window.foreach { v =>
      val op = readPointerLines(fsS, srcRoot, v).drop(1)
        .find(_.startsWith(OpPrefix))
        .map(_.stripPrefix(OpPrefix).trim).getOrElse("")
      if ((op == "RENAME_COLUMN" || op == "DROP_COLUMN") &&
        retained.contains(v - 1)) {
        def face(at: Long) = {
          val m = snapshotMeta(spark, sourceDir, Some(at))
          effectivePairs(m.ddl, m.colMap)
        }
        val before = face(v - 1)
        val afterByPhys = face(v).map { case (l, p) => p -> l }.toMap
        // target face re-read per op: consecutive source renames of
        // the same column must each see the previous replay's result
        before.foreach { case (lB, p) =>
          lazy val tgt = tableSchema(spark, dir).fieldNames
          afterByPhys.get(p) match {
            case Some(lA) if !lA.equalsIgnoreCase(lB) =>
              val hasOld = tgt.exists(_.equalsIgnoreCase(lB))
              val hasNew = tgt.exists(_.equalsIgnoreCase(lA))
              if (hasOld && hasNew)
                throw new IllegalArgumentException(
                  s"cannot replay source rename $lB -> $lA: the target " +
                    s"already has BOTH columns — resolve the conflict " +
                    "manually (rename or drop the target's own column)")
              else if (hasOld) {
                renameColumn(spark, dir, lB, lA); applied += 1
              } // already replayed (or never present): skip
            case None =>
              if (tgt.exists(_.equalsIgnoreCase(lB))) {
                dropColumn(spark, dir, lB); applied += 1
              }
            case _ => ()
          }
        }
      }
    }
    window.lastOption.filter(_ > watermark).foreach { newMark =>
      fsT.mkdirs(new Path(tgtRoot, SchemaReplayDir))
      val tmp = new Path(new Path(tgtRoot, SchemaReplayDir),
        s".${markPath.getName}-${UUID.randomUUID()}.tmp")
      val out = fsT.create(tmp, true)
      try out.write(newMark.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      try org.apache.hadoop.fs.FileContext
        .getFileContext(fsT.getUri, fsT.getConf)
        .rename(fsT.makeQualified(tmp), fsT.makeQualified(markPath),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fsT.delete(markPath, false)
          // best-effort: a lost mark only costs the next call a rescan
          if (!fsT.rename(tmp, markPath)) fsT.delete(tmp, false)
      }
    }
    applied
  }

  /** The per-source replay watermark's sentinel dir on the TARGET root
    * — deliberately NOT `_pins` (a pin on the target would anchor the
    * TARGET's vacuum at a SOURCE version number). */
  private val SchemaReplayDir = "_schema_replay"

  private def replayMarkName(srcQualified: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(srcQualified.getBytes(StandardCharsets.UTF_8))
    "replay-" + d.take(8).map(b => f"$b%02x").mkString
  }

  /** UNDROP: re-bind an existing PHYSICAL slot (typically one
    * [[dropColumn]] hid — its data never left the files) under logical
    * name `as`. The recovery tool for an accidental drop, including the
    * unwritable-table state a dropped PARTITION column leaves behind;
    * also metadata-only. Refuses unknown physical slots, already-mapped
    * slots, and taken logical names. */
  def undropColumn(spark: SparkSession, dir: String, physical: String,
                   as: String): Unit = {
    require(as.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"bad column name '$as' (need [A-Za-z_][A-Za-z0-9_]*)")
    val (fs, root) = fsOf(spark, dir)
    withConflictRetry() {
      val v = latestVersion(spark, dir)
        .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
      val meta = snapshotMeta(spark, dir, Some(v))
      val phys = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
      val slot = phys.fieldNames.find(_.equalsIgnoreCase(physical))
        .getOrElse(throw new IllegalArgumentException(
          s"no physical column $physical in ${meta.ddl}"))
      val pairs = effectivePairs(meta.ddl, meta.colMap)
      require(!pairs.exists(_._2.equalsIgnoreCase(slot)),
        s"physical column $slot is already visible as " +
          pairs.find(_._2.equalsIgnoreCase(slot)).map(_._1).getOrElse(""))
      require(!pairs.exists(_._1.equalsIgnoreCase(as)),
        s"column $as already exists")
      val out = pairs :+ ((as, slot))
      commit(fs, root, v + 1,
        commitColMap(spark, fs, root, meta,
          out.map { case (l, p) => s"$l=$p" }),
        op = "UNDROP_COLUMN")
    }
  }

  /** The table's current logical→physical column mapping (identity
    * entries included) — the inspection face of [[renameColumn]] /
    * [[dropColumn]]. */
  def columnMapping(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val meta = snapshotMeta(spark, dir)
    effectivePairs(meta.ddl, meta.colMap)
  }

  /** DESCRIBE DETAIL: one row summarizing the CURRENT snapshot —
    * version, file/byte/row totals (aggregated WHERE the entries live,
    * O(1) driver heap), visible columns, pruning configuration,
    * constraints, live-DV count, and manifest chain depth. The
    * at-a-glance operational face of the table. */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val meta = snapshotMeta(spark, dir)
    val (nFiles, nBytes, nRows) = entriesDataset(spark, meta)
      .toDF().agg(count(lit(1)), coalesce(sum("bytes"), lit(0L)),
        coalesce(sum("rows"), lit(0L)))
      .as[(Long, Long, Long)].head()
    Seq((meta.version, nFiles, nBytes, nRows,
      effectivePairs(meta.ddl, meta.colMap).map(_._1),
      meta.statsCols, meta.bloomCols,
      meta.constraints.map(parseConstraint(_)._1),
      meta.dvDirs.length.toLong, meta.manifestDirs.length.toLong))
      .toDF("version", "num_files", "size_bytes", "num_rows", "columns",
        "stats_columns", "bloom_columns", "constraints", "num_dv_dirs",
        "chain_depth")
  }

  /** DESCRIBE HISTORY: one row per RETAINED commit, ascending —
    * version, monotone commit time, operation, txn marker, multi-table
    * flag (see [[HistoryRow]]). Provenance is read from the pointer
    * files alone: O(retained versions) one-line reads, no manifest or
    * data file opened, so it is cheap at any table size (retention
    * bounds the count — history older than the vacuum horizon is gone
    * with the data it described). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    var floor = Long.MinValue
    val rows = versions(spark, dir).map { v =>
      val tagged = readPointerLines(fs, root, v).drop(1)
      floor = math.max(floor, rawCommitTime(fs, root, v, tagged))
      val txn = tagged.find(_.startsWith("txn:")).map(_.stripPrefix("txn:"))
      HistoryRow(v, new java.sql.Timestamp(floor),
        tagged.find(_.startsWith(OpPrefix))
          .map(_.stripPrefix(OpPrefix).trim).getOrElse(""),
        txn.map(s => s.take(s.lastIndexOf(':'))),
        txn.flatMap(s => s.drop(s.lastIndexOf(':') + 1).trim.toLongOption),
        tagged.exists(_.startsWith(MtxnPrefix)))
    }
    rows.toDS().toDF()
  }

  // -------- public surface --------

  /** Create the table at `dir` as version 1. Fails if a version exists.
    * `statsCols` configures per-file min/max collection for
    * [[readRange]] pruning on every subsequent write; `bloomCols`
    * configures per-file bloom filters for [[readPoint]] file skipping
    * on point predicates. */
  def create(spark: SparkSession, dir: String, df: DataFrame,
             partitionCol: String, statsCols: Seq[String] = Nil,
             txn: Option[(String, Long)] = None,
             bloomCols: Seq[String] = Nil): Unit = {
    val (fs, root) = fsOf(spark, dir)
    require(latestVersion(spark, dir).isEmpty, s"table already exists at $dir")
    (statsCols ++ bloomCols).foreach(c => require(df.columns.contains(c),
      s"stats column $c not in ${df.columns.mkString(",")}"))
    val entries = writeBatch(spark, root, df, partitionCol, statsCols,
      constraints = Nil, bloomCols = bloomCols)
    commit(fs, root, 1L,
      writeManifest(spark, root, entries, nullableDdl(df.schema), statsCols,
        bloomCols, dvDirs = Nil, constraints = Nil),
      txn, op = "CREATE")
  }

  /** Read the latest snapshot. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    readVersion(spark, dir, v)
  }

  /** Time travel: read a specific committed version. Valid until that
    * version's files are [[vacuumOrphans]]ed.
    *
    * Plans through the pruning [[graft.plans.ManifestFileIndex]] — the
    * same venue-switched path as the `graft-manifest` DataSource — so
    * WHERE clauses over the result skip files on recorded stats, and a
    * 10⁷-entry table never materializes its entry list on the driver
    * (past the driver budget, only pruned paths/bytes reach it,
    * lazily, at planning time; under it, the driver-resident index is
    * still the latency winner — [[graft.plans.ManifestScan
    * .DistributedMinBytesKey]]). */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame =
    graft.plans.ManifestScan.scan(spark, dir, version = Some(v))

  /** Time travel by TIMESTAMP: the newest version committed at or
    * before `ts` — same accepted spellings (epoch millis, instants,
    * session-zone wall-clock forms) and the same monotone
    * in-commit-timestamp resolution as the DataSource's
    * `timestampAsOf`; a pre-history timestamp refuses loudly naming
    * the vacuum. */
  def readTimestamp(spark: SparkSession, dir: String, ts: String): DataFrame =
    readVersion(spark, dir,
      graft.io.ManifestRelation.versionAtTime(spark, dir, ts))

  /** RESTORE: make retained version `v` the table's CURRENT state
    * again, as a NEW commit (Delta's RESTORE shape) — the bad-deploy /
    * fat-finger undo. Returns the new version (or `v` itself when it
    * is already the tip — restoring to now is a no-op, no empty commit).
    *
    * The commit is O(1) METADATA-ONLY at any table size: the new
    * pointer names version `v`'s EXISTING manifest verbatim — no entry
    * is listed, copied, or rewritten, and no data file moves. Snapshot
    * reuse is sound end to end because every consumer resolves through
    * the pointer: reads, stats pruning, DV masking (the sentinel's
    * `dv_dirs` come back with it), linked-chain closure, the change
    * feed (`changes(tip, restored)` is the honest row-level undo diff —
    * deleted rows reappear as inserts), and [[vacuumOrphans]], whose
    * live set is computed from KEPT versions' pointers with chain
    * closure, so the shared manifest and its files survive as long as
    * ANY retained version names them — even after the original `v`'s
    * pointer ages out.
    *
    * Restoring resurrects the WHOLE snapshot sentinel: schema,
    * constraints, and stats configuration added after `v` are undone
    * with the data (stated here because it is the point, not a
    * side effect). Txn markers are NOT carried over — a restore is an
    * operator action, not an exactly-once batch replay. Lost commit
    * races retry on a fresh read of the tip, like every other commit. */
  def restore(spark: SparkSession, dir: String, v: Long): Long = {
    val (fs, root) = fsOf(spark, dir)
    withConflictRetry() {
      val vs = versions(spark, dir)
      require(vs.nonEmpty, s"no table at $dir")
      require(vs.contains(v),
        s"cannot restore $dir to v$v: not retained " +
          s"(have v${vs.head}..v${vs.last}) — vacuum already dropped it")
      val latest = vs.last
      if (latest == v) v
      else {
        commit(fs, root, latest + 1, readPointer(fs, root, v),
          op = s"RESTORE v$v")
        latest + 1
      }
    }
  }

  /** Append `df` as new files (no rewrite of existing data).
    *
    * `mergeSchema = true` accepts a batch carrying EXTRA columns: the
    * widened schema (existing fields, then the new ones, all nullable)
    * commits ATOMICALLY with the data — one pointer create, so a crash
    * cannot strand data files the table schema doesn't describe. Old
    * files read the new columns as null. A batch MISSING an existing
    * column, or retyping one, is still rejected loudly in both modes:
    * silent null-out and silent coercion are the two drift accidents
    * schema enforcement exists to stop (Delta's mergeSchema contract). */
  def append(spark: SparkSession, dir: String, df: DataFrame,
             partitionCol: String, txn: Option[(String, Long)] = None,
             mergeSchema: Boolean = false): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // the commit plans from the snapshot HEADER only — O(manifest
    // files) driver cost, never O(entries): an append must stay cheap
    // on a 10⁷-entry table (collecting that snapshot is ~4 GB of
    // driver heap, the ceiling a streaming ingest hits first)
    val meta = snapshotMeta(spark, dir, Some(v))
    // mapped table: the logical batch reshapes to the immutable
    // physical schema (widening goes through evolve() first — the
    // physical slot must be bound before rows can carry it)
    require(meta.colMap.isEmpty || !mergeSchema,
      "mergeSchema on a renamed/dropped table: evolve() the new columns " +
        "first, then append them without mergeSchema")
    val dfP = toPhysicalFull(df, meta.colMap, meta.ddl)
    val pCol = physName(meta.colMap, partitionCol)
    val ddlOut =
      if (nullableDdl(dfP.schema) == meta.ddl) meta.ddl
      else if (mergeSchema) {
        val table = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
        table.fields.foreach { f =>
          val got = dfP.schema.fields.find(_.name.equalsIgnoreCase(f.name))
            .getOrElse(throw new IllegalArgumentException(
              s"mergeSchema batch is missing table column ${f.name} " +
                s"(${meta.ddl})"))
          require(got.dataType == f.dataType,
            s"mergeSchema cannot retype ${f.name}: table has " +
              s"${f.dataType.catalogString}, batch has " +
              s"${got.dataType.catalogString}")
        }
        val extra = dfP.schema.fields.filterNot(f =>
          table.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        nullableDdl(StructType(table.fields ++ extra))
      } else throw new IllegalArgumentException(
        s"append schema ${nullableDdl(dfP.schema)} != table schema " +
          s"${meta.ddl} (pass mergeSchema = true to widen)")
    val entries = writeBatch(spark, root, dfP, pCol, meta.statsCols,
      meta.constraints, bloomCols = meta.bloomCols)
    if (ddlOut == meta.ddl) {
      // an append reads NOTHING from the snapshot, so a lost pointer
      // race rebases onto any new tip whose sentinel config is
      // unchanged — no partition-disjointness needed (readless gate);
      // under multi-writer ingest the staged batch commits without
      // ever re-staging
      def stage(m: SnapshotMeta): String =
        if (linkedAppendEligible(spark, fs, m))
          linkManifest(spark, fs, root, m, entries)
        else compactManifest(spark, root, m, m.ddl, entries)
      commitRebasing(spark, fs, root, dir, meta, v, stage, txn,
        op = "APPEND", readPaths = Set.empty, wanted = Set.empty,
        wantNull = false, renderSafe = true, readless = true)
    } else
      // a mergeSchema widen changes the sentinel — never rebased
      commit(fs, root, v + 1,
        compactManifest(spark, root, meta, ddlOut, entries),
        txn, op = "APPEND")
    maybeCheckpoint(spark, dir, pCol)
  }

  /** A LINKED append writes only the batch's entries plus a base
    * pointer — O(batch), not O(table). Eligible when (a) the chain has
    * headroom ([[AppendMaxChainKey]] — at the cap the append compacts,
    * which re-roots the chain); and (b) the parent chain's PHYSICAL
    * parquet schema matches this writer's [[ManifestEntry]] encoder
    * exactly — a chain must read as ONE uniform relation, and mixing an
    * old-library manifest (missing a column) with a new part would
    * leave schema inference to whichever footer Spark samples. Guard
    * (b) reads one footer; all links passed it inductively at their
    * own write, so checking the chain ROOT covers the chain. */
  private def linkedAppendEligible(spark: SparkSession, fs: FileSystem,
                                   meta: SnapshotMeta): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (meta.manifestDirs.length >=
      conf.getLong(AppendMaxChainKey, AppendMaxChainDefault)) return false
    val want = org.apache.spark.sql.Encoders.product[ManifestEntry].schema
    val got = org.apache.spark.sql.GraftParquetBridge
      .localInferSchema(spark, meta.manifestDirs.head)
      .getOrElse(return false)
    got.fields.map(f => (f.name, f.dataType)).toSeq ==
      want.fields.map(f => (f.name, f.dataType)).toSeq
  }

  /** Stage the O(batch) linked manifest: one small parquet part with
    * the batch's slim entries, the [[BaseFile]] carrying the FULL
    * cumulative chain state (ancestors base-first + every path removed
    * along the chain + this commit's `removes`, trailer-guarded so a
    * torn write can never silently resurrect rows), and the delta
    * sidecar (tail replay works across linked commits unchanged). The
    * dir is an orphan until the caller's pointer create lands — a
    * crash anywhere here leaves vacuum-reclaimable garbage, never a
    * readable partial manifest. */
  private def linkManifest(spark: SparkSession, fs: FileSystem, root: Path,
                           meta: SnapshotMeta, adds: Seq[Entry],
                           removes: Seq[String] = Nil,
                           dvAdds: Seq[String] = Nil,
                           colMapOut: Option[Seq[String]] = None): String = {
    val name = s"m-${UUID.randomUUID()}"
    val dst = new Path(new Path(root, ManifestsDir), name)
    val slim = adds.map(e => e.copy(schema_ddl = "", stat_cols = Seq.empty,
      bloom_cols = Seq.empty, dv_dirs = Seq.empty,
      constraints = Seq.empty))
    // driver-side single-part write — the same encoder +
    // ParquetWriteSupport pipeline that wrote the parent chain, so the
    // physical schemas stay identical; no Spark job for a few KB
    if (slim.nonEmpty) writeEntriesLocal(spark, dst, slim)
    else fs.mkdirs(dst)
    val tip = new Path(meta.manifestDirs.last).getName
    val chain = meta.manifestDirs.map(d => new Path(d).getName)
    val allRemoves = meta.removedPaths ++ removes
    val allDvs = meta.chainDvDirs ++ dvAdds
    // the column map rides the chain like the DV set: cumulative
    // re-emission of the attached override, replaced wholesale by a
    // rename/drop/undrop commit (colMapOut)
    val cmap = colMapOut.getOrElse(meta.chainColMap)
    val lines = chain.map(n => s"base:$n") ++
      allRemoves.map(r => s"remove:$r") ++ allDvs.map(d => s"dv:$d") ++
      cmap.map(c => s"colmap:$c")
    val out = fs.create(new Path(dst, BaseFile), false)
    try out.write((lines.mkString("\n") + s"\nend:${lines.size}\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // delta sidecar, same economics rule as [[writeDelta]] (entry
    // count estimated from chain bytes — the rule is economic, not
    // correctness: an oversized replay is just slower than the scan)
    val estEntries = math.max(1L, meta.manifestBytes / 64)
    if (slim.size + removes.size <= math.max(4096, estEntries / 8))
      try writeDeltaFile(spark, root, name,
        ManifestDelta(tip, slim, removes))
      catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(s"[graft] delta sidecar for $name skipped: $t")
      }
    name
  }

  /** Compact (re-root) the manifest chain DISTRIBUTEDLY: sentinel +
    * batch adds unioned with the parent chain's entry relation, written
    * as a fresh self-contained manifest sized to [[ManifestTargetBytes]]
    * per part. Driver heap stays O(batch) — the parent's entries flow
    * executor-to-executor. Serves three append shapes: the chain cap,
    * a mergeSchema widening (new sentinel DDL), and a parent whose
    * physical schema predates this library (the rewrite pads it
    * uniform). */
  private def compactManifest(spark: SparkSession, root: Path,
                              meta: SnapshotMeta, ddlOut: String,
                              adds: Seq[Entry],
                              removes: Seq[String] = Nil,
                              dvAdds: Seq[String] = Nil,
                              constraintsOut: Option[Seq[String]] = None,
                              colMapOut: Option[Seq[String]] = None,
                              dvOut: Option[Seq[String]] = None,
                              bloomColsOut: Option[Seq[String]] = None,
                              writeSidecar: Boolean = true)
      : String = {
    import spark.implicits._
    val name = s"m-${UUID.randomUUID()}"
    val dir = new Path(new Path(root, ManifestsDir), name).toString
    // the re-rooted sentinel absorbs the chain's effective DV set (and
    // this commit's own), so the fresh chain starts with no dv lines;
    // `dvOut` overrides the whole set (a DV-retiring commit like
    // [[materialize]] re-roots with Nil); `values` carries the column
    // map (see [[writeManifest]])
    val sentinel = ManifestEntry("", colMapOut.getOrElse(meta.colMap),
      has_null = false,
      overflow = false, rows = 0L, bytes = 0L, schema_ddl = ddlOut,
      stat_cols = meta.statsCols, stat_mins = Seq.empty,
      stat_maxs = Seq.empty,
      bloom_cols = bloomColsOut.getOrElse(meta.bloomCols),
      dv_dirs = dvOut.getOrElse(meta.dvDirs ++ dvAdds),
      constraints = constraintsOut.getOrElse(meta.constraints))
    val slim = adds.map(e => e.copy(schema_ddl = "", stat_cols = Seq.empty,
      bloom_cols = Seq.empty, dv_dirs = Seq.empty,
      constraints = Seq.empty))
    val nFiles = math.max(1L,
      meta.manifestBytes / ManifestTargetBytes).toInt
    // WRITE venue: a parent chain under the single-part size target
    // re-roots as ONE part written driver-side (writeEntriesLocal, no
    // write job) from the carried entries [[liveEntries]] reads in its
    // own venue; nFiles == 1 here by construction, so the on-disk shape
    // matches what the distributed write would have produced. Past the
    // target the carried entries flow executor-to-executor. Either way
    // this commit's own removes ride the same subtraction as the
    // chain's accumulated ones.
    if (meta.manifestBytes < ManifestTargetBytes)
      writeEntriesLocal(spark, new Path(dir),
        (sentinel +: slim) ++ liveEntries(spark, meta, removes))
    else
      (sentinel +: slim).toDF()
        .unionByName(entriesDataset(spark, meta, removes).toDF())
        .coalesce(nFiles).write.parquet(dir)
    writeSentinelFile(root.getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(dir), sentinel)
    val tip = new Path(meta.manifestDirs.last).getName
    val estEntries = math.max(1L, meta.manifestBytes / 64)
    if (writeSidecar &&
      slim.size + removes.size <= math.max(4096, estEntries / 8))
      try writeDeltaFile(spark, root, name,
        ManifestDelta(tip, slim, removes))
      catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(s"[graft] delta sidecar for $name skipped: $t")
      }
    name
  }

  /** Fresh, self-contained manifest: sentinel (from `meta`'s
    * configuration — schema, stats, blooms, constraints, column map —
    * with the DV set reset to `dvDirs`) + `adds` only. The
    * full-REPLACEMENT commit shape ([[overwrite]], [[clusterBy]],
    * [[commitAll]]'s overwrite writes): nothing carries from the parent,
    * so staging is O(adds) driver-side with no parent entry
    * materialization at any table size. No delta sidecar — the change
    * set IS the table, exactly the case the sidecar economics rule
    * skips; tail-replay readers fall back to the exact scan. */
  private def freshManifest(spark: SparkSession, root: Path,
                            meta: SnapshotMeta, adds: Seq[Entry],
                            dvDirs: Seq[String] = Nil): String = {
    import spark.implicits._
    val name = s"m-${UUID.randomUUID()}"
    val dir = new Path(new Path(root, ManifestsDir), name).toString
    val sentinel = ManifestEntry("", meta.colMap, has_null = false,
      overflow = false, rows = 0L, bytes = 0L, schema_ddl = meta.ddl,
      stat_cols = meta.statsCols, stat_mins = Seq.empty,
      stat_maxs = Seq.empty, bloom_cols = meta.bloomCols,
      dv_dirs = dvDirs, constraints = meta.constraints)
    val slim = adds.map(e => e.copy(schema_ddl = "", stat_cols = Seq.empty,
      bloom_cols = Seq.empty, dv_dirs = Seq.empty, constraints = Seq.empty))
    writeEntriesLocal(spark, new Path(dir), sentinel +: slim)
    writeSentinelFile(root.getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(dir), sentinel)
    name
  }

  /** Exactly-once append: apply `(appId, batchId)` AT MOST ONCE, in
    * batch-id order per app. If the table's newest `appId` marker is
    * already >= `batchId` the call is a no-op (a replay); otherwise the
    * rows append and the commit carries the marker ATOMICALLY with the
    * data (one pointer create), so a crash between data commit and the
    * caller's own progress tracking cannot double-apply — Delta's
    * `txnAppId`/`txnVersion` contract, and the missing half of
    * exactly-once for `foreachBatch` sinks (the checkpoint replays a
    * batch with the same id; this makes the replay idempotent). Creates
    * the table on the first batch. Lost commit races retry via
    * [[withConflictRetry]], re-checking the marker each attempt (the
    * race winner may have been a replay of the same batch from another
    * writer). Returns true iff this call committed the batch. */
  def appendIfAbsent(spark: SparkSession, dir: String, df: DataFrame,
                     partitionCol: String, appId: String, batchId: Long,
                     statsCols: Seq[String] = Nil,
                     mergeSchema: Boolean = false): Boolean =
    withConflictRetry() {
      if (lastTxn(spark, dir, appId).exists(_ >= batchId)) false
      else if (latestVersion(spark, dir).isEmpty) {
        create(spark, dir, df, partitionCol, statsCols,
          txn = Some(appId -> batchId))
        true
      } else {
        append(spark, dir, df, partitionCol, txn = Some(appId -> batchId),
          mergeSchema = mergeSchema)
        true
      }
    }

  /** Exactly-once MERGE: the [[appendIfAbsent]] contract for keyed
    * upserts — apply `(appId, batchId)` at most once, marker and data
    * in ONE pointer create. The streaming-KPI sink shape: an
    * update-mode micro-batch re-emits full rows per changed key, the
    * upsert folds them in, and a crash-replayed batch (same id) no-ops
    * against its own marker instead of re-running the rewrite. Creates
    * the table on the first batch. Returns true iff this call
    * committed. */
  def upsertIfAbsent(spark: SparkSession, dir: String, updates: DataFrame,
                     keys: Seq[String], partitionCol: String,
                     appId: String, batchId: Long,
                     statsCols: Seq[String] = Nil): Boolean =
    withConflictRetry() {
      if (lastTxn(spark, dir, appId).exists(_ >= batchId)) false
      else if (latestVersion(spark, dir).isEmpty) {
        create(spark, dir, updates, partitionCol, statsCols,
          txn = Some(appId -> batchId))
        true
      } else {
        upsert(spark, dir, updates, keys, partitionCol,
          txn = Some(appId -> batchId))
        true
      }
    }

  /** APPLY a CDC batch — rows shaped like [[changes]]' output (the
    * table columns + `change` ∈ ('insert','delete'), plus an optional
    * ordering column, [[graft.io.ManifestStream]]'s `_commit_version`)
    * — in ONE atomic commit: deletes remove their keys, inserts upsert,
    * and a key touched several times inside the batch lands at its
    * FINAL state (max ordering value; at equal order an insert
    * supersedes a delete — a delete+insert pair IS an update, the
    * feed's own encoding). This is the downstream half of table→table
    * REPLICATION: `changes(A, from, to)` piped here converges B to A.
    * Keys compare NULL-SAFELY throughout (null is one key value, the
    * [[upsertMor]] `<=>` convention — a null-keyed delete does remove
    * the null-keyed row). Keyed-write pruning applies: only files whose
    * partitions/blooms the batch touches rewrite. */
  def applyChanges(spark: SparkSession, dir: String, batch: DataFrame,
                   keys: Seq[String], partitionCol: String,
                   changeCol: String = "change",
                   orderCol: Option[String] = None,
                   txn: Option[(String, Long)] = None): Unit = {
    require(keys.nonEmpty, "applyChanges needs the key columns — an " +
      "empty key list would collapse the whole batch into one row")
    require(batch.columns.exists(_.equalsIgnoreCase(changeCol)),
      s"CDC batch needs the $changeCol column ('insert'/'delete')")
    val isIns = col(changeCol) === "insert"
    val ordering = orderCol.map(col(_).desc).toSeq :+ isIns.cast("int").desc
    // ONE representative row per (key, partition value) — NOT per key:
    // an update that MOVES a row across partitions arrives as a delete
    // in the old partition + an insert in the new, and the keyed
    // rewrite's candidate selection is partition-driven, so the old
    // partition must stay in the batch or its file would never be a
    // candidate and the stale row would survive as a duplicate key
    val wKP = org.apache.spark.sql.expressions.Window
      .partitionBy((keys :+ partitionCol).map(col): _*).orderBy(ordering: _*)
    val repr = batch
      .withColumn("__graft_kp", row_number().over(wKP))
      .filter(col("__graft_kp") === 1).drop("__graft_kp")
    // the key's GLOBAL winner is chosen among the surviving
    // representatives, in a SECOND window over the SAME rows — ranking
    // the raw batch with two independent windows could break an
    // order-tie differently in each and mark no row as the winner
    // (silently deleting the key); this way rank 1 exists by
    // construction. Only the winner may re-insert; the other
    // representatives ride along solely to widen the candidate set.
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    val finalState = repr
      .withColumn("__graft_ins", isIns && row_number().over(wK) === 1)
      .drop(changeCol)
      .drop(orderCol.toSeq: _*)
    // On a mapped table the batch reaches the merge through
    // renameToPhysical — VISIBLE columns only — while `target` speaks
    // the full physical schema including hidden dropped slots, so the
    // re-insert projection must null-fill exactly those slots (the
    // toPhysicalFull shape); a missing VISIBLE column still refuses.
    val mappedPhys = {
      val m = snapshotMeta(spark, dir)
      if (m.colMap.isEmpty) None
      else Some(colPairs(m.colMap).map(_._2.toLowerCase).toSet)
    }
    rewriteKeyed(spark, dir, finalState, partitionCol,
      requireFullSchema = false, txn = txn, keys = keys,
      op = "APPLY_CHANGES", passThrough = Seq("__graft_ins")) {
      (target, b, k) =>
        // every touched key leaves the target once (null-safe, so a
        // null-keyed delete really deletes); the inserts' final rows
        // come back — deletes simply don't
        val probe = b.select(k.map(col): _*).distinct().alias("d")
        val bCols = b.columns.map(_.toLowerCase).toSet
        val inserts = b.filter(col("__graft_ins"))
          .select(target.schema.fields.toIndexedSeq.map { f =>
            if (bCols.contains(f.name.toLowerCase)) col(f.name)
            else if (mappedPhys.exists(!_.contains(f.name.toLowerCase)))
              lit(null).cast(f.dataType).as(f.name) // dropped slot
            else throw new IllegalArgumentException(
              s"CDC batch is missing column ${f.name} — insert rows " +
                "must carry the table's full visible schema")
          }: _*)
        target.alias("t")
          .join(probe,
            k.map(c => col(s"t.$c") <=> col(s"d.$c")).reduce(_ && _),
            "left_anti")
          .unionByName(inserts)
    }
  }

  /** Exactly-once [[applyChanges]]: the [[appendIfAbsent]] contract —
    * marker and data in one pointer create, a checkpoint-replayed batch
    * no-ops. The CDC-replication sink's per-batch primitive. Creates
    * the table from the batch's INSERT rows when absent. Returns true
    * iff this call committed.
    *
    * `evolveSchema = true` folds a SOURCE schema evolution into the
    * target: batch columns absent from the target's visible face bind
    * fresh physical slots ([[evolve]]), and batch columns arriving
    * WIDER than the target's type fold as metadata-only
    * [[widenColumn]] commits (int→long, same-scale decimal precision
    * growth — the Delta-class type-widening replication; widenings
    * that are lossless but not rendering-stable, like float→double,
    * refuse with a rewrite-the-target remedy), immediately before the
    * change application — replication keeps converging across an
    * upstream ALTER TABLE ADD COLUMNS / widening ALTER COLUMN TYPE
    * instead of refusing. Batches NARROWER than the target (a
    * restart-replayed pre-widen frame) upcast losslessly; a mismatch
    * that widens in neither direction still refuses loudly. The fold
    * is replay-safe: the evolve/widen commits carry no txn marker, so
    * a crash between them and the data commit replays into "schema
    * already matches → skip → apply batch (marker-guarded)". A CDC
    * batch alone cannot distinguish a RENAME from a drop+add — but the
    * source's commit PROVENANCE can: pass `schemaFrom = Some(srcDir)`
    * and the source's retained RENAME/DROP COLUMN history replays onto
    * the target as its OWN metadata-only colmap commits
    * ([[replaySchemaOps]]) before each batch applies, so replication
    * converges across an upstream rename instead of forking the
    * renamed column into add+null-fill. The replay horizon is bounded
    * by the batch's max SOURCE COMMIT VERSION — from `sourceVersionCol`
    * (dropped before the data applies), or from `orderCol` when that
    * column IS the CDC stream's `_commit_version`; with `schemaFrom`
    * and any other orderCol the call refuses loudly (a timestamp or
    * per-key sequence cannot bound a version replay). Without
    * `schemaFrom`, apply [[renameColumn]] on the target manually and
    * the stream continues under the new name. */
  def applyChangesIfAbsent(spark: SparkSession, dir: String,
                           batch: DataFrame, keys: Seq[String],
                           partitionCol: String, appId: String,
                           batchId: Long, changeCol: String = "change",
                           orderCol: Option[String] = None,
                           statsCols: Seq[String] = Nil,
                           evolveSchema: Boolean = false,
                           schemaFrom: Option[String] = None,
                           sourceVersionCol: Option[String] = None): Boolean =
    withConflictRetry() {
      if (lastTxn(spark, dir, appId).exists(_ >= batchId)) false
      else if (latestVersion(spark, dir).isEmpty) {
        val isIns = col(changeCol) === "insert"
        val ordering = orderCol.map(col(_).desc).toSeq :+
          isIns.cast("int").desc
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(ordering: _*)
        val firstRows = batch
          .withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1 && isIns)
          .drop("__graft_rn", changeCol)
          .drop(orderCol.toSeq: _*)
          .drop(sourceVersionCol.toSeq: _*)
        create(spark, dir, firstRows, partitionCol, statsCols,
          txn = Some(appId -> batchId))
        true
      } else {
        // fold upstream RENAME/DROP through provenance BEFORE the
        // add-columns fold below can mistake a renamed column's new
        // name for a brand-new column (replay is idempotent — a crash
        // between it and the data commit re-skips already-applied ops).
        // The replay is BOUNDED at this batch's own commit horizon
        // (max source version among its rows): a rename committed
        // after the batch's end version must not replay yet — the
        // batch's rows still carry the OLD name, and an early replay
        // would make the evolve fold below re-add that old name as a
        // brand-new column (then the NEXT batch's replay hits the
        // both-names-visible refusal and wedges the stream)
        // The horizon is a SOURCE COMMIT VERSION, so it may only come
        // from a column that actually carries one: an explicit
        // `sourceVersionCol`, or an `orderCol` that IS the CDC
        // stream's `_commit_version` (the long-standing convention).
        // Any other orderCol (a timestamp, a per-key sequence) cannot
        // bound the replay — small values would defer a rename past
        // the evolve fold (forking the old column), huge ones would
        // un-bound it (the early-replay wedge) — so schemaFrom then
        // refuses loudly with the remedy.
        schemaFrom.foreach { src =>
          val verCol = sourceVersionCol.orElse(
            orderCol.filter(_.equalsIgnoreCase("_commit_version")))
          require(orderCol.isEmpty || verCol.isDefined,
            s"schemaFrom needs the batch's SOURCE COMMIT VERSION to " +
              s"bound the rename/drop replay, and orderCol " +
              s"'${orderCol.get}' is not one — pass sourceVersionCol " +
              "(the CDC stream's _commit_version column)")
          val horizon = verCol.flatMap(vc =>
            Option(batch.agg(max(col(vc).cast("long"))).head().get(0))
              .map(_.asInstanceOf[Long]))
          if (verCol.isEmpty) replaySchemaOps(spark, dir, src)
          else horizon.foreach(h =>
            replaySchemaOps(spark, dir, src, Some(h)))
        }
        val applied =
          if (!evolveSchema) batch
          else {
            val visible = tableSchema(spark, dir)
            val isMeta = (f: StructField) =>
              f.name.equalsIgnoreCase(changeCol) ||
                orderCol.exists(_.equalsIgnoreCase(f.name)) ||
                sourceVersionCol.exists(_.equalsIgnoreCase(f.name))
            val extras = batch.schema.fields.filterNot(f =>
              isMeta(f) || visible.fieldNames.exists(_.equalsIgnoreCase(f.name)))
            if (extras.nonEmpty)
              evolve(spark, dir,
                extras.toSeq.map(f => f.name -> f.dataType.catalogString))
            // fold upstream TYPE WIDENINGS (int→long, same-scale
            // decimal precision growth) as metadata-only
            // [[widenColumn]] commits — replay-safe like the
            // add-columns fold (no txn marker; a crash between widen
            // and data commit replays into "types already match →
            // skip"). The fold gate is [[isRenderStableWidening]] —
            // exactly what widenColumn accepts — so a lossless-but-
            // unfoldable upstream widen (float→double, decimal scale
            // growth) refuses HERE with the replication-level remedy
            // instead of wedging the stream on widenColumn's require;
            // anything widening in neither direction refuses too,
            // before union coercion could smear it into the data.
            val paired = batch.schema.fields.filterNot(isMeta).flatMap(f =>
              visible.fields.find(_.name.equalsIgnoreCase(f.name))
                .map(g => (f, g)))
            paired.foreach { case (f, g) =>
              if (!DataType.equalsIgnoreNullability(f.dataType, g.dataType) &&
                !isRenderStableWidening(g.dataType, f.dataType) &&
                !isWidening(f.dataType, g.dataType))
                throw new IllegalArgumentException(
                  s"CDC column ${f.name} arrived as " +
                    s"${f.dataType.catalogString} but the target holds " +
                    s"${g.dataType.catalogString} — not foldable: only " +
                    "rendering-stable widenings replicate metadata-only " +
                    "(integral ladder, same-scale decimal precision " +
                    "growth); rewrite the target with the new schema " +
                    "(overwrite) and restart the stream")
            }
            paired
              .filter { case (f, g) =>
                isRenderStableWidening(g.dataType, f.dataType) }
              .foreach { case (f, g) =>
                widenColumn(spark, dir, g.name, f.dataType.catalogString)
              }
            // the OTHER direction — a batch NARROWER than the target
            // (a restart-replayed pre-widen frame, or a target widened
            // ahead of its source) — upcasts losslessly in the batch
            paired
              .filter { case (f, g) => isWidening(f.dataType, g.dataType) }
              .foldLeft(batch) { case (b, (f, g)) =>
                b.withColumn(f.name, col(f.name).cast(g.dataType))
              }
          }
        // a DEDICATED sourceVersionCol is replication metadata, not
        // data — drop it before the apply (an orderCol doubling as the
        // version column is dropped by applyChanges itself)
        val applied2 = sourceVersionCol
          .filterNot(c => orderCol.exists(_.equalsIgnoreCase(c)))
          .fold(applied)(applied.drop(_))
        applyChanges(spark, dir, applied2, keys, partitionCol, changeCol,
          orderCol, txn = Some(appId -> batchId))
        true
      }
    }

  /** Partition-pruned read: only files whose recorded partition-value
    * sets intersect `values` (string renderings; overflowed files always
    * read) are opened, then the exact predicate applies on top — same
    * answer as `read(...).filter(col(partitionCol).isin(values))`,
    * fewer files read. */
  def readPartitions(spark: SparkSession, dir: String, partitionCol: String,
                     values: Seq[String]): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // header-only planning: the candidate selection runs where the
    // entries live, so this read is O(matching files) driver-side
    val meta = snapshotMeta(spark, dir, Some(v))
    val pCol = physName(meta.colMap, partitionCol)
    val cands = partitionCandidates(spark, meta, pCol,
      values.toSet, wantNull = false)
    toLogical(readEntriesMasked(spark, root, cands, meta.ddl, meta.dvDirs)
      .filter(col(pCol).cast("string").isin(values: _*)), meta.colMap)
  }

  /** Replace the WHOLE snapshot with `df` atomically — the
    * full-rewrite commit (an SCD2 refold, a backfill). Old files drop
    * out of the manifest but stay on disk for time travel until
    * vacuumed; a crash at any point leaves the previous snapshot
    * intact. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame,
                partitionCol: String,
                txn: Option[(String, Long)] = None): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // snapshot HEADER only — a full replacement never needs the
    // parent's entry list (O(manifest files) driver cost at any size)
    val meta = snapshotMeta(spark, dir, Some(v))
    val dfP = toPhysicalFull(df, meta.colMap, meta.ddl)
    val pCol = physName(meta.colMap, partitionCol)
    require(nullableDdl(dfP.schema) == meta.ddl,
      s"overwrite schema ${nullableDdl(dfP.schema)} != table schema ${meta.ddl}")
    val entries = writeBatch(spark, root, dfP, pCol, meta.statsCols,
      meta.constraints, bloomCols = meta.bloomCols)
    // the whole snapshot is replaced, so every previous DV retires too
    commit(fs, root, v + 1, freshManifest(spark, root, meta, entries),
      txn, op = "OVERWRITE")
  }

  /** DYNAMIC PARTITION OVERWRITE under snapshot isolation: replace
    * exactly the partitions `df` carries (its distinct partition
    * values, a null value included) with `df`'s rows, in ONE atomic
    * pointer swap. Files holding only untouched partition values carry
    * over BY REFERENCE, so write cost scales with the touched
    * partitions, never the table — the commit shape [[overwrite]]
    * cannot give (it restages every row), and the one a streaming
    * sink folding into a large partitioned table needs
    * ([[graft.pipeline.Streaming.scd2Stream]]: the live partition plus
    * the batch's closed-date partitions, while years of closed history
    * ride along untouched).
    *
    * A candidate file that SPANS touched and untouched values (hash
    * clustering can co-locate several partition values in one file,
    * and overflowed value sets assert nothing) has its
    * untouched-partition rows rewritten into new files so they
    * survive the swap — same answer, more rewrite volume; tables laid
    * out by [[writeBatch]]'s partition clustering rarely span. Files
    * whose every recorded value is replaced drop WITHOUT being read.
    * DV rows on dropped files become inert; on carried files they
    * still mask (and the kept-row rewrite reads masked). An empty
    * `df` is a no-op (it names no partitions); to empty a partition,
    * [[delete]] its keys instead. A TimestampType partition column
    * disables value pruning ([[partitionValuesSafe]]) — every file
    * becomes a rewrite candidate, correct but unpruned, so partition
    * such tables by a date/string derivative instead. */
  def overwritePartitions(spark: SparkSession, dir: String, df: DataFrame,
                          partitionCol: String,
                          txn: Option[(String, Long)] = None): Unit =
    overwritePartitionsSliced(spark, dir, Seq(df), partitionCol, txn)

  /** [[overwritePartitions]] with the replacement rows pre-split into
    * SLICES, each landing in its own files (one [[writeBatch]] per
    * non-empty slice, all in the same atomic commit). Hash clustering
    * alone can co-locate several partition values — or a null and a
    * non-null value — in one small file, and a file that mixes rows
    * with DIFFERENT rewrite lifetimes drags the long-lived rows
    * through every future overwrite of the short-lived ones. A caller
    * that knows the lifetimes (the streaming SCD2 sink: the live
    * partition is rewritten every batch, a closed-date partition never
    * again) slices accordingly and the long-lived files then carry by
    * reference forever. */
  def overwritePartitionsSliced(spark: SparkSession, dir: String,
                                slices: Seq[DataFrame], partitionCol: String,
                                txn: Option[(String, Long)] = None): Unit = {
    require(slices.nonEmpty, "no slices")
    val (fs, root) = fsOf(spark, dir)
    // the touched-partition set depends only on the input, not the
    // snapshot — computed once, reused by every conflict-retry attempt
    val touched = localDistinctStrings(slices.map(
        _.select(col(partitionCol).cast("string"))).reduce(_ union _))
    if (touched.isEmpty) return // empty batch names no partitions
    val wanted = touched.flatten.toSet
    val wantNull = touched.contains(None)
    // a lost commit race restages on the fresh snapshot (its stats/
    // constraint configuration and its entries both may have moved) —
    // the same shape as upsertIfAbsent; losers' staged files are
    // orphans for vacuumOrphans
    val pColOut = withConflictRetry() {
      val v = latestVersion(spark, dir)
        .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
      // plan from the snapshot HEADER: like [[append]], a partition
      // overwrite must stay O(touched + batch) on a 10⁷-entry table —
      // candidate selection runs WHERE the entries live and only the
      // touched entries ever reach the driver
      val meta = snapshotMeta(spark, dir, Some(v))
      // mapped table: logical slices reshape to the physical schema;
      // `wanted` is name-independent (partition VALUES), so the
      // outside-the-retry computation stays valid
      val slicesP = slices.map(toPhysicalFull(_, meta.colMap, meta.ddl))
      val pCol = physName(meta.colMap, partitionCol)
      slicesP.foreach(df => require(nullableDdl(df.schema) == meta.ddl,
        s"overwritePartitions schema ${nullableDdl(df.schema)} != table " +
          s"schema ${meta.ddl}"))
      val safe = partitionValuesSafe(meta.ddl, pCol)
      // under an unsafe rendering this session's `wanted` strings
      // cannot prove anything about recorded values — EVERY live entry
      // is a rewrite candidate, and the collect is O(entries) by
      // necessity (each file is read and its kept rows rewritten)
      val cands: Seq[Entry] =
        partitionCandidates(spark, meta, pCol, wanted, wantNull)
      // spanning candidates hold rows OUTSIDE the replaced partitions
      // (an untouched recorded value, an un-replaced null, or a capped
      // value set that asserts nothing) — only those need reading. The
      // wholesale drop is sound ONLY under safe partition renderings:
      // an unsafe type's recorded values are writer-session-timezone
      // strings, so this session's `wanted` set cannot prove a file
      // fully replaced — every candidate is then a rewrite candidate
      // (read + kept-row rewrite), exactly as the Scaladoc promises.
      val (spanning, whole) =
        if (safe) cands.partition { e =>
          e.overflow || e.values.exists(x => !wanted.contains(x)) ||
            (e.has_null && !wantNull)
        }
        else (cands, Seq.empty[Entry])
      val _ = whole // dropped wholesale: every recorded value is replaced
      val keptEntries =
        if (spanning.isEmpty) Seq.empty
        else {
          val base =
            readEntriesMasked(spark, root, spanning, meta.ddl, meta.dvDirs)
          // past the In-literal threshold a giant isin is a driver
          // planning blowup (Merge.InListThreshold's rationale) — the
          // kept-row selection switches to a broadcast anti-join on
          // the same string rendering
          val keptRows =
            if (wanted.size <= Merge.InListThreshold) {
              val replacedRow =
                when(col(pCol).isNull, lit(wantNull))
                  .otherwise(col(pCol).cast("string")
                    .isin(wanted.toSeq: _*))
              base.filter(!replacedRow)
            } else {
              import spark.implicits._
              val wantedDf = wanted.toSeq.toDF("__graft_pv")
              val nonReplaced = base.join(broadcast(wantedDf),
                base(pCol).cast("string") === col("__graft_pv"),
                "left_anti")
              if (wantNull) nonReplaced.filter(col(pCol).isNotNull)
              else nonReplaced
            }
          writeBatch(spark, root, keptRows, pCol, meta.statsCols,
            meta.constraints, bloomCols = meta.bloomCols)
        }
      // a single slice is provably non-empty here (touched was); only
      // multi-slice calls pay the per-slice emptiness probe
      val newEntries = slicesP.flatMap { df =>
        writeBatch(spark, root, df, pCol,
          meta.statsCols, meta.constraints, bloomCols = meta.bloomCols)
      }
      val removes = cands.map(_.path)
      val adds = keptEntries ++ newEntries
      // the cumulative remove set rides every future listing's base
      // read — once it stops being small, re-rooting is cheaper
      val name =
        if (linkedAppendEligible(spark, fs, meta) &&
          meta.removedPaths.size + removes.size <= LinkedRemovesCap)
          linkManifest(spark, fs, root, meta, adds, removes)
        else compactManifest(spark, root, meta, meta.ddl, adds, removes)
      commit(fs, root, v + 1, name, txn, op = "OVERWRITE_PARTITIONS")
      pCol
    }
    maybeCheckpoint(spark, dir, pColOut)
  }

  /** TEST-ONLY failpoint: simulate a crash (raw throw, NO cleanup)
    * after the Nth pending-pointer create inside [[commitAll]]. */
  private[ops] var commitAllCrashAfter: Option[Int] = None

  /** MULTI-TABLE atomic commit: apply every [[StagedWrite]] — across
    * DIFFERENT manifest tables — as one all-or-nothing unit. The shape
    * the reference's Step Function needs (`StateMachine.txt:3-41`
    * commits CategoryKPI + OrderKPI + archive as one run): a reader
    * can never observe one KPI table refreshed and the other stale.
    *
    * Protocol (parent-marker two-phase publish):
    *  1. STAGE everything: each table's data batch and manifest are
    *     written (the heavy, crash-inert work) with no pointer.
    *  2. CLAIM each table's next version with a PENDING pointer that
    *     names a parent marker file (`mtxn:<uri>`) which does not
    *     exist yet. Pending pointers are invisible to every reader and
    *     writer ([[versions]] filters them).
    *  3. COMMIT by one atomic create of the marker ([[LogStore]]) —
    *     the single instant all participating pointers become visible
    *     together.
    *
    * Crash anywhere before step 3 leaves EVERY table at its previous
    * snapshot (pending pointers never become visible; their version
    * slots self-heal after the pending-grace window — [[putPointer]]).
    * A CONFLICT during step 2 (another writer claimed a slot first)
    * rolls back this commit's own pending pointers and rethrows, so
    * [[withConflictRetry]] around the whole call re-stages on top of
    * the winner. `txnDir` hosts the marker and must outlive the tables'
    * vacuum retention (markers are tiny; sweep with
    * [[vacuumTxnMarkers]]). */
  def commitAll(spark: SparkSession, writes: Seq[StagedWrite],
                txnDir: String): Unit = {
    require(writes.nonEmpty, "no writes")
    require(writes.map(_.dir).distinct.size == writes.size,
      s"duplicate table dir in ${writes.map(_.dir).mkString(", ")}")
    val (txnFs, txnRoot) = fsOf(spark, txnDir)
    txnFs.mkdirs(txnRoot)
    val marker = txnFs.makeQualified(new Path(txnRoot, s"t-${UUID.randomUUID()}"))
    // phase 1: stage data + manifests (no pointers — pure orphans on crash)
    val staged = writes.map { w =>
      val (fs, root) = fsOf(spark, w.dir)
      val (v, name) =
        latestVersion(spark, w.dir) match {
          case None =>
            // a table born here gets the staged configuration, exactly
            // as a standalone create would record it
            (w.statsCols ++ w.bloomCols).foreach(c =>
              require(w.df.columns.contains(c),
                s"stats column $c not in ${w.df.columns.mkString(",")}"))
            val e = writeBatch(spark, root, w.df, w.partitionCol,
              w.statsCols, w.constraints, bloomCols = w.bloomCols)
            (0L, writeManifest(spark, root, e, nullableDdl(w.df.schema),
              w.statsCols, w.bloomCols, Seq.empty[String], w.constraints))
          case Some(v) =>
            require(w.statsCols.isEmpty && w.bloomCols.isEmpty &&
              w.constraints.isEmpty,
              s"stats/bloom/constraint configuration on a StagedWrite " +
                s"against the EXISTING table at ${w.dir} — the snapshot's " +
                "own configuration governs; use addConstraint/create to " +
                "change it")
            // snapshot HEADER only: staging an append/overwrite against
            // an existing table stays O(batch) driver-side — the append
            // rides the linked chain, the overwrite a fresh manifest,
            // exactly like their standalone counterparts
            val meta = snapshotMeta(spark, w.dir, Some(v))
            require(nullableDdl(w.df.schema) == meta.ddl,
              s"commitAll schema ${nullableDdl(w.df.schema)} != table " +
                s"schema ${meta.ddl} at ${w.dir}")
            val e = writeBatch(spark, root, w.df, w.partitionCol,
              meta.statsCols, meta.constraints, bloomCols = meta.bloomCols)
            val name =
              if (w.overwrite) freshManifest(spark, root, meta, e)
              else if (linkedAppendEligible(spark, fs, meta))
                linkManifest(spark, fs, root, meta, e)
              else compactManifest(spark, root, meta, meta.ddl, e)
            (v, name)
        }
      (fs, root, v + 1, name)
    }
    // phase 2: claim every slot with a pending pointer naming the
    // marker — in CANONICAL order (qualified table URI), so two
    // commitAll calls contending over the same tables collide on their
    // FIRST common table instead of each grabbing a different slot and
    // mutually polling the other's pending pointer for the full
    // pendingWait window (an attempts × wait livelock before either
    // surfaced a conflict)
    val claimOrder = staged.sortBy { case (fs, root, _, _) =>
      fs.makeQualified(root).toUri.toString
    }
    val created = scala.collection.mutable.ArrayBuffer[(FileSystem, Path)]()
    try {
      claimOrder.zipWithIndex.foreach { case ((fs, root, v, name), i) =>
        fs.mkdirs(new Path(root, VersionsDir))
        val target = versionPath(root, v)
        putPointer(fs, target,
          (name + "\n" + MtxnPrefix + marker.toUri.toString +
            s"\n$TsPrefix${System.currentTimeMillis()}" +
            s"\n${OpPrefix}MULTI_COMMIT")
            .getBytes(StandardCharsets.UTF_8))
        created += ((fs, target))
        if (commitAllCrashAfter.contains(i + 1))
          throw new RuntimeException(s"simulated crash after pointer ${i + 1}")
      }
    } catch {
      // a LOST SLOT RACE rolls back this commit's own pending pointers
      // (safe: our marker does not exist and never will) and rethrows
      // for the caller's conflict retry. Any other throwable is a
      // crash-equivalent: propagate raw — pending pointers stay
      // invisible and the slots self-heal after the grace window.
      case t: Throwable if isConflict(t) =>
        created.foreach { case (fs, p) =>
          try {
            fs.delete(p, false)
            LogStore.forFs(fs).release(fs, p) // free any store-side claim
          } catch { case _: java.io.IOException => () }
        }
        throw t
    }
    // phase 3: the commit point — one atomic marker create
    LogStore.forFs(txnFs).putIfAbsent(txnFs, marker,
      staged.map { case (_, root, v, _) => s"$root v$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Reclaim txn markers no retained pointer references. A marker may
    * only go once every pointer that names it is itself gone (else
    * deleting it would UN-COMMIT those versions), so this scans the
    * given tables' retained pointers for `mtxn:` references and
    * deletes unreferenced markers older than `staleMillis` (younger
    * ones may belong to an in-flight commitAll whose pointers are not
    * all created yet). */
  def vacuumTxnMarkers(spark: SparkSession, txnDir: String,
                       tableDirs: Seq[String],
                       staleMillis: Long = 3600 * 1000L): Long = {
    val (txnFs, txnRoot) = fsOf(spark, txnDir)
    if (!txnFs.exists(txnRoot)) return 0L
    val referenced: Set[String] = tableDirs.flatMap { d =>
      val (fs, root) = fsOf(spark, d)
      val vd = new Path(root, VersionsDir)
      if (!fs.exists(vd)) Seq.empty
      else fs.listStatus(vd).map(_.getPath.getName)
        .filter(_.matches("v\\d{8}")).toSeq.flatMap { n =>
          readPointerLines(fs, root, n.drop(1).toLong).drop(1)
            .find(_.startsWith(MtxnPrefix)).map(_.stripPrefix(MtxnPrefix).trim)
        }
    }.toSet
    val cutoff = System.currentTimeMillis() - staleMillis
    var n = 0L
    txnFs.listStatus(txnRoot).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith("t-") &&
        !referenced.contains(txnFs.makeQualified(st.getPath).toUri.toString) &&
        st.getModificationTime < cutoff) {
        n += 1; txnFs.delete(st.getPath, false)
      }
    }
    n
  }

  /** Metadata-only ADD COLUMN (schema evolution): commit a new
    * manifest whose sentinel carries the widened schema — the SAME file
    * entries, no data rewritten, O(1) in table size (Delta's
    * metadata-only `ADD COLUMNS` contract). Readers apply the widened
    * schema to old files and the parquet reader fills the missing
    * columns with null; subsequent appends/upserts must carry the new
    * schema. `addCols` are (name, Spark DDL type) pairs; added columns
    * are nullable by construction. */
  private val WidenLadder =
    Seq[DataType](ByteType, ShortType, IntegerType, LongType)
  private val IntDigits = Map[DataType, Int](ByteType -> 3, ShortType -> 5,
    IntegerType -> 10, LongType -> 19)

  /** Is `from → to` a LOSSLESS widening CAST (Spark 4's reader widening
    * promotions)? This is the direction-check for UPCASTING a batch or
    * a replayed stream frame — integral up-ladder, {byte,short,int}/
    * float → double, decimal growth that shrinks neither the integer
    * digits nor the scale, integral → decimal with room for every
    * value. It is NOT sufficient for a metadata-only table widen —
    * see [[isRenderStableWidening]]. */
  private[graft] def isWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if WidenLadder.contains(f) && WidenLadder.contains(t) =>
        WidenLadder.indexOf(f) < WidenLadder.indexOf(t)
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) =>
        true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale &&
          (t.precision > f.precision || t.scale > f.scale)
      case (f, t: DecimalType) if WidenLadder.contains(f) =>
        t.precision - t.scale >= IntDigits(f)
      case _ => false
    }

  /** The subset of [[isWidening]] that a METADATA-ONLY table widen can
    * use: the stored STRING renderings (per-file partition value sets,
    * stats min/max) must mean the same thing read under the new type,
    * or every keyed write and pruned read after the widen compares
    * apples to oranges — a decimal scale growth re-renders "5.00" as
    * "5.0000" (partition equality breaks), and float→double exposes
    * values ABOVE the recorded float-rendered max ("0.1"'s promoted
    * value is 0.10000000149…, so stats would WRONG-PRUNE). Stable:
    * the integral ladder, same-scale decimal precision growth, and
    * integral → decimal(p, 0). Everything else needs a rewrite. */
  private[graft] def isRenderStableWidening(from: DataType,
                                            to: DataType): Boolean =
    (from, to) match {
      case (f, t) if WidenLadder.contains(f) && WidenLadder.contains(t) =>
        WidenLadder.indexOf(f) < WidenLadder.indexOf(t)
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case (f, t: DecimalType) if WidenLadder.contains(f) =>
        t.scale == 0 && t.precision >= IntDigits(f)
      case _ => false
    }

  /** Does `xxhash64` hash a value IDENTICALLY under both types? Bloom
    * bit positions are xxhash64-derived, so a widen of a bloom column
    * that breaks this would make probes MISS old files' recorded bits —
    * a skipped candidate is a lost update. Measured: byte/short/int
    * hash alike (int-promoted), long differs; decimals hash by unscaled
    * value at equal scale, but the ≤18-digit long-backed and >18-digit
    * byte-array-backed representations hash differently. */
  private[graft] def isHashStableWidening(from: DataType,
                                          to: DataType): Boolean =
    (from, to) match {
      case (ByteType | ShortType, ShortType | IntegerType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && (f.precision <= 18) == (t.precision <= 18)
      case _ => false
    }

  /** WIDEN a column's type in place — METADATA-ONLY, like [[evolve]]:
    * the sentinel commits a re-typed ddl and not one data file is
    * rewritten; old files read under the widened schema through the
    * parquet reader's widening promotions (verified: int→long, decimal
    * precision growth, integral→decimal). Only
    * [[isRenderStableWidening]] conversions are accepted — lossless
    * casts whose stored partition-value/stats renderings keep their
    * meaning (integral ladder, same-scale decimal precision growth,
    * integral→decimal(p,0)); a float→double or scale-changing widen
    * would silently corrupt pruning and is refused toward an explicit
    * rewrite ([[overwrite]] with the new schema). A widened BLOOM
    * column whose xxhash64 rendering changes (e.g. int→long) is
    * DROPPED from the bloom configuration in the same commit — old
    * files' recorded bits can no longer answer for the new type, and a
    * missed probe would be a lost update; keyed writes fall back to
    * partition/stats candidate selection. The Delta-type-widening
    * counterpart, and the fold target for CDC replication of an
    * upstream widen ([[applyChangesIfAbsent]]). */
  def widenColumn(spark: SparkSession, dir: String, name: String,
                  newType: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val p = physName(meta.colMap, name)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val f = schema.fields.find(_.name.equalsIgnoreCase(p))
      .getOrElse(throw new IllegalArgumentException(
        s"no column $name in ${meta.ddl}"))
    val to = DataType.fromDDL(newType)
    require(isRenderStableWidening(f.dataType, to),
      s"cannot widen $name metadata-only: ${f.dataType.catalogString} → " +
        s"${to.catalogString} is not a rendering-stable lossless widening " +
        "(integral up-ladder, same-scale decimal precision growth, " +
        "integral→decimal(p,0)) — rewrite the table (overwrite) for " +
        "anything else")
    val bloomOut =
      if (meta.bloomCols.exists(_.equalsIgnoreCase(p)) &&
        !isHashStableWidening(f.dataType, to))
        Some(meta.bloomCols.filterNot(_.equalsIgnoreCase(p)))
      else None
    val widened = StructType(schema.fields.map(g =>
      if (g.name.equalsIgnoreCase(p)) g.copy(dataType = to) else g))
    commit(fs, root, v + 1,
      compactManifest(spark, root, meta, nullableDdl(widened), Nil,
        bloomColsOut = bloomOut),
      op = "WIDEN_COLUMN")
  }

  def evolve(spark: SparkSession, dir: String,
             addCols: Seq[(String, String)]): Unit = {
    require(addCols.nonEmpty, "no columns to add")
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // header-only: the sentinel change rides a DISTRIBUTED manifest
    // re-root (entries flow executor-to-executor), so widening a
    // 10M-entry table's schema never collects its snapshot
    val meta = snapshotMeta(spark, dir, Some(v))
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val pairs = effectivePairs(meta.ddl, meta.colMap)
    addCols.foreach { case (name, _) =>
      require(!pairs.exists(_._1.equalsIgnoreCase(name)),
        s"column $name already exists (visible: " +
          pairs.map(_._1).mkString(", ") + ")")
    }
    // each new LOGICAL column binds a fresh PHYSICAL slot: usually its
    // own name, but a dropped column's slot still occupies the physical
    // schema (it null-fills forever — the immutability contract), so a
    // re-added name takes a version-suffixed slot instead — probed until
    // free, since a user column could literally carry the suffix shape
    val bound = addCols.foldLeft(Seq.empty[(String, String, String)]) {
      case (acc, (n, t)) =>
        def taken(c: String) =
          schema.fieldNames.exists(_.equalsIgnoreCase(c)) ||
            acc.exists(_._2.equalsIgnoreCase(c))
        val p =
          if (!taken(n)) n
          else Iterator.from(0)
            .map(i => if (i == 0) s"${n}_p${v + 1}" else s"${n}_p${v + 1}_$i")
            .find(!taken(_)).get
        acc :+ ((n, p, t))
    }
    val widened = StructType(schema.fields ++ bound.map { case (_, p, t) =>
      StructField(p, DataType.fromDDL(t), nullable = true)
    })
    // the map only materializes once it stops being the identity
    val mapOut =
      if (meta.colMap.isEmpty && bound.forall { case (n, p, _) => n == p })
        None
      else Some((pairs ++ bound.map { case (n, p, _) => (n, p) })
        .map { case (l, p) => s"$l=$p" })
    commit(fs, root, v + 1,
      compactManifest(spark, root, meta, nullableDdl(widened), Nil,
        colMapOut = mapOut), op = "ADD_COLUMNS")
  }

  /** Row-level CHANGE FEED between two committed versions — the CDC
    * source an incremental downstream consumer reads instead of
    * re-scanning the table. Computed from the FILE diff: only files
    * added or removed between the snapshots are read (a rewritten
    * candidate file's unchanged rows appear identically on both sides
    * and cancel in the multiset difference), so cost scales with the
    * CHANGED data, never the table. Returns the table columns plus
    * `change` ∈ ('insert','delete'); an update surfaces as its delete +
    * insert pair, exactly Delta CDF's update_pre/postimage collapsed.
    * Both sides are read with the `to` version's schema, so the feed is
    * well-typed across a metadata-only [[evolve]]. */
  /** The three DV-aware components of a change feed between two
    * snapshots. Logical content at `v` = rows of live files MINUS the
    * version's DV rows on them, so the feed decomposes as:
    *  - INSERTS: rows of files added in the range, masked by the `to`
    *    DVs (a row both added and DV-deleted inside the range was never
    *    visible);
    *  - file DELETES: rows of files removed in the range, masked by the
    *    `from` DVs (rows already deleted at `from` don't delete twice);
    *  - DV DELETES: rows at positions the range's NEW deletion vectors
    *    (`to.dvDirs \ from.dvDirs`) mark on CARRIED files — a
    *    carried file's mask only ever grows, and DV rows on
    *    added/removed files are covered by the first two terms. */
  /** The file-level diff between two versions, computed WHERE the
    * entries live (one anti-join each way over the manifest relations):
    * only the CHANGED entries ever reach the driver, honoring the
    * change feed's O(changed data) contract on a 10⁷-entry table. */
  private def entryDiff(spark: SparkSession, metaFrom: SnapshotMeta,
                        metaTo: SnapshotMeta): (Seq[Entry], Seq[Entry]) = {
    import spark.implicits._
    entryDiffChain(spark, metaFrom, metaTo).getOrElse {
      val f = entriesDataset(spark, metaFrom).toDF()
      val t = entriesDataset(spark, metaTo).toDF()
      val added = t.join(f.select("path"), Seq("path"), "left_anti")
        .as[ManifestEntry].collect().toSeq
      val removed = f.join(t.select("path"), Seq("path"), "left_anti")
        .as[ManifestEntry].collect().toSeq
      (added, removed)
    }
  }

  /** Chain-aware diff FAST PATH: when `metaTo`'s manifest chain EXTENDS
    * `metaFrom`'s (the linked-commit shape — appends, keyed rewrites,
    * partition overwrites, DV attaches), the range's adds are exactly
    * the new links' own slim parts and its removes are the cumulative
    * remove-set delta, so the diff costs O(new data) instead of two
    * anti-joins over both FULL entry relations. This is what holds a
    * change-feed consumer ([[ChangeFeed.poll]], the `graft-manifest`
    * streaming source) to O(new data) per delivery on a 10⁷-entry
    * table — without it every trigger re-scanned the whole manifest
    * twice. A re-rooted range (compaction, schema widening, restore)
    * is not an extension and falls back to the full diff: rare,
    * maintenance-shaped commits.
    *
    * Parity with the full diff leans on the chain chokepoint's own
    * invariant (see [[paddedManifest]]): batch paths are UUID'd and
    * never reused, so within an extending chain a live path appears in
    * exactly one link and a removed path is never re-added. A file
    * both added AND removed inside the range is transient at the
    * endpoints — excluded from adds (the remove-delta filter) and from
    * removes (`entriesByPaths` resolves only paths live at `metaFrom`),
    * exactly as the endpoint anti-joins would have it. */
  private def entryDiffChain(spark: SparkSession, metaFrom: SnapshotMeta,
                             metaTo: SnapshotMeta)
      : Option[(Seq[Entry], Seq[Entry])] = {
    import spark.implicits._
    if (metaTo.manifestDirs.size <= metaFrom.manifestDirs.size ||
      !metaTo.manifestDirs.startsWith(metaFrom.manifestDirs)) None
    else {
      val fs = new Path(metaTo.manifestDirs.last)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // part-less links (a pure DV attach stages no parquet) would
      // break the union read — LIST each new dir and keep data parts
      val newDirs = metaTo.manifestDirs.drop(metaFrom.manifestDirs.size)
        .filter(d => fs.listStatus(new Path(d)).exists(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")))
      val fromRm = metaFrom.removedPaths.toSet
      val rmDelta = metaTo.removedPaths.filterNot(fromRm)
      val rmSet = rmDelta.toSet
      val adds =
        if (newDirs.isEmpty) Seq.empty[Entry]
        else paddedManifest(spark, newDirs, Nil)
          .filter(col("path") =!= "").as[ManifestEntry].collect().toSeq
          .filterNot(e => rmSet.contains(e.path))
      Some((adds, entriesByPaths(spark, metaFrom, rmDelta)))
    }
  }

  /** The subset of `meta`'s entries whose path is in `paths` —
    * distributed selection, In-literals below the planning threshold,
    * broadcast semi-join past it. */
  private def entriesByPaths(spark: SparkSession, meta: SnapshotMeta,
                             paths: Seq[String]): Seq[Entry] = {
    import spark.implicits._
    if (paths.isEmpty) return Seq.empty
    val ds = entriesDataset(spark, meta)
    if (paths.size <= Merge.InListThreshold)
      ds.filter(col("path").isin(paths: _*)).collect().toSeq
    else ds.toDF().join(broadcast(paths.toDF("path")), Seq("path"),
      "left_semi").as[ManifestEntry].collect().toSeq
  }

  private def changeParts(spark: SparkSession, root: Path,
                          metaFrom: SnapshotMeta, metaTo: SnapshotMeta,
                          added: Seq[Entry], removed: Seq[Entry])
      : (DataFrame, DataFrame) = {
    val addedRows =
      readEntriesMasked(spark, root, added, metaTo.ddl, metaTo.dvDirs)
    val removedRows =
      readEntriesMasked(spark, root, removed, metaTo.ddl, metaFrom.dvDirs)
    // rows of CARRIED files (present in BOTH versions) that a vector in
    // `dvSet` hits, with their (__rel, __pos) identity — the shared
    // scaffold of the DV-ADD and DV-REMOVE sides below; bounded by the
    // vectors' file set
    def dvHitRows(dvSet: Seq[String]): Option[DataFrame] =
      if (dvSet.isEmpty) None
      else {
        val hit = dvTouchedPaths(spark, root, dvSet).toSeq
        val inFrom = entriesByPaths(spark, metaFrom, hit)
          .map(_.path).toSet
        val files = entriesByPaths(spark, metaTo, hit)
          .filter(e => inFrom.contains(e.path))
        if (files.isEmpty) None
        else {
          val dv = dvRelation(spark, root, dvSet)
          Some(readWithPos(spark, root, files, metaTo.ddl)
            .join(dv.select(col("path").as("__rel"), col("pos").as("__pos")),
              Seq("__rel", "__pos"), "left_semi"))
        }
      }
    // a vector ADDED across the range deletes its carried rows
    val dvDeleteRows =
      dvHitRows(metaTo.dvDirs.filterNot(metaFrom.dvDirs.toSet))
        .map(_.drop("__rel", "__pos"))
    // the MIRROR: a vector REMOVED across the range (RESTORE to a
    // pre-MoR-delete version re-points to an old manifest, dropping
    // later DVs while CARRYING the files they masked) RESURRECTS its
    // rows — invisible to the entry diff, so they must surface as
    // inserts here. Rows a metaTo vector still masks stay dead.
    val dvInsertRows =
      dvHitRows(metaFrom.dvDirs.filterNot(metaTo.dvDirs.toSet))
        .map(risen => maskRows(risen, dvRelation(spark, root, metaTo.dvDirs))
          .drop("__rel", "__pos"))
    val insertSide = dvInsertRows
      .map(addedRows.unionByName(_)).getOrElse(addedRows)
    val deleteSide = dvDeleteRows
      .map(removedRows.unionByName(_)).getOrElse(removedRows)
    (insertSide, deleteSide)
  }

  /** The table's current (or `v`-pinned) schema, from the manifest's
    * schema sentinel — a metadata-only read (no data file is listed or
    * opened), so it is safe to call per micro-batch. */
  def tableSchema(spark: SparkSession, dir: String,
                  v: Option[Long] = None): StructType = {
    val meta = snapshotMeta(spark, dir, v)
    // the public face is LOGICAL: mapped tables surface their visible
    // columns (the streaming source's fixed schema then matches the
    // logical rows changes()/appendedBetween deliver)
    logicalStruct(
      DataType.fromDDL(meta.ddl).asInstanceOf[StructType], meta.colMap)
  }

  /** The rows ADDED across `(fromV, toV]` IF every commit in the range
    * only added files — `None` as soon as any file was removed or any
    * deletion vector appeared (an upsert, delete, compaction, or
    * clustering rewrite), because then "the new rows" is not a
    * well-defined file-level question and the caller needs the
    * row-level [[changes]] diff instead.
    *
    * The append-only fast path matters at scale: it reads ONLY the
    * added files (a streaming-ingest table's usual delta), where
    * [[changes]] on the same range would still read both snapshots'
    * entry lists and, on rewrite-bearing ranges, both row sets. Old
    * deletion vectors cannot mask the added files (a DV predates the
    * range; the files did not exist), so the read is a plain scan with
    * the range-end schema — files written before an in-range
    * [[evolve]] surface the widened columns as null, same as
    * [[readVersion]]. */
  def appendedBetween(spark: SparkSession, dir: String, fromV: Long,
                      toV: Long): Option[DataFrame] = {
    require(fromV < toV, s"need fromV < toV (got $fromV, $toV)")
    val (_, root) = fsOf(spark, dir)
    val metaFrom = snapshotMeta(spark, dir, Some(fromV))
    val metaTo = snapshotMeta(spark, dir, Some(toV))
    val (added, removed) = entryDiff(spark, metaFrom, metaTo)
    // any DV-set change breaks append-only: an added vector deletes
    // rows, a removed one (restore) resurrects them
    val hasDvDelta = metaTo.dvDirs.toSet != metaFrom.dvDirs.toSet
    if (removed.nonEmpty || hasDvDelta) None
    else Some(toLogical(readEntries(spark, root, added, metaTo.ddl),
      metaTo.colMap))
  }

  def changes(spark: SparkSession, dir: String, fromV: Long,
              toV: Long, renderAsOf: Option[Long] = None): DataFrame = {
    require(fromV < toV, s"need fromV < toV (got $fromV, $toV)")
    val (_, root) = fsOf(spark, dir)
    val metaFrom = snapshotMeta(spark, dir, Some(fromV))
    val metaTo = snapshotMeta(spark, dir, Some(toV))
    val (added, removed) = entryDiff(spark, metaFrom, metaTo)
    val hasAdded = added.nonEmpty
    val hasRemoved = removed.nonEmpty
    val hasDvDelta = metaTo.dvDirs.exists(!metaFrom.dvDirs.toSet.contains(_))
    // a REMOVED vector (restore) resurrects rows: the insert side is
    // nonempty even with zero added files
    val hasDvGone = metaFrom.dvDirs.exists(!metaTo.dvDirs.toSet.contains(_))
    val (inserts, deletes) =
      changeParts(spark, root, metaFrom, metaTo, added, removed)
    // one-sided diffs (append-only / delete-only commit ranges) need no
    // cancellation — skip both multiset differences and their shuffles
    val out =
      if (!hasRemoved && !hasDvDelta)
        inserts.withColumn("change", lit("insert"))
      else if (!hasAdded && !hasDvGone)
        deletes.withColumn("change", lit("delete"))
      else inserts.exceptAll(deletes).withColumn("change", lit("insert"))
        .unionByName(
          deletes.exceptAll(inserts).withColumn("change", lit("delete")))
    // the feed speaks the TO version's logical names, like its schema —
    // or, with `renderAsOf`, THAT version's names: a streaming consumer
    // unioning per-commit steps across a RENAME/DROP boundary must
    // render every step with ONE face or the union cannot resolve
    // (rename and drop are sentinel-only, so the physical columns
    // beneath are identical at every step; a physical slot bound by a
    // LATER evolve simply null-fills here, which is its true value in
    // the older versions)
    renderAsOf match {
      case None => toLogical(out, metaTo.colMap, extras = Seq("change"))
      case Some(r) =>
        val rMeta = snapshotMeta(spark, dir, Some(r))
        val phys = DataType.fromDDL(rMeta.ddl).asInstanceOf[StructType]
        val have = out.columns.map(_.toLowerCase).toSet
        val padded = phys.fields.toSeq
          .filterNot(f => have.contains(f.name.toLowerCase))
          .foldLeft(out)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        toLogical(padded, rMeta.colMap, extras = Seq("change"))
    }
  }

  /** UNCANCELLED signed change rows between two versions: every row of
    * every added file with `sign = +1`, every row of every removed file
    * with `sign = -1`, no multiset difference. A row a rewrite carried
    * unchanged appears twice with opposite signs — for a consumer that
    * folds the feed into a commutative-group aggregate (SUM/COUNT,
    * [[Incremental]]'s Z-set fold) those pairs cancel ARITHMETICALLY in
    * the aggregation, so paying [[changes]]' two exceptAll shuffles
    * first is pure waste (measured ~3 s of a 6.5 s refresh at 45 M base
    * rows). Use [[changes]] when the consumer needs exact row-level
    * inserts/deletes; use this when it needs a delta to fold. */
  def changesSigned(spark: SparkSession, dir: String, fromV: Long,
                    toV: Long): DataFrame = {
    require(fromV < toV, s"need fromV < toV (got $fromV, $toV)")
    val (_, root) = fsOf(spark, dir)
    val metaFrom = snapshotMeta(spark, dir, Some(fromV))
    val metaTo = snapshotMeta(spark, dir, Some(toV))
    val (added, removed) = entryDiff(spark, metaFrom, metaTo)
    val (inserts, deletes) =
      changeParts(spark, root, metaFrom, metaTo, added, removed)
    toLogical(inserts.withColumn("sign", lit(1L))
      .unionByName(deletes.withColumn("sign", lit(-1L))),
      metaTo.colMap, extras = Seq("sign"))
  }

  /** Partition-VALUE-SET pruning is sound only when the column's string
    * rendering is session-independent. TimestampType renders in the
    * session timezone, so a writer and a later reader in different
    * zones would compare different strings and wrongly prune files a
    * keyed write must touch — for such a partition column every live
    * file stays a candidate (min/max stats, stored zone-free, still
    * prune). */
  private def partitionValuesSafe(ddl: String, partitionCol: String): Boolean =
    DataType.fromDDL(ddl).asInstanceOf[StructType]
      .apply(partitionCol).dataType != TimestampType

  /** MERGE (upsert) with [[Merge.mergeInto]]'s row semantics — update
    * rows win column-wise (`coalesce(update, target)`), new keys
    * insert — under snapshot isolation: only files whose recorded
    * partition-value sets intersect the batch are read and rewritten,
    * the rest of the table is carried by reference in the new manifest,
    * and the swap is the atomic pointer create. A crash at ANY point
    * leaves the previous snapshot intact (rerun = same result, one more
    * version). As in mergeInto, a key's partition value must be stable
    * across updates. `updates` must carry the FULL table schema — a
    * partial-schema batch would silently null out the missing columns
    * for every rewritten row in the candidate files, so it is rejected
    * loudly, exactly like [[append]]. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
             keys: Seq[String], partitionCol: String,
             txn: Option[(String, Long)] = None): Unit = {
    rewriteKeyed(spark, dir, updates, partitionCol,
      requireFullSchema = true, txn = txn, keys = keys,
      op = "UPSERT") { (target, batch, k) =>
      val dataCols = batch.columns
      target.alias("t")
        .join(batch.alias("u"),
          k.map(c => col(s"u.$c") <=> col(s"t.$c")).reduce(_ && _),
          "full_outer")
        .select(dataCols.map(c =>
          coalesce(col(s"u.$c"), col(s"t.$c")).as(c)): _*)
    }
  }

  /** Keyed DELETE under snapshot isolation. `deletes` must carry
    * EXACTLY `keys :+ partitionCol` (anything else is a likely
    * caller bug — extra columns would silently not constrain the
    * delete). A file (or partition) whose rows are all deleted simply
    * drops out of the manifest — no emptied-directory special case, the
    * one [[Merge.deleteWhere]] needs. */
  def delete(spark: SparkSession, dir: String, deletes: DataFrame,
             keys: Seq[String], partitionCol: String): Unit = {
    val expect = (keys :+ partitionCol).toSet
    require(deletes.columns.toSet == expect &&
      deletes.columns.length == expect.size,
      s"delete batch columns ${deletes.columns.mkString(",")} must be " +
        s"exactly ${expect.mkString(",")}")
    rewriteKeyed(spark, dir, deletes, partitionCol,
      requireFullSchema = false, keys = keys,
      op = "DELETE") { (target, batch, k) =>
      target.join(batch.select(k.map(col): _*).distinct(),
        k, "left_anti")
    }
  }

  /** Build the serializable per-entry DELETE-WHERE tier classifier:
    * 0 = provably NO row matches the predicate, 1 = provably EVERY row
    * matches, 2 = straddler (row-level work needed). `sqlP` speaks
    * PHYSICAL names. The predicate is resolved and optimized by
    * Catalyst against the physical schema once, here (constant folding,
    * null-intolerance guards, NOT-pushdown into bare comparisons — the
    * forms the shared stats pruning compiles); the returned closure
    * captures only serializable pieces so it can run inside a
    * `Dataset.map` over the manifest relation.
    *
    * The FULL tier (1) has two provers, both sound:
    *  - EXACT partition-value evaluation, when the predicate
    *    (a) constrains the PARTITION column alone — whose per-file
    *    value sets are exhaustive distinct values, (b) is
    *    deterministic, and (c) the rendering is session-independent
    *    ([[partitionValuesSafe]]). A non-overflowed file whose every
    *    recorded value evaluates TRUE (and which holds no null — a
    *    null predicate never deletes, SQL's WHERE contract) provably
    *    matches row-for-row.
    *  - STATS refutation of the negation, when every referenced column
    *    carries a stored `IS NOT NULL` CHECK constraint and the
    *    expression tree is null-intolerant — see the inline comment.
    * Everything else degrades to NONE-vs-MAYBE through
    * [[graft.plans.ManifestScan.entryMayMatch]]. */
  private def deleteTierClassifier(spark: SparkSession, meta: SnapshotMeta,
                                   pCol: String,
                                   sqlP: String): ManifestEntry => Int = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, BindReferences, Cast, EvalMode, Expression, GenericInternalRow, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
    import org.apache.spark.unsafe.types.UTF8String

    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    // an RDD-backed frame (NOT a LocalRelation): the optimizer cannot
    // fold it away as known-empty, so the plan keeps its Filter node
    // and we read the optimized condition out of it
    val df0 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val plan = df0.filter(expr(sqlP)).queryExecution.optimizedPlan
    val filters = plan.collect { case f: LFilter => f }
    if (filters.isEmpty) {
      // constant predicate, folded away entirely: FALSE prunes the plan
      // to a known-empty relation (delete nothing); TRUE drops the
      // Filter node (every file drops — metadata-only TRUNCATE)
      val none = plan match {
        case l: LocalRelation => l.data.isEmpty
        case _ => false
      }
      return if (none) (_: ManifestEntry) => 0 else (_: ManifestEntry) => 1
    }
    def split(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    val conds = filters.flatMap(f => split(f.condition))
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val mayMatch = graft.plans.ManifestScan.entryMayMatch(
      schema, meta.statsCols, Some(pCol), tz, conds)
    // FULL via STATS, for predicates beyond the partition column (the
    // `price < floor` retention sweep): a file provably drops when
    //  (a) the pruning refutes the NEGATION — no row can make p FALSE
    //      (the same compiled closures, over `filter(NOT p)`'s
    //      Catalyst-optimized conjuncts);
    //  (b) p can never evaluate NULL — a NULL keeps its row, and
    //      min/max stats carry no null counts, so null-freedom must
    //      come from stored `c IS NOT NULL` CHECK constraints covering
    //      every referenced column, PLUS a null-intolerant expression
    //      whitelist (comparisons/boolean algebra/widening casts; a
    //      nullif/try_cast inside p could go NULL on non-null inputs,
    //      so any unlisted node disables the tier, never unsounds it).
    val statsFull: ManifestEntry => Boolean = {
      val notNullCols: Set[String] = meta.constraints
        .map(parseConstraint(_)._2).flatMap { sql =>
          try spark.sessionState.sqlParser.parseExpression(sql) match {
            case org.apache.spark.sql.catalyst.expressions.IsNotNull(
              a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute)
              if a.nameParts.length == 1 =>
              Some(a.nameParts.head.toLowerCase)
            case _ => None
          } catch { case scala.util.control.NonFatal(_) => None }
        }.toSet
      def nullIntolerant(x: Expression): Boolean = x match {
        case _: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          true
        case l: Literal => l.value != null // `... OR NULL` can go NULL
        case c: Cast =>
          (c.child match {
            case _: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
              isWidening(c.child.dataType, c.dataType)
            case _: Literal => true
            case _ => false
          }) && nullIntolerant(c.child)
        case _: CAnd |
             _: org.apache.spark.sql.catalyst.expressions.Or |
             _: org.apache.spark.sql.catalyst.expressions.Not |
             _: org.apache.spark.sql.catalyst.expressions.BinaryComparison |
             _: org.apache.spark.sql.catalyst.expressions.In |
             _: org.apache.spark.sql.catalyst.expressions.InSet |
             _: org.apache.spark.sql.catalyst.expressions.IsNull |
             _: org.apache.spark.sql.catalyst.expressions.IsNotNull |
             _: org.apache.spark.sql.catalyst.expressions.StartsWith =>
          x.children.forall(nullIntolerant)
        case _ => false
      }
      // the whitelist MUST judge the ANALYZED tree, not the optimized
      // conjuncts: ReplaceNullWithFalseInPredicate is sound for the
      // positive filter but ERASES the very NULL literals (`... OR
      // NULL`, `IN (..., NULL)`) that make p NULL-capable — a
      // null-freedom proof over the sanitized form would escalate a
      // NULL-keeping predicate into a whole-table drop
      val analyzedCond = df0.filter(expr(sqlP)).queryExecution.analyzed
        .collectFirst { case f: LFilter => f.condition }
      val eligible = analyzedCond.exists(c => c.deterministic &&
        nullIntolerant(c) &&
        c.references.map(_.name.toLowerCase).toSeq.distinct
          .forall(notNullCols.contains))
      if (!eligible) (_: ManifestEntry) => false
      else {
        val negPlan = df0.filter(!expr(sqlP)).queryExecution.optimizedPlan
        val negFilters = negPlan.collect { case f: LFilter => f }
        if (negFilters.isEmpty) {
          // the negation folded away: FALSE (empty plan) means no row
          // can fail p — with null-freedom proven, every file is full
          val none = negPlan match {
            case l: LocalRelation => l.data.isEmpty
            case _ => false
          }
          if (none) (_: ManifestEntry) => true else (_: ManifestEntry) => false
        } else {
          val mayFail = graft.plans.ManifestScan.entryMayMatch(
            schema, meta.statsCols, Some(pCol), tz,
            negFilters.flatMap(f => split(f.condition)))
          (e: ManifestEntry) => !mayFail(e)
        }
      }
    }
    val exact = conds.forall(c => c.deterministic &&
      c.references.forall(_.name.equalsIgnoreCase(pCol))) &&
      partitionValuesSafe(meta.ddl, pCol)
    if (!exact) {
      (e: ManifestEntry) =>
        if (statsFull(e)) 1 else if (mayMatch(e)) 2 else 0
    }
    else {
      val out = filters.head.child.output
      val bound = BindReferences.bindReference(
        conds.reduce[Expression](CAnd(_, _)), out)
      val ord = out.indexWhere(_.name.equalsIgnoreCase(pCol))
      val dt = out(ord).dataType
      val width = out.size
      // whether a NULL partition value satisfies the predicate — FALSE
      // for ordinary comparisons (they evaluate NULL, not TRUE) but
      // TRUE for `p IS NULL` / `p <=> NULL`, which must classify
      // has_null files as matching, not clean. Evaluated once: the
      // answer is value-independent.
      val nullMatch = {
        val row = new GenericInternalRow(width)
        bound.eval(row) == true
      }
      (e: ManifestEntry) => {
        if (e.overflow) {
          if (statsFull(e)) 1 else if (mayMatch(e)) 2 else 0
        }
        else {
          val row = new GenericInternalRow(width)
          var any = e.has_null && nullMatch
          // FULL needs every row matching: all recorded values TRUE and
          // any null rows covered by a null-matching predicate
          var full = (!e.has_null || nullMatch) &&
            (e.values.nonEmpty || e.has_null)
          var unknown = false
          e.values.foreach { s =>
            val v =
              if (dt == StringType) UTF8String.fromString(s)
              else Cast(Literal(UTF8String.fromString(s), StringType),
                dt, Some(tz), EvalMode.TRY).eval(null)
            if (v == null) unknown = true // unparsable rendering: stay safe
            else {
              row.update(ord, v)
              if (bound.eval(row) == true) any = true else full = false
            }
          }
          if (unknown) 2
          else if (!any) 0
          else if (full) 1
          else 2
        }
      }
    }
  }

  /** [[deleteWhere]]/[[deleteWhereMor]]'s planning half: classify the
    * snapshot's entries WHERE THEY LIVE (two jobs over the manifest
    * relation — a tier count, then a collect of only the touched
    * entries), so driver heap stays O(touched files) at any table size.
    * Returns (total live files, provably-full entries, straddler
    * entries, allFull): when EVERY file is provably full (`DELETE WHERE
    * true`, or a predicate the whole table matches) the entry collect
    * is skipped entirely — the caller re-roots a fresh empty manifest,
    * a metadata-only truncate with no O(entries) driver work. */
  private def deleteWhereTiers(spark: SparkSession, meta: SnapshotMeta,
                               pCol: String, sqlP: String)
      : (Long, Seq[Entry], Seq[Entry], Boolean) = {
    import spark.implicits._
    val classify = deleteTierClassifier(spark, meta, pCol, sqlP)
    val ents = entriesDataset(spark, meta)
    // count pass maps to the bare tier int — flowing whole entries
    // through the aggregate serialized every one (measured 35 s vs
    // ~1 s at 10⁷ entries)
    val counts = ents.map(classify).groupBy("value").count()
      .as[(Int, Long)].collect().toMap
    val nTotal = counts.values.sum
    val nFull = counts.getOrElse(1, 0L)
    if (nTotal > 0 && nFull == nTotal) (nTotal, Nil, Nil, true)
    else if (nFull + counts.getOrElse(2, 0L) == 0L) (nTotal, Nil, Nil, false)
    else {
      val touched = ents.map(e => (classify(e), e)).filter(_._1 > 0)
        .collect()
      (nTotal, touched.filter(_._1 == 1).map(_._2).toSeq,
        touched.filter(_._1 == 2).map(_._2).toSeq, false)
    }
  }

  /** Predicate DELETE — `DELETE FROM t WHERE p` — planned from the
    * manifest's own metadata in three tiers, the Delta-class shape for
    * the 100 TB retention delete (`WHERE order_date < X`):
    *
    *  - files whose rows PROVABLY ALL match drop METADATA-ONLY (exact
    *    partition-value-set evaluation: zero bytes read or written —
    *    dropping a year of history from a date-partitioned table is a
    *    pointer swap);
    *  - files that PROVABLY CANNOT match (exact value sets, or min/max
    *    stats through the same compiled pruning every planning venue
    *    runs) are carried by reference, untouched;
    *  - only the STRADDLERS are read (DV-masked) and rewritten without
    *    their matching rows. Rows where `p` evaluates NULL are KEPT
    *    (SQL's WHERE contract: only `p IS TRUE` deletes).
    *
    * `predicate` is ANSI SQL over the table's visible (logical)
    * columns. The commit is adds+removes on the linked chain; a
    * concurrent commit surfaces as a conflict with NO rebase — unlike
    * the keyed writes, a predicate's future matches cannot be bounded
    * to a partition set, so reusing the staged result across an
    * interleaved winner could miss the winner's rows; re-plan via
    * [[withConflictRetry]] instead. `DELETE WHERE true` degenerates to
    * a metadata-only TRUNCATE (fresh sentinel re-root, no entry
    * collect). Returns per-tier file counts. */
  def deleteWhere(spark: SparkSession, dir: String, predicate: String,
                  partitionCol: String): Map[String, Long] = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val pCol = physName(meta.colMap, partitionCol)
    val sqlP = sqlToPhysical(spark, predicate, meta.colMap)
    val (nTotal, fulls, maybes, allFull) =
      deleteWhereTiers(spark, meta, pCol, sqlP)
    if (allFull) {
      commit(fs, root, v + 1, freshManifest(spark, root, meta, Nil),
        op = "DELETE_WHERE")
      maybeCheckpoint(spark, dir, pCol)
      return Map("files_dropped" -> nTotal, "files_rewritten" -> 0L)
    }
    if (fulls.isEmpty && maybes.isEmpty)
      return Map("files_dropped" -> 0L, "files_rewritten" -> 0L)
    val newEntries =
      if (maybes.isEmpty) Seq.empty[Entry]
      else {
        val kept = readEntriesMasked(spark, root, maybes, meta.ddl,
          meta.dvDirs)
          .filter(!coalesce(expr(sqlP), lit(false)))
          .persist()
        try // zero kept straddler rows stage nothing (writeBatch is total)
          writeBatch(spark, root, kept, pCol, meta.statsCols,
            meta.constraints, bloomCols = meta.bloomCols)
        finally kept.unpersist()
      }
    val removes = (fulls ++ maybes).map(_.path)
    val name =
      if (linkedAppendEligible(spark, fs, meta) &&
        meta.removedPaths.size + removes.size <= LinkedRemovesCap)
        linkManifest(spark, fs, root, meta, newEntries, removes)
      else compactManifest(spark, root, meta, meta.ddl, newEntries, removes)
    commit(fs, root, v + 1, name, op = "DELETE_WHERE")
    maybeCheckpoint(spark, dir, pCol)
    Map("files_dropped" -> fulls.size.toLong,
      "files_rewritten" -> maybes.size.toLong)
  }

  /** [[deleteWhere]] as MERGE-ON-READ: provably-full files still drop
    * METADATA-ONLY (cheaper than any vector), provably-clean files are
    * untouched, and the straddlers' matching rows are masked by ONE new
    * deletion vector instead of rewritten — write cost O(matched rows),
    * so the retention delete finishes in seconds regardless of file
    * sizes; [[maintain]]/[[materialize]] fold the read debt later. Same
    * predicate semantics and conflict contract as [[deleteWhere]].
    * Returns `files_dropped` (metadata-only) and `files_masked`
    * (straddler candidates the new vector may touch). */
  def deleteWhereMor(spark: SparkSession, dir: String, predicate: String,
                     partitionCol: String): Map[String, Long] = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val pCol = physName(meta.colMap, partitionCol)
    val sqlP = sqlToPhysical(spark, predicate, meta.colMap)
    val (nTotal, fulls, maybes, allFull) =
      deleteWhereTiers(spark, meta, pCol, sqlP)
    if (allFull) {
      commit(fs, root, v + 1, freshManifest(spark, root, meta, Nil),
        op = "DELETE_WHERE_MOR")
      maybeCheckpoint(spark, dir, pCol)
      return Map("files_dropped" -> nTotal, "files_masked" -> 0L)
    }
    if (fulls.isEmpty && maybes.isEmpty)
      return Map("files_dropped" -> 0L, "files_masked" -> 0L)
    // positions of still-visible straddler rows the predicate matches:
    // masking by the EXISTING vectors first keeps the new vector
    // disjoint from them (re-deleting a dead row must not double-count
    // in the change feed), as in [[dvHits]]
    val dvName =
      if (maybes.isEmpty) None
      else writeDv(spark, root,
        maskRows(readWithPos(spark, root, maybes, meta.ddl),
          dvRelation(spark, root, meta.dvDirs))
          .filter(coalesce(expr(sqlP), lit(false)))
          .select(col("__rel").as("path"), col("__pos").as("pos")))
    val removes = fulls.map(_.path)
    if (dvName.isEmpty && removes.isEmpty)
      return Map("files_dropped" -> 0L, "files_masked" -> 0L)
    val name =
      if (linkedAppendEligible(spark, fs, meta) &&
        meta.removedPaths.size + removes.size <= LinkedRemovesCap)
        linkManifest(spark, fs, root, meta, Nil, removes,
          dvAdds = dvName.toSeq)
      else compactManifest(spark, root, meta, meta.ddl, Nil, removes,
        dvAdds = dvName.toSeq)
    commit(fs, root, v + 1, name, op = "DELETE_WHERE_MOR")
    maybeCheckpoint(spark, dir, pCol)
    Map("files_dropped" -> fulls.size.toLong,
      "files_masked" -> (if (dvName.isEmpty) 0L else maybes.size.toLong))
  }

  /** Resolve an UPDATE's SET list: visible column names to physical,
    * expressions through the column map, duplicates and unknown
    * columns refused loudly. */
  private def resolveSet(spark: SparkSession, meta: SnapshotMeta,
                         schema: StructType, set: Seq[(String, String)])
      : Seq[(String, org.apache.spark.sql.Column)] = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val out = set.map { case (c, e) =>
      val phys = physName(meta.colMap, c)
      require(schema.fieldNames.exists(_.equalsIgnoreCase(phys)),
        s"no column $c to SET " +
          s"(visible: ${logicalStruct(schema, meta.colMap).fieldNames.mkString(", ")})")
      phys -> expr(sqlToPhysical(spark, e, meta.colMap))
    }
    require(out.map(_._1.toLowerCase).distinct.size == out.size,
      s"duplicate SET column in ${set.map(_._1).mkString(", ")}")
    out
  }

  /** Each SET column replaced (cast to ITS declared type) on rows
    * `cond` selects, every other row and column verbatim. */
  private def applySet(schema: StructType,
                       setP: Seq[(String, org.apache.spark.sql.Column)],
                       cond: Option[org.apache.spark.sql.Column])
                      (df: DataFrame): DataFrame =
    df.select(schema.fields.map { f =>
      setP.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, e)) =>
          val v = e.cast(f.dataType)
          cond.map(p => when(p, v).otherwise(col(f.name)))
            .getOrElse(v).as(f.name)
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)

  /** `UPDATE t SET col = expr, ... WHERE p` — the DML sibling of
    * [[deleteWhere]], planned from the same metadata tiers: files the
    * predicate provably cannot touch carry by reference untouched;
    * everything else (straddlers AND provably-full files — an update
    * has no metadata-only form) reads DV-masked and rewrites with each
    * SET column replaced on matching rows (`p IS TRUE`; a NULL
    * predicate leaves its row unchanged, SQL's contract). `set` maps
    * visible column names to ANSI SQL expressions over the OLD row's
    * visible columns, cast to the column's declared type. CHECK
    * constraints validate on the rewrite — a violating update fails
    * loudly and commits nothing. SET on the partition column is
    * allowed: rewritten files simply record their new value sets.
    * `WHERE true` degenerates to one whole-table overwrite-shaped
    * commit (read through the venue-switched planner, no entry
    * collect). Same no-rebase conflict contract as [[deleteWhere]].
    * Returns per-tier file counts. */
  def updateWhere(spark: SparkSession, dir: String,
                  set: Seq[(String, String)], predicate: String,
                  partitionCol: String): Map[String, Long] = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val pCol = physName(meta.colMap, partitionCol)
    val sqlP = sqlToPhysical(spark, predicate, meta.colMap)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val setP = resolveSet(spark, meta, schema, set)
    val matchCond = coalesce(expr(sqlP), lit(false))
    val (nTotal, fulls, maybes, allFull) =
      deleteWhereTiers(spark, meta, pCol, sqlP)
    if (allFull) {
      // whole-table rewrite, staged as an overwrite: rows come through
      // the venue-switched planner (physical face, DV-masked), so the
      // driver never materializes the entry list
      val (rel, dvDirs, _) = graft.plans.ManifestScan.planned(
        spark, dir, Some(pCol), Some(v))
      val raw = spark.baseRelationToDataFrame(rel)
      val rows = if (dvDirs.isEmpty) raw
        else maskedByDv(spark, dir, raw, dvDirs)
      val newEntries = writeBatch(spark, root,
        applySet(schema, setP, Some(matchCond))(rows), pCol,
        meta.statsCols, meta.constraints, bloomCols = meta.bloomCols)
      commit(fs, root, v + 1, freshManifest(spark, root, meta, newEntries),
        op = "UPDATE_WHERE")
      maybeCheckpoint(spark, dir, pCol)
      return Map("files_rewritten" -> nTotal, "files_untouched" -> 0L)
    }
    val cands = fulls ++ maybes
    if (cands.isEmpty)
      return Map("files_rewritten" -> 0L, "files_untouched" -> nTotal)
    val rewritten = applySet(schema, setP, Some(matchCond))(
      readEntriesMasked(spark, root, cands, meta.ddl, meta.dvDirs))
      .persist()
    try {
      val newEntries = // empty (fully-DV'd candidates) stages nothing
        writeBatch(spark, root, rewritten, pCol, meta.statsCols,
          meta.constraints, bloomCols = meta.bloomCols)
      val removes = cands.map(_.path)
      val name =
        if (linkedAppendEligible(spark, fs, meta) &&
          meta.removedPaths.size + removes.size <= LinkedRemovesCap)
          linkManifest(spark, fs, root, meta, newEntries, removes)
        else compactManifest(spark, root, meta, meta.ddl, newEntries,
          removes)
      commit(fs, root, v + 1, name, op = "UPDATE_WHERE")
    } finally rewritten.unpersist()
    maybeCheckpoint(spark, dir, pCol)
    Map("files_rewritten" -> cands.size.toLong,
      "files_untouched" -> (nTotal - cands.size))
  }

  /** [[updateWhere]] as MERGE-ON-READ: the matched rows are masked by
    * ONE new deletion vector and their UPDATED versions land as new
    * files, committed atomically — write cost O(matched rows), no
    * candidate file rewritten ([[upsertMor]]'s shape, driven by a
    * predicate instead of keys). Returns the candidate count and
    * whether a vector landed. */
  def updateWhereMor(spark: SparkSession, dir: String,
                     set: Seq[(String, String)], predicate: String,
                     partitionCol: String): Map[String, Long] = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val pCol = physName(meta.colMap, partitionCol)
    val sqlP = sqlToPhysical(spark, predicate, meta.colMap)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val setP = resolveSet(spark, meta, schema, set)
    val (_, fulls, maybes, allFull) =
      deleteWhereTiers(spark, meta, pCol, sqlP)
    if (allFull)
      // masking 100% of the rows would duplicate the table on disk AND
      // tax every later read — a provably-full MoR update degrades to
      // [[updateWhere]]'s overwrite-shaped whole-table rewrite
      // (identical semantics, planned without an entry collect)
      return updateWhere(spark, dir, set, predicate, partitionCol) +
        ("files_masked" -> 0L)
    val cands = fulls ++ maybes
    if (cands.isEmpty) return Map("files_masked" -> 0L)
    // PERSISTED: feeds three actions (emptiness, the vector, the
    // updated-row write); bounded by the matched rows
    val matched = maskRows(readWithPos(spark, root, cands, meta.ddl),
      dvRelation(spark, root, meta.dvDirs))
      .filter(coalesce(expr(sqlP), lit(false)))
      .persist()
    try {
      if (matched.isEmpty) return Map("files_masked" -> 0L)
      val dvName = writeDv(spark, root,
        matched.select(col("__rel").as("path"), col("__pos").as("pos")))
      // matched rows update UNCONDITIONALLY (they matched); the new
      // files and the vector swap in as ONE pointer create
      val newEntries = writeBatch(spark, root,
        applySet(schema, setP, None)(matched.drop("__rel", "__pos")),
        pCol, meta.statsCols, meta.constraints, bloomCols = meta.bloomCols)
      val name =
        if (linkedAppendEligible(spark, fs, meta))
          linkManifest(spark, fs, root, meta, newEntries,
            dvAdds = dvName.toSeq)
        else compactManifest(spark, root, meta, meta.ddl, newEntries,
          dvAdds = dvName.toSeq)
      commit(fs, root, v + 1, name, op = "UPDATE_WHERE_MOR")
    } finally matched.unpersist()
    maybeCheckpoint(spark, dir, pCol)
    Map("files_masked" -> cands.size.toLong)
  }

  /** Conditional-clause MERGE INTO ([[MergeClause]] — the full SQL
    * `WHEN MATCHED / NOT MATCHED / NOT MATCHED BY SOURCE` algebra) as
    * ONE atomic merge-on-read commit: every matched/by-source UPDATE or
    * DELETE masks its old row through a single new deletion vector,
    * updated rows and inserts land as new files, and the whole outcome
    * swaps in with one pointer create — write cost O(action rows), no
    * candidate file rewritten (the [[upsertMor]] shape generalized to
    * the clause algebra; [[maintain]] folds the read debt later).
    *
    * `on` is the equi-join key list as (targetColumn, sourceColumn)
    * pairs over VISIBLE names — SQL `=` semantics (a NULL key matches
    * nothing). Candidate planning rides the existing keyed pruning:
    * when the partition column is itself an ON key, the exact
    * partition value-set tier bounds the candidates to the touched
    * partitions, and any bloom-able ON key then probes per-file bloom
    * filters ([[bloomBatchCandidates]]) — so a small batch against a
    * 10⁷-file table opens only the files that can hold its keys.
    * Without a partition ON key — or with a `notMatchedBySource`
    * clause, which makes every live file a candidate BY SEMANTICS
    * (any file may hold unmatched rows; Delta scans the full table
    * for these too) — the target reads whole-table through the
    * venue-switched planner with NO driver entry collect at any
    * table size.
    *
    * SQL's nondeterminism guard: a target row that takes a matched
    * action from TWO source rows is refused loudly before anything is
    * written (which source row wins would be arbitrary). One source
    * row fanning out to many target rows is fine.
    *
    * Returns `rows_updated` / `rows_deleted` / `rows_inserted`. */
  def mergeClauses(spark: SparkSession, dir: String, source: DataFrame,
                   on: Seq[(String, String)], partitionCol: String,
                   matched: Seq[MergeClause.Matched] = Nil,
                   notMatched: Seq[MergeClause.NotMatched] = Nil,
                   notMatchedBySource: Seq[MergeClause.NotMatchedBySource] = Nil,
                   targetAlias: String = "t", sourceAlias: String = "s")
      : Map[String, Long] = {
    import MergeClause._
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE needs at least one clause")
    require(on.nonEmpty, "MERGE needs at least one ON key pair")
    require(!targetAlias.equalsIgnoreCase(sourceAlias),
      s"target and source aliases must differ (both '$targetAlias')")
    val tA = targetAlias; val sA = sourceAlias
    val physSchema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val visible = logicalStruct(physSchema, meta.colMap)
    Seq("__s_hit", "__rel", "__pos").foreach { c =>
      require(!source.columns.exists(_.equalsIgnoreCase(c)),
        s"source column $c collides with a merge-internal marker")
    }
    on.foreach { case (tk, sk) =>
      require(visible.fieldNames.exists(_.equalsIgnoreCase(tk)),
        s"ON target column $tk is not a visible column " +
          s"(visible: ${visible.fieldNames.mkString(", ")})")
      require(source.columns.exists(_.equalsIgnoreCase(sk)),
        s"ON source column $sk is not a source column " +
          s"(source: ${source.columns.mkString(", ")})")
    }
    // normalize the star forms; validate SET/INSERT column lists
    def starSet = visible.fieldNames.toSeq.map(c => c -> s"$sA.$c")
    def checkCols(what: String, cols: Seq[String]): Unit = {
      cols.foreach(c => require(
        visible.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"$what column $c is not a visible column " +
          s"(visible: ${visible.fieldNames.mkString(", ")})"))
      require(cols.map(_.toLowerCase).distinct.size == cols.size,
        s"duplicate $what column in ${cols.mkString(", ")}")
    }
    def normAction(a: Action): Action = a match {
      case Update(set) =>
        val s0 = if (set.isEmpty) {
          visible.fieldNames.foreach(c => require(
            source.columns.exists(_.equalsIgnoreCase(c)),
            s"UPDATE SET * needs source column $c"))
          starSet
        } else set
        checkCols("SET", s0.map(_._1)); Update(s0)
      case Delete => Delete
    }
    val matchedN = matched.map(m => m.copy(action = normAction(m.action)))
    val nmbsN = notMatchedBySource
      .map(m => m.copy(action = normAction(m.action)))
    val notMatchedN = notMatched.map { m =>
      val v0 = if (m.values.isEmpty) {
        visible.fieldNames.foreach(c => require(
          source.columns.exists(_.equalsIgnoreCase(c)),
          s"INSERT * needs source column $c"))
        starSet
      } else m.values
      checkCols("INSERT", v0.map(_._1)); m.copy(values = v0)
    }
    val pColP = physName(meta.colMap, partitionCol)
    val sourceP = source.persist()
    try {
      // ---- candidate planning ----
      // When the partition column is an ON key (and no by-source
      // clause widens the touched set to the whole table), the exact
      // value-set tier bounds the candidate list to the touched
      // partitions — an O(touched files) driver list — and any
      // bloom-able ON key then prunes it per file. Otherwise the
      // target reads WHOLE-TABLE through the venue-switched planner
      // (position identity bolted on, existing DVs masked): no entry
      // ever reaches the driver, at any table size — a merge without
      // a partition key may genuinely touch any file, exactly like a
      // by-source clause does, and Delta scans the full table for
      // these too.
      val partitionOn =
        if (nmbsN.isEmpty) on.find(_._1.equalsIgnoreCase(partitionCol))
        else None
      // the whole-table MoR read (physical face + position identity),
      // built lazily: only the by-source path consumes it wholesale
      def wholeTable(): DataFrame = {
        val (rel, _, _) = graft.plans.ManifestScan.planned(
          spark, dir, Some(pColP), Some(v))
        maskRows(spark.baseRelationToDataFrame(rel)
            .withColumn("__rel", relPathCol(spark, root))
            .withColumn("__pos", col("_metadata.row_index")),
          dvRelation(spark, root, meta.dvDirs))
      }
      val target0: DataFrame = partitionOn match {
        case Some((_, skP)) =>
          val touched = localDistinctStrings(
            sourceP.select(col(skP).cast("string")))
          var cands = partitionCandidates(spark, meta, pColP,
            touched.flatten.toSet, touched.contains(None))
          on.find(p => meta.bloomCols.contains(
            physName(meta.colMap, p._1))).foreach { case (tk, sk2) =>
            val tkP = physName(meta.colMap, tk)
            cands = bloomBatchCandidates(spark, root, meta.ddl,
              meta.bloomCols, cands,
              sourceP.select(col(sk2).as(tkP)), tkP)
          }
          maskRows(readWithPos(spark, root, cands, meta.ddl),
            dvRelation(spark, root, meta.dvDirs))
        case None if nmbsN.isEmpty =>
          // Delta's findTouchedFiles shape: ONE broadcast-probe scan
          // (source is the small side by construction — no shuffle of
          // the table) finds the files holding any actual key match;
          // the clause pass then joins only those files' rows plus the
          // source, so the table's untouched bulk is never shuffled.
          // An unmatched source row stays unmatched in phase 2 (its
          // inserts need no target rows), and files whose only matches
          // are DV-dead rows never become candidates (the probe reads
          // masked).
          val keyPairs = on.map { case (tk, sk) =>
            (physName(meta.colMap, tk), s"__mk_${physName(meta.colMap, tk)}", sk)
          }
          val srcKeys = broadcast(sourceP.select(keyPairs.map {
            case (_, mk, sk) => col(sk).as(mk)
          }: _*).distinct())
          // local distinct: the probe scan's output folds to file paths
          // per task (bounded by the candidate file count), so the
          // path set never pays an exchange
          val touchedPaths = localDistinctStrings(wholeTable()
            .join(srcKeys, keyPairs.map { case (tkP, mk, _) =>
              col(tkP) === col(mk)
            }.reduce(_ && _), "inner")
            .select(col("__rel"))).flatten.toSet
          val cands: Seq[Entry] =
            if (touchedPaths.isEmpty) Seq.empty
            else {
              val b = spark.sparkContext.broadcast(touchedPaths)
              try entriesDataset(spark, meta)
                .filter(e => b.value.contains(e.path)).collect().toSeq
              finally b.destroy()
            }
          maskRows(readWithPos(spark, root, cands, meta.ddl),
            dvRelation(spark, root, meta.dvDirs))
        case None =>
          // a by-source clause touches every file BY SEMANTICS (Delta
          // scans the full table for these too)
          wholeTable()
      }
      // ---- the one logical pass: classify every joined row ----
      val target = toLogical(target0, meta.colMap, Seq("__rel", "__pos"))
        .alias(tA)
      val src = sourceP.withColumn("__s_hit", lit(true)).alias(sA)
      val onCond = on.map { case (tk, sk) =>
        col(s"$tA.$tk") === col(s"$sA.$sk")
      }.reduce(_ && _)
      val joined = target.join(src, onCond, "full_outer")
      val tPresent = col(s"$tA.__rel").isNotNull
      val sPresent = col(s"$sA.__s_hit").isNotNull
      def cnd(o: Option[String]) =
        o.map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))
      // first-match-wins index within a clause group (0 = none fires)
      def firstIdx(guard: org.apache.spark.sql.Column,
                   conds: Seq[org.apache.spark.sql.Column]) =
        conds.zipWithIndex.foldLeft(when(lit(false), lit(0))) {
          case (acc, (c, i)) => acc.when(guard && c, lit(i + 1))
        }.otherwise(lit(0))
      val mIdx = firstIdx(tPresent && sPresent, matchedN.map(m => cnd(m.cond)))
      val iIdx = firstIdx(!tPresent && sPresent,
        notMatchedN.map(m => cnd(m.cond)))
      val nIdx = firstIdx(tPresent && !sPresent, nmbsN.map(m => cnd(m.cond)))
      // action kinds: 1 matched-update 2 matched-delete 3 insert
      //               4 by-source-update 5 by-source-delete
      def updRow(set: Seq[(String, String)]) = struct(
        visible.fields.toIndexedSeq.map { f =>
          set.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, e)) => expr(e).cast(f.dataType).as(f.name)
            case None => col(s"$tA.${f.name}").as(f.name)
          }
        }: _*)
      def insRow(values: Seq[(String, String)]) = struct(
        visible.fields.toIndexedSeq.map { f =>
          values.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, e)) => expr(e).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      val nullRow = lit(null).cast(visible)
      // per-clause dispatch on the group's first-match index; the
      // groups' guards are disjoint, so nesting order is immaterial
      def pick[A](idx: org.apache.spark.sql.Column, clauses: Seq[A],
                  default: org.apache.spark.sql.Column)
                 (f: A => org.apache.spark.sql.Column) =
        clauses.zipWithIndex.foldRight(default) {
          case ((cl, i), els) => when(idx === (i + 1), f(cl)).otherwise(els)
        }
      val kind =
        pick(mIdx, matchedN,
          when(iIdx > 0, lit(3)).otherwise(
            pick(nIdx, nmbsN, lit(0))(m => m.action match {
              case Update(_) => lit(4); case Delete => lit(5)
            }))) { m => m.action match {
          case Update(_) => lit(1); case Delete => lit(2)
        }}
      val outRow =
        pick(mIdx, matchedN,
          pick(iIdx, notMatchedN,
            pick(nIdx, nmbsN, nullRow)(m => m.action match {
              case Update(s0) => updRow(s0); case Delete => nullRow
            }))(m => insRow(m.values))) { m => m.action match {
          case Update(s0) => updRow(s0); case Delete => nullRow
        }}
      // PERSISTED: the action set feeds four actions (the guard count,
      // the vector, the new-file write, the result counts) and is the
      // true change set — bounded by action rows, not the table
      val acted = joined.select(
        col(s"$tA.__rel").as("__rel"), col(s"$tA.__pos").as("__pos"),
        kind.as("__kind"), outRow.as("__row"))
        .filter(col("__kind") > 0)
        .persist()
      try {
        // ONE pass over the action set for both guards: per-(row)
        // modification multiplicity (the ambiguous-MERGE check) and the
        // per-kind totals — previously two full aggregations plus an
        // isEmpty probe over the same cached set (guide §2.4). Inserts
        // (kind 3, null __rel/__pos) share one group; only kinds 1/2
        // count toward the multiplicity guard, so that group is inert.
        val kindCols = (1 to 5).map(k =>
          sum(when(col("__kind") === k, 1L).otherwise(0L)).as(s"k$k"))
        val totalCols = (1 to 5).map(k =>
          coalesce(sum(col(s"k$k")), lit(0L)).as(s"k$k")) :+
          max(col("mods")).as("maxMods")
        val guard = acted.groupBy(col("__rel"), col("__pos"))
          .agg(kindCols.head, (kindCols.tail :+
            sum(when(col("__kind").isin(1, 2), 1L).otherwise(0L))
              .as("mods")): _*)
          .agg(totalCols.head, totalCols.tail: _*)
          .head()
        require(guard.isNullAt(5) || guard.getLong(5) <= 1L,
          "MERGE: multiple source rows matched and attempted to modify " +
            "the same target row — make the ON keys unique per target " +
            "row or narrow the matched clause conditions")
        val counts = (1 to 5).map(k => k -> guard.getLong(k - 1)).toMap
        val out = Map(
          "rows_updated" -> (counts.getOrElse(1, 0L) + counts.getOrElse(4, 0L)),
          "rows_deleted" -> (counts.getOrElse(2, 0L) + counts.getOrElse(5, 0L)),
          "rows_inserted" -> counts.getOrElse(3, 0L))
        val dvName = writeDv(spark, root,
          acted.filter(col("__kind").isin(1, 2, 4, 5))
            .select(col("__rel").as("path"), col("__pos").as("pos")))
        val newRows = acted.filter(col("__row").isNotNull)
          .select(col("__row.*"))
        val newEntries = writeBatch(spark, root,
          toPhysicalFull(newRows, meta.colMap, meta.ddl), pColP,
          meta.statsCols, meta.constraints, bloomCols = meta.bloomCols)
        if (newEntries.nonEmpty || dvName.nonEmpty) {
          val name =
            if (linkedAppendEligible(spark, fs, meta))
              linkManifest(spark, fs, root, meta, newEntries,
                dvAdds = dvName.toSeq)
            else compactManifest(spark, root, meta, meta.ddl, newEntries,
              dvAdds = dvName.toSeq)
          commit(fs, root, v + 1, name, op = "MERGE")
          maybeCheckpoint(spark, dir, pColP)
        }
        out
      } finally acted.unpersist()
    } finally sourceP.unpersist()
  }

  // -------- merge-on-read (deletion vectors) --------

  /** Positions of the still-visible candidate rows matching `keys` of
    * `batch`, as DV rows — the shared first half of [[deleteMor]] /
    * [[upsertMor]]. Masking by the EXISTING DVs first keeps the new
    * vector disjoint from them (re-deleting a dead row must not
    * double-count in the change feed). */
  /** [[bloomBatchCandidates]] when the batch keys on ONE bloom-able
    * column, identity otherwise — the shared prune of every keyed
    * write path. */
  private def keyedCandidates(spark: SparkSession, root: Path,
                              ddl: String, bloomCols: Seq[String],
                              cands: Seq[Entry], batch: DataFrame,
                              keys: Seq[String]): Seq[Entry] =
    if (keys.size == 1)
      bloomBatchCandidates(spark, root, ddl, bloomCols, cands, batch,
        keys.head)
    else cands

  /** `nullSafeKeys` must mirror the caller's own match predicate:
    * [[upsertMor]] merges with `<=>` (a null-keyed update row DOES
    * match a null-keyed target row), so its mask must use `<=>` too —
    * a `===` semi-join here would emit the merged replacement row into
    * new files while never masking the original, silently duplicating
    * every null-keyed row. [[deleteMor]] mirrors [[delete]]'s `===`
    * (null keys delete nothing on either path). */
  private def dvHits(spark: SparkSession, root: Path, ddl: String,
                     dvDirs: Seq[String],
                     cands: Seq[Entry], batch: DataFrame,
                     keys: Seq[String], nullSafeKeys: Boolean): DataFrame = {
    val target = maskRows(readWithPos(spark, root, cands, ddl),
      dvRelation(spark, root, dvDirs))
    val probe = batch.select(keys.map(col): _*).distinct().alias("b")
    val cond = keys.map { k =>
      if (nullSafeKeys) col(s"b.$k") <=> col(s"t.$k")
      else col(s"b.$k") === col(s"t.$k")
    }.reduce(_ && _)
    target.alias("t").join(probe, cond, "left_semi")
      .select(col("__rel").as("path"), col("__pos").as("pos"))
  }

  /** Stage `hits` as a new `_dv/` relation; returns the dir name, or
    * None when the vector is empty (nothing to commit). */
  private def writeDv(spark: SparkSession, root: Path,
                      hits: DataFrame): Option[String] = {
    val name = s"d-${UUID.randomUUID()}"
    val dir = new Path(new Path(root, DvDir), name)
    hits.write.parquet(dir.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an all-empty write may land zero part files, or one 0-row part
    // (a coalesced empty shuffle). Row counts come from the parquet
    // FOOTERS driver-side — O(1) per part file, no Spark job for the
    // emptiness probe a `read.parquet(...).isEmpty` would schedule.
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    if (rows == 0L) {
      fs.delete(dir, true)
      None
    } else Some(name)
  }

  /** Keyed DELETE as MERGE-ON-READ: instead of rewriting every
    * candidate file ([[delete]]'s copy-on-write), commit a DELETION
    * VECTOR — the (file, row-position) set of the matched rows — and
    * leave every data file untouched. Readers anti-join the vector
    * (only for files it references; untouched files stay on the plain
    * path). At 100 TB this turns "delete 0.1% of rows" from rewriting
    * every candidate file into writing kilobytes: write cost scales
    * with the DELETED rows, not the resident data (Delta/Iceberg v2
    * position deletes). The read-side join cost accrues until
    * [[compact]] or [[materialize]] folds the vectors in. Same batch
    * contract as [[delete]]: exactly `keys :+ partitionCol`. */
  def deleteMor(spark: SparkSession, dir: String, deletes: DataFrame,
                keys: Seq[String], partitionCol: String): Unit = {
    val expect = (keys :+ partitionCol).toSet
    require(deletes.columns.toSet == expect &&
      deletes.columns.length == expect.size,
      s"delete batch columns ${deletes.columns.mkString(",")} must be " +
        s"exactly ${expect.mkString(",")}")
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // header-only planning: a MoR delete writes kilobytes of vector —
    // its COMMIT must not collect the snapshot either (the DV attach
    // rides the linked chain as a `dv:` line, no sentinel rewrite)
    val meta = snapshotMeta(spark, dir, Some(v))
    // persisted like the upsertMor batch: three independent consumers
    val delP = renameToPhysical(deletes, meta.colMap).persist()
    try {
      val keysP = keys.map(physName(meta.colMap, _))
      val pCol = physName(meta.colMap, partitionCol)
      val touched = localDistinctStrings(
        delP.select(col(pCol).cast("string")))
      val cands = keyedCandidates(spark, root, meta.ddl, meta.bloomCols,
        partitionCandidates(spark, meta, pCol,
          touched.flatten.toSet, touched.contains(None)),
        delP, keysP)
      if (cands.isEmpty) return
      writeDv(spark, root,
        dvHits(spark, root, meta.ddl, meta.dvDirs, cands, delP, keysP,
          nullSafeKeys = false)).foreach { name =>
        // rebasable like upsertMor: the standalone DV dir re-links onto
        // a disjoint winner's tip; interleaved DV changes abort via the
        // config compare
        def stage(m: SnapshotMeta): String =
          if (linkedAppendEligible(spark, fs, m))
            linkManifest(spark, fs, root, m, Nil, dvAdds = Seq(name))
          else compactManifest(spark, root, m, m.ddl, Nil,
            dvAdds = Seq(name))
        commitRebasing(spark, fs, root, dir, meta, v, stage, txn = None,
          op = "DELETE_MOR", readPaths = cands.map(_.path).toSet,
          wanted = touched.flatten.toSet, wantNull = touched.contains(None),
          renderSafe = partitionValuesSafe(meta.ddl, pCol))
      }
    } finally delP.unpersist()
  }

  /** MERGE (upsert) as MERGE-ON-READ, same row semantics as [[upsert]]
    * (update wins column-wise via `coalesce(update, target)`, new keys
    * insert): matched target rows are masked by a new deletion vector
    * and the batch's one-row-per-key outcome lands as NEW files —
    * no candidate file is rewritten. The vector and the new files
    * commit in ONE pointer create, so the swap stays atomic. Write
    * cost scales with the update batch; the carried 99%+ of a large
    * candidate file is never copied. */
  def upsertMor(spark: SparkSession, dir: String, updates: DataFrame,
                keys: Seq[String], partitionCol: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // header-only planning, as in [[deleteMor]]
    val meta = snapshotMeta(spark, dir, Some(v))
    // PERSISTED: the batch feeds four independent actions (touched
    // collect, bloom probe, the merge write, dvHits) — the change set
    // is the small side by construction, so caching it is sound at any
    // table size
    val updP = toPhysicalFull(updates, meta.colMap, meta.ddl).persist()
    try {
      val keysP = keys.map(physName(meta.colMap, _))
      val pCol = physName(meta.colMap, partitionCol)
      require(nullableDdl(updP.schema) == meta.ddl,
        s"batch schema ${nullableDdl(updP.schema)} != table schema ${meta.ddl}")
      val touched = localDistinctStrings(
        updP.select(col(pCol).cast("string")))
      val cands = keyedCandidates(spark, root, meta.ddl, meta.bloomCols,
        partitionCandidates(spark, meta, pCol,
          touched.flatten.toSet, touched.contains(None)),
        updP, keysP)
      val dataCols = updP.columns
      val target = maskRows(readWithPos(spark, root, cands, meta.ddl),
        dvRelation(spark, root, meta.dvDirs))
      // ONE candidate pass for BOTH outputs (round-17 carry-item: the
      // merged output and dvHits each re-scanned the full candidate
      // set). The left join against the masked candidate read yields
      // the merged rows AND the matched targets' (file, position) in
      // the same pass; persisting the join output — one row per update
      // row, the small side by construction — means writeBatch
      // materializes the candidate scan once and the DV hits read the
      // cache. dvHits' semantics are preserved exactly: it semi-joined
      // the DISTINCT batch keys (null-safe, matching the merge's <=>),
      // so the per-update-row hit rows here are de-duplicated before
      // the DV write.
      val joined = updP.alias("u")
        .join(target.alias("t"),
          keysP.map(k => col(s"u.$k") <=> col(s"t.$k")).reduce(_ && _),
          "left")
        .select(dataCols.map(c =>
          coalesce(col(s"u.$c"), col(s"t.$c")).as(c)) ++
          Seq(col("t.__rel").as("__rel"), col("t.__pos").as("__pos")): _*)
        .persist()
      try {
      val merged = joined.select(dataCols.map(col): _*)
      // no emptiness pre-probe: writeBatch is total on empty inputs
      val newEntries = writeBatch(spark, root, merged, pCol,
        meta.statsCols, meta.constraints, bloomCols = meta.bloomCols)
      val dvName =
        if (newEntries.isEmpty) None
        else writeDv(spark, root,
          joined.filter(col("__rel").isNotNull)
            .select(col("__rel").as("path"), col("__pos").as("pos"))
            .distinct())
      if (newEntries.nonEmpty || dvName.nonEmpty) {
        // rebasable like the keyed rewrite: the staged files and the
        // DV (standalone dirs, valid against the candidate files they
        // name) re-link onto a disjoint winner's tip; an interleaved
        // DV change aborts via the sentinel-config compare inside the
        // gate (our hit positions were computed against the old set)
        def stage(m: SnapshotMeta): String =
          if (linkedAppendEligible(spark, fs, m))
            linkManifest(spark, fs, root, m, newEntries,
              dvAdds = dvName.toSeq)
          else compactManifest(spark, root, m, m.ddl, newEntries,
            dvAdds = dvName.toSeq)
        commitRebasing(spark, fs, root, dir, meta, v, stage, txn = None,
          op = "UPSERT_MOR", readPaths = cands.map(_.path).toSet,
          wanted = touched.flatten.toSet, wantNull = touched.contains(None),
          renderSafe = partitionValuesSafe(meta.ddl, pCol))
      }
      } finally joined.unpersist()
    } finally updP.unpersist()
  }

  /** Fold every live deletion vector into data: rewrite ONLY the files
    * a DV references (masked read → new files), drop all vectors from
    * the new snapshot. The read-side anti-join cost goes back to zero;
    * cost scales with the DV'd files, not the table (Delta's
    * `REORG ... APPLY (PURGE)`). No-op when no live file is DV'd.
    * Returns the number of DV'd files folded. */
  def materialize(spark: SparkSession, dir: String,
                  partitionCol: String): Long = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // snapshot HEADER only: planning collects the DV'd subset, never
    // the full entry list — cost scales with the DV'd files at any
    // table size (the same bound as the rewrite itself)
    val meta = snapshotMeta(spark, dir, Some(v))
    if (meta.dvDirs.isEmpty) return 0L
    val dvPaths = dvTouchedPaths(spark, root, meta.dvDirs)
    // live ∩ DV'd, resolved where the entries live; O(DV'd) driver heap
    val dvd: Seq[Entry] =
      if (dvPaths.isEmpty) Seq.empty
      else {
        val b = spark.sparkContext.broadcast(dvPaths)
        try entriesDataset(spark, meta).filter(e => b.value.contains(e.path))
          .collect().toSeq
        finally b.destroy() // long-lived sessions: don't leak per cycle
      }
    if (dvd.isEmpty) {
      // only inert vectors (their files already rewritten): drop them;
      // every entry carries over through the chain subtraction
      commit(fs, root, v + 1,
        compactManifest(spark, root, meta, meta.ddl, Nil,
          dvOut = Some(Nil)), op = "MATERIALIZE")
      return 0L
    }
    val rewritten = readEntriesMasked(spark, root, dvd, meta.ddl,
      meta.dvDirs)
    val newEntries = writeBatch(spark, root, rewritten,
      physName(meta.colMap, partitionCol), meta.statsCols,
      meta.constraints, bloomCols = meta.bloomCols)
    commit(fs, root, v + 1,
      compactManifest(spark, root, meta, meta.ddl, newEntries,
        removes = dvd.map(_.path), dvOut = Some(Nil)),
      op = "MATERIALIZE")
    dvd.size.toLong
  }

  /** Shared copy-on-write shape for [[upsert]]/[[delete]]: prune to
    * candidate files, apply `merge(target, batch)`, write the result as
    * a new batch, commit old−candidates+new. */
  private[ops] def rewrite(spark: SparkSession, dir: String, batch: DataFrame,
                           partitionCol: String, requireFullSchema: Boolean,
                           txn: Option[(String, Long)] = None,
                           keys: Seq[String] = Nil)
                          (merge: (DataFrame, DataFrame) => DataFrame): Unit =
    rewriteKeyed(spark, dir, batch, partitionCol, requireFullSchema, txn,
      keys)((t, b, _) => merge(t, b))

  /** [[rewrite]] whose `merge` receives the TRANSLATED batch and key
    * names — the form [[upsert]]/[[delete]] need on a column-mapped
    * table (their closures reference key columns by name, which below
    * this point are PHYSICAL). The 2-arg [[rewrite]] shim serves
    * internal identity-mapped tables ([[Incremental]]'s view). */
  private[ops] def rewriteKeyed(spark: SparkSession, dir: String,
                                batch0: DataFrame,
                                partitionCol: String,
                                requireFullSchema: Boolean,
                                txn: Option[(String, Long)] = None,
                                keys: Seq[String] = Nil,
                                op: String = "REWRITE",
                                passThrough: Seq[String] = Nil)
      (merge: (DataFrame, DataFrame, Seq[String]) => DataFrame): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // snapshot HEADER only: like [[append]]/[[overwritePartitionsSliced]]
    // the keyed rewrite stays O(touched + batch) driver-side
    val meta = snapshotMeta(spark, dir, Some(v))
    // mapped table: full batches reshape to the physical schema, key
    // batches rename in place; below here everything speaks physical.
    // `passThrough` columns (caller-owned markers like a CDC change
    // flag) skip translation and are the caller's to strip in `merge`.
    // PERSISTED: the batch feeds FOUR independent actions (the touched
    // collect, the bloom candidate probe, the merge, and — for a
    // complex upstream plan — each would otherwise recompute it from
    // source; the change set is the small side by construction, so
    // caching it is sound at any table size.
    val batch =
      (if (requireFullSchema) toPhysicalFull(batch0, meta.colMap, meta.ddl)
       else renameToPhysical(batch0, meta.colMap, passThrough)).persist()
    try {
      val keysP = keys.map(physName(meta.colMap, _))
      val pCol = physName(meta.colMap, partitionCol)
      if (requireFullSchema)
        require(nullableDdl(batch.schema) == meta.ddl,
          s"batch schema ${nullableDdl(batch.schema)} != table schema ${meta.ddl}")
      // one row per touched partition — bounded by the batch, as in mergeInto
      val touched = localDistinctStrings(
        batch.select(col(pCol).cast("string")))
      val wanted = touched.flatten.toSet
      val wantNull = touched.contains(None)
      // bloom-prune on the merge key where available: a candidate file
      // holding NONE of the batch's keys would be rewritten bit-identical,
      // so skipping it (it stays carried by reference) changes nothing
      // but the rewrite volume
      val cands = keyedCandidates(spark, root, meta.ddl, meta.bloomCols,
        partitionCandidates(spark, meta, pCol, wanted, wantNull),
        batch, keysP)
      // MASKED read: a candidate file's DV'd rows are logically gone and
      // must not resurrect through the rewrite
      val target = readEntriesMasked(spark, root, cands, meta.ddl, meta.dvDirs)
      val merged = merge(target, batch, keysP)
      // no emptiness pre-probe: writeBatch is total on empty inputs
      // (stages nothing), so the merge plan — for an upsert a full
      // outer join whose exchange an `isEmpty` probe would pay TWICE —
      // executes exactly once
      val newEntries = writeBatch(spark, root, merged, pCol, meta.statsCols,
        meta.constraints, bloomCols = meta.bloomCols)
      // DV dirs carry over: rows referencing the dropped candidate files
      // are inert from here on (they match no live file), rows on kept
      // files still mask
      val removes = cands.map(_.path)
      def stage(m: SnapshotMeta): String =
        if (linkedAppendEligible(spark, fs, m) &&
          m.removedPaths.size + removes.size <= LinkedRemovesCap)
          linkManifest(spark, fs, root, m, newEntries, removes)
        else compactManifest(spark, root, m, m.ddl, newEntries, removes)
      commitRebasing(spark, fs, root, dir, meta, v, stage, txn, op,
        readPaths = removes.toSet, wanted = wanted, wantNull = wantNull,
        renderSafe = partitionValuesSafe(meta.ddl, pCol))
      maybeCheckpoint(spark, dir, pCol)
    } finally batch.unpersist()
  }

  /** Ops whose delta sidecar faithfully describes the commit's whole
    * change set — the only interleaved commits a lost race may REBASE
    * across. RESTORE reuses an old manifest (its sidecar describes a
    * historical change), OVERWRITE and CLUSTER stage fresh manifests
    * (no sidecar), and metadata commits change the sentinel (caught by the
    * config comparison, but excluded here too for belt-and-braces). */
  private val RebasableOps = Set("APPEND", "UPSERT", "DELETE",
    "APPLY_CHANGES", "COMPACT", "DELETE_MOR", "UPSERT_MOR", "REWRITE",
    "CLUSTER_WHERE", "DELETE_WHERE", "DELETE_WHERE_MOR",
    "UPDATE_WHERE", "UPDATE_WHERE_MOR")

  /** Commit the staged manifest at `baseV + 1`; on a LOST POINTER RACE,
    * try to REBASE instead of making the caller re-plan and re-stage:
    * when every interleaved commit is visible, sidecar-described, of a
    * [[RebasableOps]] kind, touches neither the loser's read/remove set
    * nor its partitions, carries no same-app txn marker, and leaves the
    * snapshot's sentinel config (schema, stats/bloom cols, constraints,
    * column map, DV set) unchanged, the loser's ALREADY-STAGED data
    * files are exactly what a sequential re-run would produce — so the
    * adds/removes re-link onto the new tip and commit there. Two
    * writers touching disjoint partitions then land in exactly two
    * commits with zero re-plans (Delta's disjoint-commit reconciliation
    * shape). Anything ineligible rethrows the conflict and the caller's
    * [[withConflictRetry]] re-plans as before — the rebase is an
    * optimization with a conservative gate, never a semantics change. */
  private def commitRebasing(spark: SparkSession, fs: FileSystem,
                             root: Path, dir: String, baseMeta: SnapshotMeta,
                             baseV: Long, stage: SnapshotMeta => String,
                             txn: Option[(String, Long)], op: String,
                             readPaths: Set[String], wanted: Set[String],
                             wantNull: Boolean, renderSafe: Boolean,
                             readless: Boolean = false): Unit = {
    var m = baseMeta
    var v = baseV
    var name = stage(m)
    var attempts = 0
    while (true) {
      try { commit(fs, root, v + 1, name, txn, op = op); return }
      catch {
        case t: Throwable if isConflict(t) && renderSafe && attempts < 5 =>
          attempts += 1
          rebaseTarget(spark, fs, root, dir, m, v, txn, readPaths,
            wanted, wantNull, readless) match {
            case Some(metaL) => name = stage(metaL); m = metaL
                                v = metaL.version
            case None => throw t
          }
      }
    }
  }

  /** The new tip to rebase onto, or None when any interleaved commit
    * makes reuse of the staged result unsound (see [[commitRebasing]]).
    * Every check is conservative: unreadable/pending pointers, missing
    * sidecars, unknown ops, anything touching the loser's files or
    * partitions, a same-app txn marker, or a changed sentinel config
    * all abort into the ordinary retry. */
  private def rebaseTarget(spark: SparkSession, fs: FileSystem, root: Path,
                           dir: String, m: SnapshotMeta, v: Long,
                           txn: Option[(String, Long)],
                           readPaths: Set[String], wanted: Set[String],
                           wantNull: Boolean,
                           readless: Boolean = false): Option[SnapshotMeta] = {
    val latest = latestVersion(spark, dir).getOrElse(return None)
    if (latest <= v) return None
    var vc = v + 1
    while (vc <= latest) {
      val lines =
        try readPointerLines(fs, root, vc)
        catch { case scala.util.control.NonFatal(_) => return None }
      if (!pointerVisible(fs, lines)) return None
      if (txn.exists { case (app, _) =>
        lines.drop(1).exists(_.startsWith(s"txn:$app:")) }) return None
      // a READLESS commit (append) asserts nothing about the entries
      // the winners touched — only pointer visibility, txn markers,
      // and the sentinel-config comparison below gate it
      if (!readless) {
        val opC = lines.drop(1).find(_.startsWith(OpPrefix))
          .map(_.stripPrefix(OpPrefix).trim).getOrElse("")
        if (!RebasableOps.contains(opC)) return None
        readDelta(fs, root, lines.head.trim) match {
          case None => return None
          case Some(d) =>
            if (d.removePaths.exists(readPaths.contains)) return None
            if (d.adds.exists(e => e.overflow || (wantNull && e.has_null) ||
              e.values.exists(wanted.contains))) return None
        }
      }
      vc += 1
    }
    val metaL = snapshotMeta(spark, dir, Some(latest))
    val sameCore = metaL.ddl == m.ddl &&
      metaL.statsCols == m.statsCols &&
      metaL.bloomCols == m.bloomCols &&
      metaL.constraints == m.constraints &&
      metaL.colMap == m.colMap
    if (!sameCore) return None
    if (!readless) {
      // deletion vectors: a winner's NEW vector matters only if it
      // masks rows in files the loser READ (the loser's merge/DV-hit
      // computation predates that deletion — rebasing would resurrect
      // or double-delete those rows); vectors on other files coexist —
      // two disjoint-partition MoR writers therefore reconcile. DV
      // REMOVALS only come from ops outside [[RebasableOps]]
      // (materialize, overwrites) and were already aborted above, but
      // guard anyway: a vanished vector invalidates the loser's mask.
      val oldDv = m.dvDirs.toSet
      val newDv = metaL.dvDirs.toSet
      if (!oldDv.subsetOf(newDv)) return None
      val added = (newDv -- oldDv).toSeq
      if (added.nonEmpty &&
        dvTouchedPaths(spark, root, added).exists(readPaths.contains))
        return None
    }
    Some(metaL)
  }

  /** The partition-touched candidate set, selected WHERE the entries
    * live: O(entries) executor work, O(candidates) driver heap. The
    * distributed mirror of [[candidates]]; under an UNSAFE partition
    * rendering every live entry is a candidate (same soundness
    * argument as [[overwritePartitionsSliced]]). */
  private def partitionCandidates(spark: SparkSession, meta: SnapshotMeta,
                                  partitionCol: String, wanted: Set[String],
                                  wantNull: Boolean): Seq[Entry] = {
    val safe = partitionValuesSafe(meta.ddl, partitionCol)
    // past the driver budget the predicate runs where the entries live,
    // so only candidates reach the driver; otherwise [[liveEntries]]
    // reads in its own venue and the same predicate filters locally
    if (safe && meta.manifestBytes >= localReadBudget(spark))
      entriesDataset(spark, meta).filter(col("overflow") ||
        arrays_overlap(col("values"), typedLit(wanted.toSeq)) ||
        (if (wantNull) col("has_null") else lit(false))).collect().toSeq
    else if (safe)
      liveEntries(spark, meta).filter(e => e.overflow ||
        e.values.exists(wanted.contains) || (wantNull && e.has_null))
    else liveEntries(spark, meta)
  }

  /** OPTIMIZE: rewrite the snapshot's small files (< `smallBytes`) into
    * ~`targetBytes` files, swap atomically. Untouched files carry over
    * by reference. The output file count is enforced through the write
    * (content-salted within a partition value — see [[writeBatch]]), so
    * `targetBytes` bounds output sizes even when one partition value
    * dominates. Returns the number of small files folded.
    *
    * Plans from the snapshot HEADER: the small-file set is selected
    * where the entries live (a `bytes <` filter on the manifest
    * relation) and only the candidates reach the driver, so compacting
    * a 10⁷-entry table costs O(small files) driver heap — the commit
    * rides the linked-manifest chain (adds + removes) when eligible,
    * exactly like [[rewrite]].
    *
    * `values` scopes the pass (`OPTIMIZE ... WHERE partition IN ...`):
    * only small files whose recorded partition value-sets can
    * intersect `values` fold (overflowed sets always qualify — they
    * assert nothing), so the hot partition compacts without dragging
    * cold history through the rewrite. Empty = whole table. */
  def compact(spark: SparkSession, dir: String, partitionCol: String,
              smallBytes: Long = 32L << 20,
              targetBytes: Long = 128L << 20,
              values: Seq[String] = Nil): Long = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val pCol = physName(meta.colMap, partitionCol)
    val smallCond = col("bytes") < smallBytes
    // an UNSAFE partition rendering (TimestampType) cannot scope: the
    // value sets assert nothing, so every small file stays a candidate
    // — correct, just unscoped (same soundness rule as the overwrite)
    val cond =
      if (values.isEmpty || !partitionValuesSafe(meta.ddl, pCol)) smallCond
      else smallCond && (col("overflow") ||
        arrays_overlap(col("values"), typedLit(values)))
    val small = entriesDataset(spark, meta).filter(cond).collect().toSeq
    if (small.size < 2) return 0L // nothing to gain
    val total = small.map(_.bytes).sum
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    // masked: compaction materializes any DVs on the small files
    val compacted = readEntriesMasked(spark, root, small, meta.ddl,
      meta.dvDirs)
    val newEntries = writeBatch(spark, root, compacted, pCol,
      meta.statsCols, meta.constraints,
      numFiles = Some(nOut), bloomCols = meta.bloomCols)
    val removes = small.map(_.path)
    val name =
      if (linkedAppendEligible(spark, fs, meta) &&
        meta.removedPaths.size + removes.size <= LinkedRemovesCap)
        linkManifest(spark, fs, root, meta, newEntries, removes)
      else compactManifest(spark, root, meta, meta.ddl, newEntries, removes)
    commit(fs, root, v + 1, name, op = "COMPACT")
    maybeCheckpoint(spark, dir, pCol)
    small.size.toLong
  }

  /** ADD a CHECK constraint (`name`, a boolean SQL expression over the
    * table's columns). EXISTING rows are validated first — one masked
    * scan, rejected loudly on any violation (Delta's ADD CONSTRAINT
    * contract) — then every subsequent write validates its staged rows
    * inside the stats read-back pass it already pays (zero extra
    * scans; see [[ConstraintViolationException]]). SQL-standard CHECK
    * semantics: a row fails only when the expression is FALSE — null/
    * UNKNOWN passes (use `c IS NOT NULL` for NOT NULL). */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    sql: String): Unit = {
    require(name.matches("[A-Za-z0-9_]+"), s"constraint name '$name' must " +
      "be alphanumeric/underscore")
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    require(!meta.constraints.map(parseConstraint(_)._1).contains(name),
      s"constraint '$name' already exists")
    // mapped table: the caller's SQL speaks logical names; the stored
    // constraint validates PHYSICAL staged rows, so rewrite attribute
    // references through the map once, here
    val sqlP = sqlToPhysical(spark, sql, meta.colMap)
    // existing-row validation plans through the venue-switched pruning
    // FileIndex — the same path as [[readVersion]] — so a 10⁷-entry
    // table never materializes its entry list on the driver, and the
    // violation count is one distributed aggregate. The scan surfaces
    // the LOGICAL face (DV-masked), so it takes the caller's SQL as-is.
    // Violation ⇔ the CHECK is FALSE, spelled `NOT p AND p IS NOT NULL`
    // (not `!coalesce(p, true)`) because Catalyst simplifies THIS form
    // to bare comparisons — `d >= X` becomes `d < X AND isnotnull(d)`,
    // which the manifest's stats pruning compiles, so a constraint the
    // file stats already prove scans ZERO data files.
    val existing = graft.plans.ManifestScan.scan(spark, dir,
      version = Some(v))
    val p = expr(sql)
    val viol = existing.filter(!p && p.isNotNull).count()
    if (viol > 0) throw ConstraintViolationException(name, sqlP, viol)
    commit(fs, root, v + 1,
      compactManifest(spark, root, meta, meta.ddl, Nil,
        constraintsOut = Some(meta.constraints :+ s"$name: $sqlP")),
      op = "ADD_CONSTRAINT")
  }

  /** DROP a CHECK constraint by name (error if absent). Metadata-only:
    * no data file is listed or read — the sentinel change rides a
    * distributed manifest re-root, O(1) driver heap at any table
    * size. */
  def dropConstraint(spark: SparkSession, dir: String,
                     name: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val kept = meta.constraints.filterNot(parseConstraint(_)._1 == name)
    require(kept.size < meta.constraints.size,
      s"no constraint named '$name'")
    commit(fs, root, v + 1,
      compactManifest(spark, root, meta, meta.ddl, Nil,
        constraintsOut = Some(kept)), op = "DROP_CONSTRAINT")
  }

  /** The table's CHECK constraints as (name, sql) pairs — snapshot
    * HEADER only (pointer + chain + sentinel), never the entry list:
    * introspection must stay O(1) in file count at any table size. */
  def constraintsOf(spark: SparkSession, dir: String): Seq[(String, String)] =
    snapshotMeta(spark, dir).constraints.map(parseConstraint)

  /** CLUSTER: rewrite the whole snapshot range-partitioned on
    * `sortCol`, so per-file min/max ranges for it become DISJOINT and a
    * range/point predicate ([[readRange]], or any WHERE through
    * [[graft.plans.ManifestScan]]) opens ~`selectivity × files` instead
    * of every file that happens to contain a few matching rows. The
    * write also sorts within each file, so parquet row-group stats
    * align with the file stats. `sortCol` must be one of the table's
    * `statsCols` — clustering a column nobody can prune on is wasted
    * I/O, so it is rejected loudly.
    *
    * The trade: range files span MANY partition values (the
    * partition-value sets go wide or overflow), so partition-equality
    * pruning weakens — cluster a table by the column its dominant read
    * pattern ranges over, exactly Delta/Iceberg `OPTIMIZE ... ZORDER/
    * SORT BY` guidance. Masked (DV) rows are folded in by the rewrite.
    * Commit is one atomic swap; cost is one full-table read+write, the
    * scheduled-maintenance price of making every later ranged read
    * sub-linear. */
  def cluster(spark: SparkSession, dir: String, partitionCol: String,
              sortCol: String, targetBytes: Long = 128L << 20): Unit =
    clusterBy(spark, dir, partitionCol, Seq(sortCol), targetBytes,
      (_, cols) => col(cols.head))

  /** Shared full-snapshot cluster-rewrite: validate the cluster columns
    * against statsCols, masked-read everything, range-repartition on
    * `key`, commit atomically with DVs folded. */
  private def clusterBy(spark: SparkSession, dir: String,
                        partitionCol: String, clusterCols: Seq[String],
                        targetBytes: Long,
                        key: (SnapshotMeta, Seq[String]) =>
                          org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    // snapshot HEADER only: the full-table read below plans through the
    // venue-switched pruning FileIndex (paths reach the driver lazily,
    // post-budget-switch), so a 10⁷-entry cluster never materializes
    // the entry list driver-side
    val meta = snapshotMeta(spark, dir, Some(v))
    // cluster columns arrive LOGICAL like every public name; stats
    // columns are stored physical
    val clusterP = clusterCols.map(physName(meta.colMap, _))
    clusterP.foreach(c => require(meta.statsCols.contains(c),
      s"cluster column $c is not a stats column " +
        s"(${meta.statsCols.mkString(",")}) — pruning could never use it"))
    val total = entriesDataset(spark, meta).toDF()
      .agg(coalesce(sum("bytes"), lit(0L))).as[Long].head()
    if (total == 0L) return // no entries (parquet files are never empty)
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val (rel, dvDirs, _) = graft.plans.ManifestScan.planned(spark, dir,
      version = Some(v))
    val rows0 = spark.baseRelationToDataFrame(rel)
    val rows =
      if (dvDirs.isEmpty) rows0 else maskedByDv(spark, dir, rows0, dvDirs)
    val newEntries = // a fully-DV'd table stages nothing (snapshot empties)
      writeBatch(spark, root, rows,
        physName(meta.colMap, partitionCol),
        meta.statsCols, meta.constraints, numFiles = Some(nOut),
        bloomCols = meta.bloomCols,
        clusterKey = Some(key(meta, clusterP)))
    commit(fs, root, v + 1, freshManifest(spark, root, meta, newEntries),
      op = "CLUSTER")
  }

  /** Global (min, max) STAT STRINGS of a stats column across the live
    * snapshot — METADATA ONLY, one tiny distributed agg over the entry
    * relation, no data file read. None unless EVERY live file carries a
    * usable stat for the column (all-null in some file, or a stats
    * column added by a later evolve leaving old entries' arrays short):
    * a partial min/max is not a bound, and every use below must be
    * conservative. */
  private def statMinMax(spark: SparkSession, meta: SnapshotMeta,
                         colP: String): Option[(String, String)] = {
    val idx = meta.statsCols.indexOf(colP)
    if (idx < 0) return None
    val has = size(col("stat_mins")) > idx && size(col("stat_maxs")) > idx &&
      element_at(col("stat_mins"), idx + 1).isNotNull &&
      element_at(col("stat_maxs"), idx + 1).isNotNull
    val row = entriesDataset(spark, meta).toDF()
      .filter(col("path") =!= "")
      .agg(count(lit(1)), count(when(has, 1)),
        min(when(has, element_at(col("stat_mins"), idx + 1))),
        max(when(has, element_at(col("stat_maxs"), idx + 1))))
      .head()
    if (row.getLong(0) == 0L || row.getLong(0) != row.getLong(1)) None
    else Some((row.getString(2), row.getString(3)))
  }

  /** The big-endian value of `nBytes` UTF-8 bytes of `s` starting after
    * `skip` — the driver-side twin of [[Layout.mortonInput]]'s string
    * window, used to turn stat strings into normalization bounds. */
  private def stringWindowValue(s: String, skip: Int, nBytes: Int): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var v = 0L
    var i = 0
    while (i < nBytes) {
      v = (v << 8) | (if (skip + i < b.length) b(skip + i) & 0xFFL else 0L)
      i += 1
    }
    v
  }

  /** The curve input for one physical cluster column: the integral
    * mapping ([[Layout.mortonInput]]) NORMALIZED to the full
    * `bitsPerDim` budget using the column's global min/max from the
    * manifest's own stats. Normalization is the difference between a
    * z-order that works and one that silently degrades to a sort: the
    * interleave balances dimensions only when they occupy comparable
    * bit ranges, and raw values never do (32 days of epoch-day vary in
    * 5 low bits while a string byte-window varies in bits 8-17 — the
    * range split would then be decided entirely by the string). Scaling
    * each dimension to [0, 2^bits) is order-preserving and — like
    * Delta's range_partition_id interleave — makes every dimension
    * contribute to every split level. Strings additionally skip the
    * global common prefix first (URL schemes, id prefixes), since the
    * window would otherwise be constant. Files without usable stats,
    * or types whose stat rendering can't parse (legacy manifests),
    * fall back to the unscaled mapping — clustering degrades, never
    * errors. */
  private def mortonInputFor(spark: SparkSession, meta: SnapshotMeta,
                             schema: StructType, colP: String,
                             bitsPerDim: Int): org.apache.spark.sql.Column = {
    val dt = schema(colP).dataType
    val mm = statMinMax(spark, meta, colP)
    val skip = (dt, mm) match {
      case (StringType, Some((mn, mx))) =>
        val a = mn.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = mx.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        while (i < a.length && i < b.length && a(i) == b(i)) i += 1
        i
      case _ => 0
    }
    val raw = graft.ops.Layout.mortonInput(dt, col(colP), bitsPerDim, skip)
    // bounds of the RAW mapping, derived driver-side from the stat
    // strings (every mapping is monotone, so bound(min)/bound(max)
    // bound every value's image)
    def bound(s: String): Option[Long] =
      try dt match {
        case ByteType | ShortType | IntegerType | LongType => Some(s.toLong)
        case DateType => Some(java.time.LocalDate.parse(s).toEpochDay)
        case TimestampType => Some(s.toLong / (3600L * 1000000L))
        case StringType =>
          Some(stringWindowValue(s, skip, math.max(1, bitsPerDim / 8)))
        case _ => None // TimestampNTZ stats render wall-clock: skip
      } catch { case _: RuntimeException => None }
    (for { (mnS, mxS) <- mm; lo <- bound(mnS); hi <- bound(mxS) } yield {
      val maxV = (1L << bitsPerDim) - 1
      if (hi <= lo) lit(0L) // constant column: no signal to interleave
      else least(lit(maxV), greatest(lit(0L),
        ((raw - lit(lo)).cast("double") *
          lit(maxV.toDouble / (hi - lo).toDouble)).cast("long")))
    }).getOrElse(raw)
  }

  /** 2-D Z-ORDER clustering: rewrite the snapshot range-partitioned on
    * the Morton interleave of two stats columns
    * ([[graft.functions.GraftExpressions.ZOrder2]] — low 31 bits each;
    * integral, date, timestamp, and string columns all curve-order via
    * [[Layout.mortonInput]]), so per-file min/max ranges are tight in
    * BOTH dimensions and a predicate on EITHER column prunes
    * (single-column [[cluster]] serves one read pattern; this serves
    * two — Delta/Iceberg `ZORDER BY (a, b)`). Same commit/DV/constraint
    * mechanics as [[cluster]]. */
  def clusterZ(spark: SparkSession, dir: String, partitionCol: String,
               xCol: String, yCol: String,
               targetBytes: Long = 128L << 20): Unit =
    clusterBy(spark, dir, partitionCol, Seq(xCol, yCol), targetBytes,
      (meta, colsP) => {
        // the Morton interleave reads the LOW 31 BITS of each value;
        // non-integral types go through [[Layout.mortonInput]]'s
        // curve-order-preserving integral mapping (date → epoch-day,
        // timestamp → epoch-hour, string → big-endian byte window
        // placed after the column's global common prefix, derived from
        // the manifest's own stats) — genuinely un-orderable types are
        // rejected loudly there (a blind cast would null the key and
        // silently collapse the table into one un-clustered file).
        // Negative VALUES remain the caller's contract — they mask to
        // the top of the 31-bit range and degrade locality without
        // erroring (checking data would cost a scan).
        val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
        val ins = colsP.map(mortonInputFor(spark, meta, schema, _, 31))
        graft.ops.Layout.zorderKey(ins.head, ins(1))
      })

  /** 2-D HILBERT clustering — [[clusterZ]] on the locality-superior
    * curve ([[graft.functions.GraftExpressions.Hilbert2]]; the move
    * Delta's liquid clustering made from Morton): consecutive curve
    * positions are always grid NEIGHBORS, so each range-partitioned
    * file's bounding box is tighter than Morton's quadrant-jumping
    * curve gives — the same predicates prune to fewer files. Identical
    * input mapping ([[Layout.mortonInput]], stats-normalized to the
    * full 31-bit budget), commit/DV/constraint mechanics, and refusal
    * contract as [[clusterZ]]. */
  def clusterHilbert(spark: SparkSession, dir: String, partitionCol: String,
                     xCol: String, yCol: String,
                     targetBytes: Long = 128L << 20): Unit =
    clusterBy(spark, dir, partitionCol, Seq(xCol, yCol), targetBytes,
      (meta, colsP) => {
        val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
        val ins = colsP.map(mortonInputFor(spark, meta, schema, _, 31))
        graft.ops.Layout.hilbertKey(ins.head, ins(1))
      })

  /** PARTITION-SCOPED 2-D Z-order clustering — `OPTIMIZE ... WHERE
    * partition IN (values) ZORDER BY (x, y)`: re-cluster only the files
    * whose recorded partition value-sets can intersect `values`
    * (overflowed sets always qualify), so the HOT partition gets curve
    * locality without dragging cold history through a full-table
    * rewrite (the [[compact]]-`values` sibling, for layout). Candidate
    * files rewrite WHOLLY — a file spanning scoped and unscoped values
    * keeps every row, just curve-ordered — masked (DVs fold), committed
    * as adds+removes on the linked chain (rebasable across disjoint
    * winners like any keyed rewrite). Curve inputs use the same
    * stats-normalized [[Layout.mortonInput]] mapping as [[clusterZ]],
    * with GLOBAL bounds, so files from different scoped passes order
    * consistently. An UNSAFE partition rendering (TimestampType)
    * refuses loudly — a "scoped" pass that silently rewrote everything
    * would not be scoped. Returns the number of files re-clustered. */
  def clusterZWhere(spark: SparkSession, dir: String, partitionCol: String,
                    xCol: String, yCol: String, values: Seq[String],
                    targetBytes: Long = 128L << 20): Long =
    clusterWhereBy(spark, dir, partitionCol, Seq(xCol, yCol), values,
      targetBytes, bitsPerDim = 31)

  /** [[clusterZWhere]] one dimension wider: the scoped 3-D curve
    * rewrite (21 bits per dimension, as [[clusterZ3]]). */
  def clusterZ3Where(spark: SparkSession, dir: String, partitionCol: String,
                     xCol: String, yCol: String, zCol: String,
                     values: Seq[String],
                     targetBytes: Long = 128L << 20): Long =
    clusterWhereBy(spark, dir, partitionCol, Seq(xCol, yCol, zCol), values,
      targetBytes, bitsPerDim = 21)

  /** [[clusterZWhere]] on the locality-superior HILBERT curve — the
    * scoped sibling of [[clusterHilbert]], for `OPTIMIZE ... WHERE
    * partition IN (values) HILBERT BY (x, y)`. Same candidate
    * selection, commit, and refusal contract. */
  def clusterHilbertWhere(spark: SparkSession, dir: String,
                          partitionCol: String, xCol: String, yCol: String,
                          values: Seq[String],
                          targetBytes: Long = 128L << 20): Long =
    clusterWhereBy(spark, dir, partitionCol, Seq(xCol, yCol), values,
      targetBytes, bitsPerDim = 31, hilbert = true)

  /** Name of the retention pin that anchors [[clusterIncremental]]'s
    * last-pass snapshot (the diff base). */
  val ClusterWatermarkPin = "cluster-incr"

  /** INCREMENTAL (liquid-style) clustering: curve-rewrite ONLY the
    * files added since the last clustering pass, so a streamed-into
    * table regains curve locality at O(new data) per maintenance cycle
    * instead of the full-snapshot rewrite [[clusterZ]]/[[clusterHilbert]]
    * pay (or the partition-scoped one [[clusterZWhere]] pays when the
    * hot set IS a partition). The last pass's snapshot version anchors
    * as a RETENTION PIN ([[ClusterWatermarkPin]]) — doubling as vacuum
    * protection for the diff base; each pass re-pins at its own commit,
    * so retention only has to span one maintenance interval. The first
    * call (or a call whose watermark version was force-vacuumed)
    * degrades to the full curve pass and starts the watermark.
    *
    * The incremental pass curve-orders the NEW files among themselves
    * (stats-normalized to the CURRENT global bounds, so new ranges
    * interleave consistently with the old layout's); existing files
    * keep their ranges — per-file min/max stay tight on both axes, so
    * pruning holds across the whole table without touching a byte of
    * already-clustered history. Cost: one distributed path anti-join
    * (O(entries) executor work, O(new files) driver), then read+write
    * of the new files only. Returns the number of files rewritten. */
  def clusterIncremental(spark: SparkSession, dir: String,
                         partitionCol: String, xCol: String, yCol: String,
                         targetBytes: Long = 128L << 20,
                         hilbert: Boolean = false): Long = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val wm = pins(spark, dir).get(ClusterWatermarkPin)
      .filter(w => versions(spark, dir).contains(w))
    wm match {
      case None =>
        val n = entriesDataset(spark, meta).count()
        if (hilbert) clusterHilbert(spark, dir, partitionCol, xCol, yCol,
          targetBytes)
        else clusterZ(spark, dir, partitionCol, xCol, yCol, targetBytes)
        pin(spark, dir, ClusterWatermarkPin,
          latestVersion(spark, dir).getOrElse(v))
        n
      case Some(w) =>
        val baseMeta = snapshotMeta(spark, dir, Some(w))
        // files born since the watermark (appends AND rewrites — a
        // rewrite's output is a new path): distributed anti-join on
        // path, only the new files' entries reach the driver
        val newE: Seq[Entry] = entriesDataset(spark, meta).toDF()
          .join(entriesDataset(spark, baseMeta).select(col("path")),
            Seq("path"), "left_anti")
          .as[Entry].collect().toSeq
        if (newE.isEmpty) { pin(spark, dir, ClusterWatermarkPin, v); return 0L }
        val pColP = physName(meta.colMap, partitionCol)
        val clusterP = Seq(xCol, yCol).map(physName(meta.colMap, _))
        clusterP.foreach(c => require(meta.statsCols.contains(c),
          s"cluster column $c is not a stats column " +
            s"(${meta.statsCols.mkString(",")}) — pruning could never use it"))
        val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
        val ins = clusterP.map(mortonInputFor(spark, meta, schema, _, 31))
        val zkey =
          if (hilbert) graft.ops.Layout.hilbertKey(ins.head, ins(1))
          else graft.ops.Layout.zorderKey(ins.head, ins(1))
        val rows = readEntriesMasked(spark, root, newE, meta.ddl,
          meta.dvDirs)
        val nOut = math.max(1, math.ceil(
          newE.map(_.bytes).sum.toDouble / targetBytes).toInt)
        val newEntries = // fully-DV'd new files stage nothing
          writeBatch(spark, root, rows, pColP, meta.statsCols,
            meta.constraints, numFiles = Some(nOut),
            bloomCols = meta.bloomCols, clusterKey = Some(zkey))
        val removes = newE.map(_.path)
        val name =
          if (linkedAppendEligible(spark, fs, meta) &&
            meta.removedPaths.size + removes.size <= LinkedRemovesCap)
            linkManifest(spark, fs, root, meta, newEntries, removes)
          else compactManifest(spark, root, meta, meta.ddl, newEntries,
            removes)
        commit(fs, root, v + 1, name, op = "CLUSTER_INCR")
        maybeCheckpoint(spark, dir, pColP)
        pin(spark, dir, ClusterWatermarkPin, v + 1)
        newE.size.toLong
    }
  }

  private def clusterWhereBy(spark: SparkSession, dir: String,
                             partitionCol: String, clusterCols: Seq[String],
                             values: Seq[String], targetBytes: Long,
                             bitsPerDim: Int,
                             hilbert: Boolean = false): Long = {
    require(values.nonEmpty, "a scoped cluster needs the partition " +
      "values to scope to — use clusterZ/clusterZ3 for the whole table")
    val (fs, root) = fsOf(spark, dir)
    val v = latestVersion(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"no table at $dir"))
    val meta = snapshotMeta(spark, dir, Some(v))
    val pCol = physName(meta.colMap, partitionCol)
    require(partitionValuesSafe(meta.ddl, pCol),
      s"partition column $partitionCol has no safe value rendering " +
        "(TimestampType) — a scoped cluster cannot select its files; " +
        "use clusterZ for the whole table")
    val clusterP = clusterCols.map(physName(meta.colMap, _))
    clusterP.foreach(c => require(meta.statsCols.contains(c),
      s"cluster column $c is not a stats column " +
        s"(${meta.statsCols.mkString(",")}) — pruning could never use it"))
    val cands = partitionCandidates(spark, meta, pCol, values.toSet,
      wantNull = false)
    if (cands.isEmpty) return 0L
    val rows = readEntriesMasked(spark, root, cands, meta.ddl, meta.dvDirs)
    val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
    val ins = clusterP.map(mortonInputFor(spark, meta, schema, _, bitsPerDim))
    val zkey =
      if (ins.size == 2 && hilbert)
        graft.ops.Layout.hilbertKey(ins.head, ins(1))
      else if (ins.size == 2) graft.ops.Layout.zorderKey(ins.head, ins(1))
      else graft.ops.Layout.zorderKey3(ins.head, ins(1), ins(2))
    val nOut = math.max(1, math.ceil(
      cands.map(_.bytes).sum.toDouble / targetBytes).toInt)
    val newEntries = // fully-DV'd candidates stage nothing
      writeBatch(spark, root, rows, pCol, meta.statsCols,
        meta.constraints, numFiles = Some(nOut), bloomCols = meta.bloomCols,
        clusterKey = Some(zkey))
    val removes = cands.map(_.path)
    def stage(m: SnapshotMeta): String =
      if (linkedAppendEligible(spark, fs, m) &&
        m.removedPaths.size + removes.size <= LinkedRemovesCap)
        linkManifest(spark, fs, root, m, newEntries, removes)
      else compactManifest(spark, root, m, m.ddl, newEntries, removes)
    commitRebasing(spark, fs, root, dir, meta, v, stage, txn = None,
      op = "CLUSTER_WHERE", readPaths = removes.toSet,
      wanted = values.toSet, wantNull = false, renderSafe = true)
    maybeCheckpoint(spark, dir, pCol)
    cands.size.toLong
  }

  /** 3-D Z-ORDER clustering: [[clusterZ]] one dimension wider — the
    * Morton interleave reads the low 21 bits of each of THREE stats
    * columns (integral, date, timestamp, or string, via
    * [[Layout.mortonInput]]), so a predicate on any one of them prunes
    * (Delta/Iceberg `ZORDER BY (a, b, c)`). Same commit/DV/constraint
    * mechanics and the same loud un-orderable-type refusal. */
  def clusterZ3(spark: SparkSession, dir: String, partitionCol: String,
                xCol: String, yCol: String, zCol: String,
                targetBytes: Long = 128L << 20): Unit =
    clusterBy(spark, dir, partitionCol, Seq(xCol, yCol, zCol), targetBytes,
      (meta, colsP) => {
        val schema = DataType.fromDDL(meta.ddl).asInstanceOf[StructType]
        val ins = colsP.map(mortonInputFor(spark, meta, schema, _, 21))
        graft.ops.Layout.zorderKey3(ins.head, ins(1), ins(2))
      })

  /** One-call table MAINTENANCE, each step a separate optimistic
    * commit under [[withConflictRetry]]: fold deletion vectors into
    * data when the masked-file fraction crosses `dvFileFrac` (the
    * read-side anti-join tax goes back to zero), compact small files,
    * then vacuum to `keepVersions`. The off-peak companion of the
    * merge-on-read write path: writes stay O(change) all day, one
    * maintenance call repays the read debt. Returns counts for
    * monitoring. */
  def maintain(spark: SparkSession, dir: String, partitionCol: String,
               smallBytes: Long = 32L << 20,
               targetBytes: Long = 128L << 20,
               dvFileFrac: Double = 0.1,
               keepVersions: Int = 2,
               staleMillis: Long = 3600 * 1000L): Map[String, Long] = {
    // header-only planning: the masked-file fraction is one distributed
    // agg over the entry relation, never a driver entry collect
    val meta0 = snapshotMeta(spark, dir)
    val (_, root) = fsOf(spark, dir)
    val doMaterialize = meta0.dvDirs.nonEmpty && {
      import spark.implicits._
      val b = spark.sparkContext.broadcast(
        dvTouchedPaths(spark, root, meta0.dvDirs))
      val (nEntries, dvTouched) =
        try entriesDataset(spark, meta0)
          .map(e => (1L, if (b.value.contains(e.path)) 1L else 0L))
          .toDF("n", "t")
          .agg(coalesce(sum("n"), lit(0L)), coalesce(sum("t"), lit(0L)))
          .as[(Long, Long)].head()
        finally b.destroy() // long-lived sessions: don't leak per cycle
      nEntries == 0L ||
        dvTouched.toDouble / math.max(1L, nEntries) >= dvFileFrac
    }
    // counters come from the ATTEMPT THAT COMMITTED (the ops return
    // what they actually did), not from pre-retry snapshots a
    // concurrent commit can stale
    val materialized =
      if (doMaterialize)
        withConflictRetry() { materialize(spark, dir, partitionCol) }
      else 0L
    val compacted = withConflictRetry() {
      compact(spark, dir, partitionCol, smallBytes, targetBytes)
    }
    val reclaimed = vacuumOrphans(spark, dir, keepVersions, staleMillis)
    // a CLONE whose rewrites have retired a source root's last external
    // reference releases that root's retention pin here — maintenance
    // is the natural "no longer borrowing" checkpoint (no-op for
    // ordinary tables: one memoized map probe)
    val released = releaseCloneSourcePins(spark, dir)
    Map(
      "materialized_files" -> materialized,
      "compacted_files" -> compacted,
      "vacuumed_objects" -> reclaimed,
      "released_source_pins" -> released)
  }

  /** Commit log as a relation — one row per committed version with the
    * snapshot's shape (file/row/byte counts, DV dirs, constraint count,
    * txn marker) — the `DESCRIBE HISTORY` surface an operator monitors
    * and a debugger diffs. `rows` counts FILE-resident rows: rows a
    * deletion vector masks still count until [[materialize]] folds
    * them. Cost: one manifest read per RETAINED version (bounded by
    * vacuum retention), nothing data-sized. */
  def describeHistory(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, dir)
    // per-version pointer + chain resolution: O(retained versions)
    // one-line reads, like [[history]] — never a snapshot entry collect
    val infos = versions(spark, dir).map { v =>
      val lines = readPointerLines(fs, root, v) // one open per version
      val st = chainState(fs, root, lines.head.trim)
      val txn = lines.drop(1).find(_.startsWith("txn:")).getOrElse("")
      (v, st, txn)
    }
    if (infos.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long, Long, String)]
        .toDF("version", "files", "rows", "bytes", "dv_dirs",
          "constraints", "txn")
    // ONE distributed pass over the distinct retained manifest dirs
    // (versions share ancestors, each dir aggregates once): per-dir
    // file/row/byte totals, per-dir sentinel shape, and the stats of
    // every chain-removed path — a version's exact counts then fold
    // driver-side as Σ(chain dirs) − Σ(its removed paths). Driver heap
    // is O(dirs + removed paths), never O(entries).
    val allDirs = infos.flatMap(_._2.names).distinct
    val dirPaths = allDirs
      .map(n => new Path(new Path(root, ManifestsDir), n).toString)
    // mergeSchema: retained manifests can span library versions with
    // different physical schemas; absent columns pad with neutrals
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(dirPaths: _*)
      .withColumn("__m", regexp_extract(col("_metadata.file_path"),
        s"/$ManifestsDir/(m-[0-9a-f-]{36})/", 1))
    val need: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("path", lit("")), ("rows", lit(0L)), ("bytes", lit(0L)),
      ("schema_ddl", lit("")), ("dv_dirs", array()),
      ("constraints", array()))
    val df = need.foldLeft(raw) { case (d, (n, neutral)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, neutral)
    }
    val perDir = df.filter($"path" =!= "")
      .groupBy("__m")
      .agg(count(lit(1)), coalesce(sum("rows"), lit(0L)),
        coalesce(sum("bytes"), lit(0L)))
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val sentinels = df.filter($"path" === "" && $"schema_ddl" =!= "")
      .select($"__m", size($"dv_dirs").cast("long"),
        size($"constraints").cast("long"))
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val allRm = infos.flatMap(_._2.removedPaths).distinct
    val rmStats: Map[String, (Long, Long)] =
      if (allRm.isEmpty) Map.empty
      else df.join(broadcast(allRm.toDF("__rm")), $"path" === $"__rm")
        // a path carried across re-roots appears in 2+ dirs; copies can
        // DISAGREE (e.g. an old-format dir whose absent stats column
        // was mergeSchema-padded to 0) — aggregate deterministically,
        // keeping the best-informed copy, instead of distinct+toMap's
        // arbitrary pick
        .groupBy($"path")
        .agg(max(coalesce($"rows", lit(0L))).as("r"),
          max(coalesce($"bytes", lit(0L))).as("b"))
        .as[(String, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    infos.map { case (v, st, txn) =>
      val (f, r, b) = st.names
        .map(n => perDir.getOrElse(n, (0L, 0L, 0L)))
        .foldLeft((0L, 0L, 0L)) { case ((a1, a2, a3), (c1, c2, c3)) =>
          (a1 + c1, a2 + c2, a3 + c3)
        }
      val (rmR, rmB) = st.removedPaths
        .map(p => rmStats.getOrElse(p, (0L, 0L)))
        .foldLeft((0L, 0L)) { case ((a1, a2), (c1, c2)) =>
          (a1 + c1, a2 + c2)
        }
      // effective DV set = base sentinel's ++ chain-attached, exactly
      // [[snapshotMeta]]'s composition
      val (sentDv, sentC) = sentinels.getOrElse(st.names.head, (0L, 0L))
      (v, f - st.removedPaths.size, r - rmR, b - rmB,
        sentDv + st.dvDirs.size, sentC, txn)
    }.toDF("version", "files", "rows", "bytes", "dv_dirs", "constraints",
      "txn")
  }

  // -------- retention pins --------

  private val PinsDir = "_pins"

  final case class RetentionPinnedException(pins: Map[String, Long],
                                            oldestKept: Long)
    extends RuntimeException(
      s"vacuum would drop versions below v$oldestKept that active " +
        s"consumers still anchor on: ${pins.map { case (n, v) => s"$n@v$v" }
          .mkString(", ")} — let the consumers advance, widen " +
        "keepVersions, retire the pins, or pass force = true " +
        "(forced vacuum gaps those consumers into resync)")

  /** Register (or advance) a named RETENTION PIN: a downstream
    * consumer's public claim that it still anchors on version `v`, so
    * [[vacuumOrphans]] must not drop `v` or anything after it. The
    * change-feed cursor ([[ChangeFeed.poll]]) and the incremental-view
    * watermark ([[Incremental.refresh]]) register themselves here —
    * turning the "vacuum silently invalidates my cursor" coupling from
    * convention into a checked contract. Pins are tiny files under
    * `_pins/<name>` (temp + rename publish, last write wins — each
    * name has one owner). */
  def pin(spark: SparkSession, dir: String, name: String, v: Long): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"bad pin name '$name'")
    val (fs, root) = fsOf(spark, dir)
    val pd = new Path(root, PinsDir)
    fs.mkdirs(pd)
    val tmp = new Path(pd, s".$name-${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(pd, name)
    // Publish so the OLD pin survives until the new one lands: an
    // earlier delete-then-rename form had a crash window with NO pin
    // file at all — exactly the silent loss of vacuum protection the
    // pin exists to prevent. Preferred path is an atomic overwriting
    // rename (FileContext + Options.Rename.OVERWRITE — supported on
    // local and HDFS-class stores); where FileContext has no binding,
    // fall back to delete+rename with a bounded retry, whose residual
    // window is at worst one failed rename wide, never unbounded.
    val renamed =
      try {
        org.apache.hadoop.fs.FileContext
          .getFileContext(fs.getUri, fs.getConf)
          .rename(fs.makeQualified(tmp), fs.makeQualified(target),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => false
      }
    if (!renamed) {
      var done = fs.rename(tmp, target) // fast path: target absent
      var attempts = 0
      while (!done && attempts < 3) {
        fs.delete(target, false)
        done = fs.rename(tmp, target)
        attempts += 1
      }
      if (!done) {
        fs.delete(tmp, false)
        require(fs.exists(target), s"pin publish failed for $target")
      }
    }
  }

  /** Remove a retention pin (no-op if absent) — the consumer is
    * decommissioned and no longer constrains vacuum. */
  def unpin(spark: SparkSession, dir: String, name: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    fs.delete(new Path(new Path(root, PinsDir), name), false)
  }

  /** All registered retention pins (name → anchored version). */
  def pins(spark: SparkSession, dir: String): Map[String, Long] = {
    val (fs, root) = fsOf(spark, dir)
    val pd = new Path(root, PinsDir)
    if (!fs.exists(pd)) Map.empty
    else fs.listStatus(pd).filter(st => st.isFile &&
      !st.getPath.getName.startsWith(".")).flatMap { st =>
      val in = fs.open(st.getPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      s.toLongOption.map(st.getPath.getName -> _)
    }.toMap
  }

  /** Reclaim files not referenced by any of the newest `keepVersions`
    * manifests, and drop older version pointers + manifests. Time
    * travel reaches back `keepVersions` snapshots afterwards. Safe to
    * run concurrently with readers OF THOSE VERSIONS only.
    *
    * RETENTION PINS: when a registered pin ([[pin]]) anchors a STILL-
    * RETAINED version that this call would drop, the call REFUSES with
    * [[RetentionPinnedException]] before touching anything — a lagging
    * change-feed cursor or view watermark blocks the vacuum that would
    * gap it. `force = true` overrides (the pinned consumers gap and
    * must resync); a pin whose version is already gone no longer
    * blocks (that consumer is already gapped — refusing forever would
    * wedge maintenance).
    *
    * CONCURRENT WRITERS: an in-flight write has staged data/DV files
    * that no manifest references yet — indistinguishable from orphans
    * by reference-counting alone. `staleMillis` (default 1 h) is the
    * age floor that protects them: only unreferenced files whose
    * modification time is older than the floor are deleted, so any
    * writer that stages and commits within the window can never have
    * its batch swept out from under its commit (Delta's vacuum
    * retention-check rationale). Set 0 ONLY when no writer can be
    * in flight (tests, single-writer maintenance windows).
    *
    * Exactly-once writers ([[appendIfAbsent]] / [[lastTxn]]): dropping
    * a version pointer also drops any txn marker it carries, so
    * `keepVersions` must cover the longest possible writer replay
    * horizon (same retention coupling as Delta's
    * `delta.setTransactionRetentionDuration`) — a marker older than
    * the retention window can no longer vouch for its batch. */
  def vacuumOrphans(spark: SparkSession, dir: String,
                    keepVersions: Int = 1,
                    staleMillis: Long = 3600 * 1000L,
                    force: Boolean = false): Long =
    vacuumImpl(spark, dir, keepVersions, staleMillis, force,
      dryRun = false)("files_reclaimed")

  /** `VACUUM ... DRY RUN`: the PREVIEW of [[vacuumOrphans]] — the
    * exact same orphan classification (age floor, pin refusal, Bloom
    * membership, young-batch protection) with every delete suppressed.
    * Returns what the real call would reclaim: `files_reclaimed`,
    * `bytes_reclaimed`, `versions_dropped`. Running the real vacuum
    * immediately after (same retention, no concurrent writes) reclaims
    * exactly these counters — the way to price a retention change
    * before pulling the trigger. */
  def vacuumDryRun(spark: SparkSession, dir: String,
                   keepVersions: Int = 1,
                   staleMillis: Long = 3600 * 1000L,
                   force: Boolean = false): Map[String, Long] =
    vacuumImpl(spark, dir, keepVersions, staleMillis, force,
      dryRun = true)

  private def vacuumImpl(spark: SparkSession, dir: String,
                         keepVersions: Int, staleMillis: Long,
                         force: Boolean,
                         dryRun: Boolean): Map[String, Long] = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val (fs, root) = fsOf(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no table at $dir")
    val cutoff = System.currentTimeMillis() - staleMillis
    val keep = vs.takeRight(keepVersions)
    if (!force) {
      val lagging = pins(spark, dir).filter { case (_, pv) =>
        pv < keep.head && vs.contains(pv)
      }
      if (lagging.nonEmpty)
        throw RetentionPinnedException(lagging, keep.head)
    }
    // live-path membership via a DISTRIBUTED Bloom filter over the kept
    // snapshots' entry relations — O(entries) executor work, ~2 MB/10⁶
    // paths driver heap instead of the O(entries) Set a 10⁷-entry
    // table would turn into gigabytes. Safety is one-sided by
    // construction: a Bloom has no false NEGATIVES, so a live file can
    // never test as orphan; a false POSITIVE (rate 1e-4) merely retains
    // an orphan for a later pass.
    val metas = keep.map(v => snapshotMeta(spark, dir, Some(v)))
    val liveDf = metas.map(m => entriesDataset(spark, m).select(col("path")))
      .reduce(_.unionAll(_))
    // expected-count estimate from manifest bytes (~64 B/slim entry on
    // disk): an overestimate only widens the filter, never weakens it
    val expectedLive =
      math.max(1024L, metas.map(_.manifestBytes).sum / 64)
    val live = liveDf.stat.bloomFilter("path", expectedLive, 1e-4)
    // a batch's _bloom/ side relation lives exactly as long as any of
    // the batch's data files does (it is per-batch immutable metadata,
    // not manifest-listed); one batch dir per commit, so the distinct
    // collect is O(commits)
    val liveBatches: Set[String] = liveDf
      .select(split(col("path"), "/").getItem(1).as("b"))
      .distinct().collect().map(_.getString(0)).toSet
    // transitive base closure: a LINKED manifest's entry set lives in
    // its whole chain, so every base of a kept tip is itself live
    val liveManifests: Set[String] =
      keep.flatMap(v => manifestChain(fs, root, readPointer(fs, root, v)))
        .toSet
    var reclaimed = 0L
    var bytes = 0L
    // data files outside the union of kept snapshots, old enough that
    // they cannot be a concurrent writer's staged batch
    val dataRoot = new Path(root, DataDir)
    // batch dirs holding ANY too-young file are possibly mid-stage:
    // neither their files nor the dir itself may go
    val youngBatches = scala.collection.mutable.Set[String]()
    if (fs.exists(dataRoot)) {
      // TWO passes: first learn which batches are possibly mid-stage,
      // THEN delete — so an old file never falls to a doomed-list built
      // before its sibling young file marked the batch
      val it = fs.listFiles(dataRoot, true)
      val doomed = scala.collection.mutable.ArrayBuffer[(Path, String, Long)]()
      while (it.hasNext) {
        val st = it.next()
        val rel = s"$DataDir${st.getPath.toUri.getPath.stripPrefix(dataRoot.toUri.getPath)}"
        val parts = rel.split('/')
        if (st.isFile && st.getModificationTime >= cutoff)
          youngBatches += parts(1)
        val isLiveBloom = parts.length > 2 && parts(2) == BloomDir &&
          liveBatches.contains(parts(1))
        if (st.isFile && !live.mightContain(rel) && !isLiveBloom &&
          st.getModificationTime < cutoff)
          doomed += ((st.getPath, parts(1), st.getLen))
      }
      doomed.foreach { case (p, batch, len) =>
        if (!youngBatches.contains(batch)) {
          reclaimed += 1; bytes += len
          if (!dryRun) fs.delete(p, false)
        }
      }
      // sweep fully-dead batch dirs (recursive: removes the emptied
      // _bloom/ subtree too). The dir's OWN mtime guards a batch born
      // after the file scan above (its files were never seen, so
      // youngBatches cannot vouch for it).
      if (!dryRun) fs.listStatus(dataRoot).foreach { st =>
        if (st.isDirectory && !liveBatches.contains(st.getPath.getName) &&
          !youngBatches.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      }
    }
    // deletion-vector dirs not referenced by any kept snapshot (same
    // age floor: a staged-but-uncommitted DV swept here would UN-DELETE
    // rows once its commit lands). The dir's own mtime covers the
    // moment it exists but its first part file doesn't; the content
    // listing runs only for non-live dirs (LIST is the costly call).
    val liveDvs: Set[String] = metas.flatMap(_.dvDirs).toSet
    val dvRoot = new Path(root, DvDir)
    if (fs.exists(dvRoot)) fs.listStatus(dvRoot).foreach { st =>
      if (!liveDvs.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff) {
        val kids = fs.listStatus(st.getPath)
        if (!kids.exists(_.getModificationTime >= cutoff)) {
          reclaimed += 1; bytes += kids.map(_.getLen).sum
          if (!dryRun) fs.delete(st.getPath, true)
        }
      }
    }
    // retired manifests + pointers — same age floor: a freshly written
    // manifest is unreferenced until its writer's pointer create lands
    // (the delta sidecar lives inside the manifest dir and goes with it)
    val md = new Path(root, ManifestsDir)
    if (fs.exists(md)) fs.listStatus(md).foreach { st =>
      if (!liveManifests.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff) {
        val kids = fs.listStatus(st.getPath)
        if (!kids.exists(_.getModificationTime >= cutoff)) {
          reclaimed += 1; bytes += kids.map(_.getLen).sum
          if (!dryRun) fs.delete(st.getPath, true)
        }
      }
    }
    val versionsDropped = vs.dropRight(keepVersions).size.toLong
    if (!dryRun) vs.dropRight(keepVersions).foreach { v =>
      fs.delete(versionPath(root, v), false)
      // old slots are never re-created, but releasing keeps a
      // conditional-put store's claim registry from growing without
      // bound over the table's lifetime
      LogStore.forFs(fs).release(fs, versionPath(root, v))
    }
    // stale PENDING pointers (crashed multi-commits): invisible to
    // every reader, but they occupy version slots — sweep them once
    // they are past the age floor (a younger one may be an in-flight
    // commitAll about to publish its marker)
    val vd = new Path(root, VersionsDir)
    val visible = vs.toSet
    if (fs.exists(vd)) fs.listStatus(vd).foreach { st =>
      val n = st.getPath.getName
      if (n.matches("v\\d{8}") && !visible.contains(n.drop(1).toLong) &&
        st.getModificationTime < cutoff) {
        reclaimed += 1; bytes += st.getLen
        if (!dryRun) {
          fs.delete(st.getPath, false)
          // this slot WILL be retried by the next writer: without the
          // release a conditional-put store would conflict it forever
          LogStore.forFs(fs).release(fs, st.getPath)
        }
      }
    }
    Map("files_reclaimed" -> reclaimed, "bytes_reclaimed" -> bytes,
      "versions_dropped" -> versionsDropped)
  }
}
