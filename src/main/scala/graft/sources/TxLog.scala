package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Atomic publish-if-absent for transaction-log files — the seam between
  * the commit protocol and the storage system's one load-bearing primitive
  * (Delta's LogStore abstraction, reduced to the single call the protocol
  * needs). Exactly one of N racing callers returns true; a reader observes
  * either no file or the complete content, never a prefix. */
trait LogStore {
  /** Move `tmp`'s fully-written content to `target` iff `target` does not
    * yet exist. `tmp` is private to the caller and already durable. */
  def putIfAbsent(fs: FileSystem, tmp: Path, target: Path): Boolean
}

object LogStore {
  /** POSIX `link(2)`: atomic create-no-overwrite with the content already
    * in place — the local-filesystem commit point. (A bare
    * `create(overwrite=false)` on RawLocalFileSystem is exists-then-create,
    * a TOCTOU window two same-box writers could both pass.) */
  object LocalLink extends LogStore {
    def putIfAbsent(fs: FileSystem, tmp: Path, target: Path): Boolean =
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  /** HDFS `rename`: atomic at the NameNode, returns false when the
    * destination exists. S3-class object stores must NOT route here —
    * their rename is copy+delete and unconditional; implement the trait
    * with the store's conditional-put (S3 If-None-Match, GCS
    * if-generation-match, or an external ledger) instead. */
  object AtomicRename extends LogStore {
    def putIfAbsent(fs: FileSystem, tmp: Path, target: Path): Boolean =
      fs.rename(tmp, target)
  }

  def forScheme(scheme: String): LogStore =
    if (scheme == "file") LocalLink else AtomicRename
}

/** Optimistic-concurrency transaction log over plain parquet — the
  * writer-vs-writer safety [[Warehouse.overwritePartitioned]] lacks
  * (its dynamic-overwrite idempotence covers retry-of-SELF only; two jobs
  * racing one table can interleave DROP/write and lose a writer's
  * partitions wholesale).
  * The Delta/Iceberg commit shape, reduced to its load-bearing core:
  *
  *   - data files are IMMUTABLE and land under a per-writer staging dir
  *     (`data/txn-<uuid>/<part>=<v>/...`) BEFORE any metadata changes —
  *     a losing or crashed writer leaves only unreferenced files;
  *   - table state is an append-only log of commit files
  *     (`_txlog/v%020d.txn`), each recording the partition→file DELTA it
  *     applies (overwrite replaces a partition's file set, append extends
  *     it) plus the snapshot version the writer based its work on;
  *   - version N is claimed by ATOMICALLY publishing `v<N>.txn`
  *     (hard-link-no-overwrite on local POSIX, rename-no-overwrite on
  *     HDFS — both fail, not clobber, when the destination exists), so
  *     exactly one writer wins each version and the log is a total order;
  *   - a writer that loses the race re-reads the log: a DISJOINT
  *     concurrent commit is compatible (its own delta still applies —
  *     retry the publish at the next version), an OVERLAPPING one under
  *     `conflictCheck` raises [[ConcurrentWriteException]] so the caller
  *     re-derives its data from the NEW snapshot and re-stages — the
  *     detect-and-retry loop [[retryOnConflict]] runs for every
  *     conflict-checked front door.
  *
  * The result is serializable partition overwrite: the final table always
  * equals the commits applied in version order, and a read-modify-write
  * transaction never publishes work derived from a stale snapshot (gated
  * by q208, which interleaves two writers so the second's staged data IS
  * stale and only the conflict-retry path produces the serialized answer).
  *
  * Scale posture: commit files are O(touched partitions) metadata; the
  * snapshot fold is driver-side over the latest [[checkpoint]] plus the
  * deltas after it, bounded by [[Warehouse.MaxDriverPartitions]] (the
  * repo-wide bounded-driver-artifact contract — run checkpoint +
  * [[expireLog]] periodically and the fold never grows with table age);
  * data files never move or rewrite on
  * conflict, so a retry costs one metadata round, not a re-shuffle.
  * Readers are lock-free: they see the latest fully-published version
  * (a half-written commit is invisible — content is hard-linked/renamed
  * into place only when complete).
  */
object TxLog {

  /** Raised when a conflict-checked commit finds a concurrent commit
    * (readVersion, now] touching one of its partitions: the caller's
    * staged data was derived from a stale snapshot and must be rebuilt. */
  final class ConcurrentWriteException(
      val conflictingVersion: Long, val partitions: Seq[String])
    extends RuntimeException(
      s"concurrent commit v$conflictingVersion touched partitions " +
        s"[${partitions.mkString(", ")}] this transaction also writes — " +
        "re-derive from the new snapshot and retry")

  /** Raised when a writer-seq commit arrives BEHIND the ledger: the
    * writer's batch `seq` is older than the latest this table already
    * applied from it — an out-of-order or long-expired replay that must
    * refuse loudly rather than double-apply (the current seq replays
    * idempotently; anything older is unprovable). */
  final class StaleWriterSeqException(
      val writerId: String, val seq: Long, val latestSeq: Long)
    extends RuntimeException(
      s"writer [$writerId] batch seq $seq is behind the table's ledger " +
        s"(latest applied: $latestSeq) — an out-of-window replay cannot " +
        "be safely applied or safely skipped; reconcile the writer's " +
        "sequence before retrying")

  /** relFile → column → (min, max) in [[TxStats]]' string encoding. */
  type FileStats = Map[String, Map[String, (String, String)]]

  /** relFile → exact footer row count (metadata-only COUNT answers). */
  type FileRows = Map[String, Long]

  /** Deletion-vector state: live data file → (the parquet files holding
    * its CUMULATIVE deleted (file, pos) positions, deleted-row count).
    * The latest "dv" commit for a data file holds its FULL position set
    * (cumulative), so exactly one entry per data file is ever live. */
  type FileDvs = Map[String, (Seq[String], Long)]

  /** One applied commit: `op` is "overwrite", "append", "remove" or
    * "rewrite"; `parts` maps the RAW partition value to the relative
    * data-file paths it ADDS (overwrite replaces a partition's file set,
    * append extends it, rewrite swaps `removed` out and `parts` in —
    * the file-granular MERGE/DELETE delta); `stats` carries the added
    * files' footer min/max for data skipping, `rows` their exact footer
    * row counts. A data-bearing commit always records `schema` and
    * `partSchema`: a commit file without the current [[Generation]] line
    * never parses. */
  final case class Commit(version: Long, op: String, readVersion: Long,
                          batchId: Option[String],
                          parts: Map[String, Seq[String]],
                          schema: Option[String] = None,
                          stats: FileStats = Map.empty,
                          rows: FileRows = Map.empty,
                          partSchema: Option[String] = None,
                          removed: Map[String, Seq[String]] = Map.empty,
                          // CHANGE-DATA files (rewrite commits written with
                          // changeFeed=true): row-level pre/post images +
                          // deletes, NEVER part of the table's live file
                          // set — [[readChangeFeed]] reads them per window
                          changes: Seq[String] = Seq.empty,
                          // structured idempotence identity (writerId, seq)
                          // — the BOUNDED replay ledger (Delta's txn
                          // appId/version shape); see [[appendBatchSeqTx]]
                          writerSeq: Option[(String, Long)] = None,
                          // COLUMN MAPPING snapshot (op "meta" only): the
                          // full physical→logical map after this commit;
                          // "-" tombstones a dropped physical column.
                          // None = no mapping change in this commit.
                          mapping: Option[Map[String, String]] = None,
                          // the commit was written change-recorded
                          // (`cdfNames=phys`: its change files, if any,
                          // carry PHYSICAL column names) — how the change
                          // feed tells a files-free change-recorded
                          // rewrite from one written without a record
                          cdfPhys: Boolean = false,
                          // op "dv": merge-on-read position deletes — per
                          // affected data file its new CUMULATIVE deletion
                          // vector; op "restore": the full dv state as of
                          // the target version (snapshot replacement)
                          dvs: FileDvs = Map.empty,
                          // CHECK-constraint snapshot (ops "meta"/"restore",
                          // behind an explicit presence marker so
                          // mapping-only meta commits don't clobber it):
                          // name -> SQL expression over logical columns
                          constraints: Option[Map[String, String]] = None,
                          // op "restore" on a parquet-checkpointed table:
                          // (payload dir name, nfiles, bytes, ndvs) — the
                          // target state rewritten distributedly; the fold
                          // RESETS its baseline to this payload
                          payloadChk: Option[(String, Long, Long, Long)] =
                            None,
                          // this commit SEALS the string batch-id ledger
                          // ([[sealBatchLedgerTx]])
                          sealsBatches: Boolean = false,
                          // TABLE-PROPERTY snapshot (ops "meta"/"restore",
                          // behind an explicit presence marker like
                          // constraints): operational knobs that travel
                          // with the table (retention, maintenance
                          // cadence) — [[setTablePropertiesTx]]
                          props: Option[Map[String, String]] = None) {
    /** Partitions this commit touches — the conflict-check unit. */
    def touched: Set[String] = parts.keySet ++ removed.keySet
  }

  /** Resolved table state — the ONE state type, whatever the checkpoint
    * format (the Delta Snapshot shape): partition value → relative file
    * paths, plus the table schema AS OF this version (DDL, partition
    * column excluded — the single source of truth the snapshot scan reads
    * with, which is what NULL-backfills pre-evolution files without
    * footer merging). Every log carries the current [[Generation]], whose
    * data-bearing commits record the schema and partition schema, so
    * both are None only before the first schema-recording commit.
    *
    * `payload` None (no checkpoint, or a text one): `parts` lists EVERY
    * live file, `stats`/`rows`/`dvs` cover live files only (a file
    * without stats has no entry and is never skipped). `payload`
    * Some (the table crossed to a parquet checkpoint): the file-level
    * base stays in the payload, never driver-materialized, and
    * `parts`/`stats`/`rows`/`dvs` hold only the post-checkpoint DELTA —
    * `dvs` then OVERRIDES the payload's vectors for its files. */
  final case class Snapshot(version: Long, parts: Map[String, Seq[String]],
                            schema: Option[String] = None,
                            stats: FileStats = Map.empty,
                            rows: FileRows = Map.empty,
                            partSchema: Option[String] = None,
                            // physical→logical column mapping as of this
                            // version (empty = identity); "-" = dropped
                            mapping: Map[String, String] = Map.empty,
                            // live deletion vectors (merge-on-read
                            // deletes)
                            dvs: FileDvs = Map.empty,
                            // CHECK constraints in force at this version
                            constraints: Map[String, String] = Map.empty,
                            // table properties in force at this version
                            props: Map[String, String] = Map.empty,
                            payload: Option[Payload] = None) {
    /** Live partition values when the driver holds them: the keys of
      * `parts` on a driver table, the checkpoint header's set (delta
      * applied) on a payload table — None when that header omitted it
      * (above [[chkMaxHeaderValues]]; derive payload-side). */
    def partValues: Option[Set[String]] =
      payload.fold(Option(parts.keySet))(_.partValues)
  }

  /** The parquet-checkpoint base of a [[Snapshot]]: the payload dir under
    * `_txlog` holding the file-level state as of `chkVersion` (or of the
    * payload-shape restore that reset it), and the delta's masks over it
    * — `removedParts`/`removedFiles` hide payload rows, and `dead` (a
    * DRIVER-shape restore landed after the crossing) hides them all: the
    * restore's inventory lives in the delta until the next checkpoint
    * folds everything into a fresh payload. `partValues` is the live
    * value set (None = the header omitted it); `nfiles`/`bytes`/`ndvs`
    * are the base's recorded facts (`ndvs` = payload files carrying a
    * vector; 0 skips dv discovery). */
  final case class Payload(dir: String, chkVersion: Long,
                           partValues: Option[Set[String]],
                           removedParts: Set[String] = Set.empty,
                           removedFiles: Set[String] = Set.empty,
                           nfiles: Long, bytes: Long,
                           ndvs: Long, dead: Boolean = false)

  /** Staged-but-uncommitted data: files already durable under `root`.
    * `schema` is the DATA files' DDL (partition column excluded) — the
    * commit-time guard against schema-mismatched writes poisoning the
    * union read. None only for synthesized metadata-only ops (remove). */
  final case class Staged(parts: Map[String, Seq[String]],
                          schema: Option[String] = None,
                          stats: FileStats = Map.empty,
                          rows: FileRows = Map.empty,
                          partSchema: Option[String] = None,
                          removed: Map[String, Seq[String]] = Map.empty,
                          changes: Seq[String] = Seq.empty,
                          // op "meta" only: the full mapping snapshot
                          mapping: Option[Map[String, String]] = None,
                          // op "dv"/"restore": deletion vectors (see
                          // [[Commit.dvs]])
                          dvs: FileDvs = Map.empty,
                          // ops "meta"/"restore": CHECK-constraint snapshot
                          constraints: Option[Map[String, String]] = None,
                          // the constraints [[stage]] VALIDATED this data
                          // against (transient — never rendered): commit()
                          // refuses when the table's constraints changed in
                          // the stage→commit window, closing the race where
                          // a concurrent ADD CONSTRAINT would otherwise let
                          // already-validated (now-violating) rows land
                          checkedConstraints: Option[Map[String, String]] = None,
                          // payload-table restore: see [[Commit.payloadChk]]
                          payloadChk: Option[(String, Long, Long, Long)] =
                            None,
                          // seals the string batch ledger (see
                          // [[sealBatchLedgerTx]])
                          sealsBatches: Boolean = false,
                          // ops "meta"/"restore": table-property snapshot
                          props: Option[Map[String, String]] = None,
                          // written with changeFeed = true: the commit
                          // serves the change feed even when no row
                          // changed (and so no change file exists)
                          changeFeed: Boolean = false) {
    def touched: Set[String] = parts.keySet ++ removed.keySet
  }

  private def logDir(root: String) = new Path(root, "_txlog")
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def esc(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)
  private def unesc(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Composite partition-key codec. A table's in-memory partition key is
    * the RAW value for single-column partitioning, and for N≥2 columns
    * the per-segment Hive-ESCAPED '/'-joined form — escapePathName
    * escapes '/' inside values, so the separator is unambiguous (exactly
    * the table's dir fragment without column names). Everything
    * downstream (commit `touched` sets, conflict checks, the payload's
    * `part` column, `select` predicates) treats the key as an opaque
    * string. */
  private[sources] def renderPartKey(raws: Seq[String]): String =
    if (raws.lengthCompare(1) == 0) raws.head
    else raws.map(esc).mkString("/")

  /** Inverse of [[renderPartKey]]: the N raw column values of a key. */
  private[sources] def splitPartKey(key: String, n: Int): Seq[String] =
    if (n == 1) Seq(key)
    else {
      val segs = key.split("/", -1)
      require(segs.length == n,
        s"TxLog: partition key [$key] has ${segs.length} segments but the " +
          s"table's partition schema has $n columns")
      segs.toSeq.map(unesc)
    }

  // ---- log I/O ----------------------------------------------------------

  private val VersionRe = """v(\d{20})\.txn""".r
  private val ChkRe = """c(\d{20})\.chk""".r
  private val PayloadRe = """c(\d{20})-[0-9a-f-]+\.chkpq""".r

  /** The on-disk generation every commit and checkpoint records in its
    * header block (`gen=2`), the way Delta's protocol action pins a
    * reader version: a log file without it is refused, never read a
    * different way. */
  private val Generation = 2

  /** Refuse a commit or checkpoint that does not record [[Generation]]. */
  private def checkGen(root: String, file: String, lines: Seq[String]): Unit = {
    val gen = lines.collectFirst { case l if l.startsWith("gen=") => l.drop(4) }
    require(gen.contains(Generation.toString),
      s"TxLog: $file at $root records " +
        gen.fold("no log generation")(g => s"generation $g") +
        s" — this reader needs gen=$Generation; rebuild the table from " +
        "its data")
  }

  /** A log checkpoint: the FULL partition mapping + every batch id seen
    * as of `version` — the Delta checkpoint mechanism that keeps the
    * snapshot fold O(checkpoint + recent deltas) instead of O(all
    * commits ever), and what makes [[expireLog]] safe (expired commits'
    * batch ids survive in the checkpoint, so idempotent-replay checks
    * never forget a landed batch). */
  private final case class Chk(version: Long,
                               parts: Map[String, Seq[String]],
                               batchIds: Set[String],
                               schema: Option[String] = None,
                               stats: FileStats = Map.empty,
                               rows: FileRows = Map.empty,
                               partSchema: Option[String] = None,
                               // BOUNDED replay ledger: latest (seq,
                               // version) per writerId — O(writers),
                               // however many batches ever committed
                               writers: Map[String, (Long, Long)] = Map.empty,
                               // physical→logical column mapping
                               mapping: Map[String, String] = Map.empty,
                               // live deletion vectors (v1 text
                               // checkpoints; v2 checkpoints carry them
                               // in the payload's dvfiles/dvrows columns
                               // instead, counted by `ndvs`)
                               dvs: FileDvs = Map.empty,
                               // CHECK constraints as of the checkpoint
                               constraints: Map[String, String] = Map.empty,
                               // v2 (parquet payload) checkpoints: the
                               // file-level state lives in a parquet dir
                               // under _txlog, NEVER driver-materialized;
                               // the text file carries only O(partitions)
                               // values + the batch ledger + schema
                               payload: Option[String] = None,
                               // v2: the live partition-value set — None
                               // when the table has more than
                               // [[chkMaxHeaderValues]] partitions (the
                               // header must stay O(1); consumers derive
                               // values payload-side, see partValuesWhere)
                               partValues: Option[Set[String]] = Some(Set.empty),
                               // v2: the payload's file and byte counts
                               // (-1 on a text checkpoint)
                               nfiles: Long = -1L,
                               bytes: Long = -1L,
                               // v2: count of payload files carrying a
                               // deletion vector (0 lets every read skip
                               // the dv-discovery job)
                               ndvs: Long = -1L,
                               // the STRING batch-id ledger is sealed
                               // ([[sealBatchLedgerTx]]): b-lines are
                               // dropped forever and string-batchId
                               // commits refuse loudly
                               sealedLedger: Boolean = false,
                               // table properties as of the checkpoint
                               props: Map[String, String] = Map.empty)

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bs = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 65536, false)
      new String(bs.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** The latest checkpoint (if any) plus every commit AFTER it, in
    * version order. Commits at or before the checkpoint are redundant
    * (and may have been deleted by [[expireLog]]).
    *
    * SAFE UNDER CONCURRENT MAINTENANCE: a listing taken just before a
    * checkpoint+expire can name commit files the expirer deletes before
    * we read them — that is not an error, it is the signal that a NEWER
    * checkpoint now folds their content, so re-list and fold from it.
    * Bounded retries: each miss requires a full checkpoint+expire cycle
    * to have landed in the window, so repeated misses mean pathological
    * maintenance churn, worth failing loudly. */
  private def readLog(spark: SparkSession, root: String): (Option[Chk], Seq[Commit]) =
    readLogEntry(spark, root).pair

  // ---- per-session parsed-log cache (Delta's SnapshotManagement analog) --
  //
  // Commit/checkpoint files are IMMUTABLE once published, so each
  // (name, mtime, length) parses at most once per JVM. Every read still
  // RE-LISTS the log directory — that single cheap listing is the
  // invalidation probe: a foreign writer's commit (or checkpoint, or an
  // expireLog deletion) changes the listed window and only the CHANGED
  // files re-parse. This session's own commits invalidate the same way
  // (tryPublish creates a new listed file). The uncapped FOLD memoizes
  // on the entry, so a hot table read N times between commits lists N
  // times but parses and folds ONCE. A recreated table (delete +
  // rebuild at the same root) is safe twice over: its first commit's
  // own readLog observes the missing _txlog dir and drops the entry,
  // and per-file (mtime, length) signatures guard external rebuilds.
  private final class LogEntry(
      val sig: Map[String, (Long, Long)],
      val chkName: Option[String], val chk: Option[Chk],
      val commits: Vector[(String, Commit)]) {
    // memoized UNCAPPED fold of exactly this window (immutable values;
    // a benign compute race converges on equal results)
    @volatile private[TxLog] var snap: Option[Snapshot] = None
    def pair: (Option[Chk], Seq[Commit]) = (chk, commits.map(_._2))
  }
  private val logCache =
    new java.util.concurrent.ConcurrentHashMap[String, LogEntry]()
  private val LogCacheMaxRoots = 512
  // spec observability: cache-miss work actually done
  private[graft] val logFilesParsed =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val logFolds = new java.util.concurrent.atomic.AtomicLong

  /** Drop every cached parsed log (tests / external table rebuilds). */
  def clearLogCache(): Unit = logCache.clear()

  private val emptyLogEntry =
    new LogEntry(Map.empty, None, None, Vector.empty)

  private def readLogEntry(spark: SparkSession, root: String): LogEntry = {
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      try return readLogEntryOnce(spark, root)
      catch { case _: java.io.FileNotFoundException => () }
    }
    sys.error(s"TxLog.readLog: commit files at $root vanished mid-read 5 " +
      "times in a row — maintenance (checkpoint+expireLog) is churning " +
      "faster than readers can list; back off the maintenance cadence")
  }

  private def readLogEntryOnce(spark: SparkSession, root: String): LogEntry = {
    val dir = logDir(root)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) { logCache.remove(root); return emptyLogEntry }
    val listed = fs.listStatus(dir)
    val statOf = listed.map(st => st.getPath.getName ->
      (st.getModificationTime, st.getLen)).toMap
    val names = listed.map(_.getPath.getName)
    val chkEntry = names.collect { case n @ ChkRe(v) => (v.toLong, n) }
      .sortBy(_._1).lastOption
    val floor = chkEntry.map(_._1).getOrElse(0L)
    val files = names.collect {
      case n @ VersionRe(v) if v.toLong > floor => (v.toLong, n)
    }.sortBy(_._1)
    require(files.length <= Warehouse.MaxDriverPartitions,
      s"TxLog at $root has ${files.length} commits past the last " +
        "checkpoint, above the driver-side metadata bound — run " +
        "TxLog.checkpoint + expireLog")
    val sig = (chkEntry.map(_._2).toSeq ++ files.map(_._2))
      .map(n => n -> statOf(n)).toMap
    val prev = Option(logCache.get(root))
    prev.filter(_.sig == sig).getOrElse {
      def fresh(n: String): Boolean =
        prev.exists(p => p.sig.get(n) == sig.get(n))
      val chk = chkEntry.map { case (v, n) =>
        prev.filter(p => p.chkName.contains(n) && fresh(n))
          .flatMap(_.chk).getOrElse {
            logFilesParsed.incrementAndGet()
            parseChk(root, v, readFile(fs, new Path(dir, n)))
          }
      }
      val prevCommits: Map[String, Commit] =
        prev.map(_.commits.toMap).getOrElse(Map.empty)
      val commits = files.map { case (v, n) =>
        n -> (if (fresh(n)) prevCommits.get(n) else None).getOrElse {
          logFilesParsed.incrementAndGet()
          parseCommit(root, v, readFile(fs, new Path(dir, n)))
        }
      }.toVector
      if (logCache.size > LogCacheMaxRoots) logCache.clear()
      val entry = new LogEntry(sig, chkEntry.map(_._2), chk, commits)
      logCache.put(root, entry)
      entry
    }
  }

  /** Commit files in (lo, hi] REGARDLESS of the checkpoint floor, when
    * the full contiguous range is still on disk — the availability
    * fallback behind [[snapshotAt]]/[[readTableAt]]/[[readChangesSince]]:
    * a checkpoint (auto or manual) moves the fold floor but deletes
    * nothing, so readers below the floor stay servable until
    * [[expireLog]] actually reclaims the deltas. None once any commit in
    * the range is gone (expired — refuse loudly at the caller, exactly
    * the prior contract). */
  private def commitsRange(spark: SparkSession, root: String,
                           lo: Long, hi: Long): Option[Seq[Commit]] = {
    if (hi <= lo) return Some(Seq.empty)
    val dir = logDir(root)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return None
    try {
      val files = fs.listStatus(dir).map(_.getPath.getName)
        .collect { case n @ VersionRe(v)
          if v.toLong > lo && v.toLong <= hi => (v.toLong, n) }
        .sortBy(_._1)
      require(files.length <= Warehouse.MaxDriverPartitions,
        s"TxLog at $root: range ($lo, $hi] spans ${files.length} commits, " +
          "above the driver-side metadata bound")
      if (files.map(_._1).toSeq != ((lo + 1) to hi)) None
      else Some(files.map { case (v, n) =>
        parseCommit(root, v, readFile(fs, new Path(dir, n)))
      }.toSeq)
    } catch {
      // a commit vanishing mid-read IS the expiry signal
      case _: java.io.FileNotFoundException => None
    }
  }

  private def parseCommit(root: String, version: Long, body: String): Commit = {
    val lines = body.split("\n").toSeq.filter(_.nonEmpty)
    require(lines.headOption.contains("graft-txn-v1"),
      s"commit v$version: unknown log format header")
    checkGen(root, s"commit v$version", lines)
    def fieldOpt(k: String): Option[String] = lines
      .collectFirst { case l if l.startsWith(s"$k=") => l.drop(k.length + 1) }
    def field(k: String): String = fieldOpt(k)
      .getOrElse(sys.error(s"commit v$version: missing field $k"))
    val parts = lines.filter(_.startsWith("p\t")).map(_.split("\t"))
      .map { case Array(_, v, p) => (unesc(v), p) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).filter(_ != "-") }
    // `r\t<part>\t<file>`: files a "rewrite" commit removes
    val removed = lines.filter(_.startsWith("r\t")).map(_.split("\t"))
      .map { case Array(_, v, p) => (unesc(v), p) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
    // `c\t<file>`: change-data files (row-level CDC images)
    val changes = lines.filter(_.startsWith("c\t")).map(_.split("\t")(1))
    val dvs = parseDvs(lines)
    // `writer=<esc(id)>:<seq>`: structured idempotence identity
    val writerSeq = fieldOpt("writer").filter(_ != "-").map { w =>
      val i = w.lastIndexOf(':')
      (unesc(w.substring(0, i)), w.substring(i + 1).toLong)
    }
    // `m\t<physical>\t<logical-or-->`: full column-mapping snapshot (op
    // "meta" carries these lines even when the map is emptied)
    val mappingRows = lines.filter(_.startsWith("m\t")).map(_.split("\t", -1))
      .map { case Array(_, p, l) => unesc(p) -> unesc(l) }.toMap
    // "meta" and "restore" SNAPSHOT the mapping (an empty map is a real
    // state: all columns back at identity); other ops never carry one
    val mapping =
      if (field("op") == "meta" || field("op") == "restore")
        Some(mappingRows)
      else if (mappingRows.nonEmpty) Some(mappingRows)
      else None
    // `k\t<name>\t<expr>`: CHECK-constraint snapshot — only when the
    // commit explicitly carries one (hasConstraints marker), so
    // mapping-only meta commits leave constraints untouched
    val constraints =
      if (fieldOpt("hasConstraints").isDefined)
        Some(lines.filter(_.startsWith("k\t")).map(_.split("\t", -1))
          .map { case Array(_, n, e) => unesc(n) -> unesc(e) }.toMap)
      else None
    // `t\t<key>\t<value>`: table-property snapshot — only behind the
    // explicit marker, so other meta commits leave properties untouched
    val props =
      if (fieldOpt("hasProps").isDefined)
        Some(lines.filter(_.startsWith("t\t")).map(_.split("\t", -1))
          .map { case Array(_, k, v) => unesc(k) -> unesc(v) }.toMap)
      else None
    // `payload=<dir>` (op "restore" on a payload table): the rewritten
    // target state, plus its recorded aggregate facts
    val payloadChk = fieldOpt("payload").map { name =>
      (name, field("nfiles").toLong, field("bytes").toLong,
        field("ndvs").toLong)
    }
    Commit(version, field("op"), field("readVersion").toLong,
      Some(field("batchId")).filter(_ != "-").map(unesc), parts,
      fieldOpt("schema").filter(_ != "-").map(unesc), parseStats(lines),
      parseRows(lines), fieldOpt("part").filter(_ != "-").map(unesc),
      removed, changes, writerSeq, mapping,
      cdfPhys = fieldOpt("cdfNames").contains("phys"), dvs = dvs,
      constraints = constraints, payloadChk = payloadChk,
      sealsBatches = fieldOpt("sealBatches").isDefined, props = props)
  }

  /** `d\t<dataFile>\t<dvFile>` (one row per referenced dv parquet file)
    * plus `dn\t<dataFile>\t<deletedRows>` — the deletion-vector rows
    * (commits and v1 checkpoints share the shape). */
  private def parseDvs(lines: Seq[String]): FileDvs = {
    val files = lines.filter(_.startsWith("d\t")).map(_.split("\t"))
      .map { case Array(_, f, dv) => f -> dv }
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2) }
    val counts = lines.filter(_.startsWith("dn\t")).map(_.split("\t"))
      .map { case Array(_, f, n) => f -> n.toLong }.toMap
    files.map { case (f, dvFiles) =>
      f -> (dvFiles, counts.getOrElse(f, sys.error(
        s"deletion vector for $f has no dn row — corrupt log line")))
    }
  }

  private def renderDvs(dvs: FileDvs): Seq[String] =
    dvs.toSeq.sortBy(_._1).flatMap { case (f, (dvFiles, n)) =>
      dvFiles.sorted.map(dv => s"d\t$f\t$dv") :+ s"dn\t$f\t$n"
    }

  /** `s\t<relFile>\t<col>\t<min>\t<max>` rows (commits and checkpoints
    * share the shape). Logs written before stats recording simply have
    * none — their files are never skipped. */
  private def parseStats(lines: Seq[String]): FileStats =
    // limit -1: an empty-string bound (esc("") = "") may legitimately end
    // the line, and default split would drop the trailing empty field
    lines.filter(_.startsWith("s\t")).map(_.split("\t", -1))
      .map { case Array(_, f, c, mn, mx) => (f, (unesc(c), (unesc(mn), unesc(mx)))) }
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toMap }

  private def renderStats(stats: FileStats): Seq[String] =
    stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"s\t$f\t${esc(c)}\t${esc(mn)}\t${esc(mx)}"
      }
    }

  /** `f\t<relFile>\t<rowCount>` rows — exact footer row counts. */
  private def parseRows(lines: Seq[String]): FileRows =
    lines.filter(_.startsWith("f\t")).map(_.split("\t"))
      .map { case Array(_, f, n) => f -> n.toLong }.toMap

  private def renderRows(rows: FileRows): Seq[String] =
    rows.toSeq.sortBy(_._1).map { case (f, n) => s"f\t$f\t$n" }

  private def renderCommit(op: String, readVersion: Long,
                           batchId: Option[String],
                           parts: Map[String, Seq[String]],
                           schema: Option[String],
                           stats: FileStats,
                           rows: FileRows,
                           partSchema: Option[String],
                           removed: Map[String, Seq[String]],
                           changes: Seq[String],
                           writerSeq: Option[(String, Long)] = None,
                           mapping: Option[Map[String, String]] = None,
                           dvs: FileDvs = Map.empty,
                           constraints: Option[Map[String, String]] = None,
                           payloadChk: Option[(String, Long, Long, Long)] =
                             None,
                           sealsBatches: Boolean = false,
                           props: Option[Map[String, String]] = None,
                           changeFeed: Boolean = false)
      : String = {
    val header = Seq("graft-txn-v1", s"gen=$Generation", s"op=$op",
      s"readVersion=$readVersion",
      s"batchId=${batchId.map(esc).getOrElse("-")}",
      s"schema=${schema.map(esc).getOrElse("-")}",
      s"part=${partSchema.map(esc).getOrElse("-")}") ++
      payloadChk.toSeq.flatMap { case (name, nf, by, nd) =>
        Seq(s"payload=$name", s"nfiles=$nf", s"bytes=$by", s"ndvs=$nd") } ++
      writerSeq.map { case (id, seq) => s"writer=${esc(id)}:$seq" } ++
      // a change-recorded commit: its change files carry PHYSICAL column
      // names, and one whose rows did not change carries the marker alone
      // (the change feed serves it as a files-free window commit)
      (if (changes.nonEmpty || changeFeed) Seq("cdfNames=phys")
       else Seq.empty) ++
      (if (constraints.isDefined) Seq("hasConstraints=1") else Seq.empty) ++
      (if (props.isDefined) Seq("hasProps=1") else Seq.empty) ++
      (if (sealsBatches) Seq("sealBatches=1") else Seq.empty)
    val mappingRows = mapping.toSeq.flatMap(_.toSeq.sortBy(_._1).map {
      case (p, l) => s"m\t${esc(p)}\t${esc(l)}"
    })
    val partRows = parts.toSeq.sortBy(_._1).flatMap { case (v, fs) =>
      // a partition with NO files (a "remove" op's target) still needs a
      // log row — the "-" sentinel keeps the value enumerable on parse
      if (fs.isEmpty) Seq(s"p\t${esc(v)}\t-")
      else fs.sorted.map(f => s"p\t${esc(v)}\t$f")
    }
    val removedRows = removed.toSeq.sortBy(_._1).flatMap { case (v, fs) =>
      fs.sorted.map(f => s"r\t${esc(v)}\t$f")
    }
    val changeRows = changes.sorted.map(f => s"c\t$f")
    val constraintRows = constraints.toSeq.flatMap(_.toSeq.sortBy(_._1)
      .map { case (n, e) => s"k\t${esc(n)}\t${esc(e)}" })
    val propRows = props.toSeq.flatMap(_.toSeq.sortBy(_._1)
      .map { case (k, v) => s"t\t${esc(k)}\t${esc(v)}" })
    (header ++ mappingRows ++ constraintRows ++ propRows ++ partRows ++
      removedRows ++ changeRows ++ renderDvs(dvs) ++
      renderStats(stats) ++ renderRows(rows)).mkString("\n") + "\n"
  }

  private def parseChk(root: String, version: Long, body: String): Chk = {
    val lines = body.split("\n").toSeq.filter(_.nonEmpty)
    val header = lines.headOption.getOrElse("")
    require(header == "graft-chk-v1" || header == "graft-chk-v2",
      s"checkpoint c$version: unknown format header")
    checkGen(root, s"checkpoint c$version", lines)
    val parts = lines.filter(_.startsWith("p\t")).map(_.split("\t"))
      .map { case Array(_, v, p) => (unesc(v), p) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
    val batchIds = lines.filter(_.startsWith("b\t"))
      .map(l => unesc(l.split("\t")(1))).toSet
    // `w\t<id>\t<seq>\t<version>`: the bounded writer-seq replay ledger
    val writers = lines.filter(_.startsWith("w\t")).map(_.split("\t"))
      .map { case Array(_, id, seq, v) => unesc(id) -> (seq.toLong, v.toLong) }
      .toMap
    // `m\t<physical>\t<logical-or-->`: column mapping as of the checkpoint
    val mapping = lines.filter(_.startsWith("m\t")).map(_.split("\t", -1))
      .map { case Array(_, p, l) => unesc(p) -> unesc(l) }.toMap
    // `k\t<name>\t<expr>`: CHECK constraints (full snapshot in a chk)
    val constraints = lines.filter(_.startsWith("k\t")).map(_.split("\t", -1))
      .map { case Array(_, n, e) => unesc(n) -> unesc(e) }.toMap
    // `t\t<key>\t<value>`: table properties (full snapshot in a chk)
    val props = lines.filter(_.startsWith("t\t")).map(_.split("\t", -1))
      .map { case Array(_, k, v) => unesc(k) -> unesc(v) }.toMap
    def fieldOpt(k: String): Option[String] = lines
      .collectFirst { case l if l.startsWith(s"$k=") => l.drop(k.length + 1) }
      .filter(_ != "-")
    def field(k: String): String = fieldOpt(k)
      .getOrElse(sys.error(s"checkpoint c$version: missing field $k"))
    val schema = fieldOpt("schema").map(unesc)
    val partSchema = fieldOpt("part").map(unesc)
    if (header == "graft-chk-v2") {
      // `novals=1`: the partition-value set was omitted (too large for an
      // O(1) header) — distinct from a genuinely empty set
      val partValues =
        if (fieldOpt("novals").isDefined) None
        else Some(lines.filter(_.startsWith("v\t"))
          .map(l => unesc(l.split("\t", -1)(1))).toSet)
      Chk(version, Map.empty, batchIds, schema, Map.empty, Map.empty,
        partSchema, writers, mapping, constraints = constraints,
        payload = Some(field("payload")), partValues = partValues,
        nfiles = field("nfiles").toLong, bytes = field("bytes").toLong,
        ndvs = field("ndvs").toLong,
        sealedLedger = fieldOpt("sealed").isDefined, props = props)
    } else
      Chk(version, parts, batchIds, schema, parseStats(lines),
        parseRows(lines), partSchema, writers, mapping, parseDvs(lines),
        constraints, sealedLedger = fieldOpt("sealed").isDefined,
        props = props)
  }

  private def renderWriters(writers: Map[String, (Long, Long)]): Seq[String] =
    writers.toSeq.sortBy(_._1).map { case (id, (seq, v)) =>
      s"w\t${esc(id)}\t$seq\t$v"
    }

  private def renderMapping(mapping: Map[String, String]): Seq[String] =
    mapping.toSeq.sortBy(_._1).map { case (p, l) =>
      s"m\t${esc(p)}\t${esc(l)}"
    }

  private def renderConstraints(cs: Map[String, String]): Seq[String] =
    cs.toSeq.sortBy(_._1).map { case (n, e) => s"k\t${esc(n)}\t${esc(e)}" }

  private def renderProps(ps: Map[String, String]): Seq[String] =
    ps.toSeq.sortBy(_._1).map { case (k, v) => s"t\t${esc(k)}\t${esc(v)}" }

  private def renderChk(parts: Map[String, Seq[String]],
                        batchIds: Set[String],
                        schema: Option[String],
                        stats: FileStats,
                        rows: FileRows,
                        partSchema: Option[String],
                        writers: Map[String, (Long, Long)],
                        mapping: Map[String, String],
                        dvs: FileDvs = Map.empty,
                        constraints: Map[String, String] = Map.empty,
                        sealedLedger: Boolean = false,
                        props: Map[String, String] = Map.empty): String = {
    val partRows = parts.toSeq.sortBy(_._1).flatMap { case (v, fs) =>
      fs.sorted.map(f => s"p\t${esc(v)}\t$f")
    }
    (Seq("graft-chk-v1", s"gen=$Generation",
      s"schema=${schema.map(esc).getOrElse("-")}",
      s"part=${partSchema.map(esc).getOrElse("-")}") ++
      (if (sealedLedger) Seq("sealed=1") else Seq.empty) ++
      batchIds.toSeq.sorted.map(b => s"b\t${esc(b)}") ++
      renderWriters(writers) ++ renderMapping(mapping) ++ renderDvs(dvs) ++
      renderConstraints(constraints) ++ renderProps(props) ++
      partRows ++ renderStats(stats) ++ renderRows(rows))
      .mkString("\n") + "\n"
  }

  private def renderChkV2(payload: String, partValues: Option[Set[String]],
                          batchIds: Set[String], schema: Option[String],
                          partSchema: Option[String], nfiles: Long,
                          bytes: Long,
                          writers: Map[String, (Long, Long)],
                          mapping: Map[String, String],
                          constraints: Map[String, String],
                          ndvs: Long,
                          sealedLedger: Boolean = false,
                          props: Map[String, String] = Map.empty): String =
    (Seq("graft-chk-v2", s"gen=$Generation",
      s"schema=${schema.map(esc).getOrElse("-")}",
      s"part=${partSchema.map(esc).getOrElse("-")}",
      s"payload=$payload", s"nfiles=$nfiles", s"bytes=$bytes",
      s"ndvs=$ndvs") ++
      (if (sealedLedger) Seq("sealed=1") else Seq.empty) ++
      // None = omitted above chkMaxHeaderValues: the header stays O(1)
      // and readers derive values from the payload's `part` column
      (if (partValues.isEmpty) Seq("novals=1") else Seq.empty) ++
      batchIds.toSeq.sorted.map(b => s"b\t${esc(b)}") ++
      renderWriters(writers) ++ renderMapping(mapping) ++
      renderConstraints(constraints) ++ renderProps(props) ++
      partValues.getOrElse(Set.empty).toSeq.sorted
        .map(v => s"v\t${esc(v)}"))
      .mkString("\n") + "\n"

  /** Publish `body` as version file `v<version>.txn` — atomically, and
    * only if no other writer already claimed that version. The content is
    * first written to a private temp file, then LINKED/RENAMED into the
    * version name, so a reader can never observe a half-written commit
    * and two racers can never both succeed. Returns false on a lost race. */
  private def tryPublish(spark: SparkSession, root: String, version: Long,
                         body: String): Boolean =
    tryPublishNamed(spark, root, f"v$version%020d.txn", body)

  private def tryPublishNamed(spark: SparkSession, root: String,
                              name: String, body: String): Boolean = {
    val dir = logDir(root)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    val tmp = new Path(dir, f".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val target = new Path(dir, name)
    val store = storeOverride.getOrElse(LogStore.forScheme(fs.getScheme))
    val won = store.putIfAbsent(fs, tmp, target)
    fs.delete(tmp, false)
    won
  }

  /** Test seam: route every publish through this store instead of the
    * scheme-selected one (drives lost-race paths deterministically in
    * TxLogSpec). Production code never sets it. */
  @volatile private[graft] var storeOverride: Option[LogStore] = None

  // ---- snapshots --------------------------------------------------------

  /** Fold a checkpoint plus the commits after it into the table state —
    * O(checkpoint + delta commits) driver work whatever the table size.
    * A text checkpoint (or none) seeds `parts` with every live file; a
    * parquet checkpoint seeds a [[Payload]] base instead, and `parts`
    * then collects the post-checkpoint delta. A "restore" commit carrying
    * a payload pointer RESETS the base to that payload (the payload-table
    * restore shape: the target state was rewritten distributedly, the
    * commit references it, and subsequent commits fold on top exactly as
    * after a checkpoint). */
  private def fold(chk: Option[Chk], commits: Seq[Commit]): Snapshot = {
    // `partValues` holds the BASE value set until the delta applies below
    var payload = chk.flatMap(c => c.payload.map(dir => Payload(dir,
      c.version, c.partValues, nfiles = c.nfiles, bytes = c.bytes,
      ndvs = c.ndvs)))
    def mask(f: Payload => Payload): Unit = payload = payload.map(f)
    var parts = chk.map(_.parts).getOrElse(Map.empty[String, Seq[String]])
    var dvs = chk.map(_.dvs).getOrElse(Map.empty: FileDvs)
    commits.foreach { c =>
      c.op match {
        // an overwrite entry with an EMPTY file set DROPS the partition
        // (the full-table-overwrite idiom, same shape as "restore"):
        // the key still rides the commit's `touched` set for conflicts
        case "overwrite" =>
          mask(p => p.copy(removedParts = p.removedParts ++ c.parts.keySet))
          parts = (parts ++ c.parts).filter(_._2.nonEmpty)
        case "append" =>
          parts = c.parts.foldLeft(parts) { case (a, (v, fs)) =>
            a.updated(v, a.getOrElse(v, Seq.empty) ++ fs) }
        case "remove" =>
          mask(p => p.copy(removedParts = p.removedParts ++ c.parts.keySet))
          parts = parts -- c.parts.keySet
        case "rewrite" =>
          // file-granular swap: drop the removed files, add the staged
          // ones; a partition rewritten down to zero files disappears,
          // and a vector dies with its rewritten file
          c.touched.foreach { v =>
            val gone = c.removed.getOrElse(v, Seq.empty).toSet
            mask(p => p.copy(removedFiles = p.removedFiles ++ gone))
            dvs = dvs -- gone
            val next = parts.getOrElse(v, Seq.empty).filterNot(gone) ++
              c.parts.getOrElse(v, Seq.empty)
            parts = if (next.isEmpty) parts - v else parts.updated(v, next)
          }
        case "meta" => () // metadata-only: no file change
        case "dv" =>
          // merge-on-read position deletes: each entry is the data
          // file's new CUMULATIVE vector, replacing any prior one (a
          // payload file's too); the commit's `parts` (empty file sets)
          // exist only as the conflict-check unit
          dvs = dvs ++ c.dvs
        case "restore" => (c.payloadChk, payload) match {
          case (Some((name, nf, by, nd)), _) =>
            // payload-table restore: the target state was rewritten
            // distributedly into `name` — RESET the base to it (the
            // commit carries the metadata snapshots, so the lastOption
            // derivations below stay correct)
            val chkVersion = payload.fold(c.version)(_.chkVersion)
            payload = Some(Payload(name, chkVersion, None, nfiles = nf,
              bytes = by, ndvs = nd))
            parts = Map.empty
            dvs = Map.empty
          case (None, Some(p)) =>
            // a DRIVER-shape restore CAN land right after the payload
            // crossing: the crossing checkpoint publishes no commit, so
            // a restore staged against the driver representation can win
            // the publish race however tightly commit() re-checks (the
            // race spec finds this mechanically). Its commit carries the
            // COMPLETE target inventory — live sets, stats, rows, dvs,
            // metadata snapshots — so the payload is simply SUPERSEDED:
            // mask it entirely, make the delta the restore's live sets,
            // and the next checkpoint folds everything into a fresh
            // payload. (The parts map is driver-small by construction —
            // it was staged while the table was still driver-shape.)
            parts = c.parts.filter(_._2.nonEmpty)
            dvs = c.dvs
            payload = Some(p.copy(partValues = Some(parts.keySet),
              removedParts = Set.empty, removedFiles = Set.empty,
              nfiles = 0L, bytes = 0L, ndvs = 0L, dead = true))
          case (None, None) =>
            // full-state replacement re-referencing RETAINED files: staged
            // parts ARE the target version's live sets; partitions absent
            // at the target ride along with empty file sets and drop here;
            // deletion vectors snap back to the target's
            parts = (parts ++ c.parts).filter(_._2.nonEmpty)
            dvs = c.dvs
        }
        case other => sys.error(s"commit v${c.version}: unknown op $other")
      }
    }
    // stats: staged dirs are UUID-fresh so file paths never collide across
    // commits — merge, then keep live files only (overwrite/remove drop
    // their victims' entries here, and the checkpoint inherits the
    // already-pruned map)
    val live = parts.valuesIterator.flatten.toSet
    def liveOnly[A](kvs: Iterator[(String, A)]): Map[String, A] =
      kvs.filter { case (f, _) => live(f) }.toMap
    Snapshot(commits.lastOption.map(_.version)
      .orElse(chk.map(_.version)).getOrElse(0L), parts,
      (chk.flatMap(_.schema).toSeq ++ commits.flatMap(_.schema)).lastOption,
      liveOnly(chk.iterator.flatMap(_.stats) ++
        commits.iterator.flatMap(_.stats)),
      liveOnly(chk.iterator.flatMap(_.rows) ++
        commits.iterator.flatMap(_.rows)),
      (chk.flatMap(_.partSchema).toSeq ++
        commits.flatMap(_.partSchema)).lastOption,
      commits.flatMap(_.mapping).lastOption
        .getOrElse(chk.map(_.mapping).getOrElse(Map.empty)),
      // a payload table's vectors also override payload files', which the
      // delta does not list — only a driver table prunes to live files
      dvs = payload.fold(liveOnly(dvs.iterator))(_ => dvs),
      constraints = commits.flatMap(_.constraints).lastOption
        .getOrElse(chk.map(_.constraints).getOrElse(Map.empty)),
      props = commits.flatMap(_.props).lastOption
        .getOrElse(chk.map(_.props).getOrElse(Map.empty)),
      payload = payload.map(p => p.copy(partValues =
        p.partValues.map(_ -- p.removedParts ++ parts.keySet))))
  }

  /** The table state as of the latest commit — memoized per log window —
    * or as of `cap` (time travel / deterministic replay). */
  private def stateOf(spark: SparkSession, root: String,
                      cap: Option[Long] = None): Snapshot = {
    val entry = readLogEntry(spark, root)
    val (chk, commits) = entry.pair
    def foldNow(upTo: Seq[Commit]): Snapshot = {
      logFolds.incrementAndGet()
      fold(chk, upTo)
    }
    cap match {
      case Some(u) => foldNow(commits.filter(_.version <= u))
      case None =>
        // memoized per log window (the entry is replaced whenever the
        // listed window changes, so the memo can never serve stale state)
        entry.snap.getOrElse {
          val s = foldNow(commits)
          entry.snap = Some(s)
          s
        }
    }
  }

  /** Fold the commit log into the current table state. Version 0 = empty
    * table (no commits yet). DRIVER-RESIDENT by contract: refuses a
    * parquet-checkpointed table (its file list deliberately never fits
    * the driver, and its [[Snapshot.parts]] would list the delta only) —
    * use [[readTable]]/[[countRows]]/the front doors, which read
    * either checkpoint format. */
  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val state = stateOf(spark, root)
    state.payload.foreach { p =>
      sys.error(s"TxLog.snapshot: the table at $root " +
        s"is parquet-checkpointed (${p.nfiles}+ files at c" +
        s"${p.chkVersion}) — its file list does not driver-materialize; " +
        "use readTable/countRows or the transactional front doors")
    }
    state
  }

  /** Time travel: the table state AS OF `version` — committed data is
    * immutable and versions are a total order, so any retained version
    * reproduces exactly (the Delta `VERSION AS OF` read). Requires the
    * version to still be enumerable: at or after the latest checkpoint,
    * OR with the full pre-checkpoint commit chain still on disk (a
    * checkpoint moves the fold floor but deletes nothing — only
    * [[expireLog]] reclaims deltas, after which this fails loudly, never
    * silently serving a later state). Run [[vacuum]]/[[expireLog]] on a
    * retention schedule that matches how far back readers travel. */
  def snapshotAt(spark: SparkSession, root: String, version: Long): Snapshot = {
    val (chk, commits) = readLog(spark, root)
    // same refusal as snapshot(): a parquet-checkpointed table's file
    // list never driver-materializes — point callers at the actual
    // replacement
    for (c <- chk; _ <- c.payload)
      sys.error(s"TxLog.snapshotAt: the table at $root is " +
        s"parquet-checkpointed (${c.nfiles}+ files at c${c.version}) — " +
        "its file list does not driver-materialize; use readTableAt for " +
        "time travel")
    val floor = chk.map(_.version).getOrElse(0L)
    val have =
      if (version >= floor) fold(chk, commits.filter(_.version <= version))
      else fold(None, commitsRange(spark, root, 0L, version).getOrElse(
        sys.error(s"TxLog.snapshotAt: version $version predates the " +
          s"latest checkpoint ($floor) and its delta files are expired; " +
          "retain a longer log to time-travel that far")))
    require(have.version == version,
      s"TxLog.snapshotAt: version $version was never committed at $root " +
        s"(log ends at ${have.version} for that prefix)")
    have
  }

  /** Read a snapshot as ONE parquet scan over the live file list — the
    * production shape (a 10k-partition table must not build a 10k-branch
    * union plan). The scan mounts a [[TxFileIndex]] (the Delta
    * TahoeFileIndex pattern): partition values come from the log's
    * `value → files` mapping, and a filter on `partCol` prunes FILES at
    * the index, before any task launches. The scan's schema is the
    * snapshot's RECORDED table schema, not the footers — after additive
    * evolution ([[commit]]'s ADD-COLUMN path), pre-evolution files
    * NULL-backfill the new columns, and a [[snapshotAt]] time travel
    * reads with the schema as of that version. The scan's partition
    * schema is the full (ordered) partition StructType the log records;
    * log keys decode through [[splitPartKey]]. */
  def readSnapshot(spark: SparkSession, root: String, snap: Snapshot,
                   partSchema: org.apache.spark.sql.types.StructType): DataFrame =
    readSnapshotPos(spark, root, snap, partSchema, withPos = false)

  /** Every committed data file lives under a UUID staging dir — the
    * anchor that RELATIVIZES `_metadata.file_path` (a URL-ENCODED URI
    * whose scheme/authority rendering varies by filesystem) back to the
    * log's DECODED rel-path key space for the deletion-vector anti-join.
    * One codegen'd expression ([[graft.plans.TxRelPath]]): URI-decode,
    * then anchor on the LAST `/data/txn-` occurrence — a regex over the
    * raw URI breaks on any partition value the two encodings render
    * differently (space → `%20`, Hive's `%25` → `%2525`), silently
    * un-linking vectors from the live-file set. */
  private def relDataPath(fp: Column): Column =
    graft.plans.TxRelPathExpr(fp)

  /** [[readSnapshot]] plus position plumbing: `withPos = true` keeps the
    * `__dv_f` (rel data file) and `__dv_p` (row position) columns on the
    * output — what [[deleteWhereDvTx]] reads to compute new deletion
    * vectors. Deletion vectors always apply (a position-delete read can
    * never resurrect earlier deletes); the anti-join broadcasts the
    * vector side by size, so a dv'd read costs one codegen'd hash probe
    * per row and nothing at all on dv-free snapshots. The data schema is
    * always the snapshot's recorded one: a log of the current
    * [[Generation]] records it with its first data-bearing commit, so
    * only a log with nothing committed refuses, and no footer is read. */
  private[sources] def readSnapshotPos(spark: SparkSession, root: String,
                                       snap: Snapshot,
                                       partSchema: org.apache.spark.sql.types.StructType,
                                       withPos: Boolean,
                                       fileVersions: Option[Map[String, Long]] = None): DataFrame = {
    // an empty table READS (zero rows, the declared columns) once a
    // schema is recorded — the created-before-first-write state
    // ([[createTableTx]]); only a schema-less empty log refuses
    val dataSchema = snap.schema
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(sys.error(
        s"TxLog table at $root is empty — nothing committed yet"))
    // a payload table's index prunes the payload inside a Spark job and
    // serves the delta through the driver-side index
    val index = snap.payload
      .map(_ => new TxBigFileIndex(spark, root, snap, partSchema))
      .getOrElse(new TxFileIndex(spark, root, snap.parts, partSchema,
        snap.stats))
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index,
      partitionSchema = partSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
    val raw = org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(relation))
    // the change feed's single-scan insert frame: tag every row with the
    // commit version of the file it was scanned from, directly on the
    // relation (metadata columns resolve trivially there). Append
    // snapshots carry no deletion vectors and never ask for positions, so
    // the tag composes with nothing else — guarded rather than reasoned
    // about.
    val tagged = fileVersions match {
      case None => raw
      case Some(m) =>
        require(snap.dvs.isEmpty && !withPos, "TxLog.readSnapshotPos: " +
          "fileVersions tagging is the append-window change-feed path — " +
          "it does not compose with deletion vectors or position plumbing")
        raw.withColumn("_commit_version",
          graft.plans.TxFileVersionExpr(
            relDataPath(col("_metadata.file_path")), m))
    }
    val undeleted = applyDvJoin(spark, root, tagged,
      dvFilesOf(spark, root, snap), withPos)
    val out = applyMapping(undeleted, snap.mapping, partSchema)
    if (withPos) out else out.drop("__dv_f", "__dv_p")
  }

  /** A deletion-vector sidecar's fixed layout, read without inference. */
  private val DvSchema =
    org.apache.spark.sql.types.StructType.fromDDL("file STRING, pos BIGINT")

  /** Tag each scanned row with its (rel data file, row position) and
    * anti-join the live deletion vectors — the merge-on-read filter.
    * Over-inclusion of SUPERSEDED sidecars is safe by construction:
    * vectors are cumulative, so a stale sidecar's positions are a subset
    * of the live one's. `withPos = true` keeps the identity columns. */
  private def applyDvJoin(spark: SparkSession, root: String, df: DataFrame,
                          dvFiles: Seq[String], withPos: Boolean): DataFrame = {
    val tagged =
      if (!withPos && dvFiles.isEmpty) df
      else df
        .withColumn("__dv_f", relDataPath(col("_metadata.file_path")))
        .withColumn("__dv_p", col("_metadata.row_index"))
    if (dvFiles.isEmpty) tagged
    else {
      val dv = spark.read.schema(DvSchema)
        .parquet(dvFiles.map(f => s"$root/$f"): _*)
        .select(col("file").as("__dv_f"), col("pos").as("__dv_p"))
      tagged.join(dv, Seq("__dv_f", "__dv_p"), "left_anti")
    }
  }

  /** Live sidecar cap: the read-side anti-join unions every live vector
    * file, a bounded driver artifact by the same contract as
    * [[DataSkipping]] — a table accumulating more must compact
    * (materialize) on its maintenance schedule. */
  val DefaultMaxDvFiles = 65536

  /** Every live deletion-vector sidecar of `snap`: its own vectors plus,
    * on a payload table, the payload's recorded ones (superseded
    * sidecars may ride along — harmless, see [[applyDvJoin]]), found by
    * ONE distributed job over the payload. The driver holds sidecar paths
    * only, capped loudly. */
  private def dvFilesOf(spark: SparkSession, root: String,
                        snap: Snapshot): Seq[String] = {
    val fromPayload = snap.payload.toSeq.flatMap { p =>
      // the recorded ndvs count lets a dv-free table skip the discovery
      // job entirely — the common case costs nothing
      if (p.ndvs == 0L) Seq.empty
      else payloadLiveDF(spark, root, p).filter(col("dvfiles").isNotNull)
        .select(explode(col("dvfiles")).as("dv")).distinct()
        .limit(DefaultMaxDvFiles + 1).collect().map(_.getString(0)).toSeq
    }
    val all = (fromPayload ++ snap.dvs.values.flatMap(_._1)).distinct
    require(all.size <= DefaultMaxDvFiles,
      s"TxLog: the table at $root has more than $DefaultMaxDvFiles live " +
        "deletion-vector sidecars — compact (materialize) the dv'd " +
        "partitions")
    all
  }

  /** `state` narrowed to the bounded file set `files`, carrying their live
    * deletion vectors — the candidate read of a file-granular rewrite
    * (vectors apply to the read and die with the replaced files). On a
    * payload table the vectors `state` does not override resolve with
    * one selective payload query. */
  private def filesSnapshot(spark: SparkSession, root: String,
                            state: Snapshot,
                            files: Map[String, Seq[String]]): Snapshot = {
    val fileSet = files.valuesIterator.flatten.toSet
    val own = state.dvs.filter { case (f, _) => fileSet(f) }
    val fromPayload: FileDvs = state.payload.filter(_ => fileSet.nonEmpty)
      .fold(Map.empty: FileDvs) { p =>
        val rest = fileSet -- own.keySet
        if (rest.isEmpty || p.ndvs == 0L) Map.empty
        else payloadLiveDF(spark, root, p)
          .filter(col("file").isin(rest.toSeq: _*) && col("dvfiles").isNotNull)
          .select("file", "dvfiles", "dvrows").collect()
          .map(r => r.getString(0) ->
            (r.getSeq[String](1).toSeq, r.getLong(2))).toMap
      }
    Snapshot(state.version, files, state.schema, Map.empty, Map.empty,
      state.partSchema, mapping = state.mapping, dvs = own ++ fromPayload)
  }

  /** Two partition → files maps as one, `a`'s files first in a shared
    * partition — a payload table's selection plus its delta's. */
  private[sources] def unionParts[A](a: Map[String, Seq[A]],
                                     b: Map[String, Seq[A]])
      : Map[String, Seq[A]] =
    (a.keySet ++ b.keySet).map { v =>
      v -> (a.getOrElse(v, Seq.empty) ++ b.getOrElse(v, Seq.empty))
    }.toMap

  /** COLUMN MAPPING at read time (the Delta column-mapping shape): the
    * scan runs over PHYSICAL column names (what the files and the
    * recorded stats carry); a renamed table wraps it in one projection
    * aliasing physical→logical and dropping tombstoned columns. Filters
    * on logical names push back THROUGH the projection into physical
    * attributes (Catalyst predicate pushdown), so per-file stats
    * skipping keeps pruning on renamed columns with zero file rewrites. */
  private def applyMapping(df: DataFrame, mapping: Map[String, String],
                           partSchema: org.apache.spark.sql.types.StructType): DataFrame =
    if (mapping.isEmpty) df
    else {
      val partNames = partSchema.map(_.name).toSet
      val cols = df.schema.fields.toSeq.flatMap { f =>
        if (partNames(f.name)) Some(col(f.name))
        else mapping.get(f.name) match {
          case Some("-") => None // dropped (tombstoned physical column)
          case Some(l) => Some(col(f.name).as(l))
          case None => Some(col(f.name))
        }
      }
      df.select(cols: _*)
    }

  /** A recorded partition-schema DDL as a StructType, or a loud refusal
    * naming `who`: a log records it with its first data-bearing commit. */
  private def partSchemaOf(partSchema: Option[String], root: String,
                           who: String): org.apache.spark.sql.types.StructType =
    partSchema
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(sys.error(s"$who: the log at $root records no partition " +
        "columns — nothing partitioned was committed yet"))

  /** [[partSchemaOf]] for a rewrite front door, which names `partCol`:
    * a name that is not one of the recorded partition columns is
    * refused, as [[replaceTableTx]] refuses foreign `partCols`. */
  private def rewritePartSchema(state: Snapshot, root: String, who: String,
                                partCol: String)
      : org.apache.spark.sql.types.StructType = {
    val ps = partSchemaOf(state.partSchema, root, who)
    require(ps.fieldNames.contains(partCol),
      s"$who: [$partCol] is not a partition column of $root (recorded: " +
        s"[${ps.fieldNames.mkString(", ")}])")
    ps
  }

  /** Read the CURRENT state using the log's own recorded partition
    * metadata — the partition columns are TABLE state, not reader
    * knowledge (callers that hardcode them can drift from the writer;
    * this can't). */
  def readTable(spark: SparkSession, root: String): DataFrame = {
    val state = stateOf(spark, root)
    readSnapshot(spark, root, state,
      partSchemaOf(state.partSchema, root, "TxLog.readTable"))
  }

  /** Time-travel read AS OF `version` on either checkpoint
    * representation — the [[snapshotAt]] contract ([[readTable]]'s
    * partition-metadata resolution included) without requiring the file
    * list to driver-materialize: a parquet-checkpointed table time
    * travels with the same payload scan plus a version-capped delta. */
  def readTableAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val floor = readLog(spark, root)._1.map(_.version).getOrElse(0L)
    val state =
      if (version >= floor) stateOf(spark, root, cap = Some(version))
      else
        // below the floor but before expiry: the full pre-checkpoint
        // chain still folds (a checkpoint deletes nothing)
        fold(None, commitsRange(spark, root, 0L, version).getOrElse(
          sys.error(s"TxLog.readTableAt: version $version predates the " +
            s"latest checkpoint ($floor) and its delta files are " +
            "expired; retain a longer log to time-travel that far")))
    require(state.version == version,
      s"TxLog.readTableAt: version $version was never committed at $root")
    readSnapshot(spark, root, state,
      partSchemaOf(state.partSchema, root, "TxLog.readTableAt"))
  }

  /** Time travel BY TIMESTAMP — resolve the latest version whose commit
    * file landed at or before `tsMillis` (commit-file mtime, the storage
    * system's clock — exactly the Delta `TIMESTAMP AS OF` contract).
    * Only retained commits resolve: a timestamp past the expiry horizon
    * refuses loudly, like every other expired time travel. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val dir = logDir(root)
    val fs = fsOf(spark, dir)
    require(fs.exists(dir), s"TxLog.versionAsOf: no log at $root")
    // checkpoints resolve too: after checkpoint+expireLog the chk file
    // may be the ONLY log entry left, and a current timestamp must
    // still resolve the current version
    val vs = fs.listStatus(dir).flatMap { st =>
      st.getPath.getName match {
        case VersionRe(v) => Some((v.toLong, st.getModificationTime))
        case ChkRe(v) => Some((v.toLong, st.getModificationTime))
        case _ => None
      }
    }
    require(vs.nonEmpty, s"TxLog.versionAsOf: no commits at $root")
    val at = vs.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"TxLog.versionAsOf: timestamp $tsMillis predates the earliest " +
        s"RETAINED commit at $root (v${vs.minBy(_._2)._1} at " +
        s"${vs.map(_._2).min}) — earlier history is expired")
    at.maxBy(_._1)._1
  }

  /** Parse a user-facing timestamp OPTION value (`timestampAsOf`,
    * `startingTimestamp`) to epoch millis: an all-digits string is epoch
    * millis verbatim; anything else parses as a timestamp/date string in
    * the session time zone — so `.option("timestampAsOf", "2026-01-01")`
    * and SQL `TIMESTAMP AS OF '2026-01-01'` agree. */
  private[graft] def tsOptionMillis(spark: SparkSession, s: String): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else {
      val zid = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
      org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), zid)
        .map(micros => Math.floorDiv(micros, 1000L))
        .getOrElse(sys.error(s"txlog: [$s] is not a timestamp — use " +
          "'yyyy-MM-dd[ HH:mm:ss[.SSS]]' or epoch millis"))
    }

  /** [[readTableAt]] keyed by wall-clock instead of version. */
  def readTableAsOf(spark: SparkSession, root: String,
                    tsMillis: Long): DataFrame =
    readTableAt(spark, root, versionAsOf(spark, root, tsMillis))

  /** Metadata-only COUNT: the exact row count of every partition passing
    * `select`, answered from the log's recorded footer counts — zero
    * tasks, zero file opens (the Delta numRecords move: at 100 TB a
    * COUNT(*) over a table or partition slice must not be a scan).
    * Some(n) only when EVERY live file in the selection carries a
    * recorded count; None sends the caller to a real scan (correctness
    * never degrades to an estimate). */
  def countRows(spark: SparkSession, root: String,
                select: String => Boolean = _ => true): Option[Long] = {
    val total = partitionCounts(spark, root)
      .collect { case (v, n) if select(v) => n }
    if (total.forall(_.nonEmpty)) Some(total.flatten.sum) else None
  }

  /** Per-partition metadata-only counts; a partition holding any file
    * without a recorded count reports None (scan to answer). On a
    * parquet-checkpointed table this is ONE aggregation job over the
    * payload (plus the driver-side delta) — O(partitions) driver rows,
    * never O(files). */
  def partitionCounts(spark: SparkSession, root: String): Map[String, Option[Long]] = {
    val snap = stateOf(spark, root)
    // deletion vectors subtract exactly (cumulative per-file counts ride
    // the log), so merge-on-read deletes stay metadata-countable
    val own = snap.parts.map { case (v, fs) =>
      v -> (if (fs.forall(snap.rows.contains))
              Some(fs.map(f => snap.rows(f) -
                snap.dvs.get(f).map(_._2).getOrElse(0L)).sum)
            else None)
    }
    snap.payload.fold(own) { p =>
      var df = payloadLiveDF(spark, root, p)
      // files whose vector was overridden after the checkpoint leave
      // the distributed agg and re-enter with their overridden counts
      val ovKeys = snap.dvs.keySet.toSeq
      if (ovKeys.nonEmpty) df = df.filter(not(col("file").isin(ovKeys: _*)))
      val effRows = col("rows") - coalesce(col("dvrows"), lit(0L))
      val payload = df.groupBy("part")
        .agg(sum(effRows).as("n"), count(lit(1)).as("nf"),
          count(col("rows")).as("nr"))
        .collect().map { r =>
          // any file without a recorded count poisons its partition
          (r.getString(0),
           if (r.getLong(2) == r.getLong(3)) Option(r.get(1))
             .map(_.asInstanceOf[Long])
           else None)
        }.toMap
      val ovByPart: Map[String, Option[Long]] =
        if (ovKeys.isEmpty) Map.empty
        else payloadLiveDF(spark, root, p)
          .filter(col("file").isin(ovKeys: _*))
          .select("part", "file", "rows").collect().toSeq
          .map { r =>
            (r.getString(0), Option(r.get(2)).map(_.asInstanceOf[Long] -
              snap.dvs(r.getString(1))._2))
          }
          .groupBy(_._1).map { case (v, xs) =>
            v -> (if (xs.forall(_._2.nonEmpty)) Some(xs.flatMap(_._2).sum)
                  else None)
          }
      (payload.keySet ++ ovByPart.keySet ++ own.keySet).map { v =>
        val all = Seq(payload.get(v), ovByPart.get(v), own.get(v)).flatten
        v -> (if (all.forall(_.nonEmpty)) Some(all.flatten.sum) else None)
      }.toMap
    }
  }

  /** Incremental consumption: the rows APPENDED after `sinceVersion`,
    * as one scan over exactly the delta commits' files, plus the version
    * the caller should checkpoint for its next call — the Delta
    * change-feed read in honest batch form (downstream incremental ETL
    * re-reads O(new data), never O(table)). Append-only contract:
    * an overwrite/remove commit inside the window is REFUSED loudly —
    * its effect is not expressible as appended rows — unless
    * `skipNonAppend` accepts losing those commits' changes (the Delta
    * ignoreChanges posture, for pipelines that handle rewrites out of
    * band, e.g. by full refresh on compaction epochs). Note plain
    * [[compactPartitionsTx]] commits an overwrite: schedule incremental
    * consumers against append-dominated tables and let them drain
    * before maintenance, or pass skipNonAppend and reconcile on a
    * snapshot cadence. `sinceVersion` must be at or after the latest
    * checkpoint (earlier deltas may be expired — same contract as
    * [[snapshotAt]]); 0 = from the beginning. Returns None when the
    * window holds no appended rows. */
  def readChangesSince(spark: SparkSession, root: String, sinceVersion: Long,
                       skipNonAppend: Boolean = false,
                       untilVersion: Option[Long] = None)
      : (Option[DataFrame], Long) = {
    val w = changeWindow(spark, root, "TxLog.readChangesSince", sinceVersion,
      untilVersion, checkCap = true,
      "delta commits are expired; re-baseline from a full snapshot read")
    val deltaParts = w.liveAppends(spark, skipNonAppend,
        "TxLog.readChangesSince", "their effect cannot be expressed as " +
          "appended rows; re-baseline from a snapshot read, or pass " +
          "skipNonAppend if rewrites are reconciled out of band")
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
      .filter(_._2.nonEmpty)
    if (deltaParts.isEmpty) (None, w.version)
    else {
      val stats = w.window.iterator.flatMap(_.stats)
        .filter { case (f, _) => deltaParts.exists(_._2.contains(f)) }.toMap
      val ps = partSchemaOf(w.partSchema, root, "TxLog.readChangesSince")
      (Some(readSnapshot(spark, root,
        Snapshot(w.version, deltaParts, w.schema, stats,
          partSchema = None, mapping = w.mapping), ps)),
        w.version)
    }
  }

  /** ROW-LEVEL change feed — the Delta CDF read: every window commit's
    * changes as rows tagged `_change_type` ∈ {insert, delete,
    * update_preimage, update_postimage} and `_commit_version`, so
    * incremental consumers can follow a table THROUGH keyed
    * MERGE/DELETE (which [[readChangesSince]] must refuse — a rewrite
    * is not expressible as appended rows). Appends surface their FULL
    * file contents as inserts (no liveness filter: a later in-window
    * rewrite's delete/preimage rows account for removals — the pairing
    * that makes the feed replayable); rewrite commits surface their
    * write-time change files (written by `changeFeed = true` on the
    * MERGE/DELETE — a rewrite without them refuses loudly, as do
    * overwrite/remove). Same floor/cap contract as [[readChangesSince]].
    * RETENTION: the feed lives under BOTH horizons — change files are
    * vacuum-protected while their commit is retained, but an append
    * window replays from its ORIGINAL data files, which a rewrite
    * orphans and [[vacuum]] reclaims after `minAgeMs`; size the vacuum
    * retention window (default 1 h) to the consumer's maximum lag,
    * exactly the Delta CDF contract. */
  def readChangeFeed(spark: SparkSession, root: String, sinceVersion: Long,
                     untilVersion: Option[Long] = None)
      : (Option[DataFrame], Long) = {
    val w = changeWindow(spark, root, "TxLog.readChangeFeed", sinceVersion,
      untilVersion, checkCap = true, "commits (and change files) are " +
        "expired; re-baseline from a full snapshot read")
    // COLUMN-MAPPED TABLES: the whole feed serves under the mapping AS OF
    // the window end (the Delta CDF-under-column-mapping posture) — data
    // files and new-writer change files both carry PHYSICAL names, which
    // never change, so one end-mapping projection re-maps every
    // historical window: renamed columns surface under their END name,
    // dropped columns vanish, later-added columns NULL-backfill.
    val endMapping = w.mapping
    val (appends, dml) = w.feedCommits()
    val ps = partSchemaOf(w.partSchema, root, "TxLog.readChangeFeed")
    // ALL append commits of the window serve from ONE scan: their frames
    // were structurally identical (same recorded schema, same end-of-
    // window mapping, no deletion vectors) and differed only in file set
    // and the _commit_version literal — so the file sets merge into one
    // Snapshot and each row's version derives from the file it was
    // scanned from (TxFileVersionExpr over _metadata.file_path). One
    // relation instead of O(window versions): planning no longer grows
    // with the window, which is what a 100 TB log's wide replay windows
    // need (and what keeps a long window from exploding the union plan).
    val insertFrame: Option[DataFrame] =
      if (appends.isEmpty) None
      else {
        val mergedParts: Map[String, Seq[String]] =
          appends.flatMap(_.parts.toSeq)
            .groupBy(_._1).map { case (p, xs) => p -> xs.flatMap(_._2) }
        val mergedStats = appends.iterator.flatMap(_.stats).toMap
        val fileVersions: Map[String, Long] = appends.iterator.flatMap(c =>
          c.parts.valuesIterator.flatten.map(_ -> c.version)).toMap
        val f = readSnapshotPos(spark, root,
            Snapshot(w.version, mergedParts, w.schema, mergedStats,
              mapping = endMapping), ps, withPos = false,
            fileVersions = Some(fileVersions))
          .withColumn("_change_type", lit("insert"))
        // the feed's declared column order: data…, partitions…,
        // _change_type, _commit_version (what the per-version frames
        // produced)
        Some(f.select(f.columns
          .filterNot(c => c == "_commit_version" || c == "_change_type")
          .map(col).toSeq ++ Seq(col("_change_type"), col("_commit_version")): _*))
      }
    // change files are read with a schema built from the log, never
    // inferred. Routed ones ([[stageRouted]]) carry partition values and
    // `_change_type` in their path: like the appends, all of the window's
    // serve from ONE scan whose partition schema gains `_change_type`,
    // each row's version derived from its file.
    val routed = dml.flatMap(c => c.changes.map(_ -> c.version))
    val changeType = org.apache.spark.sql.types.StructField(
      "_change_type", StringType)
    val routedFrame: Option[DataFrame] =
      if (routed.isEmpty) None
      else {
        val byKey = routed.map { case (f, _) =>
          val (t, key) = routedChangeOf(f, ps.length)
          (renderPartKey(splitPartKey(key, ps.length) :+ t), f)
        }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
        Some(readSnapshotPos(spark, root,
          Snapshot(w.version, byKey, w.schema, mapping = endMapping),
          org.apache.spark.sql.types.StructType(ps.fields :+ changeType),
          withPos = false, fileVersions = Some(routed.toMap)))
      }
    val frames = insertFrame.toSeq ++ routedFrame
    if (frames.isEmpty) (None, w.version)
    else (Some(frames.reduce(
      _.unionByName(_, allowMissingColumns = true))), w.version)
  }

  /** Table metadata for external readers (the streaming source): the
    * recorded data schema and the full (ordered) partition schema.
    * Refuses a log that has recorded neither yet. */
  private[graft] def tableMeta(spark: SparkSession, root: String)
      : (org.apache.spark.sql.types.StructType,
         org.apache.spark.sql.types.StructType) = {
    val (chk, commits) = readLog(spark, root)
    val schema = (chk.flatMap(_.schema).toSeq ++ commits.flatMap(_.schema))
      .lastOption.map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(sys.error(s"TxLog.tableMeta: no recorded schema at $root"))
    val ps = partSchemaOf((chk.flatMap(_.partSchema).toSeq ++
      commits.flatMap(_.partSchema)).lastOption, root, "TxLog.tableMeta")
    (schema, ps)
  }

  /** Whether a committed log exists at `root` (any commit or
    * checkpoint file) — the PRECISE "table not created yet" test, so
    * callers need no catch-all around [[tableMeta]] (whose real errors
    * must stay loud). */
  private[graft] def tableExists(spark: SparkSession, root: String): Boolean = {
    val dir = logDir(root)
    val fs = fsOf(spark, dir)
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      st.getPath.getName match {
        case VersionRe(_) | ChkRe(_) => true
        case _ => false
      }
    }
  }

  /** Latest committed version (0 = empty log). */
  private[graft] def currentVersion(spark: SparkSession, root: String): Long = {
    val (chk, commits) = readLog(spark, root)
    commits.lastOption.map(_.version).orElse(chk.map(_.version)).getOrElse(0L)
  }

  /** A change window (since, until] resolved against the log: the ONE
    * window rule behind [[readChangesSince]], [[readChangeFeed]] and the
    * streaming source's planners ([[appendWindowFiles]],
    * [[changeFeedWindowFiles]]), so batch and stream select the same files
    * by construction. `all` is the uncapped log after the earlier of
    * `since` and the checkpoint floor, `commits` its part up to the cap,
    * `window` their part after `since`; `who` names the reader in its
    * refusals. */
  private final case class ChangeWindow(who: String, root: String,
                                        chk: Option[Chk], all: Seq[Commit],
                                        commits: Seq[Commit], since: Long) {
    val window: Seq[Commit] = commits.filter(_.version > since)
    lazy val version: Long = commits.lastOption.map(_.version)
      .orElse(chk.map(_.version)).getOrElse(0L)
    lazy val schema: Option[String] =
      (chk.flatMap(_.schema).toSeq ++ commits.flatMap(_.schema)).lastOption
    lazy val partSchema: Option[String] =
      (chk.flatMap(_.partSchema).toSeq ++ commits.flatMap(_.partSchema))
        .lastOption
    lazy val mapping: Map[String, String] =
      commits.flatMap(_.mapping).lastOption
        .getOrElse(chk.map(_.mapping).getOrElse(Map.empty))

    /** The window's appended files still LIVE at its end, as (partition,
      * file). Non-append commits refuse (`refuser: commits [...] are not
      * appends — hint`) unless `skipNonAppend`; "meta" commits (column
      * mapping) change no rows and never refuse. An appended file a later
      * (skipped) overwrite/remove/rewrite already replaced must not
      * resurrect rows the table no longer has. Liveness is decided from
      * the window alone (a window append can only die to a LATER commit in
      * range), so this never folds the full table — O(window commits)
      * whatever the table size. PAYLOAD-shape restores (parts-free commits
      * with a payload pointer) carry their survivor set in the payload, so
      * pre-restore candidates survive by ONE membership probe against the
      * LAST such restore's payload, bounded by the candidate files — the
      * driver-shape restore's re-reference semantics at payload scale. */
    def liveAppends(spark: SparkSession, skipNonAppend: Boolean,
                    refuser: String, hint: String): Seq[(String, String)] = {
      val nonAppend = window.filterNot(c => c.op == "append" || c.op == "meta")
      if (nonAppend.nonEmpty && !skipNonAppend)
        sys.error(s"$refuser: commits " +
          s"[${nonAppend.map(c => s"v${c.version}:${c.op}").mkString(", ")}] " +
          s"are not appends — $hint")
      def liveAfter(va: Long, part: String, file: String): Boolean =
        !commits.exists(c => c.version > va && (
          ((c.op == "overwrite" || c.op == "remove" || c.op == "restore") &&
            c.parts.contains(part) &&
            // a restore RE-REFERENCES old files — one it carries stays live
            !c.parts.getOrElse(part, Seq.empty).contains(file)) ||
          (c.op == "rewrite" &&
            c.removed.getOrElse(part, Seq.empty).contains(file))))
      val cands = window.filter(_.op == "append").flatMap { c =>
        c.parts.toSeq.flatMap { case (v, fs) =>
          fs.filter(f => liveAfter(c.version, v, f)).map(f => (c.version, v, f))
        }
      }
      commits.filter(c => c.op == "restore" && c.payloadChk.isDefined)
        .lastOption match {
        case None => cands.map { case (_, v, f) => (v, f) }
        case Some(pr) =>
          val (before, after) = cands.partition(_._1 < pr.version)
          val names = before.map(_._3)
          val surviving: Set[String] =
            if (names.isEmpty) Set.empty
            else {
              import spark.implicits._
              spark.read.schema(PayloadSchema)
                .parquet(s"$root/_txlog/${pr.payloadChk.get._1}")
                .filter(col("file").isin(names.distinct: _*))
                .select("file").as[String].collect().toSet
            }
          before.collect { case (_, v, f) if surviving(f) => (v, f) } ++
            after.map { case (_, v, f) => (v, f) }
      }
    }

    /** The change feed's window commits as (appends, DML rewrites/dvs),
      * under its eligibility rule: every commit carries a row-level change
      * record, so overwrite/remove/restore (or a rewrite without change
      * files) refuse. */
    def feedCommits(): (Seq[Commit], Seq[Commit]) = {
      val bad = window.filter(c => c.op == "overwrite" || c.op == "remove" ||
        c.op == "restore" ||
        ((c.op == "rewrite" || c.op == "dv") && c.changes.isEmpty &&
          !c.cdfPhys))
      require(bad.isEmpty, s"$who: commits " +
        s"[${bad.map(c => s"v${c.version}:${c.op}").mkString(", ")}] carry " +
        "no row-level change record — overwrite/remove/restore are not " +
        "CDC-able, and a rewrite serves the feed only when written with " +
        "changeFeed = true")
      (window.filter(_.op == "append"),
        window.filter(c => c.op == "rewrite" || c.op == "dv"))
    }
  }

  /** Resolve (since, until] for a change reader. Below the checkpoint
    * floor the window still serves while its commits are on disk (a
    * checkpoint, auto or manual, deletes nothing — only [[expireLog]]
    * does); once expired it refuses (`who: version … predates the latest
    * checkpoint (…) and its <expired>`). `until` caps the window for
    * DETERMINISTIC REPLAY: a consumer that crashed after delivering
    * (since, vOld] must re-read the byte-identical window under the
    * identical tag even when NEW commits landed in between — liveness too
    * is evaluated AS OF the cap, so a post-cap overwrite can neither
    * shrink nor leak into the replay. With `checkCap` a cap before `since`
    * or one never committed refuses loudly rather than silently serve a
    * narrower window tagged with a different version. */
  private def changeWindow(spark: SparkSession, root: String, who: String,
                           since: Long, until: Option[Long],
                           checkCap: Boolean, expired: String): ChangeWindow = {
    val (chk, commitsAfter) = readLog(spark, root)
    val floor = chk.map(_.version).getOrElse(0L)
    val all =
      if (since >= floor || since == 0L && floor == 0L) commitsAfter
      else commitsRange(spark, root, since, floor)
        .map(_ ++ commitsAfter).getOrElse(
          sys.error(s"$who: version $since predates the latest checkpoint " +
            s"($floor) and its $expired"))
    val commits = until.fold(all) { u =>
      if (checkCap)
        require(u >= since, s"$who: cap $u precedes sinceVersion $since")
      val capped = all.filter(_.version <= u)
      if (checkCap)
        require(capped.lastOption.map(_.version).getOrElse(floor) == u,
          s"$who: cap version $u was never committed at $root")
      capped
    }
    ChangeWindow(who, root, chk, all, commits, since)
  }

  /** The APPEND window (since, until] as (partition value, rel file,
    * length) triples with liveness evaluated at `until` — the streaming
    * source's per-micro-batch file plan ([[readChangesSince]] semantics,
    * files instead of a DataFrame). */
  private[graft] def appendWindowFiles(spark: SparkSession, root: String,
                                       since: Long, until: Long,
                                       skipNonAppend: Boolean)
      : Seq[(String, String, Long)] = {
    val w = changeWindow(spark, root, "TxLog.appendWindowFiles", since,
      Some(until), checkCap = false, "delta commits are expired — restart " +
        "the stream from a fresh checkpoint over a snapshot read")
    val rels = w.liveAppends(spark, skipNonAppend, "TxLog streaming source",
      "a rewrite/overwrite cannot stream as appended rows; re-baseline the " +
        "consumer, or set skipNonAppend=true if rewrites are reconciled " +
        "out of band")
    if (rels.isEmpty) Seq.empty
    else {
      val meta = statusByRel(spark, root, rels.map(_._2))
      rels.map { case (v, rel) =>
        (v, rel, meta.getOrElse(rel, sys.error(
          s"TxLog streaming source: live file $rel missing under $root — " +
            "vacuum ran inside the stream's window?"))._1)
      }
    }
  }

  /** One file of a CDF stream's micro-batch plan: `kind` is "data" (an
    * append commit's file, streamed as inserts) or "change" (a DML
    * commit's routed change file: partition key and `changeType` from
    * its path). */
  private[graft] final case class ChangePlanFile(kind: String,
                                                 partKey: String, rel: String,
                                                 length: Long, version: Long,
                                                 changeType: String = "")

  /** The CHANGE-FEED window (since, until] as a per-file plan — the
    * streaming source's micro-batch planner ([[readChangeFeed]]
    * semantics, files instead of a DataFrame): append commits contribute
    * their data files (full contents as inserts — a later in-window
    * rewrite's delete/preimage rows account for removals), rewrite
    * commits their write-time change files; overwrite/remove (or a
    * rewrite without change files) refuses loudly, exactly the batch
    * feed's contract. */
  private[graft] def changeFeedWindowFiles(spark: SparkSession, root: String,
                                           since: Long, until: Long)
      : Seq[ChangePlanFile] = {
    val w = changeWindow(spark, root, "TxLog CDF stream", since, Some(until),
      checkCap = false, "commits (and change files) are expired; restart " +
        "the stream from a fresh checkpoint over a snapshot read")
    // column-mapped tables serve: data and change files all carry
    // PHYSICAL names, and the reader decodes physically and reports the
    // stream-start logical schema
    val (appends, dml) = w.feedCommits()
    val dataRels = appends.flatMap { c =>
      c.parts.toSeq.flatMap { case (v, fs) => fs.map(f => (v, f, c.version)) }
    }
    val cdfRels = dml.flatMap(c => c.changes.map(f => (f, c.version)))
    if (dataRels.isEmpty && cdfRels.isEmpty) return Seq.empty
    val meta = statusByRel(spark, root,
      dataRels.map(_._2) ++ cdfRels.map(_._1))
    def lenOf(rel: String): Long = meta.getOrElse(rel, sys.error(
      s"TxLog CDF stream: live file $rel missing under $root — vacuum " +
        "ran inside the stream's window?"))._1
    val nPart = partSchemaOf(w.partSchema, root, "TxLog CDF stream").length
    dataRels.map { case (v, f, ver) =>
      ChangePlanFile("data", v, f, lenOf(f), ver)
    } ++ cdfRels.map { case (f, ver) =>
      val (t, key) = routedChangeOf(f, nPart)
      ChangePlanFile("change", key, f, lenOf(f), ver, t)
    }
  }

  /** Incremental-ETL consumption driver over [[readChangesSince]] — the
    * bronze→silver pipeline shape: each cycle reads the rows appended
    * since the durably checkpointed version, hands them to `process`
    * tagged with the window-end version (the DETERMINISTIC replay key),
    * and advances the checkpoint only AFTER `process` returns.
    *
    * EXACTLY-ONCE PROTOCOL (two-phase checkpoint): before `process`
    * runs, the chosen window-end version is written to the checkpoint
    * as an IN-FLIGHT INTENT; a crash anywhere between that write and
    * the committed-version advance replays, on restart, the
    * byte-identical window `(committed, intent]` under the identical
    * tag — readChangesSince is CAPPED at the intent, so commits that
    * land between the crash and the restart can neither widen the
    * replayed window nor shift its tag (without the cap, a concurrent
    * append would re-tag the replay with a fresh version the
    * downstream ledger has never seen, silently double-applying the
    * already-committed rows). An idempotent sink —
    * `appendBatchTx(out, batchId = s"name-$windowEnd")` — then dedups
    * the replay in the downstream ledger, making tx-table → tx-table
    * incremental pipelines exactly-once with zero coordination.
    *
    * The checkpoint swap itself is an OVERWRITING rename (old content
    * survives until the new file is fully in place — never a
    * delete-then-rename window that could strand the consumer back at
    * version 0). One consumer per checkpoint path (the file is plain
    * last-write-wins state, like a Kafka consumer offset).
    *
    * RE-BASELINE: a checkpoint that predates the log's retention floor
    * (maintenance expired its delta commits) normally fails loudly; with
    * `reBaseline = true` the consumer instead delivers one FULL snapshot
    * read tagged with the current version and resumes incrementally from
    * there — the downstream must treat that window as a refresh, not an
    * append (same posture as skipNonAppend: rewrites reconciled out of
    * band). Runs until the log is drained or `maxCycles`; returns the
    * number of delivered windows. */
  def consumeChanges(spark: SparkSession, root: String,
                     checkpointPath: String,
                     maxCycles: Int = Int.MaxValue,
                     skipNonAppend: Boolean = false,
                     reBaseline: Boolean = false)
                    (process: (DataFrame, Long) => Unit): Int = {
    val cp = new Path(checkpointPath)
    val fs = fsOf(spark, cp)
    // checkpoint format: "<committed>" or "<committed> <intent>"; the
    // intent line survives only across a crashed delivery
    def readCp(): (Long, Option[Long]) =
      if (!fs.exists(cp)) (0L, None)
      else readFile(fs, cp).trim.split("\\s+") match {
        case Array(c) => (c.toLong, None)
        case Array(c, i) => (c.toLong, Some(i.toLong))
        case other => sys.error(s"consumeChanges: unparseable checkpoint " +
          s"at $cp: ${other.mkString(" ")}")
      }
    def writeCp(committed: Long, intent: Option[Long]): Unit = {
      val tmp = new Path(cp.getParent,
        s".${cp.getName}.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write((committed.toString +
        intent.map(i => s" $i").getOrElse(""))
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // overwriting rename: the prior checkpoint stays readable until the
      // new content is atomically in place — a crash between two plain
      // delete+rename steps would leave NO checkpoint and restart the
      // consumer from version 0
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        cp.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(cp),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    var cycles = 0
    var drained = false
    while (!drained && cycles < maxCycles) {
      val (since, pendingIntent) = readCp()
      // a stale checkpoint (behind the retention floor AND with its
      // delta commits actually expired — a mere auto/manual checkpoint
      // deletes nothing) either fails loudly in readChangesSince or,
      // opted in, re-baselines: one full snapshot delivery tagged with
      // the current version
      val floor = readLog(spark, root)._1.map(_.version).getOrElse(0L)
      val expired = since < floor && !(since == 0L && floor == 0L) &&
        commitsRange(spark, root, since, floor).isEmpty
      if (reBaseline && expired) {
        // full-refresh delivery; a pending intent (crashed mid-re-baseline,
        // or an incremental delivery whose window maintenance has since
        // expired) replays AT the intent version when still retained, so
        // the tag stays stable and the downstream ledger dedups it
        val state = stateOf(spark, root,
          cap = pendingIntent.filter(_ >= floor))
        val v = state.version
        writeCp(since, Some(v))
        process(readSnapshot(spark, root, state,
          partSchemaOf(state.partSchema, root, "TxLog.consumeChanges")), v)
        writeCp(v, None)
        cycles += 1
      } else {
        // a pending intent = a crashed delivery: replay the identical
        // capped window under the identical tag; otherwise plan the next
        // window, durably record its end as the intent, THEN deliver
        val (df, v) = readChangesSince(spark, root, since, skipNonAppend,
          untilVersion = pendingIntent)
        df match {
          case Some(d) =>
            if (pendingIntent.isEmpty) writeCp(since, Some(v))
            process(d, v)
            writeCp(v, None)
            cycles += 1
          case None =>
            // nothing to deliver in the (possibly capped) window: clear
            // a dangling intent so the next cycle plans fresh
            if (pendingIntent.nonEmpty) writeCp(v, None)
            else drained = true
        }
      }
    }
    cycles
  }

  // ---- staging ----------------------------------------------------------

  /** Write `df`'s data files under a fresh private dir inside `root`,
    * partitioned by `partCol`, WITHOUT touching the log — the durable
    * half of a transaction that only [[commit]] makes visible. One
    * shuffle on the partition key (the [[Warehouse.overwritePartitioned]]
    * small-files discipline). Null partition values are refused loudly:
    * they round-trip as the Hive default-partition sentinel, which the
    * per-branch `lit()` re-attachment cannot represent. */
  def stage(df: DataFrame, root: String, partCol: String,
            clusterBy: Seq[Column] = Nil, clusterFiles: Int = 0): Staged =
    stage(df, root, Seq(partCol), clusterBy, clusterFiles)

  /** The table's current physical→logical column mapping — a meta-only
    * log read (no file-list fold on either representation). */
  private def mappingOf(spark: SparkSession, root: String): Map[String, String] =
    writerMetaOf(spark, root)._1

  /** (column mapping, CHECK constraints) — the metadata every writer
    * consults at stage time, in one log read. */
  private def writerMetaOf(spark: SparkSession, root: String)
      : (Map[String, String], Map[String, String]) = {
    val (chk, commits) = readLog(spark, root)
    (commits.flatMap(_.mapping).lastOption
       .getOrElse(chk.map(_.mapping).getOrElse(Map.empty)),
     commits.flatMap(_.constraints).lastOption
       .getOrElse(chk.map(_.constraints).getOrElse(Map.empty)))
  }

  /** Recursive descent through a staging dir's N Hive-partition levels →
    * (composite key → rel file paths). Each level's dir name is
    * `<col>=<escaped value>`; the key keeps the ESCAPED segments
    * ('/'-joined for N≥2, raw for N=1 — the renderPartKey contract).
    * Shared by [[stage]] (fresh writes) and [[convertParquetTx]]
    * (adopted dirs). */
  private def listStagedLeaves(fs: FileSystem, stagingDir: Path,
                               rel: String, partCols: Seq[String])
      : Map[String, Seq[String]] = {
    val sentinel = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    def leaves(d: Path, depth: Int, frag: String,
               escSegs: Seq[String]): Seq[(String, Seq[String])] =
      if (depth == partCols.length) {
        val files = fs.listStatus(d).map(_.getPath.getName)
          .filter(_.endsWith(".parquet"))
          .map(f => s"$rel/$frag/$f").toSeq
        val key = if (partCols.length == 1) unesc(escSegs.head)
                  else escSegs.mkString("/")
        Seq((key, files))
      } else {
        fs.listStatus(d).filter(_.isDirectory).toSeq.flatMap { e =>
          val name = e.getPath.getName
          val Array(c, v) = name.split("=", 2)
          require(c == partCols(depth),
            s"TxLog.stage: dir level $depth is $c, expected ${partCols(depth)}")
          // null partition values round-trip as the Hive default-partition
          // sentinel, which the log's value→files map cannot distinguish
          // from the literal sentinel string — refuse AFTER the write
          // (free: a directory listing, no extra data pass), orphaned
          // files go to vacuum()
          require(v != sentinel,
            s"TxLog.stage: null $c values cannot be transacted — " +
              "map them to a sentinel value first")
          leaves(e.getPath, depth + 1,
            if (frag.isEmpty) name else s"$frag/$name", escSegs :+ v)
        }
      }
    leaves(stagingDir, 0, "", Seq.empty).toMap
  }

  /** CONVERT an existing Hive-partitioned parquet directory into a
    * transaction-log table IN PLACE — the Delta `CONVERT TO DELTA` move:
    * each top-level `<col>=<value>` tree RENAMES under a fresh staging
    * dir (a metadata operation — zero data copied, zero rows decoded
    * beyond one schema-discovery read and the optional footer-stats
    * pass), the adopted files enumerate through the same descent fresh
    * writes use, and one "overwrite" commit makes the dir a first-class
    * table: every front door — transactional writes, time travel, DML,
    * the SQL surface — works from version 1. Refuses a dir that already
    * carries a log. Returns the committed version.
    *
    * Failure safety: the partition trees are VALIDATED (level names, the
    * null-partition sentinel, parquet leaves, schema discovery) before
    * any rename, so a malformed dir refuses with the source untouched —
    * plain parquet reads of the original layout keep working. Should
    * anything still fail after the move (e.g. a commit race), the trees
    * rename BACK to the root before the error surfaces. */
  def convertParquetTx(spark: SparkSession, root: String,
                       partCols: Seq[String]): Long = {
    require(partCols.nonEmpty,
      "convertParquetTx: partition columns are required (unpartitioned " +
        "dirs have no partition trees to adopt)")
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    require(fs.exists(rootPath), s"convertParquetTx: $root does not exist")
    require(!fs.exists(logDir(root)),
      s"convertParquetTx: $root already carries a transaction log")
    val tops = fs.listStatus(rootPath).filter(st => st.isDirectory &&
      st.getPath.getName.startsWith(s"${partCols.head}="))
    require(tops.nonEmpty,
      s"convertParquetTx: no ${partCols.head}=<value> partition dirs " +
        s"under $root — the dir must be Hive-partitioned by " +
        s"[${partCols.mkString(", ")}]")
    // ---- validate BEFORE any rename: every failure below leaves the
    // source dir exactly as found
    val sentinel = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    var sawParquet = false
    // d is a vetted level-(depth-1) partition dir; its children are
    // level `depth` (the leaf level holds the parquet files)
    def validate(d: Path, depth: Int): Unit =
      if (depth == partCols.length) {
        if (fs.listStatus(d).exists(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet")))
          sawParquet = true
      } else fs.listStatus(d).filter(_.isDirectory).foreach { e =>
        checkName(e.getPath.getName, depth)
        validate(e.getPath, depth + 1)
      }
    def checkName(name: String, depth: Int): Unit = {
      val parts = name.split("=", 2)
      require(parts.length == 2 && parts(0) == partCols(depth),
        s"convertParquetTx: dir level $depth under $root is [$name], " +
          s"expected ${partCols(depth)}=<value> — not Hive-partitioned " +
          s"by [${partCols.mkString(", ")}]")
      require(parts(1) != sentinel,
        s"convertParquetTx: null ${partCols(depth)} values cannot be " +
          "transacted — rewrite them to a sentinel value first")
    }
    tops.foreach { st =>
      checkName(st.getPath.getName, 0)
      validate(st.getPath, 1)
    }
    require(sawParquet,
      s"convertParquetTx: no parquet files under the partition dirs of " +
        root)
    // schema discovery pre-rename: one partition-discovering read over
    // the original trees (footers only) — partition value types infer
    // exactly as a fresh write would have recorded them
    val discovered = spark.read.option("basePath", root)
      .parquet(tops.map(_.getPath.toString).toIndexedSeq: _*).schema
    partCols.foreach(c => require(discovered.fieldNames.contains(c),
      s"convertParquetTx: [$c] is not a partition level of $root"))
    // ---- the move (metadata-only renames), with a rename-back backstop
    val rel = s"data/txn-${java.util.UUID.randomUUID()}"
    val staging = new Path(root, rel)
    fs.mkdirs(staging)
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      tops.foreach { st =>
        require(fs.rename(st.getPath, new Path(staging, st.getPath.getName)),
          s"convertParquetTx: rename of ${st.getPath} failed")
        moved += st.getPath
      }
      val parts = listStagedLeaves(fs, staging, rel, partCols)
      val dataSchema = org.apache.spark.sql.types.StructType(
        discovered.filterNot(f => partCols.contains(f.name))
          .map(_.copy(nullable = true)))
      val partField = org.apache.spark.sql.types.StructType(
        partCols.map(c => discovered(c).copy(nullable = true))).toDDL
      val (stats, rows) =
        TxStats.collect(spark, root, parts.values.flatten.toSeq, dataSchema)
      commit(spark, root,
        Staged(parts, Some(dataSchema.toDDL), stats, rows, Some(partField)),
        "overwrite", readVersion = 0L)
    } catch {
      case e: Throwable =>
        // restore the original layout: no log was written, so putting the
        // trees back leaves a plain parquet dir exactly as found. Every
        // rename-back's RESULT matters: if any fails (dir re-created
        // concurrently, transient FS error), the user's data is still
        // UNDER STAGING — a recursive delete here would destroy it on the
        // very path whose purpose is to leave the source untouched.
        val stranded = moved.filterNot { orig =>
          try fs.rename(new Path(staging, orig.getName), orig)
          catch { case scala.util.control.NonFatal(_) => false }
        }
        if (stranded.isEmpty)
          // all trees are back home; the staging dir is empty of them —
          // delete NON-recursively so anything unexpectedly left inside
          // survives (the delete fails loudly-but-harmlessly instead)
          try fs.delete(staging, false): Unit
          catch { case scala.util.control.NonFatal(_) =>
            System.err.println(s"TxLog.convertParquetTx: could not " +
              s"remove staging dir $staging (non-empty?) — original " +
              "trees are restored; remove it by hand")
          }
        else
          System.err.println(s"TxLog.convertParquetTx: FAILED to rename " +
            s"${stranded.size} partition tree(s) back to $root " +
            s"(${stranded.map(_.getName).mkString(", ")}) — the ORIGINAL " +
            s"DATA for those trees is stranded under $staging; move it " +
            "back by hand before retrying (nothing was deleted)")
        throw e
    }
  }

  /** N-column [[stage]]: hierarchical `c1=v1/c2=v2/...` staging dirs, the
    * log key the composite [[renderPartKey]] form. Real warehouse tables
    * partition by (date, region)-style composites — one partition column
    * was the tx layer's last hard single-column assumption. A `df` with
    * no rows is refused ("staged DataFrame is empty") after its staging
    * dir is deleted, so a refused stage leaves nothing under `data/`. */
  def stage(df: DataFrame, root: String, partCols: Seq[String],
            clusterBy: Seq[Column], clusterFiles: Int): Staged = {
    val staged = stageMaybeEmpty(df, root, partCols, clusterBy, clusterFiles)
    // a plain stage of nothing is a caller error, refused once the empty
    // staging dir is gone
    require(staged.parts.nonEmpty, "TxLog.stage: staged DataFrame is " +
      "empty — an empty overwrite would be a silent no-op; drop partitions " +
      "explicitly")
    staged
  }

  /** [[stage]] without its empty-result refusal: nothing staged returns
    * a files-free [[Staged]] and leaves no dir behind. */
  private def stageMaybeEmpty(df: DataFrame, root: String,
                              partCols: Seq[String], clusterBy: Seq[Column],
                              clusterFiles: Int): Staged = {
    // writers speak LOGICAL names; files and the recorded schema carry
    // PHYSICAL ones — translate through the current mapping (identity on
    // unmapped tables). A column reusing a TOMBSTONED physical name is
    // refused: its data would land under the dropped column and read as
    // invisible.
    val (mapping0, constraints0) = writerMetaOf(df.sparkSession, root)
    stageWith(df, root, partCols, clusterBy, clusterFiles, mapping0,
      constraints0, checked = Some(constraints0))
  }

  /** [[stage]] against an EXPLICIT metadata view. [[replaceTableTx]]
    * stages under a FRESH definition — identity mapping, no inherited
    * constraints, no constraint-drift check (`checked = None`) — because
    * the replace commit supersedes the table's mapping and constraints
    * in the same atomic step. */
  private def stageWith(df: DataFrame, root: String, partCols: Seq[String],
                        clusterBy: Seq[Column], clusterFiles: Int,
                        mapping0: Map[String, String],
                        constraints0: Map[String, String],
                        checked: Option[Map[String, String]],
                        routed: Boolean = false): Staged = {
    require(partCols.nonEmpty, "TxLog.stage: at least one partition column")
    require(partCols.distinct.length == partCols.length,
      s"TxLog.stage: duplicate partition columns [${partCols.mkString(", ")}]")
    val spark = df.sparkSession
    // CHECK constraints enforce at WRITE time (the Delta contract): one
    // violations probe per constraint per staged write — the price every
    // constrained warehouse pays; a violating batch refuses before any
    // metadata changes (the staged files are never committed)
    constraints0.foreach { case (name, e) =>
      // a writer missing a CONSTRAINED column gets this loud refusal
      // (not the probe's raw unresolved-column AnalysisException); an
      // unconstrained subset writer still reaches commit's schema guard
      val missing = constraintRefs(spark, e) -- df.columns.toSet
      require(missing.isEmpty,
        s"TxLog.stage: the staged data does not carry " +
          s"[${missing.mkString(", ")}], referenced by CHECK constraint " +
          s"[$name] ($e) — a writer must carry every constrained column")
      val rows = if (routed) df.filter(col(RouteCol) === DataRoute) else df
      require(rows.filter(not(coalesce(expr(e), lit(true)))).isEmpty,
        s"TxLog.stage: CHECK constraint [$name] ($e) is violated by the " +
          "staged data — fix the writer or drop the constraint")
    }
    val tomb = mapping0.collect { case (p, "-") => p }.toSet
    val reverse = mapping0.collect { case (p, l) if l != "-" => l -> p }
    def toPhysical(d: DataFrame): DataFrame =
      if (mapping0.isEmpty) d
      else {
        d.columns.foreach { c =>
          require(!tomb(c), s"TxLog.stage: column [$c] reuses a DROPPED " +
            "physical column's name — old files would resurrect under " +
            "it; pick a different logical name")
          // a NEW logical column shadowing a RENAMED-AWAY physical name
          // would land its files under that physical column and fold
          // into the OLD column — refuse, like the tombstone. Only when
          // the frame ALSO carries the renamed column's CURRENT name:
          // a frame speaking purely the OLD name (a writer racing the
          // rename, or one not yet migrated) is the SAME column — it
          // lands on its own physical column, exactly as a commit
          // serialized before the rename would have
          require(reverse.contains(c) ||
              !mapping0.get(c).exists(l => l != "-" && l != c &&
                d.columns.contains(l)),
            s"TxLog.stage: column [$c] shadows the renamed physical " +
              s"column [$c → ${mapping0.getOrElse(c, c)}] — its data " +
              "would fold into that column; pick a different name")
        }
        d.select(d.columns.toSeq.map(c =>
          col(c).as(reverse.getOrElse(c, c))): _*)
      }
    val rel = s"data/txn-${java.util.UUID.randomUUID()}"
    val dir = new Path(root, rel)
    val shaped =
      if (routed) df // the DML caller shuffled its routed rows itself
      else if (clusterBy.isEmpty) stageShuffle(df, partCols)
      else {
        // range-clustered layout: a global range partitioning on
        // (partCols..., clusterBy...) makes each task a contiguous slice,
        // so every file lands a TIGHT, near-disjoint clusterBy range
        // inside its partition dir — the layout [[TxStats]] skipping
        // feeds on. The within-task sort tightens per-row-group footer
        // stats too.
        val keys = partCols.map(col) ++ clusterBy
        val n = if (clusterFiles > 0) clusterFiles
                else spark.sessionState.conf.numShufflePartitions
        df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
      }
    // translate AFTER shaping (a projection is narrow — the partitioning
    // and within-task order survive), so clusterBy keys resolve against
    // the caller's logical names
    toPhysical(shaped)
      .write.mode("errorifexists")
      .partitionBy((if (routed) RouteCol +: partCols else partCols): _*)
      .parquet(dir.toString)
    val fs = fsOf(spark, dir)
    val (parts, changes) =
      if (!routed) (listStagedLeaves(fs, dir, rel, partCols), Seq.empty[String])
      else {
        val routes = fs.listStatus(dir).filter(_.isDirectory)
          .map(_.getPath.getName.stripPrefix(s"$RouteCol=")).toSeq
        def leavesOf(r: String) = listStagedLeaves(fs,
          new Path(dir, s"$RouteCol=$r"), s"$rel/$RouteCol=$r", partCols)
        (if (routes.contains(DataRoute)) leavesOf(DataRoute)
         else Map.empty[String, Seq[String]],
          routes.filter(_ != DataRoute).flatMap(leavesOf(_).values.flatten))
      }
    if (parts.isEmpty) {
      // nothing data-bearing to record: no schema, stats or constraint
      // claim, exactly what a files-free rewrite commit carries (a DML
      // rewrite that deletes every candidate row, a compaction whose rows
      // are all dv-deleted); [[stage]] refuses it after this cleanup
      if (changes.isEmpty) fs.delete(dir, true)
      return Staged(Map.empty, changes = changes)
    }
    // top-level nullability is erased before recording: parquet round
    // trips make columns nullable and the union read widens it anyway —
    // only STRUCTURAL drift (names/types/order) poisons the table.
    // Recorded under PHYSICAL names (what the files carry).
    val dataSchema = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(f => partCols.contains(f.name) || f.name == RouteCol)
        .map(f => f.copy(name = reverse.getOrElse(f.name, f.name),
          nullable = true)))
    // footer min/max per staged file → data skipping at read time
    // (readers treat absent stats as unskippable)
    val (stats, rows) =
      TxStats.collect(spark, root, parts.values.flatten.toSeq, dataSchema)
    // the partition columns are TABLE metadata, not reader knowledge:
    // record name+type (in partition order) so readTable needs no
    // caller-supplied columns and a writer partitioning differently is
    // refused at commit
    val partField = org.apache.spark.sql.types.StructType(
      partCols.map(c => df.schema(c).copy(nullable = true))).toDDL
    Staged(parts, Some(dataSchema.toDDL), stats, rows, Some(partField),
      changes = changes, checkedConstraints = checked)
  }

  /** Delete a staged-but-never-committed dir's files (loser cleanup) —
    * change-data files included. */
  def discard(spark: SparkSession, root: String, staged: Staged): Unit =
    (staged.parts.values.flatten ++ staged.changes ++
      staged.dvs.values.flatMap(_._1))
      .map(_.split("/")(1)).toSet.foreach { (uuid: String) =>
        val d = new Path(root, s"data/$uuid")
        fsOf(spark, d).delete(d, true)
      }

  /** The route column of a DML write: every row of the one staged frame
    * is a data row ([[DataRoute]]) or a change image (its `_change_type`),
    * and the write partitions by the route ahead of the table's partition
    * columns — Delta's `__is_cdc` partition. */
  private val RouteCol = "__route"
  private val DataRoute = "data"

  /** The staging shuffle: hash on the partition columns into the
    * session's shuffle-partition count. Repartition WITHOUT an explicit
    * count is AQE-coalescible: a small staged batch collapses to 1-2
    * reduce tasks, and that one task then writes EVERY partition's file
    * serially (measured 1.2-1.5 s per 240-partition stream epoch at sf0.1
    * — the write was parallelism-starved, not data-bound). Pinning the
    * count keeps the one-file-per-value invariant (hash on the value
    * still lands each value in exactly one task) while spreading the
    * per-file open/flush cost across the cluster; the count stays
    * scale-adaptive through spark.sql.shuffle.partitions. */
  private def stageShuffle(df: DataFrame, partCols: Seq[String]): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      partCols.map(col): _*)

  /** Fan each row of `df` out to its routes: every `(when, route,
    * values)` emits one output row — `values` aligned with `cols` —
    * where `when` holds. */
  private def fanOut(df: DataFrame, cols: Seq[String],
                     outs: Seq[(Column, String, Seq[Column])]): DataFrame =
    df.select(explode(array(outs.map { case (hit, route, vals) =>
        when(hit, struct((lit(route).as(RouteCol) +:
          vals.zip(cols).map { case (v, c) => v.as(c) }): _*))
      }: _*)).as("__o"))
      .filter(col("__o").isNotNull)
      .select(col("__o.*"))

  /** Stage a copy-on-write DML commit in ONE write: `routed` ([[fanOut]]
    * rows, [[stageShuffle]]d before or after the fan-out, so each task
    * writes one file per route and partition value) carries the rewritten
    * rows and the row-level change images (the Delta CDF write-side), and
    * lands under one `data/txn-<uuid>` dir partitioned by [[RouteCol]]
    * ahead of the table's partition columns. Change files share the data
    * files' invariants — PHYSICAL column names forever (what lets
    * [[readChangeFeed]] re-map any historical window through one
    * end-mapping projection), partition values in the path — are
    * recorded on the commit's `c`-rows, and are NEVER part of the table's
    * live file set: [[readChangeFeed]] reads them per window, [[vacuum]]
    * retains them while their commit is retained (the same log-retention
    * horizon as incremental consumption). `checkData = false` stages
    * change images only (no rows to validate against CHECK
    * constraints). `changeFeed` marks the commit as change-recorded even
    * when no row changed. */
  private def stageRouted(routed: DataFrame, root: String,
                          partCols: Seq[String], changeFeed: Boolean,
                          checkData: Boolean = true): Staged = {
    val (mapping0, constraints0) = writerMetaOf(routed.sparkSession, root)
    val cons = if (checkData) constraints0 else Map.empty[String, String]
    stageWith(routed, root, partCols, Nil, 0, mapping0, cons,
      checked = if (checkData) Some(cons) else None, routed = true)
      .copy(changeFeed = changeFeed)
  }

  /** A routed change file's (change type, table partition key), read off
    * its `data/txn-<uuid>/__route=<type>/<c1>=<v1>/.../<file>` path —
    * the [[listStagedLeaves]] key contract. */
  private def routedChangeOf(rel: String, nPart: Int): (String, String) = {
    val segs = rel.split("/")
    require(segs.length == nPart + 4 && segs(2).startsWith(s"$RouteCol="),
      s"TxLog: change file $rel is not under a $RouteCol=<type> dir with " +
        s"$nPart partition level(s)")
    val vals = segs.slice(3, 3 + nPart).map(_.split("=", 2)(1)).toSeq
    (unesc(segs(2).stripPrefix(s"$RouteCol=")),
      if (nPart == 1) unesc(vals.head) else vals.mkString("/"))
  }

  // ---- commits ----------------------------------------------------------

  /** Commit staged files at the next version. `op` "overwrite" replaces
    * the staged partitions' file sets; "append" extends them. With
    * `conflictCheck`, any concurrent commit after `readVersion` touching
    * an overlapping partition raises [[ConcurrentWriteException]] (the
    * staged data may depend on state that no longer holds); without it,
    * the commit retries the publish until it wins (blind overwrite —
    * still serializable, last committer's content stands). A `batchId`
    * makes the commit idempotent: if any commit in the log already
    * carries it, this call is a replay — the staged files are discarded
    * and the original version returned, so a retried ingest job can never
    * double-land its batch. Returns the committed (or replayed) version. */
  def commit(spark: SparkSession, root: String, staged: Staged, op: String,
             readVersion: Long, conflictCheck: Boolean = false,
             batchId: Option[String] = None,
             writerSeq: Option[(String, Long)] = None,
             conflictAll: Boolean = false): Long = {
    require(op == "overwrite" || op == "append" || op == "remove" ||
      op == "rewrite" || op == "meta" || op == "restore" || op == "dv",
      s"unknown op $op")
    require(op == "rewrite" || staged.removed.isEmpty,
      s"TxLog.commit: op $op cannot remove individual files — only " +
        "\"rewrite\" carries removals")
    require(op == "meta" || op == "restore" || staged.mapping.isEmpty,
      s"TxLog.commit: op $op cannot change the column mapping — only " +
        "\"meta\" and \"restore\" carry one")
    require(op == "dv" || op == "restore" || staged.dvs.isEmpty,
      s"TxLog.commit: op $op cannot carry deletion vectors — only " +
        "\"dv\" and \"restore\" do")
    require(op == "meta" || op == "restore" || staged.constraints.isEmpty,
      s"TxLog.commit: op $op cannot change CHECK constraints — only " +
        "\"meta\" and \"restore\" carry a snapshot")
    require(op == "meta" || op == "restore" || staged.props.isEmpty,
      s"TxLog.commit: op $op cannot change table properties — only " +
        "\"meta\" and \"restore\" carry a snapshot")
    require(op != "meta" || staged.parts.isEmpty && staged.removed.isEmpty,
      "TxLog.commit: a \"meta\" commit is metadata-only — no data files")
    require(staged.payloadChk.isEmpty ||
        op == "restore" && staged.parts.isEmpty && staged.removed.isEmpty,
      "TxLog.commit: a payload pointer rides only on a parts-free " +
        "\"restore\" commit")
    // "-" is the log format's absent-field sentinel; a literal "-" batch id
    // would round-trip as None and silently disable idempotent replay
    require(!batchId.contains("-"),
      "TxLog.commit: batchId \"-\" collides with the log's absent sentinel")
    var attempt = 0
    while (attempt < MaxPublishRaces) {
      attempt += 1
      val (chk, commits) = readLog(spark, root)
      batchId.foreach { id =>
        // a SEALED string ledger refuses every string-batchId commit
        // loudly: the id set is gone, so neither idempotent replay nor
        // a fresh landing can be told apart — silence either way would
        // be wrong ([[sealBatchLedgerTx]]'s contract)
        if (chk.exists(_.sealedLedger) || commits.exists(_.sealsBatches)) {
          discard(spark, root, staged)
          throw new IllegalArgumentException(s"TxLog.commit: the string " +
            s"batch-id ledger at $root is SEALED — migrate this writer " +
            "to appendBatchSeqTx (writer-seq identity); string batch ids " +
            "can no longer be checked for replay")
        }
        // a batch landed before the last checkpoint survives in the
        // checkpoint's batch-id set (its commit file may be expired);
        // the checkpoint version stands in for the original commit's
        if (chk.exists(_.batchIds.contains(id))) {
          discard(spark, root, staged)
          return chk.get.version
        }
        commits.find(_.batchId.contains(id)).foreach { prior =>
          discard(spark, root, staged)
          return prior.version
        }
      }
      // writer-seq replay gate (the BOUNDED ledger): the table records
      // only each writer's LATEST (seq, version) — seq == latest is the
      // idempotent retry (return the original version), seq < latest is
      // an out-of-window replay (refuse loudly: double-applying and
      // silently skipping are both wrong), seq > latest proceeds
      writerSeq.foreach { case (id, seq) =>
        val ledger = chk.map(_.writers).getOrElse(Map.empty) ++
          commits.flatMap(c => c.writerSeq.map { case (w, s) =>
            w -> (s, c.version) }).toMap
        ledger.get(id).foreach { case (latest, ver) =>
          if (seq == latest) {
            discard(spark, root, staged)
            return ver
          }
          if (seq < latest) {
            discard(spark, root, staged)
            throw new StaleWriterSeqException(id, seq, latest)
          }
        }
      }
      // a driver-shape "restore" commit belongs on a table that is NOT
      // parquet-checkpointed (its parts map re-references the full file
      // list — exactly what the payload base keeps off the driver).
      // restoreTx's entry guard (snapshotAt dispatch) saw a non-payload
      // log, but a standalone maintenance checkpoint() can cross the
      // table to a parquet payload WITHOUT publishing a commit — the
      // version race below would never fire and the restore would land
      // at chkVersion+1, superseding the whole payload. Re-check here,
      // retryably: restoreTx's loop re-derives via snapshot(), which
      // refuses payload tables loudly (and never discards the staging —
      // restore parts re-reference LIVE committed files).
      if (op == "restore" && staged.payloadChk.isEmpty)
        for (c <- chk; _ <- c.payload)
          throw new ConcurrentWriteException(c.version,
            Seq("<checkpoint crossed to parquet payload>"))
      if (conflictCheck) {
        // a "meta" commit (mapping/constraint DDL) snapshots metadata
        // derived from its read — ANY concurrent commit invalidates that
        // snapshot (a constraints-only commit must not clobber a racing
        // rename, and vice versa), so meta conflicts with everything.
        // A payload-shape restore snapshots the WHOLE table the same way
        // (its rewritten payload bakes in every partition), so it too
        // conflicts with any commit past its read version. `conflictAll`
        // requests the same version-strict check for ops whose staged
        // partition set cannot claim the whole table — a CREATING full
        // replace (overwriteTableTx on a not-yet-existing table) has an
        // empty absent set, so the overlap check below would let a
        // racing creator's disjoint partitions slide through and
        // readers would see a merged table NEITHER writer wrote (the
        // race fuzz's creator pair found exactly this).
        if (op == "meta" || staged.payloadChk.isDefined || conflictAll)
          commits.filter(_.version > readVersion).foreach { c =>
            throw new ConcurrentWriteException(c.version,
              Seq("<table metadata>"))
          }
        // runs BEFORE the schema guard: a partial writer racing a
        // concurrent ADD-COLUMN commit must get the RETRYABLE
        // ConcurrentWriteException (its retry re-derives from the evolved
        // snapshot, staging the new schema), not a terminal schema error
        // comparing its pre-evolution schema against post-evolution state.
        // Commits at or before the last checkpoint are no longer
        // individually enumerable — a reader whose snapshot predates it
        // cannot prove its partitions were untouched, so conflict
        // conservatively (the Delta truncated-log posture): the caller's
        // retry loop re-reads a CURRENT snapshot and proceeds normally
        chk.filter(_.version > readVersion).foreach { c =>
          throw new ConcurrentWriteException(c.version,
            staged.touched.toSeq.sorted)
        }
        commits.filter(_.version > readVersion).foreach { c =>
          // a PAYLOAD-shape restore resets the WHOLE table but its
          // commit carries no parts (touched is empty) — it must still
          // conflict with every snapshot-derived writer, exactly like
          // the driver-shape restore whose staged parts cover everything
          if (c.op == "restore" && c.payloadChk.isDefined)
            throw new ConcurrentWriteException(c.version,
              Seq("<payload restore reset the table>"))
          // a MAPPING-carrying meta commit (rename/constraint/seal)
          // invalidates every snapshot-derived frame: the writer staged
          // its columns and validated its constraints under the
          // superseded metadata, and — meta commits carrying no parts —
          // the overlap check below would let it slide into the TERMINAL
          // schema guard instead of the retryable conflict its loop can
          // re-derive from (the race fuzz found a rewrite racing a
          // rename dying exactly there)
          if (c.op == "meta" && c.mapping.isDefined)
            throw new ConcurrentWriteException(c.version,
              Seq("<table metadata>"))
          val overlap = c.touched intersect staged.touched
          if (overlap.nonEmpty)
            throw new ConcurrentWriteException(c.version, overlap.toSeq.sorted)
        }
      }
      // CONSTRAINT-DRIFT GUARD: stage() validated the data against the
      // constraints it saw; if a concurrent DDL changed them before this
      // commit, the validation is stale — refuse (terminal: the caller
      // restages, re-validating against the new set). A tiny window, but
      // without this a racing ADD CONSTRAINT lets violating rows land.
      staged.checkedConstraints.foreach { checked =>
        val now = commits.flatMap(_.constraints).lastOption
          .getOrElse(chk.map(_.constraints).getOrElse(Map.empty))
        if (now != checked) {
          discard(spark, root, staged)
          throw new IllegalArgumentException(
            s"TxLog.commit: the table's CHECK constraints changed " +
              s"between stage and commit at $root — restage (the staged " +
              "data was validated against a superseded constraint set)")
        }
      }
      // SCHEMA GUARD: a data-bearing commit whose schema differs from the
      // table's current one is refused at commit time — EXCEPT the two
      // legitimate evolutions: (a) ADD-COLUMN, where the staged schema is
      // a superset of the current one (every current column survives with
      // its type) — the recorded superset becomes the table schema and
      // [[readSnapshot]] NULL-backfills pre-evolution files; (b) a full
      // overwrite replacing every current partition (arbitrary rewrite).
      // A SUBSET writer (one that silently lost a column) stays refused:
      // its commit would regress the recorded schema and drop the column
      // from every subsequent read. A log that has recorded no schema
      // yet (nothing data-bearing committed) imposes no constraint.
      // The guards need schema/partSchema/partition VALUES, never the
      // file list — so commits to a parquet-checkpointed table stay
      // O(delta) driver work. `covers` asks "does the staged key set
      // cover every live partition?" rather than reading the value set:
      // above chkMaxHeaderValues partitions the set is not driver-resident
      // and the cover test runs payload-side (one anti-join probe) — and
      // only the rare schema-change-by-full-overwrite path ever calls it
      val cur = fold(chk, commits)
      def covers(stagedKeys: Set[String]): Boolean = cur.partValues match {
        case Some(vs) => vs.subsetOf(stagedKeys)
        case None =>
          import spark.implicits._
          payloadLiveDF(spark, root, cur.payload.get).select("part")
            .unionByName(cur.parts.keySet.toSeq.toDF("part"))
            .join(stagedKeys.toSeq.toDF("part"), Seq("part"), "left_anti")
            .isEmpty
      }
      // MAPPING-AWARE SANITIZER: a writer that staged BEFORE a concurrent
      // DROP COLUMN landed carries the dropped physical column in its
      // staged schema — recording it verbatim would resurrect the column
      // in the RECORDED schema (the tombstone keeps reads correct, but the
      // schema should not regress). Strip tombstoned physical columns from
      // the recorded schema; the staged files' extra column is simply
      // never read. "meta" commits are exempt (dropColumnTx writes the
      // new tombstone and its subset schema in one commit).
      val stagedSchema = staged.schema.map { ss =>
        val tombstoned = cur.mapping.collect { case (p, "-") => p }.toSet
        // "restore" deliberately reinstates the target version's schema —
        // a currently-tombstoned column it carries is the RESURRECTION
        // the caller asked for (its mapping snapshot clears the tombstone)
        if (tombstoned.isEmpty || op == "meta" || op == "restore") ss
        else {
          val st = org.apache.spark.sql.types.StructType.fromDDL(ss)
          val kept = st.filterNot(f => tombstoned(f.name))
          if (kept.length == st.length) ss
          else org.apache.spark.sql.types.StructType(kept.toSeq).toDDL
        }
      }
      // PARTITION GUARD: a tx table has ONE partitioning — a writer
      // staging under a different partition column would scramble the
      // log's value→files semantics for every reader. Terminal (no
      // retry can fix the caller's layout), so staged files reclaim now.
      for (cp <- cur.partSchema; sp <- staged.partSchema if cp != sp) {
        // NEVER discard a "restore" staging: its parts RE-REFERENCE live
        // committed files — discard would delete real table data
        if (op != "restore") discard(spark, root, staged)
        throw new IllegalArgumentException(
          s"TxLog.commit: staged partition column [$sp] does not match " +
            s"the table's recorded partition column [$cp] — rebuild the " +
            "table to change its partitioning")
      }
      // op "meta" is exempt: a DROP COLUMN deliberately records a SUBSET
      // schema — the guard exists for writers that silently lost a
      // column, not for explicit DDL
      for (cs <- cur.schema; ss <- stagedSchema
           if cs != ss && op != "meta" && op != "restore") {
        val curT = org.apache.spark.sql.types.StructType.fromDDL(cs)
        val stagedTypes = org.apache.spark.sql.types.StructType.fromDDL(ss)
          .map(f => f.name -> f.dataType).toMap
        val additive = curT.forall(f =>
          stagedTypes.get(f.name).contains(f.dataType))
        val fullReplace = op == "overwrite" && covers(staged.parts.keySet)
        if (!(additive || fullReplace)) {
          // TERMINAL refusal (unlike a conflict, no retry can fix a
          // writer that lost a column) — reclaim the staged files here
          // rather than leaking them until the next vacuum
          discard(spark, root, staged)
          throw new IllegalArgumentException(
            s"TxLog.commit: staged schema [$ss] drops or retypes columns " +
              s"of the table's current schema [$cs] — only ADD-COLUMN " +
              "evolution or a FULL overwrite of every partition may " +
              "change the schema; align the writer")
        }
      }
      // ORDER-STABLE RECORDING: an additive writer's column ORDER is its
      // own business (a reordered frame is legal input — parquet reads by
      // name), but adopting it verbatim would churn the RECORDED schema
      // (and every reader's column order) under reordering writers. Keep
      // the current order and APPEND genuinely new columns; only a
      // schema-changing full overwrite adopts the staged order verbatim.
      val recordSchema: Option[String] =
        (cur.schema, stagedSchema) match {
          case (Some(cs), Some(ss))
            if cs != ss && op != "meta" && op != "restore" =>
            val curT = org.apache.spark.sql.types.StructType.fromDDL(cs)
            val stagedT = org.apache.spark.sql.types.StructType.fromDDL(ss)
            val stagedTypes = stagedT.map(f => f.name -> f.dataType).toMap
            val additive = curT.forall(f =>
              stagedTypes.get(f.name).contains(f.dataType))
            if (additive) {
              val cur = curT.fieldNames.toSet
              Some(org.apache.spark.sql.types.StructType(
                curT ++ stagedT.filterNot(f => cur(f.name))).toDDL)
            } else Some(ss) // full-overwrite schema change (guard passed)
          case _ => stagedSchema
        }
      val next = commits.lastOption.map(_.version)
        .orElse(chk.map(_.version)).getOrElse(0L) + 1
      if (tryPublish(spark, root, next,
          renderCommit(op, readVersion, batchId, staged.parts,
            recordSchema, staged.stats, staged.rows, staged.partSchema,
            staged.removed, staged.changes, writerSeq, staged.mapping,
            staged.dvs, staged.constraints, staged.payloadChk,
            staged.sealsBatches, staged.props, staged.changeFeed))) {
        // AUTO-CHECKPOINT CADENCE: long commit chains between manual
        // checkpoints inflate every readLog re-list and fold — fold one
        // in from commit() every N versions (the Delta default cadence).
        // Purely additive maintenance: derived from committed state,
        // racing checkpointers converge via putIfAbsent, and a failure
        // here must never fail the ALREADY-COMMITTED write.
        // Cadence precedence: the table's recorded property (the policy
        // travels with the table — [[setTablePropertiesTx]]) beats the
        // session conf beats the default. The commit just published may
        // itself carry the property snapshot (staged.props).
        val every = staged.props.getOrElse(propsInForce(chk, commits))
          .get("graft.autoCheckpoint.every").map(_.toInt)
          .getOrElse(autoCheckpointEvery(spark))
        if (every > 0 && next % every == 0)
          try { checkpoint(spark, root): Unit }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"TxLog: auto-checkpoint at v$next of " +
              s"$root failed (commit itself is durable): $e")
          }
        return next
      }
      // lost the version race — loop re-reads the log (and re-checks
      // conflicts/batch replay against the commits that beat us)
    }
    sys.error(s"TxLog.commit: lost the publish race $MaxPublishRaces times " +
      s"at $root — pathological contention, back off at the caller")
  }

  /** Lost version races one [[commit]] absorbs. A lost race is not a
    * conflict: the loser re-reads the log and publishes at the next
    * version, one metadata round each. */
  private val MaxPublishRaces = 50

  /** Consecutive conflicts a front door absorbs before it fails loudly. */
  private[graft] val MaxConflictRetries = 20

  /** One derivation of a front door's work: `run` commits it (or returns
    * without a commit) and may lose with [[ConcurrentWriteException]];
    * `lost` then reclaims what this derivation alone staged. */
  private[graft] final case class Attempt[A](run: () => A,
                                             lost: () => Unit = () => ())

  /** The conflict-retry loop of every conflict-checked front door
    * (Delta's commitWithRetry shape): derive an [[Attempt]] from the
    * current log, run it, and on a [[ConcurrentWriteException]] run its
    * `lost` cleanup and derive again from the new snapshot. After
    * [[MaxConflictRetries]] consecutive conflicts, `giveUp` reclaims what
    * the caller staged once, before the loop, and the call fails naming
    * `who`. */
  private[graft] def retryOnConflict[A](root: String, who: String,
                                        giveUp: () => Unit = () => ())
                                       (derive: => Attempt[A]): A = {
    var attempt = 0
    while (attempt < MaxConflictRetries) {
      attempt += 1
      val a = derive
      try return a.run()
      catch { case _: ConcurrentWriteException => a.lost() }
    }
    giveUp()
    sys.error(s"$who: $MaxConflictRetries consecutive conflicts at $root — " +
      "pathological contention, back off at the caller")
  }

  // ---- writer front-doors ------------------------------------------------

  /** Blind transactional partition overwrite: stage, then commit without
    * a read-dependency (content independent of current table state —
    * last committer wins, still a serialized order). The concurrent-safe
    * replacement for [[Warehouse.overwritePartitioned]]. */
  def overwritePartitionsTx(df: DataFrame, root: String,
                            partCol: String): Long =
    overwritePartitionsTx(df, root, Seq(partCol))

  /** N-column [[overwritePartitionsTx]]. */
  def overwritePartitionsTx(df: DataFrame, root: String,
                            partCols: Seq[String]): Long = {
    val spark = df.sparkSession
    commit(spark, root, stage(df, root, partCols, Nil, 0), "overwrite",
      readVersion = 0L)
  }

  /** Transactional FULL-TABLE overwrite — `df.write.mode("overwrite")` /
    * the reference's `to_sql(if_exists='replace')` semantics
    * (customer_analytics_dag.py:145-151): the staged partitions replace
    * their file sets AND every live partition ABSENT from the staged
    * data drops, in ONE commit (readers see the old table or the new,
    * never a mix — unlike [[overwritePartitionsTx]], which leaves
    * untouched partitions standing). The absent partitions ride the
    * commit as empty "overwrite" entries (the same drop idiom as
    * "restore"), so the commit's `touched` set claims the whole table:
    * conflict-checked against its read version, any concurrent commit
    * forces a re-derive of the absent set — a blind replace could
    * silently keep a racing writer's fresh partition. The one
    * O(partitions) driver artifact is the live-value enumeration, which
    * a full replace cannot avoid (it is the thing being replaced);
    * everything else stays file-list-free on the payload path. */
  def overwriteTableTx(df: DataFrame, root: String, partCols: Seq[String],
                       writerSeq: Option[(String, Long)] = None): Long =
    overwriteStagedTx(df.sparkSession, root, stage(df, root, partCols, Nil, 0),
      writerSeq)

  /** [[overwriteTableTx]] over already-staged files. Its terminal exit
    * reclaims them: they were never committed, and a full table copy
    * must not stay stranded under data/. */
  private[graft] def overwriteStagedTx(spark: SparkSession, root: String,
                                       staged: Staged,
                                       writerSeq: Option[(String, Long)])
      : Long =
    retryOnConflict(root, "TxLog.overwriteTableTx",
        giveUp = () => discard(spark, root, staged)) {
      val exists = tableExists(spark, root)
      val v0 = if (exists) currentVersion(spark, root) else 0L
      val absent =
        if (exists) partitionValues(spark, root) -- staged.parts.keySet
        else Set.empty[String]
      val full = staged.copy(parts = staged.parts ++
        absent.map(_ -> Seq.empty[String]))
      // conflict-check CREATES too, version-strictly (conflictAll): a
      // creator's absent set is EMPTY, so the overlap check alone would
      // let two racing creators with disjoint partitions both land and
      // readers see a merged table NEITHER writer wrote; any commit past
      // readVersion 0 forces a re-derive of the absent set instead. An
      // EXISTING table needs no version-strict check — its absent
      // entries claim every live partition already.
      Attempt(() => commit(spark, root, full, "overwrite", readVersion = v0,
        conflictCheck = true, writerSeq = writerSeq, conflictAll = !exists))
    }

  /** Idempotent transactional batch append: the batch's files land
    * once no matter how many times the job retries OR how many concurrent
    * duplicate submissions race (the ledger check runs inside the commit
    * loop, so even two simultaneous first-attempts serialize to one). */
  def appendBatchTx(df: DataFrame, root: String, partCol: String,
                    batchId: String): Long =
    appendBatchTx(df, root, Seq(partCol), batchId)

  /** N-column [[appendBatchTx]]. */
  def appendBatchTx(df: DataFrame, root: String, partCols: Seq[String],
                    batchId: String): Long = {
    val spark = df.sparkSession
    commit(spark, root, stage(df, root, partCols, Nil, 0), "append",
      readVersion = 0L, batchId = Some(batchId))
  }

  /** Idempotent append under a STRUCTURED (writerId, seq) identity — the
    * Delta `txn` (appId/version) shape, and the BOUNDED replacement for
    * string batch ids: the table's replay ledger keeps only each
    * writer's LATEST (seq, version), O(writers) however many batches
    * ever committed (a string-id ledger grows O(total batches) — the v2
    * checkpoint's one unbounded row class). Semantics: a retry of the
    * writer's CURRENT seq replays idempotently (returns the original
    * version); a seq BEHIND the ledger raises
    * [[StaleWriterSeqException]] loudly — with only the latest seq
    * retained, an ancient replay can neither be proven already-applied
    * nor safely applied, so it must surface (the batch-id ledger would
    * have silently double-applied once expired); a seq ahead commits.
    * Writers must assign seqs monotonically per writerId (epoch, file
    * offset, window end — anything totally ordered). */
  def appendBatchSeqTx(df: DataFrame, root: String, partCol: String,
                       writerId: String, seq: Long): Long = {
    val spark = df.sparkSession
    commit(spark, root, stage(df, root, partCol), "append",
      readVersion = 0L, writerSeq = Some((writerId, seq)))
  }

  /** SEAL the string batch-id ledger — the one-call migration off
    * [[appendBatchTx]]'s O(total-batches) id set and onto the BOUNDED
    * writer-seq ledger ([[appendBatchSeqTx]]). After the seal commits:
    * every string-batchId write refuses LOUDLY (the id set is retired,
    * so neither idempotent replay nor a fresh landing can be told apart
    * — silence either way would be wrong), and the next [[checkpoint]]
    * drops the accumulated b-lines forever, leaving the ledger
    * O(writers). `adopt` records a (writerId, seq) baseline in the same
    * commit, so a migrating writer's in-window replays resolve through
    * the writer-seq gate: a replay AT the baseline returns the seal
    * version idempotently, BELOW it refuses as stale — exactly the
    * replay discipline the string ids provided, now bounded. Run with
    * the string-id writers quiesced (their next submission refuses). */
  def sealBatchLedgerTx(spark: SparkSession, root: String,
                        adopt: Option[(String, Long)] = None): Long =
    metaTx(spark, root, "TxLog.sealBatchLedgerTx", writerSeq = adopt) {
      // a meta commit SNAPSHOTS the mapping — carry the current one so
      // sealing never clobbers a live rename/drop
      Staged(Map.empty, mapping = Some(writerMetaOf(spark, root)._1),
        sealsBatches = true)
    }

  /** A metadata-only front door: version FIRST, metadata second — a DDL
    * landing between the two reads yields metadata NEWER than the read
    * version, so the conflict-checked "meta" commit re-derives instead of
    * letting a stale snapshot clobber a racing rename (meta snapshots are
    * lost-update-prone, so they conflict with ANY concurrent commit). */
  private def metaTx(spark: SparkSession, root: String, who: String,
                     writerSeq: Option[(String, Long)] = None)
                    (derive: => Staged): Long =
    retryOnConflict(root, who) {
      val v0 = currentVersion(spark, root)
      val staged = derive
      Attempt(() => commit(spark, root, staged, "meta", readVersion = v0,
        conflictCheck = true, writerSeq = writerSeq))
    }

  /** The table's current physical→logical column mapping (empty =
    * identity) — for external readers (the streaming source). */
  private[graft] def tableMapping(spark: SparkSession, root: String)
      : Map[String, String] = mappingOf(spark, root)

  /** Resolved (physical schema, mapping, partition names) for DDL. */
  private def ddlState(spark: SparkSession, root: String, who: String)
      : (org.apache.spark.sql.types.StructType, Map[String, String],
         Seq[String]) = {
    val (chk, commits) = readLog(spark, root)
    val phys = (chk.flatMap(_.schema).toSeq ++ commits.flatMap(_.schema))
      .lastOption.map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(sys.error(s"TxLog.$who: no recorded schema at $root"))
    val mapping = commits.flatMap(_.mapping).lastOption
      .getOrElse(chk.map(_.mapping).getOrElse(Map.empty))
    val partNames = (chk.flatMap(_.partSchema).toSeq ++
      commits.flatMap(_.partSchema)).lastOption
      .map(org.apache.spark.sql.types.StructType.fromDDL(_)
        .map(_.name).toSeq).getOrElse(Seq.empty)
    (phys, mapping, partNames)
  }

  /** Transactional RENAME COLUMN — a METADATA-ONLY commit (the Delta
    * column-mapping shape): data files keep their PHYSICAL column names
    * forever; a rename changes only the table's physical→logical map, so
    * old and new files read under one scan, per-file stats skipping
    * keeps pruning (filters on the logical name push back through the
    * mapping projection into physical attributes), and time travel to a
    * pre-rename version reads under the old name — zero files rewritten.
    * Partition columns are structural (dir layout, log keys) and cannot
    * rename; rebuild the table to change them. */
  def renameColumnTx(spark: SparkSession, root: String,
                     oldName: String, newName: String): Long = {
    require(oldName != newName, "renameColumnTx: old and new names equal")
    metaTx(spark, root, "renameColumnTx") {
      val (phys, mapping, partNames) = ddlState(spark, root, "renameColumnTx")
      require(!partNames.contains(oldName) && !partNames.contains(newName),
        s"renameColumnTx: partition columns are structural and cannot " +
          s"rename ([$oldName] -> [$newName])")
      // a CHECK expression references columns by (logical) NAME — renaming
      // one out from under it would poison every later write's validation
      writerMetaOf(spark, root)._2.foreach { case (n, e) =>
        require(!constraintRefs(spark, e).contains(oldName),
          s"renameColumnTx: CHECK constraint [$n] ($e) references " +
            s"[$oldName] — drop and re-create the constraint around the " +
            "rename")
      }
      def logicalOf(p: String) = mapping.getOrElse(p, p)
      val live = phys.map(_.name).filterNot(p => mapping.get(p).contains("-"))
      require(live.exists(p => logicalOf(p) == oldName),
        s"renameColumnTx: no column [$oldName] at $root")
      require(!live.exists(p => logicalOf(p) == newName),
        s"renameColumnTx: column [$newName] already exists at $root")
      val physName = live.find(p => logicalOf(p) == oldName).get
      // renaming BACK to the physical name returns it to identity
      Staged(Map.empty, mapping = Some(
        if (physName == newName) mapping - physName
        else mapping + (physName -> newName)))
    }
  }

  /** Transactional ADD COLUMN — a METADATA-ONLY commit declaring an
    * additive evolution BEFORE any data carries it (the Delta `ALTER
    * TABLE ... ADD COLUMN` move; the reference's warehouse DDL likewise
    * declares columns ahead of data, init_db.py:35-122): the recorded
    * schema gains the field, every existing file NULL-backfills it on
    * read (the same contract write-time additive evolution already
    * uses), time travel to a pre-add version serves the old schema, and
    * the change feed NULL-backfills it across historical windows.
    * Without this front door a migrating user had to push a dummy data
    * batch to introduce a column.
    *
    * The new column's PHYSICAL name is its logical name, so it must not
    * collide with any live logical name, any recorded physical name
    * (a renamed-away physical would silently fold the new column's
    * future data into the OLD column), or a tombstoned physical name
    * (old files' data would resurrect under it) — the same refusals
    * [[stage]] applies to write-time evolution. Partition columns are
    * structural and cannot be added post-hoc. */
  def addColumnTx(spark: SparkSession, root: String, name: String,
                  dataType: org.apache.spark.sql.types.DataType): Long =
    addColumnsTx(spark, root, Seq(name -> dataType))

  /** N-column [[addColumnTx]] — ONE metadata commit for the whole ALTER
    * (a reader sees all the new columns or none). */
  def addColumnsTx(spark: SparkSession, root: String,
                   cols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Long = {
    require(cols.nonEmpty, "addColumnsTx: no columns to add")
    require(cols.map(_._1).distinct.length == cols.length,
      s"addColumnsTx: duplicate column names " +
        s"[${cols.map(_._1).mkString(", ")}]")
    metaTx(spark, root, "addColumnsTx") {
      val (phys, mapping, partNames) = ddlState(spark, root, "addColumnsTx")
      def logicalOf(p: String) = mapping.getOrElse(p, p)
      val live = phys.map(_.name)
        .filterNot(p => mapping.get(p).contains("-"))
      cols.foreach { case (name, _) =>
        require(!partNames.contains(name),
          s"addColumnsTx: [$name] is a partition column — partitioning " +
            "is structural; rebuild the table to change it")
        require(!live.exists(p => logicalOf(p) == name),
          s"addColumnsTx: column [$name] already exists at $root")
        require(!mapping.get(name).contains("-"),
          s"addColumnsTx: [$name] reuses a DROPPED physical column's " +
            "name — old files would resurrect under it; pick a " +
            "different name")
        require(!phys.fieldNames.contains(name),
          s"addColumnsTx: [$name] shadows the renamed-away physical " +
            s"column [$name → ${logicalOf(name)}] — new data would fold " +
            "into the old column; pick a different name")
      }
      val nextSchema = org.apache.spark.sql.types.StructType(
        phys ++ cols.map { case (n, t) =>
          org.apache.spark.sql.types.StructField(n, t, nullable = true) })
      // a meta commit SNAPSHOTS the mapping — carry the current one so
      // the add never clobbers a live rename/drop
      Staged(Map.empty, schema = Some(nextSchema.toDDL),
        mapping = Some(mapping))
    }
  }

  /** Transactional DROP COLUMN — metadata-only: the recorded physical
    * schema loses the field (old files' extra column is simply not read;
    * new files stop carrying it) and the physical name is TOMBSTONED in
    * the mapping so a later writer cannot reuse it and silently
    * resurrect old data under a new logical column. */
  def dropColumnTx(spark: SparkSession, root: String, name: String): Long =
    metaTx(spark, root, "dropColumnTx") {
      val (phys, mapping, partNames) = ddlState(spark, root, "dropColumnTx")
      require(!partNames.contains(name),
        s"dropColumnTx: partition column [$name] is structural — rebuild " +
          "the table to change its partitioning")
      writerMetaOf(spark, root)._2.foreach { case (n, e) =>
        require(!constraintRefs(spark, e).contains(name),
          s"dropColumnTx: CHECK constraint [$n] ($e) references [$name] — " +
            "drop the constraint first")
      }
      def logicalOf(p: String) = mapping.getOrElse(p, p)
      val live = phys.map(_.name).filterNot(p => mapping.get(p).contains("-"))
      require(live.exists(p => logicalOf(p) == name),
        s"dropColumnTx: no column [$name] at $root")
      require(live.size > 1,
        s"dropColumnTx: [$name] is the table's last data column")
      val physName = live.find(p => logicalOf(p) == name).get
      val nextSchema = org.apache.spark.sql.types.StructType(
        phys.filterNot(_.name == physName))
      Staged(Map.empty, schema = Some(nextSchema.toDDL),
        mapping = Some(mapping - physName + (physName -> "-")))
    }

  /** Column names a CHECK-constraint expression references. */
  private def constraintRefs(spark: SparkSession, e: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(e).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.toSet

  /** The table's CHECK constraints (name → SQL expression). */
  def tableConstraints(spark: SparkSession, root: String): Map[String, String] =
    writerMetaOf(spark, root)._2

  /** Transactional ADD CONSTRAINT — the Delta `ALTER TABLE ADD
    * CONSTRAINT ... CHECK` move: a metadata-only commit records the
    * named SQL predicate; EXISTING rows must already satisfy it (checked
    * here, one scan — refused loudly otherwise), and every subsequent
    * staged write is validated before its files can commit (NULL
    * satisfies, SQL CHECK semantics). Expressions speak LOGICAL column
    * names. */
  def addCheckConstraintTx(spark: SparkSession, root: String,
                           name: String, exprStr: String): Long = {
    require(name.nonEmpty && name != "-",
      "addCheckConstraintTx: constraint name must be non-empty")
    // parse NOW — a malformed expression must fail here, not at some
    // later writer's stage
    spark.sessionState.sqlParser.parseExpression(exprStr): Unit
    retryOnConflict(root, "addCheckConstraintTx") {
      // version FIRST, metadata second: a DDL landing between the two
      // reads yields metadata NEWER than readVersion, so the commit
      // conflicts and re-derives — the reverse order would let a stale
      // mapping snapshot clobber a racing rename without any conflict
      val state = stateOf(spark, root)
      val v0 = state.version
      val (mapping, existing) = writerMetaOf(spark, root)
      require(!existing.contains(name),
        s"addCheckConstraintTx: constraint [$name] already exists at $root")
      if (hasData(spark, root, state)) {
        val ps = partSchemaOf(state.partSchema, root,
          "TxLog.addCheckConstraintTx")
        require(readSnapshot(spark, root, state, ps)
            .filter(not(coalesce(expr(exprStr), lit(true)))).isEmpty,
          s"addCheckConstraintTx: existing rows at $root violate [$name] " +
            s"($exprStr) — clean the data first")
      }
      // a "meta" commit SNAPSHOTS the mapping — re-carry the current one,
      // or this constraints-only commit would reset every rename;
      // conflict-checked so a RACING rename/DDL forces a re-derive
      // instead of being clobbered, and a data commit landing inside the
      // existing-data scan forces a re-validation
      Attempt(() => commit(spark, root,
        Staged(Map.empty, mapping = Some(mapping),
          constraints = Some(existing + (name -> exprStr))),
        "meta", readVersion = v0, conflictCheck = true))
    }
  }

  /** Transactional DROP CONSTRAINT (metadata-only). */
  def dropCheckConstraintTx(spark: SparkSession, root: String,
                            name: String): Long =
    metaTx(spark, root, "dropCheckConstraintTx") {
      val (mapping, existing) = writerMetaOf(spark, root)
      require(existing.contains(name),
        s"dropCheckConstraintTx: no constraint [$name] at $root")
      Staged(Map.empty, mapping = Some(mapping),
        constraints = Some(existing - name))
    }

  /** Table properties in force (empty when none recorded). */
  def tableProperties(spark: SparkSession, root: String): Map[String, String] =
    stateOf(spark, root).props

  /** Properties in force for an already-parsed log window (last
    * property-carrying commit wins; otherwise the checkpoint snapshot). */
  private def propsInForce(chk: Option[Chk],
                           commits: Seq[Commit]): Map[String, String] =
    commits.flatMap(_.props).lastOption
      .getOrElse(chk.map(_.props).getOrElse(Map.empty))

  /** Transactional SET TBLPROPERTIES — a metadata-only commit MERGING
    * `props` into the table's recorded properties. Properties are the
    * table's OPERATIONAL knobs, recorded so the policy travels with the
    * table instead of the job (the Delta TBLPROPERTIES posture):
    * maintenance ([[maintainTx]]'s property-driven overload),
    * [[checkpoint]]'s auto cadence and seal nudge read them as
    * defaults, DESCRIBE DETAIL shows them, and RESTORE reinstates the
    * target version's set. Recognized keys (anything else is carried
    * opaquely):
    *
    *   - `graft.autoCheckpoint.every`     commit() auto-checkpoint cadence
    *   - `graft.seal.nudgeIds`            string-ledger nudge threshold
    *   - `graft.binpack.smallBytes`       maintainTx compaction threshold
    *   - `graft.dv.fraction`              maintainTx dv-rewrite fraction
    *   - `graft.vacuum.retentionMs`       maintainTx vacuum horizon */
  def setTablePropertiesTx(spark: SparkSession, root: String,
                           props: Map[String, String]): Long = {
    require(props.nonEmpty, "setTablePropertiesTx: no properties")
    props.keys.foreach(k => require(k.nonEmpty && k != "-",
      "setTablePropertiesTx: property keys must be non-empty"))
    metaTx(spark, root, "setTablePropertiesTx") {
      Staged(Map.empty, mapping = Some(writerMetaOf(spark, root)._1),
        props = Some(tableProperties(spark, root) ++ props))
    }
  }

  /** Transactional CREATE — records the DECLARED schema (and optional
    * properties) as the table's first commit, the Delta create-commit
    * shape: the empty table reads with its declared columns, DESCRIBE
    * and ADD COLUMN work before any data lands, and the first writer is
    * held to the declared contract (subset writers refuse, additive
    * writers evolve). `schema` is the FULL declared schema; `partCols`
    * names the partition columns (must be declared in `schema`).
    * Refuses on an already-created table — registration of existing
    * tables goes through [[setTablePropertiesTx]] for properties. */
  def createTableTx(spark: SparkSession, root: String,
                    schema: org.apache.spark.sql.types.StructType,
                    partCols: Seq[String],
                    props: Map[String, String] = Map.empty): Long = {
    require(schema.nonEmpty, "createTableTx: empty schema")
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"createTableTx: partition column(s) " +
      s"[${missing.mkString(", ")}] not declared in the schema")
    require(!tableExists(spark, root),
      s"createTableTx: a table already exists at $root — ALTER it " +
        "instead of re-creating")
    val partSet = partCols.toSet
    val dataDDL = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partSet(f.name))).toDDL
    val partDDL =
      if (partCols.isEmpty) None
      else Some(org.apache.spark.sql.types.StructType(
        partCols.map(c => schema(schema.fieldIndex(c)))).toDDL)
    commit(spark, root,
      Staged(Map.empty, schema = Some(dataDDL), partSchema = partDDL,
        mapping = Some(Map.empty),
        props = Some(props).filter(_.nonEmpty)),
      "meta", readVersion = 0L, conflictCheck = true)
  }

  /** Transactional REPLACE TABLE — the table's next version is EXACTLY
    * `df`'s content and schema under a FRESH definition: previous data,
    * column mapping (renames/tombstones), CHECK constraints and
    * properties are ALL superseded in ONE commit (op "restore", the
    * whole-table-state replacement), so readers flip old→new atomically
    * and time travel still serves every pre-replace version. Absent
    * tables create at v1 (the CREATE OR REPLACE path); an EMPTY `df`
    * records a declared-schema-only replacement (zero rows, the new
    * columns). Both representations: driver-shape restore on plain
    * logs, payload-shape (the staged inventory IS the new payload) on
    * parquet-checkpointed tables. The one fixed axis is PARTITIONING —
    * a location has ONE layout; `partCols` must match the recorded
    * partition columns (rebuild at a new location to change them).
    * Conflict checking is VERSION-STRICT: any concurrent commit (even a
    * blind append) retries the replace — old-definition writes must not
    * serialize after a schema-changing replacement. Backing store for
    * Spark's atomic `REPLACE TABLE` / `CREATE OR REPLACE TABLE AS
    * SELECT` through [[graft.plans.TxCatalog]]'s staging surface;
    * behavioral anchor: the reference's `to_sql(if_exists='replace')`
    * full-refresh DAGs (customer_analytics_dag.py:145-151) re-keyed to
    * a schema-changing refresh. */
  def replaceTableTx(df: DataFrame, root: String, partCols: Seq[String],
                     props: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    require(partCols.nonEmpty,
      "replaceTableTx: at least one partition column")
    val notCarried = partCols.filterNot(df.columns.contains)
    require(notCarried.isEmpty, s"replaceTableTx: partition column(s) " +
      s"[${notCarried.mkString(", ")}] not in the replacement frame")
    if (tableExists(spark, root)) {
      val recorded = tableMeta(spark, root)._2.map(_.name).toSeq
      require(recorded == partCols,
        s"replaceTableTx: partCols [${partCols.mkString(", ")}] do not " +
          s"match the recorded partitioning [${recorded.mkString(", ")}] " +
          s"at $root — a location has ONE partitioning; rebuild at a " +
          "new location to change it")
    }
    val partSet = partCols.toSet
    // fresh-definition staging: identity mapping, no inherited
    // constraints (the commit supersedes both below). Staged once: an
    // empty `df` stages nothing (and leaves no dir), and the replacement
    // then records its declared schema and partition schema alone
    val staged = stageWith(df, root, partCols, Nil, 0, Map.empty, Map.empty,
      None)
    val staged0 =
      if (staged.parts.nonEmpty) staged
      else Staged(Map.empty,
        schema = Some(org.apache.spark.sql.types.StructType(
          df.schema.filterNot(f => partSet(f.name))
            .map(_.copy(nullable = true))).toDDL),
        partSchema = Some(org.apache.spark.sql.types.StructType(
          partCols.map(c => df.schema(c).copy(nullable = true))).toDDL))
    // terminal exit: the staged files were never committed — reclaim
    retryOnConflict(root, "TxLog.replaceTableTx", giveUp = () =>
        if (staged0.parts.nonEmpty) discard(spark, root, staged0)) {
      val state =
        if (tableExists(spark, root)) Some(stateOf(spark, root)) else None
      val v0 = state.fold(0L)(_.version)
      state.flatMap(_.payload) match {
        case Some(_) =>
          // payload-shape replacement: the staged files ARE the new
          // inventory — one payload dir, one commit, O(new files) driver
          val (entries, (nfiles, bytes, _)) = entriesDF(spark, root,
            Snapshot(v0, staged0.parts, stats = staged0.stats,
              rows = staged0.rows, partSchema = staged0.partSchema))
          val name = writePayloadDir(spark, root, entries, v0 + 1)
          val stagedP = Staged(Map.empty,
            schema = staged0.schema, partSchema = staged0.partSchema,
            mapping = Some(Map.empty), constraints = Some(Map.empty),
            props = Some(props),
            payloadChk = Some((name, nfiles, bytes, 0L)))
          // payload-shape restores are version-strict by construction
          Attempt(() => commit(spark, root, stagedP, "restore",
              readVersion = v0, conflictCheck = true),
            // ours, referenced by nothing
            () => deletePayloadDir(spark, root, name))
        case None =>
          val gone = state.fold(Set.empty[String])(
            _.parts.keySet -- staged0.parts.keySet)
          val full = staged0.copy(
            parts = staged0.parts ++ gone.map(_ -> Seq.empty[String]),
            mapping = Some(Map.empty), constraints = Some(Map.empty),
            props = Some(props))
          Attempt(() => commit(spark, root, full, "restore",
            readVersion = v0, conflictCheck = true, conflictAll = true))
      }
    }
  }

  /** Transactional UNSET TBLPROPERTIES — removes `keys` (absent keys are
    * a no-op, idempotent replay). */
  def unsetTablePropertiesTx(spark: SparkSession, root: String,
                             keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetTablePropertiesTx: no keys")
    metaTx(spark, root, "unsetTablePropertiesTx") {
      Staged(Map.empty, mapping = Some(writerMetaOf(spark, root)._1),
        props = Some(tableProperties(spark, root) -- keys))
    }
  }

  /** Transactional partition removal — the metadata-only DROP PARTITION
    * (no data file is touched; [[vacuum]] reclaims them later). The
    * third commit op beside overwrite/append: retention on a tx table
    * is one tiny commit, serialized with every concurrent writer by the
    * same protocol (a conflict-checked writer whose snapshot predates
    * the removal sees the conflict and re-derives — it can never
    * resurrect a dropped partition by accident). Values absent from the
    * table commit harmlessly (idempotent retention replay). */
  def removePartitionsTx(spark: SparkSession, root: String,
                         values: Seq[String]): Long = {
    require(values.nonEmpty, "removePartitionsTx: no partition values")
    commit(spark, root, Staged(values.map(_ -> Seq.empty[String]).toMap),
      "remove", readVersion = 0L)
  }

  /** Live partition values (the log's composite keys) — metadata only,
    * no data scan; works on both table representations. Above
    * [[chkMaxHeaderValues]] partitions the header omits the set and this
    * runs one payload distinct query — an O(partitions) driver answer an
    * explicit enumeration API cannot avoid. */
  def partitionValues(spark: SparkSession, root: String): Set[String] =
    partValuesWhere(spark, root, stateOf(spark, root), _ => true).toSet

  /** Transactional retention: drop every partition whose value fails
    * `keep` — the [[Warehouse.dropPartitionsWhere]] shape on a tx table.
    * Returns the partitions dropped (0 = nothing to do, no commit). */
  def dropPartitionsWhereTx(spark: SparkSession, root: String,
                            keep: String => Boolean): Int = {
    val doomed = partValuesWhere(spark, root, stateOf(spark, root),
      v => !keep(v)).sorted
    if (doomed.nonEmpty) removePartitionsTx(spark, root, doomed): Unit
    doomed.length
  }

  /** Transactional RESTORE — the Delta `RESTORE TABLE ... TO VERSION AS
    * OF` move: roll the table FORWARD to a new commit whose content
    * equals the state as of `toVersion`, RE-REFERENCING the old immutable
    * files (zero data copied; rewrites/overwrites since the target are
    * undone, partitions created since are dropped, and the schema AND
    * column mapping as of the target are reinstated — a post-target
    * rename/drop rolls back too). History is preserved: the in-between
    * versions still time-travel until [[expireLog]]/[[vacuum]] reclaim
    * them. Requires every target-version file to still exist (vacuum may
    * have reclaimed overwritten history — checked up front, refused
    * loudly before any commit). Serialized with concurrent writers by
    * the conflict protocol: the restore stages EVERY current and target
    * partition, so any racing commit forces a re-derivation. Driver-
    * resident tables only: a parquet-checkpointed table's file list never
    * driver-materializes and its restore would be a payload rewrite
    * (refused by the [[snapshotAt]] dispatch). Returns the committed
    * version. */
  def restoreTx(spark: SparkSession, root: String, toVersion: Long): Long = {
    // parquet-checkpointed tables restore by PAYLOAD REWRITE: the target
    // inventory is rebuilt distributedly (the file list never
    // driver-materializes) and the commit carries a payload pointer
    // the fold resets its base to
    if (stateOf(spark, root).payload.isDefined)
      return restorePayloadTx(spark, root, toVersion)
    val target = snapshotAt(spark, root, toVersion)
    require(target.parts.nonEmpty,
      s"TxLog.restoreTx: version $toVersion of $root is empty — nothing " +
        "to restore to")
    // every re-referenced file must still be on disk (the vacuum horizon
    // bounds restorability exactly as it bounds time travel) — deletion
    // vectors live at the target included
    val targetFiles = target.parts.values.flatten.toSeq ++
      target.dvs.values.flatMap(_._1)
    val have = statusByRel(spark, root, targetFiles).keySet
    val missing = targetFiles.filterNot(have)
    require(missing.isEmpty,
      s"TxLog.restoreTx: ${missing.size} data files of version " +
        s"$toVersion are already vacuumed (e.g. " +
        s"${missing.take(3).mkString(", ")}) — that version is no longer " +
        "restorable; retain a longer vacuum window to restore that far")
    // never discards: the staged parts re-reference live files
    retryOnConflict(root, "TxLog.restoreTx") {
      val snap = snapshot(spark, root)
      // partitions live NOW but absent at the target drop via empty file
      // sets (the "restore" fold semantics)
      val gone = (snap.parts.keySet -- target.parts.keySet).toSeq
      val staged = Staged(
        target.parts ++ gone.map(_ -> Seq.empty[String]),
        target.schema, target.stats, target.rows, target.partSchema,
        mapping = Some(target.mapping), dvs = target.dvs,
        constraints = Some(target.constraints),
        props = Some(target.props))
      Attempt(() => commit(spark, root, staged, "restore",
        readVersion = snap.version, conflictCheck = true))
    }
  }

  /** RESTORE on a parquet-checkpointed table — the payload-rewrite shape:
    * the target version's full inventory (files, stats, partition values,
    * deletion vectors) is rebuilt as ONE distributed job over the
    * checkpoint payload plus the version-capped delta ([[entriesDF]]),
    * written as a fresh payload dir, and referenced by a parts-free
    * "restore" commit whose [[Commit.payloadChk]] pointer makes
    * [[fold]] reset its base there. The driver never holds the
    * file list. Same contracts as the driver-table restore: every target
    * file must still exist (checked DISTRIBUTEDLY — the vacuum horizon
    * bounds restorability), schema/mapping/constraints reinstate to the
    * target's, in-between history stays time-travelable until expiry,
    * and concurrent commits force a re-derivation (the restore conflicts
    * with everything, like "meta" — its payload bakes in the whole
    * table). Only versions at/after the latest checkpoint are restorable
    * (older file lists are no longer enumerable — the same floor as
    * payload time travel). */
  private def restorePayloadTx(spark: SparkSession, root: String,
                               toVersion: Long): Long = {
    import spark.implicits._
    retryOnConflict(root, "TxLog.restoreTx") {
      val (chk, commits) = readLog(spark, root)
      val cur = fold(chk, commits)
      // the table UN-crossed? impossible (one-way); treat as driver
      cur.payload.fold(Attempt(() => restoreTx(spark, root, toVersion))) { p =>
        require(toVersion >= p.chkVersion,
          s"TxLog.restoreTx: version $toVersion predates the latest " +
            s"parquet checkpoint (${p.chkVersion}) at $root — its file " +
            "list is no longer enumerable; only checkpoint-or-later " +
            "versions restore on a parquet-checkpointed table")
        val bt = fold(chk, commits.filter(_.version <= toVersion))
        require(bt.version == toVersion,
          s"TxLog.restoreTx: version $toVersion was never committed at " +
            s"$root (log ends at ${bt.version} for that prefix)")
        require(hasData(spark, root, bt),
          s"TxLog.restoreTx: version $toVersion of $root is empty — " +
            "nothing to restore to")
        val (entries, _) = entriesDF(spark, root, bt)
        // DISTRIBUTED existence probe over data files + dv sidecars: the
        // driver sees one integer, never the list
        val conf = new org.apache.spark.SerializableWritable(
          spark.sparkContext.hadoopConfiguration)
        val rootQual = fsOf(spark, new Path(root))
          .makeQualified(new Path(root)).toString.stripSuffix("/") + "/"
        val missing = entries
          .select(col("file").as("rel"))
          .unionByName(entries.filter(col("dvfiles").isNotNull)
            .select(explode(col("dvfiles")).as("rel")))
          .distinct().as[String]
          .mapPartitions { it =>
            val f = new Path(rootQual).getFileSystem(conf.value)
            var n = 0
            it.foreach { rel =>
              if (!f.exists(new Path(rootQual + rel))) n += 1
            }
            Iterator.single(n)
          }.collect().sum
        require(missing == 0,
          s"TxLog.restoreTx: $missing data/dv files of version $toVersion " +
            s"at $root are already vacuumed — that version is no longer " +
            "restorable; retain a longer vacuum window to restore that far")
        val name = writePayloadDir(spark, root, entries, cur.version + 1)
        val (nfiles, bytes, ndvs) =
          payloadFacts(spark.read.schema(PayloadSchema)
            .parquet(s"$root/_txlog/$name"))
        val staged = Staged(Map.empty,
          schema = bt.schema, partSchema = bt.partSchema,
          mapping = Some(bt.mapping), constraints = Some(bt.constraints),
          props = Some(bt.props),
          payloadChk = Some((name, nfiles, bytes, ndvs)))
        Attempt(() => commit(spark, root, staged, "restore",
            readVersion = cur.version, conflictCheck = true),
          // OUR payload dir (freshly written, referenced by nothing) —
          // reclaim it and re-derive from the new log head
          () => deletePayloadDir(spark, root, name))
      }
    }
  }

  /** Serializable read-modify-write: derive replacement partitions FROM
    * the current snapshot, commit them conflict-checked, and on conflict
    * discard the stale staging and re-derive from the new snapshot
    * ([[retryOnConflict]] over a whole-table overwrite). The
    * final table is always some serialized application of all competing
    * transforms. `transform` must be a pure function of its input frame. */
  def readModifyWrite(spark: SparkSession, root: String, partCol: String)
                     (transform: DataFrame => DataFrame): Long =
    retryOnConflict(root, "TxLog.readModifyWrite") {
      val snap = snapshot(spark, root)
      val ps = rewritePartSchema(snap, root, "TxLog.readModifyWrite", partCol)
      val staged = stage(transform(readSnapshot(spark, root, snap, ps)),
        root, ps.map(_.name), Nil, 0)
      Attempt(() => commit(spark, root, staged, "overwrite",
          readVersion = snap.version, conflictCheck = true),
        () => discard(spark, root, staged))
    }

  /** [[readModifyWrite]] restricted to the partitions passing `select`:
    * only those are read, transformed, and replaced — the maintenance
    * shape (compaction, partition-scoped rewrites) where staging
    * O(selected) instead of O(table) is the point. The conflict check
    * covers exactly the staged partitions, so concurrent commits to
    * UNSELECTED partitions commute and never force a retry. `transform`
    * must keep every row inside the selected partitions (a row emitted
    * into an unselected partition would widen the overwrite beyond what
    * was read — refused before commit), and a selected partition whose
    * rows transform entirely away stays at its OLD content (an overwrite
    * only replaces partitions it stages; drop them with
    * [[removePartitionsTx]] instead). */
  def readModifyWriteWhere(spark: SparkSession, root: String, partCol: String,
                           select: String => Boolean,
                           clusterBy: Seq[Column] = Nil, clusterFiles: Int = 0)
                          (transform: DataFrame => DataFrame): Long =
    retryOnConflict(root, "TxLog.readModifyWriteWhere") {
      val state = stateOf(spark, root)
      // the table's RECORDED partition schema (N columns) drives the read
      // and restage; `partCol` must be one of its columns. On a
      // multi-column table `select` sees the composite key.
      val ps = rewritePartSchema(state, root, "TxLog.readModifyWriteWhere",
        partCol)
      // selected partitions' files only — on a parquet-checkpointed table
      // the payload's are one payload query bounded by the SELECTION,
      // never a full driver fold (the maintenance contract:
      // partition-scoped rewrites)
      val own = state.parts.filter { case (v, _) => select(v) }
      val sel = state.payload.fold(own) { p =>
        val values = partValuesWhere(spark, root, state, select)
        val fromPayload =
          if (values.isEmpty) Map.empty[String, Seq[String]]
          else payloadLiveDF(spark, root, p)
            .filter(col("part").isin(values: _*))
            .select("part", "file").collect()
            .groupBy(_.getString(0))
            .map { case (v, xs) => v -> xs.map(_.getString(1)).toSeq }
        unionParts(fromPayload, own)
      }
      require(sel.nonEmpty,
        s"TxLog.readModifyWriteWhere: no partition at $root passes select")
      // the dv-filtered read MATERIALIZES deletion vectors: the rewrite
      // restages only live rows, and the dv entries die with their
      // replaced files in the fold
      val selSnap = filesSnapshot(spark, root, state, sel)
        .copy(stats = state.stats, rows = state.rows)
      val staged = stage(
        transform(readSnapshot(spark, root, selSnap, ps)),
        root, ps.map(_.name), clusterBy, clusterFiles)
      if (!staged.parts.keySet.subsetOf(sel.keySet)) {
        val escaped = (staged.parts.keySet -- sel.keySet).toSeq.sorted
        discard(spark, root, staged)
        sys.error("TxLog.readModifyWriteWhere: transform emitted rows into " +
          s"unselected partitions [${escaped.mkString(", ")}] — it may only " +
          "rewrite the partitions it was given")
      }
      Attempt(() => commit(spark, root, staged, "overwrite",
          readVersion = state.version, conflictCheck = true),
        () => discard(spark, root, staged))
    }

  /** Transactional small-file compaction: rewrite each selected
    * partition's file set as ONE file (content-identical — [[stage]]'s
    * hash repartition on the partition key lands each value in exactly
    * one task, hence one file), serialized with every concurrent writer
    * by the conflict protocol. A batch that lands between the compactor's
    * snapshot and its commit raises the conflict; the retry re-derives
    * from the NEW snapshot, so compaction can never lose a landed batch
    * (the q217 race). Cost is O(selected partitions' data), metadata
    * O(selected) — run it partition-scoped on a schedule, never
    * table-wide at 100 TB. */
  def compactPartitionsTx(spark: SparkSession, root: String, partCol: String,
                          select: String => Boolean = _ => true): Long =
    readModifyWriteWhere(spark, root, partCol, select)(identity)

  /** Transactional RANGE-CLUSTERED compaction — the OPTIMIZE-ZORDER-lite
    * maintenance move for [[TxStats]] data skipping: rewrite the selected
    * partitions so every file carries a tight, near-disjoint `clusterBy`
    * range (global range partitioning on (partCol, clusterBy) over
    * `files` tasks, sorted within tasks so row-group footer stats
    * tighten too). After it, a point/range predicate on the cluster key
    * reads O(covering files), not O(partition) — run it on the same
    * schedule (and with the same conflict-protocol safety) as
    * [[compactPartitionsTx]]; a batch landing mid-rewrite forces the
    * usual re-derivation. `files` sizes the rewrite: target
    * (selected data bytes) / (desired file size), bounded below by the
    * cluster's write parallelism. */
  def compactClusteredTx(spark: SparkSession, root: String, partCol: String,
                         clusterBy: Seq[Column], files: Int,
                         select: String => Boolean = _ => true): Long = {
    require(clusterBy.nonEmpty, "compactClusteredTx: no cluster columns")
    require(files > 0, "compactClusteredTx: files must be positive")
    readModifyWriteWhere(spark, root, partCol, select,
      clusterBy = clusterBy, clusterFiles = files)(identity)
  }

  /** Transactional small-file BIN-PACKING compaction — the Delta
    * OPTIMIZE (bin-packing) move: within each selected partition,
    * rewrite ONLY the files smaller than `smallBytes` into merged
    * outputs, leaving well-sized files UNTOUCHED — a file-granular
    * "rewrite" commit (removed = the small files, parts = the merged
    * replacements), so unlike [[compactPartitionsTx]] the cost is
    * O(small files), not O(selected partitions' data), and a second run
    * finds nothing to do (idempotent maintenance: returns without a
    * commit). A partition with fewer than `minFiles` small files is left
    * alone (rewriting one small file buys nothing). Deletion vectors on
    * the rewritten files materialize away (the read is dv-filtered);
    * vectors on untouched files survive. The dv-filtered read of the
    * small files is staged once, with no separate emptiness probe: when
    * every small row was dv-deleted nothing is staged (no dir is left)
    * and the commit is a pure removal. Serialized with concurrent
    * writers by the conflict protocol, exactly like every rewrite.
    * Streaming-ingest tables accrete small files per micro-batch — this
    * plus a partition-scoped schedule is the steady-state answer; at
    * 100 TB the driver holds only the SELECTED partitions' small-file
    * list, so scope `select` accordingly (the same contract as
    * [[readModifyWriteWhere]]). Returns (version, small files removed);
    * no commit when nothing qualifies. */
  def compactBinPackTx(spark: SparkSession, root: String, partCol: String,
                       smallBytes: Long,
                       select: String => Boolean = _ => true,
                       minFiles: Int = 2,
                       dvFraction: Double = 0.3): (Long, Int) = {
    require(smallBytes > 0, "compactBinPackTx: smallBytes must be positive")
    require(minFiles >= 2, "compactBinPackTx: merging fewer than 2 files " +
      "is a no-op — minFiles must be at least 2")
    require(dvFraction > 0,
      "compactBinPackTx: dvFraction must be positive (> 1 disables the " +
        "deletion-vector rewrite policy)")
    def attempt(): Attempt[(Long, Int)] = {
      val state = stateOf(spark, root)
      val version = state.version
      val ps = rewritePartSchema(state, root, "TxLog.compactBinPackTx",
        partCol)
      // selected partitions' file facts — (size, rows, deleted-rows):
      // grouped driver listings + recorded counts for the driver-side
      // files, ONE payload query for a payload's — never a full-table
      // driver fold
      val own = state.parts.filter { case (v, _) => select(v) }
      val meta = statusByRel(spark, root, own.values.flatten.toSeq)
      val ownSized = own.map { case (v, fs) =>
        v -> fs.map(f => (f, meta.getOrElse(f, sys.error(
          s"TxLog.compactBinPackTx: live file $f missing under " +
            root))._1,
          state.rows.get(f),
          state.dvs.get(f).map(_._2).getOrElse(0L)))
      }
      val sized = state.payload.fold(ownSized) { p =>
        val values = partValuesWhere(spark, root, state, select)
        val fromPayload =
          if (values.isEmpty)
            Map.empty[String, Seq[(String, Long, Option[Long], Long)]]
          else payloadLiveDF(spark, root, p)
            .filter(col("part").isin(values: _*))
            .select(col("part"), col("file"), col("size"), col("rows"),
              coalesce(col("dvrows"), lit(0L)))
            .collect()
            .groupBy(_.getString(0))
            .map { case (v, xs) =>
              v -> xs.map { r =>
                val f = r.getString(1)
                // a post-checkpoint dv commit overrides the payload's
                // recorded vector for its files (cumulative)
                val del = state.dvs.get(f).map(_._2)
                  .getOrElse(r.getLong(4))
                (f, r.getLong(2),
                  if (r.isNullAt(3)) None else Some(r.getLong(3)), del)
              }.toSeq }
        unionParts(fromPayload, ownSized)
      }
      // two rewrite reasons, one rewrite: (a) small files bin-pack when
      // at least minFiles share a partition; (b) a file whose DELETED
      // FRACTION crosses dvFraction rewrites REGARDLESS of count — the
      // maintenance cadence is what keeps steady state dv-free (the
      // merge-on-read anti-join is a read tax worth paying only while
      // deletes are fresh). Unknown row counts skip the dv policy
      // (conservative — never rewrite on a guess).
      val smallsOnly = sized.map { case (v, fs) =>
        v -> fs.collect { case (f, sz, _, _) if sz < smallBytes => f }
      }.filter(_._2.size >= minFiles)
      val dvHeavy = sized.map { case (v, fs) =>
        v -> fs.collect {
          case (f, _, Some(n), del)
            if n > 0 && del.toDouble / n >= dvFraction => f
        }
      }.filter(_._2.nonEmpty)
      val smalls = (smallsOnly.keySet ++ dvHeavy.keySet).map { v =>
        v -> (smallsOnly.getOrElse(v, Seq.empty) ++
          dvHeavy.getOrElse(v, Seq.empty)).distinct
      }.toMap
      if (smalls.isEmpty) return Attempt(() => (version, 0))
      val candSnap = filesSnapshot(spark, root, state, smalls)
      // one merged file per partition ([[stage]]'s hash repartition) —
      // the small-file steady state; a partition whose smalls exceed a
      // sane file size should be on the compactClusteredTx schedule.
      // Nothing staged (every small row dv-deleted) is a pure removal
      val staged = stageMaybeEmpty(readSnapshot(spark, root, candSnap, ps),
        root, ps.map(_.name), Nil, 0).copy(removed = smalls)
      Attempt(() => (commit(spark, root, staged, "rewrite",
          readVersion = version, conflictCheck = true),
          smalls.valuesIterator.flatten.toSet.size),
        () => discard(spark, root, staged))
    }
    retryOnConflict(root, "TxLog.compactBinPackTx")(attempt())
  }

  /** Transactional MULTI-KEY Z-ORDER compaction — the full OPTIMIZE
    * ZORDER BY move: rewrite the selected partitions so files carry
    * tight ranges in EVERY `zorderBy` dimension at once, and a range
    * predicate on ANY of them prunes to O(covering files). The 1-D
    * [[compactClusteredTx]] makes the first key skippable at the cost of
    * the others; bit-interleaving fixes that: each key quantile-maps to a
    * [[ZorderBits]]-bit bucket id (boundaries from one approxQuantile
    * pass over the selected data — rank space, so skew cannot starve a
    * dimension), the ids interleave bit-by-bit into one z-value, and a
    * global range partitioning on (partition, z) gives every file a
    * z-contiguous slice ≈ a hyper-rectangle of the keyspace. Within-task
    * sort tightens row-group footer stats the same way. Keys must be
    * numeric/date/timestamp (rank-mappable through a double cast); the
    * z-value is a SHUFFLE KEY ONLY — no column is added to the table.
    * Runs under the same conflict protocol as every rewrite. */
  def compactZorderTx(spark: SparkSession, root: String, partCol: String,
                      zorderBy: Seq[String], files: Int,
                      select: String => Boolean = _ => true): Long = {
    require(zorderBy.size >= 2,
      "compactZorderTx: z-order needs 2+ keys (use compactClusteredTx " +
        "for one)")
    require(zorderBy.size <= 5,
      s"compactZorderTx: ${zorderBy.size} keys × $ZorderBits bits " +
        "exceeds a 63-bit interleave — beyond 5 keys the z-value would " +
        "wrap Long shifts and silently collide bit positions")
    require(files > 0, "compactZorderTx: files must be positive")
    val zState = stateOf(spark, root)
    val df = readSnapshot(spark, root, zState,
      rewritePartSchema(zState, root, "TxLog.compactZorderTx", partCol))
    zorderBy.foreach { c =>
      val t = df.schema(c).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        t == org.apache.spark.sql.types.DateType ||
        t == org.apache.spark.sql.types.TimestampType ||
        t == org.apache.spark.sql.types.TimestampNTZType,
        s"compactZorderTx: key $c of type $t is not rank-mappable — " +
          "z-order supports numeric/date/timestamp keys")
    }
    val buckets = 1 << ZorderBits
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // one pass: quantile boundaries for every key (approx is fine — a
    // sloppy boundary only blurs bucket edges, never correctness)
    val tmpCols = zorderBy.zipWithIndex.map { case (c, i) => s"__z$i" }
    val casted = zorderBy.zip(tmpCols).foldLeft(df) { case (d, (c, t)) =>
      d.withColumn(t, col(c).cast(org.apache.spark.sql.types.DoubleType))
    }
    val bounds: Array[Array[Double]] =
      casted.stat.approxQuantile(tmpCols.toArray, probs, 0.001)
    // codegen'd expression, not a UDF: the z-value runs once per row on
    // the rewrite's hot path — boundaries embed in the plan as a
    // reference object, the interleave stays inside whole-stage codegen
    // (nulls → bucket 0, mirroring NULLS FIRST sort order)
    val zCol = graft.plans.ZBucketInterleave(
      zorderBy.map(c => col(c).cast(org.apache.spark.sql.types.DoubleType)),
      bounds, ZorderBits)
    readModifyWriteWhere(spark, root, partCol, select,
      clusterBy = Seq(zCol), clusterFiles = files)(identity)
  }

  /** Bits per z-order dimension: 2^12 rank buckets per key — boundary
    * resolution far below any realistic files-per-partition count. */
  val ZorderBits = 12

  private object Predicates
      extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      splitConjunctivePredicates(e)
  }

  /** Live files that MIGHT hold rows matching `cond` — found by the SAME
    * machinery a filtered read uses: analyze the filtered read's
    * optimized plan, split its conjuncts into partition vs data filters,
    * and ask the scan's own file index for the survivors (partition
    * pruning + per-file [[TxStats]] min/max skipping — driver-side on a
    * [[TxFileIndex]], one distributed payload job on a
    * [[TxBigFileIndex]]). Everything not provably irrelevant is a
    * candidate. Returns partition value → rel files. */
  private def candidatesOf(df: DataFrame, cond: Column,
                           partCols: Seq[String]): Map[String, Seq[String]] = {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .expression(cond).deterministic,
      "TxLog: a non-deterministic predicate cannot drive a file rewrite")
    val plan = df.filter(cond).queryExecution.optimizedPlan
    val relOpt = plan.collectFirst { case l: LogicalRelation => l }
    // the optimizer folded the predicate to FALSE: no file can match
    if (relOpt.isEmpty) return Map.empty
    val rel = relOpt.get
    val filters = plan.collectFirst {
      case logical.Filter(c, _: LogicalRelation) => Predicates.split(c)
    }.getOrElse(Seq.empty) // predicate folded to TRUE: every file matches
    val partAttr = org.apache.spark.sql.catalyst.expressions.AttributeSet(
      rel.output.filter(a => partCols.contains(a.name)))
    val (partFilters, dataFilters) =
      filters.partition(_.references.subsetOf(partAttr))
    rel.relation.asInstanceOf[HadoopFsRelation]
      .location.asInstanceOf[GraftFileIndex]
      .survivorParts(partFilters, dataFilters)
  }

  /** Transactional keyed DELETE — `DELETE FROM t WHERE cond` through the
    * commit protocol, file-granular: data skipping FINDS the files that
    * might hold matching rows (everything else is untouched metadata),
    * only those are read, filtered to their surviving rows (`cond`
    * evaluating NULL keeps the row — SQL DELETE semantics), and swapped
    * out in one conflict-checked "rewrite" commit. A concurrent commit
    * touching an affected partition forces re-derivation from the new
    * snapshot, so a delete can never drop rows a racing writer just
    * replaced. At 100 TB the rewrite cost is O(files that might match) —
    * on a [[compactClusteredTx]]-clustered key that is O(covering
    * files), not O(table). Returns (committed version, files rewritten);
    * (currentVersion, 0) when no file could match (no commit). */
  def deleteWhereTx(spark: SparkSession, root: String, cond: Column,
                    changeFeed: Boolean = false): (Long, Int) = {
    def attempt(): Attempt[(Long, Int)] = {
      val state = stateOf(spark, root)
      val version = state.version
      if (!hasData(spark, root, state))
        return Attempt(() => (version, 0))
      val ps = partSchemaOf(state.partSchema, root, "TxLog.deleteWhereTx")
      val cands = candidatesOf(
        readSnapshot(spark, root, state, ps), cond, ps.map(_.name))
      if (cands.isEmpty) return Attempt(() => (version, 0))
      // candidates are O(matching files) — a bounded driver-side read
      // even when the table itself is parquet-checkpointed. Deletion
      // vectors of candidate files apply to the read (already-deleted
      // rows neither restage nor re-enter the change feed) and die with
      // the replaced files in the fold.
      val candSnap = filesSnapshot(spark, root, state, cands)
      val hit = coalesce(cond, lit(false)) // NULL predicate keeps the row
      val candRead = readSnapshot(spark, root, candSnap, ps)
      val vals = candRead.columns.toSeq.map(col)
      // write-side CDC (opt-in): the deleted rows ARE known here — record
      // them so readChangeFeed can serve this window to row-level
      // incremental consumers (a rewrite is otherwise inexpressible as
      // appended rows); they leave in the same write as the survivors
      val staged = stageRouted(
        fanOut(stageShuffle(candRead, ps.map(_.name)), candRead.columns.toSeq,
          Seq((not(hit), DataRoute, vals)) ++
            (if (changeFeed) Seq((hit, "delete", vals)) else Nil)),
        root, ps.map(_.name), changeFeed).copy(removed = cands)
      Attempt(() => (commit(spark, root, staged, "rewrite",
          readVersion = version, conflictCheck = true),
          cands.valuesIterator.map(_.size).sum),
        () => discard(spark, root, staged))
    }
    retryOnConflict(root, "TxLog.deleteWhereTx")(attempt())
  }

  /** Transactional keyed UPDATE — `UPDATE t SET col = expr, ... WHERE
    * cond` through the commit protocol, file-granular like
    * [[deleteWhereTx]]: data skipping finds the files that might hold
    * matching rows, only those are read (dv-filtered) and rewritten with
    * the SET expressions applied to the rows where `cond` holds (NULL
    * leaves the row unchanged — SQL UPDATE semantics), and one
    * conflict-checked "rewrite" commit swaps them in. SET expressions
    * are plain Columns over the table's (logical) columns; partition
    * columns are structural and refuse. At 100 TB the rewrite cost is
    * O(files that might match) — on a clustered predicate key that is
    * O(covering files), not O(table). Opt-in `changeFeed` records
    * update pre/post images. Returns (committed version, files
    * rewritten); (currentVersion, 0) when no file could match. */
  def updateWhereTx(spark: SparkSession, root: String, cond: Column,
                    sets: Map[String, Column],
                    changeFeed: Boolean = false): (Long, Int) = {
    require(sets.nonEmpty, "updateWhereTx: no SET expressions")
    def attempt(): Attempt[(Long, Int)] = {
      val state = stateOf(spark, root)
      val version = state.version
      if (!hasData(spark, root, state))
        return Attempt(() => (version, 0))
      val ps = partSchemaOf(state.partSchema, root, "TxLog.updateWhereTx")
      sets.keys.foreach { k =>
        require(!ps.map(_.name).contains(k),
          s"updateWhereTx: SET touches partition column [$k] — " +
            "partitions are structural, an UPDATE cannot move rows " +
            "across them")
      }
      val cands = candidatesOf(
        readSnapshot(spark, root, state, ps), cond, ps.map(_.name))
      if (cands.isEmpty) return Attempt(() => (version, 0))
      val candSnap = filesSnapshot(spark, root, state, cands)
      val candRead = readSnapshot(spark, root, candSnap, ps)
      sets.keys.foreach { k =>
        require(candRead.columns.contains(k),
          s"updateWhereTx: SET targets unknown column [$k]")
      }
      val hit = coalesce(cond, lit(false)) // NULL predicate = unchanged
      val cols = candRead.columns.toSeq
      val pre = cols.map(col)
      val post = cols.map { c =>
        sets.get(c).map(v => when(hit, v).otherwise(col(c))).getOrElse(col(c))
      }
      // write-side CDC (opt-in): update pre/post images of the hit rows,
      // in the same write as the rewritten files
      val staged = stageRouted(
        fanOut(stageShuffle(candRead, ps.map(_.name)), cols,
          Seq((lit(true), DataRoute, post)) ++
            (if (changeFeed) Seq((hit, "update_preimage", pre),
               (hit, "update_postimage", post)) else Nil)),
        root, ps.map(_.name), changeFeed).copy(removed = cands)
      Attempt(() => (commit(spark, root, staged, "rewrite",
          readVersion = version, conflictCheck = true),
          cands.valuesIterator.map(_.size).sum),
        () => discard(spark, root, staged))
    }
    retryOnConflict(root, "TxLog.updateWhereTx")(attempt())
  }

  /** MERGE-ON-READ keyed DELETE — position deletes via DELETION VECTORS
    * (the Delta/Iceberg DV shape): instead of rewriting every file that
    * might hold a matching row ([[deleteWhereTx]]'s copy-on-write), one
    * "dv" commit records, per affected data file, its CUMULATIVE deleted
    * (file, position) set in small sidecar parquet files — ZERO data
    * files move, so a point delete on a 1-GB-file table costs KBs of
    * I/O, not a gigabyte rewrite. Reads anti-join the scan against the
    * live vectors on (rel file, `_metadata.row_index`) — a codegen'd
    * broadcast hash probe per row, nothing on dv-free tables — and
    * metadata-only COUNTs subtract the recorded per-file counts exactly.
    * Those counts are folded by the sidecar write's own tasks, so the
    * sidecar is never read back.
    * Vectors MATERIALIZE (and disappear) at the next rewrite of their
    * file: compaction/MERGE read dv-filtered and replace the file, so
    * the steady state under maintenance is dv-free. Same candidate
    * search, conflict protocol, and optional `changeFeed` (delete
    * images) as [[deleteWhereTx]]. Works on BOTH representations: DV
    * state rides the log on driver tables and the checkpoint payload's
    * dvfiles/dvrows columns (plus bounded post-checkpoint overrides) on
    * parquet-checkpointed ones. Size deletes accordingly — a delete
    * touching most rows should use the rewrite path, not accumulate
    * giant vectors. Returns (committed
    * version, positions newly deleted); (currentVersion, 0) = no commit. */
  def deleteWhereDvTx(spark: SparkSession, root: String, cond: Column,
                      changeFeed: Boolean = false): (Long, Long) = {
    def attempt(): Attempt[(Long, Long)] = {
      val state = stateOf(spark, root)
      val version = state.version
      if (!hasData(spark, root, state))
        return Attempt(() => (version, 0L))
      val ps = partSchemaOf(state.partSchema, root, "TxLog.deleteWhereDvTx")
      // candidate search: stats pruning decides FILES, and the dv
      // anti-join can only shrink rows within them — so the search reads
      // without the state's own vectors (a payload's pruning still runs
      // as the scan's distributed job)
      val cands = candidatesOf(
        readSnapshot(spark, root, state.copy(dvs = Map.empty), ps),
        cond, ps.map(_.name))
      if (cands.isEmpty) return Attempt(() => (version, 0L))
      val candFiles = cands.valuesIterator.flatten.toSet
      // effective prior vectors for the candidates: driver state on a
      // driver table, one selective payload query (+ delta overrides)
      // on a parquet-checkpointed one — bounded by the candidate set
      val candSnap = filesSnapshot(spark, root, state, cands)
      // candidate rows with their (rel file, position) identity, already
      // dv-filtered (a position can never re-delete) and under logical
      // names (so `cond` and the change feed speak the caller's schema)
      val candRead = readSnapshotPos(spark, root, candSnap, ps,
        withPos = true)
      val matches = candRead.filter(coalesce(cond, lit(false)))
      val newPos = matches
        .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
      // cumulative vectors: the new sidecar carries old ∪ new positions
      // for every candidate file, so exactly ONE dv entry per data file
      // is ever live (prior sidecars unreference and vacuum away)
      val priorDvFiles = candSnap.dvs.values.flatMap(_._1).toSeq.distinct
      val allPos =
        if (priorDvFiles.isEmpty) newPos
        else newPos.unionByName(
          spark.read.schema(DvSchema)
            .parquet(priorDvFiles.map(f => s"$root/$f"): _*)
            .filter(col("file").isin(candFiles.toSeq: _*)))
      val rel = s"data/dv-${java.util.UUID.randomUUID()}"
      val dir = new Path(root, rel)
      // per-file counts come from the rows the write streams, not from a
      // re-read of the sidecar: each task folds its rows into a
      // (file -> positions) map, and the driver merges the task maps.
      // Exactly once: the fold sits directly under the file writer, so it
      // runs in the write's result stage, and Spark merges a result
      // task's accumulator update only for the first successful attempt
      // of each partition (a failed attempt's update is dropped, a
      // duplicate attempt's ignored). A failed write throws before any
      // count is read. Unnamed, so the status store keeps no per-task
      // copy of it.
      val folds = spark.sparkContext.collectionAccumulator[Map[String, Long]]
      allPos.mapPartitions { rows =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => folds.add(m.toMap))
        rows.map { r =>
          val f = r.getString(0)
          m(f) = m.getOrElse(f, 0L) + 1L
          r
        }
      }(org.apache.spark.sql.Encoders.row(allPos.schema))
        .write.mode("errorifexists").parquet(dir.toString)
      val dvFiles = fsOf(spark, dir).listStatus(dir).filter(_.isFile)
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .map(f => s"$rel/$f").toSeq
      import scala.jdk.CollectionConverters._
      val counts = folds.value.asScala.foldLeft(Map.empty[String, Long]) {
        (acc, m) => m.foldLeft(acc) { case (a, (f, n)) =>
          a.updated(f, a.getOrElse(f, 0L) + n)
        }
      }
      // HARD INVARIANT, loud: every recorded position keys a LIVE
      // candidate file in the log's decoded rel-path space. A key the
      // relativization mangled ("" or an encoded variant) would record
      // the delete under a name fold drops as non-live — the delete
      // would silently vanish at the next checkpoint while this call
      // reports success.
      counts.keys.find(f => f.isEmpty || !candFiles(f)).foreach { bad =>
        fsOf(spark, dir).delete(dir, true)
        sys.error(s"TxLog.deleteWhereDvTx: deletion-vector key [$bad] is " +
          s"not a live candidate file of $root — file-path " +
          "relativization produced a key outside the log's rel-path " +
          "space; refusing to record a vector that would silently drop")
      }
      val priorN = candSnap.dvs.valuesIterator.map(_._2).sum
      val added = counts.values.sum - priorN
      if (added == 0L) { // cond matched nothing live — no commit
        fsOf(spark, dir).delete(dir, true)
        return Attempt(() => (version, 0L))
      }
      val dvEntry: FileDvs =
        counts.map { case (f, n) => f -> (dvFiles, n) }
      val cdf =
        if (!changeFeed) Seq.empty[String]
        else {
          val images = matches.drop("__dv_f", "__dv_p")
          val cols = images.columns.toSeq
          stageRouted(fanOut(stageShuffle(images, ps.map(_.name)), cols,
              Seq((lit(true), "delete", cols.map(col)))),
            root, ps.map(_.name), changeFeed, checkData = false).changes
        }
      // the affected partitions (empty file sets) are the conflict unit:
      // a concurrent rewrite of a candidate file must force re-derivation
      val staged = Staged(
        counts.keySet.flatMap(f => cands.collectFirst {
          case (v, fs) if fs.contains(f) => v
        }).map(_ -> Seq.empty[String]).toMap,
        changes = cdf, dvs = dvEntry, changeFeed = changeFeed)
      Attempt(() => (commit(spark, root, staged, "dv",
          readVersion = version, conflictCheck = true), added),
        () => discard(spark, root, staged))
    }
    retryOnConflict(root, "TxLog.deleteWhereDvTx")(attempt())
  }

  /** Per-source-partition bounds of `key` as (partition key, min, max) in
    * Catalyst's internal representation — what `groupBy(partition
    * columns).agg(min(key), max(key))` answers (NULL keys ignored; a
    * partition whose keys are all NULL bounds at (null, null)), in ONE
    * job and without that aggregate's shuffle: each task folds its rows
    * into a per-partition (min, max) under Spark's ordering for the key
    * type, and the driver merges the per-task maps. */
  private def keyBounds(source: DataFrame, ps: org.apache.spark.sql.types.StructType,
                        key: String): Seq[(String, Any, Any)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.types.PhysicalDataType
    val nP = ps.length
    val keyType = source.schema(key).dataType
    val perTask = source
      .select(ps.map(f => col(f.name).cast(StringType)).toSeq :+ col(key): _*)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val ord = PhysicalDataType.ordering(keyType)
        val m = scala.collection.mutable.HashMap.empty[Seq[String], (Any, Any)]
        rows.foreach { r =>
          val pv = (0 until nP).map(i =>
            if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
          val k =
            if (r.isNullAt(nP)) null else InternalRow.copyValue(r.get(nP, keyType))
          m(pv) = widenBounds(ord, m.getOrElse(pv, (null, null)), (k, k))
        }
        Iterator.single(m.toMap)
      }.collect()
    val ord = PhysicalDataType.ordering(keyType)
    perTask.foldLeft(Map.empty[Seq[String], (Any, Any)]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (pv, b)) =>
        a.updated(pv, widenBounds(ord, a.getOrElse(pv, (null, null)), b))
      }
    }.toSeq.map { case (pv, (lo, hi)) => (renderPartKey(pv), lo, hi) }
  }

  /** The union of two (min, max) key ranges; (null, null) is empty. */
  private def widenBounds(ord: Ordering[Any], a: (Any, Any),
                          b: (Any, Any)): (Any, Any) =
    if (a._1 == null) b
    else if (b._1 == null) a
    else (ord.min(a._1, b._1), ord.max(a._2, b._2))

  /** Candidate files of a keyed merge plus their DV-filtered read: per
    * source partition, the live files whose recorded `key` range
    * overlaps the source's key bounds (per-file stats skipping on the
    * driver-side files, ONE distributed job over a payload). The front
    * half of [[mergeTx]]. */
  private def mergeCandidateRead(spark: SparkSession, root: String,
                                 state: Snapshot,
                                 source: DataFrame, key: String,
                                 ps: org.apache.spark.sql.types.StructType)
      : (Map[String, Seq[String]], Option[DataFrame]) = {
    val keyType = source.schema(key).dataType
    // per-source-partition key bounds: O(source partitions) driver rows
    // (all N partition columns cast to their raw-string key segments)
    val bounds = keyBounds(source, ps, key)
    // recorded file stats are keyed by PHYSICAL column names — a
    // renamed merge key translates so skipping keeps bounding the
    // candidate set
    val physKey = state.mapping
      .collectFirst { case (p, l) if l == key => p }.getOrElse(key)
    val attr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference(physKey, keyType)()
    // keep a file unless its stats prove [fileMin,fileMax] and the
    // source bounds [mn,mx] are disjoint: "might a row satisfy
    // key >= mn AND key <= mx" is exactly range overlap
    def overlapExprs(mn: Any, mx: Any)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      Seq(org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
            attr, org.apache.spark.sql.catalyst.expressions.Literal(mn, keyType)),
          org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
            attr, org.apache.spark.sql.catalyst.expressions.Literal(mx, keyType)))
    val own = bounds.flatMap { case (pv, mn, mx) =>
      val fs = state.parts.getOrElse(pv, Seq.empty).filter { f =>
        state.stats.get(f).forall(TxStats.mightMatch(overlapExprs(mn, mx), _))
      }
      if (fs.isEmpty) None else Some(pv -> fs)
    }.toMap
    val cands = state.payload.fold(own) { p =>
      // ONE distributed candidate job over the payload: OR over the
      // per-partition (part = v AND key-range-overlap) predicates
      val payloadPred = bounds.map { case (pv, mn, mx) =>
        (col("part") === pv) &&
          TxStats.mightMatchColumn(overlapExprs(mn, mx), col("stats"))
      }.reduceOption(_ || _).getOrElse(lit(false))
      val fromPayload = payloadLiveDF(spark, root, p)
        .filter(payloadPred).select("part", "file").collect()
        .groupBy(_.getString(0))
        .map { case (v, xs) => v -> xs.map(_.getString(1)).toSeq }
      unionParts(fromPayload, own)
    }
    val candRead =
      if (cands.isEmpty) None
      else Some(readSnapshot(spark, root,
        filesSnapshot(spark, root, state, cands), ps))
    (cands, candRead)
  }

  /** Transactional keyed MERGE (upsert) — the Delta `MERGE ... WHEN
    * MATCHED UPDATE * WHEN NOT MATCHED INSERT *` shape, file-granular:
    * rows of `source` REPLACE target rows sharing their `key`, new keys
    * append. Data skipping finds the affected files (per source
    * partition, the live files whose recorded key range overlaps the
    * source's key bounds — everything else is untouched); those files'
    * unmatched rows plus ALL source rows restage, and one
    * conflict-checked "rewrite" commit swaps them in, serialized with
    * every concurrent writer. CONTRACT: `source` carries the table's
    * schema (partition column included), a key's partition value is
    * STABLE (a "moved" key would dodge the candidate search and
    * duplicate), and source keys are unique. Reference anchor: the
    * upsert the reference replays row-by-row (`test_db.py:53-65`), here
    * one metadata round + O(affected files) I/O. It is the `updateAll` +
    * `insertAll` case of [[mergeClausesTx]], with two differences kept
    * from its own history: outside the unique-key contract a key's
    * source rows replace ALL its target rows (no per-pair product), and
    * an empty source refuses. Returns the committed version. */
  def mergeKeyedTx(spark: SparkSession, root: String, source: DataFrame,
                   key: String, changeFeed: Boolean = false,
                   writerSeq: Option[(String, Long)] = None,
                   autoEvolve: Boolean = false): Long =
    mergeTx(spark, root, source, key, Seq(MergeClause.updateAll()),
      Seq(MergeClause.insertAll()), changeFeed, writerSeq, autoEvolve,
      who = "mergeKeyedTx", upsert = true)

  /** Opt-in MERGE schema evolution (the Delta `autoMerge` shape): any
    * source column the table does not carry is declared FIRST as an
    * additive metadata commit ([[addColumnsTx]] — history and unmatched
    * target rows NULL-backfill), so the merge's candidate read and
    * rewrite speak the widened schema. Without it a wider source refuses
    * at the candidate projection — the safe default (a typo'd source
    * column must not silently evolve the table). The SQL surface opts in
    * per session with `graft.txlog.mergeEvolve=true`. */
  private def mergeEvolve(spark: SparkSession, root: String,
                          source: DataFrame): Unit = {
    val existing = readTable(spark, root).columns.toSet
    val extras = source.schema.filterNot(f => existing(f.name))
    if (extras.nonEmpty)
      addColumnsTx(spark, root,
        extras.map(f => f.name -> f.dataType).toSeq): Unit
  }

  /** One clause of a [[mergeClausesTx]]: conditions and SET expressions
    * are SQL strings over the aliases `t` (target) and `s` (source) —
    * the Delta MERGE surface shape. */
  final case class MergeClause(kind: String, condition: Option[String],
                               sets: Map[String, String])
  object MergeClause {
    /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ... */
    def update(set: Map[String, String],
               condition: Option[String] = None): MergeClause =
      MergeClause("update", condition, set)
    /** WHEN MATCHED [AND cond] THEN UPDATE SET * (source replaces). */
    def updateAll(condition: Option[String] = None): MergeClause =
      MergeClause("updateAll", condition, Map.empty)
    /** WHEN MATCHED [AND cond] THEN DELETE. */
    def delete(condition: Option[String] = None): MergeClause =
      MergeClause("delete", condition, Map.empty)
    /** WHEN NOT MATCHED [AND cond] THEN INSERT *. */
    def insertAll(condition: Option[String] = None): MergeClause =
      MergeClause("insertAll", condition, Map.empty)
  }

  /** Full conditional MERGE — the Delta `MERGE INTO t USING s ON
    * t.key = s.key WHEN MATCHED [AND ...] THEN UPDATE/DELETE WHEN NOT
    * MATCHED [AND ...] THEN INSERT` statement as a transactional
    * operation: matched rows take the FIRST `whenMatched` clause whose
    * condition passes (remaining matched rows and all non-matched target
    * rows pass through unchanged), non-matched source rows insert under
    * the first passing `whenNotMatched` clause (or drop). File-granular
    * exactly like [[mergeKeyedTx]] (which is the updateAll+insertAll
    * special case): candidates come from per-source-partition key-range
    * stats overlap, only those files rewrite, and the commit is
    * conflict-serialized. Same contract: `source` carries the table's
    * schema, keys are unique in the source, and a key's partition value
    * is stable — SET expressions may not touch partition columns
    * (refused: a MERGE cannot move rows across partitions). Opt-in
    * `changeFeed` records update pre/post images, deletes and inserts.
    * Returns the committed version; no commit when nothing changes. */
  def mergeClausesTx(spark: SparkSession, root: String, source: DataFrame,
                     key: String, whenMatched: Seq[MergeClause],
                     whenNotMatched: Seq[MergeClause] =
                       Seq(MergeClause.insertAll()),
                     changeFeed: Boolean = false,
                     writerSeq: Option[(String, Long)] = None,
                     autoEvolve: Boolean = false): Long =
    mergeTx(spark, root, source, key, whenMatched, whenNotMatched,
      changeFeed, writerSeq, autoEvolve,
      who = "mergeClausesTx", upsert = false)

  /** The one MERGE body behind [[mergeKeyedTx]] and [[mergeClausesTx]]:
    * candidate search, one routed write, the conflict-checked commit
    * loop. `upsert` keeps [[mergeKeyedTx]]'s two rules: a key's source
    * rows replace all its target rows (see [[mergeRouted]]), and an empty
    * source is a caller error where [[mergeClausesTx]] returns the
    * current version without a commit. */
  private def mergeTx(spark: SparkSession, root: String, source: DataFrame,
                      key: String, whenMatched: Seq[MergeClause],
                      whenNotMatched: Seq[MergeClause],
                      changeFeed: Boolean,
                      writerSeq: Option[(String, Long)], autoEvolve: Boolean,
                      who: String, upsert: Boolean): Long = {
    if (autoEvolve) mergeEvolve(spark, root, source)
    require(whenMatched.forall(c => c.kind == "update" ||
        c.kind == "updateAll" || c.kind == "delete"),
      s"$who: whenMatched clauses are update/updateAll/delete")
    require(whenNotMatched.forall(_.kind == "insertAll"),
      s"$who: whenNotMatched clauses are insertAll")
    require(whenMatched.nonEmpty || whenNotMatched.nonEmpty,
      s"$who: at least one clause")
    // only the FINAL clause of a branch may omit its condition (else the
    // later clauses are dead — the Delta rule, enforced loudly)
    require(whenMatched.dropRight(1).forall(_.condition.nonEmpty),
      s"$who: only the final whenMatched clause may omit its condition")
    require(whenNotMatched.dropRight(1).forall(_.condition.nonEmpty),
      s"$who: only the final whenNotMatched clause may omit its condition")
    def attempt(): Attempt[Long] = {
      val state = stateOf(spark, root)
      val version = state.version
      require(hasData(spark, root, state),
        s"TxLog.$who: table at $root is empty — append the seed batch " +
          "instead")
      val ps = state.partSchema
        .map(org.apache.spark.sql.types.StructType.fromDDL)
        .getOrElse(sys.error(s"TxLog.$who: the log at $root predates " +
          "partition-column recording"))
      val partNames = ps.map(_.name)
      whenMatched.foreach(_.sets.keys.foreach { k =>
        require(!partNames.contains(k), s"$who: SET touches partition " +
          s"column [$k] — partitions are structural, a MERGE cannot " +
          "move rows across them")
        require(source.columns.contains(k),
          s"$who: SET targets unknown column [$k]")
      })
      val (cands, candRead) =
        mergeCandidateRead(spark, root, state, source, key, ps)
      // no candidate and no insert clause: nothing can change
      if (whenNotMatched.isEmpty && cands.isEmpty)
        return Attempt(() => version)
      val staged = stageRouted(
        mergeRouted(spark, source, candRead, key, partNames, whenMatched,
          whenNotMatched, changeFeed, upsert),
        root, partNames, changeFeed).copy(removed = cands)
      if (staged.parts.isEmpty && cands.isEmpty) {
        // nothing matched and every insert filtered (so no change image
        // either, and the empty staging dir is already gone)
        require(!upsert, "TxLog.stage: staged DataFrame is empty — " +
          "an empty overwrite would be a silent no-op; drop partitions " +
          "explicitly")
        return Attempt(() => version)
      }
      Attempt(() => commit(spark, root, staged, "rewrite",
          readVersion = version, conflictCheck = true, writerSeq = writerSeq),
        () => discard(spark, root, staged))
    }
    retryOnConflict(root, s"TxLog.$who")(attempt())
  }

  /** A MERGE's rewritten rows and change images as one routed frame
    * ([[stageRouted]]), from ONE pass over the candidate read and the
    * source: target and source rows are unioned, hashed on the key, and
    * a window over the key classifies every row — no join, and no scan
    * of either side twice. Keys match on the key alone, whatever the
    * partition (SQL equality: a NULL key matches nothing), and the routed
    * rows then take the staging shuffle on the partition columns.
    *
    * `upsert` is [[mergeKeyedTx]]'s rule: a key's source rows replace all
    * its target rows. Otherwise each target row pairs with each source
    * row of its key, as the `ON t.key = s.key` join does, and the clauses
    * decide; conditions and SET expressions see the pair as the structs
    * `t` and `s`. The two rules agree while keys are unique. */
  private def mergeRouted(spark: SparkSession, source: DataFrame,
                          candRead: Option[DataFrame], key: String,
                          partCols: Seq[String],
                          whenMatched: Seq[MergeClause],
                          whenNotMatched: Seq[MergeClause],
                          changeFeed: Boolean, upsert: Boolean): DataFrame = {
    val cols = source.columns.toSeq
    val side = col("__tgt")
    val rows = (candRead.toSeq.map(_.select(cols.map(col) :+
        lit(true).as("__tgt"): _*)) :+
      source.select(cols.map(col) :+ lit(false).as("__tgt"): _*))
      .reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val row = struct(cols.map(col): _*)
    val keyed = col(key).isNotNull
    val grouped = rows
      .repartition(spark.sessionState.conf.numShufflePartitions, col(key))
      .select((Seq(when(side, row).as("t"), when(!side, row).as("s"), side,
        (keyed && max(side.cast("int")).over(w) === 1).as("__hasT"),
        (keyed && min(side.cast("int")).over(w) === 0).as("__hasS")) ++
        (if (upsert) Nil
         else Seq(when(side && keyed, collect_list(when(!side, row)).over(w))
           .as("__partners")))): _*)
    def tc(c: String) = col(s"t.`$c`")
    def sc(c: String) = col(s"s.`$c`")
    val (tVals, sVals) = (cols.map(tc), cols.map(sc))
    val routed =
      if (upsert) {
        val (hasT, hasS) = (col("__hasT"), col("__hasS"))
        fanOut(grouped, cols,
          Seq((side && !hasS, DataRoute, tVals), (!side, DataRoute, sVals)) ++
            (if (!changeFeed) Nil
             else Seq((side && hasS, "update_preimage", tVals),
               (!side && hasT, "update_postimage", sVals),
               (!side && !hasT, "insert", sVals))))
      } else {
        // one row per (target row, source partner), (target row, NULL)
        // when unmatched, and (NULL, source row) for an unmatched source
        // row — a matched one is carried by its target rows
        val paired = grouped.filter(side || !col("__hasT"))
          .select(col("t"), side, explode_outer(
            when(side, col("__partners")).otherwise(array(col("s"))))
            .as("s"))
        // matched-branch evaluation: __mc = index of the first passing
        // clause, -1 = matched by no clause (or not matched) — pass through
        val matched = side && col("s").isNotNull
        val g = paired.withColumn("__mc", whenMatched.zipWithIndex
          .foldLeft(when(lit(false), -1)) { case (acc, (c, i)) =>
            acc.when(matched && c.condition.map(expr).getOrElse(lit(true)), i)
          }.otherwise(-1))
        def valueOf(c: String): Column =
          whenMatched.zipWithIndex.foldLeft(when(lit(false), tc(c))) {
            case (acc, (cl, i)) => acc.when(col("__mc") === i, cl.kind match {
              case "updateAll" => sc(c)
              case "update" => cl.sets.get(c).map(expr).getOrElse(tc(c))
              case "delete" => tc(c) // rows filtered; value unused
            })
          }.otherwise(tc(c))
        val upd = side && col("__mc").isin(whenMatched.zipWithIndex
          .collect { case (c, i) if c.kind != "delete" => i }: _*)
        val del = side && col("__mc").isin(whenMatched.zipWithIndex
          .collect { case (c, i) if c.kind == "delete" => i }: _*)
        // non-matched source rows: the first insert clause whose condition
        // passes inserts; a bare column in an insert condition names the
        // source row's column
        val ins = !side && whenNotMatched
          .map(_.condition.map(sourceScoped(spark, _, cols))
            .getOrElse(lit(true)))
          .reduceOption(_ || _).getOrElse(lit(false))
        val post = cols.map(valueOf)
        fanOut(g, cols,
          Seq((side && !del, DataRoute, post), (ins, DataRoute, sVals)) ++
            (if (!changeFeed) Nil
             else Seq((upd, "update_preimage", tVals),
               (upd, "update_postimage", post), (del, "delete", tVals),
               (ins, "insert", sVals))))
      }
    stageShuffle(routed, partCols)
  }

  /** A merge condition with every bare reference to a source column
    * qualified as `s.<column>`. */
  private def sourceScoped(spark: SparkSession, cond: String,
                           cols: Seq[String]): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val resolver = spark.sessionState.conf.resolver
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      spark.sessionState.sqlParser.parseExpression(cond).transform {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            cols.exists(resolver(_, a.nameParts.head)) =>
          UnresolvedAttribute("s" +: a.nameParts)
      })
  }

  /** Audit surface — the Delta DESCRIBE HISTORY move: every commit still
    * on disk as one row (version order), with its op, idempotence
    * identity, touched-partition/file tallies and the commit file's
    * mtime. Commits expired by [[expireLog]] are gone (their effects
    * live on in the checkpoint); the driver holds O(retained commits)
    * rows, the same bound every log fold already obeys. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val dir = logDir(root)
    val fs = fsOf(spark, dir)
    val commits: Seq[(Commit, Long)] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.flatMap { st =>
        st.getPath.getName match {
          case n @ VersionRe(v) =>
            try Some((parseCommit(root, v.toLong, readFile(fs, st.getPath)),
              st.getModificationTime))
            catch { case _: java.io.FileNotFoundException => None }
          case _ => None
        }
      }.sortBy(_._1.version)
    require(commits.length <= Warehouse.MaxDriverPartitions,
      s"TxLog.history: ${commits.length} retained commits at $root exceed " +
        "the driver-side metadata bound — run expireLog first")
    import scala.jdk.CollectionConverters._
    val rows = commits.map { case (c, mtime) =>
      org.apache.spark.sql.Row(c.version, c.op, c.readVersion,
        c.batchId.orNull, c.writerSeq.map(_._1).orNull,
        c.writerSeq.map(w => java.lang.Long.valueOf(w._2)).orNull,
        c.touched.size.toLong,
        c.parts.valuesIterator.map(_.size).sum.toLong,
        c.removed.valuesIterator.map(_.size).sum.toLong,
        c.changes.size.toLong, c.dvs.size.toLong,
        c.mapping.isDefined, mtime)
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "version BIGINT, op STRING, read_version BIGINT, " +
          "batch_id STRING, writer_id STRING, writer_seq BIGINT, " +
          "n_partitions BIGINT, n_files_added BIGINT, " +
          "n_files_removed BIGINT, n_change_files BIGINT, " +
          "n_dv_files BIGINT, sets_mapping BOOLEAN, ts_millis BIGINT"))
  }

  /** One-call scheduled maintenance — the OPTIMIZE-cadence bundle every
    * warehouse runs: bin-pack small files (scoped by `select`), fold a
    * checkpoint, expire superseded log deltas, vacuum unreferenced data
    * older than `vacuumAgeMs`. Idempotent by composition (each step is);
    * a second immediate run reports zeros. Returns a one-row report. */
  def maintainTx(spark: SparkSession, root: String, partCol: String,
                 smallBytes: Long,
                 select: String => Boolean = _ => true,
                 vacuumAgeMs: Long = 3600000L,
                 dvFraction: Double = 0.3,
                 sealLedger: Boolean = false,
                 adopt: Option[(String, Long)] = None): DataFrame = {
    val (_, packed) = compactBinPackTx(spark, root, partCol, smallBytes,
      select, dvFraction = dvFraction)
    // opt-in ledger migration as part of the bundle: seal (+ adopt a
    // writer-seq baseline), then the checkpoint below drops the b-lines
    if (sealLedger) {
      val (c0, cm0) = readLog(spark, root)
      val already = c0.exists(_.sealedLedger) || cm0.exists(_.sealsBatches)
      if (!already) sealBatchLedgerTx(spark, root, adopt): Unit
    }
    val chkV = checkpoint(spark, root)
    val expired = expireLog(spark, root)
    val vacuumed = vacuum(spark, root, vacuumAgeMs)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(org.apache.spark.sql.Row(
      currentVersion(spark, root), packed.toLong, chkV,
      expired.toLong, vacuumed.toLong)).asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "version BIGINT, files_packed BIGINT, checkpoint_version BIGINT, " +
          "log_files_expired BIGINT, data_files_vacuumed BIGINT"))
  }

  /** Property-driven [[maintainTx]] — the scheduled-maintenance entry
    * point for a FLEET: the job names the table; the policy comes from
    * the table's own recorded properties ([[setTablePropertiesTx]]),
    * falling back to the stock defaults. Reads
    * `graft.binpack.smallBytes` (compaction threshold, default 64 MiB),
    * `graft.vacuum.retentionMs` (default 1 h) and `graft.dv.fraction`
    * (default 0.3); `graft.autoCheckpoint.every` / `graft.seal.nudgeIds`
    * are consumed by [[commit]] / [[checkpoint]] directly. */
  def maintainTx(spark: SparkSession, root: String,
                 partCol: String): DataFrame = {
    val props = tableProperties(spark, root)
    maintainTx(spark, root, partCol,
      smallBytes = props.get("graft.binpack.smallBytes").map(_.toLong)
        .getOrElse(64L << 20),
      vacuumAgeMs = props.get("graft.vacuum.retentionMs").map(_.toLong)
        .getOrElse(3600000L),
      dvFraction = props.get("graft.dv.fraction").map(_.toDouble)
        .getOrElse(0.3))
  }

  /** `select`-predicate builder for PARTITION-SCOPED maintenance: lifts
    * a predicate over the named partition column's RAW value onto the
    * table's composite key (a single-column table's key IS the value;
    * N-column keys are the escaped '/'-joined form — [[renderPartKey]]).
    * At warehouse scale maintenance is per-partition ("compact
    * yesterday"), not per-table; this is the bridge from a column-level
    * condition to [[maintainTx]]/[[compactBinPackTx]]'s opaque-key
    * `select`. Values compare as STRINGS downstream — zero-padded dates
    * order correctly, free-form numerics may not. */
  def partitionSelect(spark: SparkSession, root: String, colName: String)
                     (valuePred: String => Boolean): String => Boolean = {
    val ps = tableMeta(spark, root)._2
    val idx = ps.indexWhere(_.name == colName)
    require(idx >= 0, s"TxLog.partitionSelect: [$colName] is not a " +
      s"partition column of $root (${ps.map(_.name).mkString(", ")})")
    val n = ps.length
    (key: String) => valuePred(splitPartKey(key, n)(idx))
  }

  /** Table-level operational facts — the Delta DESCRIBE DETAIL move:
    * ONE row (version, representation, file/partition/byte tallies,
    * deleted-row count, schema-evolution and constraint inventory) with
    * ZERO data-file scans on either representation: the driver-side
    * files cost grouped dir listings, a payload a single metadata job. */
  def tableDetail(spark: SparkSession, root: String): DataFrame = {
    val state = stateOf(spark, root)
    val files = state.parts.values.flatten.toSeq
    val meta = statusByRel(spark, root, files)
    // a payload's (files, bytes, deleted rows): one aggregate over its
    // live rows, a vector the delta overrides counted once (its payload
    // dvrows excluded by a bounded lookup, the override counted below)
    val (payloadFiles, payloadBytes, payloadDvRows) =
      state.payload.fold((0L, 0L, 0L)) { p =>
        val agg = payloadLiveDF(spark, root, p).agg(
          count(lit(1)), coalesce(sum("size"), lit(0L)),
          coalesce(sum("dvrows"), lit(0L))).head
        val overridden =
          if (state.dvs.isEmpty) 0L
          else payloadLiveDF(spark, root, p)
            .filter(col("file").isin(state.dvs.keySet.toSeq: _*))
            .agg(coalesce(sum("dvrows"), lit(0L))).head.getLong(0)
        (agg.getLong(0), agg.getLong(1), agg.getLong(2) - overridden)
      }
    val nParts = state.partValues.map(_.size.toLong).getOrElse {
      // header omitted the value set (above chkMaxHeaderValues): one
      // metadata-payload distinct count, delta keys unioned in
      import spark.implicits._
      payloadLiveDF(spark, root, state.payload.get).select("part")
        .unionByName(state.parts.keySet.toSeq.toDF("part"))
        .distinct().count()
    }
    val mapping = state.mapping
    val rows = Seq(org.apache.spark.sql.Row(
      state.version,
      if (state.payload.isDefined) "parquet-checkpoint" else "inline",
      state.partSchema.orNull,
      nParts, files.size + payloadFiles,
      files.flatMap(meta.get).map(_._1).sum + payloadBytes,
      state.dvs.valuesIterator.map(_._2).sum + payloadDvRows,
      mapping.count(_._2 != "-").toLong,
      mapping.count(_._2 == "-").toLong,
      state.constraints.size.toLong,
      state.schema.orNull,
      // canonical sorted k=v rendering (NULL when none) — the recorded
      // operational policy, visible where an operator looks first
      Option(state.props).filter(_.nonEmpty)
        .map(_.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString(", ")).orNull))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "version BIGINT, representation STRING, " +
          "partition_schema STRING, n_partitions BIGINT, " +
          "n_files BIGINT, size_bytes BIGINT, n_deleted_rows BIGINT, " +
          "n_renamed_columns BIGINT, n_dropped_columns BIGINT, " +
          "n_constraints BIGINT, schema_ddl STRING, properties STRING"))
  }

  /** Maintenance: fold the log into a CHECKPOINT at the current version
    * — the Delta checkpoint move that keeps every subsequent snapshot
    * fold O(checkpoint + recent deltas) instead of O(all commits ever).
    * The checkpoint file carries the full partition mapping AND the
    * union of every batch id seen (from any prior checkpoint plus the
    * folded commits), so [[expireLog]] can delete the superseded delta
    * files without the idempotent-replay ledger forgetting a landed
    * batch. Atomic create-no-overwrite like commits: two concurrent
    * checkpointers at the same version produce one file (identical
    * content either way — both fold the same committed prefix). Safe
    * under concurrent WRITERS: derived purely from committed state and
    * never claims a version. Returns the checkpointed version (0 = log
    * empty, nothing written). */
  def checkpoint(spark: SparkSession, root: String): Long = {
    val (chk, commits) = readLog(spark, root)
    val version = commits.lastOption.map(_.version)
      .orElse(chk.map(_.version)).getOrElse(0L)
    if (version == 0L) return 0L
    // a SEALED string ledger drops its b-lines forever — the O(batches)
    // set this fold would otherwise carry is exactly what
    // [[sealBatchLedgerTx]] exists to retire
    val sealedL = chk.exists(_.sealedLedger) ||
      commits.exists(_.sealsBatches)
    val batchIds =
      if (sealedL) Set.empty[String]
      else chk.map(_.batchIds).getOrElse(Set.empty) ++
        commits.flatMap(_.batchId)
    // the auto-seal NUDGE: a string-id ledger past the threshold is the
    // table's one unbounded metadata row class — tell the operator the
    // one-call fix instead of silently re-writing an ever-growing set.
    // Threshold precedence: table property > session conf > default.
    val nudgeAt = propsInForce(chk, commits).get("graft.seal.nudgeIds")
      .map(_.toInt).getOrElse(sealNudgeIds(spark))
    if (!sealedL && batchIds.size > nudgeAt)
      warnSink(s"TxLog.checkpoint: $root carries ${batchIds.size} string " +
        s"batch ids (threshold $nudgeAt) — the ledger grows " +
        "O(total batches) until sealed; quiesce the string-id writers and " +
        "call TxLog.sealBatchLedgerTx (or maintainTx(sealLedger = true)) " +
        "to migrate to the bounded writer-seq ledger")
    // the writer-seq ledger folds to each writer's latest entry —
    // O(writers) forever, however many batches the table has applied
    val writers = chk.map(_.writers).getOrElse(Map.empty) ++
      commits.flatMap(c => c.writerSeq.map { case (w, s) =>
        w -> (s, c.version) }).toMap
    val snap = fold(chk, commits)
    if (snap.payload.isDefined) {
      // parquet-checkpointed already: fold the delta INTO a new payload
      // with one Spark job (filter dead payload rows, union delta
      // entries) — the driver never holds the file list
      if (commits.nonEmpty)
        writeChkV2(spark, root, snap, batchIds, writers, sealedL)
    } else if (snap.parts.valuesIterator.map(_.size).sum < chkParquetMin(spark))
      tryPublishNamed(spark, root, f"c$version%020d.chk",
        renderChk(snap.parts, batchIds, snap.schema, snap.stats,
          snap.rows, snap.partSchema, writers, snap.mapping,
          snap.dvs, snap.constraints, sealedL, snap.props)): Unit
    else writeChkV2(spark, root, snap, batchIds, writers, sealedL)
    version
  }

  /** Live-file count at which [[checkpoint]] switches from the inline
    * text checkpoint to the parquet payload (one-way: once parquet,
    * always parquet). Override per session with
    * `graft.txlog.chkParquetMin`. */
  val DefaultChkParquetMin = 4096
  private def chkParquetMin(spark: SparkSession): Int =
    spark.conf.getOption("graft.txlog.chkParquetMin").map(_.toInt)
      .getOrElse(DefaultChkParquetMin)

  /** String-batch-id count past which [[checkpoint]] warns that the
    * ledger should seal ([[sealBatchLedgerTx]]). Override per session
    * with `graft.txlog.sealNudgeIds`. */
  val DefaultSealNudgeIds = 4096
  private def sealNudgeIds(spark: SparkSession): Int =
    spark.conf.getOption("graft.txlog.sealNudgeIds").map(_.toInt)
      .getOrElse(DefaultSealNudgeIds)

  /** Operational-warning sink (stderr by default; swap in tests to
    * observe nudges without scraping logs). */
  private[graft] var warnSink: String => Unit =
    msg => Console.err.println(s"WARN $msg")

  /** Commit cadence at which [[commit]] folds in a checkpoint
    * automatically (0 disables — manual [[checkpoint]] only). Override
    * per session with `graft.txlog.autoCheckpointEvery`. */
  val DefaultAutoCheckpointEvery = 10
  private def autoCheckpointEvery(spark: SparkSession): Int =
    spark.conf.getOption("graft.txlog.autoCheckpointEvery").map(_.toInt)
      .getOrElse(DefaultAutoCheckpointEvery)

  /** Partition count above which the v2 checkpoint header OMITS the
    * partition-value list (`novals=1`) — the one remaining O(table-shape)
    * driver artifact on the payload path becomes O(1); consumers derive
    * values payload-side. Override per session with
    * `graft.txlog.chkMaxHeaderValues`. */
  val DefaultChkMaxHeaderValues = 65536
  private def chkMaxHeaderValues(spark: SparkSession): Int =
    spark.conf.getOption("graft.txlog.chkMaxHeaderValues").map(_.toInt)
      .getOrElse(DefaultChkMaxHeaderValues)

  private val PayloadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("part", StringType, false),
    org.apache.spark.sql.types.StructField("file", StringType, false),
    org.apache.spark.sql.types.StructField("size",
      org.apache.spark.sql.types.LongType, false),
    org.apache.spark.sql.types.StructField("mtime",
      org.apache.spark.sql.types.LongType, false),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType, true),
    org.apache.spark.sql.types.StructField("stats",
      org.apache.spark.sql.types.MapType(StringType,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("mn", StringType, true),
          org.apache.spark.sql.types.StructField("mx", StringType, true)))),
      true),
    // the key's RAW column values (one element per partition column) —
    // what the payload-side partition predicate evaluates against on an
    // N-column table (the composite `part` string stays the join/identity
    // key).
    org.apache.spark.sql.types.StructField("partv",
      org.apache.spark.sql.types.ArrayType(StringType, false), true),
    // DELETION VECTOR columns (null = no vector): the file's cumulative
    // position sidecars and deleted-row count — DV state rides the
    // payload at scale exactly like stats
    org.apache.spark.sql.types.StructField("dvfiles",
      org.apache.spark.sql.types.ArrayType(StringType, false), true),
    org.apache.spark.sql.types.StructField("dvrows",
      org.apache.spark.sql.types.LongType, true)))

  /** (size, mtime) of each rel file — grouped per parent dir so a
    * thousand-file staging dir costs ONE listing RPC; few dirs list on a
    * driver pool, many fan out as a Spark job. */
  private def statusByRel(spark: SparkSession, root: String,
                          relFiles: Seq[String]): Map[String, (Long, Long)] = {
    if (relFiles.isEmpty) return Map.empty
    val dirs = relFiles.map(r => r.substring(0, r.lastIndexOf('/'))).distinct
    def listDir(conf: org.apache.hadoop.conf.Configuration, dir: String)
        : Seq[(String, Long, Long)] = {
      val p = new Path(root, dir)
      // a vacuumed-away staging dir = no files; each caller raises its own
      // (more specific) error for files it REQUIRES to exist
      try p.getFileSystem(conf).listStatus(p).filter(_.isFile)
        .map(st => (s"$dir/${st.getPath.getName}", st.getLen,
          st.getModificationTime)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    }
    val all: Seq[(String, Long, Long)] =
      if (dirs.size <= 512) {
        val conf = spark.sparkContext.hadoopConfiguration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, dirs.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(dirs.map { d =>
            new java.util.concurrent.Callable[Seq[(String, Long, Long)]] {
              def call() = listDir(conf, d)
            }
          }.asJava).asScala.flatMap(_.get()).toSeq
        } finally pool.shutdown()
      } else {
        val conf = new org.apache.spark.SerializableWritable(
          spark.sparkContext.hadoopConfiguration)
        spark.sparkContext
          .parallelize(dirs, math.max(1, math.min(dirs.size, 64)))
          .flatMap(d => listDir(conf.value, d)).collect().toSeq
      }
    val wanted = relFiles.toSet
    all.collect { case (rel, sz, mt) if wanted(rel) => rel -> (sz, mt) }.toMap
  }

  private def entryRows(root: String, parts: Map[String, Seq[String]],
                        stats: FileStats, rows: FileRows,
                        meta: Map[String, (Long, Long)], nP: Int,
                        dvs: FileDvs = Map.empty)
      : Seq[org.apache.spark.sql.Row] =
    parts.toSeq.flatMap { case (v, fs) =>
      val segs = splitPartKey(v, nP)
      fs.map { f =>
        val (sz, mt) = meta.getOrElse(f, sys.error(
          s"TxLog.checkpoint: live file $f missing under $root — vacuum " +
            "ran inside the checkpoint window?"))
        val dv = dvs.get(f)
        org.apache.spark.sql.Row(v, f, sz, mt,
          rows.get(f).map(java.lang.Long.valueOf).orNull,
          stats.get(f).map(_.map { case (c, (mn, mx)) =>
            c -> org.apache.spark.sql.Row(mn, mx)
          }).orNull, segs,
          dv.map(_._1).orNull,
          dv.map(d => java.lang.Long.valueOf(d._2)).orNull)
      }
    }

  private def writePayloadDir(spark: SparkSession, root: String,
                              df: DataFrame, version: Long): String = {
    // uuid-suffixed so two racing checkpointers at the same version write
    // disjoint dirs; the text chk's putIfAbsent picks the winner and
    // expireLog sweeps the loser's unreferenced dir
    val name = f"c$version%020d-${java.util.UUID.randomUUID()}.chkpq"
    df.write.mode("errorifexists").parquet(s"$root/_txlog/$name")
    name
  }

  private def deletePayloadDir(spark: SparkSession, root: String,
                               name: String): Unit = {
    val p = new Path(s"$root/_txlog/$name")
    fsOf(spark, p).delete(p, true): Unit
  }

  /** Live partition values of `snap` passing `select`. FREE when the
    * driver holds the value set (a driver table's keys, or a checkpoint
    * header carrying it — ≤ [[chkMaxHeaderValues]] partitions); an
    * omitted header derives them with ONE payload distinct query,
    * streamed through `toLocalIterator` so driver memory is O(passing
    * values), never O(partitions). */
  private def partValuesWhere(spark: SparkSession, root: String,
                              snap: Snapshot,
                              select: String => Boolean): Seq[String] =
    snap.partValues match {
      case Some(vs) => vs.filter(select).toSeq
      case None =>
        val out = Seq.newBuilder[String]
        val it = payloadLiveDF(spark, root, snap.payload.get)
          .select("part").distinct().toLocalIterator()
        while (it.hasNext) {
          val v = it.next().getString(0)
          if (select(v)) out += v
        }
        (out.result() ++ snap.parts.keys.filter(select)).distinct
    }

  /** Whether `snap` holds live files — answered driver-side unless the
    * header's value set is omitted, then by a LIMIT-1 payload probe. */
  private def hasData(spark: SparkSession, root: String,
                      snap: Snapshot): Boolean =
    snap.partValues match {
      case Some(vs) => vs.nonEmpty
      case None => snap.parts.nonEmpty ||
        !payloadLiveDF(spark, root, snap.payload.get).isEmpty
    }

  /** Whether the table holds any committed data (false for a table that
    * exists only as a [[createTableTx]] create commit). */
  private[graft] def hasData(spark: SparkSession, root: String): Boolean =
    hasData(spark, root, stateOf(spark, root))

  /** The payload's LIVE rows: the rows the delta masks filtered out. */
  private[sources] def payloadLiveDF(spark: SparkSession, root: String,
                                     p: Payload): DataFrame = {
    var df = spark.read.schema(PayloadSchema).parquet(s"$root/_txlog/${p.dir}")
    // a driver-shape restore superseded the payload: serve its SCHEMA
    // with zero rows (the restore's inventory lives in the delta)
    if (p.dead) return df.filter(lit(false))
    if (p.removedParts.nonEmpty)
      df = df.filter(not(col("part").isin(p.removedParts.toSeq: _*)))
    if (p.removedFiles.nonEmpty)
      df = df.filter(not(col("file").isin(p.removedFiles.toSeq: _*)))
    df
  }

  /** `snap`'s full live inventory as ONE payload-shaped DataFrame (the
    * 9-column layout): entries for its driver-side files (sizes and
    * mtimes listed, vectors attached) plus, on a payload table, the
    * payload's live rows with the delta's vector overrides folded in.
    * Returned with the driver-side entries' (files, bytes, files with a
    * vector). Shared by the checkpoint, the payload-table RESTORE (which
    * rewrites a TARGET version's inventory) and the payload-shape
    * replace. */
  private def entriesDF(spark: SparkSession, root: String, snap: Snapshot)
      : (DataFrame, (Long, Long, Long)) = {
    // no recorded partition schema means no files: nothing to split
    val nP = snap.partSchema
      .fold(0)(org.apache.spark.sql.types.StructType.fromDDL(_).length)
    val meta = statusByRel(spark, root, snap.parts.values.flatten.toSeq)
    val rows = entryRows(root, snap.parts, snap.stats, snap.rows, meta, nP,
      snap.dvs)
    import scala.jdk.CollectionConverters._
    val own = spark.createDataFrame(rows.asJava, PayloadSchema)
    val entries = snap.payload.fold(
        own.repartition(math.max(1, rows.size / 500000))) { p =>
      val prior = payloadLiveDF(spark, root, p)
      // post-checkpoint vector overrides fold INTO the new payload here
      // (the dv analogue of the partition-delta fold)
      val priorWithDv =
        if (snap.dvs.isEmpty) prior
        else {
          import spark.implicits._
          val ov = snap.dvs.toSeq.map { case (f, (dvf, n)) => (f, dvf, n) }
            .toDF("file", "__ovf", "__ovn")
          prior.join(broadcast(ov), Seq("file"), "left")
            .withColumn("dvfiles", coalesce(col("__ovf"), col("dvfiles")))
            .withColumn("dvrows", coalesce(col("__ovn"), col("dvrows")))
            .drop("__ovf", "__ovn")
        }
      priorWithDv
        .select("part", "file", "size", "mtime", "rows", "stats", "partv",
          "dvfiles", "dvrows")
        .unionByName(own)
    }
    (entries, (rows.size.toLong, rows.iterator.map(_.getLong(2)).sum,
      rows.count(r => !r.isNullAt(7)).toLong))
  }

  /** A written payload's (files, bytes, files with a vector): one
    * aggregate job. */
  private def payloadFacts(payload: DataFrame): (Long, Long, Long) = {
    val agg = payload.agg(count(lit(1)), coalesce(sum("size"), lit(0L)),
      count(col("dvfiles"))).head
    (agg.getLong(0), agg.getLong(1), agg.getLong(2))
  }

  /** A parquet (v2) checkpoint of `snap` at its version: its inventory
    * ([[entriesDF]]) written as a fresh payload dir, referenced by a text
    * header carrying O(partitions) values, the batch ledger and the
    * schema. When a prior payload contributed rows, the header's facts
    * and value set come from jobs over the fresh dir; otherwise the
    * driver already holds them. */
  private def writeChkV2(spark: SparkSession, root: String, snap: Snapshot,
                         batchIds: Set[String],
                         writers: Map[String, (Long, Long)],
                         sealedLedger: Boolean): Unit = {
    val (entries, ownFacts) = entriesDF(spark, root, snap)
    val name = writePayloadDir(spark, root, entries, snap.version)
    val fresh = snap.payload.map(_ =>
      spark.read.schema(PayloadSchema).parquet(s"$root/_txlog/$name"))
    val (nfiles, bytes, ndvs) = fresh.map(payloadFacts).getOrElse(ownFacts)
    // BOUNDED value collect: above the header cap the list is omitted
    // (novals) and the collect never materializes O(partitions) rows
    val maxVals = chkMaxHeaderValues(spark)
    val values = fresh.fold(Option(snap.parts.keySet)) { f =>
      val sample = f.select("part").distinct().limit(maxVals + 1).collect()
      Some(sample.map(_.getString(0)).toSet)
    }.filter(_.size <= maxVals)
    val won = tryPublishNamed(spark, root, f"c${snap.version}%020d.chk",
      renderChkV2(name, values, batchIds, snap.schema, snap.partSchema,
        nfiles, bytes, writers, snap.mapping, snap.constraints,
        ndvs = ndvs, sealedLedger = sealedLedger, props = snap.props))
    if (!won) deletePayloadDir(spark, root, name)
  }

  /** Maintenance: delete commit delta files superseded by the latest
    * checkpoint (their content — mapping and batch ids — is folded into
    * it). Run with the same discipline as [[vacuum]]: no reader should
    * be mid-listing (an already-opened file is unaffected — files are
    * immutable — but a list-then-read race can hit a deleted path; the
    * Delta retention-window contract). Returns files deleted. */
  def expireLog(spark: SparkSession, root: String): Int = {
    val dir = logDir(root)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return 0
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val floor = names.collect { case ChkRe(v) => v.toLong }.sorted.lastOption
      .getOrElse(return 0)
    val dead = names.collect { case n @ VersionRe(v) if v.toLong <= floor => n }
    // superseded CHECKPOINTS go too (readLog only ever folds from the
    // latest; an hourly checkpoint cadence would otherwise accumulate
    // thousands of O(partitions)-sized files in the log dir forever).
    // Readers racing this hold the latest-at-their-listing checkpoint,
    // which is never the one deleted here — and a vanished older chk
    // re-lists through readLog's retry like an expired commit.
    val deadChk = names.collect { case n @ ChkRe(v) if v.toLong < floor => n }
    // parquet payload dirs: superseded versions go, as does an
    // UNREFERENCED same-version dir (a losing/crashed checkpointer's
    // orphan) — the one the floor checkpoint references survives
    val floorPayload = names.collectFirst {
      case n @ ChkRe(v) if v.toLong == floor => n
    }.flatMap(n =>
      parseChk(root, floor, readFile(fs, new Path(dir, n))).payload)
    val deadPayload = names.collect {
      case n @ PayloadRe(v) if v.toLong < floor ||
        (v.toLong == floor && !floorPayload.contains(n)) => n
    }
    (dead ++ deadChk).foreach(n => fs.delete(new Path(dir, n), false))
    deadPayload.foreach(n => fs.delete(new Path(dir, n), true))
    dead.length + deadChk.length + deadPayload.length
  }

  /** Maintenance: delete data files no live snapshot references —
    * leftovers of losing/crashed writers and overwritten history.
    * SAFE UNDER CONCURRENT WRITERS via `minAgeMs` (the Delta VACUUM
    * retention contract, implemented rather than documented): a
    * concurrently STAGED-but-not-yet-committed file looks unreferenced,
    * so only files older than `minAgeMs` are reclaimed — the default
    * (1 h) exceeds any sane stage→commit window; pass 0 only when no
    * writer can be in flight (tests, drained pipelines). Vacuuming also
    * bounds [[snapshotAt]] time travel: an older version's METADATA
    * still folds, but its overwritten/removed files are gone — size the
    * vacuum cadence to the time-travel horizon readers need. Returns
    * the number of .parquet DATA FILES reclaimed (writer markers and
    * emptied staging dirs are removed too but not counted). */
  def vacuum(spark: SparkSession, root: String,
             minAgeMs: Long = 3600000L, dryRun: Boolean = false): Int = {
    // change-data files are live while their commit file is ON DISK —
    // a checkpoint (auto or manual) moves the fold floor but expires
    // nothing, and readChangeFeed serves any still-present window, so
    // protection must span every commit expireLog has not yet reclaimed
    // (expired commits' change files become reclaimable garbage, like
    // their batch ids)
    val changeFiles = {
      val dir = logDir(root)
      val fs = fsOf(spark, dir)
      if (!fs.exists(dir)) Set.empty[String]
      else fs.listStatus(dir).map(_.getPath.getName).collect {
        case n @ VersionRe(v) =>
          try parseCommit(root, v.toLong,
            readFile(fs, new Path(dir, n))).changes
          catch { case _: java.io.FileNotFoundException => Seq.empty }
      }.flatten.toSet
    }
    val snap = stateOf(spark, root)
    snap.payload match {
      case Some(p) =>
        vacuumBig(spark, root, snap, p, changeFiles, minAgeMs, dryRun)
      case None =>
        vacuumDriver(spark, root,
          snap.parts.values.flatten.toSet ++ changeFiles ++
            snap.dvs.values.flatMap(_._1), minAgeMs, dryRun)
    }
  }

  private def vacuumDriver(spark: SparkSession, root: String,
                           live: Set[String], minAgeMs: Long,
                           dryRun: Boolean = false): Int = {
    // FILE-granular: a partition removal or partial overwrite orphans
    // individual files inside a staging dir whose OTHER files are still
    // live, so directory-level reclamation would leak them forever
    val dataDir = new Path(root, "data")
    val fs = fsOf(spark, dataDir)
    if (!fs.exists(dataDir)) return 0
    val cutoff = System.currentTimeMillis() - minAgeMs
    // compare PATH STRINGS (scheme-stripped): listStatus returns
    // qualified file:/ paths while `root` may be bare — URI relativize
    // across that difference would no-op and mark every file dead
    val rootAbs = fs.makeQualified(new Path(root)).toUri.getPath
      .stripSuffix("/") + "/"
    var removed = 0
    fs.listStatus(dataDir).filter(_.isDirectory).foreach { d =>
      // full recursive descent: multi-column staging dirs nest one level
      // per partition column (c1=v1/c2=v2/...). An IN-FLIGHT writer's
      // job-commit deletes its _temporary scaffolding between our parent
      // and child listings — a vanished subtree is simply not a vacuum
      // candidate this cycle (the race fuzz caught the maintainer dying
      // on exactly that against the streaming sink)
      def descend(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
        (try fs.listStatus(p)
         catch { case _: java.io.FileNotFoundException =>
           Array.empty[org.apache.hadoop.fs.FileStatus] })
        .flatMap { e =>
          if (e.isDirectory) descend(e.getPath) else Array(e)
        }
      val files = descend(d.getPath).filter(_.isFile)
      val (keep, dead) = files.partition { st =>
        val p = st.getPath.toUri.getPath
        require(p.startsWith(rootAbs),
          s"vacuum: $p escapes the table root $rootAbs")
        live.contains(p.stripPrefix(rootAbs)) ||
          st.getModificationTime > cutoff // too young — maybe in flight
      }
      // DRY RUN: count what a wet run would reclaim, touch nothing
      if (dryRun)
        removed += dead.count(_.getPath.getName.endsWith(".parquet"))
      else {
        // writer markers (_SUCCESS, .crc) are never log-referenced —
        // they go with their dir but don't count as reclaimed data files
        dead.foreach { st =>
          fs.delete(st.getPath, false)
          if (st.getPath.getName.endsWith(".parquet")) removed += 1
        }
        // empty staging dir — but only past the retention horizon: an
        // ACTIVE writer's staging exists with zero data files between
        // mkdirs and its first task write (only _temporary scaffolding),
        // and deleting it there kills the write mid-flight (the race
        // fuzz caught maintainTx doing exactly that to the streaming
        // sink)
        if (keep.isEmpty && d.getModificationTime <= cutoff)
          fs.delete(d.getPath, true): Unit
      }
    }
    removed
  }

  /** [[vacuum]] for a parquet-checkpointed table: candidates are listed
    * by a DISTRIBUTED job (one task per staging dir), anti-joined against
    * the payload's live-file inventory plus the driver-side delta, and
    * deleted inside tasks — no step holds O(table files) on the driver.
    * Empty staging dirs are left in place (reclaimed when their last
    * file goes through a later driver-path vacuum or external cleanup). */
  private def vacuumBig(spark: SparkSession, root: String, snap: Snapshot,
                        p: Payload, changeFiles: Set[String], minAgeMs: Long,
                        dryRun: Boolean = false): Int = {
    import spark.implicits._
    val dataDir = new Path(root, "data")
    val fs = fsOf(spark, dataDir)
    if (!fs.exists(dataDir)) return 0
    val cutoff = System.currentTimeMillis() - minAgeMs
    // ship FULLY-QUALIFIED URIs (scheme + authority intact) to tasks and
    // resolve each task's FileSystem FROM the qualified path — a
    // scheme-stripped path would resolve the default FS inside tasks and
    // aim the distributed listing/delete at the wrong store on any
    // s3a/abfs/hdfs table (exactly the object-store deployments the
    // parquet-checkpoint path exists for). The bare rel path is used
    // ONLY as the join key against the payload's live inventory.
    val rootQual = fs.makeQualified(new Path(root)).toString
      .stripSuffix("/") + "/"
    val stagingDirs = fs.listStatus(dataDir).filter(_.isDirectory)
      .map(st => fs.makeQualified(st.getPath).toString).toSeq
    if (stagingDirs.isEmpty) return 0
    val conf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val found = spark.sparkContext
      .parallelize(stagingDirs, math.max(1, math.min(stagingDirs.size, 64)))
      .flatMap { d =>
        val p = new Path(d)
        val f = p.getFileSystem(conf.value)
        // full recursive descent (multi-column staging dirs nest one
        // level per partition column); tolerate subtrees an in-flight
        // writer's job-commit deletes mid-listing (same contract as the
        // driver path — a vanished dir is not a candidate this cycle)
        def descend(q: Path): Array[org.apache.hadoop.fs.FileStatus] =
          (try f.listStatus(q)
           catch { case _: java.io.FileNotFoundException =>
             Array.empty[org.apache.hadoop.fs.FileStatus] })
          .flatMap { e =>
            if (e.isDirectory) descend(e.getPath) else Array(e)
          }
        descend(p)
          .filter(_.isFile)
          .map { st =>
            val q = f.makeQualified(st.getPath).toString
            require(q.startsWith(rootQual),
              s"vacuum: $q escapes the table root $rootQual")
            (q.stripPrefix(rootQual), st.getModificationTime)
          }
      }.toDF("rel", "mtime")
    val liveBase = payloadLiveDF(spark, root, p)
    val payloadDvFiles = liveBase.filter(col("dvfiles").isNotNull)
      .select(explode(col("dvfiles")).as("rel"))
    val liveDF = liveBase
      .select(col("file").as("rel"))
      .unionByName(payloadDvFiles)
      .unionByName((snap.parts.values.flatten.toSeq ++
        changeFiles ++ snap.dvs.values.flatMap(_._1)).toDF("rel"))
    found.filter(col("mtime") <= cutoff)
      .join(liveDF, Seq("rel"), "left_anti")
      .select("rel").as[String]
      .mapPartitions { it =>
        val f = new Path(rootQual).getFileSystem(conf.value)
        var n = 0
        it.foreach { rel =>
          val isParquet = rel.endsWith(".parquet")
          // DRY RUN counts candidates without touching them; a wet run
          // counts only CONFIRMED deletes — a false return (already
          // gone, permission failure) must not inflate the reported
          // reclaim
          if (dryRun) { if (isParquet) n += 1 }
          else if (f.delete(new Path(rootQual + rel), false) && isParquet)
            n += 1
        }
        Iterator.single(n)
      }.collect().sum
  }
}
