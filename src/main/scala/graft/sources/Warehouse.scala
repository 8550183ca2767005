package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse-zone management (SURVEY §2.1 S9/S11/S12).
  *
  * The reference's warehouse is Postgres schemas created by DDL
  * (init_db.py:35-122) and written with `to_sql(if_exists='replace')`
  * (customer_analytics_dag.py:145-151). Spark-side: catalog databases +
  * `saveAsTable(Overwrite)`; its Postgres btree indexes become partition
  * pruning (no index structure needed). Upsert-lite (`INSERT .. ON CONFLICT
  * DO NOTHING`, test_db.py:53-65) is anti-join + append — at scale this is
  * one shuffle on the key, and with a Delta-style sink it would be `MERGE
  * WHEN NOT MATCHED`.
  */
object Warehouse {

  /** S12: CREATE DATABASE IF NOT EXISTS (schema-zone DDL parity). */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  /** The session catalog is per-JVM but the warehouse dir is not: an
    * orphaned location from a previous process blocks CREATE, so clear
    * both the catalog entry and the directory before any managed write. */
  private def clearTable(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // resolve 1-part names against the current database so default-db
    // tables get the same orphaned-location cleanup as qualified ones;
    // the catalog stores identifiers LOWERCASED, so the location probe
    // must fold case or a MixedCase orphan dir would survive and block
    // the subsequent CREATE on a case-sensitive filesystem
    val (db, tbl) = table.split("\\.") match {
      case Array(_, d, t) => (d.toLowerCase, t.toLowerCase)
      case Array(d, t)    => (d.toLowerCase, t.toLowerCase)
      case Array(t)       => (spark.catalog.currentDatabase, t.toLowerCase)
    }
    val base = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(
      if (db == "default") s"$base/$tbl" else s"$base/$db.db/$tbl")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(loc, true)
  }

  /** S9: full-refresh write — `to_sql(if_exists='replace')` parity. */
  def overwriteTable(df: DataFrame, table: String): Unit = {
    clearTable(df, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** S9 at scale: date-partitioned overwrite for fact tables, so daily
    * reprocessing rewrites only the affected partitions and readers get
    * partition pruning on the date key. */
  def overwritePartitioned(df: DataFrame, table: String, partitionCol: String): Unit = {
    clearTable(df, table)
    // one shuffle by the partition key first: without it every write task
    // emits a file per partition VALUE it happens to hold (tasks ×
    // partitions tiny files — the classic small-files explosion at
    // warehouse scale); with it each partition directory gets one
    // task's worth of files. A heavily skewed partition value would
    // concentrate in one task — callers with such keys should salt the
    // repartition; the date/cell keys used here are balanced.
    // explicit count: a countless repartition is AQE-coalescible — a small
    // frame collapses to one reduce task which then writes every partition
    // dir's file SERIALLY (the TxLog.stage finding, same fix); hash on the
    // value keeps one task's worth of files per dir either way
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col(partitionCol))
      .write.mode("overwrite").format("parquet")
      .partitionBy(partitionCol)
      .saveAsTable(table)
  }

  /** Bucketed table write: co-locates future joins/aggregations on the
    * bucket key — two tables bucketed the same way join with NO shuffle
    * (verified by plan in SourcesSpec). The scalable replacement for the
    * reference's Postgres btree indexes on join keys (init_db.py:113-116)
    * when the same key is joined repeatedly at warehouse scale. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit = {
    clearTable(df, table)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** Z-ordered table write: range-partition on the Morton key
    * ([[graft.plans.ZOrder2]]) and sort within partitions, so every
    * written file covers a DISJOINT narrow z-range — i.e. a small
    * rectangle of the (x, y) key space. Parquet min/max column stats on
    * the key columns then prune 2-D box predicates at scan time, which a
    * single-column sort cannot do for the second dimension. The same
    * layout move as Delta/Iceberg `ZORDER BY`, expressed as plain
    * repartitionByRange + local sort (two passes over the data: range
    * sampling + the write shuffle — no global single-task sort). */
  def writeZOrdered(df: DataFrame, table: String, zCol: String,
                    partitions: Int): Unit = {
    clearTable(df, table)
    df.repartitionByRange(partitions, col(zCol))
      .sortWithinPartitions(zCol)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(table)
  }

  /** Append into an EXISTING managed table (partitioned or not): columns
    * are aligned by NAME against the table's schema order first (insertInto
    * is positional, and partitioned tables keep their partition columns
    * last), so new rows land in the right partition directories without a
    * rebuild — the incremental-ingest write path. */
  def appendToTable(df: DataFrame, table: String): Unit = {
    val cols = df.sparkSession.table(table).columns
    df.select(cols.map(df(_)): _*).write.mode("append").insertInto(table)
  }

  /** Schema-evolution read: union all parquet batches under `path`,
    * merging their footers — a batch written before a column existed
    * contributes NULL for it, so producers can add columns without
    * rewriting history (the parquet-level equivalent of Delta/Iceberg
    * schema evolution; at 100 TB a backfill rewrite of the old batches
    * is exactly what this avoids). mergeSchema is opt-in because footer
    * merging lists every file's schema — pay it on evolved tables only. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into `nFiles`
    * files (round-robin repartition — size-balanced without a key). The
    * maintenance pass every long-lived warehouse needs: streaming/
    * incremental appends accumulate tiny files, and scan cost at 100 TB
    * is dominated by file listing + per-file open once files ≪ row
    * groups. Content-preserving by construction (one wide shuffle, no
    * dedup/ordering semantics) — the q147 oracle pins it. */
  def compactPath(spark: SparkSession, inPath: String, outPath: String,
                  nFiles: Int): Unit =
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)

  /** Cluster-PRESERVING compaction: rewrite into `nFiles` files range-
    * partitioned and locally sorted on `clusterCol` — unlike the
    * round-robin [[compactPath]], which destroys any value clustering
    * and with it every min/max skipping win ([[DataSkipping]]): after a
    * stream of small unordered appends, this pass restores tight
    * per-file ranges so the stats index prunes again. The OPTIMIZE +
    * ZORDER maintenance combo at file-count granularity. */
  def compactClusteredPath(spark: SparkSession, inPath: String,
                           outPath: String, clusterCol: String,
                           nFiles: Int): Unit =
    spark.read.parquet(inPath)
      .repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(outPath)

  /** Retention: drop every partition of `table` whose `partitionCol`
    * value fails `keep` — METADATA-ONLY (ALTER TABLE DROP PARTITION
    * deletes the directory; no surviving row is read or rewritten),
    * which is what makes N-day retention affordable on a 100 TB fact
    * table. Partition values enumerate from the catalog (SHOW
    * PARTITIONS — bounded by partition count, the usual bounded driver
    * artifact). Returns the number of partitions dropped. */
  def dropPartitionsWhere(spark: SparkSession, table: String,
                          partitionCol: String, keep: String => Boolean,
                          maxPartitions: Int = MaxDriverPartitions): Int = {
    // SHOW PARTITIONS renders values PATH-ESCAPED (space → %20 etc.);
    // `keep` must see the real value, and the DROP statement needs it as
    // a safe SQL literal — unescape first, then literal-escape, so a
    // value with a quote or space targets the right partition instead of
    // breaking (or silently missing) the statement (r10 advice).
    val raw = spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0))
    require(raw.length <= maxPartitions,
      s"dropPartitionsWhere: $table has ${raw.length} partitions, above " +
        s"the $maxPartitions driver-side listing bound — drop by " +
        "explicit range in batches instead")
    // single-level tables only, loudly: a multi-level spec renders as
    // "k1=v1/k2=v2" ('/' inside a VALUE is path-escaped to %2F, so a
    // literal '/' always means another level) — splitting that on '='
    // would garble the first level's value and silently no-op the DROP
    // while still counting it; likewise a partitionCol that isn't the
    // table's partition key must fail, not return 0
    require(raw.forall(!_.contains("/")),
      s"dropPartitionsWhere: $table is multi-level partitioned — " +
        "this helper drops single-level partitions only")
    val parts = raw.map(_.split("=", 2))
    require(parts.forall(_(0) == partitionCol),
      s"dropPartitionsWhere: $table is partitioned by " +
        s"'${parts.headOption.map(_(0)).getOrElse("")}', not '$partitionCol'")
    val toDrop = parts.map(kv =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(kv(1))).filterNot(keep)
    toDrop.foreach(v => spark.sql(s"ALTER TABLE $table DROP IF EXISTS " +
      s"PARTITION ($partitionCol='${sqlStringLit(v)}')"))
    toDrop.length
  }

  /** Driver-side partition/file listings are bounded artifacts by
    * contract; this is the documented cap — ~10⁵ entries is well past
    * any sane per-table partition count (a 100 TB table at daily ×
    * 256-bucket grain is ~10⁴) and small enough that the collected
    * array is megabytes, not a driver OOM. */
  val MaxDriverPartitions = 100000

  /** A string embedded in a single-quoted Spark SQL literal (default
    * parser mode: backslash escapes). */
  private def sqlStringLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Right-to-be-forgotten: delete every row of `table` whose `keyCol` is
    * in `keys` (the forget request — small by contract, broadcast),
    * rewriting ONLY the partitions that contain such rows: affected
    * partition values enumerate first (bounded by partition cardinality),
    * their remainder is anti-joined and written back under DYNAMIC
    * partition overwrite (untouched partitions keep their files), and a
    * partition whose rows were ALL forgotten is dropped explicitly —
    * dynamic overwrite never rewrites a partition absent from the data,
    * the classic gap that would otherwise resurrect forgotten rows. */
  def forgetKeys(spark: SparkSession, table: String, partitionCol: String,
                 keyCol: String, keys: DataFrame): Unit = {
    val t = spark.table(table)
    val affected = t.join(
        org.apache.spark.sql.functions.broadcast(keys), Seq(keyCol), "left_semi")
      .select(partitionCol).distinct().collect().map(_.get(0))
    require(affected.length <= MaxDriverPartitions,
      s"forgetKeys: ${affected.length} affected partitions, above the " +
        s"$MaxDriverPartitions driver-side listing bound — batch the keys")
    // NULL partition values cannot go through this path: isin() is
    // null-unsafe (those rows would silently survive the rewrite) and
    // the DROP spec would stringify to 'null', targeting a legitimate
    // partition whose value is the STRING "null" — refuse loudly before
    // any write happens
    require(!affected.contains(null),
      s"forgetKeys: $table has rows with NULL $partitionCol among the " +
        "forgotten keys — repartition those into a sentinel value first")
    if (affected.isEmpty) return
    val remainder = t.filter(col(partitionCol).isin(affected: _*))
      .join(org.apache.spark.sql.functions.broadcast(keys), Seq(keyCol), "left_anti")
    // which affected partitions still have rows AFTER the forget — read
    // from the remainder PLAN (the post-write table would still list a
    // fully-forgotten partition's old files, since dynamic overwrite
    // never touched it)
    val remParts = remainder.select(partitionCol).distinct()
      .collect().map(_.get(0)).toSet
    val cols = t.columns
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try remainder.select(cols.map(remainder(_)): _*)
      .write.mode("overwrite").insertInto(table)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    affected.filterNot(remParts).foreach(v =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS " +
        s"PARTITION ($partitionCol='${sqlStringLit(String.valueOf(v))}')"))
    spark.catalog.refreshTable(table)
    // the pre-write semi-join proved forgotten keys live ONLY in
    // `affected`, so the verification scan is partition-pruned to those
    // — on a 100 TB table the check costs the rewritten partitions, not
    // a full-table scan
    val survived = spark.table(table)
      .filter(col(partitionCol).isin(affected: _*))
      .join(org.apache.spark.sql.functions.broadcast(keys), Seq(keyCol), "left_semi")
    require(survived.isEmpty, s"forgetKeys: rows with forgotten keys survive in $table")
  }

  /** S11: idempotent insert — keep existing rows, append only incoming rows
    * whose key is not already present (ON CONFLICT DO NOTHING semantics).
    * Pure-plan variant: returns base ∪ (incoming ⟂ base) without mutating
    * storage, so callers can route it to any sink. Intra-batch duplicate
    * keys keep ONE arbitrary row (matching the DO-NOTHING insert, where
    * only the first conflicting row of an unordered multi-row INSERT
    * lands) — without this the anti-join, which only sees `base`, would
    * append every duplicate and break the key-uniqueness invariant the
    * function exists to maintain. */
  def upsertPlan(base: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    base.unionByName(
      incoming.dropDuplicates(keys)
        .join(base.select(keys.map(base(_)): _*), keys, "left_anti"))

  /** SCD Type-2 merge: apply an update batch to a history-keeping
    * dimension. `current` must carry `keyCol`, the tracked `attrCols`,
    * and the versioning triple (`valid_from` DATE, `valid_to` DATE,
    * `is_current` BOOLEAN); `updates` carries `keyCol` + `attrCols`.
    * Semantics (the standard warehouse contract):
    *
    *   - historical rows (is_current = false) pass through untouched;
    *   - a current row whose update differs on ANY tracked attribute
    *     (null-safe compare) is CLOSED (valid_to = effective,
    *     is_current = false) and a new current version opens with the
    *     updated attributes (valid_from = effective);
    *   - current rows with no update, or an update equal on every
    *     attribute, pass through.
    *
    * Pure plan: one key-shuffled left join + three filters of it +
    * union — no window, no per-key loop; rows-out ≤ rows-in + changed
    * keys. Callers route the result to an overwrite/partitioned sink. */
  def scd2Apply(current: DataFrame, updates: DataFrame, keyCol: String,
                attrCols: Seq[String],
                effective: org.apache.spark.sql.Column): DataFrame = {
    val outCols = (keyCol +: attrCols) ++ Seq("valid_from", "valid_to", "is_current")
    val hist = current.filter(!col("is_current")).select(outCols.map(col): _*)
    val cur = current.filter(col("is_current"))
    // per-key multiplicity of the update batch, validated EAGERLY on the
    // batch itself (r11 advice): two updates for one key would fan the
    // left join out and emit two OPEN current versions — and the former
    // in-plan assert only saw rows surviving the join to current, so a
    // duplicate whose key matched NO current row slipped through and was
    // silently discarded. One count job over the small-by-contract batch
    // covers every duplicate, matched or not.
    require(updates.groupBy(col(keyCol)).count()
        .filter(col("count") > 1).isEmpty,
      s"scd2Apply: multiple update rows share a $keyCol — fold " +
        "the batch to one row per key first")
    val u = updates
      .select(col(keyCol) +: attrCols.map(c => col(c).as(s"__u_$c")): _*)
      .withColumn("__has_u", lit(true))
    val j = cur.join(u, Seq(keyCol), "left")
      .withColumn("__chg",
        coalesce(col("__has_u"), lit(false)) &&
          attrCols.map(a => !(col(s"__u_$a") <=> col(a))).reduce(_ || _))
    val carried = j.filter(!col("__chg")).select(outCols.map(col): _*)
    val closed = j.filter(col("__chg"))
      .withColumn("valid_to", effective.cast("date"))
      .withColumn("is_current", lit(false))
      .select(outCols.map(col): _*)
    val fresh = j.filter(col("__chg"))
      .select((col(keyCol) +: attrCols.map(a => col(s"__u_$a").as(a))) ++ Seq(
        effective.cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current")): _*)
    hist.unionByName(carried).unionByName(closed).unionByName(fresh)
  }

  /** SCD2 history integrity audit — the invariants every consumer of a
    * versioned dimension silently assumes, checked explicitly: per key,
    * versions must CHAIN (each `valid_from` equal to or after the
    * previous version's `valid_to`; an open `valid_to` only on the last
    * version) and at most ONE version may be current (NULL `valid_to`).
    * Emits one row per violating key with the ordered violation list
    * (`overlap`, `gap`, `multi_current`) — empty result = healthy
    * history. One window per key over change-count-bounded rows plus a
    * per-key aggregate. `strict = true` also reports gaps (periods where
    * the key had NO valid version); lax histories that close and reopen
    * later pass with `strict = false`. */
  def scd2Integrity(hist: DataFrame, keyCol: String,
                    strict: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // valid_to sorts NULLS LAST so an OPEN version ties AFTER a closed
    // zero-length version sharing its valid_from — Spark's ascending
    // default (nulls first) would order the two engine-divergently vs
    // the SQL replay's NULLS LAST and flip the overlap verdict on that
    // tie (r10 advice).
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("valid_from"), col("valid_to").asc_nulls_last)
    val flagged = hist
      .withColumn("__prev_to", lag(col("valid_to"), 1).over(w))
      .withColumn("__has_prev", lag(lit(true), 1, false).over(w))
      // a NULL previous valid_to under a following row is an open
      // non-last version — an overlap by definition
      .withColumn("__overlap", col("__has_prev") &&
        (col("__prev_to").isNull || col("__prev_to") > col("valid_from")))
      .withColumn("__gap", col("__has_prev") &&
        col("__prev_to").isNotNull && col("__prev_to") < col("valid_from"))
    val perKey = flagged.groupBy(col(keyCol)).agg(
      max(col("__overlap")).as("overlap"),
      max(col("__gap")).as("gap"),
      (sum(when(col("valid_to").isNull, 1).otherwise(0)) > 1).as("multi_current"))
    val gapCol = if (strict) col("gap") else lit(false)
    perKey
      .withColumn("violations", concat_ws(",",
        when(col("overlap"), lit("overlap")),
        when(gapCol, lit("gap")),
        when(col("multi_current"), lit("multi_current"))))
      .filter(col("violations") =!= lit(""))
      .select(col(keyCol), col("violations"))
  }

  /** Point-in-time (PIT) lookup against an SCD2 history: each fact row is
    * enriched with the dimension VERSION valid at its timestamp —
    * `valid_from <= ts < valid_to`, with the open-ended current version
    * carrying a NULL `valid_to`. The "what segment was this customer in
    * WHEN they ordered" join that a current-state dimension silently gets
    * wrong for every backdated fact.
    *
    * Plan shape: one equi-join on the key with the validity bounds as a
    * residual condition — an SCD2 key has FEW versions (bounded by its
    * change count), so the 1:few key join is the right plan; an interval/
    * as-of join ([[graft.operators.RangeJoin]]) is only warranted when
    * versions per key are unbounded. Facts with no covering version
    * (pre-history) keep NULL attributes. */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, tsCol: String,
                 attrCols: Seq[String]): DataFrame = {
    val d = dim.select((dimKey +: attrCols) :+ "valid_from" :+ "valid_to" map col: _*)
    facts.join(d,
        facts(factKey) === d(dimKey) &&
          facts(tsCol) >= d("valid_from") &&
          (d("valid_to").isNull || facts(tsCol) < d("valid_to")),
        "left")
      // drop via the dim-side references, not by NAME — a fact feed that
      // itself carries valid_from/valid_to (e.g. the output of another
      // SCD2 stage) must keep its own columns
      .drop(d(dimKey)).drop(d("valid_from")).drop(d("valid_to"))
  }
}
