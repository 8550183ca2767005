package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.graftbridge.ParquetReadBridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{PartValueRow, TxLog}

/** Structured-Streaming SOURCE over a [[TxLog]] table — the Delta
  * streaming-source move: `spark.readStream.format("txlog").load(root)`
  * follows the table's commit log, each micro-batch reading exactly the
  * APPEND window between two committed versions (offset = log version,
  * so the stream's exactly-once bookkeeping IS the table's own total
  * order — no listing, no file-arrival heuristics, restart resumes at
  * the checkpointed version). Liveness is evaluated at the window end
  * ([[TxLog.readChangesSince]] semantics), non-append commits refuse
  * loudly unless `skipNonAppend=true` (rewrites reconciled out of band),
  * and `startingVersion` (default 0 = full history) picks the first
  * offset for a fresh checkpoint.
  *
  * File decode rides Spark's own parquet machinery through
  * [[ParquetReadBridge]] (built once per stream on an isolated session —
  * the micro-batch deltas this feeds are where row-based decode's
  * simplicity beats vectorized plumbing).
  *
  * Reference behavior anchor: the reference's daily full-refresh DAGs
  * re-read whole tables per run (`sales_analytics_dag.py` cadence);
  * here a downstream stream re-reads O(new commits), never O(table).
  */
class TxSourceProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "txlog"

  private def root(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      sys.error("txlog source: .load(<table root>) is required"))

  /** V1 StreamSourceProvider face — REQUIRED for the name surface:
    * [[graft.plans.TxNamedTable]] is a `V2TableWithV1Fallback` (for
    * `writeStream.toTable`), and Spark's RelationResolution EAGERLY
    * resolves the read-side v1Relation fallback for every
    * `readStream.table(name)`, which computes this schema even though
    * MicroBatchExecution then picks the V2 micro-batch stream (the
    * table advertises MICRO_BATCH_READ, so the V1 source itself never
    * runs). Same derivation as [[inferSchema]]; a catalog-table
    * resolution without a path option falls back to the declared
    * schema. */
  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val s =
      if (Option(opts.get("path")).isDefined) inferSchema(opts)
      else schema.getOrElse(sys.error(
        "txlog source: .load(<table root>) is required"))
    (shortName(), s)
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    sys.error("txlog source: the V1 Source path is never planned — the " +
      "table advertises MICRO_BATCH_READ, so MicroBatchExecution uses " +
      "the V2 stream; reaching here means V2 micro-batch readers were " +
      "disabled (spark.sql.streaming.disabledV2MicroBatchReaders) — " +
      "re-enable them for txlog tables")

  /** BATCH WRITE path — `df.write.format("txlog").mode(...).save(root)`,
    * the write-side twin of the batch read: [[TxStreamTable]] does not
    * advertise BATCH_WRITE, so Spark's DataFrameWriter falls back to this
    * V1 writer, which routes every mode to the transactional front doors
    * (never a parallel implementation):
    *
    *   - `mode("append")` → one transactional append commit
    *   - `mode("overwrite")` → [[TxLog.overwriteTableTx]], the atomic
    *     full-table replace (the reference's `if_exists='replace'`)
    *   - `mode("error")` / `mode("ignore")` → create-only semantics
    *     against [[TxLog.tableExists]]
    *
    * The table's RECORDED partitioning wins once it exists (a mismatched
    * `.partitionBy` refuses loudly); `.partitionBy(...)` is required when
    * the write creates the table. CHECK constraints, the additive schema
    * guard, and the column mapping all enforce inside stage/commit —
    * one contract, every surface. Idempotent retries ride
    * `.option("txnAppId", id).option("txnVersion", n)` (the Delta txn
    * shape): a replay of the writer's current version lands exactly
    * once; an older one refuses as stale. */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = data.sparkSession
    def opt(k: String): Option[String] = parameters.collectFirst {
      case (key, v) if key.equalsIgnoreCase(k) => v
    }
    val writeRoot = opt("path").getOrElse(sys.error(
      "txlog write: .save(<table root>) or .option(\"path\", ...) is " +
        "required"))
    // .partitionBy columns arrive JSON-encoded under the V1-fallback key
    val declared: Seq[String] = opt(
      org.apache.spark.sql.execution.datasources.DataSourceUtils
        .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
      .getOrElse(Seq.empty)
    val writerSeq: Option[(String, Long)] =
      (opt("txnAppId"), opt("txnVersion")) match {
        case (Some(a), Some(v)) => Some((a, v.toLong))
        case (None, None) => None
        case _ => sys.error("txlog write: txnAppId and txnVersion must be " +
          "set together — they key the idempotent replay ledger")
      }
    val exists = TxLog.tableExists(spark, writeRoot)
    val recorded: Option[Seq[String]] =
      if (exists) Some(TxLog.tableMeta(spark, writeRoot)._2.map(_.name).toSeq)
      else None
    recorded.foreach { r =>
      require(declared.isEmpty || declared == r,
        s"txlog write: partitionBy [${declared.mkString(", ")}] does not " +
          s"match the table's recorded partitioning [${r.mkString(", ")}]")
    }
    val cols = recorded.getOrElse {
      require(declared.nonEmpty, "txlog write: .partitionBy(...) is " +
        "required when the write creates the table")
      declared
    }
    def append(): Unit =
      TxLog.commit(spark, writeRoot,
        TxLog.stage(data, writeRoot, cols, Nil, 0), "append",
        readVersion = 0L, writerSeq = writerSeq): Unit
    mode match {
      case SaveMode.Append => append()
      case SaveMode.Overwrite =>
        TxLog.overwriteTableTx(data, writeRoot, cols,
          writerSeq = writerSeq): Unit
      case SaveMode.ErrorIfExists =>
        if (exists) sys.error(s"txlog write: $writeRoot already exists " +
          "(SaveMode.ErrorIfExists) — use append or overwrite")
        append()
      case SaveMode.Ignore => if (!exists) append()
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType =
        TxLog.readTable(spark, writeRoot).schema
    }
  }

  /** SINK side — `df.writeStream.format("txlog")`: every micro-batch is
    * one transactional commit under the (checkpoint-derived writerId,
    * batchId) writer-seq identity, so the stream is exactly-once BY THE
    * TABLE'S OWN LEDGER: a post-crash replay of the last batch commits
    * idempotently, however the stream restarts ([[TxSink]]). */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    def opt(k: String): Option[String] = parameters.collectFirst {
      case (key, v) if key.equalsIgnoreCase(k) => v
    }
    val sinkRoot = opt("path").getOrElse(
      sys.error("txlog sink: .option(\"path\", <table root>) or " +
        ".start(<table root>) is required"))
    // the replay ledger's writer identity: stable across restarts of the
    // SAME checkpointed query, distinct across queries — exactly the
    // checkpoint's own identity (override with .option("writerId", ...)
    // to share a ledger row across checkpoint relocations)
    val writerId = opt("writerId").getOrElse(opt("checkpointLocation")
      .map(cp => s"txsink:$cp").getOrElse(sys.error(
        "txlog sink: a checkpointLocation (or an explicit writerId " +
          "option) is required — it keys the exactly-once replay ledger")))
    new TxSink(sinkRoot, partitionColumns, outputMode, writerId,
      mergeKey = opt("mergeKey"),
      changeFeed = opt("changeFeed").exists(_.toBoolean))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    // the WRITE path resolves the provider's table before it falls back
    // to the v1 sink — a NOT-YET-CREATED table reports an empty schema
    // (reads of it still fail loudly at stream start); every other
    // tableMeta failure (corrupt log, permission denied) stays loud
    if (!TxLog.tableExists(spark, root(options))) return new StructType()
    // BATCH time travel: the relation's schema is the schema AS OF the
    // pinned version (a rename/drop/restore means schemas differ by
    // version) — derived from the same plan the batch rewrite mounts,
    // so relation output and rewritten child can never drift
    val pinned = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map(ts =>
        TxLog.versionAsOf(spark, root(options),
          TxLog.tsOptionMillis(spark, ts))))
    if (pinned.isDefined &&
        !Option(options.get("readChangeFeed")).exists(_.toBoolean))
      return TxLog.readTableAt(spark, root(options), pinned.get).schema
    val (data, ps) = TxLog.tableMeta(spark, root(options))
    // report LOGICAL names (renames applied, dropped columns gone); the
    // decode below still reads files by their PHYSICAL names
    val m = TxLog.tableMapping(spark, root(options))
    val logical = data.fields.toSeq.flatMap { f =>
      m.get(f.name) match {
        case Some("-") => None
        case Some(l) => Some(f.copy(name = l))
        case None => Some(f)
      }
    }
    val base = StructType(logical ++ ps.fields)
    // CDF mode (the Delta readChangeFeed stream): every row rides with
    // its change class and commit version. A CAPPED batch window
    // (endingVersion) replays the schema and mapping AS OF the cap (its
    // deterministic-replay contract) — a rename landing after the cap
    // must not leak the current name into the declared schema
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      val asOfCap = Option(options.get("endingVersion")).map(_.toLong)
        .map(v => TxLog.readTableAt(spark, root(options), v).schema)
        .getOrElse(base)
      StructType(asOfCap.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, false)))
    } else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TxStreamTable(schema,
      Option(properties.get("path")).getOrElse(
        sys.error("txlog source: .load(<table root>) is required")))
}

/** The transactional streaming sink (the Delta streaming-sink shape): one
  * commit per micro-batch under the writer-seq replay ledger —
  * exactly-once without any sink-side bookkeeping, because idempotence
  * IS the table's commit protocol. Append mode appends; Complete mode
  * overwrites the staged partitions each batch; Update mode (with
  * `.option("mergeKey", <col>)`) UPSERTS each batch's changed rows by
  * key through [[TxLog.mergeKeyedTx]] — the streaming-aggregation sink
  * (each trigger emits a group's LATEST totals; the merge replaces the
  * prior row). The table's RECORDED partitioning wins once it exists;
  * `.partitionBy(...)` seeds a fresh table (and must match an existing
  * one). Update-mode contract: a key's partition value must be stable
  * across triggers (true for any partition column derived from the
  * grouping key), exactly [[TxLog.mergeKeyedTx]]'s contract. */
private final class TxSink(root: String, partCols: Seq[String],
                           outputMode: org.apache.spark.sql.streaming.OutputMode,
                           writerId: String,
                           mergeKey: Option[String] = None,
                           changeFeed: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    val spark = data.sparkSession
    // re-mount the micro-batch's incremental plan as a batch frame —
    // stage()'s writer refuses isStreaming plans. PERSIST it: the sink
    // runs up to three actions over this frame (empty probe, constraint
    // validation inside stage, the write itself) and re-executing a
    // stateful incremental plan per action would multiply per-trigger
    // latency
    val df = org.apache.spark.sql.graftbridge.DatasetBridge
      .rebatch(data.toDF()).persist()
    try {
      if (df.isEmpty) {
        // Append/Update: an empty batch commits nothing (replay-safe —
        // a replayed empty batch is equally empty). Complete mode is
        // different: the batch IS the entire table contents, so an
        // empty result must TRUNCATE, not leave stale rows standing.
        if (outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
            && TxLog.tableExists(spark, root)) {
          val live = TxLog.partitionValues(spark, root)
          if (live.nonEmpty)
            TxLog.commit(spark, root,
              TxLog.Staged(live.map(_ -> Seq.empty[String]).toMap),
              "remove", readVersion = 0L,
              writerSeq = Some((writerId, batchId))): Unit
        }
        return
      }
      addBatchInner(spark, batchId, df)
    } finally df.unpersist()
  }

  private def addBatchInner(spark: org.apache.spark.sql.SparkSession,
                            batchId: Long,
                            df: org.apache.spark.sql.DataFrame): Unit = {
    // PRECISE existence test — any real tableMeta failure on an existing
    // table must stay loud (a swallowed transient error here would make
    // Update mode seed a duplicate append instead of merging)
    val recorded: Option[Seq[String]] =
      if (TxLog.tableExists(spark, root))
        Some(TxLog.tableMeta(spark, root)._2.map(_.name).toSeq)
      else None
    recorded.foreach { r =>
      require(partCols.isEmpty || partCols == r,
        s"txlog sink: partitionBy [${partCols.mkString(", ")}] does not " +
          s"match the table's recorded partitioning [${r.mkString(", ")}]")
    }
    val cols = recorded.getOrElse {
      require(partCols.nonEmpty, "txlog sink: .partitionBy(...) is " +
        "required when the sink creates the table")
      partCols
    }
    val seq = Some((writerId, batchId))
    outputMode match {
      case m if m == org.apache.spark.sql.streaming.OutputMode.Append() =>
        TxLog.commit(spark, root, TxLog.stage(df, root, cols, Nil, 0),
          "append", readVersion = 0L, writerSeq = seq): Unit
      case m if m == org.apache.spark.sql.streaming.OutputMode.Complete() =>
        // FULL-table replace: Complete output IS the entire result, so a
        // partition absent from this batch must DROP (a group filtered
        // out mid-stream), not stand stale — same family as the
        // empty-batch truncate above
        TxLog.overwriteTableTx(df, root, cols, writerSeq = seq): Unit
      case m if m == org.apache.spark.sql.streaming.OutputMode.Update() =>
        val key = mergeKey.getOrElse(sys.error("txlog sink: Update mode " +
          "upserts by key — set .option(\"mergeKey\", <column>)"))
        // the first batch SEEDS the table (mergeKeyedTx requires content);
        // every later batch is a ledgered keyed upsert
        if (recorded.isEmpty)
          TxLog.commit(spark, root, TxLog.stage(df, root, cols, Nil, 0),
            "append", readVersion = 0L, writerSeq = seq): Unit
        else
          TxLog.mergeKeyedTx(spark, root, df, key, changeFeed = changeFeed,
            writerSeq = seq): Unit
      case other => sys.error(s"txlog sink: unsupported output mode " +
        s"$other — Append, Complete and Update(mergeKey) only")
    }
  }
}

private[graft] final class TxStreamTable(tableSchema: StructType,
                                         root: String)
    extends Table with SupportsRead {
  override def name(): String = s"txlog:$root"
  override def schema(): StructType = tableSchema
  // BATCH_READ makes `spark.read.format("txlog").load(root)` resolve to
  // a DataSourceV2Relation over this table; [[TxBatchReadRule]] (injected
  // by GraftExtensions) then substitutes the FULL readTable plan —
  // column-mapping projection, deletion-vector anti-join, TxFileIndex
  // pruning — before any physical planning. The scan below stays the
  // streaming implementation; its toBatch is a loud backstop for
  // sessions missing the extensions (a bare relation would silently
  // skip the mapping and the vectors — never serve that).
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          sys.error("txlog batch read requires the graft extensions " +
            "(SparkSession.builder().withExtensions(new " +
            "graft.plans.GraftExtensions)) — a bare scan would bypass " +
            "the table's column mapping and deletion vectors; " +
            "alternatively call graft.sources.TxLog.readTable directly")
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          // startingVersion wins; startingTimestamp resolves through the
          // commit-mtime clock (the state AS OF the instant is the
          // baseline — the stream delivers what lands after it)
          def starting: Long =
            Option(options.get("startingVersion")).map(_.toLong)
              .orElse(Option(options.get("startingTimestamp")).map { ts =>
                val s = SparkSession.active
                TxLog.versionAsOf(s, root, TxLog.tsOptionMillis(s, ts))
              })
              .getOrElse(0L)
          if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
            new TxCdfMicroBatchStream(root, tableSchema, starting)
          else
            new TxMicroBatchStream(root, tableSchema, starting,
              Option(options.get("skipNonAppend")).exists(_.toBoolean))
        }
      }
    }
}

private final case class TxOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private final case class TxInputPartition(path: String, length: Long,
                                          partValues: Array[Any]) extends InputPartition

private final class TxMicroBatchStream(root: String, tableSchema: StructType,
                                       startingVersion: Long,
                                       skipNonAppend: Boolean)
    extends MicroBatchStream {
  private def spark = SparkSession.active
  // the table's partition columns are the schema's LAST N fields
  // (inferSchema appends them to the data schema) — N from the log's
  // recorded partition metadata
  private lazy val nPart = TxLog.tableMeta(spark, root)._2.length
  private lazy val partSchema = StructType(tableSchema.fields.takeRight(nPart))
  // decode by PHYSICAL live names (what the files carry) — positions
  // align with the reported logical schema, which applied the same
  // rename/tombstone transform field-by-field
  private lazy val physDataSchema = {
    val (data, _) = TxLog.tableMeta(spark, root)
    val m = TxLog.tableMapping(spark, root)
    StructType(data.fields.filterNot(f => m.get(f.name).contains("-")))
  }

  override def initialOffset(): Offset = TxOffset(startingVersion)
  override def latestOffset(): Offset =
    TxOffset(math.max(startingVersion, TxLog.currentVersion(spark, root)))
  override def deserializeOffset(json: String): Offset =
    TxOffset(json.toLong)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val since = start.asInstanceOf[TxOffset].version
    val until = end.asInstanceOf[TxOffset].version
    if (until <= since) return Array.empty
    TxLog.appendWindowFiles(spark, root, since, until, skipNonAppend)
      .map { case (key, rel, len) =>
        val row = PartValueRow(spark, key, partSchema)
        TxInputPartition(s"$root/$rel", len,
          Array.tabulate[Any](nPart)(i => row.get(i, partSchema(i).dataType)))
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fn = ParquetReadBridge.rowReader(spark, physDataSchema, partSchema)
    new TxReaderFactory(fn)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** CDF-mode micro-batch stream — the Delta `readChangeFeed` stream over
  * the commit log: each micro-batch surfaces the window's ROW-LEVEL
  * changes ([[TxLog.readChangeFeed]] semantics) — append commits' files
  * as `insert` rows, MERGE/DELETE rewrites' write-time change files
  * (`update_preimage`/`update_postimage`/`insert`/`delete`) verbatim —
  * every row tagged `_change_type` and `_commit_version`. Offsets are
  * log versions, so restart/exactly-once bookkeeping is identical to the
  * append-only stream; overwrite/remove (or a rewrite written without
  * changeFeed=true) refuses loudly rather than silently dropping
  * changes. */
private final class TxCdfMicroBatchStream(root: String,
                                          tableSchema: StructType,
                                          startingVersion: Long)
    extends MicroBatchStream {
  private def spark = SparkSession.active
  // tableSchema = data ++ partition ++ (_change_type, _commit_version)
  private lazy val nPart = TxLog.tableMeta(spark, root)._2.length
  private lazy val partSchema =
    StructType(tableSchema.fields.dropRight(2).takeRight(nPart))
  // decode by PHYSICAL live names — data files AND change files both
  // carry them (the column-mapping invariant); positions align with the
  // reported logical schema, which applied the same rename/tombstone
  // transform field-by-field
  private lazy val physDataSchema = {
    val (data, _) = TxLog.tableMeta(spark, root)
    val m = TxLog.tableMapping(spark, root)
    StructType(data.fields.filterNot(f => m.get(f.name).contains("-")))
  }

  override def initialOffset(): Offset = TxOffset(startingVersion)
  override def latestOffset(): Offset =
    TxOffset(math.max(startingVersion, TxLog.currentVersion(spark, root)))
  override def deserializeOffset(json: String): Offset =
    TxOffset(json.toLong)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val since = start.asInstanceOf[TxOffset].version
    val until = end.asInstanceOf[TxOffset].version
    if (until <= since) return Array.empty
    TxLog.changeFeedWindowFiles(spark, root, since, until).map { pf =>
      def partRow = {
        val row = PartValueRow(spark, pf.partKey, partSchema)
        Array.tabulate[Any](nPart)(i => row.get(i, partSchema(i).dataType))
      }
      val partValues =
        if (pf.kind == "data") partRow
        else partRow :+ org.apache.spark.unsafe.types.UTF8String
          .fromString(pf.changeType)
      TxCdfInputPartition(pf.kind, s"$root/${pf.rel}", pf.length,
        partValues, pf.version)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // data files decode through (dataSchema, partSchema) with partition
    // values appended; routed change files the same way, `_change_type`
    // appended as one more path value
    val changeType = org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType, true)
    val dataFn = ParquetReadBridge.rowReader(spark, physDataSchema, partSchema)
    val changeFn = ParquetReadBridge.rowReader(spark, physDataSchema,
      StructType(partSchema.fields :+ changeType))
    new TxCdfReaderFactory(dataFn, changeFn,
      tableSchema.fields.map(_.dataType))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private final case class TxCdfInputPartition(kind: String, path: String,
                                             length: Long,
                                             partValues: Array[Any],
                                             version: Long) extends InputPartition

private final class TxCdfReaderFactory(dataFn: ParquetReadBridge.FileReadFn,
                                       changeFn: ParquetReadBridge.FileReadFn,
                                       outTypes: Array[org.apache.spark.sql.types.DataType])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TxCdfInputPartition]
    val width = outTypes.length
    // a data row arrives width-2 (no change columns); a change row
    // width-1 (change type read from the path, version still missing)
    def partRow = InternalRow.fromSeq(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(p.partValues))
    val it: Iterator[InternalRow] =
      if (p.kind == "data")
        dataFn(p.path, partRow, p.length).map { row =>
          val out = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(width)
          var i = 0
          while (i < width - 2) { out.update(i, row.get(i, outTypes(i))); i += 1 }
          out.update(width - 2,
            org.apache.spark.unsafe.types.UTF8String.fromString("insert"))
          out.update(width - 1, p.version)
          out
        }
      else
        changeFn(p.path, partRow, p.length).map { row =>
          val out = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(width)
          var i = 0
          while (i < width - 1) { out.update(i, row.get(i, outTypes(i))); i += 1 }
          out.update(width - 1, p.version)
          out
        }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (it.hasNext) { row = it.next(); true } else false
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

private final class TxReaderFactory(fn: ParquetReadBridge.FileReadFn)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TxInputPartition]
    new PartitionReader[InternalRow] {
      private val it = fn(p.path, InternalRow.fromSeq(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(p.partValues)),
        p.length)
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (it.hasNext) { row = it.next(); true } else false
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
