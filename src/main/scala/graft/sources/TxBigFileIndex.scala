package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions.{col, not}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType

/** The 100-TB read path for a parquet-checkpointed transaction table —
  * the Delta parquet-checkpoint design: the live-file inventory (file,
  * partition value, size, mtime, row count, per-column min/max) lives in
  * a PARQUET payload under `_txlog/`, and `listFiles` evaluates the
  * scan's partition filters AND per-file stats skipping INSIDE a Spark
  * job over that payload — only the surviving files ever reach the
  * driver. Driver memory is O(matching files + post-checkpoint delta),
  * never O(table files): a 10-million-file table plans a selective scan
  * holding only its survivors.
  *
  * It serves a [[TxLog.Snapshot]] that carries a [[TxLog.Payload]]: the
  * snapshot's own `parts` — the bounded post-checkpoint delta (commits
  * after the checkpoint, ≤ [[Warehouse.MaxDriverPartitions]] of them) —
  * ride a regular driver-side [[TxFileIndex]] whose results union in;
  * payload rows masked by the delta (overwritten partitions,
  * rewritten-away files) are filtered out of the payload scan. File
  * statuses come from the
  * SIZE+MTIME recorded in the payload at checkpoint time — a selective
  * read of a huge table performs ZERO listing RPCs against the data
  * directories.
  *
  * Reference behavior anchor: the reference's warehouse reads are
  * index-backed (ecommerce-etl-pipeline `init_db.py:113-116`); at scale
  * the index itself must not live in one process' heap — this class is
  * that move.
  */
final class TxBigFileIndex(spark: SparkSession, root: String,
                           snap: TxLog.Snapshot,
                           override val partitionSchema: StructType)
    extends FileIndex with GraftFileIndex {
  require(partitionSchema.nonEmpty,
    "TxBigFileIndex: at least one partition column")

  private val payload = snap.payload.getOrElse(sys.error(
    "TxBigFileIndex: the snapshot has no parquet-checkpoint payload"))

  override val rootPaths: Seq[Path] = Seq(new Path(root))

  private def payloadDF = TxLog.payloadLiveDF(spark, root, payload)

  /** The scan's partition predicate re-aimed at the payload's recorded
    * key (cast to the declared partition types with session-zone
    * semantics, mirroring [[PartValueRow]]): the raw `part` column for a
    * single partition column (its key IS the raw value), the `partv` raw
    * segment array for N≥2. */
  private def partPredicate(partitionFilters: Seq[Expression]): Option[Column] =
    if (partitionFilters.isEmpty) None
    else {
      val zone = Option(spark.conf.get("spark.sql.session.timeZone"))
      def segExpr(i: Int): Expression =
        if (partitionSchema.length == 1) ColumnBridge.expression(col("part"))
        else ColumnBridge.expression(
          org.apache.spark.sql.functions.element_at(col("partv"), i + 1))
      Some(ColumnBridge.column(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          Cast(segExpr(i), partitionSchema(i).dataType, zone)
      }))
    }

  /** One distributed pruning job: (part, file, size, mtime) of every
    * payload file the filters cannot rule out. */
  private def payloadSurvivors(partitionFilters: Seq[Expression],
                               dataFilters: Seq[Expression])
      : Array[(String, String, Long, Long)] = {
    var df = payloadDF
    partPredicate(partitionFilters).foreach(p => df = df.filter(p))
    if (dataFilters.nonEmpty)
      df = df.filter(TxStats.mightMatchColumn(dataFilters, col("stats")))
    df.select("part", "file", "size", "mtime").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
  }

  private lazy val deltaIndex: Option[TxFileIndex] =
    if (snap.parts.isEmpty) None
    else Some(new TxFileIndex(spark, root, snap.parts, partitionSchema,
      snap.stats))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val fromPayload = payloadSurvivors(partitionFilters, dataFilters)
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (v, files) =>
        PartitionDirectory(PartValueRow(spark, v, partitionSchema),
          files.map { case (_, rel, size, mtime) =>
            // statuses are fabricated from recorded size+mtime — no
            // listing RPC; Spark's split planning only consumes
            // path/length/modtime
            new FileStatus(size, false, 1, 128L * 1024 * 1024, mtime,
              new Path(root, rel))
          })
      }
    fromPayload ++
      deltaIndex.map(_.listFiles(partitionFilters, dataFilters))
        .getOrElse(Seq.empty)
  }

  override def survivorParts(partitionFilters: Seq[Expression],
                             dataFilters: Seq[Expression])
      : Map[String, Seq[String]] = {
    val fromPayload = payloadSurvivors(partitionFilters, dataFilters)
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSeq }
    TxLog.unionParts(fromPayload, deltaIndex
      .map(_.survivorParts(partitionFilters, dataFilters))
      .getOrElse(Map.empty))
  }

  /** O(files) driver by definition of the API — for `df.inputFiles`
    * introspection only; the scan path never calls it. */
  override def inputFiles: Array[String] =
    payloadDF.select("file").collect().map(r => s"$root/${r.getString(0)}") ++
      snap.parts.values.flatten.map(rel => s"$root/$rel")

  override def refresh(): Unit = () // immutable snapshot

  /** Planner size hint: checkpoint-recorded bytes plus the delta's. An
    * upper bound (delta-masked payload rows still count) — a safe
    * direction for broadcast decisions. */
  override lazy val sizeInBytes: Long =
    math.max(0L, payload.bytes) +
      deltaIndex.map(_.sizeInBytes).getOrElse(0L)
}
