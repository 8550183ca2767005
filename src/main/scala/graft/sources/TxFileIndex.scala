package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared contract of the tx-layer file indexes: map resolved scan
  * filters to the surviving (partition value → rel files) slice — the
  * candidate search [[TxLog.deleteWhereTx]]/[[TxLog.mergeKeyedTx]] run
  * to bound their rewrites, served by the SAME pruning machinery the
  * scan itself uses (driver-side for [[TxFileIndex]], a distributed
  * payload job for [[TxBigFileIndex]]). */
trait GraftFileIndex {
  def survivorParts(partitionFilters: Seq[Expression],
                    dataFilters: Seq[Expression]): Map[String, Seq[String]]
}

private[graft] object PartValueRow {
  /** A log's RAW string partition value, cast once to the declared
    * partition type with session-zone semantics (same as catalog
    * partition handling). */
  def apply(spark: SparkSession, v: String,
            partType: org.apache.spark.sql.types.DataType): InternalRow = {
    val zone = Option(spark.conf.get("spark.sql.session.timeZone"))
    InternalRow(Cast(Literal(UTF8String.fromString(v), StringType),
      partType, zone).eval(null))
  }

  /** N-column form: the log's composite key decodes through
    * [[TxLog.splitPartKey]], each raw segment cast to its declared
    * partition type. */
  def apply(spark: SparkSession, key: String,
            partSchema: StructType): InternalRow = {
    val zone = Option(spark.conf.get("spark.sql.session.timeZone"))
    val raws = TxLog.splitPartKey(key, partSchema.length)
    InternalRow.fromSeq(raws.zip(partSchema).map { case (v, f) =>
      Cast(Literal(UTF8String.fromString(v), StringType),
        f.dataType, zone).eval(null)
    })
  }
}

/** A [[FileIndex]] backed by a [[TxLog.Snapshot]]'s driver-side file
  * list (`parts`: every live file of a driver table, the post-checkpoint
  * delta of a payload table, which [[TxBigFileIndex]] wraps this index
  * around) — the production read shape for the transaction layer (the Delta
  * TahoeFileIndex pattern): ONE scan node whatever the partition count,
  * partition values injected from the log's `value → files` mapping (the
  * same information the `partCol=v` staging dir names carry), and
  * partition pruning evaluated HERE, against the driver-side mapping,
  * before a single task launches. Standard partition discovery cannot
  * serve this layout — each commit's files live under their own
  * `data/txn-<uuid>` staging dir, and discovery demands one common
  * partition root — which is exactly why table formats carry their own
  * file index instead of a directory convention.
  *
  * The index is immutable (a snapshot names immutable files), so
  * `refresh()` is a no-op and the one listing pass — grouped per staging
  * directory, never per file — happens lazily at first plan. Driver
  * memory is O(live files), the same bound the log fold already enforces
  * via [[Warehouse.MaxDriverPartitions]].
  */
final class TxFileIndex(spark: SparkSession, root: String,
                        parts: Map[String, Seq[String]],
                        override val partitionSchema: StructType,
                        stats: TxLog.FileStats = Map.empty)
    extends FileIndex with GraftFileIndex {
  require(partitionSchema.nonEmpty,
    "TxFileIndex: at least one partition column")

  override val rootPaths: Seq[Path] = Seq(new Path(root))

  private def valueRow(v: String): InternalRow =
    PartValueRow(spark, v, partitionSchema)

  /** Bind the scan's partition attributes to their schema ordinals —
    * the InMemoryFileIndex pruning contract, by NAME for N columns. */
  private def bindPart(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      val i = partitionSchema.fieldIndex(a.name)
      BoundReference(i, partitionSchema(i).dataType, nullable = true)
  }

  /** One listing per staging dir (not per file): commits stage whole
    * `partCol=v` directories, so grouping by parent turns O(files)
    * RPCs into O(staged dirs). Rel paths ride along so [[listFiles]]
    * can consult the log's per-file stats ([[TxStats]] skipping). */
  private lazy val dirsWithRel: Seq[(InternalRow, Seq[(String, FileStatus)])] = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val wanted: Map[Path, Map[String, Seq[String]]] = parts.toSeq
      .flatMap { case (v, rels) => rels.map(rel => (v, rel)) }
      .groupBy { case (_, rel) =>
        new Path(root, rel).getParent
      }
      .map { case (parent, vs) =>
        parent -> vs.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
      }
    val statusByRel: Map[String, FileStatus] = wanted.toSeq.flatMap {
      case (parent, byValue) =>
        val names = byValue.values.flatten
          .map(rel => rel.substring(rel.lastIndexOf('/') + 1)).toSet
        fs.listStatus(parent).filter(st => names.contains(st.getPath.getName))
          .map { st =>
            val rel = st.getPath.toUri.getPath
              .stripPrefix(fs.makeQualified(new Path(root)).toUri.getPath)
              .stripPrefix("/")
            rel -> st
          }
    }.toMap
    parts.toSeq.sortBy(_._1).map { case (v, rels) =>
      val sts = rels.map(rel => rel -> statusByRel.getOrElse(rel,
        sys.error(s"TxFileIndex: live file $rel missing under $root — " +
          "vacuum ran inside a reader's window?")))
      (valueRow(v), sts)
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val afterPart =
      if (partitionFilters.isEmpty) dirsWithRel
      else {
        val bound = Predicate.createInterpreted(
          bindPart(partitionFilters.reduce(And)))
        dirsWithRel.filter { case (row, _) => bound.eval(row) }
      }
    // file-level data skipping: drop files whose recorded min/max prove
    // no row can pass the data filters (files without stats always stay)
    val afterStats =
      if (dataFilters.isEmpty || stats.isEmpty) afterPart
      else afterPart.map { case (row, files) =>
        (row, files.filter { case (rel, _) =>
          stats.get(rel).forall(TxStats.mightMatch(dataFilters, _))
        })
      }.filter(_._2.nonEmpty)
    afterStats.map { case (row, files) =>
      PartitionDirectory(row, files.map(_._2).toArray)
    }
  }

  override def survivorParts(partitionFilters: Seq[Expression],
                             dataFilters: Seq[Expression])
      : Map[String, Seq[String]] = {
    val boundOpt =
      if (partitionFilters.isEmpty) None
      else Some(Predicate.createInterpreted(
        bindPart(partitionFilters.reduce(And))))
    parts.toSeq.collect {
      case (v, rels) if boundOpt.forall(_.eval(valueRow(v))) =>
        v -> rels.filter(rel =>
          dataFilters.isEmpty ||
            stats.get(rel).forall(TxStats.mightMatch(dataFilters, _)))
    }.filter(_._2.nonEmpty).toMap
  }

  override def inputFiles: Array[String] =
    parts.values.flatten.map(rel => s"$root/$rel").toArray

  override def refresh(): Unit = () // immutable snapshot

  override lazy val sizeInBytes: Long =
    dirsWithRel.iterator.flatMap(_._2).map(_._2.getLen).sum
}
