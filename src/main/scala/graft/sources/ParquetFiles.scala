package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema comes from one footer read on the driver.
  *
  * `spark.read.parquet(path)` without a schema runs a Spark job to infer it,
  * and that job reads one footer (with `mergeSchema` off Spark assumes every
  * file agrees). For a reader that knows its files share one schema, the same
  * footer read on the driver gives the same schema with no job: the footer
  * goes through Spark's own `readSchemaFromFooter` and a converter built from
  * the session conf, so the serialized row schema wins when present and
  * `nanosAsLong` / `binaryAsString` / INT96 settings apply as in inference.
  * Readers that must merge differing file schemas (`Warehouse.readEvolved`)
  * keep Spark's inference.
  */
object ParquetFiles {

  /** `spark.read.parquet(path)` with the schema taken from [[schema]]:
    * partition columns are still discovered from the directory names. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** The data schema in the footer of the first data file under `path`:
    * `path` itself when it is a file, otherwise the first leaf in name
    * order, skipping the names Spark's file index skips (`_`/`.` prefixes
    * outside `key=value` directories, `._COPYING_` files). Partition
    * columns are not part of it. */
  private def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = firstDataFile(fs, fs.getFileStatus(root)).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else fs.listStatus(st.getPath).filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.getName).iterator
      .flatMap(firstDataFile(fs, _)).nextOption()
}
