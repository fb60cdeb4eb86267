package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The engine's one parquet reader for a read that declares no schema.
  *
  * A `spark.read.parquet` that declares no schema infers the data schema
  * in a one-task Spark job (stage `parquet at ...`) that reads a single
  * footer, before any of the query's own jobs run. On 4 cores that job
  * cost 95-115 ms per read of `documents.parquet`, against 13-16 ms for
  * the same read with a schema. [[read]] reads the same one footer on
  * the calling thread and passes its schema to `spark.read.schema(...)`,
  * so building the read starts no job. The result is what Spark's own
  * inference gives:
  *
  *   - The file is the first data file of a depth-first walk (names
  *     sorted, files before subdirectories) that stops there. It skips
  *     what Spark's listing skips: names starting with `.`, names
  *     starting with `_` that hold no `=` (`.crc`, `_SUCCESS`,
  *     `_applied_id`, `.spark-staging`), and `._COPYING_` files. Like
  *     Spark without `mergeSchema`, it assumes the part files agree.
  *     Summary files (`_metadata`, `_common_metadata`), which Spark
  *     would consult first, are not read; the engine writes none.
  *   - The footer goes through Spark's `readSchemaFromFooter` (the
  *     Spark schema stored in the footer if there is one) with a
  *     converter built from the SQL conf of `spark` itself, not of the
  *     thread's active session: [[graft.operators.Overlap]] threads
  *     read too.
  *   - Partition columns (`year=`, `month=`, `hp=` dirs) are still
  *     discovered, typed and appended by Spark.
  *
  * Everything else takes Spark's own path, inference job included, so
  * Spark raises its usual error or applies its own rule: a missing
  * path, a path with no data file, a footer that cannot be read, and a
  * file column that a `k=v` directory also names (Spark keeps that
  * column at the file's position; a supplied schema would move it to
  * the end). Reads that need more than one footer keep Spark's reader:
  * `mergeSchema`, several paths, a `basePath`.
  */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame = {
    val resolved =
      try footerSchema(spark, path).collect {
        case (schema, partCols) if !schema.fieldNames.exists(n => partCols(n.toLowerCase)) => schema
      }
      catch { case NonFatal(_) => None }
    resolved.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The data schema a read of `path` infers, from one footer and with
    * no Spark job; partition columns are not in it. None when `path`
    * is missing or holds no data file. Any other failure (an unreadable
    * listing or footer) is thrown.
    */
  def schemaOf(spark: SparkSession, path: String): Option[StructType] =
    footerSchema(spark, path).map(_._1)

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`),
    * less the summary files it keeps for inference.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")

  /** The schema in the footer of the first data file under `path` (a
    * glob is expanded as Spark expands it), and the lower-cased `k` of
    * every `k=v` directory between the matched root and that file.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[(StructType, Set[String])] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def walk(dir: Path, partCols: Set[String]): Option[(FileStatus, Set[String])] = {
      val (dirs, files) = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.map(_ -> partCols).orElse(
        dirs.iterator.flatMap { d =>
          val name = d.getPath.getName
          walk(d.getPath, if (name.contains("=")) partCols + name.takeWhile(_ != '=').toLowerCase else partCols)
        }.nextOption())
    }
    Option(fs.globStatus(root)).toSeq.flatten.sortBy(_.getPath.toString)
      .iterator.flatMap(r => walk(r.getPath, Set.empty)).nextOption()
      .map { case (file, partCols) =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
        val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter) -> partCols
      }
  }
}
