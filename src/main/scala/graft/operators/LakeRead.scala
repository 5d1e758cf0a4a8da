package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.{DataType, StructType}

import scala.util.Try

/** Parquet reads of lake artifacts that build their plan WITHOUT a
  * Spark job.
  *
  * `spark.read.parquet(dir)` infers the schema through
  * `ParquetUtils.inferSchema`, whose `mergeSchemasInParallel` always
  * runs a one-task `parallelize(..).collect()` job — even with
  * `mergeSchema=false` and one file. With `mergeSchema=false` that job
  * reads ONE data file's footer and returns the schema Spark stored
  * there; [[parquet]] reads the same footer on the driver and hands the
  * schema to the reader, so building the plan runs no job. Partition
  * columns (`shard=N`) are still discovered from the paths, because
  * the stored schema does not hold them. No data file, or a footer
  * without a readable Spark schema, falls back to the plain read, so
  * every error (e.g. "unable to infer schema" on a `_SUCCESS`-only
  * directory) is the one the plain read raises.
  *
  * Every lake read in `graft.operators` and `graft.streaming` goes
  * through here (a spec scans the sources for stray reads).
  */
object LakeRead {

  /** The footer key under which Spark's parquet writer stores the row
    * schema as JSON. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read.parquet(paths: _*)`, minus the schema-inference job. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    ifData(spark, paths: _*).getOrElse(spark.read.parquet(paths: _*))

  /** [[parquet]] when some path holds a data file, else None — for
    * callers that skip data-free directories, with one listing. */
  def ifData(spark: SparkSession, paths: String*): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    firstDataFile(conf, paths).map { file =>
      footerSchema(conf, file) match {
        case Some(s) => spark.read.schema(s).parquet(paths: _*)
        case None => spark.read.parquet(paths: _*)
      }
    }
  }

  /** The first data file under `paths`, in path order, depth-first
    * with each directory's files before its subdirectories. Names
    * starting with `_` or `.` are skipped below the given paths, as
    * Spark's file index skips them (`_SUCCESS`, `_temporary`, `.crc`,
    * `_live_v<k>` pointers). A path that is missing, a glob, or that
    * vanishes mid-listing yields no file. */
  private def firstDataFile(conf: Configuration,
      paths: Seq[String]): Option[Path] = {
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(fs: FileSystem, s: FileStatus): Option[Path] =
      if (!s.isDirectory) Some(s.getPath)
      else {
        val (dirs, files) = fs.listStatus(s.getPath).filter(visible)
          .partition(_.isDirectory)
        files.headOption.map(_.getPath)
          .orElse(dirs.iterator.flatMap(walk(fs, _)).nextOption())
      }
    paths.iterator.flatMap { p =>
      val path = new Path(p)
      Try {
        val fs = path.getFileSystem(conf)
        walk(fs, fs.getFileStatus(path))
      }.toOption.flatten
    }.nextOption()
  }

  private def footerSchema(conf: Configuration,
      file: Path): Option[StructType] =
    Try(ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)).toOption
      .flatMap(Option(_))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
}
