package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.graftshim.SchemaShim
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
  * Control records — metas, manifests, cursors, models: one-row or
  * codebook-sized tables a caller collects — go through [[rows]],
  * which reads them on the driver with no Spark job at all.
  *
  * Every lake read in `graft.operators` and `graft.streaming` goes
  * through here (a spec scans the sources for stray reads, and for a
  * `collect()` chained onto [[parquet]]).
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

  /** `spark.read.parquet(dir).collect()` for a small flat control
    * table, read on the driver with no Spark job: the same files the
    * plain read scans (names starting `_` or `.` skipped, empty files
    * skipped, larger files first), decoded by Spark's own Parquet
    * reader under the Spark schema stored in the footer of the file
    * the plain read infers from (the first by path),
    * made nullable as the plain read makes it. The rows carry that
    * schema. A directory holding subdirectories (a partitioned
    * table), a footer without a Spark schema, and a directory with no
    * data file fall back to the plain read, so the columns and every
    * error (a `_SUCCESS`-only or missing directory) are the plain
    * read's. Every row is held on the driver: keep it to tables whose
    * size is bounded by their meaning, never by the data. */
  def rows(spark: SparkSession, dir: String): Seq[Row] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = flatDataFiles(conf, dir)
    val first = files.map(_.getPath).sortBy(_.toString).headOption
    first.flatMap(footerSchema(conf, _)) match {
      case Some(stored) =>
        val schema = SchemaShim.asNullable(stored)
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(
          spark, schema, new StructType(), schema, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          new Configuration(conf))
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        files.flatMap { f =>
          val it = read(PartitionedFile(InternalRow.empty,
            SparkPath.fromPath(f.getPath), 0L, f.getLen, Array.empty[String],
            f.getModificationTime, f.getLen))
          try it.map(r => toRow(r).asInstanceOf[Row]).toVector
          finally it match {
            case c: java.io.Closeable => c.close()
            case _ => ()
          }
        }
      case None => spark.read.parquet(dir).collect().toSeq
    }
  }

  /** The files the plain read of a FLAT directory scans, largest
    * first (Spark's split order): visible (no `_`/`.` prefix) and
    * non-empty. A single file is itself; a missing path, or a
    * directory with a visible subdirectory, yields none. */
  private def flatDataFiles(conf: Configuration,
      dir: String): Seq[FileStatus] = {
    val path = new Path(dir)
    Try {
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      if (!st.isDirectory) Seq(st)
      else {
        val (dirs, files) = fs.listStatus(path).toSeq.filter(visible)
          .partition(_.isDirectory)
        if (dirs.nonEmpty) Seq.empty
        else files.filter(_.getLen > 0)
          .sortBy(f => (-f.getLen, f.getPath.getName))
      }
    }.getOrElse(Seq.empty)
  }

  private def visible(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** The first data file under `paths`, in path order, depth-first
    * with each directory's files before its subdirectories. Names
    * starting with `_` or `.` are skipped below the given paths, as
    * Spark's file index skips them (`_SUCCESS`, `_temporary`, `.crc`,
    * `_live_v<k>` pointers). A path that is missing, a glob, or that
    * vanishes mid-listing yields no file. */
  private def firstDataFile(conf: Configuration,
      paths: Seq[String]): Option[Path] = {
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
