package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet footers read on the driver, so that a read or a staged
  * stream knows its rows and schema without a Spark job. A plain
  * `spark.read.parquet(path)` starts one job to infer the schema; the
  * same read with that schema given starts none. */
object Parquet {

  /** The data files Spark reads at `path`: the path itself if it is a
    * file, else every regular file below it whose name, and whose
    * directories' names, Spark does not hide (a leading `.`, or a
    * leading `_` outside a `k=v` partition directory), in path order. */
  private def dataFiles(path: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    def hidden(p: Path): Boolean = {
      val n = p.getFileName.toString
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    }
    if (!Files.isDirectory(path)) Seq(path)
    else {
      val walk = Files.walk(path)
      try walk.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && !path.relativize(p).iterator().asScala.exists(hidden)
      }.toSeq.sortBy(_.toString) finally walk.close()
    }
  }

  private def withFooter[A](spark: SparkSession, file: Path)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    try f(r) finally r.close()
  }

  /** Total rows of the data files under `path`, from their footers. */
  private[graft] def rows(spark: SparkSession, path: Path): Long =
    dataFiles(path).map(withFooter(spark, _)(_.getRecordCount)).sum

  /** The schema Spark's own inference picks for `path` (without schema
    * merging: one data file's footer), read on the driver: the schema
    * Spark wrote into the footer, else the parquet schema converted
    * under the session conf (`nanosAsLong`, `inferTimestampNTZ`, …).
    * Partition columns are not included: a read given this schema
    * discovers them from the directory names as an inferring read
    * does. None if there is no data file. */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    dataFiles(Paths.get(path)).headOption.map(f => withFooter(spark, f) { r =>
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(f.toUri), r.getFooter),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    })
  }

  /** `spark.read.parquet(path)` with the [[schema]] given, so the read
    * starts no job. A path with no data file falls back to the
    * inferring read, which fails as it always has. */
  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path).fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
}
