package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression,
  IntegralDivide, Literal, MicrosToTimestamp, UnixMicros}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet footers read on the driver, so that a read or a staged
  * stream knows its rows, schema and key bounds without a Spark job. A
  * plain `spark.read.parquet(path)` starts one job to infer the
  * schema; the same read with that schema given starts none. */
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

  /** The local files `plan` scans if it is a parquet relation leaf. */
  private[graft] def scanFiles(plan: LogicalPlan): Option[Seq[Path]] = plan match {
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation match {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation
          if r.fileFormat.isInstanceOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] &&
            r.location.inputFiles.forall(_.startsWith("file:")) =>
        Some(r.location.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f))))
      case _ => None
    }
    case _ => None
  }

  /** The [min, max] of the top-level column `name` over `files`, from
    * its row-group statistics, as values of `t`, the type Spark reads
    * it as: a long, or µs for a timestamp. Some(None) if it holds no
    * non-NULL value. None if a row group carries no statistics for it,
    * or its stored type is not a signed integer (or a µs / ms
    * timestamp, for a timestamp `t`). */
  private def longBounds(spark: SparkSession, files: Seq[Path], name: String,
      t: DataType): Option[Option[(Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation,
      TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    val chunks = files.flatMap(withFooter(spark, _)(_.getFooter.getBlocks.asScala.toSeq
      .map(_.getColumns.asScala.find(_.getPath.toDotString == name))))
    val scales = chunks.map(_.flatMap { c =>
      val p = c.getPrimitiveType
      val scale = (t, p.getLogicalTypeAnnotation) match {
        case (LongType, null) => Some(1L)
        case (LongType, i: IntLogicalTypeAnnotation) if i.isSigned => Some(1L)
        case (LongType, ts: TimestampLogicalTypeAnnotation) if ts.getUnit == TimeUnit.NANOS => Some(1L)
        case (TimestampType | TimestampNTZType, ts: TimestampLogicalTypeAnnotation) =>
          Map(TimeUnit.MICROS -> 1L, TimeUnit.MILLIS -> 1000L).get(ts.getUnit)
        case _ => None
      }
      Option(c.getStatistics).filter(s => !s.isEmpty && Set(INT32, INT64)(p.getPrimitiveTypeName))
        .flatMap(s => scale.map(s -> _))
    })
    Option.when(scales.forall(_.nonEmpty))(scales.flatten.collect {
      case (s, k) if s.hasNonNullValue =>
        (s.genericGetMin.asInstanceOf[Number].longValue * k, s.genericGetMax.asInstanceOf[Number].longValue * k)
    }.reduceOption((a, b) => (a._1 min b._1, a._2 max b._2)))
  }

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

  /** `key`'s [min, max] over `ev` read off the footers, with no job:
    * Some(None) if every key is NULL. None, so the caller runs a job,
    * unless `ev` is an unfiltered parquet scan, `key` is a monotone
    * function of one stored column of it (aliases, timestamp/long
    * casts, `unix_micros`, `timestamp_micros` and integer division by
    * a positive literal) and every row group carries statistics for
    * that column. A monotone key takes its bounds at the column's. */
  private[graft] def keyBounds(ev: DataFrame, key: Column): Option[Option[(Long, Long)]] = {
    def stored(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast if Seq(c.dataType, c.child.dataType).forall(Seq(LongType, TimestampType,
        TimestampNTZType).contains) => stored(c.child)
      case _: Alias | _: UnixMicros | _: MicrosToTimestamp => stored(e.children.head)
      case d: IntegralDivide => d.right match {
        case Literal(n: Number, _) if n.longValue > 0 => stored(d.left)
        case _ => None
      }
      case _ => None
    }
    ColumnBridge.optimized(ev.select(key.as("k"))) match {
      case Project(Seq(k), scan) if k.dataType == LongType => for {
        a <- stored(k) if scan.output.contains(a)
        files <- scanFiles(scan)
        b <- longBounds(ev.sparkSession, files, a.name, a.dataType)
      } yield b.map { case (lo, hi) =>
        val at = (v: Long) => k.transform { case `a` => Literal(v, a.dataType) }.eval().asInstanceOf[Long]
        (at(lo), at(hi))
      }
      case _ => None
    }
  }
}
