package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit,
  LocalRelation, LogicalPlan, OneRowRelation, Project, Range, Sample, Union}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl,
  Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType

/** A streaming source over a fixed sequence of batch frames, each of
  * `schema`: offset i is batch i, each trigger admits one more offset,
  * and a trigger runs its batch's own plan, so no copy of the rows is
  * staged anywhere. Batch order is offset order. After a restart the
  * checkpoint hands offsets back serialized; a `LongOffset`'s JSON is
  * its number, so both forms read back the same way. */
private[streaming] class PlanSource private (val batches: IndexedSeq[DataFrame],
    val schema: StructType) extends Source with SupportsAdmissionControl {

  private def index(o: OffsetV2): Int = o.json.toInt

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException("latestOffset(start, limit) is called instead")

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    LongOffset(Option(start).fold(0)(o => math.min(index(o) + 1, batches.length - 1)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame =
    (start.fold(0)(index(_) + 1) to index(end))
      .map(i => ColumnBridge.streamingBatch(batches(i), this)).reduce(_ union _)

  override def stop(): Unit = ()

  /** The rows of the largest batch, or an upper bound on them of at
    * most `enough`, which costs no job ([[PlanSource.rowBound]]). Where
    * no batch bound is known, or the largest is above `enough`, one job
    * counts every batch: the union's partitions are each batch's
    * partitions in turn. */
  def largestBatch(enough: Long): Long = {
    val spark = batches.head.sparkSession
    batches.map(b => PlanSource.rowBound(spark, ColumnBridge.optimized(b)))
      .reduce((x, y) => x.zip(y).map(t => t._1 max t._2)).filter(_ <= enough).getOrElse {
        val rdds = batches.map(ColumnBridge.rdd)
        val sizes = spark.sparkContext.runJob(spark.sparkContext.union(rdds), (it: Iterator[_]) => it.size.toLong)
        rdds.scanLeft(0)(_ + _.getNumPartitions).sliding(2).map(e => sizes.slice(e(0), e(1)).sum).max
      }
  }
}

private[streaming] object PlanSource {

  /** A source over `batches`, each selected onto their union schema
    * with every field nullable, as a file stream's is. A trigger re-runs
    * its batch's plan on a retry or a restart instead of reading a
    * copy, so every plan must be deterministic. */
  def apply(batches: Seq[DataFrame]): PlanSource = {
    require(batches.nonEmpty, "staged stream needs at least one batch")
    batches.zipWithIndex.foreach { case (b, i) =>
      require(ColumnBridge.analyzed(b).deterministic, s"staged batch $i is not deterministic: " +
        "a trigger re-runs its plan on a retry or restart, so it must give the same rows")
    }
    val schema = ColumnBridge.nullable(batches.reduce(_ unionByName _).schema)
    new PlanSource(batches.map(b => b.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)).toIndexedSeq, schema)
  }

  /** An upper bound on the rows of `plan` with no job: footer rows of
    * a parquet scan and the rows of a local relation, carried through
    * the operators that never add rows (an aggregate returns at least
    * one) and summed through a union. None through anything else, a
    * Generate or a Join among them. */
  def rowBound(spark: SparkSession, plan: LogicalPlan): Option[Long] = plan match {
    case l: LocalRelation => Some(l.data.length.toLong)
    case r: Range => Some(r.numElements.toLong)
    case _: OneRowRelation => Some(1L)
    case u: Union => u.children.map(rowBound(spark, _))
      .reduce((x, y) => x.zip(y).map(t => t._1 + t._2))
    case a: Aggregate => rowBound(spark, a.child).map(_ max 1L)
    case _: Project | _: Filter | _: Sample | _: LocalLimit | _: GlobalLimit =>
      rowBound(spark, plan.children.head)
    case _ => graft.sources.Parquet.scanFiles(plan).map(_.map(graft.sources.Parquet.rows(spark, _)).sum)
  }
}
