package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet source layer over the driver's test tables.
  *
  * Each table is read with the schema Spark's own inference would pick,
  * taken from the file's footer on the driver ([[Parquet.read]]), so a
  * read starts no schema-inference job. A given schema keeps Catalyst's
  * parquet pushdown (PushedFilters / ReadSchema pruning) fully
  * available — every operator projects/filters before wide transforms
  * so the scan itself stays narrow at 100 TB.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The events table carries TIMESTAMP(NANOS) parquet timestamps,
    * which Spark does not read natively — read them as raw nanos
    * (legacy conf) and convert to µs-precision TimestampType with
    * exact integer division (the generator emits µs-aligned values).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, dir, "events"))
  }

  /** Shared ts normalization for batch AND streaming reads of the
    * events table. The driver's generator has emitted three parquet
    * encodings across rounds, all µs-aligned UTC instants:
    *   - TIMESTAMP(NANOS) read as raw Long (legacy nanosAsLong conf)
    *     → integer-exact div to µs TimestampType;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) read as
    *     TIMESTAMP_NTZ → cast to TimestampType (exact under the UTC
    *     session TZ every entrypoint sets);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true) read as TimestampType
    *     → passes through untouched.
    * Downstream consumers can then rely on unix_micros/unix_millis. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
