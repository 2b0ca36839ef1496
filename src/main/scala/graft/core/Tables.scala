package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness tables (TESTDATA.md). One parquet file per
  * table under the scale-factor directory. At cluster scale these would
  * be partitioned table roots; the API is the same either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** The events table's `ts` physical type has drifted across harness
    * generations, so normalize every variant to TimestampType here —
    * downstream operators (sessionize's unix_micros, the range join)
    * assume it:
    *  - TIMESTAMP(NANOS) parquet: Spark's TimestampType (micros)
    *    refuses it outright; read nanos as long and truncate to
    *    micros — the same truncation DuckDB's epoch_us applies, so
    *    both engines see identical instants;
    *  - timezone-less timestamp[us] parquet: Spark 4 reads it as
    *    TIMESTAMP_NTZ; cast to TimestampType, an identity instant
    *    under the pinned UTC session zone (oracle hashes unchanged);
    *  - plain TIMESTAMP: passes through untouched.
    * The nanos arm needs `spark.sql.legacy.parquet.nanosAsLong=true` in
    * the caller's session (`graft.tools.Harness.session` and the test
    * session set it); this reader leaves session conf alone. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  /** Same drift policy as [[events]] for the other two tables our
    * operators hold type assumptions about (the events NTZ outage cost
    * two rounds; these arms close the remaining instances of that
    * failure class at the reader, where drift belongs):
    *  - documents: integral id/count columns (doc_id, n_chars) are
    *    widened to LongType if a regeneration narrows them to int32 —
    *    query outputs stay BIGINT, matching every oracle;
    *  - embeddings: the embedding column must be array<float> — the
    *    native vector expressions (vec_dot's checkInputDataTypes)
    *    reject array<double> outright, exactly like unix_micros
    *    rejected NTZ. Casts are identity on the current testdata. */
  def documents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val raw = table(spark, sfDir, "documents")
    Seq("doc_id", "n_chars").foldLeft(raw) { (d, c) =>
      val narrowed = d.schema.fieldNames.contains(c) && (d.schema(c).dataType match {
        case IntegerType | ShortType | ByteType => true
        case _ => false
      })
      if (narrowed) d.withColumn(c, col(c).cast(LongType)) else d
    }
  }
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val raw = table(spark, sfDir, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case _: ArrayType =>
        raw.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case _ => raw
    }
  }
}
