package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All reads go through
  * `spark.read.parquet` so Catalyst gets predicate pushdown + column pruning
  * on every query built on top of these, with the schema from
  * [[Staging.schema]]: inferred at a table's first read in a session and
  * re-inferred only when the table's [[Staging.identity]] changes, so a
  * later read of an unchanged fixture runs no schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Staging.schema(spark, path,
      Staging.identity(dir, name))).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** `events.ts` has shipped in two physical encodings across fixture
    * generations: parquet TIMESTAMP(NANOS), which Spark 4 only reads as a
    * long (`spark.sql.legacy.parquet.nanosAsLong`, set in every graft
    * session), and plain TIMESTAMP(MICROS), which Spark reads natively
    * (as TIMESTAMP_NTZ under the default NTZ inference). Normalize both to
    * a session-zone microsecond timestamp here — the long path truncates,
    * matching how nanos-aware engines (DuckDB) downcast, and the NTZ path
    * is value-preserving because every graft session pins UTC. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Table by name through the normalizing loaders (`events` gets its
    * microsecond `ts`); every other table is the raw parquet read. */
  def tableOf(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n => load(spark, dir, n)
    }

  /** Register all fixture tables as temp views (for `spark.sql` surfaces).
    * Goes through the normalizing loaders so `events.ts` is always a
    * timestamp regardless of the fixture's physical encoding. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => tableOf(spark, dir, n).createOrReplaceTempView(n))
}
