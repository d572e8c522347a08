package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Single place that encodes the execution profile: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * parallelism sized for the local harness (32) but meant to be overridden by
  * `spark.sql.shuffle.partitions` on a real cluster, UTC session time.
  * Every entry point (the specs, Bench, Verify, ScaleSmoke, StageProbe,
  * PlanDump) builds its session here with its own master and partition
  * count (`SessionFactorySpec` pins it).
  */
object Engine {
  def session(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // graft_dot / graft_simhash available on the SQL tier out of the box
    GraftExtensions.register(spark)
    spark
  }

  /** Run `body` under a UI/trace job description (guide §1.5): operators
    * that chain several Spark actions (the foreachBatch commits, the
    * priced pair pipeline) label each phase, so a job-grain trace
    * (StageProbe `opjobs`, the perfbench tracer) can say which phase a
    * job belongs to. Thread-local, so it holds only for actions `body`
    * itself triggers; the description in force before is restored. */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prior)
  }
}
