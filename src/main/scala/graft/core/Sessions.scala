package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * Scale posture: AQE on (runtime re-planning, skew-join splitting,
  * dynamic coalescing of shuffle partitions), shuffle width sized for
  * the local test harness via SPARK_GRAFT_CPUS (a real cluster would
  * set spark.sql.shuffle.partitions ~ 2-3x total cores and let AQE
  * coalesce). UTC session timezone for oracle (DuckDB) parity.
  *
  * The reference pins spark.sql.shuffle.partitions=2
  * (fraud_detection_model.py:49) — laptop-scale; we keep it
  * configurable and AQE-managed instead.
  */
object Sessions {
  /** Parallelism: SPARK_GRAFT_CPUS if numeric, else all local cores. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every session the engine, its tests and its mains build: the
    * settings above plus the `file` scheme served by [[NioLocalFs]], so
    * checkpoints, state-store deltas and file sinks start no process. */
  def builder(appName: String = "graft", cores: Int = cpus)
      : SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(graft.functions.GraftFunctions.register)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no
      // native type for; read as long nanos (ordering-equivalent).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)

  def local(appName: String = "graft"): SparkSession =
    builder(appName).getOrCreate()
}
