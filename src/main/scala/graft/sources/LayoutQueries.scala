package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** Storage-layout operators promoted into the registry (VERDICT r4/r5
  * task: "layout-pruned aggregate with a plan assert"): a
  * partition-pruned aggregate and a manifest-skipped ranged aggregate.
  * Both materialize a laid-out copy of the source as a `layout_*`
  * table under the dataset's [[IndexStore.indexRoot]] (process-unique,
  * reaped with the rest of the process root) and then run the query
  * THROUGH the layout, so Verify/Bench exercise the pruning path
  * itself; the oracle is plain SQL over the original table — layout
  * must be semantics-preserving.
  *
  * At 100 TB these layouts are written once by the ingest job and
  * amortized over every query; re-writing per call here is the test
  * harness shape, not the deployment shape.
  */
object LayoutQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Path of the layout copy `name` of `dir`'s data. */
  private[graft] def layoutPath(dir: String, name: String): String =
    IndexStore.indexRoot(dir).resolve(s"layout_$name").toString

  /** One write per layout path and application
    * ([[graft.core.Derived.Memo]], keyed by the path, which names the
    * dataset): ingest writes the layout once and every query amortizes
    * it — re-writing per call would make the bench measure the writer,
    * not the pruned read these operators exist to demonstrate. Not
    * IndexStore's build registry: a layout copy is not index content,
    * and a registry build bumps the index version that keys
    * [[graft.operators.PipelineQueries.probeCtx]]. */
  private val written = Derived.Memo[Unit]("layout_written")

  private def writeOnce(s: SparkSession, path: String)(w: => Unit): Unit =
    written(s, path)(w)

  /** Aggregate over a hive-partitioned copy: documents partitioned by
    * lang, filtered to one partition. The scan must show
    * PartitionFilters (LayoutSpec plan-asserts this) — at 100 TB the
    * filter never lists, let alone reads, the other languages'
    * directories. */
  def l4PartitionPruned(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "documents_by_lang")
    writeOnce(s, path)(Tables.documents(s, dir)
      .write.partitionBy("lang").mode("overwrite").parquet(path))
    s.read.parquet(path)
      .filter(col("lang") === "en")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  /** Ranged aggregate through the min/max file manifest: orders
    * range-clustered on o_orderkey, manifest built once, then a
    * key-range query that scans ONLY intersecting files
    * ([[DataSkipping.prunedRead]]). LayoutSpec asserts the candidate
    * file list is a strict subset. */
  def l5ManifestSkip(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "orders_clustered")
    writeOnce(s, path)(Tables.orders(s, dir)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(path))
    val manifest = DataSkipping.buildManifest(s, path, "o_orderkey")
    DataSkipping.prunedRead(s, manifest, "o_orderkey", 1000L, 5000L)
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  /** Compaction target: rows per output file. Small for the test SF
    * so the bound actually splits files; at 100 TB this is the
    * 128 MB-file-size knob of the ingest compactor. */
  val CompactionTargetRows = 200L

  /** Small-files compaction — THE ingest-side layout problem at
    * 100 TB (a fragmented table pays per-file open/footer costs and
    * floods the driver's file index; compaction bounds both). The
    * operator materializes a deliberately fragmented copy (64 tiny
    * files), compacts it by clustering each source into one task
    * (`repartition(col)` — each key in exactly one partition) with
    * `maxRecordsPerFile` bounding output size, and returns per
    * source the ROW count read back through the compacted layout
    * and the REAL file count from the filesystem. Because each
    * source is written by a single task, the file count must equal
    * ceil(n_rows / target) exactly — which is what the arithmetic
    * oracle asserts: any compactor bug (rows lost in the rewrite,
    * bound not honored, source split across tasks) breaks the hash
    * compare. FS listing is driver-side layout METADATA, same
    * contract as the DataSkipping manifest. */
  def l9Compaction(s: SparkSession, dir: String): DataFrame = {
    val fragPath = layoutPath(dir, "documents_fragmented")
    val compPath = layoutPath(dir, "documents_compacted")
    writeOnce(s, compPath) {
      Tables.documents(s, dir).repartition(64)
        .write.mode("overwrite").parquet(fragPath)
      s.read.parquet(fragPath)
        .repartition(col("source"))
        .write.partitionBy("source")
        .option("maxRecordsPerFile", CompactionTargetRows)
        .mode("overwrite").parquet(compPath)
    }
    // resolve the filesystem OF compPath, not the default FS — the
    // audit must keep working if the root points at s3a/hdfs (ADVICE r11)
    val compHadoopPath = new org.apache.hadoop.fs.Path(compPath)
    val fs = compHadoopPath
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val fileCounts = fs
      .listStatus(compHadoopPath)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map { st =>
        val source = st.getPath.getName.split("=", 2)(1)
        val n = fs.listStatus(st.getPath)
          .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
        (source, n.toLong)
      }.toSeq
    import s.implicits._
    val filesDf = fileCounts.toDF("source", "n_files")
    s.read.parquet(compPath)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"))
      .join(broadcast(filesDf), "source")
      .select(col("source"), col("n_rows"), col("n_files"))
  }

  /** Morton/Z-order bit interleave of two `bits`-bit non-negative
    * keys — a pure chain of shift/and/add column expressions, fully
    * codegen'd (no UDF). Bit 2i of the result is bit i of `a`, bit
    * 2i+1 is bit i of `b`. */
  private[sources] def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-order (space-filling-curve) clustering — the multi-column
    * data-skipping layout (Delta/Iceberg `ZORDER BY`): range-
    * clustering on ONE key makes only that key's ranges prunable; a
    * 100 TB table queried by range on a SECONDARY column re-scans
    * every file. Interleaving the bits of both keys (each first
    * normalized to a fixed 10-bit domain via driver-side bounds —
    * index metadata, the x20/IVF contract) gives every file a tight
    * min/max box in BOTH dimensions, so the same min/max manifest
    * prunes on either column.
    *
    * The registered query range-queries the SECONDARY column
    * (o_custkey) through the z-clustered copy's manifest — the exact
    * access pattern single-key clustering cannot serve (LayoutSpec
    * measures the pruning difference against l5's orderkey-clustered
    * layout). Oracle is the plain range aggregate: layout must be
    * semantics-preserving. */
  def l10Zorder(s: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(dir, "orders_zorder")
    writeOnce(s, path) {
      val b = Tables.orders(s, dir).agg(
        min(col("o_orderkey")).cast("long"),
        max(col("o_orderkey")).cast("long"),
        min(col("o_custkey")).cast("long"),
        max(col("o_custkey")).cast("long")).head()
      val (loK, hiK, loC, hiC) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val n = 1024L // 10-bit normalized domain per dimension
      val za = (col("o_orderkey") - loK) * n / (hiK - loK + 1)
      val zc = (col("o_custkey") - loC) * n / (hiC - loC + 1)
      Tables.orders(s, dir)
        .withColumn("__z", zValue(za, zc, 10))
        .repartitionByRange(16, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    }
    val manifest = DataSkipping.buildManifest(s, path, "o_custkey")
    DataSkipping.prunedRead(s, manifest, "o_custkey", 100L, 300L)
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("price_cents"))
  }

  val queries: Map[String, Q] = Map(
    "l4_partition_pruned" -> (l4PartitionPruned _),
    "l5_manifest_skip" -> (l5ManifestSkip _),
    "l9_compaction" -> (l9Compaction _),
    "l10_zorder" -> (l10Zorder _)
  )

  val oracle: Map[String, String] = Map(
    // Layout is semantics-preserving: the oracle runs on the ORIGINAL
    // table with a plain filter.
    "l4_partition_pruned" ->
      """SELECT lang,
        | count(*) AS n_docs,
        | CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang = 'en'
        |GROUP BY lang""".stripMargin,
    "l5_manifest_skip" ->
      """SELECT count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   AS price_cents
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000""".stripMargin,
    // the engine counts REAL part-files on disk; the oracle states
    // what a correct single-task-per-source compactor must produce
    "l9_compaction" ->
      s"""SELECT source, count(*) AS n_rows,
         | CAST(ceil(count(*) / ${CompactionTargetRows}.0) AS BIGINT)
         |   AS n_files
         |FROM documents GROUP BY source""".stripMargin,
    "l10_zorder" ->
      """SELECT count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   AS price_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300""".stripMargin
  )
}
