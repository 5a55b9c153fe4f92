package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{GraphQueries, OlapQueries}

/** The persisted co-purchase graph index: incremental build content
  * (additive base/delta partial counts ≡ a one-shot census after the
  * serve-side re-sum), serve-side file discipline (lineitem absent
  * from both serve plans), and exact agreement between each indexed
  * serve twin and its scan-side twin. */
class GraphIndexSpec extends SparkSpec {

  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))

  test("incrementally-built pair census re-sums to a one-shot " +
      "recompute from lineitem, and item freq likewise") {
    val paths = IndexStore.ensureGraphEdges(spark, sfDir)
    val persisted = spark.read.parquet(paths.pairs)
      .groupBy("u", "v").agg(sum("pair_n").cast("long").as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val items = graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val fresh = items.as("a")
      .join(items.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(persisted == fresh,
      s"pair census diverges: ${persisted.size} vs ${fresh.size} keys")
    val freqPersisted = spark.read.parquet(paths.freq)
      .groupBy("p").agg(sum("item_n").cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val freqFresh = items.groupBy("p").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(freqPersisted == freqFresh, "item freq diverges")
    // the delta split actually contributed rows (the test would pass
    // vacuously if the base covered everything)
    val deltaOrders = graft.core.Tables.lineitem(spark, sfDir)
      .filter(IndexStore.isDelta(col("l_orderkey")))
      .count()
    assert(deltaOrders > 0, "corpus has no delta-split orders")
  }

  test("indexed serves read only the persisted index tables, never " +
      "lineitem") {
    // both serve plans are checked whole; since r18 the g6 serve
    // reads only the adjacency serving view + stats page (never
    // graph_pairs — the orientation build moved into the index)
    val g6Files = scannedFiles(
      GraphQueries.g6TrianglesIndexed(spark, sfDir))
    assert(g6Files.nonEmpty)
    g6Files.foreach { f =>
      assert(f.contains("graph_adj") || f.contains("graph_stats"),
        s"g6 serve reads a non-serving-view file: $f")
    }
    val x27Files = scannedFiles(
      OlapQueries.x27CopurchaseIndexed(spark, sfDir))
    assert(x27Files.nonEmpty)
    x27Files.foreach { f =>
      assert(f.contains("graph_pairs") || f.contains("graph_freq"),
        s"x27 serve reads a non-index file: $f")
      assert(!f.contains("lineitem.parquet"),
        s"indexed serve touches the base lineitem table: $f")
    }
  }

  test("persisted adjacency serving view matches a fresh orientation " +
      "of the merged pair census") {
    val paths = IndexStore.ensureGraphEdges(spark, sfDir)
    def rows(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val persisted = rows(spark.read.parquet(paths.adj))
    val fresh = rows(GraphQueries.orientedAdjacency(
      spark.read.parquet(paths.pairs).select("u", "v").distinct()))
    assert(persisted == fresh,
      s"adjacency view diverges: ${persisted.size} vs ${fresh.size} nodes")
    val st = spark.read.parquet(paths.stats).head()
    assert(st.getLong(0) == fresh.keySet
      .union(fresh.values.flatten.toSet).size.toLong,
      "stats n_nodes diverges from the adjacency node universe")
    assert(st.getLong(1) == fresh.values.map(_.size.toLong).sum,
      "stats n_edges diverges from the adjacency edge total")
  }

  test("g6 indexed serve equals the scan twin") {
    val idx = GraphQueries.g6TrianglesIndexed(spark, sfDir).head()
    val scan = GraphQueries.g6Triangles(spark, sfDir).head()
    assert(idx == scan, s"g6 twins diverge: $idx vs $scan")
  }

  test("x27 indexed serve is row-identical to the scan twin") {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    val idx = rows(OlapQueries.x27CopurchaseIndexed(spark, sfDir))
    val scan = rows(OlapQueries.x27Copurchase(spark, sfDir))
    assert(idx == scan,
      s"x27 twins diverge: ${idx.size} vs ${scan.size} rows")
  }
}
