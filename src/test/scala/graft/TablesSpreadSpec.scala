package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 conditional-spread contract of [[Tables.loadSpread]]
  * (r16 verdict item 2): the explicit-count repartition exists to give
  * CPU-heavy per-row stages parallelism when the scan is a single
  * split (the driver testdata shape), and must NOT fire when the
  * scan's own split count already covers the cores (the 100 TB shape,
  * where the added shuffle — multi-MB payloads included — would be an
  * anti-optimization and can even NARROW a wide scan).
  */
class TablesSpreadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("single-split scan is spread to defaultParallelism on the key") {
    val target = spark.sparkContext.defaultParallelism
    val df = Tables.loadSpread(spark, sf, "documents", "doc_id")
    assert(df.rdd.getNumPartitions == target,
      s"single-split input must spread to $target partitions")
    assert(df.queryExecution.executedPlan.toString.contains("Exchange"),
      "the spread must be an explicit Exchange below the consumer")
  }

  test("multi-split scan is NOT re-shuffled (no Exchange added)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread_probe")
      .toFile.getAbsolutePath
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      // a multi-file copy of the documents table; tiny files would
      // normally pack into one split (openCost 4 MB), so pin the
      // split params to make the scan genuinely multi-split — the
      // stand-in for a 100 TB table's thousands of natural splits.
      // A split holds at most maxPartitionBytes, so a cap of
      // total / (2 × target) yields at least 2 × target splits
      // whatever the file sizes and the core count.
      Tables.load(spark, sf, "documents")
        .repartition(8).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val written = new java.io.File(s"$dir/documents.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val target = spark.sparkContext.defaultParallelism
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        math.max(1L, written / (2L * target)).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val plain = Tables.load(spark, dir, "documents")
      val n = plain.rdd.getNumPartitions
      assert(n >= target,
        s"probe setup: expected a multi-split scan, got $n partitions")
      val spread = Tables.loadSpread(spark, dir, "documents", "doc_id")
      assert(spread.rdd.getNumPartitions == n,
        "multi-split input must keep the scan's own partitioning")
      assert(!spread.queryExecution.executedPlan.toString.contains("Exchange"),
        "multi-split input must not pay a spread Exchange")
      // and the rows are the table's rows either way
      assert(spread.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
