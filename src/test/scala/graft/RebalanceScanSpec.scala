package graft

import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** `SparkEntry.rebalanceScan` decides from the scan's achievable
  * parallelism: row groups, capped by how many maxPartitionBytes splits
  * the bytes make. Test session: local[4], so the target is 4 tasks. */
class RebalanceScanSpec extends SparkSuite {

  private lazy val manyRowGroups: (String, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("rebalance_scan").toString
    val path = s"$dir/t.parquet"
    // one file; a tiny block size flushes a row group every ~100 rows
    spark.range(20000).selectExpr("id", "repeat(cast(id AS STRING), 4) AS s")
      .coalesce(1).write.option("parquet.block.size", "1024").parquet(path)
    val rowGroups = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI), spark.sparkContext.hadoopConfiguration))
        try r.getRowGroups.size finally r.close()
      }.sum
    assert(rowGroups >= 4, s"fixture has $rowGroups row groups")
    val bytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes >= 4 * 8192, s"fixture is $bytes bytes, too small for a 4-task target")
    (path, bytes)
  }

  private def rebalanced(path: String): Boolean =
    SparkEntry.rebalanceScan(spark, spark.read.parquet(path), path)
      .queryExecution.logical match {
        case Repartition(4, true, _) => true
        case _ => false
      }

  test("a small file of many small row groups scans as one split, so it is rebalanced") {
    val (path, _) = manyRowGroups
    val scanSplits = spark.read.parquet(path).rdd.getNumPartitions
    assert(scanSplits == 1, s"scan has $scanSplits splits")
    assert(rebalanced(path))
  }

  test("no rebalance when maxPartitionBytes already splits the row groups target-wide") {
    val (path, bytes) = manyRowGroups
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    spark.conf.set(key, (bytes / 8).toString)
    try assert(!rebalanced(path)) finally spark.conf.set(key, saved)
  }
}
