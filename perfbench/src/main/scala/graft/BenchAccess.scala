package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only views the benchmark's output checks need and the engine
  * keeps package-private: the committed id set of an HNSW index (its
  * live generations are resolved through the manifest, which has no
  * public reader). Nothing here is timed.
  */
object BenchAccess {
  def hnswIds(spark: SparkSession, dir: String): DataFrame =
    graft.knn.HnswIndex.readIds(spark, dir)
}
