package graft

import org.apache.spark.sql.functions._

/** Dev harness for [[IoEvidence]]: prints per-component task-metric
  * sums for the incremental family so a ratio regression is
  * attributable to a specific stage (the BenchOne of the IO
  * side-channel). `runMain graft.IoProbe [sfDir]`. */
object IoProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build(GraftSession.cpus)
    Queries.q148IncrementalMinhash(spark, dir)
      .write.format("noop").mode("overwrite").save()
    Queries.q153IncrementalClusters(spark, dir)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    def m(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      println(s"PROBE $name ${IoEvidence.measure(spark, df)}")
    val newSnap = Queries.q145NewSnap(spark, dir)
    m("q148_full_index") { Queries.q148FullIndex(spark, dir) }
    m("q148_maintained_index") { Queries.q148MaintainedIndex(spark, dir) }
    m("q148_hash_pass") { newSnap.select(col("doc_id"),
      ops.TextStats.contentHash(col("text")).as("content_hash")) }
    m("q153_incremental") { Queries.q153IncrementalClusters(spark, dir) }
    m("q153_full") { Queries.q153FullRecompute(spark, dir) }
    spark.stop()
  }
}
