package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed table sink/source — the co-located-join path for 100 TB fact↔
  * fact joins (SURVEY §4: "bucketing for co-located joins").
  *
  * A table hash-bucketed AND sorted on its join keys lets Spark plan a
  * sort-merge join with NO Exchange and NO Sort on that side: the bucket
  * layout IS the shuffle, paid once at write time and amortized over every
  * subsequent join/aggregation on those keys. For a fact table joined on
  * the same key by many downstream queries this removes the dominant
  * shuffle entirely.
  *
  * Bucketed tables must go through the catalog (`saveAsTable`) — a plain
  * parquet path write silently drops the bucket spec.
  */
object Bucketed {

  /** The table's files: `<warehouse dir>/<table>`. */
  private def location(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  /** Drops the table's catalog entry AND its files. */
  def drop(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = location(spark, table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** (Re)writes the table. It is an external table at [[location]], so
    * dropping its catalog entry keeps the files. */
  def write(df: DataFrame, table: String, bucketCols: Seq[String],
            numBuckets: Int): Unit = {
    val spark = df.sparkSession
    drop(spark, table)
    // Repartition on the bucket key first so each task holds exactly one
    // bucket: the write emits numBuckets files instead of tasks×buckets
    // (a many-small-files explosion that costs at write time AND at every
    // subsequent scan's file-listing/footer-read at corpus scale).
    df.repartition(numBuckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", location(spark, table).toString)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Build-once variant: bucketed tables are amortized artifacts — built
    * once, joined by every downstream query — so repeated runs over
    * immutable inputs pay the write once. Writes only when the table's
    * location has no `_SUCCESS` ([[graft.Tables.writePathIfAbsent]]: a
    * half-written location from a killed JVM is rebuilt). The catalog is
    * in-memory, so a new JVM finds the files without an entry; then the
    * table is registered over them by DDL carrying the bucket and sort
    * spec and `df`'s schema, which launches no Spark job. The files
    * outlive the JVM: callers name the table by the build and the input
    * it reads ([[graft.Tables.tag]]); callers whose input can change
    * under the same name must use [[write]]. */
  def writeIfAbsent(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    val loc = location(spark, table)
    graft.Tables.writePathIfAbsent(spark, loc.toString)(write(df, table, bucketCols, numBuckets))
    if (!spark.catalog.tableExists(table)) {
      val cols = bucketCols.map(c => s"`$c`").mkString(", ")
      spark.sql(s"CREATE TABLE `$table` (${df.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO $numBuckets BUCKETS LOCATION '$loc'")
    }
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
