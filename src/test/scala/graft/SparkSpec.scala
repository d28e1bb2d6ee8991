package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared one-per-JVM SparkSession fixture for all suites. */
object SparkSpec {
  /** `<checkout>/target/spark-warehouse` of the checkout whose test
    * classes are running (they load from `target/scala-2.13/test-classes`
    * under it), so two checkouts testing at once never share the
    * bucketed tables that outlive a run. */
  val warehouseDir: String = {
    val classes = new java.io.File(
      classOf[SparkSpec].getProtectionDomain.getCodeSource.getLocation.toURI)
    new java.io.File(classes.getParentFile.getParentFile, "spark-warehouse").getAbsolutePath
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  def df(schema: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType.fromDDL(schema))

  /** One-column string frame (most cleaning combinators operate on one). */
  def strDf(name: String, values: Seq[String]): DataFrame =
    df(s"$name STRING", values.map(Row(_)))

  def collectCol[T](d: DataFrame, c: String = null): Seq[T] = {
    val sel = if (c == null) d else d.select(c)
    sel.collect().toSeq.map(r => r.get(0).asInstanceOf[T])
  }

  /** Spark jobs started while `body` runs, as [[Probe]] records them. */
  def jobsDuring(body: => Unit): Int = Probe.run(spark)(body)._2.jobs
}
