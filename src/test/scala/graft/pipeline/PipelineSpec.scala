package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SaveMode
import org.scalatest.BeforeAndAfterAll

import graft.{SparkSpec, Tables, Tier}

/** End-to-end medallion build at sf0.001 — the composed bronze→silver→gold
  * dataflow with S8 uniqueness assertions firing inside Gold.run. Built
  * once into a temp dir that every test reads. */
class PipelineSpec extends SparkSpec with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val out = Files.createTempDirectory("graft-pipeline-spec").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    Bronze.run(spark, sf, out)
    Silver.run(spark, out)
    Gold.run(spark, out) // throws if any S8 uniqueness assertion fails
  }

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(new File(out)) finally super.afterAll()

  test("bronze → silver → gold runs end-to-end with assertions green") {
    val fact = spark.read.parquet(s"$out/gold/fact_orders")
    fact.count() shouldBe spark.read.parquet(s"$out/bronze/orders").count()
    fact.columns should contain allOf ("segment_key", "order_date_key", "total_price")

    val silverOrders = spark.read.parquet(s"$out/silver/orders")
    silverOrders.columns should contain allOf ("status_desc", "order_date_type")
  }

  test("silver orders are year-partitioned and a year predicate prunes at the file index") {
    import org.apache.spark.sql.functions.col
    val pruned = spark.read.parquet(s"$out/silver/orders")
      .filter(col("order_year") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("order_year")
    pruned.count() should be > 0L
  }

  test("gold dim_dates built as CTAS + append (S6) stays gap- and overlap-free") {
    val dd = spark.read.parquet(s"$out/gold/dim_dates")
    dd.count() shouldBe (365 + 366 + 365 + 365).toLong // 1995..1998
  }

  test("Tables.read launches no Spark job and returns the written schema") {
    for (table <- Seq("bronze/orders", "silver/orders")) {
      val path = s"$out/$table"
      var schema: org.apache.spark.sql.types.StructType = null
      jobsDuring { schema = Tables.read(spark, path).schema } shouldBe 0
      schema shouldBe spark.read.parquet(path).schema
    }
    // the footer keeps the written type, not Schemas.all's `timestamp`
    Tables.read(spark, s"$out/bronze/orders").schema("o_orderdate").dataType.typeName shouldBe
      "timestamp_ntz"
    Tables.read(spark, s"$out/silver/orders").columns should contain("order_year")
  }

  private val goldTables =
    Seq("dim_segment", "dim_brand", "dim_dates", "fact_orders", "bridge_order_brand")
  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  test("Gold.run's one-task tier ≡ its distributed plan, table for table") {
    // Non-vacuous: sf0.001 silver takes the one-task tier by default.
    Tier.fits(Tier.OneTaskBytes, Seq("orders", "customer", "part", "lineitem")
      .map(n => Tables.read(spark, s"$out/silver/$n")): _*) shouldBe true
    val dist = Files.createTempDirectory("graft-pipeline-dist").toString
    try {
      Bronze.run(spark, sf, dist)
      Silver.run(spark, dist)
      Gold.run(spark, dist, oneTaskBytes = 0L)
      for (t <- goldTables) withClue(t) {
        rows(s"$dist/gold/$t") should not be empty
        rows(s"$dist/gold/$t") shouldBe rows(s"$out/gold/$t")
      }
    } finally FileUtils.deleteDirectory(new File(dist))
  }

  test("Bronze copies row groups: the same schema and rows as a Spark write") {
    val written = Files.createTempDirectory("graft-pipeline-written").toString
    try {
      val copied = Tables.names.filter(n =>
        Bronze.singleParquetFile(Tables.table(spark, sf, n)).isDefined)
      copied shouldBe Tables.names.filterNot(_ == "events")
      for (n <- copied) withClue(n) {
        Tables.table(spark, sf, n).write.parquet(s"$written/$n")
        val (copy, spark_) = (s"$out/bronze/$n", s"$written/$n")
        Tables.read(spark, copy).schema shouldBe Tables.read(spark, spark_).schema
        spark.read.parquet(copy).schema shouldBe spark.read.parquet(spark_).schema
        rows(copy) shouldBe rows(spark_)
        new File(s"$copy/_SUCCESS").exists shouldBe true
      }
    } finally FileUtils.deleteDirectory(new File(written))
  }

  test("Bronze.run launches 1 Spark job and Gold.run at most 12 at sf0.001") {
    val again = Files.createTempDirectory("graft-pipeline-jobs").toString
    try {
      jobsDuring(Bronze.run(spark, sf, again)) shouldBe 1 // the events write
      jobsDuring(Gold.run(spark, out)) should be <= 12
    } finally FileUtils.deleteDirectory(new File(again))
  }

  test("Layer.wave waits for every write, then rethrows the first failure") {
    Layer.wave(() => { Thread.sleep(100); 1 }, () => 2) shouldBe Seq(1, 2)

    val secondDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Layer.wave(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); secondDone.set(true) },
        () => throw new IllegalStateException("third"))
    }
    e.getMessage shouldBe "first"
    secondDone.get shouldBe true
  }

  test("an S8 violation in Gold's second wave fails Gold.run") {
    val dup = Files.createTempDirectory("graft-pipeline-dup").toString
    try {
      Bronze.run(spark, sf, dup)
      Silver.run(spark, dup)
      val path = s"$dup/silver/orders"
      val orders = spark.read.parquet(path)
      spark.createDataFrame(java.util.List.of(orders.head()), orders.schema)
        .write.mode(SaveMode.Append).partitionBy("order_year").parquet(path)
      val e = intercept[IllegalArgumentException](Gold.run(spark, dup))
      e.getMessage should include("S8 uniqueness violated on fact_orders(o_orderkey)")
      new File(s"$dup/gold").exists() shouldBe false
    } finally FileUtils.deleteDirectory(new File(dup))
  }
}
