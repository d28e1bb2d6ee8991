package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketedSpec extends SparkSpec {

  test("bucketed+sorted tables join with no Exchange on either side") {
    val orders = df("ok BIGINT, status STRING",
      (1L to 500L).map(i => Row(i, if (i % 2 == 0) "F" else "O")))
    val items = df("ok BIGINT, qty INT",
      (1L to 2000L).map(i => Row(i % 500 + 1, i.toInt)))

    Bucketed.write(orders, "b_orders", Seq("ok"), 4)
    Bucketed.write(items, "b_items", Seq("ok"), 4)

    // hint forces sort-merge (the planner would broadcast these tiny test
    // tables); at fact scale sort-merge is what the planner picks anyway
    val joined = Bucketed.read(spark, "b_orders").hint("merge")
      .join(Bucketed.read(spark, "b_items"), Seq("ok"))
    val plan = joined.queryExecution.executedPlan.toString

    plan should include("SortMergeJoin")
    plan should not include "Exchange"
    joined.count() shouldBe 2000
  }

  test("aggregation on the bucket key needs no shuffle") {
    val agg = Bucketed.read(spark, "b_items").groupBy("ok").agg(sum("qty"))
    val plan = agg.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    agg.count() shouldBe 500
  }

  test("writeIfAbsent skips the rebuild when the table already exists") {
    Bucketed.drop(spark, "b_once") // files outlive the JVM: start clean
    val d1 = df("k BIGINT, v INT", (1L to 10L).map(i => Row(i, i.toInt)))
    Bucketed.writeIfAbsent(d1, "b_once", Seq("k"), 2) // builds
    val d2 = df("k BIGINT, v INT", Seq(Row(99L, 99)))
    Bucketed.writeIfAbsent(d2, "b_once", Seq("k"), 2) // must be a no-op
    Bucketed.read(spark, "b_once").count() shouldBe 10
    Bucketed.write(d2, "b_once", Seq("k"), 2) // plain write still rebuilds
    Bucketed.read(spark, "b_once").count() shouldBe 1
  }
}
