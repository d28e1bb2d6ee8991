package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Tables, Tier}
import graft.ops.{DateDim, Star}
import graft.ops.Star.Keyed

/** Gold layer — star schema + scoring (`aact_gold_layer.sql`): dims with
  * surrogate keys, the fact with 0-defaulted dim keys, the M:N bridge, and
  * the S8 uniqueness assertion over every keyed table (the reference's
  * post-hoc ADD PRIMARY KEY, `aact_gold_layer.sql:45-46` etc.).
  *
  * [[run]] writes in two concurrent [[Layer.wave]]s: the three dims, then
  * the fact and the bridge. Each keyed table is read back with the schema
  * it was written with (no inference job), and the fact and bridge join
  * the dims' read-backs, as the reference joins its gold dims
  * (`aact_gold_layer.sql:182-222`). After the last wave ONE query checks
  * S8 over all five read-backs ([[Star.assertUnique]]). On a duplicate
  * the run deletes `gold/` and fails: a fact or bridge joined against a
  * duplicated dim is corrupt, so no gold table is left behind. Silver is
  * read through [[Tables.read]], each table once.
  *
  * Tiered by [[Tier]]: when the four silver tables fit `oneTaskBytes`,
  * the silver reads, the dim read-backs and the date slices are
  * coalesced to one partition, so every aggregate, window and the S8
  * check plan with no Exchange (broadcast joins stay) and each job runs
  * one task. At sf0.01 the build runs 12 jobs: one per dim write
  * (two for the date dim's slices), the fact's and the bridge's writes
  * with their broadcasts, and the S8 check. `0L` forces the distributed
  * plan; PipelineSpec pins the two tiers equal.
  */
object Gold {

  def run(spark: SparkSession, outDir: String,
          oneTaskBytes: Long = Tier.OneTaskBytes): Unit = {
    val w = (n: String) => s"$outDir/gold/$n"
    val silver = Seq("orders", "customer", "part", "lineitem")
      .map(n => Tables.read(spark, s"$outDir/silver/$n"))
    val oneTask = Tier.fits(oneTaskBytes, silver: _*)
    val narrow = (df: DataFrame) => if (oneTask) df.coalesce(1) else df
    val Seq(silverOrders, customer, part, lineitem) = silver.map(narrow)

    /** Table `name` as it landed, with its S8 key. */
    def landed(name: String, schema: StructType, key: String*): Keyed =
      Keyed(name, narrow(spark.read.schema(schema).parquet(w(name))), key)
    def keyed(df: DataFrame, name: String, key: String*): Keyed = {
      df.write.mode(SaveMode.Overwrite).parquet(w(name))
      landed(name, df.schema, key: _*)
    }

    val dims = Layer.wave(
      () => keyed(Star.dim(customer, "c_mktsegment", "segment_key"),
        "dim_segment", "segment_key"),
      () => keyed(Star.dim(part, "p_brand", "brand_key"), "dim_brand", "brand_key"),
      // dim_dates lands in two slices — CTAS then INSERT-SELECT (S6), exactly
      // the reference's build: CREATE TABLE + INSERT INTO gold.dim_dates
      // SELECT ... generate_series (aact_gold_layer.sql:92-125). The S8
      // assertion then guards the append against overlap.
      () => {
        val first = narrow(DateDim.dateDim(spark, "1995-01-01", "1996-12-31"))
        first.write.mode(SaveMode.Overwrite).parquet(w("dim_dates"))
        narrow(DateDim.dateDim(spark, "1997-01-01", "1998-12-31"))
          .write.mode(SaveMode.Append).parquet(w("dim_dates"))
        landed("dim_dates", first.schema, "date_key")
      })
    val Seq(dimSegment, dimBrand, dimDate) = dims.map(_.df)

    // Fact keeps silver column names the fact builder expects.
    val orders = silverOrders
      .withColumnRenamed("order_date", "o_orderdate")
      .withColumnRenamed("status_desc", "o_orderstatus")
    val facts = Layer.wave(
      () => keyed(Star.factOrders(orders, customer, dimSegment, dimDate),
        "fact_orders", "o_orderkey"),
      () => keyed(Star.bridgeOrderBrand(lineitem, part, dimBrand),
        "bridge_order_brand", "o_orderkey", "brand_key"))
    try Star.assertUnique(dims ++ facts: _*)
    catch { case e: IllegalArgumentException =>
      val gold = new Path(s"$outDir/gold")
      gold.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(gold, true)
      throw e
    }
  }
}
