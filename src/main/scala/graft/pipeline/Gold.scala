package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.ops.{DateDim, Star}

/** Gold layer — star schema + scoring (`aact_gold_layer.sql`): dims with
  * surrogate keys, the fact with 0-defaulted dim keys, the M:N bridge, and
  * S8 uniqueness assertions after every keyed write (the reference's
  * post-hoc ADD PRIMARY KEY, `aact_gold_layer.sql:45-46` etc.).
  *
  * [[run]] writes in two concurrent [[Layer.wave]]s: the three dims, then
  * the fact and the bridge. Each keyed table is read back with the schema
  * it was written with (no inference job) and asserted on that read-back,
  * and the fact and bridge join the dims' read-backs, as the reference
  * joins its gold dims (`aact_gold_layer.sql:182-222`). Silver is read
  * through [[Tables.read]].
  */
object Gold {

  def run(spark: SparkSession, outDir: String): Unit = {
    val s = (n: String) => Tables.read(spark, s"$outDir/silver/$n")
    val w = (n: String) => s"$outDir/gold/$n"

    /** Table `name` as it landed, S8-asserted unique on `key`. */
    def landed(name: String, schema: StructType, key: String*): DataFrame = {
      val back = spark.read.schema(schema).parquet(w(name))
      Star.assertUnique(back, key, name)
      back
    }
    def keyed(df: DataFrame, name: String, key: String*): DataFrame = {
      df.write.mode(SaveMode.Overwrite).parquet(w(name))
      landed(name, df.schema, key: _*)
    }

    val Seq(dimSegment, dimBrand, dimDate) = Layer.wave(
      () => keyed(Star.dim(s("customer"), "c_mktsegment", "segment_key"),
        "dim_segment", "segment_key"),
      () => keyed(Star.dim(s("part"), "p_brand", "brand_key"), "dim_brand", "brand_key"),
      // dim_dates lands in two slices — CTAS then INSERT-SELECT (S6), exactly
      // the reference's build: CREATE TABLE + INSERT INTO gold.dim_dates
      // SELECT ... generate_series (aact_gold_layer.sql:92-125). The S8
      // assertion then guards the append against overlap.
      () => {
        val first = DateDim.dateDim(spark, "1995-01-01", "1996-12-31")
        first.write.mode(SaveMode.Overwrite).parquet(w("dim_dates"))
        DateDim.dateDim(spark, "1997-01-01", "1998-12-31")
          .write.mode(SaveMode.Append).parquet(w("dim_dates"))
        landed("dim_dates", first.schema, "date_key")
      })

    // Fact keeps silver column names the fact builder expects.
    val orders = s("orders")
      .withColumnRenamed("order_date", "o_orderdate")
      .withColumnRenamed("status_desc", "o_orderstatus")
    Layer.wave(
      () => keyed(Star.factOrders(orders, s("customer"), dimSegment, dimDate),
        "fact_orders", "o_orderkey"),
      () => keyed(Star.bridgeOrderBrand(s("lineitem"), s("part"), dimBrand),
        "bridge_order_brand", "o_orderkey", "brand_key"))
  }
}
