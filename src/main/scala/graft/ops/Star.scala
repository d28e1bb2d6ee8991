package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Star-schema build — dims, fact, bridges (`aact_gold_layer.sql:25-252`)
  * re-expressed over the testdata tables (orders=trials, customer=sponsors,
  * part=conditions, lineitem=the M:N trial↔condition bridge source).
  *
  * Shapes preserved from the reference:
  *  - dims: `SELECT DISTINCT` + ROW_NUMBER surrogate key (A6+W1, `:63-80`);
  *  - fact: multi-way LEFT join to dims with `COALESCE(key, 0)` null-key
  *    defaulting so downstream star joins stay inner-joinable (J3,
  *    `:182-204`);
  *  - bridges: entity rows INNER joined to the keyed dim (J4, `:215-252`);
  *  - S8: PKs become one post-build uniqueness assertion ([[assertUnique]]).
  *
  * Scale notes: dims are small after distinct → broadcast into the fact
  * build; the fact scan itself is never shuffled (all probe-side).
  */
object Star {

  /** Distinct-attribute dimension with a dense surrogate key
    * (aact_gold_layer.sql:63-80 dim_sponsors shape). */
  def dim(src: DataFrame, attrCol: String, keyCol: String): DataFrame =
    SurrogateKeys.rowNumberKey(
      src.select(col(attrCol)).distinct(), keyCol, Seq(attrCol))

  /** Fact build: orders left-joined to the segment dim (through customer)
    * and the date dim, null keys defaulted to 0 (aact_gold_layer.sql:182-204). */
  def factOrders(orders: DataFrame, customer: DataFrame,
                 dimSegment: DataFrame, dimDate: DataFrame): DataFrame =
    orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(dimSegment), Seq("c_mktsegment"), "left")
      .join(broadcast(dimDate.select(col("date_key"), col("full_date"))),
        col("o_orderdate").cast("date") === col("full_date"), "left")
      .select(
        col("o_orderkey"),
        coalesce(col("segment_key"), lit(0)).as("segment_key"),
        coalesce(col("date_key"), lit(0)).as("order_date_key"),
        col("o_totalprice").as("total_price"),
        col("o_orderstatus").as("order_status"))

  /** Bridge build: M:N order↔brand resolution through lineitem + the keyed
    * brand dim (aact_gold_layer.sql:215-222 shape). */
  def bridgeOrderBrand(lineitem: DataFrame, part: DataFrame,
                       dimBrand: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(dimBrand), Seq("p_brand"))
      .select(col("l_orderkey").as("o_orderkey"), col("brand_key"))
      .distinct()

  /** A built table and its primary key: one or two integral columns. */
  final case class Keyed(name: String, df: DataFrame, key: Seq[String])

  /** S8 — the reference's `ALTER TABLE ... ADD PRIMARY KEY`
    * (aact_gold_layer.sql:45-46 etc.) as a post-build assertion: Spark
    * doesn't enforce constraints, so verify instead of declare. Every
    * table is checked in ONE query: a union of exact key values tagged
    * by table — (name, first key as BIGINT, second key as BIGINT or
    * null) — grouped, any group above 1 a violation. The cast is exact
    * for every integral key, so equal keys of different tables never
    * meet (the tag splits them) and distinct keys of one table never
    * collide (no hashing). Nulls group as in a `GROUP BY`: two rows with
    * the same null key are a duplicate. Throws
    * `S8 uniqueness violated on <table>(<key>)`, naming the first
    * violated table in `tables` order. */
  def assertUnique(tables: Keyed*): Unit = {
    val tagged = tables.map { case Keyed(name, df, key) =>
      require(key.size == 1 || key.size == 2, s"S8 key of $name must be 1 or 2 columns")
      val keys = key.map { k =>
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(df.schema(k).dataType),
          s"S8 key $name.$k must be integral, not ${df.schema(k).dataType.sql}")
        col(k).cast("bigint")
      }
      df.select(lit(name).as("_table"), keys.head.as("_k1"),
        keys.lift(1).getOrElse(lit(null).cast("bigint")).as("_k2"))
    }.reduce(_ union _)
    val violated = tagged.groupBy(col("_table"), col("_k1"), col("_k2"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(col("_table")).distinct().collect().map(_.getString(0)).toSet
    tables.find(t => violated(t.name)).foreach { t =>
      throw new IllegalArgumentException(
        s"S8 uniqueness violated on ${t.name}(${t.key.mkString(",")})")
    }
  }
}
