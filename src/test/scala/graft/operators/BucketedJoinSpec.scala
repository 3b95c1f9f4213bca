package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Co-located joins via table bucketing — the other half of the 100 TB
  * join story beside broadcast and salting: two tables bucketed (and
  * sorted) on the join key by the SAME bucket count join with NO
  * exchange on either side; at scale that's the difference between a
  * recurring full-fact-table shuffle and none. (A bucketed LogMirror
  * base serves point lookups; this is the catalog-table form Spark's
  * planner exploits for joins.) */
class BucketedJoinSpec extends SparkSpec {

  test("co-bucketed sorted tables sort-merge join with zero exchanges") {
    val orders = graft.core.Tables.load(spark, sf0001, "orders")
    val customer = graft.core.Tables.load(spark, sf0001, "customer")
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_bkt")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_bkt")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1000))
      // the join itself needs no exchange: bucketed scans already
      // satisfy the hash distribution (the post-join groupBy may
      // still shuffle — assert no exchange BEFORE the join keys)
      val joinIdx = p.indexOf("SortMergeJoin")
      val belowJoin = p.substring(joinIdx)
      assert(!belowJoin.contains("Exchange hashpartitioning"),
        "bucketed join sides must not re-shuffle:\n" + belowJoin.take(1200))
      // and the result equals the plain (shuffled) join
      val expect = orders.join(customer,
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val got = j.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expect)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }
}
