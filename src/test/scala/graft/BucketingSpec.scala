package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.operators.Bucketing

/** Bucketed co-located join: zero exchanges in the join, bucket pruning on
  * key-literal filters, rows identical to a plain join. */
class BucketingSpec extends SparkTestBase {

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  private def exchanges(p: SparkPlan): Seq[SparkPlan] = {
    val root = finalPlan(p)
    root.collectWithSubqueries { case e: Exchange => e }
  }

  /** Runs `body` with sf0.001 orders/customer registered as the 4-bucket
    * tables `spec_orders_b`/`spec_customer_b` in a temp directory; the
    * tables are dropped and the directory deleted afterwards. */
  private def withBucketedTables[T](body: (DataFrame, DataFrame) => T): T =
    withTempDir("graft_bucket_spec") { tmp =>
      val orders = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
      val customer = spark.read.parquet(s"${sf("sf0.001")}/customer.parquet")
      Bucketing.ensureBucketed(spark, orders, "spec_orders_b", "o_custkey", 4, s"$tmp/o")
      Bucketing.ensureBucketed(spark, customer, "spec_customer_b", "c_custkey", 4, s"$tmp/c")
      try body(orders, customer)
      finally Seq("spec_orders_b", "spec_customer_b").foreach(t => spark.sql(s"DROP TABLE $t"))
    }

  test("bucketed join plans with zero exchanges and matches the plain join") {
    import spark.implicits._
    withBucketedTables { (orders, customer) =>
      val joined = Bucketing.bucketedJoin(spark, "spec_orders_b", "o_custkey",
        "spec_customer_b", "c_custkey")
        .select(col("o_orderkey"), col("c_custkey"))
      val got = joined.as[(Long, Long)].collect().sorted
      val want = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey")).as[(Long, Long)].collect().sorted
      assert(got.sameElements(want))

      // the whole point: after execution the final plan has NO exchange —
      // neither shuffle nor broadcast — on either join child
      val ex = exchanges(joined.queryExecution.executedPlan)
      assert(ex.isEmpty, s"expected a shuffle-free co-located join, found:\n${ex.mkString("\n")}")
    }
  }

  test("key-literal filter prunes to a single bucket") {
    // autoBucketedScan turns bucketed reads off when no exchange is
    // avoided — a filter-only query avoids IO, not an exchange, so pin it
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try withBucketedTables { (_, _) =>
      val one = spark.table("spec_orders_b").where(col("o_custkey") === 7L)
      one.collect()
      val scanStr = finalPlan(one.queryExecution.executedPlan).toString
      assert(scanStr.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket pruning missing from plan:\n$scanStr")
    } finally spark.conf.set(key, prev)
  }

  test("re-registration is metadata-only: files written once") {
    import spark.implicits._
    withTempDir("graft_bucket_once") { tmp =>
      val df = (0L until 100L).map(i => (i, i % 10)).toDF("id", "k")
      Bucketing.ensureBucketed(spark, df, "spec_once_b", "k", 2, s"$tmp/t")
      val mtimes = new java.io.File(s"$tmp/t").listFiles().map(f => f.getName -> f.lastModified).toMap
      // second call with a DIFFERENT frame must be a no-op (table exists)
      Bucketing.ensureBucketed(spark, df.limit(1), "spec_once_b", "k", 2, s"$tmp/t")
      val after = new java.io.File(s"$tmp/t").listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(mtimes == after)
      assert(spark.table("spec_once_b").count() == 100)
    }
  }

  test("asking for a different layout under an existing name fails loudly") {
    import spark.implicits._
    withTempDir("graft_bucket_guard") { tmp =>
      val df = (0L until 10L).map(i => (i, i % 3)).toDF("id", "k")
      Bucketing.ensureBucketed(spark, df, "spec_guard_b", "k", 2, s"$tmp/t")
      val e1 = intercept[IllegalArgumentException] {
        Bucketing.ensureBucketed(spark, df, "spec_guard_b", "id", 2, s"$tmp/t")
      }
      assert(e1.getMessage.contains("bucket spec"))
      val e2 = intercept[IllegalArgumentException] {
        Bucketing.ensureBucketed(spark, df, "spec_guard_b", "k", 4, s"$tmp/t")
      }
      assert(e2.getMessage.contains("bucket spec"))
      val e3 = intercept[IllegalArgumentException] {
        Bucketing.ensureBucketed(spark, df, "spec_guard_b", "k", 2, s"$tmp/elsewhere")
      }
      assert(e3.getMessage.contains("exists at"))
    }
  }
}
