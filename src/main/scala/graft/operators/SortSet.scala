package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._
import graft.functions.Num.round

/** §2.6 sort/limit/top-k + §2.7 set operations.
  *
  * Scale notes: global top-k compiles to TakeOrderedAndProject (per-
  * partition heaps + driver merge of k rows — never a full sort). Grouped
  * top-k uses the rank-filter idiom (one shuffle, heap per group under
  * WindowGroupLimit in Spark 4). Set ops are hash-partitioned distincts;
  * UNION ALL is a zero-shuffle concatenation.
  */
object SortSet {

  val all: Seq[Q] = Seq(

    Q("q_sort_1_multi",
      """SELECT c_custkey, c_mktsegment, floor((c_acctbal) * 100 + 0.5) / 100 AS bal FROM customer
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey ASC""".stripMargin) { (s, d) =>
      Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy(col("c_mktsegment").asc_nulls_first, col("c_acctbal").desc_nulls_last, col("c_custkey").asc)
    },

    Q("q_sort_2_topk",
      """SELECT p_partkey, p_name, floor((p_retailprice) * 100 + 0.5) / 100 AS price FROM part
        |ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 20""".stripMargin) { (s, d) =>
      Tables(s, d, "part")
        .select(col("p_partkey"), col("p_name"), round(col("p_retailprice"), 2).as("price"),
          col("p_retailprice"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .limit(20)
        .drop("p_retailprice")
    },

    Q("q_sort_3_topk_group",
      """SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      graft.api.Pipelines.capPerGroup(Tables(s, d, "orders"), "o_custkey", "o_totalprice",
          "o_orderkey", 3)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_custkey", "o_orderkey")
    },

    Q("q_set_1_union",
      """SELECT o_custkey, count(*) AS n_all FROM (
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | UNION ALL
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables(s, d, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val high = o.filter(col("o_orderpriority") === "2-HIGH").select("o_custkey")
      urgent.unionByName(high)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_all"))
        .orderBy("o_custkey")
    },

    Q("q_set_2_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables(s, d, "orders")
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },

    Q("q_set_3_except",
      """SELECT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables(s, d, "orders")
      o.select("o_custkey")
        .except(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
        .orderBy("o_custkey")
    }
  )
}
