"""The gate-query registry: every implemented operator/query from
SURVEY.md section 2 plus the training-data-pipeline extensions, one
callable per entry, ordering = the driver window rotation policy
(COVERAGE.md).  Bodies moved verbatim from __spark_entry__.py (round 13);
the entry file re-exports ``build_queries`` as ``queries``."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_watermark_spark.gallery._common import (
    EMB,
    KEY,
    KNN_K,
    RATE,
    _degrees,
    _docs,
    _events,
    _scratch,
    _t,
    _vectors,
)

__all__ = ["build_queries"]


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from vectordb_watermark_spark.functions import bits as B
    from vectordb_watermark_spark.functions import text as T
    from vectordb_watermark_spark.functions import vector as V
    from vectordb_watermark_spark.operators import attacks as A
    from vectordb_watermark_spark.operators import dedup as D
    from vectordb_watermark_spark.operators import similarity as S
    from vectordb_watermark_spark.operators.selection import select_carriers
    from vectordb_watermark_spark.operators.topk import topk_by_coarse_key
    from vectordb_watermark_spark.operators.vote import majority_vote

    # ---- watermark-engine operators (SURVEY.md §2) ----

    def vector_scan(spark, sf):  # S1 + S6 + P5
        return _vectors(spark, sf).select(
            "id",
            F.size("emb").cast("long").alias("dim"),
            (F.round(V.l2_norm(F.col("emb")), 5) + F.lit(0.0)).alias("norm"),
        )

    def point_lookup(spark, sf):  # S4 PK point lookup
        return _vectors(spark, sf).filter(F.col("id") == 42).select(
            "id", F.size("emb").cast("long").alias("dim"),
            (F.round(V.l2_norm(F.col("emb")), 5) + F.lit(0.0)).alias("norm"),
        )

    def vector_stats(spark, sf):  # A5/A8
        return V.vector_stats(_vectors(spark, sf), "emb")

    def vector_mean(spark, sf):  # A4
        # exploded to (pos, mean_val) rows: the driver's canonicalizer sorts
        # rows by every column, so oracled results must not carry array cells
        return (
            V.vector_mean(_vectors(spark, sf), "emb")
            .select(F.posexplode("mean_vec").alias("pos", "val"))
            .select(
                F.col("pos").cast("int").alias("pos"),
                (F.round(F.col("val"), 6) + F.lit(0.0)).alias("mean_val"),
            )
        )

    def knn_degrees(spark, sf):  # J1 + J2/A1
        return _degrees(spark, sf)

    def gated_degrees(spark, sf):  # knn.gated_in_degrees (attack-robust J2)
        from vectordb_watermark_spark.operators import knn as K

        df = _vectors(spark, sf)
        edges = K.knn_edges_exact(df, k=KNN_K)
        return K.gated_in_degrees(df, edges, k=KNN_K)

    def degree_histogram(spark, sf):  # A9-style tally over the graph
        return (
            _degrees(spark, sf)
            .groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_ids"))
        )

    def carrier_selection(spark, sf):  # J3 + J4 + J5 + P4
        return select_carriers(_degrees(spark, sf), key=KEY, rate=RATE)

    def topk_degree_pool(spark, sf):  # O1 + O3
        return topk_by_coarse_key(
            _degrees(spark, sf), 100, coarse_col="degree", fine_cols=["id"]
        )

    def crc4_table(spark, sf):  # P2
        return spark.range(16).select(
            F.col("id").cast("int").alias("blk"),
            B.crc4_int_col(F.col("id").cast("int")).cast("int").alias("crc"),
        )

    def majority_vote_events(spark, sf):  # A2 on a synthetic decode table
        ev = _events(spark, sf)
        decoded = ev.select(
            (F.col("user_id") % 16).cast("int").alias("blk"),
            (
                F.conv(F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 8), 16, 10)
                .cast("long") % 64
            ).cast("int").alias("payload"),
        )
        return majority_vote(decoded)

    def robust_vote_events(spark, sf):  # A2 engine upgrade: trimmed centroid
        from vectordb_watermark_spark.operators.vote import robust_vote

        ev = _events(spark, sf)
        decoded = ev.select(
            (F.col("user_id") % 16).cast("int").alias("blk"),
            (
                F.conv(F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 8), 16, 10)
                .cast("long") % 64
            ).cast("int").alias("payload"),
        )
        return robust_vote(decoded)

    def sample_keyed(spark, sf):  # O5 keyed-hash deterministic sample
        from vectordb_watermark_spark.functions.hashing import keyed_uniform

        return (
            _vectors(spark, sf)
            .filter(keyed_uniform("sample-42", "v", F.col("id")) < F.lit(0.2))
            .select("id")
        )

    def sample_stratified(spark, sf):  # O5 extension: per-stratum keyed rates
        # deterministic stratified sampling: event types are kept at
        # different rates via the same keyed-uniform hash as sample_keyed —
        # the scale-safe replacement for sampleBy's RNG (exact, re-runnable)
        from vectordb_watermark_spark.functions.hashing import keyed_uniform

        ev = _events(spark, sf)
        rate = (
            F.when(F.col("event_type") == "click", 0.5)
            .when(F.col("event_type") == "purchase", 1.0)
            .when(F.col("event_type") == "error", 0.25)
            .otherwise(0.05)
        )
        return ev.filter(
            keyed_uniform("strat-42", "s", F.col("event_id")) < rate
        ).select("event_id", "event_type")

    def group_split_docs(spark, sf):  # leakage-guarded group-level split
        # round 11: O6 extension — every row of a group (here: a crawl
        # source) lands on the SAME side of the train/val boundary, so
        # same-source near-duplicates can never straddle it (the standard
        # eval-contamination failure of row-level splits).  Keyed-hash on
        # the group value: deterministic, map-only, no group shuffle.
        from vectordb_watermark_spark.operators.quality import group_split

        return group_split(
            _docs(spark, sf), "source", val_frac=0.25, key="gs-7"
        ).select("doc_id", "split")

    def semi_join_carriers(spark, sf):  # JN1/S3: semi-join carrier fetch
        carriers = select_carriers(_degrees(spark, sf), key=KEY, rate=RATE)
        return (
            _vectors(spark, sf)
            .join(F.broadcast(carriers.select("id")), "id", "left_semi")
            .select("id", (F.round(V.l2_norm(F.col("emb")), 5) + F.lit(0.0)).alias("norm"))
        )

    def anti_join_subset(spark, sf):  # JN2: rows deleted by subset attack
        survivors = A.subset_attack(_vectors(spark, sf), keep_ratio=0.7, seed_key="attack-42")
        return (
            _vectors(spark, sf)
            .join(survivors.select("id"), "id", "left_anti")
            .select("id")
        )

    # ---- attack transforms (T1-T4) ----

    def attack_gaussian(spark, sf):
        out = A.gaussian_attack(_vectors(spark, sf), ratio=0.3, sigma=0.1, seed_key="attack-42")
        return out.select("id", (F.round(V.l2_norm(F.col("emb")), 5) + F.lit(0.0)).alias("norm"))

    def attack_subset(spark, sf):
        return A.subset_attack(_vectors(spark, sf), keep_ratio=0.7, seed_key="attack-42").select("id")

    def attack_mean_replace(spark, sf):
        out = A.mean_replace_attack(_vectors(spark, sf), ratio=0.2, seed_key="attack-42")
        return out.select("id", (F.round(V.l2_norm(F.col("emb")), 5) + F.lit(0.0)).alias("norm"))

    def attack_truncate_pad(spark, sf):
        out = A.truncate_pad_attack(_vectors(spark, sf), keep_dims=48, pad="zero")
        return out.select(
            "id",
            F.size("emb").cast("long").alias("dim"),
            (F.round(V.l2_norm(F.col("emb")), 5) + F.lit(0.0)).alias("norm"),
        )

    # ---- relational / aggregation coverage (TPC-H-ish) ----

    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.round(
                    F.sum(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                    ),
                    2,
                ).alias("sum_charge"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                # tie-hardened: 2-dp prices / discounts average through the
                # 2-dp-rounded sum so both engines divide identical doubles
                F.round(
                    F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1)), 6
                ).alias("avg_price"),
                F.round(
                    F.round(F.sum("l_discount"), 2) / F.count(F.lit(1)), 6
                ).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    def q3_shipping_priority(spark, sf):
        cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        orders = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        # r14: customers are a pure FILTER here (no cust column survives the
        # aggregate), so the BUILDING cut is a broadcast left-semi join on
        # orders BEFORE lineitem touches it — the big join then probes a
        # ~5x smaller orders relation.  A semi join also keeps the orders
        # side's size estimate honest (an inner-join subtree multiplies
        # child estimates and flipped the build side onto lineitem when
        # tried), and c_custkey is unique so semi == inner row-for-row;
        # oracle-verified hash-identical at sf0.01 and sf0.1.
        return (
            li.join(
                orders.join(
                    F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_semi"
                ),
                li.l_orderkey == orders.o_orderkey,
            )
            .groupBy("l_orderkey")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                )
            )
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10)
        )

    def q6_forecast_revenue(spark, sf):
        # pure filter+agg: predicate pushdown to the parquet scan, no shuffle
        li = _t(spark, sf, "lineitem")
        return (
            li.filter(
                (F.col("l_shipdate") >= F.lit("1996-01-01"))
                & (F.col("l_shipdate") < F.lit("1997-01-01"))
                & (F.col("l_discount") >= 0.05)
                & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24)
            )
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )

    def q4_order_priority(spark, sf):
        # EXISTS-style semi-join: orders in a window having a returned line
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-10-01"))
        )
        returned = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
        return (
            orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
        )

    def q10_returned_items(spark, sf):
        # revenue lost to returns per customer: 3-way join + top-20
        li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-07-01"))
        )
        cust = _t(spark, sf, "customer")
        nat = _t(spark, sf, "nation")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                ),
                F.round(F.first("c_acctbal"), 2).alias("c_acctbal"),
            )
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20)
        )

    def q12_priority_lines(spark, sf):
        # conditional aggregation (CASE inside SUM) over a fact-fact join
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        orders = _t(spark, sf, "orders")
        high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .agg(
                F.sum(F.when(high, 1).otherwise(0)).alias("high_lines"),
                F.sum(F.when(high, 0).otherwise(1)).alias("low_lines"),
            )
        )

    def q14_promo_revenue(spark, sf):
        # scalar ratio: broadcast dim join + two conditional sums, one row
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01"))
            & (F.col("l_shipdate") < F.lit("1997-10-01"))
        )
        part = _t(spark, sf, "part")
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (
            li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg(
                F.round(
                    F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)) * 100.0
                    / F.sum(disc),
                    6,
                ).alias("promo_pct"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )

    def q18_large_orders(spark, sf):
        # HAVING over a grouped fact, joined back to dims (TPC-H q18 shape)
        li = _t(spark, sf, "lineitem")
        big = (
            li.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("sum_qty"))
            .filter(F.col("sum_qty") > 180)
        )
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        return (
            big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select(
                "c_custkey",
                "l_orderkey",
                F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.round("sum_qty", 2).alias("sum_qty"),
            )
        )

    def q19_disjunctive(spark, sf):
        # disjunction of conjunctive ranges (TPC-H q19): Catalyst pushes the
        # common l_quantity bounds and prunes part columns at the scan
        li = _t(spark, sf, "lineitem")
        part = _t(spark, sf, "part")
        j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        c1 = (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        c2 = (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        c3 = (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 30)
        )
        return j.filter(c1 | c2 | c3).agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )

    def q7_nation_volume(spark, sf):
        # TPC-H q7 shape: shipping volume between two nations, per year and
        # direction — dual role of the nation dim (supplier vs customer side)
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        supp = _t(spark, sf, "supplier")
        n1 = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
        )
        n2 = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
        )
        pair = (
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(n1), supp.s_nationkey == F.col("sk"))
            .join(F.broadcast(n2), cust.c_nationkey == F.col("ck"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )

    def q8_market_share(spark, sf):
        # TPC-H q8 shape: one nation's share of EUROPE's PROMO-part revenue
        # per year — conditional-sum ratio over a 7-table join
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        cust = _t(spark, sf, "customer")
        supp = _t(spark, sf, "supplier")
        part = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
        nat_c = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
        )
        nat_s = _t(spark, sf, "nation").select(
            F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
        )
        reg = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
        vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (
            li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nat_c), cust.c_nationkey == F.col("cnk"))
            .join(F.broadcast(reg), F.col("crk") == reg.r_regionkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nat_s), supp.s_nationkey == F.col("snk"))
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                F.round(
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                    / F.sum(vol),
                    6,
                ).alias("mkt_share"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )

    def q13_customer_distribution(spark, sf):
        # TPC-H q13 shape: LEFT OUTER join + two-level aggregation — the
        # distribution of customers by how many non-urgent orders they placed
        cust = _t(spark, sf, "customer")
        orders = _t(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
        return (
            cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
        )

    def q15_top_supplier(spark, sf):
        # TPC-H q15 shape: revenue view + scalar-max self-reference — the
        # supplier(s) achieving the maximum quarterly revenue
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
        rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
        top = rev.agg(F.max("total_revenue").alias("m"))
        supp = _t(spark, sf, "supplier")
        return (
            rev.join(F.broadcast(top), rev.total_revenue == F.col("m"))
            .join(supp, rev.supplier_no == supp.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue")
        )

    def q17_small_quantity(spark, sf):
        # correlated scalar subquery (TPC-H q17 shape) through the SQL
        # surface — Catalyst decorrelates it into an aggregate + join
        _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
        _t(spark, sf, "part").createOrReplaceTempView("v_part")
        return spark.sql("""
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_lines
            FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#23'
              AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                                FROM v_lineitem l2
                                WHERE l2.l_partkey = v_part.p_partkey)
        """)

    def q22_idle_customers(spark, sf):
        # scalar subquery (avg positive balance) + anti-join against recent
        # orders: wealthy customers with no order since 2001-01-01
        cust = _t(spark, sf, "customer")
        avg_bal = (
            cust.filter(F.col("c_acctbal") > 0)
            .agg(F.avg("c_acctbal").alias("a"))
            .first()["a"]
        )
        recent = _t(spark, sf, "orders").filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
        return (
            cust.filter(F.col("c_acctbal") > avg_bal)
            .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_cust"),
                F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            )
        )

    # ---- remaining TPC-H shapes (q2/q9/q11/q16/q20/q21), adapted: the test
    # ---- schema has no partsupp table and lineitem carries no commit/receipt
    # ---- dates, so supply-cost/lateness predicates are re-expressed over
    # ---- lineitem with the QUERY SHAPE preserved (correlated min subquery,
    # ---- scalar-subquery HAVING, nested INs, double EXISTS / NOT EXISTS) —
    # ---- these shapes, not the constants, are what exercise the engine.

    def q2_min_cost_supplier(spark, sf):
        # TPC-H q2 shape: correlated MIN subquery against a derived
        # supplier-part table (min sale price stands in for ps_supplycost —
        # MIN over exact doubles, so the equality join is engine-exact)
        _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
        _t(spark, sf, "part").createOrReplaceTempView("v_part")
        _t(spark, sf, "supplier").createOrReplaceTempView("v_supplier")
        return spark.sql("""
            WITH ps AS (
              SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                     min(l_extendedprice) AS min_price
              FROM v_lineitem GROUP BY l_partkey, l_suppkey
            )
            SELECT p.p_partkey, p.p_brand, s.s_name, ps.min_price AS best_price
            FROM v_part p
            JOIN ps ON ps.partkey = p.p_partkey
            JOIN v_supplier s ON ps.suppkey = s.s_suppkey
            WHERE p.p_size <= 10
              AND ps.min_price = (SELECT min(ps2.min_price) FROM ps ps2
                                  WHERE ps2.partkey = p.p_partkey)
        """)

    def q9_profit_by_nation_year(spark, sf):
        # TPC-H q9 shape: 5-way join + LIKE part filter + (nation, year)
        # rollup; profit proxy is revenue (no ps_supplycost in this schema)
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders")
        supp = _t(spark, sf, "supplier")
        nat = _t(spark, sf, "nation")
        part = _t(spark, sf, "part")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(part.filter(F.col("p_name").like("%red%"))),
                  li.l_partkey == F.col("p_partkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("profit")
            )
        )

    def q11_important_stock(spark, sf):
        # TPC-H q11 shape: scalar subquery in HAVING (per-part value vs a
        # fraction of the same aggregate over the whole filtered corpus)
        _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
        _t(spark, sf, "supplier").createOrReplaceTempView("v_supplier")
        _t(spark, sf, "nation").createOrReplaceTempView("v_nation")
        return spark.sql("""
            SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
            FROM v_lineitem
            JOIN v_supplier ON s_suppkey = l_suppkey
            JOIN v_nation ON n_nationkey = s_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
            GROUP BY l_partkey
            HAVING sum(l_extendedprice) > (
              SELECT 0.001 * sum(l_extendedprice)
              FROM v_lineitem
              JOIN v_supplier ON s_suppkey = l_suppkey
              JOIN v_nation ON n_nationkey = s_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))
        """)

    def q16_parts_supplier_counts(spark, sf):
        # TPC-H q16 shape: NOT IN subquery (suppliers with negative balance
        # standing in for the complaints filter) + IN value list +
        # count(DISTINCT) per attribute group
        _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
        _t(spark, sf, "part").createOrReplaceTempView("v_part")
        _t(spark, sf, "supplier").createOrReplaceTempView("v_supplier")
        return spark.sql("""
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 5, 11, 17, 23, 29, 37, 41)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM v_supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """)

    def q20_excess_inventory(spark, sf):
        # TPC-H q20 shape: nested IN subqueries with a HAVING threshold on
        # the inner grouped aggregate (suppliers who shipped >50 units of
        # any 'small%' part in 2000)
        _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
        _t(spark, sf, "part").createOrReplaceTempView("v_part")
        _t(spark, sf, "supplier").createOrReplaceTempView("v_supplier")
        _t(spark, sf, "nation").createOrReplaceTempView("v_nation")
        return spark.sql("""
            SELECT s_name, n_name
            FROM v_supplier JOIN v_nation ON n_nationkey = s_nationkey
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM v_lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM v_part
                                  WHERE p_name LIKE 'small%')
                AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
              GROUP BY l_suppkey, l_partkey
              HAVING sum(l_quantity) > 50
            )
        """)

    def q21_suppliers_waiting(spark, sf):
        # TPC-H q21 shape: EXISTS (another supplier on the order) + NOT
        # EXISTS (another supplier also late) over finalized orders;
        # "late" = shipped >90 days after the order date (no
        # commit/receipt dates in this schema)
        _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
        _t(spark, sf, "orders").createOrReplaceTempView("v_orders")
        _t(spark, sf, "supplier").createOrReplaceTempView("v_supplier")
        _t(spark, sf, "nation").createOrReplaceTempView("v_nation")
        return spark.sql("""
            SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
            FROM v_supplier
            JOIN v_nation ON n_nationkey = s_nationkey
            JOIN v_lineitem l1 ON s_suppkey = l1.l_suppkey
            JOIN v_orders o ON o.o_orderkey = l1.l_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              AND EXISTS (SELECT 1 FROM v_lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM v_lineitem l3
                              JOIN v_orders o3 ON o3.o_orderkey = l3.l_orderkey
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name, n_name
        """)

    # ---- round-4 curation additions: corpus audits a training-data
    # ---- pipeline runs before fixing packing/mix decisions

    def doc_length_percentiles(spark, sf):
        from vectordb_watermark_spark.operators.quality import length_percentiles

        return length_percentiles(_docs(spark, sf))

    def embedding_dim_stats(spark, sf):
        return V.vector_dim_stats(_vectors(spark, sf))

    def lexical_diversity(spark, sf):
        return _docs(spark, sf).select(
            "doc_id",
            T.distinct_token_count(F.col("text")).alias("n_types"),
            (T.type_token_ratio(F.col("text")) + F.lit(0.0)).alias("ttr"),
        )

    def gopher_quality_flags(spark, sf):
        from vectordb_watermark_spark.operators.quality import (
            gopher_quality_flags as G,
        )

        return G(_docs(spark, sf))

    def tfidf_top_terms_by_source(spark, sf):
        from vectordb_watermark_spark.operators.quality import tfidf_top_terms

        return tfidf_top_terms(_docs(spark, sf))

    def q5_nation_revenue(spark, sf):
        orders = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        cust = _t(spark, sf, "customer")
        supp = _t(spark, sf, "supplier")
        nat = _t(spark, sf, "nation")
        reg = _t(spark, sf, "region")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .groupBy("n_name")
            .agg(
                # summed in decimal: a double sum splits exact half-cent
                # ties by summation order, so the cents depended on the
                # shuffle (same expression in the DuckDB twin)
                F.round(F.sum(
                    F.col("l_extendedprice").cast("decimal(15,2)")
                    * (1 - F.col("l_discount").cast("decimal(15,2)"))
                ), 2).cast("double").alias("revenue")
            )
        )

    def events_hourly(spark, sf):
        ev = _events(spark, sf)
        # integer arithmetic end-to-end: double would lose ns precision at 2^60
        sec = F.expr("ts_ns DIV 1000000000")
        hour_epoch = (sec - (sec % 3600)).alias("hour_epoch")
        # avg derives from the 2-dp-ROUNDED sum: the raw double sums differ
        # between engines in the last ulp (addition order), and a group whose
        # exact mean is a half-way case at the 6th decimal (e.g. 1391.13/32 =
        # 43.4728125, hit at sf0.1) then rounds differently.  Source values
        # are exact to 2 dp, so round(sum, 2) collapses both engines to the
        # identical double before the tie-sensitive divide+round.
        return (
            ev.groupBy(hour_epoch, "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(
                    F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6
                ).alias("avg_value"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )

    def events_type_rollup(spark, sf):
        # ROLLUP (grouping sets): per-(type, day), per-type, grand total
        ev = _events(spark, sf)
        sec = F.expr("ts_ns DIV 1000000000")
        day_epoch = (sec - (sec % 86400)).alias("day_epoch")
        return (
            ev.select("event_type", day_epoch, "value")
            .rollup("event_type", "day_epoch")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )

    def events_cube(spark, sf):
        # CUBE grouping sets: all four (type, dow) marginal combinations
        ev = _events(spark, sf)
        dow = (F.expr("ts_ns DIV 1000000000 DIV 86400") % 7).cast("int").alias("dow")
        return (
            ev.select("event_type", dow, "value")
            .cube("event_type", "dow")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                # tie-hardened like events_hourly: avg from the 2-dp sum
                F.round(
                    F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6
                ).alias("avg_value"),
            )
        )

    def set_ops_users(spark, sf):
        # INTERSECT / EXCEPT: users seen for 'click' events minus users seen
        # for 'purchase', intersected with high-value users
        ev = _events(spark, sf)
        clickers = ev.filter(F.col("event_type") == "click").select("user_id")
        buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
        high = ev.filter(F.col("value") > 200).select("user_id")
        # subtract = EXCEPT DISTINCT, intersect = INTERSECT DISTINCT
        return clickers.subtract(buyers.intersect(high))

    def events_asof(spark, sf):
        # as-of join (operators/temporal.asof_join): each click event joined
        # to the user's most recent prior-or-equal purchase value — Spark
        # lacks the operator; DuckDB's native ASOF JOIN is the oracle
        from vectordb_watermark_spark.operators.temporal import asof_join

        ev = _events(spark, sf)
        sec = F.expr("ts_ns DIV 1000000000")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", sec.alias("t")
        )
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .select("user_id", sec.alias("t"), "value")
            .groupBy("user_id", "t")
            .agg(F.round(F.max("value"), 2).alias("pv"))
        )
        return asof_join(
            clicks, purchases, ["user_id"], "t", "t", ["pv"], right_time_out="pt"
        ).select("event_id", "user_id", "t", "pt", "pv")

    def events_range_join(spark, sf):
        # banded point-in-interval join (operators/temporal.range_join):
        # error events matched into their user's enclosing session interval
        from vectordb_watermark_spark.operators.temporal import range_join
        from vectordb_watermark_spark.streaming.events import sessionize_batch

        ev = _events(spark, sf)
        sessions = sessionize_batch(ev.withColumnRenamed("ts_ns", "ts"), gap_seconds=900)
        errors = ev.filter(F.col("event_type") == "error").select(
            "event_id", "user_id", F.expr("ts_ns DIV 1000000000").alias("sec")
        )
        return range_join(
            errors, sessions, ["user_id"], "sec", "session_start_sec", "session_end_sec",
            band=900,
        ).select("event_id", "user_id", "session_id", "n_events")

    def events_running_window(spark, sf):
        # RANGE-frame window: per user, trailing-1-hour running sum of value
        # (frame includes ALL rows at equal sec -> tie-order-independent)
        from pyspark.sql.window import Window

        ev = _events(spark, sf)
        sec = F.expr("ts_ns DIV 1000000000")
        w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
        return (
            ev.select("event_id", "user_id", sec.alias("sec"), "value")
            .withColumn("run_sum", F.round(F.sum("value").over(w), 2))
            .withColumn("run_n", F.count(F.lit(1)).over(w))
            .select("event_id", "user_id", "sec", "run_sum", "run_n")
        )

    def events_value_quantiles(spark, sf):
        # exact interpolated quantiles (percentile, not approx) per type
        ev = _events(spark, sf)
        return ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.min("value"), 2).alias("vmin"),
            F.round(F.max("value"), 2).alias("vmax"),
        )

    def events_pivot(spark, sf):
        # PIVOT: one row per user bucket, one count column per event type
        ev = _events(spark, sf)
        return (
            ev.select((F.col("user_id") % 20).alias("bucket"), "event_type")
            .groupBy("bucket")
            .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
            .count()
            .na.fill(0)
        )

    def sample_weighted(spark, sf):
        # Efraimidis-Spirakis weighted sampling without replacement, keyed:
        # key = u^(1/w) with u = keyed_uniform(id) -> top-100 by key.
        # Compare via log: log(u)/w is monotone in u^(1/w) and avoids
        # pow() cross-engine ULP drift (ln is 1-to-1 on the same values)
        from vectordb_watermark_spark.functions.hashing import keyed_uniform

        ev = _events(spark, sf)
        u = keyed_uniform("wsample-42", "w", F.col("event_id"))
        # weight 0 => u^(1/w) -> 0: the item can never be drawn.  Score it
        # -inf explicitly — value=0 rows exist from sf0.1 up, and the bare
        # division is a DIVIDE_BY_ZERO under ANSI (found by the round-10
        # sf0.1 spot sweep)
        score = F.when(
            F.col("value") > 0, F.log(u) / F.col("value")
        ).otherwise(F.lit(float("-inf")))
        return (
            ev.select("event_id", "user_id", score.alias("s"))
            .orderBy(F.col("s").desc(), F.col("event_id").asc())
            .limit(100)
            .select("event_id", "user_id")
        )

    def events_json_extract(spark, sf):
        ev = _events(spark, sf)
        return (
            ev.select(
                "event_type",
                F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
            )
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        )

    def events_user_rollup(spark, sf):  # window functions: rank within user
        from pyspark.sql.window import Window

        ev = _events(spark, sf)
        w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
        return (
            ev.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("user_id", "event_id", F.round("value", 2).alias("value"), F.col("rk").cast("long").alias("rk"))
        )

    # ---- training-data pipeline: dedup ----

    def dedup_exact_groups(spark, sf):
        return D.exact_dup_groups(_docs(spark, sf))

    def dedup_minhash_signatures(spark, sf):
        # one row per (doc, coordinate): array cells break the driver's
        # sort_values canonicalization, so the signature is exploded
        return (
            D.minhash_signatures(_docs(spark, sf))
            .select("id", F.posexplode(F.col("sig").cast("array<long>")).alias("j", "mh"))
            .select("id", F.col("j").cast("int").alias("j"), "mh")
        )

    def dedup_minhash_pairs(spark, sf):
        return D.minhash_candidate_pairs(_docs(spark, sf))

    def dedup_minhash_agree(spark, sf):
        # lane-agreement pre-verify cut (round 9): banded candidates whose
        # estimated Jaccard (agreeing lanes / 16) clears 0.5 — the volume
        # lever for billion-candidate corpora, pinned cross-engine
        return D.minhash_candidate_pairs(_docs(spark, sf), min_agree=8)

    def doc_embeddings(spark, sf):  # M6 bulk embedding generation
        return T.hash_embed_documents(_docs(spark, sf))

    def crawl_dedup_join(spark, sf):  # cross-corpus near-dup join
        # "new crawl" (doc_id < 250) vs "existing corpus" (doc_id >= 250):
        # banded candidates only across the split, each exact-verified
        d = _docs(spark, sf)
        return D.minhash_join(
            d.filter(F.col("doc_id") < 250),
            d.filter(F.col("doc_id") >= 250),
            threshold=0.5,
        )

    def dedup_jaccard_pairs(spark, sf):
        return D.jaccard_pairs(_docs(spark, sf), pairs=None, threshold=0.35, auto_rows=None)

    def dedup_ngram_jaccard(spark, sf):
        return D.ngram_jaccard_pairs(_docs(spark, sf), pairs=None, threshold=0.5, auto_rows=None)

    def dedup_components(spark, sf):
        # near-dup clustering: minhash candidates -> connected components
        return D.connected_components(D.minhash_candidate_pairs(_docs(spark, sf)))

    def line_scrub_docs(spark, sf):  # C4-style line dedup (round 12)
        # boilerplate lines planted deterministically on the documents
        # table in BOTH engines (doc_id % 3 == 0 gets a subscribe
        # banner, % 5 == 0 a cookie banner); the scrub removes exactly
        # the planted lines (each original text is corpus-unique) and
        # rebuilds the remaining lines in order.
        from vectordb_watermark_spark.operators.dedup import (
            scrub_repeated_lines,
        )

        d = _docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.lit("\nplease subscribe to our newsletter"),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.lit("\nthis site uses cookies"),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return scrub_repeated_lines(d)

    def stream_components_docs(spark, sf):  # streaming clusters (round 12)
        # the documents table STREAMED through incremental_components in
        # 3 micro-batches must resolve to exactly the batch
        # connected_components(minhash_candidate_pairs(docs)) — merges
        # across batches land through the alias log, resolution folds it
        # — pinned by the SAME DuckDB twin as dedup_components.

        from vectordb_watermark_spark.streaming.curation import (
            incremental_components,
            resolve_components,
        )

        srcdir, store, ckpt = _scratch(sf, "oracle_cc_src", "oracle_cc_store", "oracle_cc_ckpt")
        _docs(spark, sf).repartition(3).write.parquet(srcdir)
        stream = (
            spark.readStream.schema(spark.read.parquet(srcdir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcdir)
        )
        q = incremental_components(stream, store, ckpt).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(300)
        return resolve_components(spark, store)

    def neardup_safe_split(spark, sf):  # dedup-aware split (round 11)
        # every member of a discovered near-dup cluster lands on ONE side
        # of the train/val boundary (Lee et al. 2022 leakage guard):
        # minhash candidates -> components -> keyed-hash group split
        from vectordb_watermark_spark.operators.quality import (
            split_by_components,
        )

        d = _docs(spark, sf)
        pairs = D.minhash_candidate_pairs(d)
        return split_by_components(
            d, pairs, val_frac=0.25, key="nds-11"
        ).select("doc_id", "split")

    def group_kfold_docs(spark, sf):  # leakage-guarded k-fold (round 11)
        from vectordb_watermark_spark.operators.quality import group_kfold

        return group_kfold(
            _docs(spark, sf), "source", n_folds=5, key="kf-11"
        ).select("doc_id", "fold")

    def dedup_simhash(spark, sf):
        return D.simhash(_docs(spark, sf))

    def dedup_simhash_pairs(spark, sf):
        return D.simhash_near_pairs(D.simhash(_docs(spark, sf)), max_hamming=12)

    def dup_ngram_spans(spark, sf):
        # exact substring dedup, detection half: corpus-duplicated 8-grams
        return D.duplicate_ngram_spans(_docs(spark, sf))

    def span_scrubbed_docs(spark, sf):
        # exact substring dedup, removal half: duplicated spans cut out
        return D.scrub_duplicate_spans(_docs(spark, sf))

    def bpe_token_counts(spark, sf):
        # learned-subword token accounting: train BPE on the corpus itself,
        # report per-doc fertility.  Deterministic (lexicographic tie-break)
        # and — round 14 (VERDICT r13 #3) — oracled after all: the merge
        # loop is a DuckDB recursive CTE over the word-frequency state and
        # greedy merge application is wrapped-string replace() (see the
        # oracle's comment); tests/test_tokenizer.py still pins the
        # hand-verified merges + trainer-state == encoder equivalence.
        from vectordb_watermark_spark.operators.tokenizer import (
            bpe_token_stats,
            train_bpe,
        )

        docs = _docs(spark, sf)
        return bpe_token_stats(docs, train_bpe(docs, num_merges=100))

    def corpus_snapshot_diff(spark, sf):
        # incremental-pipeline audit: added/removed/changed between two
        # simulated corpus snapshots (md5 hash pinned on both engines;
        # production default is xxhash64)
        from vectordb_watermark_spark.operators.snapshots import snapshot_diff

        d = _docs(spark, sf)
        old = d.filter(F.col("doc_id") < 400)
        new = d.filter(F.col("doc_id") >= 100).withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text"))).otherwise(
                F.col("text")
            ),
        )
        return snapshot_diff(
            old, new, content_cols=["source", "text"],
            hash_fn=lambda cols: F.md5(F.concat_ws("|", *cols)),
        )

    def corpus_snapshot_stats(spark, sf):
        from vectordb_watermark_spark.operators.snapshots import snapshot_diff_stats

        d = _docs(spark, sf)
        old = d.filter(F.col("doc_id") < 400)
        new = d.filter(F.col("doc_id") >= 100).withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text"))).otherwise(
                F.col("text")
            ),
        )
        return snapshot_diff_stats(
            old, new, content_cols=["source", "text"],
            hash_fn=lambda cols: F.md5(F.concat_ws("|", *cols)),
        )

    def bigram_lm_scores(spark, sf):
        # bigram stupid-backoff LM score (CCNet-style perplexity filter)
        from vectordb_watermark_spark.operators.quality import bigram_lm_score

        return bigram_lm_score(_docs(spark, sf))

    # ---- training-data pipeline: text analysis ----

    def text_stats(spark, sf):
        d = _docs(spark, sf)
        return d.select(
            "doc_id",
            T.token_count(F.col("text")).alias("n_tokens"),
            T.word_count_regex(F.col("text")).alias("n_words_re"),
            T.punct_count(F.col("text")).alias("n_punct"),
            T.stopword_count(F.col("text")).alias("n_stopwords"),
            (T.quality_score(F.col("text")) + F.lit(0.0)).alias("quality"),
        )

    def lang_id(spark, sf):
        d = _docs(spark, sf)
        return d.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))

    def quality_repetition(spark, sf):  # Gopher-style repetition rules
        d = _docs(spark, sf)
        return d.select(
            "doc_id",
            (T.dup_token_fraction(F.col("text")) + F.lit(0.0)).alias("dup_tok_frac"),
            (T.top_bigram_fraction(F.col("text")) + F.lit(0.0)).alias("top_bigram_frac"),
            (T.mean_token_len(F.col("text")) + F.lit(0.0)).alias("mean_tok_len"),
        )

    def pii_redaction(spark, sf):  # PII scrub: counts + redacted text
        # the corpus is synthetic word salad with no PII, so the query plants
        # a deterministic email+phone per doc (identically in the oracle) —
        # the redaction rules then have something real to fire on
        d = _docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com tel +1 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ).alias("text"),
        )
        n_email, n_phone = T.pii_counts(F.col("text"))
        return d.select(
            "doc_id",
            n_email.alias("n_email"),
            n_phone.alias("n_phone"),
            F.sha2(T.redact_pii(F.col("text")), 256).alias("redacted_sha"),
        )

    def sequence_packing(spark, sf):  # token-budget training-batch packing
        from vectordb_watermark_spark.operators.packing import pack_sequences

        return pack_sequences(_docs(spark, sf), token_budget=256, n_groups=8)

    def source_mix(spark, sf):  # training-mix audit (domain weighting input)
        from vectordb_watermark_spark.operators.quality import source_mix as S

        return S(_docs(spark, sf))

    def source_capped_sample(spark, sf):  # domain capping (per-source reservoir)
        from vectordb_watermark_spark.operators.quality import cap_per_source

        return cap_per_source(_docs(spark, sf), max_per_source=15).select(
            "doc_id", "source"
        )

    def codec_eval(spark, sf):  # reference test.py harness (P6/P7 eval)
        # Inequality-contract oracle: OrthogonalCodec decodes clean data
        # exactly, so zero BER / full CRC validity / the documented fidelity
        # floor are pinnable constants — any codec regression flips a bool.
        from vectordb_watermark_spark.plans.codec import OrthogonalCodec
        from vectordb_watermark_spark.plans.evaluate import evaluate_codec

        rep = evaluate_codec(_vectors(spark, sf), OrthogonalCodec(64, KEY)).first()
        return spark.createDataFrame(
            [(
                int(rep["n"]),
                bool(rep["ber"] == 0.0),
                bool(rep["crc_valid_rate"] == 1.0),
                bool(rep["mean_cos"] >= 0.65),
            )],
            "n long, zero_ber boolean, crc_all_valid boolean, fidelity_ok boolean",
        )

    def corpus_logfreq_score(spark, sf):  # unigram-LM perplexity proxy
        from vectordb_watermark_spark.operators.quality import corpus_logfreq_score as S

        return S(_docs(spark, sf))

    def quality_resample(spark, sf):  # importance resampling by quality
        # Efraimidis-Spirakis weighted sampling with the per-row quality
        # score as the weight: the curation move that biases a training mix
        # toward high-quality documents without a hard cutoff
        from vectordb_watermark_spark.functions.hashing import keyed_uniform

        d = _docs(spark, sf)
        q = T.quality_score(F.col("text"))
        u = keyed_uniform("qsample-7", F.col("doc_id"))
        s = F.log(u) / F.greatest(q, F.lit(0.001))
        return (
            d.select("doc_id", s.alias("s"))
            .orderBy(F.col("s").desc(), F.col("doc_id").asc())
            .limit(100)
            .select("doc_id")
        )

    def decontaminate_docs(spark, sf):  # benchmark decontamination
        from vectordb_watermark_spark.operators.dedup import benchmark_overlap

        d = _docs(spark, sf)
        bench = d.filter(F.col("doc_id") < 20)
        return benchmark_overlap(
            d.filter(F.col("doc_id") >= 20), bench, min_overlap=5
        )

    def temperature_mix_docs(spark, sf):  # mT5-style alpha-sampling (r14)
        # temperature-based source resampling to a 1000-doc budget:
        # largest-remainder apportionment of n^alpha shares + keyed-hash
        # repeat assignment — deterministic upsampling/downsampling per
        # source, the multilingual-LM mixing recipe
        from vectordb_watermark_spark.operators.quality import temperature_mix

        return temperature_mix(_docs(spark, sf), alpha=0.3, total_out=1000)

    def bloom_decontam_docs(spark, sf):  # Bloom-prefiltered decontam (r14)
        # same inputs and EXACT same answer as decontaminate_docs — the
        # Bloom bit-array probe only pre-filters (zero false negatives by
        # construction; false positives die in the exact verify join), so
        # the two rows share one DuckDB twin, pinning the equality
        from vectordb_watermark_spark.operators.dedup import bloom_benchmark_overlap

        d = _docs(spark, sf)
        bench = d.filter(F.col("doc_id") < 20)
        return bloom_benchmark_overlap(
            d.filter(F.col("doc_id") >= 20), bench, min_overlap=5
        )

    def doc_fingerprints(spark, sf):
        d = _docs(spark, sf)
        return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))

    # ---- training-data pipeline: similarity search ----

    def ann_topk_cosine(spark, sf):
        df = _vectors(spark, sf)
        qv = [float(x) for x in df.filter(F.col("id") == 0).first()["emb"]]
        return S.topk_cosine(df.filter(F.col("id") != 0), qv, k=10)

    def cosine_neardup(spark, sf):
        return S.cosine_neardup_pairs(_vectors(spark, sf), threshold=0.35, method="gemm")

    # ---- training-data pipeline: end-to-end compositions ----

    def corpus_curation(spark, sf):
        # the curation pipeline a training-data job runs end-to-end:
        # MinHash-LSH candidates -> exact-Jaccard verification -> connected
        # components (keep the min-id document of each near-dup cluster) ->
        # language ID + quality gate — one declarative lineage composing the
        # engine's dedup and text operators.  Verification before clustering
        # matters: the raw LSH candidate graph is (by design) permissive and
        # would collapse the corpus into one giant component.
        docs = _docs(spark, sf)
        verified = D.jaccard_pairs(
            docs, pairs=D.minhash_candidate_pairs(docs), threshold=0.5
        ).select("a", "b")
        labels = D.connected_components(verified)
        canon = docs.join(
            labels.withColumnRenamed("id", "doc_id").withColumnRenamed("comp", "canonical"),
            "doc_id",
            "left",
        ).filter(F.coalesce(F.col("canonical"), F.col("doc_id")) == F.col("doc_id"))
        return canon.select(
            "doc_id",
            T.lang_id(F.col("text")).alias("lang_pred"),
            (T.quality_score(F.col("text")) + F.lit(0.0)).alias("quality"),
            T.token_count(F.col("text")).alias("n_tokens"),
        ).filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.33))

    def curation_keep_best(spark, sf):
        # quality-aware canonical selection: keep the BEST-scoring document
        # of each verified near-dup cluster (deterministic tie-break), not
        # the min-id one — singletons always survive
        docs = _docs(spark, sf)
        verified = D.jaccard_pairs(
            docs, pairs=D.minhash_candidate_pairs(docs), threshold=0.5
        ).select("a", "b")
        return D.canonical_by_quality(docs, D.connected_components(verified))

    def knn_join_tables(spark, sf):
        # general kNN similarity join between two tables: probe ids < 100
        # against the disjoint rest of the corpus, k=4 (exact broadcast-GEMM)
        from vectordb_watermark_spark.operators import knn as K

        df = _vectors(spark, sf)
        probe = df.filter(F.col("id") < 100)
        build = df.filter(F.col("id") >= 100)
        # dist2 stays internal: the float32 GEMM intermediate can land a
        # hair off the float64 oracle at a rounding boundary; the (src, dst,
        # rank) assignment itself is exact (same contract as knn_degrees)
        return K.knn_join(probe, build, k=4).select(
            "src", "dst", F.col("rank").cast("int").alias("rank")
        )

    def embedding_quantize(spark, sf):
        # int8 storage/bandwidth path for a 100 TB embedding corpus:
        # symmetric per-vector quantization, exploded per coordinate
        return V.quantize_int8(_vectors(spark, sf))

    def top_tokens(spark, sf):
        # corpus vocabulary: top-100 tokens by document frequency — the
        # classic distributed word count (explode -> map-side-combined
        # groupBy -> TakeOrderedAndProject, no global sort)
        d = _docs(spark, sf)
        return (
            d.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("tok").asc())
            .limit(100)
        )

    def sketch_distinct_tokens(spark, sf):
        # KMV distinct-count sketch (operators/sketch.kmv_distinct): only the
        # k smallest 60-bit hashes cross the wire; the keyed hash makes the
        # ESTIMATE itself deterministic and oracle-checkable (unlike HLL++).
        # true distinct count alongside quantifies the sketch error
        from vectordb_watermark_spark.operators.sketch import kmv_distinct

        toks = _docs(spark, sf).select(
            F.explode(T.tokens(F.lower(F.col("text")))).alias("tok")
        )
        est = kmv_distinct(toks, "tok", k=256)
        truth = toks.agg(F.countDistinct("tok").cast("long").alias("true_distinct"))
        return est.crossJoin(truth)

    def token_heavy_hitters(spark, sf):  # exact phi-heavy hitters (round 9)
        # bounded-state heavy hitters: per-partition Misra-Gries candidate
        # SUPERSET + broadcast exact verify — the vocabulary-wide groupBy
        # never happens, yet the output is exact (hash-matches the DuckDB
        # groupBy twin).  phi=0.003 over the token stream.
        from vectordb_watermark_spark.operators.sketch import heavy_hitters

        toks = _docs(spark, sf).select(
            F.explode(T.tokens(F.lower(F.col("text")))).alias("tok")
        )
        return heavy_hitters(toks, "tok", phi=0.003)

    def paraphrase_candidates(spark, sf):
        # semantically-near but lexically-distinct document pairs: embedding
        # cosine >= 0.35 anti-joined against token-Jaccard >= 0.35 pairs —
        # the pairs worth keeping when near-dup dedup would wrongly collapse
        # genuine paraphrases (documents and embeddings share the id space)
        emb_pairs = S.cosine_neardup_pairs(_vectors(spark, sf), threshold=0.35, method="gemm")
        tok_pairs = D.jaccard_pairs(_docs(spark, sf), pairs=None, threshold=0.35, auto_rows=None).select("a", "b")
        return emb_pairs.join(tok_pairs, ["a", "b"], "left_anti")

    def carriers_by_threshold(spark, sf):  # J6 legacy threshold selection
        from vectordb_watermark_spark.operators.selection import select_by_threshold

        return select_by_threshold(_degrees(spark, sf), max_degree=10)

    def pairwise_viz_stats(spark, sf):  # P13/A5/M-viz stats over keyed sample
        from vectordb_watermark_spark.operators.viz import pairwise_stats

        return pairwise_stats(_vectors(spark, sf), max_rows=200, seed_key="viz-42")

    def pca_projection(spark, sf):  # M1 2-D projection (rows-only: eigensign
        from vectordb_watermark_spark.operators.viz import project_2d

        return project_2d(_vectors(spark, sf), max_rows=200, seed_key="viz-42")

    def events_sessionize(spark, sf):  # streaming sessionization, batch twin
        from vectordb_watermark_spark.streaming.events import sessionize_batch

        return sessionize_batch(_events(spark, sf).withColumnRenamed("ts_ns", "ts"),
                                gap_seconds=900)

    def media_metadata(spark, sf):  # multimodal binary-column plumbing
        from vectordb_watermark_spark.operators.multimodal import media_metadata as mm

        d = _docs(spark, sf).select(
            F.col("doc_id").alias("id"), F.encode(F.col("text"), "UTF-8").alias("media")
        )
        return mm(d)

    def zorder_contract(spark, sf):  # Z-order clustered writes (round 11)
        # pins sources/io.write_zordered: per-file min/max spans shrink on
        # BOTH clustered columns simultaneously (the multi-column
        # data-skipping property a single-column sort cannot give), rows
        # survive exactly, files stay balanced under the quantile buckets.
        import shutil

        import numpy as np

        from vectordb_watermark_spark.sources.io import write_zordered

        (zpath,) = _scratch(sf, "oracle_zorder")
        li = _t(spark, sf, "lineitem").select(
            F.col("l_orderkey").alias("k"),
            F.col("l_extendedprice").alias("x"),
            F.col("l_quantity").alias("y"),
        )
        n = li.count()
        ksum = li.agg(F.sum("k")).collect()[0][0]
        # unclustered baseline spans: random layout covers ~the full range
        rx = li.agg((F.max("x") - F.min("x"))).collect()[0][0]
        ry = li.agg((F.max("y") - F.min("y"))).collect()[0][0]
        try:
            write_zordered(li.repartition(8), zpath, ["x", "y"], bits=8, n_files=16)
            z = spark.read.parquet(zpath).withColumn("f", F.input_file_name())
            agg = z.groupBy("f").agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
                F.count(F.lit(1)).alias("nn"),
            ).collect()
            sx = float(np.mean([r["sx"] for r in agg]))
            sy = float(np.mean([r["sy"] for r in agg]))
            counts = [int(r["nn"]) for r in agg]
            zn = z.count()
            zsum = z.agg(F.sum("k")).collect()[0][0]
        finally:
            shutil.rmtree(zpath, ignore_errors=True)
        return spark.createDataFrame(
            [(
                int(n),
                bool(zn == n and zsum == ksum),
                bool(sx < 0.6 * rx),
                bool(sy < 0.6 * ry),
                bool(max(counts) < 4 * min(counts)),
            )],
            "n_rows long, rows_preserved boolean, x_span_narrowed boolean, "
            "y_span_narrowed boolean, files_balanced boolean",
        )

    def bm25_docs(spark, sf):  # keyword retrieval (round 11)
        # Okapi BM25 (Lucene +1-smoothed idf) over documents for a fixed
        # term bag; the DuckDB twin recomputes the formula declaratively
        # with matched operation order (multiplication grouping matters
        # in the last ulp; both engines round at 6 dp).
        from vectordb_watermark_spark.operators.retrieval import bm25_scores

        return bm25_scores(
            _docs(spark, sf), ["batch", "data", "fast"]
        ).select(F.col("id").alias("doc_id"), "score")

    def bm25_index_docs(spark, sf):  # persisted-postings BM25 (round 12)
        # the many-query production path: build the postings index once
        # (term-range-sorted parquet, file pruning on t IN (...)), score
        # from the index only — arithmetic-identical to bm25_scores, so
        # the SAME DuckDB twin pins it hash-exact end to end.

        from vectordb_watermark_spark.operators.retrieval import (
            bm25_build_index,
            bm25_query_index,
        )

        (idx,) = _scratch(sf, "oracle_bm25")
        bm25_build_index(_docs(spark, sf), idx)
        return bm25_query_index(spark, idx, ["batch", "data", "fast"]).select(
            F.col("id").alias("doc_id"), "score"
        )

    def bm25_stream_docs(spark, sf):  # streaming postings maintenance (round 12)
        # the maintenance path: documents STREAMED through the
        # incremental_postings sink in 3 micro-batches must score
        # bit-identically to a one-shot build (integer sidecar partials
        # merge exactly) — pinned by the SAME DuckDB twin as bm25_docs.

        from vectordb_watermark_spark.operators.retrieval import (
            bm25_query_index,
        )
        from vectordb_watermark_spark.streaming.curation import (
            incremental_postings,
        )

        srcdir, idx, ckpt = _scratch(sf, "oracle_bm25s_src", "oracle_bm25s_idx", "oracle_bm25s_ckpt")
        _docs(spark, sf).repartition(3).write.parquet(srcdir)
        stream = (
            spark.readStream.schema(spark.read.parquet(srcdir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcdir)
        )
        q = incremental_postings(stream, idx, ckpt).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(300)
        return bm25_query_index(spark, idx, ["batch", "data", "fast"]).select(
            F.col("id").alias("doc_id"), "score"
        )

    def hybrid_rag_fusion(spark, sf):  # hybrid retrieval + RRF (round 11)
        # the production RAG retrieval shape, end to end: BM25 top-20
        # (lexical) + hash-embedding dot-product top-20 vs doc 0's vector
        # (semantic, embeddings L2-normalized so dot == cosine) fused by
        # reciprocal rank fusion (k=60), top-10 out.  Both legs and the
        # fusion are recomputed declaratively by the DuckDB twin.
        from pyspark.sql import Window

        from vectordb_watermark_spark.operators.retrieval import (
            bm25_topk,
            reciprocal_rank_fusion,
        )

        d = _docs(spark, sf)
        lex = bm25_topk(d, ["batch", "data", "fast"], k=20)

        emb = T.hash_embed_documents(d)  # (id, pos, val) exploded
        q = emb.filter(F.col("id") == 0).select(
            F.col("pos").alias("qpos"), F.col("val").alias("qval")
        )
        dots = (
            emb.join(F.broadcast(q), emb["pos"] == q["qpos"])
            .groupBy("id")
            .agg(F.round(F.sum(F.col("val") * F.col("qval")), 6).alias("dot"))
        )
        w = Window.orderBy(F.col("dot").desc(), F.col("id").asc())
        sem = (
            dots.orderBy(F.col("dot").desc(), F.col("id").asc()).limit(20)
            .select("id", F.row_number().over(w).cast("int").alias("rank"))
        )
        fused = reciprocal_rank_fusion(
            [lex.select("id", "rank"), sem], k=60, top=10
        )
        return fused.select(F.col("id").alias("doc_id"), "rrf", "rank")

    def fuzzy_token_join(spark, sf):  # PassJoin edit-distance join (round 11)
        # self-join of a deterministic ASCII token pool at levenshtein<=1;
        # Spark runs the segment-blocked dedup.fuzzy_join (never N x M),
        # the DuckDB twin brute-forces the same bounded pool.  ASCII-only:
        # the engines' levenshtein units differ on multibyte text
        # (codepoints vs bytes — documented on the operator).
        from vectordb_watermark_spark.operators.dedup import fuzzy_join

        # pool: adjacent-token concatenations (the synthetic vocabulary is
        # tiny, so single tokens have no near pairs); right side = the pool
        # with a deterministic typo (2nd char dropped) applied in BOTH
        # engines, so true matches exist by construction and the blocking
        # must also find every accidental cross match
        pool = (
            _docs(spark, sf)
            .select(T.tokens(F.col("text")).alias("ts"))
            .select(F.explode(F.expr(
                "transform(sequence(0, size(ts)-2), i -> concat(ts[i], ts[i+1]))"
            )).alias("tok"))
            .filter(F.col("tok").rlike("^[a-z]{6,}$"))
            .distinct()
            .orderBy("tok")
            .limit(600)
        )
        edited = pool.select(
            F.col("tok").alias("rid"),
            F.concat(
                F.substring("tok", 1, 1), F.expr("substring(tok, 3)")
            ).alias("rtok"),
        )
        out = fuzzy_join(
            pool, edited, max_distance=1,
            left_id="tok", left_col="tok", right_id="rid", right_col="rtok",
        )
        return out.select(
            "lid", "rid", F.col("distance").cast("int").alias("distance")
        )

    def embedding_binarize(spark, sf):  # 1-bit sign quantization (round 11)
        from vectordb_watermark_spark.functions.vector import (
            binarize_embeddings,
        )

        return binarize_embeddings(_vectors(spark, sf))

    def hamming_topk_q(spark, sf):  # binary-quantization search (round 11)
        # top-10 by Hamming on packed sign words (query = row 0); integer
        # arithmetic end to end, so the oracle is hash-exact, not a
        # contract.  The exact-rerank two-stage path is pinned by pytest.
        from vectordb_watermark_spark.operators.similarity import hamming_topk

        df = _vectors(spark, sf)
        qv = [float(x) for x in df.filter(F.col("id") == 0).first()["emb"]]
        return hamming_topk(df, qv, k=10)

    def hamming_topk_batch_q(spark, sf):  # batched binary search (round 11)
        # three queries, one corpus scan; integer arithmetic end to end,
        # hash-exact vs the per-query DuckDB twin (QUALIFY top-10 each)
        from vectordb_watermark_spark.operators.similarity import (
            hamming_topk_batch,
        )

        df = _vectors(spark, sf)
        qdf = df.filter(F.col("id") < 3).select(
            F.col("id").alias("qid"),
            F.col("emb").cast("array<double>").alias("qvec"),
        )
        return hamming_topk_batch(df, qdf, k=10)

    def audio_spectral_contract(spark, sf):  # FFT audio features (round 11)
        # pins multimodal.audio_spectral_features as real DSP through the
        # distributed kernel: pure tones (deterministic WAVs, frequencies
        # derived from the documents table's row count scale) land their
        # spectral centroid and 85% rolloff on the tone frequency with
        # near-zero flatness, and the log-band fingerprint separates
        # near-identical tones from far ones (the audio near-dup lever).
        import struct

        import numpy as np

        from vectordb_watermark_spark.operators.multimodal import (
            audio_spectral_features,
        )

        n = _docs(spark, sf).count()
        rate = 16000

        def tone_wav(freq):
            t = np.arange(4096) / rate
            x = (0.6 * 32767 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
            data = x.tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            body = (
                b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )
            return (
                b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
            )

        freqs = [500, 505, 1500, 1505, 3000, 3005, 6000, 6005]
        df = spark.createDataFrame(
            [(i, bytearray(tone_wav(f))) for i, f in enumerate(freqs)],
            "id long, media binary",
        )
        got = {
            int(r["id"]): [float(v) for v in r["features"]]
            for r in audio_spectral_features(df, n_bands=16).collect()
        }
        cen_ok = all(abs(got[i][0] - freqs[i]) < 50 for i in range(8))
        roll_ok = all(abs(got[i][2] - freqs[i]) < 100 for i in range(8))
        flat_ok = all(got[i][3] < 0.05 for i in range(8))

        def cos(a, b):
            a, b = np.asarray(a), np.asarray(b)
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

        near = min(cos(got[2 * j][5:], got[2 * j + 1][5:]) for j in range(4))
        far = max(
            cos(got[2 * j][5:], got[2 * k][5:])
            for j in range(4) for k in range(4) if j != k
        )
        fp_ok = bool(near > 0.98 and far < near)
        return spark.createDataFrame(
            [(int(n), bool(cen_ok), bool(roll_ok), bool(flat_ok), fp_ok)],
            "n_rows long, centroid_on_tone boolean, rolloff_on_tone boolean, "
            "tones_not_flat boolean, fingerprint_separates boolean",
        )

    def profile_docs(spark, sf):  # per-column table profile (round 12)
        # table-health sweep: ONE aggregate job profiles every column
        # (nulls, exact distincts for the oracle twin, min/max as
        # strings); DuckDB recomputes per column declaratively.
        from vectordb_watermark_spark.operators.quality import profile_columns

        return profile_columns(_docs(spark, sf), exact_distinct=True)

    def semantic_decontam(spark, sf):  # embedding-level decontamination (round 12)
        # semantic twin of decontaminate_docs: per corpus vector, max
        # cosine vs a broadcast benchmark slice (ids % 101 == 0) via ONE
        # map-only Arrow GEMM pass; DuckDB recomputes the full cross
        # product declaratively.  bench_id (argmax) is dropped from the
        # gate row: exact-tie argmax is not decidable cross-engine at
        # rounded precision, max_cos is.
        from vectordb_watermark_spark.operators.dedup import (
            semantic_contamination,
        )

        v = _vectors(spark, sf)
        return semantic_contamination(
            v.filter(F.col("id") % 101 != 0), v.filter(F.col("id") % 101 == 0)
        ).select("id", "max_cos")

    def audio_neardup_pipeline(spark, sf):  # audio fingerprint dedup (round 12)
        # END-TO-END audio twin of rag_pipeline: WAV bytes -> FFT log-band
        # fingerprint (audio_spectral_features) -> the SAME embedding
        # near-dup operator the text stack uses (cosine_neardup_pairs).
        # Planted corpus: 6 near-identical tone pairs (+3 Hz twins, each
        # pair in its own log band -> cos > 0.999) and 5 singleton tones
        # in distinct bands (max cross-clip cos ~= 0.71, measured), so at
        # threshold 0.95 the recovered pair set IS the planted set — an
        # integer result the DuckDB twin pins as a constant, tied to the
        # corpus via the documents row count.
        import struct

        import numpy as np

        from vectordb_watermark_spark.operators.multimodal import (
            audio_spectral_features,
        )
        from vectordb_watermark_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        rate = 16000

        def tone_wav(freq):
            t = np.arange(4096) / rate
            x = (0.6 * 32767 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
            data = x.tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            body = (
                b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )
            return (
                b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
            )

        rows = []
        for g, f in enumerate([230, 480, 1000, 2100, 4500, 6500]):
            rows.append((2 * g, bytearray(tone_wav(f))))
            rows.append((2 * g + 1, bytearray(tone_wav(f + 3))))
        for s, f in enumerate([155, 330, 700, 1500, 3100]):
            rows.append((12 + s, bytearray(tone_wav(f))))
        clips = spark.createDataFrame(rows, "id long, media binary")
        emb = audio_spectral_features(clips, n_bands=16).select(
            "id", F.slice("features", 6, 16).alias("emb")
        )
        n_docs = _docs(spark, sf).count()
        return (
            cosine_neardup_pairs(emb, threshold=0.95, method="exact")
            .select(
                F.col("a").cast("long").alias("a"),
                F.col("b").cast("long").alias("b"),
                F.lit(int(n_docs)).cast("long").alias("n_docs"),
            )
        )

    # ---- non-SQL-expressible (rows-only checks) ----

    def knn_lsh_edges(spark, sf):  # approximate: contract-tested, not oracled
        from vectordb_watermark_spark.operators import knn as K

        df = _vectors(spark, sf)
        # n_bits omitted: occupancy-adaptive sizing (~96 rows/bucket)
        return K.knn_edges_lsh(df, k=KNN_K, key=KEY, dim=64)

    def pca_invariants(spark, sf):  # M1 contract: sign-invariant PCA pins
        # The raw projection is unpinnable (eigenvector sign ambiguity), but
        # PCA's defining invariants are not: axis variances in descending
        # order, centered output, decorrelated axes (measured at sf0.01:
        # var 0.0366 >= 0.0336, means ~1e-8, |corr| ~3e-7).
        from vectordb_watermark_spark.operators.viz import project_2d

        rows = project_2d(_vectors(spark, sf), max_rows=200, seed_key="viz-42").collect()
        n = len(rows)
        if n == 0:  # degenerate table: report the falsy contract row, don't crash
            return spark.createDataFrame(
                [(False, False, False, False)],
                "sample_ok boolean, var_ordered boolean, centered boolean, "
                "axes_uncorrelated boolean",
            )
        xs = [r["x"] for r in rows]
        ys = [r["y"] for r in rows]
        mx, my = sum(xs) / n, sum(ys) / n
        vx = sum((v - mx) ** 2 for v in xs) / n
        vy = sum((v - my) ** 2 for v in ys) / n
        cxy = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / n
        corr = cxy / max((vx * vy) ** 0.5, 1e-300)
        return spark.createDataFrame(
            [(
                bool(n >= 50),
                bool(vx >= vy),
                bool(abs(mx) < 1e-4 and abs(my) < 1e-4),
                bool(abs(corr) < 0.01),
            )],
            "sample_ok boolean, var_ordered boolean, centered boolean, "
            "axes_uncorrelated boolean",
        )

    def lsh_edges_exactness(spark, sf):  # J1 contract: LSH edges carry EXACT
        # distances.  The edge SET is approximate (recall pinned by
        # knn_lsh_recall) but every emitted edge must be exact: its dist2
        # matches the expression-recomputed distance (float32-storage
        # tolerance; measured max diff 3.7e-7), no self loops, and exactly
        # k edges per source.
        from vectordb_watermark_spark.operators import knn as K

        df = _vectors(spark, sf)
        edges = K.knn_edges_lsh(df, k=KNN_K, key=KEY, dim=64).cache()
        try:
            joined = (
                edges.join(df.select(F.col("id").alias("src"), F.col("emb").alias("va")), "src")
                .join(df.select(F.col("id").alias("dst"), F.col("emb").alias("vb")), "dst")
            )
            chk = joined.agg(
                F.max(F.abs(F.col("dist2") - V.sq_euclidean(F.col("va"), F.col("vb")))).alias("md"),
                F.sum((F.col("src") == F.col("dst")).cast("int")).alias("loops"),
            ).first()
            per_src = edges.groupBy("src").count().agg(
                F.min("count").alias("lo"), F.max("count").alias("hi")
            ).first()
        finally:
            edges.unpersist()
        return spark.createDataFrame(
            [(
                bool(chk["md"] is not None and chk["md"] < 1e-5),
                bool((chk["loops"] or 0) == 0),
                bool(per_src["lo"] == KNN_K and per_src["hi"] == KNN_K),
                int(KNN_K),
            )],
            "dist_exact boolean, no_self_loops boolean, k_edges_per_src boolean, k int",
        )

    def knn_lsh_recall(spark, sf):  # J1 LSH contract: recall vs exact graph.
        # Inequality oracle (VERDICT r2 item 6): the DuckDB twin pins the
        # constant row (TRUE, 0.95, K); the Spark side only reproduces it when
        # the LSH graph actually achieves >= 95% recall of the exact k-NN
        # graph, so a recall regression turns this gate row red.
        from vectordb_watermark_spark.operators import knn as K

        df = _vectors(spark, sf)
        exact = K.knn_edges_exact(df, k=KNN_K).select("src", "dst")
        approx = K.knn_edges_lsh(
            df, k=KNN_K, key=KEY, dim=64, n_bits=3, n_tables=16
        ).select("src", "dst")
        total = exact.count()
        hit = exact.join(approx, ["src", "dst"], "left_semi").count()
        recall = hit / max(total, 1)
        return spark.createDataFrame(
            [(bool(recall >= 0.95), 0.95, int(KNN_K))],
            "recall_ok boolean, min_recall double, k int",
        )

    def watermark_roundtrip(spark, sf):  # P6/P7/P8/P11/P12 composite
        # Contract-oracle version of the engine's headline composite query:
        # the pipeline is keyed-hash deterministic end to end (nonce pinned
        # like tools/attack_grid.py), so success/msg_match/16-blocks are
        # pinnable constants, total_decodes equals the deterministic carrier
        # count min(max(floor(N*rate), 16), N), and the clean-decode floor
        # (valid >= 90% of total; measured 100%) is an inequality contract.
        from vectordb_watermark_spark.plans.embed import embed_watermark
        from vectordb_watermark_spark.plans.extract import extract_watermark

        df = _vectors(spark, sf)
        res = embed_watermark(
            df, "SPARK-GRAFT-2026", KEY, rate=0.2, knn_method="exact", nonce=bytes(12)
        )
        out = extract_watermark(res.updated, KEY, res.nonce_hex, rate=0.2, knn_method="exact")
        return spark.createDataFrame(
            [(
                bool(out.success),
                bool(out.message == "SPARK-GRAFT-2026"),
                int(out.recovered_blocks),
                int(out.total_decodes),
                bool(out.valid_decodes >= int(0.9 * out.total_decodes)),
            )],
            "success boolean, msg_match boolean, recovered_blocks int, "
            "total_decodes bigint, decode_floor_ok boolean",
        )

    def _ann_mean_recall(spark, sf, topk_fn, query_ids=(0, 1, 2)) -> float:
        # mean recall@10 over several query points: single-query recall at
        # 500 rows swings +/-0.1 per hit, so the contract rides on the mean
        # (measured IVF per-query [0.8, 0.7, 0.9] -> mean 0.8)
        df = _vectors(spark, sf)
        recalls = []
        for qid in query_ids:
            qv = [float(x) for x in df.filter(F.col("id") == qid).first()["emb"]]
            sub = df.filter(F.col("id") != qid)
            brute = {r["id"] for r in S.topk_cosine(sub, qv, 10).collect()}
            approx = {r["id"] for r in topk_fn(sub, qv)}
            recalls.append(len(brute & approx) / max(len(brute), 1))
        return sum(recalls) / len(recalls)

    def ivf_recall(spark, sf):  # IVF ANN inequality contract vs brute top-k
        # mean recall@10 over 3 queries with n_probe=8/16 centroids measured
        # 0.8 at sf0.01; pinned floor 0.7.  Keyed-hash deterministic.
        recall = _ann_mean_recall(
            spark, sf,
            lambda sub, qv: S.ivf_topk_cosine(
                sub, qv, k=10, n_centroids=16, n_probe=8
            ).collect(),
        )
        return spark.createDataFrame(
            [(bool(recall >= 0.7), 0.7, 10)],
            "recall_ok boolean, min_recall double, k int",
        )

    def lsh_recall(spark, sf):  # sign-LSH ANN inequality contract
        # mean recall@10 over 3 queries with 16 tables x 4 bits measured 1.0
        # at sf0.01; pinned floor 0.8.  Hyperplanes keyed-hash derived.
        recall = _ann_mean_recall(
            spark, sf,
            lambda sub, qv: S.lsh_topk_cosine(
                sub, qv, k=10, n_tables=16, n_bits=4
            ).collect(),
        )
        return spark.createDataFrame(
            [(bool(recall >= 0.8), 0.8, 10)],
            "recall_ok boolean, min_recall double, k int",
        )

    def pq_recall(spark, sf):  # product-quantization ANN inequality contract
        # ADC shortlist (80) + exact re-rank, m=8 n_codes=64: mean recall@10
        # over 3 queries measured 0.93-1.0 at sf0.01; pinned floor 0.6.
        # Keyed-hash-seeded training; see operators/pq.py.
        from vectordb_watermark_spark.operators import pq as P

        df = _vectors(spark, sf)
        books = P.pq_train(df, m=8, n_codes=64, n_iters=4)
        codes = P.pq_encode(df, books).cache()
        total = 0.0
        for qid in (0, 7, 13):
            qv = [float(x) for x in df.filter(F.col("id") == qid).first()["emb"]]
            sub = df.filter(F.col("id") != qid)
            exact = {r["id"] for r in S.topk_cosine(sub, qv, 10, "id", "emb").collect()}
            got = {
                r["id"]
                for r in P.pq_topk_cosine(
                    sub, qv, k=10, codebooks=books,
                    codes=codes.filter(F.col("id") != qid),
                    rerank_with=sub, shortlist=80,
                ).collect()
            }
            total += len(exact & got) / 10.0
        codes.unpersist()
        return spark.createDataFrame(
            [(bool(total / 3 >= 0.6), 0.6, 10)],
            "recall_ok boolean, min_recall double, k int",
        )

    def ann_batch_exactness(spark, sf):  # batched multi-query ANN contract
        # ivf_query_index_batch must return EXACTLY the single-query path's
        # (id, cos, rank) per query while scanning the probed partitions
        # once (plan pinned by test; the agreement is the contract here)
        import shutil
        import tempfile

        from vectordb_watermark_spark.operators.similarity import (
            ivf_query_index,
            ivf_query_index_batch,
            ivf_write_index,
        )

        df = _vectors(spark, sf)
        tmp = tempfile.mkdtemp(prefix="annbatch-")
        try:
            idx = f"{tmp}/ivf"
            ivf_write_index(df, idx, n_centroids=16, key="ivf")
            qids = [0, 7, 13, 21, 40]
            qvecs = {
                r["id"]: [float(x) for x in r["emb"]]
                for r in df.filter(F.col("id").isin(qids)).collect()
            }
            queries = spark.createDataFrame(
                [(int(q), qvecs[q]) for q in qids], "qid long, qvec array<float>"
            )
            by_q: dict = {}
            for r in ivf_query_index_batch(
                spark, idx, queries, k=10, n_probe=6
            ).collect():
                by_q.setdefault(r["qid"], []).append((r["rank"], r["id"], r["cos"]))
            ok = True
            for q in qids:
                single = [
                    (r["rank"], r["id"], r["cos"])
                    for r in ivf_query_index(
                        spark, idx, qvecs[q], k=10, n_probe=6
                    ).collect()
                ]
                ok = ok and sorted(by_q.get(q, [])) == sorted(single)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return spark.createDataFrame(
            [(bool(ok), len(qids), 10)],
            "batch_agrees boolean, n_queries int, k int",
        )

    def text_normalize(spark, sf):  # Unicode NFC + whitespace-collapse pass
        # combining-sequence prefix/suffix injected so the NFC work is real:
        # 'e'+U+0301 must compose to the precomposed e-acute ('x'+U+0301 has
        # no precomposition and must pass through), whitespace runs collapse
        from vectordb_watermark_spark.functions.text import normalize_text

        d = _docs(spark, sf)
        messy = d.select(
            "doc_id",
            F.concat(
                F.lit("Cafe\u0301 \t "), F.col("text"),
                F.lit(" \n x\u0301y"),
            ).alias("text"),
        )
        return normalize_text(messy)

    def lm_quality_buckets(spark, sf):  # CCNet head/middle/tail per source
        from vectordb_watermark_spark.operators.quality import (
            lm_quality_buckets as _buckets,
        )

        return _buckets(_docs(spark, sf))

    def doc_chunks(spark, sf):  # sliding-window chunking (RAG/embedding prep)
        from vectordb_watermark_spark.operators.packing import chunk_documents

        return chunk_documents(_docs(spark, sf), chunk_tokens=40, overlap=10)

    def embedding_outliers(spark, sf):  # robust per-dim vector QC gate
        return V.embedding_outlier_flags(_vectors(spark, sf))

    def rag_pipeline(spark, sf):  # end-to-end retrieval prep (round 9)
        # normalize -> chunk -> hash-embed -> persisted IVF index -> batched
        # top-k query, ONE composed gate row the way corpus_curation pins
        # the curation chain.  n_probe == n_centroids probes every
        # partition, so the index query is EXACTLY brute-force top-k over
        # the chunk embeddings — hash-exact vs DuckDB running the same
        # chain declaratively, and robust to any centroid jitter (probe-all
        # results are assignment-independent).  Plan: map-only until the
        # embed groupBy; the index shuffle is the partitioned write.

        from vectordb_watermark_spark.functions.text import (
            hash_embed_documents,
            normalize_text,
        )
        from vectordb_watermark_spark.operators.packing import chunk_documents
        from vectordb_watermark_spark.operators.similarity import (
            ivf_query_index_batch,
            ivf_write_index,
        )

        norm = normalize_text(_docs(spark, sf))  # (doc_id, norm_text)
        chunks = chunk_documents(
            norm, chunk_tokens=40, overlap=10, text_col="norm_text"
        )
        cdocs = chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"),
            F.col("chunk_text").alias("text"),
        )
        emb = hash_embed_documents(cdocs)  # sparse (id, pos, val), 6-dp
        dense = (
            emb.groupBy("id")
            .agg(
                F.map_from_arrays(
                    F.collect_list("pos"), F.collect_list("val")
                ).alias("m")
            )
            .select(
                "id",
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda p: F.coalesce(F.element_at("m", p), F.lit(0.0)),
                ).cast("array<float>").alias("emb"),
            )
        )
        (path,) = _scratch(sf, "oracle_rag_index")
        import shutil

        try:
            ivf_write_index(dense, path, n_centroids=8)
            vecs = spark.read.parquet(f"{path}/vectors")
            qblock = vecs.filter(F.col("id").isin([0, 7000, 13000])).select(
                F.col("id").alias("qid"), F.col("v").alias("qvec")
            )
            res = ivf_query_index_batch(spark, path, qblock, k=5, n_probe=8)
            # materialize before removing the scratch index: the returned
            # DataFrame must not depend on the on-disk tree (gate runs would
            # otherwise accumulate stale index dirs — round-10 advice)
            return spark.createDataFrame(res.toPandas(), schema=res.schema)
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def url_curation(spark, sf):  # URL canonicalization (RefinedWeb stage 1)
        # synthetic messy URLs (upper-case scheme/host, default port,
        # tracking params, fragment) exercise every normalization rule
        from vectordb_watermark_spark.functions.text import (
            url_domain,
            url_normalize,
        )

        d = _docs(spark, sf)
        messy = F.concat(
            F.lit("HTTPS://WWW."), F.col("source"),
            F.lit(".Example.COM:443/Path/"), F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&id="), F.col("doc_id").cast("string"),
            F.lit("&fbclid=abc&keep=1#frag"),
        )
        return d.select(
            "doc_id",
            url_normalize(messy).alias("url_norm"),
            url_domain(messy).alias("domain"),
        )

    def semdedup_contract(spark, sf):  # SemDeDup invariants contract
        # cluster-bounded semantic dedup (Abbas et al. 2023 shape): every
        # row present, keep <=> canonical==id, canonical is the component
        # min (never > id), and every canonical row is itself kept
        from vectordb_watermark_spark.operators.similarity import semantic_dedup

        df = _vectors(spark, sf)
        out = semantic_dedup(df, n_clusters=8, eps=0.1).cache()
        try:
            n = out.count()
            keep_iff = (
                out.filter(
                    F.col("keep") != (F.col("canonical") == F.col("id"))
                ).count() == 0
            )
            canon_le = out.filter(F.col("canonical") > F.col("id")).count() == 0
            dangling = (
                out.select(F.col("canonical").alias("id")).distinct()
                .join(out.filter("keep").select("id"), "id", "left_anti")
                .count() == 0
            )
        finally:
            out.unpersist()
        return spark.createDataFrame(
            [(int(n), bool(keep_iff), bool(canon_le), bool(dangling))],
            "n_rows long, keep_iff_canonical boolean, "
            "canonical_is_min boolean, canonicals_kept boolean",
        )

    def ivf_drift_contract(spark, sf):  # IVF maintenance machinery (round 9)
        # fresh build -> drift ratio is 1 by construction (distortion equals
        # the recorded baseline); compaction preserves rows and re-records a
        # unit baseline; partition skew is a sane >= 1 number.  Pins the
        # drift metric + compaction path in the driver gate.

        from vectordb_watermark_spark.operators.similarity import (
            ivf_compact_index,
            ivf_index_drift,
            ivf_write_index,
        )

        (path,) = _scratch(sf, "oracle_ivf_drift")
        import shutil

        df = _vectors(spark, sf)
        n = df.count()
        try:
            ivf_write_index(df, path, n_centroids=8)
            d0 = ivf_index_drift(spark, path)
            ivf_compact_index(spark, path)
            d1 = ivf_index_drift(spark, path)
        finally:
            # scratch index is fully consumed into d0/d1 scalars — remove it
            # so gate runs never accumulate stale index trees (round-10 advice)
            shutil.rmtree(path, ignore_errors=True)

        def unit(d):
            return bool(
                d["drift_ratio"] is not None and abs(d["drift_ratio"] - 1.0) <= 1e-5
            )

        return spark.createDataFrame(
            [(
                int(d0["n_rows"]),
                unit(d0),
                unit(d1),
                bool(d1["n_rows"] == n),
                bool(d0["partition_skew"] >= 1.0),
            )],
            "n_rows long, fresh_ratio_unit boolean, compacted_ratio_unit "
            "boolean, rows_preserved boolean, skew_sane boolean",
        )

    def pq_drift_contract(spark, sf):  # IVF-PQ maintenance metric (round 10)
        # the compressed twin of ivf_drift_contract: fresh build -> decoded
        # residual energy equals the recorded baseline (ratio 1) and the
        # code-usage histogram equals its baseline (TV 0); compaction from
        # source preserves rows and re-records unit baselines; partition
        # skew sane.  Pins ivf_pq_index_drift + the PQ manifest commit.
        import shutil

        from vectordb_watermark_spark.operators.pq import (
            ivf_pq_compact_index,
            ivf_pq_index_drift,
            ivf_pq_write_index,
        )

        (path,) = _scratch(sf, "oracle_pq_drift")
        df = _vectors(spark, sf)
        n = df.count()
        try:
            ivf_pq_write_index(df, path, n_centroids=8, m=8, n_codes=16)
            d0 = ivf_pq_index_drift(spark, path)
            ivf_pq_compact_index(df, path)
            d1 = ivf_pq_index_drift(spark, path)
        finally:
            shutil.rmtree(path, ignore_errors=True)

        def unit(d):
            return bool(
                d["drift_ratio"] is not None and abs(d["drift_ratio"] - 1.0) <= 1e-5
                and d["code_tv"] is not None and d["code_tv"] <= 1e-9
            )

        return spark.createDataFrame(
            [(
                int(d0["n_rows"]),
                unit(d0),
                unit(d1),
                bool(d1["n_rows"] == n),
                bool(d0["partition_skew"] >= 1.0),
            )],
            "n_rows long, fresh_unit boolean, compacted_unit boolean, "
            "rows_preserved boolean, skew_sane boolean",
        )

    def pq_tagged_contract(spark, sf):  # tagged PQ maintenance (round 11)
        # pins the tag-preserving IVF-PQ lifecycle: a batch_col compaction
        # keeps the tagged centroid/batch layout, a
        # tag-aware append lands under a claimed append-N tag, and a
        # second tagged compaction PRESERVES the tags, re-creates the
        # claim files, carries next_append_seq forward, and re-records
        # unit drift baselines — the invariants that make a streaming
        # checkpoint retry overwrite its own partitions after maintenance
        # (streaming/curation.incremental_pq_index depends on all of them).
        import os
        import shutil

        from vectordb_watermark_spark.operators.pq import (
            ivf_pq_append_index,
            ivf_pq_compact_index,
            ivf_pq_index_drift,
            ivf_pq_write_index,
        )
        from vectordb_watermark_spark.operators.similarity import (
            _load_index_meta,
            _resolve_index_root,
        )

        (path,) = _scratch(sf, "oracle_pq_tagged")
        df = _vectors(spark, sf)
        n = df.count()
        half = df.filter(F.col("id") % 2 == 0)
        rest = df.filter(F.col("id") % 2 == 1)
        n_half = half.count()
        try:
            ivf_pq_write_index(half, path, n_centroids=8, m=8, n_codes=16)
            # tags ride the encode kernel
            ivf_pq_compact_index(
                half.withColumn("batch", F.lit("full")), path, batch_col="batch"
            )
            root = _resolve_index_root(spark, path)
            codes = spark.read.parquet(f"{root}/codes")
            tagged = "batch" in codes.schema.fieldNames()
            # tag-aware append: fresh append-1 tag + claim + sidecar bump
            n_app = ivf_pq_append_index(rest, path)
            tags1 = {
                str(r["batch"])
                for r in spark.read.parquet(f"{root}/codes")
                .select("batch").distinct().collect()
            }
            meta1 = _load_index_meta(spark, root)
            # tagged recompaction: tags/claims/sequence survive the rebuild
            src = spark.read.parquet(f"{root}/codes").select("id", "batch").join(
                df, "id"
            )
            ivf_pq_compact_index(src, path, batch_col="batch")
            root2 = _resolve_index_root(spark, path)
            codes2 = spark.read.parquet(f"{root2}/codes")
            tags2 = {
                str(r["batch"])
                for r in codes2.select("batch").distinct().collect()
            }
            meta2 = _load_index_meta(spark, root2)
            claim_ok = os.path.exists(f"{root2}/append_claims/append-1.claim")
            d = ivf_pq_index_drift(spark, path)
            rows2 = codes2.count()
        finally:
            shutil.rmtree(path, ignore_errors=True)

        return spark.createDataFrame(
            [(
                int(n),
                bool(tagged),
                bool(n_app == n - n_half),
                bool(tags1 == {"full", "append-1"}),
                bool(tags2 == tags1 and claim_ok),
                bool(
                    int(meta1["next_append_seq"]) == 2
                    and int(meta2["next_append_seq"]) == 2
                ),
                bool(rows2 == n),
                bool(
                    d["drift_ratio"] is not None
                    and abs(d["drift_ratio"] - 1.0) <= 1e-5
                    and d["code_tv"] is not None and d["code_tv"] <= 1e-9
                ),
            )],
            "n_rows long, tagged_layout boolean, append_counted boolean, "
            "append_tagged boolean, tags_preserved boolean, seq_carried boolean, "
            "rows_preserved boolean, compacted_unit boolean",
        )

    def ann_delete_contract(spark, sf):  # tombstone deletes (round 11)
        # pins similarity.ivf_delete_ids end-to-end on the persisted raw
        # IVF index: deletes mask ids from BOTH query paths immediately,
        # the drift metric reports the dead fraction over live rows, and
        # compaction FOLDS the tombstones (rows dropped, set not carried).
        import os
        import shutil

        from vectordb_watermark_spark.operators.similarity import (
            _resolve_index_root,
            ivf_compact_index,
            ivf_delete_ids,
            ivf_index_drift,
            ivf_query_index,
            ivf_query_index_batch,
            ivf_write_index,
        )

        (path,) = _scratch(sf, "oracle_ann_delete")
        df = _vectors(spark, sf)
        n = df.count()
        try:
            ivf_write_index(df, path, n_centroids=8, key="del")
            qv = [float(x) for x in df.filter(F.col("id") == 0).first()["emb"]]
            top = [
                int(r["id"])
                for r in ivf_query_index(spark, path, qv, k=8, n_probe=8).collect()
            ]
            victims = top[:4]
            n_del = ivf_delete_ids(spark, path, victims)
            single = [
                int(r["id"])
                for r in ivf_query_index(spark, path, qv, k=8, n_probe=8).collect()
            ]
            qblock = spark.createDataFrame([(0, qv)], "qid long, qvec array<double>")
            batch = [
                int(r["id"])
                for r in ivf_query_index_batch(
                    spark, path, qblock, k=8, n_probe=8
                ).collect()
            ]
            d = ivf_index_drift(spark, path)
            ivf_compact_index(spark, path, key="del2")
            root = _resolve_index_root(spark, path)
            folded_rows = spark.read.parquet(f"{root}/vectors").count()
            tomb_gone = not os.path.exists(f"{root}/tombstones")
            after = [
                int(r["id"])
                for r in ivf_query_index(spark, path, qv, k=8, n_probe=8).collect()
            ]
            d2 = ivf_index_drift(spark, path)
        finally:
            shutil.rmtree(path, ignore_errors=True)

        return spark.createDataFrame(
            [(
                int(n),
                bool(n_del == 4),
                bool(not set(victims) & set(single)),
                bool(sorted(batch) == sorted(single)),
                bool(
                    d["n_rows"] == n - 4
                    and d["dead_fraction"] == round(4 / n, 6)
                ),
                bool(folded_rows == n - 4 and tomb_gone),
                bool(
                    not set(victims) & set(after)
                    and d2["dead_fraction"] == 0.0
                ),
            )],
            "n_rows long, delete_counted boolean, single_masked boolean, "
            "batch_agrees boolean, drift_live boolean, fold_clean boolean, "
            "post_fold_masked boolean",
        )

    def opq_contract(spark, sf):  # parametric-OPQ rotation (round 11)
        # pins operators/opq.py end-to-end on the persisted IVF-PQ index:
        # the trained rotation is orthonormal, rotation preserves pairwise
        # cosine (orthogonal transform), an opq=True index stores the
        # sidecar and answers single == batch, the exact rerank runs in
        # the ORIGINAL space (own row scores 1.0), and OPQ reconstruction
        # MSE is not worse than plain PQ at the same geometry.
        import shutil

        import numpy as np

        from vectordb_watermark_spark.operators.opq import (
            opq_train_rotation,
            rotate_vectors,
        )
        from vectordb_watermark_spark.operators.pq import (
            _load_rotation,
            _pq_base,
            ivf_pq_query_index,
            ivf_pq_query_index_batch,
            ivf_pq_write_index,
            pq_reconstruction_mse,
            pq_train,
        )

        (path,) = _scratch(sf, "oracle_opq")
        df = _vectors(spark, sf)
        n = df.count()
        try:
            base = _pq_base(df, "id", "emb")
            R = opq_train_rotation(base, m=8, vec_col="v")
            d = R.shape[0]
            orthonormal = bool(np.allclose(R @ R.T, np.eye(d), atol=1e-8))
            # pairwise cosine preserved under the rotation (first 20 rows)
            head = [
                (int(r["id"]), np.asarray(r["v"], dtype=np.float64))
                for r in base.filter(F.col("id") < 20).collect()
            ]
            rot_head = {
                int(r["id"]): np.asarray(r["v"], dtype=np.float64)
                for r in rotate_vectors(
                    base.filter(F.col("id") < 20), R, vec_col="v"
                ).collect()
            }

            def cos(a, b):
                return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

            cos_ok = all(
                abs(cos(x, y) - cos(rot_head[i], rot_head[j])) < 1e-5
                for (i, x) in head[:5]
                for (j, y) in head[:5]
                if i != j
            )
            # MSE at the same geometry: rotated not worse (tolerance for
            # near-isotropic corpora where the gain is ~0)
            rot = rotate_vectors(base, R, vec_col="v")
            mse_p = pq_reconstruction_mse(
                base, pq_train(base, m=8, n_codes=16, n_iters=3,
                               id_col="id", vec_col="v"),
                id_col="id", vec_col="v",
            )
            mse_o = pq_reconstruction_mse(
                rot, pq_train(rot, m=8, n_codes=16, n_iters=3,
                              id_col="id", vec_col="v"),
                id_col="id", vec_col="v",
            )
            mse_ok = bool(mse_o <= 1.05 * mse_p)
            # persisted lifecycle: sidecar stored, single == batch, exact
            # rerank in original space
            ivf_pq_write_index(
                df, path, n_centroids=8, m=8, n_codes=16, opq=True, key="opq"
            )
            stored = _load_rotation(spark, path) is not None
            qv = [float(x) for x in df.filter(F.col("id") == 0).first()["emb"]]
            single = [
                (int(r["id"]), float(r["cos"]))
                for r in ivf_pq_query_index(
                    spark, path, qv, k=8, n_probe=8
                ).collect()
            ]
            qblock = spark.createDataFrame(
                [(0, qv)], "qid long, qvec array<double>"
            )
            batch = [
                (int(r["id"]), float(r["cos"]))
                for r in ivf_pq_query_index_batch(
                    spark, path, qblock, k=8, n_probe=8
                ).collect()
            ]
            rr = ivf_pq_query_index(
                spark, path, qv, k=3, n_probe=8, rerank_with=df
            ).collect()
            rerank_ok = bool(
                int(rr[0]["id"]) == 0 and abs(float(rr[0]["cos"]) - 1.0) < 1e-6
            )
        finally:
            shutil.rmtree(path, ignore_errors=True)

        return spark.createDataFrame(
            [(
                int(n),
                orthonormal,
                bool(cos_ok),
                mse_ok,
                bool(stored),
                bool(single == batch),
                rerank_ok,
            )],
            "n_rows long, r_orthonormal boolean, cosine_preserved boolean, "
            "mse_not_worse boolean, sidecar_stored boolean, "
            "single_batch_agree boolean, rerank_original_space boolean",
        )

    def knn_pagerank(spark, sf):  # graph centrality (round 11)
        # PageRank over the exact kNN graph (operators/graph.pagerank):
        # per-iteration 12-dp rounding pins Spark and the unrolled DuckDB
        # twin to the same float trajectory (see graph.py docstring); the
        # kNN graph has uniform out-degree k, so dangling mass is zero in
        # both engines.  Personalized teleport is pinned by pytest.
        from vectordb_watermark_spark.operators import knn as K
        from vectordb_watermark_spark.operators.graph import pagerank

        df = _vectors(spark, sf)
        edges = K.knn_edges_exact(df, k=KNN_K)
        pr = pagerank(
            edges, damping=0.85, n_iter=3,
            nodes=df.select("id"), round_dp=12,
        )
        return pr.select("node", F.round("pr", 9).alias("pr"))

    def knn_pagerank_weighted(spark, sf):  # weighted propagation (round 12)
        # similarity-WEIGHTED PageRank over the same exact kNN graph:
        # edge weight w = round(1/(1+dist2), 9) (identical 9-dp pin in
        # both engines — verified edge-set- and weight-identical at
        # sf0.1), share = pr * w / sum_w(src); the DuckDB twin unrolls
        # the 3 weighted iterations with 10-dp trajectory rounding.  The
        # trajectory value is emitted AS IS: a second, coarser rounding
        # would re-expose exact-.5 ties to the engines' differing
        # half-rounding rules (observed once at sf0.1).
        from vectordb_watermark_spark.operators import knn as K
        from vectordb_watermark_spark.operators.graph import pagerank

        df = _vectors(spark, sf)
        edges = K.knn_edges_exact(df, k=KNN_K).withColumn(
            "w", F.round(1.0 / (1.0 + F.col("dist2")), 9)
        )
        pr = pagerank(
            edges, damping=0.85, n_iter=3,
            nodes=df.select("id"), round_dp=10, weight_col="w",
        )
        return pr.select("node", (F.col("pr") + F.lit(0.0)).alias("pr"))

    def whitening_contract(spark, sf):  # retrieval whitening (round 11)
        # pins opq.whitening_transform / whiten_embeddings (Su et al. 2021):
        # the whitened corpus has ~zero mean and ~identity covariance,
        # whitening-k truncates to k dims with the same properties, and
        # the distributed transform matches the numpy closed form computed
        # from the SAME distributed moments.
        import numpy as np

        from vectordb_watermark_spark.operators.opq import (
            _corpus_moments,
            affine_transform_vectors,
            whiten_embeddings,
            whitening_transform,
        )
        from vectordb_watermark_spark.operators.pq import _pq_base

        df = _vectors(spark, sf)
        n = df.count()
        base = _pq_base(df, "id", "emb")
        mean, W = whitening_transform(base, vec_col="v")
        d = mean.size
        Y = np.stack([
            np.asarray(r["v"], dtype=np.float64)
            for r in whiten_embeddings(base, vec_col="v").collect()
        ])
        mean_zero = bool(np.allclose(Y.mean(axis=0), 0.0, atol=1e-3))
        cov = np.cov(Y, rowvar=False, bias=True)
        cov_identity = bool(np.allclose(cov, np.eye(d), atol=1e-2))
        # whitening-k: 16-d output, still identity covariance
        Yk = np.stack([
            np.asarray(r["v"], dtype=np.float64)
            for r in whiten_embeddings(base, vec_col="v", k=16).collect()
        ])
        k_ok = bool(
            Yk.shape[1] == 16
            and np.allclose(
                np.cov(Yk, rowvar=False, bias=True), np.eye(16), atol=1e-2
            )
        )
        # numpy twin from the same moments: distributed apply == closed form
        head = {
            int(r["id"]): np.asarray(r["v"], dtype=np.float64)
            for r in base.filter(F.col("id") < 20).collect()
        }
        applied = {
            int(r["id"]): np.asarray(r["v"], dtype=np.float64)
            for r in affine_transform_vectors(
                base.filter(F.col("id") < 20), W, mean=mean, vec_col="v"
            ).collect()
        }
        twin_ok = all(
            np.allclose(applied[i], (head[i] - mean) @ W, atol=1e-3)
            for i in head
        )
        return spark.createDataFrame(
            [(int(n), mean_zero, cov_identity, k_ok, bool(twin_ok))],
            "n_rows long, mean_zero boolean, cov_identity boolean, "
            "k_truncation_ok boolean, matches_closed_form boolean",
        )

    def ivf_topk(spark, sf):  # approximate ANN: rows-only
        df = _vectors(spark, sf)
        qv = [float(x) for x in df.filter(F.col("id") == 0).first()["emb"]]
        return S.ivf_topk_cosine(df.filter(F.col("id") != 0), qv, k=10)

    def lsh_topk(spark, sf):  # approximate ANN via sign-LSH prefilter: rows-only
        df = _vectors(spark, sf)
        qv = [float(x) for x in df.filter(F.col("id") == 0).first()["emb"]]
        return S.lsh_topk_cosine(df.filter(F.col("id") != 0), qv, k=10, n_tables=12, n_bits=4)

    def funnel_events(spark, sf):  # ordered funnel over events (round 12)
        # analytics.funnel: one collect_list shuffle + sequential HOF
        # step folds; the oracle unrolls the same strict-ordering chain
        # as per-step min-ts CTEs
        from vectordb_watermark_spark.operators.analytics import funnel

        return funnel(_t(spark, sf, "events"), ["view", "click", "purchase"])

    def retention_cohorts_events(spark, sf):  # weekly cohorts (round 12)
        # counts only: n_active/n_cohort pin the whole computation; the
        # retention ratio is a trivial derived division left out of the
        # hash (cross-engine half-rounding on exact .5e-6 ties)
        from vectordb_watermark_spark.operators.analytics import retention_cohorts

        out = retention_cohorts(_t(spark, sf, "events"), granularity="week")
        # cohort as ISO string: DuckDB DATEs surface as pandas Timestamps,
        # so the raw date cell would hash differently despite equal values
        return out.select(
            F.col("cohort").cast("string").alias("cohort"),
            "offset", "n_active", "n_cohort",
        )

    def event_transitions_q(spark, sf):  # Markov transitions (round 12)
        # counts only (see retention note): n pins prob = n / sum(n)
        from vectordb_watermark_spark.operators.analytics import event_transitions

        return event_transitions(_t(spark, sf, "events")).drop("prob")

    def ndcg_eval_q(spark, sf):  # ranking-metric evaluation (round 12)
        # deterministic derived run + labels over documents: qid = doc_id%5,
        # score = (doc_id * 2654435761) % 1000 (Knuth-hash-ish, exact int64
        # in both engines), graded rel from doc_id divisibility — pins
        # ndcg_at_k's rank windows, gain sum, ideal ranking, and MRR term
        from vectordb_watermark_spark.operators.analytics import ndcg_at_k

        docs = _docs(spark, sf)
        results = docs.select(
            (F.col("doc_id") % 5).alias("qid"),
            "doc_id",
            ((F.col("doc_id") * F.lit(2654435761).cast("long")) % 1000)
            .cast("double").alias("score"),
        )
        qrels = docs.select(
            (F.col("doc_id") % 5).alias("qid"),
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, 2)
            .when(F.col("doc_id") % 3 == 0, 1)
            .otherwise(0).alias("rel"),
        )
        return ndcg_at_k(results, qrels, k=10)

    def roc_auc_events(spark, sf):  # exact tie-aware AUC (round 12)
        # label = purchase, score = value quantized to integer deci-units
        # via floor(v*10 + 0.5) (identical IEEE ops in both engines —
        # round(v, 1) would hit the engines' differing half-rounding on
        # two-decimal inputs); the quantization forces tie groups through
        # the midrank path, and every sum in the rank-sum identity is an
        # exact multiple of 0.5, so 9-dp rounding is deterministic
        from vectordb_watermark_spark.operators.analytics import roc_auc

        scored = _t(spark, sf, "events").select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
            F.floor(F.col("value") * 10 + 0.5).cast("long").alias("score"),
        )
        return roc_auc(scored)

    def psi_drift_embeddings(spark, sf):  # distribution drift (round 12)
        # base = even vec_ids, cand = odd vec_ids with label%3 != 0 (a real
        # covariate shift); the operator's single 6-dp rounding is emitted
        # AS IS (+0.0 only normalizes -0.0) — no second rounding
        from vectordb_watermark_spark.operators.analytics import psi_per_dim

        emb = _vectors(spark, sf).join(
            _t(spark, sf, "embeddings").select(
                F.col("vec_id").alias("id"), "label"
            ),
            "id",
        )
        base = emb.filter(F.col("id") % 2 == 0)
        cand = emb.filter((F.col("id") % 2 == 1) & (F.col("label") % 3 != 0))
        out = psi_per_dim(base, cand, vec_col="emb")
        return out.select("dim", (F.col("psi") + F.lit(0.0)).alias("psi"))

    def triangle_count_knn(spark, sf):  # graph triangles (round 12)
        # per-node triangle participation over the exact kNN graph —
        # degree-ordered wedge join in Spark, id-canonical two-join twin
        # in DuckDB (the count is orientation-invariant)
        from vectordb_watermark_spark.operators import knn as K
        from vectordb_watermark_spark.operators.graph import triangle_count

        df = _vectors(spark, sf)
        edges = K.knn_edges_exact(df, k=KNN_K)
        return triangle_count(edges, per_node=True)

    def expectations_docs(spark, sf):  # declarative data-quality gate (round 12)
        # quality.check_expectations: 7 rules of every type compiled into
        # ONE aggregate scan; the rule mix is chosen to exercise both the
        # pass and the violation paths on real data (es docs violate
        # in_set, long docs violate in_range, non-src1* violate matches)
        from vectordb_watermark_spark.operators.quality import check_expectations

        return check_expectations(_docs(spark, sf), [
            {"type": "not_null", "col": "text"},
            {"type": "unique", "col": "doc_id"},
            {"type": "in_range", "col": "n_chars", "min": 0, "max": 500},
            {"type": "in_set", "col": "lang", "values": ["en", "de", "fr", "zh"]},
            {"type": "matches", "col": "source", "pattern": "^src1"},
            {"type": "min_rows", "n": 100},
            {"type": "expr", "name": "n_chars_consistent",
             "expr": "n_chars = length(text)"},
        ])

    def calibration_events(spark, sf):  # reliability diagram (round 12)
        # score = exact rational (floor-quantized deci-units mod 20)/20 in
        # [0, 0.95]; label = purchase; per-bin means single-rounded at 6dp
        from vectordb_watermark_spark.operators.analytics import calibration_curve

        scored = _t(spark, sf, "events").select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
            (F.floor(F.col("value") * 10 + 0.5) % 20 / 20.0).alias("score"),
        )
        return calibration_curve(scored, n_bins=10)

    def ece_events(spark, sf):  # expected calibration error (round 12)
        from vectordb_watermark_spark.operators.analytics import (
            expected_calibration_error,
        )

        scored = _t(spark, sf, "events").select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
            (F.floor(F.col("value") * 10 + 0.5) % 20 / 20.0).alias("score"),
        )
        return expected_calibration_error(scored, n_bins=10)

    def key_skew_lineitem(spark, sf):  # join-key skew pre-flight (round 12)
        from vectordb_watermark_spark.operators.partitioning import key_skew_stats

        return key_skew_stats(_t(spark, sf, "lineitem"), "l_suppkey")

    def rm3_docs(spark, sf):  # pseudo-relevance-feedback expansion (round 12)
        # retrieval.rm3_expansion over the same ('batch','data','fast')
        # query the bm25 oracles use: top-10 feedback docs (6-dp-rounded
        # BM25, id tie-break), tf/dl pooling, 0.5 interpolation, top 15
        # expansion terms ranked on the single 9-dp-rounded weight
        from vectordb_watermark_spark.operators.retrieval import rm3_expansion

        return rm3_expansion(
            _docs(spark, sf), ["batch", "data", "fast"], k_docs=10, n_terms=15
        )

    def mmr_contract(spark, sf):  # MMR diversification contract (round 12)
        # candidates derived from embeddings (qid = id%4, rel = keyed-hash
        # rational); invariants: ranks are 1..k per query, picks are a
        # candidate subset, rank-1 = max-rel (id tie-break), and the WHOLE
        # selection equals a driver-side numpy greedy recompute (bounded
        # collect: the candidate table itself)
        from vectordb_watermark_spark.operators.retrieval import mmr_rerank
        import numpy as np

        K, LAM = 8, 0.7
        cand = _vectors(spark, sf).select(
            (F.col("id") % 4).alias("qid"),
            F.col("id").alias("doc_id"),
            (((F.col("id") * F.lit(2654435761).cast("long")) % 1000) / 1000.0)
            .alias("rel"),
            F.col("emb"),
        ).persist()
        out = mmr_rerank(cand, k=K, lam=LAM).persist()

        rows = out.collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        ranks_valid = all(
            sorted(x["mmr_rank"] for x in g) == list(range(1, len(g) + 1))
            for g in by_q.values()
        )
        cand_rows = cand.collect()
        cset = {(r["qid"], r["doc_id"]) for r in cand_rows}
        subset_ok = all((r["qid"], r["doc_id"]) in cset for r in rows)
        # numpy greedy recompute
        greedy_matches = True
        first_pick_ok = True
        for q in by_q:
            grp = sorted(
                (r for r in cand_rows if r["qid"] == q), key=lambda r: r["doc_id"]
            )
            ids = np.array([r["doc_id"] for r in grp])
            rel = np.array([r["rel"] for r in grp], dtype=np.float64)
            V = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in grp])
            V = V / (np.linalg.norm(V, axis=1, keepdims=True) + 1e-12)
            S = V @ V.T
            max_sim = np.zeros(len(ids))
            alive = np.ones(len(ids), dtype=bool)
            picks = []
            for step in range(min(K, len(ids))):
                obj = LAM * rel - (1 - LAM) * (max_sim if picks else 0.0)
                obj = np.where(alive, obj, -np.inf)
                i = int(np.argmax(obj))
                picks.append(int(ids[i]))
                alive[i] = False
                max_sim = np.maximum(max_sim, S[:, i])
            got = [r["doc_id"] for r in sorted(by_q[q], key=lambda r: r["mmr_rank"])]
            if got != picks:
                greedy_matches = False
            top_rel = rel.max()
            best_ids = ids[rel == top_rel]
            if got[0] != int(best_ids.min()):
                first_pick_ok = False
        cand.unpersist()
        out.unpersist()
        return spark.createDataFrame(
            [(len(rows), bool(ranks_valid), bool(subset_ok),
              bool(first_pick_ok), bool(greedy_matches))],
            "n_rows long, ranks_valid boolean, subset_ok boolean, "
            "first_pick_ok boolean, greedy_matches boolean",
        )

    def stream_transitions_events(spark, sf):  # streaming twin (round 12)
        # the events table replayed through the incremental_transitions
        # store as 3 TIME-ORDERED batches (the sink's in-order-per-user
        # contract) must resolve to exactly the batch event_transitions —
        # pinned by the SAME DuckDB twin; counts are integer-exact

        from vectordb_watermark_spark.streaming.curation import (
            ingest_transitions_batch,
            resolve_transitions,
        )

        (store,) = _scratch(sf, "oracle_tr_store")
        ev = _t(spark, sf, "events")
        cuts = ["2024-01-11", "2024-01-21"]
        slices = [
            ev.filter(F.col("ts") < cuts[0]),
            ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
            ev.filter(F.col("ts") >= cuts[1]),
        ]
        for k, s in enumerate(slices):
            ingest_transitions_batch(s, store, k)
        return resolve_transitions(spark, store).drop("prob")

    def ann_ndcg_eval(spark, sf):  # metric ops drive the ANN stack (round 12)
        # composite: hamming_topk_batch results evaluated by ndcg_at_k
        # against graded exact-cosine ground truth (rel = 11 - cos_rank,
        # 6-dp cosine + id tie-break — deterministic in both engines);
        # proves the evaluation operators plug into the search stack the
        # way rag_pipeline proves ingest->index->query
        from pyspark.sql.window import Window

        from vectordb_watermark_spark.operators.analytics import ndcg_at_k
        from vectordb_watermark_spark.operators.similarity import (
            hamming_topk_batch,
        )

        df = _vectors(spark, sf)
        qdf = df.filter(F.col("id") < 3).select(
            F.col("id").alias("qid"),
            F.col("emb").cast("array<double>").alias("qvec"),
        )
        results = hamming_topk_batch(df, qdf, k=10).select(
            "qid",
            F.col("id").alias("doc_id"),
            (-F.col("hamming")).cast("double").alias("score"),
        )
        cos = df.crossJoin(F.broadcast(qdf)).select(
            "qid",
            F.col("id").alias("doc_id"),
            F.round(
                F.expr(
                    "aggregate(zip_with(cast(emb as array<double>), qvec, "
                    "(a, b) -> a * b), 0D, (acc, x) -> acc + x)"
                ),
                6,
            ).alias("c"),
        )
        cw = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("doc_id"))
        qrels = (
            cos.withColumn("crank", F.row_number().over(cw))
            .filter(F.col("crank") <= 10)
            .select("qid", "doc_id", (11 - F.col("crank")).cast("int").alias("rel"))
        )
        return ndcg_at_k(results, qrels, k=10)

    def compact_contract(spark, sf):  # small-file compaction (round 12)
        # a 37-file fragmented copy of documents compacted in place: the
        # gate hashes the FULL post-compaction content against the source
        # table (data preservation through the staged swap), plus a
        # compacted flag pinning that the file count actually dropped

        from vectordb_watermark_spark.sources.io import compact_parquet

        (tbl,) = _scratch(sf, "compact_tbl")
        _docs(spark, sf).repartition(37).write.parquet(tbl)
        stats = compact_parquet(spark, tbl, target_mb=128)
        return spark.read.parquet(tbl).select(
            "doc_id", "lang", "n_chars",
            F.lit(stats["files_after"] < stats["files_before"]).alias("compacted"),
        )

    def session_funnel_events(spark, sf):  # within-session funnel (round 12)
        # gap-sessionize inline (lag + cumsum per user on floored epoch
        # seconds — the raw-epoch-ns reader both engines agree on, same
        # as the sessionize twins), then the SAME funnel operator on the
        # composite (user, session) entity — one parameter change
        from pyspark.sql.window import Window

        from vectordb_watermark_spark.operators.analytics import funnel

        ev = _events(spark, sf).select(
            "event_id", "user_id", "event_type",
            F.col("ts_ns").alias("ts"),
            F.expr("ts_ns DIV 1000000000").alias("sec"),
        )
        w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        lab = (
            ev.withColumn("prev", F.lag("sec").over(w))
            .withColumn(
                "new_s",
                F.when(
                    F.col("prev").isNull()
                    | ((F.col("sec") - F.col("prev")) > 172800),
                    1,
                ).otherwise(0),
            )
            .withColumn("session_id", F.sum("new_s").over(w))
        )
        return funnel(lab, ["view", "click"], user_col=["user_id", "session_id"])

    def rate_anomalies_events(spark, sf):  # burst detection (round 12)
        # hourly buckets, exact median/MAD over the BUCKET-COUNT table
        # (time-range-bounded), modified z in ppm (floor(x*1e6+0.5) —
        # deterministic cross-engine), flag derived from the ppm value
        from vectordb_watermark_spark.operators.analytics import rate_anomalies

        return rate_anomalies(_t(spark, sf, "events"), granularity="hour")

    def funnel_window_events(spark, sf):  # bounded-hop funnel (round 12)
        # view -> click within 24h, click -> purchase within 24h: the
        # conversion-window variant of funnel_events (make_interval hop
        # bound in Spark, INTERVAL arithmetic in the twin)
        from vectordb_watermark_spark.operators.analytics import funnel

        return funnel(
            _t(spark, sf, "events"), ["view", "click", "purchase"],
            within_seconds=86400,
        )

    def join_cardinality_q(spark, sf):  # join pre-flight (round 12)
        # exact orders x lineitem inner-join cardinality from per-key
        # tallies — never materializing the join itself
        from vectordb_watermark_spark.operators.partitioning import (
            join_cardinality,
        )

        return join_cardinality(
            _t(spark, sf, "orders").select(F.col("o_orderkey").alias("k")),
            _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("k")),
            "k",
        )

    def ref_integrity_q(spark, sf):  # cross-table FK expectation (round 12)
        from vectordb_watermark_spark.operators.quality import check_ref_integrity

        return check_ref_integrity(
            _t(spark, sf, "lineitem"), _t(spark, sf, "orders"),
            "l_orderkey", "o_orderkey",
        )

    def table_diff_q(spark, sf):  # migration acceptance diff (round 12)
        # right = documents with doc_id%97 rows dropped, doc_id%10 n_chars
        # bumped, and a doc_id%50 slice re-keyed as new rows — the twin
        # derives all four counts from the same divisibility logic
        from vectordb_watermark_spark.operators.quality import table_diff

        d = _docs(spark, sf).select("doc_id", "lang", "n_chars")
        right = (
            d.filter(F.col("doc_id") % 97 != 0)
            .withColumn(
                "n_chars",
                F.when(
                    F.col("doc_id") % 10 == 0, F.col("n_chars") + 1
                ).otherwise(F.col("n_chars")),
            )
            .unionByName(
                d.filter(F.col("doc_id") % 50 == 0).withColumn(
                    "doc_id", F.col("doc_id") + 1000000
                )
            )
        )
        return table_diff(d, right, "doc_id")

    def funnel_timing_events(spark, sf):  # hop-latency profile (round 12)
        # epoch-ns event time (the raw reader both engines agree on);
        # gaps floored to whole seconds by exact integer DIV, avg as a
        # single floor(x*1000/n + 0.5) of the exact integer sum
        from vectordb_watermark_spark.operators.analytics import funnel_timing

        return funnel_timing(
            _events(spark, sf), ["view", "click", "purchase"],
            ts_col="ts_ns", ns_per_unit=1,
        )

    def rebalance_classes_q(spark, sf):  # class rebalancing (round 12)
        # embeddings undersampled to the smallest label's count — the
        # surviving (vec_id, label) set is a pure keyed-hash function,
        # hash-exact against the same sha256 ordering in DuckDB
        from vectordb_watermark_spark.operators.quality import rebalance_classes

        emb = _t(spark, sf, "embeddings").select("vec_id", "label")
        return rebalance_classes(emb, "label", id_col="vec_id")

    def stream_psi_embeddings(spark, sf):  # streaming drift monitor (round 12)
        # the psi_drift_embeddings candidate corpus REPLAYED through the
        # incremental_psi store in 3 batches must resolve to exactly the
        # batch psi_per_dim — same DuckDB twin, shared tally/formula code

        from vectordb_watermark_spark.streaming.curation import (
            ingest_psi_batch,
            psi_baseline,
            resolve_psi,
        )

        (store,) = _scratch(sf, "oracle_psi_store")
        emb = _vectors(spark, sf).join(
            _t(spark, sf, "embeddings").select(
                F.col("vec_id").alias("id"), "label"
            ),
            "id",
        )
        base = emb.filter(F.col("id") % 2 == 0)
        cand = emb.filter((F.col("id") % 2 == 1) & (F.col("label") % 3 != 0))
        psi_baseline(base, store, vec_col="emb")
        for k in range(3):
            ingest_psi_batch(
                cand.filter(F.col("id") % 3 == k), store, k, vec_col="emb"
            )
        out = resolve_psi(spark, store)
        return out.select("dim", (F.col("psi") + F.lit(0.0)).alias("psi"))

    def roc_auc_by_events(spark, sf):  # sliced evaluation (round 12)
        # the global AUC's per-slice variant: every window/aggregate
        # partitioned by the slice — no single-partition stage at all
        from vectordb_watermark_spark.operators.analytics import roc_auc_by

        scored = _t(spark, sf, "events").select(
            (F.col("user_id") % 4).alias("grp"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
            F.floor(F.col("value") * 10 + 0.5).cast("long").alias("score"),
        )
        return roc_auc_by(scored, "grp").withColumnRenamed("slice", "grp")

    def class_margins_q(spark, sf):  # embedding-space health (round 12)
        # per-label centroid + nearest-other-centroid cosine; centroid
        # components 6-dp rounded ONCE before the trigonometry, arrays
        # folded in identical order in both engines
        from vectordb_watermark_spark.operators.analytics import class_margins

        emb = _t(spark, sf, "embeddings").select(
            "label", F.col("embedding").alias("emb")
        )
        return class_margins(emb)

    def k_core_q(spark, sf):  # dense-subgraph peeling (round 12)
        # 24-core of the lineitem (partkey, suppkey) co-occurrence graph
        # (mod 2000): converges in <= 2 peel rounds at both SFs; the
        # DuckDB twin unrolls 4 rounds — once converged, extra rounds
        # are exact no-ops, so the unroll margin is free
        from vectordb_watermark_spark.operators.graph import k_core

        li = _t(spark, sf, "lineitem")
        edges = li.select(
            (F.col("l_partkey") % 2000).alias("src"),
            (F.col("l_suppkey") % 2000).alias("dst"),
        )
        return k_core(edges, k=24)

    def stream_kmv_docs(spark, sf):  # streaming distinct-count (round 12)
        # the sketch_distinct_tokens corpus REPLAYED through the
        # incremental_kmv store in 3 batches: KMV merges EXACTLY (the k
        # smallest of a union are among the parts' k-smallest), so
        # resolve is bit-identical to the one-shot sketch — same twin

        from vectordb_watermark_spark.streaming.curation import (
            ingest_kmv_batch,
            resolve_kmv,
        )

        (store,) = _scratch(sf, "oracle_kmv_store")
        d = _docs(spark, sf)
        toks_of = lambda df: df.select(
            F.explode(T.tokens(F.lower(F.col("text")))).alias("tok")
        )
        for k in range(3):
            ingest_kmv_batch(
                toks_of(d.filter(F.col("doc_id") % 3 == k)), store, k,
                col="tok", k=256,
            )
        est = resolve_kmv(spark, store, k=256)
        truth = toks_of(d).agg(
            F.countDistinct("tok").cast("long").alias("true_distinct")
        )
        return est.crossJoin(truth)

    def stream_rates_events(spark, sf):  # streaming rate monitor (round 12)
        # events split ARBITRARILY (id mod — counts are additive, no
        # ordering contract) through the incremental_rates store must
        # resolve to exactly the batch rate_anomalies — same twin

        from vectordb_watermark_spark.streaming.curation import (
            ingest_rate_batch,
            resolve_rate_anomalies,
        )

        (store,) = _scratch(sf, "oracle_rates_store")
        ev = _t(spark, sf, "events")
        for k in range(3):
            ingest_rate_batch(
                ev.filter(F.col("event_id") % 3 == k), store, k,
                granularity="hour",
            )
        return resolve_rate_anomalies(spark, store)

    def containment_docs(spark, sf):  # asymmetric partial-copy dup (round 12)
        # planted excerpts (first 120 chars of every 10th doc, re-keyed)
        # paired with their source: containment(excerpt in source) ~ 1
        # while Jaccard is small — the duplication direction the
        # resemblance stack structurally misses (Broder containment)
        from vectordb_watermark_spark.operators.dedup import containment_pairs

        d = _docs(spark, sf).select("doc_id", "text")
        exc = d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.substring("text", 1, 120).alias("text"),
        )
        corpus = d.unionByName(exc)
        prs = d.filter(F.col("doc_id") % 10 == 0).select(
            F.col("doc_id").alias("a"),
            (F.col("doc_id") + 1000000).alias("b"),
        )
        return containment_pairs(corpus, prs, threshold=0.5)

    def learned_codec_eval(spark, sf):  # trained-artifact contract (round 13)
        # VERDICT r12 #4: the reference's central artifact — a TRAINED
        # encoder/decoder — driver-gated end to end.  The shipped 384-d
        # checkpoint (trained by plans.nn_train.train_reference_codec, the
        # numpy twin of reference trainer.py, deployed at its carried
        # meta/delta_scale calibration) is evaluated by plans.evaluate.
        # evaluate_codec (the distributed twin of reference test.py) over
        # seeded unit vectors; the row asserts the reference's own
        # capacity-adjusted quality bars (ref trainer.py:395-402) as
        # booleans — the learned forward pass itself is not
        # SQL-expressible, so the oracle is the expected contract literal,
        # same style as codec_eval.  Thresholds carry wide margins over
        # the measured values (BER 3.3e-4 vs the 0.0106 'excellent' bar;
        # CRC-valid 0.996; mean_cos 0.903).
        import os

        import numpy as np

        from vectordb_watermark_spark.plans import codec as C
        from vectordb_watermark_spark.plans.codec import (
            TorchCodec,
            adaptive_model_params,
        )
        from vectordb_watermark_spark.plans.evaluate import evaluate_codec

        path = os.path.join(
            os.path.dirname(C.__file__), os.pardir, "fixtures",
            "learned_codec_384d.npz",
        )
        rng = np.random.default_rng(20260816)
        X = rng.standard_normal((500, 384))
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        df = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(500)],
            "id long, emb array<float>",
        )
        row = evaluate_codec(df, TorchCodec(384, checkpoint_path=path)).collect()[0]
        cr = adaptive_model_params(384)["capacity_ratio"]
        excellent = max(0.005, min(0.02, 0.01 * (1 + cr)))
        return spark.createDataFrame(
            [(
                int(row["n"]),
                bool(row["ber"] < excellent),
                bool(row["crc_valid_rate"] > 0.9),
                bool(row["mean_cos"] > 0.88),
            )],
            "n bigint, ber_excellent boolean, crc_ok boolean, fidelity_ok boolean",
        )

    def containment_rare_shingle(spark, sf):  # excerpt discovery (round 13)
        # VERDICT r12 #3: containment_pairs' default MinHash-banded
        # candidates inherit Jaccard's recall geometry, so the asymmetric
        # excerpt-in-long-doc pairs the measure exists for essentially
        # never surface.  Plant a 20-token excerpt sliced out of a
        # 100x-longer 2000-token host (pair Jaccard = 20/2000 = 0.01); the
        # band path yields ZERO candidates for it (pinned by
        # tests/test_dedup_text_similarity.py), while the shared-rare-
        # shingle join recovers it exactly.  Base docs ride along to prove
        # discovery also runs over real text.
        from vectordb_watermark_spark.functions.text import tokens
        from vectordb_watermark_spark.operators.dedup import containment_pairs

        base = _docs(spark, sf).select("doc_id", "text").filter(
            F.col("doc_id") < 240
        )
        host_text = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(2000)),
                lambda i: F.concat(F.lit("w"), F.lpad(i.cast("string"), 4, "0")),
            ),
            " ",
        )
        host = spark.range(1).select(
            F.lit(9000001).cast("long").alias("doc_id"), host_text.alias("text")
        )
        exc = host.select(
            F.lit(9000002).cast("long").alias("doc_id"),
            F.concat_ws(" ", F.slice(tokens(F.col("text")), 41, 20)).alias("text"),
        )
        corpus = base.unionByName(host).unionByName(exc)
        return containment_pairs(corpus, threshold=0.9, candidates="rare_shingle")

    def stream_containment_docs(spark, sf):  # streaming twin (round 13)
        # the containment_rare_shingle planted corpus INGESTED through the
        # incremental rare-shingle store in 3 micro-batches (doc_id % 3 —
        # DF is additive and hot-crossing monotone, so the split is
        # arbitrary) must resolve hash-identically to the one-shot
        # discovery chain — pinned by the SAME DuckDB oracle.

        from vectordb_watermark_spark.functions.text import tokens
        from vectordb_watermark_spark.streaming.curation import (
            ingest_shingles_batch,
            resolve_containment_store,
        )

        base = _docs(spark, sf).select("doc_id", "text").filter(
            F.col("doc_id") < 240
        )
        host_text = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(2000)),
                lambda i: F.concat(F.lit("w"), F.lpad(i.cast("string"), 4, "0")),
            ),
            " ",
        )
        host = spark.range(1).select(
            F.lit(9000001).cast("long").alias("doc_id"), host_text.alias("text")
        )
        exc = host.select(
            F.lit(9000002).cast("long").alias("doc_id"),
            F.concat_ws(" ", F.slice(tokens(F.col("text")), 41, 20)).alias("text"),
        )
        corpus = base.unionByName(host).unionByName(exc)

        (store,) = _scratch(sf, "oracle_shingle_store")
        for k in range(3):
            ingest_shingles_batch(
                corpus.filter(F.col("doc_id") % 3 == k), store, k
            )
        out = resolve_containment_store(spark, store, corpus, threshold=0.9)
        return out

    def trending_types_events(spark, sf):  # per-cycle change view (round 12)
        from vectordb_watermark_spark.operators.analytics import trending_types

        return trending_types(_t(spark, sf, "events"), granularity="day")

    def stickiness_events(spark, sf):  # DAU/WAU engagement (round 12)
        from vectordb_watermark_spark.operators.analytics import stickiness

        return stickiness(_t(spark, sf, "events"), window_days=7)

    # Ordering note: the driver's correctness gate checks the FIRST 50 entries
    # in dict order.  Rotation policy (COVERAGE.md): each round the window is
    # recomposed so the LEAST-recently-verified oracles lead — with 185 gate
    # entries (181 oracled) and a 50-slot window the honest guarantee is a
    # FOUR-round period (ceil(181/50) = 4; the full local
    # tools/check_oracle.py run covers every oracle every round regardless of
    # window position, so a regression is still caught same-round — the window
    # only bounds how stale the INDEPENDENT driver evidence can get).
    # Round-15 window (VERDICT r14 #1): touched-queries-first overrides the
    # staleness rule this round — the 25 head rows are every query whose
    # operator changed in the r14 optimization phase (q3 semi-join reorder,
    # connected-components fold consumers, pagerank/triangle persists, the
    # selection-checkpoint family) or in round 15 (gated-degree edge
    # checkpoint, registry-held minhash sig-group handles, table_diff guard
    # fallback, transitions compaction cadence), plus the two r14-new rows
    # never driver-gated (bloom_decontam_docs, temperature_mix_docs).  None
    # of these shapes has independent driver hash evidence until this
    # window.  The remaining 25 slots are the stalest evidence: the full
    # r11-block remainder (driver-green r11) + the r12-block head.  Below
    # the line, least-recently-verified first: the rest of the r12 block,
    # the r13 window block, then the r14 window block (driver-green r14,
    # most recent).  The 4 rows-only entries stay at the very bottom
    # permanently: in-window they record only a weak rows-only check, and
    # their contracts are pinned by the hash-verified contract rows
    # (knn_lsh_recall, ivf_recall, lsh_recall, pca_invariants,
    # lsh_edges_exactness) — standing rationale in COVERAGE.md;
    # tools/registry_guard.py pins the set.
    return {
        # -- r15 window head: every query whose operator changed in the r14
        # -- optimization phase or in round 15 — driver-unverified in its
        # -- current shape until this window (VERDICT r14 #1) --
        "watermark_roundtrip": watermark_roundtrip,
        "gated_degrees": gated_degrees,
        "table_diff_q": table_diff_q,
        "stream_transitions_events": stream_transitions_events,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_minhash_agree": dedup_minhash_agree,
        "crawl_dedup_join": crawl_dedup_join,
        "corpus_curation": corpus_curation,
        "curation_keep_best": curation_keep_best,
        "dedup_components": dedup_components,
        "knn_pagerank": knn_pagerank,
        "knn_pagerank_weighted": knn_pagerank_weighted,
        # -- r14-optimization-phase shapes (q3 semi-join, CC-fold consumers,
        # -- triangle checkpoint, selection family) --
        "q3_shipping_priority": q3_shipping_priority,
        "semdedup_contract": semdedup_contract,
        "stream_components_docs": stream_components_docs,
        "neardup_safe_split": neardup_safe_split,
        "group_split_docs": group_split_docs,
        "group_kfold_docs": group_kfold_docs,
        "triangle_count_knn": triangle_count_knn,
        "carrier_selection": carrier_selection,
        "semi_join_carriers": semi_join_carriers,
        "sample_weighted": sample_weighted,
        "carriers_by_threshold": carriers_by_threshold,
        # -- oracled in round 14 below the line — first driver gating --
        "bloom_decontam_docs": bloom_decontam_docs,
        "temperature_mix_docs": temperature_mix_docs,
        # -- window fill: the r11-block remainder (driver-green r11,
        # -- CORRECTNESS_r11.json — the stalest driver evidence) --
        "lexical_diversity": lexical_diversity,
        "gopher_quality_flags": gopher_quality_flags,
        "tfidf_top_terms_by_source": tfidf_top_terms_by_source,
        "ann_batch_exactness": ann_batch_exactness,
        "text_normalize": text_normalize,
        "lm_quality_buckets": lm_quality_buckets,
        "doc_chunks": doc_chunks,
        "url_curation": url_curation,
        "embedding_outliers": embedding_outliers,
        "quality_repetition": quality_repetition,
        "pii_redaction": pii_redaction,
        "decontaminate_docs": decontaminate_docs,
        "sequence_packing": sequence_packing,
        "corpus_logfreq_score": corpus_logfreq_score,
        "quality_resample": quality_resample,
        "codec_eval": codec_eval,
        "source_mix": source_mix,
        "source_capped_sample": source_capped_sample,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "embedding_quantize": embedding_quantize,
        "knn_join_tables": knn_join_tables,
        "paraphrase_candidates": paraphrase_candidates,
        "sketch_distinct_tokens": sketch_distinct_tokens,
        "top_tokens": top_tokens,
        # -- last slot: head of the r12 block (driver-green r12) --
        "pq_tagged_contract": pq_tagged_contract,
        # ---- 50-query window line ------------------------------------------
        # -- rest of the r12 block (driver-green r12 — stalest below the line) --
        "ann_delete_contract": ann_delete_contract,
        "opq_contract": opq_contract,
        "whitening_contract": whitening_contract,
        "audio_spectral_contract": audio_spectral_contract,
        "embedding_binarize": embedding_binarize,
        "zorder_contract": zorder_contract,
        "bm25_docs": bm25_docs,
        "hybrid_rag_fusion": hybrid_rag_fusion,
        "fuzzy_token_join": fuzzy_token_join,
        "hamming_topk_q": hamming_topk_q,
        "hamming_topk_batch_q": hamming_topk_batch_q,
        "doc_embeddings": doc_embeddings,
        "dedup_jaccard_pairs": dedup_jaccard_pairs,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "text_stats": text_stats,
        "lang_id": lang_id,
        "doc_fingerprints": doc_fingerprints,
        "ann_topk_cosine": ann_topk_cosine,
        "cosine_neardup": cosine_neardup,
        "events_sessionize": events_sessionize,
        "media_metadata": media_metadata,
        "pairwise_viz_stats": pairwise_viz_stats,
        "knn_lsh_recall": knn_lsh_recall,
        "point_lookup": point_lookup,
        "vector_scan": vector_scan,
        "vector_stats": vector_stats,
        "vector_mean": vector_mean,
        "knn_degrees": knn_degrees,
        "degree_histogram": degree_histogram,
        "topk_degree_pool": topk_degree_pool,
        "crc4_table": crc4_table,
        "majority_vote_events": majority_vote_events,
        "robust_vote_events": robust_vote_events,
        "sample_keyed": sample_keyed,
        "sample_stratified": sample_stratified,
        "pca_invariants": pca_invariants,
        "lsh_edges_exactness": lsh_edges_exactness,
        "rag_pipeline": rag_pipeline,
        "ivf_drift_contract": ivf_drift_contract,
        # -- r13 window block (driver-green r13) --
        "token_heavy_hitters": token_heavy_hitters,
        "dup_ngram_spans": dup_ngram_spans,
        "span_scrubbed_docs": span_scrubbed_docs,
        "bigram_lm_scores": bigram_lm_scores,
        "pq_recall": pq_recall,
        "corpus_snapshot_diff": corpus_snapshot_diff,
        "corpus_snapshot_stats": corpus_snapshot_stats,
        "anti_join_subset": anti_join_subset,
        "attack_gaussian": attack_gaussian,
        "attack_subset": attack_subset,
        "attack_mean_replace": attack_mean_replace,
        "attack_truncate_pad": attack_truncate_pad,
        "dedup_exact_groups": dedup_exact_groups,
        "dedup_minhash_signatures": dedup_minhash_signatures,
        "q1_pricing_summary": q1_pricing_summary,
        "q4_order_priority": q4_order_priority,
        "q5_nation_revenue": q5_nation_revenue,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q10_returned_items": q10_returned_items,
        "q12_priority_lines": q12_priority_lines,
        "q14_promo_revenue": q14_promo_revenue,
        "q18_large_orders": q18_large_orders,
        "q19_disjunctive": q19_disjunctive,
        "q7_nation_volume": q7_nation_volume,
        "q8_market_share": q8_market_share,
        "q13_customer_distribution": q13_customer_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity": q17_small_quantity,
        "q22_idle_customers": q22_idle_customers,
        "events_hourly": events_hourly,
        "events_type_rollup": events_type_rollup,
        "bm25_index_docs": bm25_index_docs,
        "bm25_stream_docs": bm25_stream_docs,
        "semantic_decontam": semantic_decontam,
        "profile_docs": profile_docs,
        "line_scrub_docs": line_scrub_docs,
        "audio_neardup_pipeline": audio_neardup_pipeline,
        "funnel_events": funnel_events,
        "retention_cohorts_events": retention_cohorts_events,
        "event_transitions_q": event_transitions_q,
        "ndcg_eval_q": ndcg_eval_q,
        "roc_auc_events": roc_auc_events,
        "psi_drift_embeddings": psi_drift_embeddings,
        "expectations_docs": expectations_docs,
        # -- r14 window block (driver-green r14 — most recently verified,
        # -- so rotates last; table_diff_q / stream_transitions_events /
        # -- watermark_roundtrip moved to the head: touched again in r15) --
        "calibration_events": calibration_events,
        "ece_events": ece_events,
        "key_skew_lineitem": key_skew_lineitem,
        "rm3_docs": rm3_docs,
        "mmr_contract": mmr_contract,
        "ann_ndcg_eval": ann_ndcg_eval,
        "compact_contract": compact_contract,
        "session_funnel_events": session_funnel_events,
        "rate_anomalies_events": rate_anomalies_events,
        "funnel_window_events": funnel_window_events,
        "join_cardinality_q": join_cardinality_q,
        "ref_integrity_q": ref_integrity_q,
        "funnel_timing_events": funnel_timing_events,
        "rebalance_classes_q": rebalance_classes_q,
        "stream_psi_embeddings": stream_psi_embeddings,
        "roc_auc_by_events": roc_auc_by_events,
        "class_margins_q": class_margins_q,
        "k_core_q": k_core_q,
        "stream_kmv_docs": stream_kmv_docs,
        "stream_rates_events": stream_rates_events,
        "containment_docs": containment_docs,
        "trending_types_events": trending_types_events,
        "stickiness_events": stickiness_events,
        "containment_rare_shingle": containment_rare_shingle,
        "learned_codec_eval": learned_codec_eval,
        "stream_containment_docs": stream_containment_docs,
        "bpe_token_counts": bpe_token_counts,
        "events_cube": events_cube,
        "set_ops_users": set_ops_users,
        "events_asof": events_asof,
        "events_range_join": events_range_join,
        "events_running_window": events_running_window,
        "events_pivot": events_pivot,
        "events_value_quantiles": events_value_quantiles,
        "events_json_extract": events_json_extract,
        "events_user_rollup": events_user_rollup,
        "ivf_recall": ivf_recall,
        "lsh_recall": lsh_recall,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q9_profit_by_nation_year": q9_profit_by_nation_year,
        "q11_important_stock": q11_important_stock,
        "q16_parts_supplier_counts": q16_parts_supplier_counts,
        "q20_excess_inventory": q20_excess_inventory,
        "pq_drift_contract": pq_drift_contract,
        "q21_suppliers_waiting": q21_suppliers_waiting,
        "doc_length_percentiles": doc_length_percentiles,
        "embedding_dim_stats": embedding_dim_stats,
        # -- rows-only (raw result sets of the ops whose contracts are pinned
        # -- by hash-verified sibling rows; set pinned by
        # -- tools/registry_guard.py) --
        "pca_projection": pca_projection,
        "knn_lsh_edges": knn_lsh_edges,
        "ivf_topk": ivf_topk,
        "lsh_topk": lsh_topk,
    }


