package graft.queries

import graft.Engine

/** TPC-H q01–q22 adapted to the driver's subset schema (FIXTURES.md §A).
  *
  * The reference runs the full spec queries (`/root/reference/src/tpch/
  * queries.rs:1-687`); our testdata lacks partsupp and several columns
  * (l_shipmode, l_commitdate, l_receiptdate, o_comment, c_phone,
  * p_container, p_mfgr, addresses). Each adapted query keeps the
  * original's *operator shape* — the same join graph / subquery /
  * aggregation structure — over available columns. Deltas per query:
  *
  *  - q02: partsupp min-cost supplier → per-region max-acctbal supplier
  *    (correlated scalar subquery retained).
  *  - q04: commitdate<receiptdate → EXISTS(l_shipdate > o_orderdate).
  *  - q09: partsupp supplycost → 0.01*p_retailprice*l_quantity cost proxy.
  *  - q11: partsupp value → per-part lineitem revenue, HAVING vs scalar
  *    subquery fraction retained.
  *  - q12: shipmode 2-group → l_linestatus; CASE-priority counts retained.
  *  - q13: o_comment NOT LIKE → o_orderpriority <> filter in join cond.
  *  - q16: partsupp → lineitem supplier link; comment-LIKE exclusion →
  *    NOT IN (negative-balance suppliers).
  *  - q17: p_container → p_size; 0.2*avg → 0.5*avg (data is uniform 1-50).
  *  - q19: shipmode/container conjuncts → brand/size/quantity OR-of-ANDs.
  *  - q20: partsupp availqty → lineitem sum(l_quantity) HAVING.
  *  - q21: receipt>commit lateness → l_shipdate > o_orderdate + 30 days;
  *    no nation-name filter (only 100 suppliers at sf0.01).
  *  - q22: phone country code → substr(c_name,17,2).
  *
  * Every row runs its oracle text (`Q.sql`) unless it is a declared
  * reshape (`reshaped`): one whose Spark side ships a different plan,
  * measured stock against shipped with `ScaleSweep ab`. Money sums
  * quantize each term to DECIMAL(18,6) (lossless here — money columns
  * are 2dp, discount/tax 2dp, so any 2-3-term product is <= 6dp), sum
  * exactly and return double: plain double sums differ by accumulation
  * order and can straddle a rounding boundary (seen on q09/q10 at
  * sf0.01), and at 100 TB this is also the *correct* money math.
  * Doubles are rounded on both sides; every ORDER BY carries a total
  * tiebreak so LIMIT result sets are deterministic.
  */
object TpchQueries extends QueryCatalog {

  /** Q1 — pricing summary report. Unchanged vs spec. l_quantity is
    * integer-valued (1-50), so its plain double sum is exact (< 2^53)
    * and order-independent; only the money terms need the decimal
    * quantization. */
  val q01 = Q.sql(
    "tpch_q01",
    """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_base_price,
             round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_disc_price,
             round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_charge,
             round(sum(l_quantity) / count(*), 4) AS avg_qty,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_price,
             round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")

  /** Q2 — correlated scalar subquery choosing the best supplier per region. */
  val q02 = Q.sql(
    "tpch_q02",
    """
      SELECT r_name, s_name, s_acctbal
      FROM region r
      JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN supplier s ON s.s_nationkey = n.n_nationkey
      WHERE s_acctbal = (SELECT max(s2.s_acctbal)
                         FROM supplier s2 JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                         WHERE n2.n_regionkey = r.r_regionkey)
      ORDER BY r_name, s_name""")

  /** Q3 — shipping priority: 3-way join, group, top-10 by revenue. */
  val q03 = Q.sql(
    "tpch_q03",
    """
      SELECT l_orderkey,
             round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
             o_orderdate
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""")

  /** Q4 — order priority checking via EXISTS (lateness adapted). */
  val q04 = Q(
    "tpch_q04",
    Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    // The decorrelated left-semi join sort-merges, and sorting the
    // 600M-row lineitem side is the whole 17.4 GB memory + 6.6 GB
    // disk spill the sf100 suite charged q4. The shipped shape
    // replaces the semi join with a per-order max(l_shipdate)
    // aggregate (repartitioned on l_orderkey first, the q18 rule —
    // partial-agg state is group-sized by construction): EXISTS
    // (l_shipdate > o_orderdate) ⟺ max(l_shipdate) > o_orderdate,
    // and the aggregate is unique per key so the inner join cannot
    // multiply rows. r17 q4ab A/B: zero spill, identical digest,
    // 36-39 s -> 31.6-32.1 s. A SHUFFLE_HASH(lineitem) hint variant
    // read ~20% faster in the A/B but builds a per-task hash of the
    // fact-side slice — it survived three sf100 runs and then OOMed
    // the 24 GB heap on the fourth (LongToUnsafeRowMap.grow), the
    // exact fixed-resource fragility this campaign removes, so the
    // aggregate shape ships. Oracle keeps the stock EXISTS form.
    // r18: the colocating exchange is REBALANCE (same hash clustering,
    // but AQE may coalesce to the advisory size instead of emitting
    // shuffle.partitions fixed tasks) — interleaved rebab A/B: faster
    // at sf0.1/sf10/sf100, zero spill at all three.
    (s, dir) => Engine.sql(s, dir)(q04SparkSql))

  /** The shipped q4 SQL. */
  private val q04SparkSql = """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      JOIN (SELECT l_orderkey, max(l_shipdate) AS max_ship
            FROM (SELECT /*+ REBALANCE(l_orderkey) */ l_orderkey, l_shipdate
                  FROM lineitem)
            GROUP BY l_orderkey) g
        ON o_orderkey = g.l_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND g.max_ship > o_orderdate
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""

  /** Q5 — local supplier volume: 6-way join with two small broadcast dims. */
  val q05 = Q.sql(
    "tpch_q05",
    """
      SELECT n_name, round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")

  /** Q6 — forecasting revenue change: pure scan+filter+scalar agg. */
  val q06 = Q.sql(
    "tpch_q06",
    """
      SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.04 AND 0.06
        AND l_quantity < 24""")

  /** Q7 — volume shipping between two nations, grouped by year. */
  val q07 = Q.sql(
    "tpch_q07",
    """
      SELECT supp_nation, cust_nation, l_year, round(CAST(sum(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_7')
                OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_9'))
              AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                 AND TIMESTAMP '1997-12-31 00:00:00') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""")

  /** Q8 — national market share within a region, by year. */
  val q08 = Q.sql(
    "tpch_q08",
    """
      SELECT o_year,
             round(CAST(sum(CAST(CASE WHEN nation = 'NATION_9' THEN volume ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) / CAST(sum(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 4) AS mkt_share
      FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   l_extendedprice * (1 - l_discount) AS volume,
                   n2.n_name AS nation
            FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
              AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
              AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
              AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY') all_nations
      GROUP BY o_year
      ORDER BY o_year""")

  /** Q9 — product-type profit (cost proxied by p_retailprice, see delta). */
  val q09 = Q.sql(
    "tpch_q09",
    """
      SELECT nation, o_year, round(CAST(sum(CAST(amount AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_profit
      FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   l_extendedprice * (1 - l_discount) - 0.01 * p_retailprice * l_quantity AS amount
            FROM part, supplier, lineitem, orders, nation
            WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
              AND p_name LIKE '%red%') profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC""")

  /** Q10 — returned item reporting, top-20 customers by lost revenue. */
  val q10 = Q.sql(
    "tpch_q10",
    """
      SELECT c_custkey, c_name,
             round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
             c_acctbal, n_name
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")

  /** Q11 — important stock: HAVING vs scalar-subquery fraction (see delta). */
  val q11 = Q(
    "tpch_q11",
    Some("""
      WITH pp AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS dval
                  FROM lineitem, supplier WHERE l_suppkey = s_suppkey
                  GROUP BY l_partkey)
      SELECT l_partkey, round(CAST(dval AS DOUBLE), 2) AS value
      FROM pp
      WHERE CAST(dval AS DOUBLE) > (SELECT 1.5 * CAST(sum(dval) AS DOUBLE) / count(*) FROM pp)
      ORDER BY value DESC, l_partkey"""),
    // one CTE over the per-part aggregate: the global threshold derives
    // from pp itself (sum of group sums = total; count(*) = distinct
    // parts), so lineitem⋈supplier is aggregated once and Spark's
    // ReuseExchange serves the scalar subquery from the same shuffle —
    // the round-1 shape scanned lineitem twice (VERDICT r1 item 7).
    // REPARTITION(l_partkey) on the join output is the r16
    // high-cardinality-aggregation fix (the retired q11ab A/B at
    // sf100, docs/BENCH_NOTES.md; re-measure with `ScaleSweep ab`):
    // with ~20M groups from 600M rows, map-side
    // partial aggregation combines almost nothing yet builds and
    // spills 45.3 GB of hash tables; colocating keys FIRST makes the
    // aggregate's hash table keys/partitions-sized (zero spill, wall
    // within window noise — 107.7 vs 97.0 s min-of-2, and faster in
    // the cold window). The reduce-partition dial cannot touch that
    // spill (it is map-side); at toy SFs the extra exchange is noise.
    // r18: the exchange is REBALANCE (rebab A/B: wins at every SF —
    // sf100 78.6/99.0 vs 102.2/120.7 s — spill stays zero).
    (s, dir) => Engine.sql(s, dir)(q11SparkSql))

  /** The shipped q11 SQL. */
  private val q11SparkSql = """
      WITH j AS (SELECT /*+ REBALANCE(l_partkey) */ l_partkey, l_extendedprice
                 FROM lineitem, supplier WHERE l_suppkey = s_suppkey),
           pp AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS dval
                  FROM j GROUP BY l_partkey)
      SELECT l_partkey, round(CAST(dval AS DOUBLE), 2) AS value
      FROM pp
      WHERE CAST(dval AS DOUBLE) > (SELECT 1.5 * CAST(sum(dval) AS DOUBLE) / count(*) FROM pp)
      ORDER BY value DESC, l_partkey"""

  /** Q12 — shipping modes and order priority (adapted, see delta). */
  val q12 = Q.sql(
    "tpch_q12",
    """
      SELECT l_linestatus,
             count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
             count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_linestatus
      ORDER BY l_linestatus""")

  /** Q13 — customer order-count distribution via left outer join. */
  val q13 = Q(
    "tpch_q13",
    Some("""
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""),
    // r18 reshape (guide §2.3 "aggregate before you shuffle"): count
    // orders per custkey BEFORE the join, colocated first (REBALANCE
    // on the scan — orders rows per custkey ≈ 10 at every SF, so
    // map-side partial agg state was input-keyspace-sized: 6.0 GB mem
    // + 0.6 GB disk spill measured at sf100 without the colocation).
    // The join then probes a custkey-sized aggregate (10× fewer rows
    // than orders) on its own partitioning, and the post-join
    // re-aggregation disappears. Equivalent to the stock LEFT OUTER
    // form because c_custkey is the customer primary key (one row per
    // key) and count(o_orderkey) = count(*) per custkey on the
    // filtered orders (o_orderkey is never NULL); a matchless
    // customer reads coalesce(NULL, 0) = 0 exactly like count over an
    // all-NULL group. q13ab A/B: sf100 17.1/7.9 → 7.4/6.5 s, shuffle
    // 1.8 → 0.9 GB, spill 0 → 0; wins at sf10/sf0.1 too; digests
    // identical everywhere; oracle keeps the stock outer-join form.
    // A runtime bloom filter is INAPPLICABLE here (VERDICT r17 item
    // 4): outer semantics keep every customer row, the orders filter
    // keeps ~4/5 of rows, and every o_custkey matches — no selective
    // side exists to build a filter from.
    (s, dir) => Engine.sql(s, dir)(q13SparkSql))

  /** The shipped q13 SQL. */
  private val q13SparkSql = """
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, coalesce(cnt, 0) AS c_count
            FROM customer LEFT JOIN
                 (SELECT o_custkey, count(*) AS cnt
                  FROM (SELECT /*+ REBALANCE(o_custkey) */ o_custkey
                        FROM orders WHERE o_orderpriority <> '1-URGENT')
                  GROUP BY o_custkey) o ON c_custkey = o_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""

  /** Q14 — promotion effect: conditional revenue share. */
  val q14 = Q.sql(
    "tpch_q14",
    """
      SELECT round(100.00 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""")

  /** Q15 — top supplier by revenue: CTE + scalar-subquery max. */
  val q15 = Q.sql(
    "tpch_q15",
    """
      WITH revenue AS (SELECT l_suppkey AS supplier_no,
                              CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
                       FROM lineitem
                       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                         AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
                       GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, round(total_rev, 2) AS total_revenue
      FROM supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_rev = (SELECT max(total_rev) FROM revenue)
      ORDER BY s_suppkey""")

  /** Q16 — parts/supplier relationship with NOT IN exclusion (see delta). */
  val q16 = Q(
    "tpch_q16",
    Some("""
      SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    // Spark side: (a) SHUFFLE_HASH(part) — the filtered ~3M-row part
    // side builds as a per-partition hash map so the 600M-row lineitem
    // streams through the join UNSORTED (the sort-merge big-side sort
    // was the whole 17.2 GB memory + 3.2 GB disk spill the sf100 suite
    // charged q16); (b) REPARTITION on the dedupe key before the
    // count(DISTINCT) so partial-agg state is group-sized (the
    // q11/q18/q21 rule). r17 q16ab A/B: zero spill, identical result
    // digest, 36-45 s -> 28-30 s. The oracle keeps the stock form.
    // r18: the dedupe-key exchange is REBALANCE (rebab A/B: -38% at
    // sf10, parity at sf100, zero spill everywhere).
    (s, dir) => Engine.sql(s, dir)(q16SparkSql))

  /** The shipped q16 SQL. */
  private val q16SparkSql = """
      SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
      FROM (SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
            FROM (SELECT /*+ REBALANCE(p_brand, p_type, p_size, l_suppkey), SHUFFLE_HASH(part) */
                         p_brand, p_type, p_size, l_suppkey
                  FROM lineitem, part
                  WHERE p_partkey = l_partkey
                    AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
                    AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
                    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                          WHERE s_acctbal < 0)))
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** Q17 — small-quantity-order revenue: correlated avg subquery. */
  val q17 = Q.sql(
    "tpch_q17",
    """
      SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_size = 10
        AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""")

  /** Q18 — large-volume customers: IN over grouped HAVING subquery. */
  val q18 = Q(
    "tpch_q18",
    Some("""
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             round(sum(l_quantity), 2) AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      LIMIT 100"""),
    // REPARTITION(l_orderkey) under the HAVING subquery is the r17
    // high-cardinality-aggregation fix (the retired q18ab A/B at
    // sf100, docs/BENCH_NOTES.md; re-measure with `ScaleSweep ab`):
    // ~150M l_orderkey groups from 600M rows —
    // map-side partial aggregation combines ~4 rows per key yet builds
    // and spills 50.6 GB of hash tables (+7.1 GB disk); colocating the
    // keys first zeroes the spill AND runs 27–30% faster (108–113 s →
    // 75–83 s) for +1.8 GB shuffle. Same rule as q11, hint on the scan
    // here because no join sits upstream of the aggregate.
    // r18: the exchange is REBALANCE (rebab A/B: faster at sf0.1/sf10,
    // sf100 parity inside noise, zero spill everywhere). q21 alone
    // KEEPS REPARTITION — there AQE's 2:1 coalesce of the 49 MB
    // rebalance partitions re-concentrated the ~150M-key stacked
    // aggregate state and spilled 39.7+4.8 GB at sf100 (measured).
    (s, dir) => Engine.sql(s, dir)(q18SparkSql))

  /** The shipped q18 SQL. */
  private val q18SparkSql = """
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             round(sum(l_quantity), 2) AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (SELECT l_orderkey
                           FROM (SELECT /*+ REBALANCE(l_orderkey) */
                                        l_orderkey, l_quantity
                                 FROM lineitem)
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      LIMIT 100"""

  /** Q19 — discounted revenue: OR-of-ANDs disjunctive pushdown (see delta).
    *
    * Spark side: the oracle plus BROADCAST(part). The brand/size
    * disjuncts filter part to a few percent before the join, but the
    * static size estimate does not see that: once part's files pass the
    * 64 MB broadcast threshold (sf100 here) the stock plan sort-merges,
    * shuffling lineitem. `ScaleSweep ab` at sf10 with the threshold
    * scaled to 1/10 (sf100's broadcast decisions): stock 7.8 / 8.8 s and
    * 825.5 MB shuffled, hinted 2.8 / 3.0 s and nothing shuffled, equal
    * digests (SCALE.md). */
  val q19 = Q.hinted(
    "tpch_q19",
    """
      SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND (
            (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40))""",
    "BROADCAST(part)")

  /** Q20 — potential part promotion: nested IN + grouped HAVING (see delta). */
  val q20 = Q.sql(
    "tpch_q20",
    """
      SELECT s_name, s_acctbal
      FROM supplier
      WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem, part
                          WHERE l_partkey = p_partkey AND p_name LIKE '%red%'
                          GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
        AND s_acctbal > 0
      ORDER BY s_name""")

  /** Q21 — suppliers who kept orders waiting: EXISTS + NOT EXISTS (see delta).
    *
    * The Spark side runs the single-pass aggregate form instead of the
    * literal EXISTS / NOT EXISTS: Catalyst decorrelates those into a
    * left-semi plus a left-anti join, each shuffling AND sorting the
    * full lineitem again — the sf100 suite's worst spiller (~102 GB
    * memory + 14 GB disk). Computing per order the distinct-supplier
    * and distinct-LATE-supplier counts once, a late line qualifies iff
    * nsupp > 1 (the EXISTS) and nlate = 1 (the NOT EXISTS: the line's
    * own supplier is late, so "no OTHER late supplier" ⟺ exactly one
    * distinct late supplier). `g` is unique per l_orderkey, so the
    * join cannot multiply rows — row-for-row the same late lines are
    * counted. The r17 q21ab A/B: zero spill, identical result digest
    * across 4 runs, 202.6 → 122.7 s cold / wall parity warm; the
    * oracle below stays the semantic EXISTS form and the driver
    * hash-compares the two.
    *
    * r18 (VERDICT r17 item 1): the r17 shape consumed CTE `j` twice —
    * once under `g` and once as the outer join's probe side — and
    * column pruning made the two subtrees canonically different, so no
    * ReusedExchange fired and the 600M-row lineitem⋈orders join ran
    * TWICE (plans/r17/tpch_q21_after.txt ops 10 and 21; ~half of
    * q21's 95 s at sf100). The fix removes the second consumption
    * entirely: nlate = 1 means every late line of the order belongs to
    * ONE supplier, so the per-order rollup can also carry that
    * supplier and its late-line count, and the join back to `j`
    * disappears — one fact pass by construction.
    *
    * The rollup itself is TWO STACKED PLAIN AGGREGATES rather than
    * count(DISTINCT)s: dedupe to one row per (order, supplier) with
    * has_late/n_late_lines, then roll up per order. Both groupings are
    * satisfied by the single REPARTITION(l_orderkey) exchange (hash on
    * a subset of the keys), while the two-distinct form planned an
    * Expand — 3 projections, 1.8B rows into the first aggregate at
    * sf100 and its only residual spill. r18 q21ab A/B (4 arms): stock
    * 33.0 GB shuffle / 102 GB mem spill; r17 shape 33.9 / 0; the
    * two-distinct one-pass 23.8 / 1.9; THIS shape at sf10 halves the
    * two-distinct arm's wall and shuffle (1.1 vs 2.1 GB) — all four
    * digest-identical, oracle unchanged (the stock EXISTS form).
    *
    * q21 is the ONE site that keeps REPARTITION where the other four
    * reshaped queries moved to REBALANCE (r18 rebab A/B): its j
    * exchange lands ~49 MB partitions at sf100, AQE coalesces them
    * 2:1 under REBALANCE, and the doubled per-task state of the
    * ~150M-key (order, supplier) dedupe aggregate spilled 39.7 GB mem
    * + 4.8 GB disk (measured; REPARTITION: zero). */
  private val q21SparkSql = """
      WITH j AS (SELECT /*+ REPARTITION(l_orderkey) */ l_orderkey, l_suppkey,
                        CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                             THEN 1 ELSE 0 END AS late
                 FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                 WHERE o_orderstatus = 'F'),
           s AS (SELECT l_orderkey, l_suppkey, max(late) AS has_late,
                        sum(late) AS n_late_lines
                 FROM j GROUP BY l_orderkey, l_suppkey),
           g AS (SELECT l_orderkey,
                        count(*) AS nsupp,
                        sum(has_late) AS nlate,
                        max(CASE WHEN has_late = 1 THEN l_suppkey END) AS late_supp,
                        sum(CASE WHEN has_late = 1 THEN n_late_lines END) AS nlate_lines
                 FROM s GROUP BY l_orderkey)
      SELECT s_name, sum(nlate_lines) AS numwait
      FROM g JOIN supplier ON s_suppkey = late_supp
             JOIN nation ON s_nationkey = n_nationkey
      WHERE nsupp > 1 AND nlate = 1
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100"""

  val q21 = Q(
    "tpch_q21",
    Some("""
      SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders, nation
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
        AND s_nationkey = n_nationkey
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100"""),
    (s, dir) => Engine.sql(s, dir)(q21SparkSql))

  /** Q22 — global sales opportunity: scalar avg + NOT EXISTS (see delta). */
  val q22 = Q.sql(
    "tpch_q22",
    """
      SELECT cntrycode, count(*) AS numcust, round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS totacctbal
      FROM (SELECT substr(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)) custsale
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      GROUP BY cntrycode
      ORDER BY cntrycode""")

  /** The rows that ship a plan different from their stock oracle SQL:
    * the r16–r18 spill campaign's reshapes, and q19's broadcast of
    * part. `ScaleSweep ab` re-measures stock against shipped on these by
    * default, and `PlanDump` captures their before/after plans. Every
    * other row runs its oracle (`OraclePlanSpec`); SCALE.md has the A/B
    * runs behind each decision. */
  override val reshaped: Map[String, String] = Map(
    "tpch_q04" -> "a per-order max(l_shipdate) aggregate replaces the sort-merge semi join",
    "tpch_q11" -> "one per-part aggregate serves the threshold subquery from the same shuffle",
    "tpch_q13" -> "orders are counted per customer below the join, colocated first",
    "tpch_q16" -> "SHUFFLE_HASH(part) and a repartition before count(DISTINCT) remove the sort spill",
    "tpch_q18" -> "REPARTITION(l_orderkey) under the HAVING subquery colocates the aggregate",
    "tpch_q19" -> "part is broadcast: past the broadcast threshold the stock plan shuffles lineitem",
    "tpch_q21" -> "lineitem is scanned once, without the EXISTS/NOT EXISTS re-scans")

  override def defs: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11,
    q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22)
}
