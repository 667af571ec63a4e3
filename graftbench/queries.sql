-- The reads each workload's user runs. The JVM runs them with Spark SQL over
-- views of what graft materialized; run.py runs the report mix with DuckDB
-- over the generator's expected tables, so the text must mean the same in
-- both dialects. Money is summed as DECIMAL so both sides add exactly.

-- name: curate_sources
SELECT source, COUNT(*) AS docs, MAX(doc_id) AS last_id
FROM admitted
GROUP BY source
ORDER BY source;

-- name: q01
SELECT l_returnflag, l_linestatus,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
       SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS sum_disc_price,
       SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,4))) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus;

-- name: q03
SELECT l_orderkey,
       SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10;

-- name: q12
SELECT l_linestatus AS ship_class,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
       SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus;

-- name: q18
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 200)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100;
