{{ config(materialized='table') }}
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderdate,
       o.o_orderpriority, o.o_totalprice,
       COALESCE(r.n_lines, 0) AS n_lines,
       COALESCE(r.revenue, 0) AS revenue,
       COALESCE(r.n_returns, 0) AS n_returns
FROM {{ ref('inc_orders') }} o
LEFT JOIN {{ ref('int_order_revenue') }} r ON o.o_orderkey = r.l_orderkey
