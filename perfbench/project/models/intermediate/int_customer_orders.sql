{{ config(materialized='table') }}
SELECT o_custkey,
       COUNT(*) AS n_orders,
       SUM(o_totalprice) AS total_spent,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order,
       DATEDIFF('day', MIN(o_orderdate), MAX(o_orderdate)) AS active_days
FROM {{ ref('inc_orders') }}
GROUP BY o_custkey
