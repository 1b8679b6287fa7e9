{{ config(materialized='table') }}
SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
       n.n_name, n.r_name,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.total_spent, 0) AS total_spent,
       o.active_days
FROM {{ ref('inc_customers') }} c
JOIN {{ ref('stg_nations') }} n ON c.c_nationkey = n.n_nationkey
LEFT JOIN {{ ref('int_customer_orders') }} o ON c.c_custkey = o.o_custkey
