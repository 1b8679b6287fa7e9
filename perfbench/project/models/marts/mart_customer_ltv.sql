{{ config(materialized='table') }}
SELECT c_custkey, c_mktsegment, total_spent,
       NTILE(10) OVER (ORDER BY total_spent DESC, c_custkey) AS spend_decile
FROM {{ ref('dim_customers') }}
WHERE n_orders > 0
