{{ config(materialized='table') }}
SELECT l_orderkey,
       COUNT(*) AS n_lines,
       SUM(net_price) AS revenue,
       SUM(is_return) AS n_returns
FROM {{ ref('inc_lineitem') }}
GROUP BY l_orderkey
