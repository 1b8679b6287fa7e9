{{ config(materialized='table') }}
SELECT d.r_name, d.n_name, YEAR(f.o_orderdate) AS order_year,
       COUNT(*) AS n_orders,
       SUM(f.revenue) AS revenue,
       SUM(f.n_returns) AS n_returns
FROM {{ ref('fct_orders') }} f
JOIN {{ ref('dim_customers') }} d ON f.o_custkey = d.c_custkey
GROUP BY d.r_name, d.n_name, YEAR(f.o_orderdate)
