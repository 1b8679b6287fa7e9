{{ config(materialized='view') }}
SELECT n.n_nationkey, n.n_name, r.r_name
FROM nation n
JOIN region r ON n.n_regionkey = r.r_regionkey
