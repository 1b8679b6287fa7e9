{{ config(materialized='table') }}
SELECT n_versions, COUNT(*) AS n_keys
FROM (
    SELECT o_orderkey, COUNT(*) AS n_versions
    FROM {{ ref('snap_orders') }}
    GROUP BY o_orderkey
) v
GROUP BY n_versions
