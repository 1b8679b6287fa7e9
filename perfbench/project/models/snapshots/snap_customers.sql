{{ config(materialized='snapshot', unique_key='c_custkey', strategy='timestamp', updated_at='updated_at') }}
SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, updated_at
FROM {{ ref('stg_customers') }}
