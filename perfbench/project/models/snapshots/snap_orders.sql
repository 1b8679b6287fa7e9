{{ config(materialized='snapshot', unique_key='o_orderkey', strategy='check', check_cols=['o_orderstatus', 'o_totalprice']) }}
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM {{ ref('stg_orders') }}
