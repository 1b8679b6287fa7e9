{{ config(materialized='table') }}
SELECT user_id,
       COUNT(*) AS n_sessions,
       SUM(n_events) AS n_events,
       MAX(DATEDIFF('second', started_at, ended_at)) AS longest_session_s,
       SUM(n_purchases) AS n_purchases
FROM {{ ref('int_sessions') }}
GROUP BY user_id
