{{ config(materialized='table') }}
WITH gaps AS (
    SELECT user_id, ts, event_type, value, k,
           IFF(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR DATEDIFF('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800,
               1, 0) AS new_session,
           event_id
    FROM {{ ref('stg_events') }}
), numbered AS (
    SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM gaps
)
SELECT user_id, session_no,
       MIN(ts) AS started_at,
       MAX(ts) AS ended_at,
       COUNT(*) AS n_events,
       SUM(value) AS total_value,
       SUM(k) AS total_k,
       COUNT_IF(event_type = 'purchase') AS n_purchases
FROM numbered
GROUP BY user_id, session_no
