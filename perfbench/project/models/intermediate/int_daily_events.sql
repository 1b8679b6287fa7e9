{{ config(materialized='table') }}
SELECT DATE_TRUNC('day', ts) AS day, event_type,
       COUNT(*) AS n_events,
       SUM(value) AS total_value
FROM {{ ref('inc_events') }}
GROUP BY DATE_TRUNC('day', ts), event_type
