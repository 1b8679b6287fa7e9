{{ config(materialized='table') }}
SELECT day,
       SUM(IFF(event_type = 'view', n_events, 0)) AS views,
       SUM(IFF(event_type = 'click', n_events, 0)) AS clicks,
       SUM(IFF(event_type = 'purchase', n_events, 0)) AS purchases,
       SUM(IFF(event_type = 'purchase', total_value, 0)) AS purchase_value
FROM {{ ref('int_daily_events') }}
GROUP BY day
