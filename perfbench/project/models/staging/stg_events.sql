{{ config(materialized='view') }}
SELECT event_id, ts, user_id, event_type, value,
       PARSE_JSON(props):k::INT AS k
FROM raw_events
