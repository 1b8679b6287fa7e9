{{ config(materialized='incremental', incremental_strategy='append') }}
SELECT event_id, ts, user_id, event_type, value
FROM landing_events
