{{ config(materialized='table') }}

SELECT `Exercise` AS exercise,
       CAST(date_trunc('quarter', `Date`) AS DATE) AS date_period,
       COUNT(DISTINCT `Date`) AS total_count
FROM {{ ref('exercise_log_flattened') }}
GROUP BY 1, 2 ORDER BY date_period DESC, total_count DESC
