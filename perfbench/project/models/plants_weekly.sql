{{ config(materialized='table') }}

SELECT `Plant` AS plant,
       CAST(date_trunc('week', `Date`) AS DATE) AS date_period,
       COUNT(*) AS total_count
FROM {{ ref('recipe_log_flattened') }}
GROUP BY 1, 2 ORDER BY date_period DESC, total_count DESC
