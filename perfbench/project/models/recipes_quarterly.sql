{{ config(materialized='table') }}

SELECT `Dish` AS dish,
       CAST(date_trunc('quarter', `Date`) AS DATE) AS date_period,
       COUNT(*) AS total_count
FROM {{ source('recipe_log') }}
GROUP BY 1, 2 ORDER BY date_period DESC, total_count DESC
