{{ config(materialized='table') }}

SELECT `Dish`, trim(pl) AS `Plant`, `Date`
FROM {{ source('recipe_log') }}
LATERAL VIEW explode(split(`Plants`, ',')) t AS pl
ORDER BY `Date` DESC NULLS LAST
