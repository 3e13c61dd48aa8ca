{{ config(materialized='table') }}

SELECT `Date`, `Exercise Label` AS `Exercise`, trim(ta) AS `Target Area`
FROM {{ source('exercise_log') }}
LATERAL VIEW explode(split(`Target Areas`, ',')) t AS ta
WHERE `Type` != 'Cardio'
ORDER BY `Date` DESC NULLS LAST, `Exercise` ASC
