{{ config(materialized='table') }}

WITH spine AS (
  SELECT period_start AS week_start,
         CAST(date_add(period_start, 6) AS DATE) AS week_end,
         CAST(weekofyear(period_start) AS INT) AS week
  FROM (
    SELECT explode(sequence(DATE'2022-01-03',
                            CAST(DATE'2025-08-31' + INTERVAL 30 DAYS AS DATE),
                            INTERVAL 1 WEEK)) AS period_start
  )
), exercise AS (
  SELECT CAST(date_trunc('week', `Date`) AS DATE) AS period,
         COUNT(DISTINCT `Date`) AS total_workouts,
         COUNT(CASE WHEN `Exercise Label` = 'Treadmill' THEN 1 END) AS total_runs,
         CAST(SUM(CASE WHEN `Exercise Label` = 'Treadmill' THEN `Distance (mi)` END) AS DOUBLE) AS total_miles,
         CAST(SUM(CASE WHEN `Exercise Label` = 'Treadmill' THEN `Calories` END) AS DOUBLE) AS total_calories,
         CAST(SUM(CASE WHEN `Exercise Label` = 'Treadmill' THEN `Duration (min)` END) AS DOUBLE) AS total_minutes,
         CAST(SUM(CASE WHEN `Type` IN ('Weights', 'Calisthenics') THEN `Reps` END) AS DOUBLE) AS total_reps,
         CAST(SUM(CASE WHEN `Type` IN ('Weights', 'Calisthenics') THEN `Sets` END) AS DOUBLE) AS total_sets
  FROM {{ source('exercise_log') }} GROUP BY 1
), weight AS (
  SELECT CAST(date_trunc('week', `Measurement Date`) AS DATE) AS period,
         COUNT(*) AS total_weight_measurements,
         AVG(`Weight`) AS average_weight
  FROM {{ source('weights') }} GROUP BY 1
), flags AS (
  SELECT CAST(`Date` AS DATE) AS recipe_date, `Dish`,
         CASE WHEN `Date` = FIRST_VALUE(`Date`) OVER (PARTITION BY `Dish` ORDER BY `Date`)
              THEN 'New' ELSE 'Repeat' END AS dish_type
  FROM {{ source('recipe_log') }}
), recipe AS (
  SELECT CAST(date_trunc('week', f.recipe_date) AS DATE) AS period,
         COUNT(*) AS total_dishes,
         COUNT(CASE WHEN f.dish_type = 'New' THEN 1 END) AS total_new_dishes,
         COUNT(CASE WHEN f.dish_type = 'Repeat' THEN 1 END) AS total_repeat_dishes,
         SUM(r.`Cost`) AS total_cost
  FROM flags f
  JOIN (SELECT CAST(`Date` AS DATE) AS recipe_date, `Dish`, `Cost`
        FROM {{ source('recipe_log') }}) r
    ON f.recipe_date = r.recipe_date AND f.`Dish` = r.`Dish`
  GROUP BY 1
), plants AS (
  SELECT CAST(date_trunc('week', `Date`) AS DATE) AS period,
         COUNT(DISTINCT `Plant`) AS total_unique_plants
  FROM {{ ref('recipe_log_flattened') }} GROUP BY 1
), shopping AS (
  SELECT CAST(date_trunc('week', `Date`) AS DATE) AS period,
         COUNT(DISTINCT `Ingredient`) AS unique_ingredients_purchased,
         SUM(`Quantity`) AS total_ingredients_purchased,
         SUM(`Price`) AS total_ingredients_spend
  FROM {{ source('shopping_log') }} GROUP BY 1
)
SELECT s.week_start, s.week_end, s.week,
       e.total_workouts, e.total_runs, e.total_miles, e.total_calories,
       e.total_minutes, e.total_reps, e.total_sets,
       w.total_weight_measurements, w.average_weight,
       r.total_dishes, r.total_new_dishes, r.total_repeat_dishes, r.total_cost,
       pl.total_unique_plants,
       sh.unique_ingredients_purchased, sh.total_ingredients_purchased,
       sh.total_ingredients_spend
FROM spine s
LEFT JOIN exercise e ON s.week_start = e.period
LEFT JOIN weight w ON s.week_start = w.period
LEFT JOIN recipe r ON s.week_start = r.period
LEFT JOIN plants pl ON s.week_start = pl.period
LEFT JOIN shopping sh ON s.week_start = sh.period
WHERE s.week_start <= DATE'2025-08-31'
