{{ config(materialized='table') }}

SELECT CAST(card_last4 AS BIGINT) AS card_last4, bank, card_name
FROM VALUES (3221, 'Chase', 'Freedom'),
            (6823, 'Chase', 'Prime'),
            (4245, 'Chase', 'Sapphire'),
            (5083, 'Wells Fargo', 'Bilt') AS t(card_last4, bank, card_name)
