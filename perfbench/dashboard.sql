-- Benchmark snapshot of the panels of examples/dashboard.sql (a saved
-- ClickHouse dashboard, kept verbatim in the ClickHouse dialect) that one
-- refresh of the analytics workload runs, under their original panel
-- numbers. Frozen so the workload does not change when the example does;
-- perfbench/workloads.py applies the time picker.
--
-- Table schemas (generated by perfbench/datagen.py): events(event_id,
-- ts, user_id, event_type, value, props), orders/customer/lineitem =
-- TPC-H-ish, documents(doc_id, source, text, n_chars, ...).

-- 1. traffic by hour, last-N-days style window
SELECT toStartOfHour(ts) AS h, count() AS hits, uniq(user_id) AS visitors
FROM events
WHERE ts > now() - INTERVAL 3000 DAY
GROUP BY h ORDER BY h LIMIT 100;

-- 6. funnel depth histogram, 1-day conversion window
SELECT depth, count() AS n_users FROM (
  SELECT user_id,
         windowFunnel(86400)(ts, event_type = 'signup',
                             event_type = 'click',
                             event_type = 'purchase') AS depth
  FROM events
  WHERE event_type IN ('signup', 'click', 'purchase')
  GROUP BY user_id
) GROUP BY depth ORDER BY depth;

-- 13. device share from the JSON props blob
SELECT JSONExtractString(props, 'device') AS device, count() AS n
FROM events GROUP BY device ORDER BY n DESC LIMIT 5;

-- 30. token positions via zipped ARRAY JOIN (parallel arrays iterate
-- in lock-step, not a cross product)
SELECT tok, pos, count() AS n
FROM documents
ARRAY JOIN splitByChar(' ', text) AS tok,
           arrayEnumerate(splitByChar(' ', text)) AS pos
WHERE pos <= 2
GROUP BY tok, pos ORDER BY n DESC, tok, pos LIMIT 10;

-- 39. deadline conversions: click-to-purchase chains completing within
-- an hour, greedy non-overlapping with exact re-anchoring (timed NFA)
SELECT countIf(c > 0) AS converting_users,
       count() AS tracked_users,
       round(avg(c), 4) AS avg_conversions
FROM (
  SELECT user_id,
         sequenceCount('(?1)(?t<=3600)(?2)')(
           ts, event_type = 'click', event_type = 'purchase') AS c
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id
);

-- 42. typo-tolerant search-term triage: closest vocabulary token for
-- misspelled queries (r7 damerauLevenshteinDistance pandas UDF;
-- vocabulary-first so the DP runs on distinct tokens only)
SELECT probe,
       min(damerauLevenshteinDistance(tok, probe)) AS best_dist,
       countIf(damerauLevenshteinDistance(tok, probe) <= 1) AS near_hits
FROM (
  SELECT DISTINCT arrayJoin(splitByChar(' ', text)) AS tok
  FROM documents
) CROSS JOIN (
  SELECT arrayJoin(['qurey', 'custmer', 'striam']) AS probe
)
GROUP BY probe ORDER BY probe;

-- 48. day-over-day retention via the bitmap set algebra (r8)
SELECT a.day AS day,
       bitmapCardinality(a.users) AS dau,
       bitmapAndCardinality(a.users, b.users) AS retained
FROM (SELECT toDate(ts) AS day, bitmapBuild(groupUniqArray(user_id)) AS users
      FROM events GROUP BY toDate(ts)) a
JOIN (SELECT toDate(ts) AS day, bitmapBuild(groupUniqArray(user_id)) AS users
      FROM events GROUP BY toDate(ts)) b ON b.day = a.day + 1
ORDER BY day LIMIT 10;
