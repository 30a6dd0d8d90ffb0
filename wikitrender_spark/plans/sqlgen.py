"""DuckDB oracle-SQL builders for the wikitrender pipeline.

These generate the ANSI-SQL equivalents the driver runs in DuckDB against
the same parquet tables. Keyword lists / regexes are imported from
``functions.classify`` so the Spark plan and the oracle can never drift.

The state aggregation mirrors operators/page_state.py level-for-level
(groupBy(id,user) -> groupBy(id)) and the metric arithmetic mirrors
functions/metrics.py expression-for-expression, so double results are
bit-identical (same IEEE op order), not merely close.
"""

from __future__ import annotations

from ..functions import classify
from ..operators.derive import duckdb_rc_cte

GRACE_MINUTES = 60  # snapshot clock: now = max(rc.ts) + grace


def duck_str_lit(s: str) -> str:
    """Escape a Python string into a DuckDB single-quoted literal: quotes
    doubled, backslashes literal (DuckDB string literals process no
    escapes)."""
    return "'" + s.replace("'", "''") + "'"


def contains_any_sql(col: str, keywords: tuple[str, ...]) -> str:
    """Substring match per keyword via LIKE '%kw%' — equal to Python's
    ``in`` only while no keyword holds a LIKE wildcard (``%``, ``_``)."""
    parts = " OR ".join(
        f"lower({col}) LIKE {duck_str_lit('%' + kw + '%')}" for kw in keywords
    )
    return f"({parts})"


def is_revert_sql(col: str = "comment") -> str:
    return contains_any_sql(col, classify.REVERT_KEYWORDS)


def is_bot_sql(bot: str = "bot", user: str = '"user"') -> str:
    bots = ", ".join(duck_str_lit(b) for b in classify.KNOWN_BOTS)
    return f"(coalesce({bot}, false) OR {user} IN ({bots}))"


def is_ip_sql(user: str = '"user"') -> str:
    return f"regexp_matches({user}, {duck_str_lit(classify.IP_REGEX)})"


def wiki_norm_sql(wiki: str = "wiki") -> str:
    return f"CASE WHEN {wiki} = 'enwiki' THEN '' ELSE {wiki} END"


def page_id_sql(title: str = "title", wiki: str = "wiki") -> str:
    norm = wiki_norm_sql(wiki)
    return f"CASE WHEN ({norm}) = '' THEN {title} ELSE ({norm}) || '/' || {title} END"


def delete_target_sql(comment: str = "log_action_comment") -> str:
    rx = duck_str_lit(classify.DELETE_TARGET_REGEX)
    g1 = f"regexp_extract({comment}, {rx}, 1)"
    return f"CASE WHEN {g1} <> '' THEN {g1} ELSE regexp_extract({comment}, {rx}, 2) END"


def classified_events_cte() -> str:
    """CTE chain: rc (derived+filtered) -> e2 (edit branch, classified).
    Mirrors operators/page_state.classified_edit_events."""
    return f"""
rc AS ({duckdb_rc_cte()}),
e2 AS (
  SELECT
    {page_id_sql()} AS id,
    {wiki_norm_sql()} AS wiki,
    title, "user", ts, seq,
    {is_revert_sql()} AS is_revert,
    {is_bot_sql()} AS is_bot,
    (NOT {is_bot_sql()} AND NOT {is_revert_sql()}) AS eligible,
    {is_ip_sql()} AS is_anon,
    (type = 'new') AS is_new,
    CASE WHEN {contains_any_sql('comment', classify.NOTABILITY_KEYWORDS)}
         THEN 1 ELSE 0 END AS notability_hit,
    CASE WHEN {contains_any_sql('comment', classify.VOLATILE_KEYWORDS)}
         THEN 1 ELSE 0 END AS volatile_hit,
    length_new - length_old AS delta
  FROM rc WHERE log_type IS NULL
)"""


def state_agg_sql(src: str, lvl1: str = "lvl1", state: str = "state") -> str:
    """Two CTE definitions `<lvl1>`, `<state>`: the scalar two-level
    page_state aggregation over edit-event relation `src` (mirrors
    operators/page_state.aggregate_classified with_collections=False).
    All sums cast to BIGINT (DuckDB sums to HUGEINT; Spark to LONG)."""
    return f"""{lvl1} AS (
  SELECT id, "user",
    min(wiki) AS wiki, min(title) AS title,
    CAST(sum(CASE WHEN eligible THEN 1 ELSE 0 END) AS BIGINT) AS user_edits,
    max(is_anon) AS is_anon,
    CAST(sum(CASE WHEN eligible AND is_anon THEN 1 ELSE 0 END) AS BIGINT) AS p_anon,
    CAST(sum(CASE WHEN is_revert THEN 1 ELSE 0 END) AS BIGINT) AS p_rev,
    max(is_new) AS p_new,
    CAST(sum(notability_hit) AS BIGINT) AS p_not,
    CAST(sum(volatile_hit) AS BIGINT) AS p_vol,
    CAST(sum(CASE WHEN is_revert OR NOT is_bot THEN delta ELSE 0 END) AS BIGINT) AS p_bytes,
    min(ts) AS p_start, max(ts) AS p_upd
  FROM {src} GROUP BY id, "user"
),
{state} AS (
  SELECT id,
    min(wiki) AS wiki, min(title) AS title,
    CAST(sum(user_edits) AS BIGINT) AS edits,
    CAST(sum(p_anon) AS BIGINT) AS anonEdits,
    max(p_new) AS isNew,
    CAST(sum(p_not) AS BIGINT) AS notabilityFlags,
    CAST(sum(p_vol) AS BIGINT) AS volatileFlags,
    CAST(sum(p_rev) AS BIGINT) AS reverts,
    min(p_start) AS start,
    max(p_upd) AS updated,
    CAST(sum(p_bytes) AS BIGINT) AS bytesChanged,
    count(CASE WHEN user_edits > 0 AND NOT is_anon THEN "user" END) AS n_contributors,
    count(CASE WHEN user_edits > 0 AND is_anon THEN "user" END) AS n_anons,
    CAST(max(CASE WHEN user_edits > 0 THEN user_edits END) AS BIGINT) AS max_user_edits,
    CAST(sum(CASE WHEN user_edits > 0 THEN user_edits END) AS BIGINT) AS total_user_edits
  FROM {lvl1} GROUP BY id
)"""


def page_state_cte() -> str:
    """CTE chain ending in `state` — the scalar page_state aggregation
    (two-level, mirroring operators/page_state.page_state
    with_collections=False)."""
    return f"""{classified_events_cte()},
{state_agg_sql("e2")}"""


def metrics_cte(grace_minutes: int = GRACE_MINUTES) -> str:
    """CTE chain ending in `m` = state + now + D1-D4 metric columns.
    Arithmetic mirrors functions/metrics.py exactly:
    minutes = (unix_micros(now) - unix_micros(t)) / 60000000.0."""
    return f"""{page_state_cte()},
clock AS (SELECT max(ts) + INTERVAL {grace_minutes} MINUTE AS now_ts FROM rc),
m0 AS (
  SELECT state.*, epoch_us(clock.now_ts) AS now_us FROM state CROSS JOIN clock
),
m AS (
  SELECT *,
    (now_us - epoch_us(start)) / 60000000.0 AS age_min,
    (now_us - epoch_us(updated)) / 60000000.0 AS last_updated_min,
    CASE WHEN ((now_us - epoch_us(start)) / 60000000.0) < 1.0
              OR CAST(edits AS DOUBLE) = 0.0
         THEN CAST(edits AS DOUBLE)
         ELSE CAST(edits AS DOUBLE) / ((now_us - epoch_us(start)) / 60000000.0)
    END AS edits_per_minute,
    CASE WHEN coalesce(total_user_edits, 0) = 0 THEN 0.0
         ELSE CAST(max_user_edits AS DOUBLE) / CAST(total_user_edits AS DOUBLE)
    END AS bias
  FROM m0
)"""


def page_state_oracle() -> str:
    """Oracle for the scalar page_state snapshot (timestamps as unix
    micros for engine-stable hashing)."""
    return f"""WITH {page_state_cte()}
SELECT id, wiki, title, edits, anonEdits, isNew, notabilityFlags,
       volatileFlags, reverts,
       epoch_us(start) AS start_us, epoch_us(updated) AS updated_us,
       bytesChanged, n_contributors, n_anons, max_user_edits,
       total_user_edits
FROM state"""


def q1_oracle(k: int = 5) -> str:
    return f"""WITH {metrics_cte()}
SELECT id, title, edits, edits_per_minute FROM m
ORDER BY edits_per_minute DESC, id ASC LIMIT {k}"""


def q2_oracle(k: int = 5) -> str:
    return f"""WITH {metrics_cte()}
SELECT id, title, bytesChanged FROM m
ORDER BY bytesChanged DESC, id ASC LIMIT {k}"""


def q3_oracle(k: int = 5) -> str:
    return f"""WITH {metrics_cte()}
SELECT id, title, bias FROM m
ORDER BY bias DESC, id ASC LIMIT {k}"""


def topk_per_wiki_oracle(k: int) -> str:
    """Per-wiki top-k by edits-per-minute (the partitioned row_number
    form of Q1, SURVEY.md §2.7)."""
    return f"""WITH {metrics_cte()}
SELECT wiki, id, title, edits, edits_per_minute, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY wiki
            ORDER BY edits_per_minute DESC, id ASC) AS rnk
  FROM m) t
WHERE rnk <= {k}"""


def purge_oracle(max_lifespan: float, max_inactivity: float,
                 min_speed: float, min_purge_time: float) -> str:
    """P2 survivors (/root/reference/index.js:362-398); safe=false for all
    (no control stream in the oracle path)."""
    return f"""WITH {metrics_cte()}
SELECT id, title, edits, reverts, age_min, last_updated_min, edits_per_minute
FROM m
WHERE NOT (
  age_min > {min_purge_time} AND (
    (edits_per_minute < {min_speed} OR last_updated_min > {max_inactivity})
    OR age_min > {max_lifespan}
  )
)"""


def _epm_variant_sql(count_expr: str) -> str:
    """One D3 variant: the guard tests the VARIANT's own count (the
    reference adds the flags into `count` before the age check,
    /root/reference/index.js:80-88), mirroring
    functions/metrics.edits_per_minute."""
    c = f"CAST({count_expr} AS DOUBLE)"
    return f"CASE WHEN age_min < 1.0 OR {c} = 0.0 THEN {c} ELSE {c} / age_min END"


def epm_variants_oracle() -> str:
    """D3 flag matrix: editsPerMinute with every (includeReverts,
    includeAnons) combination side by side — pins the variant arithmetic
    the default-flag queries never exercise."""
    return f"""WITH {metrics_cte()}
SELECT id, edits, reverts, anonEdits,
  edits_per_minute AS epm_default,
  {_epm_variant_sql("edits + reverts")} AS epm_reverts,
  {_epm_variant_sql("edits + anonEdits")} AS epm_anons,
  {_epm_variant_sql("edits + reverts + anonEdits")} AS epm_all
FROM m"""


def purge_safe_list_oracle(max_lifespan: float, max_inactivity: float,
                           min_speed: float, min_purge_time: float) -> str:
    """P2 with the A7 markSafe control surface: a deterministic
    data-derived control stream (markSafe for notable pages, a later
    clearSafe for volatile ones — latest (ts, seq) wins, mirroring
    lifecycle.apply_safe_list), then the eviction predicate where safe
    pages dodge the speed/inactivity clause but NOT the max-lifespan
    override (/root/reference/index.js:362-398)."""
    return f"""WITH {metrics_cte()},
ctl AS (
  SELECT id, 'markSafe' AS command, updated AS ts, 0 AS seq
  FROM state WHERE notabilityFlags > 0
  UNION ALL
  SELECT id, 'clearSafe' AS command, updated AS ts, 1 AS seq
  FROM state WHERE volatileFlags > 0
),
latest AS (
  SELECT id, command FROM (
    SELECT id, command,
           row_number() OVER (PARTITION BY id ORDER BY ts DESC, seq DESC) AS rn
    FROM ctl) t
  WHERE rn = 1
),
sm AS (
  SELECT m.*, coalesce(latest.command = 'markSafe', FALSE) AS safe
  FROM m LEFT JOIN latest USING (id)
)
SELECT id, title, edits, safe, age_min, last_updated_min, edits_per_minute
FROM sm
WHERE NOT (
  age_min > {min_purge_time} AND (
    (NOT safe AND (edits_per_minute < {min_speed}
                   OR last_updated_min > {max_inactivity}))
    OR age_min > {max_lifespan}
  )
)"""


def state_diff_oracle(divisor: int = 4) -> str:
    """Snapshot diff twin: early state (events with seq <= max(seq)
    integer-divided by ``divisor`` — `//` here, `DIV` on the Spark
    side; both exact integer division, never a rounding double cast)
    full-outer against the final state; unchanged rows excluded with
    NULL-SAFE comparisons (IS NOT DISTINCT FROM, mirroring Spark's
    eqNullSafe — a metric NULL in both snapshots is unchanged)."""
    return f"""WITH {classified_events_cte()},
mid AS (SELECT max(seq) // {divisor} AS mid FROM rc),
e2e AS (SELECT e2.* FROM e2, mid WHERE e2.seq <= mid.mid),
{state_agg_sql("e2e", "lvl1e", "state_e")},
{state_agg_sql("e2", "lvl1f", "state_f")}
SELECT coalesce(f.id, e.id) AS id,
  CASE WHEN e.id IS NULL THEN 'added'
       WHEN f.id IS NULL THEN 'removed'
       ELSE 'changed' END AS change_type,
  CAST(coalesce(e.edits, 0) AS BIGINT) AS edits_early,
  CAST(coalesce(f.edits, 0) AS BIGINT) AS edits_full,
  CAST(coalesce(f.bytesChanged, 0) - coalesce(e.bytesChanged, 0)
       AS BIGINT) AS bytes_delta
FROM state_e e FULL OUTER JOIN state_f f ON e.id = f.id
WHERE NOT (e.id IS NOT NULL AND f.id IS NOT NULL
  AND e.edits IS NOT DISTINCT FROM f.edits
  AND e.anonEdits IS NOT DISTINCT FROM f.anonEdits
  AND e.reverts IS NOT DISTINCT FROM f.reverts
  AND e.bytesChanged IS NOT DISTINCT FROM f.bytesChanged)"""


def heavy_hitters_oracle(k: int) -> str:
    """Top-k titles per wiki by raw rc event count — the exact relation
    the streaming SpaceSaving summary reproduces when its capacity
    exceeds the distinct-title count (streaming/heavyhitters.py)."""
    return f"""WITH rc AS ({duckdb_rc_cte()}),
cnt AS (SELECT wiki, title, count(*) AS n_events FROM rc GROUP BY 1, 2)
SELECT wiki, title, CAST(n_events AS BIGINT) AS n_events,
       CAST(rnk AS INT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY wiki
            ORDER BY n_events DESC, title ASC) AS rnk FROM cnt) t
WHERE rnk <= {k}"""


def classify_counts_oracle() -> str:
    """Classifier cross-tab over edit events (F5/F8/F9/F10 in isolation)."""
    return f"""WITH {classified_events_cte()}
SELECT is_revert, is_bot, is_anon,
       count(*) AS n,
       CAST(sum(delta) AS BIGINT) AS total_delta,
       CAST(sum(notability_hit) AS BIGINT) AS notability_hits,
       CAST(sum(volatile_hit) AS BIGINT) AS volatile_hits
FROM e2
GROUP BY is_revert, is_bot, is_anon"""


def delete_targets_oracle() -> str:
    """F11 regexp extraction over delete log events."""
    return f"""WITH rc AS ({duckdb_rc_cte()})
SELECT seq, {delete_target_sql()} AS target
FROM rc
WHERE log_type = 'log' AND log_action = 'delete'"""


def windowed_activity_oracle() -> str:
    """Tumbling 1-hour event-time windows over classified edit events
    (Spark's window() aligns to epoch => date_trunc('hour'))."""
    return f"""WITH {classified_events_cte()}
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
  epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end_us,
  count(*) AS n_events,
  CAST(sum(CASE WHEN eligible THEN 1 ELSE 0 END) AS BIGINT) AS n_edits,
  CAST(sum(CASE WHEN is_revert THEN 1 ELSE 0 END) AS BIGINT) AS n_reverts,
  count(DISTINCT id) AS n_pages,
  CAST(sum(CASE WHEN is_revert OR NOT is_bot THEN delta ELSE 0 END) AS BIGINT)
    AS total_delta
FROM e2 GROUP BY 1, 2"""


def session_activity_oracle(gap_hours: int) -> str:
    """Per-page session windows with a `gap_hours` inactivity gap —
    lag-gap-cumsum sessionization, matching Spark's session_window merge
    rule (same session iff ts - prev_ts < gap, half-open)."""
    return f"""WITH {classified_events_cte()},
marked AS (
  SELECT id, ts, seq,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL {gap_hours} HOUR
         THEN 1 ELSE 0 END AS brk
  FROM e2
  WINDOW w AS (PARTITION BY id ORDER BY ts, seq)
),
sess AS (
  SELECT id, ts,
    sum(brk) OVER (PARTITION BY id ORDER BY ts, seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT id, epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS last_us, count(*) AS n_events
FROM sess GROUP BY id, sid"""


def protect_followups_oracle(window_hours: int) -> str:
    """Interval join: edits to protect log actions on the same page within
    the following `window_hours` (streaming/joins.py batch twin)."""
    return f"""WITH {classified_events_cte()},
pr AS (
  SELECT {page_id_sql()} AS id, ts AS p_ts, seq AS p_seq
  FROM rc WHERE log_type IS NOT NULL AND log_action = 'protect')
SELECT e.id, e.seq AS e_seq, pr.p_seq,
  (epoch_us(pr.p_ts) - epoch_us(e.ts)) / 60000000.0 AS gap_min
FROM e2 e JOIN pr ON e.id = pr.id
  AND pr.p_ts >= e.ts
  AND pr.p_ts <= e.ts + INTERVAL {window_hours} HOUR"""


def lifecycle_oracle() -> str:
    """Oracle for page_state_lifecycle (operators/lifecycle.py): final
    state after deletes (cuts), moves (state adoption at the last move per
    source) and protects, in replay order. Mirrors the DataFrame
    formulation CTE-for-CTE; same no-rename-chain restriction (guaranteed
    by the derivation: move targets live in a disjoint title namespace)."""
    return f"""WITH {classified_events_cte()},
logs AS (
  SELECT
    {page_id_sql()} AS id,
    CASE WHEN log_action = 'move' THEN {page_id_sql("log_target")} END AS move_dst,
    CASE WHEN log_action = 'delete' THEN {page_id_sql(delete_target_sql())}
    END AS delete_id,
    log_action, log_target, wiki, ts, seq
  FROM rc WHERE log_type IS NOT NULL
),
cuts AS (
  SELECT delete_id AS id, seq FROM logs WHERE log_action = 'delete'
  UNION ALL
  SELECT id, seq FROM logs WHERE log_action = 'move'
),
last_cut AS (SELECT id, max(seq) AS cut_seq FROM cuts GROUP BY id),
live AS (
  SELECT e2.* FROM e2 LEFT JOIN last_cut USING (id)
  WHERE cut_seq IS NULL OR seq > cut_seq
),
{state_agg_sql("live", "live_lvl1", "live_state")},
first_edit AS (SELECT id, min(seq) AS first_edit_seq FROM live GROUP BY id),
protects AS (SELECT id, seq AS pr_seq FROM logs WHERE log_action = 'protect'),
pr AS (
  SELECT p.id, max(pr_seq) AS max_pr_seq
  FROM protects p LEFT JOIN last_cut lc USING (id)
  WHERE lc.cut_seq IS NULL OR p.pr_seq > lc.cut_seq
  GROUP BY p.id
),
direct AS (
  SELECT s.*, coalesce(pr.max_pr_seq > fe.first_edit_seq, false) AS isProtected
  FROM live_state s
  LEFT JOIN first_edit fe USING (id)
  LEFT JOIN pr USING (id)
),
last_move AS (
  SELECT id, max(seq) AS mv_seq, arg_max(ts, seq) AS mv_ts,
         arg_max(move_dst, seq) AS dst_id, arg_max(log_target, seq) AS dst_title,
         arg_max(wiki, seq) AS mv_wiki
  FROM logs WHERE log_action = 'move' GROUP BY id
),
prev_cut AS (
  SELECT c.id, max(c.seq) AS prev_cut_seq
  FROM cuts c JOIN last_move lm ON c.id = lm.id AND c.seq < lm.mv_seq
  GROUP BY c.id
),
wb AS (
  SELECT lm.*, coalesce(pc.prev_cut_seq, -1) AS prev_cut_seq
  FROM last_move lm LEFT JOIN prev_cut pc USING (id)
),
adopted_edits AS (
  SELECT e2.* FROM e2 JOIN wb USING (id)
  WHERE e2.seq > wb.prev_cut_seq AND e2.seq <= wb.mv_seq
),
{state_agg_sql("adopted_edits", "ad_lvl1", "ad_state")},
adopted_first AS (SELECT id, min(seq) AS first_edit_seq FROM adopted_edits GROUP BY id),
adopted_pr AS (
  SELECT p.id, max(p.pr_seq) AS max_pr_seq
  FROM protects p JOIN wb USING (id)
  WHERE p.pr_seq > wb.prev_cut_seq AND p.pr_seq <= wb.mv_seq
  GROUP BY p.id
),
adopted AS (
  SELECT
    wb.dst_id AS id,
    {wiki_norm_sql("wb.mv_wiki")} AS wiki,
    wb.dst_title AS title,
    coalesce(s.edits, 0) AS edits,
    coalesce(s.anonEdits, 0) AS anonEdits,
    coalesce(s.isNew, false) AS isNew,
    coalesce(s.notabilityFlags, 0) AS notabilityFlags,
    coalesce(s.volatileFlags, 0) AS volatileFlags,
    coalesce(s.reverts, 0) AS reverts,
    coalesce(s.start, wb.mv_ts) AS start,
    wb.mv_ts AS updated,
    coalesce(s.bytesChanged, 0) AS bytesChanged,
    coalesce(s.n_contributors, 0) AS n_contributors,
    coalesce(s.n_anons, 0) AS n_anons,
    s.max_user_edits, s.total_user_edits,
    coalesce(apr.max_pr_seq > af.first_edit_seq, false) AS isProtected
  FROM wb
  LEFT JOIN ad_state s USING (id)
  LEFT JOIN adopted_first af USING (id)
  LEFT JOIN adopted_pr apr USING (id)
)
SELECT id, wiki, title, edits, anonEdits, isNew, notabilityFlags,
       volatileFlags, reverts, epoch_us(start) AS start_us,
       epoch_us(updated) AS updated_us, bytesChanged, n_contributors,
       n_anons, max_user_edits, total_user_edits, isProtected
FROM direct
UNION ALL
SELECT id, wiki, title, edits, anonEdits, isNew, notabilityFlags,
       volatileFlags, reverts, epoch_us(start) AS start_us,
       epoch_us(updated) AS updated_us, bytesChanged, n_contributors,
       n_anons, max_user_edits, total_user_edits, isProtected
FROM adopted"""


def ingest_dedup_oracle() -> str:
    """Survivor aggregate after exact ingest dedup: the injected-dupe
    replay (streaming/dedup.replay_events_with_dupes) must collapse back
    to exactly the source table — one survivor per distinct event_id —
    so the oracle is a plain GROUP BY over events. count + an order-free
    BIGINT id-sum make any surviving duplicate (or over-dropped row)
    flip both metrics."""
    return """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(event_id) AS BIGINT) AS sum_ids
FROM events
GROUP BY event_type
ORDER BY event_type"""


def ingest_dedup_watermark_oracle() -> str:
    """Survivor aggregate after WATERMARK-BOUNDED ingest dedup. The
    replay (streaming/dedup.replay_events_with_late_dupes) pins the
    engine outcome to pure arithmetic: every source event survives once,
    plus one extra copy of each mod-7 event whose event time falls at
    least the guard band below ``max_ts - 2*H`` (H = span/4 in whole
    seconds) — the dupes whose state the horizon already reclaimed.
    Identical integer µs arithmetic on both sides (DuckDB // == Spark
    DIV for the non-negative operands)."""
    from ..streaming.dedup import INGEST_DUP_MOD, WATERMARK_GUARD_US

    return f"""
WITH b AS (
  SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS hius,
         CAST(min(epoch_us(ts)) AS BIGINT) AS lous
  FROM events),
p AS (
  SELECT hius - 2 * (((hius - lous) // 4 // 1000000) * 1000000) AS cutoff
  FROM b),
surviving_dupes AS (
  SELECT e.event_type, e.event_id
  FROM events e, p
  WHERE e.event_id % {INGEST_DUP_MOD} = 0
    AND epoch_us(e.ts) <= p.cutoff - {WATERMARK_GUARD_US}),
all_rows AS (
  SELECT event_type, event_id FROM events
  UNION ALL
  SELECT event_type, event_id FROM surviving_dupes)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(event_id) AS BIGINT) AS sum_ids
FROM all_rows
GROUP BY event_type
ORDER BY event_type"""


def transitions_cte() -> str:
    """CTE chain for the edit-transition graph (mirrors
    operators/graph.edit_transitions level-for-level): classified edit
    events -> per-user lag sequence -> (src, dst, w) distinct-page
    transition counts -> per-source out-weights."""
    return f"""{classified_events_cte()},
seqd AS (
  SELECT "user", ts, seq, id,
         lag(id) OVER (PARTITION BY "user" ORDER BY ts, seq) AS src
  FROM e2
),
trans AS (
  SELECT src, id AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM seqd WHERE src IS NOT NULL AND src <> id
  GROUP BY src, id
),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM trans GROUP BY src)"""


def markov_transitions_oracle(k: int = 25) -> str:
    """Top-k transitions with rational row probability (w, out_w) —
    twin of operators/graph.markov_top_transitions."""
    return f"""
WITH {transitions_cte()}
SELECT t.src, t.dst, t.w, o.out_w
FROM trans t JOIN outw o USING (src)
ORDER BY t.w DESC, t.src, t.dst LIMIT {k}"""


def coedit_pairs_oracle(cap: int, k: int) -> str:
    """Top-k co-edited page pairs by shared human editors — twin of
    operators/graph.coedit_pairs (per-user cap on most-edited pages,
    then pair counts over the capped sets)."""
    return f"""
WITH {classified_events_cte()},
ue AS (
  SELECT "user", id, CAST(count(*) AS BIGINT) AS n_edits
  FROM e2 WHERE NOT is_bot GROUP BY "user", id),
tp AS (
  SELECT "user", id FROM ue
  QUALIFY row_number() OVER (PARTITION BY "user"
                             ORDER BY n_edits DESC, id) <= {cap}),
p AS (
  SELECT a.id AS page_a, b.id AS page_b, CAST(count(*) AS BIGINT) AS n_coeditors
  FROM tp a JOIN tp b ON a."user" = b."user" AND a.id < b.id
  GROUP BY a.id, b.id),
top AS (
  SELECT * FROM p
  ORDER BY n_coeditors DESC, page_a, page_b LIMIT {k})
SELECT page_a, page_b, n_coeditors,
  CAST(row_number() OVER (ORDER BY n_coeditors DESC, page_a, page_b)
       AS INT) AS rank
FROM top"""


def stream_trending_oracle(k: int) -> str:
    """Per-hour top-k pages by classified edit events — twin of
    wikitrender_queries.q_stream_trending (the sentinel construction
    makes the streaming emitted set exactly this batch relation)."""
    return f"""
WITH {classified_events_cte()},
c AS (
  SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
           AS window_start_us,
         id, CAST(count(*) AS BIGINT) AS n_events
  FROM e2 GROUP BY 1, 2)
SELECT window_start_us, id, n_events,
  CAST(row_number() OVER (PARTITION BY window_start_us
       ORDER BY n_events DESC, id) AS INT) AS rank
FROM c
QUALIFY rank <= {k}"""


def revert_chains_oracle(k: int) -> str:
    """Longest consecutive-revert chain per page — twin of
    wikitrender_queries.q_revert_chains (same two-row_number
    gaps-and-islands over the per-page edit sequence)."""
    return f"""
WITH {classified_events_cte()},
seqd AS (
  SELECT id, is_revert,
    row_number() OVER (PARTITION BY id ORDER BY ts, seq) AS rn
  FROM e2),
rev AS (
  SELECT id, rn,
    row_number() OVER (PARTITION BY id ORDER BY rn) AS rr
  FROM seqd WHERE is_revert),
chains AS (
  SELECT id, rn - rr AS grp, CAST(count(*) AS BIGINT) AS chain_len
  FROM rev GROUP BY 1, 2),
agg AS (
  SELECT id,
    max(chain_len) AS max_chain,
    CAST(sum(CASE WHEN chain_len >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_chains,
    CAST(sum(chain_len) AS BIGINT) AS n_reverts
  FROM chains GROUP BY id),
top AS (SELECT * FROM agg
        ORDER BY max_chain DESC, n_chains DESC, id LIMIT {k})
SELECT id, max_chain, n_chains, n_reverts,
  CAST(row_number() OVER (ORDER BY max_chain DESC, n_chains DESC, id)
       AS INT) AS rank
FROM top"""


def edit_wars_oracle(k: int) -> str:
    """Pages ranked by adjacent different-editor revert pairs — twin of
    wikitrender_queries.q_edit_wars (same per-page lag sequence)."""
    return f"""
WITH {classified_events_cte()},
seqd AS (
  SELECT id, "user", is_revert,
    lag("user") OVER (PARTITION BY id ORDER BY ts, seq) AS prev_user,
    lag(is_revert) OVER (PARTITION BY id ORDER BY ts, seq) AS prev_revert
  FROM e2),
agg AS (
  SELECT id,
    CAST(sum(CASE WHEN prev_user IS NOT NULL AND prev_user <> "user"
                   AND (is_revert OR prev_revert) THEN 1 ELSE 0 END)
      AS BIGINT) AS war_pairs,
    CAST(count(*) AS BIGINT) AS n_edits,
    CAST(sum(CASE WHEN is_revert THEN 1 ELSE 0 END) AS BIGINT) AS n_reverts
  FROM seqd GROUP BY id),
top AS (SELECT * FROM agg ORDER BY war_pairs DESC, id LIMIT {k})
SELECT id, war_pairs, n_edits, n_reverts,
  CAST(row_number() OVER (ORDER BY war_pairs DESC, id) AS INT) AS rank
FROM top"""


def degree_topk_oracle(k: int) -> str:
    """Top-k transition-graph nodes by total degree — twin of
    operators/graph.degree_topk."""
    return f"""
WITH {transitions_cte()},
outd AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg,
                CAST(sum(w) AS BIGINT) AS out_w
         FROM trans GROUP BY 1),
ind AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg,
               CAST(sum(w) AS BIGINT) AS in_w
        FROM trans GROUP BY 1),
nodes AS (
  SELECT coalesce(o.node, i.node) AS node,
    coalesce(i.in_deg, 0) AS in_deg, coalesce(o.out_deg, 0) AS out_deg,
    coalesce(i.in_w, 0) AS in_w, coalesce(o.out_w, 0) AS out_w
  FROM outd o FULL OUTER JOIN ind i ON o.node = i.node),
top AS (SELECT * FROM nodes ORDER BY in_deg + out_deg DESC, node LIMIT {k})
SELECT node, in_deg, out_deg, in_w, out_w,
  CAST(row_number() OVER (ORDER BY in_deg + out_deg DESC, node) AS INT)
    AS rank
FROM top"""


def coedit_triangles_oracle(cap: int, min_w: int, k: int) -> str:
    """Top-k co-edit triangles by total edge weight — twin of
    operators/graph.coedit_triangles (same capped pair relation, same
    degree-ordered orientation, same canonicalized output)."""
    return f"""
WITH {classified_events_cte()},
ue AS (
  SELECT "user", id, CAST(count(*) AS BIGINT) AS n_edits
  FROM e2 WHERE NOT is_bot GROUP BY "user", id),
tp AS (
  SELECT "user", id FROM ue
  QUALIFY row_number() OVER (PARTITION BY "user"
                             ORDER BY n_edits DESC, id) <= {cap}),
p AS (
  SELECT a.id AS page_a, b.id AS page_b, CAST(count(*) AS BIGINT) AS w
  FROM tp a JOIN tp b ON a."user" = b."user" AND a.id < b.id
  GROUP BY 1, 2 HAVING count(*) >= {min_w}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT page_a AS node FROM p UNION ALL SELECT page_b AS node FROM p)
  GROUP BY 1),
o AS (
  SELECT
    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.page_a < p.page_b)
         THEN p.page_a ELSE p.page_b END AS u,
    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.page_a < p.page_b)
         THEN p.page_b ELSE p.page_a END AS v,
    p.w
  FROM p
  JOIN deg da ON da.node = p.page_a
  JOIN deg db ON db.node = p.page_b),
wed AS (
  SELECT e1.u, e1.v, e2.v AS x, e1.w AS w_uv, e2.w AS w_vx
  FROM o e1 JOIN o e2 ON e1.v = e2.u),
tri0 AS (
  SELECT wed.*, p.w AS w_ux
  FROM wed
  JOIN p ON p.page_a = least(wed.u, wed.x)
        AND p.page_b = greatest(wed.u, wed.x)),
tri AS (
  SELECT
    least(u, v, x) AS page_a,
    CASE WHEN u <> least(u, v, x) AND u <> greatest(u, v, x) THEN u
         WHEN v <> least(u, v, x) AND v <> greatest(u, v, x) THEN v
         ELSE x END AS page_b,
    greatest(u, v, x) AS page_c,
    u, v, x, w_uv, w_vx, w_ux
  FROM tri0),
trc AS (
  SELECT page_a, page_b, page_c,
    CASE WHEN least(u, v) = page_a AND greatest(u, v) = page_b THEN w_uv
         WHEN least(v, x) = page_a AND greatest(v, x) = page_b THEN w_vx
         ELSE w_ux END AS w_ab,
    CASE WHEN least(u, v) = page_a AND greatest(u, v) = page_c THEN w_uv
         WHEN least(v, x) = page_a AND greatest(v, x) = page_c THEN w_vx
         ELSE w_ux END AS w_ac,
    CASE WHEN least(u, v) = page_b AND greatest(u, v) = page_c THEN w_uv
         WHEN least(v, x) = page_b AND greatest(v, x) = page_c THEN w_vx
         ELSE w_ux END AS w_bc
  FROM tri),
top AS (
  SELECT * FROM trc
  ORDER BY w_ab + w_ac + w_bc DESC, page_a, page_b, page_c LIMIT {k})
SELECT page_a, page_b, page_c, w_ab, w_ac, w_bc,
  CAST(row_number() OVER (ORDER BY w_ab + w_ac + w_bc DESC,
                          page_a, page_b, page_c) AS INT) AS rank
FROM top"""


def pagerank_oracle(iters: int, k: int = 20,
                    scale: int = 1_000_000, teleport: int = 150_000,
                    damp_num: int = 85, damp_den: int = 100) -> str:
    """Fixed-point integer PageRank, unrolled to exactly `iters` CTE
    stages (twin of operators/graph.pagerank_topk — the fixed iteration
    count is the declared semantics, which is what makes the unrolled
    oracle exact). `//` here and Spark's `DIV` agree: every operand is
    non-negative, so truncation == floor. SUM over BIGINT is HUGEINT in
    DuckDB — exact; the damping expression casts back to BIGINT."""
    stages = []
    for i in range(1, iters + 1):
        stages.append(f"""
s{i} AS (
  SELECT n.node,
         CAST({teleport} + ({damp_num} * COALESCE(SUM((s.score * e.w) // e.out_w), 0)) // {damp_den} AS BIGINT) AS score
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN s{i - 1} s ON s.node = e.src
  GROUP BY n.node
)""")
    return f"""
WITH {transitions_cte()},
edges AS (SELECT t.src, t.dst, t.w, o.out_w FROM trans t JOIN outw o USING (src)),
nodes AS (SELECT src AS node FROM trans UNION SELECT dst FROM trans),
s0 AS (SELECT node, CAST({scale} AS BIGINT) AS score FROM nodes),{",".join(stages)}
SELECT node, score FROM s{iters} ORDER BY score DESC, node LIMIT {k}"""
