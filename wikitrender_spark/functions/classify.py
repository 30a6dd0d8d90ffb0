"""Event classifiers F1-F11 (SURVEY.md §2.2) as pure Column expressions.

Everything here is builtin-function Spark SQL — JVM-side, inside
whole-stage codegen, zero Python UDFs — so the classifier stage costs the
same as any projected column at 100 TB.

Semantic pins vs the reference (SURVEY.md §2.9):
- F6: the reference's '→Death' keyword is matched against an
  already-lowercased comment (/root/reference/index.js:219,223) so it can
  never hit; we pin the lowercased form '→death'.
- All other keyword sets are byte-identical to the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F9 — anon (IP) classifier. Exact regex from /root/reference/index.js:12
# (partial match, case-sensitive, incl. its quirks: any dotted quad of
# digits; >=5 uppercase-hex colon groups).
IP_REGEX = (
    r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"
    r"|[0-9A-F]+:[0-9A-F]+:[0-9A-F]+:[0-9A-F]+:[0-9A-F]+"
)

# F8 — bots not flagged as bots (/root/reference/index.js:282).
KNOWN_BOTS = ("ClueBot NG",)

# F5 — revert keywords (/root/reference/index.js:181-186). 'revert'
# subsumes 'reverting'/'reverted'; retained for parity documentation.
REVERT_KEYWORDS = ("tag:", "undid", "revert", "reverting", "wp:", "reverted")

# F6 — notability keywords (/root/reference/index.js:221-224), with the
# '→death' pin.
NOTABILITY_KEYWORDS = ("eventtag", "current event", "→death", "ongoing event")

# F7 — volatility keywords (/root/reference/index.js:230-235).
VOLATILE_KEYWORDS = (
    "speedy deletion",
    "nominated for deletion",
    "nominated page for deletion",
    "restore afd template",
    "{{pp-vandalism",
    "proposing article for deletion",
)

# F11 — delete-target extraction regex (/root/reference/index.js:330).
DELETE_TARGET_REGEX = r'&quot;\[\[(.*)\]\]&quot;|&quot;(.*)&quot;'


def _contains_any(lower_col: Column, keywords: tuple[str, ...]) -> Column:
    expr = F.lit(False)
    for kw in keywords:
        expr = expr | lower_col.contains(kw)
    return expr


def is_ip(user: Column) -> Column:
    """F9 (/root/reference/index.js:11-14)."""
    return user.rlike(IP_REGEX)


def is_bot_edit(bot: Column, user: Column) -> Column:
    """F8 (/root/reference/index.js:280-284): flagged bot OR known bot.
    Null bot flag (absent in JSON) is falsy in the reference."""
    return F.coalesce(bot, F.lit(False)) | user.isin(*KNOWN_BOTS)


def is_revert(comment: Column) -> Column:
    """F5 (/root/reference/index.js:179-187): lowercased substring match."""
    return _contains_any(F.lower(comment), REVERT_KEYWORDS)


def is_fixup(comment: Column) -> Column:
    """F3 (/root/reference/index.js:291-293): case-SENSITIVE, unlike F5/F6."""
    return comment.contains("Fixed error")


def notability_hit(comment: Column) -> Column:
    """F6 (/root/reference/index.js:218-227) -> 0/1 per event (the
    reference increments the counter at most once per comment)."""
    return _contains_any(F.lower(comment), NOTABILITY_KEYWORDS).cast("long")


def volatile_hit(comment: Column) -> Column:
    """F7 (/root/reference/index.js:229-238) -> 0/1 per event."""
    return _contains_any(F.lower(comment), VOLATILE_KEYWORDS).cast("long")


def bytes_changed(length_new: Column, length_old: Column) -> Column:
    """F10 (/root/reference/index.js:244)."""
    return length_new - length_old


def delete_target(log_action_comment: Column) -> Column:
    """F11 (/root/reference/index.js:329-336): title out of the HTML-quoted
    action comment; first capture group, else second."""
    g1 = F.regexp_extract(log_action_comment, DELETE_TARGET_REGEX, 1)
    g2 = F.regexp_extract(log_action_comment, DELETE_TARGET_REGEX, 2)
    return F.when(g1 != "", g1).otherwise(g2)


# --- SQL-text twins (round 17, VERDICT r16 next-round #5) -------------
# The Column forms above are the REFERENCE; these render the identical
# expressions as SQL strings so hot projections (classified_edit_events
# — built by ~25 queries per bench pass) cost ~3 py4j round-trips
# instead of ~60 Column-object constructions. Generated from the SAME
# keyword constants, so keyword drift is impossible; equivalence is
# pinned by optimized-plan sameResult in tests/test_plans.py (the
# bpe_apply_sql / pq SQL-string precedent).


def _contains_any_sql(lower_col: str, keywords: tuple[str, ...]) -> str:
    return "(" + " OR ".join(
        f"contains({lower_col}, {_sql_str_lit(kw)})" for kw in keywords
    ) + ")"


def _sql_str_lit(s: str) -> str:
    """Escape a Python string into a Spark SQL single-quoted literal
    (backslashes doubled — Spark's default parser processes escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_ESCAPED_LITERALS_CONF = "spark.sql.parser.escapedStringLiterals"


def check_sql_literal_parser(spark) -> None:
    """Refuse to build a classifier SQL projection under a parser that
    keeps backslash escapes verbatim: _sql_str_lit escapes for the
    default parser, so with the conf set every backslash in IP_REGEX and
    DELETE_TARGET_REGEX would silently double and the regexes match
    something else."""
    if spark.conf.get(_ESCAPED_LITERALS_CONF, "false").lower() == "true":
        raise ValueError(
            f"{_ESCAPED_LITERALS_CONF}=true is not supported: the "
            "classifier SQL literals are escaped for the default parser; "
            "unset it or set it to false"
        )


def is_ip_sql(user: str) -> str:
    return f"{user} RLIKE {_sql_str_lit(IP_REGEX)}"


def is_bot_edit_sql(bot: str, user: str) -> str:
    bots = ", ".join(_sql_str_lit(b) for b in KNOWN_BOTS)
    return f"(coalesce({bot}, false) OR {user} IN ({bots}))"


def is_revert_sql(comment: str) -> str:
    return _contains_any_sql(f"lower({comment})", REVERT_KEYWORDS)


def notability_hit_sql(comment: str) -> str:
    return (
        "CAST("
        + _contains_any_sql(f"lower({comment})", NOTABILITY_KEYWORDS)
        + " AS BIGINT)"
    )


def volatile_hit_sql(comment: str) -> str:
    return (
        "CAST("
        + _contains_any_sql(f"lower({comment})", VOLATILE_KEYWORDS)
        + " AS BIGINT)"
    )


def delete_target_sql(log_action_comment: str) -> str:
    rx = _sql_str_lit(DELETE_TARGET_REGEX)
    g1 = f"regexp_extract({log_action_comment}, {rx}, 1)"
    g2 = f"regexp_extract({log_action_comment}, {rx}, 2)"
    return f"CASE WHEN {g1} != '' THEN {g1} ELSE {g2} END"


def wiki_norm_sql(wiki: str) -> str:
    return f"CASE WHEN {wiki} = 'enwiki' THEN '' ELSE {wiki} END"


def page_id_sql(wiki: str, title: str) -> str:
    norm = wiki_norm_sql(wiki)
    return (
        f"CASE WHEN ({norm}) = '' THEN {title} "
        f"ELSE concat({norm}, '/', {title}) END"
    )


def page_id(wiki: Column, title: Column) -> Column:
    """A1 key derivation (/root/reference/index.js:436-446): 'enwiki' -> '',
    then id = wiki ? wiki + '/' + title : title.

    Pin (SURVEY.md §2.9): the reference's protectPage builds the id WITHOUT
    this normalization (/root/reference/index.js:418) and therefore never
    matches enwiki pages; we use the normalized id everywhere."""
    norm = F.when(wiki == "enwiki", F.lit("")).otherwise(wiki)
    return F.when(norm == "", title).otherwise(F.concat(norm, F.lit("/"), title))


def keep_event(namespace: Column, server_name: Column, comment: Column,
               project: str = "*") -> Column:
    """F1-F3 pre-filter (/root/reference/index.js:316-318): mainspace only,
    project match, not a fixup. Expressed as one predicate so Catalyst
    pushes it into the source scan."""
    pred = (namespace == 0) & ~is_fixup(comment)
    if project != "*":
        pred = pred & (server_name == project)
    return pred
