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
    """One substring test per keyword, OR'ed as a balanced tree (the
    shape Spark's SQL parser gives an OR chain: depth log n, not n)."""
    if len(keywords) == 1:
        return lower_col.contains(keywords[0])
    half = (len(keywords) + 1) // 2
    return _contains_any(lower_col, keywords[:half]) | _contains_any(
        lower_col, keywords[half:]
    )


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


def wiki_norm(wiki: Column) -> Column:
    """A1 wiki normalization, page_id's first step: 'enwiki' is the
    default wiki and normalizes to ''."""
    return F.when(wiki == "enwiki", F.lit("")).otherwise(wiki)


def page_id(wiki: Column, title: Column) -> Column:
    """A1 key derivation (/root/reference/index.js:436-446): 'enwiki' -> '',
    then id = wiki ? wiki + '/' + title : title.

    Pin (SURVEY.md §2.9): the reference's protectPage builds the id WITHOUT
    this normalization (/root/reference/index.js:418) and therefore never
    matches enwiki pages; we use the normalized id everywhere."""
    norm = wiki_norm(wiki)
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
