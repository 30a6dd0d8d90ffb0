"""sf1 scale probe (VERDICT r2 #6 / round-1 #6): measured per-query rows
at 10x the bench scale factor.

Generates .benchdata/sf1 by replicating the sf0.1 fact tables 10x with
key remapping that preserves join semantics (customer keys offset per
replica; orders follow their replica's customers; lineitem follows its
replica's orders; events offset event_id/user_id so page/user diversity
scales). Dimension tables and the documents/embeddings corpora are
copied as-is — the dedup/ANN queries are content-addressed, so verbatim
replication would only measure degenerate all-pairs duplicates, not
scale (their scale story is the banded-join candidate math, audited in
VERDICT).

Usage: python tools/scale_probe.py [--queries q1,q2,...]
Prints one JSON line: per-query median-of-3 seconds at sf1, plus the
sf0.1 medians from the same session for a like-for-like ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from wikitrender_spark.plans import registry
from wikitrender_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
#: v2 layout (round 17): documents replicate CONTENT-DIVERSE (every
#: token carries a per-replica suffix), so vocabulary / shingle space /
#: band keys scale 10x and the dedup/text sketch rows measure real
#: scale instead of degenerate verbatim duplicates — that unlocks the
#: --heavy list below. v1 kept verbatim text; the dir is versioned so
#: a stale generation can never mix with the new probe rows.
SF1 = os.path.join(REPO, ".benchdata", "sf1v2")
FACTOR = 10

QUERIES = [
    "wt_page_state",
    "wt_most_edited",
    "wt_most_vibrant",
    "wt_purge_survivors",
    "wt_page_state_lifecycle",
    "wt_windowed_activity",
    "wt_session_activity",
    "wt_protect_followups",
    "rel_pricing_summary",
    "rel_top_customers",
    "rel_regional_revenue",
    "rel_topk_per_brand",
    "rel_signup_burst",
    "rel_asof_last_signup",
    "rel_small_quantity_revenue",
    "rel_json_props",
    "tx_token_stats",
    "tx_pack",
    "tx_pack_split",
    "tx_pack_sharded",
    "tx_mix_weights",
    # round-4 corpus-stats additions — per-row / vocab-agg / broadcast
    # shapes, not content-addressed, so 10x replication measures real
    # scale (the dedup/ANN family stays off the list, see above)
    "tx_rarity",
    "tx_tfidf_terms",
    "tx_mix_sample",
    # round-8 (r07 ask #3): the graph layer — event-table queries where
    # replication scales the per-user lag-window volume (user ids offset
    # per replica -> 10x real window/shuffle work) and pagerank is the
    # one iterative plan whose constant factors (localCheckpoints per
    # iteration x K) deserve a measured ratio. CAVEAT (r08 review): page
    # titles derive as event_id % 211 (derive.py N_PAGES), so the NODE
    # set is capped at ~211 per wiki at every SF — replication grows
    # edge WEIGHTS, users, and event volume, not the graph's node/edge
    # count. These ratios measure the event-volume scaling of the
    # extraction + iteration plumbing; node-count scaling is argued by
    # plan shape (hash-aggs and equi-joins on the node id), not by this
    # probe.
    "wt_markov_transitions",
    "wt_pagerank",
    "wt_coedit_pairs",
]

#: round-17 --heavy list (VERDICT r16 next-round #2): the heaviest
#: rewritten rows of optimization rounds 16-17, probed at sf1 to turn
#: their plan-shape claims into measured scale numbers. The dedup/text
#: sketch rows are only meaningful under the v2 content-diverse
#: replication (see SF1 comment); the two streaming drains exercise the
#: round-17 scale-adaptive state-partition derivation at 10x input.
HEAVY_QUERIES = [
    "tx_clean_corpus",
    "dd_minhash_signatures",
    "dd_lsh_candidates",
    "dd_near_duplicates",
    "dd_simhash_pairs",
    "wt_page_state_lifecycle",
    "wt_state_diff",
    "tx_ngram_ppl_buckets",
    "wt_coedit_triangles",
    "dd_bloom_decontaminate",
    "wt_stream_trending",
    "dd_stream_band_buckets",
]


def generate() -> None:
    os.makedirs(SF1, exist_ok=True)
    con = duckdb.connect()
    maxes = {}
    for t, k in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                 ("events", "event_id"), ("events", "user_id")):
        maxes[k] = con.sql(
            f"SELECT max({k}) FROM read_parquet('{SF01}/{t}.parquet')"
        ).fetchone()[0] + 1
    rep = f"(SELECT unnest(range({FACTOR})) AS _r)"
    jobs = {
        "customer": f"""
            SELECT c_custkey + _r * {maxes['c_custkey']} AS c_custkey,
                   c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM read_parquet('{SF01}/customer.parquet'), {rep}""",
        "orders": f"""
            SELECT o_orderkey + _r * {maxes['o_orderkey']} AS o_orderkey,
                   o_custkey + _r * {maxes['c_custkey']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM read_parquet('{SF01}/orders.parquet'), {rep}""",
        "lineitem": f"""
            SELECT l_orderkey + _r * {maxes['o_orderkey']} AS l_orderkey,
                   l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag,
                   l_linestatus, l_shipdate
            FROM read_parquet('{SF01}/lineitem.parquet'), {rep}""",
        "events": f"""
            SELECT event_id + _r * {maxes['event_id']} AS event_id, ts,
                   user_id + _r * {maxes['user_id']} AS user_id,
                   event_type, value, props
            FROM read_parquet('{SF01}/events.parquet'), {rep}""",
        # documents replicate with fresh doc_ids: the token/pack/mix
        # queries are per-row or windowed (NOT content-addressed), so
        # replication measures real scale for them — notably the packing
        # window, whose per-(lang, source) partition grows 10x (the
        # regime the sharded variant exists for). Dedup/ANN queries stay
        # off this table's probe list (verbatim copies would only add
        # degenerate all-pairs duplicates there).
        # v2 (round 17): replica 0 keeps the original text; replicas
        # 1..9 suffix EVERY token with r<_r>, so tokens/shingles/band
        # keys are disjoint across replicas — vocabulary and candidate
        # structure scale 10x while each replica's internal near-dup
        # geometry mirrors the base corpus exactly. n_chars stays the
        # source value (the packing probes read it as a size column;
        # the +3/token drift is irrelevant to scaling ratios).
        "documents": f"""
            SELECT doc_id + _r * 10000000 AS doc_id,
                   CASE WHEN _r = 0 THEN text
                        ELSE array_to_string(
                            list_transform(string_split(text, ' '),
                                           x -> x || 'r' || _r),
                            ' ')
                   END AS text,
                   lang, source, n_chars
            FROM read_parquet('{SF01}/documents.parquet'), {rep}""",
    }
    for t, sql in jobs.items():
        con.sql(f"COPY ({sql}) TO '{SF1}/{t}.parquet' (FORMAT PARQUET)")
    for t in ("region", "nation", "supplier", "part", "embeddings"):
        shutil.copyfile(f"{SF01}/{t}.parquet", f"{SF1}/{t}.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--heavy", action="store_true",
                    help="probe the round-17 HEAVY_QUERIES list")
    ap.add_argument("--cpus", type=int, default=None,
                    help="core count for this run (local[N]); run the "
                         "probe twice (e.g. 32 and 8) for the "
                         "low/high-core scaling ratio")
    args = ap.parse_args()
    if args.queries:
        names = args.queries.split(",")
    else:
        names = HEAVY_QUERIES if args.heavy else QUERIES

    if not os.path.isdir(SF1):
        generate()

    spark = get_spark("scale-probe", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()

    def timed(sf_dir: str) -> dict[str, float]:
        for n in names:  # warmup
            qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
        samples: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(3):
            for n in names:
                # CONSTRUCTION + EXECUTION, like bench.py (r05 fix):
                # several queries do eager work at construction
                # (localCheckpoint materializations, streaming replays —
                # wt_ingest_dedup runs its whole availableNow drain
                # there), and execution-only timing silently excludes it
                t0 = time.perf_counter()
                df = qs[n](spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                samples[n].append(time.perf_counter() - t0)
        return {n: round(statistics.median(v), 3) for n, v in samples.items()}

    t01 = timed(SF01)
    t1 = timed(SF1)
    record = {
        "metric": "sf1_scale_probe_wall_seconds",
        "factor": FACTOR,
        "cpus": args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "layout": os.path.basename(SF1),
        "queries": {n: {"sf0.1": t01[n], "sf1": t1[n],
                        "ratio": round(t1[n] / max(t01[n], 1e-9), 2)}
                    for n in names},
        "total_sf0.1": round(sum(t01.values()), 2),
        "total_sf1": round(sum(t1.values()), 2),
    }
    # archive under bench_runs/ so a later run can always re-read the
    # scaling evidence
    runs_dir = os.path.join(REPO, "bench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    session = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"-{os.getpid()}"
    with open(os.path.join(
        runs_dir, f"scale-probe-{session}.json"
    ), "w") as f:
        json.dump(record, f)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
