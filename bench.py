"""Headline benchmark: times the 26 HEADLINE queries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata dir) on the session
`get_spark` builds ($SPARK_GRAFT_CPUS) and prints ONE compact JSON line:
{"metric", "value": total_sec, "unit", "methodology", "queries":
{name: median_sec}, "sf"}. It writes no file.

perfbench/ (BENCHMARK.json) is the repo's benchmark, with CPU-time
gates and per-layer metrics; this script is the one-line wall-clock
headline over the full 26-query suite.

Queries are materialized via the noop sink (full computation, no driver
collect). The headline set spans every engine subsystem: keyed stateful
aggregation + metrics + top-k (wikitrender core), exact lifecycle replay,
relational joins/aggs, dedup sketching, ANN, text analysis.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wikitrender_spark.plans import registry
from wikitrender_spark.session import get_spark

HEADLINE = [
    "wt_page_state",
    "wt_most_edited",
    "wt_most_vibrant",
    "wt_purge_survivors",
    "wt_page_state_lifecycle",
    "wt_lifecycle_replay",
    "rel_pricing_summary",
    "rel_top_customers",
    "rel_regional_revenue",
    "rel_topk_per_brand",
    "rel_signup_burst",
    "rel_small_quantity_revenue",
    "rel_json_props",
    "wt_windowed_activity",
    "wt_session_activity",
    "wt_protect_followups",
    "tx_token_stats",
    "dd_minhash_signatures",
    "dd_lsh_candidates",
    "dd_near_duplicates",
    "dd_embedding_neardup",
    "tx_clean_corpus",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "mm_media_features",
    "mm_frame_sample",
]

#: timed passes per query; the reported number is their median
N_SAMPLES = 5
METHODOLOGY = (
    f"construction+execution, median-of-{N_SAMPLES}, warm pass excluded"
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("wikitrender-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    def run(name: str) -> float:
        # time CONSTRUCTION + EXECUTION together: several queries do
        # eager work at construction (barrier materializations, the
        # connected-components loop), and timing only the final save
        # would silently exclude it
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return round(time.perf_counter() - t0, 3)

    # untimed warm-up (executor spin-up, codegen, parquet footers), then
    # one timed pass that is excluded (the JVM is not settled after the
    # warm-up alone), then N_SAMPLES passes round-robin over the suite,
    # so one transient host stall cannot poison every sample of a query
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in HEADLINE:
        run(name)
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for pass_i in range(N_SAMPLES + 1):
        for name in HEADLINE:
            dt = run(name)
            if pass_i > 0:
                samples[name].append(dt)

    head = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    line = json.dumps(
        {
            "metric": "headline_suite_wall_seconds",
            "value": round(sum(head.values()), 3),
            "unit": "sec",
            "methodology": METHODOLOGY,
            "queries": head,
            "sf": sf,
        },
        separators=(",", ":"),
    )
    # a caller that keeps only the last 2000 chars of stdout must still
    # get the whole line
    assert len(line) < 1900, f"final bench line is {len(line)} bytes"
    print(line)


if __name__ == "__main__":
    main()
