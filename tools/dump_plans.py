"""Dump the formatted physical plan of each headline query (plus the
round-3 operators) to PLANS.md, with mechanical plan stats — exchange,
broadcast, parquet-scan and python-stage counts (codegen spans are only
visible in the post-action final plan and are deliberately absent) — so
plan regressions show up in review diffs rather than in benchmarks.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

QUERIES = [
    "cqi_score_ways", "geo_knn", "geo_knn_broadcast", "geo_sidepath_vote",
    "geo_hex_cells", "minhash_lsh_pairs", "dedup_groups_jaccard",
    "embedding_topk", "text_stats", "events_sessions",
    # round-5 additions
    "phash_near_dups", "dedup_groups_images", "bpe_token_ids",
    "geo_pip_join", "lang_quality",
    # round-6 additions
    "span_dedup", "corpus_curate",
    # round-5 perf-pass shapes (sketch verify, PPJoin prefix filter,
    # pinned-width candidate exchanges)
    "minhash_sketch_pairs", "jaccard_pairs", "embedding_near_dups",
    "dedup_groups_text_collapsed", "dedup_groups_collapsed",
]


def stats(plan: str) -> str:
    # note: WholeStageCodegen spans are NOT visible in the pre-AQE
    # formatted plan (only in the post-action final plan), so they are
    # deliberately absent here
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_bc = len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan))
    n_scan = len(re.findall(r"Scan parquet", plan))
    n_py = len(re.findall(
        r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsIn(?:Pandas|Arrow)", plan))
    return (f"exchanges={n_ex} broadcast_ops={n_bc} "
            f"parquet_scans={n_scan} python_stages={n_py}")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E
    from osm_cycling_quality_index_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[8]",
                      shuffle_partitions=8)
    queries = E.queries()
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` (initial plans,",
        "pre-AQE; AQE may coalesce exchanges and convert joins at runtime).",
        "Regenerate after any plan-affecting change and review the diff.",
        "",
        "Stats are STATIC occurrences in the initial tree: multi-branch",
        "pipelines count their persisted fan-out subtree once per branch",
        "(at runtime those are cache hits / reused exchanges), so treat",
        "the numbers as diff-watch signals, not runtime stage counts.",
        "",
    ]
    for name in QUERIES:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree; drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"`{stats(plan)}`", "", "```", tree, "```", ""]
        spark.catalog.clearCache()
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
