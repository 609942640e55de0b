"""Physical-plan audit: print `.explain("formatted")` summaries for the
headline queries (regenerates the data behind PLANS.md).

Usage: python scripts/plan_audit.py [query_name ...]
With no args, audits the PLANS.md headline set; pass names to audit others
(full plan printed when a single name is given).
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from db_converter_spark.registry import all_queries
from db_converter_spark.session import build_session

HEADLINE = [
    "q01_pricing_summary", "q02_top_revenue_orders", "q03_nation_revenue",
    "q09_window_top2_orders", "q28_lateral_top1",
    "dd01_dedup_exact", "dd04_minhash_lsh_bands", "ss01_cosine_topk",
    "ta04_winnow_fingerprints", "ev02_sessionization", "mg01_chunk_grid",
    "pipe01_corpus_filter",
    "ss07_kmeans_train", "ss08_ivf_trained_topk",
    "dd12_dup_substring_runs", "dd13_neardup_purge", "ta07_trigram_lm",
]


def formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> int:
    names = sys.argv[1:] or HEADLINE
    spark = build_session()
    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    for name in names:
        df = qs[name].builder(spark, sf)
        plan = formatted_plan(spark, df)
        print(f"##### {name}")
        if len(names) == 1:
            print(plan)
            continue
        ops = []
        for line in plan.splitlines():
            m = re.match(r"^\(\d+\)\s+(.*)$", line)
            if m:
                ops.append(m.group(1).strip())
            t = line.strip()
            if t.startswith(("PushedFilters", "ReadSchema")):
                print("   ", t[:140])
        n_sh = sum(1 for o in ops if o.startswith("Exchange"))
        print("    ops:", " → ".join(dict.fromkeys(ops)))
        print(f"    shuffles={n_sh}")
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
