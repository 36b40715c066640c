"""Capture .explain('formatted') for the r6-touched queries into
plans/r06/<query>_after.txt (deliverable; plan claims are checked
against these files).

    python tools/capture_plans.py                    # every query below
    python tools/capture_plans.py near_dup_ranking   # only the named ones
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from selfclean_spark import caching, queries as Q  # noqa: E402
from selfclean_spark.session import get_spark  # noqa: E402

TOUCHED = [
    "minhash_verified_pairs",
    "minhash_components",
    "dedup_cluster_histogram",
    "near_dup_ranking",
    "lang_mismatch_ranking",
    "auto_cut_flags",
    "decontamination_pairs",
    "substring_containment_pairs",
    "dedup_method_agreement",
    "ngram_jaccard_pairs",
    "token_jaccard_pairs",
    "winnow_clone_pairs",
    "block_clone_pairs",
    "repo_fork_pairs",
    "simhash_near_pairs",
    "source_overlap_pairs",
    "lsh_topk_ann",
    "embedding_dup_pairs",
    "export_shard_plan",
    "source_novelty_report",
    "dedup_graph_triangles",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    spark = get_spark(
        "capture-plans",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(cpus) * 2, 8))},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in sys.argv[1:] or TOUCHED:
        df = getattr(Q, name)(spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_after.txt"), "w") as f:
            f.write(text)
        caching.clear()
        spark.catalog.clearCache()
        print("captured", name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
