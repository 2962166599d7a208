"""Dump per-query .explain("formatted") files for an optimization
round's evidence trail (<round_dir>/<query>_{before,after}.txt).

Usage:  python tools/plan_dump.py <round_dir> before|after [key ...]

e.g. ``python tools/plan_dump.py plans/r11 after q6_cosine_topk``.

Session mirrors the bench profile exactly (same three knobs as
bench.py) so the dumped plan is the one the driver times. With no
explicit keys, dumps the 10 headline bench queries.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from dags_spark.registry import all_specs  # noqa: E402
from dags_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

BENCH = {
    "q1_pricing_summary": "agg_pricing_summary",
    "q2_star_join": "join_star_multiway",
    "q3_topk_per_customer": "win_topk_per_group",
    "q4_sessionize": "win_session_batch",
    "q5_dedup_exact": "dedup_exact",
    "q6_cosine_topk": "sim_search_topk",
    "q7_tpch_q3": "tpch_q3_shipping",
    "q8_tpch_q10": "tpch_q10_returns",
    "q9_minhash_banded": "dedup_minhash_banded",
    "q10_text_pipeline": "text_pipeline_clean",
}


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    outdir = Path(sys.argv[1])
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    keys = sys.argv[3:]
    spark = get_spark("plan-dump")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    specs = all_specs()
    outdir.mkdir(parents=True, exist_ok=True)
    # explicit args accept either a bench label (q10_text_pipeline) or
    # a bare registry key
    targets = (
        {k: BENCH.get(k, k) for k in keys} if keys else BENCH
    )
    for label, key in targets.items():
        df = specs[key].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = outdir / f"{label}_{suffix}.txt"
        path.write_text(
            f"== {label} ({key}) — {suffix}, bench profile "
            f"(8 shuffle partitions, 2m splits, AQE off), sf0.1 ==\n\n"
            + plan
        )
        n_ex = plan.count("Exchange")
        print(f"{label}: {path.name} written ({n_ex} Exchange)")


if __name__ == "__main__":
    main()
