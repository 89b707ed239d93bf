"""16x audit of the BroadcastNestedLoopJoin allowlist.

Every BNLJ_OK entry (tests/test_plan_guardrails.py) is individually
argued — broadcast scalar/dim attaches with range predicates, bounded
grids, or declared all-pairs eval baselines — but only a few sat in
the heavy stress set. This harness times ALL 32 at 1x and 16x replica
volume (same replica builder as scripts/scale_stress.py, so workload
shape is preserved and only size grows) and flags any that grows
superlinearly: an allowlist seat is only safe if the argued bound
actually holds at the next decade.

Gate: t16 <= SLACK * 16 * max(t1, FLOOR) + FLOOR — i.e. at-most-linear
growth with a JVM/scheduling floor allowance. Dimension-scale ops
(|weeks| grids) should come in far under it. A key whose OUTPUT grows
faster than its input (the replica can change workload semantics —
e.g. a density-RELATIVE threshold admits more pairs when rotation
inflates every query's local distance scale) passes instead if its
per-output-row rate does not degrade: time tracking output at a flat
or falling unit cost is linear behavior, not a scaling bug.

Usage: python scripts/bnlj_audit.py [--skip-build]
Writes bench_out/bnlj_audit_16x.json; exit 1 on any superlinear key.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

OLAP_KEYS = [
    "acf_weekly_volume",
    "bootstrap_ci_mean",
    "chain_ladder",
    "exact_median_two_pass",
    "hilbert_key",
    "hodges_lehmann",
    "hoeffdings_d",
    "incremental_stock_refresh",
    "mann_kendall_trend",
    "max_consensus_line",
    "pacf_durbin_levinson",
    "sen_slope_ci",
    "siegel_repeated_medians",
    "theil_sen_trend",
    "tukey_hsd",
    "weekly_locs_vacancies",
    "weekly_soc_vacancies",
    "weekly_stock",
    "weekly_stock_by_region",
]
DOCS_KEYS = [
    "ann_topk_bruteforce",
    "bm25_ranking",
    "hubness_audit",
    "intrinsic_dim_mle",
    "kmeans_lloyd",
    "lexical_semantic_agreement",
    "minhash_jaccard_vs_exact",
    "ndcg_eval",
    "neardup_transitivity_audit",
    "onebit_retrieval_agreement",
    "retrieval_mrr",
    "soc_substring_match",
    "vocab_overlap_matrix",
]

FLOOR_SEC = 0.7  # per-query JVM/scheduling floor at local[32]
SLACK = 1.5


def time_keys(spark, plans, keys: list[str], sf_dir: str) -> dict[str, tuple]:
    out = {}
    for k in keys:
        fn = plans.QUERIES[k]
        fn(spark, sf_dir).count()  # warm-up: JIT + parquet footers
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        out[k] = (round(time.perf_counter() - t0, 3), n)
        print(f"{k} @ {os.path.basename(sf_dir)}: {out[k][0]}s "
              f"({n} rows)", flush=True)
        # per-key isolation: plans that persist() leave blocks in the
        # storage pool; 60+ measurements in one JVM saturate it and a
        # later heavy key pays spill it didn't cause (measured 99 s
        # fresh-JVM vs 278 s late-in-audit for the same key)
        spark.catalog.clearCache()
    return out


def main() -> int:
    skip_build = "--skip-build" in sys.argv

    from scale_stress import build

    from ojo_daps_mirror_spark import plans
    from ojo_daps_mirror_spark.session import get_spark

    plans.load_all()
    spark = get_spark(app_name="ojo-bnlj-audit")

    dirs = {
        ("olap", 1): "/tmp/ojo_bnlj_olap_1x",
        ("olap", 16): "/tmp/ojo_bnlj_olap_16x",
        ("docs", 1): "/tmp/ojo_bnlj_docs_1x",
        ("docs", 16): "/tmp/ojo_bnlj_docs_16x",
    }
    if not skip_build:
        for (family, reps), d in dirs.items():
            t0 = time.perf_counter()
            build(spark, d, reps, family)
            print(f"# built {reps}x {family} at {d} "
                  f"({time.perf_counter()-t0:.1f}s)", flush=True)

    results: dict[str, dict] = {}
    flagged: list[str] = []
    for family, keys in (("olap", OLAP_KEYS), ("docs", DOCS_KEYS)):
        m1 = time_keys(spark, plans, keys, dirs[(family, 1)])
        m16 = time_keys(spark, plans, keys, dirs[(family, 16)])
        for k in keys:
            t1, n1 = m1[k]
            t16, n16 = m16[k]
            allowed = round(SLACK * 16 * max(t1, FLOOR_SEC) + FLOOR_SEC, 3)
            ok = t16 <= allowed
            note = ""
            if not ok and n1 > 0 and n16 > 16 * n1:
                # output outgrew input: linear behavior = flat-or-
                # falling per-output-row rate
                rate_ok = (t16 / n16) <= SLACK * (max(t1, FLOOR_SEC) / n1)
                if rate_ok:
                    ok = True
                    note = "output_bound"
            if not ok:
                flagged.append(k)
            results[k] = {
                "family": family,
                "t1": t1,
                "t16": t16,
                "rows_out_1": n1,
                "rows_out_16": n16,
                "ratio": round(t16 / max(t1, 1e-3), 2),
                "allowed": allowed,
                "ok": ok,
                "note": note,
            }
            print(f"{k}: 1x={t1}s 16x={t16}s allowed={allowed}s "
                  f"{'OK' + (' (' + note + ')' if note else '') if ok else 'SUPERLINEAR'}",
                  flush=True)

    rec = {
        "metric": "bnlj_allowlist_16x_audit",
        "floor_sec": FLOOR_SEC,
        "slack": SLACK,
        "n_keys": len(results),
        "flagged": flagged,
        "keys": results,
    }
    os.makedirs(os.path.join(REPO, "bench_out"), exist_ok=True)
    path = os.path.join(REPO, "bench_out", "bnlj_audit_16x.json")
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    print(json.dumps({"metric": rec["metric"], "n_keys": rec["n_keys"],
                      "flagged": flagged}))
    print(f"# record: {path}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
