"""Core-scaling probe: the same registered queries on x10/x100 replicas at
8 vs 32 cores — evidence that the engine parallelizes where data work
exists (the sf0.1 bench cannot show this: it is scheduling-floor-bound,
which is why the driver's own 8-vs-32 contract check reads ≈1 there).

Protocol matches tools/crossover_probe.py: one FRESH session per core
count (master local[N] via SPARK_GRAFT_CPUS, so the exact env-var path the
driver uses is exercised end-to-end), warm pass at sf0.001, toPandas
materialization, min of 2 timed runs, session memos (shared doc-stats
checkpoint + broadcast-dispatch probe counts) cleared before every timed
run. Replicas come from crossover_probe.synthesize (key-shifted sf0.1
copies; run the crossover probe first or let this synthesize them).

Usage: python tools/core_scaling_probe.py [out_md]
Appends/updates the "Core scaling" section of SCALING.md by default.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# data-bound set: token kernels, packing, dedup, star joins, ANN scan.
# q42 is deliberately ABSENT: the key-shifted replicas copy each doc's
# TEXT verbatim, so every doc gains 100 exact twins and the near-dup pair
# output goes quadratic by construction (measured 66.7M pairs at x100,
# 434 s compute + an OOM-scale toPandas) — that measures the synthetic
# corpus's degeneracy, not the engine's scaling. Its 8-vs-32 evidence at
# x10 (20.7 -> 12.3 s) is quoted in SCALING.md prose instead.
QUERIES = [
    "q103_sequence_packing",
    "q112_tfidf_top_terms",
    "q114_unigram_surprise",
    "q151_bpe_trainer",
    "q164_gopher_quality_rules",
    "q148_token_budget_selection",
    "q98_dedup_exact_hashed",
    "q73_training_data_filter",
    "q99_nation_trade_volume",
    "q45_ann_bruteforce_topk",
]
MULTS = [10, 100]
CORES = [8, 32]


def _run_child(cores: int, mult: int) -> dict[str, float]:
    """One fresh interpreter per (cores, mult): the session master is fixed
    at creation, and JVM/GC state must not leak between configs."""
    code = f"""
import json, sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from ai_batch_processing_spark.jobs import pin_scope, release_memos
from ai_batch_processing_spark.session import get_spark
from ai_batch_processing_spark.registry import load_all

specs = load_all()
names = {QUERIES!r}
spark = get_spark("core_scaling")
spark.sparkContext.setLogLevel("ERROR")
for n in names:
    with pin_scope():
        specs[n].fn(spark, {os.path.expanduser("~/testdata/sf0.001")!r}).count()
spark.catalog.clearCache()
d = "/tmp/spark_graft_xsf/x{mult}"
out = {{}}
for n in names:
    best = float("inf")
    for _ in range(2):
        release_memos()
        t0 = time.time()
        with pin_scope():
            specs[n].fn(spark, d).toPandas()
        best = min(best, time.time() - t0)
        spark.catalog.clearCache()
    out[n] = round(best, 2)
spark.stop()
print("RESULT " + json.dumps(out))
"""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=3600
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            import json

            return json.loads(line[len("RESULT ") :])
    raise RuntimeError(f"child failed (cores={cores}, x{mult}): {proc.stderr[-2000:]}")


def main() -> None:
    # make sure replicas exist (synthesize with a default session if not)
    missing = [m for m in MULTS if not os.path.isdir(f"/tmp/spark_graft_xsf/x{m}")]
    if missing:
        from ai_batch_processing_spark.session import get_spark
        from tools.crossover_probe import synthesize

        spark = get_spark("synth")
        for m in missing:
            synthesize(spark, m)
        spark.stop()

    results: dict[tuple[int, int], dict[str, float]] = {}
    for mult in MULTS:
        for cores in CORES:
            results[(mult, cores)] = _run_child(cores, mult)
            print(f"# x{mult} cores={cores}: {results[(mult, cores)]}", file=sys.stderr)

    lines = [
        "",
        "## Core scaling (x10/x100 replicas, 8 vs 32 cores)",
        "",
        "Generated by `tools/core_scaling_probe.py` (crossover protocol:",
        "fresh session per core count via `SPARK_GRAFT_CPUS`, warm pass,",
        "toPandas, min-of-2, session memos cleared per timed run). The",
        "sf0.1 bench is scheduling-floor-bound, so the driver's 8-vs-32",
        "check reads ~1 there; this table shows the same queries once the",
        "data is big enough for parallelism to bind. `8c/32c` > 1 means",
        "the 32-core session is faster — the engine parallelizes.",
        "",
        "| query | x10 8c (s) | x10 32c (s) | x10 8c/32c | x100 8c (s) | x100 32c (s) | x100 8c/32c |",
        "|---|---|---|---|---|---|---|",
    ]
    for q in QUERIES:
        r = [results[(m, c)][q] for m in MULTS for c in CORES]
        x10r = r[0] / max(r[1], 1e-9)
        x100r = r[2] / max(r[3], 1e-9)
        lines.append(
            f"| {q} | {r[0]:.2f} | {r[1]:.2f} | {x10r:.1f}× | {r[2]:.2f} | {r[3]:.2f} | {x100r:.1f}× |"
        )
    lines.append("")

    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(path, "r", encoding="utf-8") as fh:
        content = fh.read()
    marker = "\n## Core scaling"
    if marker in content:
        content = content[: content.index(marker)]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(content.rstrip("\n") + "\n" + "\n".join(lines))
    print(f"updated {path}")


if __name__ == "__main__":
    main()
