"""Generate SCALING.md: bench-query wall-clock across scale factors.

Run: ``python tools/scale_probe.py``. Each query runs (after a warm-up
pass) at sf0.001 / sf0.01 / sf0.1 — a 100× data range. The interesting
number is the LAST ratio (sf0.01→sf0.1, 10× data): a query dominated by
fixed scheduling cost stays ~flat; a data-bound operator should grow
sub-linearly (≤10×) thanks to parallelism. Anything super-linear is a
scale bug.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA = os.path.expanduser("~/testdata")
SFS = ["sf0.001", "sf0.01", "sf0.1"]


def main() -> None:
    from ai_batch_processing_spark.jobs import pin_scope
    from ai_batch_processing_spark.registry import load_all
    from ai_batch_processing_spark.session import get_spark

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = {n: s for n, s in sorted(load_all().items()) if s.bench}

    # warm every plan shape
    for spec in specs.values():
        with pin_scope():
            spec.fn(spark, f"{DATA}/sf0.001").count()
    spark.catalog.clearCache()

    rows = []
    for name, spec in specs.items():
        walls = []
        for sf in SFS:
            t0 = time.time()
            with pin_scope():
                spec.fn(spark, f"{DATA}/{sf}").count()
            walls.append(time.time() - t0)
            spark.catalog.clearCache()
        ratio = walls[2] / walls[1] if walls[1] > 0 else float("nan")
        rows.append((name, walls, ratio))
        print(f"# {name}: {[round(w, 2) for w in walls]} ratio10x={ratio:.1f}", file=sys.stderr)

    out = [
        "# SCALING — bench wall-clock vs scale factor (local[32])",
        "",
        "Generated by `tools/scale_probe.py`. `x10 ratio` = sf0.1 / sf0.01",
        "wall — 10× the data. ~1 means fixed scheduling cost dominates (the",
        "plan will absorb orders of magnitude more data before work shows);",
        "≤10 means data-bound but scaling at-or-better than linearly; >10",
        "would be a scale bug.",
        "",
        "| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | x10 ratio |",
        "|---|---|---|---|---|",
    ]
    for name, walls, ratio in rows:
        out.append(
            f"| {name} | {walls[0]:.2f} | {walls[1]:.2f} | {walls[2]:.2f} | {ratio:.1f} |"
        )
    out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
