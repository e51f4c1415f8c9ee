"""Every registered query hash-matches its DuckDB oracle at sf0.001.

This mirrors the driver's correctness gate (the driver runs sf0.01; tests
use sf0.001 for speed — same code path, smaller data).
"""

from __future__ import annotations

import pytest

from ai_batch_processing_spark.jobs import pin_scope
from ai_batch_processing_spark.registry import load_all
from ai_batch_processing_spark.testing import compare_frames

SPECS = load_all()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = SPECS[name]
    spark.catalog.clearCache()
    with pin_scope():
        sdf = spec.fn(spark, sf_dir).toPandas()
        # a query stores its result before it releases its own caches, so
        # nothing it cached is left for the rest of the session
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
            f"{name} left a cached relation in the session"
        )
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only smoke: plan executes
        return
    ddf = duck.execute(spec.oracle).fetchdf()
    problems = compare_frames(sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_registry_complete():
    assert len(SPECS) >= 30
    for name, spec in SPECS.items():
        assert spec.fn is not None, name
