"""Central query registry.

Every operator the engine implements registers here as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when expressible)
the equivalent ANSI SQL that DuckDB runs on the same parquet tables.
``__spark_entry__.py`` exposes the registry to the driver's correctness
harness; ``bench.py`` runs the headline subset.

Conventions (driver contract, __spark_entry__.py docstring):
- Alias every computed column identically in Spark and SQL — the driver
  sorts columns by name before value-hashing.
- Round double aggregates identically on both sides (float summation order
  differs between engines; rounding makes the hash stable).
- Queries must be deterministic: every ORDER BY ends with a unique key.
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import.
_QUERY_MODULES = [
    "ai_batch_processing_spark.plans.relational",
    "ai_batch_processing_spark.plans.pipeline",
    "ai_batch_processing_spark.plans.windows",
    "ai_batch_processing_spark.plans.setops",
    "ai_batch_processing_spark.plans.scalars",
    "ai_batch_processing_spark.plans.analytics",
    "ai_batch_processing_spark.operators.template",
    "ai_batch_processing_spark.operators.grouping",
    "ai_batch_processing_spark.operators.llm_map",
    "ai_batch_processing_spark.operators.dedup",
    "ai_batch_processing_spark.operators.similarity",
    "ai_batch_processing_spark.operators.text",
    "ai_batch_processing_spark.operators.curation",
    "ai_batch_processing_spark.operators.corpus",
    "ai_batch_processing_spark.operators.graph",
    "ai_batch_processing_spark.operators.linalg",
    "ai_batch_processing_spark.operators.multimodal",
    "ai_batch_processing_spark.operators.sketches",
    "ai_batch_processing_spark.streaming.events",
    "ai_batch_processing_spark.io.writers",
    "ai_batch_processing_spark.io.avro",
]


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with DuckDB ``oracle`` SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, bench=bench, tags=tags)
        return fn

    return deco


def registered_oracle(name: str) -> str:
    """Oracle SQL of a registered query — for composed capstones whose
    DuckDB twin embeds the sub-queries' twins verbatim (the oracle stays
    derived from the gated source, never a drifting copy). On a miss the
    owning module is imported lazily (in _QUERY_MODULES order, stopping
    as soon as the name appears), so a caller's import-time composition
    does not depend on incidental top-level imports having already
    registered the dependency."""
    if name not in _REGISTRY:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
            if name in _REGISTRY:
                break
    spec = _REGISTRY[name]
    if spec.oracle is None:
        raise ValueError(f"{name} has no oracle")
    return spec.oracle


# Queries whose execution path the current change touches. The external
# driver gates a prefix of the registry in iteration order, so these are
# emitted right after the bench queries (which lead anyway — leave them
# out). Replace the names with each change; at most 20.
TOUCHED: tuple[str, ...] = (
    # left the most checkpoint RDDs behind after their scope closed; now
    # every pin and stored result is released by the scope around them
    "q247_hits_knn_graph",
    "q118_semantic_dedup",
    "q233_facility_location_coreset",
    "q243_perceptron_train",
    "q244_perceptron_train_eval",
    "q272_kcore_members",
    "q62_dedup_clusters",
    "q193_soft_dedup_weights",
    "q227_dedup_keep_best",
    "q231_label_propagation",
    "q242_label_prop_accuracy",
    "q298_labelprop_modularity",
    "q299_personalized_pagerank",
    # a loop or a shared scratch frame changed shape: lineage cuts and
    # scratch frames became pins, or the result is stored one level up
    "q162_pagerank_replicated_verified",
    "q157_bpe_encode_counts",
    "q169_curation_pipeline_v3",
    "q158_decontaminate_fuzzy",
    "q136_incremental_dedup_bloom",
    "q252_degree_assortativity",
    "q291_textrank_keywords",
)

_ROOT = Path(__file__).resolve().parents[1]
_GATE_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")


def last_gated() -> dict[str, int]:
    """Query name → the last driver round whose ``CORRECTNESS_r<round>.json``
    (next to the package) holds a row for it."""
    last: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        m = _GATE_ARTIFACT.fullmatch(path.name)
        if m:
            for name in json.loads(path.read_text()):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent); return the registry in
    driver-gate order.

    Bench queries first, then ``TOUCHED``, then every other query by the
    last round that gated it, oldest first; a query no artifact names
    counts as round 0 (never gated). Ties keep ``_QUERY_MODULES`` order,
    then definition order, so the order does not depend on which query
    module a caller happened to import first."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    last = last_gated()
    touched = {name: i for i, name in enumerate(TOUCHED)}
    module = {mod: i for i, mod in enumerate(_QUERY_MODULES)}

    def rank(name: str) -> tuple[int, int, int]:
        spec = _REGISTRY[name]
        if spec.bench:
            gate = (0, 0)
        elif name in touched:
            gate = (1, touched[name])
        else:
            gate = (2, last.get(name, 0))
        return (*gate, module[spec.fn.__module__])

    return {n: _REGISTRY[n] for n in sorted(_REGISTRY, key=rank)}


def _shipped(fn: QueryFn) -> QueryFn:
    """Wrap a query so the package is shipped to executors before it runs.

    The external driver calls these with its own SparkSession, possibly
    launched far from this repo — pandas-UDF tasks then need the package
    on the worker path (session.ship_package)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ai_batch_processing_spark.session import ship_package

        ship_package(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, QueryFn]:
    return {name: _shipped(spec.fn) for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}

