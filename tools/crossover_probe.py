"""Spark-vs-DuckDB crossover: key-shifted sf0.1 replicas, both engines timed.

Round-1 verdict asked for proof, not rhetoric: at sf0.1 most bench
queries finish in milliseconds of data work, so Spark's ~0.4-0.5 s
scheduling floor dominates wall-clock and single-node DuckDB wins every
micro-query. This probe synthesizes N× replicas of sf0.1 (fact tables get
key-shifted copies; dimension tables are shared via symlink, so joins and
group keys keep their real shape) and times the SAME registered query on
Spark (toPandas) and its DuckDB oracle (.df()) at each multiplier —
the table shows where DuckDB's linearly-growing wall crosses Spark's
near-flat line.

Run: ``python tools/crossover_probe.py [mult ...]`` (default 1 10 100).
Writes CROSSOVER.md; synthesized data lives under /tmp/spark_graft_xsf.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
WORK = "/tmp/spark_graft_xsf"
# fact tables: replicate with per-copy key shifts; the offset is one
# shared constant per key DOMAIN (orderkey spans lineitem+orders, doc/vec
# id spans documents+embeddings) so joins keep lining up across replicas.
# Everything else symlinks to sf0.1 (dimensions don't grow).
OFFSET = 10_000_000  # far above every sf0.1 key domain (max ~600k)
SHIFT = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
LINKED = ["region", "nation", "customer", "supplier", "part", "events"]
QUERIES = [
    "q01_pricing_summary",
    "q02_shipping_priority",
    "q03_region_revenue",
    "q40_dedup_exact",
    "q73_training_data_filter",
    "q99_nation_trade_volume",
    "q100_product_profit",
    # token-heavy corpus statistics: genuinely CPU-bound per row, the
    # regime where the engines compare on data-path work, not floors
    "q112_tfidf_top_terms",
    "q114_unigram_surprise",
    # sequence packing runs unbounded over documents — registered form
    # crossovers directly (round-2 verdict item 8)
    "q103_sequence_packing",
    # round-3/4 curation + dedup additions (round-3 verdict item 8): all
    # run unbounded over documents, so the registered forms crossover
    # directly — loader-ready packing fragments, Bloom-prefiltered
    # incremental dedup, curriculum interleave, token-budget selection,
    # and the full iterative BPE trainer (its oracle is the 8× unrolled
    # CTE chain — straight-line SQL pays the same 8 passes).
    "q135_sequence_packing_fragments",
    "q136_incremental_dedup_bloom",
    "q147_curriculum_order",
    "q148_token_budget_selection",
    "q151_bpe_trainer",
    # SQ8 quantized ANN: 8 queries against the full grown corpus, the
    # memory-bandwidth-bound scan both engines pay linearly
    "q159_ann_sq8_topk",
    # round-5: Gopher rule-based quality filter — one Catalyst projection
    # over the whole documents table, the pure scan-regex regime
    "q164_gopher_quality_rules",
    # round-5 additions, all unbounded over documents/embeddings:
    # q98 is q40's 100 TB form (128-bit hashed group key instead of the
    # raw-text shuffle) — the pair shows what the key choice costs as the
    # corpus grows; q170/q171 are token-stream explode+hash aggregations;
    # q173 is the PQ-ADC scan (encode + LUT gathers per corpus vector)
    "q98_dedup_exact_hashed",
    "q170_dsir_importance_weights",
    "q171_duplicate_spans",
    "q173_pq_adc_int_topk",
    # round-6 additions, unbounded over documents/embeddings:
    # q229 is the RLE-compressibility scan (one Arrow-batched UDF pass vs
    # DuckDB's per-char list lambda — the interpreted-lambda regime);
    # q230 is the iterative-linalg representative: Spark pays 5 linear
    # mapInPandas passes with dim-sized shuffles, the DuckDB twin must
    # MATERIALIZE the 64x-exploded position table and walk the unrolled
    # chain over it; q235 is the window-rank eval regime (per-source rank
    # + tie windows over the classifier-score join).
    "q229_rle_compressibility",
    "q230_pca_power_iteration",
    "q235_quality_auc",
    # round-7 additions, unbounded over documents:
    # q243 is the in-engine classifier trainer — Spark's 5-epoch
    # relational loop touches the persisted feature bag 3x per epoch
    # while the DuckDB twin walks the 5x unrolled CTE chain over the
    # re-derived bag (the q151/q230 iterative regime); q249 is the
    # 200-replicate bootstrap (a 200x explode folded map-side to 200
    # partial sums — pure partial-aggregation bandwidth); q256 is the
    # rendezvous-routing projection (8 md5 scores + argmax per row, the
    # pure scan-expression regime).
    "q243_perceptron_train",
    "q249_bootstrap_token_mean_ci",
    "q256_rendezvous_sharding",
]

# LLM-pipeline heavies (round-2 verdict item 8) need crossover-SPECIFIC
# variants: the registered q118/q122 bound their corpora (vec_id caps), so
# replica growth would never reach them. Semantics per variant:
# - semantic dedup: Spark = LSH-bucketed pairs + connected components
#   (corpus-linear; n_planes grows with log n to keep buckets bounded);
#   DuckDB = the all-pairs recursive-CTE twin, quadratic BY DESIGN — it
#   gets a wall budget, and exceeding it records DNF, which IS the result.
# - pagerank: the registered q122 builds k-NN edges brute-force (quadratic
#   in both engines — that build is what IVF/LSH candidates replace at
#   scale), so the crossover variant isolates the ITERATIVE engine loop on
#   a synthetic 3-regular graph that grows linearly with the corpus; both
#   engines run the identical 10 unrolled/looped iterations.
DUCK_BUDGET_S = 300.0
_N_DOCS_SF01 = 5000  # documents rows per sf0.1 replica (dst id domain)


def _xq_semantic_dedup(spark, d: str):
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import semantic_dedup_clusters

    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), "embedding")
    dups = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 2_000_000_000).alias("id"), "embedding"
    )
    from ai_batch_processing_spark.operators.similarity import recommended_lsh_planes

    # log-scale plane count (see recommended_lsh_planes: candidates stay
    # O(n) only if planes grow with log2 of the corpus)
    planes = recommended_lsh_planes(emb.count())
    return semantic_dedup_clusters(base.unionAll(dups), n_planes=planes)


_XQ_SEMANTIC_ORACLE = """
    WITH RECURSIVE corpus AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 2000000000 AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM corpus a JOIN corpus b ON a.id < b.id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.99
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT id, id FROM corpus
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src)
    SELECT cluster AS keep_id, COUNT(*) AS cluster_size
    FROM labels GROUP BY cluster
"""


def _xq_pagerank(spark, d: str):
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.graph import pagerank

    nodes = spark.read.parquet(f"{d}/documents.parquet").select(
        F.col("doc_id").alias("id")
    )
    local = F.col("id") % OFFSET
    base = F.col("id") - local
    parts = [
        nodes.select(
            F.col("id").alias("src"),
            (base + (local * m + 7) % _N_DOCS_SF01).alias("dst"),
        )
        for m in (31, 37, 41)
    ]
    edges = parts[0].unionAll(parts[1]).unionAll(parts[2])
    return pagerank(nodes, edges, iterations=10).select(
        "id", F.round("rank", 6).alias("rank")
    )


def _xq_pagerank_oracle(iterations: int = 10, damping: float = 0.85) -> str:
    head = f"""
        WITH nodes AS (SELECT doc_id AS id FROM documents),
        cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        edges AS (
            SELECT id AS src,
                   (id - (id % {OFFSET})) + ((id % {OFFSET}) * m + 7) % {_N_DOCS_SF01} AS dst
            FROM nodes, unnest([31, 37, 41]) AS t(m)
        ),
        odeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
        e AS (SELECT edges.src, edges.dst, odeg.odeg FROM edges JOIN odeg USING (src)),
        r0 AS (SELECT id, 1.0 / cnt.n AS rank FROM nodes CROSS JOIN cnt)
    """
    steps = []
    for i in range(iterations):
        steps.append(
            f"""
        , c{i} AS (
            SELECT e.dst, SUM(r{i}.rank / e.odeg) AS inflow
            FROM e JOIN r{i} ON e.src = r{i}.id GROUP BY e.dst
        ),
        r{i + 1} AS (
            SELECT nodes.id,
                   (1 - {damping}) / cnt.n + {damping} * COALESCE(c{i}.inflow, 0) AS rank
            FROM nodes CROSS JOIN cnt LEFT JOIN c{i} ON nodes.id = c{i}.dst
        )"""
        )
    tail = f"""
        SELECT id, ROUND(rank, 6) AS rank FROM r{iterations}
    """
    return head + "".join(steps) + tail


def _xq_knn_edges(spark, d: str):
    # The round-4 ANN-backed edge build (graph pipelines' former quadratic
    # entry point): Spark runs the IVF-bucketed knn_edges_approx on the
    # FULL grown embeddings table; the DuckDB twin is the exact all-pairs
    # k-NN edge SQL — quadratic BY DESIGN, budgeted, where DNF is the point.
    #
    # nlist MUST follow the √n rule: per-node candidate work is
    # n·nprobe/nlist, so a flat nlist degrades the kernel toward quadratic
    # as the corpus grows (measured: nlist=64 at x100/200k vecs → 784 s;
    # √n-scaled nlist=512 keeps per-cell blocks constant-sized).
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.graph import knn_edges_approx

    emb = spark.read.parquet(f"{d}/embeddings.parquet").select("vec_id", "embedding")
    n = emb.count()
    nlist = max(32, 2 ** round(math.log2(max(1.0, math.sqrt(n)))))
    return knn_edges_approx(emb, k=5, nlist=nlist, nprobe=8)


_XQ_KNN_ORACLE = """
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
        SELECT a.id AS src, b.id AS dst,
               ROW_NUMBER() OVER (
                   PARTITION BY a.id
                   ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
               ) AS rnk
        FROM emb a JOIN emb b ON a.id <> b.id
    )
    SELECT src, dst FROM scored WHERE rnk <= 5
"""


def _registered(name: str):
    # lazy spec resolution so EXTRA can reference registered queries whose
    # DuckDB twin needs a budget (QUERIES entries run unbudgeted)
    def fn(spark, d):
        from ai_batch_processing_spark.registry import load_all

        return load_all()[name].fn(spark, d)

    def sql():
        from ai_batch_processing_spark.registry import load_all

        return load_all()[name].oracle

    return fn, sql


_xq157_fn, _xq157_sql = _registered("q157_bpe_encode_counts")
_, _xq158_sql = _registered("q158_decontaminate_fuzzy")


def _xq158_fn(spark, d: str):
    # PRODUCTION banding (bands=16), not the registered recall-1 form:
    # at bands=num_perm a pair is a candidate iff ANY of 64 minhash
    # positions agree, and on a corpus with baseline Jaccard ~0.1 that is
    # 1-(1-J)^64 ≈ ALL corpus×bench pairs — measured 81.5 s at x10 and
    # intractable at x100. The recall-1 form exists to make the sf0.01
    # hash gate provable; the scale config is banded (r=4, candidates
    # ∝ J⁴) with recall pinned ≥0.9 in tests. The DuckDB twin stays the
    # exact cross-table Jaccard — the quadratic formulation, budgeted.
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.curation import (
        _FUZZY_BENCH_SHIFT,
        decontaminate_fuzzy,
    )

    docs = spark.read.parquet(f"{d}/documents.parquet")
    corpus = docs.select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + _FUZZY_BENCH_SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" eval item")).alias("text"),
    )
    return decontaminate_fuzzy(corpus, bench, bands=16, threshold=0.5)


# name -> (spark_fn(spark, dir) -> DataFrame, duckdb sql, duck budget or None)
# sql may be a zero-arg callable (resolved at run time).
EXTRA = {
    "xq118_semantic_dedup_full": (_xq_semantic_dedup, _XQ_SEMANTIC_ORACLE, DUCK_BUDGET_S),
    "xq122_pagerank_linear_graph": (_xq_pagerank, _xq_pagerank_oracle(), None),
    "xq149_knn_edges_build": (_xq_knn_edges, _XQ_KNN_ORACLE, DUCK_BUDGET_S),
    # round-4 registered forms whose oracles are budget-worthy at x100:
    # q157's twin re-trains BPE with 8 corpus passes (~95 s at x100, the
    # q151 measurement) before encoding; q158's is a corpus×bench shingle
    # equi-join that goes quadratic-ish in DuckDB's memory at scale.
    "xq157_bpe_encode": (_xq157_fn, _xq157_sql, DUCK_BUDGET_S),
    "xq158_fuzzy_decon": (_xq158_fn, _xq158_sql, DUCK_BUDGET_S),
}


def synthesize(spark, mult: int) -> str:
    from pyspark.sql import functions as F

    out = f"{WORK}/x{mult}"
    if os.path.isdir(out):
        return out  # replicas are deterministic; reuse across runs
    os.makedirs(out, exist_ok=True)
    for t in LINKED:
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    for t, keys in SHIFT.items():
        if mult == 1:
            os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
            continue
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = [
            df.select(
                *[
                    (F.col(c) + i * OFFSET).alias(c) if c in keys else F.col(c)
                    for c in df.columns
                ]
            )
            for i in range(mult)
        ]
        u = copies[0]
        for c in copies[1:]:
            u = u.unionAll(c)
        # one file-set per table dir; parquet subdir keeps duck_con's
        # '{dir}/{t}.parquet' glob working (DuckDB reads dirs of parquet)
        u.repartition(max(4, mult)).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


def write_markdown(results: dict, mults: list[int], plan_order: list[str]) -> None:
    """Emit CROSSOVER.md from a results dict — callable standalone so a
    crashed or partial probe run can be assembled from measured rows
    without re-running everything (results[q][mult] = (duck, spark))."""
    import sys

    lines = [
        "# CROSSOVER — Spark vs single-node DuckDB on growing data",
        "",
        "Generated by `tools/crossover_probe.py`. xN = N key-shifted replicas",
        "of sf0.1 (fact tables replicated, dimensions shared), both engines",
        "running the SAME registered query / oracle pair end-to-end",
        "(materialized into pandas on BOTH sides: duck `.df()`, spark Arrow",
        "`.toPandas()` — symmetric columnar materialization, so the table",
        "measures engine work, not Python row-boxing; the old",
        "collect/fetchall protocol taxed Spark ~2 s per 500k-row output",
        "for py4j row conversion while DuckDB handed back C tuples),",
        "warmed, caches cleared between runs, local[32]. Every timed Spark",
        "run also clears the library's session-lifetime memos (the shared",
        "doc-stats localCheckpoint and the broadcast-dispatch probe counts)",
        "first, so each row is a full compute-from-parquet wall — nothing",
        "carried over from a previous run is inside any timed number.",
        "",
        "The claim under test (BASELINE.md): sf0.1 walls are dominated by",
        "Spark's fixed ~0.4-0.5 s scheduling floor, so the ≤2× bar must be",
        "read at the scale where queries do real data work. The table shows",
        "where DuckDB's linear growth crosses Spark's near-flat line.",
        "",
        "`xq118_semantic_dedup_full` / `xq122_pagerank_linear_graph` are",
        "crossover-specific variants of the LLM-pipeline heavies (the",
        "registered q118/q122 cap their corpora, so replicas would never",
        "reach them): semantic dedup runs the corpus-linear LSH+connected-",
        "components path on Spark against the quadratic all-pairs recursive-",
        f"CTE SQL twin (DuckDB budget {DUCK_BUDGET_S:.0f}s — `DNF` means the",
        "quadratic formulation blew the budget, which is the point), and",
        "pagerank isolates the 10-iteration distributed loop on a synthetic",
        "3-regular graph growing linearly with the corpus, identical math in",
        "both engines. Spark's semantic-dedup plane count follows",
        "`recommended_lsh_planes` (max(8, ceil(log2 n)+2): candidates stay",
        "O(n) only if planes grow with log2 of the corpus — the flat",
        "12-plane setting measured 1.7M candidates/11.5 s at x10 vs",
        "0.2M/3.0 s log-scaled, identical verified pair set).",
        "`xq149_knn_edges_build` is the round-4 ANN-backed k-NN edge build:",
        "Spark runs IVF-bucketed knn_edges_approx (nlist on the √n rule —",
        "per-node candidate work is n·nprobe/nlist, so nlist MUST grow with",
        "the corpus; nprobe 8) on the full grown embeddings table against",
        "the exact all-pairs edge SQL — quadratic by design, budgeted.",
        "`xq157_bpe_encode` is the registered train-then-encode form under",
        "a DuckDB budget (the twin re-trains BPE with 8 full corpus passes",
        "before encoding). `xq158_fuzzy_decon` runs fuzzy decontamination",
        "in its PRODUCTION banding (bands=16, recall ≥0.9 test-pinned) —",
        "the registered recall-1 form (bands=num_perm) admits ~all",
        "corpus×bench pairs on a high-baseline-similarity corpus by design",
        "(measured 81.5 s at x10) and exists for the sf0.01 hash proof,",
        "not for scale; the DuckDB twin stays the exact cross-table",
        "Jaccard. `DNF` also covers bounded-resource aborts (DuckDB temp",
        "spill is capped at 20 GB; the xq149 all-pairs twin filled 80 GB",
        "of disk before the cap existed).",
        "",
        "| query | engine | " + " | ".join(f"x{m} (s)" for m in mults) + " |",
        "|---|---|" + "---|" * len(mults),
    ]
    def fmt(x: float) -> str:
        return f"DNF>{DUCK_BUDGET_S:.0f}" if x == float("inf") else f"{x:.2f}"

    for q in plan_order:
        duck = [fmt(results[q][m][0]) for m in mults]
        spk = [fmt(results[q][m][1]) for m in mults]
        lines.append(f"| {q} | duckdb | " + " | ".join(duck) + " |")
        lines.append(f"| {q} | spark | " + " | ".join(spk) + " |")
        ratios = [results[q][m][1] / max(results[q][m][0], 1e-9) for m in mults]
        # a DNF duck wall yields ratio 0.0 — that's "DuckDB lost", not a
        # Spark-crosses-under-2x data point; exclude it from the marker
        cross = next(
            (m for m, r in zip(mults, ratios) if r <= 2.0 and results[q][m][0] != float("inf")),
            None,
        )
        lines.append(
            f"| {q} | spark/duck ratio | "
            + " | ".join("—" if r == 0.0 and results[q][m][0] == float("inf") else f"{r:.1f}×" for r, m in zip(ratios, mults))
            + " |"
        )
        print(
            f"# {q}: crossover (≤2×) at x{cross}" if cross else f"# {q}: no crossover in range",
            file=sys.stderr,
        )
    lines.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CROSSOVER.md")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {path}")


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    import duckdb

    from ai_batch_processing_spark.jobs import pin_scope, release_memos
    from ai_batch_processing_spark.registry import load_all
    from ai_batch_processing_spark.session import get_spark
    from ai_batch_processing_spark.testing import TABLES

    def dir_con(d: str) -> duckdb.DuckDBPyConnection:
        # like testing.duck_con, but Spark-written tables are DIRECTORIES
        # of part files — glob those for DuckDB
        con = duckdb.connect()
        # bound spill: the quadratic twins at x100 can otherwise fill the
        # disk with temp storage before the wall-clock budget interrupts
        # (observed: xq149's all-pairs join wrote ~80 GB of .tmp) — a
        # bounded-resource failure is a DNF-grade outcome, not a crash
        con.execute("SET max_temp_directory_size='20GB'")
        # bound RAM the same way: DuckDB's default limit (~80% of the
        # box) no longer leaves room beside the 24 GB Spark driver JVM —
        # the r10 run had the KERNEL oom-kill the probe process at
        # 104 GB anon RSS inside xq149's all-pairs twin instead of
        # DuckDB raising its catchable OutOfMemoryException. An explicit
        # limit makes memory exhaustion a DNF row, not a dead probe.
        # Derived from the box (not hardcoded): available RAM minus the
        # driver heap and ~8 GB slack, clamped to [4, 64] GB;
        # env-overridable for odd hosts.
        limit_gb = os.environ.get("SPARK_GRAFT_DUCK_MEM_GB")
        if limit_gb is None:
            try:
                with open("/proc/meminfo") as fh:
                    kb = {l.split(":")[0]: int(l.split()[1]) for l in fh if ":" in l}
                avail_gb = kb.get("MemAvailable", kb.get("MemTotal", 0)) / (1024 * 1024)
            except OSError:
                avail_gb = 64.0
            from ai_batch_processing_spark.session import default_driver_mem

            drv = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
            scale = {"g": 1.0, "m": 1 / 1024}.get(drv[-1].lower())
            drv_gb = float(drv[:-1]) * scale if scale else 24.0
            limit_gb = str(int(max(4, min(64, avail_gb - drv_gb - 8))))
        con.execute(f"SET memory_limit='{limit_gb}GB'")
        for t in TABLES:
            p = f"{d}/{t}.parquet"
            src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) and not os.path.islink(p) else f"'{p}'"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        return con

    specs = load_all()
    # uniform plan: name -> (spark_fn, oracle_sql, duck_budget)
    plan: dict[str, tuple] = {q: (specs[q].fn, specs[q].oracle, None) for q in QUERIES}
    plan.update(EXTRA)

    def duck_timed(con, sql: str, budget: float | None) -> float:
        import threading

        timer = threading.Timer(budget, con.interrupt) if budget else None
        if timer:
            timer.start()
        t0 = time.time()
        try:
            con.execute(sql).df()
            return time.time() - t0
        except duckdb.InterruptException:
            return float("inf")  # interrupted past budget → DNF (the result)
        except (duckdb.OutOfMemoryException, duckdb.IOException, duckdb.OutOfRangeException):
            # resource exhaustion (memory / bounded temp dir) on a BUDGETED
            # quadratic twin is the DNF outcome by another name; without a
            # budget it must still surface
            if budget is not None:
                return float("inf")
            raise
        # any other exception (oracle typo, missing view) must surface,
        # not masquerade as a DNF row
        finally:
            if timer:
                timer.cancel()

    results: dict[str, dict[int, tuple[float, float]]] = {q: {} for q in plan}
    for mult in mults:
        # fresh session per multiplier: accumulated broadcasts / old-gen GC
        # state from earlier multipliers inflated later walls ~3× (measured
        # q03 x100: 9.9s mid-sequence vs 3.2s isolated) — isolation makes
        # the numbers comparable run-to-run
        spark = get_spark("crossover_probe")
        spark.sparkContext.setLogLevel("ERROR")
        for q, (fn, _o, _b) in plan.items():  # warm each plan shape (JIT/codegen)
            with pin_scope():
                fn(spark, os.path.join(os.path.dirname(SRC), "sf0.001")).count()
        spark.catalog.clearCache()
        d = synthesize(spark, mult)
        con = dir_con(d)
        for q, (fn, oracle, budget) in plan.items():
            # min of 2 runs per engine: the first Spark run at a new data
            # scale pays JIT/GC transients unrelated to the plan (measured
            # 11.7s → 5.6s steady on an identical q03 plan); DuckDB gets
            # the same treatment for symmetry
            duck_wall = spark_wall = float("inf")
            if callable(oracle):
                oracle = oracle()
            for _ in range(2):
                duck_wall = min(duck_wall, duck_timed(con, oracle, budget))
                if duck_wall == float("inf"):
                    break  # DNF once = don't burn another full budget
            for _ in range(2):
                # a timed run recomputes the session memos (doc stats, probe
                # counts), as the DuckDB twin pays the tokenize pass and the
                # probe count on every run
                release_memos()
                t0 = time.time()
                with pin_scope():
                    fn(spark, d).toPandas()
                spark_wall = min(spark_wall, time.time() - t0)
                spark.catalog.clearCache()
            results[q][mult] = (duck_wall, spark_wall)
            print(
                f"# x{mult} {q}: duckdb={duck_wall:.2f}s spark={spark_wall:.2f}s",
                file=sys.stderr,
            )
        con.close()
        spark.stop()

    write_markdown(results, mults, list(plan))

    spark.stop()


if __name__ == "__main__":
    main()
