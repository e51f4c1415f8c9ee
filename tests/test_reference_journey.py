"""The complete reference user journey through this engine's public API.

A user of Mazhar31/AI-Batch-Processing does: upload a CSV → configure
(model, template, grouping) → start processing → watch progress → export
results. This test runs that exact journey end-to-end on the Spark
engine: Catalog.ingest → llm_map (mock client, grouped conversation) →
JobRegistry progress → export_zip, asserting the reference's output
rules (input order restored, export column order, per-row files named by
sanitized group).
"""

from __future__ import annotations

import json
import zipfile

from ai_batch_processing_spark.catalog import Catalog
from ai_batch_processing_spark.io.writers import export_zip
from ai_batch_processing_spark.jobs import JobRegistry
from ai_batch_processing_spark.operators.llm_map import LLMConfig, llm_map


def test_full_reference_journey(spark, tmp_path):
    # 1. upload (main.py:78-115)
    src = tmp_path / "reviews.csv"
    src.write_text(
        "review_id,category,text\n"
        "3,books,plot was thin\n"
        "1,games,great fun\n"
        "2,books,loved the prose\n"
        "4,games!?,crashed twice\n"
    )
    cat = Catalog(spark)
    df = cat.ingest(str(src), infer_types=False)
    assert cat.schema("reviews") == ["review_id", "category", "text"]

    # 2. configure + process (main.py:287-357): grouped mode, conversation
    #    per category, deterministic mock client
    cfg = LLMConfig(
        prompt_template="Summarize this {category} review: {text}",
        group_by="category",
        main_content="text",
        order_by=["review_id"],
    )
    reg = JobRegistry(spark, poll_interval=0.05)
    events = []
    out_df = llm_map(df, cfg)
    job = reg.submit(lambda s: out_df.count(), on_progress=events.append)
    st = reg.wait(job, timeout=120)
    assert st.status == "completed" and st.result == 4
    assert events and events[-1]["event"] == "job_finished"
    collected = out_df.collect()  # reads the rows the job's count stored (out_df is pinned)
    assert all(r.error is None for r in collected)

    # 3. export (main.py:681-914): both formats in one ZIP
    zp = str(tmp_path / "results.zip")
    export_zip(out_df, zp, format_type="both")
    with zipfile.ZipFile(zp) as zf:
        names = zf.namelist()
        assert "consolidated/results.json" in names and "consolidated/results.csv" in names
        lines = zf.read("consolidated/results.json").decode().splitlines()
        recs = [json.loads(ln) for ln in lines]
        # input order restored regardless of completion order (main.py:697)
        assert [r["review_id"] for r in recs] == ["1", "2", "3", "4"]
        # export column order (main.py:703-733)
        assert list(recs[0])[:2] == ["group", "main_content"]
        assert list(recs[0])[-2:] == ["response", "timestamp"]
        # per-row files: sanitized group names, 'games!?' → 'games'
        individual = [n for n in names if n.startswith("individual/")]
        assert len(individual) == 4
        assert any(n.endswith("_games.txt") for n in individual)
    cat.reset()
