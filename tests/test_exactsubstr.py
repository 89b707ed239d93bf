"""Soundness of the ExactSubstr pair (C226 spans / C227 excision) and
of the suffix-sort stage they share (operators/suffix.py).

The DuckDB oracles pin cross-engine parity; these tests pin the
SEMANTICS: spans are in-bounds, sorted and disjoint; the excision
removes exactly the span mass C226 reports; the cleaned text equals a
trusted driver-side excision of the original documents; the stage's
``nlcp`` column is its successor's ``lcp``; and re-landing the corpus
builds a fresh stage instead of serving the old one.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from ojo_daps_mirror_spark import plans
from ojo_daps_mirror_spark.operators import suffix
from ojo_daps_mirror_spark.sources import load_table

plans.load_all()


def _parse(spans: str) -> list[tuple[int, int]]:
    if not spans:
        return []
    return [tuple(map(int, p.split("-"))) for p in spans.split(";")]


def test_spans_wellformed_and_excision_consistent(spark, sf_dir):
    spans = {
        r["doc_id"]: r
        for r in plans.QUERIES["dedup_substring_spans"](spark, sf_dir).collect()
    }
    clean = {
        r["doc_id"]: r
        for r in plans.QUERIES["dedup_substring_excise"](spark, sf_dir).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert set(spans) == set(clean) == set(texts)
    any_spans = False
    for d, r in spans.items():
        iv = _parse(r["spans"])
        assert len(iv) == r["dup_spans"]
        assert sum(e - s for s, e in iv) == r["dup_chars"]
        prev_e = 0
        for s, e in iv:
            assert 1 <= s < e <= r["n_chars"] + 1
            assert s > prev_e  # sorted and disjoint after merging
            prev_e = e
        # trusted excision: drop 1-based [s, e) ranges from the text
        t = texts[d]
        kept, cur = [], 1
        for s, e in iv:
            kept.append(t[cur - 1 : s - 1])
            cur = max(cur, e)
        kept.append(t[cur - 1 :])
        expect = "".join(kept)
        got = clean[d]
        assert got["clean_text"] == expect, d
        assert got["removed_chars"] == r["dup_chars"]
        assert got["clean_chars"] == len(expect)
        any_spans = any_spans or bool(iv)
    assert any_spans  # the corpus genuinely exercises the removal path


def test_stage_nlcp_is_successor_lcp(spark, sf_dir):
    """v3 stage contract: ``nlcp`` on every row equals the sort-
    SUCCESSOR's ``lcp`` (LCP is symmetric), NULL on the global last
    row — the column the ExactSubstr consumers read instead of
    re-aggregating neighbour contributions per query."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = suffix.adjacent_suffixes(spark, sf_dir, cap=8)
    w = Window.orderBy("suf", "doc_id", "p")
    chk = df.select(
        "doc_id", "p", "lcp", "nlcp",
        F.lead("lcp").over(w).alias("succ_lcp"),
    )
    bad = chk.where(
        ~(
            (F.col("nlcp").isNull() & F.col("succ_lcp").isNull())
            | (F.col("nlcp") == F.col("succ_lcp"))
        )
    ).count()
    assert bad == 0


def test_relanded_corpus_rebuilds_stage(spark, sf_dir, tmp_path, monkeypatch):
    """The stage is keyed by the documents' input fingerprint: landing
    a different corpus in the SAME sf_dir within one application must
    build a fresh stage (one row per char at stride 1), never serve
    the stage of the corpus it replaced. Each build is published whole
    in the stagecache layout that SPARK_GRAFT_STAGE_CACHE_DIR places."""
    lake = tmp_path / "lake"
    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(lake))
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    landed = tmp_path / "sf"
    landed.mkdir()
    target = str(landed / "documents.parquet")
    for n_docs in (5, 10):
        part = docs.slice(0, n_docs)
        pq.write_table(part, target)
        chars = sum(len(t) for t in part.column("text").to_pylist())
        rows = suffix.adjacent_suffixes(spark, str(landed), cap=8).count()
        assert rows == chars, (n_docs, rows, chars)
    published = sorted(
        name for name in os.listdir(lake)
        if os.path.exists(os.path.join(lake, name, "_STAGE_OK"))
    )
    assert len(published) == 2, published
    assert all(name.startswith("suffix_v") for name in published)
