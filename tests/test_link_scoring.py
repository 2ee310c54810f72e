"""Embedding entity-link scoring (north star: broadcast joins +
groupBy.applyInPandas) vs a pure-pandas oracle."""

from __future__ import annotations

import numpy as np
import pytest

from tab2neo_spark.kg.link import _hash_vec, link_entities


@pytest.fixture(scope="module")
def candidate_map(spark):
    # ambiguous surfaces: 'order' and 'table' each map to two entities
    rows = [
        ("order", "Operator:sort"),
        ("order", "Structure:sequence"),
        ("table", "Structure:table"),
        ("table", "Concept:furniture"),
        ("spark", "Engine:spark"),
    ]
    return spark.createDataFrame(rows, "surface string, entity string")


@pytest.fixture(scope="module")
def pages_text(spark):
    rows = [
        ("u1", "the order of the table scan"),
        ("u2", "spark runs a table join"),
        ("u3", "no relevant words here"),
    ]
    return spark.createDataFrame(rows, "url string, text string")


def oracle_links(pages, cand_rows):
    by_surface = {}
    for s, e in cand_rows:
        by_surface.setdefault(s, []).append(e)
    import re

    out = set()
    for url, text in pages:
        pv = _hash_vec(text)
        words = set(re.split(r"[^a-z0-9]+", text.lower()))
        for s, ents in by_surface.items():
            if s not in words:
                continue
            scored = []
            for e in sorted(ents):
                ev = _hash_vec(f"entity:{e}")
                scored.append((float(np.floor(float(ev @ pv) * 1e6 + 0.5) / 1e6), e))
            best_score = max(x[0] for x in scored)
            best = min(e for sc, e in scored if sc == best_score)
            out.add((url, s, best))
    return out


def test_link_entities_matches_oracle(spark, pages_text, candidate_map):
    got = link_entities(spark, pages_text, candidate_map)
    got_set = {(r["url"], r["surface"], r["entity"]) for r in got.collect()}
    pages = [(r["url"], r["text"]) for r in pages_text.collect()]
    cands = [(r["surface"], r["entity"]) for r in candidate_map.collect()]
    assert got_set == oracle_links(pages, cands)
    assert len(got_set) > 0
    # exactly one resolved entity per (url, surface)
    assert len(got_set) == got.select("url", "surface").distinct().count()


def test_scores_are_cosines(spark, pages_text, candidate_map):
    got = link_entities(spark, pages_text, candidate_map).collect()
    for r in got:
        pv = _hash_vec([t for u, t in [("u1", "the order of the table scan"),
                                       ("u2", "spark runs a table join"),
                                       ("u3", "no relevant words here")] if u == r["url"]][0])
        ev = _hash_vec(f"entity:{r['entity']}")
        assert abs(r["score"] - np.floor(float(ev @ pv) * 1e6 + 0.5) / 1e6) < 1e-9


def test_deterministic_across_runs(spark, pages_text, candidate_map):
    a = {tuple(r) for r in link_entities(spark, pages_text, candidate_map).collect()}
    b = {tuple(r) for r in link_entities(spark, pages_text, candidate_map).collect()}
    assert a == b


def test_link_multiword_surface_matches_any_separator(spark):
    """'new york' links text spelling it 'new-york' — the same match as KG
    construction, which normalizes separators inside multi-word hits."""
    pages = spark.createDataFrame(
        [("u1", "moved to new-york"), ("u2", "newyork is not york")],
        "url string, text string",
    )
    cand = spark.createDataFrame([("new york", "Place:nyc")], "surface string, entity string")
    got = {(r["url"], r["surface"], r["entity"])
           for r in link_entities(spark, pages, cand).collect()}
    assert got == {("u1", "new york", "Place:nyc")}


def test_link_rejects_surface_outside_token_model(spark, pages_text):
    """Text is lower-cased before matching, so 'Spark' could never match:
    rejected up front like construct_kg does."""
    cand = spark.createDataFrame([("Spark", "Engine:spark")], "surface string, entity string")
    with pytest.raises(NotImplementedError, match="token model"):
        link_entities(spark, pages_text, cand)


def test_hash_vec_unit_norm():
    v = _hash_vec("anything")
    assert abs(np.linalg.norm(v) - 1.0) < 1e-12


def test_page_vec_computed_before_explode(spark):
    """Plan guard: the page-embedding UDF evaluates on pages (before the
    surface explode), never per hit row — ArrowEvalPython must sit BELOW
    Generate in the analyzed plan."""
    from tab2neo_spark.kg.link import link_entities

    pages = spark.createDataFrame(
        [("u1", "the filter and join operators"), ("u2", "join only")],
        "url string, text string",
    )
    cand = spark.createDataFrame(
        [("filter", "Operator:filter"), ("join", "Operator:join"),
         ("join", "Structure:join")],
        "surface string, entity string",
    )
    out = link_entities(spark, pages, cand)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    gen_pos = plan.find("Generate")
    arrow_pos = plan.find("ArrowEvalPython")
    assert gen_pos != -1 and arrow_pos != -1
    # plan strings print top-down: the node executed LAST prints first, so
    # "evaluates before the explode" = ArrowEvalPython printed BELOW Generate
    assert arrow_pos > gen_pos, plan


def test_bucketed_resolution_matches_oracle_many_pages(spark, candidate_map):
    """The r6 bucketed applyInPandas (groups = hash buckets of url, many
    pages per group, vectorized per-row cosine + per-(url, surface)
    argmax) must resolve exactly like the one-group-per-page form. 300
    pages over 4x-parallelism buckets guarantees multi-page groups by
    pigeonhole, so the cross-page path is actually exercised."""
    words = ["order", "table", "join", "scan", "spark", "runs"]
    rows = [
        (f"u{i}", " ".join(words[j % len(words)] for j in range(i, i + 4)))
        for i in range(300)
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    got = link_entities(spark, pages, candidate_map)
    got_set = {(r["url"], r["surface"], r["entity"]) for r in got.collect()}
    cands = [(r["surface"], r["entity"]) for r in candidate_map.collect()]
    assert got_set == oracle_links(rows, cands)
    assert len(got_set) == got.select("url", "surface").distinct().count()
