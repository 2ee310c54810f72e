"""Entity linking: gazetteer candidates + embedding disambiguation scoring.

North-star mandate: "batched mention detection and gazetteer + embedding
entity-link scoring expressed as broadcast hash joins and
groupBy.applyInPandas".  The reference's analog is link_to_terms —
value-equality linking (model_appliers/model_applier.py:479-501); webtext
needs more because a surface form can be AMBIGUOUS (one mention, several
candidate entities, e.g. 'order' the Operator vs 'order' a Structure).

Stages:

1. candidate generation — broadcast hash join mentions x gazetteer
   (extract/mentions.py); ambiguous surfaces yield one row per candidate;
2. scoring — per page, cosine(page embedding, entity embedding) over the
   page's candidates, computed in ONE ``groupBy(url).applyInPandas``
   island: the page's candidate set is small (gazetteer-bounded), numpy
   does the dense math, Arrow moves the batches;
3. resolution — argmax per (url, surface) with deterministic tie-break.

Embeddings here are deterministic pseudo-embeddings derived from content
hashes (``hash_embedding``) — no external data in the sandbox; swap the
embedding provider for a real encoder in deployment, nothing else
changes (the scoring contract is just (id, vector)).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMB_DIM = 16


def _hash_vec(key: str, dim: int = EMB_DIM) -> np.ndarray:
    """Deterministic unit vector from a string key (md5-seeded), identical
    on every engine/run — the sandbox stand-in for a trained encoder."""
    out = np.empty(dim, dtype=np.float64)
    i = 0
    counter = 0
    while i < dim:
        h = hashlib.md5(f"{key}#{counter}".encode()).digest()
        for off in range(0, 16, 4):
            if i >= dim:
                break
            v = int.from_bytes(h[off : off + 4], "big", signed=False)
            out[i] = (v / 2**32) * 2.0 - 1.0
            i += 1
        counter += 1
    n = np.linalg.norm(out)
    return out / n if n else out


def hash_embedding_udf(dim: int = EMB_DIM):
    @F.pandas_udf(f"array<double>")
    def emb(keys: pd.Series) -> pd.Series:
        return keys.map(lambda k: _hash_vec(k, dim).tolist())

    return emb


def entity_embeddings(spark, entities: list[str], dim: int = EMB_DIM) -> DataFrame:
    """Entity-side vectors (metadata-scale -> broadcastable)."""
    rows = [(e, _hash_vec(f"entity:{e}", dim).tolist()) for e in sorted(entities)]
    return spark.createDataFrame(rows, "entity string, entity_vec array<double>")


def score_and_resolve(
    candidates: DataFrame,
    page_vec_col: str = "page_vec",
    entity_vec_col: str = "entity_vec",
    id_col: str = "url",
    surface_col: str = "surface",
    entity_col: str = "entity",
) -> DataFrame:
    """Per page: score all candidates, keep the best entity per surface.

    ``groupBy(bucket).applyInPandas``: pages are grouped by a
    DETERMINISTIC hash bucket of the id (``pmod(xxhash64(url), n)``, n =
    4x default parallelism), not by the id itself — one-page groups make
    the Arrow group machinery (per-group pandas construction + schema
    conversion) the dominant cost at corpus scale, and a real encoder
    wants big batches anyway. Inside a bucket the cosine is one
    vectorized einsum over every candidate row; the per-(url, surface)
    argmax with deterministic entity tie-break happens in the same
    pandas pass, so the resolved links are row-identical to the old
    one-group-per-page form. Output: (url, surface, entity, score).
    """
    out_schema = f"{id_col} string, {surface_col} string, {entity_col} string, score double"

    def resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        pv = np.stack(pdf[page_vec_col].map(np.asarray).to_list())
        ev = np.stack(pdf[entity_vec_col].map(np.asarray).to_list())
        pvn = np.linalg.norm(pv, axis=1)
        pvn[pvn == 0] = 1.0
        denom = np.linalg.norm(ev, axis=1) * pvn
        denom[denom == 0] = 1.0
        scores = np.einsum("ij,ij->i", ev, pv) / denom
        res = pd.DataFrame(
            {
                id_col: pdf[id_col],
                surface_col: pdf[surface_col],
                entity_col: pdf[entity_col],
                # det_round convention (operators/numeric.py): floor(x*1e6
                # + .5)/1e6 — half-up on every engine, unlike np.round's
                # half-even, so a DuckDB oracle can reproduce the scores
                "score": np.floor(scores * 1e6 + 0.5) / 1e6,
            }
        )
        # argmax per (url, surface); ties -> lexicographically first entity
        res = res.sort_values(["score", entity_col], ascending=[False, True])
        return res.groupby([id_col, surface_col], as_index=False).first()[
            [id_col, surface_col, entity_col, "score"]
        ]

    n_buckets = 4 * candidates.sparkSession.sparkContext.defaultParallelism
    bucketed = candidates.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    )
    return bucketed.groupBy("_bucket").applyInPandas(resolve, out_schema)


def link_entities(
    spark,
    pages_text: DataFrame,
    candidate_map: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    dim: int = EMB_DIM,
) -> DataFrame:
    """Full linking stage.

    ``candidate_map``: (surface, entity) — possibly many entities per
    surface (the ambiguity). Broadcast-joined against detected surfaces;
    page vectors derive from the text (Arrow UDF), entity vectors from the
    entity key (broadcast). Surfaces are matched exactly as in KG
    construction (:func:`~tab2neo_spark.extract.mentions.match_gazetteer`).
    Returns resolved links: (url, surface, entity, score).
    """
    surfaces = [r["surface"] for r in candidate_map.select("surface").distinct().collect()]
    entities = [r["entity"] for r in candidate_map.select("entity").distinct().collect()]
    if not surfaces:
        return spark.createDataFrame([], f"{id_col} string, surface string, entity string, score double")

    from tab2neo_spark.extract.mentions import match_gazetteer

    # raises on surfaces outside the token model, as construct_kg does
    matches = match_gazetteer(F.col(text_col), surfaces)
    # page vector computed ONCE per page, BEFORE the explode — a page with
    # 20 candidate surfaces must not hash its full text 20x; the explode
    # then duplicates a 16-double vector, not a UDF evaluation.
    # Balance the input first: the embedding UDF, the explode and the
    # broadcast joins all run BELOW the groupBy exchange, so a single-row-
    # group input would put the whole Python-side md5 pass in one task
    # (guide §2.5 input skew; no-op for well-split production inputs).
    from tab2neo_spark.session import ensure_min_partitions

    pages_with_vec = ensure_min_partitions(pages_text).withColumn(
        "page_vec", hash_embedding_udf(dim)(F.col(text_col))
    )
    hits = pages_with_vec.select(
        id_col,
        "page_vec",
        F.explode(F.array_distinct(matches)).alias("surface"),
    )
    cands = hits.join(F.broadcast(candidate_map), "surface", "inner").join(
        F.broadcast(entity_embeddings(spark, entities, dim)), "entity", "inner"
    )
    return score_and_resolve(cands, id_col=id_col)
