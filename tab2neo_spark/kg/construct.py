"""The KG-construction pipeline: pages -> nodes/edges/triples.

Spark-first re-expression of the reference's ingestion->model->refactor
lifecycle (SURVEY §3.3): ``FileDataLoader.load_file`` + ``ModelApplier.
refactor_all`` (model_appliers/model_applier.py:96-135) become one lazy
DataFrame DAG:

  pages ──extract_text (Arrow UDF, narrow)──> text
        ──match_gazetteer (alternation regex, JVM, narrow)──> hits
                                                      (R2: extract_class_entities)
        ──literal map surface -> class + CC(SAME_AS) canonical──> mention keys
                                                      (MERGE replacement)
        ──distinct──> entity nodes (deterministic xxhash64 ids)
        ──groupBy(url, entity)──> MENTIONS edges      (R3: link_classes on shared row)
        ──union──> triples(subj, pred, obj)

Where the reference loops per-entity-class on the driver and ships one
Cypher query per class (its chief scalability limit, SURVEY §3.3), here
every class is matched in ONE regex + literal-map lookup and Catalyst
fuses the whole read->extract->match path into a single map-only stage;
the only shuffles are the final distinct/groupBy on (url, entity), which
AQE skew-splits for head entities.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tab2neo_spark import schema as S
from tab2neo_spark.extract.html import extract_text_udf
from tab2neo_spark.extract.mentions import match_gazetteer
from tab2neo_spark.kg.canon import canonical_map
from tab2neo_spark.model.gazetteer import gazetteer_df, same_as_df

MENTIONS = "MENTIONS"
IS_A = "IS_A"
SAME_AS_PRED = "SAME_AS"


class KGResult:
    """Lazy handle over the construction DAG.

    Output DataFrames (``nodes``/``edges``/``triples``) are
    built on first attribute access: plan construction costs real driver
    time (py4j + analysis), and it is the per-batch SERIAL term in the
    scaling law — a caller that only materializes ``triples`` must not pay
    for the plans of the other outputs."""

    def __init__(self, pages, mention_pairs, nodes_thunk, edges_thunk,
                 triples_thunk, persisted, partitions):
        self.pages = pages
        self.mention_pairs = mention_pairs  # distinct (url, class, canonical)
        # table -> the partition values its rows can hold, known from the
        # metadata without a job (GraphStore.write_stage verifies them)
        self.partitions = partitions
        self._thunks = {
            "nodes": nodes_thunk,         # NODES_SCHEMA
            "edges": edges_thunk,         # EDGES_SCHEMA
            "triples": triples_thunk,     # TRIPLES_SCHEMA
        }
        self._built = {}
        self._persisted = persisted

    def __getattr__(self, name):
        thunks = object.__getattribute__(self, "_thunks")
        if name in thunks:
            built = object.__getattribute__(self, "_built")
            if name not in built:
                built[name] = thunks[name]()
            return built[name]
        raise AttributeError(name)

    def unpersist(self) -> None:
        self._persisted.unpersist()


@dataclass
class KGMetadata:
    """Collected metadata for the construction pipeline.

    Computing this costs a handful of tiny Spark jobs (gazetteer collect +
    canonical-map union-find); it is immutable per gazetteer version, so
    batch/streaming drivers compute it ONCE and pass it to every
    ``construct_kg`` call — per-batch driver overhead must not scale with
    invocation count (it is the serial term in the scaling law).
    """

    gaz_rows: list  # [(class, surface, term_code)]
    canon_lookup: dict  # surface -> canonical


def collect_metadata(gaz: DataFrame, same_as: DataFrame) -> KGMetadata:
    canon = canonical_map(same_as)
    return KGMetadata(
        gaz_rows=[(r["class"], r["surface"], r["term_code"]) for r in gaz.collect()],
        canon_lookup={r["surface"]: r["canonical"] for r in canon.collect()},
    )


def default_metadata() -> KGMetadata:
    """KGMetadata for the DEFAULT gazetteer/SAME_AS without any Spark job:
    both live as literal Python lists (model/gazetteer.py is the single
    source of truth feeding the DataFrames AND the oracle SQL), so
    collecting them back out of Spark costs 3 tiny jobs per
    construct_kg call for data the driver already holds. Same union-find,
    same rows — value-identical to collect_metadata(gazetteer_df(...),
    same_as_df(...)) by construction."""
    from tab2neo_spark.kg.canon import _union_find_driver
    from tab2neo_spark.model.gazetteer import GAZETTEER, SAME_AS

    return KGMetadata(
        gaz_rows=[(c, s, t) for c, s, t in GAZETTEER],
        canon_lookup=_union_find_driver([(a, b) for a, b in SAME_AS]),
    )


def _page_keys_narrow(pages: DataFrame, meta: KGMetadata) -> DataFrame:
    """Per-page deduped mention keys ``(url, cks: array<string>)`` with no
    shuffle.

    The gazetteer and canonical map are metadata-scale: both are collected
    and compiled into ONE literal map surface -> 'class<SEP>canonical'
    applied inside a per-row array pipeline:

        match_gazetteer -> array_distinct -> transform(map lookup)
        -> array_distinct

    Per-page dedup inside the array IS global dedup when urls are unique.
    Keeping the relation page-granular (1 row/page, small array) makes it
    the cheapest thing to persist — ~10-30x fewer rows than the exploded
    pairs. An empty gazetteer yields an empty key array on every page."""
    sep = "\x01"
    surfaces = sorted({s for _, s, _ in meta.gaz_rows})

    lookup = {}
    for cls, surface, _ in meta.gaz_rows:
        lookup[surface] = f"{cls}{sep}{meta.canon_lookup.get(surface, surface)}"
    map_args = []
    for k, v in sorted(lookup.items()):
        map_args += [F.lit(k), F.lit(v)]
    # the cast types the empty map of an empty gazetteer; Catalyst drops
    # it as a no-op otherwise
    surface_map = F.create_map(*map_args).cast("map<string,string>")

    hits = F.array_distinct(match_gazetteer(F.col("text"), surfaces))
    keys = F.array_distinct(F.transform(hits, lambda w: surface_map[w]))
    return pages.select("url", keys.alias("cks"))


def _explode_pairs(page_keys: DataFrame, sep: str = "\x01") -> DataFrame:
    return page_keys.select("url", F.explode("cks").alias("ck")).select(
        "url",
        F.split_part(F.col("ck"), F.lit(sep), F.lit(1)).alias("class"),
        F.split_part(F.col("ck"), F.lit(sep), F.lit(2)).alias("canonical"),
    )


def construct_kg(
    spark: SparkSession,
    pages: DataFrame,
    gazetteer: DataFrame | None = None,
    same_as: DataFrame | None = None,
    unique_urls: bool = False,
    metadata: KGMetadata | None = None,
) -> KGResult:
    """Run the full construction DAG (lazy — nothing executes until the
    caller materializes). Text is extracted from the ``html`` bytes.

    The per-page mention keys are persisted: every output (nodes/edges/
    triples) derives from that small relation, and without persistence
    Spark would re-run the expensive scan->extract->match subtree once per
    output branch (it does not share subtrees across a union). At
    petabyte scale this persist becomes a checkpoint table write — same
    shape. ``KGResult.unpersist`` releases it.

    ``unique_urls=True`` declares the input contract 'one row per url'
    (the BASELINE input_hint row identity). Because a page lives in exactly
    one partition, mention-pair dedup is then PER-ROW LOCAL: duplicates are
    removed inside the per-page hit array before exploding, and the whole
    pages->triples path is narrow — ZERO shuffles. With False (default) a
    global ``distinct`` guards against duplicate urls at the cost of one
    shuffle of the mention pairs. Dedup the crawl once upstream
    (``pages.dropDuplicates(['url'])``, 1 row/url) instead of paying a
    per-mention shuffle in every run.
    """
    from pyspark.storagelevel import StorageLevel

    if metadata is None:
        if gazetteer is None and same_as is None:
            # default dictionaries: metadata straight from the literal
            # source-of-truth lists — zero Spark jobs (see default_metadata)
            metadata = default_metadata()
        else:
            metadata = collect_metadata(
                gazetteer if gazetteer is not None else gazetteer_df(spark),
                same_as if same_as is not None else same_as_df(spark),
            )

    pages = pages.withColumn("text", extract_text_udf(F.col("html")))

    # the load-bearing intermediate: everything downstream derives from it.
    # Persist at PAGE granularity (1 row/page + small key array): cheapest
    # relation that still spares every output branch the scan->extract->
    # match recompute.
    page_keys = _page_keys_narrow(pages, metadata).persist(StorageLevel.MEMORY_AND_DISK)
    mention_pairs_src = _explode_pairs(page_keys)
    if not unique_urls:
        mention_pairs_src = mention_pairs_src.distinct()

    def nodes_thunk():
        # entity nodes: one per (class, canonical surface), deterministic id
        entities = (
            mention_pairs_src.select("class", F.col("canonical").alias("rdfs_label"))
            .distinct()
            .withColumn("uri", S.node_uri_col(F.col("class"), F.col("rdfs_label")))
            .withColumn("node_id", F.xxhash64("class", "rdfs_label"))
            .withColumn("props", F.lit(None).cast("map<string,string>"))
            .select("node_id", "class", "rdfs_label", "uri", "props")
        )
        # Page nodes carry open properties (lang, crawl time) in the props
        # map — the reference's node property maps; entity nodes keep only
        # the canonical value
        page_nodes = (
            pages.select(
                F.col("url").alias("rdfs_label"),
                F.map_filter(
                    F.create_map(
                        F.lit("lang"), F.col("lang"),
                        F.lit("warc_ts"), F.col("warc_ts").cast("string"),
                    ),
                    lambda k, v: v.isNotNull(),
                ).alias("props"),
            )
            .dropDuplicates(["rdfs_label"])  # a url crawled twice = one Page node
            .withColumn("class", F.lit("Page"))
            .withColumn("uri", S.node_uri_col(F.col("class"), F.col("rdfs_label")))
            .withColumn("node_id", F.xxhash64("class", "rdfs_label"))
            .select("node_id", "class", "rdfs_label", "uri", "props")
        )
        return page_nodes.unionByName(entities)

    def edges_thunk():
        # MENTIONS edges: distinct (page, entity)
        return mention_pairs_src.select(
            F.xxhash64(F.lit("Page"), F.col("url")).alias("src"),
            F.lit(MENTIONS).alias("rel_type"),
            F.xxhash64("class", "canonical").alias("dst"),
        )

    def triples_thunk():
        # flattened triples: human-readable identity (url / class:surface)
        # so the readback layer and oracles are id-scheme independent
        t_mentions = mention_pairs_src.select(
            F.col("url").alias("subj"),
            F.lit(MENTIONS).alias("pred"),
            F.concat_ws(":", F.col("class"), F.col("canonical")).alias("obj"),
        )
        t_isa = (
            mention_pairs_src.select("class", "canonical")
            .distinct()
            .select(
                F.concat_ws(":", F.col("class"), F.col("canonical")).alias("subj"),
                F.lit(IS_A).alias("pred"),
                F.col("class").alias("obj"),
            )
        )
        return t_mentions.unionByName(t_isa)

    return KGResult(
        pages=pages,
        mention_pairs=mention_pairs_src,
        nodes_thunk=nodes_thunk,
        edges_thunk=edges_thunk,
        triples_thunk=triples_thunk,
        persisted=page_keys,
        partitions={
            "nodes": sorted({"Page"} | {c for c, _, _ in metadata.gaz_rows}),
            "edges": [MENTIONS],
            "triples": [MENTIONS, IS_A],
        },
    )
