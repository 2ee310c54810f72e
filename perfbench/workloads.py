"""The three benchmark workloads: set-up, one client operation, its check.

Each workload is closed loop with one client: the next operation starts
when the previous one has returned. An operation returns its phase
timings; :meth:`check` then verifies what it produced against an
independent computation (pandas, the engine's pandas oracle, or DuckDB
over the store's parquet files). Results are always written or collected,
never ``count()``-ed, so Catalyst cannot prune the timed work.

Spans (see tracing.py) wrap every call into an engine module. In the
traced run, ``probe()`` adds separate jobs that isolate one layer's work
(a noop write of its output) and counts the rows each write is offered;
it runs outside the operations' timing.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd

import gen

# -- sizes (rows) ---------------------------------------------------------------

WEB_PAGES = 3_000
WEB_RECRAWL = 1_000
WEB_OVERLAP = 0.5
WEB_SAMPLE = 120
TABLE_ROWS = 8_000
READBACK_PAGES = 4_000
READBACK_REPEAT = 0.25

MAPPED = ["Study", "Subject", "Visit", "Parameter", "Age", "Sex"]
ENTITY_RELS = [("Study", "Subject"), ("Subject", "Age"), ("Subject", "Sex"),
               ("Subject", "Visit"), ("Visit", "Parameter")]
DERIVATION = {
    "name": "age_months",
    "actions": [
        {"type": "get_data", "labels": ["Subject", "Age", "Sex"], "include_ids": True},
        {"type": "filter", "where_map": {"Sex": "F"}},
        {"type": "run_script", "script": "multiply",
         "params": {"column": "Age", "by": 12, "new_column": "AgeMonths"}},
        {"type": "assign_class", "class": "AgeMonths", "value_column": "AgeMonths"},
        {"type": "link", "relationship_type": "HAS_AGE_MONTHS",
         "from_id": "_id_Subject", "to_id": "_id_AgeMonths"},
    ],
}


class CheckFailed(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def parquet_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


def _table(root: str, name: str) -> str:
    return f"read_parquet('{root}/{name}/**/*.parquet', hive_partitioning=true, union_by_name=true)"


def _rows(con, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()


def _canon(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=lambda t: [(v is None, str(v)) for v in t])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _trace_writes(store, tracer, offered: dict | None = None) -> None:
    """Give each ``GraphStore.write_stage`` call its own span (per table).
    The engine's ``materialize_kg``/``write_method_result`` call
    ``store.write_stage``, so wrapping it on the instance traces the
    engine's own write path unchanged."""
    if not tracer.on:
        return
    inner = store.write_stage

    def traced(df, table, run_id, stage, **kw):
        existing = os.path.isdir(store.path(table))
        with tracer.span("kg.materialize", f"write.{table}", table=table,
                         existing=existing) as sp:
            payload = inner(df, table, run_id, stage, **kw)
        sp["rows_written"] = payload["row_count"]
        sp["files"] = len(payload["partitions"])
        sp["bytes"] = sum(os.path.getsize(os.path.join(store.root, f))
                          for f in payload["partitions"])
        sp["offered"] = (offered or {}).get(f"{run_id}:{stage}")
        return payload

    store.write_stage = traced


class Workload:
    name = ""
    setup_uses_spark = False

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        # CPU seconds of the whole engine; run.py swaps in a clock that
        # also counts the JVM and its Python workers
        self.cpu = time.process_time
        self.inputs = os.path.join(work, "inputs")
        self.props: dict = {}

    # the traced run traces every other block of this many operations
    trace_block = 1

    def traced(self, i: int) -> bool:
        return bool(i // self.trace_block % 2)

    def store_root(self, i) -> str:
        return os.path.join(self.work, "stores", f"{self.name}-{i}")


# -- web_build --------------------------------------------------------------------


class WebBuild(Workload):
    """Build pages into an empty GraphStore, then upsert a re-crawl batch."""

    name = "web_build"

    def setup(self, k: int = 0) -> None:
        built, p1 = gen.pages(self.seed, np.arange(WEB_PAGES))
        ids = gen.recrawl_ids(self.seed, WEB_PAGES, WEB_RECRAWL, WEB_OVERLAP)
        batch, p2 = gen.pages(self.seed, ids, crawl=1)
        b1 = gen.write_parquet(built, f"{self.inputs}/pages.parquet", 1000)
        b2 = gen.write_parquet(batch, f"{self.inputs}/recrawl.parquet", 1000)
        self.input_bytes = b1 + b2
        self.props = {"build": p1, "recrawl": p2, "recrawl_overlap_share": WEB_OVERLAP,
                      "input_bytes": self.input_bytes}
        self._built, self._batch = built, batch

    def _oracle(self):
        """Expected triples of a seeded url sample, from the engine's
        independent pandas oracle (kg/oracle.py) on the raw html."""
        if hasattr(self, "expected"):
            return
        from tab2neo_spark.kg.oracle import oracle_triples

        rng = np.random.default_rng([self.seed, 41])
        built = self._built.to_pandas()
        batch = self._batch.to_pandas()
        new = batch[~batch.url.isin(built.url)]
        sample = built.iloc[rng.choice(len(built), WEB_SAMPLE, replace=False)]
        sample = pd.concat([sample, new.iloc[rng.choice(len(new), WEB_SAMPLE // 4, replace=False)]])
        self.sample_urls = sorted(sample.url)
        self.expected = oracle_triples(sample[["url", "html"]])
        self.n_pages = len(set(built.url) | set(batch.url))

    def _build(self, store, path: str, run_id: str) -> None:
        from tab2neo_spark.kg.construct import construct_kg
        from tab2neo_spark.kg.materialize import materialize_kg

        with self.tracer.span("kg.construct"):
            kg = construct_kg(self.spark, self.spark.read.parquet(path), unique_urls=True)
        try:
            with self.tracer.span("kg.materialize", f"materialize.{run_id}"):
                materialize_kg(store, kg, run_id=run_id)
        finally:
            kg.unpersist()

    def op(self, i) -> dict:
        from tab2neo_spark.kg.materialize import GraphStore

        store = GraphStore(self.spark, self.store_root(i))
        _trace_writes(store, self.tracer, getattr(self, "offered", None))
        t0 = time.perf_counter()
        self._build(store, f"{self.inputs}/pages.parquet", "build")
        c1, t1 = self.cpu(), time.perf_counter()
        self._build(store, f"{self.inputs}/recrawl.parquet", "recrawl")
        c2, t2 = self.cpu(), time.perf_counter()
        return {"build_s": t1 - t0, "upsert_s": t2 - t1, "rows": WEB_PAGES + WEB_RECRAWL,
                "upsert_cpu_s": c2 - c1}

    def check(self, i) -> dict:
        self._oracle()
        root = self.store_root(i)
        con = duckdb.connect()
        try:
            urls = ", ".join(f"'{u}'" for u in self.sample_urls)
            mentions = _rows(con, f"SELECT subj, pred, obj FROM {_table(root, 'triples')} "
                                  f"WHERE pred = 'MENTIONS' AND subj IN ({urls})")
            objs = ", ".join(f"'{o}'" for o in {m[2] for m in mentions}) or "''"
            isa = _rows(con, f"SELECT subj, pred, obj FROM {_table(root, 'triples')} "
                             f"WHERE pred = 'IS_A' AND subj IN ({objs})")
            _expect(set(mentions) | set(isa) == self.expected, "sample triples != oracle")
            for table, key in (("nodes", "node_id"), ("edges", "src, rel_type, dst"),
                               ("triples", "subj, pred, obj")):
                (n, d), = _rows(con, f"SELECT count(*), count(DISTINCT ({key})) "
                                     f"FROM {_table(root, table)}")
                _expect(n == d, f"{table}: {n - d} duplicate keys after upsert")
            (pg,), = _rows(con, f"SELECT count(*) FROM {_table(root, 'nodes')} WHERE class = 'Page'")
            _expect(pg == self.n_pages, f"{pg} Page nodes, expected {self.n_pages}")
        finally:
            con.close()
        out = {"store_bytes": parquet_bytes(root)}
        shutil.rmtree(root)
        return out

    def probe(self) -> dict:
        """Traced run only: isolate extract and construct work, and count
        the rows each materialize write is offered."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from tab2neo_spark.extract.html import with_extracted_text
        from tab2neo_spark.kg.construct import construct_kg

        out = {"offered": {}}
        for run_id, name in (("build", "pages"), ("recrawl", "recrawl")):
            pages = self.spark.read.parquet(f"{self.inputs}/{name}.parquet")
            t0 = time.perf_counter()
            with self.tracer.span("extract", f"extract.{run_id}"):
                _noop(with_extracted_text(pages))
            t1 = time.perf_counter()
            kg = construct_kg(self.spark, pages, unique_urls=True)
            obs = Observation(f"pairs_{run_id}")
            with self.tracer.span("kg.construct", f"pairs.{run_id}"):
                _noop(kg.mention_pairs.observe(obs, F.count(F.lit(1)).alias("n")))
            t2 = time.perf_counter()
            for table in ("nodes", "edges", "triples"):
                out["offered"][f"{run_id}:{table}"] = (
                    getattr(kg, table).agg(F.count(F.lit(1))).collect()[0][0])
            kg.unpersist()
            out.setdefault("extract_s", []).append(t1 - t0)
            out.setdefault("pairs_s", []).append(t2 - t1)
            out.setdefault("pairs", []).append(obs.get["n"])
            out.setdefault("pages", []).append(pages.agg(F.count(F.lit(1))).collect()[0][0])
        self.offered = out["offered"]
        return out


# -- table_refactor -----------------------------------------------------------------


def _model():
    from tab2neo_spark.model.metadata import MetadataModel

    m = MetadataModel()
    m.create_related_classes_from_list([["Record", c, c] for c in MAPPED])
    for a, b in ENTITY_RELS:
        m.create_relationship(a, b)
    return m


class TableRefactor(Workload):
    """Load a long table, refactor it into a graph, run a derivation."""

    name = "table_refactor"

    def setup(self, k: int = 0) -> None:
        table, props = gen.clinical(self.seed, TABLE_ROWS)
        self.input_bytes = gen.write_parquet(table, f"{self.inputs}/record.parquet", 5000)
        self.props = {**props, "mapped_columns": MAPPED, "input_bytes": self.input_bytes}
        self._table = table

    def _expected(self):
        if hasattr(self, "exp_nodes"):
            return
        df = self._table.to_pandas().drop_duplicates()
        self.exp_nodes = {c: int(df[c].dropna().astype(str).nunique()) for c in MAPPED}
        edges = {"FROM_DATA": int(sum(df[c].notna().sum() for c in MAPPED)),
                 "IS_A": sum(self.exp_nodes.values())}
        for a, b in ENTITY_RELS:
            edges[b] = int(len(df[[a, b]].dropna().drop_duplicates()))
        subj = df[["Subject", "Age", "Sex"]].dropna().drop_duplicates()
        fem = subj[subj.Sex == "F"]
        self.exp_links = {(s, str(int(a) * 12)) for s, a in zip(fem.Subject, fem.Age)}
        self.exp_nodes["AgeMonths"] = len({m for _, m in self.exp_links})
        edges["HAS_AGE_MONTHS"] = len(self.exp_links)
        self.exp_edges = edges

    def op(self, i) -> dict:
        from tab2neo_spark.kg.materialize import GraphStore, write_method_result
        from tab2neo_spark.kg.refactor import RefactorEngine
        from tab2neo_spark.pipeline.runner import DerivationMethod
        from tab2neo_spark.provider import DataProvider
        from tab2neo_spark.sources.loaders import load_file

        store = GraphStore(self.spark, self.store_root(i))
        _trace_writes(store, self.tracer, getattr(self, "offered", None))
        t0 = time.perf_counter()
        with self.tracer.span("sources"):
            df = load_file(self.spark, self.inputs, "record.parquet")
        with self.tracer.span("model"):
            model = _model()
        with self.tracer.span("kg.refactor"):
            res = RefactorEngine(self.spark, model).refactor_all(df, "Record")
        with self.tracer.span("kg.materialize", "materialize.refactor"):
            store.write_stage(res.nodes, "nodes", "refactor", "refactor_nodes",
                              partition_by=["class"], dedup_key=["node_id"])
            store.write_stage(res.edges, "edges", "refactor", "refactor_edges",
                              partition_by=["rel_type"], dedup_key=["src", "rel_type", "dst"])
        c1, t1 = self.cpu(), time.perf_counter()
        with self.tracer.span("pipeline", "pipeline.apply"):
            provider = DataProvider(self.spark, model, store.read("nodes"), store.read("edges"))
            if self.tracer.on:
                _trace_get_data(provider, self.tracer)
            out = DerivationMethod(self.spark, DERIVATION, provider=provider).apply()
        with self.tracer.span("pipeline", "pipeline.write"):
            write_method_result(store, out, "derive", DERIVATION["name"])
        c2, t2 = self.cpu(), time.perf_counter()
        return {"refactor_s": t1 - t0, "derive_s": t2 - t1, "rows": TABLE_ROWS,
                "derive_cpu_s": c2 - c1}

    def check(self, i) -> dict:
        self._expected()
        root = self.store_root(i)
        con = duckdb.connect()
        try:
            nodes = dict(_rows(con, f"SELECT class, count(*) FROM {_table(root, 'nodes')} GROUP BY class"))
            _expect(nodes == self.exp_nodes, f"node counts {nodes} != {self.exp_nodes}")
            edges = dict(_rows(con, f"SELECT rel_type, count(*) FROM {_table(root, 'edges')} GROUP BY rel_type"))
            _expect(edges == self.exp_edges, f"edge counts {edges} != {self.exp_edges}")
            links = _rows(con, f"""
                SELECT s.rdfs_label, m.rdfs_label FROM {_table(root, 'edges')} e
                JOIN {_table(root, 'nodes')} s ON s.node_id = e.src AND s.class = 'Subject'
                JOIN {_table(root, 'nodes')} m ON m.node_id = e.dst AND m.class = 'AgeMonths'
                WHERE e.rel_type = 'HAS_AGE_MONTHS'""")
            _expect(set(links) == self.exp_links, "derived links != pandas")
            (n, d), = _rows(con, f"SELECT count(*), count(DISTINCT node_id) FROM {_table(root, 'nodes')}")
            _expect(n == d, "duplicate node ids")
        finally:
            con.close()
        out = {"store_bytes": parquet_bytes(root)}
        shutil.rmtree(root)
        return out

    def probe(self) -> dict:
        from pyspark.sql import functions as F

        from tab2neo_spark.kg.refactor import RefactorEngine, plan_extraction
        from tab2neo_spark.sources.loaders import load_file

        df = load_file(self.spark, self.inputs, "record.parquet")
        t0 = time.perf_counter()
        with self.tracer.span("sources", "sources.scan"):
            _noop(df)
        t1 = time.perf_counter()
        model = _model()
        with self.tracer.span("model", "model.plan"):
            plan_extraction(model, "Record")
            model.infer_rels(DERIVATION["actions"][0]["labels"])
        t2 = time.perf_counter()
        res = RefactorEngine(self.spark, model).refactor_all(df, "Record")
        with self.tracer.span("kg.refactor", "refactor.busy"):
            _noop(res.nodes)
            _noop(res.edges)
        t3 = time.perf_counter()
        nodes = res.nodes.agg(F.count(F.lit(1))).collect()[0][0]
        edges = res.edges.agg(F.count(F.lit(1))).collect()[0][0]
        self.offered = {"refactor:refactor_nodes": nodes, "refactor:refactor_edges": edges}
        return {"scan_s": t1 - t0, "model_s": t2 - t1, "refactor_busy_s": t3 - t2,
                "edges": edges, "rows": TABLE_ROWS}


# -- graph_readback ---------------------------------------------------------------


def _trace_get_data(provider, tracer) -> None:
    inner = provider.get_data

    def traced(*a, **kw):
        with tracer.span("provider", "get_data"):
            return inner(*a, **kw)

    provider.get_data = traced


class GraphReadback(Workload):
    """Stream of DataProvider.get_data queries over a fixed web graph."""

    name = "graph_readback"
    setup_uses_spark = True
    trace_block = len(gen.SHAPES)  # every shape is traced

    def setup(self, k: int = 0) -> None:
        from tab2neo_spark.kg.construct import construct_kg
        from tab2neo_spark.kg.materialize import GraphStore, materialize_kg

        table, props = gen.pages(self.seed, np.arange(READBACK_PAGES))
        path = f"{self.inputs}/pages.parquet"
        self.input_bytes = gen.write_parquet(table, path, 1000)
        root = self.store_root(f"setup{k}")
        kg = construct_kg(self.spark, self.spark.read.parquet(path), unique_urls=True)
        materialize_kg(GraphStore(self.spark, root), kg, run_id="build")
        kg.unpersist()
        self.root = root
        urls = table.column("url").to_pylist()
        self.queries, qprops = gen.queries(self.seed, 1000, urls, READBACK_REPEAT)
        self.props = {"pages": props, "queries": qprops, "input_bytes": self.input_bytes}
        self.store_bytes = parquet_bytes(root)

    def _provider(self):
        from tab2neo_spark.kg.materialize import GraphStore
        from tab2neo_spark.model.gazetteer import webtext_model
        from tab2neo_spark.provider import DataProvider

        store = GraphStore(self.spark, self.root)
        self.provider = DataProvider(self.spark, webtext_model(), store.read("nodes"), store.read("edges"))
        self.results: dict[int, tuple] = {}

    LABELS = {"point": ["Page", "Operator", "Engine**"],
              "selective": ["Page", "Operator", "Structure"],
              "pack": ["Page", "Operator"],
              "exists": ["Page", "Concept"]}

    @classmethod
    def spec(cls, q: dict) -> tuple[list, dict]:
        """``get_data`` arguments of a generated query."""
        s = q["shape"]
        if s == "point":
            kw = {"where_map": {"Page": {"rdfs_label": q["urls"]}}}
        elif s == "selective":
            kw = {"where_map": {"Page": {"lang": q["lang"]},
                                "Operator": {"rdfs_label": q["operators"]},
                                "Structure": {"rdfs_label": q["structures"]}}}
        elif s == "pack":
            kw = {"where_map": {"Page": {"lang": q["lang"]}}, "labels_to_pack": ["Operator"]}
        else:
            kw = {"where_map": {"Page": {"lang": q["lang"]}},
                  "where_rel_map": {"Page": {"EXISTS": {"include": [
                      {"Structure": {"rdfs_label": q["structure"]}}]}}}}
        return cls.LABELS[s], kw

    def op(self, i) -> dict:
        if not hasattr(self, "provider"):
            self._provider()
        q = self.queries[i % len(self.queries)]
        labels, kw = self.spec(q)
        with self.tracer.span("provider", f"query.{q['shape']}", shape=q["shape"]) as sp:
            c0, t0 = self.cpu(), time.perf_counter()
            df = self.provider.get_data(labels, **kw)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            c2, t2 = self.cpu(), time.perf_counter()
        sp.update(plan_s=t1 - t0, exec_s=t2 - t1, rows=len(pdf))
        rows = [tuple(tuple(v) if isinstance(v, np.ndarray) else v for v in r)
                for r in pdf.itertuples(index=False)]
        self.results[i] = (q, rows)
        return {"query_s": t2 - t0, "query_cpu_s": c2 - c0, "rows": len(rows), "shape": q["shape"]}

    def oracle_sql(self, q: dict) -> str:
        n, e = _table(self.root, "nodes"), _table(self.root, "edges")

        def cls(c, extra=""):
            return f"(SELECT node_id, rdfs_label, props FROM {n} WHERE class = '{c}' {extra})"

        def lst(xs):
            return ", ".join(f"'{x}'" for x in xs)

        ment = f"(SELECT src, dst FROM {e} WHERE rel_type = 'MENTIONS')"
        lang = "AND map_extract(props, 'lang')[1] = '{}'"
        s = q["shape"]
        if s == "point":
            return f"""
                SELECT p.rdfs_label, o.rdfs_label, g.rdfs_label
                FROM {cls('Page', f"AND rdfs_label IN ({lst(q['urls'])})")} p
                JOIN {ment} po ON po.src = p.node_id JOIN {cls('Operator')} o ON o.node_id = po.dst
                LEFT JOIN ({ment} pg JOIN {cls('Engine')} g ON g.node_id = pg.dst)
                  ON pg.src = p.node_id"""
        if s == "selective":
            return f"""
                SELECT p.rdfs_label, o.rdfs_label, t.rdfs_label
                FROM {cls('Page', lang.format(q['lang']))} p
                JOIN {ment} po ON po.src = p.node_id
                JOIN {cls('Operator', f"AND rdfs_label IN ({lst(q['operators'])})")} o ON o.node_id = po.dst
                JOIN {ment} pt ON pt.src = p.node_id
                JOIN {cls('Structure', f"AND rdfs_label IN ({lst(q['structures'])})")} t ON t.node_id = pt.dst"""
        if s == "pack":
            return f"""
                SELECT p.rdfs_label, list_sort(list(DISTINCT o.rdfs_label))
                FROM {cls('Page', lang.format(q['lang']))} p
                JOIN {ment} po ON po.src = p.node_id JOIN {cls('Operator')} o ON o.node_id = po.dst
                GROUP BY p.rdfs_label"""
        return f"""
            SELECT p.rdfs_label, c.rdfs_label
            FROM {cls('Page', lang.format(q['lang']))} p
            JOIN {ment} pc ON pc.src = p.node_id JOIN {cls('Concept')} c ON c.node_id = pc.dst
            WHERE p.node_id IN (
              SELECT x.src FROM {e} x JOIN {cls('Structure', f"AND rdfs_label = '{q['structure']}'")} t
              ON t.node_id = x.dst UNION
              SELECT x.dst FROM {e} x JOIN {cls('Structure', f"AND rdfs_label = '{q['structure']}'")} t
              ON t.node_id = x.src)"""

    def check(self, i) -> dict:
        q, got = self.results.pop(i)
        # repeated queries share one DuckDB answer
        cache = self.__dict__.setdefault("_oracle", {})
        key = repr(sorted((k, v) for k, v in q.items() if k != "id"))
        if key not in cache:
            con = duckdb.connect()
            try:
                rows = _rows(con, self.oracle_sql(q))
            finally:
                con.close()
            cache[key] = _canon(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                                for r in rows)
        _expect(_canon(got) == cache[key], f"query {q['id']} ({q['shape']}) != DuckDB")
        return {}

    def probe(self) -> dict:
        from tab2neo_spark.model.gazetteer import webtext_model

        model = webtext_model()
        t0 = time.perf_counter()
        with self.tracer.span("model", "model.infer_rels"):
            for labels in self.LABELS.values():
                model.infer_rels([lb.rstrip("*") for lb in labels])
        return {"model_s": time.perf_counter() - t0}


WORKLOADS = {w.name: w for w in (WebBuild, TableRefactor, GraphReadback)}

