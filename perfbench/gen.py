"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (numpy ``default_rng``), so
the same seed writes byte-identical inputs. The engine only ever sees the
parquet files written here; nothing in this module imports the engine, so
a change to the engine cannot change the inputs it is measured on.

Each generator also returns the input properties an optimisation might
depend on (hot-domain share, gazetteer hits per page, re-crawl overlap,
per-column cardinality, readback repeat share), so a later change that
helps only some inputs can report the share of inputs that have them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Gazetteer surfaces (and SAME_AS aliases) of the engine's default
# dictionary, plus filler words that never match. Kept as literals so the
# inputs stay fixed when the engine's dictionary changes.
ENTITY_WORDS = [
    "spark", "join", "merge", "sort", "order", "filter", "scan", "agg",
    "aggregate", "group", "query", "table", "window", "row", "line",
    "column", "batch", "stream", "vector", "hash", "key", "data", "value",
]
FILLER_WORDS = [
    "the", "a", "of", "fast", "slow", "big", "small", "part", "dup", "customer",
    "report", "engine", "plan", "node", "edge", "graph", "load", "store",
    "index", "cache", "file", "page", "site", "news", "time", "user", "city",
    "price", "market", "model", "study", "result", "method", "level", "north",
]
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.6, 0.12, 0.12, 0.1, 0.06]
HOT_DOMAINS = 3
HOT_SHARE = 0.2
COLD_DOMAINS = 200
ENTITY_P = 0.25  # chance a body word is a gazetteer surface

_TEMPLATE = (
    '<!DOCTYPE html><html lang="{lang}"><head><title>{title}</title>'
    "<script>var join={{spark:1}};</script><style>p{{margin:0}}</style>"
    "</head><body><!-- crawl {url} --><nav>home &middot; about</nav>"
    "<article><h1>{title}</h1><p>{body}</p></article>"
    "<footer>&copy; example</footer></body></html>"
)


def write_parquet(table: pa.Table, path: str, row_group_size: int) -> int:
    """Write ``table`` and return the file's size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")
    return os.path.getsize(path)


def _domains(rng: np.random.Generator, n: int) -> np.ndarray:
    """Domain index per page: HOT_SHARE of pages land on HOT_DOMAINS domains."""
    hot = rng.random(n) < HOT_SHARE
    return np.where(
        hot,
        rng.integers(0, HOT_DOMAINS, n),
        HOT_DOMAINS + rng.integers(0, COLD_DOMAINS, n),
    )


def _bodies(rng: np.random.Generator, n: int) -> tuple[list[str], np.ndarray]:
    """Page bodies and each page's number of gazetteer-surface occurrences."""
    lengths = rng.integers(30, 120, n)
    total = int(lengths.sum())
    is_ent = rng.random(total) < ENTITY_P
    # skewed entity choice: a few head entities appear on most pages
    ent_rank = np.minimum(rng.zipf(1.6, total) - 1, len(ENTITY_WORDS) - 1)
    fill = rng.integers(0, len(FILLER_WORDS), total)
    vocab = np.array(ENTITY_WORDS + FILLER_WORDS, dtype=object)
    words = vocab[np.where(is_ent, ent_rank, len(ENTITY_WORDS) + fill)]
    ends = np.cumsum(lengths)
    starts = ends - lengths
    bodies = [" ".join(words[s:e]) for s, e in zip(starts, ends)]
    hit = is_ent & (words != "aggregate")  # 'aggregate' is an alias only
    return bodies, np.add.reduceat(hit, starts)


def pages(seed: int, ids: np.ndarray, crawl: int = 0) -> tuple[pa.Table, dict]:
    """Common-Crawl-style pages ``(url, warc_ts, html, text, lang)`` for the
    page ids ``ids``. A page's content is a function of (seed, id) only, so
    a re-crawl of an id yields the same body under a later ``warc_ts``."""
    n = len(ids)
    bodies, langs, doms = [], [], []
    hot = hits = 0.0
    # per-id content: one rng per block of ids keeps re-crawls identical
    for block in np.unique(ids // 1000):
        sel = ids[ids // 1000 == block]
        rng = np.random.default_rng([seed, int(block)])
        b, h = _bodies(rng, 1000)
        d = _domains(rng, 1000)
        lg = rng.choice(LANGS, 1000, p=LANG_P)
        off = sel - block * 1000
        bodies += [b[i] for i in off]
        langs += list(lg[off])
        doms += list(d[off])
        hot += float((d[off] < HOT_DOMAINS).sum())
        hits += float(h[off].sum())
    urls = [f"https://site{d}.example.com/doc/{i}" for d, i in zip(doms, ids)]
    html = [
        _TEMPLATE.format(lang=lg, title=f"doc {i}", url=u, body=b).encode()
        for lg, i, u, b in zip(langs, ids, urls, bodies)
    ]
    rng = np.random.default_rng([seed, 7, crawl])
    ts = 1_704_067_200_000_000 + crawl * 40 * 86_400_000_000 + rng.integers(
        0, 30 * 86_400_000_000, n
    )
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(bodies, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    props = {
        "pages": n,
        "hot_domain_share": round(hot / max(n, 1), 4),
        "gazetteer_hits_per_page": round(hits / max(n, 1), 2),
    }
    return table, props


def recrawl_ids(seed: int, n_built: int, n_batch: int, overlap: float) -> np.ndarray:
    """Ids of a re-crawl batch: ``overlap`` of it already built, the rest new."""
    rng = np.random.default_rng([seed, 11])
    n_old = int(round(n_batch * overlap))
    old = rng.choice(n_built, n_old, replace=False)
    new = np.arange(n_built, n_built + n_batch - n_old)
    return np.sort(np.concatenate([old, new]))


def clinical(seed: int, n_rows: int) -> tuple[pa.Table, dict]:
    """Long-format clinical-style table (FIXTURES.md §2 ``record`` /
    ``test_data`` shapes, scaled up): one row per (subject, visit, test).
    Age and Sex are subject-level; Sex is null for ~2% of subjects; subject
    ids are zero-padded numeric strings that must survive as strings."""
    rng = np.random.default_rng([seed, 23])
    n_subj = max(1, n_rows // 40)
    subj_study = rng.integers(0, 6, n_subj)
    subj_age = rng.integers(18, 81, n_subj)
    subj_sex = rng.choice(np.array(["M", "F", None], dtype=object), n_subj, p=[0.49, 0.49, 0.02])
    subj = rng.integers(0, n_subj, n_rows)
    visit = rng.integers(1, 11, n_rows)
    param = rng.integers(0, 24, n_rows)
    table = pa.table(
        {
            "Study": pa.array([f"STUDY{s}" for s in subj_study[subj]], pa.string()),
            "Subject": pa.array([f"{s:07d}" for s in subj], pa.string()),
            "Visit": pa.array([f"VISIT{v}" for v in visit], pa.string()),
            "Parameter": pa.array([f"PARAM{p:02d}" for p in param], pa.string()),
            "Age": pa.array(subj_age[subj], pa.int64()),
            "Sex": pa.array(list(subj_sex[subj]), pa.string()),
            "TestValue": pa.array(np.round(rng.normal(50, 15, n_rows), 3), pa.float64()),
        }
    )
    card = {c: len(set(table.column(c).to_pylist()) - {None}) for c in table.column_names}
    props = {"rows": n_rows, "cardinality": card}
    return table, props


# -- readback query stream ----------------------------------------------------

SHAPES = ["point", "selective", "pack", "exists"]
ENTITY_CLASSES = {"Operator": ["join", "merge", "sort", "filter", "scan", "agg", "group", "query"],
                  "Structure": ["table", "window", "row", "column", "batch", "stream", "vector", "hash", "key"]}


def queries(seed: int, n: int, urls: list[str], repeat_share: float) -> tuple[list[dict], dict]:
    """A stream of ``n`` readback queries, shapes in rotation, parameters
    drawn from the seed; ``repeat_share`` of them re-issue an earlier query
    verbatim (a dashboard refresh)."""
    rng = np.random.default_rng([seed, 31])
    out: list[dict] = []
    by_shape: dict[str, list[dict]] = {s: [] for s in SHAPES}
    repeats = 0
    for i in range(n):
        shape = SHAPES[i % len(SHAPES)]
        same = by_shape[shape]
        if same and rng.random() < repeat_share:
            out.append(same[int(rng.integers(0, len(same)))])
            repeats += 1
            continue
        lang = str(rng.choice(LANGS[1:]))
        if shape == "point":
            k = int(rng.integers(3, 25))
            q = {"shape": shape, "urls": sorted(str(u) for u in rng.choice(urls, k, replace=False))}
        elif shape == "selective":
            ops = sorted(str(x) for x in rng.choice(ENTITY_CLASSES["Operator"], 2, replace=False))
            sts = sorted(str(x) for x in rng.choice(ENTITY_CLASSES["Structure"], 2, replace=False))
            q = {"shape": shape, "lang": lang, "operators": ops, "structures": sts}
        elif shape == "pack":
            q = {"shape": shape, "lang": lang}
        else:
            q = {"shape": shape, "lang": lang,
                 "structure": str(rng.choice(ENTITY_CLASSES["Structure"]))}
        q["id"] = i
        out.append(q)
        same.append(q)
    return out, {"queries": n, "repeat_share": round(repeats / max(n, 1), 4)}
