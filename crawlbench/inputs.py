"""Seeded input generation for the crawl-engine benchmark.

Every input is a pure function of ``(seed, size)`` drawn from numpy's PCG64
generator, built in the driver process and written to parquet with pyarrow
under the run's work directory. The engine only ever reads those files; the
pure-Python oracles get the same rows straight from these functions.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dataset_crawler_spark import datagen

FRONTIER_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("host", pa.string()),
        ("priority", pa.float64()),
        ("discovered_crawl_id", pa.int32()),
        ("seed_rank", pa.int32()),
        ("state", pa.string()),
    ]
)
HOSTS_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        ("crawl_delay_ms", pa.int32()),
        ("max_fetch_per_round", pa.int32()),
        ("robots_disallow", pa.list_(pa.string())),
        ("is_available", pa.bool_()),
    ]
)
SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


def _dirty(host: str, path: str, variant: int) -> str:
    """Raw form of a URL. Variants 0-4 canonicalize back to
    ``https://host/path``; variant 5 adds an unsorted query, whose canonical
    form keeps the (sorted) query."""
    if variant == 1:
        return f"https://{host}{path}#section"
    if variant == 2:
        return f"https://{host.upper()}{path}"
    if variant == 3:
        return f"https://{host}:443{path}"
    if variant == 4:
        return f"https://{host}{path}/"
    if variant == 5:
        return f"https://{host}{path}?b=2&a=1"
    return f"https://{host}{path}"


def _host(ix: int) -> str:
    return f"host{ix:04d}.example.org"


def _rows(columns: dict[str, list], schema: pa.Schema) -> list[dict]:
    names = schema.names
    return [dict(zip(names, vals)) for vals in zip(*(columns[n] for n in names))]


def bulk_frontier(seed: int, n_rows: int, n_hosts: int) -> tuple[dict, list[str]]:
    """A dirty frontier of ``n_rows`` raw rows and its exact seen set.

    Rows point at ``0.75 · n_rows`` distinct documents, so dedup collapses
    about a quarter of them. Host 0 holds about 10% of the documents and
    host 1 about 8%; one document in twenty lives under ``/private`` (the
    robots prefix of a quarter of the hosts); 3% of rows are not pending.
    The seen set holds the canonical URL of about a third of the documents.

    Returns (frontier columns, seen canonical URLs).
    """
    rng = np.random.default_rng([seed, 1])
    n_docs = max(n_rows * 3 // 4, 1)
    u = rng.random(n_docs)
    host_ix = np.where(u < 0.10, 0, np.where(u < 0.18, 1, 2 + rng.integers(0, max(n_hosts - 2, 1), n_docs)))
    private = rng.random(n_docs) < 0.05
    seen_doc = rng.random(n_docs) < 1 / 3
    hosts = [_host(int(h)) for h in host_ix]
    paths = [f"/private/{d}" if p else f"/doc/{d}" for d, p in enumerate(private.tolist())]

    doc = rng.integers(0, n_docs, n_rows)
    variant = rng.integers(0, 6, n_rows)
    cols = {
        "url": [_dirty(hosts[d], paths[d], v) for d, v in zip(doc.tolist(), variant.tolist())],
        "host": [hosts[d] for d in doc.tolist()],
        "priority": (rng.integers(0, 10000, n_rows) / 10000.0).tolist(),
        "discovered_crawl_id": rng.integers(0, 3, n_rows).tolist(),
        "seed_rank": rng.integers(0, 20, n_rows).tolist(),
        "state": np.where(rng.random(n_rows) < 0.03, "fetched", "pending").tolist(),
    }
    seen = [f"https://{hosts[d]}{paths[d]}" for d in np.flatnonzero(seen_doc).tolist()]
    return cols, seen


def frontier_rows(cols: dict) -> list[dict]:
    return _rows(cols, FRONTIER_SCHEMA)


def discover_drop(seed: int, drop: int, doc_ids: list[str], drop_size: int) -> dict:
    """Frontier drop ``drop``: about ``drop_size`` corpus documents picked
    by a seeded draw (later drops repeat some already fetched URLs), each
    as a raw URL that canonicalizes back to its doc_id, with seeded
    priority and seed rank."""
    rng = np.random.default_rng([seed, 2, drop])
    picked = np.flatnonzero(rng.random(len(doc_ids)) < drop_size / len(doc_ids)).tolist()
    n = len(picked)
    variant = rng.integers(0, 5, n).tolist()
    urls, hosts = [], []
    for i, v in zip(picked, variant):
        host, path = doc_ids[i][len("https://"):].split("/", 1)
        urls.append(_dirty(host, "/" + path, v))
        hosts.append(host)
    return {
        "url": urls,
        "host": hosts,
        "priority": (rng.integers(0, 10000, n) / 10000.0).tolist(),
        "discovered_crawl_id": [drop] * n,
        "seed_rank": rng.integers(0, 20, n).tolist(),
        "state": ["pending"] * n,
    }


def hosts_dim(n_hosts: int) -> dict:
    """datagen's hosts dimension: per-host budgets 10-99 per round, a
    ``/private`` robots prefix on a quarter of the hosts, one host in twenty
    unavailable."""
    rows = datagen.hosts_py(n_hosts)
    return {n: [r[n] for r in rows] for n in HOSTS_SCHEMA.names}


def write_columns(cols: dict, schema: pa.Schema, path: str, n_files: int = 1) -> str:
    """Write ``cols`` as a parquet directory of ``n_files`` equal slices, so
    Spark scans it with ``n_files`` tasks."""
    table = pa.table({n: cols[n] for n in schema.names}, schema=schema)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def write_docs(docs: list[tuple[str, list[tuple]]], path: str, n_files: int = 1) -> str:
    spans = [
        [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in sp] for _, sp in docs
    ]
    return write_columns({"doc_id": [d for d, _ in docs], "spans": spans}, DOCS_SCHEMA, path, n_files)
