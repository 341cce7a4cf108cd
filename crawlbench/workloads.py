"""The benchmark's workloads.

Each workload is a closed loop with one client: run.py starts
round k+1 only after round k has returned and been checked. A workload
provides

- ``generate()``  — seeded inputs, written to parquet (not timed),
- ``setup_once()`` — one repetition of the set-up (load, state build, warm-up),
- ``finish_setup()`` — set-up done once after the repetitions,
- ``prepare(k)``  — round k's input, written before the round (not timed),
- ``round(k)``    — one timed round,
- ``after_round(k, info)`` — untimed output checks and the timed as-of read,
- ``probe(k)``    — traced runs only: the scheduler's stages run one by one
  on the round's input, each forced and timed,
- ``final_checks()`` — output checks against the pure-Python oracles,
- ``trace_targets()`` — engine callables wrapped during traced rounds.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs as I
import tracing as TR
from dataset_crawler_spark import datagen
from dataset_crawler_spark.operators import scheduler as SCH
from dataset_crawler_spark.operators import seen as SN
from dataset_crawler_spark.oracle.scheduler_oracle import schedule_round_py
from dataset_crawler_spark.sources.seen_table import BucketedSeenTable
from dataset_crawler_spark.sources.snapshots import SnapshotStore
from dataset_crawler_spark.streaming.rounds import CrawlEngine, simulated_fetcher

#: scheduled-row columns compared against the oracle
SCHED_COLS = [
    "url_c", "host", "seed_rank", "priority", "discovered_crawl_id",
    "crawl_delay_ms", "rank_in_host", "scheduled_offset_ms",
]


def checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, xor of per-row 64-bit hashes over every column) — forces
    every column of every row, unlike a bare count."""
    r = df.agg(F.count("*").alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("x")).first()
    return int(r["n"]), int(r["x"] or 0)


def probe_scheduler(
    tracer: TR.Tracer,
    frontier: DataFrame,
    hosts: DataFrame,
    bloom: DataFrame | None,
    params: SN.BloomParams | None,
    seen: DataFrame | None,
) -> None:
    """Run the scheduler's public stages one at a time, each cached and
    forced inside its own span, with rows in/out as span attributes. The
    staged plan is dedup-then-probe; ``schedule_round`` fuses the stages
    (and probes before the dedup), so the spans attribute cost, they do not
    add up to the fused round."""
    with tracer.span("probe"):
        n_in = frontier.where(F.col("state") == "pending").count()
        with tracer.span("scheduler.canonical_candidates") as s:
            cand = SCH.canonical_candidates(frontier).cache()
            n_cand = cand.count()
        s.attrs.update(rows_in=n_in, rows_out=n_cand)
        with tracer.span("scheduler.filter_unseen") as s:
            unseen = SCH.filter_unseen(cand, bloom, params, seen).cache()
            n_unseen = unseen.count()
        positives = 0
        if bloom is not None:
            positives = SN.bloom_probe_scalar(cand, "url_c", bloom, params).where(F.col("seen")).count()
        s.attrs.update(rows_in=n_cand, rows_out=n_unseen, bloom_positives=positives)
        with tracer.span("scheduler.robots_gate") as s:
            gated = SCH.robots_gate(unseen, hosts).cache()
            n_gated = gated.count()
        s.attrs.update(rows_in=n_unseen, rows_out=n_gated)
        with tracer.span("scheduler.politeness_topk") as s:
            top = SCH.politeness_topk(gated).cache()
            n_top = top.count()
        s.attrs.update(rows_in=n_gated, rows_out=n_top)
    for df in (cand, unseen, gated, top):
        df.unpersist()


class Workload:
    """Shared plumbing: paths, the Spark session, the tracer."""

    name = ""

    def __init__(self, spark: SparkSession, work: str, seed: int, tracer: TR.Tracer | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def trace_targets(self) -> list:
        return []

    def finish_setup(self) -> float:
        return 0.0

    def prepare(self, k: int) -> None:
        pass

    def probe(self, k: int) -> None:
        pass


class FrontierBulk(Workload):
    """Repeated ``schedule_round`` over one pre-materialized dirty frontier:
    canonicalize, bloom probe + exact confirm, robots gate, salted per-host
    top-k. No store is touched."""

    name = "frontier_bulk"
    N_ROWS = 80_000
    WARMUP_ROUNDS = 2
    N_HOSTS = 1_000
    #: one host in SAMPLE_MOD (by seeded hash), plus the two largest hosts,
    #: is checked row for row against the oracle
    SAMPLE_MOD = 25

    def generate(self) -> None:
        cols, seen = I.bulk_frontier(self.seed, self.N_ROWS, self.N_HOSTS)
        self.frontier_cols, self.seen_urls = cols, seen
        self.host_cols = I.hosts_dim(self.N_HOSTS)
        I.write_columns(cols, I.FRONTIER_SCHEMA, self.path("frontier.parquet"), self.n_shuffle)
        I.write_columns(
            {"url_c": seen}, I.pa.schema([("url_c", I.pa.string())]), self.path("seen.parquet"), self.n_shuffle
        )
        I.write_columns(self.host_cols, I.HOSTS_SCHEMA, self.path("hosts.parquet"))
        self.params = SN.BloomParams.for_capacity(len(seen) + 1, fp_rate=0.01, n_shards=8)
        self.setup_keys: list[tuple[int, int]] = []
        self.bloom = self.hosts = None

    def setup_once(self, k: int) -> float:
        """Input load, the bucketed exact seen table, the bloom filter, and
        one warm-up round whose full output is hashed and whose sampled
        hosts' rows are kept for the oracle check."""
        t0 = time.perf_counter()
        for df in (self.bloom, self.hosts):
            if df is not None:
                df.unpersist()
        self.frontier = self.spark.read.parquet(self.path("frontier.parquet"))
        self.hosts = self.spark.read.parquet(self.path("hosts.parquet")).cache()
        self.hosts.count()
        st = BucketedSeenTable(self.spark, f"seen_{k}", self.path(f"seen_bucketed_{k}"), self.n_shuffle)
        st.append(self.spark.read.parquet(self.path("seen.parquet")), 0)
        self.seen = st.read()
        self.bloom = SN.bloom_build(self.seen, "url_c", self.params).cache()
        self.bloom.count()
        sched = self._schedule().cache()
        self.setup_keys.append(checksum(sched))
        self.sample_rows = [
            r.asDict()
            for r in sched.where(F.col("host").isin(self.sample_hosts())).select(*SCHED_COLS).collect()
        ]
        sched.unpersist()
        return time.perf_counter() - t0

    def _schedule(self) -> DataFrame:
        return SCH.schedule_round(
            self.frontier, self.hosts, bloom_state=self.bloom,
            bloom_params=self.params, seen_urls=self.seen,
        )

    def finish_setup(self) -> float:
        """WARMUP_ROUNDS more rounds on the last repetition's state, each
        hashed like the set-up rounds. The JIT is still compiling through
        the first rounds after the repetitions (over ten runs the first
        measured round took a median 11% longer and 23% more CPU time than
        the last), and how fast it gets there depends on how busy the host
        is."""
        t0 = time.perf_counter()
        for _ in range(self.WARMUP_ROUNDS):
            self.setup_keys.append(checksum(self._schedule()))
        return time.perf_counter() - t0

    def round(self, k: int) -> dict:
        n, x = checksum(self._schedule())
        return {"scheduled": n, "checksum": x, "frontier_rows": self.N_ROWS}

    def after_round(self, k: int, info: dict) -> dict:
        """Every round schedules the very same rows as the set-up rounds."""
        return {"ok": (info["scheduled"], info["checksum"]) == self.setup_keys[0]}

    def probe(self, k: int) -> None:
        probe_scheduler(self.tracer, self.frontier, self.hosts, self.bloom, self.params, self.seen)

    def sample_hosts(self) -> list[str]:
        def pick(h: str) -> bool:
            return int(hashlib.md5(f"{self.seed}|{h}".encode()).hexdigest(), 16) % self.SAMPLE_MOD == 0

        return sorted(h for i, h in enumerate(self.host_cols["host"]) if i < 2 or pick(h))

    def final_checks(self) -> list[tuple[str, bool]]:
        """Every set-up round hashed the same schedule, and its rows for a
        host-hash sample of hosts equal the pure-Python oracle's exactly
        (top-k is per host, so a host sample is a closed sub-problem)."""
        sset = set(self.sample_hosts())
        rows = [r for r in I.frontier_rows(self.frontier_cols) if r["host"] in sset]
        host_rows = [dict(zip(self.host_cols, v)) for v in zip(*self.host_cols.values())]
        seen = {u for u in self.seen_urls if u.split("/", 3)[2] in sset}
        want = [{c: r[c] for c in SCHED_COLS} for r in schedule_round_py(rows, host_rows, seen)]
        got = sorted(self.sample_rows, key=lambda r: (r["seed_rank"], r["host"], r["rank_in_host"]))
        return [
            ("setup_rounds_agree", len(set(self.setup_keys)) == 1),
            ("oracle_schedule_sample", bool(got) and got == want),
        ]

    def summary(self, round_s: list[float], infos: list[dict]) -> dict:
        return {
            "frontier_rows": self.N_ROWS,
            "scheduled_rows": infos[0]["scheduled"],
            "sched_urls_per_s": self.N_ROWS / statistics.median(round_s),
        }


class DiscoverRounds(Workload):
    """Consecutive ``CrawlEngine.crawl_round(mode="discover")`` rounds with
    the bloom seen filter and outlink expansion, one fresh seeded frontier
    drop per round, each followed by a forced as-of read."""

    name = "discover_rounds"
    N_DOCS = 30_000
    N_HOSTS = 200
    DROP_ROWS = 2_000

    def generate(self) -> None:
        docs = datagen.documents_for_round_py(self.N_DOCS, 0, n_hosts=self.N_HOSTS)
        self.doc_ids = [d for d, _ in docs]
        I.write_docs(docs, self.path("corpus.parquet"), self.n_shuffle)
        I.write_columns(I.hosts_dim(self.N_HOSTS), I.HOSTS_SCHEMA, self.path("hosts.parquet"))
        self.params = SN.BloomParams.for_capacity(self.N_DOCS, fp_rate=0.01, n_shards=8)
        self.corpus = self.hosts = None
        self.fetched: set[str] = set()
        self.drop_rows: dict[int, int] = {}

    def prepare(self, k: int) -> None:
        """Write frontier drop k."""
        cols = I.discover_drop(self.seed, k, self.doc_ids, self.DROP_ROWS)
        I.write_columns(cols, I.FRONTIER_SCHEMA, self.path(f"drop_{k}.parquet"))
        self.drop_rows[k] = len(cols["url"])

    def drop(self, k: int) -> DataFrame:
        return self.spark.read.parquet(self.path(f"drop_{k}.parquet"))

    def setup_once(self, k: int) -> float:
        """Input load: the corpus the simulated fetcher serves, cached."""
        t0 = time.perf_counter()
        for df in (self.corpus, self.hosts):
            if df is not None:
                df.unpersist()
        self.corpus = self.spark.read.parquet(self.path("corpus.parquet")).cache()
        self.corpus.count()
        self.hosts = self.spark.read.parquet(self.path("hosts.parquet")).cache()
        self.hosts.count()
        return time.perf_counter() - t0

    def finish_setup(self) -> float:
        """A fresh store and round 0 as a checked warm-up. Round 0 takes the
        diff's empty-state fast path, so the first measured round is the
        first to run the general diff."""
        t0 = time.perf_counter()
        self.store_root = self.path("store")
        self.engine = CrawlEngine(self.spark, self.store_root)
        self.fetcher = simulated_fetcher(self.corpus)
        self.prepare(0)
        chk = self.after_round(0, self.round(0))
        self.warmup_ok = chk["ok"] and chk["asof_ok"]
        return time.perf_counter() - t0

    def round(self, k: int) -> dict:
        stats = self.engine.crawl_round(
            self.drop(k), self.hosts, self.fetcher, k,
            bloom_params=self.params, mode="discover", discover_links=True,
        )
        return dict(stats, frontier_rows=self.drop_rows[k])

    def after_round(self, k: int, info: dict) -> dict:
        """Fetched sets are disjoint across rounds, every fetched doc is
        added, and the as-of read sees exactly the docs fetched so far."""
        urls = {
            r["url_c"]
            for r in self.engine.store.read("fetched", as_of=k)
            .where(F.col("crawl_id") == k)
            .select("url_c")
            .collect()
        }
        ok = (
            info["failed"] == 0
            and info["added"] == info["fetched"] == len(urls)
            and not (urls & self.fetched)
        )
        self.fetched |= urls
        t0 = time.perf_counter()
        n_visible, _ = checksum(self.engine.visible_docs(as_of=k))
        asof = time.perf_counter() - t0
        return {"ok": ok, "asof_s": asof, "asof_ok": n_visible == len(self.fetched)}

    def probe(self, k: int) -> None:
        prev = k - 1
        probe_scheduler(
            self.tracer, self.drop(k), self.hosts, self.engine.bloom_as_of(prev),
            self.params, self.engine.seen_urls_as_of(prev),
        )

    def final_checks(self) -> list[tuple[str, bool]]:
        """The visible snapshot carries the corpus spans of exactly the
        fetched docs."""
        last = self.engine.store.last_round()
        got = checksum(self.engine.visible_docs(as_of=last).select("doc_id", "spans"))
        ids = self.spark.createDataFrame([(u,) for u in sorted(self.fetched)], "doc_id string")
        want = checksum(self.corpus.join(ids, "doc_id").select("doc_id", "spans"))
        return [("warmup_round", self.warmup_ok), ("visible_equals_corpus", got == want)]

    def trace_targets(self) -> list:
        def table_name(store, table, df, crawl_id):
            return f"snapshots.append.{table}"

        def after_append(span, _result, store, table, df, crawl_id):
            b, f = TR.dir_bytes_files(os.path.join(store.root, table, f"crawl_id={crawl_id}"))
            span.attrs.update(bytes=b, files=f)

        def after_run_round(span, stats, *args, **kwargs):
            span.attrs.update(stats)

        return [
            (SnapshotStore, "append", table_name, after_append),
            (SnapshotStore, "commit_round", lambda *a, **k: "snapshots.commit", None),
            (CrawlEngine, "run_round", lambda *a, **k: "diff.run_round", after_run_round),
            (CrawlEngine, "state_as_of", lambda *a, **k: "state.state_as_of", None),
        ]

    def summary(self, round_s: list[float], infos: list[dict]) -> dict:
        docs = len(self.fetched)
        store_bytes, _ = TR.dir_bytes_files(self.store_root)
        return {
            "docs_committed": docs,
            "crawl_docs_per_s": sum(i["fetched"] for i in infos) / sum(round_s),
            "store_bytes_per_doc": store_bytes / max(docs, 1),
            "history_rounds": len(self.engine.store.committed_rounds()),
            "sched_urls_per_s": statistics.median(i["frontier_rows"] for i in infos)
            / statistics.median(round_s),
        }


WORKLOADS = {w.name: w for w in (FrontierBulk, DiscoverRounds)}
