"""The benchmark's workloads: each builds its inputs from a seed, runs one
fixed-work op against them and checks the op's output.

Every op does identical work from identical state: a crawl op starts from a
fresh store (``init`` plus a fixed number of rounds), a seen-set op builds
its bloom shards from scratch. So the counters of one op repeat exactly in
the next, and throughput is fixed work over measured wall time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import functions as F

from frontier_engine import oracle, pipeline, synth, urlseen
from frontier_engine.frontier import FrontierEngine
from frontier_engine.icelite import IceLite

from frontierbench.trace import Spans

# Robots variants assigned per host name, the same for every seed so that
# a seed changes which pages a host has but not its rules: allow-all, a
# prefix block with a longer allow, a plain prefix block, and a crawl delay
# that lowers the effective budget (300 s round / 10 s delay = 30 per host).
ROBOTS_VARIANTS = (
    "User-agent: *\nDisallow:\n",
    "User-agent: *\nDisallow: /p/1\nAllow: /p/10\n",
    "User-agent: *\nDisallow: /p/9\n",
    "User-agent: *\nCrawl-delay: 10\nDisallow: /private/\n",
)
BODY_SAMPLE = 16  # fetched pages whose payload body is compared with the oracle
PROBE_PAGES = 200  # pages in the driver-side kernel probe
N_SHARDS = 64
BLOOM_BITS = 1 << 20


@dataclass
class OpResult:
    wall_s: float
    work: int
    docs: int = 0  # pages run through the extraction UDF
    start: float = 0.0  # epoch seconds, for the trace ledger
    end: float = 0.0
    counters: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


# ------------------------------------------------------------------ crawl


@dataclass(frozen=True)
class CrawlShape:
    n_pages: int
    n_hosts: int
    paras: int
    n_seeds: int
    budget: int
    rounds: int


class Crawl:
    """A crawl op: fresh store, ``FrontierEngine.init`` and ``rounds``
    calls of ``run_round``, all timed. Work is URLs scheduled + fetched,
    the definition of ``frontier_urls_per_sec`` in bench.py."""

    other_part = "frontier.other"  # ledger part of stages that run no UDF

    def __init__(self, spark, shape: CrawlShape, seed: int, work_dir: str, spans: Spans):
        self.spark = spark
        self.shape = shape
        self.seed = seed
        self.work_dir = work_dir
        self.spans = spans
        self.cached = []
        self.expected_digest = None
        self.expected_bodies = None  # url -> oracle body, from the first op
        self.n_ops = 0

    def prepare(self) -> None:
        """Generate pages, seeds and robots from the seed and cache them."""
        for df in self.cached:
            df.unpersist()
        s = self.shape
        pages = synth.generate_pages_spark(
            self.spark, s.n_pages, n_hosts=s.n_hosts, paras=s.paras, seed=self.seed
        )
        self.prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
        self.prepared.count()
        h = F.xxhash64("url", F.lit(self.seed))
        self.seeds = (
            self.prepared.select("url", h.alias("h"))
            .orderBy("h")
            .limit(s.n_seeds)
            .select("url", (F.pmod(F.col("h"), F.lit(100)) / 100.0).alias("priority"))
            .persist()
        )
        self.seeds.count()
        variants = F.array(*[F.lit(v) for v in ROBOTS_VARIANTS])
        pick = F.pmod(F.xxhash64("host"), F.lit(len(ROBOTS_VARIANTS))) + 1
        self.robots = (
            self.prepared.select("host").distinct()
            .select("host", F.element_at(variants, pick.cast("int")).alias("robots_txt"))
            .persist()
        )
        self.robots.count()
        self.cached = [self.prepared, self.seeds, self.robots]

    def op(self) -> OpResult:
        self.n_ops += 1
        store = os.path.join(self.work_dir, "store", f"op-{self.n_ops}")
        eng = FrontierEngine(
            self.spark, store, n_shards=N_SHARDS, bloom_bits=BLOOM_BITS, budget=self.shape.budget
        )
        for meth in ("commit", "write_table"):
            setattr(eng.store, meth, self.spans.wrap(f"icelite.{meth}", getattr(eng.store, meth)))
        init = self.spans.wrap("frontier.init", eng.init)
        run_round = self.spans.wrap("frontier.run_round", eng.run_round)
        t0 = time.perf_counter()
        start = time.time()
        init(self.seeds, self.robots)
        counters = [run_round(self.prepared) for _ in range(self.shape.rounds)]
        wall = time.perf_counter() - t0
        end = time.time()
        return OpResult(
            wall_s=wall,
            work=sum(c["scheduled"] + c["fetched"] for c in counters),
            docs=sum(c["fetched"] for c in counters),
            start=start,
            end=end,
            counters=counters,
            detail={"store": store},
        )

    def check(self, res: OpResult) -> list[str]:
        """Counter identities, the per-host budget, a schedule + counters
        digest equal across ops, and payload bodies equal to the oracle.
        Reads the op's store through IceLite; untimed."""
        errs = []
        budget = self.shape.budget
        for c in res.counters:
            r = c["round"]
            if c["pending_in"] != c["dup"] + c["skipped_robots"] + c["scheduled"] + c["skipped_budget"]:
                errs.append(f"round {r}: pending_in does not add up: {c}")
            if c["skipped_budget"] < 0 or c["scheduled"] != c["fetched"] + c["missing"]:
                errs.append(f"round {r}: skipped_budget < 0 or scheduled != fetched + missing: {c}")
            if c["scheduled"] == 0:
                errs.append(f"round {r}: nothing scheduled")
        store = IceLite(res.detail["store"])
        sched = store.read(self.spark, "schedule")
        log = store.read(self.spark, "frontier_log")
        per_host = (
            sched.groupBy("round", "host")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("host", "seq", "url_norm", "idx_id", "priority")).alias("x"),
            )
            .collect()
        )
        by_round: dict[int, int] = {}
        for row in per_host:
            by_round[row["round"]] = by_round.get(row["round"], 0) + row["n"]
            if row["n"] > budget:
                errs.append(f"round {row['round']}: host {row['host']} got {row['n']} > budget {budget}")
        statuses = {
            (row["round"], row["status"]): row["n"]
            for row in log.groupBy("round", "status").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for c in res.counters:
            r = c["round"]
            if by_round.get(r, 0) != c["scheduled"]:
                errs.append(f"round {r}: schedule table has {by_round.get(r, 0)} rows, counters {c['scheduled']}")
            for status in ("fetched", "missing", "dup", "skipped_robots"):
                if statuses.get((r, status), 0) != c[status]:
                    errs.append(f"round {r}: log has {statuses.get((r, status), 0)} {status}, counters {c[status]}")
        digest = _digest(
            [sorted((row["round"], row["host"], row["n"], row["x"]) for row in per_host), res.counters]
        )
        if self.expected_digest is None:
            self.expected_digest = digest
        elif digest != self.expected_digest:
            errs.append(f"schedule/counters digest {digest} != first op's {self.expected_digest}")
        errs += self._check_bodies(store)
        return errs

    def _check_bodies(self, store: IceLite) -> list[str]:
        payload = store.read(self.spark, "payload_docs")
        if self.expected_bodies is None:
            rows = (
                payload.select(F.col("warc_target_uri").alias("url"))
                .orderBy(F.xxhash64("url"), "url")
                .limit(BODY_SAMPLE)
                .join(self.prepared, "url")
                .select("url", F.unix_millis(F.col("warc_ts").cast("timestamp")).alias("ms"), "html")
                .collect()
            )
            self.expected_bodies = {}
            for row in rows:
                ts = datetime.fromtimestamp(row["ms"] / 1000, tz=timezone.utc)
                page = oracle.process_page(row["url"], ts, bytes(row["html"]))
                self.expected_bodies[row["url"]] = (page.payload or {}).get("body")
            if len(self.expected_bodies) != BODY_SAMPLE:
                return [f"payload sample has {len(self.expected_bodies)} pages, want {BODY_SAMPLE}"]
        got = {
            row["warc_target_uri"]: row["body"]
            for row in payload.where(F.col("warc_target_uri").isin(list(self.expected_bodies)))
            .select("warc_target_uri", "body")
            .collect()
        }
        return [
            f"payload body of {url} differs from oracle.process_page"
            for url, body in self.expected_bodies.items()
            if got.get(url) != body or body is None
        ]

    def cleanup(self, res: OpResult) -> None:
        """Record what the op's store holds on disk, then delete it."""
        files = [os.path.join(d, f) for d, _, fs in os.walk(res.detail["store"]) for f in fs
                 if f.endswith(".parquet")]
        res.detail["files_written"] = len(files)
        res.detail["bytes_written"] = sum(os.path.getsize(f) for f in files)
        shutil.rmtree(res.detail["store"], ignore_errors=True)

    def trace_extras(self) -> dict:
        """For the traced run's ledger: a fixed sample of this seed's pages
        and every host's robots.txt, the driver-side kernel probe's input."""
        rows = (
            self.prepared.orderBy(F.xxhash64("url"), "url")
            .limit(PROBE_PAGES)
            .select("url", F.unix_millis(F.col("warc_ts").cast("timestamp")).alias("ms"), "html")
            .collect()
        )
        pages = [(r["url"], r["ms"], bytes(r["html"])) for r in rows]
        return {"probe": (pages, {r["host"]: r["robots_txt"] for r in self.robots.collect()})}


# --------------------------------------------------------------- seen set


class SeenScale:
    """A seen-set op in the sharded-bloom regime: ``extend_shards`` builds
    the bloom shards from the seen hashes, ``filter_unseen`` resolves the
    candidates (bloom test plus exact anti join), and an aggregate over the
    unseen rows is the action. Work is candidates resolved."""

    other_part = "urlseen.other"  # ledger part of stages that run no UDF

    def __init__(self, spark, n_seen: int, n_cand: int, seed: int, spans: Spans):
        self.spark = spark
        self.n_seen = n_seen
        self.n_cand = n_cand
        self.seed = seed
        self.spans = spans
        self.cached = []

    def prepare(self) -> None:
        """Seen hashes of ids [0, n_seen); candidates alternate between a
        seen id (even index) and an id above n_seen (odd index), so exactly
        half are unseen and the ground truth is known per row."""
        for df in self.cached:
            df.unpersist()
        seed = F.lit(self.seed)
        self.seen = (
            self.spark.range(self.n_seen).select(F.xxhash64("id", seed).alias("url_hash")).persist()
        )
        self.seen.count()
        i = F.col("id")
        truth = (i % 2) == 0
        gid = F.when(truth, i * 2).otherwise(i + self.n_seen)
        self.cand = (
            self.spark.range(self.n_cand)
            .select(F.xxhash64(gid, seed).alias("url_hash"), truth.alias("truth_seen"))
            .persist()
        )
        row = self.cand.where(~F.col("truth_seen")).agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor("url_hash").alias("x")
        ).collect()[0]
        self.expected = (row["n"], row["x"])
        self.cached = [self.seen, self.cand]

    def op(self) -> OpResult:
        build = self.spans.wrap("urlseen.extend_shards", self._build)
        resolve = self.spans.wrap("urlseen.filter_unseen", self._resolve)
        t0 = time.perf_counter()
        start = time.time()
        shards = build()
        row = resolve(shards)
        wall = time.perf_counter() - t0
        end = time.time()
        return OpResult(
            wall_s=wall, work=self.n_cand, start=start, end=end,
            counters=[dict(row.asDict())], detail={"shards": shards},
        )

    def _build(self):
        shards = urlseen.extend_shards(None, self.seen, N_SHARDS, BLOOM_BITS).persist()
        shards.count()
        return shards

    def _resolve(self, shards):
        unseen = urlseen.filter_unseen(self.cand, shards, self.seen, N_SHARDS)
        return unseen.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("truth_seen").cast("long")).alias("seen_leaked"),
            F.bit_xor("url_hash").alias("x"),
        ).collect()[0]

    def check(self, res: OpResult) -> list[str]:
        """The unseen set equals the generator's ground truth: its size, no
        seen row in it, and the xor of its hashes. A seen candidate that
        escaped the bloom test would land in the unseen set, so
        ``seen_leaked == 0`` also proves no seen candidate escaped."""
        c = res.counters[0]
        if (c["n"], c["x"]) != self.expected or c["seen_leaked"]:
            return [f"unseen set {c} != ground truth n={self.expected[0]} x={self.expected[1]}"]
        return []

    def bloom_stats(self, shards) -> dict:
        """Bloom test outcomes against the ground truth, for the ledger."""
        marked = urlseen.mark_maybe_seen(self.cand, shards, N_SHARDS)
        n = {
            (r["truth_seen"], r["maybe_seen"]): r["n"]
            for r in marked.groupBy("truth_seen", "maybe_seen").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        unseen = n.get((False, False), 0) + n.get((False, True), 0)
        maybe = n.get((True, True), 0) + n.get((False, True), 0)
        return {
            "escaped": n.get((True, False), 0),
            "maybe_ratio": maybe / self.n_cand,
            "observed_fpr": n.get((False, True), 0) / unseen if unseen else 0.0,
        }

    def cleanup(self, res: OpResult) -> None:
        res.detail["shards"].unpersist()

    def trace_extras(self) -> dict:
        """For the traced run's ledger: bloom test outcomes on shards built
        as an op builds them. The workload runs none of the page kernels."""
        shards = self._build()
        try:
            return {"bloom": self.bloom_stats(shards)}
        finally:
            shards.unpersist()


# Sized so that one op runs for several seconds at local[4], and so that in
# the traced run extraction is the largest part of a crawl op.
CRAWL_HEAVY = CrawlShape(n_pages=6_000, n_hosts=150, paras=100, n_seeds=2_500, budget=200, rounds=1)
# The sharded-bloom regime, which run_round only enters above 1M seen URLs.
SEEN_SCALE = {"n_seen": 4_000_000, "n_cand": 2_000_000}


def make_workload(name: str, spark, seed: int, work_dir: str, spans: Spans):
    if name == "seen_scale":
        return SeenScale(spark, seed=seed, spans=spans, **SEEN_SCALE)
    return Crawl(spark, CRAWL_HEAVY, seed, work_dir, spans)
