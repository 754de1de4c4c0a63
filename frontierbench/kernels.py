"""Driver-side kernel probe: the per-row kernels the Spark stages wrap, run
single-threaded with no Spark, over a fixed sample of the workload's own
pages. It gives each kernel's cost per item, and the denominator of
``pipeline.kernel_share`` (how much of the extraction stage is kernel)."""

from __future__ import annotations

import statistics
import time
from datetime import datetime, timezone
from urllib.parse import urljoin

import pandas as pd

from frontier_engine import oracle
from frontier_engine.identity import index_uuid, webis_uuid
from frontier_engine.politeness import parse_robots, robots_allowed
from frontier_engine.urlnorm import canonicalize_series, host_series

MIN_PROBE_S = 0.3  # each kernel repeats over its sample for at least this long
MIN_REPEATS = 3
KERNEL_METRICS = (
    "extract.kernel_ms_per_doc",
    "urlnorm.canon_us_per_url",
    "identity.id_us_per_url",
    "politeness.robots_us_per_url",
)


def _per_item(fn, n_items: int) -> float:
    """Median seconds per item over repeated full passes of ``fn``."""
    times = []
    t_end = time.perf_counter() + MIN_PROBE_S
    while len(times) < MIN_REPEATS or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_items


def probe(pages: list[tuple[str, int, bytes]], robots_by_host: dict[str, str],
          id_prefix: str = "synth") -> dict[str, float]:
    """``pages`` rows are (url, warc_ts epoch millis, html). URL kernels run
    over the links those pages hold, resolved against the page URL: the
    input of the link-discovery stage."""
    rows = [(u, datetime.fromtimestamp(ms / 1000, tz=timezone.utc), h) for u, ms, h in pages]
    docs = [oracle.process_page(u, ts, h, id_prefix=id_prefix) for u, ts, h in rows]
    links = pd.Series([urljoin(u, link) for (u, _, _), d in zip(rows, docs) for link in d.links])
    norm = canonicalize_series(links)
    hosts = host_series(norm)
    paths = [u.split(host, 1)[1] or "/" for u, host in zip(norm, hosts)]
    robots = [robots_by_host.get(h) for h in hosts]

    def extract():
        for u, ts, h in rows:
            oracle.process_page(u, ts, h, id_prefix=id_prefix)

    def identify():
        for u in norm:
            src, off = oracle.derive_source(u)
            index_uuid(1000, off, src, webis_uuid(id_prefix, u))

    def gate():
        for txt, p in zip(robots, paths):
            robots_allowed(parse_robots(txt), p)

    return {
        "extract.kernel_ms_per_doc": _per_item(extract, len(rows)) * 1e3,
        "urlnorm.canon_us_per_url": _per_item(lambda: canonicalize_series(links), len(links)) * 1e6,
        "identity.id_us_per_url": _per_item(identify, len(norm)) * 1e6,
        "politeness.robots_us_per_url": _per_item(gate, len(norm)) * 1e6,
    }
