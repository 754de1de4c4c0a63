"""Partitioned bloom-filter URL-seen set.

Replaces the reference's Redis resume/seen cache (warcio.py:120-134,172-174)
with engine-owned distributed state:

- URLs are hashed JVM-side (``xxhash64(url_norm)`` — no Python hash
  implementation anywhere; workers receive the hash as data),
- hash space is sharded by ``pmod(url_hash, n_shards)``; each shard is an
  independent bloom bitmap built/merged per-group via ``applyInPandas``
  (state size ∝ shards × bitmap, not ∝ rows seen),
- membership is a shard-cogrouped vectorized numpy bit test; each
  candidate is tested once,
- bloom "maybe-seen" survivors get an exact pass that SCANS the seen table
  (a semi join whose build side is the survivors) and never shuffles it;
  the hits it finds are anti-joined away. The bloom gives no-false-negative
  *pruning*, the exact pass removes the false positives (SURVEY.md §2.3).

Bit-layout invariant: bit indices are independent of the shard id. The
shard id fixes the low bits of a shard's hashes, so ``_indices`` runs every
hash through a splitmix64 finalizer before deriving its double-hash pair;
without it each index row of a shard falls into one residue class mod
``n_shards`` and the filter saturates. Shard rows carry ``bit_layout``;
tables without it were written with the old layout and are refused
(``require_layout``) — rebuild them from the exact key table.

Scale math (documented for the 10^10 target): 10^10 URLs at 1% FPR need
~9.6 bits/URL ≈ 12 GB of bitmap. With 4096 shards that is ~3 MB/shard —
each a single row, joinable/broadcastable; shard build groups see only
their own hash partition. In-sandbox defaults are scaled down (64 shards,
2^20 bits) but the code path is identical.
"""

from __future__ import annotations

import math
import weakref
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_FILTER_FIELDS = [
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("filter_bytes", T.BinaryType(), False),
    T.StructField("n_items", T.LongType(), False),
    T.StructField("capacity", T.LongType(), False),
    T.StructField("fpr", T.DoubleType(), False),
]
# Bloom shard rows record the bit layout they were built with (see
# ``_indices``). Layout 1, the pre-splitmix one, had no column.
BIT_LAYOUT = 2
SHARD_SCHEMA = T.StructType(
    _FILTER_FIELDS + [T.StructField("bit_layout", T.IntegerType(), False)]
)


def optimal_bits_per_item(fpr: float) -> float:
    return -math.log(fpr) / (math.log(2) ** 2)


def _k_hashes(fpr: float) -> int:
    return max(1, round(-math.log(fpr) / math.log(2)))


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: every output bit depends on every input bit."""
    z = h.astype(np.uint64)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _indices(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Double hashing h1 + i*h2 (Kirsch–Mitzenmacher): k index rows from one
    64-bit hash, vectorized over the batch.

    A shard holds only hashes with one value of ``hash mod n_shards``, so
    h1/h2 come from the *mixed* hash: taken from the raw hash, every index
    row of a shard would share one residue mod gcd(n_shards, m_bits)."""
    z = _mix64(hashes)
    h2 = (z >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((z[None, :] + i * h2[None, :]) % np.uint64(m_bits)).astype(np.int64)


def _current_layout(shards: DataFrame) -> bool:
    # a schema check — no Spark job
    return "bit_layout" in shards.columns


def require_layout(shards: DataFrame) -> DataFrame:
    """Refuse bloom shards built with another bit layout: testing them with
    ``_indices`` would report seen hashes as unseen."""
    if not _current_layout(shards):
        raise ValueError(
            "urlseen shards lack 'bit_layout': they were built with the pre-"
            f"splitmix bit layout (this code writes layout {BIT_LAYOUT}); "
            "rebuild them with build_shards from the exact key table"
        )
    return shards


def with_current_layout(
    shards: Optional[DataFrame], keys: DataFrame, n_shards: int, m_bits: int
) -> Optional[DataFrame]:
    """``shards`` if built with the current bit layout, else rebuilt from
    ``keys``, the exact (url_hash) table they summarize."""
    if shards is None or _current_layout(shards):
        return shards
    return build_shards(keys, n_shards, m_bits)


def _one_shard_row(shard_pdf: pd.DataFrame) -> None:
    # a duplicated shard row (e.g. a missed merge_shards) would silently
    # test against ONE of two filters → false "unseen" → bloom guarantee
    # violated downstream. Fail loudly instead.
    if len(shard_pdf) > 1:
        raise ValueError(f"duplicate urlseen shard rows: {shard_pdf['shard_id'].tolist()}")


def shard_of(col, n_shards: int):
    return F.pmod(col, F.lit(n_shards)).cast("int")


def build_shards(
    hashed: DataFrame, n_shards: int = 64, m_bits: int = 1 << 20, fpr: float = 0.01
) -> DataFrame:
    """(url_hash) rows -> one bloom row per shard. One shuffle on shard_id;
    group work is a vectorized numpy scatter."""
    k = _k_hashes(fpr)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits, dtype=bool)
        hashes = pdf["url_hash"].to_numpy()
        idx = _indices(hashes, m_bits, k)
        bits[idx.ravel()] = True
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "filter_bytes": [np.packbits(bits).tobytes()],
                "n_items": [len(pdf)],
                "capacity": [int(m_bits / optimal_bits_per_item(fpr))],
                "fpr": [fpr],
                "bit_layout": [BIT_LAYOUT],
            }
        )

    return (
        hashed.select("url_hash")
        .withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
        .groupBy("shard_id")
        .applyInPandas(build, SHARD_SCHEMA)
    )


def merge_shards(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-combine two shard sets (cross-round accumulation). Bitmaps of one
    shard_id must share m_bits (same config across rounds)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: np.ndarray | None = None
        n = 0
        for row in pdf.itertuples():
            cur = np.frombuffer(row.filter_bytes, dtype=np.uint8)
            acc = cur.copy() if acc is None else (acc | cur)
            n += int(row.n_items)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "filter_bytes": [acc.tobytes()],
                "n_items": [n],
                "capacity": [int(pdf["capacity"].iloc[0])],
                "fpr": [float(pdf["fpr"].iloc[0])],
                "bit_layout": [BIT_LAYOUT],
            }
        )

    rows = require_layout(a).unionByName(require_layout(b))
    return rows.groupBy("shard_id").applyInPandas(merge, SHARD_SCHEMA)


def extend_shards(
    shards: Optional[DataFrame],
    hashed: DataFrame,
    n_shards: int = 64,
    m_bits: int = 1 << 20,
    fpr: float = 0.01,
) -> DataFrame:
    """Fused ``merge_shards(shards, build_shards(hashed))`` in ONE shuffle +
    ONE pandas stage (bit-identical result — property-tested).

    The unfused chain is three Spark stages per maintained bloom table
    (hash shuffle → build groups → bitmap shuffle → merge groups), and the
    frontier maintains two such tables (seen + known) inside every round
    commit. Each extra stage is a fixed DAG-scheduling + python-worker
    round-trip per round — measured 28 s for the known-set chain at 16
    one-core executors vs 4.7 s at 4 (the per-stage latency grows with
    executor count while the work per stage is constant). Fusing halves the
    stage depth; at 10^10 scale the same fusion saves a full pass over the
    round's admitted-hash shuffle.

    ``shards=None`` ≡ ``build_shards(hashed)`` (first-round case). Mixed
    rows travel one union: bitmap rows carry ``filter_bytes`` (url_hash
    NULL), hash rows carry ``url_hash`` (filter_bytes NULL); the group
    kernel ORs the former and scatters the latter."""
    k = _k_hashes(fpr)

    hash_rows = (
        hashed.select("url_hash")
        .withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
        .select(
            "shard_id",
            F.col("url_hash").cast("long").alias("url_hash"),
            F.lit(None).cast("binary").alias("filter_bytes"),
            # 0-sentinels, NOT NULLs, for the long columns: a nullable long
            # reaches pandas as float64, and xxhash64 values exceed 2^53 —
            # a NULL-bearing url_hash column would round-trip through float
            # and scatter the WRONG bloom bits (silent false negatives).
            # Row kind is carried by filter_bytes nullity alone.
            F.lit(0).cast("long").alias("n_items"),
        )
    )
    rows = hash_rows
    if shards is not None:
        bitmap_rows = require_layout(shards).select(
            "shard_id",
            F.lit(0).cast("long").alias("url_hash"),
            "filter_bytes",
            F.col("n_items").cast("long").alias("n_items"),
        )
        rows = rows.unionByName(bitmap_rows)

    capacity = int(m_bits / optimal_bits_per_item(fpr))

    def extend(pdf: pd.DataFrame) -> pd.DataFrame:
        bits8 = np.zeros(m_bits // 8, dtype=np.uint8)
        n = 0
        is_bitmap = pdf["filter_bytes"].notna()
        for fb, ni in zip(pdf.loc[is_bitmap, "filter_bytes"], pdf.loc[is_bitmap, "n_items"]):
            bits8 |= np.frombuffer(fb, dtype=np.uint8)
            n += int(ni)
        hashes = pdf.loc[~is_bitmap, "url_hash"].to_numpy(dtype=np.int64)
        if len(hashes):
            bits = np.unpackbits(bits8)
            idx = _indices(hashes, m_bits, k)
            bits[idx.ravel()] = True
            bits8 = np.packbits(bits)
            n += len(hashes)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "filter_bytes": [bits8.tobytes()],
                "n_items": [n],
                "capacity": [capacity],
                "fpr": [fpr],
                "bit_layout": [BIT_LAYOUT],
            }
        )

    return rows.groupBy("shard_id").applyInPandas(extend, SHARD_SCHEMA)


def mark_maybe_seen(candidates: DataFrame, shards: DataFrame, n_shards: int) -> DataFrame:
    """Add ``maybe_seen`` to candidates via shard-cogrouped numpy bit test.

    Bloom guarantee: maybe_seen=False ⇒ definitely unseen.

    Layout matters: a *join* would replicate the per-shard bitmap (m_bits/8
    bytes, e.g. 128 KiB) onto EVERY candidate row — O(rows × bitmap) through
    the join and the Arrow boundary. Cogrouping on shard_id ships each bitmap
    exactly once per group: O(rows + shards × bitmap). The candidate shuffle
    on shard_id is the same shuffle a shard-local membership test needs at
    10^10 scale (n_shards = 4096 there, 64 in-sandbox; both ≥ cores)."""
    fpr = 0.01
    k = _k_hashes(fpr)
    cand = candidates.withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def test(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf.copy()
        if cand_pdf.empty:
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        _one_shard_row(shard_pdf)
        res = np.zeros(len(cand_pdf), dtype=bool)
        if not shard_pdf.empty and shard_pdf["filter_bytes"].iloc[0] is not None:
            bits = np.unpackbits(np.frombuffer(shard_pdf["filter_bytes"].iloc[0], dtype=np.uint8))
            idx = _indices(cand_pdf["url_hash"].to_numpy(), len(bits), k)
            res = bits[idx].all(axis=0)
        out["maybe_seen"] = res
        return out

    return (
        cand.groupBy("shard_id")
        .cogroup(require_layout(shards).select("shard_id", "filter_bytes").groupBy("shard_id"))
        .applyInPandas(lambda key, c, s: test(c, s), out_schema)
    )


# ------------------------------------------------------------------ cuckoo

CUCKOO_FP_BITS = 16
CUCKOO_SLOTS = 4  # slots per bucket
CUCKOO_SCHEMA = T.StructType(_FILTER_FIELDS)


def _cuckoo_parts(hashes: np.ndarray, n_buckets: int):
    """(fingerprint, bucket1, bucket2) per hash. fp != 0 (0 marks empty);
    i2 = i1 XOR hash(fp) — the standard partial-key cuckoo scheme, so either
    bucket is recoverable from the other + fp (deletion-capable)."""
    h = hashes.astype(np.uint64)
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    i1 = (h % np.uint64(n_buckets)).astype(np.int64)
    fph = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % np.uint64(n_buckets)
    i2 = (i1.astype(np.uint64) ^ fph) % np.uint64(n_buckets)
    return fp, i1, i2.astype(np.int64)


def build_cuckoo_shards(hashed: DataFrame, n_shards: int = 64, n_buckets: int = 1 << 14) -> DataFrame:
    """Cuckoo-filter variant of build_shards (north_rule: 'bloom/cuckoo').
    Same shard table schema; filter_bytes is a (n_buckets × 4) uint16 slot
    table. Supports deletion (recrawl eviction) unlike the bloom."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((n_buckets, CUCKOO_SLOTS), dtype=np.uint16)
        rng_state = 0x9E3779B9
        fp, i1, i2 = _cuckoo_parts(pdf["url_hash"].to_numpy(), n_buckets)
        n = 0
        for f, a, b in zip(fp, i1, i2):
            placed = False
            for idx in (a, b):
                row = table[idx]
                if f in row:  # already present
                    placed = True
                    break
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = f
                    placed = True
                    break
            cur, idx = f, a
            kicks = 0
            while not placed and kicks < 500:
                rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
                slot = rng_state % CUCKOO_SLOTS
                cur, table[idx][slot] = table[idx][slot], cur
                idx = int((np.uint64(idx) ^ ((np.uint64(cur) * np.uint64(0x5BD1E995)) % np.uint64(n_buckets))) % np.uint64(n_buckets))
                row = table[idx]
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = cur
                    placed = True
                kicks += 1
            n += 1  # overflow after 500 kicks: drop (caught by exact pass)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "filter_bytes": [table.tobytes()],
                "n_items": [n],
                "capacity": [n_buckets * CUCKOO_SLOTS],
                "fpr": [2.0 * CUCKOO_SLOTS / (1 << CUCKOO_FP_BITS)],
            }
        )

    return (
        hashed.select("url_hash")
        .withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
        .groupBy("shard_id")
        .applyInPandas(build, CUCKOO_SCHEMA)
    )


def cuckoo_contains(table_bytes: bytes, hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    table = np.frombuffer(table_bytes, dtype=np.uint16).reshape(n_buckets, CUCKOO_SLOTS)
    fp, i1, i2 = _cuckoo_parts(hashes, n_buckets)
    return ((table[i1] == fp[:, None]).any(axis=1)) | ((table[i2] == fp[:, None]).any(axis=1))


def cuckoo_delete_shards(shards: DataFrame, hashed: DataFrame, n_shards: int, n_buckets: int = 1 << 14) -> DataFrame:
    """Delete hashes from cuckoo shards (re-crawl eviction — the capability
    blooms lack). Cogrouped pandas: shard row × its deletions."""

    def delete(key, shard_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if shard_pdf.empty:
            return shard_pdf.iloc[0:0]
        row = shard_pdf.iloc[0]
        table = np.frombuffer(row.filter_bytes, dtype=np.uint16).reshape(n_buckets, CUCKOO_SLOTS).copy()
        removed = 0
        if not del_pdf.empty:
            fp, i1, i2 = _cuckoo_parts(del_pdf["url_hash"].to_numpy(), n_buckets)
            for f, a, b in zip(fp, i1, i2):
                for idx in (a, b):
                    slots = np.flatnonzero(table[idx] == f)
                    if len(slots):
                        table[idx][slots[0]] = 0
                        removed += 1
                        break
        return pd.DataFrame(
            {
                "shard_id": [int(row.shard_id)],
                "filter_bytes": [table.tobytes()],
                "n_items": [int(row.n_items) - removed],
                "capacity": [int(row.capacity)],
                "fpr": [float(row.fpr)],
            }
        )

    dels = hashed.select("url_hash").withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
    return (
        shards.groupBy("shard_id")
        .cogroup(dels.groupBy("shard_id"))
        .applyInPandas(delete, CUCKOO_SCHEMA)
    )


def mark_maybe_seen_cuckoo(candidates: DataFrame, shards: DataFrame, n_shards: int, n_buckets: int = 1 << 14) -> DataFrame:
    """Cuckoo twin of mark_maybe_seen (same shard-cogrouped layout — the slot
    table is as large as a bloom bitmap and must never be row-replicated)."""
    cand = candidates.withColumn("shard_id", shard_of(F.col("url_hash"), n_shards))
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def test(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf.copy()
        if cand_pdf.empty:
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        _one_shard_row(shard_pdf)
        res = np.zeros(len(cand_pdf), dtype=bool)
        if not shard_pdf.empty and shard_pdf["filter_bytes"].iloc[0] is not None:
            res = cuckoo_contains(
                shard_pdf["filter_bytes"].iloc[0], cand_pdf["url_hash"].to_numpy(), n_buckets
            )
        out["maybe_seen"] = res
        return out

    return (
        cand.groupBy("shard_id")
        .cogroup(shards.select("shard_id", "filter_bytes").groupBy("shard_id"))
        .applyInPandas(lambda key, c, s: test(c, s), out_schema)
    )


def filter_unseen(
    candidates: DataFrame, shards: DataFrame, seen: DataFrame, n_shards: int
) -> DataFrame:
    """Exact unseen set: the ``candidates`` rows whose url_hash is not in
    ``seen`` (SURVEY.md §2.3 URL-seen anti join), in three steps:

    1. the bloom test runs once per candidate hash; only the maybe-seen
       survivors' ``url_hash`` is kept, and persisted;
    2. ``hits = seen ⋉ survivors``, a semi join whose build side is the
       survivors: the seen table is scanned, never shuffled or deduplicated;
    3. ``candidates ▷ hits``. Exact because the bloom has no false
       negatives: every seen candidate is a survivor, so hits holds every
       seen candidate key. An anti join ignores duplicate keys.

    Both joins broadcast when the survivors' measured size fits Spark's
    ``spark.sql.autoBroadcastJoinThreshold`` (hits ⊆ survivors when seen
    keys are distinct, as the frontier's append-only tables are); otherwise
    both are sort-merge joins over the same persisted survivors. The
    survivors cache is released when the returned DataFrame is
    garbage-collected."""
    survivors = (
        mark_maybe_seen(candidates.select("url_hash"), shards, n_shards)
        .where(F.col("maybe_seen"))
        .select("url_hash")
        .persist()
    )
    # the threshold in bytes, as Spark's planner reads it (-1 disables)
    limit = candidates.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    # 8 bytes per row: the long key is the only column
    join = "broadcast" if 8 * survivors.count() <= limit else "shuffle_merge"
    hits = seen.select("url_hash").join(survivors.hint(join), "url_hash", "left_semi")
    out = candidates.join(hits.hint(join), "url_hash", "left_anti").select(candidates.columns)
    weakref.finalize(out, survivors.unpersist).atexit = False
    return out
