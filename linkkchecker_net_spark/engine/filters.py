"""URL-seen membership filters: broadcast bloom + cuckoo.

North-rule components (BASELINE.json north_star): the seen set at 10^10
URLs is too large to broadcast exactly, so the anti-join is layered:

  1. a compact **bloom filter** over all seen url_hash values is broadcast
     to every executor; candidates that are bloom-NEGATIVE are *definitely
     new* and skip the anti-join shuffle entirely (the common case — most
     discovered URLs on a growing crawl are new);
  2. bloom-POSITIVE candidates (true dupes + ~1% false positives) go
     through the exact parquet anti-join;
  3. `CuckooFilter` holds the same membership with deletion support and
     ~2 bytes/key.  The crawl does not read it yet: resume rebuilds the
     seen set from the `seen_delta/` and `seen_full/` checkpoint tables.

The reference's analog is the lock-guarded Dictionary claim
(/root/reference/SpiderInterface/ScanResults.cs:12-45) — exact, in-memory,
single-node; these filters are its distributed, probabilistic+exact
layering.  All operations are vectorized numpy over int64 key arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_MIX = np.uint64(0x9E3779B97F4A7C15)
_U64 = np.uint64


def _as_u64(keys) -> np.ndarray:
    return np.asarray(keys, dtype=np.int64).view(np.uint64)


def _mix(h: np.ndarray) -> np.ndarray:
    # splitmix64 finalizer — decorrelates the two double-hashing streams
    with np.errstate(over="ignore"):
        h = (h ^ (h >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> _U64(27))) * _U64(0x94D049BB133111EB)
        return h ^ (h >> _U64(31))


class BloomFilter:
    """Bit-array bloom filter over int64 keys (double hashing, k probes)."""

    def __init__(self, capacity: int, fp_rate: float = 0.01):
        capacity = max(capacity, 64)
        m = int(-capacity * np.log(fp_rate) / (np.log(2) ** 2))
        self.m = max(256, 1 << int(np.ceil(np.log2(m))))  # power of 2
        self.k = max(1, int(round((self.m / capacity) * np.log(2))))
        self.bits = np.zeros(self.m // 64, dtype=np.uint64)

    def _idx(self, keys: np.ndarray, i: int) -> np.ndarray:
        # the base stream must be MIXED: raw url_hash low bits are exactly
        # what ShardedBloom partitions on, so un-mixed probe 0 would visit
        # only m/shards distinct positions inside a shard
        with np.errstate(over="ignore"):
            h = _mix(keys) + _U64(i) * _mix(keys + _U64(1))
        return (h & _U64(self.m - 1)).astype(np.int64)

    def add(self, keys) -> None:
        k64 = _as_u64(keys)
        for i in range(self.k):
            idx = self._idx(k64, i)
            np.bitwise_or.at(self.bits, idx >> 6, _U64(1) << (idx & 63).view(np.uint64))

    def contains(self, keys) -> np.ndarray:
        k64 = _as_u64(keys)
        out = np.ones(len(k64), dtype=bool)
        for i in range(self.k):
            idx = self._idx(k64, i)
            word = self.bits[idx >> 6]
            out &= (word >> (idx & 63).view(np.uint64)) & _U64(1) != 0
        return out

    # ---- serialization (broadcast) ----
    def to_bytes(self) -> bytes:
        header = np.array([self.m, self.k], dtype=np.int64).tobytes()
        return header + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        m, k = np.frombuffer(data[:16], dtype=np.int64)
        obj = cls.__new__(cls)
        obj.m, obj.k = int(m), int(k)
        obj.bits = np.frombuffer(data[16:], dtype=np.uint64).copy()
        return obj


class CuckooFilter:
    """4-way bucketed cuckoo filter, 16-bit fingerprints, int64 keys.

    ~2.2 bytes/key at 95% load; supports delete (bloom does not), which a
    long-lived crawl needs for recrawl/expiry policies.
    """

    MAX_KICKS = 500

    def __init__(self, capacity: int):
        n_buckets = max(8, 1 << int(np.ceil(np.log2(max(capacity, 8) / 4 / 0.95))))
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, 4), dtype=np.uint16)
        self.count = 0

    def _fp(self, k64: np.ndarray) -> np.ndarray:
        fp = (_mix(k64) & _U64(0xFFFF)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)  # 0 = empty slot

    def _i1(self, k64: np.ndarray) -> np.ndarray:
        return (k64 & _U64(self.n_buckets - 1)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        with np.errstate(over="ignore"):
            h = _mix(fp.astype(np.uint64))
        return (i1 ^ (h & _U64(self.n_buckets - 1)).astype(np.int64)).astype(np.int64)

    def add(self, keys) -> int:
        """Insert keys; returns number successfully inserted (a full filter
        rejects — callers size capacity with headroom).

        The common no-eviction path is fully vectorized: one greedy bulk
        claim into each key's primary bucket, a second into the alternate
        bucket for the spillover, and only the (rare, near-full-filter)
        remainder walks the per-key eviction loop.  At 10^8-10^9 keys per
        filter a per-key Python loop would be the bottleneck."""
        k64 = _as_u64(keys)
        fps = self._fp(k64)
        i1s = self._i1(k64)
        ins1 = self._bulk_claim(i1s, fps)
        inserted = int(ins1.sum())
        rem = np.flatnonzero(~ins1)
        if len(rem):
            i2s = self._i2(i1s[rem], fps[rem])
            ins2 = self._bulk_claim(i2s, fps[rem])
            inserted += int(ins2.sum())
            rng = np.random.default_rng(42)  # deterministic eviction choices
            for j in rem[~ins2]:
                if self._insert_one(int(fps[j]), int(i1s[j]), rng):
                    inserted += 1
        return inserted

    def _bulk_claim(self, idxs: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized greedy slot claim: for each (bucket, fp) pair, take
        the next empty slot of the bucket if one remains after earlier
        claimants of the same bucket.  Returns inserted mask (input order)."""
        if not len(idxs):
            return np.zeros(0, dtype=bool)
        order = np.argsort(idxs, kind="stable")
        sidx = idxs[order]
        sfps = fps[order]
        first = np.empty(len(sidx), dtype=bool)
        first[0] = True
        np.not_equal(sidx[1:], sidx[:-1], out=first[1:])
        grp_id = np.cumsum(first) - 1
        counts = np.bincount(grp_id)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        ranks = np.arange(len(sidx)) - starts[grp_id]
        emp = self.table[sidx] == 0
        cs = np.cumsum(emp, axis=1)
        slotmask = emp & (cs == (ranks + 1)[:, None])
        has = slotmask.any(axis=1)
        slot = slotmask.argmax(axis=1)
        self.table[sidx[has], slot[has]] = sfps[has]
        self.count += int(has.sum())
        ok = np.zeros(len(idxs), dtype=bool)
        ok[order] = has
        return ok

    def _insert_one(self, fp: int, i1: int, rng) -> bool:
        i2 = int(self._i2(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for idx in (i1, i2):
            row = self.table[idx]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                self.count += 1
                return True
        idx = i1 if rng.integers(2) else i2
        cur = fp
        for _ in range(self.MAX_KICKS):
            slot = int(rng.integers(4))
            cur, self.table[idx, slot] = int(self.table[idx, slot]), cur
            idx = int(
                self._i2(np.array([idx]), np.array([cur], dtype=np.uint16))[0]
            )
            row = self.table[idx]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur
                self.count += 1
                return True
        return False

    def contains(self, keys) -> np.ndarray:
        k64 = _as_u64(keys)
        fps = self._fp(k64)
        i1s = self._i1(k64)
        i2s = self._i2(i1s, fps)
        in1 = (self.table[i1s] == fps[:, None]).any(axis=1)
        in2 = (self.table[i2s] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete(self, keys) -> int:
        k64 = _as_u64(keys)
        fps = self._fp(k64)
        i1s = self._i1(k64)
        i2s = self._i2(i1s, fps)
        removed = 0
        for fp, i1, i2 in zip(fps, i1s, i2s):
            for idx in (int(i1), int(i2)):
                slots = np.where(self.table[idx] == fp)[0]
                if len(slots):
                    self.table[idx, slots[0]] = 0
                    self.count -= 1
                    removed += 1
                    break
        return removed

    def to_bytes(self) -> bytes:
        header = np.array([self.n_buckets, self.count], dtype=np.int64).tobytes()
        return header + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        n_buckets, count = np.frombuffer(data[:16], dtype=np.int64)
        obj = cls.__new__(cls)
        obj.n_buckets = int(n_buckets)
        obj.count = int(count)
        obj.table = (
            np.frombuffer(data[16:], dtype=np.uint16).reshape(obj.n_buckets, 4).copy()
        )
        return obj


class ShardedBloom:
    """P independent blooms, shard = pmod(url_hash, P).

    The point of sharding is the BUILD at 10^10 keys: one monolithic
    m-bit bloom (m ≈ 12 GB at 1e10 keys / 1% fp) forces every build task
    to ship a full-m partial to the driver (tasks × m bytes — driver OOM
    exactly in the regime the bloom exists for).  With shards aligned to a
    pmod repartition, each task ships only the m/P-bit shards it actually
    holds keys for — total driver traffic ≈ m once, regardless of task
    count.  Lookup cost is identical (same k probes, same fp rate)."""

    def __init__(self, capacity: int, fp_rate: float = 0.01, shards: int = 32):
        self.shards = [
            BloomFilter(max(capacity // shards, 64), fp_rate) for _ in range(shards)
        ]

    @staticmethod
    def shard_of(keys: np.ndarray, n_shards: int) -> np.ndarray:
        # Spark's pmod semantics over int64 url_hash
        return ((keys.astype(np.int64) % n_shards) + n_shards) % n_shards

    def add(self, keys) -> None:
        keys = np.asarray(keys, dtype=np.int64)
        s = self.shard_of(keys, len(self.shards))
        for p in np.unique(s):
            self.shards[int(p)].add(keys[s == p])

    def contains(self, keys) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        s = self.shard_of(keys, len(self.shards))
        out = np.zeros(len(keys), dtype=bool)
        for p in np.unique(s):
            mask = s == p
            out[mask] = self.shards[int(p)].contains(keys[mask])
        return out

    def to_bytes(self) -> bytes:
        parts = [np.array([len(self.shards)], dtype=np.int64).tobytes()]
        for bf in self.shards:
            blob = bf.to_bytes()
            parts.append(np.array([len(blob)], dtype=np.int64).tobytes())
            parts.append(blob)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "ShardedBloom":
        (n,) = np.frombuffer(data[:8], dtype=np.int64)
        obj = cls.__new__(cls)
        obj.shards = []
        pos = 8
        for _ in range(int(n)):
            (ln,) = np.frombuffer(data[pos : pos + 8], dtype=np.int64)
            pos += 8
            obj.shards.append(BloomFilter.from_bytes(data[pos : pos + int(ln)]))
            pos += int(ln)
        return obj


# worker-side cache: the broadcast blob is deserialized into numpy arrays
# once per (python worker, broadcast) instead of once per Arrow batch
_BLOOM_CACHE: dict = {}


def bloom_maybe_udf(bloom_bcast):
    """Column function: url_hash → bloom membership (True = maybe seen).

    `bloom_bcast` is a ``sc.broadcast`` of the serialized filter — only the
    broadcast HANDLE is pickled into the UDF (closure-capturing the blob
    itself would re-ship the whole filter with every task).  Deserialized
    once per worker via the module-level cache, vectorized contains."""
    from pyspark.sql import functions as F

    @F.pandas_udf("boolean")
    def maybe(h: pd.Series) -> pd.Series:
        # worker-side Broadcast objects carry the spill path of the value —
        # stable across tasks, so it keys the per-worker deserialize cache
        key = getattr(bloom_bcast, "_path", None) or id(bloom_bcast)
        bf = _BLOOM_CACHE.get(key)
        if bf is None:
            bf = ShardedBloom.from_bytes(bloom_bcast.value)
            _BLOOM_CACHE[key] = bf
        return pd.Series(bf.contains(h.to_numpy("int64")))

    return maybe


# --------------------------------------------------------------------------
# Spark-side builders
# --------------------------------------------------------------------------


def build_bloom(
    seen_df,
    capacity_hint: int | None = None,
    fp_rate: float = 0.01,
    shards: int = 32,
) -> bytes:
    """Build a broadcastable sharded bloom over seen url_hash values.

    Keys are range-repartitioned on pmod(url_hash, shards) so each task
    holds (approximately) one shard's keys and yields ONLY the m/shards-bit
    arrays it touched: total driver traffic ≈ m bytes once, independent of
    task count — the 10^10-key build path.  (The previous design had every
    task yield a full-m partial: tasks × m driver bytes, ~12 GB/task at
    1e10 keys.)  Tasks that do end up holding several shards (range
    boundaries are sampled) yield one row per shard; the driver ORs
    per-shard partials.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    n = capacity_hint or seen_df.count()
    n_shards = shards
    proto = BloomFilter(max(n // n_shards, 64), fp_rate)
    m, k = proto.m, proto.k

    def partial(batches):
        local: dict[int, BloomFilter] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf["url_hash"].to_numpy(dtype=np.int64)
            sh = ShardedBloom.shard_of(keys, n_shards)
            for p in np.unique(sh):
                bf = local.get(int(p))
                if bf is None:
                    bf = BloomFilter.__new__(BloomFilter)
                    bf.m, bf.k = m, k
                    bf.bits = np.zeros(m // 64, dtype=np.uint64)
                    local[int(p)] = bf
                bf.add(keys[sh == p])
        if local:  # empty partition -> yield nothing (pandas 2.x types
            # empty list-built columns float64, which Arrow can't cast
            # to binary)
            yield pd.DataFrame(
                {
                    "p": list(local.keys()),
                    "bits": [bf.bits.tobytes() for bf in local.values()],
                }
            )

    rows = (
        seen_df.select("url_hash")
        .withColumn("p", F.pmod(F.col("url_hash"), F.lit(n_shards)))
        .repartitionByRange(n_shards, "p")
        .drop("p")
        .mapInPandas(partial, "p int, bits binary")
        .collect()
    )
    out = ShardedBloom.__new__(ShardedBloom)
    out.shards = []
    for _ in range(n_shards):
        bf = BloomFilter.__new__(BloomFilter)
        bf.m, bf.k = m, k
        bf.bits = np.zeros(m // 64, dtype=np.uint64)
        out.shards.append(bf)
    for r in rows:
        out.shards[int(r["p"])].bits |= np.frombuffer(r["bits"], dtype=np.uint64)
    return out.to_bytes()


def bloom_advisor(
    urls: DataFrame, target_fp_ppm: int = 1000, round_dp: int = 6
) -> DataFrame:
    """Seen-filter sizing calculator for the frontier's bloom layer —
    the design arithmetic this engine's own layered anti-join
    (`engine/epoch.py` bloom pre-filter) is provisioned by, emitted as
    a one-row report so capacity review is a query, not a whiteboard:
    for n keys and a target false-positive rate p, the optimal bloom
    uses m/n = -ln(p)/ln(2)^2 bits per key and k = (m/n)·ln(2) hash
    functions (standard Bloom 1970 optimum).

    Output (one row): (n_urls, target_fp_ppm, bits_per_key, n_hashes
    — the integer round of the optimum, total_mib rounded).

    Scale: one count aggregate; arithmetic is driver-free, expressed
    over the 1-row aggregate so the operator stays a composable
    DataFrame.
    """
    import math

    from pyspark.sql import functions as F

    p = float(target_fp_ppm) / 1_000_000.0
    bits_per_key = -math.log(p) / (math.log(2.0) ** 2)
    k = round(bits_per_key * math.log(2.0))
    agg = urls.agg(F.count("*").alias("n_urls"))
    total_mib = F.round(
        F.col("n_urls") * F.lit(bits_per_key) / F.lit(8.0 * 1024 * 1024),
        round_dp,
    )
    return agg.select(
        F.col("n_urls").cast("long").alias("n_urls"),
        F.lit(int(target_fp_ppm)).cast("long").alias("target_fp_ppm"),
        F.lit(round(bits_per_key, round_dp)).alias("bits_per_key"),
        F.lit(int(k)).cast("int").alias("n_hashes"),
        total_mib.alias("total_mib"),
    )


def cuckoo_advisor(
    urls: DataFrame,
    target_fp_ppm: int = 1000,
    bucket_size: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """Sizing calculator for the frontier's cuckoo seen-filter layer —
    the companion of `bloom_advisor` for the OTHER filter this engine's
    north rule names (`CuckooFilter` above).  Fan et al. 2014 ("Cuckoo Filter:
    Practically Better Than Bloom", CoNEXT) arithmetic: with bucket size
    b and target false-positive rate p, the fingerprint needs
    f = ceil(log2(2b/p)) bits; at b=4 the achievable load factor is
    alpha ~= 0.95, so the amortized cost is f/alpha bits per key.  The
    table's bucket count must round UP to a power of two (partial-key
    displacement XORs the fingerprint hash into the index space), so the
    provisioned size carries pow2 slack the bits/key figure hides — both
    are emitted.  The Bloom optimum at the same p rides along with a
    winner verdict: the cuckoo wins once f/alpha < 1.44*log2(1/p),
    i.e. for any target below ~3% FP — which is why the seen-set's
    exact layer here is cuckoo (deletability matters too: frontier
    compaction can retract entries, a Bloom cannot).

    Output (one row): (n_urls, target_fp_ppm, bucket_size, fp_bits,
    bits_per_key, n_buckets, provisioned_mib, bloom_bits_per_key,
    winner).

    Scale: one count aggregate; all remaining arithmetic rides the
    1-row aggregate so the operator composes as a DataFrame (the
    `bloom_advisor` shape).
    """
    import math

    from pyspark.sql import functions as F

    p = float(target_fp_ppm) / 1_000_000.0
    alpha = 0.95
    f_bits = math.ceil(math.log2(2.0 * bucket_size / p))
    bits_per_key = round(f_bits / alpha, round_dp)
    bloom_bpk = round(-math.log(p) / (math.log(2.0) ** 2), round_dp)
    agg = urls.agg(F.count("*").alias("n_urls"))
    n_buckets = F.pow(
        F.lit(2.0),
        F.ceil(
            F.log2(
                F.greatest(F.col("n_urls"), F.lit(1))
                / F.lit(alpha * bucket_size)
            )
        ),
    ).cast("long")
    return agg.select(
        F.col("n_urls").cast("long").alias("n_urls"),
        F.lit(int(target_fp_ppm)).cast("long").alias("target_fp_ppm"),
        F.lit(int(bucket_size)).cast("int").alias("bucket_size"),
        F.lit(int(f_bits)).cast("int").alias("fp_bits"),
        F.lit(bits_per_key).alias("bits_per_key"),
        n_buckets.alias("n_buckets"),
        F.round(
            n_buckets
            * F.lit(float(bucket_size))
            * F.lit(float(f_bits))
            / F.lit(8.0 * 1024 * 1024),
            round_dp,
        ).alias("provisioned_mib"),
        F.lit(bloom_bpk).alias("bloom_bits_per_key"),
        F.lit(
            "cuckoo" if bits_per_key < bloom_bpk else "bloom"
        ).alias("winner"),
    )
