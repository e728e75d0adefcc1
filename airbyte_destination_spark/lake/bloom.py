"""Per-file bloom-filter indexes for point-lookup file skipping.

Zone maps (manifest kmin/kmax) prune files whose KEY RANGE misses the
probe — which is only selective when files are key-clustered (sorted
compaction, or naturally range-correlated epochs). A web-scale change
log is the opposite shape: every epoch's file spans essentially the
whole key space, so zone maps keep everything and a point lookup on an
un-compacted table opens O(epochs) files. The classic fix (Hudi's
bloom index; parquet's optional BLOOM_FILTER pages) is a per-file
bloom over the key column: no false negatives, so skipping is per-key
complete and safe under the MOR LWW fold; false positives only cost a
wasted file open (fpp-tunable).

Design:
- Sidecars, not manifests: blooms live in `_meta/bloom/bucket-<b>.json`
  shards mapping data-file path -> {n, m, k, bits(base64)}. Data files
  are IMMUTABLE (COW/MOR rewrites create new paths), so an entry never
  invalidates; compaction/rebucket create new paths that simply lack
  entries until the next build (fail-open). Probes load only the
  probed buckets' shards.
- Incremental build: `build(only_missing=True)` scans ONLY files that
  have no bloom yet — maintenance after each ingest batch touches just
  that batch's files (the same amortization as sorted compaction).
- The build is ONE distributed job, ids-only shuffle: project
  (xxhash64(key), input_file_name) from the needed files, group by
  file, fold each group's hashes into a bit array vectorized in numpy
  (Arrow-batched applyInPandas — key payloads never move).
- Probe hashes are Spark's xxhash64 (seed 42) of each probe key,
  computed on the driver by lake/hashing.py (pinned to the engine
  expression by tests/test_hashing.py). Bit positions derive
  from the one 64-bit hash via Kirsch-Mitzenmacher double hashing:
  pos_i = (h1 + i*h2) mod m with h2 forced odd — identical uint64
  arithmetic numpy-side (build) and int-side (probe).

Reference frame: Hudi BloomIndex metadata / Iceberg puffin blobs —
public designs; implementation is original.

Concurrency: shard writes are atomic (tmp+fsync+replace) but a shard
update is read-modify-write — run ONE bloom maintainer at a time (the
same single-maintenance-runner assumption as expire_snapshots). Two
concurrent builds can each win different shards; nothing corrupts, but
the loser's entries for a shared shard are dropped and the next
incremental build re-covers them. Probes are unaffected (fail-open).
"""

from __future__ import annotations

import base64
import json
import math
import os
from pathlib import Path

import numpy as np

BLOOM_DIR = "bloom"
_MAX_BITS = 1 << 23  # 1 MiB of bits per file, sanity cap


def _params(n: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k_hashes) for n keys at target false-positive rate."""
    n = max(n, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, min(m, _MAX_BITS))
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _positions_np(h: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(h), k) bit positions via double hashing, uint64 wraparound."""
    h = h.astype(np.uint64)
    h1 = h
    h2 = ((h >> np.uint64(33)) | np.uint64(1))  # odd -> full-period stride
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def _positions_py(h: int, m: int, k: int) -> list[int]:
    """Probe-side twin of _positions_np for one signed-long hash."""
    u = h & 0xFFFFFFFFFFFFFFFF
    h2 = ((u >> 33) | 1)
    return [((u + i * h2) % (1 << 64)) % m for i in range(k)]


def build_bloom_bits(hashes: np.ndarray, fpp: float) -> dict:
    """Fold one file's key hashes into a serialized bloom entry."""
    n = int(len(hashes))
    m, k = _params(n, fpp)
    bits = np.zeros(m, dtype=bool)
    if n:
        bits[_positions_np(hashes, m, k).ravel()] = True
    packed = np.packbits(bits)
    return {
        "n": n,
        "m": m,
        "k": k,
        "bits": base64.b64encode(packed.tobytes()).decode("ascii"),
    }


class BloomEntry:
    __slots__ = ("m", "k", "bits")

    def __init__(self, d: dict):
        self.m = int(d["m"])
        self.k = int(d["k"])
        self.bits = np.unpackbits(
            np.frombuffer(base64.b64decode(d["bits"]), dtype=np.uint8)
        )

    def may_contain(self, h: int) -> bool:
        return all(self.bits[p] for p in _positions_py(h, self.m, self.k))


def shard_path(root: str, bucket: int) -> Path:
    return Path(root) / "_meta" / BLOOM_DIR / f"bucket-{bucket:05d}.json"


def load_shard(root: str, bucket: int) -> dict[str, dict]:
    try:
        return json.loads(shard_path(root, bucket).read_text())
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def write_shard(root: str, bucket: int, entries: dict[str, dict]) -> None:
    p = shard_path(root, bucket)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".tmp")
    with open(tmp, "w") as f:
        json.dump(entries, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


# byte, short and int values hash as an int (lake/hashing.py's _INT
# kind), so a promotion among them keeps every entry's hashes
_INT_TYPES = frozenset({"tinyint", "smallint", "int"})


def same_hashes(ktype: str | None, key_type: str) -> bool:
    """Whether an entry built under key type `ktype` holds the hashes
    a probe of key type `key_type` computes (both simpleString names)."""
    def family(t):
        return "int" if t in _INT_TYPES else t

    return ktype is not None and family(ktype) == family(key_type)


def bloom_pred(
    raw: dict[str, dict],
    hashes_by_bucket: dict[int, list[int]],
    key_type: str | None = None,
):
    """file_pred for _read_buckets: keep a file iff it has no usable
    bloom (fail-open — new files since the last build, legacy tables,
    corrupt entries, or entries built under a DIFFERENT key type) or
    some probe key of its bucket may be present. No false negatives =>
    every file that CAN contain a probed key is kept (per-key
    complete).

    `key_type` guards schema evolution: an entry records the key
    column's type at build time (`ktype`); if the key has since
    WIDENED to long, xxhash64 of the same logical value differs
    between the old build and the new probe, so a stale entry would be
    a silent FALSE NEGATIVE — such entries are ignored instead. A
    promotion among byte, short and int keeps the hashes, so it keeps
    the entries (`same_hashes`).

    Entries decode lazily (base64 + unpackbits can be MBs per entry):
    only files that survive the earlier pruning layers and actually
    get probed pay the decode, once, via a per-pred cache."""
    decoded: dict[str, BloomEntry | None] = {}

    def pred(b: int, entry: dict) -> bool:
        path = entry["path"]
        d = raw.get(path)
        if d is None:
            return True
        if key_type is not None and not same_hashes(d.get("ktype"), key_type):
            return True  # built under other key hashes: fail open
        be = decoded.get(path, False)
        if be is False:
            try:
                be = BloomEntry(d)
            except (KeyError, ValueError):  # corrupt entry
                be = None
            decoded[path] = be
        if be is None:
            return True
        return any(be.may_contain(h) for h in hashes_by_bucket.get(b, ()))

    return pred
