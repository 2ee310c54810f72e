"""Digest selection for hash-heavy operators (decontam, minhash LSH,
streaming near-dup).

Two modes, one knob (``hash_fn``):

- ``"xxhash64"`` (DEFAULT — production): JVM-native 64-bit hash, several
  times cheaper per call than md5 and 8-byte join keys instead of
  32-char strings. At 100 TB the per-n-gram digest is the pipeline's
  largest CPU line item (r3 bench: decontam 5.3 s of the 8.1 s hygiene
  wall, all md5), so the cheap hash is the right default.
- ``"md5"`` (oracle mode): cross-engine portable — DuckDB recomputes the
  exact same digests, which is how the correctness gates verify these
  operators value-for-value. Every gate query passes ``hash_fn="md5"``
  explicitly.

Collision discipline: 64 bits is plenty for *probabilistic* operators
(minhash/LSH candidates, decontamination probes — a 1-in-2^64 false
bucket merge is noise next to the banding error) but NOT for exact
identity at 10^12-row scale (birthday bound ⇒ ~10^4 spurious merges).
Exact dedup therefore uses :func:`digest128` — two independently-salted
xxhash64s (128 bits, still ~2x cheaper than md5) — never a lone 64-bit
key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_FNS = ("xxhash64", "md5")


def digest(c: Column, hash_fn: str = "xxhash64") -> Column:
    """64-bit-class digest of a string column: LONG for xxhash64 (8-byte
    shuffle keys), hex STRING for md5 (oracle-portable)."""
    if hash_fn == "md5":
        return F.md5(c)
    if hash_fn == "xxhash64":
        return F.xxhash64(c)
    raise ValueError(f"hash_fn must be one of {HASH_FNS}, got {hash_fn!r}")


def digest128(c: Column, hash_fn: str = "xxhash64") -> Column:
    """Collision-safe (128-bit) identity key for EXACT dedup at corpus
    scale: md5 natively, or a struct of two independently-salted
    xxhash64s."""
    if hash_fn == "md5":
        return F.md5(c)
    if hash_fn == "xxhash64":
        return F.struct(
            F.xxhash64(c).alias("h1"),
            F.xxhash64(F.lit("tab2neo#2"), c).alias("h2"),
        )
    raise ValueError(f"hash_fn must be one of {HASH_FNS}, got {hash_fn!r}")


# -- hash-combine n-gram digests (shared by decontam / repeated-span ops) ----
#
# The combine form beats per-position string building 7-9x (docs/PLANS.md
# §17), but TWO Catalyst facts are load-bearing for every caller:
#   1. the word-hash array from :func:`word_hashes` MUST sit behind a
#      projection boundary (an extra ``select``) before :func:`ngram_digest`
#      references it — inlined, Catalyst re-evaluates the whole transform
#      once per element_at and the pass goes O(len·n) -> O(len²);
#   2. in single-expression contexts, bind the array through
#      ``transform(array(wh), a -> ...)`` instead (lambda variables are
#      evaluated once; repeated subexpressions are re-inlined).


def word_hashes(words: Column) -> Column:
    """Per-word xxhash64 array — compute ONCE per row, materialize behind
    a projection boundary, then combine n-grams from it."""
    return F.transform(words, lambda w: F.xxhash64(w))


def ngram_positions(arr: Column, n: int) -> Column:
    """1-based n-gram start positions; empty for short rows (guards the
    sequence(1, 0)-DESCENDS Spark footgun)."""
    return F.when(
        F.size(arr) >= n, F.sequence(F.lit(1), F.size(arr) - n + 1)
    ).otherwise(F.array().cast("array<int>"))


def ngram_digest(arr: Column, i: Column, n: int, bits: int = 64) -> Column:
    """Digest of the n-gram starting at 1-based position ``i`` of a
    word-hash array: xxhash64 over its n longs. ``bits=128`` returns a
    salted struct pair — REQUIRED whenever the digest drives a
    DESTRUCTIVE decision (cutting text, merging identities): a lone
    64-bit key spuriously collides ~1e4 times at 1e12 positions
    (birthday bound); reporting-only paths may keep 64."""
    parts = [F.element_at(arr, i + j) for j in range(n)]
    h1 = F.xxhash64(*parts)
    if bits == 64:
        return h1
    if bits == 128:
        return F.struct(
            h1.alias("h1"),
            F.xxhash64(F.lit("tab2neo#2"), *parts).alias("h2"),
        )
    raise ValueError(f"bits must be 64 or 128, got {bits}")


def md5_rank_key(id_col: str, salt: str) -> Column:
    """Deterministic uniform rank key ``md5(salt # id)`` — the engine's
    standard no-RNG sampling/ordering key (splits, caps, packing, PQ
    training). CONTRACT: Python ``hashlib.md5(f"{salt}#{id}".encode())
    .hexdigest()`` reproduces it byte-for-byte — several oracles rebuild
    samples that way, so the shape (separator, salt-first, string cast)
    must never drift per call site; that is why this is THE one
    definition."""
    return F.md5(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string")))
