"""Fuzzy entity matching with blocking [SURVEY §2.11 beyond-reference]:
the entity-resolution primitive (catalog dedup, vendor-name
reconciliation) — approximate string matching made tractable by
comparing only within blocks.

The scale shape is blocking-then-verify, the string cousin of
LSH-then-verify: a cheap deterministic key (here: the first token)
partitions the corpus; the quadratic edit-distance comparison runs
only inside blocks, turning O(n²) corpus-wide into Σ(block²). At
100 TB you'd run several complementary blocking passes (first token,
sorted-token prefix, name MinHash) and union the candidates — each
pass is this same operator with a different key expression.

All JVM-side: split_part for the key, levenshtein for the verify —
no Python in the pair loop.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def first_token_block(name: Column | str) -> Column:
    c = F.col(name) if isinstance(name, str) else name
    return F.split_part(c, F.lit(" "), F.lit(1))


def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int,
    max_block: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) whose names are within ``max_dist`` edits,
    compared only inside blocks that share the first name token.

    Recall caveat by construction: a typo in the blocking token itself
    sends the record to another block — that's why production entity
    resolution unions several blocking passes.

    Scale caveat — ``max_block``: if the blocking key has a FIXED
    vocabulary (first tokens drawn from ~100 adjectives), block sizes
    grow linearly with the corpus and Σ(block²) grows quadratically —
    the same skew bomb as hot shingles in MinHash. ``max_block`` drops
    blocks above the cap (a key shared by that many entities carries
    no discriminative signal; those records belong to a finer blocking
    pass instead), bounding the join at corpus-linear cost. Same
    broadcast left-anti shape as the dedup hot-shingle cap."""
    key = first_token_block(name_col)
    # Repartition ahead of the self-join: a single-file source scans as
    # one partition, and if AQE turns the blk join into a broadcast
    # hash join the stream side KEEPS that partitioning — the entire
    # Σ(block²) verify loop would run in one task. Hashing on
    # (blk, ln) also co-locates the finer join keys below for the
    # sort-merge case.
    par = df.sparkSession.sparkContext.defaultParallelism
    t = df.select(
        F.col(id_col).alias("eid"),
        F.col(name_col).alias("name"),
        key.alias("blk"),
        F.length(F.col(name_col)).alias("ln"),
    ).repartition(par, F.col("blk"), F.col("ln"))
    if max_block is not None:
        hot = (
            t.groupBy("blk")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_block)
            .select("blk")
        )
        t = t.join(F.broadcast(hot), "blk", "left_anti")
    # Two exact prunes in front of the edit-distance verify:
    # 1. |len(a) - len(b)| <= max_dist is a LOWER bound on Levenshtein
    #    (each edit changes length by at most 1). Since r10 the length
    #    gate is part of the EQUI-KEY, not a post-probe filter: the
    #    probe side explodes its length to ln ± max_dist (2d+1 tiny
    #    replicas) and the join key is (blk, length) — each in-block
    #    pair that differs by more than max_dist never even reaches the
    #    hash probe, and the shuffle key granularity becomes
    #    (block, length) instead of block, splitting the hot first-
    #    token blocks that made the verify a one-task tail (measured
    #    7.5 s -> ~1 s at sf0.1). Each qualifying pair still matches
    #    EXACTLY once (b.ln hits one value of a's exploded range);
    #    zero recall loss.
    # 2. The thresholded levenshtein (Spark >= 3.5) runs the banded
    #    O(len·max_dist) algorithm with early exit and returns -1 past
    #    the threshold; within it, it returns the true distance — the
    #    kept rows are bitwise identical to the unbounded form.
    # 3. r11 investigation (r10 verdict #6, 32x decade): a PassJoin-
    #    style d=1 pigeonhole segment key (one edit leaves the first m
    #    or last m chars intact when 2m <= min_len - 1) was prototyped
    #    here in three shapes — pair-dedup, union-of-two-joins, and a
    #    single 4-part-key join with a disjointness residual — to
    #    shrink buckets from "same (block, length)" to "same half-
    #    name". All three measured SLOWER at the 32x point (276 s /
    #    448 s / 479 s vs 274 s) because this corpus's cost is the
    #    OUTPUT, not the probes: part names repeat in ~300-member
    #    exact-duplicate groups, so candidate volume ~= output volume
    #    under ANY key, and the segment machinery only added exploded
    #    rows and join lanes. The decisive measurement: pair
    #    throughput is CONSTANT across scales on the plain key
    #    (3.12 M pairs / 8.5 s at sf0.1, 99.94 M / 273 s at 32x —
    #    365 k pairs/s both, cold-vs-cold ratio 32.1 = k). The plain
    #    (block, length) key is therefore kept; the pigeonhole
    #    losslessness property (the part a segment key must never
    #    break) stays pinned by the brute-force differential in
    #    tests/test_entity.py. If a future corpus hits the OTHER
    #    regime — fixed blocking vocabulary, buckets growing with the
    #    corpus, few true matches — the segment key is the published
    #    fix (PassJoin); resurrect it from this file's history and
    #    re-measure there.
    probe = t.withColumn(
        "lkey",
        F.explode(F.sequence(F.col("ln") - max_dist, F.col("ln") + max_dist)),
    )
    a, b = probe.alias("a"), t.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.lkey") == F.col("b.ln"))
        & (F.col("a.eid") < F.col("b.eid")),
    ).select(
        F.col("a.eid").alias("id_a"),
        F.col("b.eid").alias("id_b"),
        F.col("a.name").alias("name_a"),
        F.col("b.name").alias("name_b"),
    )
    return (
        pairs.withColumn(
            "lev",
            F.levenshtein(F.col("name_a"), F.col("name_b"), max_dist).cast("long"),
        )
        .filter((F.col("lev") >= 0) & (F.col("lev") <= max_dist))
        .select("id_a", "id_b", "name_a", "name_b", "lev")
    )
