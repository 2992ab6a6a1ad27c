"""Blocked fuzzy matching (operators/entity.py)."""

from dataframe_retail_e_inventarios_spark.operators.entity import (
    blocked_levenshtein_pairs,
)


def _pairs(spark, rows, max_dist=1):
    df = spark.createDataFrame(rows, "id long, name string")
    out = blocked_levenshtein_pairs(df, "id", "name", max_dist=max_dist).collect()
    return {(r["id_a"], r["id_b"]): r["lev"] for r in out}


def test_matches_within_block_and_distance(spark):
    got = _pairs(
        spark,
        [
            (1, "small bolt"),
            (2, "small bolts"),   # lev 1 from #1 -> match
            (3, "small gear"),    # lev 4 from #1 -> no match
            (4, "large bolt"),    # other block, never compared
        ],
    )
    assert got == {(1, 2): 1}


def test_identical_names_match_at_distance_zero(spark):
    got = _pairs(spark, [(1, "red widget"), (2, "red widget")])
    assert got == {(1, 2): 0}


def test_blocking_skips_cross_block_typos(spark):
    # Documented recall caveat: a typo in the BLOCKING token hides the
    # pair (that's why production unions several blocking passes).
    got = _pairs(spark, [(1, "small bolt"), (2, "smal bolt")])
    assert got == {}


def test_max_block_drops_degenerate_blocks_only(spark):
    rows = [(i, f"common token{i}") for i in range(1, 11)]  # block of 10
    rows += [(100, "rare bolt"), (101, "rare bolts")]       # block of 2
    df = spark.createDataFrame(rows, "id long, name string")
    out = blocked_levenshtein_pairs(df, "id", "name", max_dist=1, max_block=5)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(100, 101)}  # the 10-wide block was capped away


def test_no_allpairs_join_in_plan(spark):
    df = spark.createDataFrame([(1, "a b")], "id long, name string")
    plan = (
        blocked_levenshtein_pairs(df, "id", "name", 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_entity_clusters_match_union_find(spark):
    """The iterative min-label fixpoint must equal a driver-side
    union-find over the same pairs (independent algorithm)."""
    from dataframe_retail_e_inventarios_spark.operators.entity import (
        blocked_levenshtein_pairs,
    )
    from dataframe_retail_e_inventarios_spark.plans.queries_scale import (
        q_entity_clusters_fuzzy,
    )
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table
    from conftest import SF_SMOKE

    out = {
        r.record_id: (r.entity_id, r.n_members)
        for r in q_entity_clusters_fuzzy(spark, SF_SMOKE).collect()
    }
    part = load_table(spark, SF_SMOKE, "part")
    pairs = [
        (r.id_a, r.id_b)
        for r in blocked_levenshtein_pairs(
            part, "p_partkey", "p_name", max_dist=1
        ).collect()
    ]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict = {}
    for n in parent:
        clusters.setdefault(find(n), []).append(n)
    manual = {
        n: (root, len(members))
        for root, members in clusters.items()
        for n in members
    }
    assert out == manual
    assert out  # non-trivial
    # canonical record is the min member by construction
    assert all(eid <= rid for rid, (eid, _) in out.items())


def test_entity_label_prop_round_count(spark):
    """Pin the fixpoint's iteration anatomy on the real fuzzy-pair
    graph (r6 verdict #6): near-dup name clusters are dense blobs, so
    the min-label fixpoint must converge in a handful of rounds. A
    future change that silently lengthens the propagation chain (and
    with it the entity_clusters_fuzzy wall, each round being one
    shuffle + probe) fails here, not in the bench."""
    from dataframe_retail_e_inventarios_spark.operators.entity import (
        blocked_levenshtein_pairs,
    )
    from dataframe_retail_e_inventarios_spark.operators.graph import (
        connected_components,
    )
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table
    from conftest import SF_SMOKE

    part = load_table(spark, SF_SMOKE, "part")
    pairs = blocked_levenshtein_pairs(part, "p_partkey", "p_name", max_dist=1)
    stats = {}
    connected_components(pairs, stats=stats)
    assert stats["converged"]
    assert stats["iterations"] <= 6, stats


def test_blocked_pairs_exact_vs_bruteforce_random_edits(spark):
    """The (block, length) candidate key must be LOSSLESS: against a
    brute-force Python double loop over every in-block pair, the
    operator returns exactly the same pair set — exercised on names
    with seeded substitutions, insertions and deletions at random
    positions. This is also the property any future segment-key
    refinement (see the r11 investigation note in entity.py) must
    keep."""
    import random

    rng = random.Random(1107)
    base = [
        "alpha widget rod extra",
        "alpha plate gear bolt",
        "alpha gizmo ring anvil",
    ]
    rows, next_id = [], 0
    for b in base:
        for _ in range(12):
            s = list(b)
            op = rng.choice(["none", "sub", "ins", "del"])
            # keep the FIRST TOKEN intact (blocking is out of scope here)
            p = rng.randint(len("alpha "), len(s) - 1)
            if op == "sub":
                s[p] = rng.choice("xyz")
            elif op == "ins":
                s.insert(p, rng.choice("xyz"))
            elif op == "del":
                del s[p]
            rows.append((next_id, "".join(s)))
            next_id += 1

    def lev(a, b):
        if abs(len(a) - len(b)) > 1:
            return 99
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (ia, ib)
        for i, (ia, na) in enumerate(rows)
        for ib, nb in rows[i + 1 :]
        if lev(na, nb) <= 1
    }
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["id_a"], r["id_b"])
        for r in blocked_levenshtein_pairs(df, "id", "name", max_dist=1).collect()
    }
    assert got == want
    assert len(want) > 10  # the fixture actually produces matches
