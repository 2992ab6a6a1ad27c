"""Deduplication operators [SURVEY §2.11 N1-N2]: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale posture:
- Exact dedup is a hash group-by — one shuffle on the text hash, never
  on the text itself (group by md5, not by a multi-KB string).
- Jaccard/MinHash avoid the O(n^2) all-pairs join: candidates come
  from an inverted shingle (or LSH band) index — join on
  shingle/band key, which at 100 TB is the only tractable shape.
- All hashing derives from one md5 pass (32-bit prefix per shingle);
  MinHash permutations are universal-hash integer mixes over it, so
  DuckDB oracles reproduce the exact signatures (engine-portable; a
  prod deployment would swap in xxhash64 for speed, semantics
  unchanged).
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .textops import fingerprint, tokens, word_shingles

# Universal-hash family for MinHash permutations over 32-bit shingle
# hashes: perm_i(x) = (A[i] * (x % P) + B[i]) % P, P = 2^31 - 1 (prime).
# One md5 per shingle total (to get x); each of the k permutations is
# then two integer ops instead of its own string md5 — the difference
# between 1 and k full hash passes over the corpus text. Constants are
# md5-derived so the DuckDB oracle can inline the same literals.
MINHASH_P = 2_147_483_647


def _ab(i: int) -> tuple[int, int]:
    a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
    return a, b


MINHASH_AB = [_ab(i) for i in range(64)]

# Columns of the documents table every operator here reads.
TEXT_COL = "text"
ID_COL = "doc_id"
SIMHASH_BITS = 32  # width of a SimHash


def shingle_hash32(col: Column | str) -> Column:
    """First 8 md5 hex chars as a BIGINT in [0, 2^32) — the one
    text-hash pass everything downstream (signatures, band keys,
    verification) reuses. DuckDB twin:
    ``('0x' || substr(md5(s), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups keyed by normalized-text fingerprint:
    keep-first (min id) + duplicate count [N1]."""
    return (
        docs.withColumn("fp", fingerprint(TEXT_COL))
        .groupBy("fp")
        .agg(
            F.min(ID_COL).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def doc_shingle_sets(
    docs: DataFrame,
    hashed: bool = False,
) -> DataFrame:
    """(doc_id, shingles: array<string|long>) — one narrow pass, no
    shuffle.

    Tokenization is materialized in its own projection BEFORE the
    shingle transform: the shingle lambda references the token array
    ~3x per shingle, and Catalyst will not common-subexpression-
    eliminate an expensive regex split into a lambda — inlining it
    re-splits the text per element_at (measured 10x slowdown).

    ``hashed=True`` replaces each shingle string with its 32-bit md5
    prefix (``shingle_hash32``) right after shingle assembly. All
    downstream set operations (df cap, Jaccard intersection, MinHash
    mins) are hash-invariant, and every shuffle/exchange then carries
    8-byte longs instead of ~25-char strings — a ~3x row shrink on the
    band self-join at corpus scale.
    """
    toked = docs.select(F.col(ID_COL), tokens(TEXT_COL).alias("toks"))
    sh = word_shingles(F.col("toks"))
    if hashed:
        sh = F.transform(sh, shingle_hash32)
    return toked.select(F.col(ID_COL), sh.alias("shingles"))


def doc_shingles(
    docs: DataFrame,
    max_df: int | None = None,
    hashed: bool = False,
) -> DataFrame:
    """(doc_id, shingle) exploded inverted index — the codegen-friendly
    spine every MinHash/Jaccard operator builds on. Docs with < 3
    tokens (empty shingle set) simply contribute no rows, so no
    ``size(shingles) > 0`` filter exists anywhere: such a filter gets
    predicate-pushed below the projection, re-inlining the whole
    tokenize+shingle pipeline into an interpreted per-row Filter
    (measured 8 s of pure waste at sf0.1).

    ``max_df`` drops shingles whose document frequency exceeds the cap
    (standard MinHash practice: a stop-shingle shared by k docs carries
    no discriminative signal but costs k^2 in any pair join — the skew
    bomb at corpus scale). The cap is a broadcast LEFT ANTI join
    against the hot-shingle list, one corpus aggregation whose output
    is tiny (few shingles exceed any sane cap), so index rows stay flat
    and codegen'd end to end; at 100 TB you compute it once per corpus
    snapshot and reuse it across every dedup query.

    With ``max_df`` set, the uncapped index is read twice (hot-shingle
    aggregation and anti join), so it is localCheckpointed: (doc_id,
    long) rows, where the same cut on string shingles materialized 3x
    the bytes and lost. The capped index stays lazy: a second cut after
    the cap measured slower over the dedup queries than re-running the
    broadcast anti join per read (artifacts/checkpoint_ab.md). Without
    ``max_df`` nothing is checkpointed.
    """
    sh = doc_shingle_sets(docs, hashed=hashed)
    # explode_outer, NOT explode: InferFiltersFromGenerate turns a plain
    # explode into a pre-filter `size(<whole shingle expr>) > 0` that
    # re-evaluates the entire pipeline per row outside codegen
    # (measured ~30x slowdown). explode_outer infers nothing; the
    # null row an empty array produces is dropped with a cheap filter
    # on the generated column instead.
    idx = sh.select(ID_COL, F.explode_outer("shingles").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    if max_df is not None:
        idx = _cap_max_df(idx.localCheckpoint(eager=True), max_df)
    return idx


def _cap_max_df(idx: DataFrame, max_df: int) -> DataFrame:
    """Drop index rows whose shingle's document frequency exceeds
    ``max_df`` — the broadcast LEFT ANTI join against the (tiny)
    hot-shingle list (see doc_shingles)."""
    hot = (
        idx.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return idx.join(F.broadcast(hot), "shingle", "left_anti")


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    max_df: int | None = None,
    idx: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity [N2 exact
    baseline]. Candidates from the inverted shingle index (pairs must
    share >= 1 shingle), so cost is sum of per-shingle doc-list sizes
    squared — not n^2 over the corpus. ``max_df`` bounds exactly that
    per-shingle list size (see doc_shingles), which turns the worst
    case from corpus-quadratic into max_df-quadratic. The inverted
    index joins on the 32-bit shingle hash, not the string — identical
    pair counts (the hash is set-operation-invariant) with a ~3x
    narrower shuffle.

    ``idx``: a prebuilt hashed exploded index from
    ``doc_shingles(..., hashed=True)`` — queries that need BOTH
    exact-Jaccard truth and a MinHash index (lsh_band_recall_audit,
    minhash_estimator_error) pass one index to both operators;
    ``max_df`` then caps it here. Identical dataflow from the index
    on."""
    if idx is not None:
        ds = idx if max_df is None else _cap_max_df(idx, max_df)
    else:
        ds = doc_shingles(docs, max_df=max_df, hashed=True)
    sizes = ds.groupBy(ID_COL).agg(F.count("*").alias("n_sh"))
    a = ds.alias("a")
    b = ds.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}")))
        .groupBy(F.col(f"a.{ID_COL}").alias("id_a"), F.col(f"b.{ID_COL}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(ID_COL).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(ID_COL).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _mix_cols(k: int) -> list:
    """k universal-hash permutation columns over the exploded 32-bit
    shingle-hash column: (A[i] * (x % P) + B[i]) % P. Flat columns in
    one projection → whole-stage codegen compiles the arithmetic (an
    array_min(transform(...)) formulation puts the same math in
    INTERPRETED lambda land — measured 4x slower, consistent with
    expression-tree depth being the interpreter's cost driver)."""
    x = F.col("shingle") % MINHASH_P
    return [
        ((F.lit(a) * x + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_AB[:k])
    ]


def minhash_signatures(
    docs: DataFrame,
    k: int = 16,
    idx: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per doc [N2].

    Exploded-groupBy shape: one codegen'd Generate + projection
    computes every permutation, then min-aggregates with map-side
    partial reduction — the only shuffle carries (doc_id, k longs),
    nothing text-sized. Docs with no shingles have no index rows and
    therefore no signature row (no size() filter anywhere — see
    doc_shingles). ``idx``: a prebuilt uncapped hashed exploded index
    (see jaccard_pairs) to share the corpus pass with a sibling
    operator in the same query."""
    if idx is None:
        idx = doc_shingles(docs, hashed=True)
    mixed = idx.select(ID_COL, *_mix_cols(k))
    return mixed.groupBy(ID_COL).agg(
        *[F.min(f"m{i}").alias(f"h{i}") for i in range(k)]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    k: int = 16,
    bands: int = 4,
    max_df: int | None = None,
    idx: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification [N2].

    Signatures are split into ``bands`` bands of k/bands rows; docs
    sharing any full band become candidates (join on the band key —
    the LSH trick that replaces the all-pairs comparison); candidates
    are then verified with exact Jaccard >= threshold.

    Single-corpus-pass, all-codegen shape: the exploded hashed index
    feeds ONE groupBy that emits both the k signature mins and the
    per-doc shingle set (collect_list), so the band self-join delivers
    both sides' sets to the verifier directly — exact Jaccard is then
    size(array_intersect) on the candidate pairs only. The two sides of
    the self-join are the identical subtree, so Spark's ReuseExchange
    materializes the tokenize+signature work ONCE (the previous
    index-join verifier re-tokenized the corpus three more times; an
    explicit persist() was measured slower cold — exchange reuse is
    free). With ``max_df`` set, the hot-shingle aggregation is the only
    second corpus pass, and its output broadcast is tiny.
    """
    sig = minhash_index(docs, k, max_df, idx=idx)
    return minhash_lsh_pairs_from_index(sig, threshold, k, bands)


def minhash_index(
    docs: DataFrame,
    k: int = 16,
    max_df: int | None = None,
    idx: DataFrame | None = None,
) -> DataFrame:
    """The persistable MinHash dedup-index state: one row per doc with
    its hashed shingle set and k signature mins (id, shingles,
    h0..h{k-1}) — everything candidate generation AND exact-Jaccard
    verification need, no text aboard.

    This frame is what a 100 TB pipeline stores between crawl
    increments: signatures are pure per-doc functions, so maintaining
    the index under new arrivals appends O(delta) rows (embarrassingly
    parallel, no history rescans); ``minhash_lsh_pairs_from_index``
    with a delta filter then finds the new docs' duplicates against
    the whole index. (With ``max_df`` the hot-shingle cap table is
    global df counts — mergeable monoid state, maintained the same
    incremental way.)

    One groupBy delivers BOTH the signature mins (map-side partial
    reduction) and the shingle set for verification (collect_list of
    the already-distinct hashed shingles) — a single narrow shuffle
    of (doc_id, hash) rows replaces any per-doc array recomputation.
    ``idx``: a prebuilt uncapped hashed exploded index (see
    jaccard_pairs) to share the corpus pass with a sibling operator."""
    if idx is not None:
        idx = idx if max_df is None else _cap_max_df(idx, max_df)
    else:
        idx = doc_shingles(docs, max_df=max_df, hashed=True)
    return (
        idx.select(ID_COL, "shingle", *_mix_cols(k))
        .groupBy(ID_COL)
        .agg(
            F.collect_list("shingle").alias("shingles"),
            *[F.min(f"m{i}").alias(f"h{i}") for i in range(k)],
        )
    )


def minhash_lsh_pairs_from_index(
    sig: DataFrame,
    threshold: float,
    k: int = 16,
    bands: int = 4,
    delta_filter=None,
) -> DataFrame:
    """Banded candidate join + exact-Jaccard verify over a (possibly
    stored) signature index from ``minhash_index``.

    With ``delta_filter`` (a Column predicate on the index), only
    pairs whose LARGER-id member satisfies it are generated — the
    incremental-maintenance shape: the day's delta joins against the
    full index, history x history is never re-joined. Requires delta
    ids to sort after history ids (monotone ingest ids), so every
    delta-involving pair has its larger id in the delta."""
    if k % bands != 0:
        # Same loud rejection as the SQL twin (_band_exprs_sql): a
        # silent rows = k // bands truncation would drop the tail
        # signature rows and shrink the candidate set only on the
        # Spark side — divergent engines for the same geometry.
        raise ValueError(f"k={k} not divisible by bands={bands}")
    rows = k // bands
    band_cols = [
        F.concat_ws("|", F.lit(str(b)), *[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    # Bands materialize as named columns BEFORE the explode; with
    # explode_outer no Generate pre-filter is inferred, so the
    # signature transforms are never re-evaluated outside codegen (the
    # InferFiltersFromGenerate trap). The k raw h-columns (8-byte
    # longs) ride along for the first-match-band comparisons — far
    # narrower exchange rows than the concatenated band strings they
    # replace.
    banded = sig.select(ID_COL, "shingles", *[F.col(f"h{i}") for i in range(k)], *band_cols)
    melted = banded.select(
        ID_COL,
        "shingles",
        *[f"h{i}" for i in range(k)],
        F.posexplode_outer(F.array(*[f"band{b}" for b in range(bands)])).alias(
            "band_no", "band_key"
        ),
    ).filter(F.col("band_key").isNotNull())
    a = melted.alias("a")
    b_ = (melted if delta_filter is None else melted.filter(delta_filter)).alias("b")
    # Emit each pair from its FIRST matching band only (no earlier band
    # agrees): near-identical docs share every band, so without this a
    # duplicate-dense corpus inflates the join output x bands and needs
    # a dedup shuffle afterwards. Flat column comparisons, not array
    # slices (per-pair allocation). "Earlier band j differs" = any of
    # its ``rows`` signature longs differ. The merge hint pins the
    # scale-shape join: both sides are the identical subtree, so the
    # sort-merge exchange is built once and ReusedExchange serves the
    # other side — one tokenize+signature pass total (a broadcast
    # self-join would recompute the whole subtree per side).
    def band_differs(j: int):
        d = F.lit(False)
        for r in range(rows):
            d = d | (F.col(f"a.h{j * rows + r}") != F.col(f"b.h{j * rows + r}"))
        return d

    no_earlier_match = F.lit(False)
    for bno in range(bands):
        cond = F.col("a.band_no") == bno
        for j in range(bno):
            cond = cond & band_differs(j)
        no_earlier_match = no_earlier_match | cond
    cands = (
        a.hint("merge")
        .join(
            b_,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}"))
            & no_earlier_match,
        )
        .select(
            F.col(f"a.{ID_COL}").alias("id_a"),
            F.col(f"b.{ID_COL}").alias("id_b"),
            F.col("a.shingles").alias("sh_a"),
            F.col("b.shingles").alias("sh_b"),
        )
    )
    # Exact-Jaccard verification ONLY on the candidate pairs — this is
    # the entire point of LSH: the quadratic comparison runs on the
    # (tiny) candidate set, never the corpus.
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size("sh_a") + F.size("sh_b") - n_inter
    return (
        cands.withColumn("jaccard", n_inter / n_union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash over distinct tokens [N2]: per bit, sum +1/-1 votes from
    each token's md5; bit set iff the vote is positive. 32-bit variant
    (md5 hex chars 1..8), assembled as a BIGINT."""
    toks = (
        docs.select(F.col(ID_COL), F.array_distinct(tokens(TEXT_COL)).alias("dt"))
        .select(F.col(ID_COL), F.explode_outer("dt").alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    h = F.md5(F.col("tok"))
    # hex char -> value via position in the hex alphabet (portable).
    bit_exprs = []
    for bit in range(SIMHASH_BITS):
        ch = F.substring(h, 1 + bit // 4, 1)
        val = F.instr(F.lit("0123456789abcdef"), ch) - 1
        bit_on = F.shiftright(val, 3 - bit % 4).bitwiseAND(F.lit(1))
        bit_exprs.append(
            F.sum(F.when(bit_on == 1, 1).otherwise(-1)).alias(f"v{bit}")
        )
    votes = toks.groupBy(ID_COL).agg(*bit_exprs)
    acc = F.lit(0).cast("long")
    for bit in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"v{bit}") > 0, F.lit(2**bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(F.col(ID_COL), acc.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded [N2 scale
    path].

    The 32-bit hash is split into ``max_hamming + 1`` contiguous
    bit bands; candidates are docs sharing any band value (equi-join on
    (band_no, band_val) — never an all-pairs join). Recall is EXACTLY
    1.0 by pigeonhole: a pair at Hamming distance d <= max_hamming has
    d flipped bits, which can dirty at most d of the max_hamming + 1
    bands, so at least one band matches. Candidates are then verified
    with bit_count on the full hashes. This is the Hamming-ball lookup
    SimHash exists for; at corpus scale each band bucket holds
    n / 2^band_width docs, so the join cost is sum-of-bucket-sizes
    squared, not n^2.
    """
    nb = max_hamming + 1
    if nb > SIMHASH_BITS:
        raise ValueError("max_hamming + 1 bands need at least that many bits")
    sh = simhash(docs)
    base, rem = divmod(SIMHASH_BITS, nb)
    widths = [base + (1 if i < rem else 0) for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]
    band_cols = [
        F.shiftright("simhash", offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1)).alias(f"bv{i}")
        for i in range(nb)
    ]
    banded = sh.select("doc_id", "simhash", *band_cols)
    melted = banded.select(
        "doc_id",
        "simhash",
        *[f"bv{i}" for i in range(nb)],
        F.posexplode_outer(F.array(*[f"bv{i}" for i in range(nb)])).alias(
            "band_no", "band_val"
        ),
    ).filter(F.col("band_val").isNotNull())
    a, b = melted.alias("a"), melted.alias("b")
    # First-matching-band emission: docs at hamming 0 share EVERY band,
    # so emitting from all of them would inflate the join output x nb
    # on duplicate-dense corpora and require a dedup shuffle; requiring
    # "no earlier band agrees" makes each pair come out exactly once.
    # Expressed as flat long comparisons (an array slice/zip_with form
    # allocates per candidate pair — measured 2x slower on a 6M-pair
    # join). The merge hint keeps the self-join sort-merge so the
    # banded exchange is built once and reused (a broadcast side would
    # recompute the simhash aggregation).
    no_earlier_match = F.lit(False)
    for bno in range(nb):
        cond = F.col("a.band_no") == bno
        for j in range(bno):
            cond = cond & (F.col(f"a.bv{j}") != F.col(f"b.bv{j}"))
        no_earlier_match = no_earlier_match | cond
    return (
        a.hint("merge")
        .join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & no_earlier_match,
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )


def contamination_pairs(
    train: DataFrame,
    eval_docs: DataFrame,
    min_shared: int = 2,
) -> DataFrame:
    """Train/eval decontamination [N2 extension]: (train_id, eval_id,
    n_shared) for every train document sharing >= min_shared word
    n-grams with an eval-benchmark document — the standard membership
    check run before training so benchmark text is excluded from the
    corpus (the n-gram-overlap rule of GPT-3 appendix C / PaLM).

    Scale shape: the eval side is benchmark-sized (thousands of docs,
    not corpus-sized), so its exploded shingle index is BROADCAST and
    the 100 TB train corpus streams through one scan + one map-side
    joined aggregation keyed by (train_id, eval_id) — no corpus
    shuffle-by-shingle, no pair blowup beyond truly-overlapping pairs.
    Shingles are per-doc distinct, so count(*) counts shared distinct
    n-grams. min_shared >= 2 also absorbs 32-bit hash collisions
    (see shingle_hash32), which are cross-doc-uncorrelated.
    """
    ti = doc_shingles(train, hashed=True)
    ei = doc_shingles(eval_docs, hashed=True).withColumnRenamed(
        ID_COL, "eval_id"
    )
    return (
        ti.join(F.broadcast(ei), "shingle")
        .groupBy(F.col(ID_COL).alias("train_id"), "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def setsim_prefix_pairs(
    docs: DataFrame,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """Set-similarity join with PPJoin-style prefix filtering — the
    third candidate-pruning family beside MinHash-LSH banding and the
    df-capped inverted index, and the only LOSSLESS one: its output is
    bit-identical to the all-pairs Jaccard join (the registered oracle
    is exactly that), while joining only token PREFIXES.

    Prefix principle (Chaudhuri et al. 2006 / Xiao et al. PPJoin,
    public literature): under any fixed global token order, two sets
    with Jaccard >= t must share a token among each set's first
    m - ceil(t*m) + 1 tokens. Ordering tokens by ascending document
    frequency makes those prefixes the RAREST tokens, so the prefix
    inverted index both is a fraction of the full index and joins on
    its coldest keys — at t=0.5 the prefix is ~half of each set, and
    the quadratic candidate cost runs on rare-token lists instead of
    the whole posting table.

    Stages: one shingle pass (hashed, optional df cap) -> per-shingle
    df -> per-doc (df, shingle) rank window (bounded by doc shingle
    count, partition-parallel) -> prefix self-join with the PPJoin+
    LENGTH filter applied AT the join (Jaccard >= t forces
    min(m_a, m_b) >= t * max(m_a, m_b), so size-mismatched postings
    never leave the join) -> per-pair POSITIONAL filter (Xiao et al.
    PPJoin): tokens sorted by the global (df, shingle) order appear in
    the same relative order in both docs, so everything before the
    FIRST shared token is unshared and the total overlap is bounded by
    1 + min(m_a - p_a1, m_b - p_b1); pairs whose bound misses the
    required overlap ceil(t/(1+t) * (m_a+m_b)) are pruned before the
    verify join -> exact verify by fetching the two full sets and
    intersecting natively (array_intersect — candidate-bounded, never
    all-pairs). Every pruning bound is relaxed by 1e-9 before ceil/
    compare so float noise can only ADMIT extra candidates, never drop
    a true pair — losslessness stays proof-carried by the all-pairs
    oracle. Measured at sf0.1 (t=0.5, df-capped corpus): verify-join
    input 409 473 candidate pairs from the plain prefix join ->
    310 161 after the length filter -> 124 961 after the positional
    filter (3.3x fewer full-set fetches + intersections).
    """
    ds = doc_shingles(docs, max_df=max_df, hashed=True)
    dfreq = ds.groupBy("shingle").agg(F.count("*").alias("_df"))
    sizes = ds.groupBy(ID_COL).agg(F.count("*").alias("_m"))
    w = Window.partitionBy(ID_COL).orderBy("_df", "shingle")
    eps = 1e-9
    prefix = (
        ds.join(dfreq, "shingle")
        .withColumn("_r", F.row_number().over(w))
        .join(sizes, ID_COL)
        .filter(
            F.col("_r")
            <= F.col("_m")
            - F.ceil(F.lit(threshold) * F.col("_m") - eps)
            + 1
        )
        .select(ID_COL, "shingle", "_r", "_m")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    alpha = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("m_a") + F.col("m_b"))
        - eps
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}"))
            & (F.col("a._m") >= F.lit(threshold) * F.col("b._m") - eps)
            & (F.col("b._m") >= F.lit(threshold) * F.col("a._m") - eps),
        )
        .groupBy(
            F.col(f"a.{ID_COL}").alias("id_a"),
            F.col(f"b.{ID_COL}").alias("id_b"),
            F.col("a._m").alias("m_a"),
            F.col("b._m").alias("m_b"),
        )
        .agg(F.min("a._r").alias("pa1"), F.min("b._r").alias("pb1"))
        .filter(
            1 + F.least(F.col("m_a") - F.col("pa1"), F.col("m_b") - F.col("pb1"))
            >= alpha
        )
        .select("id_a", "id_b")
    )
    sets = ds.groupBy(ID_COL).agg(F.collect_list("shingle").alias("sh"))
    va = sets.select(F.col(ID_COL).alias("id_a"), F.col("sh").alias("sh_a"))
    vb = sets.select(F.col(ID_COL).alias("id_b"), F.col("sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def containment_pairs_directed(
    docs: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT c(A->B) = |A∩B| / |A|
    — the quote/excerpt/boilerplate-inclusion signal Jaccard misses (a
    short doc fully quoted inside a long one has tiny Jaccard but
    containment 1.0; Broder's original resemblance/containment pair,
    public literature). Pairs come from the same capped inverted
    shingle index as jaccard_pairs — one index join, both directions
    scored from the one intersection count, tiny sets (< 5
    shingles, where containment is noise) dropped at the size join."""
    ds = doc_shingles(docs, max_df=max_df, hashed=True)
    sizes = ds.groupBy(ID_COL).agg(F.count("*").alias("n_sh"))
    a, b = ds.alias("a"), ds.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}")),
        )
        .groupBy(F.col(f"a.{ID_COL}").alias("id_a"), F.col(f"b.{ID_COL}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(ID_COL).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(ID_COL).alias("id_b"), F.col("n_sh").alias("n_b"))
    c_ab = F.col("n_inter") / F.col("n_a")
    c_ba = F.col("n_inter") / F.col("n_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter((F.col("n_a") >= 5) & (F.col("n_b") >= 5))
        .filter((c_ab >= threshold) | (c_ba >= threshold))
        .select(
            "id_a",
            "id_b",
            F.round(c_ab, 4).alias("containment_ab"),
            F.round(c_ba, 4).alias("containment_ba"),
        )
    )
