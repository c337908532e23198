"""Reusable deduplication operators (DataFrame in -> DataFrame out).

The generic forms of the registered dedup queries: callers bring any corpus
DataFrame with an id column and a text column. All stages are JVM-side
column expressions; the only Python is plan construction.

Scale design:
- shingling explodes rows but immediately collapses into per-doc aggregates
  keyed by the id — one shuffle;
- candidate generation joins on fixed-width keys (shingle string / band
  hash), never doc x doc;
- ``explode_outer`` everywhere an expensive array expression is exploded
  (plain explode's implicit size()>0 predicate gets pushed below exchanges
  and re-evaluates the expression; see the bench notes in queries/dedup.py).
"""

from __future__ import annotations

import logging
import threading
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from carrot_transform_spark.functions.rounding import fround
from carrot_transform_spark.session import broadcast_threshold

# _constraint_propagation_off is re-entrant across DRIVER THREADS: suite
# builders run from a thread pool (queries/__init__.register_suite) and the
# conf is session-wide, so a naive save/set/restore races — one thread's
# restore could re-enable propagation while another is mid checkpoint/union
# loop (the exact crash the guard prevents), and a thread that read 'false'
# as the old value would leave the conf disabled session-wide. Refcount per
# session id: only the FIRST entrant records the old value and flips the
# conf; only the LAST exiter restores it.
_CP_LOCK = threading.Lock()
_CP_STATE: dict[int, tuple[int, str]] = {}  # session id -> (refcount, old value)


@contextmanager
def _constraint_propagation_off(spark):
    """Scope-bounded workaround for a Catalyst crash in the iterative CC
    loops: localCheckpoint captures the origin plan's constraint set into
    the LogicalRDD, and when the INPUT edge list was itself a union those
    captured constraints reference union-child attributes that aren't in
    the checkpoint's output — any Union later built on top then dies in
    UnionBase.rewriteConstraints with "key not found: <attr>". With
    propagation off, checkpoints capture an empty constraint set and the
    loop's unions never compute constraints. The only cost inside the
    scope is losing InferFiltersFromConstraints on already-trivial
    equi-join plans; the conf is restored when the LAST concurrent scope
    exits and every returned frame is materialized (eager checkpoint)
    inside the scope, so downstream consumers re-optimize clean
    LogicalRDD-backed plans at full strength. Thread-safe: see _CP_STATE.
    """
    key = "spark.sql.constraintPropagation.enabled"
    sid = id(spark)
    with _CP_LOCK:
        count, old = _CP_STATE.get(sid, (0, "true"))
        if count == 0:
            old = spark.conf.get(key, "true")
            spark.conf.set(key, "false")
        _CP_STATE[sid] = (count + 1, old)
    try:
        yield
    finally:
        with _CP_LOCK:
            count, old = _CP_STATE[sid]
            if count == 1:
                del _CP_STATE[sid]
                spark.conf.set(key, old)
            else:
                _CP_STATE[sid] = (count - 1, old)


def h32(col: Column) -> Column:
    """Deterministic 32-bit hash (md5 prefix), reproducible in any engine."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


# universal-hash family for MinHash permutations: one md5 base hash per
# shingle, then k cheap (a*h + b) mod P derivations — 1 md5 instead of k
# per exploded row (the hot inner loop of signature computation). P fits
# 31 bits and a*h < 2^63, so the arithmetic is exact BIGINT in every engine.
MH_PRIME = 2_147_483_647  # 2^31 - 1


def minhash_salts(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k permutations; same table drives
    the Spark plan and any SQL oracle, so signatures match bit-for-bit."""
    return [
        (
            (((i + 1) * 2654435761 + 40503) % MH_PRIME) | 1,
            ((i + 1) * 2246822519 + 12345) % MH_PRIME,
        )
        for i in range(k)
    ]


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as strings."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
    )


def exploded_shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, persist: bool = False
) -> DataFrame:
    """(id, n_shingles, shingle) inverted index; one row per distinct shingle
    per doc. Repartitions before the (interpreted) HOF stage so small
    single-split corpora still parallelize."""
    spark = df.sparkSession
    d = df.repartition(spark.sparkContext.defaultParallelism, id_col)
    t = d.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= n)
    sh = t.select(
        "id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("toks", i + j) for j in range(n)]
                ),
            )
        ).alias("shingles"),
    )
    e = sh.select(
        "id", F.size("shingles").alias("n"), F.explode_outer("shingles").alias("s")
    ).filter(F.col("s").isNotNull())
    return e.persist() if persist else e


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(fingerprint, n_copies, canonical_id): md5-keyed exact-duplicate
    groups; keep canonical_id per group to drop the rest."""
    return (
        df.groupBy(F.md5(F.lower(F.trim(text_col))).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("canonical_id"))
    )


def minhash_signatures(index: DataFrame, k: int = 8) -> DataFrame:
    """(id, mh0..mh{k-1}) from an exploded shingle index: one md5 base hash
    per shingle + k universal-hash derivations, min-aggregated — one shuffle
    keyed on id, one md5 (not k) in the hot loop."""
    base = h32(F.col("s"))
    aggs = [
        F.min((F.lit(a) * base + F.lit(b)) % MH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_salts(k))
    ]
    return index.groupBy("id").agg(*aggs)


def lsh_bands(sig: DataFrame, k: int = 8, rows_per_band: int = 2) -> DataFrame:
    """(id, band, bkey): banded signature for bucket joins."""
    n_bands = k // rows_per_band
    cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
            ).alias("bkey"),
        )
        for b in range(n_bands)
    ]
    return sig.select("id", F.explode(F.array(*cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """(id_a, id_b) distinct pairs sharing any band bucket."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def prefer_shuffle_hash(index: DataFrame) -> bool:
    """Whether the second verify join should carry a SHUFFLE_HASH hint.

    The hint beats the planner only at corpus scale (it suppresses the
    broadcast the planner correctly picks when a side is sub-threshold —
    forcing it at sf0.1 cost ~0.7 s/run). Size the decision on the INDEX,
    whose stats are the ACTUAL cached bytes because every caller
    materializes the persisted index before planning the verify join: an
    index too big for any broadcast means the join is big x big and the
    shuffled-hash build of the bounded pairs⋈shingles side wins (r16 sf10
    A/B: 20.3 s vs 27.0 s SMJ). A negative threshold disables broadcast
    joins altogether, so every join is big x big: hint. Unknown stats keep
    the planner's choice, with a warning."""
    threshold = broadcast_threshold(index.sparkSession)
    if threshold < 0:
        return True
    try:
        size = int(index._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        logging.getLogger(__name__).warning(
            "prefer_shuffle_hash: plan-size stats unavailable; keeping the "
            "planner's join choice", exc_info=True,
        )
        return False
    return size > threshold


def jaccard_verify(
    pairs: DataFrame, index: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact Jaccard for candidate pairs via the shingle index; keeps pairs
    at or above threshold. (id_a, id_b, jaccard).

    Join hints (guide §3.1): `pairs` (bucket collisions only, a handful of
    bytes per pair) carries an explicit broadcast hint. The SECOND join's
    pairs⋈ea side carries a SHUFFLE_HASH hint: that side grows as
    |pairs| x shingles-per-doc — linear in corpus size — so a forced
    BROADCAST diverges at scale (r15 sf10 A/B: forced 13.0-32.2 s vs
    9.9-10.5 s; the 1.3M-row driver-built hash relation was the whole
    regression), but as a shuffled-hash BUILD side it is bounded per
    partition (|pairs⋈ea| / shuffle partitions) and skips the sort-merge
    sort of the far larger index side (26M rows at sf10). r16 sf10 A/B,
    interleaved 3 rounds, identical 25,593 pairs: SHUFFLE_HASH 20.3 s
    total vs planner-chosen SMJ 27.0 s. The hint is size-gated
    (prefer_shuffle_hash): below the broadcast threshold the planner's
    broadcast is strictly better and the hint would suppress it. Hinting
    the INDEX side instead OOMs the per-partition hash map (measured) —
    never build the index. (A semi-join pre-filter of the index was
    measured slower: it adds a barrier and shuffles while having the
    same asymptotic cost as the join itself.)"""
    ea = index.alias("ea")
    eb = index.alias("eb")
    hits_a = F.broadcast(pairs).join(ea, F.col("ea.id") == F.col("id_a"))
    left = hits_a.select(
        "id_a", "id_b", F.col("ea.s").alias("s_a"), F.col("ea.n").alias("na")
    )
    if prefer_shuffle_hash(index):
        left = left.hint("shuffle_hash")
    verified = (
        left.join(eb, (F.col("eb.id") == F.col("id_b")) & (F.col("eb.s") == F.col("s_a")))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.any_value(F.col("na")).alias("na"),
            F.any_value(F.col("eb.n")).alias("nb"),
        )
    )
    jac = F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
    return verified.filter(jac >= threshold).select(
        "id_a", "id_b", fround(jac).alias("jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.7,
    shingle_n: int = 3,
    persist_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: (id_a, id_b, jaccard).

    The shingle index is persisted (it feeds signature, candidate, and both
    verify branches); pass persist_registry to take ownership of the cache
    and unpersist it after materializing the result — same contract as
    connected_components / with_dense_ids."""
    index = exploded_shingle_index(df, id_col, text_col, n=shingle_n, persist=True)
    index.count()  # materialize before the multi-branch DAG races the cache
    if persist_registry is not None:
        persist_registry.append(index)
    sig = minhash_signatures(index, k=k)
    cand = lsh_candidate_pairs(lsh_bands(sig, k=k, rows_per_band=rows_per_band))
    return jaccard_verify(cand, index, threshold=threshold)


# ---------------------------------------------------------------------------
# Incremental MinHash index maintenance
#
# At 100 TB you do not re-dedup the corpus when a new batch of documents
# arrives — you keep a persisted LSH index (banded signatures + shingle
# inverted index, both plain parquet) and run each batch against it:
#   new-vs-index candidates  = batch bands  JOIN  stored bands   (equi-join)
#   new-vs-new   candidates  = batch bands self-join
# then exact-Jaccard-verify candidates only, and append the batch's rows to
# the index. The base corpus TEXT is never re-read; the only base-side data
# touched is the band rows sharing a bucket with the batch and the shingle
# rows of candidate ids. Cost per step is O(batch + collisions), not
# O(corpus).
# ---------------------------------------------------------------------------


def minhash_index_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    persist_registry: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(bands, shingle_index) — the two frames a persisted near-dup index
    consists of. bands: (id, band, bkey); shingle_index: (id, n, s).

    The shingle index is persisted (bands + the later verify both traverse
    it) ONLY when the caller hands over a persist_registry to own the
    unpersist — persisting with nobody responsible for release leaks
    executor memory for the session's lifetime."""
    persist = persist_registry is not None
    index = exploded_shingle_index(df, id_col, text_col, n=shingle_n, persist=persist)
    if persist:
        index.count()  # bands + future verify both traverse it
        persist_registry.append(index)
    bands = lsh_bands(minhash_signatures(index, k=k), k=k, rows_per_band=rows_per_band)
    return bands, index


# The persisted index is a UnitStore (operators/unitstore.py) of two
# datasets — `bands` (the marker) and `shingles` — so a crashed update is
# invisible and a replayed one (same unit name) overwrites its own dirs:
# the properties the streaming maintainer (streaming/dedup_index.py) keys on.


def minhash_index_store(spark, path: str):
    """The UnitStore backing a persisted MinHash index at `path`."""
    from carrot_transform_spark.operators.unitstore import UnitStore

    return UnitStore(spark, path, ("bands", "shingles"))


def minhash_index_units(spark, path: str) -> list[str]:
    """Committed unit names of the store at `path` (empty list = no store)."""
    return minhash_index_store(spark, path).units()


def save_minhash_index(bands: DataFrame, index: DataFrame, path: str, unit: str = "base") -> None:
    """Commit one unit (a base build or one batch) into the store at `path`."""
    minhash_index_store(bands.sparkSession, path).commit(
        unit, {"bands": bands, "shingles": index}
    )


def load_minhash_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Reopen a saved index: (bands, shingle_index) over all committed units."""
    store = minhash_index_store(spark, path)
    units = store.units()
    return store.load("bands", units), store.load("shingles", units)


def incremental_candidate_pairs(batch_bands: DataFrame, base_bands: DataFrame) -> DataFrame:
    """(id_a, id_b) candidates touching the new batch: batch-vs-index bucket
    collisions plus batch-vs-batch, canonicalized id_a < id_b. Equals the
    full corpus's candidate set restricted to pairs with >= 1 batch member,
    so incremental results match a from-scratch run exactly."""
    a = batch_bands.alias("a")
    b = base_bands.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
    )
    return cross.unionByName(lsh_candidate_pairs(batch_bands)).distinct()


def update_minhash_index(
    path: str,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.7,
    shingle_n: int = 3,
    unit: str | None = None,
) -> DataFrame:
    """One maintenance step of a persisted index at `path`: returns the
    verified near-dup pairs (id_a, id_b, jaccard) of the batch against
    index+batch, then commits the batch's band/shingle rows as a new unit.

    The pairs frame is eagerly localCheckpoint-ed BEFORE the commit so its
    lineage cannot re-list the store and double-count the batch. `unit`
    defaults to b<n> (n = committed unit count); pass a deterministic name
    (e.g. the streaming batch id) to make a replayed step idempotent."""
    spark = batch_df.sparkSession
    store = minhash_index_store(spark, path)
    units = store.units()
    if unit is None:
        unit = store.fresh_unit()
    # replay safety: a re-run with the same unit name must see the store as
    # it was BEFORE its first run, or the batch's own stored shingles would
    # double the verify's intersection counts and corrupt every jaccard
    units = [u for u in units if u != unit]
    if not units:
        raise FileNotFoundError(f"no committed index units under {path}")
    base_bands = store.load("bands", units)
    base_index = store.load("shingles", units)
    reg: list[DataFrame] = []
    b_bands, b_index = minhash_index_frames(
        batch_df, id_col, text_col, k=k, rows_per_band=rows_per_band,
        shingle_n=shingle_n, persist_registry=reg,
    )
    cand = incremental_candidate_pairs(b_bands, base_bands).localCheckpoint(eager=True)
    pairs = verify_incremental(cand, b_index, base_index, threshold=threshold)
    save_minhash_index(b_bands, b_index, path, unit=unit)
    for df in reg:
        df.unpersist()
    return pairs


def lookup_minhash_index(
    path: str,
    probe_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Read-only near-dup lookup: pairs of the probe docs against the
    stored index AND within the probe set, WITHOUT modifying the store —
    dedup-as-a-service for a candidate batch you may still reject (the
    usual shape: look up, drop the dups, then update with the survivors).
    Same cost profile as one maintenance step: O(probe + collisions)."""
    spark = probe_df.sparkSession
    base_bands, base_index = load_minhash_index(spark, path)
    reg: list[DataFrame] = []
    p_bands, p_index = minhash_index_frames(
        probe_df, id_col, text_col, k=k, rows_per_band=rows_per_band,
        shingle_n=shingle_n, persist_registry=reg,
    )
    cand = incremental_candidate_pairs(p_bands, base_bands).localCheckpoint(eager=True)
    pairs = verify_incremental(cand, p_index, base_index, threshold=threshold)
    for df in reg:
        df.unpersist()
    return pairs


def verify_incremental(
    cand: DataFrame, batch_index: DataFrame, base_index: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact-Jaccard-verify incremental candidates, fetching ONLY candidate
    docs' shingle rows from the stored index first. jaccard_verify reads its
    index twice (both pair sides); against the raw store that is two full
    O(corpus) scans per step — measured to erase the incremental advantage
    by ~1.6M docs. One broadcast-semi-join scan reduces the verify input to
    O(candidates); the batch's own shingles are already cached in memory.
    `cand` must be materialized (localCheckpoint) by the caller — it is
    traversed twice here. Returns an eagerly checkpointed pairs frame."""
    cand_ids = cand.select(F.col("id_a").alias("id")).unionByName(
        cand.select(F.col("id_b").alias("id"))
    ).distinct()
    base_cand_index = base_index.join(
        F.broadcast(cand_ids), "id", "semi"
    ).localCheckpoint(eager=True)
    return jaccard_verify(
        cand, base_cand_index.unionByName(batch_index), threshold=threshold
    ).localCheckpoint(eager=True)


def decontaminate(
    corpus_index: DataFrame, bench_index: DataFrame, min_hits: int = 2
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing >= min_hits
    distinct n-gram shingles with any benchmark document.
    (doc_id, n_hits, n_bench_docs).

    Both inputs are exploded shingle indexes (id, n, s) — see
    exploded_shingle_index. The collision join keys on the shingle string
    (equi-join, never corpus x benchmark); at 100 TB the benchmark index is
    the small side and broadcasts.
    """
    c = corpus_index.alias("c")
    b = bench_index.alias("b")
    return (
        c.join(b, F.col("c.s") == F.col("b.s"))
        .groupBy(F.col("c.id").alias("doc_id"))
        .agg(
            F.countDistinct(F.col("c.s")).alias("n_hits"),
            F.countDistinct(F.col("b.id")).alias("n_bench_docs"),
        )
        .filter(F.col("n_hits") >= min_hits)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    persist_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, component_id) for every node in a pairwise edge list; the
    component id is the minimum node id reachable — turning near-dup PAIRS
    into canonical dup GROUPS (keep min-id doc per component, drop the rest).

    Min-label propagation to a fixpoint: each round joins labels to the
    (persisted, undirected) edge list and takes the elementwise min; rounds
    = graph diameter, which for near-dup clusters is tiny. Driver work per
    round is one changed-row count. For adversarially long chain graphs at
    100 TB, use connected_components_star (same join primitives, O(log n)
    rounds regardless of diameter).

    Each round references the prior labels twice (the neighbor-min join and
    the changed-count compare), so lineage is cut per round with an eager
    localCheckpoint — .persist() alone leaves the LOGICAL plan growing
    exponentially, and past ~15 rounds merely rendering the plan string for
    the AQE listener OOMs the driver. Constraint propagation is disabled
    for the loop's scope (see _constraint_propagation_off).
    """
    with _constraint_propagation_off(pairs.sparkSession):
        e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        edges = (
            e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .persist()
        )
        labels = (
            edges.select("src").distinct().select(F.col("src").alias("id"), F.col("src").alias("comp"))
        ).localCheckpoint(eager=True)
        for _ in range(max_iter):
            nbr = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            new_labels = (
                labels.join(nbr, labels["id"] == nbr["src"], "left")
                .select(
                    labels["id"],
                    F.least(labels["comp"], F.coalesce(nbr["nbr_comp"], labels["comp"])).alias("comp"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        edges.unpersist()
    # the returned frame reads the final checkpointed labels; the registry
    # contract is kept for callers (unpersist on a checkpointed frame is a
    # no-op — the backing RDD is released by the ContextCleaner once the
    # frame is dropped)
    if persist_registry is not None:
        persist_registry.append(labels)
    return labels.select("id", F.col("comp").alias("component_id"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    persist_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, component_id) via alternating large-star / small-star rounds —
    the MapReduce-native CC formulation (Kiveris et al., "Connected
    Components in MapReduce and Beyond"). Same output contract as
    connected_components (component id = min node id), but round count is
    O(log n) on ANY graph shape, vs min-label propagation's O(diameter):
    an adversarial 10M-link chain converges in ~25 rounds here where the
    propagation loop would need 10M. Use this variant when the dup graph's
    diameter isn't known to be tiny.

    Each round is two groupBy+join passes over the current edge list:
    - large-star: every node links its LARGER neighbors to m = min of its
      neighborhood (incl. itself) — long chains fold toward their minimum;
    - small-star: edges directed large→small; every node links its
      (all-smaller) neighbors and itself to their minimum — stars flatten.
    The edge list monotonically contracts toward one star per component;
    fixpoint detected when the (count, bit_xor of edge hashes) signature
    stops changing (order/partitioning-independent, one tiny driver row per
    round). No stage ever materializes more than ~2|E| rows, and every join
    keys on a node id, so AQE's skew splitting covers hub nodes.

    Lineage note: each round references the prior edge list FOUR times (the
    undirected union feeds both sides of the large-star join), so an
    unpersisted loop grows the logical plan exponentially — every round
    therefore cuts lineage with an eager localCheckpoint (the idiomatic
    Spark pattern for iterative graph algorithms; on a real cluster point
    sparkContext.setCheckpointDir at durable storage and use checkpoint()
    if executor loss must be survivable mid-iteration).
    """
    with _constraint_propagation_off(pairs.sparkSession):
        e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).filter(
            F.col("u") != F.col("v")
        )
        edges = e.distinct().localCheckpoint(eager=True)
        prev_sig = None

        def _signature(df: DataFrame) -> tuple:
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).collect()[0]
            return (row["n"], row["h"])

        for _ in range(max_iter):
            # large-star over the undirected view
            und = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            lmins = und.groupBy("u").agg(F.min("v").alias("mv"))
            lmins = lmins.select("u", F.least("mv", "u").alias("m"))
            large = (
                und.join(lmins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
            # small-star over edges directed large -> small
            directed = large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            smins = directed.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                directed.join(smins, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .unionByName(smins.select("u", F.col("m").alias("v")))
                .distinct()
                .localCheckpoint(eager=True)
            )
            sig = _signature(small)
            edges = small
            if sig == prev_sig:
                break
            prev_sig = sig
        # fixpoint: edges form one star per component, pointing at the min id;
        # the final labels are materialized inside the scope so downstream
        # consumers see a clean LogicalRDD, not the union-over-checkpoints plan
        labels = (
            edges.groupBy("u").agg(F.min("v").alias("comp"))
            .select(F.col("u").alias("id"), "comp")
            .unionByName(
                edges.select(F.col("v").alias("id"), F.col("v").alias("comp")).distinct()
            )
            .groupBy("id")
            .agg(F.min("comp").alias("component_id"))
            .localCheckpoint(eager=True)
        )
    if persist_registry is not None:
        persist_registry.append(labels)
    return labels


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """(id, sim_hi, sim_lo): 64-bit SimHash as two 32-bit halves.

    Two halves, not one 64-bit value: bit 63 of a packed int64 flips the
    sign, and signed-shift/overflow semantics differ across engines — two
    non-negative 32-bit words have identical arithmetic everywhere (and the
    DuckDB oracle reproduces them exactly). Each half derives from an
    independently salted token hash, so the 64 bits are independent.
    """
    lo_bits = min(bits, 32)
    hi_bits = bits - lo_bits
    tok = df.select(
        F.col(id_col).alias("id"), F.explode_outer(tokens(F.col(text_col))).alias("t")
    ).filter(F.col("t").isNotNull() & (F.col("t") != ""))
    th = tok.select(
        "id",
        h32(F.col("t")).alias("hl"),
        h32(F.concat(F.col("t"), F.lit("#H"))).alias("hh"),
    )
    bit_rows = (
        th.select(
            "id", "hl", "hh",
            F.explode(F.sequence(F.lit(0), F.lit(lo_bits - 1))).alias("i"),
        )
        .groupBy("id", "i")
        .agg(
            F.sum(F.when(F.expr("(hl >> i) & 1") == 1, 1).otherwise(-1)).alias("wl"),
            F.sum(F.when(F.expr("(hh >> i) & 1") == 1, 1).otherwise(-1)).alias("wh"),
        )
    )
    hi_expr = (
        F.sum(
            F.when(
                (F.col("wh") > 0) & (F.col("i") < hi_bits),
                F.expr("shiftleft(1L, CAST(i AS INT))"),
            ).otherwise(0)
        )
        if hi_bits
        else F.lit(0)
    )
    out = bit_rows.groupBy("id").agg(
        hi_expr.cast("bigint").alias("sim_hi"),
        F.sum(F.when(F.col("wl") > 0, F.expr("shiftleft(1L, CAST(i AS INT))")).otherwise(0))
        .cast("bigint")
        .alias("sim_lo"),
    )
    # the signature width travels WITH the frame (column metadata) so
    # hamming_pairs can derive its blocking half instead of trusting a
    # caller-repeated bits argument to stay in sync
    return out.withColumn(
        "sim_hi", F.col("sim_hi").alias("sim_hi", metadata={"simhash_bits": bits})
    )


def _simhash_bits(sig: DataFrame, bits: int | None) -> int:
    """The signature width, from sim_hi's column metadata unless given."""
    if bits is not None:
        return bits
    meta = dict(sig.schema["sim_hi"].metadata or {})
    if "simhash_bits" not in meta:
        raise ValueError(
            "sig has no simhash_bits column metadata (lost through a "
            "transform that rebuilt sim_hi?); pass the signature width "
            "explicitly via bits="
        )
    return int(meta["simhash_bits"])


def _simhash_bucket(bits: int, prefix_bits: int):
    """Blocking-bucket expression for a (sim_hi, sim_lo) signature."""
    lo_bits = min(bits, 32)
    hi_bits = bits - lo_bits
    if hi_bits >= prefix_bits:
        return F.expr(f"sim_hi >> ({hi_bits} - {prefix_bits})")
    if prefix_bits > lo_bits:
        raise ValueError(f"prefix_bits={prefix_bits} exceeds the {lo_bits}-bit signature")
    return F.expr(f"sim_lo >> ({lo_bits} - {prefix_bits})")


def hamming_pairs(
    sig: DataFrame, max_distance: int = 8, prefix_bits: int = 16, bits: int | None = None
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked by a hash prefix
    so the pair space is bucket-local. (id_a, id_b, hamming).

    prefix_bits >= 16 keeps buckets small at corpus scale (a w-bit prefix
    yields 2^w buckets; 8 bits = 256 buckets turns into giant per-bucket
    self-joins at 100 TB). Multi-probe (rotating which half supplies the
    prefix) trades recall for one more pass if needed.

    bits: the signature width. Defaults to the width simhash_signatures
    recorded in sim_hi's column metadata, so a 32-bit signature frame can't
    silently block on its degenerate (constant-0) hi half — which would put
    the whole corpus in ONE bucket, an unblocked O(n^2) self-join. If the
    metadata was lost (a transform rebuilt the column) and bits is not
    given, this raises rather than guessing 64 — the wrong guess is exactly
    the O(n^2) failure the metadata exists to prevent."""
    if not 0 < prefix_bits <= 32:
        raise ValueError(f"prefix_bits must be in (0, 32], got {prefix_bits}")
    bits = _simhash_bits(sig, bits)
    withb = sig.withColumn("bucket", _simhash_bucket(bits, prefix_bits))
    a = withb.alias("a")
    b = withb.alias("b")
    ham = F.bit_count(F.expr("a.sim_hi ^ b.sim_hi")) + F.bit_count(
        F.expr("a.sim_lo ^ b.sim_lo")
    )
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


# ---------------------------------------------------------------------------
# Incremental SimHash index — the Hamming-distance sibling of the MinHash
# store: a persisted UnitStore of (id, sim_hi, sim_lo) signatures. Each new
# batch finds near-dups against the stored signatures (prefix-bucket
# equi-join, never all-pairs) plus within itself, then commits as one unit.
# Cost per step: O(batch + bucket collisions); the stored corpus text is
# never touched — signatures are 16 bytes/doc.
# ---------------------------------------------------------------------------


def simhash_index_store(spark, path: str):
    """The UnitStore backing a persisted SimHash index at `path`."""
    from carrot_transform_spark.operators.unitstore import UnitStore

    return UnitStore(spark, path, ("sigs",))


def incremental_hamming_pairs(
    batch_sig: DataFrame,
    base_sig: DataFrame,
    max_distance: int = 8,
    prefix_bits: int = 16,
    bits: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs touching the batch: batch-vs-store
    prefix-bucket collisions plus batch-vs-batch, canonical id_a < id_b.
    Equals the full corpus's hamming_pairs restricted to pairs with >= 1
    batch member (Hamming distance is symmetric, bucketing is per-row)."""
    bits = _simhash_bits(batch_sig, bits)
    bucket = _simhash_bucket(bits, prefix_bits)
    a = batch_sig.withColumn("bucket", bucket).alias("a")
    b = base_sig.withColumn("bucket", bucket).alias("b")
    ham = F.bit_count(F.expr("a.sim_hi ^ b.sim_hi")) + F.bit_count(
        F.expr("a.sim_lo ^ b.sim_lo")
    )
    cross = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") != F.col("b.id")))
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )
    within = hamming_pairs(
        batch_sig, max_distance=max_distance, prefix_bits=prefix_bits, bits=bits
    )
    return cross.unionByName(within).distinct()


def simhash_decide(
    batch_df: DataFrame,
    store,
    units: list[str],
    id_col: str,
    text_col: str,
    max_distance: int = 8,
    prefix_bits: int = 16,
    sim_bits: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """(batch signatures, verified pairs) against the given pre-unit store
    view — the shared core of the offline update and the streaming step,
    both eagerly checkpointed so caller-chosen write/commit ordering is
    safe."""
    spark = batch_df.sparkSession
    b_sig = simhash_signatures(batch_df, id_col, text_col, bits=sim_bits).localCheckpoint(
        eager=True
    )
    base_sig = (
        store.load("sigs", units) if units else spark.createDataFrame([], b_sig.schema)
    )
    pairs = incremental_hamming_pairs(
        b_sig, base_sig, max_distance=max_distance, prefix_bits=prefix_bits, bits=sim_bits
    ).localCheckpoint(eager=True)
    return b_sig, pairs


def update_simhash_index(
    path: str,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 8,
    prefix_bits: int = 16,
    sim_bits: int = 64,
    unit: str | None = None,
) -> DataFrame:
    """One maintenance step of a persisted SimHash index: returns the
    (id_a, id_b, hamming) pairs of the batch against store+batch, then
    commits the batch's signatures as a new unit. Same replay contract as
    update_minhash_index: a re-run with the same unit name sees the
    pre-unit store and overwrites its own unit idempotently."""
    store = simhash_index_store(batch_df.sparkSession, path)
    units = store.units()
    if unit is None:
        unit = store.fresh_unit()
    b_sig, pairs = simhash_decide(
        batch_df, store, [u for u in units if u != unit], id_col, text_col,
        max_distance=max_distance, prefix_bits=prefix_bits, sim_bits=sim_bits,
    )
    store.commit(unit, {"sigs": b_sig})
    return pairs
