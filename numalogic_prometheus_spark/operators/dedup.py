"""Deduplication operators for large-scale text pipelines ([north-star],
BASELINE.json: LLM-data-pipeline dedup at 100 TB design scale).

Four families, all shuffle-aware:

- exact            — md5(text) group-by; one exchange on the hash.
- MinHash + LSH    — k seeded min-hashes per doc computed INSIDE a row
                     expression (no explode, no shuffle), banded into
                     buckets; only docs sharing a band bucket become
                     candidate pairs (the classic sub-quadratic path —
                     pairwise cost collapses from O(n²) to the collision
                     mass of the bands); candidates verified with exact
                     Jaccard via an exploded token join.
- SimHash          — 32-bit sign-vote signature, again a pure row
                     expression; near-dup = small Hamming distance.
- shingles         — w-token shingles feed the same MinHash machinery
                     (n-gram Jaccard).

Portable hashing (functions/hashing.py) keeps every stage reproducible in
the DuckDB oracle. The reference's own dedup is key/ts payload dedup
(CHANGELOG.md:189, :530) — covered by `dropDuplicates` in the streaming
layer; these operators extend dedup to content similarity.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.hashing import hash32, hash32_seeded


def truncate_lineage(
    df: DataFrame, reliable: bool | None = None, eager: bool = True
) -> DataFrame:
    """Cut lineage between BSP rounds / reused compact subplans.

    ``localCheckpoint`` is the right local default (no DFS round-trip),
    but it pins blocks to executor memory/disk with NO recompute path —
    an executor loss at cluster scale kills the job. For cluster
    deployments pass ``reliable=True`` (or set the session conf
    ``spark.numalogic.reliableCheckpoint=true`` and a
    ``sparkContext.setCheckpointDir``) to write reliable checkpoints to
    the DFS instead, making the lineage cut survivable.
    """
    if reliable is None:
        reliable = (
            str(
                df.sparkSession.conf.get(
                    "spark.numalogic.reliableCheckpoint", "false"
                )
            ).lower()
            == "true"
        )
    # eager=False defers materialization to the CALLER's next action
    # (e.g. the BSP loop's convergence count), folding the checkpoint
    # job into it — pass it only when an action immediately follows.
    return df.checkpoint(eager=eager) if reliable else df.localCheckpoint(eager=eager)


def tokens_col(text: Column) -> Column:
    """Whitespace tokens (fixture texts are single-space joined)."""
    return F.split(text, " ")


def minhash_signature(items: Column, k: int = 8) -> Column:
    """k seeded min-hashes over a set of strings, as one array column.

    Entirely inside the row — at 100 TB this is a map-only stage; the
    only shuffle in the whole LSH pipeline is the band-bucket exchange.
    """
    # NB: the hasher must be a ONE-arg lambda — F.transform interprets a
    # two-arg lambda (e.g. `lambda t, s=seed`) as (element, index) and
    # silently passes the array index as the second argument.
    def _hasher(seed: int):
        return lambda t: hash32_seeded(t, seed)

    distinct = F.array_distinct(items)
    return F.array(
        *[F.array_min(F.transform(distinct, _hasher(seed))) for seed in range(k)]
    )


def minhash_band_features(docs: DataFrame, k: int = 8, cut: bool = True) -> DataFrame:
    """(doc_id, text) → (doc_id, sig, toks): the shared featurization for
    the incremental-dedup family — the batch registry entry
    (plans/text.py dedup_incremental_batch) and the streaming sink
    (streaming/incremental_dedup.py) both call THIS, so the tokenizer,
    hash, and k can never drift apart between the two.

    Two-stage lineage cuts (``cut=True``, the batch default): stage 1
    pins the distinct-token arrays so minhash_signature's k seed branches
    read a bound column instead of re-running the split; stage 2 pins the
    compact (sig, toks) feature row. Streaming micro-batches pass
    ``cut=False`` and checkpoint once themselves."""
    tok_arrays = docs.select(
        "doc_id", F.array_distinct(tokens_col(F.col("text"))).alias("toks0")
    )
    if cut:
        tok_arrays = truncate_lineage(tok_arrays)
    feat = tok_arrays.select(
        "doc_id",
        minhash_signature(F.col("toks0"), k=k).alias("sig"),
        F.array_distinct(F.transform("toks0", hash32)).alias("toks"),
    )
    return truncate_lineage(feat) if cut else feat


def single_band_key(sig_col: Column, k: int = 8) -> Column:
    """The one-band LSH bucket key: all k signature entries joined — the
    blocking key of the incremental-dedup index."""
    return F.concat_ws("_", *[sig_col[i] for i in range(k)])


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, sig_col: str, bands: int = 4, rows: int = 2
) -> DataFrame:
    """Band the signature and emit candidate pairs (a < b) sharing any
    band bucket. Shuffles once on (band_idx, band_hash); the self-join
    inside a bucket is tiny unless docs genuinely collide."""
    banded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.col(sig_col)[b * rows + r].cast("string")
                            for r in range(rows)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_canonical_pairs(
    df: DataFrame, id_col: str, sig_col: str, bands: int = 1, rows: int = 8
) -> DataFrame:
    """Candidate pairs against each band-bucket's canonical (min id) member
    only — the keep-first dedup shape.

    An all-pairs self-join is quadratic in cluster size (a corpus with a
    1000-doc duplicate cluster emits ~500k pairs per bucket); pairing every
    doc with just the bucket canonical is linear and is exactly what a
    dedup pipeline needs (survivor + its duplicates)."""
    banded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.col(sig_col)[b * rows + r].cast("string")
                            for r in range(rows)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    canon = banded.groupBy("band_idx", "band_key").agg(F.min("id").alias("id_a"))
    return (
        banded.join(canon, ["band_idx", "band_key"])
        .filter(F.col("id") != F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )


def exact_jaccard(
    pairs: DataFrame, items: DataFrame, id_col: str, item_col: str
) -> DataFrame:
    """Exact Jaccard for candidate pairs via exploded item join.

    `items` is the exploded (id, item) distinct relation. Intersection
    counts come from one equi-join on item restricted to candidate pairs;
    set sizes join back on id. Only candidates pay this cost.

    No explicit broadcasts: `pairs` and `sizes` are both O(corpus) at
    scale (one row per candidate pair / per document), so a forced
    broadcast is a driver/executor OOM at 100× — the joins stay plain
    shuffle joins and AQE converts them to broadcast at runtime when the
    measured side is genuinely small (VERDICT.md round 1, "What's
    wrong" #4).
    """
    sizes = items.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    ia = items.select(F.col(id_col).alias("id_a"), F.col(item_col).alias("item"))
    ib = items.select(F.col(id_col).alias("id_b"), F.col(item_col).alias("item"))
    inter = (
        ia.join(pairs, "id_a")
        .join(ib, ["id_b", "item"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"),
                         F.col("set_size").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"),
                         F.col("set_size").alias("size_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# Polynomial shingle hashing (Rabin-Karp style): a w-token shingle's hash
# is an integer combination of the w token hashes — so after ONE md5 pass
# per token, shingling and MinHash are pure 64-bit arithmetic. Constants
# stay below 2^31 so products with 2^32-bit hashes fit in a signed 64-bit
# int on both engines (exact cross-engine parity, no float, no overflow).
SHINGLE_MOD = 2**32
SHINGLE_C = (1000003, 30011, 65599)
# The verified near-dup edge threshold — one definition shared by the
# batch dedup plans (plans/text.py, both Spark filters and oracle SQL),
# the cluster-keyed split (plans/sampling.py, via the shared edge CTE),
# and the streaming incremental sink (streaming/incremental_dedup.py):
# a threshold drift between any two of those silently changes what
# "duplicate" means mid-pipeline.
NEARDUP_JACCARD = 0.7
# (P, Q) affine constants per MinHash seed: h_s(x) = (x*P + Q) mod 2^32.
MINHASH_INT_SEEDS = (
    (2654435761 % 2**31, 374761393),
    (2246822519 % 2**31, 668265263),
    (3266489917 % 2**31, 2147483647),
    (668265263 % 2**31, 2654435761),
)


def shingle_hash_col(token_hashes: Column, w: int = 3) -> Column:
    """w-token shingle hashes from a token-hash array — pure arithmetic.

    Window i combines hashes[i..i+w-1] with distinct multipliers; trailing
    windows shorter than w (and texts shorter than w tokens) treat missing
    positions as 0, mirroring the single-shingle fallback of the string
    form. element_at past the end is NULL in both engines → coalesce 0.
    """
    n = F.size(token_hashes)
    idx = F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1)))

    def _win(i: Column) -> Column:
        acc = F.lit(0).cast("long")
        for j, c in enumerate(SHINGLE_C[:w]):
            acc = acc + F.coalesce(
                F.element_at(token_hashes, i + j), F.lit(0).cast("long")
            ) * F.lit(c)
        return acc % F.lit(SHINGLE_MOD)

    return F.transform(idx, _win)


def shingle_features_arrow(df: DataFrame, k: int = 4, w: int = 3) -> DataFrame:
    """(doc_id, hset, sig) from a (doc_id, text) relation in ONE
    mapInArrow pass — the vectorized twin of
    ``array_distinct(shingle_hash_col(transform(tokens, hash32)))`` +
    ``minhash_int_signature`` (r18, guide §4.2).

    The JVM expression route evaluates the per-token md5 inside an
    interpreted higher-order-function lambda (md5 → hex → substring →
    conv per element, no codegen inside ``transform``), which measured
    2.3 s of the 3.65 s shingle entry at sf0.1. Here each task hands
    whole Arrow batches to C code: hashlib.md5 per token (bit-identical
    to the first 8 md5 hex chars: ``digest()[:4]`` big-endian), numpy
    window mixing for the Rabin-Karp shingles, ``pd.unique`` for the
    first-occurrence distinct (== array_distinct), and the k affine
    MinHash maps over the distinct set. Bit-exactness vs the JVM
    expressions was checked on the full sf0.1 corpus
    (OPTIMIZATION_r18.md §2) and is pinned per-commit by
    tests/test_shingle_arrow_kernel.py; the DuckDB oracle twin
    (_SHINGLE_HASH_SQL) is unchanged.

    Only w=3 window mixing is implemented (the shipped shingle width).
    NULL text mirrors the JVM path exactly: split(NULL) is a NULL token
    array, element_at(NULL, i) is NULL, coalesce turns every position
    into 0, so the single fallback window hashes to 0 → hset=[0].
    Docs with fewer than w tokens zero-pad the missing positions (the
    coalesce-0 semantics the JVM route documents; under ANSI the JVM
    expression instead raises on them, and the corpus guarantees ≥10
    tokens per doc — tests/test_shingle_arrow_kernel.py pins both the
    corpus parity and these edge semantics).
    """
    if w != 3:
        raise ValueError("shingle_features_arrow implements w=3 only")
    c0, c1, c2 = SHINGLE_C
    mod = SHINGLE_MOD
    seeds = MINHASH_INT_SEEDS[:k]

    def _kernel(batch_iter):
        import hashlib

        import numpy as np
        import pandas as pd
        import pyarrow as pa

        md5 = hashlib.md5
        for batch in batch_iter:
            doc_ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            hsets: list = []
            sigs: list = []
            for t in texts:
                # None -> no tokens: the zero-pad below yields the JVM
                # path's single all-NULL->0 window, hset=[0]
                toks = t.split(" ") if t is not None else []
                n = len(toks)
                n_win = max(n - 2, 1)
                # token hashes, zero-padded so windows past the end read
                # 0 (the JVM path's coalesce(element_at(...), 0))
                th = np.zeros(n_win + 2, dtype=np.int64)
                m = min(n, n_win + 2)
                th[:m] = np.fromiter(
                    (
                        int.from_bytes(
                            md5(tok.encode("utf-8")).digest()[:4], "big"
                        )
                        for tok in toks[:m]
                    ),
                    dtype=np.int64,
                    count=m,
                )
                sh = (
                    th[:n_win] * c0
                    + th[1 : n_win + 1] * c1
                    + th[2 : n_win + 2] * c2
                ) % mod
                hset = pd.unique(sh)
                hsets.append(hset.tolist())
                hu = hset.astype(np.uint64)
                sigs.append(
                    [int(((hu * P + Q) % mod).min()) for P, Q in seeds]
                )
            yield pa.RecordBatch.from_arrays(
                [
                    doc_ids,
                    pa.array(hsets, type=pa.list_(pa.int64())),
                    pa.array(sigs, type=pa.list_(pa.int64())),
                ],
                names=["doc_id", "hset", "sig"],
            )

    return df.select("doc_id", "text").mapInArrow(
        _kernel, "doc_id long, hset array<long>, sig array<long>"
    )


def minhash_int_signature(hashes: Column, k: int = 4) -> Column:
    """k seeded min-hashes over an integer-hash set: affine maps
    (x*P + Q) mod 2^32 — no md5 in the signature stage at all, so
    recomputing the signature is cheaper than materializing it."""
    # closure factory, NOT default-arg lambdas: F.transform reads lambda
    # arity, and a (x, P=…, Q=…) signature would be bound as (element,
    # index) — the round-1 two-arg-lambda trap.
    def _affine(P: int, Q: int):
        return lambda x: (x * F.lit(P) + F.lit(Q)) % F.lit(SHINGLE_MOD)

    distinct = F.array_distinct(hashes)
    return F.array(
        *[
            F.array_min(F.transform(distinct, _affine(P, Q)))
            for P, Q in MINHASH_INT_SEEDS[:k]
        ]
    )


def jaccard_by_sets(
    pairs: DataFrame, sets: DataFrame, id_col: str, set_col: str
) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-row set intersection.

    `sets` carries one distinct-element array per document; each candidate
    pair picks up both arrays through two equi-joins on id and computes
    |A∩B| / |A∪B| as a single row expression (array_intersect). Compared
    with the exploded-item join (`exact_jaccard`) this removes two wide
    shuffles of the exploded relation and the intersection groupBy — the
    only shuffles left are the two id joins, and AQE broadcasts `pairs`
    when the LSH candidate set is genuinely small. Scale-safe: nothing is
    force-broadcast, set arrays only travel for rows that match a pair.
    """
    sa = sets.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("__set_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("__set_b"))
    n_inter = F.size(F.array_intersect(F.col("__set_a"), F.col("__set_b")))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                n_inter
                / (F.size("__set_a") + F.size("__set_b") - n_inter)
            ).alias("jaccard"),
        )
    )


def simhash_signature(items: Column, bits: int = 32) -> Column:
    """SimHash: per-bit ±1 votes from each item's hash, sign-aggregated —
    one row expression, zero shuffle.

    votes = Σ_item (bit_j(h) ? +1 : -1);  signature bit_j = votes_j > 0.
    """
    # The md5 hash is hoisted out of the per-bit loop: one hash32 per
    # item, then `bits` bit-tests of that integer. Leaving hash32(t)
    # inside the inner lambda costs `bits`× more md5 calls — Catalyst
    # does not CSE across nested lambda scopes.
    #
    # r17 optimization (guide §1.2 per-task work): the bit test is a
    # single bitwiseAND against a PLAN-TIME literal mask array — the
    # old form evaluated floor(h / pow(2.0, j)) % 2 per (item, bit),
    # ~3 interpreted double ops + a Math.pow each (~3200 per 100-token
    # doc); higher-order lambdas are interpreted, so the constant is
    # paid raw. The ±1 vote is also fused straight into the
    # accumulator (no per-item ±1 array allocation). Bit-identical:
    # (h & 2^j) != 0 ⟺ floor(h / 2^j) % 2 = 1 for 0 ≤ h < 2^32.
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    hashes = F.transform(F.array_distinct(items), lambda t: hash32(t))
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda p, m: p
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Bytes per edge of two longs: the unit the driver-path bound counts in.
_EDGE_BYTES = 16


def driver_edge_bound(spark) -> int:
    """T, the most edges :func:`connected_components` finishes on the
    driver: ``spark.sql.autoBroadcastJoinThreshold`` (the bytes Spark
    already ships to every executor for a broadcast join) over 16 B per
    two-long edge. A negative threshold turns broadcasts, and with them
    the driver path, off: -1. Spark's own SQLConf getter parses the
    byte string."""
    threshold = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    return threshold // _EDGE_BYTES if threshold >= 0 else -1


def _components_on_driver(spark, edges, id_type) -> DataFrame:
    """Min-id components of a collected edge table ``(a, b)`` as a
    DataFrame ``(id, component)``, rows equal to what the BSP loop
    returns on the same ``sym``.

    Union-find over dense node indices in id order, always hanging the
    larger root under the smaller, so every root is its set's minimum;
    one vectorized pointer-jumping pass then resolves each node to its
    root. A row with a NULL endpoint adds its other endpoint as a node
    but joins nothing (NULL matches no key), and makes a NULL ``id`` row
    labelled with the component of its smallest non-NULL partner (NULL
    when there is none), as the loop's seed and hop leave it.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructField, StructType

    a, b = edges.column("a"), edges.column("b")
    both = pc.and_(pc.is_valid(a), pc.is_valid(b))
    ea = pc.filter(a, both).to_numpy()
    eb = pc.filter(b, both).to_numpy()
    one_null = pc.invert(both)
    partners = pc.drop_null(
        pc.coalesce(pc.filter(a, one_null), pc.filter(b, one_null))
    ).to_numpy()
    ids = np.unique(np.concatenate([ea, eb, partners]))
    parent = list(range(ids.size))
    for x, y in zip(
        np.searchsorted(ids, ea).tolist(), np.searchsorted(ids, eb).tolist()
    ):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        while parent[y] != y:
            parent[y] = y = parent[parent[y]]
        if x < y:
            parent[y] = x
        elif y < x:
            parent[x] = y
    root = np.asarray(parent, dtype=np.int64)
    while True:
        hop = root[root]
        if np.array_equal(hop, root):
            break
        root = hop
    id_col = pa.array(ids)
    comp_col = pa.array(ids[root], type=id_col.type)
    if pc.any(one_null).as_py():
        null_lbl = (
            ids[root[np.searchsorted(ids, partners.min())]].item()
            if partners.size
            else None
        )
        id_col = pa.concat_arrays([id_col, pa.nulls(1, id_col.type)])
        comp_col = pa.concat_arrays(
            [comp_col, pa.array([null_lbl], type=id_col.type)]
        )
    return spark.createDataFrame(
        pa.table({"id": id_col, "component": comp_col}),
        StructType(
            [StructField("id", id_type), StructField("component", id_type)]
        ),
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    reliable: bool | None = None,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a near-dup
    pair relation → (id, component) with component = min member id.

    Both paths work on ``sym``, the pinned symmetric edge relation, and
    return one row per node of ``sym``:

    - **Driver path** (at most T edges, T = :func:`driver_edge_bound`,
      from ``spark.sql.autoBroadcastJoinThreshold``): one bounded
      collect of ``sym`` in one orientation, union-find on the driver,
      and the result handed back as a local relation. No rounds, no
      per-round pins; ``max_iter`` does not apply. The driver holds no
      more than Spark would broadcast, so the step is bounded by the
      threshold, not by the data.
    - **BSP path** (above T, or threshold -1): min-label propagation
      with pointer doubling over distributed labels, at most
      ``max_iter`` rounds, ending with a ``RuntimeWarning`` when the
      labels still change.

    They agree because both compute min-id components: in the loop,
    every label names a node of its own component and labels only
    decrease, so the component minimum is always a label and is the
    fixpoint; union-find roots are set minima by construction.
    """
    # `sym` is read by the bounded collect and by every round's neighbor
    # join; the pin keeps each read from re-running the upstream pair
    # pipeline.
    sym = truncate_lineage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        reliable,
    )
    spark = sym.sparkSession
    bound = driver_edge_bound(spark)
    if bound >= 0:
        # One orientation per edge, plus self-loops and NULL-endpoint
        # rows, so every node of `sym` appears. coalesce(1) makes this
        # one task that stops reading after T + 1 rows.
        head = (
            sym.filter(
                (F.col("a") <= F.col("b"))
                | F.col("a").isNull()
                | F.col("b").isNull()
            )
            .coalesce(1)
            .limit(bound + 1)
            .toArrow()
        )
        if head.num_rows <= bound:
            return _components_on_driver(spark, head, sym.schema["a"].dataType)
    # BSP path. Seed: lbl = min(id, 1-hop neighbor min), which rides the
    # same groupBy(a) exchange an identity seed would pay and already
    # satisfies both invariants (a label names a node of the same
    # component; labels only decrease toward the component minimum).
    labels = truncate_lineage(
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("lbl"))
        .select(F.col("a").alias("id"), "lbl"),
        reliable,
    )
    changed = 0
    # Frontier: labels are monotone non-increasing, and after round k
    # lbl_k(a) <= lbl_{k-1}(b) for every neighbor b. A neighbor whose
    # label did not change in round k therefore cannot lower a's label in
    # round k+1, so each round's neighbor-min join reads only the labels
    # that changed in the previous round (the seed counts as all changed).
    frontier = labels
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(frontier, sym.b == frontier.id)
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        adopted = labels.join(
            neighbor_min, labels.id == neighbor_min.a, "left"
        ).select(
            "id",
            # the round's starting label rides along, so the convergence
            # count and the next frontier are filters on the pinned
            # result instead of joins against the previous labels
            F.col("lbl").alias("old_lbl"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        # Pointer doubling: follow one label hop (lbl <- adopted[lbl]).
        # A label names a node whose own label is <= it, so the hop keeps
        # both invariants while the minimum travels 2^k hops by round k.
        # `adopted` is read twice but not pinned: its shuffles are
        # exchange-reused and its inputs (labels, sym) are pinned.
        hop = adopted.select(
            F.col("id").alias("pid"), F.col("lbl").alias("plbl")
        )
        new_full = truncate_lineage(
            adopted.join(hop, adopted.lbl == hop.pid, "left").select(
                "id", F.coalesce("plbl", "lbl").alias("lbl"), "old_lbl"
            ),
            # the per-round cut keeps the plan from doubling each round
            reliable,
            # lazy: the convergence count below materializes it, so a
            # round is one job
            eager=False,
        )
        changed = new_full.filter(F.col("lbl") != F.col("old_lbl")).count()
        labels = new_full.select("id", "lbl")
        frontier = new_full.filter(F.col("lbl") != F.col("old_lbl")).select(
            "id", "lbl"
        )
        if changed == 0:
            break
    if changed != 0:
        # A truncated run looks exactly like a converged one — surface it.
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); labels are an upper bound "
            "on the true components. Raise max_iter for deeper graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("lbl").alias("component"))
