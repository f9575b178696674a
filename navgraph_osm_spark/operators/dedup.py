"""Deduplication family over the ``documents`` table (graft additions).

Five strategies, each scale-shaped for 100 TB (blocking before pairing —
never a global cross join):

- exact        — md5 fingerprint groupBy (one shuffle, map-side partial agg)
- ngram-jaccard— exact char-3-gram Jaccard via array higher-order functions
                 (JVM-side), pairs blocked by a cheap key
- MinHash+LSH  — Arrow-batched signature UDF → band explode → bucket
                 self-join → Arrow-batched signature-agreement verify
                 (classic shingle→minhash→band→bucket-join)
- SimHash      — Arrow-batched 64-bit SimHash → 16-bit band blocking →
                 xor+bit_count Hamming verify (pure column expressions)
- embedding    — cosine near-dup via sign-LSH bucketing + exact cosine verify

All candidate joins are equi joins on block keys → AQE-skew-splittable.
``cluster_pairs`` turns any pair set into connected components
(contraction per partition, then a driver union-find or label propagation).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from navgraph_osm_spark.functions.hashing import minhash_signatures_batch, simhash64
from navgraph_osm_spark.functions.text import fingerprint_expr


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (whitespace-normalized) docs, size ≥ 2.

    Output: fingerprint, n_dups, doc_ids (sorted array), keeper (min id).
    """
    return (
        docs.select(F.col(id_col), fingerprint_expr(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            F.min(id_col).alias("keeper"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def _shingle_array_expr(text: F.Column, n: int = 3) -> F.Column:
    """Distinct char n-grams of whitespace-normalized text, pure exprs."""
    t = F.regexp_replace(F.trim(text), r"\s+", " ")
    short = F.length(t) < n
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.when(short, F.array(t)).otherwise(F.array_distinct(grams))
    )


MAX_AUTO_HASHES = 512


def _band_rows_for_threshold(
    threshold: float, num_hashes: int, miss_target: float = 1e-6
) -> tuple[int, int]:
    """(rows_per_band r, num_hashes) such that a pair at exactly
    ``threshold`` Jaccard collides in ≥1 of the num_hashes//r bands with
    probability ≥ 1 - miss_target (the standard (1-s^r)^b LSH recall
    curve) — with r ≥ 2 ALWAYS.

    r = 1 buckets key on a single MinHash value, so any two docs sharing
    the min for one hash become a candidate pair; on real corpora with
    common shingles that approaches corpus-wide buckets (a quadratic
    block).  When the requested num_hashes cannot satisfy the miss target
    at r ≥ 2 (low thresholds), num_hashes is RAISED (up to
    ``MAX_AUTO_HASHES``) instead of degrading to r = 1; past the cap the
    miss target itself is relaxed — recall degrades gracefully, the
    blocking never goes quadratic.
    """
    import math

    for r in (4, 3, 2):
        b = num_hashes // r
        if b and (1.0 - threshold**r) ** b <= miss_target:
            return r, num_hashes
    # raise num_hashes until r=2 satisfies the target (b = ceil bound);
    # never REDUCE a caller-supplied budget — an explicit num_hashes above
    # MAX_AUTO_HASHES keeps all its bands (the cap only limits auto-raising)
    b_needed = math.ceil(math.log(miss_target) / math.log(1.0 - threshold**2))
    return 2, max(num_hashes, min(2 * b_needed, MAX_AUTO_HASHES))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    block_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Exact n-gram Jaccard over blocked pairs (id_a < id_b).

    Jaccard is |A∩B| / |A∪B| on distinct char n-grams — array_intersect /
    array_union, fully JVM-side.

    Blocking (the scale knob): by DEFAULT candidate pairs come from
    MinHash-band buckets, with rows-per-band sized from ``threshold`` so a
    qualifying pair misses every band with probability ≤ 1e-6 — no
    corpus-wide attribute ever forms a quadratic block.  Passing
    ``block_col`` (e.g. ``lang``) switches to attribute blocking with exact
    within-block semantics; at corpus scale one language block is nearly the
    whole corpus (O(n²) pairs), so the band default is the production path.
    """
    base = docs.select(
        F.col(id_col), _shingle_array_expr(F.col(text_col), n).alias("grams")
    )
    if block_col is not None:
        blocked = docs.select(F.col(id_col), F.col(block_col).alias("block")).join(
            base, id_col
        )
        a = blocked.select(
            F.col(id_col).alias("id_a"), "block", F.col("grams").alias("grams_a")
        )
        b = blocked.select(
            F.col(id_col).alias("id_b"), "block", F.col("grams").alias("grams_b")
        )
        pairs = a.join(b, "block").filter(F.col("id_a") < F.col("id_b"))
    else:
        rows_per_band, num_hashes = _band_rows_for_threshold(threshold, num_hashes)
        bands = num_hashes // rows_per_band
        sigs = with_minhash(
            docs, num_hashes, n=n, seed=seed, id_col=id_col, text_col=text_col
        ).select(F.col(id_col), F.col(_SIG_FIELD)).join(base, id_col)
        # both sides of the bucket self-join consume the signature relation;
        # checkpoint it so the Arrow signature UDF runs ONCE (at warehouse
        # scale, write the signature table to storage instead — the
        # reference's stage-file pattern)
        sigs = sigs.localCheckpoint(eager=True)
        # band explode + self-join on IDS ONLY — the gram arrays are heavy
        # payloads the bucket decision never reads (shuffling them through
        # the explode multiplies them ×bands and the self-join sorts them
        # twice); they re-attach to the (deduped, far smaller) pair set
        # from the signature checkpoint afterwards (guide §8: make every
        # shuffle but the last operate on a lightweight proxy)
        banded = sigs.select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda bi: F.struct(
                        bi.alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col(_SIG_FIELD),
                                bi * rows_per_band + 1,
                                rows_per_band,
                            )
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        ).select(
            id_col,
            F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
        )
        a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
        b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        g = sigs.select(F.col(id_col), "grams")
        pairs = cand.join(
            g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a")),
            "id_a",
        ).join(
            g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b")),
            "id_b",
        )
    jac = (
        F.size(F.array_intersect("grams_a", "grams_b"))
        / F.size(F.array_union("grams_a", "grams_b"))
    ).cast("double")
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_SIG_FIELD = "minhash_sig"


def with_minhash(
    docs: DataFrame,
    num_hashes: int = 128,
    n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Attach MinHash signatures (Arrow-batched pandas UDF, vectorized numpy)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series(minhash_signatures_batch(texts, num_hashes, n, seed))

    return docs.withColumn(_SIG_FIELD, _sig(F.col(text_col)))


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with estimated Jaccard ≥ threshold.

    Pipeline: signature UDF → band explode (band hash = xxhash64 of the band
    slice) → bucket self-join → distinct pairs → signature-agreement
    estimate filter.  Two steps run in Python, both on Arrow batches: the
    signature UDF, and the verify kernel, which compares whole batches of
    signature pairs in numpy instead of per-row array lambdas (Spark
    interprets those one element at a time).  est_jaccard is the count of
    equal signature positions over ``num_hashes``.  An in-flight verify
    batch holds both signatures of every pair in it: 16·num_hashes bytes a
    pair, up to ``spark.sql.execution.arrow.maxRecordsPerBatch`` pairs.
    """
    rows_per_band = num_hashes // bands
    sigs = with_minhash(docs, num_hashes, seed=seed, id_col=id_col, text_col=text_col).select(
        F.col(id_col), F.col(_SIG_FIELD)
    ).localCheckpoint(eager=True)  # signature UDF runs once, not per join side
    # band explode + bucket self-join on IDS ONLY; the (128-long) signature
    # arrays re-attach to the deduped pair set afterwards — same
    # lightweight-proxy shuffle shape as ngram_jaccard_pairs (guide §8)
    banded = sigs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(
                        F.slice(F.col(_SIG_FIELD), bi * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sigs.select(
                F.col(id_col).alias("id_a"), F.col(_SIG_FIELD).alias("sig_a")
            ),
            "id_a",
        )
        .join(
            sigs.select(
                F.col(id_col).alias("id_b"), F.col(_SIG_FIELD).alias("sig_b")
            ),
            "id_b",
        )
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    out_schema = T.StructType(
        cand.schema.fields[:2] + [T.StructField("est_jaccard", T.DoubleType())]
    )
    return cand.mapInArrow(_verify_kernel(num_hashes, threshold), out_schema)


def _verify_kernel(num_hashes: int, threshold: float):
    """Arrow kernel: (id_a, id_b, sig_a, sig_b) batches → pairs whose
    signature agreement ``(a == b).sum() / num_hashes`` is ≥ threshold.

    Each signature column's flat child (``flatten`` honours slice offsets)
    reshapes to ``(rows, num_hashes)``, so one numpy comparison checks a
    whole batch; batches stream through one at a time.  Same integer count
    over the same divisor as a per-element sum, so the estimate is
    bit-identical to it.
    """

    def _verify(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            sig_a, sig_b = (
                rb.column(i).flatten().to_numpy().reshape(-1, num_hashes) for i in (2, 3)
            )
            est = (sig_a == sig_b).sum(axis=1) / num_hashes
            keep = est >= threshold
            mask = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).filter(mask), rb.column(1).filter(mask), pa.array(est[keep])],
                ["id_a", "id_b", "est_jaccard"],
            )

    return _verify


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: 16-bit band blocking + bit_count verify.

    Any pair within Hamming distance ≤ 3 shares at least one of the four
    16-bit bands (pigeonhole); larger ``max_hamming`` trades recall.
    """

    @F.pandas_udf(T.LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash64(texts))

    hashed = docs.select(
        F.col(id_col), _sim(F.col(text_col)).alias("simhash")
    ).localCheckpoint(eager=True)  # hash UDF runs once, not per join side
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.shiftright(F.col("simhash"), bi * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
        )
        for bi in range(4)
    ]
    # band explode + bucket self-join + pair dedup on IDS ONLY; the hashes
    # re-attach to the (deduped, far smaller) pair set from the checkpoint —
    # the same lightweight-proxy shuffle shape as minhash_lsh_pairs
    # (guide §8: every shuffle but the last operates on keys, not payloads)
    banded = hashed.select(
        id_col, F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(
            hashed.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a")),
            "id_a",
        )
        .join(
            hashed.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b")),
            "id_b",
        )
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


SMALL_GRAPH_EDGE_LIMIT = 100_000  # bounded driver collect: ≤ ~1.6 MB of ids


def _contract_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow kernel: one partition's (a, b) pairs → one (node, component
    min) row per distinct node it holds.

    Min-label hooking with pointer jumping over node ranks (the sorted
    unique ids, so the min rank is the min id): each round hooks every
    cross edge's larger root onto its smaller one, then jumps pointers
    until each node points at its root.  Labels only decrease, so the loop
    ends; a near-dup clique settles in one round.  The partition's batches
    are concatenated — its components can span them.
    """
    parts = [(rb.column(0).to_numpy(), rb.column(1).to_numpy()) for rb in batches]
    if not parts:
        return
    nodes, inv = np.unique(
        np.concatenate([a for a, _ in parts] + [b for _, b in parts]), return_inverse=True
    )
    ia, ib = np.split(inv, 2)
    label = np.arange(nodes.size)
    while True:
        ra, rb = label[ia], label[ib]
        cross = ra != rb
        if not cross.any():
            break
        np.minimum.at(label, np.maximum(ra[cross], rb[cross]), np.minimum(ra[cross], rb[cross]))
        while True:
            jumped = label[label]
            if (jumped == label).all():
                break
            label = jumped
    yield pa.RecordBatch.from_arrays(
        [pa.array(nodes), pa.array(nodes[label])], ["a", "b"]
    )


def cluster_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    cluster_id = min doc id in the component (the canonical "keeper").

    Contraction first: one ``mapInArrow`` pass finds each input partition's
    connected components in numpy and emits one ``(node, partition-local
    min)`` row for every node it sees, roots included (a self-pair
    ``(a, a)`` yields ``(a, a)``).  Every pair's two ends share a local
    component, so this star forest has the same connectivity and the same
    min-id labels as the pairs, while its row count is bounded by Σ over
    partitions of distinct nodes — near-dup cliques of m members shrink
    from m(m-1)/2 pairs to m rows.

    The contracted rows then go through a bounded probe
    (``SMALL_GRAPH_EDGE_LIMIT`` rows, checked with ``limit(n+1)`` — never
    an unbounded collect).  When they fit, a driver-side union-find labels
    them.  Only when the contracted graph is still larger does distributed
    label propagation run over it: every node starts labeled with itself;
    each round each node takes the min label among itself, its neighbors
    and its label's label (pointer doubling); stop at fixpoint, in
    O(log diameter) rounds.  The driver loop iterates over rounds, never
    rows.
    """
    contracted = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    ).mapInArrow(_contract_partition, "a long, b long")
    probe = contracted.limit(SMALL_GRAPH_EDGE_LIMIT + 1).collect()
    if len(probe) <= SMALL_GRAPH_EDGE_LIMIT:
        parent: dict = {}

        def _find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = _find(a), _find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # root = min id
        out = [(n, _find(n)) for n in parent]
        spark = pairs.sparkSession
        return spark.createDataFrame(
            out or [], "doc_id long, cluster_id long"
        )
    # materialize the star edges once for the rounds to share; label
    # propagation reads neighbors through edge "a", so it sees both directions
    star = contracted.localCheckpoint(eager=True)
    edges = star.unionByName(star.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_ckpt = labels
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("a", "node")
        )
        # pointer doubling: also adopt the label of one's current label —
        # O(log diameter) rounds instead of O(diameter)
        hop = labels.select(F.col("node").alias("lbl_node"), F.col("label").alias("lbl_label"))
        doubled = labels.join(
            hop, labels["label"] == hop["lbl_node"], "left"
        ).select("node", "label", F.col("lbl_label").alias("label_of_label"))
        merged = doubled.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"),
                F.coalesce("label_of_label", F.col("label")),
                F.coalesce("nbr_label", F.col("label")),
            ).alias("new_label"),
            "label",
        )
        # LAZY localCheckpoint + count: the convergence count is the
        # materializing action, so each round runs ONE job (the former
        # eager-checkpoint + count pair ran two).  The checkpoint still
        # truncates lineage — iterative DataFrame plans otherwise grow
        # exponentially across rounds — and the prior round's checkpoint is
        # unpersisted so executor storage stays bounded by a single round.
        merged = merged.localCheckpoint(eager=False)
        changed = merged.filter(F.col("new_label") != F.col("label")).count()
        prev_ckpt.unpersist()
        prev_ckpt = merged
        labels = merged.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-dup via sign-LSH blocking + exact cosine verify.

    Bucket = sign bits against ``planes`` random hyperplanes (deterministic
    seed), computed with ``aggregate`` over the embedding array — JVM-side.
    Multi-probe (flip one bit) keeps recall high for near-identical vectors.
    """
    import numpy as np

    from navgraph_osm_spark.operators.similarity import sign_bucket

    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    dim = dim_row["d"]
    rng = np.random.default_rng(seed)
    hyper = rng.normal(size=(planes, dim))

    # sign_bucket auto-dispatches: codegen exprs for small dim x planes,
    # one Arrow-batched matmul beyond (literal-array plans bloat with dim)
    base = emb.select(F.col(id_col), F.col(vec_col), sign_bucket(vec_col, hyper).alias("bucket0"))
    # multi-probe: own bucket + each 1-bit flip
    probes = F.array(
        F.col("bucket0"),
        *[F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(planes)],
    )
    probed = base.withColumn("bucket", F.explode(probes))

    # bucket self-join + multi-probe dedup on IDS ONLY — the embedding
    # arrays are the heavy payload (dim doubles/row) and the bucket
    # decision never reads them: carried through the explode they are
    # multiplied ×(planes+1) and shuffled again by the pair dedup.  They
    # re-attach to the deduped candidate set for the exact-cosine verify
    # (guide §8: shuffle keys, move payloads once).
    a = probed.select(F.col(id_col).alias("id_a"), "bucket")
    b = base.select(F.col(id_col).alias("id_b"), F.col("bucket0").alias("bucket"))
    vecs = emb.select(F.col(id_col), F.col(vec_col))
    dot = F.aggregate(F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda a_, v: a_ + v)
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a_, v: a_ + v))  # noqa: E731
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(
            vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")),
            "id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")),
            "id_b",
        )
        .withColumn("cosine", (dot / (norm(F.col("v_a")) * norm(F.col("v_b")))).cast("double"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
