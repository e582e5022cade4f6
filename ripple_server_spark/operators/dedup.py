"""Deduplication operators for document/embedding corpora.

No reference analog (the reference's only dedup is ack-id matching,
internal/broker/ack/ack.go:76-80); this is the training-data-pipeline
surface mandated by BASELINE.json, built as pure DataFrame pipelines:

- exact: hash-groupBy (one shuffle on the content hash);
- MinHash+LSH: shingle -> 16 md5-min signatures -> 4 banded buckets ->
  bucket join -> Jaccard verify. At 100 TB the candidate join touches
  only colliding bands (expected near-linear), never the n² pairs;
- SimHash: 32-bit majority signature, banded prefix blocking;
- n-gram Jaccard: inverted-index (shared-shingle) candidate join;
- embedding near-dup: blocked nearest-neighbor by LSH/label bucket.

All hashing is md5-derived so signatures are engine-reproducible (the
DuckDB oracles regenerate them bit-for-bit) — no JVM/py hash seeds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ripple_server_spark.config import (
    JACCARD_THRESHOLD,
    MINHASH_BANDS,
    MINHASH_PERMS,
)
from ripple_server_spark.functions.text import exploded_tokens, shingles_pandas
from ripple_server_spark.functions.vectors import dot, l2_norm


def exact_dedup_docs(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: keep the smallest doc_id per md5.

    One hash shuffle; at 100 TB this is the cheapest dedup pass and
    always runs before any near-dup stage.
    """
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs — distinct word-3-gram shingles.

    Arrow kernel (shingles_pandas) for throughput; output is identical
    to the expr form (oracle-verified)."""
    return docs.select(
        "doc_id", F.explode(shingles_pandas(F.col("text"))).alias("shingle")
    )


def minhash_band_hashes(
    sh: DataFrame, perms: int = MINHASH_PERMS, bands: int = MINHASH_BANDS
) -> DataFrame:
    """(doc_id, band, bh) in ONE shuffle.

    Per shingle: one md5, split into two 48-bit halves h1/h2; permutation
    s is (h1 + s·h2) (Kirsch-Mitzenmacher double hashing — 16x less
    crypto work than per-seed md5, same collision behavior; values stay
    < 2^53 so 64-bit engines and the DuckDB oracle reproduce them
    bit-for-bit). All ``perms`` mins are computed as separate aggregate
    COLUMNS of a single groupBy(doc_id) — the shingle rows are never
    exploded ×perms, the partial aggregate reduces each map task to one
    wide row per doc, and the shuffle carries |docs| rows (not
    |docs|×perms). Band hashes are then a pure projection (md5 of the
    band's mins joined in seed order) — no second shuffle, no
    collect_list.
    """
    hx = F.md5("shingle")
    based = sh.select(
        "doc_id",
        F.conv(F.substring(hx, 1, 12), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(hx, 13, 12), 16, 10).cast("long").alias("h2"),
    )
    mins = based.groupBy("doc_id").agg(
        *[
            F.min(F.col("h1") + F.lit(s) * F.col("h2")).alias(f"m{s}")
            for s in range(perms)
        ]
    )
    return _explode_band_hashes(mins, lambda i: F.col(f"m{i}"), perms, bands)


def _explode_band_hashes(df: DataFrame, min_col, perms: int, bands: int) -> DataFrame:
    """(doc_id, band, bh) from per-permutation minima — THE band layout
    (md5 over each band's mins joined in seed order), shared by the expr
    path (``min_col = lambda i: F.col(f"m{i}")``) and the Arrow-kernel
    path (``lambda i: F.col("sig")[i]``) so the two stay bit-identical
    by construction (equivalence test-asserted)."""
    if perms % bands:
        raise ValueError(
            f"perms ({perms}) must divide evenly into bands ({bands}): "
            "trailing permutations would be computed and shuffled but "
            "silently ignored by the banding, and the effective "
            "detection threshold (1/b)^(1/r) would differ from what "
            "the caller's perms implied"
        )
    rows = perms // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[min_col(b * rows + i).cast("string") for i in range(rows)],
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    return df.select("doc_id", F.explode(band_structs).alias("x")).select(
        "doc_id", F.col("x.band").alias("band"), F.col("x.bh").alias("bh")
    )


def lsh_candidates(
    bands_df: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs sharing at least one band bucket.

    The join key is (band, bh): only documents that collide in a bucket
    meet — this is the step that replaces the O(n²) cross join. At
    100 TB, a hot bucket (giant cluster of near-identical docs) is the
    skew risk: a bucket of size s emits s(s-1)/2 pairs, so one
    million-doc bucket is 5·10^11 pairs no matter how well AQE splits
    the join. ``max_bucket_size`` is the upstream cap: buckets above it
    are excluded from pair generation (one partial-agg count + a
    left-semi prune, both cheap relative to the self-join they bound).
    Pairs whose docs ALSO collide in a sub-cap bucket of another band
    still surface (band redundancy); a bucket hot in EVERY band is a
    giant cluster of literal duplicates, which belongs to exact
    hash-dedup (run first — q_dedup_exact) rather than to near-dup
    LSH. None (the default, and the declared query's setting) disables
    the cap so candidates match the exact DuckDB oracle.
    """
    if max_bucket_size is not None:
        small = (
            bands_df.groupBy("band", "bh")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
        bands_df = bands_df.join(small, on=["band", "bh"], how="left_semi")
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _jaccard_finish(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, n_common) + per-doc set sizes -> thresholded
    (doc_a, doc_b, jaccard)."""
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = F.col("n_common") / (F.col("na.n") + F.col("nb.n") - F.col("n_common"))
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def verify_jaccard(
    cand: DataFrame,
    sh: DataFrame,
    threshold: float,
    persist_registry: list | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs via two semi-structured joins on
    the shingle table (never materializes full shingle sets per row).

    The shingle table is first pruned to docs that appear in at least
    one candidate pair: near-dup candidates are a small fraction of the
    corpus, so this turns the verify joins from corpus-sized shuffles
    into candidate-sized ones — the dominant cost of verification at
    100 TB. The semi-join's build side (distinct candidate doc ids) is
    left to AQE, which sees its runtime size and broadcasts when small.
    """
    # No distinct: a left-semi build side tolerates duplicate keys, so
    # skipping it saves a shuffle on the candidate set.
    cand_docs = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    # Persist: the pruned table feeds three consumers (sizes + both
    # intersection sides); without it the semi-join runs three times.
    # A caller that materializes the result eagerly (the streaming
    # incremental join) passes ``persist_registry`` to receive the
    # handle and unpersist it afterwards — one-shot batch callers let
    # the ContextCleaner reclaim it with the plan.
    sh = sh.join(cand_docs, "doc_id", "left_semi").persist()
    if persist_registry is not None:
        persist_registry.append(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    s1 = sh.alias("s1")
    s2 = sh.alias("s2")
    inter = (
        cand.join(s1, F.col("s1.doc_id") == F.col("doc_a"))
        .join(
            s2,
            (F.col("s2.doc_id") == F.col("doc_b"))
            & (F.col("s2.shingle") == F.col("s1.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_finish(inter, sizes, threshold)



_minhash_sig_udfs: dict = {}


def minhash_sigs_pandas(text, k: int = 3, perms: int = MINHASH_PERMS):
    """Arrow kernel: text -> the ``perms`` MinHash minima in ONE pass,
    bit-identical to the expr pipeline (distinct word k-gram shingles,
    md5 split into two 48-bit halves h1/h2, permutation s = min(h1 +
    s*h2) — Kirsch-Mitzenmacher double hashing). Returns null for docs
    with no shingle (matching the expr path, where such docs simply
    have no rows).

    This replaces the corpus-wide shingle explode + ``perms``-column
    groupBy with a narrow per-doc map: no shuffle at all until the band
    bucket join. The shingle table is then only ever materialized for
    CANDIDATE docs (verification), not the corpus.
    """
    import hashlib

    key = (k, perms)
    if key not in _minhash_sig_udfs:

        def _kernel(s: pd.Series) -> pd.Series:
            import numpy as np

            seeds = np.arange(perms, dtype=np.int64)
            out = []
            for t in s:
                # NULL text -> null signature, like a shingle-less doc
                w = t.split(" ") if t is not None else []
                if len(w) < k:
                    out.append(None)
                    continue
                grams = dict.fromkeys(
                    " ".join(w[i : i + k]) for i in range(len(w) - k + 1)
                )
                h1 = np.empty(len(grams), dtype=np.int64)
                h2 = np.empty(len(grams), dtype=np.int64)
                for j, g in enumerate(grams):
                    # first/second 48 bits of the digest == the expr
                    # path's conv(substring(hex,1,12)) / (13,12)
                    d = hashlib.md5(g.encode()).digest()
                    h1[j] = int.from_bytes(d[:6], "big")
                    h2[j] = int.from_bytes(d[6:12], "big")
                # (perms, n) matrix of h1 + s*h2; min over shingles
                out.append((h1[None, :] + seeds[:, None] * h2[None, :]).min(axis=1))
            return pd.Series(out)

        _minhash_sig_udfs[key] = pandas_udf(_kernel, "array<long>")
    return _minhash_sig_udfs[key](text)


def minhash_band_hashes_from_docs(
    docs: DataFrame, perms: int = MINHASH_PERMS, bands: int = MINHASH_BANDS
) -> DataFrame:
    """(doc_id, band, bh) straight from the corpus: signatures via the
    Arrow kernel (zero shuffle), band hashes as a JVM projection over
    the signature array — md5 of the band's mins joined in seed order,
    identical to :func:`minhash_band_hashes`."""
    # Parallelism recovery: a corpus packed into few row groups (the
    # local fixtures are ONE) would run the kernel on that few tasks.
    # At real scale input splits >> cores and this branch is a no-op;
    # the repartition only ever pays when the input cannot otherwise
    # use the cluster.
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    sigs = docs.select(
        "doc_id", minhash_sigs_pandas(F.col("text"), perms=perms).alias("sig")
    ).filter(F.col("sig").isNotNull())
    return _explode_band_hashes(sigs, lambda i: F.col("sig")[i], perms, bands)


def minhash_lsh_dedup(
    docs: DataFrame,
    perms: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: (doc_a, doc_b, jaccard).

    Shuffle budget (the 100 TB shape): signature aggregation is
    partial-agg so its shuffle carries |docs| wide rows (never the
    shingle table); the band self-join shuffles docs x bands rows; and
    verification prunes the shingle table to candidate docs before any
    join (verify_jaccard). Persists at the plan fan-outs — including
    the exploded shingle table, which feeds both the signature
    aggregate and verification.

    Two alternatives were A/B/C-measured this round (r12, guide §1.6)
    on an idle box, 4 interleaved reps each at sf0.1, and REJECTED:
    (B) Python-kernel signatures (minhash_band_hashes_from_docs,
    bit-identical, shuffle-free signature side) — JVM md5 under
    codegen beats Python hashlib in steady state (best-rep 3.27 s vs
    3.18); (C) streaming the shingle explode into the aggregate with
    verification re-deriving candidate-pruned shingles (no corpus-
    sized cache) — the second shingle-kernel pass costs more than the
    cache round-trip (best-rep 3.77 s vs 3.18; C only wins cold-start,
    6.4 vs 16.6 s, which the bench's warmup amortizes). At 100 TB the
    persist is MEMORY_AND_DISK and C becomes the right shape once the
    shingle table exceeds cluster cache — that switch is a deployment
    choice documented here, not a code fork.
    """
    # Parallelism recovery (same rationale as minhash_band_hashes_from_
    # docs): a corpus packed into few row groups — the local fixture is
    # ONE — would run the shingle kernel, the per-shingle md5s, and the
    # 16-column partial MIN aggregate all on that one task. At real
    # scale input splits >> cores and this branch never fires.
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    sh = shingle_sets(docs).persist()
    band_df = minhash_band_hashes(sh, perms, bands).persist()
    cand = lsh_candidates(band_df, max_bucket_size=max_bucket_size).persist()
    return verify_jaccard(cand, sh, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame, block_col: str = "source", threshold: float = 0.01
) -> DataFrame:
    """Blocked exact n-gram Jaccard via a shared-shingle inverted index.

    Candidate pairs come from the postings self-join on (shingle,
    block): only documents that share at least one shingle (and the
    blocking key) ever meet, and the same join computes the
    intersection size — there is NO all-pairs join within a block
    anywhere in the plan. This is lossless for any threshold > 0:
    jaccard >= t > 0 implies n_common >= 1, i.e. the pair shares a
    shingle and is generated.

    Scale: the join fan-out is sum over shingles of df² within a block
    (df = posting-list length), not block². Hot shingles (stopword-ish
    3-grams) are the skew risk; AQE skew-join splits them, and for
    corpora where that is not enough the prefix-filtered setsim join
    (setsim_join_prefix, same module) is the threshold-aware exact
    form that prunes high-df tokens without losing pairs."""
    sh = shingle_sets(docs).persist()
    post = sh.join(docs.select("doc_id", block_col), "doc_id")
    a = post.alias("a")
    b = post.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return _jaccard_finish(inter, sizes, threshold)


def simhash_signatures(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash as a bit string: bit b is the sign of the count-
    weighted sum of ±1 word hashes (md5(word:b) first hex char ≤ '7').

    Two shuffles: token counts per doc, then signature assembly. The
    ±1 per (word,b) is codegen'd md5 — deterministic in any engine.
    """
    # the ONE corpus tokenization rule (functions.text.tokens) — an
    # inline re-split here would silently diverge from every other text
    # operator's token stream if the rule ever changes
    toks = (
        exploded_tokens(docs)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    wb = (
        toks.select(
            "doc_id",
            "w",
            "cnt",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        )
        .withColumn(
            "contrib",
            F.when(
                F.substring(
                    F.md5(F.concat(F.col("w"), F.lit(":"), F.col("b").cast("string"))), 1, 1
                )
                <= "7",
                F.col("cnt"),
            ).otherwise(-F.col("cnt")),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("s"))
    )
    bit = F.when(F.col("s") >= 0, F.lit("1")).otherwise(F.lit("0"))
    return (
        wb.select("doc_id", "b", bit.alias("bit"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("b", "bit"))).alias("bb"))
        .select(
            "doc_id",
            F.array_join(F.transform(F.col("bb"), lambda x: x["bit"]), "").alias("simhash"),
        )
    )


def embedding_neardup_bucketed(emb_with_bucket: DataFrame, min_sim: float = 0.2) -> DataFrame:
    """Cosine nearest neighbor per vector within a (label × LSH bucket)
    block — the scale form of embedding near-dup: candidates stay
    near-linear in corpus size because both blocking keys partition it.

    Norms are projected below the join so each candidate pair costs one
    dot fold; the join shuffles on (label, bucket) — at 100 TB that is
    the only data motion, and bucket count scales with corpus size
    (more hyperplanes → smaller blocks).
    """
    e = emb_with_bucket.select(
        "vec_id", "label", "bucket", "embedding", l2_norm(F.col("embedding")).alias("nn")
    )
    a = e.alias("a")
    b = e.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nn") * F.col("b.nn"))
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        sim.alias("sim"),
    )
    return _nearest_above(pairs, min_sim)


def _nearest_above(pairs: DataFrame, min_sim: float) -> DataFrame:
    """Nearest-neighbor emit — THE rounding/tie contract of the
    embedding near-dup family, in one place (half-up 6-dp rank key with
    vec_b tie-break, threshold on the UNROUNDED sim, 4-dp display),
    exactly what the DuckDB oracles encode. A precision or tie-order
    change lands in both blocked variants at once. The rank key is
    floor(sim*1e6 + 0.5), not round(sim, 6): Spark rounds HALF_UP and
    DuckDB half-even, so an exact midpoint would flip ranks
    cross-engine (ADVICE r07 / VERDICT r08)."""
    w = Window.partitionBy("vec_a").orderBy(
        F.desc(F.floor(F.col("sim") * 1e6 + F.lit(0.5))), F.asc("vec_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("sim") >= min_sim))
        .select(
            "vec_a", F.col("vec_b").alias("nearest_id"), F.round("sim", 4).alias("sim")
        )
    )


def setsim_join_prefix(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact all-pairs set-similarity join (shingle Jaccard >= t) with
    PREFIX FILTERING (PPJoin-family; cf. the distributed set-similarity
    join literature in PAPERS.md).

    Candidate generation: order each doc's shingles by global rarity
    (document frequency asc, shingle asc as the deterministic total
    order) and keep only the first |d| - ceil(t·|d|) + 1 — the prefix.
    Theorem: two sets with Jaccard >= t MUST share a prefix token, so
    joining on prefix tokens alone yields every qualifying pair (no
    false negatives), while rare-token ordering makes prefix collisions
    — and therefore candidates — scarce. Verification reuses the exact
    Jaccard kernel.

    vs MinHash-LSH: this is exact (no banding misses) at the cost of a
    df computation; at 100 TB the df table is |vocabulary| rows (skewed
    head tokens fall OUT of prefixes — the filter gets cheaper as
    tokens get hotter, the opposite of the LSH hot-bucket risk).
    """
    sh = shingle_sets(docs).persist()
    df_freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    w_size = Window.partitionBy("doc_id")
    pref = (
        sh.join(df_freq, on="shingle")
        .withColumn("r", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_size))
        .filter(F.col("r") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
        .select("doc_id", "shingle")
    )
    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_jaccard(cand, sh, threshold)


class IncrementalSetSimJoin:
    """Stateful STREAMING exact set-similarity join (cf. "Distributed
    Streaming Set Similarity Join", ICDE 2020, PAPERS.md): each epoch
    verifies only pairs that touch the newly-arrived chunk — (new x
    old) and (new x new) — never re-verifying old-x-old, and never
    re-processing old documents.

    Epoch cost is O(chunk), not O(corpus): state is three checkpointed
    DataFrames —

    - ``sh``   (doc_id, shingle): corpus shingle table, grown by union;
    - ``pref`` (doc_id, shingle): prefix index, grown by union;
    - ``df``   (shingle, df): document frequency, maintained ADDITIVELY
      (old df + chunk delta — one agg over the chunk's vocabulary plus
      a vocab-sized merge, not a recount over corpus shingles).

    Token order for prefixes is FROZEN at (md5(shingle), shingle):
    consistent across all epochs, so a document's prefix is computed
    exactly once, at arrival. Prefix-filter completeness holds for any
    single consistent total order — the df-ascending order of the batch
    form (:func:`setsim_join_prefix`) is only a candidate-scarcity
    optimization, never a correctness requirement, so both forms emit
    the identical exact pair set. The accumulated ``df`` state is what
    an offline order-refresh (periodic prefix rebuild under the current
    df order, Kafka-compaction-style) would consume.

    ``localCheckpoint`` after each epoch truncates lineage: the next
    epoch's plan physically cannot re-tokenize old text (plan-asserted
    in tests), and state stays spill-safe.

    Driven from ``foreachBatch`` this is the streaming dedup gate: new
    documents check into the corpus and emit their near-dup pairs
    before admission.
    """

    def __init__(self, threshold: float = JACCARD_THRESHOLD):
        self.threshold = threshold
        self.sh: DataFrame | None = None
        self.pref: DataFrame | None = None
        self.df: DataFrame | None = None
        # replay guard + storage bookkeeping (see observe())
        self._last_batch_id = None
        self._last_pairs: DataFrame | None = None

    def _prefix_of(self, sh_c: DataFrame) -> DataFrame:
        w_rank = Window.partitionBy("doc_id").orderBy(
            F.asc(F.md5("shingle")), F.asc("shingle")
        )
        w_size = Window.partitionBy("doc_id")
        t = self.threshold
        return (
            sh_c.withColumn("r", F.row_number().over(w_rank))
            .withColumn("n", F.count("*").over(w_size))
            .filter(F.col("r") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
            .select("doc_id", "shingle")
        )

    def observe(self, chunk: DataFrame, batch_id=None) -> DataFrame:
        """Ingest one chunk; return the NEW qualifying pairs (those with
        at least one member in the chunk). Union of epoch outputs over
        any chunking == the batch join's full pair set.

        Pass foreachBatch's ``batch_id`` to make ingestion IDEMPOTENT
        under at-least-once replay: a re-delivered epoch (sink failure,
        restart of the same run) returns the stored pair set WITHOUT
        touching state — otherwise the replayed docs would double every
        per-doc size and intersection count and corrupt every
        subsequent epoch's Jaccard values.

        State is bounded: each epoch's checkpoints supersede the
        previous epoch's, whose cached blocks are freed explicitly
        (localCheckpoint storage is otherwise never reclaimed —
        operators/checkpoints.py), so a long-running gate caches one
        corpus snapshot, not one per epoch."""
        from ripple_server_spark.operators.checkpoints import (
            free_local_checkpoint,
        )

        if batch_id is not None and batch_id == self._last_batch_id:
            return self._last_pairs
        sh_c = shingle_sets(chunk).localCheckpoint()
        pref_c = self._prefix_of(sh_c).localCheckpoint()
        df_c = sh_c.groupBy("shingle").agg(F.count("*").alias("df"))

        sh_all = sh_c if self.sh is None else self.sh.unionByName(sh_c)
        pref_all = pref_c if self.pref is None else self.pref.unionByName(pref_c)
        a = pref_c.alias("a")
        b = pref_all.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            )
            .distinct()
        )
        # Every candidate touches the chunk by construction (probe side
        # is chunk prefixes), so no old-x-old pair can appear and no
        # pair repeats across epochs (a pair's epoch = later member's).
        handles: list = []
        pairs = verify_jaccard(
            cand, sh_all, self.threshold, persist_registry=handles
        ).localCheckpoint()  # eager: the epoch's output is materialized
        for h in handles:
            h.unpersist()

        old = (self.sh, self.pref, self.df)
        self.sh = sh_all.localCheckpoint()
        self.pref = pref_all.localCheckpoint()
        merged = df_c if self.df is None else (
            self.df.unionByName(df_c)
            .groupBy("shingle")
            .agg(F.sum("df").alias("df"))
        )
        self.df = merged.localCheckpoint()
        # the new checkpoints carry the INTERNAL state forward — free the
        # superseded epoch's blocks. The previously RETURNED pairs frame
        # is the caller's handle: never free its blocks here (an action
        # on it would hit missing checkpoint blocks); dropping our
        # reference leaves reclamation to GC + ContextCleaner once the
        # caller lets go.
        for stale in (*old, sh_c, pref_c):
            free_local_checkpoint(stale)
        self._last_batch_id = batch_id
        self._last_pairs = pairs
        return pairs
