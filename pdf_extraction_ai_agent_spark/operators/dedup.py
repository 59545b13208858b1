"""Deduplication operators for large-scale training-data pipelines.

Four families (scale notes inline):

- exact        hash-groupBy on normalized text. One shuffle on a 60-bit
               digest; at 100 TB use the digest (not the text) as the
               shuffle key so shuffle rows are ~50 bytes, not documents.
- minhash+LSH  shingle → minhash signature (map-only Arrow kernel)
               → band buckets → bucket self-join (shuffle bounded by bucket
               sizes) → similarity estimate from signatures. No O(n²) pair
               enumeration; the classic MMDS construction.
- simhash      32-bit sign-aggregated word-hash signature (map-only Arrow
               kernel); near-dups = small Hamming distance.
- n-gram jaccard  exact verification on candidate pairs (or small corpora):
               explode distinct words, equi-join, count ratio.

The two signature kernels share one body per operator: a batch is
flattened to one token list, hashed by one call to the ``hash_impl``
family ('fnv', 'fast' or 'md5' — md5 is the portable hash of
functions/hashing.py that the DuckDB oracles replay) and reduced per
document with one ``reduceat``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.cache import tracked_persist
from ..functions.hashing import (
    LSH_BAND_SIZE,
    NUM_PERMS,
    md5_long_col,
)

# ---------------------------------------------------------------------------
# text normalization + shingling (shared)
# ---------------------------------------------------------------------------


def norm_text_col(text: Column) -> Column:
    """lowercase, non-alnum → space, collapse runs, trim."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "), " +", " ")
    )


def words_col(text: Column) -> Column:
    return F.split(norm_text_col(text), " ")


def shingles_col(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles (document order, may repeat)."""
    w = words_col(text)
    idx = F.sequence(F.lit(1), F.size(w) - (k - 1))
    return F.when(
        F.size(w) >= k,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array())


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of exact duplicates after normalization: one row per content
    digest with the canonical (min) id and the duplicate count."""
    digest = md5_long_col(norm_text_col(F.col(text_col)))
    return (
        df.select(F.col(id_col).alias("doc_id"), digest.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _hash_tokens_fast(tokens: list) -> "np.ndarray":  # noqa: F821
    """Vectorized 60-bit token hash (pandas' C siphash over object arrays,
    masked non-negative). ~10× the per-string hashlib md5 loop — the
    production hash at corpus scale, where hashing IS the bill. NOT
    portable to the DuckDB oracles (those replay md5 — hash_impl='md5').

    STABILITY CAVEAT: pandas documents no cross-version guarantee for
    hash_array (it has been stable in practice, fixed hash_key + siphash13,
    but is not a contract). hash_impl='fast' signatures are therefore only
    comparable WITHIN a deployment that pins one pandas version across all
    executors; for cross-run incremental dedup (signatures persisted in one
    run, joined in a later one) use hash_impl='fnv' (vectorized, stable
    by construction) or 'md5' (stable + oracle-portable), or pin pandas in
    the cluster image."""
    import numpy as np
    import pandas as pd

    h = pd.util.hash_array(np.asarray(tokens, dtype=object), categorize=False)
    return (h & np.uint64((1 << 60) - 1)).astype(np.int64)


def _hash_tokens_fnv(tokens: list) -> "np.ndarray":  # noqa: F821
    """Vectorized CANONICAL FNV-1a-64 over each token's UTF-8 bytes, masked
    to a non-negative 60-bit int64 — ROADMAP item 8: version-stable BY
    CONSTRUCTION (public constants 0xcbf29ce484222325 / 0x100000001b3,
    pinned against an independent scalar reference in tests), unlike
    pandas' hash_array contract. The portable PRODUCTION hash for
    persisted cross-run signature tables (incremental_lsh_candidates):
    a table written by one deployment joins correctly under any future
    numpy/pandas. Tokens are zero-padded into an (n, maxlen) uint8 matrix;
    each column applies `h = (h ^ byte) * prime` only to rows still inside
    their token (np.where mask), so values equal the byte-at-a-time FNV-1a
    of the exact string."""
    import numpy as np

    bs = [t.encode("utf-8") for t in tokens]
    n = len(bs)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    width = max(int(lens.max()), 1)
    buf = bytearray(n * width)
    for i, b in enumerate(bs):
        buf[i * width : i * width + len(b)] = b
    mat = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(n, width)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    with np.errstate(over="ignore"):
        for j in range(width):
            active = lens > j
            hx = (h ^ mat[:, j].astype(np.uint64)) * prime
            h = np.where(active, hx, h)
    return (h & np.uint64((1 << 60) - 1)).astype(np.int64)


def _hash_tokens_md5(tokens: list) -> "np.ndarray":  # noqa: F821
    """The portable 60-bit md5 hash (functions/hashing.md5_long_py) that
    the DuckDB oracles replay — one hashlib call per token, so the slowest
    family; the oracle-gated queries pin it."""
    import numpy as np

    from ..functions.hashing import md5_long_py

    return np.fromiter((md5_long_py(t) for t in tokens), dtype=np.int64, count=len(tokens))


_TOKEN_HASHES = {"fast": _hash_tokens_fast, "fnv": _hash_tokens_fnv, "md5": _hash_tokens_md5}


def _token_hash(hash_impl: str):
    """The batch token-hash function for ``hash_impl``; raises on any other
    name, so a typo cannot silently pick a family."""
    if hash_impl not in _TOKEN_HASHES:
        raise ValueError(
            f"hash_impl must be one of {sorted(_TOKEN_HASHES)}, got {hash_impl!r}"
        )
    return _TOKEN_HASHES[hash_impl]


def _flat_tokens(ids, texts, tokens_of) -> tuple:
    """One Arrow batch flattened for the signature kernels: every kept
    doc's tokens in one list, the offset where each kept doc starts, and
    the kept doc ids. ``tokens_of`` maps a normalized text (norm_text_col's
    rule) to its token list; a doc with no tokens, a null text among them,
    is skipped. One hash call and one ``reduceat`` then cover the whole
    batch."""
    import numpy as np

    norm = (
        texts.fillna("").astype(str).str.lower()
        .str.replace("[^a-z0-9]+", " ", regex=True)
        .str.replace(" +", " ", regex=True)
        .str.strip()
    )
    flat: list = []
    bounds: list[int] = []
    kept: list[int] = []
    for doc_id, s in zip(ids, norm):
        toks = tokens_of(s)
        if not toks:
            continue
        bounds.append(len(flat))
        flat.extend(toks)
        kept.append(int(doc_id))
    return flat, np.array(bounds, dtype=np.int64), np.array(kept, dtype=np.int64)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       k: int = 3, hash_impl: str = "fnv") -> DataFrame:
    """(doc_id, mh_0..mh_{NUM_PERMS-1}) — min over word-k-gram shingle
    hashes per permutation.

    Implementation: Arrow-batched mapInPandas kernel (numpy for the 16
    affine permutations). Chosen over the declarative explode+agg after
    measurement — Spark's higher-order array functions are interpreted
    (CodegenFallback), making the built-in path ~20× slower on shingle
    construction. Map-only: no shuffle at all (each doc's signature is
    computed where the doc lives); docs with fewer than k words produce no
    row (matches the SQL oracle).

    ``hash_impl``: 'fnv' (default since round 5 — ROADMAP 8) = vectorized
    canonical FNV-1a-64 (_hash_tokens_fnv): fastest measured AND
    version-stable by construction, safe to persist across runs (golden
    constants pinned in tests); 'md5' = the engine-portable 60-bit md5
    hash the DuckDB oracles replay, one hashlib call per shingle — the
    oracle-gated queries pin it explicitly; 'fast' = vectorized siphash
    (kept for comparison; pandas documents no cross-version stability
    contract, so never persist 'fast' signatures). Bench records the
    md5↔fast↔fnv speedups.
    """
    import numpy as np
    import pandas as pd

    from ..functions.hashing import MERSENNE_P, MINHASH_AB

    hash_tokens = _token_hash(hash_impl)
    cols = ["doc_id"] + [f"mh_{i}" for i in range(NUM_PERMS)]
    schema = ", ".join(f"{c} long" for c in cols)
    A = np.array([a for a, _ in MINHASH_AB], dtype=np.int64)[:, None]
    B = np.array([b for _, b in MINHASH_AB], dtype=np.int64)[:, None]

    def shingles(s: str) -> list:
        if s == "":
            return []
        w = s.split(" ")
        return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]

    def kernel(batches):
        for pdf in batches:
            flat, bounds, ids = _flat_tokens(pdf[id_col], pdf[text_col], shingles)
            if not len(ids):
                yield pd.DataFrame(columns=cols).astype("int64")
                continue
            hs = hash_tokens(flat)
            perms = (A * (hs[None, :] % MERSENNE_P) + B) % MERSENNE_P  # (16, n)
            mins = np.minimum.reduceat(perms, bounds, axis=1)  # (16, docs)
            out = pd.DataFrame({"doc_id": ids})
            for i in range(NUM_PERMS):
                out[f"mh_{i}"] = mins[i]
            yield out.astype("int64")

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(kernel, schema=schema)


def lsh_bands(sig: DataFrame) -> DataFrame:
    """Signature → (doc_id, band_idx, band_key). band_key is the md5-long of
    the ':'-joined band slice — tiny shuffle rows."""
    n_bands = NUM_PERMS // LSH_BAND_SIZE
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * LSH_BAND_SIZE + j}").cast("string") for j in range(LSH_BAND_SIZE)]
        bands.append(
            F.struct(F.lit(b).alias("band_idx"),
                     md5_long_col(F.concat_ws(":", *cols)).alias("band_key"))
        )
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("band")).select(
        "doc_id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )


def lsh_candidates(sig: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs sharing ≥1 LSH band.

    Scale: the only non-broadcast shuffle is the self-join on
    (band_idx, band_key); AQE's skew-join split handles hot buckets.
    ``max_bucket`` drops buckets larger than the cap BEFORE the self-join —
    the standard guard against adversarial corpora (a boilerplate band
    shared by millions of docs would otherwise emit |bucket|² pairs; such
    pairs are near-worthless anyway because giant buckets are driven by
    degenerate shingles). Default off so the oracle twin stays exact.
    """
    # disjoint column names on every leg — Spark's self-join lineage
    # dedup silently mis-resolves `alias().col` chains over a shared plan
    bands = lsh_bands(sig)
    if max_bucket is not None:
        counts = bands.groupBy("band_idx", "band_key").agg(F.count(F.lit(1)).alias("_n"))
        bands = bands.join(
            counts.filter(F.col("_n") <= max_bucket).drop("_n"), ["band_idx", "band_key"]
        )
    left = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def incremental_lsh_candidates(
    prior_sig: DataFrame, new_sig: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Cross-run incremental near-dup (the daily-crawl-increment workflow,
    round-3 verdict item 5): candidate pairs involving ≥1 NEW document,
    probed against the union of a PERSISTED prior-run signature table and
    the new batch. prior×prior pairs were reported by earlier runs, so
    per-run outputs union to exactly the one-shot candidate set over all
    documents (pinned by test_incremental_lsh_equals_one_shot).

    Resubmitted doc_ids are dropped from the new batch first (left_anti on
    the prior table) — reruns are idempotent. Signatures must be
    hash_impl='md5' or 'fnv': both version-stable by construction, so a
    table written by one deployment joins correctly in the next
    (_hash_tokens_fast's pandas caveat above makes 'fast' unsuitable for
    persistence; 'fnv' keeps the vectorized speed).

    Scale: prior signatures arrive as a parquet/Iceberg table scan; the
    only wide shuffle is the band-key equi-join carrying (band_idx,
    band_key, doc_id). ``max_bucket`` caps are computed over the UNION —
    identical semantics to the one-shot cap on the full corpus, so a
    bucket that overflowed only after the increment stops emitting pairs
    exactly as a fresh full run would."""
    fresh_sig = _fresh_signatures(prior_sig, new_sig)
    all_sig = prior_sig.unionByName(fresh_sig)
    bands_all = lsh_bands(all_sig)
    bands_new = lsh_bands(fresh_sig)
    if max_bucket is not None:
        ok = (
            bands_all.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
        bands_all = bands_all.join(ok, ["band_idx", "band_key"])
        bands_new = bands_new.join(ok, ["band_idx", "band_key"])
    left = bands_new.select(F.col("doc_id").alias("new_id"), "band_idx", "band_key")
    right = bands_all.select(F.col("doc_id").alias("other_id"), "band_idx", "band_key")
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("new_id") != F.col("other_id"))
        .select(
            F.least("new_id", "other_id").alias("doc_a"),
            F.greatest("new_id", "other_id").alias("doc_b"),
        )
        .distinct()
    )


def _fresh_signatures(prior_sig: DataFrame, new_sig: DataFrame) -> DataFrame:
    """New-batch signatures minus resubmitted doc_ids — the ONE definition
    of the resubmission rule (prior wins), shared by the candidate probe
    and the state update so they can never drift."""
    return new_sig.join(prior_sig.select("doc_id"), "doc_id", "left_anti")


def signature_state_union(prior_sig: DataFrame, new_sig: DataFrame) -> DataFrame:
    """Next run's persisted signature state: prior ∪ (new minus resubmitted
    ids). Write this back to the signatures table after
    incremental_lsh_candidates."""
    return prior_sig.unionByName(_fresh_signatures(prior_sig, new_sig))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      k: int = 3, threshold: float = 0.5,
                      hash_impl: str = "fnv") -> DataFrame:
    """Candidate near-dup pairs from LSH buckets (lsh_candidates), scored by
    the signature jaccard estimate (fraction of agreeing minhashes),
    thresholded."""
    # signatures feed three plan legs (bands + both score sides): persist,
    # or Spark recomputes the whole shingle/hash kernel 3×. At cluster scale
    # this is a materialized signatures table instead.
    sig = tracked_persist(minhash_signatures(df, id_col, text_col, k, hash_impl))
    cand = lsh_candidates(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(NUM_PERMS)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(NUM_PERMS)])
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(NUM_PERMS)
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (matches.cast("double") / F.lit(float(NUM_PERMS))).alias("est_jaccard"),
        )
    )
    return scored.filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32  # 32-bit keeps the bit-sum explode at 32×words rows


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            hash_impl: str = "fnv") -> DataFrame:
    """(doc_id, simhash) — sign aggregation over DISTINCT word hashes.

    Arrow-batched mapInPandas kernel (numpy bit matrix): the declarative
    form needs a 32× bit-index explode whose shift expressions fall out of
    codegen; the kernel is map-only (no shuffle) and bit-exact against the
    SQL oracle. Docs with no words produce no row. ``hash_impl`` as in
    minhash_signatures ('fnv' default — vectorized + version-stable;
    'md5' = oracle-portable; 'fast' = siphash, non-persistable).
    """
    import numpy as np
    import pandas as pd

    hash_tokens = _token_hash(hash_impl)
    bits = np.arange(SIMHASH_BITS, dtype=np.int64)

    def distinct_words(s: str) -> list:
        return sorted(set(w for w in s.split(" ") if w))

    def kernel(batches):
        for pdf in batches:
            flat, bounds, ids = _flat_tokens(pdf[id_col], pdf[text_col], distinct_words)
            if not len(ids):
                yield pd.DataFrame(columns=["doc_id", "simhash"]).astype("int64")
                continue
            hs = hash_tokens(flat)
            signs = np.where(((hs[:, None] >> bits[None, :]) & 1) == 1, 1, -1)
            sums = np.add.reduceat(signs, bounds, axis=0)  # (docs, 32)
            sigs = ((sums > 0).astype(np.int64) << bits).sum(axis=1)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs}).astype("int64")

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        kernel, schema="doc_id long, simhash long"
    )


# ---------------------------------------------------------------------------
# applying dedup: keep-lists and duplicate clusters
# ---------------------------------------------------------------------------


def dedup_keep_list(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The standard 'keep the smallest id of each near-dup pair' policy:
    drop any doc that appears as the LARGER side of a pair. One broadcast-
    able anti-join — the cheap, order-stable rule production dedup
    pipelines use before the (optional) full clustering pass."""
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def duplicate_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over the near-dup pair graph → (doc_id,
    cluster_id) with cluster_id = min doc id reachable.

    Min-label propagation accelerated with pointer doubling: each round
    takes the min over (own label, neighbor labels, label-of-label), so a
    path of diameter d converges in O(log d) rounds, not O(d) — the same
    asymptotics as alternating small-star/large-star, with two bounded
    shuffles per round (one on the edge join, one on the label-parent
    join). Each round's labels are eagerly localCheckpoint-ed: that both
    truncates the logical plan (self-joins otherwise grow the lineage
    exponentially with rounds → driver OOM) and caches exactly one
    generation; on a cluster use a reliable checkpoint dir instead so
    executor loss can't lose a generation. Raises if the graph hasn't
    converged within ``max_iters`` (2^25 ≫ any real diameter) instead of
    silently returning partial labels.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("cluster_id").alias("n_min"))
        )
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("n_min", F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
        )
        # pointer doubling: follow my label's label (labels form a
        # min-monotone parent forest, so label(label(u)) ≤ label(u))
        parents = stepped.select(
            F.col("doc_id").alias("p_doc"), F.col("cluster_id").alias("p_label")
        )
        new_labels = (
            stepped.join(parents, stepped.cluster_id == parents.p_doc, "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("p_label", F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels.unpersist()  # drop the previous generation's blocks
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge within {max_iters} rounds — "
            "component diameter exceeds 2^rounds; raise max_iters"
        )
    # the final generation's localCheckpoint blocks outlive the return —
    # register them so a long session's release_tracked() can drop them
    from ..plans.cache import track

    return track(labels)


# ---------------------------------------------------------------------------
# exact n-gram / word-set jaccard
# ---------------------------------------------------------------------------


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  threshold: float = 0.5, pairs: DataFrame | None = None,
                  unit: str = "word") -> DataFrame:
    """Exact set jaccard over ``unit`` tokens ("word" or "shingle" — word
    3-grams, the same unit the minhash signatures estimate).

    Production shape: pass ``pairs`` (doc_a, doc_b — e.g. lsh_candidates)
    with ``unit="shingle"`` — LSH candidates then verify the exact same
    quantity the bands estimated, and the intersection join touches
    candidate pairs only. Without a pair source the plan is quadratic —
    the verification baseline tests compare the candidate form against.
    """
    tokens = (
        shingles_col(F.col(text_col)) if unit == "shingle" else words_col(F.col(text_col))
    )
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens)).alias("word"),
    ).filter(F.col("word") != "")
    if pairs is not None:
        # semi-restrict the exploded token table to docs that appear in a
        # candidate pair BEFORE the persist and the sizes aggregate —
        # otherwise both run corpus-wide even when candidates touch 0.1%
        # of docs (a ~1000× overshoot at scale). Only candidate docs ever
        # need a size: the output joins sizes through the pair set.
        pair_docs = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        w = w.join(pair_docs, "doc_id", "left_semi")
    w = tracked_persist(w)  # feeds sizes + both join legs
    sizes = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    if pairs is not None:
        # semi-restrict BOTH token legs to their side's candidate docs
        # before the word join, halving each shuffle leg again
        l = w.join(
            pairs.select(F.col("doc_a").alias("doc_id")).distinct(), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("doc_a"), "word")
        r = w.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("doc_b"), "word")
        inter = (
            pairs.join(l, "doc_a")
            .join(r, ["doc_b", "word"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        l = w.select(F.col("doc_id").alias("doc_a"), "word")
        r = w.select(F.col("doc_id").alias("doc_b"), "word")
        inter = (
            l.join(r, "word")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_words").alias("nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# fixed-window exact-substring dedup (corpus-wide, Lee et al. 2021 style)
# ---------------------------------------------------------------------------


def chunk_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 12,
) -> DataFrame:
    """(id, pos, chunk, h): non-overlapping ``window_words``-word chunks of
    the whitespace-normalized text with their portable 60-bit digest —
    the shared map stage of the batch and streaming window-dedup paths."""
    words = F.split(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
    )
    n_chunks = F.ceil(F.size(words) / F.lit(window_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * window_words + 1, window_words)
        ),
    )
    ex = df.select(F.col(id_col), F.posexplode(chunks).alias("pos", "chunk"))
    return ex.select(
        id_col, "pos", "chunk", md5_long_col(F.col("chunk")).alias("h")
    )


def window_exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 12,
) -> DataFrame:
    """Corpus-wide exact-substring deduplication at fixed word-window
    granularity — the scalable approximation of Lee et al. 2021's
    ExactSubstr pass (suffix arrays don't distribute; fixed windows do):
    each document is cut into non-overlapping ``window_words``-word chunks,
    and every chunk whose text already appeared anywhere earlier in the
    corpus (earlier = smaller (doc_id, chunk_pos)) is dropped; the
    document is re-assembled from its surviving chunks.

    Scale shape: chunking is a narrow map (split + slice); the only
    corpus-wide shuffle keys on the chunk's 60-bit digest — ~24 bytes per
    shuffle row, never the chunk text.  First-occurrence is an algebraic
    ``min(struct(doc_id, pos))`` (map-side partials), re-assembly shuffles
    once more on doc_id.  No window over a global order, no collect.

    Returns (id_col, clean_text, n_chunks, n_kept, n_dropped) for every
    input document (all-duplicate documents survive with clean_text='').
    """
    hashed = chunk_hashes(df, text_col, id_col, window_words)
    first = hashed.groupBy("h").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
        ).alias("f")
    )
    kept = (
        hashed.join(first, "h")
        .where(
            (F.col(id_col) == F.col("f.d")) & (F.col("pos") == F.col("f.p"))
        )
        .select(id_col, "pos", "chunk")
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("chunk")))
                ),
                lambda s: s.chunk,
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    return (
        totals.join(kept_agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )
