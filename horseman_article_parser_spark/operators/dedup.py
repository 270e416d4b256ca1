"""Document deduplication at training-pipeline scale: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

The reference's only dedup is an in-memory JS `Set` over URLs
(/root/reference/scripts/batch-sample-run.js:66,72-77); these operators
are the content-level generalization a 100 TB corpus pipeline needs.

Design rules:
- Pure Column algebra (md5-based hashing, `functions.hashing`) — no
  Python crossing anywhere, every formula renderable as DuckDB oracle SQL.
- One shuffle per logical step, always on a high-cardinality key
  (fingerprint, (doc, shingle), band-bucket); map-side partial agg takes
  the pre-shuffle volume down to distinct keys.
- SimHash avoids the tokens×bits row explosion by computing the per-bit
  sign-sums as N independent aggregate expressions over the token
  explode (rows = tokens, not tokens×bits).
- LSH candidate verification joins signatures (small, fixed width), not
  raw text — `bytes`/`text` columns never enter a shuffle (SURVEY §7.3).

Scale shape at 10^10 docs: shingle explode is the big intermediate
(docs × ~len/step rows) but it only carries (doc_id, 8-char shingle) and
collapses immediately via map-side distinct+min; band buckets are
skew-prone when corpora contain boilerplate — the candidate-pair join
caps bucket fan-out with `max_bucket` (drop degenerate mega-buckets,
standard MinHash-LSH practice; logged, not silent).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from ..functions.hashing import MINHASH_P, h32, minhash_params, universal_hash
from ..functions.partitioning import fan_out
from ..functions.textstats import fingerprint_col, normalize_text_col, tokens_col

DEFAULT_SHINGLE_K = 8
DEFAULT_SHINGLE_STEP = 4


# ------------------------------------------------------------ exact


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text,
    with the keeper (min id) and duplicate count. Single shuffle on the
    md5 fingerprint; partial agg collapses dups map-side."""
    return (
        docs.select(F.col(id_col), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per normalized-text fingerprint."""
    w = Window.partitionBy(fingerprint_col(text_col)).orderBy(id_col)
    return docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------- shingles


def shingles_col(text: Column | str, k: int = DEFAULT_SHINGLE_K,
                 step: int = DEFAULT_SHINGLE_STEP) -> Column:
    """Character k-gram shingles at a fixed stride over normalized text.
    Stride `step` bounds the explode factor to len/step (≈len/4) while
    preserving Jaccard resolution for near-dup detection."""
    t = normalize_text_col(text)
    positions = F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1)), F.lit(step))
    return F.transform(positions, lambda i: F.substring(t, i, k))


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 k: int = DEFAULT_SHINGLE_K, step: int = DEFAULT_SHINGLE_STEP,
                 distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs — the set representation when
    `distinct=True`; the raw multiset otherwise (enough for any
    duplicate-insensitive consumer like MinHash's `min`, saving the
    distinct's full shuffle of the exploded rows).

    The normalization regex runs ONCE per document in its own projection
    (referenced from every shingle position, CollapseProject keeps it
    un-inlined), and the narrow pre-explode rows are `fan_out` so a
    single-split local file doesn't serialize the explode."""
    t = normalize_text_col(text_col)
    norm = fan_out(docs.select(F.col(id_col), t.alias("_t")))
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("_t") - (k - 1), F.lit(1)), F.lit(step)
    )
    sh = norm.select(
        F.col(id_col),
        F.explode(
            F.transform(positions, lambda i: F.substring(F.col("_t"), i, k))
        ).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


# ------------------------------------------------------------ minhash


def minhash_signatures(docs: DataFrame, n_hashes: int = 16, id_col: str = "doc_id",
                       text_col: str = "text", k: int = DEFAULT_SHINGLE_K,
                       step: int = DEFAULT_SHINGLE_STEP) -> DataFrame:
    """MinHash signature per doc: columns mh0..mh{n-1} (bigint).

    Plan: shingle explode → h32(shingle) → n universal hashes → one
    hash-agg of n mins keyed on doc_id. The n hash functions are n
    *expressions* over one exploded column, not n passes. `min` is
    duplicate-insensitive, so the multiset of shingles feeds the agg
    directly — no distinct, exactly one shuffle (with map-side partial
    mins) in the whole plan."""
    params = minhash_params(n_hashes)
    sh = doc_shingles(docs, id_col, text_col, k, step, distinct=False)
    h = h32(F.col("shingle"))
    aggs = [
        F.min(universal_hash(h, a, b)).alias(f"mh{j}")
        for j, (a, b) in enumerate(params)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(signatures: DataFrame, bands: int, rows_per_band: int,
                     id_col: str = "doc_id",
                     carry_signature: bool = False) -> DataFrame:
    """(band, bucket, doc_id[, mh*]): bucket = md5-hash of the band's
    signature slice. Docs sharing (band, bucket) are near-dup
    candidates. carry_signature=True copies the mh columns through the
    explode — cheaper than joining the signature table back onto the
    exploded rows when a caller wants both."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh")]
    assert len(mh_cols) >= bands * rows_per_band
    # all bands in ONE pass: array of (band, bucket) structs → explode.
    # A per-band union would recompute the signature aggregation once
    # per band (the plan forks above the agg, not below it).
    entries = []
    for b in range(bands):
        slice_cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        key = F.concat_ws("_", *[c.cast("string") for c in slice_cols])
        entries.append(F.struct(F.lit(b).alias("band"), h32(key).alias("bucket")))
    carry = [F.col(c) for c in mh_cols] if carry_signature else []
    return signatures.select(
        F.explode(F.array(*entries)).alias("_bb"), F.col(id_col), *carry
    ).select(
        F.col("_bb.band").alias("band"),
        F.col("_bb.bucket").alias("bucket"),
        F.col(id_col),
        *[c for c in mh_cols] if carry_signature else [],
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int, rows_per_band: int,
                        id_col: str = "doc_id", max_bucket: int = 1000) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from shared LSH buckets.

    Self-join on (band, bucket) — both sides shuffle on the bucket key.
    Buckets larger than `max_bucket` are dropped (boilerplate clusters;
    at 10^10 docs a single mega-bucket would otherwise quadratically
    dominate the join). Callers should report the dropped-bucket count."""
    buckets = lsh_band_buckets(signatures, bands, rows_per_band, id_col)
    sized = buckets.withColumn(
        "_n", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("_n") <= max_bucket).drop("_n")
    a = sized.select("band", "bucket", F.col(id_col).alias("id_a"))
    b = sized.select("band", "bucket", F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_similarity(signatures: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Estimated Jaccard = fraction of agreeing signature slots, for the
    candidate pairs only (signatures are narrow; text never joins)."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh")]
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in mh_cols]
    )
    sig_b = signatures.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in mh_cols]
    )
    joined = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = None
    for c in mh_cols:
        t = F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return joined.select(
        "id_a", "id_b",
        (agree.cast("double") / F.lit(len(mh_cols))).alias("est_jaccard"),
    )


# ------------------------------------------------------ exact jaccard


def ngram_jaccard(docs_a: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = DEFAULT_SHINGLE_K,
                  step: int = DEFAULT_SHINGLE_STEP) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_a, id_b) pairs.

    r6 shape: one per-doc shingle SET array (array_distinct over the
    stride shingles, built once per doc at the scan), joined to the
    pair table by each side's id; |A∩B| = size(array_intersect),
    |A∪B| = |A|+|B|−∩ — all per-row, zero aggregations. The former
    plan referenced the (doc, shingle) explode three times (two join
    sides + a size groupBy), so Spark recomputed the explode+distinct
    thrice and paid ~11 exchanges for 6 logical steps. Values are
    bit-identical: the same shingle sets, the same integer counts, the
    same double division.

    Scale note: the per-row arrays carry ~len/step shingles — bounded
    by the same explode volume the old plan shuffled per pair, so the
    pair join moves no more bytes than before; the per-doc set build
    is now O(docs) instead of O(pairs) work."""
    shset = docs_a.select(
        F.col(id_col),
        F.array_distinct(shingles_col(text_col, k, step)).alias("_sh"),
    )
    a = shset.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = shset.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_n_inter", inter)
        .select(
            "id_a", "id_b",
            (
                F.col("_n_inter").cast("double")
                / (F.size("_sh_a") + F.size("_sh_b") - F.col("_n_inter"))
            ).alias("jaccard"),
        )
    )


# ------------------------------------------------------------ simhash


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """SimHash fingerprint: per-bit sign-sum of token hashes.

    Explode rows = tokens (NOT tokens×bits): each of the `bits` sign-sums
    is an independent aggregate expression `sum(CASE (h>>b)&1 ...)`, so
    one shuffle on doc_id computes the whole fingerprint.

    The token hash is STAGED as a column below the aggregate — each
    sign-sum references `_h`, not `h32(tok)`: aggregate expressions are
    evaluated independently, so the inline form re-hashed every token
    `bits` times (measured 17 s → 5 s at sf1/32 bits)."""
    toks = fan_out(docs.select(F.col(id_col), tokens_col(text_col).alias("_toks"))).select(
        F.col(id_col), F.explode_outer("_toks").alias("tok")
    ).withColumn("_h", h32(F.col("tok")))
    h = F.col("_h")
    aggs = [
        F.sum(
            F.when(F.col("tok").isNull(), 0)
            .when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long") * (1 << b)).otherwise(0)
        sig = bit if sig is None else sig + bit
    return sums.select(F.col(id_col), sig.alias("simhash"))


# persisted intermediates registered by operators below; callers
# release them after materializing results (bench does this between
# timed queries to keep runs independent)
_CACHED: list[DataFrame] = []


def release_cached() -> int:
    """Unpersist every intermediate this module cached; returns the
    count released. Safe to call at any point after the consuming
    actions have run."""
    n = 0
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def blocked_hamming_pairs(sig_df: DataFrame, sig_col: str, id_col: str,
                          bits: int, n_blocks: int, max_hamming: int,
                          max_bucket: int = 1000) -> DataFrame:
    """(id_a, id_b, hamming ≤ max_hamming) via the block-permutation
    trick (any pair within distance max_hamming < n_blocks shares ≥1
    exact chunk), with TWO degenerate-skew guards (VERDICT r02 #2):

    1. identical signatures COLLAPSE to one row before the chunk join —
       a boilerplate corpus where 10^6 docs share one fingerprint
       contributes ONE row per chunk bucket, not 10^6 (the quadratic
       pair explosion would otherwise land in a single join task);
       member pairs are expanded back AFTER the distance verify, so the
       expansion is output-proportional, distributed by the high-
       cardinality signature key.
    2. chunk buckets holding > max_bucket DISTINCT signatures are
       dropped (same cap as `lsh_candidate_pairs`), and identical-
       signature groups larger than max_bucket are not expanded —
       degenerate clusters are a dedup-cluster report's job, not a
       pair list's.
    """
    from pyspark import StorageLevel

    # the signature table is referenced ~20× below (8 block projections,
    # both self-join sides, member expansion) — without a persist every
    # reference re-executes the upstream plan, which for a mapInPandas
    # producer (e.g. image synthesis/decode) multiplies its cost by 20
    # (measured 34 s → 4 s on the 128-image fixture). The persisted form
    # is the NARROW (sig, id) projection only — 16 bytes/row, spillable.
    # Persisted frames are tracked so long-lived sessions can reclaim
    # the storage with release_cached() once results are materialized
    # (an operator returning a lazy DataFrame cannot unpersist itself).
    members = sig_df.select(
        F.col(sig_col).alias("_sig"), F.col(id_col).alias("_id")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED.append(members)
    usig = members.select("_sig").distinct()
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    parts = [
        usig.select(
            F.lit(i).alias("blk"),
            F.shiftrightunsigned(F.col("_sig"), i * block_bits)
            .bitwiseAND(F.lit(mask)).alias("chunk"),
            F.col("_sig"),
        )
        for i in range(n_blocks)
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    sized = allc.withColumn(
        "_n", F.count("*").over(Window.partitionBy("blk", "chunk"))
    ).filter(F.col("_n") <= max_bucket).drop("_n")
    a = sized.select("blk", "chunk", F.col("_sig").alias("_sig_a"))
    b = sized.select("blk", "chunk", F.col("_sig").alias("_sig_b"))
    sig_pairs = (
        a.join(b, ["blk", "chunk"])
        .filter(F.col("_sig_a") < F.col("_sig_b"))
        .select("_sig_a", "_sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("_sig_a").bitwiseXOR(F.col("_sig_b")))
    sig_pairs = sig_pairs.select("_sig_a", "_sig_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    # expand verified signature pairs to member pairs (ids normalized so
    # id_a < id_b regardless of which group holds the smaller id)
    ma = members.select(F.col("_sig").alias("_sig_a"), F.col("_id").alias("_ma"))
    mb = members.select(F.col("_sig").alias("_sig_b"), F.col("_id").alias("_mb"))
    cross = (
        sig_pairs.join(ma, "_sig_a").join(mb, "_sig_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "hamming",
        )
    )
    # within-group pairs: identical signatures are Hamming 0 by identity
    wg = members.withColumn(
        "_g", F.count("*").over(Window.partitionBy("_sig"))
    ).filter((F.col("_g") > 1) & (F.col("_g") <= max_bucket)).drop("_g")
    wa = wg.select("_sig", F.col("_id").alias("id_a"))
    wb = wg.select("_sig", F.col("_id").alias("id_b"))
    within = (
        wa.join(wb, "_sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return cross.unionByName(within)


def simhash_near_pairs(sig: DataFrame, max_hamming: int = 3, bits: int = 32,
                       id_col: str = "doc_id", n_blocks: int = 4,
                       max_bucket: int = 1000) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming —
    block-permutation equi-join with identical-signature collapse and
    mega-bucket caps (see `blocked_hamming_pairs`)."""
    return blocked_hamming_pairs(
        sig, "simhash", id_col, bits, n_blocks, max_hamming, max_bucket
    )


# ----------------------------------------------- embedding near-dup


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_planes: int = 8, seed: int = 7,
                        max_bucket: int = 1000) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold, LSH-bucketed.

    Random-hyperplane signature (n_planes sign bits, deterministic seeded
    planes) buckets the vectors; exact cosine verifies within-bucket pairs.
    High thresholds ⇒ near-dups almost surely agree on all sign bits, so
    the bucket join finds them without the O(n²) cross join.

    Shuffle discipline (VERDICT r02 #2/#3): fingerprint, bucket and norm
    are all computed scan-side; only (id, fp, bucket, norm) rows enter
    shuffles. Full vectors cross the wire exactly once — the id-keyed
    verify join — never the bucket exchange. Identical vectors collapse
    to one representative before the bucket self-join (they'd otherwise
    make a degenerate bucket quadratic in ONE task on repeated-embedding
    corpora), and buckets with > max_bucket distinct vectors are dropped,
    as are identical-vector groups larger than max_bucket."""
    from .similarity import cosine_col, hyperplane_bucket_col, l2_norm_col

    keyed = emb.select(
        F.col(id_col).alias("_id"),
        F.md5(
            F.concat_ws(",", F.transform(F.col(vec_col), lambda x: x.cast("string")))
        ).alias("_fp"),
        hyperplane_bucket_col(F.col(vec_col), n_planes=n_planes, seed=seed).alias("bucket"),
        l2_norm_col(F.col(vec_col)).alias("_norm"),
    )
    # identical vectors → identical (bucket, norm); min-id representative
    groups = keyed.groupBy("_fp").agg(
        F.min("_id").alias("_rep"),
        F.first("bucket").alias("bucket"),
        F.first("_norm").alias("_norm"),
        F.count("*").alias("_g"),
    )
    sized = groups.withColumn(
        "_n", F.count("*").over(Window.partitionBy("bucket"))
    ).filter(F.col("_n") <= max_bucket).drop("_n")
    a = sized.select("bucket", F.col("_rep").alias("_ra"), F.col("_norm").alias("na"))
    b = sized.select("bucket", F.col("_rep").alias("_rb"), F.col("_norm").alias("nb"))
    cand = (
        a.join(b, "bucket")
        .filter(F.col("_ra") < F.col("_rb"))
        .select("_ra", "_rb", "na", "nb")
    )
    # verify: vectors join back BY ID — the only shuffle vectors ride
    va = emb.select(F.col(id_col).alias("_ra"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("_rb"), F.col(vec_col).alias("_vb"))
    verified = (
        cand.join(va, "_ra").join(vb, "_rb")
        .select(
            "_ra", "_rb",
            cosine_col(F.col("_va"), F.col("_vb"), F.col("na"), F.col("nb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    # expand representative pairs back to member pairs
    members = keyed.join(groups.select("_fp", "_rep"), "_fp").select("_rep", "_id")
    ma = members.select(F.col("_rep").alias("_ra"), F.col("_id").alias("_ma"))
    mb = members.select(F.col("_rep").alias("_rb"), F.col("_id").alias("_mb"))
    cross = (
        verified.join(ma, "_ra").join(mb, "_rb")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "cosine",
        )
    )
    # within-group pairs: identical non-zero vectors have cosine exactly 1
    wg = groups.filter(
        (F.col("_g") > 1) & (F.col("_g") <= max_bucket) & (F.col("_norm") > 0)
    ).select("_fp")
    wm = keyed.join(wg, "_fp").select("_fp", "_id")
    wa = wm.select("_fp", F.col("_id").alias("id_a"))
    wb = wm.select("_fp", F.col("_id").alias("id_b"))
    within = (
        wa.join(wb, "_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("cosine"))
    )
    return cross.unionByName(within)


# ------------------------------------------------ per-doc batch kernels
#
# Arrow twins of minhash_signatures→lsh_band_buckets and simhash (guide
# §4): a document's MinHash signature / SimHash fingerprint depends on
# that document alone, so the declarative explode → hash-aggregate
# shape pays a ~3.7M-row (sf1) Generate plus a (map-side-combined) shuffle for
# what is per-row work. The kernels do the identical md5-based integer
# arithmetic (functions.hashing contract) in one pass — shingle/token
# h32 values are memoized across the batch (synthetic and boilerplate
# corpora repeat heavily) and the per-doc mins / per-bit sign-sums are
# vectorized with numpy reduceat over one flat hash array.
# Bit-equivalence with the declarative plans is pinned in
# tests/test_dedup.py::test_minhash_kernel_matches_declarative /
# test_simhash_kernel_matches_declarative.


def _h32_py(s: str) -> int:
    """Python mirror of hashing.h32: md5 → first 8 hex digits → uint32."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def minhash_lsh_batch(docs: DataFrame, n_hashes: int = 16, bands: int = 4,
                      rows_per_band: int = 2, id_col: str = "doc_id",
                      text_col: str = "text", k: int = DEFAULT_SHINGLE_K,
                      step: int = DEFAULT_SHINGLE_STEP) -> DataFrame:
    """minhash_signatures + lsh_band_buckets(carry_signature=True) in
    one kernel pass: (band, bucket, doc_id, mh0..mh{n-1}) rows, zero
    shuffles."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..functions.hashing import MINHASH_P, minhash_params
    from ..functions.textstats import _java_normalize

    assert n_hashes >= bands * rows_per_band
    params = minhash_params(n_hashes)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)

    id_field = docs.schema[id_col]
    mh_cols = [f"mh{j}" for j in range(n_hashes)]
    out_schema = (
        "band int, bucket long, "
        f"{id_col} {id_field.dataType.simpleString()}, "
        + ", ".join(f"{c} long" for c in mh_cols)
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def sh_hash(s: str) -> int:
            h = memo.get(s)
            if h is None:
                h = _h32_py(s)
                memo[s] = h
            return h

        for pdf in batches:
            if not len(pdf):
                continue
            flat: list[int] = []
            offsets = [0]
            for text in pdf[text_col]:
                t = _java_normalize(text if text is not None else "")
                # mirror of shingles_col: 1-based stride positions over
                # sequence(1, greatest(len-(k-1), 1), step)
                top = max(len(t) - (k - 1), 1)
                flat.extend(
                    sh_hash(t[i:i + k]) for i in range(0, top, step)
                )
                offsets.append(len(flat))
            hm = np.asarray(flat, dtype=np.int64) % MINHASH_P
            starts = np.asarray(offsets[:-1], dtype=np.intp)
            # h_j(x) = (a_j * (x mod P) + b_j) mod P, all < 2^52; one
            # pass per hash keeps temporaries at one row, not n_hashes
            mins = np.empty((n_hashes, len(pdf)), dtype=np.int64)
            for j in range(n_hashes):
                mins[j] = np.minimum.reduceat(
                    (a_vec[j] * hm + b_vec[j]) % MINHASH_P, starts)
            ids = pdf[id_col].to_numpy()
            # band explosion vectorized: rows are doc-major × band
            bucket_keys = [
                "_".join(str(int(mins[b * rows_per_band + r, d]))
                         for r in range(rows_per_band))
                for d in range(len(pdf)) for b in range(bands)
            ]
            out = pd.DataFrame({
                "band": pd.Series(
                    np.tile(np.arange(bands, dtype=np.int32), len(pdf))),
                "bucket": pd.Series(
                    [sh_hash(kk) for kk in bucket_keys], dtype="int64"),
                id_col: pd.Series(np.repeat(ids, bands),
                                  dtype=pdf[id_col].dtype),
            })
            for j, c in enumerate(mh_cols):
                out[c] = pd.Series(np.repeat(mins[j], bands), dtype="int64")
            yield out

    sel = docs.select(F.col(id_col), F.col(text_col))
    return sel.mapInPandas(kernel, out_schema)


def simhash_batch(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """simhash() in one kernel pass: (doc_id, simhash) with the per-bit
    sign-sums vectorized over a flat token-hash array."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..functions.textstats import _java_tokens

    id_field = docs.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, simhash long"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def tok_hash(s: str) -> int:
            h = memo.get(s)
            if h is None:
                h = _h32_py(s)
                memo[s] = h
            return h

        for pdf in batches:
            if not len(pdf):
                continue
            flat: list[int] = []
            offsets = [0]
            for text in pdf[text_col]:
                toks = _java_tokens(text if text is not None else "")
                flat.extend(tok_hash(t) for t in toks)
                offsets.append(len(flat))
            # one zero pad past the last token: a token-less trailing doc
            # starts at len(flat), which must stay a valid index without
            # shortening the previous doc's segment
            h = np.asarray(flat + [0], dtype=np.int64)
            starts = np.asarray(offsets[:-1], dtype=np.intp)
            lens = np.diff(offsets)
            sigs = np.zeros(len(pdf), dtype=np.int64)
            for b in range(bits):
                # sign-sum = 2*(count of 1-bits) - token count; one
                # 1-D pass per bit keeps temporaries at one row
                ones = np.add.reduceat((h >> b) & 1, starts)
                sums = 2 * ones - lens
                # reduceat quirk: an empty segment returns the element
                # AT the start index — an empty token array contributes
                # nothing to any bit (the explode_outer null row's 0
                # contribution)
                sigs[(sums > 0) & (lens > 0)] |= np.int64(1) << b
            out = pd.DataFrame({
                id_col: pdf[id_col],
                "simhash": pd.Series(sigs, dtype="int64"),
            })
            yield out

    sel = docs.select(F.col(id_col), F.col(text_col))
    return sel.mapInPandas(kernel, out_schema)
