"""Deduplication operators for LLM training-data pipelines.

Four families, all shuffle-efficient at 100 TB:

* exact      — hash-groupBy on the raw text (one shuffle on a 16-byte key)
* fingerprint— hash-groupBy on an order-insensitive bag-of-words id
* MinHash-LSH— banded LSH: shingle → k minhashes → b bands → bucket join.
               Only documents sharing a band bucket are ever paired, so the
               candidate set is ~linear in corpus size (never all-pairs);
               the exact-Jaccard verify runs on candidates only.
* SimHash    — 60-bit charge-accumulation fingerprint; banded (4×15-bit)
               equi-join candidate generation for hamming distance ≤ 3.

Hashes are MD5-derived (first 8 hex chars as int64) — deliberately portable
so DuckDB/any ANSI engine can replicate results bit-for-bit for the
correctness oracle. xxhash64 would be ~3× faster; swap `_md5i` for
F.xxhash64 in production where cross-engine parity is not required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import words_col

# MinHash configuration: NUM_HASHES signature, bands of ROWS_PER_BAND.
# P(candidate | jaccard=s) = 1-(1-s^r)^b — with r=2, b=4: s=0.9 → 97%,
# s=0.5 → 68%, s=0.2 → 15%. Tune b/r per corpus.
NUM_HASHES = 8
ROWS_PER_BAND = 2
NUM_BANDS = NUM_HASHES // ROWS_PER_BAND

# Affine rehash family over ONE base hash per shingle: sig_k = min over
# shingles of (A_k*h + B_k) mod P. One md5 per shingle instead of
# NUM_HASHES — the hash is the scan's hot loop at corpus scale. P is the
# smallest prime > 2^32; A_k*h stays far below int64 overflow.
MINHASH_P = 4294967311
MINHASH_A = [2971, 5419, 8923, 11633, 14867, 17881, 21269, 24749]
MINHASH_B = [1299721, 2750159, 4256233, 5800079, 7368787, 8960453,
             10570841, 12195257]


def _md5i(c: Column) -> Column:
    """Portable 32-bit hash as long: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def shingles_col(text: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a document.

    Docs shorter than n words yield an EMPTY array: F.sequence(1, end)
    auto-descends when end < 1 (producing indices 0, -1, … that crash
    element_at), so the window list is guarded — matching DuckDB's
    generate_series(1, 0) = [].

    The word array is let-bound via a transform over a 1-element array:
    codegen does NOT subexpression-eliminate through higher-order-
    function lambdas, so referencing `words_col(text)` directly inside
    the per-gram lambda re-ran the regex split for EVERY element_at —
    O(words²) per doc, 2.47 s of q_dedup_minhash_lsh's 2.73 s signature
    stage at sf0.1; the lambda-var binding evaluates it once per row
    (0.50 s, identical output — BASELINE.md round-9 profile)."""
    def from_words(w: Column) -> Column:
        idx = F.when(F.size(w) >= n,
                     F.sequence(F.lit(1), F.size(w) - (n - 1))) \
            .otherwise(F.array().cast("array<int>"))
        gram = F.transform(
            idx, lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(n)]))
        return F.array_distinct(gram)

    return F.transform(F.array(words_col(text)), from_words)[0]


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the count of
    copies and the smallest id as the canonical representative."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"),
             F.min(id_col).alias("canonical_id"))
    )


def normalize_text(c: Column) -> Column:
    """Dedup normalization: lowercase, strip punctuation, collapse runs of
    whitespace — the standard "same content modulo formatting" key."""
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^\w\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalized_dedup_groups(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Exact dedup over NORMALIZED text: catches duplicates that differ
    only in case/punctuation/whitespace. Same one-shuffle hash-groupBy
    shape as exact_dedup_groups."""
    key = F.md5(normalize_text(F.col(text_col)))
    return (df.groupBy(key.alias("norm_hash"))
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("canonical_id")))


def fingerprint_dedup_groups(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Near-duplicate groups under the bag-of-words fingerprint (documents
    with the same word set, any order/multiplicity)."""
    words = words_col(F.col(text_col))
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(words))))
    return (
        df.groupBy(fp.alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("canonical_id"))
        .where(F.col("n_docs") >= 2)
    )


def content_key_dedup_groups(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """The four content-key dedup variants — exact, normalized,
    bag-of-words fingerprint (with its n_docs >= 2 gate) and the
    rolling-hash fingerprint — as ONE tagged relation from ONE scan and
    ONE shuffle. Each variant's key is computed in the same projection
    and exploded to a (variant, hash) row per document, so the four
    per-variant hash-groupBys collapse into a single
    groupBy(variant, hash): the unfused union paid 4 scans + 4 shuffles
    for the same row bag (4 Scan parquet + 8 Exchange at sf0.1), and at
    corpus scale rescanning the text 4x is the dominant cost. Row-for-row
    identical to unioning exact_dedup_groups / normalized_dedup_groups /
    fingerprint_dedup_groups / the rolling-fp groupBy (property-tested)."""
    from .text import rolling_fingerprint_col
    text = F.col(text_col)
    fp = F.md5(F.concat_ws(
        " ", F.array_sort(F.array_distinct(words_col(text)))))
    keys = F.array(
        F.struct(F.lit("exact").alias("variant"),
                 F.md5(text).alias("hash")),
        F.struct(F.lit("normalized").alias("variant"),
                 F.md5(normalize_text(text)).alias("hash")),
        F.struct(F.lit("fingerprint").alias("variant"), fp.alias("hash")),
        F.struct(F.lit("rolling_fp").alias("variant"),
                 rolling_fingerprint_col(text).cast("string").alias("hash")),
    )
    return (df.select(F.col(id_col).alias("__id"), F.explode(keys).alias("vk"))
            .groupBy(F.col("vk.variant").alias("variant"),
                     F.col("vk.hash").alias("hash"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("__id").alias("canonical_id"))
            .where((F.col("variant") != "fingerprint")
                   | (F.col("n_docs") >= 2)))


def _jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two DISTINCT-element arrays (every caller passes
    shingles_col output, which is array_distinct by construction):
    |A∩B| / (|A| + |B| - |A∩B|). One array_intersect pass per candidate
    pair instead of intersect + array_distinct(concat) — the old union
    materialized a concatenated array and re-deduped it per pair, the
    dominant per-candidate cost of the LSH verify stage (guide §1.2-2).
    Empty∩empty stays NULL (0/0) exactly as before."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


# jaccard_pairs is O(n²) by construction; refuse corpora where the pair
# space exceeds ~10^10 comparisons — that workload belongs to
# minhash_lsh_pairs. Enforced, not just documented (round-3 verdict #6).
JACCARD_MAX_DOCS = 100_000


def jaccard_pairs(df: DataFrame, threshold: float, text_col: str = "text",
                  id_col: str = "doc_id",
                  max_docs: int = JACCARD_MAX_DOCS) -> DataFrame:
    """Brute-force all-pairs n-gram Jaccard — the small-corpus baseline and
    the verification oracle for LSH. O(n²): use minhash_lsh_pairs at scale.

    Raises ValueError above `max_docs` documents: an all-pairs join over a
    large corpus is a silent cluster-killer, and every at-scale use case is
    served by minhash_lsh_pairs (same threshold semantics, banded LSH)."""
    # bounded guard: count at most max_docs+1 ids rather than
    # materializing the full upstream pipeline just for the check
    n = df.select(id_col).limit(max_docs + 1).count()
    if n > max_docs:
        raise ValueError(
            f"jaccard_pairs is all-pairs O(n²) and the corpus has "
            f"> {max_docs:,} documents; use minhash_lsh_pairs for "
            "at-scale near-duplicate detection")
    s = df.select(F.col(id_col).alias("id"),
                  shingles_col(F.col(text_col)).alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    j = _jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """doc → (id, shingles, sig_0..sig_{k-1}) minhash signature row."""
    s = df.select(F.col(id_col).alias("id"),
                  shingles_col(F.col(text_col)).alias("sh"))
    s = s.withColumn("hs", F.transform(F.col("sh"), _md5i))

    def rehash(k: int):
        # closure, not default-arg: a 2-arg lambda makes F.transform pass
        # the element index as the second argument
        return lambda h: (h * MINHASH_A[k] + MINHASH_B[k]) % MINHASH_P

    sigs = [
        F.array_min(F.transform(F.col("hs"), rehash(k))).alias(f"s{k}")
        for k in range(NUM_HASHES)
    ]
    return s.select("id", "sh", *sigs)


# LSH bucket-skew cap: a bucket with m members yields m(m-1)/2 candidate
# pairs, so one duplicate-heavy mega-bucket (every member shares a band
# key) can turn a single task into an hours-long straggler. Buckets are
# deterministically truncated to this many members (rank by id within the
# bucket; the SAME members survive in every band, so a capped cluster
# still pairs its first `cap` members with each other). Dropped mass is
# LOGGED, never silent. Exact-duplicate mega-clusters should be removed by
# exact_duplicates() upstream (pipeline/recipes.py does) — the cap is the
# backstop for near-dup-heavy corpora.
LSH_BUCKET_CAP = 4096

_log = __import__("logging").getLogger(__name__)


def _fused_band_keys() -> Column:
    """One FUSED 64-bit bucket key per band over a signature row
    (columns s0..s{k-1}): xxhash64 of (band index, the band's signature
    rows). A single 8-byte shuffle/join key instead of an (int, string)
    pair — measured 4.5x on the SimHash membership self-join (BASELINE
    round 7). A 64-bit bucket collision can only ADD a candidate pair,
    and every candidate is verified by exact Jaccard downstream."""
    return F.array(*[
        F.xxhash64(F.lit(i), *[F.col(f"s{i * ROWS_PER_BAND + r}")
                               for r in range(ROWS_PER_BAND)])
        for i in range(NUM_BANDS)
    ])


def minhash_lsh_pairs(df: DataFrame, threshold: float, text_col: str = "text",
                      id_col: str = "doc_id",
                      bucket_cap: int | None = LSH_BUCKET_CAP) -> DataFrame:
    """Banded-LSH near-duplicate pairs with exact-Jaccard verification.

    Plan shape at scale: one scan computes signatures; explode to b rows per
    doc; ONE shuffle groups each band bucket's member ids; candidate
    pairs are enumerated bucket-locally (no self-join), so the quadratic
    blow-up is confined to individual buckets (skew-bounded by band
    width plus the `bucket_cap` truncation; pass None to disable). No
    all-pairs join ever materializes.
    """
    # Materialize the signature table ONCE: it feeds both sides of the
    # band self-join and both shingle-map joins, and without a persist
    # Spark recomputes the md5+rehash scan (the hot loop) for each — up to
    # 4x the work, serialized through broadcast builds. Persisting the
    # (id, shingles, sig) table is the standard LSH-pipeline shape at any
    # scale (at 100 TB this is an intermediate table on disk; here
    # MEMORY_AND_DISK). Blocks are dropped by the ContextCleaner when the
    # frame goes out of scope.
    from pyspark import StorageLevel
    sig = minhash_signature(df, text_col, id_col) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    # one FUSED long bucket key per band: xxhash64 over (band index, the
    # band's signature rows). A single 8-byte shuffle key instead of an
    # (int, string) pair — the same change measured 4.5x on the SimHash
    # membership self-join (BASELINE.md round 7). A 64-bit bucket
    # collision can only ADD a candidate pair, and every candidate is
    # verified by exact Jaccard below, so correctness is unaffected.
    bands = _fused_band_keys()
    # Candidate generation is bucket-LOCAL pair enumeration (r12; guide
    # §2.4 "remove shuffles outright"): ONE aggregate groups each band
    # bucket's sorted member ids (the groupBy shuffle — on the same key
    # the old self-join shuffled on — materializes sig's cache as a side
    # effect), and pairs are enumerated inside each bucket row. The old
    # shape paid a separate cap-GATE aggregate job plus a band
    # self-join with two exchange reads; this pays the one aggregate,
    # reads the checkpointed buckets locally, and reports the exact
    # dropped mass every run from the tiny aggregate instead of only
    # when the gate tripped. Only (id, bucket) ever shuffles — never the
    # shingle arrays (at corpus scale the shingles are the dominant
    # payload; the verify step re-joins them by id for candidates only).
    exploded = sig.select("id", F.explode(bands).alias("bk"))
    agg = (exploded.groupBy("bk")
           .agg(F.sort_array(F.collect_list("id")).alias("ids"))
           .localCheckpoint(eager=True))
    members = F.col("ids")
    if bucket_cap is not None:
        n_dropped = agg.select(
            F.sum(F.greatest(F.size("ids") - bucket_cap, F.lit(0)))
        ).first()[0] or 0
        if n_dropped:
            _log.warning(
                "minhash_lsh_pairs: %d (doc, band) bucket memberships "
                "beyond the %d-per-bucket cap were dropped (duplicate-"
                "heavy corpus; run exact dedup upstream to remove "
                "identical-text mega-clusters)", n_dropped, bucket_cap)
        # slice keeps the bucket's smallest `cap` ids — exactly the
        # members the old rank-by-id window kept
        members = F.slice("ids", 1, bucket_cap)
    cand = (
        agg.select(F.explode(members).alias("id_a"), members.alias("ids"))
        .select("id_a",
                F.explode(F.filter("ids", lambda x: x > F.col("id_a")))
                .alias("id_b"))
        .distinct()
    )
    sh_map = sig.select("id", "sh")
    cand = (
        cand.join(sh_map.select(F.col("id").alias("id_a"),
                                F.col("sh").alias("sh_a")), "id_a")
        .join(sh_map.select(F.col("id").alias("id_b"),
                            F.col("sh").alias("sh_b")), "id_b")
    )
    j = _jaccard(F.col("sh_a"), F.col("sh_b"))
    return (cand.select("id_a", "id_b", j.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def minhash_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Reusable near-duplicate corpus index: one row per document —
    (id, sh, s0..s{k-1}) shingle set + minhash signature. Build it ONCE
    over the existing corpus and persist it (a parquet table at scale);
    dedup_against_index then re-derives the 8-byte band keys from the
    signature columns, so every future batch pays only ITS OWN text
    scan — the corpus text is never re-read. The incremental-crawl
    dedup shape: index yesterday's 100 TB once, dedup each day's
    delta against it."""
    return minhash_signature(df, text_col, id_col)


def dedup_against_index(new_df: DataFrame, index: DataFrame,
                        threshold: float, text_col: str = "text",
                        id_col: str = "doc_id",
                        bucket_cap: int | None = LSH_BUCKET_CAP) -> DataFrame:
    """Incremental near-dedup: (new_id, corpus_id, jaccard) pairs of a
    NEW document batch against an EXISTING corpus index
    (minhash_index / minhash_signature output), jaccard >= threshold.

    `index` MUST be minhash_index / minhash_signature output (or a
    merge_into_index union of them): the exact-Jaccard verify assumes
    DISTINCT-element shingle arrays (|A∪B| = |A|+|B|−|A∩B|), which
    shingles_col guarantees by construction. A hand-built index whose
    `sh` arrays contain duplicates would yield silently wrong (possibly
    >1) Jaccard values, not merely slower ones.

    Asymmetric by design: duplicates WITHIN the new batch are not
    reported (compose with minhash_lsh_pairs(new_df) for those), and a
    document whose id appears in both inputs never matches itself.
    Same LSH contract as minhash_lsh_pairs: banded candidates, exact
    shingle-Jaccard verification, so a band-key collision can only add
    a verified-away candidate.

    Plan shape at scale: the batch is scanned once for signatures; the
    candidate join moves only (id, 8-byte band key) pairs; corpus
    shingle arrays are fetched by id-equi-join for candidates ONLY.
    `bucket_cap` bounds the INDEX side of each band bucket (boilerplate
    mega-buckets live in the corpus) with the standard exact
    dropped-mass log."""
    from pyspark import StorageLevel
    sig = minhash_signature(new_df, text_col, id_col) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    # eager: the band join and the verify join below both read sig, so
    # its cache must be materialized in one job before they race to
    # compute the same blocks (minhash_lsh_pairs policy)
    sig.count()
    nb = sig.select(F.col("id").alias("new_id"),
                    F.explode(_fused_band_keys()).alias("bk"))
    ib = index.select(F.col("id").alias("corpus_id"),
                      F.explode(_fused_band_keys()).alias("bk"))
    if bucket_cap is not None:
        # Cap via ONE aggregate pass over the index memberships (r11
        # verdict #3: the old shape paid a full groupBy-count GATE job
        # over the corpus index per batch — recomputing the corpus
        # signatures — and then, when tripped, a window rank over ALL
        # buckets). The per-bucket sorted id list sliced to `bucket_cap`
        # keeps exactly the same members the rank-by-id window kept, the
        # checkpoint materializes the corpus signature pass ONCE per
        # batch (the recurring cost the r11 DIAG phase split flagged),
        # and the dropped-mass log is computed from the tiny
        # checkpointed aggregate instead of a second corpus pass. A
        # mega-bucket materializes its membership as one array row
        # (bounded in practice by the documented exact-dedup-upstream
        # requirement; the old window path sorted the same rows).
        agg = (ib.groupBy("bk")
               .agg(F.sort_array(F.collect_list("corpus_id")).alias("ids"))
               .localCheckpoint(eager=True))
        n_dropped = agg.select(
            F.sum(F.greatest(F.size("ids") - bucket_cap, F.lit(0)))
        ).first()[0] or 0
        if n_dropped:
            _log.warning(
                "dedup_against_index: %d (corpus doc, band) bucket "
                "memberships beyond the %d-per-bucket cap were "
                "dropped (boilerplate-heavy corpus index; run exact "
                "dedup upstream)", n_dropped, bucket_cap)
        ib = agg.select(
            F.col("bk"),
            F.explode(F.slice("ids", 1, bucket_cap)).alias("corpus_id"))
    cand = (nb.join(ib, "bk")
            .where(F.col("new_id") != F.col("corpus_id"))
            .select("new_id", "corpus_id").distinct())
    cand = (cand.join(sig.select(F.col("id").alias("new_id"),
                                 F.col("sh").alias("sh_n")), "new_id")
            .join(index.select(F.col("id").alias("corpus_id"),
                               F.col("sh").alias("sh_c")), "corpus_id"))
    j = _jaccard(F.col("sh_n"), F.col("sh_c"))
    return (cand.select("new_id", "corpus_id", j.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def merge_into_index(index: DataFrame, new_sigs: DataFrame,
                     assume_disjoint: bool = True) -> DataFrame:
    """Fold a processed batch's signatures into the corpus index —
    the lifecycle step of the incremental-dedup shape: index the 100-TB
    corpus once (minhash_index), then each day dedup the new batch
    against it (dedup_against_index) and MERGE the accepted docs'
    signatures in, so tomorrow's batch is deduped against
    corpus+today without ever rescanning corpus text. `new_sigs` is
    minhash_index/minhash_signature output for the accepted batch docs
    (id, sh, s0..s{k-1}) — signatures only, no text. (Like
    dedup_against_index, consumers assume the `sh` arrays are
    distinct-element — true for every minhash_* producer.)

    `assume_disjoint=True` (the scale path) is a pure unionByName:
    zero shuffle, and on a persisted parquet index it is an APPEND of
    the batch partition. The caller guarantees batch ids are not
    already in the index — true by construction when ids are
    crawl-assigned. With `assume_disjoint=False`, batch rows whose id
    already exists in the index are dropped (the existing row wins) via
    a left-anti join — correct for re-runs/replays, but it builds a
    hash table on the index side, so reserve it for indexes that fit a
    broadcast or accept the shuffle."""
    if not assume_disjoint:
        new_sigs = new_sigs.join(index.select("id"), "id", "left_anti")
    return index.unionByName(new_sigs)


# 60-bit fingerprint (round 6; was 16-bit), candidates via 6 blocks of
# 10 bits combined 3-at-a-time (round 7, see _band_keys_col).
# Why 60 and not 64: every term stays strictly below 2^63, so the whole
# computation — per-word hash halves, charge bits, value assembly, block
# extraction — is plain POSITIVE int64 arithmetic that DuckDB replicates
# bit-for-bit for the oracle (a 64th bit would live in the sign bit and
# need engine-specific overflow semantics). Each candidate table keys on
# 30 bits (~10^9 values), so spurious candidates stay ~linear far past
# 10^7 docs (BASELINE.md round-7 study); pigeonhole still guarantees
# 100% recall for hamming distance < SIMHASH_BANDS.
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 6            # 10-bit blocks
SIMHASH_KEY_BLOCKS = 3        # each table keys on a 3-block (30-bit) combo
# recall guarantee: d flipped bits corrupt <= d blocks, so a pair with
# hamming <= SIMHASH_BLOCKS - SIMHASH_KEY_BLOCKS agrees on at least
# SIMHASH_KEY_BLOCKS blocks — i.e. on at least one C(6,3) combination
SIMHASH_BANDS = SIMHASH_BLOCKS - SIMHASH_KEY_BLOCKS + 1  # max_distance bound


def _block_combos():
    from itertools import combinations
    return list(combinations(range(SIMHASH_BLOCKS), SIMHASH_KEY_BLOCKS))


def _band_keys_col(col: str = "simhash"):
    """Array<struct<band_idx, band_val>> of candidate-table keys for one
    fingerprint — the Manku/Jain/Sarma block-combination scheme
    (Detecting Near-Duplicates for Web Crawling, WWW'07 §3): split the
    60-bit fingerprint into 6 10-bit blocks and key each of the
    C(6,3)=20 tables on the CONCATENATION of a distinct 3-block subset
    (30 bits → ~10^9 key values). A pair within hamming distance 3
    agrees on >= 3 blocks (pigeonhole), hence exactly on some table's
    key — same recall guarantee as naive 4x15-bit banding, but with
    2^30 bucket values instead of 2^15 the expected spurious-candidate
    count drops by ~4 orders of magnitude (measured in BASELINE.md
    round-7: 69.8M -> ~40k candidates at 10^6 random docs), which is
    what keeps candidate generation ~linear at warehouse corpus sizes.
    Used by the simhash candidate join below."""
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << width) - 1

    def block(i):
        return F.shiftright(F.col(col), i * width).bitwiseAND(F.lit(mask))

    entries = []
    for idx, combo in enumerate(_block_combos()):
        val = None
        for j, b in enumerate(combo):
            part = F.shiftleft(block(b), j * width)
            val = part if val is None else val.bitwiseOR(part)
        entries.append(F.struct(F.lit(idx).alias("band_idx"),
                                val.alias("band_val")))
    return F.array(*entries)


def simhash_near_dup_pairs(df: DataFrame, max_distance: int = 3,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           bucket_cap: int | None = LSH_BUCKET_CAP) -> DataFrame:
    """SimHash near-duplicate pairs: (id_a, id_b, hamming) with hamming
    distance <= max_distance.

    Candidate generation by block-combination banding (_band_keys_col:
    C(6,3)=20 tables, each keyed on a 30-bit 3-block subset of the
    fingerprint — Manku et al. WWW'07): any pair within distance
    < SIMHASH_BANDS agrees on at least one table key, so candidates
    come from ONE shuffle grouping each (band_idx, band_val) bucket,
    with pairs enumerated bucket-locally — never all-pairs. The exact
    popcount check then filters candidates. `bucket_cap` truncates
    pathological band buckets exactly like minhash_lsh_pairs
    (deterministic smallest-ids-kept, dropped mass logged); pass None
    to disable.
    """
    assert max_distance < SIMHASH_BANDS, "banding guarantees recall only " \
        "for distance < number of bands"
    # With bucket-local pair enumeration (below) the fingerprint table
    # has exactly ONE consumer — the bucket aggregate, which carries
    # (id, simhash) through to the pairs — so the r7 materialization
    # barrier (the old self-join read `exploded` twice) is gone.
    sig = simhash(df, text_col, id_col)
    bands = _band_keys_col()
    # table key and band value FUSED into one long (band_val is 30
    # bits, band_idx < 32): a single 8-byte join/shuffle key instead of
    # an (int, long) pair — measured 4.5x faster on the 20M-membership
    # self-join at 10^6 docs (narrower shuffle rows, scalar codegen
    # compare instead of a two-column key)
    exploded = (sig.select("id", "simhash", F.explode(bands).alias("b"))
                .select("id", "simhash",
                        F.shiftleft(F.col("b.band_val"), 5)
                        .bitwiseOR(F.col("b.band_idx")).alias("bk")))
    # Bucket-local pair enumeration (r12, same restructure as
    # minhash_lsh_pairs; guide §2.4): group each bucket's sorted
    # (id, simhash) members in ONE aggregate — the same shuffle key the
    # old self-join used — and enumerate pairs inside the bucket row,
    # carrying the 8-byte fingerprints through. Replaces the cap-GATE
    # aggregate job + band self-join; the dropped-mass log is exact and
    # always-on from the tiny checkpointed aggregate. sort_array over
    # structs orders by id (ids are unique within a bucket), so the cap
    # keeps exactly the members the old rank-by-id window kept.
    agg = (exploded.groupBy("bk")
           .agg(F.sort_array(
               F.collect_list(F.struct("id", "simhash"))).alias("ms"))
           .localCheckpoint(eager=True))
    members = F.col("ms")
    if bucket_cap is not None:
        n_dropped = agg.select(
            F.sum(F.greatest(F.size("ms") - bucket_cap, F.lit(0)))
        ).first()[0] or 0
        if n_dropped:
            _log.warning(
                "simhash_near_dup_pairs: %d (doc, band) bucket "
                "memberships beyond the %d-per-bucket cap were "
                "dropped (duplicate-heavy corpus; run exact dedup "
                "upstream)", n_dropped, bucket_cap)
        members = F.slice("ms", 1, bucket_cap)
    cand = (
        agg.select(F.explode(members).alias("a"), members.alias("ms"))
        .select(F.col("a.id").alias("id_a"),
                F.col("a.simhash").alias("sh_a"),
                F.explode(F.filter(
                    "ms", lambda m: m["id"] > F.col("a.id"))).alias("b"))
        .select("id_a", "sh_a", F.col("b.id").alias("id_b"),
                F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.select("id_a", "id_b",
                        F.col("sh_a").alias("sig_a"),
                        F.col("sh_b").alias("sig_b"),
                        hamming.alias("hamming"))
            .where(F.col("hamming") <= max_distance))


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document (token-frequency weighted).

    Each token contributes ±1 per bit position from its portable hash; the
    sign of each accumulated charge becomes the output bit. Implemented as
    explode + one hash-aggregate (map-side combined) — one shuffle on the
    doc id, no UDFs.

    The per-token hash supplies 60 independent bits from md5 as TWO
    positive halves (hex chars 1–8 → bits 0..31, hex chars 9–15 → bits
    32..59) so every intermediate stays well inside int64 and the DuckDB
    oracle reproduces it exactly (see SIMHASH_BITS note above).
    """
    tok = df.select(F.col(id_col).alias("id"),
                    F.explode(words_col(F.col(text_col))).alias("w"))
    md5 = F.md5(F.col("w"))
    h_lo = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")   # 32 bits
    h_hi = F.conv(F.substring(md5, 9, 7), 16, 10).cast("long")   # 28 bits
    charges = []
    for k in range(SIMHASH_BITS):
        src, kk = (h_lo, k) if k < 32 else (h_hi, k - 32)
        charges.append(
            F.sum(F.when(src.bitwiseAND(F.lit(1 << kk)) != 0, 1)
                  .otherwise(-1)).alias(f"c{k}"))
    agg = tok.groupBy("id").agg(*charges)
    value = None
    for k in range(SIMHASH_BITS):
        bit = F.when(F.col(f"c{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        value = bit if value is None else value + bit
    return agg.select("id", value.cast("long").alias("simhash"))


# Exact sub-document duplication (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": repeated ≥k-token spans
# across documents). Window granularity instead of suffix arrays: two
# docs share a duplicated span of ≥ k tokens iff they share ≥ 1 exact
# k-token window, and the shared-window count sizes the overlap.
WINDOW_TOKENS = 8


def shared_window_pairs(df: DataFrame, k: int = WINDOW_TOKENS,
                        text_col: str = "text", id_col: str = "doc_id",
                        bucket_cap: int | None = LSH_BUCKET_CAP) -> DataFrame:
    """Pairs of documents sharing ≥1 identical k-token window, with the
    exact shared-window count.

    Scale shape (same skeleton as minhash_lsh_pairs): one scan builds the
    distinct window set per doc; candidates come from ONE shuffle that
    groups each 64-bit window-hash bucket, with pairs enumerated
    bucket-locally (boilerplate mega-buckets are capped with the exact
    dropped mass logged); counts are then verified
    EXACTLY via array_intersect on the per-doc window arrays re-joined by
    id — a hash collision can only add a candidate, never corrupt a
    count. No all-pairs join ever materializes.
    """
    from pyspark import StorageLevel
    # Materialize the per-doc window table ONCE: it feeds the candidate
    # join and both exact-verify sides. Same lifecycle as minhash's `sig`
    # above: blocks are dropped by the ContextCleaner when the frame goes
    # out of scope (the caller holds no handle), so repeated calls don't
    # pin memory beyond the session's next GC cycle.
    w = df.select(F.col(id_col).alias("id"),
                  shingles_col(F.col(text_col), n=k).alias("wins")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    # Bucket-local pair enumeration (r12, same restructure as
    # minhash_lsh_pairs; guide §2.4): one aggregate pass groups each
    # window-hash bucket's sorted member ids — materializing w's cache
    # as a side effect — and candidate pairs are enumerated inside each
    # bucket row. Replaces the old cap-GATE aggregate job + band
    # self-join; the dropped-mass log is exact and always-on, computed
    # from the tiny checkpointed aggregate.
    ex = w.select("id", F.explode("wins").alias("win")) \
        .select("id", F.xxhash64("win").alias("wh"))
    agg = (ex.groupBy("wh")
           .agg(F.sort_array(F.collect_list("id")).alias("ids"))
           .localCheckpoint(eager=True))
    members = F.col("ids")
    if bucket_cap is not None:
        n_dropped = agg.select(
            F.sum(F.greatest(F.size("ids") - bucket_cap, F.lit(0)))
        ).first()[0] or 0
        if n_dropped:
            _log.warning(
                "shared_window_pairs: %d window memberships beyond "
                "the %d-doc bucket cap were dropped (boilerplate "
                "windows); pairs among dropped members are NOT "
                "reported", n_dropped, bucket_cap)
        members = F.slice("ids", 1, bucket_cap)
    cand = (
        agg.select(F.explode(members).alias("id_a"), members.alias("ids"))
        .select("id_a",
                F.explode(F.filter("ids", lambda x: x > F.col("id_a")))
                .alias("id_b"))
        .distinct())
    wa = w.select(F.col("id").alias("id_a"), F.col("wins").alias("wa"))
    wb = w.select(F.col("id").alias("id_b"), F.col("wins").alias("wb"))
    return (cand.join(wa, "id_a").join(wb, "id_b")
            .select("id_a", "id_b",
                    F.size(F.array_intersect("wa", "wb")).cast("long")
                    .alias("n_shared"))
            .where(F.col("n_shared") >= 1))


def _positional_windows_col(tokens, k: int):
    """Array<struct<pos:int, win:string>> of ALL k-token windows with
    their 1-based start positions (no dedup — the transform below needs
    every occurrence's position, unlike shingles_col).

    `tokens` is let-bound through a 1-element transform so an expression
    argument (words_col's regex split) is evaluated once per row, not
    once per element_at inside the lambda (shingles_col's round-9 fix;
    codegen does no CSE through higher-order-function lambdas)."""
    def from_tokens(tk: Column) -> Column:
        idx = F.when(F.size(tk) >= k,
                     F.sequence(F.lit(1), F.size(tk) - (k - 1))) \
            .otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(" ", *[F.element_at(tk, i + j)
                                   for j in range(k)]).alias("win")))

    return F.transform(F.array(tokens), from_tokens)[0]


def remove_shared_windows(df: DataFrame, k: int = WINDOW_TOKENS,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          mode: str = "cross_doc") -> DataFrame:
    """Corpus TRANSFORM for exact sub-document duplication (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): every ≥k-token span that also appears in another
    document is kept in ONE canonical occurrence (the document with the
    smallest id containing that span) and removed everywhere else.

    Output: one row per input document —
    (doc_id, deduped_text, n_tokens, n_removed_tokens). `deduped_text`
    is the space-join of the surviving tokens (words_col splits on
    single spaces, so a document with no removals round-trips exactly).

    Window semantics: a duplicated span of length L ≥ k is exactly the
    union of its L-k+1 duplicated k-token windows, so removing every
    token covered by a duplicated non-canonical window removes exactly
    the maximal duplicated spans at window granularity (spans shorter
    than k are below the dedup threshold by design). A canonical keeper
    can still lose tokens of an overlapping DIFFERENT span whose
    canonical occurrence lies elsewhere — deterministic, and consistent
    with per-span all-but-one removal.

    `mode` selects the duplication scope:
    - "cross_doc" (default): a window occurrence is removable iff a doc
      with a SMALLER id contains the same window — within-document
      repeats are kept, matching shared_window_pairs' pair scope.
    - "corpus": the paper-exact ExactSubstr rule — every occurrence of a
      repeated window is removed except the globally FIRST one (minimal
      (doc_id, position)), so spans repeated WITHIN one document also
      collapse to their first occurrence.

    Scale shape: windows join on their full k-token STRING value (not a
    64-bit hash — a hash collision here would remove live text, unlike
    the detection operator where it only adds a verified-away candidate).
    min-id per window is one map-side-combinable aggregate; dup
    occurrences come from one equi-join on the window value (AQE can
    broadcast the aggregate or split skewed keys); per-doc removal is
    pure array math on the doc's own row (array_except of covered
    positions — linear in doc length). The token mass is never shuffled:
    only window->min_id and the per-doc duplicated-position lists move.
    """
    if mode not in ("cross_doc", "corpus"):
        raise ValueError(f"unknown mode {mode!r}: cross_doc | corpus")
    tokens = words_col(F.col(text_col))
    occ = df.select(F.col(id_col).alias("id"),
                    F.explode(_positional_windows_col(tokens, k))
                    .alias("o")) \
        .select("id", F.col("o.pos").alias("pos"), F.col("o.win").alias("win"))
    if mode == "corpus":
        # canonical OCCURRENCE per window value: the lexicographically
        # smallest (doc_id, pos) — min over a struct is exactly that
        canon = occ.groupBy("win").agg(
            F.min(F.struct("id", "pos")).alias("mo"))
        removable = (F.col("mo.id") != F.col("id")) \
            | (F.col("mo.pos") != F.col("pos"))
    else:
        canon = occ.groupBy("win").agg(
            F.min("id").alias("min_id"))
        removable = F.col("min_id") < F.col("id")
    dup_pos = (occ.join(canon, "win")
               .where(removable)
               .groupBy("id")
               .agg(F.sort_array(F.collect_set("pos")).alias("dps")))
    base = df.select(F.col(id_col).alias("id"), tokens.alias("tk")) \
        .join(dup_pos, "id", "left")
    n = F.size("tk")
    covered = F.array_sort(F.array_distinct(F.flatten(F.transform(
        F.coalesce("dps", F.array().cast("array<int>")),
        lambda p: F.sequence(p, p + (k - 1))))))
    # guard: F.sequence auto-descends for n < 1 (null text); split never
    # yields an empty array for non-null text, so this only covers nulls
    kept_idx = F.when(n >= 1, F.array_except(F.sequence(F.lit(1), n),
                                             covered)) \
        .otherwise(F.array().cast("array<int>"))
    return base.select(
        F.col("id").alias(id_col),
        F.concat_ws(" ", F.transform(kept_idx,
                                     lambda i: F.element_at("tk", i)))
        .alias("deduped_text"),
        n.cast("long").alias("n_tokens"),
        (n - F.size(kept_idx)).cast("long").alias("n_removed_tokens"))


def dup_clusters(pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id",
                 max_iterations: int = 50) -> DataFrame:
    """Near-duplicate CLUSTERS from a pair relation: connected components
    over the (id_a, id_b) edges, with the minimum id as the cluster's
    canonical representative.

    Output: (id, cluster_id, is_canonical) — one row per document;
    singleton documents form their own cluster. The standard last step of
    a corpus-dedup pipeline: keep `is_canonical`, drop the rest.

    Distributed min-label propagation (the hash-join connected-components
    scheme GraphFrames/GraphX use for bounded-diameter graphs): every
    iteration each node adopts the smallest label among itself and its
    neighbors — two hash joins + one aggregate per round, localCheckpoint
    to cut lineage, converging in O(cluster diameter) rounds. Near-dup
    clusters are shallow (most are pairs/triangles), so rounds stay small
    at any corpus size; no driver-side data beyond the convergence check.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))) \
        .dropDuplicates().localCheckpoint(eager=True)
    labels = docs.select(F.col(id_col).alias("id")).dropDuplicates() \
        .withColumn("comp", F.col("id")) \
        .localCheckpoint(eager=True)
    for _ in range(max_iterations):
        prop = (edges.join(labels.select(F.col("id").alias("src"), "comp"),
                           "src")
                .select(F.col("dst").alias("id"), "comp"))
        new = (labels.select("id", "comp").unionByName(prop)
               .groupBy("id").agg(F.min("comp").alias("comp"))
               .localCheckpoint(eager=True))
        changed = (new.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.comp") != F.col("o.comp")).head(1))
        labels = new
        if not changed:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iterations} rounds "
            "(cluster diameter exceeds the cap)")
    return labels.select(
        F.col("id"), F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("is_canonical"))
