"""Deduplication operators for training-data pipelines.

Three tiers, as a 100 TB corpus pipeline needs them:

- exact: hash-groupBy on a content digest — one shuffle on the digest,
  no skew (digests are uniform);
- near-dup via MinHash + LSH banding: signature per doc (vectorized
  per-batch), explode to (band_id, band_hash) keys, shuffle groups
  only docs sharing a band bucket, emit candidate pairs, then verify
  candidates with exact shingle Jaccard.  Candidate generation is the
  only quadratic risk and it is bounded per-bucket;
- SimHash: 64-bit weighted-bit signature, near-dup = small Hamming
  distance among docs sharing a 16-bit band.

Scale notes: all shuffles are keyed on hashes (uniform); the pair
explosion inside a bucket is capped (`max_bucket`) so one degenerate
bucket (e.g. boilerplate) cannot OOM a task — dropped buckets are
counted, not silently ignored.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window, functions as F

from presto_bloomfilter_spark.functions.hashing import hash_strings64, splitmix64

DEFAULT_NUM_PERM = 96
DEFAULT_BANDS = 32  # 96 perms / 32 bands = 3 rows per band

_U64 = np.uint64
_EMPTY_DOC_SEED = _U64(0x2545F4914F6CDD1D)


# ---- exact dedup --------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, dup_cnt) for
    groups with >1 member. Pure built-ins → whole-stage codegen."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative per content hash (min id wins —
    deterministic under any partitioning)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def token_dup_groups(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """exact_dup_groups for PRE-TOKENIZED sequences (the north-rule
    table): the content key is md5 of the space-joined token-id string
    — the repo-wide token-gram convention, injective for integer ids —
    so byte-identical token arrays collapse regardless of doc metadata.
    Pure built-ins → whole-stage codegen."""
    key = F.md5(F.concat_ws(" ", F.col(tokens_col)))
    return (
        df.select(key.alias("tok_hash"))
        .groupBy("tok_hash")
        .agg(F.count("*").alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )


def drop_exact_dup_tokens(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative per distinct token array (min id wins).
    Same shape as drop_exact_dups; the shuffle key is the 128-bit
    digest, uniform by construction — a skewed duplicate cluster lands
    on one reducer but as a SINGLE group (WindowGroupLimit truncates
    map-side on rank-1 windows, so the cluster's rows don't pile up)."""
    w = Window.partitionBy(
        F.md5(F.concat_ws(" ", F.col(tokens_col)))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def normalize_text_col(col) -> "F.Column":
    """The standard pre-dedup text normalization (fuzzy-dedup front
    end): case-fold, replace every non-[a-z0-9] non-whitespace char
    with a space, collapse whitespace runs, trim.  ASCII-centric by
    contract (non-ASCII letters are treated as punctuation; NFKC
    folding is out of scope) — deterministic, engine-portable, and
    expressible in ANSI SQL, so oracles replay it verbatim."""
    x = F.lower(col)
    x = F.regexp_replace(x, r"[^a-z0-9\s]", " ")
    x = F.regexp_replace(x, r"\s+", " ")
    return F.trim(x)


def drop_dups_normalized(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """``drop_exact_dups`` under ``normalize_text_col`` identity:
    case/punctuation/whitespace variants of the same content collapse
    to one representative (min id wins).  Adds the ``norm`` column so
    callers can audit the collapse.  Same scale shape as the exact
    form: one shuffle on the 128-bit digest of the normalized text,
    rank-1 window truncated map-side (WindowGroupLimit)."""
    out = df.withColumn("norm", normalize_text_col(F.col(text_col)))
    w = Window.partitionBy(F.md5(F.col("norm"))).orderBy(F.col(id_col))
    return (out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """CCNet/C4-style GLOBAL line (paragraph) deduplication: every
    ``sep``-delimited line keeps only its FIRST occurrence across the
    whole corpus — first = smallest ``(id, line position)`` under the
    id column's natural ordering — and each document is reassembled
    from its surviving lines in original order.

    Returns DataFrame[id string, text string, n_lines int, n_kept int]
    (text = '' when every line of a doc was seen earlier; empty input
    text is one empty line).  Byte-exact line identity — no
    normalization — so the contract is engine-portable and the oracle
    replays it verbatim.

    Scale shape: posexplode → ONE shuffle keyed on md5(line) (uniform
    128-bit key; a mega-duplicate line lands on one reducer but as a
    single sequentially-ranked group, never a join fan-out) → one
    shuffle back on the doc id for ordered reassembly.  Dropped lines
    stay in the stream only as a boolean mark so fully-deduplicated
    docs survive with text='' and an honest n_lines.  O(total lines)
    end to end, no joins, no Python — the per-line analogue of
    drop_exact_dups.
    """
    import re

    lines = df.select(
        F.col(id_col).alias("__oid"),
        F.col(id_col).cast("string").alias("id"),
        # split takes a regex — escape so sep is LITERAL ('|' etc.)
        F.posexplode(F.split(F.col(text_col), F.lit(re.escape(sep)), -1))
         .alias("pos", "line"),
    )
    w = Window.partitionBy(F.md5(F.col("line"))).orderBy("__oid", "pos")
    kept = (lines.withColumn("__rn", F.row_number().over(w))
            .withColumn("__keep", F.col("__rn") == 1))
    assembled = (kept.groupBy("id")
                 .agg(F.array_sort(F.collect_list(
                          F.when(F.col("__keep"),
                                 F.struct("pos", "line")))).alias("ls"),
                      F.count("*").alias("n_lines"),
                      F.sum(F.col("__keep").cast("int")).alias("n_kept")))
    return assembled.select(
        "id",
        F.concat_ws(sep, F.transform(F.col("ls"), lambda s: s["line"]))
         .alias("text"),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_kept").cast("int").alias("n_kept"),
    )


# ---- shingling + minhash ------------------------------------------------------
#
# Signature generation is the hottest per-byte pass of a training-data
# pipeline, so everything here is batch-vectorized: one Arrow
# whitespace-split per batch (C kernel), ONE string-hash pass over the
# flat word array, and shingle hashes composed from word hashes with
# splitmix64 chains — no per-document Python in the hot path.  A word
# n-gram's hash is an (order-sensitive) mix of its word hashes rather
# than a hash of the joined string; Jaccard over these 64-bit gram
# hashes equals Jaccard over the string n-grams up to negligible
# collision probability, and every consumer (signatures, exact verify,
# fingerprints) uses the same definition.


def _split_words_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """Whitespace-split a whole batch (Arrow C kernels) and hash every
    word in one pass: returns (flat word hashes uint64, words-per-doc
    int64).  Matches Python ``str.split()`` semantics (runs of
    whitespace, no empty words)."""
    s = texts if isinstance(texts, pd.Series) else pd.Series(texts, dtype=object)
    arr = pa.array(s.fillna(""), type=pa.string())
    sp = pc.utf8_split_whitespace(arr)
    flat = pc.list_flatten(sp)
    parents = pc.list_parent_indices(sp)
    # arrow keeps leading/trailing empties that str.split() drops
    keep = pc.not_equal(flat, "")
    flat = flat.filter(keep)
    parents = parents.filter(keep).to_numpy(zero_copy_only=False).astype(np.int64)
    lengths = np.bincount(parents, minlength=len(s)).astype(np.int64)
    return hash_strings64(flat), lengths


def _combine_ngram(wh: np.ndarray, n: int) -> np.ndarray:
    """Order-sensitive hash of every length-n window over a word-hash
    array: out[i] = mix(wh[i], ..., wh[i+n-1]), vectorized (n splitmix
    passes, no per-window Python)."""
    n_windows = len(wh) - n + 1
    if n_windows <= 0:
        return np.empty(0, dtype=_U64)
    acc = wh[n - 1 :].astype(_U64, copy=True)
    with np.errstate(over="ignore"):
        for j in range(n - 2, -1, -1):
            acc = splitmix64(acc) + wh[j : j + n_windows]
    return splitmix64(acc)


def _gram_stream_batch(texts, n: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Flat word-n-gram hashes for a batch, with their doc index:
    (grams uint64, gram_doc int64, ndocs), ordered by (doc, position).
    Docs with fewer than n words yield ONE gram — the splitmix fold of
    their (possibly zero) word hashes — so every doc has >= 1 gram."""
    wh, lengths = _split_words_batch(texts)
    ndocs = len(lengths)
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    doc_of_word = np.repeat(np.arange(ndocs, dtype=np.int64), lengths)

    grams = _combine_ngram(wh, n)
    if len(grams):
        valid = doc_of_word[: len(grams)] == doc_of_word[n - 1 :]
        g = grams[valid]
        gdoc = doc_of_word[: len(grams)][valid]
    else:
        g = np.empty(0, dtype=_U64)
        gdoc = np.empty(0, dtype=np.int64)

    short = np.nonzero(lengths < n)[0]
    if short.size:
        # fold each short doc's word hashes with the same chain the
        # window combiner uses — vectorized ACROSS short docs (the loop
        # below is over n-1 positions, a constant)
        width = max(1, n - 1)
        mat = np.zeros((short.size, width), dtype=_U64)
        for j in range(width):
            has = lengths[short] > j
            if has.any():
                mat[has, j] = wh[bounds[short[has]] + j]
        acc = np.full(short.size, _EMPTY_DOC_SEED, dtype=_U64)
        with np.errstate(over="ignore"):
            for j in range(width - 1, -1, -1):
                acc = splitmix64(acc) + mat[:, j]
        g = np.concatenate([g, splitmix64(acc)])
        gdoc = np.concatenate([gdoc, short])
        # restore (doc, position) order after appending the short docs;
        # stable sort keeps within-doc positional order
        order = np.argsort(gdoc, kind="stable")
        g, gdoc = g[order], gdoc[order]
    return g, gdoc, ndocs


def _shingle_sets_batch(texts, n: int = 3) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc sorted UNIQUE shingle sets for a whole batch: returns
    (flat uint64, offsets int64) where flat[offsets[i]:offsets[i+1]] is
    doc i's sorted shingle-hash set."""
    g, gdoc, ndocs = _gram_stream_batch(texts, n)
    order = np.lexsort((g, gdoc))
    g, gdoc = g[order], gdoc[order]
    if len(g):
        first = np.concatenate(([True], (g[1:] != g[:-1]) | (gdoc[1:] != gdoc[:-1])))
        g, gdoc = g[first], gdoc[first]
    counts = np.bincount(gdoc, minlength=ndocs)
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    return g, offsets


def _shingle_hashes(text: str, n: int = 3) -> np.ndarray:
    """Word n-gram shingle set of ONE document (sorted unique uint64) —
    single-doc convenience over the batch kernel."""
    flat, _ = _shingle_sets_batch(pd.Series([text], dtype=object), n)
    return flat


_MINHASH_SEED_STEP = _U64(0x9E3779B97F4A7C15)
_BAND_FOLD = _U64(0x100000001B3)
_SIG_KEY_SEED = _U64(0xD6E8FEB86659FD93)


def _minhash_signature(shingles: np.ndarray, num_perm: int) -> np.ndarray:
    """num_perm minima over seeded splitmix64 rehashes — vectorized as a
    (num_perm, n_shingles) matrix min."""
    seeds = np.arange(1, num_perm + 1, dtype=_U64) * _MINHASH_SEED_STEP
    with np.errstate(over="ignore"):
        mat = splitmix64(shingles[None, :] + seeds[:, None])
    return mat.min(axis=1)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, band_hash) rows: one row per (doc, band) — the LSH
    index. band_hash folds the band's rows into one int64 key.

    Fully batch-vectorized: shingle sets for the whole Arrow batch come
    from one split+hash pass; each permutation is one splitmix64 pass
    over the batch's flat shingle array plus a segmented min
    (np.minimum.reduceat) — work per batch is O(num_perm * shingles)
    C-kernel time, no per-document Python."""
    rows_per_band = num_perm // bands
    assert bands * rows_per_band == num_perm
    seeds = np.arange(1, num_perm + 1, dtype=_U64) * _MINHASH_SEED_STEP

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            flat, offsets = _shingle_sets_batch(pdf[text_col])
            ndocs = len(pdf)
            starts = offsets[:-1]
            sig = np.empty((num_perm, ndocs), dtype=_U64)
            with np.errstate(over="ignore"):
                for pi in range(num_perm):
                    sig[pi] = np.minimum.reduceat(splitmix64(flat + seeds[pi]), starts)
            with np.errstate(over="ignore"):
                folded = splitmix64(
                    sig.T.reshape(ndocs, bands, rows_per_band) * _BAND_FOLD
                ).sum(axis=2, dtype=_U64)
                # whole-signature key: equal shingle sets => equal
                # sig_key, the chain-pairing sort payload that keeps
                # exact dups adjacent inside capped mixed buckets
                sig_key = splitmix64(sig + _SIG_KEY_SEED).sum(axis=0, dtype=_U64)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[id_col].astype(str).to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), ndocs),
                    "band_hash": folded.ravel().view(np.int64),
                    "sig_key": np.repeat(sig_key.view(np.int64), bands),
                }
            )

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        fn, "id string, band int, band_hash long, sig_key long"
    )


def _banded_pairs_with_cap(bands: DataFrame, band_keys: list[str],
                           max_bucket: int,
                           payload: tuple[str, ...] = ()) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from band-bucket
    co-occurrence, quadratic-blow-up-proof WITHOUT losing whole
    clusters.

    Buckets of 2..max_bucket rows take the full equi-self-join (every
    in-bucket pair is a candidate).  Buckets LARGER than max_bucket —
    the degenerate case: boilerplate, empty docs, giant duplicate
    clusters, coincidental band collisions — fall back to STAR pairing
    against the bucket's min-id row PLUS CHAIN pairing of neighbors in
    (payload, id) sort order: 2·O(bucket) candidates instead of
    O(bucket²).  Star keeps a homogeneous dup cluster attached to one
    representative; chain guarantees that equal-signature runs inside
    a MIXED bucket stay connected even when the representative is far
    from them (star alone silently lost such dups once coincidental
    collisions pushed buckets past the cap).  Downstream connected
    components recovers full clusters from either edge set.  (Dropping
    oversize buckets outright — the earliest behavior — produced ZERO
    pairs for exactly the clusters dedup exists to find.)  Every
    candidate is still exact-verified by the caller, so the fallback
    can only cost recall on non-dup in-bucket pairs, never precision.

    Pure Catalyst dataflow: an applyInPandas version paid ~2 ms of
    per-group pandas overhead per bucket — 26 s where this takes under
    2 s at sf0.01 — and at corpus scale bucket count only grows, so
    per-group Python is the wrong shape; the joins stay in whole-stage
    codegen.

    ``payload`` columns are carried through as ``{col}_a`` /
    ``{col}_b`` so callers can verify without re-joining signatures.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*band_keys)
    sized = bands.withColumn("__bucket_size", F.count(F.lit(1)).over(w))
    small = sized.filter(
        (F.col("__bucket_size") >= 2) & (F.col("__bucket_size") <= max_bucket)
    ).drop("__bucket_size")
    a = small.alias("a")
    b = small.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for k in band_keys:
        cond &= F.col(f"a.{k}") == F.col(f"b.{k}")
    sel = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    sel += [F.col(f"a.{p}").alias(f"{p}_a") for p in payload]
    sel += [F.col(f"b.{p}").alias(f"{p}_b") for p in payload]
    full = a.join(b, cond).select(*sel)

    # star fallback: min(struct(id, payload...)) picks the rep row
    # atomically; rep has the bucket-min id, so id_a < id_b holds
    big = sized.filter(F.col("__bucket_size") > max_bucket)
    rep = F.min(F.struct("id", *payload)).over(w)
    star = (
        big.withColumn("__rep", rep)
        .filter(F.col("id") != F.col("__rep.id"))
        .select(
            F.col("__rep.id").alias("id_a"),
            F.col("id").alias("id_b"),
            *[F.col(f"__rep.{p}").alias(f"{p}_a") for p in payload],
            *[F.col(p).alias(f"{p}_b") for p in payload],
        )
    )
    # chain fallback alongside the star: adjacent pairs over the bucket
    # sorted by (payload, id).  Star alone loses genuine dups in a
    # MIXED oversize bucket — members connect only through the min-id
    # rep, and when the rep is far from a dup pair (a coincidental
    # band collision, routine at corpus scale) both star edges fail
    # the caller's exact verify and the pair vanishes.  Sorting by
    # payload makes every equal-signature run adjacent, so true dups
    # chain together regardless of what the rep looks like; cost stays
    # O(bucket) candidates.
    row = F.struct("id", *payload)
    wo = Window.partitionBy(*band_keys).orderBy(
        *[F.col(p) for p in payload], F.col("id"))
    prev_lt = F.col("__prev.id") < F.col("id")
    chain = (
        big.withColumn("__prev", F.lag(row).over(wo))
        .filter(F.col("__prev").isNotNull())
        .withColumn("__sa", F.when(prev_lt, F.col("__prev")).otherwise(row))
        .withColumn("__sb", F.when(prev_lt, row).otherwise(F.col("__prev")))
        .select(
            F.col("__sa.id").alias("id_a"),
            F.col("__sb.id").alias("id_b"),
            *[F.col(f"__sa.{p}").alias(f"{p}_a") for p in payload],
            *[F.col(f"__sb.{p}").alias(f"{p}_b") for p in payload],
        )
    )
    return full.unionByName(star).unionByName(chain).distinct()


def lsh_candidate_pairs(index: DataFrame, max_bucket: int = 64) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from band-bucket
    co-occurrence; oversize degenerate buckets degrade to star+chain
    pairing instead of dropping (see :func:`_banded_pairs_with_cap`).
    The chain sorts by ``sig_key`` (whole-signature fold carried by
    minhash_signatures) when present, so identical-shingle-set docs
    stay connected even inside MIXED capped buckets whose min-id
    representative is dissimilar to them — without it the chain would
    sort by id alone and the simhash mixed-bucket recall bug would
    recur here."""
    payload = ("sig_key",) if "sig_key" in index.columns else ()
    return _banded_pairs_with_cap(
        index, ["band", "band_hash"], max_bucket, payload=payload
    ).select("id_a", "id_b")


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingle_hashes(a), _shingle_hashes(b)
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    union = sa.size + sb.size - inter
    return inter / union if union else 1.0


def verify_pairs_exact(pairs: DataFrame, docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", threshold: float = 0.5) -> DataFrame:
    """Join candidate pairs back to texts and keep those whose *exact*
    shingle Jaccard >= threshold — removes all LSH false positives, so
    downstream results are deterministic given the corpus."""
    d = docs.select(F.col(id_col).cast("string").alias("__id"), F.col(text_col).alias("__text"))
    joined = (
        pairs.join(d.withColumnRenamed("__id", "id_a").withColumnRenamed("__text", "text_a"), "id_a")
        .join(d.withColumnRenamed("__id", "id_b").withColumnRenamed("__text", "text_b"), "id_b")
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            # a doc participates in many candidate pairs: shingle every
            # distinct doc in the batch in ONE batched split+hash pass
            docs = pd.concat(
                [
                    pdf[["id_a", "text_a"]].rename(columns={"id_a": "id", "text_a": "t"}),
                    pdf[["id_b", "text_b"]].rename(columns={"id_b": "id", "text_b": "t"}),
                ]
            ).drop_duplicates("id")
            flat, offsets = _shingle_sets_batch(docs["t"].reset_index(drop=True))
            pos = {d: i for i, d in enumerate(docs["id"])}
            ia_idx = pdf["id_a"].map(pos).to_numpy()
            ib_idx = pdf["id_b"].map(pos).to_numpy()
            sims = _pair_jaccard_batch(flat, offsets, ia_idx, ib_idx)
            out = pdf[["id_a", "id_b"]].copy()
            out["jaccard"] = sims
            yield out[out["jaccard"] >= threshold]

    return joined.mapInPandas(fn, "id_a string, id_b string, jaccard double")


def _pair_jaccard_batch(flat: np.ndarray, offsets: np.ndarray,
                        ia_idx: np.ndarray, ib_idx: np.ndarray) -> np.ndarray:
    """Exact Jaccard for P (doc_a, doc_b) pairs over per-doc sorted
    unique shingle sets — zero per-pair Python.

    Gather every pair's two sets into one flat array tagged with its
    pair index, sort by (pair, hash), count adjacent equal hashes:
    within a pair duplicates can only cross the a/b boundary (each set
    is unique), so the adjacent-equal count IS the intersection size.
    O(L log L) for L = total gathered hashes, all inside numpy.
    """
    npairs = len(ia_idx)
    sz = np.diff(offsets)
    sa_sz = sz[ia_idx]
    sb_sz = sz[ib_idx]
    # interleave (a_start, a_len), (b_start, b_len) segments per pair
    seg_starts = np.column_stack((offsets[ia_idx], offsets[ib_idx])).ravel()
    seg_lens = np.column_stack((sa_sz, sb_sz)).ravel()
    seg_pair = np.repeat(np.arange(npairs, dtype=np.int64), 2)
    nz = seg_lens > 0
    seg_starts, seg_lens, seg_pair = seg_starts[nz], seg_lens[nz], seg_pair[nz]
    inter = np.zeros(npairs, dtype=np.int64)
    if seg_lens.size:
        # vectorized [start, start+len) range concatenation
        ends = np.cumsum(seg_lens)
        step = np.ones(int(ends[-1]), dtype=np.int64)
        step[0] = seg_starts[0]
        step[ends[:-1]] = seg_starts[1:] - (seg_starts[:-1] + seg_lens[:-1] - 1)
        gather = np.cumsum(step)
        vals = flat[gather]
        pair_of = np.repeat(seg_pair, seg_lens)
        order = np.lexsort((vals, pair_of))
        vals, pair_of = vals[order], pair_of[order]
        dupe = (vals[1:] == vals[:-1]) & (pair_of[1:] == pair_of[:-1])
        np.add.at(inter, pair_of[1:][dupe], 1)
    union = sa_sz + sb_sz - inter
    return np.divide(inter, union, out=np.ones(npairs, dtype=np.float64),
                     where=union > 0)


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """End-to-end near-dup pipeline: signatures → LSH buckets →
    candidate pairs → exact-Jaccard verification."""
    idx = minhash_signatures(df, text_col, id_col, num_perm, bands)
    cands = lsh_candidate_pairs(idx)
    return verify_pairs_exact(cands, df, text_col, id_col, threshold)


# ---- exact n-gram Jaccard (set-similarity join, pure Catalyst) ----------------


def _gram_sets(df: DataFrame, text_col: str, id_col: str, n: int,
               max_gram_docs: int | None) -> tuple[DataFrame, DataFrame]:
    """Each doc's distinct word-n-gram set as ``(id, sz)`` set sizes and
    exploded ``(id, g)`` rows — the input of both n-gram pair joins.

    ``max_gram_docs`` drops from the rows (not from the sizes) every
    gram in more than that many docs.  Grams are distinct per doc, so a
    gram's row count is its document frequency; the count is a
    ``groupBy`` (partial counts before the shuffle, so a stop-gram
    shared by every doc is one row per task, not every row on one task
    as a per-gram window would be), and the over-cap grams leave by a
    broadcast anti join.
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    sets = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.array_distinct(grams).alias("grams"),
    )
    tokens = sets.select("id", F.explode("grams").alias("g"))
    if max_gram_docs is not None:
        stop = tokens.groupBy("g").count().filter(F.col("count") > max_gram_docs).select("g")
        tokens = tokens.join(F.broadcast(stop), "g", "left_anti")
    return sets.select("id", F.size("grams").alias("sz")), tokens


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.5, n: int = 3,
                        max_gram_docs: int | None = None) -> DataFrame:
    """EXACT word-n-gram Jaccard pairs (id_a < id_b, jaccard >= t) as a
    classic set-similarity join, entirely in Catalyst (whole-stage
    codegen, no Python):

    gram construction (split → sliding concat → array_distinct) →
    explode → self-join on gram (co-occurrence counts) → join per-doc
    set sizes → jaccard = c / (|A| + |B| - c).

    Shuffles are keyed on gram hashes (uniform except stop-gram
    hotspots) and on the pair key.  ``max_gram_docs`` optionally drops
    grams appearing in more than that many docs — the standard
    frequency filter for corpus scale (a gram shared by half the corpus
    carries no discriminative signal but quadratic join cost); leaving
    it None keeps the result exact, which is what the oracle checks.

    Word definition matches every other dedup consumer (runs of
    whitespace, no empty words — Python ``str.split()`` semantics), so
    this Jaccard is the same similarity verify_pairs_exact computes.
    """
    sizes, tokens = _gram_sets(df, text_col, id_col, n, max_gram_docs)
    a, b = tokens.alias("a"), tokens.alias("b")
    co = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    return (
        co.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("c") / (F.col("sz_a") + F.col("sz_b") - F.col("c")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold: float = 0.8, n: int = 3,
                            max_gram_docs: int | None = None) -> DataFrame:
    """EXACT one-sided n-gram containment pairs — the quote/subsumption
    detector Jaccard misses: containment(A→B) = |A∩B| / |A| is high
    when A's grams are mostly inside B even if B is much larger (a doc
    quoting another, a page embedding a whole smaller page), where
    Jaccard is diluted by |B|.  Emits ORDERED pairs (id_a contained in
    id_b, id_a ≠ id_b) with containment ≥ threshold.

    Same Catalyst set-similarity-join dataflow as ngram_jaccard_pairs
    (split → sliding concat → array_distinct → explode → gram-keyed
    co-occurrence join → per-doc set sizes), so the scale posture is
    identical: shuffles keyed on gram and on the pair key, whole-stage
    codegen, no Python.  The single division c/|A| is bit-exact for the
    oracle.  Word semantics = repo-wide str.split().

    ``max_gram_docs`` mirrors ngram_jaccard_pairs' corpus-scale
    frequency filter: grams appearing in more than that many docs are
    dropped from candidate generation (a stop-gram shared by half the
    corpus carries no containment signal but quadratic join cost);
    None keeps the result exact, which is what the oracle checks.
    """
    sizes, tokens = _gram_sets(df, text_col, id_col, n, max_gram_docs)
    a, b = tokens.alias("a"), tokens.alias("b")
    co = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    return (
        co.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .withColumn("containment", F.col("c") / F.col("sz_a"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# ---- simhash ------------------------------------------------------------------


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc: sign-sum of word-hash bit vectors.

    Batch-vectorized: one Arrow split + one string-hash pass per batch,
    bit unpack in 16-bit chunks (bounds scratch memory), per-doc sums
    via segmented np.add.reduceat — no per-document Python."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitcols = np.arange(64, dtype=_U64)
        for pdf in it:
            if not len(pdf):
                continue
            wh, lengths = _split_words_batch(pdf[text_col])
            ndocs = len(pdf)
            sigs = np.zeros(ndocs, dtype=np.int64)
            nonempty = lengths > 0
            if wh.size:
                bounds = np.concatenate(([0], np.cumsum(lengths)))
                starts_ne = bounds[:-1][nonempty]
                sums = np.empty((int(nonempty.sum()), 64), dtype=np.int64)
                # 16 bit-planes at a time keeps the unpacked scratch
                # array ~word_count x 16 int32 (cache-resident)
                for b0 in range(0, 64, 16):
                    chunk = ((wh[:, None] >> bitcols[None, b0 : b0 + 16]) & _U64(1)).astype(np.int32)
                    sums[:, b0 : b0 + 16] = np.add.reduceat(chunk, starts_ne, axis=0)
                majority = (sums * 2 - lengths[nonempty, None]) > 0
                with np.errstate(over="ignore"):
                    packed = (majority.astype(_U64) << bitcols[None, :]).sum(
                        axis=1, dtype=_U64
                    )
                sigs[nonempty] = packed.view(np.int64)
            yield pd.DataFrame({"id": pdf[id_col].astype(str), "simhash": sigs})

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        fn, "id string, simhash long"
    )


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           max_hamming: int = 3, max_bucket: int = 64) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 16-bit
    bands (any pair within Hamming<=3 of a 64-bit hash shares at least
    one of 4 bands by pigeonhole), verified by exact Hamming distance.

    Degenerate buckets use the shared cap machinery
    (:func:`_banded_pairs_with_cap`): a (band, band_val) bucket larger
    than ``max_bucket`` emits star pairs against its min-id
    representative instead of the full self-join — a corpus with 10k
    copies of one template costs ~10k candidates per band instead of
    ~10^8, and the cluster still surfaces whole (star edges attach
    copies to a representative; chain edges connect equal-simhash
    neighbors even in mixed buckets; connected components collapses
    them).  Exhaustiveness is guaranteed for any pair sharing at least
    one band bucket of <= max_bucket rows, and for identical-simhash
    pairs in buckets of ANY size (chain adjacency); the exact Hamming
    filter keeps precision exact regardless."""
    sigs = simhash_signatures(df, text_col, id_col)
    bands = sigs.select(
        "id", "simhash", F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)
        ])).alias("band", "band_val")
    )
    # exact Hamming check stays in Catalyst: popcount via bit_count on
    # the XOR of the carried signatures
    return (
        _banded_pairs_with_cap(bands, ["band", "band_val"], max_bucket,
                               payload=("simhash",))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---- dup-cluster connected components ------------------------------------------


def _ckpt(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Truncate plan lineage between iterative rounds.  With a
    ``checkpoint_dir`` this is a RELIABLE checkpoint (survives executor
    loss on a real cluster — the directory should be shared storage);
    without one it falls back to localCheckpoint, which stores blocks
    on executors only: cheaper, but an executor loss mid-iteration
    makes the job unrecoverable — fine on local mode / retry-the-job
    pipelines, not for long multi-round jobs at cluster scale."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        cur = sc._jsc.sc().getCheckpointDir()
        # honor the CALLER's directory: silently checkpointing into a
        # previously-set session dir would void the durability the
        # caller asked for.  Spark stores dir/<uuid> (often with a
        # scheme prefix), so "already set to this dir" = the requested
        # path appears in the effective one.  Note setCheckpointDir is
        # session-global — an unavoidable side effect of reliable
        # checkpoints, called out here rather than hidden.
        if cur.isEmpty() or checkpoint_dir.rstrip("/") not in cur.get():
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint()
    return df.localCheckpoint()


def components_from_pairs(pairs_df: DataFrame, id_a: str = "id_a",
                          id_b: str = "id_b",
                          max_iterations: int = 50,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over near-dup pair edges: the step after
    pair detection in every dedup pipeline (keep one representative per
    duplicate CLUSTER, not per pair — pairs (a,b),(b,c) must collapse
    to one cluster even though (a,c) was never emitted).

    Returns ``(id, component)`` for every endpoint, where ``component``
    is the minimum id reachable through the pair graph — so
    ``filter(id == component)`` keeps exactly one representative per
    cluster and the choice is deterministic.

    Algorithm: iterative min-label propagation — each round every node
    takes ``min(own label, neighbors' labels)`` — run to fixpoint with
    an exact convergence check.  Each round is one shuffle join keyed
    on node id; rounds needed = graph diameter.  Near-dup clusters are
    dense (diameter rarely above a few hops), so this is the right
    shape at corpus scale; for pathological diameters use
    ``components_star`` (large-star/small-star contraction, O(log n)
    rounds on any diameter).  Labels propagate through ``_ckpt`` each
    round so the plan never accumulates lineage (pass
    ``checkpoint_dir`` for executor-loss-safe reliable checkpoints).

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iterations`` — loud, never a silently-partial clustering.
    """
    edges = pairs_df.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = _ckpt(edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct(), checkpoint_dir)
    labels = _ckpt(
        edges.select("src").distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("label")),
        checkpoint_dir,
    )
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        new_labels = _ckpt(
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                labels["id"].alias("id"),
                F.least(labels["label"], F.coalesce(nbr["nlabel"], labels["label"]))
                .alias("label"),
            ),
            checkpoint_dir,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("id"), F.col("label").alias("component"))
    raise RuntimeError(
        f"components_from_pairs did not converge in {max_iterations} rounds "
        f"(graph diameter exceeds the bound) — raise max_iterations or use "
        f"components_star, whose round count is O(log n) on any diameter"
    )


def components_star(pairs_df: DataFrame, id_a: str = "id_a",
                    id_b: str = "id_b", max_rounds: int = 60,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — same output contract as
    ``components_from_pairs`` ((id, component) per endpoint, component
    = min id in the cluster), but the round count is O(log n) in the
    NODE count regardless of graph diameter, so a million-hop chain
    converges in ~20 rounds instead of a million.

    Each round is two shuffle-group phases over the edge list:

    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u});
    - small-star(u): u and every neighbor v < u attach to the same m.

    Both phases keep every edge incident to a node's minimum, so
    connectivity is invariant; contraction halves the height of the
    forest per round.  Convergence = the canonical edge set's
    (count, hash-sum) fingerprint stops changing — one cheap aggregate
    per round, no full diff.  Lineage is truncated per round via
    ``_ckpt`` (pass ``checkpoint_dir`` for executor-loss-safe reliable
    checkpoints on long jobs)."""
    # ids keep their input type — the algorithm only needs a total
    # order (string ids label by lexicographic min, like
    # components_from_pairs)
    raw = pairs_df.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    # every input endpoint must appear in the output — nodes whose only
    # edges are self-loops become singleton components
    nodes = _ckpt(raw.select("u").union(raw.select("v")).distinct(),
                  checkpoint_dir)
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    edges = _ckpt(edges, checkpoint_dir)

    def fingerprint(e: DataFrame):
        row = e.select(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),  # xor: no ANSI overflow
        ).collect()[0]
        return (row.n, row.h)

    def neighborhood_min(e: DataFrame):
        bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (bi.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m")))
        return mins, bi

    fp = fingerprint(edges)
    for _ in range(max_rounds):
        # large-star: (v, m) for v > u
        mins, bi = neighborhood_min(edges)
        large = (
            bi.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        edges = _ckpt(large.distinct(), checkpoint_dir)
        # small-star: (v, m) for v < u, plus (u, m)
        mins, bi = neighborhood_min(edges)
        small = (
            bi.filter(F.col("v") < F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        edges = _ckpt(small, checkpoint_dir)
        new_fp = fingerprint(edges)
        if new_fp == fp:
            # fixpoint: every edge is (child, root-min); emit labels,
            # plus singleton self-labels for edge-less endpoints
            labeled = (
                edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
                .union(edges.select(F.col("v").alias("id"), F.col("v").alias("component")))
                .distinct()
            )
            singles = nodes.join(
                labeled.select(F.col("id").alias("u")).distinct(), "u", "left_anti"
            ).select(F.col("u").alias("id"), F.col("u").alias("component"))
            return labeled.union(singles)
        fp = new_fp
    raise RuntimeError(
        f"components_star did not converge in {max_rounds} rounds — "
        f"that exceeds the O(log n) bound for any real graph; "
        f"inspect the edge input"
    )


def keep_best_per_cluster(docs: DataFrame, clusters: DataFrame,
                          order_by, id_col: str = "doc_id") -> DataFrame:
    """Canonicalize duplicate clusters: keep exactly ONE document per
    cluster — the first under ``order_by`` (a list of Column sort
    expressions, e.g. ``[F.length("text").desc()]``), ties broken by
    ascending id — plus every document that is in no cluster.  The
    step after ``components_from_pairs``/``components_star`` in a real
    dedup pipeline: dropping dups by min-id keeps an arbitrary member,
    while training pipelines keep the best one (longest, highest
    quality score, lowest LM nll, ...).

    ``clusters`` is the components output, ``(id, component)`` — its
    id column must be the same type/values as ``docs[id_col]`` (the
    components functions preserve their input id type).  Returns the
    kept docs with their ORIGINAL schema.

    Plan shape: one join of docs against the (much smaller, dup
    members only) cluster map — AQE broadcasts it when it fits — then
    a rank-1 filter over ``Window.partitionBy(cluster)``, which Spark
    executes as WindowGroupLimit: per-partition top-1 pre-filtering
    below the exchange, so the shuffle carries at most one candidate
    row per cluster per input partition, never the whole corpus.
    Unclustered docs pass through as their own singleton group (label
    = own id: uniform keys, no skew).
    """
    lbl = clusters.select(F.col("id").alias("__kid"),
                          F.col("component").alias("__cluster"))
    joined = docs.join(
        lbl, docs[id_col] == lbl["__kid"], "left"
    ).withColumn(
        "__grp",
        F.coalesce(F.col("__cluster"), docs[id_col].cast(
            lbl.schema["__cluster"].dataType)),
    )
    w = Window.partitionBy("__grp").orderBy(*order_by, F.col(id_col).asc())
    return (joined.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*docs.columns))
