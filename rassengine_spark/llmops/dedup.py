"""Corpus-scale deduplication operators for training-data pipelines.

Five fidelity/cost tiers, all pure DataFrame ops designed for 100 TB:

- exact            — hash-groupBy; one shuffle on the hash, map-side partial agg
- minhash + LSH    — shingle -> K salted-md5 minhashes -> B bands -> bucket
                     join; candidate pairs only form inside identical band
                     buckets, so the O(n^2) blowup is bounded by bucket sizes
- simhash          — 32-bit sign-of-weighted-sum fingerprint; near-dups have
                     small Hamming distance (block on bit-prefix at scale)
- n-gram Jaccard   — exact pairwise verification inside blocks (the
                     verify step after LSH candidate generation)
- embedding cosine — near-dup by semantic similarity inside blocks

Hashing uses md5 (salted per hash index) converted to a 60-bit integer via
conv(hex) — chosen over murmur/xxhash because md5 is available bit-identically
in every engine (Spark, DuckDB, Python), keeping oracles exact.

All expressions are built-ins (transform/aggregate/array_*); no Python UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vector import cosine, dot_sql, l2_norm_sql
from ..sources.chunker import word_ngram_array, words_of
from ..util import double_array_sql, double_matrix_sql, qident, spread

# 60-bit hash from a salted md5 — bit-identical across engines
def hash60(col: Column, salt: int | None = None) -> Column:
    c = col if salt is None else F.concat(col, F.lit(f"#{salt}"))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------- exact
def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical values: (content hash, dup_count, keeper_id).
    Keeper = min id (deterministic). Scale: single hash-shuffle with
    map-side combine; the hash (not the payload) is the shuffle key."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
              .agg(F.count(F.lit(1)).alias("dup_count"),
                   F.min(F.col(id_col)).alias("keeper_id"))
              .filter(F.col("dup_count") > 1))


# ---------------------------------------------------------------- shingles
def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; texts shorter than n words collapse to
    a single whole-text shingle (guarded — Spark's sequence() would run
    backwards on negative lengths)."""
    w = words_of(col)
    grams = word_ngram_array(w, n)     # linear zip expansion
    return F.when(F.size(w) >= n, F.array_distinct(grams)) \
            .otherwise(F.array(F.array_join(w, " ")))


# ---------------------------------------------------------------- minhash
# Carter-Wegman family: one md5 per shingle split into two 48-bit halves
# (h1, h2); hash_i = (h1 + i*h2) mod p. 16x fewer md5 evaluations than
# salting per index — md5 inside a higher-order function is interpreted
# (not codegen), so it dominates minhash cost. i*h2 < 16*2^48 stays far
# under bigint overflow; p = 2^31-1 mixes the family.
_MINHASH_P = 2147483647


def _shingle_h12(shingles: Column) -> Column:
    """array<struct<h1,h2>>: the two 48-bit md5 halves per shingle."""
    def halves(s: Column) -> Column:
        hx = F.md5(s)
        return F.struct(
            F.conv(F.substring(hx, 1, 12), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(hx, 13, 12), 16, 10).cast("bigint").alias("h2"))
    return F.transform(shingles, halves)


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """K-wide minhash signature: sig[i] = min over shingles of
    (h1 + i*h2) mod p. Per-row expression — zero shuffle at any scale.

    Built as ONE aggregate pass with a K-wide accumulator: higher-order
    lambdas are interpreted (not codegen), so per-invocation overhead
    dominates — K separate array_min(transform(...)) passes cost K×|sh|
    lambda invocations vs |sh| here."""
    h12 = _shingle_h12(shingles)

    def step(acc: Column, x: Column) -> Column:
        vals = F.array(*[(x["h1"] + F.lit(i) * x["h2"]) % _MINHASH_P
                         for i in range(num_hashes)])
        return F.zip_with(acc, vals, lambda a, v: F.least(a, v))

    return F.aggregate(
        h12,
        F.array_repeat(F.lit(_MINHASH_P).cast("bigint"), num_hashes),
        step)


def band_keys(sig: Column, bands: int, rows: int) -> Column:
    """LSH banding: md5 over each band's rows -> array<string> of length B."""
    keys = [F.md5(F.concat_ws(
        ",", *[F.element_at(sig, b * rows + r + 1).cast("string")
               for r in range(rows)])) for b in range(bands)]
    return F.array(*keys)


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter).cast("double")


def _minhash_index_pandas(df: DataFrame, text_col: str, id_col: str,
                          shingle_n: int, num_hashes: int,
                          bands: int) -> DataFrame:
    """Arrow-batched (id, shingles, band-keys) pass, bit-identical to
    `word_shingles` + `minhash_signature` + `band_keys` (same Java-``\\s+``
    tokenization, same md5-halves Carter-Wegman family, same band md5) but
    numpy-vectorized instead of interpreted higher-order expressions —
    the md5-inside-transform expressions profiled as the dominant cost of
    the LSH pipeline. Signatures stay inside the batch; only what the
    joins need (shingle set for verify, band keys for bucketing) leaves."""
    import hashlib
    import re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from pyspark.sql.types import LongType

    rows = num_hashes // bands
    ws_re = re.compile("[ \t\n\x0b\f\r]+")
    src = spread(df).select(F.col(id_col).alias("id"),
                            F.col(text_col).cast("string").alias("txt"))
    schema = StructType([
        StructField("id", src.schema["id"].dataType, False),
        StructField("sh", ArrayType(StringType()), False),
        StructField("bk", ArrayType(StringType()), False),
        StructField("sig", ArrayType(LongType()), False)])

    def run(batches):
        import numpy as np
        import pandas as pd
        idx = np.arange(num_hashes, dtype=np.int64)
        # partition-scoped shingle->(h1,h2) memo: shingles repeat heavily
        # across documents (boilerplate, small vocabularies), and the md5 +
        # two hex parses per shingle were the profiled cost of this pass —
        # capped so a pathological partition can't hold the worker's memory
        memo: dict[str, tuple[int, int]] = {}

        def hpair(s: str) -> tuple[int, int]:
            v = memo.get(s)
            if v is None:
                h = hashlib.md5(s.encode()).hexdigest()
                v = (int(h[:12], 16), int(h[12:24], 16))
                if len(memo) < (1 << 20):
                    memo[s] = v
            return v

        for pdf in batches:
            ids, shs, bks, sigs = [], [], [], []
            for rid, txt in zip(pdf["id"], pdf["txt"]):
                words = [w for w in ws_re.split(txt or "") if w]
                if len(words) >= shingle_n:
                    sh = list(dict.fromkeys(
                        " ".join(words[j:j + shingle_n])
                        for j in range(len(words) - shingle_n + 1)))
                else:
                    sh = [" ".join(words)]
                hp = [hpair(s) for s in sh]
                h1 = np.fromiter((p[0] for p in hp), dtype=np.int64,
                                 count=len(hp))
                h2 = np.fromiter((p[1] for p in hp), dtype=np.int64,
                                 count=len(hp))
                # (|sh| x K) grid; i*h2 < 16*2^48 — no int64 overflow
                sig = ((h1[:, None] + idx[None, :] * h2[:, None])
                       % _MINHASH_P).min(axis=0)
                bk = [hashlib.md5(
                          ",".join(str(sig[b * rows + r])
                                   for r in range(rows)).encode()
                      ).hexdigest() for b in range(bands)]
                ids.append(rid)
                shs.append(sh)
                bks.append(bk)
                sigs.append([int(x) for x in sig])
            yield pd.DataFrame({"id": ids, "sh": shs, "bk": bks,
                                "sig": sigs})

    return src.mapInPandas(run, schema=schema)


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      shingle_n: int = 3, num_hashes: int = 16,
                      bands: int = 4, threshold: float = 0.5,
                      round_to: int = 6,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs via minhash-LSH: candidates collide in >=1 band
    bucket, then exact shingle-Jaccard >= threshold verifies.

    Scale path: the only shuffle keys on (band_idx, band_key); identical
    pairs found in multiple bands are deduped with groupBy on (id_a, id_b).
    At 100 TB, bucket skew (boilerplate text) is handled by AQE skew-join
    and, opt-in, `max_bucket_size`: buckets larger than the cap are dropped
    before the self-join (a bucket of c docs yields c^2/2 candidate rows —
    one boilerplate bucket of 10^6 docs is 5*10^11 pairs). The trade-off is
    recall: a pair whose ONLY collision is in dropped buckets is missed;
    real near-dups collide in several bands, so the loss concentrates on
    boilerplate — exactly what corpus dedup wants to ignore. Off by
    default so results stay exactly LSH-complete (and oracle-exact).
    """
    # one cached pandas pass yields both what banding needs (bk) and what
    # verification needs (sh); the expression twins (word_shingles +
    # minhash_signature + band_keys) remain the reference semantics and
    # stay exported for decontam/tests
    # localCheckpoint, not cache(): the signature pass is reused by the
    # banding and the verify join within this call, and checkpoint blocks
    # are released when the plan is GC'd — cache() would pin executor
    # storage across serve calls with no unpersist site
    mh = _minhash_index_pandas(df, text_col, id_col, shingle_n,
                               num_hashes, bands).localCheckpoint(eager=False)
    sh = mh.select("id", "sh")
    # banding carries ONLY (id, band, key): the shingle arrays would
    # otherwise ride through the shuffle twice and the pair-dedup once
    banded = mh.select("id", F.posexplode("bk").alias("band", "key"))
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "key")
        banded = (banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
                        .filter(F.col("_bsz") <= max_bucket_size)
                        .drop("_bsz"))
    cand = (banded.join(banded.select(F.col("id").alias("id_b"),
                                      "band", "key"), ["band", "key"])
                  .filter(F.col("id") < F.col("id_b"))
                  .select(F.col("id").alias("id_a"), "id_b")
                  .distinct())
    # verify: re-join the (small) candidate set to the shingle arrays
    return (cand.join(sh.select(F.col("id").alias("id_a"),
                                F.col("sh").alias("sh_a")), "id_a")
                .join(sh.select(F.col("id").alias("id_b"),
                                F.col("sh").alias("sh_b")), "id_b")
                .withColumn("jaccard",
                            F.round(jaccard(F.col("sh_a"), F.col("sh_b")),
                                    round_to))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))


# ------------------------------------------------- incremental dedup tier
# Deduping a daily crawl against a 100 TB historical corpus must NOT
# re-shingle history. The signature STORE holds (band, key, id, sig) — a
# few hundred bytes per historical doc, written once per corpus version —
# and each increment joins its (small) banded signatures against it. The
# increment side is broadcast, so the store is scanned (never shuffled)
# and history text is never touched. Candidate verification uses the
# minhash ESTIMATE of Jaccard (matching signature components / K): exact
# shingle verification would require storing the shingle sets, which is
# storing the corpus. m/K is an exact dyadic rational — engine-exact with
# no rounding concerns.


def minhash_store_frame(df: DataFrame, text_col: str, id_col: str,
                        shingle_n: int = 3, num_hashes: int = 16,
                        bands: int = 4) -> DataFrame:
    """(band, key, id, sig) — the persistable signature index of a corpus."""
    mh = _minhash_index_pandas(df, text_col, id_col, shingle_n,
                               num_hashes, bands)
    return mh.select("id", "sig", F.posexplode("bk").alias("band", "key"))


def save_minhash_store(df: DataFrame, text_col: str, id_col: str,
                       path: str, shingle_n: int = 3, num_hashes: int = 16,
                       bands: int = 4) -> None:
    """Write the signature store partitioned by band (each band's bucket
    table is one partition; an increment probes all bands, so partitioning
    serves layout/append hygiene, not pruning). Append new corpus slices
    with mode('append') after deduping them."""
    (minhash_store_frame(df, text_col, id_col, shingle_n, num_hashes,
                         bands)
     .write.partitionBy("band").mode("overwrite").parquet(path))


def incremental_minhash_pairs(new_df: DataFrame, store: DataFrame,
                              text_col: str, id_col: str,
                              shingle_n: int = 3, num_hashes: int = 16,
                              bands: int = 4, threshold: float = 0.5,
                              round_to: int = 6,
                              new_banded: DataFrame | None = None
                              ) -> DataFrame:
    """(id_old, id_new, est_jaccard) pairs between the historical `store`
    (a minhash_store_frame / loaded save_minhash_store table) and a new
    batch: band-bucket join on the broadcast new side, then the signature
    Jaccard estimate filters at `threshold`. In-batch duplicates are the
    existing minhash_lsh_pairs' job — compose both for a full increment.
    Pass `new_banded` (a precomputed minhash_store_frame of new_df) to
    reuse signatures the caller also appends to the store."""
    if new_banded is None:
        new_banded = minhash_store_frame(new_df, text_col, id_col,
                                         shingle_n, num_hashes, bands)
    cand = (store.join(
                F.broadcast(new_banded
                            .select(F.col("id").alias("id_new"),
                                    F.col("sig").alias("sig_new"),
                                    "band", "key")),
                ["band", "key"])
            .select(F.col("id").alias("id_old"),
                    F.col("sig").alias("sig_old"), "id_new", "sig_new"))
    matches = F.size(F.filter(
        F.zip_with(F.col("sig_old"), F.col("sig_new"),
                   lambda x, y: x == y), lambda m: m))
    est = F.round(matches.cast("double") / F.lit(float(num_hashes)),
                  round_to)
    # the estimate is recomputed per band collision (16 comparisons) so the
    # multi-band dedup is a DISTINCT over scalars — a codegen hash
    # aggregate, not the SortAggregate a first(array) dedup would force
    return (cand.withColumn("est_jaccard", est)
                .filter(F.col("est_jaccard") >= threshold)
                .select("id_old", "id_new", "est_jaccard")
                .distinct())


# ---------------------------------------------------------------- simhash
def simhash32(col: Column) -> Column:
    """32-bit simhash over distinct tokens: bit j is set when the sum of
    (+1/-1) contributions of token-hash bit j is positive.

    Per-row expression; at scale, near-dup candidates are blocked on a
    bit-prefix of the fingerprint and verified by Hamming distance
    (hamming32 below)."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != ""))
    hs = F.transform(toks, lambda t: hash60(t))

    # single aggregate pass: the accumulator is the 32-vector of signed bit
    # counts (one array traversal; 32 separate F.aggregate calls would
    # re-walk the token array per bit, interpreted)
    def add_bits(acc: Column, h: Column) -> Column:
        contrib = F.array(*[
            F.when(h.bitwiseAND(F.lit(1 << j)) != 0,
                   F.lit(1)).otherwise(F.lit(-1))
            for j in range(32)])
        return F.zip_with(acc, contrib, lambda a, c: a + c)

    counts = F.aggregate(
        hs, F.array_repeat(F.lit(0).cast("bigint"), 32), add_bits)
    out = F.lit(0).cast("bigint")
    for j in range(32):
        out = out + F.when(F.element_at(counts, j + 1) > 0,
                           F.lit(1 << j)).otherwise(0)
    return out


def hamming32(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_fingerprints(df: DataFrame, text_col: str,
                         id_col: str) -> DataFrame:
    """Arrow-batched twin of ``simhash32`` (identical output values).

    The expression form runs ~13M interpreted lambda steps per 5k docs
    (per-token 32-wide accumulators never reach codegen); here the token
    loop is one numpy popcount matrix per batch. hashlib.md5 ==
    Spark/DuckDB md5 bit-for-bit, so oracles are unaffected. Zero shuffle,
    embarrassingly parallel — same scale shape, ~5x faster per row."""
    import hashlib
    import re
    from typing import Iterator

    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    md5 = hashlib.md5
    split = re.compile(r"[^a-z0-9]+", re.ASCII).split
    bits = np.arange(32, dtype=np.uint64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for t in pdf[text_col].fillna(""):
                toks = {w for w in split(t.lower()) if w}
                if not toks:
                    out.append(0)
                    continue
                # hash60: top 60 bits of md5, exactly conv(hex[:15],16,10)
                hs = np.fromiter(
                    (int.from_bytes(md5(w.encode()).digest()[:8], "big") >> 4
                     for w in toks), dtype=np.uint64, count=len(toks))
                ones = ((hs[:, None] >> bits) & 1).sum(axis=0)
                # bit j set when sum of +-1 contributions is positive
                fp = int(((ones * 2 > len(toks)).astype(np.uint64)
                          << bits).sum())
                out.append(fp)
            yield pd.DataFrame({"id": pdf[id_col], "simhash": out})

    return spread(df.select(id_col, text_col)).mapInPandas(
        run, schema=f"id {id_type}, simhash bigint")


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3,
                       prefix_bits: int = 8) -> DataFrame:
    """Near-dup pairs: block on the top `prefix_bits` of the fingerprint,
    verify Hamming <= max_hamming inside blocks. (A full implementation
    rotates the fingerprint to cover all bit positions; one rotation is
    enough to demonstrate the plan shape.)"""
    fp = simhash_fingerprints(df, text_col, id_col)
    block = (F.shiftright(F.col("simhash"), 32 - prefix_bits)).alias("block")
    b = fp.select("id", "simhash", block)
    left = b.select(F.col("id").alias("id_a"),
                    F.col("simhash").alias("sh_a"), "block")
    right = b.select(F.col("id").alias("id_b"),
                     F.col("simhash").alias("sh_b"), "block")
    return (left.join(right, "block")
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("hamming", hamming32(F.col("sh_a"), F.col("sh_b")))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------- n-gram Jaccard
def _shingle_index_pandas(df: DataFrame, text_col: str, id_col: str,
                          block_col: str, n: int) -> DataFrame:
    """Arrow-batched inverted shingle index: one output row per (doc,
    distinct word-n-gram), columns (id, sz=|distinct shingles|, k=64-bit
    key of (block, shingle)).

    Semantics mirror `word_shingles` exactly (Java ``\\s+`` split = the
    explicit ASCII class below, distinct n-grams, whole-text fallback for
    short texts) — but run as a single pandas pass instead of interpreted
    transform/slice/array_join expressions, which profiled ~5x slower.
    The key is md5-derived (engine-independent); it never leaves the plan,
    so any consistent hash preserves pair-count exactness (collision odds
    ~2^-64 per pair)."""
    import hashlib
    import re

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    # Java \s (no UNICODE_CHARACTER_CLASS) is exactly this ASCII class;
    # Python's \s is wider (unicode), so spell it out.
    ws_re = re.compile("[ \t\n\x0b\f\r]+")
    src = spread(df).select(F.col(id_col).alias("id"),
                            F.col(block_col).cast("string").alias("blk"),
                            F.col(text_col).cast("string").alias("txt"))
    schema = StructType([StructField("id", src.schema["id"].dataType, False),
                         StructField("sz", IntegerType(), False),
                         StructField("k", LongType(), False)])

    def run(batches):
        import pandas as pd
        for pdf in batches:
            ids, szs, ks = [], [], []
            for rid, blk, txt in zip(pdf["id"], pdf["blk"], pdf["txt"]):
                words = [w for w in ws_re.split(txt or "") if w]
                if len(words) >= n:
                    sh = {" ".join(words[j:j + n])
                          for j in range(len(words) - n + 1)}
                else:
                    sh = {" ".join(words)}
                sz = len(sh)
                pre = ((blk or "") + "\x00").encode()
                for s in sh:
                    ids.append(rid)
                    szs.append(sz)
                    ks.append(int.from_bytes(
                        hashlib.md5(pre + s.encode()).digest()[:8],
                        "big", signed=True))
            yield pd.DataFrame({"id": ids, "sz": szs, "k": ks})

    return src.mapInPandas(run, schema=schema)


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        block_col: str, n: int = 2, threshold: float = 0.2,
                        round_to: int = 6,
                        max_postings: int | None = 20) -> DataFrame:
    """Exact pairwise word-n-gram Jaccard within blocks (e.g. language),
    via an inverted shingle index: explode shingles, self-join on
    (block, shingle) to COUNT intersections, then derive Jaccard from
    |A∩B| and the two set sizes. Pairs sharing zero shingles never
    materialize (they cannot pass any threshold > 0).

    Scale: the blocked pairwise plan evaluates |block|² array
    intersections (interpreted, quadratic); this plan shuffles one row per
    (pair, shared shingle) through a codegen hash-aggregate — linear in
    the true overlap. Hot shingles (boilerplate) are the skew risk: AQE
    splits them, and `max_postings` is the standard stopwording
    mitigation when they dominate: shingles occurring in more than
    `max_postings` docs of a block are dropped from the index BEFORE the
    self-join (a posting list of c docs contributes c²/2 intersection
    rows — one boilerplate shingle across 10^6 docs is 5·10^11 rows).
    Trade-off: intersections through dropped shingles are undercounted,
    so Jaccard becomes a lower bound and borderline pairs can be missed;
    the loss concentrates on pairs whose ONLY overlap is boilerplate.

    The cap is ON BY DEFAULT (max_postings=20): the round-4 scale probe
    measured the uncapped form ~2x of linear at 10x on boilerplate-heavy
    corpora (posting² intersection rows), so the 100 TB-safe plan is
    what a caller gets unless they opt out. Pass ``max_postings=None``
    for the exact semantics (oracle-checkable, small/clean corpora
    only)."""
    # 64-bit join keys: codegen bigint compares instead of string compares;
    # a collision inflating a count is ~2^-64 per pair. |sh| rides along
    # (8 bytes/row) so the pair aggregation below emits both set sizes
    # directly — NO join of the multi-million-row pair table back to a
    # per-doc sizes table (that per-doc table scales with the corpus, so it
    # is not broadcastable at 100 TB either). The FINAL index (after any
    # posting cap) is pinned to local disk, NOT memory-cached: both
    # self-join sides consume it, and unpinned each side re-ran the
    # pandas shingle pass plus the cap window (A/B noop probes, round 8);
    # disk blocks spill fine at 100 TB where a memory cache would not.
    inv = _shingle_index_pandas(df, text_col, id_col, block_col, n)
    if max_postings is not None:
        # posting-list length per key; keys over the cap leave the index.
        # sz (the per-doc DISTINCT-shingle count) is deliberately NOT
        # adjusted: the denominator stays exact, only the intersection
        # count can shrink — Jaccard degrades to a lower bound.
        w = Window.partitionBy("k")
        inv = (inv.withColumn("_pl", F.count(F.lit(1)).over(w))
                  .filter(F.col("_pl") <= max_postings)
                  .drop("_pl"))
    inv = inv.localCheckpoint(eager=False)
    a, b = inv.alias("a"), inv.alias("b")
    pairs = (a.join(b, F.col("a.k") == F.col("b.k"))
              .filter(F.col("a.id") < F.col("b.id"))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("inter"),
                   F.first(F.col("a.sz")).alias("sz_a"),
                   F.first(F.col("b.sz")).alias("sz_b")))
    return (pairs.withColumn(
                     "jaccard",
                     F.round(F.col("inter").cast("double")
                             / (F.col("sz_a") + F.col("sz_b")
                                - F.col("inter")).cast("double"), round_to))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))


def prefix_filter_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                                threshold: float = 0.5, n: int = 1,
                                round_to: int = 6,
                                block_col: str | None = None) -> DataFrame:
    """EXACT word-n-gram-set Jaccard pairs at/above `threshold` via
    prefix filtering (AllPairs/PPJoin candidate generation) — the
    lossless scale path that `ngram_jaccard_pairs(max_postings=None)`
    lacks and its capped default approximates.

    Prefix-filter theorem: order every token set by one global total
    order; if J(A,B) >= t, the first |X| - ceil(t*|X|) + 1 tokens of
    each set must intersect. Ordering by ASCENDING document frequency
    puts the RAREST tokens in the prefix, so the inverted index holds
    only rare-token postings — the hot boilerplate tokens that force
    `max_postings` capping (posting-list^2 blowup) land at the END of
    each ordered set and never enter the join. Candidates then verify
    with the true intersection, so the result is exactly the brute-force
    pair set: the oracle is plain all-pairs SQL while the plan stays
    index-shaped.

    Plan at 100 TB: token df = one groupBy over the exploded distinct
    tokens; rank/size = one window over (id); candidate join shuffles
    only prefix postings; verification joins the candidate pairs (output
    -sized, not corpus-sized) against per-doc token arrays twice. Skew:
    a prefix posting list is bounded by the df of a token that ~t of
    each set's length ranks below — boilerplate cannot enter; AQE
    handles residual skew. Conservative float handling (floor-based
    prefix, epsilon-relaxed length filter) can only ADD candidates,
    never drop a qualifying pair; the final filter applies the same
    round(inter/union, round_to) >= t comparison the oracle does.

    ``block_col`` restricts pairs to equal-block rows (e.g. language —
    cross-language near-dups are rarely wanted); the df ORDER stays
    global (any consistent total order keeps the theorem), only the
    candidate join gains the block equality.
    """
    bcols = [block_col] if block_col else []
    # ONE tokenize pass: the distinct n-gram set frame is pinned and
    # feeds the posting explode, the size column (F.size — the old
    # count-over-(id) window recomputed it per posting row), and both
    # verification joins (which previously re-tokenized the corpus)
    sets = (df.select(F.col(id_col).alias("id"),
                      *[F.col(c).alias("blk") for c in bcols],
                      F.array_distinct(
                          word_ngram_array(words_of(F.col(text_col)), n))
                      .alias("_set"))
              .localCheckpoint(eager=False))
    toks = sets.select("id", *(["blk"] if block_col else []),
                       F.size("_set").alias("sz"),
                       F.explode("_set").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    wo = Window.partitionBy("id").orderBy(F.col("_df").asc(),
                                          F.col("tok").asc())
    ranked = (toks.join(freq, "tok")
                  .select("id", "tok", *(["blk"] if block_col else []),
                          F.row_number().over(wo).alias("_pos"), "sz"))
    # floor-based prefix: >= the theoretical L - ceil(t*L) + 1, so float
    # noise in t*L widens the prefix instead of breaking losslessness.
    prefix = ranked.filter(
        F.col("_pos") <= F.col("sz") - F.floor(threshold * F.col("sz")))
    a, b = prefix.alias("a"), prefix.alias("b")
    join_on = F.col("a.tok") == F.col("b.tok")
    if block_col:
        join_on = join_on & (F.col("a.blk").eqNullSafe(F.col("b.blk")))
    cand = (a.join(b, join_on)
             .filter((F.col("a.id") < F.col("b.id"))
                     & (F.col("b.sz") >= threshold * F.col("a.sz") - 1e-9)
                     & (F.col("a.sz") >= threshold * F.col("b.sz") - 1e-9))
             .select(F.col("a.id").alias("id_a"), F.col("a.sz").alias("sz_a"),
                     F.col("b.id").alias("id_b"), F.col("b.sz").alias("sz_b"))
             .distinct())
    vsets = sets.select(F.col("id").alias("_sid"), "_set")
    verified = (cand
                .join(vsets.select(F.col("_sid"), F.col("_set").alias("_sa")),
                      F.col("id_a") == F.col("_sid")).drop("_sid")
                .join(vsets.select(F.col("_sid"), F.col("_set").alias("_sb")),
                      F.col("id_b") == F.col("_sid")).drop("_sid")
                .withColumn("inter",
                            F.size(F.array_intersect("_sa", "_sb"))))
    return (verified
            .withColumn("jaccard",
                        F.round(F.col("inter").cast("double")
                                / (F.col("sz_a") + F.col("sz_b")
                                   - F.col("inter")).cast("double"),
                                round_to))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def substring_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                        k: int = 8, w: int = 4, min_shared: int = 2,
                        max_postings: int | None = None) -> DataFrame:
    """Exact-substring near-dup candidates (id_a, id_b, shared) via
    winnowing fingerprints — the bounded form of Lee et al.'s
    ("Deduplicating Training Data Makes Language Models Better")
    exact-substring pass: any two docs sharing >= k+w-1 normalized chars
    share a fingerprint by the winnowing guarantee, so `shared` counts
    distinct co-selected fingerprints. Differs from line/span dedup in
    being boundary-free (matches need not align to lines or sentences)
    and from minhash in being a guarantee, not an estimate.

    Scale: identical inverted-index shape to ngram_jaccard_pairs — one
    row per (pair, shared fp) through a codegen hash-aggregate, linear in
    true overlap, never |corpus|²; the winnow index is ~2/(w+1) the size
    of a full shingle index. Boilerplate fingerprints are the skew risk:
    `max_postings` drops posting lists longer than the cap BEFORE the
    self-join (shared becomes a lower bound; same documented trade as
    ngram_jaccard_pairs). Suffix arrays (the paper's exact spans) don't
    distribute; winnowing is the shuffle-friendly equivalent with a
    tunable k+w-1 match-length floor."""
    from .text_analysis import winnow_fingerprints
    # pin the index: it feeds the hot-fp aggregate AND both self-join
    # sides — unpinned, Catalyst re-runs the Arrow winnowing pass (the
    # per-char md5 sweep, the entry's dominant cost) once per consumer
    # (4 parquet scans in the measured plan). The materialized (id, fp)
    # frame is ~2/(w+1) rows per shingle of 16 bytes — far cheaper to
    # spill locally than to recompute 4x at any scale.
    inv = winnow_fingerprints(df, text_col, id_col, k, w) \
        .localCheckpoint(eager=False)
    if max_postings is not None:
        # the hot list is tiny by construction (only boilerplate fps
        # exceed the cap), so it broadcasts — a stopword-list anti-join
        # keeps the full index sort-free, where a count-over-window cap
        # would sort every posting partition
        hot = (inv.groupBy("fp")
                  .agg(F.count(F.lit(1)).alias("_pl"))
                  .filter(F.col("_pl") > max_postings)
                  .select("fp"))
        inv = inv.join(F.broadcast(hot), "fp", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    return (a.join(b, F.col("a.fp") == F.col("b.fp"))
             .filter(F.col("a.id") < F.col("b.id"))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("shared"))
             .filter(F.col("shared") >= min_shared))


# ---------------------------------------------------------------- embedding
_MAX_SUB_CELLS = 4096   # matrix-literal plan stays O(1) nodes; driver RAM


def md5_sample(corpus: DataFrame, vec_col: str, id_col: str,
               k: int) -> list[list[float]]:
    """The `k` corpus vectors whose md5(id) sorts lowest — a fixed
    pseudo-random sample, reproducible in any engine (and in the DuckDB
    oracles): the deterministic cell quantizer below, cell index = rank
    in the sample order. The collect is k x dim floats (the same
    driver-side footprint as a fitted k-means model)."""
    rows = (corpus
            .orderBy(F.md5(F.col(id_col).cast("string")))
            .limit(k)
            .select(F.col(vec_col).alias("v"))
            .collect())
    return [[float(x) for x in r.v] for r in rows]


def _l2_norm_py(v: list[float]) -> float:
    """Driver-side twin of functions.vector.l2_norm — same left-fold order;
    Python float ops ARE IEEE doubles, so the result is bit-identical to
    the JVM fold on equal inputs."""
    acc = 0.0
    for x in v:
        acc += x * x
    return math.sqrt(acc)


def _cell_affinities_sql(vec_sql: str, centroids: list[list[float]],
                         round_to: int) -> str:
    """SQL text of array<struct<ns,c>> of (negated rounded cosine, cell
    idx) per centroid. The centroid matrix is ONE array<array<double>>
    literal and the per-cell score a `transform` higher-order function, so
    plan size is O(1) in n_cells — one expression subtree per centroid dies
    around a few thousand cells (plan construction + analysis, long before
    data). Scores are rounded BEFORE any argmax so cell choice is
    engine-exact; the element-wise cosine fold is identical to the
    unrolled form. Two round-8 cost cuts, both value-exact:

    - built as SQL text (one parse) instead of py4j lambda assembly
      (~25 ms per higher-order function — guide §1.2 "per-task work"
      applied to the driver);
    - each centroid's l2 norm is a hoisted driver-side constant
      (_l2_norm_py == the JVM fold bit-for-bit), so the per-row work per
      centroid drops from three d-element folds to two (guide §2.3
      narrower per-row compute; the corpus-row norm still evaluates
      per centroid — hoisting it would need a projection barrier that
      CollapseProject undoes).

    r09 note: an UNROLLED scalar-arithmetic variant (one multiply-add
    chain per centroid, bit-identical fold) was built and measured
    SLOWER in place — best_cell 0.24 -> 0.47 s per 2k-row pass at sf0.1
    — the ~1-1.5k-node expression trees defeat JIT compilation of the
    generated methods, while the HOF form's small lambda loops stay warm.
    Reverted; the HOF form stays deliberately (plan size O(1) in n_cells,
    the round-5 decision)."""
    cent = double_matrix_sql(centroids)
    cnorms = double_array_sql([_l2_norm_py(c) for c in centroids])
    return (f"transform({cent}, (c, i) -> named_struct("
            f"'ns', -round({dot_sql(vec_sql, 'c')} / "
            f"(({l2_norm_sql(vec_sql)} * element_at({cnorms}, i + 1))"
            f" + 1e-09D), {round_to}), "
            f"'c', i))")


def _best_cell(vec_sql: str, centroids: list[list[float]],
               round_to: int) -> Column:
    """Assignment cell only — array_min (O(C)) instead of a full sort
    (O(C log C)); same (cosine desc, cell asc) choice."""
    return F.expr(
        f"array_min({_cell_affinities_sql(vec_sql, centroids, round_to)}).c")



def _cell_refined_block(df: DataFrame, vec_col: str, id_col: str,
                        block_col: str, round_to: int,
                        max_block: int | None,
                        sub_cells: int | None) -> Column:
    """Block expression for the gram-matrix embedding ops, optionally
    refined by the deterministic md5-sampled IVF cell so no single gram
    matrix outgrows executor memory (the 'choose finer blocks' knob,
    built in). Returns the raw block column when no refinement applies.

    - ``sub_cells=k``: exactly k cells (pin this for reproducible runs —
      the stamped dedup_embedding_cosine_cells entry uses 8).
    - else ``max_block=m``: k = ceil(count/m) clamped to [1, 4096]; tiny
      frames get k=1 — i.e. refinement self-disables and results stay
      exact — while big frames get bounded gram blocks. EAGER: costs one
      count job + one bounded collect (k x dim floats, same driver
      footprint as a fitted k-means model) at DataFrame CONSTRUCTION
      time, not first action — pin ``sub_cells`` to stay lazy
      (CHANGELOG round 5).
    - both None: exact per-block semantics.

    Pairs split across cells are missed by design; cell count is the
    dial."""
    if sub_cells is None:
        if max_block is None:
            return F.col(block_col)
        n = df.count()
        sub_cells = min(_MAX_SUB_CELLS, max(1, -(-n // max_block)))
        if sub_cells == 1:
            return F.col(block_col)
    cents = md5_sample(df, vec_col, id_col, sub_cells)
    return F.concat_ws(
        "#", F.col(block_col).cast("string"),
        _best_cell(qident(vec_col), cents, round_to).cast("string"))


def embedding_near_pairs_topn(df: DataFrame, vec_col: str, id_col: str,
                              block_col: str, top_n: int = 20,
                              round_to: int = 6,
                              max_block: int | None = 4096,
                              sub_cells: int | None = None) -> DataFrame:
    """Top-N most-similar pairs by cosine within blocks.

    Per-block pairwise cosine as a numpy gram matrix inside applyInPandas:
    a blocked DataFrame self-join evaluates |block|² interpreted
    zip_with/aggregate lambdas — the matrix multiply is ~100x faster and
    Arrow moves each block's vectors into Python exactly once. Per-block
    top-N candidates then reduce to the global top-N via
    TakeOrderedAndProject. Scale: one shuffle on the block key (this IS the
    IVF pattern — block = coarse quantizer cell); per-block gram work is
    quadratic in block size, so blocks are sub-divided by md5-IVF cell BY
    DEFAULT once they can exceed `max_block` rows (the round-4 scale
    probe measured the unrefined label-blocked form superlinear at 10x).
    See _cell_refined_block for the knobs; ``max_block=None`` is the
    exact escape hatch (oracle-checkable, bounded corpora only)."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"
    blk = _cell_refined_block(df, vec_col, id_col, block_col, round_to,
                              max_block, sub_cells)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ids = pdf["_id"].to_numpy()
        m = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        denom = np.outer(norms, norms) + 1e-9     # cosine eps (vector.cosine)
        cos = np.round((m @ m.T) / denom, round_to)
        iu, ju = np.triu_indices(n, k=1)
        # id_a < id_b ordering regardless of input row order
        a, b = ids[iu], ids[ju]
        swap = a > b
        a, b = np.where(swap, b, a), np.where(swap, a, b)
        out = pd.DataFrame({"id_a": a, "id_b": b, "cos": cos[iu, ju]})
        # per-block cut uses the GLOBAL tiebreak (cos desc, id_a, id_b) so
        # boundary ties survive to the final TakeOrdered exactly
        return out.sort_values(["cos", "id_a", "id_b"],
                               ascending=[False, True, True]).head(top_n)

    base = df.select(F.col(id_col).alias("_id"),
                     blk.alias("_blk"),
                     F.col(vec_col).alias("_v"))
    per_block_top = base.groupBy("_blk").applyInPandas(per_block, out_schema)
    return (per_block_top
            .orderBy(F.col("cos").desc(), F.col("id_a").asc(),
                     F.col("id_b").asc())
            .limit(top_n))


def semantic_prune(df: DataFrame, vec_col: str, id_col: str,
                   block_col: str, threshold: float = 0.3,
                   round_to: int = 6,
                   max_block: int | None = 4096,
                   sub_cells: int | None = None) -> DataFrame:
    """SemDeDup-style semantic dedup decision (Abbas et al. 2023, public):
    (id, blk, kept) for every row — a row is DROPPED iff ANY smaller-id
    row in the same block has rounded cosine >= threshold (whether or
    not that row itself survives). Deterministic keep-min-id (SemDeDup
    keeps one representative per near-dup group; min id is the engine's
    reproducible stand-in for its distance-to-centroid order) and a
    conservative SUPERSET of greedy sequential pruning: chain A~B~C with
    A!~C drops both B and C (greedy would keep C once B is gone). The
    unconditional-pairwise rule is what makes the decision per-row
    parallel and expressible as one anti-join/EXISTS — greedy
    keeper-aware pruning is inherently sequential within a block.

    Same per-block numpy gram pass as embedding_near_pairs_topn (block =
    coarse cell; |block|^2 stays in one Arrow batch instead of a blocked
    self-join of interpreted lambdas). Scale: one shuffle on the block
    key; blocks are sub-divided by md5-IVF cell BY DEFAULT once they can
    exceed `max_block` rows (see _cell_refined_block; the grouping uses
    the refined block but the emitted `blk` column stays the caller's —
    a near-dup split across cells is kept on both sides, the documented
    recall trade). ``max_block=None`` is the exact escape hatch."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    blk_type = df.schema[block_col].dataType.simpleString()
    out_schema = f"id {id_type}, blk {blk_type}, kept boolean"
    gblk = _cell_refined_block(df, vec_col, id_col, block_col, round_to,
                               max_block, sub_cells)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        if len(pdf) < 2:
            return pd.DataFrame({"id": ids, "blk": pdf["_blk"],
                                 "kept": [True] * len(pdf)})
        m = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        denom = np.outer(norms, norms) + 1e-9    # cosine eps (vector.cosine)
        cos = np.round((m @ m.T) / denom, round_to)
        # row i survives iff no smaller-id row j (strict lower triangle of
        # the id-sorted gram) clears the threshold
        kept = ~np.any(np.tril(cos >= threshold, k=-1), axis=1)
        return pd.DataFrame({"id": ids, "blk": pdf["_blk"], "kept": kept})

    base = df.select(F.col(id_col).alias("_id"),
                     F.col(block_col).alias("_blk"),
                     gblk.alias("_gblk"),
                     F.col(vec_col).alias("_v"))
    return base.groupBy("_gblk").applyInPandas(per_block, out_schema)


# ------------------------------------------------- connected components
def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 20,
                         driver_threshold: int = 10_000_000) -> DataFrame:
    """(node, root) for every node in the pair graph: root = min node id of
    its connected component. This is the cluster-resolution step after any
    near-dup pair generator (minhash/simhash/cosine): pairs -> duplicate
    CLUSTERS, so one keeper survives per cluster rather than per pair.

    Two tiers, chosen by the materialized edge count:

    - edge list fits on the driver (<= `driver_threshold` edges): collect
      and union-find. The pair graph is the OUTPUT of heavy distributed
      filtering — at 100 TB of corpus it is typically millions of edges,
      i.e. a few hundred MB; path-compressed union-find resolves it in
      seconds. (This is what production corpus-dedup pipelines do.)
    - larger: iterated min-label propagation with pointer doubling
      (hash-to-min + shortcut). Each round every node adopts
      min(own, neighbors', root's) label — two co-partitioned joins + one
      hash-aggregate per round, no driver-side graph; shortcutting makes a
      diameter-D component converge in O(log D) rounds. Convergence is
      checked each round (cheap limit(1) on changed labels) with early
      exit; `max_iter` bounds the pathological case.
    """
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
                .unionAll(edges.select(F.col(dst).alias("u"),
                                       F.col(src).alias("v"))))
    # materialize the edge list ONCE: its lineage is typically an expensive
    # pair-generation plan (LSH/Jaccard self-join), and the loop below would
    # otherwise re-execute it on every round's join AND convergence check
    sym = sym.localCheckpoint(eager=True)

    # ONE probe job replaces the old count-then-collect pair (r09, guide
    # §1.2 — each small driver job costs real fixed overhead): collect at
    # most driver_threshold+1 distinct half-edges; fewer than that back
    # means the whole (u < v) edge list is in hand, so union-find runs on
    # exactly the rows the old collect returned (in some order — the
    # min-id union's roots are order-independent). One more row means the
    # graph exceeds the driver tier and the distributed loop below takes
    # over, same as the old count branch. (Boundary nuance: the old test
    # counted self-loops the u < v filter drops; both tiers compute the
    # identical (node, root) result, so tier choice is value-invisible.)
    half = (sym.filter(F.col("u") < F.col("v"))
               .limit(driver_threshold + 1).collect())
    if len(half) <= driver_threshold:
        spark = edges.sparkSession
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:       # path compression
                parent[x], x = r, parent[x]
            return r

        for u, v in half:
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:                 # union by min id -> root = min
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        rows = [(n, find(n)) for n in parent]
        out_schema = sym.select(F.col("u").alias("node"),
                                F.col("u").alias("root")).schema
        return spark.createDataFrame(rows, out_schema)

    # initial label = own id
    labels = (sym.select("u").distinct()
                 .select(F.col("u").alias("node"), F.col("u").alias("root")))
    for _ in range(max_iter):
        # neighbor labels: edge (u,v) contributes label(v) to u
        nbr = (sym.join(labels.withColumnRenamed("node", "v"), "v")
                  .groupBy(F.col("u").alias("node"))
                  .agg(F.min("root").alias("nbr_root")))
        stepped = (labels.join(nbr, "node", "left")
                         .select("node",
                                 F.least("root", F.coalesce(
                                     "nbr_root", "root")).alias("root")))
        # pointer doubling (shortcut): root <- root's root. Propagation
        # alone needs O(diameter) rounds; with shortcutting the covered
        # distance doubles per round -> O(log diameter) rounds, the same
        # trick as large-star/small-star but on the label table only
        parent = stepped.select(F.col("node").alias("root"),
                                F.col("root").alias("groot"))
        new_labels = (stepped.join(parent, "root")
                             .select("node",
                                     F.col("groot").alias("root")))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (new_labels.join(labels.withColumnRenamed("root", "old"),
                                   "node")
                             .filter(F.col("root") != F.col("old")).limit(1)
                             .count())
        labels = new_labels
        if changed == 0:
            break
    return labels


def dup_clusters(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
                 max_iter: int = 20) -> DataFrame:
    """Near-dup clusters from a pair list: (node, root, cluster_size).
    Keeper policy 'min id survives' == rows where node == root."""
    cc = connected_components(pairs, src, dst, max_iter)
    sizes = cc.groupBy("root").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "root").select("node", "root", "cluster_size")


def cluster_keepers(clusters: DataFrame, scores: DataFrame,
                    id_col: str = "id",
                    score_col: str = "score") -> DataFrame:
    """Score-aware keeper per duplicate cluster — the pluggable
    alternative to dup_clusters' 'min id survives': keep the member with
    the HIGHEST score, ties to the smallest id. ``clusters`` is
    dup_clusters/connected_components output (node, root); ``scores``
    maps every member id to a score (quality composite, doc length,
    LM score, or a content hash to decorrelate keeper choice from crawl
    order). Returns (root, keeper, keeper_score, cluster_size).

    Plan at 100 TB: one equi-join on the member id, then the argmax as
    TWO scalar hash aggregates on root (max score + count, re-join on
    root, min id among the score maxima) — scalar MAX/MIN keep both
    aggregates hash-based with map-side combine; a struct-MAX argmax
    would fall back to SortAggregate, and a window over the corpus is
    never needed. The re-join keys on root so it reuses the first
    aggregate's clustering."""
    # the scored-member frame feeds both the argmax aggregate and the
    # re-join — the duplicated subtree LOOKS like the r08 pin family
    # (guide §2.4), but an r09 warm interleaved A/B measured the pin
    # NEUTRAL (0.94/0.89/0.97 s unpinned vs 1.00/0.88/0.96 pinned at
    # sf0.1/32c): the duplicated lineage here is a local CC frame plus a
    # cheap hash-projection scan, and the lazy pin just moves the same
    # work to construction time. Left unpinned.
    joined = clusters.select("node", "root").join(
        scores.select(F.col(id_col).alias("node"),
                      F.col(score_col).alias("_s")), "node")
    best = (joined.groupBy("root")
            .agg(F.max("_s").alias("keeper_score"),
                 F.count(F.lit(1)).alias("cluster_size")))
    return (joined.join(best, "root")
            .filter(F.col("_s") == F.col("keeper_score"))
            .groupBy("root", "keeper_score", "cluster_size")
            .agg(F.min("node").alias("keeper"))
            .select("root", "keeper", "keeper_score", "cluster_size"))


def merge_cluster_store(spark, path: str, new_pairs: DataFrame,
                        src: str = "id_a", dst: str = "id_b",
                        max_iter: int = 20) -> None:
    """Incremental duplicate-CLUSTER maintenance — the cluster-resolution
    member of the incremental family (signature store =
    incremental_minhash_pairs finds each batch's pairs; this folds them
    into persisted clusters without ever re-clustering history).

    The store holds (node, root). Those rows ARE a spanning forest: each
    non-root node carries one (node, root) edge, which preserves the
    connectivity of every pair ever folded exactly — so a fold runs
    connected components over |forest| + |batch| edges, never over the
    historical pair set, and only for TOUCHED components: components
    containing no batch node pass through byte-identical (the rollup
    family's _split_touched discipline). Root ids can only DECREASE
    across folds (min-id union), so keeper decisions are stable unless a
    merge genuinely links clusters.

    Folds run in place. Re-folding the same pairs is a NO-OP by
    construction (edges are idempotent for connectivity), which is what
    makes crash replay safe. Folds never overwrite the previous state
    while the job runs: the new forest writes to a temp sibling of
    data/ and swaps in with two directory renames (data -> bak,
    tmp -> data) — a Spark failure mid-write leaves data/ untouched, and
    a crash between the two renames is repaired by
    _heal_cluster_store on the next open (bak is restored if data/ is
    missing, discarded otherwise)."""
    import os

    _heal_cluster_store(path)
    data_p = os.path.join(path, "data")
    pairs = new_pairs.select(F.col(src).alias("id_a"),
                             F.col(dst).alias("id_b"))
    if os.path.exists(data_p):
        existing = spark.read.parquet(data_p)
        batch_nodes = (pairs.select(F.col("id_a").alias("node"))
                       .unionAll(pairs.select(F.col("id_b").alias("node")))
                       .distinct())
        troots = (existing.join(batch_nodes, "node", "left_semi")
                          .select("root").distinct())
        affected = existing.join(troots, "root", "left_semi")
        untouched = existing.join(troots, "root", "left_anti")
        forest = (affected.filter(F.col("node") != F.col("root"))
                          .select(F.col("node").alias("id_a"),
                                  F.col("root").alias("id_b")))
        merged = connected_components(forest.unionByName(pairs),
                                      max_iter=max_iter)
        out = untouched.unionByName(merged)
    else:
        out = connected_components(pairs, max_iter=max_iter)
    # write-then-swap: the job reads the STILL-INTACT data/ while writing
    # the sibling (no localCheckpoint pin needed — executor-memory blocks
    # are non-replicated, so pinning was the weaker crash story anyway)
    from ..util import swap_commit_dir
    swap_commit_dir(
        lambda tmp: out.write.mode("overwrite").parquet(tmp), data_p)


def _heal_cluster_store(path: str) -> None:
    """Repair a cluster store whose last in-place fold crashed mid-swap
    (util.heal_swapped_dir on the data/ dir)."""
    import os

    from ..util import heal_swapped_dir
    heal_swapped_dir(os.path.join(path, "data"))


def read_cluster_store(spark, path: str) -> DataFrame:
    """Serving view of a merge_cluster_store table: (node, root,
    cluster_size) — same shape as dup_clusters, sizes derived at read
    (one aggregate over the |clustered nodes|-row store)."""
    import os

    _heal_cluster_store(path)
    nr = spark.read.parquet(os.path.join(path, "data"))
    sizes = nr.groupBy("root").agg(F.count(F.lit(1)).alias("cluster_size"))
    return nr.join(sizes, "root").select("node", "root", "cluster_size")
