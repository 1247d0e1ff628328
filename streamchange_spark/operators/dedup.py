"""Document deduplication for web-scale training-data pipelines.

Hot paths are JVM-side column expressions (whole-stage codegen) except the
shingler, where a vectorized Arrow-batch pandas pass beats the all-JVM plan
because it avoids shuffling the token stream (see shingle_rows_local):

- exact:     hash-groupBy on md5(text) — one shuffle of (hash, id) pairs only.
- minhash:   word-shingle (row-local, shuffle-free by default) -> k minhash
             aggregates -> banded LSH -> self-join on band buckets. The
             self-join key is (band_index, band_hash): at scale this is the
             classic shuffle-bounded candidate generation; exact Jaccard
             verification runs only on candidates.
- simhash:   64-bit sign-aggregated token hashes; near-dups = small Hamming
             distance (bit_count(xor)).
- n-gram Jaccard: inverted-index join on shared shingles computes
             |intersection| per pair in one aggregation; |union| by
             inclusion-exclusion — never materializes pairwise token sets.
- embedding: cosine similarity via ``zip_with``/``aggregate`` on
             array<double>; see similarity.py for the LSH-bucketed ANN path.

``hash_fn='md5'`` keeps every hash reproducible in ANSI SQL (DuckDB oracle:
``('0x' || substr(md5(x), 1, 15))::BIGINT``); ``'xxhash'`` is the cheaper
scale path (one JVM hash vs md5's full digest).
"""

from __future__ import annotations

import logging
import re
import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def _hash64(col: Column, hash_fn: str) -> Column:
    if hash_fn == "md5":
        # 15 hex chars = 60 bits, fits a signed 64-bit int; reproducible in
        # any SQL engine with md5().
        return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")
    if hash_fn == "xxhash":
        return F.xxhash64(col)
    raise ValueError(f"unknown hash_fn: {hash_fn}")


def tokens_col(text_col: str) -> Column:
    """Lower-cased whitespace tokens (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )


def shingles_col(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> (built from the
    token array with ``sequence`` + ``transform`` + ``slice`` — no UDF)."""
    toks = tokens_col(text_col)
    # Guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark and
    # slice(_, 0, n) throws — short texts get an empty shingle set instead.
    ngrams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(ngrams)


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows, one per n-gram POSITION (duplicates kept).

    Row-wise twin of :func:`shingles_col` built from explode + window
    ``lead`` instead of array lambdas: higher-order functions fall out of
    whole-stage codegen (interpreted per element), and any filter on the
    shingle array gets pushed into the scan where it serializes on a
    single task. Exploding first keeps the narrow scan cheap; the window
    sort shuffles token rows across the cluster by document, and
    everything downstream is codegen'd. Docs with < n tokens yield no
    rows (== ``size(shingles) == 0`` filter)."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "_pos", "_tok"
        ),
    ).where(F.col("_tok") != "")
    w = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_tok").alias("_t0")] + [
        F.lead("_tok", i).over(w).alias(f"_t{i}") for i in range(1, n)
    ]
    return (
        toks.select(F.col(id_col), *parts)
        .where(F.col(f"_t{n - 1}").isNotNull())
        .select(
            F.col(id_col),
            F.concat_ws(" ", *[f"_t{i}" for i in range(n)]).alias("shingle"),
        )
    )


# Java-regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python's re.ASCII \s is the
# same set, so the local shingler splits byte-identically to shingle_rows.
_WS = re.compile(r"\s+", re.ASCII)


def shingle_rows_local(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows, one per n-gram POSITION — shuffle-free twin of
    :func:`shingle_rows`.

    ``shingle_rows``'s window-``lead`` plan shuffles the FULL token stream
    (~10x the corpus row count) across the wire just to pair each token with
    its successors — row-local work. This variant computes n-grams inside
    ``mapInPandas``: tokens of one Arrow batch are flattened to one object
    array, the n aligned slices are concatenated elementwise, and a
    position mask drops window spans that cross document boundaries. No
    shuffle, no per-row Python function — one C-level pass per batch. At
    100 TB the token shuffle is the dominant cost, so this is the scale
    default; the window plan is kept for comparison (see
    tools/bench_shingle.py numbers in BASELINE.md)."""
    from pyspark.sql.types import StringType, StructField, StructType

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    schema = StructType([id_field, StructField("shingle", StringType(), True)])

    # The stage calls a module-level function, so unpickling it imports the
    # engine package in the worker (and with it the _pyworker guard).
    def run(batches):
        return _shingle_batches(batches, id_col, text_col, n)

    return df.select(id_col, text_col).mapInPandas(run, schema)


def _shingle_batches(batches, id_col: str, text_col: str, n: int):
    """:func:`shingle_rows_local`'s per-partition body."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if pdf.empty:
            continue
        toks = [
            [t for t in _WS.split(s.lower()) if t]
            for s in pdf[text_col].fillna("").astype(str)
        ]
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        total = int(lens.sum())
        if total == 0:
            continue
        flat = np.empty(total, dtype=object)
        off = 0
        for t in toks:
            flat[off : off + len(t)] = t
            off += len(t)
        ids_rep = np.repeat(pdf[id_col].to_numpy(), lens)
        starts = np.cumsum(lens) - lens
        pos = np.arange(total) - np.repeat(starts, lens)
        # n-gram starting at flat[i] is valid iff it stays inside its doc
        valid = (pos + n) <= np.repeat(lens, lens)
        head = total - (n - 1)
        if head <= 0:
            continue
        sh = flat[:head]
        for i in range(1, n):
            sh = sh + " "
            sh = sh + flat[i : head + i]
        keep = valid[:head]
        if not keep.any():
            continue
        yield pd.DataFrame({id_col: ids_rep[:head][keep], "shingle": sh[keep]})


def _shingler(name: str):
    return {"window": shingle_rows, "local": shingle_rows_local}[name]


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One representative (min id) per byte-identical text:
    (text_md5, keep_id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_size: int = 3,
    hash_fn: str = "md5",
    shingler: str = "local",
) -> DataFrame:
    """(id, mh_0 .. mh_{k-1}): k-permutation minhash of the shingle set.
    Each permutation i hashes ``shingle || '#i'``; ``min`` is insensitive to
    duplicates, so positional shingle rows feed a plain hash aggregate with
    map-side partial min — one shuffle of k longs per doc, whole plan in
    codegen (no array lambdas, no distinct). ``shingler='local'`` computes
    n-grams row-locally (no token shuffle — the 100 TB default);
    ``'window'`` is the all-JVM explode+lead plan."""
    sh = _shingler(shingler)(df, id_col, text_col, shingle_size)
    hashes = [
        _hash64(F.concat(F.col("shingle"), F.lit(f"#{i}")), hash_fn).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.select(F.col(id_col), *hashes)
        .groupBy(id_col)
        .agg(*[F.min(f"_h{i}").alias(f"mh_{i}") for i in range(num_hashes)])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    hash_fn: str = "md5",
    shingler: str = "local",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that collide in >= 1 LSH
    band. rows_per_band = num_hashes / bands; collision threshold ~
    (1/bands)^(1/rows_per_band)."""
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_size, hash_fn, shingler
    )
    return lsh_pairs_from_signatures(sig, id_col, num_hashes, bands)


def _lsh_band_rows(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_key) rows from precomputed signatures. One (band,
    band_key) struct per band, exploded from a single projection: a
    per-band unionAll of selects would re-evaluate the whole signature
    subplan (shingle + minhash aggregation) once per band; the explode
    evaluates it exactly once."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        members = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(":", *[m.cast("string") for m in members])).alias(
                    "band_key"
                ),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("_b")
    ).select(id_col, F.col("_b.band").alias("band"), F.col("_b.band_key").alias("band_key"))


def lsh_pairs_from_signatures(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding over PRECOMPUTED minhash signatures (id, mh_0..mh_{k-1}).

    Split out of :func:`minhash_lsh_pairs` so pipelines can materialize the
    expensive text pass (signatures) incrementally — e.g. per resume shard —
    and still band/join GLOBALLY across all of it: band keys depend only on
    the signature values, so pairs from merged per-shard signature tables
    are identical to a single global run.

    The self-join below does NOT recompute the signature pass: both sides
    shuffle the identical exploded-band subplan on (band, band_key), which
    canonicalizes to one exchange — verified ReusedExchange in the physical
    plan (1 MapInPandas node; AQE's stage cache reuses on the same
    canonical form)."""
    exploded = _lsh_band_rows(sig, id_col, num_hashes, bands)
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def lsh_cluster_edges_from_signatures(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Connectivity-preserving near-dup edges (id_a, id_b), id_a < id_b.

    An LSH bucket is a CLIQUE in the candidate-pair graph, so for
    clustering (connected components -> keep one representative) the
    all-pairs form of :func:`lsh_pairs_from_signatures` is redundant: per
    bucket, STAR edges from the bucket-minimum member to every other
    member have exactly the same transitive closure. A bucket of m
    members emits m-1 edges instead of m(m-1)/2 — on boilerplate-heavy
    web corpora, where near-identical template pages form mega-buckets
    (m in the millions at crawl scale), the all-pairs self-join is
    quadratic while this stays linear in corpus size (<= bands * n edges
    before dedup). One shuffle: a min-over-window keyed by (band,
    band_key). Use the all-pairs form only when each candidate pair must
    be individually verified."""
    exploded = _lsh_band_rows(sig, id_col, num_hashes, bands)
    w = Window.partitionBy("band", "band_key")
    return (
        exploded.withColumn("_min", F.min(id_col).over(w))
        .where(F.col("_min") != F.col(id_col))
        .select(F.col("_min").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, simhash): 64-bit SimHash over whitespace tokens. Bit b of the
    result is the sign of sum over tokens of (+1 if bit b of token-hash else
    -1).

    Plan shape: explode tokens -> one 64-bit hash per token row -> a single
    hash aggregate with 64 conditional-sum columns (all whole-stage codegen;
    higher-order ``aggregate`` folds are interpreted per element and were
    ~5x slower) -> assemble the sign bits.

    The 64 sum columns and the 64-term sign assembly are built as TWO
    ``F.expr`` SQL strings (JVM-side parse), not ~500 Column-DSL py4j
    round-trips: the DSL construction alone measured 1.55 s per call
    (1-row-input decomposition, same pathology as the round-5 lang_id fix)
    vs ~0.4 s execution at sf0.1. Bit-identical to the DSL build:
    ``shiftleft(1L, 63)`` wraps to the sign bit exactly as the old
    ``-(1 << 63)`` literal did, and ``_os[b]`` is Spark's 0-based array
    indexing."""
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_col(text_col)).alias("_t"),
    ).select(F.col(id_col), _hash64(F.col("_t"), hash_fn).alias("_h"))
    sums = ",".join(f"sum(shiftright(_h,{b}) & 1)" for b in range(64))
    ones = toks.groupBy(id_col).agg(
        F.expr("count(1)").alias("_n"),
        F.expr(f"array({sums})").alias("_os"),
    )
    sign_terms = " | ".join(
        f"(case when _os[{b}]*2 > _n then shiftleft(1L,{b}) else 0L end)"
        for b in range(64)
    )
    return ones.select(F.col(id_col), F.expr(sign_terms).alias("simhash"))


def _simhash_block_rows(
    sig: DataFrame, id_col: str, block_bits: int = 16
) -> DataFrame:
    """Explode (id, simhash) to (id, simhash, block, block_key) — one row per
    ``block_bits``-bit slice. One projection (see minhash_lsh_pairs:
    unionAll would re-evaluate the simhash aggregation once per block)."""
    n_blocks = 64 // block_bits
    block_structs = [
        F.struct(
            F.lit(q).alias("block"),
            F.shiftright(F.col("simhash"), q * block_bits)
            .bitwiseAND(F.lit((1 << block_bits) - 1))
            .alias("block_key"),
        )
        for q in range(n_blocks)
    ]
    return sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*block_structs)).alias("_q")
    ).select(
        id_col, "simhash",
        F.col("_q.block").alias("block"), F.col("_q.block_key").alias("block_key"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "md5",
    block_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash. Candidate generation blocks on each of the
    four 16-bit quarters (pigeonhole: any pair within Hamming distance 3 of a
    64-bit hash agrees on >= 1 quarter), then verifies with bit_count(xor).

    Scale guard: the self-join is quadratic per (block, block_key) bucket
    and the keyspace is only 2^block_bits (65k), so a template-heavy corpus
    (near-identical pages collide on ALL quarters) floods single buckets.
    ``max_bucket_size`` drops members of buckets above the cap BEFORE the
    join — mirroring ``lsh_ann_pairs`` (similarity.py) — bounding worst-case
    pair counts at bands * cap^2 per bucket value. Dropped buckets mean
    lost recall, never wrong pairs (every emitted pair is exactly verified
    by hamming distance). When the cap is active the dropped-row count is
    attached as an ``observe`` metric (``simhash_pair_drops_*``), visible in
    the Spark UI / QueryExecutionListener — no silent truncation. For
    dedup clustering consider :func:`simhash_cluster_edges` (star edges,
    linear in bucket size, no cap needed) — but note its hub-verified
    components are not pairwise-identical to this function's graph; see its
    docstring for the exact semantics."""
    sig = simhash(df, id_col, text_col, hash_fn)
    blocks = _simhash_block_rows(sig, id_col, block_bits)
    if max_bucket_size is not None:
        logger.info(
            "simhash_pairs: max_bucket_size=%d active — blocks with more "
            "members are dropped before pairing (recall, not correctness); "
            "pass max_bucket_size=None for exact pigeonhole semantics",
            max_bucket_size,
        )
        w = Window.partitionBy("block", "block_key")
        blocks = blocks.withColumn("_bsz", F.count(F.lit(1)).over(w))
        blocks = blocks.observe(
            f"simhash_pair_drops_{uuid.uuid4().hex[:8]}",
            F.sum(
                F.when(F.col("_bsz") > max_bucket_size, F.lit(1)).otherwise(F.lit(0))
            ).alias("dropped_block_rows"),
            F.count(F.lit(1)).alias("total_block_rows"),
        )
        blocks = blocks.where(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.block_key") == F.col("r.block_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


def _simhash_star_edges(
    sig: DataFrame,
    id_col: str,
    block_bits: int = 16,
    max_hamming: int | None = 8,
) -> DataFrame:
    """Star edges over precomputed (id, simhash) rows: per (block,
    block_key) bucket, bucket-minimum hub -> every other member, each edge
    verified by hub-to-member hamming distance unless ``max_hamming`` is
    None. The hub's simhash rides along in a struct min over the bucket
    window (struct ordering is lexicographic, so min = the min-id member),
    keeping verification a single window pass — no self-join."""
    blocks = _simhash_block_rows(sig, id_col, block_bits)
    w = Window.partitionBy("block", "block_key")
    hub = F.min(
        F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))
    ).over(w)
    out = blocks.withColumn("_hub", hub).where(
        F.col("_hub.i") != F.col(id_col)
    )
    if max_hamming is not None:
        out = out.where(
            F.bit_count(F.col("_hub.s").bitwiseXOR(F.col("simhash")))
            <= max_hamming
        )
    return (
        out.select(F.col("_hub.i").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def simhash_cluster_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_fn: str = "md5",
    block_bits: int = 16,
    max_hamming: int | None = 8,
) -> DataFrame:
    """SimHash star edges (id_a, id_b) for dedup clustering — the star-edge
    analogue of :func:`lsh_cluster_edges_from_signatures`, with per-edge
    hub-to-member hamming VERIFICATION on by default.

    A (block, block_key) bucket is a CLIQUE in the candidate graph, so per
    bucket, star edges from the bucket-minimum member to every other member
    preserve the candidate graph's transitive closure at m-1 edges instead
    of m(m-1)/2 — linear in corpus size (<= 64/block_bits * n edges before
    dedup) even on template-heavy corpora where near-identical pages flood
    single 16-bit buckets, so NO bucket-size cap is needed. One shuffle: a
    struct-min window keyed by (block, block_key).

    Semantics of the verification (read before feeding components to
    :func:`dedup_keep_ids`):

    - ``max_hamming=h`` (default 8): every emitted edge carries individual
      evidence — hub-to-member hamming <= h — so a single random 16-bit
      block collision (~6e-5 per pair; a certainty at web scale) can no
      longer chain unrelated documents into one merged cluster. Over-merge
      through a hub is bounded: any two members of a star are within 2*h of
      each other. The components are those of the VERIFIED star graph,
      which is NOT in general the :func:`simhash_pairs` graph — a pair
      within h of each other but farther than h from their bucket's hub is
      missed (recall, never wrong merges).
    - ``max_hamming=None``: the raw CANDIDATE graph (pigeonhole blocking
      only, the pre-round-5 behavior). Components equal simhash_pairs' only
      with its verification disabled (max_hamming=64). Do NOT feed this to
      dedup_keep_ids on a web-scale corpus — unverified block collisions
      merge unrelated clusters and the min-id policy then drops
      non-duplicate documents.

    Use :func:`simhash_pairs` when each candidate pair needs individual
    pairwise verification."""
    sig = simhash(df, id_col, text_col, hash_fn)
    return _simhash_star_edges(
        sig, id_col, block_bits=block_bits, max_hamming=max_hamming
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingler: str = "window",
    max_doc_freq: int | None = 256,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with n-gram-set Jaccard >= threshold.

    **Scale default**: shingles appearing in more than ``max_doc_freq``
    documents are dropped from the inverted index before pairing (jaccard
    becomes a lower bound of the true value; set sizes still count every
    shingle). A shingle with document frequency d contributes O(d^2) join
    pairs, and at Common-Crawl scale boilerplate n-grams ("all rights
    reserved") have d in the millions — the uncapped self-join explodes
    before the first verdict. Pass ``max_doc_freq=None`` for the exact
    uncapped semantics (safe on small/curated corpora). When the cap is
    active the dropped-posting count is attached as an ``observe`` metric
    (``ngram_jaccard_drops_*``: dropped_postings / total_postings, visible
    in the Spark UI / QueryExecutionListener) and the cap is logged at
    plan-build time — no silent truncation.

    Default shingler is the window plan here (unlike minhash): the distinct
    step must shuffle every (id, shingle) row regardless, and the window
    plan's by-document exchange is reused for it (one shuffle total),
    whereas the local shingler would just move the same shuffle later
    (measured 3.2 s vs 2.2 s at sf0.1).
    Scale path: explode distinct shingles to an inverted index, self-join on
    the shingle (bounded by document frequency), count shared shingles per
    pair, union size by inclusion-exclusion."""
    # Inverted index: distinct (id, shingle) rows via groupBy (codegen hash
    # agg), set sizes attached with a count-over-window by id — one
    # evaluation of the distinct subplan (a groupBy+join would evaluate it
    # twice and shuffle twice; measured 2.28 s vs 1.74 s at sf0.1). The two
    # self-join sides are identical subplans — ReuseExchange evaluates once.
    distinct_sh = _shingler(shingler)(df, id_col, text_col, n).groupBy(id_col, "shingle").agg(
        F.lit(1).alias("_one")
    )
    # Set sizes must count the FULL shingle set (before any doc-freq cap)
    # so capped jaccard stays a lower bound of the true value.
    sized = distinct_sh.withColumn(
        "_sz", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    if max_doc_freq is not None:
        # Scale knob (ON by default, see docstring): drop shingles above the
        # document-frequency cap from the inverted index BEFORE pairing. NB
        # this changes semantics (set sizes still count capped shingles;
        # shared counts don't) — jaccard becomes a lower bound.
        logger.info(
            "ngram_jaccard_pairs: max_doc_freq=%d active — shingles in more "
            "documents are dropped before pairing and jaccard is a lower "
            "bound; pass max_doc_freq=None for exact semantics",
            max_doc_freq,
        )
        dfreq = Window.partitionBy("shingle")
        sized = sized.withColumn("_df", F.count(F.lit(1)).over(dfreq))
        # map-side metric inside the same job — no extra action
        sized = sized.observe(
            f"ngram_jaccard_drops_{uuid.uuid4().hex[:8]}",
            F.sum(
                F.when(F.col("_df") > max_doc_freq, F.lit(1)).otherwise(F.lit(0))
            ).alias("dropped_postings"),
            F.count(F.lit(1)).alias("total_postings"),
        )
        sized = sized.where(F.col("_df") <= max_doc_freq).drop("_df")
    inv = sized.select(F.col(id_col), F.col("_sz"), F.col("shingle").alias("_s"))
    l, r = inv.alias("l"), inv.alias("r")
    shared = (
        l.join(
            r,
            (F.col("l._s") == F.col("r._s"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l._sz").alias("_sza"),
            F.col("r._sz").alias("_szb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return shared.select(
        "id_a",
        "id_b",
        (F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter"))).alias(
            "jaccard"
        ),
    ).where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------
def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (norm(a) * norm(b))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Brute-force (id_a, id_b, cosine) pairs above threshold — the exact
    baseline; use similarity.lsh_ann_pairs for the bucketed scale path."""
    l = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    r = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        l.join(r, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine_col(F.col("_va"), F.col("_vb")).alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Dedup clusters: pairs -> connected components -> representatives
# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(id, component): connected components of the near-duplicate pair
    graph, component = min member id.

    Pair graphs are tiny relative to the corpus (only near-duplicates),
    so up to ``driver_threshold`` edges the component labelling runs as a
    driver-side union-find — one collect of (id, id) longs, microseconds
    of CPU, no iterative jobs. Beyond the threshold it falls back to
    distributed min-label propagation: each round joins every node's label
    with its neighbours' and keeps the minimum — one shuffle-join + one
    hash-aggregate per round, plus a pointer-jumping step (each node also
    adopts its current label's label) so convergence is O(log diameter)
    rounds, not O(diameter) — a path component of length 10^6 settles in
    ~20 rounds instead of 10^6 (near-dup graphs are unions of
    near-cliques; 2-3 rounds settle real corpora, with an early-stop
    convergence check per round)."""
    slim = pairs.select(F.col(id_a), F.col(id_b))
    head = slim.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in head:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(i, find(i)) for i in parent]
        spark = pairs.sparkSession
        id_type = next(f for f in pairs.schema.fields if f.name == id_a).dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [StructField("id", id_type, True), StructField("component", id_type, True)]
        )
        return spark.createDataFrame(rows, schema)

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    edges = edges.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "component")
        )
        # Pointer jumping: adopt the label OF my label. Neighbour
        # propagation alone moves the min one hop per round (O(diameter));
        # composing the label map with itself doubles the reach per round
        # (O(log diameter)) — the advice in Kiveris et al.'s star
        # contractions, grafted onto the same join+agg loop.
        jump = (
            labels.alias("a")
            .join(
                labels.alias("b"),
                F.col("a.component") == F.col("b.id"),
            )
            .select(F.col("a.id").alias("id"), F.col("b.component").alias("component"))
        )
        new_labels = (
            labels.unionAll(neigh)
            .unionAll(jump)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # Convergence check piggybacked on the SAME job that materializes
        # the round (one action per round, not two): join the old labels
        # back in and `observe` the changed-row count during the eager
        # checkpoint. The join ran every round anyway (it was the separate
        # count job); observe makes it free-riding.
        from pyspark.sql import Observation

        obs = Observation()
        audited = (
            new_labels.join(
                labels.withColumnRenamed("component", "_old"), "id", "left"
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("component") != F.col("_old"), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("changed"),
            )
            .drop("_old")
        )
        # Truncate lineage every round: the loop otherwise nests the whole
        # previous plan twice per round (join + union), so the logical plan
        # grows 2^rounds and the driver OOMs just *printing* it long before
        # data size matters. (On a real cluster prefer sc.setCheckpointDir +
        # .checkpoint() for executor-failure tolerance; localCheckpoint is
        # the single-process-safe equivalent.)
        labels = audited.localCheckpoint(eager=True)
        changed = obs.get["changed"]
        if changed == 0:
            break
    else:
        # A component with diameter > max_iters would silently split into
        # multiple wrong components; fail loudly instead.
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"in max_iters={max_iters} rounds ({changed} labels still "
            f"changing); raise max_iters (with pointer jumping the rounds "
            f"needed are ~log2(graph diameter): 25 covers diameter ~3e7)"
        )
    return labels


def dedup_keep_ids(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id,) of documents that SURVIVE near-dup removal: every document not
    in the pair graph, plus the min-id representative of each component —
    the standard keep-one-per-cluster policy of training-data dedup."""
    comp = connected_components(pairs, id_a, id_b)
    drop = comp.where(F.col("id") != F.col("component")).select("id")
    return df.select(F.col(id_col).alias("id")).distinct().join(
        drop, "id", "left_anti"
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination
# ---------------------------------------------------------------------------
def contamination_flags(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 13,
    broadcast_eval: bool = True,
    prefilter_hash: bool = False,
) -> DataFrame:
    """(id, contaminated_ngrams, contaminated): flag training documents that
    share any word n-gram with an evaluation set — the standard n-gram
    decontamination pass (13-grams by convention) run before pretraining so
    benchmark text cannot leak into the training corpus.

    Plan: distinct n-gram shingles per corpus doc (array expression, no
    UDF) explode to (id, shingle) rows; the eval set reduces to ONE distinct
    shingle column. The eval side is tiny by construction (benchmarks, not
    corpora), so it broadcasts and the probe is a map-side hash join against
    the full corpus — the corpus never shuffles. `contaminated_ngrams`
    counts distinct matching shingles (ranking evidence for manual review).
    Set ``broadcast_eval=False`` if the eval set is too large to broadcast
    (falls back to a shuffle hash join on the shingle).

    ``prefilter_hash=True`` is the big-eval-set scale path (the Bloom-style
    two-phase probe, exact output): the broadcast side becomes the DISTINCT
    ``xxhash64`` of the eval shingles — 8 bytes per n-gram vs ~90 for a
    13-gram string, so an eval set ~11x too big to broadcast as text still
    fits — and the corpus probes it map-side (no corpus shuffle, same as
    the text broadcast). Only the hash-positive survivors (true hits plus
    ~N²/2⁶⁴ expected hash collisions) proceed to an exact string-equality
    confirm join, so the OUTPUT IS IDENTICAL to the exact path — the
    driver oracle for ``decontaminate_prefilter`` is byte-for-byte the
    exact path's SQL.
    """
    eval_text = eval_text_col or text_col
    eval_shingles = (
        eval_df.select(F.explode(shingles_col(eval_text, n)).alias("_shingle"))
        .distinct()
    )
    corpus_shingles = corpus.select(
        F.col(id_col), F.explode(shingles_col(text_col, n)).alias("_shingle")
    )
    if prefilter_hash:
        hash_set = F.broadcast(
            eval_shingles.select(F.xxhash64("_shingle").alias("_h")).distinct()
        )
        corpus_shingles = corpus_shingles.withColumn(
            "_h", F.xxhash64("_shingle")
        ).join(hash_set, "_h").drop("_h")
        # survivors are tiny; the exact confirm join below stays cheap even
        # with the eval strings unbroadcast
        if broadcast_eval:
            eval_shingles = F.broadcast(eval_shingles)
    elif broadcast_eval:
        eval_shingles = F.broadcast(eval_shingles)
    hits = (
        corpus_shingles.join(eval_shingles, "_shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_ngrams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("contaminated_ngrams", F.lit(0)).alias(
                "contaminated_ngrams"
            ),
            (F.coalesce("contaminated_ngrams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_chars: int = 30,
    max_occurrences: int = 2,
    delimiter: str = "\n",
    hash_fn: str = "md5",
) -> DataFrame:
    """Corpus-wide line-level dedup (the C4 / MassiveText / RefinedWeb
    boilerplate-removal step the doc-level ops don't cover): split each
    document on ``delimiter``, count every trimmed line's TOTAL occurrences
    across the corpus (within-doc repeats count), drop lines that occur
    more than ``max_occurrences`` times, and reassemble each document in
    original line order. Lines shorter than ``min_chars`` after trimming
    never participate (neither counted nor dropped) — without the floor,
    frequent short lines ("Home", "Menu") would gut every page. Documents
    whose lines are all dropped are returned with empty text, not removed
    (pair with a quality filter downstream).

    Plan shape (100-TB): posexplode -> per-line 60-bit hash; the frequency
    aggregation shuffles ONLY the 8-byte key (the scan under it prunes to
    the text column once); the hot-line set is boilerplate by construction
    (tiny relative to the corpus) so the left_anti join-back broadcasts
    under AQE; the single full-text shuffle is the positional reassembly,
    inherent to producing rewritten documents. Short lines carry a NULL
    key, which can never match an equi-join key, so they survive the
    left_anti without a separate union branch. The lineage reads the
    corpus twice (count side + reassembly side) — persist upstream
    features if the input is itself expensive.

    ``delimiter`` is a literal (regex-quoted with \\Q..\\E), matching
    DuckDB ``string_split`` semantics including trailing empty fields, so
    the driver oracle reconstructs the identical text with ``list_filter``.

    Counting is by hashed key, so two distinct lines colliding merge their
    counts (a rare line sharing a key with boilerplate gets dropped): with
    n distinct lines expect ~n^2/2^61 colliding pairs at ``hash_fn='md5'``
    (60-bit) and ~n^2/2^65 at ``'xxhash'`` — at 10^12 distinct lines
    that's ~10^5-10^6 merged pairs, each affecting one rare line, i.e. a
    ~1e-7 false-drop rate. Acceptable for boilerplate removal; if not,
    group on the trimmed line itself (shuffle then carries line text).
    """
    keyed = _line_keyed(df, id_col, text_col, min_chars, delimiter, hash_fn)
    hot = (
        keyed.where(F.col("_k").isNotNull())
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > max_occurrences)
        .select("_k")
    )
    return _reassemble_kept(df, keyed, hot, id_col, text_col, delimiter)


def _line_keyed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_chars: int,
    delimiter: str,
    hash_fn: str,
) -> DataFrame:
    """(id, _pos, _line, _k) rows: one per line, _k NULL for lines shorter
    than ``min_chars`` after trimming (NULL keys bypass equi-joins, so
    short lines survive every anti-join without a union branch)."""
    delim_pat = "\\Q" + delimiter + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim_pat, -1)).alias(
            "_pos", "_line"
        ),
    )
    trimmed = F.trim(F.col("_line"))
    return lines.withColumn(
        "_k",
        F.when(F.length(trimmed) >= min_chars, _hash64(trimmed, hash_fn)),
    )


def _reassemble_kept(
    df: DataFrame,
    keyed: DataFrame,
    hot: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str,
) -> DataFrame:
    """Drop hot-keyed lines, rejoin survivors in original positional order;
    docs losing every line come back with empty text, not dropped."""
    kept = keyed.join(hot, "_k", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            delimiter,
        ).alias("_rebuilt")
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_rebuilt"), F.lit("")).alias(text_col),
        )
    )


def line_count_index(
    df: DataFrame,
    text_col: str,
    min_chars: int = 30,
    delimiter: str = "\n",
    hash_fn: str = "md5",
) -> DataFrame:
    """(line_key, n) — total occurrences of every participating (trimmed,
    >= min_chars) line. This is the PERSISTED STATE of incremental line
    dedup: counts are associative, so a crawl increment's index merges
    into the store with one groupBy-sum (``merge_line_count_indexes``) —
    no re-scan of prior documents, the same shape as the minhash/md5
    indexes of ``verdicts_for_increment``. The scan under the aggregation
    prunes to the text column; the shuffle carries (8-byte key, count)."""
    delim_pat = "\\Q" + delimiter + "\\E"
    lines = df.select(
        F.explode(F.split(F.col(text_col), delim_pat, -1)).alias("_line")
    )
    trimmed = F.trim(F.col("_line"))
    return (
        lines.where(F.length(trimmed) >= min_chars)
        .select(_hash64(trimmed, hash_fn).alias("line_key"))
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_line_count_indexes(*indexes: DataFrame) -> DataFrame:
    """Associative merge of (line_key, n) indexes — groupBy-sum over the
    union. Partial counts from any sharding/batching merge to the exact
    global index (the mergeable-sketch property, exact here)."""
    if not indexes:
        raise ValueError("merge_line_count_indexes needs at least one index")
    merged = indexes[0]
    for idx in indexes[1:]:
        merged = merged.unionByName(idx)
    return merged.groupBy("line_key").agg(F.sum("n").alias("n"))


def dedup_lines_against_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    counts: DataFrame,
    min_chars: int = 30,
    max_occurrences: int = 2,
    delimiter: str = "\n",
    hash_fn: str = "md5",
) -> DataFrame:
    """Incremental twin of :func:`dedup_lines`: judge ``df`` (a crawl
    increment) against a PROVIDED (line_key, n) count index instead of
    counting in place. Contract (mirrors ``verdicts_for_increment``):
    after merging the increment's own ``line_count_index`` into the
    store, the newest increment's output here equals
    ``dedup_lines(union of everything so far)`` restricted to the
    increment's ids — counts-so-far ARE the union counts for the latest
    batch. (Earlier increments' already-emitted texts are NOT retroactively
    rewritten when later crawls push a line over the threshold; that
    append-only semantics is the point of the incremental path.) Work is
    (increment lines × hot-key join) — never a prior-document re-scan."""
    keyed = _line_keyed(df, id_col, text_col, min_chars, delimiter, hash_fn)
    hot = (
        counts.where(F.col("n") > max_occurrences)
        .select(F.col("line_key").alias("_k"))
    )
    return _reassemble_kept(df, keyed, hot, id_col, text_col, delimiter)
