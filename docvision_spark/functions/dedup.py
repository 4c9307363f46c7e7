"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the 100 TB design):
 - exact: one hash-shuffle on a 32-char fingerprint — the cheapest possible
   dedup; fingerprint is computed JVM-side (md5 of normalized text).
   keep_first is the one keep-one-row-per-key operator (url dedup,
   incremental exact dedup, re-crawl extract, curate's exact step): a
   window and the anti-join against published keys share one exchange
   over the rows, and null keys pass through spread by a row hash.
 - MinHash+LSH: minhash_artifacts is the single definition of shingling,
   signing and banding — whole-stage-codegen expressions (higher-order
   functions over arrays + xxhash64), NO Python — and every near-dup entry
   point (minhash_lsh_pairs, incremental_minhash_pairs, curate's persisted
   artifacts) reads its (shingled, banded) frames, both materialized so
   shingling and signing run once. band_bucket_pairs is the one
   band-bucket join (embedding LSH uses it too): the only shuffles are its
   bucket exchange, which a self-join reads twice, and the verify
   join-backs, all on 64-bit keys. Buckets with one member produce no
   candidates; a hot bucket (degenerate content, e.g. empty strings) is
   capped to its max_bucket smallest ids by a map-side partial top-k, so
   it is never gathered whole.
 - SimHash: 64-bit signature; tokens are hashed JVM-side and the bit
   majority vote runs over whole Arrow batches in numpy. Near-dup pairs are
   found by banding the signature; banded_hamming_pairs works the layout
   out from max_hamming: the fewest bands of at most 16 bits that keep
   recall complete at probe radius <= 1 (4x16-bit bands while
   max_hamming < 8, else the smallest power of two above max_hamming / 2),
   probed at radius 0 while max_hamming < the band count, else 1.
 - n-gram Jaccard: exact verification on candidate pairs only (never all
   pairs — that's O(n^2) and unrunnable at 10^12 docs).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from docvision_spark.functions.text import fingerprint_md5, normalized


def parallelize_input(df: DataFrame) -> DataFrame:
    """Repartition an UNDERPARTITIONED input before a CPU-heavy projection.

    A small parquet table scans as a handful of splits (often one), which
    serializes signature/shingle computation on one core — a test-scale
    artifact. At 100 TB the input has orders of magnitude more splits than
    cores and this returns the input unchanged (no shuffle is ever added on
    a properly-partitioned table).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _threshold_ratio(threshold: float) -> tuple[int, int]:
    """Small exact rational for a jaccard threshold (0.8 -> 4/5).

    float.as_integer_ratio() would give the exact BINARY rational
    (0.8 -> 3602879701896397/4503599627370496), whose products overflow
    int64 for n_inter >= 2048 — a hard crash under Spark 4's default ANSI
    mode — and which also rejects pairs at exactly the intended threshold
    (4/5 < the binary value). limit_denominator keeps the comparison in
    small exact integers and matches the user's decimal intent."""
    f = Fraction(threshold).limit_denominator(1000)
    return f.numerator, f.denominator


def join_back_sets(cand: DataFrame, sets_df: DataFrame,
                   set_col: str = "sh",
                   sets_b: DataFrame | None = None) -> DataFrame:
    """Attach each candidate side's full set column for exact verification
    (sets ride this narrow join only — never the band/inverted index).
    id_a takes its set from sets_df, id_b from sets_b (default sets_df)."""
    sets_b = sets_df if sets_b is None else sets_b
    return (
        cand.join(sets_df.select(F.col("id").alias("id_a"),
                                 F.col(set_col).alias(f"{set_col}_a")), "id_a")
            .join(sets_b.select(F.col("id").alias("id_b"),
                                F.col(set_col).alias(f"{set_col}_b")), "id_b")
    )


def jaccard_verify(cand: DataFrame, sets_df: DataFrame, threshold: float,
                   sets_b: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard of candidate pairs (id_a, id_b) over their (id, sh)
    sets — the one verifier behind minhash_lsh_pairs,
    incremental_minhash_pairs and ngram_jaccard_pairs. Returns (id_a,
    id_b, jaccard) with jaccard >= threshold, compared as cross-multiplied
    integers (no float wobble) and reported rounded to 4 places."""
    cand = join_back_sets(cand, sets_df, "sh", sets_b)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    num, den = _threshold_ratio(threshold)
    return (
        cand.withColumn("n_inter", inter).withColumn("n_union", union)
            .filter(F.col("n_inter") * den >= F.col("n_union") * num)
            .select("id_a", "id_b",
                    F.round(F.col("n_inter") / F.col("n_union"), 4).alias("jaccard"))
    )

# ----------------------------------------------------------------- exact --

def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per exact (normalized) content fingerprint.

    The fingerprint (3 regex passes + md5 over the full text) is computed
    in the map-side partial-agg stage — parallelize an under-split scan
    first or that entire pass runs on as few cores as the file has row
    groups (no-op on a properly-partitioned table)."""
    return (
        parallelize_input(df.select(id_col, text_col))
          .withColumn("fp", fingerprint_md5(F.col(text_col)))
          .groupBy("fp")
          .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Fingerprints with more than one document (the duplicate report)."""
    return exact_dedup(df, id_col, text_col).filter(F.col("n_copies") > 1)


def keep_first(df: DataFrame, key: Column, order: list[Column],
               published: DataFrame | None = None) -> DataFrame:
    """One row per non-null string `key`: the first by `order` (sort
    expressions; rows tied on key and order keep exactly one of them).
    Rows whose key is null pass through. Keys found in `published`, a
    one-column frame of keys, drop outright. Output columns are `df`'s.

    One exchange over the rows: the window partitions on a single column,
    the key, and the anti-join against `published` reads that partitioning
    (only the published keys shuffle to meet it). A null key becomes
    "\\0" + a hash of its row, a value no real key equals, so null-key
    rows spread over the exchange instead of piling onto one task, and
    never match a published key."""
    spread = F.concat(F.lit("\0"), F.xxhash64(*df.columns).cast("string"))
    w = Window.partitionBy("_k").orderBy(*order)
    kept = (df.withColumn("_key", key)
              .withColumn("_k", F.coalesce("_key", spread))
              .withColumn("_rn", F.row_number().over(w))
              .filter((F.col("_rn") == 1) | F.col("_key").isNull()))
    if published is not None:
        kept = kept.join(published.toDF("_k"), "_k", "left_anti")
    return kept.select(*df.columns)


# --------------------------------------------------------------- shingles --

def let_(value: Column, body) -> Column:
    """Let-binding for higher-order-function expressions.

    A lambda that CAPTURES an expression tree (e.g. `norm.substr(i, k)` with
    norm = regexp_replace(...)) re-evaluates the captured tree on EVERY
    element — HOFs run interpreted, with no common-subexpression elimination
    (measured: char-5 shingling re-ran the normalize regexp ~2000x/row).
    Wrapping the value in a 1-element array and transforming over it binds
    the computed VALUE to the lambda variable, which is evaluated once.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def word_shingle_hashes(col: Column, k: int = 3) -> Column:
    """Distinct 64-bit hashes of k-word shingles — no n-gram string is ever
    materialized (xxhash64 takes the k token columns directly). Jaccard over
    hash sets equals Jaccard over shingle sets up to 2^-64 collisions; at
    100 TB the saved string allocation/shuffle bytes dominate everything."""
    def over(toks: Column) -> Column:
        n = F.size(toks)
        def gram_hash(i: Column) -> Column:
            return F.xxhash64(*[F.element_at(toks, i + j) for j in range(1, k + 1)])
        return F.when(n < k, F.array(F.xxhash64(F.concat_ws(" ", toks)))).otherwise(
            F.array_distinct(
                F.transform(F.sequence(F.lit(0), n - F.lit(k)), gram_hash)
            )
        )
    return let_(F.split(F.trim(normalized(col)), " "), over)


# ---------------------------------------------------------------- minhash --

# MinHash signature length, LSH bands and words per shingle — the one
# setting of every band key (see minhash_artifacts) — and the ids a band
# bucket keeps (see band_bucket_pairs), one cap for a corpus's own pairs
# and for its increments' probes.
MINHASH_HASHES = 16
MINHASH_BANDS = 8
SHINGLE_WORDS = 3
MINHASH_MAX_BUCKET = 64


def minhash_signatures_expr(
    df: DataFrame, id_col: str, shingles_col: str, num_hashes: int,
) -> DataFrame:
    """MinHash signatures with ZERO shuffle: one aggregate() pass over the
    shingle array keeps a running-min accumulator of num_hashes longs —
    each shingle hashed num_hashes times inside the row projection, no
    explode, no groupBy. The shingle column is referenced exactly once, so
    projection collapse cannot re-inline the shingling subtree. Signature
    j is min over shingles s of xxhash64(j, s) (tests check it against an
    explode + groupBy min). Returns (id, mh array<long>)."""
    staged = df.select(F.col(id_col).alias("id"),
                       F.col(shingles_col).alias("_sh"))
    mh = F.expr(
        f"aggregate(_sh, array_repeat(9223372036854775807L, {num_hashes}), "
        f"(acc, s) -> zip_with(acc, transform(sequence(0, {num_hashes - 1}), "
        f"j -> xxhash64(j, s)), (a, b) -> least(a, b)))")
    return staged.select("id", mh.alias("mh"))


def minhash_artifacts(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """The one MinHash pipeline: shingle, sign and band a corpus once.

    shingled = (id, sh array): exact-verification sets.
    banded   = (id, band, bkey): LSH candidate keys.
    Both pair finders (minhash_lsh_pairs, incremental_minhash_pairs) take
    these frames, and a published corpus persists them (banded bucketed by
    (band, bkey), shingled by id) so increments probe it without touching
    its text. The MinHash settings are module constants, so band keys
    from one pipeline are always comparable.

    rows/band r = MINHASH_HASHES/MINHASH_BANDS; collision prob ≈
    1-(1-j^r)^b. 16/8 (r=2): j=0.8 -> >99.9% recall; false candidates are
    cheap because every candidate is exactly verified. Shingles are
    hashed word 3-grams (~7x fewer than char 5-grams at equal dedup
    quality on prose). Band key = xxhash64 of the band's signature slice.
    """
    r = MINHASH_HASHES // MINHASH_BANDS
    # shingled feeds THREE consumers (signatures + both verify join-backs);
    # materialize it once so the shingling HOF is never re-evaluated, and
    # never evaluated on both sides of a self-join. localCheckpoint spills
    # to executor-local storage — at 100 TB this is one shuffle-spill-sized
    # write, strictly cheaper than 3x recompute of the shingling pass.
    shingled = parallelize_input(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        word_shingle_hashes(F.col(text_col), SHINGLE_WORDS).alias("sh"),
    ).localCheckpoint()
    sig = minhash_signatures_expr(shingled, "id", "sh", MINHASH_HASHES)
    # bands carry only (id, band, bkey) — never the shingle sets (an 8-way
    # band explode of 2000-element arrays would 8x the shuffle for nothing).
    # banded is materialized too, by the first action that reads it: its
    # consumers (the pair finders, a published corpus's band table, an
    # increment's history probe) would otherwise each re-run the signing
    # aggregate over the shingles.
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col("mh")[b * r + i] for i in range(r)]).alias("bkey"),
            )
            for b in range(MINHASH_BANDS)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bkey").localCheckpoint(eager=False)
    return shingled, banded


def band_bucket_pairs(banded: DataFrame, max_bucket: int,
                      other: DataFrame | None = None) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b) from (id, band, bkey) rows:
    the one band-bucket join behind minhash_lsh_pairs,
    incremental_minhash_pairs and embedding_dup_pairs_lsh.

    Each (band, bkey) bucket keeps its max_bucket smallest ids (null ids
    never pair, so they take no slot). The cap is row_number() <=
    max_bucket, which Spark plans as a partial top-k (WindowGroupLimit
    Partial) below the bucket exchange and a final one above it: a hot
    bucket (degenerate content, e.g. thousands of identical docs) ships at
    most max_bucket ids per map task through a spillable sort and is never
    gathered whole. Without `other`, buckets self-join with id_a < id_b and
    both sides read the one capped exchange; with it, ids of `banded`
    (id_a) meet the ids of `other` (id_b) in the same capped bucket.
    """
    def cap(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("band", "bkey").orderBy("id")
        return (df.filter(F.col("id").isNotNull())
                  .withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= max_bucket)
                  .drop("_rn"))

    a = cap(banded)
    b = a if other is None else cap(other)
    cand = a.alias("a").join(b.alias("b"), ["band", "bkey"])
    if other is None:
        cand = cand.filter(F.col("a.id") < F.col("b.id"))
    # a pair sharing k buckets appears k times; the dedup shuffles only
    # candidate pairs
    return (cand.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))


def minhash_lsh_pairs(
    shingled: DataFrame,
    banded: DataFrame,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs within one minhash_artifacts output: band
    buckets give candidates, jaccard_verify checks them exactly. Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    """
    return jaccard_verify(band_bucket_pairs(banded, MINHASH_MAX_BUCKET),
                          shingled, jaccard_threshold)


# ---------------------------------------------------------------- simhash --

def simhash_signatures_np(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """64-bit SimHash signatures of whitespace tokens: bit k is set when
    strictly more than half of the token hashes have bit k set. The
    64 bit-counters are computed VECTORIZED in numpy (guide §4.2: hand whole
    Arrow batches to native code instead of deep interpreted HOF chains).

    Tokenization and hashing stay JVM-side (the SAME split + xxhash64
    expressions — whole-stage codegen, and the only place string
    semantics live); what crosses into python is (id, array<long>), and
    the majority vote runs as three numpy ops over the whole batch
    (unpackbits -> add.reduceat over document offsets -> packbits).
    Measured ~3x over an aggregate() fold at 50k docs: the fold builds
    two 64-element arrays per TOKEN in the interpreted evaluator.
    NULL text -> NULL hashes -> NULL signature, so NULL-text docs never
    pair with each other at hamming 0.
    """
    from typing import Iterator as _It

    import pandas as pd

    from docvision_spark.pipeline.shipping import map_in_pandas

    toks = F.split(F.trim(normalized(F.col(text_col))), " ")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    src = df.select(F.col(id_col).alias("id"), hashes.alias("_h"))
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(it: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            hs = pdf["_h"]
            lens = np.fromiter((len(h) if h is not None else 0
                                for h in hs), dtype=np.int64, count=len(hs))
            out = np.empty(len(hs), dtype=object)
            total = int(lens.sum())
            if total:
                flat = np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in hs
                     if h is not None and len(h)]).view(np.uint64)
                # (total_tokens, 64) bit matrix; bitorder little over the
                # little-endian byte view makes column k == (h >> k) & 1
                bits = np.unpackbits(
                    flat.view(np.uint8).reshape(-1, 8), axis=1,
                    bitorder="little")
                nz = lens > 0
                offsets = np.zeros(int(nz.sum()), dtype=np.int64)
                np.cumsum(lens[nz][:-1], out=offsets[1:])
                counts = np.add.reduceat(bits, offsets, axis=0)
                # rows with a single token: reduceat handles equal
                # consecutive offsets by returning the single row — the
                # standard reduceat caveat applies only to EMPTY segments,
                # which nz excludes
                maj = counts * 2 > lens[nz, None]
                sigs = np.packbits(maj, axis=1, bitorder="little") \
                         .view(np.uint64).reshape(-1).view(np.int64)
                out[np.flatnonzero(nz)] = list(sigs)
            # rows with hashes == None stay None; empty arrays cannot
            # occur (split of any non-null string yields >= 1 element)
            yield pd.DataFrame({"id": pdf["id"], "sh": out})

    return map_in_pandas(src, fn, f"id {id_type}, sh long")


def simhash_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: candidates verified at Hamming
    distance <= max_hamming by banded_hamming_pairs, which works its band
    layout out from max_hamming (4 x 16-bit bands up to 7, exact band keys
    while max_hamming < 4). Recall of the pairs within max_hamming is
    complete for every max_hamming in 0..63; how well a SimHash distance
    tracks text similarity stays probabilistic, as in all SimHash
    deployments."""
    sig = simhash_signatures_np(
        parallelize_input(df.select(id_col, text_col)), id_col, text_col)
    return banded_hamming_pairs(sig, "id", "sh", max_hamming)


def banded_hamming_pairs(
    sig: DataFrame, id_col: str, sig_col: str, max_hamming: int,
) -> DataFrame:
    """Near-dup pairs over any 64-bit signature column by multi-index
    Hamming probing: split the signature into equal bands and index each
    signature under its exact (band_idx, band_value) keys; candidates are
    pairs whose probe key hits an index key, and the exact bit_count
    verify runs on candidates only — never an all-pairs join.

    The layout is worked out from max_hamming (0..63, else ValueError): the
    fewest bands of at most 16 bits that keep recall COMPLETE at probe
    radius <= 1. While max_hamming < n_bands the radius is 0: probes are the
    exact band keys and, by pigeonhole, every pair within max_hamming
    agrees exactly on some band. Otherwise it is 1: probes also enumerate
    every 1-bit flip of each band key, and a pair whose every band differs
    by >= 2 bits is >= 2 * n_bands apart. So n_bands is 4 while
    max_hamming < 8, else the smallest power of two above max_hamming / 2
    (8, 16 or 32). Fewest bands means widest keys, because band width is
    the skew knob: 8-bit keys have only 256 values and collapse into hot
    buckets at corpus scale (measured on m02 at sf1.0: 72M candidate rows
    from 37k images at 8x8-bit exact bands; 4x16-bit bands at radius 1 cut
    that ~20x for the same guaranteed recall). 32-bit bands are left out:
    2x32 at radius 1 ran d02 slower than 4x16 at radius 0 on sf0.1. Shared
    by simhash_pairs (text) and image_dup_pairs (dHash). Returns (id_a,
    id_b, hamming:int), id_a < id_b.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in 0..63, got {max_hamming}")
    n_bands = 4
    while 2 * n_bands <= max_hamming:
        n_bands *= 2
    width = 64 // n_bands
    mask = (1 << width) - 1
    radius = 0 if max_hamming < n_bands else 1
    # materialize (id, sig) before banding: the self-join would otherwise
    # re-evaluate the signature expression tree (deep HOF aggregates /
    # python decode stages) on BOTH join sides and inside the explode —
    # measured 25x on d02 at sf0.1. Two longs per row; truncating lineage
    # here is strictly cheaper than any recompute. The NULL filter runs
    # AFTER the checkpoint: a filter UNDER the projection re-inlines the
    # signature tree into an interpreted predicate and evaluates it twice
    # per row (measured 8s vs 2.5s on d02 at sf0.1).
    base = sig.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig")) \
              .localCheckpoint() \
              .filter(F.col("sig").isNotNull())

    def bkey(i: int) -> Column:
        return F.shiftright("sig", width * i).bitwiseAND(F.lit(mask))

    def keyed(flips: list[int]) -> DataFrame:
        # one row per (signature, band, flip), keyed on band value ^ flip
        return base.select(
            "id", "sig",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("band"),
                         (bkey(i).bitwiseXOR(F.lit(f)) if f else bkey(i))
                         .alias("bkey"))
                for i in range(n_bands) for f in flips
            ])).alias("bb"),
        ).select("id", "sig", "bb.band", "bb.bkey")

    index = keyed([0])
    probes = keyed([0] + [1 << j for j in range(width)]) if radius else index
    cand = (
        probes.alias("a").join(index.alias("b"), ["band", "bkey"])
              .filter(F.col("a.id") < F.col("b.id"))
              .select("band", F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"),
                      F.col("a.sig").alias("s_a"),
                      F.col("b.sig").alias("s_b"))
    )
    # dedup candidates WITHOUT a shuffle: a pair qualifying in k bands is
    # emitted k times by the join (the a.id < b.id filter already removed
    # the mirrored direction); keep only the copy from the FIRST band whose
    # xor differs by <= radius bits, computable from the two signatures
    # already on the row. A dropDuplicates([id_a, id_b]) would shuffle every
    # candidate row — at 8x8 banding over clustered signatures that was 70M+
    # rows through an exchange (measured: m02 at sf1.0) for a result this
    # filter gets for free inside the join stage (guide §2.4: remove
    # shuffles outright).
    x = F.col("s_a").bitwiseXOR(F.col("s_b"))
    first_band = F.coalesce(*[
        F.when(F.bit_count(F.shiftright(x, width * j)
                            .bitwiseAND(F.lit(mask))) <= radius, F.lit(j))
        for j in range(n_bands)
    ])
    cand = cand.filter(F.col("band") == first_band).drop("band")
    ham = F.bit_count(x).cast("int")
    return (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


# ------------------------------------------------------- inverted index ----

def inverted_candidates(postings: DataFrame,
                        max_postings: int | None) -> DataFrame:
    """Distinct candidate pairs from an inverted index: postings is
    (id, key); documents sharing >= 1 key pair up — never an all-pairs
    cross join. Keys present in > max_postings docs (stop-shingles /
    boilerplate fingerprints) are dropped from the INDEX only — the
    standard recall/cost knob; callers re-verify candidates exactly on the
    full sets. Shared by ngram_jaccard_pairs and winnow_overlap_pairs.
    Returns (id_a, id_b) with id_a < id_b."""
    if max_postings is not None:
        hot = (postings.groupBy("key").count()
                       .filter(F.col("count") > max_postings).select("key"))
        postings = postings.join(hot, "key", "left_anti")
    a, b = postings.alias("a"), postings.alias("b")
    return (
        a.join(b, "key").filter(F.col("a.id") < F.col("b.id"))
         .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
         .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------------ ngram jaccard --

def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.5, max_postings: int | None = 128,
) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs via an inverted shingle index
    (explode -> self-join on shingle -> candidates -> exact verify).
    Shingles are the SHINGLE_WORDS-word hashes MinHash signs, so no n-gram
    string is built (Jaccard over hash sets equals Jaccard over shingle
    sets up to 2^-64 collisions).

    The inverted-index join only pairs documents that SHARE at least one
    shingle; a df-style cross join never happens. Hot shingles (present in
    > max_postings docs) are dropped from the index — the standard
    stop-shingle trick. The final jaccard is EXACT (array_intersect over the
    candidates' full shingle sets, like minhash_lsh_pairs), so the cap
    affects RECALL only: a pair sharing nothing but hot shingles is never
    generated as a candidate. Pass max_postings=None for exact recall
    (oracle scale); the default 128 is the 100 TB knob.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingle_hashes(F.col(text_col), SHINGLE_WORDS).alias("sh"),
    )
    postings = sh.select("id", F.explode("sh").alias("key"))
    cand = inverted_candidates(postings, max_postings)
    # exact verification on candidates only: full shingle sets joined in
    # here, never shuffled through the inverted index
    return jaccard_verify(cand, sh, threshold)


# --------------------------------------------------- connected components --

def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair graph -> (id, cluster_id),
    cluster_id = min id reachable. Proper dedup KEEPS one doc per component
    (a~b, b~c collapse to one survivor even though a,c never paired).

    Min-label propagation WITH pointer doubling: each iteration (a) pulls
    the min label across one edge hop and (b) follows the label map one
    step onto itself (lbl <- lbl[lbl], valid because labels are monotone
    non-increasing), so label reach DOUBLES per round and convergence is
    O(log diameter) — a 10^4-node path graph converges in ~15 rounds where
    plain one-hop propagation would need 10^4 (the round-2 crash risk on
    pathological chains). Per iteration: one edge join + min-agg and one
    self-join, all carrying only (id, label) longs. Lineage is truncated
    with localCheckpoint every iteration so the plan does not grow
    O(iterations) deep (the 100 TB failure mode of iterative DataFrame
    algorithms).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionAll(pairs.select(F.col(id_b).alias("src"),
                                    F.col(id_a).alias("dst")))
    ).localCheckpoint()  # else every iteration re-runs pair generation
    labels = (edges.select(F.col("src").alias("id")).distinct()
                   .withColumn("lbl", F.col("id")).localCheckpoint())
    converged = False
    for _ in range(max_iter):
        # (a) one-hop neighbor min
        nbr = (edges.join(labels, edges.src == labels.id)
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("lbl").alias("nbr_lbl")))
        hop = (labels.join(nbr, "id", "left")
                     .select("id", F.least("lbl", F.coalesce("nbr_lbl", "lbl"))
                                    .alias("lbl")))
        # (b) pointer doubling: lbl <- lbl[lbl]; lbl[x] <= x, so the
        # resolved label only improves and stays within the component
        lmap = hop.select(F.col("id").alias("lbl"), F.col("lbl").alias("lbl2"))
        new_labels = (
            hop.join(lmap, "lbl", "left")
               .select("id", F.coalesce("lbl2", "lbl").alias("lbl"))
               .localCheckpoint()
        )
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.lbl") != F.col("o.lbl")).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # loud beats wrong: partial labels would under-merge clusters and a
        # keep-one-per-cluster dedup would silently retain duplicates
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations (component diameter exceeds 2^max_iter)")
    return labels.select("id", F.col("lbl").alias("cluster_id"))


# ------------------------------------------------------------ incremental --
# Re-crawl workflow: a published corpus never rescans — each new crawl
# increment dedups against the corpus's PERSISTED artifacts (fingerprint
# table for exact, band + shingle tables for near-dup), then appends its
# own survivors' artifacts as the next snapshot. At 10^12 docs the
# published side is orders of magnitude larger than an increment, so the
# only viable shapes are (a) anti-join on a 128-bit fingerprint and
# (b) band-key join against the published band table — both shuffle keys
# and ids only, never text. Reference behavior analogue: docvision
# re-processes every input file per run (src/docvision/core/parser.py has
# no corpus memory); incremental dedup is the capability a 100 TB pipeline
# needs instead.

def fingerprint_table(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(fp, id) projection of a corpus — the persisted exact-dedup artifact.

    NULL-text rows carry no fingerprint and are excluded (NULL is a
    joinable dedup key: letting it through would collapse every NULL-text
    row into one survivor). Persist this bucketed BY fp so increment
    anti-joins are co-partitioned sort-merge with zero history shuffle."""
    return (parallelize_input(df.filter(F.col(text_col).isNotNull())
                                .select(id_col, text_col))
              .select(fingerprint_md5(F.col(text_col)).alias("fp"),
                      F.col(id_col).alias("id")))


def incremental_exact_dedup(new_df: DataFrame, history_fps: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Rows of a new crawl increment that survive exact dedup against a
    published fingerprint table (and within the increment itself).

    Fingerprint, then keep_first: within-batch policy matches exact_dedup
    (min id per fingerprint), and cross-history is the anti-join on fp
    that reads the window's exchange, so the increment's rows shuffle once
    and the history table is touched fp-column-only (column-pruned scan of
    the persisted artifact). NULL-text rows pass through unconditionally:
    they are never dedup keys (see fingerprint_table)."""
    return keep_first(new_df, fingerprint_md5(F.col(text_col)),
                      [F.col(id_col).asc_nulls_last()],
                      published=history_fps.select("fp"))


def incremental_minhash_pairs(
    new_shingled: DataFrame,
    new_banded: DataFrame,
    hist_shingled: DataFrame,
    hist_banded: DataFrame,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """(new_id, hist_id, jaccard) pairs: increment docs near-duplicate with
    the published corpus, from both sides' minhash_artifacts output (the
    history side typically read column-pruned from its persisted parquet).

    The candidate join is new-bands x history-bands on (band, bkey) — an
    increment-sized probe into the published band table, NOT a self-join
    over the union (which would rediscover every already-known
    history-internal pair on every run). Verification joins each side's
    candidates back to its OWN shingle table, so history text is never
    read. Hot-bucket cap applies per side."""
    cand = band_bucket_pairs(new_banded, MINHASH_MAX_BUCKET, other=hist_banded)
    return (jaccard_verify(cand, new_shingled, jaccard_threshold,
                           sets_b=hist_shingled)
            .withColumnRenamed("id_a", "new_id")
            .withColumnRenamed("id_b", "hist_id"))
